package graft.ops

import graft.functions.{hamming64, minhash_bands, ngram_jaccard, simhash64, sorted_inter_count}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data text operators over the `documents` table: exact and
  * near deduplication, similarity, language ID, quality scoring, token
  * stats, and fingerprinting.
  *
  * Scale notes (the 100 TB contract):
  *   - near-dup candidate generation is banded MinHash LSH — documents are
  *     shuffled by (band, bucket) and pairs form only inside a bucket;
  *     there is NO all-pairs/cross join anywhere;
  *   - exact dedup groups on a 256-bit content hash, never on the text
  *     itself, so the shuffle carries 32 bytes + ids per row;
  *   - everything else is embarrassingly parallel per-row projection.
  */
object TextQueries {
  import Tables._

  /** Per-block sample caps shared by the REGISTERED entry points and their
    * oracle SQL (interpolated below): hard-coding the number in the oracle
    * while the Scala op takes it as a parameter let a non-default call
    * silently diverge from the oracle (ADVICE r13). One constant, two
    * consumers — the registered path can't drift. */
  val MinhashAuditCap: Int = 32
  val FuzzyJoinCap: Int = 64

  /** Exact dedup: content-hash groupBy; keeps the smallest doc_id of every
    * duplicate class (the industry-standard sha-based exact dedup). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Near-dup candidates via banded MinHash LSH (shingle → minhash → band
    * → bucket groupBy), verified with exact n-gram Jaccard.
    *
    * Plan shape, chosen for 100 TB:
    *   - signatures are computed ONCE per document (a self-join on the
    *     banded relation would run the minhash kernel twice per doc);
    *   - the input is repartitioned to the session's parallelism first —
    *     a small upstream file otherwise serializes the most expensive
    *     per-row kernel in the engine onto one task;
    *   - candidate pairs are generated inside each (band, bucket) group
    *     from the sorted id list — never an all-pairs join — and buckets
    *     above `maxBucket` are dropped (degenerate buckets, e.g. all-empty
    *     docs, would otherwise produce quadratic pairs);
    *   - band geometry (8 × 8) puts the LSH S-curve threshold at
    *     (1/8)^(1/8) ≈ 0.77: on a corpus whose random-pair baseline
    *     Jaccard is already ~0.35 (shared vocabulary), looser banding
    *     floods the verifier with candidates — the exact-Jaccard check is
    *     the most expensive kernel in the pipeline, so candidate volume,
    *     not signature cost, is what must be engineered down.
    */
  def dedupMinhash(spark: SparkSession, dir: String,
                   bands: Int = 8, rows: Int = 8, shingle: Int = 5,
                   threshold: Double = 0.7, maxBucket: Int = 128): DataFrame =
    minhashPairRelation(spark, dir, bands, rows, shingle, threshold, maxBucket)
      .orderBy(col("a_id"), col("b_id"))

  /** The unordered near-dup pair relation — the final sort in
    * [[dedupMinhash]] is presentation only, and consumers like
    * [[dedupClusters]] should not pay a range shuffle for it. */
  private def minhashPairRelation(spark: SparkSession, dir: String,
                   bands: Int = 8, rows: Int = 8, shingle: Int = 5,
                   threshold: Double = 0.7, maxBucket: Int = 128): DataFrame = {
    val docs = Par.fanOut(documents(spark, dir).select(col("doc_id"), col("text")))
    val banded = docs
      .select(col("doc_id"),
        posexplode(minhash_bands(col("text"), lit(bands), lit(rows), lit(shingle))))
      .select(col("doc_id"), col("pos").as("band_idx"), col("col").as("bucket"))
    val buckets = banded
      .groupBy(col("band_idx"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    // all in-bucket (a < b) pairs, from the sorted id array
    val candidates = buckets
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1), y ->
          |    struct(x AS a_id, y AS b_id))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()
    val ta = docs.select(col("doc_id").as("a_id"), col("text").as("a_text"))
    val tb = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    candidates.join(ta, "a_id").join(tb, "b_id")
      .withColumn("jaccard", round(ngram_jaccard(col("a_text"), col("b_text"), lit(shingle)), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Near-dup candidates via 64-bit SimHash with 16-bit chunk banding
    * (Hamming-distance LSH: two docs within distance d collide on at least
    * one of 4 chunks when d <= 3; we post-filter at d <= 6 as a recall
    * compromise, still never all-pairs). */
  def dedupSimhash(spark: SparkSession, dir: String, maxDist: Int = 6,
                   maxBucket: Int = 128): DataFrame = {
    val docs = Par.fanOut(documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), simhash64(col("text"), lit(5)).as("sim"))
    // one simhash pass; pairs generated per (chunk_idx, chunk) bucket
    val chunked = docs.select(col("doc_id"), col("sim"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    chunked
      .groupBy(col("chunk_idx"), col("chunk"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sim")))).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1), y ->
          |    struct(x.doc_id AS a_id, y.doc_id AS b_id,
          |           x.sim AS a_sim, y.sim AS b_sim))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"),
        hamming64(col("p.a_sim"), col("p.b_sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Per-partition union-find pass: emits only the edges that MERGED two
    * components — a spanning forest of the partition's edge set, which
    * preserves connectivity exactly while shrinking |edges| to at most
    * |distinct nodes in partition| − |local components|. Memory is one
    * long→long map over the partition's nodes, the same bound as the
    * hash side of any per-partition aggregate. Union keeps the SMALLER id
    * as root, so roots are component-minimal ids end to end. */
  /** Path-halving find with full compression, inserting unseen nodes as
    * their own root — the shared kernel of both union-find passes. */
  private def ufFind(parent: scala.collection.mutable.LongMap[Long], x: Long): Long = {
    var r = parent.getOrElse(x, { parent(x) = x; x })
    while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
    // path compression: re-walk pointing everything at the root
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  private[ops] def contractEdges(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    val forest = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    it.foreach { case (a, b) =>
      val ra = ufFind(parent, a); val rb = ufFind(parent, b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
        forest += ((a, b))
      }
    }
    forest.iterator
  }

  /** Terminal union-find over a (small, contracted) forest: labels every
    * node with its component's minimum id. */
  private[ops] def labelComponents(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    it.foreach { case (a, b) =>
      val ra = ufFind(parent, a); val rb = ufFind(parent, b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // snapshot keys before mapping: ufFind path-compresses (writes values)
    // while the result iterator is consumed, and a live keysIterator over a
    // concurrently-written LongMap is fragile against iterator invalidation
    parent.keysIterator.toArray.iterator.map(k => (k, ufFind(parent, k)))
  }

  /** Near-dup cluster assignment: connected components over the verified
    * near-dup pair relation (dedupMinhash) — each document lands in a
    * cluster keyed by its component's smallest doc_id (the representative
    * real dedup pipelines keep).
    *
    * Two-level plan (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14 — the filtering/contraction family):
    *   1. a per-partition union-find `mapPartitions` pass contracts the
    *      edge set to a spanning forest — no shuffle, no join, and the
    *      forest is ≤ |near-dup docs| edges regardless of how many pairs
    *      LSH verified (every node survives: a node's first edge always
    *      merges two components, so it is emitted);
    *   2. if the measured forest fits one task (`singleTaskMax`, default
    *      8M edges ≈ 128 MB of longs), a single EXECUTOR task — not the
    *      driver — finishes the union-find and labels every node;
    *      otherwise the iterative min-label-propagation loop runs over
    *      the contracted forest (same components, far fewer edges), with
    *      shuffle width derived from the measured forest size.
    * The driver only ever reads counts; per-iteration convergence checks
    * are narrow aggregates. */
  def dedupClusters(spark: SparkSession, dir: String, maxIter: Int = 50,
                    singleTaskMax: Long = 8000000L): DataFrame =
    connectedComponents(spark,
        minhashPairRelation(spark, dir).select(col("a_id"), col("b_id")),
        maxIter, singleTaskMax)
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
      .orderBy(col("doc_id"))

  /** End-to-end near-dup dedup with representative selection — the
    * composite a production corpus-dedup pass actually ships ("cluster
    * the near-dups, KEEP THE BEST ONE of each cluster, count what was
    * removed"): MinHash-LSH candidate pairs → exact-Jaccard verify →
    * union-find clusters → per-cluster argmax under the deterministic
    * quality order (longest text wins, ties to the smaller doc_id).
    * Output: one row per multi-doc cluster with the kept doc and the
    * removal accounting.
    *
    * Scale shape: inherits [[dedupClusters]]'s banded-LSH + two-level
    * union-find (no all-pairs anywhere); the keep choice is ONE
    * `max_by(doc_id, struct(n_chars, -doc_id))` aggregate over the
    * cluster relation — map-side partials, no per-cluster window sort.
    * The oracle replays the argmax with a row_number window over the
    * recursive-CTE closure. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = connectedComponents(spark,
        minhashPairRelation(spark, dir).select(col("a_id"), col("b_id")))
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
    documents(spark, dir).select(col("doc_id"), col("n_chars"))
      .join(clusters, Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        expr("max_by(doc_id, struct(n_chars, -doc_id))").as("kept_doc_id"),
        expr("max_by(n_chars, struct(n_chars, -doc_id))").as("chars_kept"),
        sum(col("n_chars")).as("chars_total"))
      .withColumn("chars_removed", col("chars_total") - col("chars_kept"))
      .select(col("cluster_rep"), col("n_members"), col("kept_doc_id"),
        col("chars_kept"), col("chars_removed"))
      .orderBy(col("cluster_rep"))
  }

  /** Connected components over an (a_id, b_id) edge relation — the
    * union-find engine behind [[dedupClusters]] and
    * [[SpatialCluster.dbscan]]. Two-level: per-partition edge contraction
    * (each task union-finds its slice and emits its contracted forest),
    * then either ONE task over the contracted forest (when it fits —
    * the measured common case: contraction collapses each partition's
    * chains) or the iterative min-label-propagation + pointer-jump loop
    * with lineage truncation (logarithmic rounds in component diameter).
    * Returns (id, rep) with rep = min member id of the component. */
  private[ops] def connectedComponents(spark: SparkSession, pairRel: DataFrame,
                                       maxIter: Int = 50,
                                       singleTaskMax: Long = 8000000L): DataFrame = {
    import spark.implicits._
    val contracted = pairRel
      .toDF("a_id", "b_id").as[(Long, Long)]
      .mapPartitions(contractEdges _)
      .cache()
    val nForest = contracted.count()
    if (nForest <= singleTaskMax) {
      val out = contracted.coalesce(1)
        .mapPartitions(labelComponents _)
        .toDF("id", "rep")
        .localCheckpoint(eager = true)
      contracted.unpersist(blocking = false)
      return out
    }
    val pairs = contracted.toDF("a_id", "b_id")
    // size the iterative tail to the MEASURED contracted-forest size: the
    // label table is ~|near-dup docs| <= 2n rows, and shuffles much wider
    // than that spend more time scheduling empty tasks than joining. ~1M
    // label rows per partition: a 100 TB pair relation (billions of
    // near-dup docs) gets thousands — derived from data, never a constant
    val tailParts = math.max(1L, (2L * nForest) / 1000000L)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", tailParts.toString)
    // AQE materializes every shuffle as its own query stage with a
    // re-planning round-trip; on a ~|near-dup docs|-row loop that
    // orchestration IS the iteration cost — plan statically instead
    // (the partition count above is already data-derived, which is the
    // one decision AQE would have made)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = pairs
        .union(pairs.select(col("b_id"), col("a_id")))
        .toDF("src", "dst")
      val nodes = edges.select(col("src").as("id")).distinct()
      var labels = nodes.withColumn("label", col("id")).localCheckpoint(eager = true)
      // self-loops fold the "keep your own label" case into the relax
      // aggregate, so one round is ONE join + ONE agg (+ one join for the
      // pointer jump) instead of join/agg/join/coalesce — less to plan
      // and codegen per iteration, same fixpoint
      val edgesSelf = edges
        .union(nodes.select(col("id").as("src"), col("id").as("dst")))
        .cache()
      // one propagation round: relax (min label over {self} ∪ neighbors),
      // then pointer-jump (follow label -> that node's label), which
      // collapses chains so convergence is logarithmic in component
      // diameter
      def round(cur: DataFrame): DataFrame = {
        val relaxed = edgesSelf.join(cur, edgesSelf("src") === cur("id"))
          .groupBy(col("dst")).agg(min(col("label")).as("lbl"))
          .select(col("dst").as("id"), col("lbl"))
        val hop = relaxed.select(col("id").as("jid"), col("lbl").as("jlbl"))
        relaxed.join(hop, relaxed("lbl") === hop("jid"), "left")
          .select(relaxed("id"), least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("label"))
      }
      // labels move monotonically DOWN (relax takes min including self,
      // hop takes least), so the label sum strictly decreases until the
      // fixpoint and "sum unchanged" ⇔ "no label changed" — convergence
      // is a narrow aggregate over the just-checkpointed partitions, not
      // a join against the previous iteration. DECIMAL(38) keeps the sum
      // exact at any corpus size (1e10 ids × 1e10 max id overflows Long).
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("label").cast("decimal(38,0)")).as("s"))
          .head().getDecimal(0) match { case null => java.math.BigDecimal.ZERO; case v => v }
      var prevSum = labelSum(labels)
      var changed = true
      var iter = 0
      while (changed && iter < maxIter) {
        // TWO composed rounds per materialization (an extra round after
        // the fixpoint is a no-op), then TRUNCATE LINEAGE: round()
        // references its input several times, so a cache-only loop grows
        // the logical plan ~16x per iteration and analysis time explodes
        // with iteration count — localCheckpoint re-roots the plan at the
        // materialized data, the standard shape for iterative algorithms
        val next = round(round(labels)).localCheckpoint(eager = true)
        val s = labelSum(next)
        changed = s.compareTo(prevSum) != 0
        prevSum = s
        labels = next
        iter += 1
      }
      val out = labels.select(col("id"), col("label").as("rep"))
        .localCheckpoint(eager = true)
      // the final checkpoint owns the result; intermediate checkpoint
      // blocks are reclaimed by the ContextCleaner as references drop
      edgesSelf.unpersist(blocking = false)
      out
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      contracted.unpersist(blocking = false)
    }
  }

  /** Exact token-set Jaccard between consecutive documents — the oracle-
    * checkable face of the similarity surface (DuckDB mirrors the list
    * arithmetic). */
  def jaccardTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val a = docs.select(col("doc_id").as("a_id"), split(col("text"), " ").as("ta"))
    val b = docs.select((col("doc_id") - 1).as("a_id"), col("doc_id").as("b_id"),
      split(col("text"), " ").as("tb"))
    a.join(b, "a_id")
      .withColumn("jaccard",
        size(array_intersect(array_distinct(col("ta")), array_distinct(col("tb")))).cast("double") /
        size(array_union(col("ta"), col("tb"))).cast("double"))
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"))
  }

  /** Corpus stats per language: doc/char/token counts (token = whitespace
    * split, computed with exact string arithmetic both engines share). */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("n_tokens", length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("lang"))

  /** Token counting beyond whitespace: BPE-ish regex token classes
    * (letter runs, digit runs, other non-space symbols) — the
    * subword-tokenizer-shaped counting pass of a training-data pipeline. */
  def tokenRegex(spark: SparkSession, dir: String): DataFrame =
    Par.fanOut(documents(spark, dir))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(expr("regexp_extract_all(text, '[a-z]+', 0)"))).as("alpha_tokens"),
        sum(size(expr("regexp_extract_all(text, '[0-9]+', 0)"))).as("num_tokens"),
        sum(size(expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)"))).as("sym_tokens"))
      .orderBy(col("source"))

  /** Per-language top character trigrams via the native
    * [[graft.exprs.ExplodeNgrams]] GENERATOR — the UDTF rung of the
    * extension ladder doing real corpus work: language-model-ish
    * character statistics (the same counts that feed real lang-ID and
    * tokenizer-training pipelines).
    *
    * Scale shape: the generator streams one gram at a time (never an
    * O(doc_len) per-row array — see the ExplodeNgrams scaladoc), the
    * (lang, gram) count aggregate takes map-side partials, and the
    * top-k window runs on the AGGREGATED relation — bounded by
    * |langs| × charset³, independent of corpus size — so the window is
    * safe where sourceMix's was not. */
  def ngramExplode(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Par.fanOut(documents(spark, dir))
      .select(col("lang"),
        graft.functions.explode_ngrams(col("text"), lit(3)).as(Seq("pos", "gram")))
    val counts = grams.groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("gram"))))
      .filter(col("rk") <= k)
      .select(col("lang"), col("gram"), col("cnt"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Marker-frequency language-ID heuristic (the n-gram-counting shape of
    * real lang-ID, deterministic and oracle-mirrorable). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    def occurrences(marker: String) =
      ((length(col("text")) - length(regexp_replace(col("text"), marker, ""))) / marker.length).cast("int")
    documents(spark, dir)
      .withColumn("c_data", occurrences("data"))
      .withColumn("c_query", occurrences("query"))
      .withColumn("c_table", occurrences("table"))
      .withColumn("pred",
        when(col("c_data") >= col("c_query") && col("c_data") >= col("c_table"), lit("data-ish"))
          .when(col("c_query") >= col("c_table"), lit("query-ish"))
          .otherwise(lit("table-ish")))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))
  }

  /** Per-document quality score: type-token ratio + bounded mean word
    * length (the length/punct/stopword-ratio family of quality filters). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("n_tokens", (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("double"))
      .withColumn("n_uniq", size(array_distinct(split(col("text"), " "))).cast("double"))
      .withColumn("mean_wlen", (length(col("text")) - (col("n_tokens") - 1)) / col("n_tokens"))
      // no rounding: the op chain is identical IEEE arithmetic in both
      // engines, while round-at-6 hits half-boundaries on dyadic ratios
      // (e.g. 0.5203125) that Spark (HALF_UP) and DuckDB resolve differently
      .withColumn("score",
        lit(0.5) * (col("n_uniq") / col("n_tokens")) +
        lit(0.5) * least(col("mean_wlen") / lit(10.0), lit(1.0)))
      .select(col("doc_id"), col("score"))
      .orderBy(col("doc_id"))

  /** N-gram repetition ratio — the MassiveText-style quality signal: a
    * document whose 5-gram multiset is dominated by few distinct shingles
    * is repetitive. Computed with engine-portable array arithmetic
    * (sequence → substring → distinct) so the oracle mirrors it exactly. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("total", greatest(length(col("text")) - 4, lit(0)))
      .withColumn("n_distinct",
        size(array_distinct(expr(
          "transform(sequence(1, greatest(length(text) - 4, 0)), i -> substring(text, i, 5))"))))
      .filter(col("total") > 0)
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("total").cast("double"))
      .select(col("doc_id"), col("total"), col("n_distinct"), col("rep_ratio"))
      .orderBy(col("doc_id"))

  /** Stopword ratio per document (the stopword-density member of the
    * length/punct/stopword quality-filter family). */
  def stopwordRatio(spark: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "of", "and", "a", "to", "in", "is", "on", "for", "with")
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_stop",
        size(expr(s"filter(toks, t -> t IN (${stops.map(s => s"'$s'").mkString(",")}))")))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / size(col("toks")).cast("double"))
      .select(col("doc_id"), col("n_stop"), col("stop_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split assignment (80/10/10) by
    * multiplicative hashing of the stable doc_id — the reproducible
    * corpus-split op of a training-data pipeline. No RNG: the same
    * document lands in the same split on every run and every cluster, a
    * new document joins a split without reshuffling old ones, and the
    * assignment is a pure per-row projection that costs nothing at any
    * scale. The inner modulus (1e9+7) bounds the Knuth-constant product
    * away from Long overflow for arbitrarily large ids (ANSI mode
    * throws on overflow; silent wrap would be engine-dependent). */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("bucket",
        pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 80, lit("train"))
          .when(col("bucket") < 90, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))

  /** Deterministic epoch reshuffle WITHOUT a sort: training loops need a
    * different global order every epoch, and the naive device — shuffle
    * 100 TB by `rand(seed)` and totally order it — pays a full-corpus
    * range-exchange per epoch. This operator replaces it with a
    * closed-form bijection on the contiguous id space: `pos_e(id) =
    * (A·id + e·1000003) mod N` with A prime and coprime to N is a
    * PERMUTATION of [0, N), so `shard = pos DIV ceil(N/S)` is a balanced
    * deterministic shard assignment — a pure per-row projection, zero
    * shuffle, reproducible on any cluster, and a new epoch is a new
    * constant, not a new sort. (Non-contiguous ids first pass through the
    * [[graft.ops.RelationalQueries.stableIds]] TeraSort-shape assignment
    * — one range exchange EVER, amortized over all epochs.)
    *
    * The modular product runs in the DECIMAL(38,0) lane (A·id ≈ 2.6e9·N
    * overflows BIGINT past N ≈ 3.5e9; decimal is exact to 1e38). A is
    * picked as the first of three fixed primes not dividing N — a prime
    * divides N only when N is its multiple, so the chain never exhausts —
    * and the oracle replays the same CASE chain.
    *
    * Output proves the permutation per (epoch, shard): exact shard
    * occupancy (every shard full at ceil(N/S) except the tail), pos
    * range coverage, the id-set checksum (epoch-varying: WHICH ids land
    * in a shard changes per epoch), and a pos↦id pairing checksum that
    * any two-row swap breaks. */
  def epochShuffle(spark: SparkSession, dir: String, epochs: Int = 3,
                   shards: Int = 16): DataFrame = {
    val docs = documents(spark, dir).select(col("doc_id"))
    // the ONLY driver-side value: one count scalar (any planner's cost);
    // an empty corpus degrades to n=1 constants over zero rows — the
    // aggregate output is empty either way, nothing throws
    val n = math.max(documents(spark, dir).count(), 1L)
    val a = Seq(2654435761L, 2654435789L, 2654435863L).find(n % _ != 0).get
    val shardSize = (n + shards - 1) / shards
    // per-row epoch generator — a 3-wide explode, not a cross join (the
    // generator keeps the plan join-free; a broadcast cross join against
    // the 3-row epoch relation would plan a nested loop)
    docs.withColumn("epoch", explode(sequence(lit(1L), lit(epochs.toLong))))
      .withColumn("pos",
        expr(s"""CAST(pmod(CAST(doc_id AS DECIMAL(38,0)) * $a
                |          + CAST(epoch AS DECIMAL(38,0)) * 1000003,
                |          CAST($n AS DECIMAL(38,0))) AS BIGINT)""".stripMargin))
      .withColumn("shard", expr(s"pos DIV ${shardSize}L"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("pos")).as("min_pos"),
        max(col("pos")).as("max_pos"),
        expr("CAST(pmod(sum(CAST(doc_id AS DECIMAL(38,0))), 1000000007) AS BIGINT)")
          .as("id_checksum"),
        expr("""CAST(pmod(sum(CAST(pos AS DECIMAL(38,0)) * (doc_id % 97)),
               |          1000000007) AS BIGINT)""".stripMargin)
          .as("pairing_checksum"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** Deterministic stratified sampling: per-stratum (language) keep-rates
    * from a broadcast-joined rates dimension, membership decided by the
    * same RNG-free multiplicative doc_id hash as [[trainSplit]]. The rates
    * table here derives from the stratum list itself (rank-staggered
    * percentages) — in production it is the experimenter-supplied curriculum
    * mix — and stays a broadcast: |strata| rows against a 100 TB fact side,
    * with the keep decision a per-row projection before any shuffle. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(spark, dir)
    // |distinct langs| is tiny by construction; the global-order window
    // runs on the deduplicated stratum list, not the corpus
    val rates = docs.select(col("lang")).distinct()
      .withColumn("keep_pct",
        (lit(10) + lit(17) * pmod(row_number().over(Window.orderBy(col("lang"))).cast("long"), lit(5L)))
          .cast("int"))
    val bucketed = docs.withColumn("bucket",
      pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L), lit(100L)))
    bucketed.join(broadcast(rates), "lang")
      .groupBy(col("lang"), col("keep_pct"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("bucket") < col("keep_pct"), lit(1))).as("n_sampled"))
      .orderBy(col("lang"))
  }

  /** Per-source document cap — "at most N documents from any one domain",
    * the anti-over-representation gate every web-corpus recipe applies
    * (a single giant domain must not dominate the training mix). Selection
    * is deterministic: the per-source rank orders by the shared RNG-free
    * multiplicative doc_id hash (ppm resolution, [[trainSplit]]'s kernel),
    * so the kept set is reproducible run over run and shards by hash, not
    * by arrival order.
    *
    * Scale shape: the salted two-phase top-k ([[RelationalQueries
    * .windowTopK]]'s pattern) — a local rank inside (source, salt) cuts
    * every 100 TB-scale source down to 32·cap candidate rows BEFORE the
    * per-source shuffle, so a mega-domain with 10^9 documents never
    * serializes one window partition; the global rank then runs on
    * ≤ 32·cap rows per source. */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(spark, dir)
      .withColumn("h",
        pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L), lit(1000000L)))
    val local = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(32L)))
      .orderBy(col("h"), col("doc_id"))
    val global = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    docs.withColumn("rn_local", row_number().over(local))
      .filter(col("rn_local") <= cap)
      .withColumn("rk", row_number().over(global))
      .filter(col("rk") <= cap)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rk"))
  }

  /** Corpus-internal duplicated-span measurement: per document, how many
    * of its distinct token trigrams occur in at least one OTHER document —
    * the span-level duplication profile (the signal behind substring-level
    * train-set dedup, which removes repeated boilerplate that
    * document-level dedup can't see). `dup_ppm` is the duplicated fraction
    * at ppm resolution in integer arithmetic.
    *
    * Scale shape: trigram build is the one-walk zip_with kernel (the
    * indexed-lambda form is O(tokens²) — see [[lmBigramScore]]); only
    * (doc_id, trigram) pairs ever shuffle. Corpus doc-frequencies
    * aggregate from the per-doc DISTINCT relation with map-side partials,
    * and the join back is a hash equi join on the trigram — both sides
    * partition by the same key, no all-pairs anything. At 100 TB the
    * trigram strings would hash to 8-byte keys first (as [[dedupExact]]
    * hashes text); kept as strings here so the oracle shares the exact
    * key. */
  /** One-walk token-trigram array over the tokenized column `l` (the
    * zip_with form — the indexed-lambda form is O(tokens²), see
    * [[lmBigramScore]]). ONE definition shared by [[spanDup]] and
    * [[setsimJoin]] so the gram law cannot drift between them. */
  private val trigramArrayExpr: String =
    "zip_with(slice(l, 1, greatest(size(l) - 2, 0)), " +
    "zip_with(slice(l, 2, greatest(size(l) - 2, 0)), " +
    "slice(l, 3, greatest(size(l) - 2, 0)), " +
    "(y, z) -> concat(y, ' ', z)), (x, yz) -> concat(x, ' ', yz))"

  def spanDup(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed once (r18, the topTerms cut): `grams` feeds both the
    // doc-frequency aggregate and the join back — without the cut the
    // tokenize + trigram build + explode ran twice over the corpus
    val grams = Par.fanOut(documents(spark, dir))
      .withColumn("l", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), explode(array_distinct(expr(trigramArrayExpr)))
        .as("g"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("n_docs_with"))
    grams.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("n_docs_with") >= 2, lit(1))).as("n_dup"))
      .withColumn("dup_ppm", expr("(1000000 * n_dup) DIV n_grams"))
      .orderBy(col("doc_id"))
  }

  /** Exact set-similarity join via PREFIX FILTERING (the AllPairs/PPJoin
    * family): every document pair whose token-TRIGRAM-set Jaccard is
    * >= 0.7. Where banded MinHash is probabilistic (it can miss a true
    * pair), prefix filtering is LOSSLESS: order the universe
    * rarest-gram-first, keep each document's (|S| - ceil(t·|S|) + 1)-
    * prefix, and any pair with J >= t provably shares a prefix gram — so
    * candidates = docs sharing a prefix gram, and the exact verify loses
    * nothing.
    *
    * The set element is the token trigram, not the char shingle, by
    * design: prefix filtering's candidate bound is Σ_gram (docs whose
    * PREFIX holds that gram)², which is small exactly when the element
    * universe is large relative to the corpus (trigram dfs are near 1).
    * A tiny shared universe (char 5-grams here: ~2k distinct) defeats
    * every lossless blocking scheme — measured 4.7M candidates of 12.5M
    * possible pairs at sf0.1 — and is the regime MinHash exists for; the
    * two operators cover the two regimes.
    *
    * Scale shape: doc-frequency ranking is one aggregate over exploded
    * (doc, gram) pairs; the per-doc prefix selection window partitions
    * by doc_id (bounded by grams-per-doc, never by corpus size).
    * Candidate generation joins prefixes on the gram; the size filter
    * `least >= ceil(t·greatest)` prunes length-incompatible pairs before
    * the verify. Verification joins the gram arrays back by id — hash
    * joins all the way down, no cartesian anywhere. */
  def setsimJoin(spark: SparkSession, dir: String,
                 threshold: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // grams are 64-bit hashes from here on: Jaccard over DISTINCT sets is
    // hash-invariant (the oracle plays the same trick with its own hash),
    // and 8-byte keys make every downstream shuffle, sort, and intersect
    // long-typed instead of string-typed
    // `sets` is referenced by four downstream subtrees (freq, prefixes,
    // and both verify joins); without materialization the tokenize →
    // trigram → xxhash64 scan re-runs four times (~40% of the operator's
    // measured cost at sf0.1). An eager local checkpoint computes it once
    // into executor-local blocks — exactly what a corpus-scale run of
    // PPJoin does with its set relation — at the price of one job at
    // plan-construction time (the same trade StreamQueries.runBounded
    // makes; blocks are freed by the ContextCleaner when the plan is
    // dropped). This is the one deliberate exception to the
    // no-side-effect convention topTerms documents.
    val sets = Par.fanOut(documents(spark, dir))
      .withColumn("l", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("l")) >= 3)
      // SORTED ascending (r18): the verify's |Sa∩Sb| is a zero-allocation
      // two-pointer merge (sorted_inter_count) instead of
      // size(array_intersect(...))'s per-pair hash-set build — measured
      // 60% of this operator's 30×-stress CPU was array_intersect. The
      // sort costs one O(|S| log |S|) pass per DOCUMENT; the merge saves
      // per-PAIR work, and pairs outnumber documents by orders of
      // magnitude. Set overlap is order-invariant, so results are
      // bit-identical.
      .select(col("doc_id"), array_sort(array_distinct(expr(
        s"transform($trigramArrayExpr, g -> xxhash64(g))")))
        .as("sh"))
      .withColumn("sz", size(col("sh")))
      // SERIALIZED storage (not the deserialized default): the pinned copy
      // is compact hash arrays, evictable to disk block-by-block under
      // pressure — at 100x the corpus the checkpoint holds ~|corpus| longs
      // in the bounded storage pool instead of pinning deserialized rows
      // on the heap (r13 stress measured +571 MB heap at 10x with the
      // default level)
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val freq = sets.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // eagerly checkpointed like `sets` (r18): the self-join below consumes
    // `prefixes` on BOTH sides, and the subtrees do not collapse under
    // ReuseExchange — each side re-ran the full explode → df-join →
    // per-doc rank window over the corpus (measured: the two rank passes
    // were the operator's top CPU, ~5 s each at sf0.1). One
    // materialization of the ~10×-smaller prefix relation feeds both.
    val prefixes = sets
      .select(col("doc_id"), col("sz"), explode(col("sh")).as("s"))
      .join(freq, "s")
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("s"), col("doc_id"), col("sz"), col("rn"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // PPJoin POSITIONAL filter (r15 verdict #5), applied per shared
    // prefix gram BEFORE the distinct/verify: with both docs' grams in
    // the same global rarest-first order, overlap ≤ 1 + min(grams after
    // this one in a, in b) — and J ≥ t requires overlap ≥
    // t/(1+t)·(|Sa|+|Sb|). LOSSLESS for the pair: at the FIRST shared
    // gram no earlier elements are common, so its bound ≥ the true
    // overlap and a qualifying pair always survives through that edge;
    // later shared grams may prune their own edges harmlessly. The
    // 1e-9 slack keeps float rounding on the side of ADMITTING a
    // borderline candidate, never dropping one — exactness lives in the
    // verify step. Measured effect: the bound kills the candidate mass
    // that length-compatibility alone admits under heavy replication
    // (the 30× stress regime where per-pair cost crept 1.30×).
    val cand = prefixes.as("a")
      .join(prefixes.as("b"), Seq("s"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(least(col("a.sz"), col("b.sz")) >=
        ceil(greatest(col("a.sz"), col("b.sz")) * threshold))
      .filter((lit(1) +
        least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))).cast("double") >=
        (col("a.sz") + col("b.sz")) * lit(threshold / (1.0 + threshold)) - lit(1e-9))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      // the pre-verify two-phase distinct looks redundant on paper (the
      // r18 30× probe measured the FINAL agg merging zero cross-task
      // duplicates) but both restructures that tried to drop a phase
      // measured WORSE at 30× and were reverted: the map-side partial agg
      // runs where a pair's edges are co-generated (the probe doc's
      // partition) and crushes the 1.33× raw-edge mass — and the 5.7×
      // edge multiplicity of QUALIFYING pairs — before any exchange or
      // any per-pair verify work ever sees it. Details in
      // OPTIMIZATION_r18.md (dedup-after-verify: 46→59 s; fused
      // keyed-exchange dedup: 46→85 s).
      .distinct()
    // explicit widen: same rationale as containmentJoin's verify — the
    // pair ids are bytes-tiny, the per-pair merge verify is not, and
    // the join-product stats estimate hides that from widenDense
    cand.repartition(spark.sparkContext.defaultParallelism)
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha"),
        col("sz").as("na")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb"),
        col("sz").as("nb")), "b_id")
      .withColumn("inter", sorted_inter_count(col("sha"), col("shb")))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Per-source token-distribution diversity as GINI IMPURITY (1 − Σp²)
    * in ppm — the degenerate-source detector (a crawler stuck on one
    * boilerplate page collapses toward 0; a healthy natural-language mix
    * sits high). Gini is chosen over Shannon entropy deliberately: it
    * ranks distributions the same way for this purpose but is pure
    * integer cross-multiplication — `(10^6·(N² − Σn²)) DIV N²` — where
    * entropy's log would hang engine-identical floats on libm rounding.
    *
    * Scale shape: one token explode → (source, term) counts with map-side
    * partials → per-source second-moment aggregate. The ppm projection
    * runs in DECIMAL(38,0) lanes (the chiSquare device): `10^6·N²` in
    * BIGINT would overflow past ~3·10^6 tokens per source, and the 100 TB
    * contract is that the expression runs unchanged. The quotient is still
    * integral division, so the emitted gini_ppm stays an exact BIGINT and
    * the oracle's HUGEINT arithmetic agrees bit-for-bit. */
  def tokenDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Par.fanOut(documents(spark, dir))
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    toks.groupBy(col("source"), col("t")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * col("n")).as("sq"))
      .withColumn("gini_ppm",
        expr("""CAST((1000000 * (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens - sq))
               |     DIV (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)""".stripMargin))
      .select(col("source"), col("n_tokens"), col("n_distinct"), col("gini_ppm"))
      .orderBy(col("source"))
  }

  /** BM25 relevance scoring of every document against a fixed probe term
    * set (k1=1.2, b=0.75) — the retrieval-grade ranking primitive behind
    * corpus search and RAG candidate generation, as one declarative plan.
    *
    * Float discipline: idf's ln() is unavoidable in canonical BM25, so
    * every input reaching it is EXACT (integer-valued doubles ± 0.5), the
    * remaining ops are single correctly-rounded IEEE divisions, and the
    * emitted score is ROUND(·,4) — the same boundary law the Jaccard
    * oracles use, leaving at most 1-ulp libm slack against four decimal
    * digits. Term-at-a-time arithmetic sums per-term DOUBLEs per doc; the
    * per-doc term count is ≤ |probe set|, so summation-order drift cannot
    * accumulate (5 exact-input terms).
    *
    * Scale shape: tf explodes tokens but filters to the probe set BEFORE
    * aggregation (the explode's output is |matches|, not |tokens|); df and
    * corpus stats enter as scalar subqueries / a broadcast-sized term dim;
    * scoring is one hash join of per-doc tfs with the 5-row term relation
    * + a per-doc aggregate. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge.scalarSubquery
    val probes = Seq("spark", "join", "merge", "window", "data")
    val docs = Par.fanOut(documents(spark, dir))
      .withColumn("dl", size(expr("filter(split(text, ' '), x -> x != '')")))
    val toks = docs
      .select(col("doc_id"), col("dl"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t").isin(probes: _*))
    // r18 (the topTerms cut): df derives from tf (each tf row is one
    // distinct (doc, t) — doc determines dl), checkpointed once so the
    // probe-filtered explode runs once, not per consumer; the corpus
    // scalars read the RAW scan — the fanOut repartition ships the full
    // text column to 32 tasks for two 1-row aggregates
    val tf = toks.groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val raw = documents(spark, dir)
      .withColumn("dl", size(expr("filter(split(text, ' '), x -> x != '')")))
    val nDocs = scalarSubquery(raw.agg(count(lit(1))))
    val sumDl = scalarSubquery(raw.agg(sum(col("dl"))))
    val avgdl = sumDl.cast("double") / nDocs.cast("double")
    tf.join(broadcast(dfreq), "t")
      .withColumn("idf", log(lit(1.0) +
        (nDocs.cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("part", col("idf") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), round(sum(col("part")), 4).as("bm25"))
      .orderBy(col("doc_id"))
  }

  /** Hapax legomena audit: per source, how many of its distinct terms
    * occur exactly once in the WHOLE corpus (corpus tf = 1) — the
    * vocabulary-tail health signal (OCR noise and mojibake inflate the
    * hapax share; template spam collapses it), complementing
    * [[tokenDiversity]]'s distribution shape and [[vocabCoverage]]'s
    * head. Rate in ppm integers.
    *
    * Scale shape: corpus term frequencies CASCADE from the per-source
    * counts (the [[lmBigramScore]] device) so the token explode runs
    * once; the join back is a hash equi join on the term, both sides
    * partitioned by it. */
  def hapaxRate(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed once (r18, the topTerms cut): `perSource` feeds both
    // the corpus-tf cascade and the final join — without the cut the
    // token explode over the corpus ran twice
    val perSource = Par.fanOut(documents(spark, dir))
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("n_in_source"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val corpusTf = perSource.groupBy(col("t")).agg(sum(col("n_in_source")).as("tf"))
    perSource.join(corpusTf, "t")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        count(when(col("tf") === 1L, lit(1))).as("n_hapax"))
      .withColumn("hapax_ppm", expr("(1000000 * n_hapax) DIV n_terms"))
      .orderBy(col("source"))
  }

  /** Zipf-law octave-mass diagnostic: token frequencies bucketed by
    * RANK OCTAVE — octave b holds ranks [2^b, 2^{b+1}) — with per-octave
    * distinct-type counts and total token mass. Under Zipf s=1 each
    * octave carries equal mass, so the mass-per-octave profile reads the
    * power-law exponent directly (flat ⇒ s≈1, decaying ⇒ s&gt;1) and its
    * tail deviation is the standard crawl-corpus health check (boilerplate
    * inflates the head; OCR noise fattens the tail) — the curve behind
    * the log-log plots in Piantadosi 2014's Zipf review.
    *
    * Exactness device: no logarithm is ever taken — the octave is
    * length(bin(rank)) − 1, pure integer bit-length in both engines, so
    * the whole statistic is frequency counting + a binary-string length.
    * Mass shares are emitted in ppm via integer DIV.
    *
    * Scale shape: one grouped count over tokens (map-side partials), then
    * ONE vocabulary-sized global-order window (row_number on freq desc,
    * token asc) — the sort is |vocabulary|, orders of magnitude below the
    * corpus, and the octave rollup is ≤64 rows. */
  def zipfOctaves(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Par.fanOut(documents(spark, dir))
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("tf"))
    // two-phase global rank — NOT row_number over a global order, which
    // sorts the whole vocabulary in ONE task: the within-tf rank is a
    // tf-PARTITIONED window (parallel), and the cross-tf offset is a
    // cumulative sum over the tf HISTOGRAM (|distinct frequencies| rows,
    // orders of magnitude below |vocabulary| under any Zipf-ish law).
    // rank(t) = Σ_{tf' > tf} count(tf') + rank_within(tf; token asc).
    val tfHist = tf.groupBy(col("tf")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("tf").desc).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("tf"), col("offset"))
    val ranked = tf
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tf")).orderBy(col("t"))).cast("long"))
      .join(broadcast(tfHist), "tf")
      .withColumn("rank", col("offset") + col("rn"))
    import org.apache.spark.sql.graftbridge.Bridge.scalarSubquery
    val total = scalarSubquery(tf.agg(coalesce(sum(col("tf")), lit(0L))))
    ranked
      .withColumn("octave", (length(bin(col("rank"))) - 1).cast("int"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_types"), sum(col("tf")).as("mass"))
      .withColumn("total", total)
      .withColumn("mass_ppm", expr("(1000000 * mass) DIV total"))
      .select(col("octave"), col("n_types"), col("mass"), col("mass_ppm"))
      .orderBy(col("octave"))
  }

  /** MinHash estimator-error audit — the measurement that justifies (or
    * indicts) every LSH dedup threshold: over blocked candidate pairs,
    * compare the k-permutation MinHash ESTIMATE of Jaccard (fraction of
    * agreeing signature positions) against the EXACT shingle-set Jaccard,
    * and histogram the error in 1/k steps. E[matches/k] = J is the
    * MinHash identity; this op shows the realized spread at k=8, which is
    * what picks band/row counts for a production dedup pass.
    *
    * Determinism device: permutation i hashes shingle s as the 15-hex
    * md5 prefix of "i:s" — signature position i = the MINIMUM such
    * string (fixed-width lowercase hex: lexicographic == numeric order),
    * so both engines draw identical permutations with no JVM-private
    * mixing in the loop. Word-3-gram shingles; docs with <3 tokens have
    * no shingle set and are excluded (documented, shared by the oracle).
    *
    * Scale shape — bounded by construction, never quadratic in the
    * corpus: blocks are (lang, length-decile) keys whose CARDINALITY is
    * bounded, so block SIZE grows with the corpus; the audit therefore
    * samples each block down to `capPerBlock` documents chosen by the
    * deterministic md5 order (the [[sourceMix]] device: bounded-state
    * [[graft.exprs.TopKAgg]] carries ≤2·cap pairs per block with
    * map-side partials — no per-block sort, nothing unbounded ever
    * shuffles). The expensive per-doc signature kernel (k·|shingles| md5
    * calls) runs ONLY on the ≤|blocks|·cap survivors of a broadcast
    * pick-back join, and candidate pairs are generated in-array from the
    * per-block survivor list (≤cap·(cap−1)/2 per block, the
    * [[dedupMinhash]] bucket discipline) — no self-join, so the kernel
    * is never evaluated twice per doc. Total pair work is
    * |blocks|·cap²/2 — a CONSTANT once the corpus saturates the blocks,
    * which is exactly what an estimator audit (a sampled measurement by
    * nature) should cost. The cap is a loud, documented parameter; the
    * oracle replays the identical md5-ranked sample via `row_number`. */
  def minhashAudit(spark: SparkSession, dir: String, perms: Int = 8,
                   capPerBlock: Int = MinhashAuditCap): DataFrame = {
    val step = 1000000L / perms
    val base = Par.fanOut(documents(spark, dir))
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("toks")) >= 3)
      .withColumn("blk", expr("concat(lang, ':', CAST(size(toks) DIV 10 AS STRING))"))
    // per-block deterministic doc sample: keep the capPerBlock docs with
    // the SMALLEST md5(doc_id) (negated 60-bit prefix so topk's "highest
    // score" picks them), ties by doc_id — bounded state, no window sort
    val picks = base
      .select(col("doc_id"), col("blk"),
        (-expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
          .as("neg_h60"))
      .groupBy(col("blk"))
      .agg(graft.functions.topk_agg(col("doc_id"), col("neg_h60"), capPerBlock)
        .as("pairs"))
      .select(explode(col("pairs.key")).as("doc_id"))
    val docs = base.join(broadcast(picks), Seq("doc_id"))
      .withColumn("sh", expr(
        """array_distinct(transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws('_', toks[i-1], toks[i], toks[i+1])))""".stripMargin))
      .withColumn("sig", expr(
        s"""transform(sequence(0, ${perms - 1}), i ->
           |  array_min(transform(sh, s ->
           |    substring(md5(concat(CAST(i AS STRING), ':', s)), 1, 15))))""".stripMargin))
      .select(col("blk"), col("doc_id"), col("sh"), col("sig"))
    // in-block (a < b) pairs from the ≤cap survivor list — the
    // dedupMinhash bucket device; collect_list is bounded by the cap
    docs
      .groupBy(col("blk"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sh"), col("sig"))))
        .as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1), y ->
          |    struct(x.sh AS sha, y.sh AS shb,
          |           x.sig AS siga, y.sig AS sigb))))""".stripMargin)).as("p"))
      .select(col("p.sha").as("sha"), col("p.shb").as("shb"),
        col("p.siga").as("siga"), col("p.sigb").as("sigb"))
      .withColumn("inter", expr("size(array_intersect(sha, shb))"))
      .withColumn("uni", expr("size(sha) + size(shb) - inter"))
      .withColumn("exact_ppm", expr("(1000000 * CAST(inter AS BIGINT)) DIV uni"))
      .withColumn("matches", expr(
        "size(filter(zip_with(siga, sigb, (x, y) -> x = y), m -> m))"))
      .withColumn("est_ppm", col("matches").cast("long") * lit(step))
      // bucket at 1/(8k) — finer than the estimate's own 1/k granularity,
      // so the histogram resolves the within-one-step error mass too
      .withColumn("err_bucket",
        expr(s"CAST(abs(est_ppm - exact_ppm) DIV ${step / 8}L AS INT)"))
      .groupBy(col("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("exact_ppm")).as("sum_exact_ppm"),
        sum(col("matches").cast("long")).as("sum_matches"))
      .orderBy(col("err_bucket"))
  }

  /** Corpus readability scoring — Flesch reading ease (Flesch 1948,
    * the `textstat` default every data-quality pipeline reaches for)
    * per language: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/word), computed from per-language TOTALS (the
    * standard corpus-level form). Syllables use the classic vowel-group
    * approximation ([aeiouy]+ runs — the same heuristic textstat's
    * fallback uses), sentences the terminal-period count.
    *
    * Exactness device: counts are integers (token filter, char-diff
    * period count, regexp_extract_all run count — identical greedy
    * semantics in both engines for a plain character class), and the
    * Flesch formula is emitted in micro units with the constants
    * pre-scaled (206835000, 1015000, 84600000) and integer DIV — no
    * float arithmetic anywhere.
    *
    * Scale shape: per-row projections + ONE bounded-key rollup. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    Par.fanOut(documents(spark, dir))
      .select(col("lang"),
        expr("size(filter(split(text, ' '), t -> t != ''))").cast("long").as("w"),
        (length(col("text")) - length(expr("replace(text, '.', '')"))).cast("long").as("s"),
        expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))").cast("long").as("y"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sentences"), sum(col("y")).as("n_syllables"))
      .withColumn("flesch_micro", expr(
        """CAST(206835000
          |  - (1015000 * n_words) DIV greatest(n_sentences, 1)
          |  - (84600000 * n_syllables) DIV greatest(n_words, 1)
          |AS BIGINT)""".stripMargin))
      .orderBy(col("lang"))
  }

  /** Importance-weighted deterministic sampling: each document keeps with
    * probability proportional to its OWN weight (token count here; a
    * quality score in production) — the continuous-weight complement of
    * [[stratifiedSample]]'s per-stratum rates, i.e. the quality-weighted
    * mix step of corpus curation. RNG-free: the keep decision compares
    * the shared multiplicative doc_id hash (same kernel as
    * [[trainSplit]], modulus 10^6 for ppm resolution) against the row's
    * weight in ppm, so membership is reproducible, join-free, and a pure
    * per-row projection ahead of the one audit aggregate — at 100 TB the
    * sample materializes in the same scan that reads the corpus. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .withColumn("n_tokens",
        length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
      // 8000 ppm per token ≈ 8%-79% keep over this corpus's 10-99 token
      // range; least() guards the law p ≤ 1 for arbitrarily long docs
      .withColumn("keep_ppm", least(col("n_tokens") * 8000L, lit(1000000L)))
      .withColumn("bucket",
        pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L), lit(1000000L)))
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("bucket") < col("keep_ppm"), 1)).as("n_kept"),
        sum(when(col("bucket") < col("keep_ppm"), col("n_tokens"))
          .otherwise(lit(0L))).as("kept_tokens"))
      .orderBy(col("lang"))
  }

  /** Misra-Gries streaming summary with k counters: one pass, O(k)
    * memory, and the classic guarantee — every item with true frequency
    * > n/(k+1) survives in the counter set (undercounts are bounded by
    * n/(k+1), which is all [[heavyHitters]] needs: it recounts exactly).
    * The decrement-all step runs only when a new item arrives with all k
    * counters occupied, amortized O(1) per input via the eviction. */
  private[ops] def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val counters = new java.util.HashMap[String, Long](k * 2)
    it.foreach { t =>
      val cur = counters.getOrDefault(t, 0L)
      if (cur > 0L) counters.put(t, cur + 1L)
      else if (counters.size < k) counters.put(t, 1L)
      else {
        val e = counters.entrySet().iterator()
        while (e.hasNext) {
          val c = e.next()
          if (c.getValue == 1L) e.remove() else c.setValue(c.getValue - 1L)
        }
      }
    }
    counters.keySet().toArray(Array.empty[String]).iterator
  }

  /** EXACT heavy hitters (frequency > n/k) in two passes — the
    * high-cardinality frequency analysis a vocabulary/abuse audit needs
    * when a full groupBy over every distinct key would itself be the
    * bottleneck. Pass 1 runs [[misraGries]] per partition (k counters
    * each, no shuffle) and unions the survivors: by averaging, a global
    * heavy hitter is a local one (freq_p > n_p/k) in at least one
    * partition, and MG with k counters retains everything above
    * n_p/(k+1) — so the union is a guaranteed superset of the answer.
    * Pass 2 recounts ONLY the candidates exactly (broadcast hash
    * semi-reduction before the aggregate) and applies the exact
    * threshold, so the output is identical to the brute-force groupBy
    * the oracle computes. At 100 TB the aggregate's key space shrinks
    * from |vocab| to ≤ partitions·k candidates; the property spec
    * (MisraGriesProps) checks the superset law on arbitrary streams. */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    val toks = Par.fanOut(documents(spark, dir))
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val candidates = toks.as[String]
      .mapPartitions(misraGries(_, k))
      .toDF("term").distinct()
    val total = Bridge.scalarSubquery(toks.agg(count(lit(1)).as("n")))
    toks.join(broadcast(candidates), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > total)
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Document-frequency-filtered top terms per source: tokenize, compute
    * corpus df per term, drop terms in more than half the corpus (the
    * integer-exact form of an IDF floor), rank the rest by tf within each
    * source. Two shuffles — (source, term) tf agg and term df agg — both
    * with map-side partials; the per-source ranking is a window over the
    * already-aggregated (small) term relation, and the corpus size joins
    * in as a broadcast scalar, never a driver read. */
  def topTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Par.fanOut(documents(spark, dir))
    val toks = docs
      .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    // tf and df both derive from ONE reduced parent — the per-(source,
    // doc, term) counts — eagerly checkpointed (r18; the setsim/tfidf
    // convention this file has since adopted): without the cut the
    // tokenize+explode pass over the corpus ran twice, once per
    // aggregate (the two top stages of the r18 profile). tf regroups the
    // parent's counts; df counts its rows per term (each row is one
    // distinct (doc, term) — doc_id determines source, so the rollup is
    // exactly countDistinct(doc_id)).
    val perDocTerm = toks
      .groupBy(col("source"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val tf = perDocTerm.groupBy(col("source"), col("term"))
      .agg(sum(col("k")).cast("long").as("tf"))
    val dfreq = perDocTerm.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // corpus size enters as a scalar subquery — one stage, its result
    // shipped to tasks like a broadcast variable (a relation-less 1-row
    // join would plan BroadcastNestedLoopJoin, which the plan guardrails
    // ban outright)
    // count over the RAW scan, not the fanned `docs`: fanOut pays a
    // 32-task repartition for a 5000-row distinct count (r18 profile:
    // 2.4 s CPU of per-task fixed cost for ~20 ms of work)
    val nDocs = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
      documents(spark, dir).agg(countDistinct(col("doc_id")).as("n_docs")))
    val filtered = dfreq
      .filter(col("df") * 2 <= nDocs)
      .select(col("term"), col("df"))
    tf.join(filtered, "term")
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("tf").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy(col("source"), col("rank"))
  }

  /** Sequence packing: assign documents to fixed token-budget training
    * sequences (2048 here) by running token count — the batch-shaping op
    * between a cleaned corpus and a trainer. Deterministic rule: docs are
    * laid out in (source, doc_id) order and a doc starts sequence
    * `floor(tokens_before / budget)`, i.e. greedy concatenation with
    * overflow into the next window.
    *
    * Scale shape: ONE shuffle — the running sum partitions by source and
    * sorts by doc_id inside each partition (the unbounded-preceding ROWS
    * frame streams, no buffering); everything after it is a per-row
    * projection plus an already-partitioned (source, seq_id) aggregate.
    * A single giant source would serialize its window partition — the
    * salted fix is implemented as [[packSequencesSharded]] (pack per
    * (source, shard) with shard = a doc_id range), which changes sequence
    * numbering but not the packing law. */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(spark, dir)
      // whitespace tokens, exact integer arithmetic shared by the oracle
      .withColumn("toks",
        length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
      .withColumn("cum", sum(col("toks")).over(w))
      // integer DIV, not `/`: Column./ is double division, and doubles
      // lose exactness past 2^53 cumulative tokens (see sessionize)
      .withColumn("seq_id", expr(s"(cum - toks) DIV $budget"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_tokens"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** The salted scale path of [[packSequences]]: pack per (source, shard)
    * with shard = a fixed doc_id range, so a single giant source spreads
    * over `span/shardWidth` window partitions instead of serializing one.
    * Each shard packs independently under the identical greedy law —
    * sequence ids are per-shard (a trainer consumes (source, shard,
    * seq_id) as the sequence key), and the one partial sequence per shard
    * boundary is the bounded, explicit cost of the parallelism. The
    * window's shuffle key gains the shard column and nothing else changes:
    * still ONE shuffle, still a streaming ROWS frame. */
  def packSequencesSharded(spark: SparkSession, dir: String, budget: Int = 2048,
                           shardWidth: Long = 200L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardWidth > 0, s"shardWidth must be positive, got $shardWidth")
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(spark, dir)
      // doc_ids are non-negative; DIV floors, so each shard is the
      // contiguous id range [shard*width, (shard+1)*width)
      .withColumn("shard", expr(s"doc_id DIV ${shardWidth}L"))
      .withColumn("toks",
        length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("seq_id", expr(s"(cum - toks) DIV $budget"))
      .groupBy(col("source"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_tokens"))
      .orderBy(col("source"), col("shard"), col("seq_id"))
  }

  /** Incremental-ingest dedup: a new document batch checked against the
    * standing corpus by content hash — the exact-dedup shape of every
    * rolling ingest pipeline (the standing side would be the
    * Materialize-published fingerprint table; here both sides derive from
    * the corpus split by a mod rule so the oracle can rebuild them). The
    * new batch LEFT ANTI-joins the corpus hash set (first publication
    * survives) and additionally dedups within itself (min doc_id per
    * hash). One shuffle on the 32-byte hash; document text never joins. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val isNew = pmod(col("doc_id"), lit(3L)) === 0
    val corpusHashes = docs.filter(!isNew)
      .select(sha2(col("text"), 256).as("h")).distinct()
    val batch = docs.filter(isNew)
      .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("h"))
    // survivor per content hash = the smallest doc_id; its lang attributes
    // the survivor (min_by — doc_id is unique, so the pick is total)
    val unseen = batch.join(corpusHashes, Seq("h"), "left_anti")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"),
        expr("min_by(lang, doc_id)").as("lang"))
    unseen.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_new_unique"))
      .join(
        batch.groupBy(col("lang")).agg(count(lit(1)).as("n_batch")),
        Seq("lang"), "right")
      .select(col("lang"), col("n_batch"),
        coalesce(col("n_new_unique"), lit(0L)).as("n_new_unique"))
      .orderBy(col("lang"))
  }

  /** Eval-set decontamination: flag training documents sharing character
    * 8-grams with a held-out eval set — the n-gram-overlap contamination
    * check every LLM training pipeline runs before a corpus ships.
    *
    * Scale shape: the eval side is small by definition, so its DISTINCT
    * shingle set broadcasts; the train side explodes to (doc_id, shingle)
    * rows that hash-join the broadcast WITHOUT shuffling — only the rows
    * that actually match (rare) reach the per-document count aggregate.
    * The train corpus is never collected, never self-joined, and the only
    * shuffle carries matched shingles. Raw substrings are the join keys
    * (not engine-specific hashes), so the oracle mirrors them exactly. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val docs = Par.fanOut(documents(spark, dir))
    val isEval = pmod(col("doc_id"), lit(101L)) === 7
    def shingles(df: DataFrame) = df
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, length(text) - $n), i -> substring(text, i + 1, $n))")))
        .as("shingle"))
    val evalShingles = shingles(docs.filter(isEval))
      .select(col("shingle")).distinct()
    shingles(docs.filter(!isEval))
      .join(broadcast(evalShingles), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy(col("doc_id"))
  }

  /** Content fingerprint (md5-128 truncated to 64 bits hex) per document —
    * the join-key form used for cross-corpus dedup. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"))
      .orderBy(col("doc_id"))

  /** CROSS-DOCUMENT repeated-span detection — the windowed-fingerprint
    * kernel of exact-substring deduplication (the method behind
    * suffix-array corpus dedup, approximated at Spark scale the way
    * production pipelines do: fixed W-token windows at stride S, rolling
    * over every document, duplicated window = duplicated span). Distinct
    * from [[dedupExact]] (whole-doc) and [[intradocDedup]] (within one
    * doc): this finds the boilerplate/quotation/license-block mass that
    * repeats ACROSS documents without the documents being near-dups —
    * the spans doc-level MinHash provably misses.
    *
    * Output is the occurrence-count histogram of window fingerprints
    * (n_occ → how many distinct fingerprints occur n_occ times, and how
    * many of those span >1 document) — the measurement that sizes an
    * exact-substring dedup pass before running it. Docs shorter than W
    * tokens carry no window (documented; oracle identical).
    *
    * Scale shape: per-row explode bounded by tokens/S per doc, then ONE
    * hash aggregate on the 60-bit fingerprint (map-side partials; keys
    * are uniform hashes, so no skew and no salting needed) and a
    * bounded-cardinality histogram rollup. At 100 TB this is the
    * canonical two-level aggregation — nothing driver-side, nothing
    * quadratic, shuffle ∝ distinct windows. */
  def spanDedup(spark: SparkSession, dir: String, w: Int = 20,
                stride: Int = 5): DataFrame = {
    val fps = Par.fanOut(documents(spark, dir))
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(toks) - $w, $stride), st ->
           |  substring(md5(array_join(slice(toks, st + 1, $w), ' ')), 1, 15))"""
          .stripMargin)).as("fp"))
    fps
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("doc_id")).as("ndocs"))
      .groupBy(col("cnt").as("n_occ"))
      .agg(count(lit(1)).as("n_fp"),
        count(when(col("ndocs") > 1, lit(1))).as("n_crossdoc_fp"))
      .orderBy(col("n_occ"))
  }

  /** Cross-document exact-substring EXCISION — the removal counterpart of
    * [[spanDedup]] (which only histograms the repeated spans): the
    * deduplicate-text-datasets pass that keeps ONE canonical occurrence
    * of every cross-document repeated span and cuts the rest, so
    * boilerplate/license blocks stop dominating the training mix.
    *
    * Rule, shared verbatim by the oracle: a `w`-token window (stride
    * `stride`) is excisable iff its fingerprint occurs in MORE THAN ONE
    * document (within-doc-only repeats are [[intradocDedup]]'s job); the
    * canonical kept occurrence is the (doc_id, start)-minimum instance;
    * every other instance marks its token range [start, start+w) for
    * removal. Overlapping marked ranges inside a doc merge
    * (gaps-and-islands) before counting, so stride < w never
    * double-counts. Emits the per-source excision budget — the number a
    * pipeline owner reads before committing to the cut.
    *
    * Scale shape: window enumeration is a per-row explode bounded by
    * tokens/stride; canonical marking is ONE grouped AGGREGATE per
    * fingerprint (lexicographic min(struct(doc_id, st)) = the canonical
    * instance; min/max doc_id = the cross-doc test) joined back to the
    * instances — deliberately NOT a per-fp window: fingerprints are
    * uniform across DISTINCT spans, but the operator's whole point is
    * that one boilerplate span repeats across millions of documents, and
    * each such hot span would be a single window partition (one task
    * sorting all its occurrences — the r14 verdict's skew watch item).
    * The aggregate carries O(1) state per fp through map-side partials
    * no matter how hot the span, and the join-back probe side streams
    * (no per-key state). Interval merge is ONE shuffle on doc_id
    * (windows bounded by doc length) feeding the island rollup; the
    * final per-source agg is map-side partial. Nothing quadratic, no
    * skew, payload text never shuffles — the shape survives 100 TB
    * unchanged. [[AlgoEquivalenceSpec]] pins this aggregate form to the
    * definitional row_number-window form on the same corpus. */
  def spanExcise(spark: SparkSession, dir: String, w: Int = 20,
                 stride: Int = 5): DataFrame = {
    val docs = Par.fanOut(documents(spark, dir))
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), col("source"), size(col("toks")).cast("long").as("n_toks"),
        col("toks"))
    val inst = docs.filter(col("n_toks") >= w)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(toks) - $w, $stride), st -> struct(
           |  CAST(st AS BIGINT) AS st,
           |  substring(md5(array_join(slice(toks, st + 1, $w), ' ')), 1, 15) AS fp))"""
          .stripMargin)).as("i"))
      .select(col("doc_id"), col("i.st").as("st"), col("i.fp").as("fp"))
    // O(1)-state-per-fp canonical marking: (doc_id, st) is unique within
    // a fingerprint's instances, so the lexicographic struct minimum IS
    // the row_number()=1 instance of the definitional ORDER BY doc_id, st
    // — without ever materializing a hot fingerprint as one sort partition
    val perFp = inst.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("st"))).as("canon"),
        (min(col("doc_id")) =!= max(col("doc_id"))).as("crossdoc"))
    val excise = inst.join(perFp, Seq("fp"))
      .filter(col("crossdoc") &&
        !(col("doc_id") === col("canon.doc_id") && col("st") === col("canon.st")))
      .select(col("doc_id"), col("st"), (col("st") + w).as("en"))
    exciseRollup(docs, excise)
  }

  /** Shared excision tail: gaps-and-islands merge of overlapping [st, en)
    * ranges per doc, then the per-source cut budget. (doc_id, st, en) is
    * unique by construction in every caller (one window per scale per
    * position), so the sort is tie-free and both engines walk identical
    * sequences. Scale shape: ONE shuffle on doc_id, windows bounded by
    * document length, rollup with map-side partials. */
  private def exciseRollup(docs: DataFrame, excise: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("st", "en")
    val merged = excise
      .withColumn("prev_max_en",
        max(col("en")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_max_en").isNull || col("st") > col("prev_max_en"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("en")) - min(col("st"))).as("cut"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cut")).as("toks_cut"), count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"), col("source"), col("n_toks"))
      .join(merged, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("toks_cut")).as("docs_excised"),
        sum(col("n_toks")).as("toks_total"),
        coalesce(sum(col("toks_cut")), lit(0L)).as("toks_cut"),
        coalesce(sum(col("n_spans")), lit(0L)).as("n_spans"))
      .withColumn("cut_ppm", expr("(1000000 * toks_cut) DIV toks_total"))
      .orderBy(col("source"))
  }

  /** MULTI-SCALE exact-substring excision — [[spanExcise]]'s fixed
    * (w=20, stride=5) grid provably misses repeats that are SHORTER than
    * w or long-but-misaligned to the stride (the r14 verdict's gap vs
    * suffix-array dedup à la deduplicate-text-datasets, Lee et al. 2022).
    * This pass runs the same windowed-fingerprint rule at w ∈ {10, 20,
    * 50} over ONE shared tokenization: the w=10 lane catches short
    * boilerplate the 20-grid steps over, the w=50 lane pins long blocks
    * whose interior the short lanes only sample, and all three lanes'
    * excision ranges merge in a single gaps-and-islands pass per doc —
    * so overlapping detections across scales never double-count a token.
    * Canonical-instance and cross-document rules are per (scale, fp),
    * verbatim the single-scale rule.
    *
    * Scale shape: identical to [[spanExcise]] with a ×|scales| constant
    * on the explode (windows share the tokenization — the text splits
    * ONCE); canonical marking stays the O(1)-state aggregate on the
    * (w, fp) key, and the islands merge runs once over the union of all
    * scales' ranges on the same doc_id shuffle. */
  def spanMultiscale(spark: SparkSession, dir: String,
                     scales: Seq[Int] = Seq(10, 20, 50),
                     stride: Int = 5): DataFrame = {
    val ws = scales.sorted
    val docs = Par.fanOut(documents(spark, dir))
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), col("source"), size(col("toks")).cast("long").as("n_toks"),
        col("toks"))
    val lanes = ws.map(w =>
      s"""CASE WHEN size(toks) >= $w THEN
         |  transform(sequence(0, size(toks) - $w, $stride), st -> struct(
         |    CAST($w AS BIGINT) AS w,
         |    CAST(st AS BIGINT) AS st,
         |    substring(md5(array_join(slice(toks, st + 1, $w), ' ')), 1, 15) AS fp))
         |ELSE CAST(array() AS array<struct<w: bigint, st: bigint, fp: string>>)
         |END""".stripMargin).mkString("concat(", ",\n", ")")
    val inst = docs.filter(col("n_toks") >= ws.head)
      .select(col("doc_id"), explode(expr(lanes)).as("i"))
      .select(col("doc_id"), col("i.w").as("w"), col("i.st").as("st"),
        col("i.fp").as("fp"))
    val perFp = inst.groupBy(col("w"), col("fp"))
      .agg(min(struct(col("doc_id"), col("st"))).as("canon"),
        (min(col("doc_id")) =!= max(col("doc_id"))).as("crossdoc"))
    val excise = inst.join(perFp, Seq("w", "fp"))
      .filter(col("crossdoc") &&
        !(col("doc_id") === col("canon.doc_id") && col("st") === col("canon.st")))
      .select(col("doc_id"), col("st"), (col("st") + col("w")).as("en"))
    exciseRollup(docs, excise)
  }

  /** URL canonicalization dedup — the CommonCrawl-style pass that
    * collapses surface variants of one page before fetch/dedup budgets
    * are spent: strip query strings and fragments, strip the `www.`
    * host prefix, lowercase. Each doc synthesizes a RAW url whose messy
    * variance is driven by doc_id (uppercase host on %5, www on %4, a
    * utm query on %3==1, a fragment on %3==2) while the CANONICAL page
    * identity is doc_id DIV 3 — so consecutive doc triples are the same
    * page in three disguises, and the engine's string canonicalization
    * must rediscover exactly that arithmetic. Emits the per-host dedup
    * budget: raw urls, canonical pages, duplicates removed, largest
    * variant group.
    *
    * Scale shape: canonicalization is a per-row projection; the dedup is
    * a two-level aggregate (canonical-key groups, then host rollup) —
    * both shuffles on uniform keys with map-side partials, no
    * countDistinct expansion. The oracle derives the SAME numbers from
    * the closed-form id arithmetic, never running the string pipeline —
    * an independent derivation, not a replay. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val k = expr("doc_id DIV 3") // integral, not the `/` double division
    val rawUrl = concat(lit("https://"),
      when(pmod(col("doc_id"), lit(4L)) === 0L, lit("www.")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5L)) === 0L, lit("SITE")).otherwise(lit("site")),
      pmod(k, lit(13L)).cast("string"),
      lit(".example."),
      when(pmod(k, lit(2L)) === 0L, lit("com")).otherwise(lit("net")),
      lit("/corpus/page"), k.cast("string"), lit(".html"),
      when(pmod(col("doc_id"), lit(3L)) === 1L,
        concat(lit("?utm_source=feed&cid="), col("doc_id").cast("string")))
        .when(pmod(col("doc_id"), lit(3L)) === 2L,
          concat(lit("#sec"), pmod(col("doc_id"), lit(7L)).cast("string")))
        .otherwise(lit("")))
    val canon = lower(regexp_replace(
      regexp_replace(rawUrl, "[?#].*$", ""), "^https://www\\.", "https://"))
    val groups = documents(spark, dir)
      .select(canon.as("canonical"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("host", regexp_extract(col("canonical"), "^https://([^/]+)/", 1))
    groups
      .groupBy(col("host"))
      .agg(sum(col("cnt")).as("n_raw"),
        count(lit(1)).as("n_canonical"),
        (sum(col("cnt")) - count(lit(1))).as("n_dupes_removed"),
        max(col("cnt")).as("max_group"))
      .orderBy(col("host"))
  }

  /** Denylist redaction — the PII/content-scrubbing pass of a training
    * pipeline (emails, phone numbers, banned terms get masked before the
    * corpus ships). On the synthetic vocabulary the denylist is two corpus
    * terms; in production it is the same replace-chain over regex classes.
    * Occurrence counts come from exact length arithmetic (the
    * replace-and-measure identity), so the oracle mirrors every value.
    * Scale shape: pure per-row projection + one map-side-partial rollup —
    * nothing here changes between 500 rows and 100 TB. */
  def redactDenylist(spark: SparkSession, dir: String): DataFrame = {
    val red = expr("replace(replace(text, 'customer', '<MASKED>'), 'vector', '<MASKED>')")
    val hits = expr(
      "(length(text) - length(replace(text, 'customer', ''))) DIV 8" +
      " + (length(text) - length(replace(text, 'vector', ''))) DIV 6").cast("long")
    documents(spark, dir)
      .withColumn("red", red)
      .withColumn("hits", hits)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("hits") > 0, lit(1))).as("docs_hit"),
        sum(col("hits")).as("total_hits"),
        sum(length(col("red"))).as("sum_chars_redacted"))
      .orderBy(col("source"))
  }

  /** Sliding-window document chunking — the context-budget splitter every
    * embedding/RAG/training pipeline runs (chunk 50 tokens, stride 40 →
    * 10-token overlap). Chunk starts come from an explicit integer
    * `sequence(0, n-1, stride)` explode, so Spark and the oracle enumerate
    * identical chunk sets; the rollup checks chunk counts, full-chunk
    * counts and total chunk tokens per source. Scale shape: per-row
    * explode (fan-out factor n/stride, bounded by document length) then
    * one rollup with map-side partials — no shuffle carries text. */
  def chunkDocs(spark: SparkSession, dir: String, chunk: Int = 50, stride: Int = 40): DataFrame =
    Par.fanOut(documents(spark, dir))
      .withColumn("n", size(split(col("text"), " ")))
      .select(col("source"), col("doc_id"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      .withColumn("chunk_tokens", least(lit(chunk), col("n") - col("start")))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        count(when(col("chunk_tokens") === chunk, lit(1))).as("n_full"),
        sum(col("chunk_tokens")).as("sum_chunk_tokens"))
      .orderBy(col("source"))

  /** TF-IDF keyword extraction: the single highest-scoring term per
    * document — the metadata-tagging pass that labels each training
    * document with its most distinctive token. IDF enters as the exact
    * integer `(n_docs * 1e6) DIV df` (monotone in the real idf, so the
    * argmax is the same keyword a float idf would pick, without either
    * engine touching a logarithm), and ties break lexicographically.
    *
    * Scale shape: the tf and df aggregates both take map-side partials;
    * the keyword pick is a row_number window partitioned by doc_id — fully
    * parallel, no global sort; the corpus size joins in as a scalar
    * subquery (never a driver read, never a 1-row BNLJ). */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Par.fanOut(documents(spark, dir))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    // eager checkpoint (r18): `tf` feeds BOTH the df cascade and the
    // score join, and the subtrees do not collapse — the tokenize +
    // explode + tf-partial pass ran TWICE (measured: the operator's two
    // top stages, ~1.4 s wall combined at sf0.1). The materialized
    // relation is the compact (doc, term, tf) counts, strictly smaller
    // than the corpus.
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // df cascades from tf (each (doc, term) row is one containing doc) —
    // the token explode runs ONCE and every later aggregate reads a
    // strictly smaller relation
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // raw scan, not the fanned `docs` (see topTerms): the fanOut
    // repartition costs more than the 5000-row count it feeds
    val nDocs = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
      documents(spark, dir).agg(countDistinct(col("doc_id")).as("n_docs")))
    val scored = tf.join(dfreq, "term")
      .withColumn("n_docs", nDocs)
      // integer DIV keeps both engines in exact arithmetic; the argmax is
      // unchanged vs the float idf because x -> (C*1e6) DIV x is monotone
      .withColumn("idf_micro", expr("(n_docs * 1000000) DIV df"))
      .withColumn("score", col("tf") * col("idf_micro"))
    // widenDenseBy: the argmax window's input is compact (doc, term,
    // counts) rows — AQE coalesces its exchange to 1 task; hash on the
    // window's own key replaces that exchange at session width
    Par.widenDenseBy(scored, col("doc_id"))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rank") === 1)
      .select(col("doc_id"), col("term").as("keyword"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model document scoring — the fluency-style quality
    * filter: train conditional bigram frequencies over the corpus itself,
    * then score every document by the summed conditional probability of
    * its bigrams. Probabilities stay in exact integer micros
    * (`(1e6 * c(w1,w2)) DIV c(w1 as prefix)`), so Spark and DuckDB agree
    * bit-for-bit with no logarithm or float division anywhere; the
    * low-quality flag compares `sum_p_micros < threshold * n_bigrams` in
    * integers (algebraically the mean-probability cut).
    *
    * Scale shape: bigrams come from a shuffle-free per-row array transform
    * (no window, no self-join); the three aggregates (per-doc bigram
    * counts, corpus bigram counts, corpus prefix counts) all take map-side
    * partials; the LM lookup is a hash equi join on the bigram key. In
    * production the LM table would be vocabulary-pruned and broadcast —
    * the shuffle equi join here is the always-safe plan when it is not. */
  def lmBigramScore(spark: SparkSession, dir: String,
                    thresholdMicros: Long = 33000L): DataFrame = {
    // zip_with over two shifted slices, NOT transform(sequence(...),
    // i -> l[i]): the indexed-lambda form re-evaluates the array operand
    // per element access (O(tokens²) per document — measured 10× slower
    // at sf0.1); the slice/zip form walks each array once. Empty/1-token
    // docs need no guard: slice length greatest(n-1, 0) is already [].
    val bg = Par.fanOut(documents(spark, dir))
      .withColumn("l", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(l, 1, greatest(size(l) - 1, 0)), " +
        "slice(l, 2, greatest(size(l) - 1, 0)), (x, y) -> struct(x AS w1, y AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    // eager checkpoint (r18): `perDoc` feeds both the LM cascade
    // (cb → cu) and the final score join — without a cut the zip_with
    // bigram explode over the corpus runs TWICE (the tfidfKeywords
    // measurement, same shape). Compact (doc, w1, w2, k) counts.
    val perDoc = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // the corpus counts CASCADE from perDoc (cb = Σk, cu = Σcb): the
    // expensive array-transform explode runs ONCE, and each subsequent
    // aggregate reads a strictly smaller relation
    val cb = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("cb"))
    val cu = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val lm = cb.join(cu, "w1")
      .withColumn("p_micro", expr("(1000000 * cb) DIV cu"))
    perDoc.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("p_micro")).as("sum_p_micros"))
      .withColumn("low_quality",
        col("sum_p_micros") < col("n_bigrams") * lit(thresholdMicros))
      .orderBy(col("doc_id"))
  }

  /** Quota-based source mixing — the fixed-budget companion to the
    * rate-based [[stratifiedSample]]: take at most `quota` documents per
    * source, chosen by a deterministic hash order (md5 of the doc id, a
    * string both engines hash identically), and report what each source
    * contributed to the mix. This is the op that assembles a training mix
    * ("30 docs from every source") from an unbalanced corpus.
    *
    * Scale shape: built on the bounded-state [[graft.exprs.TopKAgg]]
    * rather than a per-source `row_number` window — a window must shuffle
    * and SORT every document of a source through ONE task (with a handful
    * of sources at 100 TB that serializes the corpus through ≤|sources|
    * reducers), while `topk_agg` carries ≤2·quota pairs of state per
    * source with map-side partials, so only |sources|·quota fixed-width
    * pairs ever shuffle. The kept doc ids then come back via a broadcast
    * join against the corpus (inner, so the join output is the quota·
    * |sources| picked rows, never the corpus). Order key: the md5 hash's
    * first 15 hex chars as a 60-bit integer (lexicographic order over
    * lowercase hex == numeric order, so the oracle ranks by
    * `substring(h,1,15)` — same comparator), ties by doc_id. */
  def sourceMix(spark: SparkSession, dir: String, quota: Int = 10): DataFrame = {
    val docs = documents(spark, dir)
      .withColumn("h", md5(col("doc_id").cast("string")))
    // 60-bit numeric prefix of the md5: orders identically to the hex
    // string; negated so topk_agg's "highest score" picks the SMALLEST h
    val scored = docs.withColumn("neg_h60",
      -expr("CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT)"))
    val picks = scored.groupBy(col("source"))
      .agg(graft.functions.topk_agg(col("doc_id"), col("neg_h60"), quota)
        .as("pairs"))
      .select(explode(col("pairs.key")).as("doc_id"))
    docs.join(broadcast(picks), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_taken"),
        sum(col("n_chars")).as("sum_chars_taken"),
        min(col("h")).as("first_pick_hash"))
      .orderBy(col("source"))
  }

  /** Temperature-based mixture weights (the T5/LLaMA data-mixing law:
    * sampling weight ∝ n^α with α < 1, upweighting small sources so the
    * mix isn't dominated by the largest crawl) at α = 1/2, computed
    * integer-exact: tickets = ⌊1000·√n⌋ per source — IEEE sqrt is
    * CORRECTLY rounded (unlike libm trig), so both engines floor the
    * identical double and no ROUND funnel is needed — then
    * mix_ppm = (10⁶·tickets) DIV Σtickets in pure integer arithmetic.
    * Emitted alongside the α=1 share for the contrast the operator
    * exists to create.
    *
    * Scale shape: one counting aggregate on source (map-side partials);
    * the normalization runs on the bounded source relation (an
    * unpartitioned window over ≤|sources| rows, not data). */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("tickets", floor(lit(1000.0) * sqrt(col("n_docs"))).cast("long"))
      .withColumn("mix_ppm",
        expr("(1000000 * tickets) DIV sum(tickets) OVER ()"))
      .withColumn("flat_ppm",
        expr("(1000000 * n_docs) DIV sum(n_docs) OVER ()"))
      .select(col("source"), col("n_docs"), col("tickets"),
        col("mix_ppm"), col("flat_ppm"))
      .orderBy(col("source"))
  }

  /** T5-style span-corruption accounting — the pretraining masking op:
    * each token is masked by a DETERMINISTIC cross-engine criterion
    * (md5(doc_id:pos) 2-hex-char prefix < '28' ≈ 15.6% — md5 is the one
    * hash both engines compute identically, the sourceMix device), and
    * consecutive masked tokens merge into SPANS (the unit T5 replaces
    * with a single sentinel). Reports per source: tokens, masked tokens,
    * span count, masked character mass — the numbers that size a
    * span-corruption objective over a corpus.
    *
    * Scale shape: one token explode with per-row hashing (map-side), one
    * per-doc window for span starts (partitioned by doc, bounded by doc
    * length), one bounded-key rollup. */
  def spanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Par.fanOut(documents(spark, dir))
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "t")))
      .withColumn("pos", col("pos0") + 1)  // 1-based, matching generate_subscripts
      .filter(col("t") =!= "")
      .withColumn("masked",
        substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string"))), 1, 2) < "28")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .withColumn("prev", lag(col("masked"), 1).over(byDoc))
      .withColumn("span_start",
        when(col("masked") && (col("prev").isNull || !col("prev")), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
        sum(col("span_start")).as("n_spans"),
        sum(when(col("masked"), length(col("t")).cast("long")).otherwise(0L))
          .as("masked_chars"))
      .orderBy(col("source"))
  }

  /** Blocked fuzzy join — the entity-resolution/record-linkage shape:
    * candidate pairs form ONLY inside a blocking key (language ×
    * token-count decile), then exact Levenshtein distance over a fixed
    * 60-char prefix decides the match. Complements the set-based
    * near-dup family (minhash/simhash/Jaccard) with the EDIT-distance
    * metric those cannot express (transpositions, small in-word edits).
    *
    * Scale shape: one hash equi join on the blocking key — never an
    * all-pairs join. Block keys have bounded CARDINALITY (lang ×
    * decile), so block SIZE grows with the corpus; each block is first
    * sampled down to `capPerBlock` docs by the deterministic md5 order
    * (bounded-state [[graft.exprs.TopKAgg]] + broadcast pick-back, the
    * [[minhashAudit]]/[[sourceMix]] device), bounding candidate volume
    * at Σ cap² — constant once blocks saturate. The Levenshtein kernel
    * (O(60²) ints) runs only on candidates. Rollup per language:
    * pairs checked, matches, closest distance. */
  def fuzzyJoin(spark: SparkSession, dir: String, maxDist: Int = 15,
                capPerBlock: Int = FuzzyJoinCap): DataFrame = {
    val d0 = Par.fanOut(documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 60).as("pre"),
        expr("CAST(size(split(text, ' ')) AS BIGINT) DIV 10").as("tb"))
    val picks = d0
      .select(col("doc_id"), col("lang"), col("tb"),
        (-expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
          .as("neg_h60"))
      .groupBy(col("lang"), col("tb"))
      .agg(graft.functions.topk_agg(col("doc_id"), col("neg_h60"), capPerBlock)
        .as("pairs"))
      .select(explode(col("pairs.key")).as("doc_id"))
    val d = d0.join(broadcast(picks), Seq("doc_id"))
    val a = d.select(col("lang"), col("tb"), col("doc_id").as("a_id"), col("pre").as("a_pre"))
    val b = d.select(col("lang"), col("tb"), col("doc_id").as("b_id"), col("pre").as("b_pre"))
    a.join(b, Seq("lang", "tb"))
      .filter(col("b_id") > col("a_id"))
      .withColumn("dist", levenshtein(col("a_pre"), col("b_pre")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("dist") <= maxDist, 1)).as("n_matches"),
        min(col("dist")).as("min_dist"))
      .orderBy(col("lang"))
  }

  /** Corpus drift detection — the distribution-shift gate between an
    * incoming source and a reference corpus (here `src0`): each source's
    * term distribution is quantized to exact integer micro-frequencies
    * (`(tf·1e6) DIV N_source` — scale-invariant, so counts never overflow
    * however large the corpus) and the drift score is the L1 distance
    * Σ|p_s − p_ref| over the term union. 0 ⇒ identical distribution
    * (src0 scores 0 against itself — the built-in sanity row);
    * 2,000,000 ⇒ disjoint vocabularies.
    *
    * Scale shape: one token explode → (source, term) aggregate with
    * partials; the reference distribution is a vocabulary-sized relation
    * that broadcast-joins; terms present only in the reference contribute
    * through one subtraction (1e6·Σp_ref(shared) tracked in the same
    * aggregate), so no anti-join materializes the missing-term set. */
  def corpusDrift(spark: SparkSession, dir: String, refSource: String = "src0"): DataFrame = {
    val toks = Par.fanOut(documents(spark, dir))
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val totals = tf.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val p = tf.join(totals, "source")
      .select(col("source"), col("term"), expr("(c * 1000000) DIV n").as("p"))
    val ref = p.filter(col("source") === refSource)
      .select(col("term"), col("p").as("p_ref"))
    val refMass = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
      ref.agg(sum(col("p_ref")).as("m")))
    p.join(broadcast(ref), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        count(col("p_ref")).as("shared_terms"),
        sum(abs(col("p") - coalesce(col("p_ref"), lit(0L)))).as("l1_shared"),
        sum(coalesce(col("p_ref"), lit(0L))).as("ref_mass_shared"))
      // ref-only terms contribute their full reference mass
      .withColumn("drift_micros",
        col("l1_shared") + (refMass - col("ref_mass_shared")))
      .select(col("source"), col("n_terms"), col("shared_terms"), col("drift_micros"))
      .orderBy(col("source"))
  }

  /** Vocabulary coverage — the tokenizer-prep audit: rank terms by corpus
    * frequency and report each of the top-V terms' cumulative share of
    * all tokens in exact integer micros (`(cum·1e6) DIV N`). Answers "how
    * big must the vocab be for X% coverage" before a BPE train pass.
    *
    * Scale shape: the explode feeds ONE aggregate with partials; the
    * ranking window runs over the aggregated vocabulary relation —
    * bounded by |vocab|, not corpus size (the single-partition window is
    * over thousands of rows at any corpus scale; a truly huge vocab
    * would swap in the salted two-level top-k of windowTopK). */
  def vocabCoverage(spark: SparkSession, dir: String, topV: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Par.fanOut(documents(spark, dir))
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nTotal = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
      tf.agg(sum(col("c")).as("n")))
    val byFreq = Window.orderBy(col("c").desc, col("term"))
    tf.withColumn("rank", row_number().over(byFreq))
      .withColumn("cum", sum(col("c")).over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rank") <= topV)
      .withColumn("n_total", nTotal)
      .withColumn("cum_cover_micros", expr("(cum * 1000000) DIV n_total"))
      .select(col("rank"), col("term"), col("c"), col("cum_cover_micros"))
      .orderBy(col("rank"))
  }

  /** Filter-cascade accounting — the per-gate survival report every
    * production corpus pipeline publishes (how many documents each
    * quality gate dropped, cumulatively): ingest → minimum length →
    * language allowlist → stopword-density floor → exact dedup. All four
    * gate decisions are computed as cumulative boolean flags in ONE pass
    * (no per-stage re-filtering jobs); the only shuffles are the dedup
    * window on the content key and the single-row global rollup with
    * map-side partials — at 100 TB the window key would be a content
    * hash rather than the raw text, which changes bytes shuffled, not
    * the plan. The stopword gate compares by integer cross-multiply
    * (20·n_stop ≥ n_tokens, i.e. density ≥ 0.05) so no float ever forms.
    * Gate parameters are fixture-calibrated so every stage drops real
    * documents at every scale factor. */
  def filterCascade(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = Seq("the", "of", "and", "a", "to", "in", "is", "on", "for", "with")
    val flagged = Par.fanOut(documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars")))
      .withColumn("s1", col("n_chars") >= 150)
      .withColumn("s2", col("s1") && col("lang").isin("en", "es", "de", "fr"))
      .withColumn("ntok",
        length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
      .withColumn("nstop", size(expr(
        s"filter(split(text, ' '), t -> t IN (${stops.map(s => s"'$s'").mkString(",")}))")))
      .withColumn("s3", col("s2") && (col("nstop") * 20 >= col("ntok")))
      // exact dedup among gate-3 survivors: first doc_id of each text wins
      // (failed rows partition separately and never steal a survivor's slot)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("text"), col("s3")).orderBy(col("doc_id"))))
      .withColumn("s4", col("s3") && col("rn") === 1)
    def kept(c: String) = sum(when(col(c), 1L).otherwise(0L))
    flagged
      .agg(count(lit(1)).as("n0"), kept("s1").as("n1"), kept("s2").as("n2"),
        kept("s3").as("n3"), kept("s4").as("n4"))
      .select(expr(
        """stack(5,
          |  0, 'ingest',           n0, CAST(0 AS BIGINT),
          |  1, 'min_length',       n1, n0 - n1,
          |  2, 'lang_allowlist',   n2, n1 - n2,
          |  3, 'stopword_density', n3, n2 - n3,
          |  4, 'exact_dedup',      n4, n3 - n4
          |) AS (stage, gate, n_kept, n_dropped)""".stripMargin))
      .orderBy(col("stage"))
  }

  /** Regex-class PII scrubbing — the structured cousin of
    * [[redactDenylist]]: where the denylist masks literal terms, this pass
    * masks whole CHARACTER CLASSES (emails, dotted-quad IPs, phone
    * extensions) with typed placeholder tokens, the standard
    * pre-training privacy scrub. The synthetic corpus carries no PII, so
    * deterministic spans are derived from doc_id (emails on even ids, IPs
    * on multiples of 3, phones on multiples of 5 — leaving genuinely
    * clean docs) and appended before the scrub; the operator itself never
    * looks at how the text was made.
    *
    * Patterns are deliberately RE2∩java.util.regex common ground
    * (character classes, non-capturing alternation — no lookaround, no
    * backrefs), so the DuckDB oracle replays the exact same automaton.
    * Scale shape: pure per-row projection (three regex passes + three
    * match counts) then one map-side-partial rollup — nothing changes
    * between 500 rows and 100 TB. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      when(pmod(col("doc_id"), lit(2L)) === 0L,
        concat(lit(" contact u"), col("doc_id").cast("string"), lit("@mail"),
          pmod(col("doc_id"), lit(7L)).cast("string"), lit(".com")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3L)) === 0L,
        concat(lit(" ip 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
          lit(".0."), pmod(col("doc_id"), lit(100L)).cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5L)) === 0L, lit(" tel 555-0142"))
        .otherwise(lit("")))
    val emailPat = "[a-z0-9]+@[a-z0-9]+\\.(?:com|org)"
    val ipPat = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
    val phonePat = "555-[0-9]{4}"
    documents(spark, dir)
      .withColumn("aug", aug)
      .withColumn("n_email",
        size(regexp_extract_all(col("aug"), lit(emailPat), lit(0))).cast("long"))
      .withColumn("n_ip",
        size(regexp_extract_all(col("aug"), lit(ipPat), lit(0))).cast("long"))
      .withColumn("n_phone",
        size(regexp_extract_all(col("aug"), lit(phonePat), lit(0))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("aug"), emailPat, "<EMAIL>"),
            ipPat, "<IP>"),
          phonePat, "<PHONE>"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).as("n_emails"),
        sum(col("n_ip")).as("n_ips"),
        sum(col("n_phone")).as("n_phones"),
        count(when(col("n_email") + col("n_ip") + col("n_phone") === 0L,
          lit(1))).as("docs_clean"),
        sum(length(col("scrubbed"))).as("sum_len_scrubbed"))
      .orderBy(col("source"))
  }

  /** URL parse + host-normalization rollup — the per-domain frequency
    * table every web-corpus pipeline builds (CCNet/RefinedWeb-style
    * domain accounting feeding blocklists and per-domain caps).
    * Deterministic URLs are synthesized from doc_id (13 hosts × 2 TLDs,
    * a www. prefix on every 4th doc); the operator is the regex parse:
    * host extraction, `www.` strip, TLD split, path-depth count. All
    * regexes are RE2∩Java common ground, every output column an exact
    * integer or string. Scale shape: per-row projection + one rollup on
    * the (host, tld) key — the host column is exactly what a 100 TB run
    * would range-partition on. */
  def urlExtract(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"),
      when(pmod(col("doc_id"), lit(4L)) === 0L, lit("www.")).otherwise(lit("")),
      lit("site"), pmod(col("doc_id"), lit(13L)).cast("string"),
      lit(".example."),
      when(pmod(col("doc_id"), lit(2L)) === 0L, lit("com")).otherwise(lit("net")),
      lit("/"), col("source"), lit("/page"), col("doc_id").cast("string"),
      lit(".html"))
    documents(spark, dir)
      .withColumn("url", url)
      .withColumn("raw_host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
      .withColumn("host", regexp_replace(col("raw_host"), "^www\\.", ""))
      .withColumn("tld", regexp_extract(col("host"), "\\.([a-z]+)$", 1))
      .withColumn("path",
        regexp_extract(col("url"), "^https://[^/]+(/.*)$", 1))
      .withColumn("depth", (size(split(col("path"), "/")) - 1).cast("long"))
      .groupBy(col("host"), col("tld"))
      .agg(count(lit(1)).as("n_urls"),
        count(when(col("raw_host").startsWith("www."), lit(1))).as("n_www"),
        sum(col("depth")).as("sum_depth"))
      .orderBy(col("host"))
  }

  /** Intra-document segment dedup — the within-doc repetition REMOVAL
    * pass (the Gopher/C4 "drop duplicated paragraphs" rule) where
    * [[repetition]] only scores it: the document splits into 10-token
    * segments, repeated segments are dropped keeping the first
    * occurrence, and the rollup accounts tokens kept vs chars removed
    * per source. Everything is per-row ARRAY algebra (split → segment →
    * array_distinct) — the dedup never shuffles, because the unit of
    * dedup lives inside one row; only the final rollup aggregates. At
    * 100 TB this is the cheapest pass in the pipeline: one projection,
    * one map-side-partial rollup. Distinctness is measured on exact
    * segment text; counts/char sums are order-invariant, so Spark's
    * first-occurrence array_distinct and the oracle's list_distinct
    * agree regardless of retention order. */
  def intradocDedup(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .withColumn("segs",
        when(size(col("toks")) === 0, expr("CAST(array() AS array<string>)"))
          .otherwise(expr(
            "transform(sequence(0, size(toks) - 1, 10)," +
              " i -> concat_ws(' ', slice(toks, i + 1, 10)))")))
      .withColumn("kept", array_distinct(col("segs")))
      .withColumn("c_tot",
        expr("aggregate(segs, 0L, (a, s) -> a + length(s))"))
      .withColumn("c_kept",
        expr("aggregate(kept, 0L, (a, s) -> a + length(s))"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(size(col("kept")) < size(col("segs")), lit(1)))
          .as("docs_with_dup"),
        sum(size(col("segs")).cast("long")).as("n_segs"),
        sum(size(col("kept")).cast("long")).as("n_kept"),
        sum(col("c_tot") - col("c_kept")).as("chars_removed"))
      .orderBy(col("source"))

  /** BPE merge-candidate statistics — the counting kernel of byte-pair-
    * encoding tokenizer training (Sennrich et al. 2016): the most
    * frequent ADJACENT character pairs inside words, per source, which is
    * exactly the relation each BPE merge round argmaxes over. Full BPE
    * training is inherently sequential (each merge rewrites the corpus);
    * the distributed piece — and the piece worth 100 TB of compute — is
    * this pair-count aggregation, re-run per round on the rewritten
    * corpus. Top-3 per source with lexicographic tie-break keeps the
    * output deterministic.
    *
    * Scale shape: token explode → per-word pair explode (fan-out =
    * word length, bounded) → ONE count shuffle on (source, pair) with
    * map-side partials → a row_number window over the tiny aggregated
    * relation (|sources|×|pairs| ≤ a few thousand rows). */
  def bpePairStats(spark: SparkSession, dir: String, top: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Par.fanOut(documents(spark, dir))
      .select(col("source"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
      .filter(length(col("w")) >= 2)
    val pairs = words
      .select(col("source"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
    pairs.groupBy(col("source"), col("pair")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n").desc, col("pair"))))
      .filter(col("rk") <= top)
      .select(col("source"), col("rk"), col("pair"), col("n"))
      .orderBy(col("source"), col("rk"))
  }

  /** Directional containment join — C(a→b) = |Sa∩Sb| / |Sa| ≥ 0.9 over
    * hashed word-trigram sets: the SUB-DOCUMENT duplication detector
    * ([[setsimJoin]]'s symmetric Jaccard misses a short doc swallowed by
    * a long one; containment is how boilerplate extraction and
    * quote/excerpt dedup are actually phrased). Candidates come from
    * prefix filtering on the PROBE side only (rarest-first global order,
    * prefix length |Sa| − ⌈t·|Sa|⌉ + 1 — complete: if no prefix token
    * hits B then |Sa∩Sb| ≤ ⌈t|Sa|⌉ − 1 < t|Sa|) joined against the FULL
    * inverted index of the contain-side (containment puts no bound on
    * |Sb|, so there is no size filter — the asymmetry is the operator).
    * Exact verify only on candidates; threshold applies to ROUND(c, 4)
    * in both engines.
    *
    * POSITIONAL filter (r16 verdict #1 — the [[setsimJoin]] bound,
    * re-derived for the asymmetric threshold): the index side carries
    * each gram's rank `rn` under the SAME global rarest-first order the
    * prefixes use, so at any shared gram the remaining-suffix bound
    * `1 + min(sz_a − rn_a, sz_b − rn_b)` caps the overlap, and
    * containment ≥ t needs overlap ≥ ⌈t·|Sa|⌉ — one-sided in a, since t
    * bounds nothing about |Sb|. LOSSLESS by the first-shared-gram
    * argument at `setsimJoin`: at the first shared gram no earlier
    * elements are common, so the bound there ≥ the true overlap and a
    * qualifying pair always survives that edge (later shared grams may
    * prune their own edges harmlessly — distinct needs one survivor).
    * Integer arithmetic throughout, the same ⌈t·sz⌉ convention as the
    * prefix length, so the two filters admit exactly the same pairs.
    * This is what bounds the candidate mass under heavy replication:
    * without it, every (prefix gram × full index) hit survives to the
    * distinct — measured 22.1 GB of shuffle spill at the 30× stress
    * point, the regime the setsim positional filter eliminated.
    *
    * Scale shape: token-bucketed candidate join (shuffle keys are 8-byte
    * gram hashes), never all-pairs; the index side is the same inverted
    * list a search engine materializes once — now the RANKED inverted
    * list (one ranking pass shared with the prefix selection; the
    * per-doc rank window is bounded by grams-per-doc, never corpus
    * size). The probe prefix is ~|Sa|/10 tokens at t=0.9, so the join's
    * left side is 10× smaller than the full explode. */
  def containmentJoin(spark: SparkSession, dir: String,
                      threshold: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = Par.fanOut(documents(spark, dir))
      .withColumn("l", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("l")) >= 3)
      // SORTED ascending (r18): the verify's |Sa∩Sb| is a zero-allocation
      // two-pointer merge (sorted_inter_count) instead of
      // size(array_intersect(...))'s per-pair hash-set build — measured
      // 60% of this operator's 30×-stress CPU was array_intersect. The
      // sort costs one O(|S| log |S|) pass per DOCUMENT; the merge saves
      // per-PAIR work, and pairs outnumber documents by orders of
      // magnitude. Set overlap is order-invariant, so results are
      // bit-identical.
      .select(col("doc_id"), array_sort(array_distinct(expr(
        s"transform($trigramArrayExpr, g -> xxhash64(g))")))
        .as("sh"))
      .withColumn("sz", size(col("sh")))
      // SERIALIZED storage (not the deserialized default): the pinned copy
      // is compact hash arrays, evictable to disk block-by-block under
      // pressure — at 100x the corpus the checkpoint holds ~|corpus| longs
      // in the bounded storage pool instead of pinning deserialized rows
      // on the heap (r13 stress measured +571 MB heap at 10x with the
      // default level)
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val freq = sets.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // ONE ranked relation feeds both the probe prefixes (a filter of it)
    // and the full inverted index. It is the expensive part of the
    // positional device — a gram-keyed join plus a per-doc rank sort over
    // the FULL exploded corpus — so it is eagerly checkpointed like
    // `sets`: computed once, read by both self-join sides from serialized
    // evictable blocks (without this the two subtrees each rebuild it —
    // measured 2× the window sorts at the 30× stress point)
    val ranked = sets
      .select(col("doc_id"), col("sz"), explode(col("sh")).as("s"))
      .join(freq, "s")
      .withColumn("rn", row_number().over(byDoc))
      .select(col("s"), col("doc_id"), col("sz"), col("rn"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val prefixes = ranked
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("s"), col("doc_id").as("a_id"),
        col("sz").as("sz_a"), col("rn").as("rn_a"))
    val index = ranked.select(col("s"), col("doc_id").as("b_id"),
      col("sz").as("sz_b"), col("rn").as("rn_b"))
    val cand = prefixes.join(index, "s")
      .filter(col("a_id") =!= col("b_id"))
      // positional bound (scaladoc): overlap ≤ 1 + min(suffix_a, suffix_b)
      // at this shared gram, and a qualifying pair needs ⌈t·sz_a⌉ — pure
      // integer comparison, same ceil convention as the prefix length
      .filter(lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
        ceil(col("sz_a") * threshold))
      .select(col("a_id"), col("b_id"))
      // the pre-verify two-phase distinct looks redundant on paper (the
      // r18 30× probe measured the FINAL agg merging zero cross-task
      // duplicates) but both restructures that tried to drop a phase
      // measured WORSE at 30× and were reverted: the map-side partial agg
      // runs where a pair's edges are co-generated (the probe doc's
      // partition) and crushes the 1.33× raw-edge mass — and the 5.7×
      // edge multiplicity of QUALIFYING pairs — before any exchange or
      // any per-pair verify work ever sees it. Details in
      // OPTIMIZATION_r18.md (dedup-after-verify: 46→59 s; fused
      // keyed-exchange dedup: 46→85 s).
      .distinct()
    // explicit widen (r18): AQE sizes the verify stage by the candidate
    // relation's BYTES (two 8-byte ids per row) and serialized it onto
    // ONE task (measured 0.69 s of the query's 2.9 s), while the stage's
    // real cost is the per-pair merge verify over full trigram sets —
    // three orders of magnitude more work per byte than the repartition
    // that fixes it, at ANY scale (stats-conditional widenDense cannot
    // see this: the optimizer estimate above a join+distinct is the join
    // product, always "large"). Width = defaultParallelism, conf-driven.
    cand.repartition(spark.sparkContext.defaultParallelism)
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha"),
        col("sz").as("na")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .withColumn("containment", round(
        sorted_inter_count(col("sha"), col("shb")).cast("double") /
          col("na").cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The fixed merge table for [[bpeEncode]] — rank-ordered, English-ish
    * bigrams so the merges actually fire on the corpus. Outputs are
    * unique and no merge contains the space boundary token. */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"))

  /** BPE ENCODE — the apply half of the tokenizer loop
    * ([[bpePairStats]] is the train half): normalize (ROOT-locale
    * lowercase, keep `[a-z ]`), split to character tokens, then apply the
    * fixed rank-ordered merge table; each merge is one greedy
    * left-to-right non-overlapping pass. Space stays a token no merge
    * touches, so words never fuse. Per-lang rollup: docs, letter chars,
    * tokens, and the compression ratio as integer ppm (guarded for a
    * letterless lang — zh survives normalization only via embedded Latin).
    *
    * Two correctness devices: (1) for THIS shape of merge list (unique
    * outputs; a merged token never recreates an earlier pair's adjacency,
    * since merging never deletes tokens and only manufactures new longer
    * ones) the sequential per-merge pass equals priority-rank greedy BPE;
    * (2) each pass over delimiter-wrapped text (`⟨t⟩⟨h⟩` → `⟨th⟩`) equals
    * one standard left-to-right string `replace` — which is how the
    * DuckDB oracle replays the encoder exactly, with no UDF on either
    * side. `BpeEncodeProps` pins array-encoder == replace-chain on
    * adversarial inputs (overlap runs, identical-pair merges).
    *
    * Scale shape: per-row partition-local encode (the classic corpus
    * tokenization pass), zero shuffle until the ≤|langs| rollup. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = BpeMerges
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text")).as[(Long, String, String)]
      .mapPartitions(_.map { case (_, lang, text) =>
        val norm = normalizeAz(text)
        val toks = applyMerges(norm.map(_.toString).toArray, merges)
        val nSpace = norm.count(_ == ' ')
        (lang, (norm.length - nSpace).toLong, (toks.length - nSpace).toLong)
      })
      .toDF("lang", "n_chars", "n_tokens")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"),
        expr("""CASE WHEN sum(n_tokens) = 0 THEN CAST(0 AS BIGINT)
                ELSE (sum(n_chars) * 1000000) DIV sum(n_tokens) END""")
          .as("chars_per_token_ppm"))
      .orderBy(col("lang"))
  }

  /** ROOT-locale lowercase, then keep only `[a-z ]` (code-unit filter —
    * multi-char lowercasings like İ→i̇ contribute their ASCII parts,
    * matching the oracle's regexp). */
  private[ops] def normalizeAz(text: String): String = {
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || c == ' ') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** One greedy left-to-right non-overlapping pass per merge, in rank
    * order — the array form of the oracle's replace chain. */
  private[ops] def applyMerges(initial: Array[String],
                               merges: Seq[(String, String)]): Array[String] = {
    var toks = initial
    merges.foreach { case (a, b) =>
      val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += toks(i); i += 1 }
      }
      toks = out.toArray
    }
    toks
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_encode" -> (bpeEncode _),
    "q_containment_join" -> ((s, d) => containmentJoin(s, d)),
    "q_bpe_pair_stats" -> ((s, d) => bpePairStats(s, d)),
    "q_pii_scrub" -> (piiScrub _),
    "q_url_extract" -> (urlExtract _),
    "q_intradoc_dedup" -> (intradocDedup _),
    "q_filter_cascade" -> (filterCascade _),
    "q_dedup_exact" -> (dedupExact _),
    "q_corpus_drift" -> ((s, d) => corpusDrift(s, d)),
    "q_vocab_coverage" -> ((s, d) => vocabCoverage(s, d)),
    "q_fuzzy_join" -> ((s, d) => fuzzyJoin(s, d)),
    "q_dedup_minhash" -> ((s, d) => dedupMinhash(s, d)),
    "q_minhash_audit" -> ((s, d) => minhashAudit(s, d)),
    "q_dedup_simhash" -> ((s, d) => dedupSimhash(s, d)),
    "q_jaccard_tokens" -> (jaccardTokens _),
    "q_text_stats" -> (textStats _),
    "q_token_regex" -> (tokenRegex _),
    "q_ngram_explode" -> ((s, d) => ngramExplode(s, d)),
    "q_lang_id" -> (langId _),
    "q_quality_score" -> (qualityScore _),
    "q_fingerprint" -> (fingerprint _),
    "q_span_dedup" -> ((s, d) => spanDedup(s, d)),
    "q_span_excise" -> ((s, d) => spanExcise(s, d)),
    "q_span_multiscale" -> ((s, d) => spanMultiscale(s, d)),
    "q_url_dedup" -> (urlDedup _),
    "q_repetition" -> (repetition _),
    "q_stopword_ratio" -> (stopwordRatio _),
    "q_dedup_clusters" -> ((s, d) => dedupClusters(s, d)),
    "q_dedup_keep_best" -> (dedupKeepBest _),
    "q_train_split" -> (trainSplit _),
    "q_epoch_shuffle" -> ((s, d) => epochShuffle(s, d)),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_top_terms" -> ((s, d) => topTerms(s, d)),
    "q_heavy_hitters" -> ((s, d) => heavyHitters(s, d)),
    "q_weighted_sample" -> (weightedSample _),
    "q_pack_sequences" -> ((s, d) => packSequences(s, d)),
    "q_pack_sequences_sharded" -> ((s, d) => packSequencesSharded(s, d)),
    "q_decontaminate" -> ((s, d) => decontaminate(s, d)),
    "q_dedup_incremental" -> (dedupIncremental _),
    "q_redact_denylist" -> (redactDenylist _),
    "q_chunk_docs" -> ((s, d) => chunkDocs(s, d)),
    "q_tfidf_keywords" -> (tfidfKeywords _),
    "q_lm_bigram_score" -> ((s, d) => lmBigramScore(s, d)),
    "q_source_mix" -> ((s, d) => sourceMix(s, d)),
    "q_temperature_mix" -> (temperatureMix _),
    "q_span_corrupt" -> (spanCorrupt _),
    "q_domain_cap" -> ((s, d) => domainCap(s, d)),
    "q_span_dup" -> (spanDup _),
    "q_setsim_join" -> ((s, d) => setsimJoin(s, d)),
    "q_token_diversity" -> (tokenDiversity _),
    "q_bm25" -> (bm25 _),
    "q_hapax" -> (hapaxRate _),
    "q_zipf_octaves" -> (zipfOctaves _),
    "q_readability" -> (readability _),
  )

  /** Shared oracle SQL prefix: the exact >= 0.7 n-gram-Jaccard pair
    * relation, brute-forced (hashed 5-gram shingle sets, size-ratio
    * prefilter, exact intersect). Both the minhash and the clusters
    * oracles consume the SAME relation — one string keeps them in sync —
    * and the filter applies to ROUND(j, 4), exactly like the Spark
    * pipeline, so a boundary pair in [0.69995, 0.7) cannot split the
    * engines. MATERIALIZED: the clusters oracle reads it twice. */
  private val pairsCteSql: String =
    """WITH RECURSIVE d AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN length(text) >= 5 THEN
      |      list_distinct(list_transform(range(length(text)-4),
      |        i -> hash(substr(text, CAST(i+1 AS INT), 5))))
      |    WHEN length(text) > 0 THEN [hash(text)] ELSE [] END AS sh
      |  FROM documents),
      |s AS (SELECT doc_id, sh, len(sh) AS n FROM d),
      |p AS MATERIALIZED (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n AS na, b.n AS nb,
      |         len(list_intersect(a.sh, b.sh)) AS inter
      |  FROM s a JOIN s b ON b.doc_id > a.doc_id
      |    AND least(a.n, b.n) >= CAST(ceil(0.7 * greatest(a.n, b.n)) AS BIGINT)),
      |pairs AS MATERIALIZED (
      |  SELECT a_id, b_id,
      |         ROUND(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 4) AS jaccard
      |  FROM p
      |  WHERE ROUND(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 4) >= 0.7)""".stripMargin

  /** The oracle's replace-chain form of [[bpeEncode]]: wrap each kept
    * character in ⟨⟩ delimiters (no shared separator chars, so one
    * left-to-right `replace` per merge is exhaustive), chain the merges
    * in rank order, count remaining ⟨ tokens. Generated from the SAME
    * [[BpeMerges]] list, so engine and oracle can never drift. */
  private def bpeEncodeOracleSql: String = {
    val chain = BpeMerges.foldLeft(
      "regexp_replace(norm, '(.)', '⟨\\1⟩', 'g')") {
      case (acc, (a, b)) => s"replace($acc, '⟨$a⟩⟨$b⟩', '⟨$a$b⟩')"
    }
    s"""WITH d AS (
       |  SELECT lang, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS norm
       |  FROM documents),
       |e AS (
       |  SELECT lang,
       |    length(replace(norm, ' ', '')) AS n_chars,
       |    length(norm) - length(replace(norm, ' ', '')) AS n_space,
       |    $chain AS enc
       |  FROM d),
       |t AS (
       |  SELECT lang, n_chars,
       |    (length(enc) - length(replace(enc, '⟨', ''))) - n_space AS n_tokens
       |  FROM e)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(CASE WHEN sum(n_tokens) = 0 THEN 0
       |       ELSE (sum(n_chars) * 1000000) // sum(n_tokens) END AS BIGINT)
       |    AS chars_per_token_ppm
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_bpe_encode" -> bpeEncodeOracleSql,
    // Containment over hashed trigram sets is hash-invariant (same
    // argument as the setsim oracle): DuckDB's hash() replaces xxhash64
    // with negligible collision odds on this gram universe. The brute
    // force is gram-bucketed (join on the gram, never doc×doc), so the
    // oracle's own cost stays bounded by Σ df².
    "q_containment_join" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(greatest(len(l) - 2, 0)),
        |    i -> hash(l[CAST(i + 1 AS INT)] || ' ' || l[CAST(i + 2 AS INT)]
        |              || ' ' || l[CAST(i + 3 AS INT)]))) AS sh
        |  FROM t WHERE len(l) >= 3),
        |s AS (SELECT doc_id, sh, len(sh) AS n FROM d),
        |g AS (SELECT doc_id, n, unnest(sh) AS g FROM s),
        |i AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         any_value(a.n) AS na, count(*) AS inter
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id,
        |       ROUND(CAST(inter AS DOUBLE) / CAST(na AS DOUBLE), 4) AS containment
        |FROM i
        |WHERE ROUND(CAST(inter AS DOUBLE) / CAST(na AS DOUBLE), 4) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,
    "q_bpe_pair_stats" ->
      """WITH w AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents),
        |p AS (
        |  SELECT source,
        |    unnest(list_transform(range(1, length(w)),
        |      i -> substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM w WHERE length(w) >= 2),
        |c AS (SELECT source, pair, count(*) AS n FROM p GROUP BY source, pair),
        |r AS (
        |  SELECT source, pair, n,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, pair)
        |      AS INTEGER) AS rk
        |  FROM c)
        |SELECT source, rk, pair, n FROM r WHERE rk <= 3
        |ORDER BY source, rk""".stripMargin,
    "q_pii_scrub" ->
      """WITH a AS (
        |  SELECT source,
        |    text
        |      || CASE WHEN doc_id % 2 = 0 THEN
        |           ' contact u' || CAST(doc_id AS VARCHAR) || '@mail'
        |             || CAST(doc_id % 7 AS VARCHAR) || '.com'
        |         ELSE '' END
        |      || CASE WHEN doc_id % 3 = 0 THEN
        |           ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |             || CAST(doc_id % 100 AS VARCHAR)
        |         ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0 THEN ' tel 555-0142' ELSE '' END
        |      AS aug
        |  FROM documents),
        |m AS (
        |  SELECT source,
        |    len(regexp_extract_all(aug, '[a-z0-9]+@[a-z0-9]+\.(?:com|org)')) AS n_email,
        |    len(regexp_extract_all(aug, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS n_ip,
        |    len(regexp_extract_all(aug, '555-[0-9]{4}')) AS n_phone,
        |    length(regexp_replace(regexp_replace(regexp_replace(aug,
        |      '[a-z0-9]+@[a-z0-9]+\.(?:com|org)', '<EMAIL>', 'g'),
        |      '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
        |      '555-[0-9]{4}', '<PHONE>', 'g')) AS len_scrubbed
        |  FROM a)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS n_emails,
        |  CAST(sum(n_ip) AS BIGINT) AS n_ips,
        |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
        |  count(CASE WHEN n_email + n_ip + n_phone = 0 THEN 1 END) AS docs_clean,
        |  CAST(sum(len_scrubbed) AS BIGINT) AS sum_len_scrubbed
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q_url_extract" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
        |      || 'site' || CAST(doc_id % 13 AS VARCHAR) || '.example.'
        |      || CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'net' END
        |      || '/' || source || '/page' || CAST(doc_id AS VARCHAR) || '.html'
        |      AS url
        |  FROM documents),
        |p AS (
        |  SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS raw_host,
        |    regexp_replace(regexp_extract(url, '^https://([^/]+)/', 1),
        |                   '^www\.', '') AS host,
        |    regexp_extract(url, '^https://[^/]+(/.*)$', 1) AS path
        |  FROM u)
        |SELECT host, regexp_extract(host, '\.([a-z]+)$', 1) AS tld,
        |  count(*) AS n_urls,
        |  count(CASE WHEN raw_host LIKE 'www.%' THEN 1 END) AS n_www,
        |  CAST(sum(len(string_split(path, '/')) - 1) AS BIGINT) AS sum_depth
        |FROM p GROUP BY host, tld ORDER BY host""".stripMargin,
    "q_intradoc_dedup" ->
      """WITH t AS (
        |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT source,
        |    list_transform(range(0, len(toks), 10),
        |      i -> array_to_string(toks[CAST(i + 1 AS BIGINT):CAST(i + 10 AS BIGINT)], ' ')) AS segs
        |  FROM t),
        |m AS (
        |  SELECT source, len(segs) AS n_seg, len(list_distinct(segs)) AS n_kept,
        |    coalesce(list_sum(list_transform(segs, x -> length(x))), 0) AS c_tot,
        |    coalesce(list_sum(list_transform(list_distinct(segs), x -> length(x))), 0) AS c_kept
        |  FROM s)
        |SELECT source, count(*) AS n_docs,
        |  count(CASE WHEN n_kept < n_seg THEN 1 END) AS docs_with_dup,
        |  CAST(sum(n_seg) AS BIGINT) AS n_segs,
        |  CAST(sum(n_kept) AS BIGINT) AS n_kept,
        |  CAST(sum(c_tot - c_kept) AS BIGINT) AS chars_removed
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q_hapax" ->
      """WITH ps AS (
        |  SELECT source, t, count(*) AS n_in_source FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t != '' GROUP BY source, t),
        |ctf AS (SELECT t, CAST(sum(n_in_source) AS BIGINT) AS tf FROM ps GROUP BY t)
        |SELECT ps.source, count(*) AS n_terms,
        |  count(*) FILTER (WHERE ctf.tf = 1) AS n_hapax,
        |  (1000000 * count(*) FILTER (WHERE ctf.tf = 1)) // count(*) AS hapax_ppm
        |FROM ps JOIN ctf ON ps.t = ctf.t
        |GROUP BY ps.source ORDER BY ps.source""".stripMargin,
    "q_zipf_octaves" ->
      """WITH tf AS (
        |  SELECT t, count(*) AS tf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t != '' GROUP BY t),
        |ranked AS (
        |  SELECT tf, row_number() OVER (ORDER BY tf DESC, t) AS rank FROM tf),
        |tot AS (SELECT coalesce(sum(tf), 0) AS total FROM tf)
        |SELECT CAST(length(bin(rank)) - 1 AS INTEGER) AS octave,
        |  count(*) AS n_types, CAST(sum(tf) AS BIGINT) AS mass,
        |  CAST((1000000 * sum(tf)) // (SELECT total FROM tot) AS BIGINT) AS mass_ppm
        |FROM ranked GROUP BY 1 ORDER BY octave""".stripMargin,
    "q_readability" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS w,
        |    CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS s,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
        |  FROM documents),
        |g AS (
        |  SELECT lang, count(*) AS n_docs, sum(w) AS n_words,
        |         sum(s) AS n_sentences, sum(y) AS n_syllables
        |  FROM d GROUP BY lang)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(n_syllables AS BIGINT) AS n_syllables,
        |  CAST(206835000
        |    - (1015000 * n_words) // greatest(n_sentences, 1)
        |    - (84600000 * n_syllables) // greatest(n_words, 1)
        |  AS BIGINT) AS flesch_micro
        |FROM g ORDER BY lang""".stripMargin,
    "q_token_diversity" ->
      """WITH c AS (
        |  SELECT source, t, count(*) AS n FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t != '' GROUP BY source, t),
        |agg AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |         count(*) AS n_distinct, CAST(sum(n * n) AS BIGINT) AS sq
        |  FROM c GROUP BY source)
        |SELECT source, n_tokens, n_distinct,
        |  CAST((1000000 * (n_tokens * n_tokens - sq))
        |       // (n_tokens * n_tokens) AS BIGINT) AS gini_ppm
        |FROM agg ORDER BY source""".stripMargin,
    "q_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x != '')) AS dl,
        |         string_split(text, ' ') AS toks
        |  FROM documents),
        |stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM d),
        |tok AS (
        |  SELECT doc_id, dl, unnest(toks) AS t FROM d),
        |hit AS (
        |  SELECT doc_id, dl, t, count(*) AS tf FROM tok
        |  WHERE t IN ('spark', 'join', 'merge', 'window', 'data')
        |  GROUP BY doc_id, dl, t),
        |dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM hit GROUP BY t),
        |scored AS (
        |  SELECT h.doc_id,
        |    ln(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - f.df + 0.5)
        |             / (f.df + 0.5))
        |    * (h.tf * 2.2)
        |    / (h.tf + 1.2 * (0.25 + 0.75 * h.dl /
        |        (CAST((SELECT sdl FROM stats) AS DOUBLE)
        |         / CAST((SELECT n FROM stats) AS DOUBLE)))) AS part
        |  FROM hit h JOIN dfreq f ON h.t = f.t)
        |SELECT doc_id, count(*) AS n_terms_hit, round(sum(part), 4) AS bm25
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_domain_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |         ((doc_id % 1000000007) * 2654435761) % 1000000 AS h
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
        |              AS INTEGER) AS rk
        |  FROM h)
        |SELECT source, rk, doc_id, n_chars FROM r
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "q_corpus_drift" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |t AS (SELECT source, term FROM toks WHERE term <> ''),
        |tf AS (SELECT source, term, count(*) AS c FROM t GROUP BY 1, 2),
        |totals AS (SELECT source, sum(c) AS n FROM tf GROUP BY 1),
        |p AS (
        |  SELECT tf.source, tf.term, (tf.c * 1000000) // totals.n AS p
        |  FROM tf JOIN totals USING (source)),
        |ref AS (SELECT term, p AS p_ref FROM p WHERE source = 'src0'),
        |m AS (SELECT sum(p_ref) AS refmass FROM ref)
        |SELECT p.source, count(*) AS n_terms,
        |       count(ref.p_ref) AS shared_terms,
        |       CAST(sum(abs(p.p - coalesce(ref.p_ref, 0)))
        |            + (SELECT refmass FROM m)
        |            - sum(coalesce(ref.p_ref, 0)) AS BIGINT) AS drift_micros
        |FROM p LEFT JOIN ref USING (term)
        |GROUP BY p.source ORDER BY p.source""".stripMargin,
    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT term, count(*) AS c FROM toks WHERE term <> '' GROUP BY 1),
        |n AS (SELECT sum(c) AS n_total FROM tf),
        |r AS (
        |  SELECT term, c,
        |         row_number() OVER (ORDER BY c DESC, term) AS rank,
        |         sum(c) OVER (ORDER BY c DESC, term
        |                      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tf)
        |SELECT CAST(rank AS INTEGER) AS rank, term, CAST(c AS BIGINT) AS c,
        |       CAST((cum * 1000000) // (SELECT n_total FROM n) AS BIGINT)
        |         AS cum_cover_micros
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "q_fuzzy_join" ->
      s"""WITH d0 AS (
        |  SELECT doc_id, lang, substr(text, 1, 60) AS pre,
        |         len(string_split(text, ' ')) // 10 AS tb
        |  FROM documents),
        |c AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang, tb
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id)
        |    AS rk
        |  FROM d0),
        |d AS (SELECT doc_id, lang, pre, tb FROM c WHERE rk <= $FuzzyJoinCap),
        |p AS (
        |  SELECT a.lang, levenshtein(a.pre, b.pre) AS dist
        |  FROM d a JOIN d b
        |    ON a.lang = b.lang AND a.tb = b.tb AND b.doc_id > a.doc_id)
        |SELECT lang, count(*) AS n_pairs,
        |       count(CASE WHEN dist <= 15 THEN 1 END) AS n_matches,
        |       CAST(min(dist) AS INTEGER) AS min_dist
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,
    "q_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |         tf.tf * ((n.n_docs * 1000000) // dfreq.df) AS score
        |  FROM tf JOIN dfreq USING (term), n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term AS keyword, CAST(tf AS BIGINT) AS tf,
        |       CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
        |FROM ranked WHERE rank = 1 ORDER BY doc_id""".stripMargin,
    "q_lm_bigram_score" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
        |  FROM t, unnest(range(1, len(l))) AS u(i)),
        |per_doc AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY 1),
        |lm AS (
        |  SELECT cb.w1, cb.w2, (1000000 * cb.cb) // cu.cu AS p_micro
        |  FROM cb JOIN cu USING (w1))
        |SELECT per_doc.doc_id,
        |       CAST(sum(per_doc.k) AS BIGINT) AS n_bigrams,
        |       CAST(sum(per_doc.k * lm.p_micro) AS BIGINT) AS sum_p_micros,
        |       CAST(sum(per_doc.k * lm.p_micro) AS BIGINT)
        |         < CAST(sum(per_doc.k) AS BIGINT) * 33000 AS low_quality
        |FROM per_doc JOIN lm USING (w1, w2)
        |GROUP BY per_doc.doc_id ORDER BY per_doc.doc_id""".stripMargin,
    "q_source_mix" ->
      """WITH ranked AS (
        |  SELECT source, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 15),
        |                    doc_id) AS rank
        |  FROM documents)
        |SELECT source, count(*) AS n_taken,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars_taken,
        |       min(h) AS first_pick_hash
        |FROM ranked WHERE rank <= 10
        |GROUP BY source ORDER BY source""".stripMargin,
    // md5 is the engine-shared hash (the sourceMix device); positions are
    // 1-based on both sides (posexplode+1 == generate_subscripts)
    // grams replayed via unnest(range(...)) + substr — DuckDB's substr
    // counts characters, matching ExplodeNgrams' code-point positions
    "q_ngram_explode" ->
      """WITH p AS (
        |  SELECT lang, text,
        |    unnest(range(1, CAST(greatest(length(text) - 1, 1) AS BIGINT))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT lang, substr(text, CAST(i AS INTEGER), 3) AS gram FROM p),
        |c AS (
        |  SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, gram, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram)
        |      AS INTEGER) AS rk
        |  FROM c)
        |SELECT lang, gram, cnt, rk FROM r WHERE rk <= 15
        |ORDER BY lang, rk""".stripMargin,
    "q_span_corrupt" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT doc_id, source, generate_subscripts(toks, 1) AS pos,
        |         unnest(toks) AS tok
        |  FROM t),
        |f AS (
        |  SELECT doc_id, source, pos, tok,
        |    substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 2)
        |      < '28' AS masked
        |  FROM p WHERE tok != ''),
        |w AS (
        |  SELECT source, masked, length(tok) AS lt,
        |    CASE WHEN masked AND NOT coalesce(
        |           lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
        |         THEN 1 ELSE 0 END AS span_start
        |  FROM f)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(sum(span_start) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN masked THEN lt ELSE 0 END) AS BIGINT) AS masked_chars
        |FROM w GROUP BY source ORDER BY source""".stripMargin,
    // IEEE sqrt is correctly rounded -> floor(1000*sqrt(n)) is
    // engine-identical; the rest is integer arithmetic (HUGEINT lanes)
    "q_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |t AS (
        |  SELECT source, n_docs,
        |         CAST(floor(1000 * sqrt(n_docs)) AS BIGINT) AS tickets
        |  FROM c)
        |SELECT source, n_docs, tickets,
        |  CAST((1000000 * tickets) // (SELECT sum(tickets) FROM t) AS BIGINT) AS mix_ppm,
        |  CAST((1000000 * n_docs) // (SELECT sum(n_docs) FROM t) AS BIGINT) AS flat_ppm
        |FROM t ORDER BY source""".stripMargin,
    "q_redact_denylist" ->
      """WITH r AS (
        |  SELECT source,
        |         replace(replace(text, 'customer', '<MASKED>'), 'vector', '<MASKED>') AS red,
        |         (length(text) - length(replace(text, 'customer', ''))) // 8
        |           + (length(text) - length(replace(text, 'vector', ''))) // 6 AS hits
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       count(CASE WHEN hits > 0 THEN 1 END) AS docs_hit,
        |       CAST(sum(hits) AS BIGINT) AS total_hits,
        |       CAST(sum(length(red)) AS BIGINT) AS sum_chars_redacted
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q_chunk_docs" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |s AS (
        |  SELECT source, doc_id, n, unnest(generate_series(0, n - 1, 40)) AS start
        |  FROM t),
        |c AS (
        |  SELECT source, doc_id, least(50, n - start) AS chunk_tokens FROM s)
        |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |       count(CASE WHEN chunk_tokens = 50 THEN 1 END) AS n_full,
        |       CAST(sum(chunk_tokens) AS BIGINT) AS sum_chunk_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // Full DuckDB mirror of the SimHash pipeline — the FNV-1a shingle
    // hash is replayed in SQL with HUGEINT mod-2^64 arithmetic (xor only
    // ever touches the low byte, so it lowers to BIGINT xor on h % 256),
    // the 64 bit-majority votes via nested list lambdas, chunk banding /
    // bucket caps / pair generation exactly as the Spark plan, and
    // hamming = bit_count(xor()) after mapping the unsigned hash back to
    // the signed BIGINT Spark carries. Verified bit-identical to the
    // Scala kernel (TextHash.fnv1a/simhash64) on the sf0.01 corpus.
    // SCOPE: exact for BMP text only — the JVM kernel iterates UTF-16
    // units while substr()/ascii()/length() are codepoint-based, so a
    // supplementary-plane character (one codepoint, two UTF-16 units)
    // would shift shingle windows and byte-folds between the engines.
    // The corpora are ASCII; a non-BMP corpus needs a surrogate-aware
    // rewrite of this mirror.
    "q_dedup_simhash" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 5 THEN
        |      list_transform(range(CAST(length(text)-4 AS BIGINT)), i -> substr(text, CAST(i+1 AS INT), 5))
        |    WHEN length(text) > 0 THEN [text] ELSE [] END AS sh
        |  FROM documents),
        |hashes AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(sh, s ->
        |      list_reduce(
        |        list_prepend(14695981039346656037::HUGEINT,
        |          flatten(list_transform(range(CAST(length(s) AS BIGINT)),
        |            j -> [ascii(substr(s, CAST(j+1 AS INT), 1)) % 256,
        |                  ascii(substr(s, CAST(j+1 AS INT), 1)) // 256]))),
        |        (h, c) -> ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
        |                   * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT))) AS hs
        |  FROM raw),
        |sims AS (
        |  SELECT doc_id,
        |    coalesce(list_sum(list_transform(range(64), b ->
        |      CASE WHEN 2 * coalesce(list_sum(list_transform(hs,
        |             h -> CAST((h // CAST(power(2, b) AS HUGEINT)) % 2 AS BIGINT))), 0) > len(hs)
        |      THEN CAST(power(2, b) AS HUGEINT) ELSE 0::HUGEINT END)), 0::HUGEINT) AS simu
        |  FROM hashes),
        |chunks AS (
        |  SELECT doc_id, simu, c.c AS chunk_idx,
        |    CAST((simu // CAST(power(2, c.c * 16) AS HUGEINT)) % 65536 AS BIGINT) AS chunk
        |  FROM sims, (SELECT unnest(range(4)) AS c) c),
        |ok_buckets AS (
        |  SELECT chunk_idx, chunk FROM chunks
        |  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 128),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.simu AS sa, b.simu AS sb
        |  FROM chunks a
        |  JOIN chunks b ON b.chunk_idx = a.chunk_idx AND b.chunk = a.chunk AND b.doc_id > a.doc_id
        |  JOIN ok_buckets o ON o.chunk_idx = a.chunk_idx AND o.chunk = a.chunk)
        |SELECT a_id, b_id,
        |  CAST(bit_count(xor(
        |    CAST(CASE WHEN sa >= 9223372036854775808::HUGEINT THEN sa - 18446744073709551616::HUGEINT ELSE sa END AS BIGINT),
        |    CAST(CASE WHEN sb >= 9223372036854775808::HUGEINT THEN sb - 18446744073709551616::HUGEINT ELSE sb END AS BIGINT)
        |  )) AS INTEGER) AS hamming
        |FROM cand
        |WHERE bit_count(xor(
        |    CAST(CASE WHEN sa >= 9223372036854775808::HUGEINT THEN sa - 18446744073709551616::HUGEINT ELSE sa END AS BIGINT),
        |    CAST(CASE WHEN sb >= 9223372036854775808::HUGEINT THEN sb - 18446744073709551616::HUGEINT ELSE sb END AS BIGINT))) <= 6
        |ORDER BY a_id, b_id""".stripMargin,
    // Replays the identical md5 permutation draw, word-3-gram shingles,
    // (lang, decile) blocks AND the per-block 32-doc md5-ranked sample:
    // row_number over (md5(doc_id) 15-hex prefix, doc_id) mirrors
    // topk_agg's (score desc = hash asc, key asc) total order exactly —
    // fixed-width lowercase hex compares lexicographically == numerically
    "q_minhash_audit" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |    lang || ':' || CAST(len(toks) // 10 AS VARCHAR) AS blk
        |  FROM d WHERE len(toks) >= 3),
        |c AS (
        |  SELECT doc_id, toks, blk,
        |    row_number() OVER (PARTITION BY blk
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id)
        |      AS rk
        |  FROM s),
        |k AS (
        |  SELECT doc_id, blk,
        |    list_distinct(list_transform(range(len(toks) - 2),
        |      i -> toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |           || '_' || toks[CAST(i+3 AS INT)])) AS sh
        |  FROM c WHERE rk <= $MinhashAuditCap),
        |g AS (
        |  SELECT doc_id, blk, sh,
        |    list_transform(range(8), i ->
        |      list_min(list_transform(sh, t ->
        |        substr(md5(CAST(i AS VARCHAR) || ':' || t), 1, 15)))) AS sig
        |  FROM k),
        |p AS (
        |  SELECT a.sh AS sha, b.sh AS shb, a.sig AS siga, b.sig AS sigb
        |  FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |e AS (
        |  SELECT len(list_intersect(sha, shb)) AS inter,
        |    len(sha) + len(shb) - len(list_intersect(sha, shb)) AS uni,
        |    len(list_filter(range(8),
        |      i -> siga[CAST(i+1 AS INT)] = sigb[CAST(i+1 AS INT)])) AS matches
        |  FROM p),
        |f AS (
        |  SELECT (1000000 * inter) // uni AS exact_ppm, matches,
        |         matches * 125000 AS est_ppm
        |  FROM e)
        |SELECT CAST(abs(est_ppm - exact_ppm) // 15625 AS INT) AS err_bucket,
        |       count(*) AS n_pairs,
        |       CAST(sum(exact_ppm) AS BIGINT) AS sum_exact_ppm,
        |       CAST(sum(matches) AS BIGINT) AS sum_matches
        |FROM f GROUP BY err_bucket ORDER BY err_bucket""".stripMargin,
    // 100% recall on the gate corpus, so candidate pruning loses nothing
    // and both engines produce identical pairs + jaccard values.
    "q_dedup_minhash" ->
      (pairsCteSql + "\n" +
        """SELECT a_id, b_id, jaccard FROM pairs
          |ORDER BY a_id, b_id""".stripMargin),
    // Prefix filtering is lossless, so the oracle is the exact
    // brute-forced >= 0.7 token-trigram relation (hashed grams — Jaccard
    // over distinct sets is hash-invariant; same trick as pairsCteSql),
    // with the identical size-ratio prefilter and ROUND(j,4) boundary law.
    "q_setsim_join" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(greatest(len(l) - 2, 0)),
        |    i -> hash(l[CAST(i + 1 AS INT)] || ' ' || l[CAST(i + 2 AS INT)]
        |              || ' ' || l[CAST(i + 3 AS INT)]))) AS sh
        |  FROM t WHERE len(l) >= 3),
        |s AS (SELECT doc_id, sh, len(sh) AS n FROM d),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n AS na, b.n AS nb,
        |         len(list_intersect(a.sh, b.sh)) AS inter
        |  FROM s a JOIN s b ON b.doc_id > a.doc_id
        |    AND least(a.n, b.n) >= CAST(ceil(0.7 * greatest(a.n, b.n)) AS BIGINT))
        |SELECT a_id, b_id,
        |       ROUND(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 4)
        |         AS jaccard
        |FROM p
        |WHERE ROUND(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 4) >= 0.7
        |ORDER BY a_id, b_id""".stripMargin,
    "q_span_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(greatest(len(l) - 2, 0)),
        |    i -> l[CAST(i + 1 AS INT)] || ' ' || l[CAST(i + 2 AS INT)]
        |         || ' ' || l[CAST(i + 3 AS INT)]))) AS g
        |  FROM toks),
        |df AS (SELECT g, count(*) AS n_docs_with FROM grams GROUP BY g)
        |SELECT grams.doc_id, count(*) AS n_grams,
        |  count(*) FILTER (WHERE df.n_docs_with >= 2) AS n_dup,
        |  (1000000 * count(*) FILTER (WHERE df.n_docs_with >= 2)) // count(*)
        |    AS dup_ppm
        |FROM grams JOIN df ON grams.g = df.g
        |GROUP BY grams.doc_id ORDER BY grams.doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q_jaccard_tokens" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(list_distinct(string_split(a.text,' ')),
        |                           list_distinct(string_split(b.text,' ')))) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(string_split(a.text,' '),
        |                                     string_split(b.text,' ')))) AS DOUBLE) AS jaccard
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY a_id""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS sum_tokens,
        |  CAST(min(length(text) - length(replace(text, ' ', '')) + 1) AS INTEGER) AS min_tokens,
        |  CAST(max(length(text) - length(replace(text, ' ', '')) + 1) AS INTEGER) AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_filter_cascade" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    (n_chars >= 150) AS s1,
        |    (n_chars >= 150 AND lang IN ('en','es','de','fr')) AS s2,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS ntok,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','of','and','a','to','in','is','on','for','with'))) AS nstop
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, s1, s2, (s2 AND 20 * nstop >= ntok) AS s3 FROM d),
        |r AS (
        |  SELECT s1, s2, s3,
        |    (s3 AND row_number() OVER (PARTITION BY text, s3 ORDER BY doc_id) = 1) AS s4
        |  FROM f),
        |t AS (
        |  SELECT count(*) AS n0,
        |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM r)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INTEGER) AS stage, 'ingest' AS gate,
        |         n0 AS n_kept, CAST(0 AS BIGINT) AS n_dropped FROM t
        |  UNION ALL SELECT 1, 'min_length', n1, n0 - n1 FROM t
        |  UNION ALL SELECT 2, 'lang_allowlist', n2, n1 - n2 FROM t
        |  UNION ALL SELECT 3, 'stopword_density', n3, n2 - n3 FROM t
        |  UNION ALL SELECT 4, 'exact_dedup', n4, n3 - n4 FROM t)
        |ORDER BY stage""".stripMargin,
    "q_token_regex" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS alpha_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS num_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[^a-z0-9 ]'))) AS BIGINT) AS sym_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_lang_id" ->
      """WITH scored AS (
        |  SELECT lang,
        |    CAST((length(text) - length(replace(text, 'data', ''))) / 4 AS INTEGER) AS c_data,
        |    CAST((length(text) - length(replace(text, 'query', ''))) / 5 AS INTEGER) AS c_query,
        |    CAST((length(text) - length(replace(text, 'table', ''))) / 5 AS INTEGER) AS c_table
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN c_data >= c_query AND c_data >= c_table THEN 'data-ish'
        |       WHEN c_query >= c_table THEN 'query-ish'
        |       ELSE 'table-ish' END AS pred,
        |  count(*) AS n
        |FROM scored GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id,
        |  0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)) +
        |  0.5 * least((CAST(length(text) AS DOUBLE) -
        |               (CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) - 1)) /
        |              CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) / 10.0, 1.0)
        |  AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, substr(md5(text), 1, 16) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identical window enumeration: W=20, stride 5, md5 60-bit prefix
    "q_span_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |         substr(md5(array_to_string(toks[st + 1 : st + 20], ' ')), 1, 15) AS fp
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, len(toks) - 20 + 1, 5)) AS st
        |        FROM t WHERE len(toks) >= 20)),
        |g AS (SELECT fp, count(*) AS cnt, count(DISTINCT doc_id) AS ndocs
        |      FROM w GROUP BY fp)
        |SELECT CAST(cnt AS BIGINT) AS n_occ, count(*) AS n_fp,
        |       count(CASE WHEN ndocs > 1 THEN 1 END) AS n_crossdoc_fp
        |FROM g GROUP BY cnt ORDER BY n_occ""".stripMargin,
    // verbatim replay of the excision rule: same window enumeration as
    // q_span_dedup, canonical = (doc_id, st)-minimum via row_number,
    // cross-doc via min/max doc over the fp partition, islands via the
    // identical tie-free prev-max walk
    "q_span_excise" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, source, len(toks) AS n_toks, toks FROM t),
        |w AS (
        |  SELECT doc_id, st,
        |         substr(md5(array_to_string(toks[st + 1 : st + 20], ' ')), 1, 15) AS fp
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, len(toks) - 20 + 1, 5)) AS st
        |        FROM d WHERE n_toks >= 20)),
        |m AS (
        |  SELECT doc_id, st,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, st) AS rn,
        |    min(doc_id) OVER (PARTITION BY fp) <> max(doc_id) OVER (PARTITION BY fp)
        |      AS crossdoc
        |  FROM w),
        |e AS (SELECT doc_id, st, st + 20 AS en FROM m WHERE crossdoc AND rn > 1),
        |i AS (
        |  SELECT doc_id, st, en,
        |    CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id ORDER BY st, en
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS ni
        |  FROM e),
        |isl AS (SELECT doc_id, st, en,
        |          sum(ni) OVER (PARTITION BY doc_id ORDER BY st, en
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |        FROM i),
        |cut AS (
        |  SELECT doc_id, CAST(sum(mx - mn) AS BIGINT) AS toks_cut,
        |         count(*) AS n_spans
        |  FROM (SELECT doc_id, island, max(en) AS mx, min(st) AS mn
        |        FROM isl GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT d.source, count(*) AS n_docs, count(cut.doc_id) AS docs_excised,
        |  CAST(sum(d.n_toks) AS BIGINT) AS toks_total,
        |  CAST(coalesce(sum(cut.toks_cut), 0) AS BIGINT) AS toks_cut,
        |  CAST(coalesce(sum(cut.n_spans), 0) AS BIGINT) AS n_spans,
        |  CAST((1000000 * coalesce(sum(cut.toks_cut), 0)) // sum(d.n_toks) AS BIGINT)
        |    AS cut_ppm
        |FROM d LEFT JOIN cut ON d.doc_id = cut.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // three-scale replay of the same rule, keyed by (w, fp); the islands
    // merge runs once over the union of all scales' ranges
    "q_span_multiscale" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, source, len(toks) AS n_toks, toks FROM t),
        |wi AS (
        |  SELECT doc_id, CAST(10 AS BIGINT) AS w, st,
        |         substr(md5(array_to_string(toks[st + 1 : st + 10], ' ')), 1, 15) AS fp
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 10 + 1, 5)) AS st
        |        FROM d WHERE n_toks >= 10)
        |  UNION ALL
        |  SELECT doc_id, CAST(20 AS BIGINT) AS w, st,
        |         substr(md5(array_to_string(toks[st + 1 : st + 20], ' ')), 1, 15) AS fp
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 20 + 1, 5)) AS st
        |        FROM d WHERE n_toks >= 20)
        |  UNION ALL
        |  SELECT doc_id, CAST(50 AS BIGINT) AS w, st,
        |         substr(md5(array_to_string(toks[st + 1 : st + 50], ' ')), 1, 15) AS fp
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 50 + 1, 5)) AS st
        |        FROM d WHERE n_toks >= 50)),
        |m AS (
        |  SELECT doc_id, w, st,
        |    row_number() OVER (PARTITION BY w, fp ORDER BY doc_id, st) AS rn,
        |    min(doc_id) OVER (PARTITION BY w, fp)
        |      <> max(doc_id) OVER (PARTITION BY w, fp) AS crossdoc
        |  FROM wi),
        |e AS (SELECT doc_id, st, st + w AS en FROM m WHERE crossdoc AND rn > 1),
        |i AS (
        |  SELECT doc_id, st, en,
        |    CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id ORDER BY st, en
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS ni
        |  FROM e),
        |isl AS (SELECT doc_id, st, en,
        |          sum(ni) OVER (PARTITION BY doc_id ORDER BY st, en
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |        FROM i),
        |cut AS (
        |  SELECT doc_id, CAST(sum(mx - mn) AS BIGINT) AS toks_cut,
        |         count(*) AS n_spans
        |  FROM (SELECT doc_id, island, max(en) AS mx, min(st) AS mn
        |        FROM isl GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT d.source, count(*) AS n_docs, count(cut.doc_id) AS docs_excised,
        |  CAST(sum(d.n_toks) AS BIGINT) AS toks_total,
        |  CAST(coalesce(sum(cut.toks_cut), 0) AS BIGINT) AS toks_cut,
        |  CAST(coalesce(sum(cut.n_spans), 0) AS BIGINT) AS n_spans,
        |  CAST((1000000 * coalesce(sum(cut.toks_cut), 0)) // sum(d.n_toks) AS BIGINT)
        |    AS cut_ppm
        |FROM d LEFT JOIN cut ON d.doc_id = cut.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // INDEPENDENT derivation, not a replay: the oracle never touches the
    // url strings — it recomputes the dedup budget from the id arithmetic
    // the canonical identity was constructed from (page k = doc_id DIV 3,
    // host from k), so an engine canonicalization bug cannot self-confirm
    "q_url_dedup" ->
      """WITH d AS (SELECT doc_id // 3 AS k FROM documents),
        |g AS (SELECT k, count(*) AS cnt FROM d GROUP BY k),
        |h AS (SELECT 'site' || CAST(k % 13 AS VARCHAR) || '.example.' ||
        |        (CASE WHEN k % 2 = 0 THEN 'com' ELSE 'net' END) AS host, cnt
        |      FROM g)
        |SELECT host, CAST(sum(cnt) AS BIGINT) AS n_raw,
        |  count(*) AS n_canonical,
        |  CAST(sum(cnt) - count(*) AS BIGINT) AS n_dupes_removed,
        |  CAST(max(cnt) AS BIGINT) AS max_group
        |FROM h GROUP BY host ORDER BY host""".stripMargin,
    "q_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    greatest(length(text) - 4, 0) AS total,
        |    CAST(len(list_distinct(list_transform(range(greatest(length(text) - 4, 0)),
        |      i -> substr(text, CAST(i + 1 AS INT), 5)))) AS INTEGER) AS n_distinct
        |  FROM documents)
        |SELECT doc_id, CAST(total AS INTEGER) AS total, n_distinct,
        |       1.0 - CAST(n_distinct AS DOUBLE) / CAST(total AS DOUBLE) AS rep_ratio
        |FROM d WHERE total > 0 ORDER BY doc_id""".stripMargin,
    // connected components over the same exact near-dup relation as
    // q_dedup_minhash's oracle (MATERIALIZED: the pair CTE feeds both
    // directions of the edge list), labeled by recursive min-reachability
    // the closure relabeled, joined to documents, argmax by the same
    // (n_chars DESC, doc_id ASC) order via a row_number window
    "q_dedup_keep_best" ->
      (pairsCteSql + ",\n" +
        """e AS (SELECT a_id AS u, b_id AS v FROM pairs
          |      UNION ALL SELECT b_id, a_id FROM pairs),
          |r(u, l) AS (
          |  SELECT DISTINCT u, u FROM e
          |  UNION
          |  SELECT e.v, r.l FROM r JOIN e ON r.u = e.u
          |),
          |cl AS (SELECT u AS doc_id, min(l) AS cluster_rep FROM r GROUP BY u),
          |rk AS (
          |  SELECT cl.cluster_rep, d.doc_id, d.n_chars,
          |    row_number() OVER (PARTITION BY cl.cluster_rep
          |                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
          |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
          |SELECT cluster_rep, count(*) AS n_members,
          |  CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
          |  CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS chars_kept,
          |  CAST(sum(n_chars) - max(CASE WHEN rn = 1 THEN n_chars END)
          |       AS BIGINT) AS chars_removed
          |FROM rk GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin),
    "q_dedup_clusters" ->
      (pairsCteSql + ",\n" +
        """e AS (SELECT a_id AS u, b_id AS v FROM pairs
          |      UNION ALL SELECT b_id, a_id FROM pairs),
          |r(u, l) AS (
          |  SELECT DISTINCT u, u FROM e
          |  UNION
          |  SELECT e.v, r.l FROM r JOIN e ON r.u = e.u
          |)
          |SELECT u AS doc_id, min(l) AS cluster_rep FROM r GROUP BY u
          |ORDER BY doc_id""".stripMargin),
    // inner mod mirrors Spark's pmod (non-negative) — plain % would send
    // every negative doc_id to 'train' while Spark distributes it
    // the affine-permutation replay: same N-count, same 3-prime CASE
    // chain for A, HUGEINT product lane, same floor shard split; checksum
    // mods match Spark's pmod because every operand is non-negative
    "q_epoch_shuffle" ->
      """WITH c AS (SELECT count(*) AS n FROM documents),
        |p AS (SELECT n,
        |        CASE WHEN n % 2654435761 != 0 THEN 2654435761
        |             WHEN n % 2654435789 != 0 THEN 2654435789
        |             ELSE 2654435863 END AS a,
        |        (n + 15) // 16 AS ss FROM c),
        |m AS (
        |  SELECT e.range AS epoch, d.doc_id,
        |    CAST((CAST(d.doc_id AS HUGEINT) * p.a + e.range * 1000003) % p.n
        |         AS BIGINT) AS pos,
        |    p.ss
        |  FROM documents d, range(1, 4) e, p)
        |SELECT CAST(epoch AS BIGINT) AS epoch, pos // ss AS shard,
        |  count(*) AS n_docs,
        |  CAST(min(pos) AS BIGINT) AS min_pos,
        |  CAST(max(pos) AS BIGINT) AS max_pos,
        |  CAST(sum(CAST(doc_id AS HUGEINT)) % 1000000007 AS BIGINT) AS id_checksum,
        |  CAST(sum(CAST(pos AS HUGEINT) * (doc_id % 97)) % 1000000007 AS BIGINT)
        |    AS pairing_checksum
        |FROM m GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin,
    "q_train_split" ->
      """WITH b AS (
        |  SELECT lang,
        |    (((doc_id % 1000000007 + 1000000007) % 1000000007) * 2654435761) % 100 AS bucket
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q_stopword_ratio" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, t -> t IN
        |    ('the','of','and','a','to','in','is','on','for','with'))) AS INTEGER) AS n_stop,
        |  CAST(len(list_filter(toks, t -> t IN
        |    ('the','of','and','a','to','in','is','on','for','with'))) AS DOUBLE) /
        |  CAST(len(toks) AS DOUBLE) AS stop_ratio
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_stratified_sample" ->
      """WITH r AS (
        |  SELECT lang,
        |    CAST(10 + 17 * (row_number() OVER (ORDER BY lang) % 5) AS INTEGER) AS keep_pct
        |  FROM (SELECT DISTINCT lang FROM documents)),
        |b AS (
        |  SELECT lang,
        |    (((doc_id % 1000000007 + 1000000007) % 1000000007) * 2654435761) % 100 AS bucket
        |  FROM documents)
        |SELECT b.lang, r.keep_pct, count(*) AS n_total,
        |       count(CASE WHEN b.bucket < r.keep_pct THEN 1 END) AS n_sampled
        |FROM b JOIN r USING (lang)
        |GROUP BY 1, 2 ORDER BY b.lang""".stripMargin,
    "q_dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, lang, sha256(text) AS h,
        |         (doc_id % 3 + 3) % 3 = 0 AS is_new
        |  FROM documents),
        |corpus AS (SELECT DISTINCT h FROM d WHERE NOT is_new),
        |batch AS (SELECT doc_id, lang, h FROM d WHERE is_new),
        |unseen AS (
        |  SELECT h, min(doc_id) AS keep_id, arg_min(lang, doc_id) AS lang
        |  FROM batch WHERE h NOT IN (SELECT h FROM corpus)
        |  GROUP BY h),
        |nu AS (SELECT lang, count(*) AS n_new_unique FROM unseen GROUP BY lang),
        |nb AS (SELECT lang, count(*) AS n_batch FROM batch GROUP BY lang)
        |SELECT nb.lang, nb.n_batch, COALESCE(nu.n_new_unique, 0) AS n_new_unique
        |FROM nb LEFT JOIN nu ON nb.lang = nu.lang
        |ORDER BY nb.lang""".stripMargin,
    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, (doc_id % 101 + 101) % 101 = 7 AS is_eval,
        |    list_distinct(list_transform(range(length(text) - 7),
        |      i -> substr(text, CAST(i + 1 AS INT), 8))) AS shingles
        |  FROM documents WHERE length(text) >= 8),
        |ev AS (
        |  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE is_eval),
        |tr AS (
        |  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE NOT is_eval)
        |SELECT tr.doc_id, count(*) AS n_overlap
        |FROM tr JOIN ev USING (shingle)
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS toks
        |  FROM documents),
        |c AS (
        |  SELECT source, toks,
        |    sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT source, CAST((cum - toks) // 2048 AS BIGINT) AS seq_id,
        |       count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin,
    "q_pack_sequences_sharded" ->
      """WITH d AS (
        |  SELECT source, doc_id // 200 AS shard, doc_id,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS toks
        |  FROM documents),
        |c AS (
        |  SELECT source, shard, toks,
        |    sum(toks) OVER (PARTITION BY source, shard ORDER BY doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT source, CAST(shard AS BIGINT) AS shard,
        |       CAST((cum - toks) // 2048 AS BIGINT) AS seq_id,
        |       count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1, 2, 3 ORDER BY source, shard, seq_id""".stripMargin,
    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT lang,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
        |    (((doc_id % 1000000007 + 1000000007) % 1000000007) * 2654435761)
        |      % 1000000 AS bucket
        |  FROM documents),
        |w AS (SELECT lang, n_tokens, bucket,
        |        least(n_tokens * 8000, 1000000) AS keep_ppm FROM d)
        |SELECT lang, count(*) AS n_total,
        |       count(CASE WHEN bucket < keep_ppm THEN 1 END) AS n_kept,
        |       CAST(sum(CASE WHEN bucket < keep_ppm THEN n_tokens ELSE 0 END)
        |         AS BIGINT) AS kept_tokens
        |FROM w GROUP BY lang ORDER BY lang""".stripMargin,
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT * FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''),
        |n AS (SELECT count(*) AS total FROM toks)
        |SELECT term, count(*) AS cnt FROM toks
        |GROUP BY term HAVING count(*) * 30 > (SELECT total FROM n)
        |ORDER BY cnt DESC, term""".stripMargin,
    "q_top_terms" ->
      """WITH toks AS (
        |  SELECT * FROM (
        |    SELECT source, doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''),
        |t_tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |t_df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |ranked AS (
        |  SELECT t_tf.source, t_tf.term, t_tf.tf, t_df.df,
        |         CAST(row_number() OVER (PARTITION BY t_tf.source
        |           ORDER BY t_tf.tf DESC, t_tf.term) AS INTEGER) AS rank
        |  FROM t_tf JOIN t_df USING (term)
        |  WHERE t_df.df * 2 <= (SELECT n_docs FROM n))
        |SELECT source, rank, term, tf, df FROM ranked
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
  )
}
