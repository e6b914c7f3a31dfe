package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 table for the synthetic parcel lattice — the engine's
  * generator-backed source (the DSv2 rung of the extension ladder, next
  * to the expression/rule/strategy rungs in `GraftSparkExtensions`):
  *
  *   spark.read.format("graft.sources.LatticeSource")
  *     .option("regions", 25).option("sites", 2500).option("keepMod", 7)
  *     .load()
  *
  * yields `(r INT, pos INT, x DOUBLE, y DOUBLE)` — region id, site index
  * (those with `pos % keepMod < 3` when keepMod > 0), and the exact
  * integer-meter site coordinates of the fixture lattice
  * (`GeoFixtures.regionX0/Y0` + 1 km pitch), one InputPartition per
  * region.
  *
  * What it demonstrates over a parquet scan:
  *   - SupportsPushDownFilters: predicates on `r` prune whole
  *     PARTITIONS at planning time (r is constant per partition, so
  *     evaluation at partition granularity is exact); pruned regions
  *     never even generate. Accepted `r` filters are CONSUMED (not
  *     returned as residuals): partition-granularity evaluation is
  *     exact for a partition-constant column, and consuming them is
  *     what lets an aggregate above a filtered scan still push down
  *     (Spark only pushes aggregates when no residual Filter remains).
  *   - SupportsPushDownRequiredColumns: the reader materializes only
  *     the pruned schema — `select(count(*))` generates zero field
  *     values per row.
  *   - SupportsPushDownAggregates: COUNT(*) / MIN / MAX over the
  *     generator-closed-form columns (`r`, `pos`), grouped by `r` or
  *     ungrouped, collapse to ONE closed-form summary row per region
  *     partition — zero data rows generated. Grouped-by-`r` pushdown is
  *     COMPLETE (each region lives in exactly one partition, so the
  *     per-partition row IS the final group); ungrouped is partial
  *     (Spark merges the per-partition summaries).
  *   - SupportsPushDownLimit / SupportsPushDownTopN: `LIMIT n` — and
  *     `ORDER BY <asc prefix of (r, pos)> LIMIT n` — cap generation at
  *     n rows PER PARTITION (the generation order is pos-ascending and
  *     r is partition-constant, so the partition-local prefix IS the
  *     partition-local top-n). Both are PARTIAL pushes: Spark keeps the
  *     global Limit / TakeOrderedAndProject, but each reader now emits
  *     at most n rows instead of the whole region.
  *   - SupportsRuntimeV2Filtering: a join's build side can prune
  *     partitions AT RUNTIME (dynamic partition pruning, the DSv2
  *     analogue of `q_bloom_join`'s semi-join reduction) — an IN(r, …)
  *     predicate arriving after the build side executes drops
  *     non-matching regions before any reader opens.
  *
  * At 100 TB the same shape is how a sharded external system (a tile
  * server, a feature store, a range-partitioned KV store) binds into
  * Catalyst: partition-exact pushdown + per-partition readers, no
  * driver materialization anywhere. */
class LatticeSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LatticeSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // properties carries the reader options with their ORIGINAL case;
    // normalize through the same case-insensitive view Spark reads with
    val opts = new CaseInsensitiveStringMap(properties)
    new LatticeTable(
      opts.getOrDefault("regions", "25").toInt,
      opts.getOrDefault("sites", "2500").toInt,
      opts.getOrDefault("keepmod", "0").toInt)
  }
}

object LatticeSource {
  val Schema: StructType = StructType(Seq(
    StructField("r", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  /** Fixture lattice arithmetic — the closed form every oracle replays
    * (see GeoFixtures): 5×5 region grid at 60 km pitch, 1 km site
    * pitch, 50 sites per row. */
  def siteX(r: Int, pos: Int): Double =
    (-6300000L + (r % 5).toLong * 60000L + (pos % 50).toLong * 1000L).toDouble
  def siteY(r: Int, pos: Int): Double =
    (-2000000L + (r / 5).toLong * 60000L + (pos / 50).toLong * 1000L).toDouble

  /** Closed-form admitted-site count for one region: keepMod keeps
    * `pos % keepMod < 3`. */
  def admittedCount(sites: Int, keepMod: Int): Long =
    if (keepMod <= 0) sites.toLong
    else 3L * (sites / keepMod) + math.min(sites % keepMod, 3).toLong

  /** Largest admitted pos (< sites), or -1 when none: 0 is always
    * admitted for sites > 0, so the backward scan is bounded by keepMod
    * steps. */
  def maxAdmittedPos(sites: Int, keepMod: Int): Int = {
    if (sites <= 0) -1
    else if (keepMod <= 0) sites - 1
    else {
      var p = sites - 1
      while (p >= 0 && p % keepMod >= 3) p -= 1
      p
    }
  }

  /** Test observability hook: readers opened since the counter was last
    * reset — lets specs prove runtime filtering pruned partitions
    * BEFORE any reader ran (local mode: executors share the JVM). */
  val readersOpened = new java.util.concurrent.atomic.AtomicLong

  /** Test observability hook: data rows emitted by row-scan readers
    * since last reset (flushed once per reader on close) — lets specs
    * prove a pushed limit capped GENERATION, not just the result. */
  val rowsEmitted = new java.util.concurrent.atomic.AtomicLong
}

private[sources] class LatticeTable(regions: Int, sites: Int, keepMod: Int)
  extends Table with SupportsRead {
  override def name(): String = s"graft_lattice($regions x $sites, keepMod=$keepMod)"
  override def schema(): StructType = LatticeSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LatticeScanBuilder(regions, sites, keepMod)
}

private[sources] class LatticeScanBuilder(regions: Int, sites: Int, keepMod: Int)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = LatticeSource.Schema
  private var pushedAgg: Option[Aggregation] = None
  private var pushedLimit: Option[Int] = None

  /** A filter is accepted iff it constrains column `r` in a shape the
    * per-region pruner evaluates exactly; everything else stays with
    * Spark. Accepted filters are CONSUMED (r is partition-constant, so
    * partition-granularity evaluation is exact) — which is also what
    * lets an aggregate above a filtered scan push down (see class doc). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(LatticeScanBuilder.prunesR)
    filters.filterNot(LatticeScanBuilder.prunesR)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*) / MIN / MAX over the closed-form integer columns (`r`,
    * `pos`), grouped by `r` or ungrouped. `x`/`y` min/max are NOT
    * accepted: their extremum over the keepMod-thinned lattice is not a
    * closed form worth maintaining — Spark computes them from rows.
    *
    * Known Spark interplay, accepted deliberately: a pushed-aggregate
    * scan relation mints FRESH output attributes, which fails
    * V2ScanPartitioningAndOrdering's references.subsetOf check and drops
    * the scan's KeyGroupedPartitioning — so a pushed aggregate's output
    * no longer storage-partition-joins exchange-free. That trade is
    * right at any scale: the pushed plan ships |regions| closed-form
    * summary rows (re-shuffling them is ~free) instead of scanning rows
    * exchange-free. Aggregations the source does NOT accept (sum, x/y
    * extrema) keep the row scan and its KeyGroupedPartitioning, which is
    * what LatticeSourceSpec's SPJ tests exercise. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def isCol(e: org.apache.spark.sql.connector.expressions.Expression,
              name: String): Boolean = e match {
      case n: NamedReference => n.fieldNames.sameElements(Array(name))
      case _ => false
    }
    def intCol(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      isCol(e, "r") || isCol(e, "pos")
    val groupsOk = agg.groupByExpressions.forall(isCol(_, "r")) &&
      agg.groupByExpressions.length <= 1
    val aggsOk = agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => intCol(m.column)
        case m: Max => intCol(m.column)
        case _ => false
      }
    if (groupsOk && aggsOk) { pushedAgg = Some(agg); true } else false
  }

  /** Grouped-by-`r` pushdown is COMPLETE: one region = one partition, so
    * the per-partition summary row IS the final group. Ungrouped stays
    * partial — Spark merges the per-partition summaries. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    agg.groupByExpressions.length == 1 && pushAggregation(agg)

  /** Partial by contract for BOTH limit and top-N (the diamond default
    * needs one explicit pick): Spark keeps the global Limit /
    * TakeOrderedAndProject; the source just stops generating early. */
  override def isPartiallyPushed(): Boolean = true

  /** Plain LIMIT caps generation per partition. Never combined with a
    * pushed aggregate — the summary path already emits <= 1 row. */
  override def pushLimit(l: Int): Boolean =
    pushedAgg.isEmpty && l >= 0 && { pushedLimit = Some(l); true }

  /** ORDER BY <cols> LIMIT n pushes when every sort key is an ASCENDING
    * column drawn from {r, pos}: r is partition-constant and rows
    * generate in pos-ascending order, so under any such ordering the
    * partition-local top-n IS the first n generated rows. (NULLS
    * placement is irrelevant — both columns are non-nullable.) Partial
    * push: Spark's TakeOrderedAndProject still does the global merge. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    val prefixOk = orders.nonEmpty && orders.forall { o =>
      o.direction() == SortDirection.ASCENDING && (o.expression() match {
        case n: NamedReference =>
          n.fieldNames.sameElements(Array("r")) ||
            n.fieldNames.sameElements(Array("pos"))
        case _ => false
      })
    }
    prefixOk && pushLimit(l)
  }

  override def build(): Scan =
    new LatticeScan(regions, sites, keepMod, pushed, required, pushedAgg, pushedLimit)
}

private[sources] object LatticeScanBuilder {
  def prunesR(f: Filter): Boolean = f match {
    case EqualTo("r", _: Integer) => true
    case GreaterThan("r", _: Integer) => true
    case GreaterThanOrEqual("r", _: Integer) => true
    case LessThan("r", _: Integer) => true
    case LessThanOrEqual("r", _: Integer) => true
    case In("r", vs) => vs.forall(_.isInstanceOf[Integer])
    case _ => false
  }

  def admits(f: Filter, r: Int): Boolean = f match {
    case EqualTo("r", v: Integer) => r == v.intValue()
    case GreaterThan("r", v: Integer) => r > v.intValue()
    case GreaterThanOrEqual("r", v: Integer) => r >= v.intValue()
    case LessThan("r", v: Integer) => r < v.intValue()
    case LessThanOrEqual("r", v: Integer) => r <= v.intValue()
    case In("r", vs) => vs.exists { case v: Integer => r == v.intValue(); case _ => false }
    case _ => true
  }
}

private[sources] case class LatticePartition(r: Int, sites: Int, keepMod: Int,
                                             fieldIdx: Array[Int],
                                             limit: Int = Int.MaxValue)
  extends InputPartition with HasPartitionKey {
  /** Each partition holds exactly one region — report it, so Spark's
    * storage-partitioned machinery can line partitions up without a
    * shuffle. */
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](r))
}

/** One closed-form summary row per region — the pushed-aggregation
  * partition. `r = -1` is the empty-global-summary sentinel (all regions
  * statically pruned under an UNGROUPED aggregate: count 0, min/max
  * null — what an aggregate over empty input returns). */
private[sources] case class LatticeAggPartition(r: Int, sites: Int, keepMod: Int,
                                                groupByR: Boolean,
                                                aggSpec: Array[String])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](r))
}

private[sources] class LatticeScan(regions: Int, sites: Int, keepMod: Int,
                                   pushed: Array[Filter], required: StructType,
                                   agg: Option[Aggregation] = None,
                                   limit: Option[Int] = None)
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  /** Compact serializable spec of each pushed aggregate ("count",
    * "min_r", "max_pos", …) — evaluated in the reader. */
  private val aggSpec: Array[String] = agg.map(_.aggregateExpressions.map {
    case _: CountStar => "count"
    case m: Min => s"min_${LatticeScan.colName(m.column)}"
    case m: Max => s"max_${LatticeScan.colName(m.column)}"
    case f => throw new IllegalStateException(s"unpushable aggregate $f")
  }).getOrElse(Array.empty)
  private def groupByR: Boolean = agg.exists(_.groupByExpressions.nonEmpty)

  override def readSchema(): StructType = agg match {
    case None => required
    case Some(_) =>
      // contract: grouping columns first, then one field per aggregate
      val groupFields =
        if (groupByR) Seq(StructField("r", IntegerType, nullable = false)) else Nil
      val aggFields = aggSpec.toSeq.map {
        case "count" => StructField("count_star", LongType, nullable = false)
        case s => StructField(s, IntegerType, nullable = true)
      }
      StructType(groupFields ++ aggFields)
  }

  override def description(): String =
    s"graft_lattice pushed=[${pushed.mkString(", ")}] " +
      s"read=[${readSchema().fieldNames.mkString(",")}]" +
      agg.map(a => s" pushedAgg=[${aggSpec.mkString(",")}" +
        s" groupBy=${if (groupByR) "r" else "<none>"}]").getOrElse("") +
      limit.map(l => s" pushedLimit=$l").getOrElse("")
  override def toBatch: Batch = this

  /** Runtime (DPP) predicates on `r`, applied on top of the planning-time
    * pushed filters. Best-effort by contract: unparseable predicates
    * prune nothing (the join re-evaluates its own condition). */
  @volatile private var runtimeRs: Option[Set[Int]] = None
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("r"))
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val sets = predicates.flatMap(LatticeScan.admittedRs)
    if (sets.nonEmpty) runtimeRs = Some(sets.reduce(_ intersect _))
  }

  private def admittedRegions: Seq[Int] =
    (0 until regions)
      .filter(r => pushed.forall(LatticeScanBuilder.admits(_, r)))
      .filter(r => runtimeRs.forall(_.contains(r)))

  /** The data IS key-grouped by `r` (one region per InputPartition, key
    * reported via [[HasPartitionKey]]): with
    * `spark.sql.sources.v2.bucketing.enabled=true` an aggregation or
    * join keyed on `r` plans with NO Exchange under it — the DSv2
    * storage-partitioned contract (SPARK-37375), the scale device that
    * makes a pre-sharded external system join shuffle-free. An UNGROUPED
    * pushed aggregate has no `r` in its output — partitioning is
    * unknowable, not key-grouped. */
  override def outputPartitioning(): Partitioning = {
    val n = (0 until regions).count(r => pushed.forall(LatticeScanBuilder.admits(_, r)))
    if (agg.isEmpty || groupByR)
      new KeyGroupedPartitioning(Array(Expressions.identity("r")), n)
    else new UnknownPartitioning(math.max(n, 1))
  }

  /** EXACT statistics from the generator's closed forms, reflecting every
    * pushdown the scan accepted (filters → admitted regions, limit →
    * per-partition cap, aggregate → summary-row counts). Catalyst reads
    * these through `DataSourceV2ScanRelation.computeStats`, so a join
    * against a small lattice AUTO-broadcasts under
    * `autoBroadcastJoinThreshold` — without stats a DSv2 relation
    * defaults to `spark.sql.defaultSizeInBytes` (Long.Max) and can NEVER
    * win a broadcast decision. This is the rung that lets the
    * stats-driven spatial routing (SpatialJoinStrategy) and Spark's own
    * join planning see REAL sizes from DSv2 relations. */
  override def estimateStatistics(): Statistics = {
    val nRegions = admittedRegions.size.toLong
    val rows: Long = agg match {
      case Some(_) if groupByR => nRegions
      case Some(_) => 1L
      case None =>
        val perRegion = math.min(
          LatticeSource.admittedCount(sites, keepMod),
          limit.getOrElse(Int.MaxValue).toLong)
        nRegions * perRegion
    }
    val width = math.max(readSchema().defaultSize, 1)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          if (rows > Long.MaxValue / width) Long.MaxValue else rows * width)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = agg match {
    case None =>
      val idx = required.fieldNames.map(LatticeSource.Schema.fieldIndex)
      val cap = limit.getOrElse(Int.MaxValue)
      admittedRegions.map(r =>
        LatticePartition(r, sites, keepMod, idx, cap): InputPartition).toArray
    case Some(_) =>
      val rs = admittedRegions
      if (rs.isEmpty && !groupByR)
        // ungrouped aggregate over zero partitions: one sentinel summary
        // (count 0 / null extrema) so the merged result is SQL-correct
        Array(LatticeAggPartition(-1, sites, keepMod, groupByR, aggSpec))
      else if (rs.isEmpty) Array.empty
      else rs.map(r =>
        LatticeAggPartition(r, sites, keepMod, groupByR, aggSpec): InputPartition)
        .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        LatticeSource.readersOpened.incrementAndGet()
        p match {
          case lp: LatticePartition => new PartitionReader[InternalRow] {
            private var pos = -1
            private var emitted = 0L
            override def next(): Boolean = {
              if (emitted >= lp.limit) return false
              pos += 1
              if (lp.keepMod > 0)
                while (pos < lp.sites && pos % lp.keepMod >= 3) pos += 1
              val has = pos < lp.sites
              if (has) emitted += 1
              has
            }
            override def get(): InternalRow = {
              val vals = lp.fieldIdx.map {
                case 0 => lp.r: Any
                case 1 => pos: Any
                case 2 => LatticeSource.siteX(lp.r, pos): Any
                case 3 => LatticeSource.siteY(lp.r, pos): Any
              }
              new GenericInternalRow(vals.asInstanceOf[Array[Any]])
            }
            // one atomic add per READER, not per row — the counter is
            // test observability, not a hot-path cost
            override def close(): Unit =
              LatticeSource.rowsEmitted.addAndGet(emitted)
          }
          case ap: LatticeAggPartition => new PartitionReader[InternalRow] {
            private var emitted = false
            override def next(): Boolean = !emitted && {
              emitted = true
              // a region with zero admitted sites contributes NO group
              ap.r == -1 || LatticeSource.admittedCount(ap.sites, ap.keepMod) > 0
            }
            override def get(): InternalRow = {
              val empty = ap.r == -1 ||
                LatticeSource.admittedCount(ap.sites, ap.keepMod) == 0
              val n = if (empty) 0L else LatticeSource.admittedCount(ap.sites, ap.keepMod)
              val maxPos = LatticeSource.maxAdmittedPos(ap.sites, ap.keepMod)
              val aggVals: Seq[Any] = ap.aggSpec.toSeq.map {
                case "count" => n: Any
                case "min_r" => if (empty) null else ap.r: Any
                case "max_r" => if (empty) null else ap.r: Any
                case "min_pos" => if (empty) null else 0: Any
                case "max_pos" => if (empty) null else maxPos: Any
                case s => throw new IllegalStateException(s"unknown agg spec $s")
              }
              val vals: Seq[Any] =
                (if (ap.groupByR) Seq(ap.r: Any) else Nil) ++ aggVals
              new GenericInternalRow(vals.toArray)
            }
            override def close(): Unit = ()
          }
        }
      }
    }
}

private[sources] object LatticeScan {
  def colName(e: org.apache.spark.sql.connector.expressions.Expression): String =
    e match {
      case n: NamedReference if n.fieldNames.length == 1 => n.fieldNames()(0)
      case other => throw new IllegalStateException(s"not a column: $other")
    }

  /** Parse a runtime predicate into the admitted `r` set; None = cannot
    * parse (prune nothing). Handles IN(r, lit…) and =(r, lit) — the
    * shapes dynamic partition pruning produces. */
  def admittedRs(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Set[Int]] = {
    type VExpr = org.apache.spark.sql.connector.expressions.Expression
    def lit(e: VExpr): Option[Int] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.dataType == IntegerType =>
        Some(l.value.asInstanceOf[Int])
      case _ => None
    }
    def isR(e: VExpr): Boolean = e match {
      case n: NamedReference => n.fieldNames.sameElements(Array("r"))
      case _ => false
    }
    p.name() match {
      case "IN" if p.children().nonEmpty && isR(p.children()(0)) =>
        val vs = p.children().drop(1).map(lit)
        if (vs.forall(_.isDefined)) Some(vs.flatten.toSet) else None
      case "=" if p.children().length == 2 && isR(p.children()(0)) =>
        lit(p.children()(1)).map(Set(_))
      case "=" if p.children().length == 2 && isR(p.children()(1)) =>
        lit(p.children()(0)).map(Set(_))
      case _ => None
    }
  }
}
