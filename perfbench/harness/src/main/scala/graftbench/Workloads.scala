package graftbench

/** The benchmark's named workloads: fixed query lists over the engine's
  * registry (`graft.SparkEntry.queries`). A run submits them one at a time
  * in an order drawn from its seed, the same order in every pass. */
object Workloads {
  val queries: Map[String, Seq[String]] = Map(
    // The paper's nightly refresh: partitioned JDBC read, the grouped
    // union/intersection/area rollup reprojected 3857 -> 5880, the
    // headerless CSV interchange and the blue-green publish.
    "geo_refresh" -> Seq(
      "q_jdbc_roundtrip", "q_geo_flagship_5880", "q_csv_roundtrip",
      "q_materialize", "q_version_diff"),
    // Spatial join execs (R-tree and grid), predicate kernels, kNN,
    // overlay, CRS and clustering; no union aggregate.
    "spatial_join" -> Seq(
      "q_spatial_join", "q_spatial_dwithin", "q_spatial_dwithin_col",
      "q_spatial_semi", "q_spatial_join_partitioned",
      "q_spatial_dwithin_partitioned", "q_knn_join", "q_knn_join_partitioned",
      "q_areal_interp", "q_overlay", "q_predicates", "q_transform_crs",
      "q_subdivide", "q_dbscan"),
    // Bounded streaming replays plus the text dedup family; no geometry.
    "dedup_ingest" -> Seq(
      "q_stream_dedup", "q_stream_join", "q_stream_session_window",
      "q_stream_late_data", "q_stream_foreach_upsert", "q_stream_file_sink",
      "q_setsim_join", "q_containment_join", "q_dedup_clusters",
      "q_dedup_keep_best", "q_minhash_audit", "q_span_dup", "q_dedup_minhash"))

  def isStream(query: String): Boolean = query.startsWith("q_stream_")

  /** The pass order for `seed`: a permutation of the workload's queries. */
  def order(workload: String, seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(queries(workload))
}
