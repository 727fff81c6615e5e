package graftbench

/** Metric names and units, mirrored by BENCHMARK.json. Every run prints all
  * end-to-end metrics (untraced) or all per-layer metrics (traced); a span a
  * workload does not exercise reads 0. */
object Metrics {
  val MB = 1024.0 * 1024.0

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "cpu_s" -> "s",
    "shuffle_write_mb" -> "MB",
    "peak_storage_mb" -> "MB",
    "pair_f1" -> "ratio")

  val ErSpans = Seq("scoring.projected", "scoring.attrs", "blocking.blocks",
    "blocking.pairs", "scoring.score", "clustering.cc")
  val TwoTableSpans = Seq("pipeline.two_table_cold", "pipeline.two_table_rerun")
  val DedupSpans = Seq("q21", "q22").map(q => s"operators.$q")

  val SpanMetrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "shuffle_write_mb" -> "MB", "task_skew" -> "ratio", "rows_out" -> "count")

  val Extras: Seq[(String, String)] = Seq(
    "blocking.blocks.blocks_built" -> "count",
    "blocking.blocks.blocks_dropped" -> "count",
    "blocking.blocks.raw_pair_budget" -> "count",
    "blocking.pairs.distinct_frac" -> "ratio",
    "scoring.score.pairs_scored" -> "count",
    "scoring.score.match_frac" -> "ratio",
    "clustering.cc.iterations" -> "count",
    "pipeline.two_table_cold.bytes_written_mb" -> "MB",
    "pipeline.two_table_rerun.stages_resumed" -> "count",
    "functions.minhash_bands.ns_per_row" -> "ns",
    "functions.jaccard_sorted.ns_per_row" -> "ns",
    "functions.jaro_winkler.ns_per_row" -> "ns",
    "functions.levenshtein_sim.ns_per_row" -> "ns",
    "jvm.gc_s" -> "s",
    "trace.overhead_s" -> "s")

  val PerLayer: Seq[(String, String)] =
    (ErSpans ++ TwoTableSpans ++ DedupSpans).flatMap(s =>
      SpanMetrics.map { case (m, u) => s"$s.$m" -> u }) ++ Extras
}
