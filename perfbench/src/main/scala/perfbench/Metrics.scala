package perfbench

/** Metric names and units, in the order they are printed. These must
  * match `BENCHMARK.json`. */
object Metrics {

  /** Printed by every untraced run, on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms",
    "jobs_per_op" -> "count",
    "store_bytes_per_doc" -> "B",
    "peak_rss_mb" -> "MB")

  val SparkTotals: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B")

  /** Printed by every traced run; a layer idle on a workload reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s",
    "etl.compile_ms" -> "ms",
    "etl.map_stage_task_s" -> "s",
    "route.shuffle_write_bytes" -> "B",
    "route.micro_shard_skew" -> "ratio",
    "dedup.kept_ratio" -> "ratio",
    "index.write_s" -> "s",
    "index.write_stage_task_s" -> "s",
    "index.merge_tree_s" -> "s",
    "index.optimize_s" -> "s",
    "index.golive_s" -> "s",
    "index.segments_after_write" -> "count",
    "index.write_amplification" -> "ratio",
    "index.rows_read_per_result" -> "ratio",
    "search.parse_ms" -> "ms") ++
    Gen.Families.flatMap(f => Seq(s"search.${f}_p50_ms" -> "ms", s"search.${f}_jobs_per_req" -> "count")) ++
    Seq("ops.knn_recall_at_10" -> "ratio") ++
    Gen.Tiers.map(t => s"ops.knn_recall_at_10_$t" -> "ratio") ++
    Seq("serve.driver_only_share" -> "ratio") ++
    SparkTotals ++
    Seq("trace.overhead_ratio" -> "ratio", "trace.spans" -> "count",
      "trace.unattributed_jobs" -> "count")

  def sparkTotals(c: Collector, fromUs: Long, toUs: Long): Map[String, Double] = {
    val t = c.jobsBetween(fromUs, toUs).map(c.countsOfJob).foldLeft(SparkCounts())(_ + _)
    Map("spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble, "spark.task_run_s" -> t.taskRunMs / 1000.0,
      "spark.task_cpu_s" -> t.taskCpuNs / 1e9, "spark.gc_s" -> t.gcMs / 1000.0,
      "spark.shuffle_read_bytes" -> t.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> t.spillBytes.toDouble)
  }
}
