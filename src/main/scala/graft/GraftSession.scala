package graft

import org.apache.spark.sql.SparkSession

/**
 * Tuned session factory: the knobs every graft deployment needs, in
 * one place — every graft main and the test session build through
 * [[builder]], so they share one configuration, [[GraftExtensions]]
 * included (the cell-store ANN queries cannot be planned without
 * it). Local runs size shuffle partitions to cores; cluster
 * deployments should size them to data volume (aim ~128-256MB per
 * shuffle partition) — AQE coalesces the excess either way.
 */
object GraftSession {
  def builder(master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // the nanos-timestamp test tables (TESTDATA.md) need this
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
