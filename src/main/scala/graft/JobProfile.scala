package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Dev profiling main for the optimization rounds: runs ONE query
  * end-to-end (store warmups un-measured like the bench, then the
  * measured noop write) under a SparkListener that prints every job's
  * wall time and description — the "where do the seconds go" view the
  * disabled UI would otherwise provide.
  *
  * Usage: runMain graft.JobProfile q323 [repeats]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val repeats = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val key = name.takeWhile(_ != '_')
    val (full, fn) = SparkEntry.queries.find(_._1.startsWith(key + "_"))
      .orElse(SparkEntry.queries.find(_._1 == key))
      .getOrElse(sys.error(s"no query $name"))
    val starts = mutable.Map[Int, (Long, String)]()
    val lines = mutable.ArrayBuffer[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse(""))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, desc) =>
          lines += f"  job ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc"
        }
    }

    // warm run: builds shared stores, JIT, page cache.
    // SPARK_GRAFT_PROFILE_WARM=1 instruments IT too — the store-BUILD
    // cost attribution (setup phase), which the measured repeats
    // amortize away (r18, VERDICT item 6/7: the pinned-store and
    // graph-store builds needed the same per-job view).
    val profileWarm = sys.env.get("SPARK_GRAFT_PROFILE_WARM").exists(_.nonEmpty)
    spark.range(1000000L).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    if (profileWarm) spark.sparkContext.addSparkListener(listener)
    val tw0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val twd = (System.nanoTime() - tw0) / 1e9
    if (profileWarm) {
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300)
      println(f"== $name WARM (build-inclusive): $twd%.3f s, ${lines.size} jobs ==")
      lines.foreach(println)
      lines.clear()
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    (0 until repeats).foreach { i =>
      lines.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let listener events drain
      println(f"== $full run $i: $dt%.3f s, ${lines.size} jobs ==")
      lines.foreach(println)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
