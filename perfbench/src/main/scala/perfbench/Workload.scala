package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What every workload gets: the session, its own work directory, the
  * run's seed and length, the job collector and the failure counter. */
final class Ctx(val spark: SparkSession, val work: java.io.File, val seed: Long,
                val seconds: Int, val collector: Collector, val ops: Ops) {
  def sc: org.apache.spark.SparkContext = spark.sparkContext
  def dir(name: String): java.io.File = new java.io.File(work, name)
  def now(): Long = Clock.micros()
  /** Wait until the listener has seen every event Spark posted so far:
    * job counts read before this may miss the last jobs' starts. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/**
 * One measured phase. `opMs` holds the latency samples of the
 * workload's user-visible operation; `meanOpMs` the mean cost of the
 * operation the tracing overhead is judged on.
 */
final case class Phase(startUs: Long, endUs: Long, throughputPerS: Double,
                       opMs: Seq[Double], jobsPerOp: Double, bytesPerDoc: Double,
                       meanOpMs: Double)

abstract class Workload(val ctx: Ctx) {
  /** Setups run this many times per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Generate the inputs and compute the expected answers: the
    * benchmark's own work, run once and not timed. */
  def prepare(): Unit
  /** The program's set-up work (`rep` counts from 0); timed. */
  def setup(rep: Int): Unit
  /** Unmeasured work after setup that loads and compiles the code the
    * measured phase runs, so runs do not differ by how much of it was
    * still cold. */
  def warmUp(): Unit = ()
  /** Run the measured operations for at least `ctx.seconds`; `quick`
    * runs the smallest phase that still gives a mean operation cost
    * (the untraced baseline of a traced run). */
  def measure(trace: Trace, quick: Boolean = false): Phase
  /** Checks of the final state, after all phases. */
  def finalChecks(): Unit = ()
  /** Per-layer metrics of a traced phase (names from [[Metrics.PerLayer]]). */
  def layers(a: Analysis): Map[String, Double]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "build" => new BuildWorkload(ctx)
    case "serve" => new ServeWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val Names: Seq[String] = Seq("build", "serve")

  def deleteTree(f: java.io.File): Unit = if (f.exists()) {
    val p = f.toPath
    java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(x => java.nio.file.Files.delete(x))
  }

  /** Files under a directory: relative path -> (size, mtime). */
  def listing(f: java.io.File): Map[String, (Long, Long)] =
    if (!f.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val root = f.toPath
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }.toMap finally s.close()
    }

  def bytes(f: java.io.File): Long = listing(f).valuesIterator.map(_._1).sum

  /** Bytes of files that are new or changed between two listings. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.iterator.collect { case (k, v) if !before.get(k).contains(v) => v._1 }.sum

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  /** Closed loop of `clients` threads pulling from a shared queue of
    * thunks; returns when the queue is empty and all threads are done,
    * rethrowing the first error a thunk raised. */
  def closedLoop(clients: Int, work: IndexedSeq[() => Unit]): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger
    val error = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < work.size && error.get == null) {
          try work(i)() catch { case e: Throwable => error.compareAndSet(null, e) }
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(error.get).foreach(e => throw e)
  }

  def ms(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e6
}
