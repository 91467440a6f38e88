package perfbench

/**
 * The benchmark's JVM entry point (run.py builds the classpath and
 * starts it):
 *
 *   perfbench.Main --workload build|serve --seed N --seconds S
 *                  --trace 0|1 --work DIR --trace-out FILE
 *
 * Generates the inputs, sets the workload up several times (`setup_s`
 * is the median), warms it up, then measures. `--trace 0` prints the
 * end-to-end metrics of one untraced phase. `--trace 1` runs a quick
 * untraced baseline phase and a traced phase, prints the per-layer
 * metrics of the traced phase plus the tracing overhead, and writes its
 * spans as JSONL to FILE. The last stdout line is the result object;
 * the exit code is 0 only when every operation was correct.
 */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Workload.Names.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    require(seconds > 0, "--seconds must be positive")
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, got $other")
    }
    val work = new java.io.File(opt("work")).getAbsoluteFile
    val traceOut = new java.io.File(opt("trace-out")).getAbsoluteFile
    Workload.deleteTree(work)
    work.mkdirs()

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .appName("perfbench")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("spark session up")
    val ok = try run(spark, workload, seed, seconds, traced, work, traceOut)
    finally spark.stop()
    System.exit(if (ok) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload build|serve --seed N " +
      "--seconds S --trace 0|1 --work DIR --trace-out FILE")
    System.exit(2)
    throw new IllegalStateException
  }

  private def run(spark: org.apache.spark.sql.SparkSession, name: String, seed: Long,
                  seconds: Int, traced: Boolean, work: java.io.File,
                  traceOut: java.io.File): Boolean = {
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    val ops = new Ops
    val ctx = new Ctx(spark, work, seed, seconds, collector, ops)
    val w = Workload(name, ctx)
    w.prepare()
    log(s"$name seed=$seed inputs ready")

    // each setup and the measured phase start from a collected heap, so
    // none pays for the garbage of the one before
    val setupS = (0 until w.setupReps).map { rep =>
      System.gc()
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"$name seed=$seed setup_s=${setupS.map(x => f"$x%.2f").mkString(",")}")
    w.warmUp()
    System.gc()
    log(s"$name warmed up")

    // a traced run measures a quick untraced baseline phase for the
    // overhead ratio, then the traced phase
    val untraced = w.measure(new Trace(false, spark.sparkContext), quick = traced)
    val metrics =
      if (!traced) {
        Seq(
          "setup_s" -> Stats.median(setupS),
          "throughput_per_s" -> untraced.throughputPerS,
          "latency_p50_ms" -> Stats.percentile(untraced.opMs, 0.5),
          "latency_p90_ms" -> Stats.percentile(untraced.opMs, 0.9),
          "jobs_per_op" -> untraced.jobsPerOp,
          "store_bytes_per_doc" -> untraced.bytesPerDoc,
          "peak_rss_mb" -> peakRssMb())
      } else {
        val trace = new Trace(true, spark.sparkContext)
        val phase = w.measure(trace)
        val a = new Analysis(trace, collector, phase.startUs, phase.endUs)
        a.writeJsonl(traceOut)
        log(s"wrote ${a.spanList.size} spans to $traceOut")
        val all = Metrics.PerLayer.map(_._1 -> 0.0).toMap ++
          Metrics.sparkTotals(collector, phase.startUs, phase.endUs) ++
          w.layers(a) ++ Map(
            "trace.overhead_ratio" -> phase.meanOpMs / untraced.meanOpMs,
            "trace.spans" -> a.spanList.size.toDouble,
            "trace.unattributed_jobs" -> a.unattributed.toDouble)
        Metrics.PerLayer.map { case (n, _) => n -> all(n) }
      }
    w.finalChecks()
    ops.failures.foreach(f => log(s"FAILED $f"))
    val units = (Metrics.EndToEnd ++ Metrics.PerLayer).toMap
    log(s"$name: ${ops.attempted} operations, ${ops.failed} failed")
    println(Stats.resultLine(ops, metrics.map { case (n, v) => Stats.Metric(n, v, units(n)) }))
    ops.correct
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  private val started = System.nanoTime()

  /** A stderr line stamped with the seconds since the JVM's start. */
  def log(s: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - started) / 1e9}%.1f s] $s")
}
