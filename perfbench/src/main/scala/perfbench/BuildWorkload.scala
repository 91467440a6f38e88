package perfbench

import graft.Graft
import graft.index.{GoLive, SegmentShardSink, SegmentStoreGoLive}
import graft.schema.{IndexField, IndexSchema}
import graft.sources.AvroSource
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/**
 * `build`: raw Avro files → compiled morphline → route + newest-wins
 * dedup → micro-shard segment write → mtree merge → optimize → go-live
 * → doc counts. Sources, ETL, routing, dedup and the index writer do
 * nearly all the work; search and the ANN code stay idle.
 */
final class BuildWorkload(ctx: Ctx) extends Workload(ctx) {
  import BuildWorkload._
  import ctx.spark

  private var corpus: Gen.TweetCorpus = _
  private var expectedParts: Map[String, Long] = Map.empty
  private val avroDir = ctx.dir("avro")
  private var builds = 0
  private var lastOut: java.io.File = _
  // traced builds: bytes their write, merge and optimize wrote, and the
  // (part, docs, segments) right after the write
  private var bytesWritten = 0L
  private var afterWrite: Seq[(String, Long, Long)] = Nil

  def prepare(): Unit = {
    corpus = Gen.tweets(ctx.seed, Unique, CollisionShare, Vocab)
    Gen.writeAvro(corpus, avroDir, Files, ctx.seed)
    val starts = Routing.rangeStarts(Shards)
    expectedParts = corpus.winners.keysIterator.toSeq.groupBy(Routing.shardOf(_, starts))
      .map { case (s, ids) => f"part-$s%05d" -> ids.size.toLong }
  }

  /** A small build (one of the eight input files) through the measured
    * path: compile, read, `Graft.buildSegmentIndex`. It also warms that
    * path up for the measured build. */
  def setup(rep: Int): Unit = {
    val out = ctx.dir(s"setup-$rep")
    val docs = graft.etl.MorphlineConfig.compile(MorphlineText, Some(Schema))
      .command(AvroSource.read(spark, s"${avroDir.getAbsolutePath}/tweets-00.avro"))
    Graft.buildSegmentIndex(docs, "id", out.getAbsolutePath, Shards, Micro, Fanout,
      Some(col("created_at")), Analyzed).collect()
    Workload.deleteTree(out)
  }

  def measure(trace: Trace, quick: Boolean): Phase = {
    val start = ctx.now()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    do {
      var ms = 0.0
      ctx.ops.run(s"build $builds") {
        val t0 = System.nanoTime()
        val counts = buildOnce(trace, builds)
        ms = Workload.ms(t0)
        counts
      }(checkCounts)
      times += ms
      builds += 1
    } while (!quick && (ctx.now() - start) < ctx.seconds * 1000000L)
    val end = ctx.now()
    ctx.drain()
    val jobs = ctx.collector.jobsBetween(start, end).size
    Phase(start, end, throughputPerS = corpus.raw.size * times.size / (times.sum / 1000),
      opMs = times.toSeq, jobsPerOp = jobs.toDouble / times.size,
      bytesPerDoc = Workload.bytes(lastOut).toDouble / corpus.unique,
      meanOpMs = times.sum / times.size)
  }

  /** One build into a fresh store; returns the final (part, docs,
    * segments). Untraced, the build is the one facade call users make.
    * Traced, spans can only be taken from outside the program, so the
    * benchmark calls the layers `Graft.buildSegmentIndex` sequences
    * (write → mergeTree → optimize → docCounts), in its order and with
    * the same arguments. */
  private def buildOnce(tr: Trace, k: Int): Seq[(String, Long, Long)] = tr.span("build", req = k) {
    val out = ctx.dir(s"store-$k")
    if (lastOut != null) Workload.deleteTree(lastOut)
    Workload.deleteTree(ctx.dir("live"))
    lastOut = out
    val store = out.getAbsolutePath
    val compiled = tr.span("MorphlineConfig.compile") {
      graft.etl.MorphlineConfig.compile(MorphlineText, Some(Schema))
    }
    val raw = tr.span("AvroSource.read") { AvroSource.read(spark, s"${avroDir.getAbsolutePath}/*.avro") }
    val docs = tr.span("MorphlineConfig.command") { compiled.command(raw) }
    val dedup = Some(col("created_at"))
    val counts =
      if (!tr.enabled)
        Graft.buildSegmentIndex(docs, "id", store, Shards, Micro, Fanout, dedup, Analyzed)
      else {
        def step(name: String)(body: => Unit): Unit = {
          val before = Workload.listing(out)
          tr.span(name)(body)
          bytesWritten += Workload.written(before, Workload.listing(out))
        }
        step("SegmentShardSink.write") {
          SegmentShardSink.write(docs, "id", store, Shards, Micro, dedup, analyzedFields = Analyzed)
        }
        afterWrite = rows(tr.span("SegmentShardSink.docCounts") { SegmentShardSink.docCounts(spark, store) })
        step("SegmentShardSink.mergeTree") { SegmentShardSink.mergeTree(spark, store, Shards, Fanout) }
        step("SegmentShardSink.optimize") { SegmentShardSink.optimize(spark, store) }
        tr.span("SegmentShardSink.docCounts") { SegmentShardSink.docCounts(spark, store) }
      }
    val finalCounts = rows(counts)
    val live = ctx.dir("live")
    val targets = (0 until Shards).map(i => new java.io.File(live, s"shard$i").getAbsolutePath)
    tr.span("SegmentStoreGoLive.goLive") {
      new SegmentStoreGoLive().goLive(GoLive.segmentShardDirs(store), targets)
    }
    finalCounts
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  /** Per-part doc counts against the benchmark's own routing of the
    * generator's ids; one segment per part after optimize; the go-live
    * targets hold the same docs. */
  private def checkCounts(counts: Seq[(String, Long, Long)]): Option[String] = {
    val got = counts.map(c => c._1 -> c._2).toMap
    val conf = spark.sessionState.newHadoopConf()
    val liveDocs = (0 until Shards).map { i =>
      val p = new org.apache.hadoop.fs.Path(new java.io.File(ctx.dir("live"), s"shard$i").getAbsolutePath)
      graft.index.SegmentIndex.latestCommit(p.getFileSystem(conf), p).map(_.numDocs.toLong).getOrElse(-1L)
    }
    if (got != expectedParts) Some(s"part doc counts $got, expected $expectedParts")
    else if (counts.exists(_._3 != 1)) Some(s"parts not optimized to one segment: $counts")
    else if (liveDocs != counts.map(_._2)) Some(s"go-live targets hold $liveDocs, parts ${counts.map(_._2)}")
    else None
  }

  override def finalChecks(): Unit = {
    // newest-wins on sampled stored fields: collided ids must hold the
    // later raw doc's user, others their only one; the unknown field is
    // gone and created_at is Solr-canonical
    val r = Gen.rng(ctx.seed, "build-sample")
    val victims = Gen.distinctInts(r, 100, corpus.victims.size).map(corpus.victims)
    val others = Gen.distinctInts(r, 100, corpus.unique).map(i => f"t$i%08d")
    val sample = (victims ++ others).distinct
    ctx.ops.run("build: sampled stored fields")(
      Graft.openSegmentIndex(spark, lastOut.getAbsolutePath)
        .filter(col("id").isin(sample: _*))
        .select("id", "user_screen_name", "created_at").collect()
        .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSeq
    ) { got =>
      val users = got.map(g => g._1 -> g._2).toMap
      val wrong = sample.filter(id => !users.get(id).contains(corpus.winners(id)))
      if (got.size != sample.size) Some(s"${got.size} rows for ${sample.size} sampled ids")
      else if (wrong.nonEmpty) Some(s"${wrong.size} ids hold the wrong version, e.g. ${wrong.head}")
      else got.find(g => !g._3.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z"""))
        .map(g => s"created_at not normalized: ${g._3}")
    }
    ctx.ops.check("build: unknown field sanitized") {
      val cols = Graft.openSegmentIndex(spark, lastOut.getAbsolutePath).columns
      if (cols.contains("source_app")) Some(s"source_app survived: ${cols.mkString(",")}") else None
    }
  }

  def layers(a: Analysis): Map[String, Double] = {
    val spans = a.spanList
    def total(name: String) = spans.filter(_.name == name).map(_.durUs).sum / 1e6
    val writeSpans = spans.filter(_.name == "SegmentShardSink.write")
    val writeStages = writeSpans.flatMap(a.jobsUnder).flatMap(ctx.collector.stagesOf)
    // the write job: a shuffle-map stage (scan + ETL + route hash) and
    // the result stage that writes the micro shards
    val (mapStages, resultStages) = writeStages.partition(s =>
      s.taskMetrics != null && s.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
    def taskS(ss: Seq[org.apache.spark.scheduler.StageInfo]) =
      ss.map(s => Option(s.taskMetrics).map(_.executorRunTime).getOrElse(0L)).sum / 1000.0
    val microDocs = afterWrite.map(_._2.toDouble)
    val finalBytes = Workload.bytes(lastOut).toDouble
    val n = math.max(1, writeSpans.size)
    Map(
      "sources.read_s" -> total("AvroSource.read") / n,
      "etl.compile_ms" -> total("MorphlineConfig.compile") * 1000 / n,
      "etl.map_stage_task_s" -> taskS(mapStages) / n,
      "route.shuffle_write_bytes" -> mapStages.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum.toDouble / n,
      "route.micro_shard_skew" -> (if (microDocs.isEmpty) 0.0 else microDocs.max / (microDocs.sum / microDocs.size)),
      "dedup.kept_ratio" -> microDocs.sum / corpus.raw.size,
      "index.write_s" -> total("SegmentShardSink.write") / n,
      "index.write_stage_task_s" -> taskS(resultStages) / n,
      "index.merge_tree_s" -> total("SegmentShardSink.mergeTree") / n,
      "index.optimize_s" -> total("SegmentShardSink.optimize") / n,
      "index.golive_s" -> total("SegmentStoreGoLive.goLive") / n,
      "index.segments_after_write" -> afterWrite.map(_._3).sum.toDouble,
      "index.write_amplification" -> bytesWritten.toDouble / n / finalBytes)
  }
}

object BuildWorkload {
  /** 560k distinct ids over 4 micro shards: every micro-shard writer
    * passes `maxBufferedDocs` (1 << 17) and flushes more than once, and
    * the merge tree runs one level (4 → 2). The program's auto fan-out
    * sizes on a Catalyst estimate the RDD-backed Avro source does not
    * have (it would write direct), so the fan-out is explicit. */
  val Unique = 560000
  val CollisionShare = 0.03
  val Files = 8
  val Vocab = 20000
  val Shards = 2
  val Micro = 4
  val Fanout = 2
  val Analyzed = Set("text")

  val Schema: IndexSchema = IndexSchema("id", Seq(
    IndexField("id", StringType, required = true),
    IndexField("user_screen_name", StringType),
    IndexField("text", StringType),
    IndexField("toks", StringType, multiValued = true),
    IndexField("created_at", StringType),
    IndexField("retweet_count", LongType)))

  /** Shaped like the reference's tutorialReadAvroContainer.conf. */
  val MorphlineText: String = """
    SOLR_LOCATOR : { collection : tweets, zkHost : "127.0.0.1:2181/solr" }
    morphlines : [
      {
        id : tweets
        commands : [
          { readAvroContainer { } }
          {
            convertTimestamp {
              field : created_at
              inputFormats : ["yyyy-MM-dd HH:mm:ss"]
              inputTimezone : UTC
            }
          }
          { tokenizeText { inputField : text, outputField : toks } }
          { sanitizeUnknownSolrFields { solrLocator : ${SOLR_LOCATOR} } }
          { loadSolr { solrLocator : ${SOLR_LOCATOR} } }
        ]
      }
    ]
  """
}
