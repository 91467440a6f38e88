package graft.streaming

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming windowed counts over events == batch equivalent") {
    // stage events as a micro-batch-readable parquet dir (ts already
    // converted from nanos — readStream can't apply the nanos shim)
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_in_").toString
    Tables.events(spark, TestSpark.sf).write.mode("overwrite").parquet(staged)

    val stream = StreamingIngest.readEvents(spark, staged)
    assert(stream.isStreaming)
    val q = StreamingIngest.windowedCounts(stream)
      .writeStream.format("memory").queryName("graft_stream_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("graft_stream_test")
      .select("window_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = Tables.events(spark, TestSpark.sf)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("withStatePartitions bounds a session of the body's own: the " +
      "caller's session keeps its partition count while the body runs") {
    val key = "spark.sql.shuffle.partitions"
    val caller = spark.newSession()
    caller.conf.set(key, "24")
    caller.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    val seen = StreamingIngest.withStatePartitions(caller) { ss =>
      (ss ne caller, caller.conf.get(key), ss.conf.get(key),
        ss.conf.get("spark.sql.session.timeZone"))
    }
    // the body's session carries the caller's settings, bar the bound
    assert(seen === ((true, "24", "8", "Asia/Tokyo")))
    assert(caller.conf.get(key) === "24")
  }

  test("dedup ingest: cross-batch state drops repeats; restart re-admits the same set") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_dedup_src_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_dedup_out_").toString + "/corpus"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_dedup_st_").toString + "/fps"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dedup_ck_").toString

    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1) // one file per micro-batch
        .parquet(srcDir)
      val q = StreamingIngest.dedupIngestSink(outDir, stateDir, "doc_id", "text")(stream)
        .option("checkpointLocation", ckpt)
        .start()
      try q.awaitTermination(60000) finally if (q.isActive) q.stop()
    }

    // the file source lists FLAT files — stage each wave as one
    // part file copied to a top-level name
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_w_").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, name))
      ()
    }

    // wave 1: two files -> two micro-batches; doc text "beta" repeats
    // within one file, "gamma" repeats across the two files
    stage("f1.parquet",
      Seq((1L, "alpha text"), (2L, "beta text"), (3L, "beta text"), (4L, "gamma text")))
    run()
    stage("f2.parquet", Seq((5L, "gamma text"), (6L, "delta text")))
    run()

    def corpusIds = spark.read.parquet(outDir).select("doc_id")
      .as[Long].collect().toSet
    // within-batch dup 3 dropped (kept 2), cross-batch dup 5 dropped
    // NOTE the two wave-1 files may land in either batch order, but
    // text sets are disjoint per file, so the admitted set is stable
    assert(corpusIds === Set(1L, 2L, 4L, 6L))

    // wave 2 (restart): new docs carrying already-seen texts
    stage("f3.parquet", Seq((7L, "alpha text"), (8L, "epsilon text")))
    run()
    assert(corpusIds === Set(1L, 2L, 4L, 6L, 8L))
    // state dirs: one fingerprint set per batch, no duplicates inside
    val fps = spark.read.parquet(stateDir).select("fp").as[String].collect()
    assert(fps.length === fps.distinct.length)
  }

  test("foreachBatch index sink appends routed batches to a shard store") {
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_in2_").toString
    Tables.events(spark, TestSpark.sf).write.mode("overwrite").parquet(staged)
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_out_").toString + "/data"

    val router = graft.route.HashRangeRouter(2)
    val stream = StreamingIngest.readEvents(spark, staged)
    val q = StreamingIngest.indexSink(outDir) { batch =>
      batch.withColumn("shard",
        format_string("%05d", router.shardCol(col("event_id").cast("string"))))
    }(stream)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt_").toString)
      .start()
    try q.awaitTermination(60000) finally if (q.isActive) q.stop()

    val written = spark.read.parquet(outDir)
    assert(written.count() === 1000)
    assert(written.select("shard").distinct().count() === 2)
  }

  test("ANN ingest sink: streamed adds == one batch add (boundary " +
      "invariance); query answers extend, never reorder, old hits") {
    import graft.ops.IvfIndex
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val base = emb.filter(col("vec_id") < 150)
    val adds = emb.filter(col("vec_id") >= 150 && col("vec_id") < 190)
    def build(): String = {
      val o = java.nio.file.Files.createTempDirectory("ann_ingest_").toString
      IvfIndex.build(base, o, dim = 64)
      o
    }
    // A: one batch add; B: the same rows streamed as 2 micro-batches
    val a = build()
    IvfIndex.add(spark, a, adds)
    val b = build()
    val staged = java.nio.file.Files.createTempDirectory("ann_in_").toString
    adds.repartition(2).write.mode("overwrite").parquet(staged)
    val stream = spark.readStream.schema(adds.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val q = StreamingIngest.annIngestSink(b, streamId = "specA")(stream).start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
    def answers(o: String) =
      IvfIndex.query(spark, o, emb.filter(col("vec_id") < 5), k = 5, nprobe = 8)
        .select("query_id", "rank", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(answers(a) === answers(b))
    assert(spark.read.parquet(s"$b/cells").count() === 190)
  }

  test("ANN ingest replay safety: a re-delivered batch is a no-op; a " +
      "crashed half-applied batch reruns without duplicating vectors") {
    import graft.ops.IvfIndex
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val base = emb.filter(col("vec_id") < 150)
    val adds = emb.filter(col("vec_id") >= 150 && col("vec_id") < 190)
    val o = java.nio.file.Files.createTempDirectory("ann_replay_").toString
    IvfIndex.build(base, o, dim = 64)
    // batch 0 applies, then replays (Structured Streaming retry after
    // a sink success but checkpoint-commit failure): marker skips it
    assert(IvfIndex.addBatch(spark, o, adds, batchId = 0L) === true)
    val afterFirst = spark.read.parquet(s"$o/cells").count()
    assert(afterFirst === 190)
    assert(IvfIndex.addBatch(spark, o, adds, batchId = 0L) === false)
    assert(spark.read.parquet(s"$o/cells").count() === afterFirst)
    // crash-mid-append: batch 1's files land but the marker write never
    // happened (simulated by removing it) — the rerun must
    // delete-output-first and converge to exactly one copy
    assert(IvfIndex.addBatch(spark, o, adds
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")),
      batchId = 1L) === true)
    val fs = new org.apache.hadoop.fs.Path(o)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(IvfIndex.batchMarker(o, 1L), false)
    assert(IvfIndex.addBatch(spark, o, adds
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")),
      batchId = 1L) === true)
    val cells = spark.read.parquet(s"$o/cells")
    assert(cells.count() === 230, "replayed batch duplicated vectors")
    assert(cells.groupBy("corpus_id").count()
      .filter(col("count") > 1).count() === 0)
    // duplicates would displace true neighbors in top-k: ranks stay sane
    val ranks = IvfIndex.query(spark, o, emb.filter(col("vec_id") < 3),
        k = 5, nprobe = 8)
      .groupBy("query_id").agg(countDistinct("corpus_id").as("n"))
      .collect()
    assert(ranks.forall(_.getLong(1) === 5L))
  }

  test("ANN ingest markers are stream-scoped: a second stream (fresh " +
      "checkpoint) reusing batch id 0 is NOT skipped as a replay, and " +
      "its delete-output-first rerun never touches the first stream's files") {
    import graft.ops.IvfIndex
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val o = java.nio.file.Files.createTempDirectory("ann_streams_").toString
    IvfIndex.build(emb.filter(col("vec_id") < 150), o, dim = 64)
    val addsA = emb.filter(col("vec_id") >= 150 && col("vec_id") < 180)
    val addsB = emb.filter(col("vec_id") >= 180 && col("vec_id") < 200)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
    // stream A commits batch 0; stream B (a relaunch with a new
    // checkpoint, or a second feed) also presents batch id 0 — with
    // un-scoped markers B's fresh rows would silently vanish
    assert(IvfIndex.addBatch(spark, o, addsA, batchId = 0L,
      streamId = "ckptA") === true)
    assert(IvfIndex.addBatch(spark, o, addsB, batchId = 0L,
      streamId = "ckptB") === true)
    val cells = spark.read.parquet(s"$o/cells")
    assert(cells.count() === 200, "a stream's batch was skipped as a replay")
    // B's replay (same stream) is still a no-op...
    assert(IvfIndex.addBatch(spark, o, addsB, batchId = 0L,
      streamId = "ckptB") === false)
    // ...and a crashed-rerun of B (marker removed) deletes only B's
    // batch-keyed files: A's rows survive intact
    val fs = new org.apache.hadoop.fs.Path(o)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(IvfIndex.batchMarker(o, 0L, "ckptB"), false)
    assert(IvfIndex.addBatch(spark, o, addsB, batchId = 0L,
      streamId = "ckptB") === true)
    val after = spark.read.parquet(s"$o/cells")
    assert(after.count() === 200)
    assert(after.filter(col("corpus_id") >= 150 && col("corpus_id") < 180)
      .count() === 30, "stream B's rerun clobbered stream A's batch")
    assert(after.groupBy("corpus_id").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("ANN ingest routes a binary-IVF store through the shared " +
      "exactly-once batch (a replay is a no-op) and refuses an unknown " +
      "path by name") {
    import graft.ops.BinaryIvfIndex
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val o = java.nio.file.Files.createTempDirectory("ann_bqivf_").toString
    BinaryIvfIndex.build(emb.filter(col("vec_id") < 150), o, dim = 64, nlist = 4)
    val adds = emb.filter(col("vec_id") >= 150 && col("vec_id") < 190)
    assert(StreamingIngest.annIngestBatch(spark, o, adds, 0L, "bq") === true)
    assert(spark.read.parquet(s"$o/codes").count() === 190)
    assert(StreamingIngest.annIngestBatch(spark, o, adds, 0L, "bq") === false)
    assert(spark.read.parquet(s"$o/codes").count() === 190,
      "a replayed batch re-applied")
    val bare = java.nio.file.Files.createTempDirectory("ann_nomarker_").toString
    val e = intercept[IllegalArgumentException](
      StreamingIngest.annIngestBatch(spark, bare, adds, 0L, "bq"))
    assert(e.getMessage.contains(bare))
  }
}
