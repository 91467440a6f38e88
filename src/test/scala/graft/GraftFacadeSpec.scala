package graft

import graft.etl.Etl
import graft.schema.{IndexField, IndexSchema}
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class GraftFacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("buildIndex: sanitize + validate + dedup + route + store in one call") {
    val schema = IndexSchema("id", Seq(
      IndexField("id", StringType, required = true),
      IndexField("value", StringType),
      IndexField("ts", LongType)))
    val docs = Seq(
      ("a", "old", 1L, "junk"), ("a", "new", 2L, "junk"),
      ("b", "only", 1L, "junk")).toDF("id", "value", "ts", "unknown_col")
    val out = java.nio.file.Files.createTempDirectory("graft_facade_").toString
    Graft.buildIndex(docs, schema, out, shards = 2, orderBy = Some(col("ts")))
    val store = Graft.openIndex(spark, out)
    assert(store.count() === 2)
    assert(!store.columns.contains("unknown_col"))
    val a = store.filter(col("id") === "a").collect().head
    assert(a.getAs[String]("value") === "new")
    // reject mode fails the build JOB on the conflicting input (in-job
    // raise_error riding the route shuffle, not an eager pre-scan)
    intercept[Exception] {
      Graft.buildIndex(docs, schema,
        java.nio.file.Files.createTempDirectory("graft_facade2_").toString,
        shards = 2, orderBy = None)
    }
  }

  test("buildIndex: missing unique key fails the build job (in-job raise_error)") {
    val schema = IndexSchema("id", Seq(
      IndexField("id", StringType, required = true),
      IndexField("value", StringType)))
    val docs = Seq(("a", "ok"), (null, "no-key")).toDF("id", "value")
    val out = java.nio.file.Files.createTempDirectory("graft_facade3_").toString
    val e = intercept[Exception] {
      Graft.buildIndex(docs, schema, out, shards = 2, orderBy = None)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("Missing unique key field 'id'")), e)
  }

  test("buildIndex orderBy=None: duplicate keys fail the build job in-job") {
    val schema = IndexSchema("id", Seq(
      IndexField("id", StringType, required = true),
      IndexField("value", StringType)))
    val dup = Seq(("a", "v1"), ("a", "v2"), ("b", "v3")).toDF("id", "value")
    val out = java.nio.file.Files.createTempDirectory("graft_facade4_").toString
    val e = intercept[Exception] {
      Graft.buildIndex(dup, schema, out, shards = 2, orderBy = None)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate unique key: a")), e)
    // conflict-free input still builds
    val clean = Seq(("a", "v1"), ("b", "v3")).toDF("id", "value")
    val out2 = java.nio.file.Files.createTempDirectory("graft_facade5_").toString
    Graft.buildIndex(clean, schema, out2, shards = 2, orderBy = None)
    assert(Graft.openIndex(spark, out2).count() === 2)
  }

  test("buildIndex refuses to clobber a committed store unless overwrite=true") {
    val schema = IndexSchema("id", Seq(
      IndexField("id", StringType, required = true),
      IndexField("value", StringType)))
    val docs = Seq(("a", "v1"), ("b", "v2")).toDF("id", "value")
    val out = java.nio.file.Files.createTempDirectory("graft_facade6_").toString
    Graft.buildIndex(docs, schema, out, shards = 2, orderBy = None)
    // a second build into the committed store must fail fast, BEFORE
    // Spark's overwrite mode deletes the serving data
    val e = intercept[IllegalStateException] {
      Graft.buildIndex(docs, schema, out, shards = 2, orderBy = None)
    }
    assert(e.getMessage.contains("already committed"))
    assert(Graft.openIndex(spark, out).count() === 2) // store untouched
    // explicit opt-in replaces it
    Graft.buildIndex(docs.limit(1), schema, out, shards = 2, orderBy = None,
      overwrite = true)
    assert(Graft.openIndex(spark, out).count() === 1)
  }

  test("buildIndex through an explicit file:-scheme Hadoop path (cluster-storage shape)") {
    val schema = IndexSchema("id", Seq(
      IndexField("id", StringType, required = true),
      IndexField("value", StringType)))
    val docs = (0 until 40).map(i => (s"doc-$i", s"v$i")).toDF("id", "value")
    val out = "file://" +
      java.nio.file.Files.createTempDirectory("graft_facade_fs_").toString
    Graft.buildIndex(docs, schema, out, shards = 2, orderBy = None)
    // commit metadata, shard listing and stats all resolve through the
    // Hadoop FileSystem of the store URI — no java.io/java.nio paths
    assert(graft.index.ShardIndex.commitMeta(out).exists(_.contains("\"shards\":2")))
    val dirs = graft.index.GoLive.shardDirs(out)
    assert(dirs.map(_._1) === Seq(0, 1))
    assert(dirs.forall(_._2.contains("shard=")))
    val st = graft.index.ShardIndex.stats(spark, out).collect()
    assert(st.length === 2 && st.map(_.getAs[Long]("rows")).sum === 40)
    assert(Graft.openIndex(spark, out).count() === 40)
  }

  test("quarantine splits valid/invalid preserving all rows") {
    val df = Seq(("1", "ok"), (null, "no-key"), ("3", "ok2")).toDF("id", "v")
    val (valid, bad) = Etl.quarantine(df, col("id").isNotNull)
    assert(valid.count() === 2 && bad.count() === 1)
    assert(bad.select("v").as[String].collect().toSeq === Seq("no-key"))
  }

  test("winnowing fingerprints: shared fingerprints for overlapping docs") {
    val toks = (s: String) => s.split(" ").toSeq
    val df = Seq(
      (1L, toks("the quick brown fox jumps over the lazy dog tonight again")),
      (2L, toks("prefix words then the quick brown fox jumps over the lazy dog tonight again")),
      (3L, toks("completely unrelated content with different words entirely here"))
    ).toDF("id", "toks")
    import graft.ops.ApproxDedup
    val fps = df
      .select(col("id"),
        ApproxDedup.shingleHashes(ApproxDedup.shingles(col("toks"), 3)).as("hs"))
      .select(col("id"), TextAnalysis.winnowingFingerprints(col("hs")).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    val shared12 = fps(1L).toSet intersect fps(2L).toSet
    val shared13 = fps(1L).toSet intersect fps(3L).toSet
    assert(shared12.nonEmpty, "overlapping docs must share fingerprints")
    assert(shared13.isEmpty, "unrelated docs must not")
  }

  test("export: full filtered set in global sort order with pruned fields") {
    import graft.index.SegmentShardSink
    val docs = Seq(
      ("1", "en", 10L), ("2", "en", 30L), ("3", "de", 20L),
      ("4", "en", 30L), ("5", "en", 20L), ("6", "fr", 40L)
    ).toDF("id", "lang", "n")
    val out = java.nio.file.Files.createTempDirectory("graft_export_").toString
    SegmentShardSink.write(docs, "id", out, shards = 2)
    val got = Graft.export(spark, out, "lang:en AND n:[20 TO 40]",
      fl = Seq("id", "n"), sort = Seq(("n", false), ("id", true)))
    assert(got.columns.toSeq === Seq("id", "n"))
    // ORDER is the contract: n desc, then id asc — and the set is the
    // FULL match set, not a top-k cut
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("2", 30L), ("4", 30L), ("5", 20L)))
  }

  test("round-7 facade delegates compose end to end") {
    val docs = Seq(
      (1L, "the experiment measured the rate", "en", "s1"),
      (2L, "buy cheap pills now click here", "en", "s1"),
      (3L, "results were published after review", "en", "s2"),
      (4L, "click here buy now cheap", "en", "s2")
    ).toDF("id", "text", "lang", "src")
    val w = Graft.trainSeedClassifier(docs, "id", "text", col("id") % 2 === 1)
    assert(Graft.scoreSeedClassifier(docs, "id", "text", w).count() === 4)
    assert(Graft.stratifiedSplit(docs, col("lang"), col("id"))
      .select("split").distinct().count() >= 1)
    assert(Graft.preferencePairs(docs, col("src"), col("id"), col("id"))
      .count() === 2)
    assert(Graft.skipGramPairs(docs, "text").count() > 0)
    assert(Graft.sourceOverlap(docs, col("src"), col("text")).columns
      .contains("containment_b_milli"))
    assert(Graft.corpusDiff(docs, docs.filter(col("id") =!= 4L), col("id"), col("text"))
      .filter(col("status") === "removed").count() === 1)
    val em = Graft.edismax(docs, "cheap pills", Seq("text" -> 1000L),
      mm = 1, rows = 10, tieBreak = col("id"))
    assert(em.count() === 2)
  }

  test("ANN facade: one surface dispatches IVF and IVF-PQ stores " +
      "(build/query/add/remove/purge) on the store marker") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val queries = emb.filter(col("vec_id") < 3)
    Seq(false, true).foreach { compressed =>
      val out = java.nio.file.Files
        .createTempDirectory(s"ann_facade_${compressed}_").toString
      Graft.buildAnnIndex(emb.filter(col("vec_id") < 150), out, dim = 64,
        compressed = compressed)
      val before = Graft.queryAnnIndex(spark, out, queries, k = 3, nprobe = 8)
      assert(before.count() === 9)
      // facade add routes to the right tier (code store stays codes)
      Graft.addToAnnIndex(spark, out,
        emb.filter(col("vec_id") >= 150 && col("vec_id") < 170))
      assert(spark.read.parquet(s"$out/cells").count() === 170)
      if (compressed)
        assert(spark.read.parquet(s"$out/cells").columns.contains("codes"))
      // two-stage refine serves exact-cosine ranks from the raw frame
      // (PQ tier) or dispatches to the already-exact IVF query
      val refined = Graft.queryAnnIndexRefined(spark, out,
        emb.filter(col("vec_id") < 170), queries, k = 3, nprobe = 8)
      assert(refined.count() === 9)
      assert(refined.groupBy("query_id").count().collect()
        .forall(_.getLong(1) === 3))
      // delete every current winner; survivors re-rank, then purge
      val victims = Graft.queryAnnIndex(spark, out, queries, k = 3, nprobe = 8)
        .filter(col("rank") === 1).select("corpus_id")
        .collect().map(_.getLong(0)).distinct.toSeq
      Graft.removeFromAnnIndex(spark, out, victims.toDF("vec_id"))
      val after = Graft.queryAnnIndex(spark, out, queries, k = 3, nprobe = 8)
        .select("corpus_id").collect().map(_.getLong(0))
      assert(after.forall(id => !victims.contains(id)))
      assert(Graft.purgeAnnDeletes(spark, out) >= 1)
      assert(spark.read.parquet(s"$out/cells")
        .filter(col("corpus_id").isin(victims.map(Long.box): _*)).count() === 0)
      // filtered search (IDSelector) routes through both tiers
      val allowed = emb.filter(col("label").isin(1, 2, 3)).select("vec_id")
      val allowedSet = allowed.collect().map(_.getLong(0)).toSet
      val filt = Graft.queryAnnIndexFiltered(spark, out, queries, k = 3,
          allowed = allowed, nprobe = 8)
        .select("corpus_id").collect().map(_.getLong(0))
      assert(filt.nonEmpty && filt.forall(allowedSet.contains))
    }
    // serving-quality metrics at the facade: recall vs exact truth and
    // the drift probe (raw-vector tier)
    val rawOut = java.nio.file.Files.createTempDirectory("ann_facade_m_").toString
    Graft.buildAnnIndex(emb, rawOut, dim = 64)
    val exact = graft.ops.Similarity.bruteForceTopK(emb, queries, 3)
      .select("query_id", "corpus_id")
    val approx = Graft.queryAnnIndex(spark, rawOut, queries, k = 3, nprobe = 8)
      .select("query_id", "corpus_id")
    val rec = Graft.annRecallAtK(exact, approx, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rec.size === 3 && rec.values.forall(v => v >= 0L && v <= 1000L))
    val drift = Graft.annAssignmentDrift(spark, rawOut,
        emb.filter(col("vec_id") < 100))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(drift("store")._1 === emb.count())
    assert(drift("recent")._1 === 100L)
    // stored two-stage serving from a refineStore build
    val refOut = java.nio.file.Files.createTempDirectory("ann_facade_r_").toString
    Graft.buildAnnIndex(emb, refOut, dim = 64, compressed = true,
      refineStore = true)
    val stored = Graft.queryAnnIndexRefinedStored(spark, refOut, queries, k = 3,
      kCandidates = 10, nprobe = 8)
    assert(stored.count() === 9)
    // a codec the tier-choosing methods do not serve is refused by name
    val sq8Out = java.nio.file.Files.createTempDirectory("ann_facade_sq8_").toString
    graft.ops.Sq8Index.build(emb.filter(col("vec_id") < 100), sq8Out, dim = 64, nlist = 4)
    Seq[() => Any](
      () => Graft.queryAnnIndex(spark, sq8Out, queries, k = 3),
      () => Graft.queryAnnIndexRefined(spark, sq8Out, emb, queries, k = 3),
      () => Graft.queryAnnIndexFiltered(spark, sq8Out, queries, k = 3, allowed = queries),
      () => Graft.annAssignmentDrift(spark, sq8Out, queries)).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(sq8Out) && e.getMessage.contains("Sq8Index"), e.getMessage)
    }
  }
}
