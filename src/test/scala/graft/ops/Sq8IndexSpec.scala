package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQ8 tier (FAISS IndexIVFScalarQuantizer): probed-cell
  * partition pruning on the plan, exactness at full probe + corpus
  * rerank, deterministic build, and the family lifecycle
  * (frozen-quantizer add, tombstones, crash-safe purge). */
class Sq8IndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "rank", "corpus_id")
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    .sorted.toSeq

  test("probe scan reads ONLY the probed cell partitions (partition " +
      "filter on the plan)") {
    val store = java.nio.file.Files.createTempDirectory("sq8_plan_").toString
    Sq8Index.build(emb, store, dim = 64, nlist = 8)
    val q0 = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").cast("array<double>").as("qvec"))
      // any int codes do for a PLAN-shape assertion
      .withColumn("qqc", transform(sequence(lit(0), lit(63)), _ => lit(0)))
    val df = Sq8Index.candidates(spark, store, q0, rerank = 16, nprobe = 2)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val codeScans = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("codes")))
    assert(codeScans.nonEmpty, "no codes/ file scan in the plan")
    val s = codeScans.head
    assert(s.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"cell must be a partition filter, got ${s.partitionFilters}")
    assert(s.selectedPartitions.partitionCount <= 2,
      s"nprobe=2 must select <=2 cell partitions, got " +
        s"${s.selectedPartitions.partitionCount}")
  }

  test("full probe + corpus-wide rerank is EXACT (the candidate pool " +
      "covers everything, the re-rank is true cosine), and the build " +
      "is deterministic across input partitionings") {
    val store = java.nio.file.Files.createTempDirectory("sq8_full_").toString
    val base = emb.filter(col("vec_id") < 120)
    Sq8Index.build(base, store, dim = 64, nlist = 4)
    val queries = base.filter(col("vec_id") < 6)
    val got = rows(Sq8Index.query(spark, store, queries, base,
      k = 5, rerank = 200, nprobe = 4))
    val want = rows(Similarity.bruteForceTopK(base, queries, 5))
    assert(got === want, "full-probe SQ8 diverged from brute force")
    val again = java.nio.file.Files.createTempDirectory("sq8_again_").toString
    Sq8Index.build(base.repartition(7), again, dim = 64, nlist = 4)
    def codes(o: String) = spark.read.parquet(s"$o/codes")
      .collect().map(r => (r.getLong(r.fieldIndex("corpus_id")),
        r.getSeq[Int](r.fieldIndex("qc")).mkString(","),
        r.getInt(r.fieldIndex("cell")))).sorted.toSeq
    assert(codes(store) === codes(again), "build is partitioning-dependent")
  }

  test("recall at the family operating point beats the binary tier's " +
      "floor comfortably (the ladder's selling point: 8 bits/dim >> " +
      "1 bit/dim at equal candidate budget)") {
    val store = java.nio.file.Files.createTempDirectory("sq8_rec_").toString
    Sq8Index.build(emb, store, dim = 64, nlist = 16)
    val queries = emb.filter(col("vec_id") < 10)
    val approx = Sq8Index.query(spark, store, queries, emb,
        k = 5, rerank = 32, nprobe = 8)
      .select("query_id", "corpus_id")
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "corpus_id")
    val recall = RankingEval.annRecallAtK(exact, approx, 5)
      .agg(expr("sum(recall_milli) div count(1)")).head.getLong(0)
    assert(recall >= 600L, s"avg recall_milli $recall under the SQ8 floor")
  }

  test("lifecycle: frozen add keeps old answers; tombstones hide " +
      "immediately; purge reclaims and preserves answers; a constant " +
      "dimension codes to 0 instead of dividing by zero") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("sq8_life_").toString
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    Sq8Index.build(evens, store, dim = 64, nlist = 4)
    val queries = emb.filter(col("vec_id") < 6)
    val before = rows(Sq8Index.query(spark, store, queries, evens,
      k = 5, rerank = 16, nprobe = 4))
    Sq8Index.add(spark, store, odds)
    val filteredBack = rows(Sq8Index.query(spark, store, queries, emb,
      k = 5, rerank = 16, nprobe = 4,
      allowed = Some(evens.select("vec_id"))))
    assert(filteredBack === before, "frozen add changed old answers")
    val victims = emb.filter(col("vec_id") % 7 === 1).select("vec_id")
    Sq8Index.removeIds(spark, store, victims)
    val afterDel = rows(Sq8Index.query(spark, store, queries, emb,
      k = 5, rerank = 16, nprobe = 4))
    assert(afterDel.forall(_._3 % 7 != 1), "a tombstoned code surfaced")
    assert(Sq8Index.purgeDeletes(spark, store) > 0)
    assert(rows(Sq8Index.query(spark, store, queries, emb,
      k = 5, rerank = 16, nprobe = 4)) === afterDel,
      "purge changed the served answers")
    assert(AnnTombstones.cachedCount(spark, store).isEmpty)
    // constant dim (post-normalization — the codes quantize UNIT
    // vectors, so the fixture pins the dim at 0.0, constant under any
    // scaling): vdiff 0 -> code 0 on every row, no NaN/crash
    val const = (0L until 30L).map(i =>
      (i, Seq.tabulate(8)(j => if (j == 0) 0.0 else (i + j).toDouble / 10)))
      .toDF("vec_id", "embedding")
    val cstore = java.nio.file.Files.createTempDirectory("sq8_const_").toString
    Sq8Index.build(const, cstore, dim = 8, nlist = 2)
    val c0 = spark.read.parquet(s"$cstore/codes")
      .select(element_at(col("qc"), 1)).collect().map(_.getInt(0)).toSet
    assert(c0 === Set(0), "constant dimension must code to 0")
  }

  test("pinned snapshot: pre-mutation answers bit-for-bit through " +
      "add/remove; purge DEFERS while pinned and reclaims after " +
      "release") {
    val store = java.nio.file.Files.createTempDirectory("sq8_pin_").toString
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    Sq8Index.build(evens, store, dim = 64, nlist = 4)
    Sq8Index.removeIds(spark, store,
      emb.filter(col("vec_id") % 5 === 2).select("vec_id"))
    val tok = Sq8Index.pinGeneration(spark, store)
    assert(tok === 0)
    val queries = emb.filter(col("vec_id") < 6)
    val atPin = rows(Sq8Index.query(spark, store, queries, emb,
      k = 5, rerank = 32, nprobe = 4))
    Sq8Index.add(spark, store, odds)
    Sq8Index.removeIds(spark, store,
      emb.filter(col("vec_id") % 3 === 0).select("vec_id"))
    assert(Sq8Index.purgeDeletes(spark, store) === 0,
      "purge must defer while its generation is pinned")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/deletes")),
      "deferred purge must leave the tombstones")
    assert(rows(Sq8Index.queryPinned(spark, store, tok, queries, emb,
        k = 5, rerank = 32, nprobe = 4)) === atPin,
      "pinned query diverged from pin-time answers")
    // live query sees the mutations (sanity, not bit-compared)
    val live = rows(Sq8Index.query(spark, store, queries, emb,
      k = 5, rerank = 32, nprobe = 4))
    assert(live.forall(_._3 % 3 != 0), "a live tombstone leaked")
    IvfIndex.releaseGeneration(spark, store, tok)
    assert(Sq8Index.purgeDeletes(spark, store) > 0,
      "release must re-enable the purge")
    intercept[IllegalArgumentException] {
      Sq8Index.queryPinned(spark, store, tok, queries, emb,
        k = 5, rerank = 32, nprobe = 4)
    }
  }

  test("streamed adds are exactly-once, batch-boundary-invariant, and " +
      "the ingest sink DISPATCHES on the SQ8 marker") {
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    def mk(): String = {
      val o = java.nio.file.Files.createTempDirectory("sq8_stream_").toString
      Sq8Index.build(evens, o, dim = 64, nlist = 4)
      o
    }
    val s1 = mk()
    // through the PUBLIC dispatcher — the marker must route to SQ8
    assert(graft.streaming.StreamingIngest.annIngestBatch(spark, s1,
      odds, 0L, "s"))
    val s2 = mk()
    assert(graft.streaming.StreamingIngest.annIngestBatch(spark, s2,
      odds.filter(col("vec_id") < 50), 0L, "s"))
    assert(graft.streaming.StreamingIngest.annIngestBatch(spark, s2,
      odds.filter(col("vec_id") >= 50), 1L, "s"))
    // replay: same (stream, batch) id is a no-op skip
    assert(!graft.streaming.StreamingIngest.annIngestBatch(spark, s2,
      odds.filter(col("vec_id") < 50), 0L, "s"))
    val queries = emb.filter(col("vec_id") < 6)
    def rows(o: String) = Sq8Index.query(spark, o, queries, emb,
        k = 5, rerank = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    assert(rows(s1) === rows(s2), "batch boundaries changed answers")
  }
}
