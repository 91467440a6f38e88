package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** 1-bit quantization: the pack must match an independent bit-level
  * recompute, Hamming must behave like a metric on codes, and the
  * two-stage pipeline must stay inside its own candidate set. */
class BinaryQuantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  test("packSigns matches an independent plain-Scala recompute " +
      "(32-bit words, acc*2+bit, strict > 0)") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0, -2.0, 0.0, 0.5, -0.1, 3.0)),
      (2L, Array.fill(6)(-1.0)),
      (3L, Array.fill(6)(2.5)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        BinaryQuant.packSigns(col("embedding").cast("array<double>"), 6)
          .as("code"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    def ref(v: Array[Double]): Seq[Long] = (0 until 1).map { w =>
      (0 until 32).foldLeft(0L) { (acc, b) =>
        val idx = w * 32 + b
        acc * 2 + (if (idx < v.length && v(idx) > 0) 1L else 0L)
      }
    }
    vecs.foreach { case (id, v) => assert(got(id) === ref(v), s"id $id") }
    // zero is NOT positive (the strict-compare contract)
    assert(got(1L) !== ref(Array(1.0, -2.0, 1e-9, 0.5, -0.1, 3.0)))
  }

  test("hamming: zero on self, symmetric, bounded by dim") {
    val codes = emb.limit(20)
      .select(col("vec_id"),
        BinaryQuant.packSigns(col("embedding").cast("array<double>"), 64)
          .as("code"))
    val a = codes.as("a"); val b = codes.as("b")
    val pairs = a.crossJoin(b).select(
      col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
      BinaryQuant.hamming(col("a.code"), col("b.code")).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    pairs.foreach { case ((x, y), h) =>
      assert(h >= 0 && h <= 64)
      if (x == y) assert(h === 0)
      assert(pairs((y, x)) === h, "asymmetric hamming")
    }
  }

  test("persisted code store serves exactly the batch pipeline's " +
      "answer; the store holds codes only (the 32x contract)") {
    val out = java.nio.file.Files.createTempDirectory("bq_store_").toString
    BinaryQuant.buildStore(emb, out, dim = 64)
    val codes = spark.read.parquet(s"$out/codes")
    assert(codes.columns.toSet === Set("corpus_id", "code"),
      "the store must hold codes only, never raw vectors")
    assert(codes.count() === emb.count())
    val queries = emb.filter(col("vec_id") < 6)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val stored = rows(BinaryQuant.queryStore(spark, out, queries, emb,
      k = 5, rerank = 32))
    val batch = rows(BinaryQuant.binaryTopK(emb, queries, k = 5,
      rerank = 32, dim = 64))
    assert(stored === batch)
    // the broadcast-semi-join fallback path answers identically too
    val viaJoin = rows(BinaryQuant.queryStore(spark, out, queries, emb,
      k = 5, rerank = 32, pushLimit = 1))
    assert(viaJoin === batch)
  }

  test("two-stage binary ANN: k rows per query, no self-matches, " +
      "every hit inside its own Hamming candidate set, deterministic") {
    val queries = emb.filter(col("vec_id") < 6)
    def run() = BinaryQuant.binaryTopK(emb, queries, k = 5, rerank = 32,
        dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val got = run()
    assert(got === run(), "not deterministic")
    assert(got.size === 30)
    assert(got.forall { case (q, _, c) => q != c })
    // stage-2 hits ⊆ stage-1 candidates: re-run stage 1 standalone
    val codes = emb.select(col("vec_id").cast("long").as("corpus_id"),
      BinaryQuant.packSigns(col("embedding").cast("array<double>"), 64)
        .as("code"))
    val qc = queries.select(col("vec_id").cast("long").as("query_id"),
      BinaryQuant.packSigns(col("embedding").cast("array<double>"), 64)
        .as("qcode"))
    import org.apache.spark.sql.expressions.Window
    val cand = codes.crossJoin(broadcast(qc))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("h", BinaryQuant.hamming(col("qcode"), col("code")))
      .withColumn("hr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("h").asc, col("corpus_id").asc)))
      .filter(col("hr") <= 32)
      .select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (q, _, c) =>
      assert(cand.contains((q, c)), s"hit ($q,$c) escaped its candidates")
    }
  }

  test("bucketed IVF store: probe scan reads ONLY the probed cell " +
      "partitions (partition filter on the plan)") {
    val store = java.nio.file.Files.createTempDirectory("bqivf_").toString
    BinaryIvfIndex.build(emb, store, dim = 64, nlist = 8)
    // the candidate stage is the frame that reads the store (the
    // re-rank collects it eagerly, so the pruning proof lives here)
    val q0 = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").cast("array<double>").as("qvec"))
      .withColumn("qcode", BinaryQuant.packSigns(col("qvec"), 64))
    val df = BinaryIvfIndex.candidates(spark, store, q0,
      rerank = 16, nprobe = 2)
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

  test("bucketed IVF store at FULL probe serves exactly the flat " +
      "tier's answer (probing every cell makes the candidate pool " +
      "identical), and the build is deterministic") {
    val store = java.nio.file.Files.createTempDirectory("bqivf_full_").toString
    BinaryIvfIndex.build(emb, store, dim = 64, nlist = 8)
    val queries = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    val bucketed = rows(BinaryIvfIndex.query(spark, store, queries,
      emb, k = 5, rerank = 32, nprobe = 8))
    val flat = rows(BinaryQuant.binaryTopK(emb, queries, k = 5,
      rerank = 32, dim = 64))
    assert(bucketed === flat, "full-probe bucketed diverged from flat")
    // deterministic build: same corpus -> identical centroids + cells
    val again = java.nio.file.Files.createTempDirectory("bqivf_again_").toString
    BinaryIvfIndex.build(emb.repartition(7), again, dim = 64, nlist = 8)
    def cents(o: String) = spark.read.parquet(s"$o/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1).mkString(",")))
      .sorted.toSeq
    def cells(o: String) = spark.read.parquet(s"$o/codes")
      .select("corpus_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(cents(store) === cents(again))
    assert(cells(store) === cells(again))
  }

  test("bucketed IVF lifecycle: frozen-quantizer add keeps old " +
      "answers; tombstones hide immediately; purge reclaims with the " +
      "crash-safe swap and a fabricated mid-swap crash loses nothing") {
    val store = java.nio.file.Files.createTempDirectory("bqivf_life_").toString
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    BinaryIvfIndex.build(evens, store, dim = 64, nlist = 8)
    val queries = emb.filter(col("vec_id") < 6)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    val before = rows(BinaryIvfIndex.query(spark, store, queries,
      evens, k = 5, rerank = 16, nprobe = 8))
    BinaryIvfIndex.add(spark, store, odds)
    // full-probe answers over the union still contain no surprises:
    // evens-only ranks are reproduced when odds are filtered out
    val filteredBack = rows(BinaryIvfIndex.queryFiltered(spark, store,
      queries, emb, k = 5, rerank = 16,
      allowed = evens.select("vec_id"), nprobe = 8))
    assert(filteredBack === before,
      "frozen add changed the original cohort's answers")
    // tombstones hide instantly
    val victims = emb.filter(col("vec_id") % 7 === 1).select("vec_id")
    BinaryIvfIndex.removeIds(spark, store, victims)
    val afterDel = rows(BinaryIvfIndex.query(spark, store, queries,
      emb, k = 5, rerank = 16, nprobe = 8))
    assert(afterDel.forall(_._3 % 7 != 1), "a tombstoned code surfaced")
    // fabricate the mid-purge-swap crash, then purge: recovery first
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = spark.read.parquet(s"$store/codes")
    val vic = victims.select(col("vec_id").cast("long").as("corpus_id"))
    val crashCell = all.join(vic, Seq("corpus_id"), "left_semi")
      .select("cell").orderBy("cell").first().getInt(0)
    all.filter(col("cell") === crashCell)
      .join(vic, Seq("corpus_id"), "left_anti")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$store/.purge_tmp_codes")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$store/codes/cell=$crashCell"), true)
    assert(BinaryIvfIndex.purgeDeletes(spark, store) > 0)
    val after = spark.read.parquet(s"$store/codes")
    assert(after.join(vic, Seq("corpus_id"), "left_semi").count() === 0)
    assert(after.count() ===
      emb.count() - emb.filter(col("vec_id") % 7 === 1).count())
    assert(rows(BinaryIvfIndex.query(spark, store, queries, emb,
      k = 5, rerank = 16, nprobe = 8)) === afterDel,
    "purge changed the served answers")
  }

  test("a re-added id's duplicate code rows collapse at read time: " +
      "each (query, corpus) pair competes once with its best-Hamming " +
      "copy, so a duplicate never displaces a distinct neighbor") {
    val store = java.nio.file.Files.createTempDirectory("bqivf_dup_").toString
    val base = emb.filter(col("vec_id") < 40)
    BinaryIvfIndex.build(base, store, dim = 64, nlist = 4)
    // re-add ids 10..14 with NEGATED vectors — the add contract is
    // append-only, so both copies now sit in the code store (possibly
    // in different cells)
    val readded = base.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select(col("vec_id"), transform(col("embedding")
        .cast("array<double>"), x => x * lit(-1.0)).as("embedding"))
    BinaryIvfIndex.add(spark, store, readded)
    val dupIds = spark.read.parquet(s"$store/codes")
      .groupBy("corpus_id").count().filter(col("count") > 1).count()
    assert(dupIds === 5L, "append-only add did not append")
    val queries = emb.filter(col("vec_id") < 3)
    val got = BinaryIvfIndex.query(spark, store, queries, base,
        k = 5, rerank = 40, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // no (query, corpus) pair twice, and every query still fills k
    // with DISTINCT ids
    assert(got.distinct.length === got.length,
      "a duplicate corpus row occupied two ranks for one query")
    got.groupBy(_._1).foreach { case (q, hits) =>
      assert(hits.map(_._2).distinct.length === 5, s"query $q short")
    }
  }

  test("pinned snapshot on the bucketed store: pre-mutation answers " +
      "bit-for-bit through add/remove; purge DEFERS while pinned " +
      "and reclaims after release") {
    val store = java.nio.file.Files.createTempDirectory("bqivf_pin_").toString
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    BinaryIvfIndex.build(evens, store, dim = 64, nlist = 4)
    BinaryIvfIndex.removeIds(spark, store,
      emb.filter(col("vec_id") % 5 === 2).select("vec_id"))
    val tok = BinaryIvfIndex.pinGeneration(spark, store)
    assert(tok === 0)
    val queries = emb.filter(col("vec_id") < 6)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    val atPin = rows(BinaryIvfIndex.query(spark, store, queries,
      emb, k = 5, rerank = 32, nprobe = 4))
    BinaryIvfIndex.add(spark, store, odds)
    BinaryIvfIndex.removeIds(spark, store,
      emb.filter(col("vec_id") % 3 === 0).select("vec_id"))
    assert(BinaryIvfIndex.purgeDeletes(spark, store) === 0,
      "purge must defer while its generation is pinned")
    assert(rows(BinaryIvfIndex.queryPinned(spark, store, tok,
        queries, emb, k = 5, rerank = 32, nprobe = 4)) === atPin,
      "pinned query diverged from pin-time answers")
    IvfIndex.releaseGeneration(spark, store, tok)
    assert(BinaryIvfIndex.purgeDeletes(spark, store) > 0,
      "release must re-enable the purge")
    intercept[IllegalArgumentException] {
      BinaryIvfIndex.queryPinned(spark, store, tok, queries, emb,
        k = 5, rerank = 32, nprobe = 4)
    }
  }
}
