package graft.search

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The {!knn} dense-vector qparser: local-param parsing and the
  * exact cosine topK contract, including Solr 9.1 pre-filtering. */
class KnnQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val df = {
    import spark.implicits._
    Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(1.0f, 1.0f), 1),
      (4L, Seq(-1.0f, 0.0f), 1),
      (5L, Seq(0.9f, 0.1f), 2)
    ).toDF("vec_id", "embedding", "label")
  }

  test("parse: both param orders, required params enforced") {
    val r = KnnQuery.parse("{!knn f=embedding topK=3}[0.5, -1.25, 2]")
    assert(r === KnnQuery.KnnRequest("embedding", 3, Seq(0.5, -1.25, 2.0)))
    assert(KnnQuery.parse("{!knn topK=7 f=v}[1]") ===
      KnnQuery.KnnRequest("v", 7, Seq(1.0)))
    intercept[IllegalArgumentException](KnnQuery.parse("{!knn f=v}[1]"))       // no topK
    intercept[IllegalArgumentException](KnnQuery.parse("{!knn topK=3}[1]"))    // no f
    intercept[IllegalArgumentException](KnnQuery.parse("{!knn f=v topK=3}[]")) // empty vec
    intercept[IllegalArgumentException](KnnQuery.parse("v:[1 TO 2]"))          // not knn
    intercept[IllegalArgumentException](KnnQuery.parse("{!lucene}[1]"))        // other parser
  }

  test("search: exact cosine order with (score desc, id) ties") {
    val got = KnnQuery.knn(df, "{!knn f=embedding topK=3}[1,0]", "vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // cos vs [1,0]: id1=1.0, id5=0.993884, id3=0.707107, id2=0.0, id4=-1.0
    assert(got.map(_._1) === Seq(1L, 5L, 3L))
    assert(got.head._2 === 1.0)
    assert(math.abs(got(2)._2 - 0.707107) < 1e-9)
  }

  test("pre-filter applies BEFORE the topK cut") {
    // labels {1,2} only; topK=2 must come from the filtered set
    val got = KnnQuery.knn(df, "{!knn f=embedding topK=2}[1,0]", "vec_id",
        fq = Some("label:[1 TO *]"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(5L, 3L)) // id1 (label 0) excluded despite cos=1.0
  }

  test("store dispatch: the literal request batch served from the " +
      "persisted HNSW store equals the store's native query path; " +
      "fq compiles into the acceptDocs set; bad batches fail loudly") {
    import graft.ops.HnswIndex
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.sf)
    val store = java.nio.file.Files.createTempDirectory("knn_hnsw_").toString
    HnswIndex.build(emb, store, dim = 64)
    val reqRows = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val requests = reqRows.map { case (id, v) =>
      (id, s"{!knn f=embedding topK=4}[${v.mkString(",")}]")
    }.toSeq
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    val served = rows(KnnQuery.knnStore(spark, store, requests))
    val native = rows(HnswIndex.query(spark, store,
      emb.filter(col("vec_id") < 5), k = 4, efSearch = 64))
    assert(served === native, "request-string path diverged from native")
    // filtered: fq against a metadata frame = native queryFiltered
    val meta = emb.select(col("vec_id"), col("label"))
    val servedF = rows(KnnQuery.knnStore(spark, store, requests,
      meta = Some(meta), fq = Some("label:[1 TO *]")))
    val nativeF = rows(HnswIndex.queryFiltered(spark, store,
      emb.filter(col("vec_id") < 5), k = 4,
      emb.filter(col("label") >= 1).select("vec_id"), efSearch = 64))
    assert(servedF === nativeF, "fq path diverged from native filtered")
    // mixed topK / wrong field / fq without meta all refuse
    intercept[IllegalArgumentException](KnnQuery.knnStore(spark, store,
      Seq((0L, "{!knn f=embedding topK=2}[1]"),
        (1L, "{!knn f=embedding topK=3}[1]"))))
    intercept[IllegalArgumentException](KnnQuery.knnStore(spark, store,
      Seq((0L, "{!knn f=other topK=2}[" +
        Seq.fill(64)("0.1").mkString(",") + "]"))))
    intercept[IllegalArgumentException](KnnQuery.knnStore(spark, store,
      requests, fq = Some("label:1")))
  }

  test("tier dispatch (round 17): the SAME request strings serve the " +
      "IVF and MRL stores bit-identically to their direct query " +
      "paths (filtered form included); code-only tiers refuse with a " +
      "corpus-frame pointer") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.sf)
      .filter(col("vec_id") < 200)
    val reqs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0),
        s"{!knn f=embedding topK=5}[${r.getSeq[Double](1).mkString(",")}]"))
      .toSeq
    val queries = emb.filter(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    val meta = emb.select(col("vec_id"),
      pmod(col("vec_id"), lit(3)).as("m3"))
    val allowedIds = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id")
    val ivf = java.nio.file.Files.createTempDirectory("knn_ivf_").toString
    graft.ops.IvfIndex.build(emb, ivf, dim = 64, nlist = 4)
    assert(rows(KnnQuery.knnStore(spark, ivf, reqs, nprobe = 4)) ===
      rows(graft.ops.IvfIndex.query(spark, ivf, queries, k = 5,
        nprobe = 4)), "ivf dispatch diverged from the direct path")
    assert(rows(KnnQuery.knnStore(spark, ivf, reqs, nprobe = 4,
        meta = Some(meta), fq = Some("m3:0"))) ===
      rows(graft.ops.IvfIndex.query(spark, ivf, queries, k = 5,
        nprobe = 4, allowed = Some(allowedIds))),
      "ivf fq dispatch diverged from the direct filtered path")
    val mrl = java.nio.file.Files.createTempDirectory("knn_mrl_").toString
    graft.ops.MrlIndex.build(emb, mrl, dim = 64, prefixDim = 16,
      nlist = 4)
    assert(rows(KnnQuery.knnStore(spark, mrl, reqs, nprobe = 4,
        rerank = 16)) ===
      rows(graft.ops.MrlIndex.query(spark, mrl, queries, k = 5,
        rerank = 16, nprobe = 4)),
      "mrl dispatch diverged from the direct path")
    val sq8 = java.nio.file.Files.createTempDirectory("knn_sq8_").toString
    graft.ops.Sq8Index.build(emb, sq8, dim = 64, nlist = 4)
    val e = intercept[IllegalArgumentException](
      KnnQuery.knnStore(spark, sq8, reqs))
    assert(e.getMessage.contains("corpus frame"),
      s"sq8 refusal must point at the corpus-frame APIs: ${e.getMessage}")
  }
}
