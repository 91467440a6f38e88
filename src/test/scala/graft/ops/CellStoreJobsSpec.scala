package graft.ops

import graft.{Graft, Tables, TestSpark}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JOB BUDGETS of one `{!knn}` request per cell-store tier and on
  * HNSW — every stage of a cell-store query is one Spark job (the
  * probe and its broadcasts run on the driver, data subdirs read
  * under their footer schema, the per-query top-n shuffles inside its
  * own operator). Budgets may only go down. */
class CellStoreJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val emb = Tables.embeddings(spark, TestSpark.sf).filter(col("vec_id") < 400)
  private lazy val root = java.nio.file.Files.createTempDirectory("cellstore_jobs_").toString

  /** Jobs `body` runs, counted through its job group. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "job budget", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    ListenerBusDrain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private lazy val request: String = {
    val v = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Any](0)
    s"{!knn f=embedding topK=10}[${v.mkString(",")}]"
  }

  private def knnJobs(store: String): Int = {
    def serve() = Graft.knnServe(spark, store, Seq((-1L, request)), nprobe = 4, rerank = 16)
      .orderBy("rank").collect()
    assert(serve().length === 10)
    jobs(serve())
  }

  test("one {!knn} request: IVF 1 job, IVF-PQ with refine sidecar 2, MRL 2") {
    val ivf = s"$root/ivf"
    val pq = s"$root/ivfpq"
    val mrl = s"$root/mrl"
    Graft.buildAnnIndex(emb, ivf, 64, nlist = 8)
    Graft.buildAnnIndex(emb, pq, 64, nlist = 8, compressed = true, refineStore = true)
    Graft.buildMrlIndex(emb, mrl, 64, prefixDim = 16, nlist = 8)
    // IVF: scan + top-n; IVF-PQ: ADC candidates, sidecar re-rank; MRL:
    // prefix candidates, sidecar re-rank
    assert((knnJobs(ivf), knnJobs(pq), knnJobs(mrl)) === ((1, 2, 2)))
  }

  test("one {!knn} request on HNSW: 2 jobs") {
    val hnsw = s"$root/hnsw"
    Graft.buildHnswIndex(emb, hnsw, 64)
    // the graph's shard exchange, then the walk with its per-query top-k
    assert(knnJobs(hnsw) === 2)
  }

  test("a parquet scan joined to a broadcast local Seq collects in one job") {
    import spark.implicits._
    val path = s"$root/scan"
    emb.select("vec_id").write.mode("overwrite").parquet(path)
    val scan = spark.read.schema("vec_id long").parquet(path)
    val local: DataFrame = Seq(1L, 2L, 3L).toDF("vec_id")
    val joined = scan.join(broadcast(local), Seq("vec_id"))
    assert(joined.count() === 3)
    assert(jobs(joined.collect()) === 1)
  }
}
