package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared cell-store pieces: marker round trip, the registry, and
  * the bounded query-batch collect of the driver-side probe. */
class CellStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("marker JSON round-trips byte-for-byte in declaration order") {
    val txt = """{"dim":64,"prefixDim":16,"eff":4,"seed":42,""" +
      """"idCol":"vec_id","vecCol":"embedding"}"""
    val m = CellMarker.parse(txt)
    assert(m.json === txt)
    assert((m.dim, m.int("prefixDim"), m.eff, m.seed, m.idCol, m.vecCol) ===
      ((64, 16, 4, 42L, "vec_id", "embedding")))
  }

  test("the registry resolves each codec by its marker and refuses an " +
      "unknown path by name") {
    val emb = Tables.embeddings(spark, TestSpark.sf).filter(col("vec_id") < 100)
    val root = java.nio.file.Files.createTempDirectory("cellstore_reg_").toString
    IvfIndex.build(emb, s"$root/ivf", dim = 64, nlist = 4)
    Sq8Index.build(emb, s"$root/sq8", dim = 64, nlist = 4)
    assert(CellStore(spark, s"$root/ivf") eq IvfIndex)
    assert(CellStore(spark, s"$root/sq8") eq Sq8Index)
    val e = intercept[IllegalArgumentException](CellStore(spark, s"$root/none"))
    assert(e.getMessage.contains(s"$root/none"))
  }

  test("a query batch over the probe's row cap fails naming the cap and " +
      "the batch size") {
    import spark.implicits._
    val n = CellStore.MaxQueryBatch + 1
    val batch = spark.range(n).select(col("id").as("query_id"))
    val e = intercept[IllegalArgumentException](CellStore.collectBatch(batch))
    assert(e.getMessage.contains(s"${CellStore.MaxQueryBatch}") &&
      e.getMessage.contains(s"$n rows"), e.getMessage)
    assert(CellStore.collectBatch(Seq(1L, 2L).toDF("query_id")).length === 2)
  }
}
