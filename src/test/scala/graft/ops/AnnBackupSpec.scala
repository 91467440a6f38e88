package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pin-manifest backup: the copy serves backup-time answers from its
  * own directory, source mutations never reach it, the backup is
  * itself a serving AND mutable store, and both subdirs of a
  * two-subdir tier travel. */
class AnnBackupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "rank", "corpus_id")
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    .sorted.toSeq

  test("IVF: backup mid-mutation == the pre-backup live answers; " +
      "post-backup source mutations (add/remove/purge) never reach " +
      "the copy; the copy itself accepts adds") {
    val root = java.nio.file.Files.createTempDirectory("annbak_").toString
    val src = s"$root/src"; val bak = s"$root/bak"
    val evens = emb.filter(col("vec_id") % 2 === 0)
    IvfIndex.build(evens, src, dim = 64, nlist = 4)
    IvfIndex.removeIds(spark, src,
      emb.filter(col("vec_id") % 5 === 2).select("vec_id"))
    val queries = emb.filter(col("vec_id") < 6)
    val atBackup = rows(IvfIndex.query(spark, src, queries, k = 5,
      nprobe = 4))
    assert(AnnBackup.backup(spark, src, bak) > 0, "no data files copied")
    // the pin released: the source purge must physically reclaim
    IvfIndex.add(spark, src, emb.filter(col("vec_id") % 2 === 1))
    IvfIndex.removeIds(spark, src,
      emb.filter(col("vec_id") % 3 === 0).select("vec_id"))
    assert(IvfIndex.purgeDeletes(spark, src) > 0,
      "post-release purge must run")
    assert(rows(IvfIndex.query(spark, bak, queries, k = 5,
        nprobe = 4)) === atBackup,
      "backup diverged from backup-time answers")
    // the copy is a live store: a fresh add (an id existing in
    // NEITHER store) applies there only
    IvfIndex.add(spark, bak, emb.filter(col("vec_id") === 2)
      .select(lit(9001L).as("vec_id"), col("embedding")))
    assert(spark.read.parquet(s"$bak/cells")
        .filter(col("corpus_id") === 9001L).count() === 1,
      "the backup did not accept an add")
    assert(spark.read.parquet(s"$src/cells")
        .filter(col("corpus_id") === 9001L).count() === 0,
      "a backup add leaked into the source")
    intercept[IllegalArgumentException] {
      AnnBackup.backup(spark, src, bak) // dest exists
    }
  }

  test("MRL (two-subdir tier): both prefix cells AND the refine " +
      "sidecar travel; the backup serves the pinned two-stage answer") {
    val root = java.nio.file.Files.createTempDirectory("annbak_mrl_").toString
    val src = s"$root/src"; val bak = s"$root/bak"
    val evens = emb.filter(col("vec_id") % 2 === 0)
    MrlIndex.build(evens, src, dim = 64, prefixDim = 16, nlist = 4)
    val queries = emb.filter(col("vec_id") < 6)
    val atBackup = rows(MrlIndex.query(spark, src, queries, k = 5,
      rerank = 16, nprobe = 4))
    assert(AnnBackup.backup(spark, src, bak) > 0)
    MrlIndex.add(spark, src, emb.filter(col("vec_id") % 2 === 1))
    assert(rows(MrlIndex.query(spark, bak, queries, k = 5,
        rerank = 16, nprobe = 4)) === atBackup,
      "MRL backup diverged")
    Seq("cells", "vectors").foreach { sub =>
      assert(new java.io.File(s"$bak/$sub").isDirectory,
        s"backup is missing $sub/")
    }
  }

  test("binary IVF dispatch: the marker routes the pin, codes travel, " +
      "the backup serves backup-time answers against a caller-kept " +
      "corpus frame") {
    val root = java.nio.file.Files.createTempDirectory("annbak_bq_").toString
    val src = s"$root/src"; val bak = s"$root/bak"
    val evens = emb.filter(col("vec_id") % 2 === 0)
    BinaryIvfIndex.build(evens, src, dim = 64, nlist = 4)
    val queries = emb.filter(col("vec_id") < 6)
    def q(o: String) = rows(BinaryIvfIndex.query(spark, o, queries,
      evens, k = 5, rerank = 32, nprobe = 4))
    val atBackup = q(src)
    assert(AnnBackup.backup(spark, src, bak) > 0)
    BinaryIvfIndex.add(spark, src,
      emb.filter(col("vec_id") % 2 === 1))
    assert(q(bak) === atBackup, "binary backup diverged")
  }

  test("an HNSW store is refused before it is touched: its live pin " +
      "keeps serving pin-time answers and no backup appears") {
    val root = java.nio.file.Files.createTempDirectory("annbak_hnsw_").toString
    val src = s"$root/src"; val bak = s"$root/bak"
    HnswIndex.build(emb.filter(col("vec_id") < 200), src, dim = 64, shards = 2)
    val queries = emb.filter(col("vec_id") < 6)
    val tok = HnswIndex.pinSnapshot(spark, src)
    val atPin = rows(HnswIndex.queryPinned(spark, src, tok, queries, k = 5))
    intercept[IllegalArgumentException] {
      graft.Graft.backupAnnStore(spark, src, bak)
    }
    assert(rows(HnswIndex.queryPinned(spark, src, tok, queries, k = 5)) === atPin,
      "the refused backup disturbed the live HNSW pin")
    assert(!new java.io.File(bak).exists(), "a refused backup left a destination")
    HnswIndex.releaseSnapshot(spark, src, tok)
  }
}
