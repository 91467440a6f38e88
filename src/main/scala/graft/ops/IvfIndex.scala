package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED IVF (inverted-file) ANN index — the build/load split over
 * [[Similarity.ivfTopK]]'s batch form: that operator (re)trains
 * centroids and re-assigns the whole corpus on every call, which is
 * right for a one-shot batch query but wrong for a 100 TB corpus
 * serving many query batches. Here the index is built ONCE:
 *
 *  - `centroids/` — the trained k-means centroid matrix (tiny,
 *    driver-loadable; the same ordered-sample md5-seeded Lloyd
 *    training as the batch operator, so answers are bit-identical);
 *  - `cells/` — the corpus assignments written `partitionBy(cell)`:
 *    one parquet directory per inverted list, each row carrying the
 *    vector and its precomputed norm;
 *  - `_ivf_marker.json` — dim/nlist/seed/column config.
 *
 * A query batch probes its `nprobe` nearest cells and reads ONLY
 * those cells' directories — the probed cell set comes from the
 * driver-side probe of the (broadcast-small by contract) query batch
 * and is pushed as a partition filter, so scan I/O is ∝ probed mass,
 * not corpus size (`IvfIndexSpec` asserts the partition pruning on
 * the plan). Incremental adds assign against the FROZEN centroids.
 *
 * This object is the raw-vector CODEC; the whole store lifecycle —
 * adds, streamed batches, tombstone deletes and purge, compaction,
 * retrain generations, pins — is the shared [[CellStore]].
 */
object IvfIndex extends CellStore("_ivf_marker.json", "ivf",
    subdirs = Seq("cells"), quantizerDirs = Seq("centroids")) {

  type Quantizer = Array[Array[Double]]

  protected def loadQuantizer(conf: org.apache.hadoop.conf.Configuration,
                              root: String, m: CellMarker): Quantizer =
    CellStore.centroidsAt(conf, root)

  protected def probeCol = "qvec"

  protected def probeCells(c: Quantizer, nprobe: Int) = CellStore.cosineProbe(c, nprobe)

  protected def encode(vectors: DataFrame, m: CellMarker,
                       centroids: Quantizer): Seq[(String, DataFrame)] = {
    val (_, nearest) = Similarity.cellFns(centroids, m.dim)
    Seq("cells" -> vectors.select(col(m.idCol).as("corpus_id"),
        col(m.vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", Similarity.norm(col("cvec")))
      .withColumn("cell", nearest(col("cvec"))))
  }

  /** Train on the corpus (ordered sample, md5-seeded Lloyd — identical
    * to the batch operator's training) and persist centroids + cell
    * assignments. `nlist ≈ sqrt(corpus rows)` is the classical sizing;
    * cells/ becomes one directory per inverted list. */
  def build(corpus: DataFrame, out: String, dim: Int,
            nlist: Int = 16, sampleSize: Int = 2048, seed: Long = 42L,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    writeGeneration(corpus, out, dim, nlist, sampleSize, seed, idCol, vecCol)

  /** One complete generation under `root` — [[build]] (the store
    * root, gen 0) and [[retrain]] (the next `gN/`). */
  private def writeGeneration(corpus: DataFrame, root: String, dim: Int,
                              nlist: Int, sampleSize: Int, seed: Long,
                              idCol: String, vecCol: String): Unit = {
    val centroids = Similarity.trainCentroids(corpus, nlist, sampleSize, seed,
      idCol, vecCol)
    CellStore.writeCentroids(corpus.sparkSession, root, centroids)
    val m = CellMarker.of("dim" -> dim, "eff" -> centroids.length,
      "seed" -> seed, "idCol" -> idCol, "vecCol" -> vecCol)
    commitStore(root, m, encode(corpus, m, centroids))
  }

  /** RETRAIN — the operator [[assignmentDrift]]'s signal calls for:
    * re-run the SAME md5-seeded ordered-sample Lloyd protocol over the
    * CURRENT live corpus (store + adds − deletes), re-assign every
    * vector, and commit the result as a new generation (the shared
    * retrain commit — old-generation readers keep serving to
    * completion, tombstones fold in and clear). Bit-identical to
    * `build` over that corpus — q309 hash-locks retrain-then-query ≡
    * build-from-scratch-then-query. Returns the new generation. */
  def retrain(spark: SparkSession, out: String, nlist: Int = 0,
              sampleSize: Int = 2048): Int =
    retrainFrom(spark, out, "cells") { (m, corpus, root) =>
      writeGeneration(corpus, root, m.dim, if (nlist > 0) nlist else m.eff,
        sampleSize, m.seed, m.idCol, m.vecCol)
    }

  /**
   * Query the persisted index: identical semantics (and bit-identical
   * cosines) to [[Similarity.ivfTopK]] with the same build
   * parameters, but the corpus is never scanned — only the probed
   * cells' partitions are read, and no training runs.
   */
  def query(spark: SparkSession, out: String, queries: DataFrame, k: Int,
            nprobe: Int = 4): DataFrame =
    query(spark, out, queries, k, nprobe, allowed = None)

  /** As [[query]], with an optional FILTERED-SEARCH id selector (the
    * FAISS `IDSelector` / production metadata-filter shape): ranking
    * restricts to `allowed`'s ids (first column), semi-joined after
    * probe pruning. Top-k is over allowed survivors — exactly Solr's
    * `{!knn}` + fq composition. */
  def query(spark: SparkSession, out: String, queries: DataFrame, k: Int,
            nprobe: Int, allowed: Option[DataFrame]): DataFrame =
    queryAt(live(spark, out), queries, k, nprobe, allowed)

  /** Named form of the filtered search ([[query]]'s `allowed` arm). */
  def queryFiltered(spark: SparkSession, out: String, queries: DataFrame,
                    k: Int, allowed: DataFrame,
                    nprobe: Int = 4): DataFrame =
    query(spark, out, queries, k, nprobe, Some(allowed))

  /** Query a PINNED snapshot: the pinned generation's centroids, the
    * pin's recorded file set and tombstones — bit-for-bit the answers
    * of pin time, whatever mutations landed since. */
  def queryPinned(spark: SparkSession, out: String, token: Int,
                  queries: DataFrame, k: Int, nprobe: Int = 4,
                  allowed: Option[DataFrame] = None): DataFrame =
    queryAt(pinned(spark, out, token), queries, k, nprobe, allowed)

  private def queryAt(v: View, queries: DataFrame, k: Int, nprobe: Int,
                      allowed: Option[DataFrame]): DataFrame = {
    val m = v.marker
    val p = probe(v, queries.select(col(m.idCol).as("query_id"),
        col(m.vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", Similarity.norm(col("qvec"))), nprobe)
    val scored = scan(v, "cells", p, allowed, "qvec", "qnorm")
      .withColumn("cosine", Similarity.dot(col("qvec"), col("cvec")) /
        (col("qnorm") * col("cnorm")))
      .select(col("query_id"), col("corpus_id"), col("cosine"))
    PerQueryTopK(scored, "cosine", desc = true, k, batch = Some(p.size))
  }

  protected def serve(spark: SparkSession, out: String, queries: => DataFrame,
                      k: Int, nprobe: Int, rerank: Int,
                      allowed: Option[DataFrame]): DataFrame =
    query(spark, out, queries, k, nprobe, allowed)
      .select(col("query_id"), col("rank"), col("corpus_id"))

  /** Quantization drift of the raw store (oracled in q308). */
  def assignmentDrift(spark: SparkSession, out: String,
                      recent: DataFrame): DataFrame = {
    val v = live(spark, out)
    drift(spark, out, v.quantizer, v.marker.dim, col("cvec"), recent,
      col(v.marker.vecCol).cast("array<double>"))
  }
}
