package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted MATRYOSHKA (MRL) two-stage store — the store-served form
 * of [[Similarity.matryoshkaTopK]] (Kusupati et al. 2022): that
 * operator's stage 1 is a corpus-wide prefix scan per call — right
 * for a one-shot batch, linear at 100 TB. Here the PREFIX space gets
 * its own IVF layout, so stage 1 reads probed cells only AND touches
 * prefixDim/dim of each row's bytes — the two scale cuts compose.
 *
 * Layout (the shared [[CellStore]] shape — its tombstone/purge/
 * recover/pin machinery covers both subdirs):
 *  - `centroids/` — coarse k-means trained ON THE PREFIX SPACE (the
 *    same md5-seeded ordered-sample Lloyd as every tier, over
 *    prefix-sliced sample vectors — the SQ8/binary families' "train
 *    in the space you rank in" discipline), so training replays in
 *    DuckDB;
 *  - `cells/` — `partitionBy(cell)`: (corpus_id, pvec, pnorm) — the
 *    prefix slice and its norm, prefixDim/dim of the corpus bytes;
 *  - `vectors/` — `partitionBy(cell)`: (corpus_id, cvec, cnorm) —
 *    the full-dim refine sidecar ([[IvfPqIndex]]'s refineStore
 *    mechanism), cell-assigned in lockstep with `cells/`.
 *
 * Query: probe the `nprobe` (neg-cosine)-nearest coarse cells in
 * prefix space — driver-side, pushed as a PARTITION FILTER
 * (plan-locked in MrlIndexSpec) — rank the probed mass by prefix
 * cosine (zero-prefix rows sentinel to −2.0, below any real cosine —
 * NaN would sort first in Spark and diverge from DuckDB), cut
 * `rerank` candidates, then re-rank exactly from the `vectors/`
 * sidecar with the SAME probed-cell partition pruning (candidates can
 * only live in probed cells) plus a broadcast candidate-id join. Scan
 * term ∝ probed prefix bytes + candidate full rows — never
 * corpus-linear on either stage.
 *
 * Lifecycle: [[add]] appends against the frozen prefix quantizer
 * (sidecar FIRST, then cells — an orphaned sidecar row is never a
 * candidate, while a cells row without its sidecar row would drop a
 * candidate at re-rank; append-only for unique ids, duplicate copies
 * collapse to their best at read like the binary/SQ8 tiers);
 * [[removeIds]]/[[purgeDeletes]] are the shared tombstone protocol,
 * whose purge pass reclaims `vectors/` alongside `cells/`.
 */
object MrlIndex extends CellStore("_mrl_marker.json", "mrl",
    subdirs = Seq("cells", "vectors"), quantizerDirs = Seq("centroids")) {

  /** The prefix-space coarse centroids. */
  type Quantizer = Array[Array[Double]]

  protected def loadQuantizer(conf: org.apache.hadoop.conf.Configuration,
                              root: String, m: CellMarker): Quantizer =
    CellStore.centroidsAt(conf, root)

  protected def probeCol = "qpre"

  protected def probeCells(c: Quantizer, nprobe: Int) = CellStore.cosineProbe(c, nprobe)

  override protected def corpusId(c: Column): Column = c.cast("long")

  /** Prefix-space assignment; sidecar FIRST, then cells (the scaladoc's
    * crash-ordering note). */
  protected def encode(vectors: DataFrame, m: CellMarker,
                       centroids: Quantizer): Seq[(String, DataFrame)] = {
    val prefixDim = m.int("prefixDim")
    val (_, nearest) = Similarity.cellFns(centroids, prefixDim)
    val base = vectors.select(col(m.idCol).cast("long").as("corpus_id"),
        col(m.vecCol).cast("array<double>").as("cvec"))
      .withColumn("pvec", slice(col("cvec"), 1, prefixDim))
      .withColumn("pnorm", Similarity.norm(col("pvec")))
      .withColumn("cnorm", Similarity.norm(col("cvec")))
      .withColumn("cell", nearest(col("pvec")))
    Seq("vectors" -> base.select("corpus_id", "cvec", "cnorm", "cell"),
      "cells" -> base.select("corpus_id", "pvec", "pnorm", "cell"))
  }

  /** Train the prefix-space coarse quantizer on the md5-ordered
    * sample and persist prefix cells + the full-dim refine sidecar. */
  def build(corpus: DataFrame, out: String, dim: Int, prefixDim: Int,
            nlist: Int = 16, sampleSize: Int = 2048, seed: Long = 42L,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(prefixDim >= 1 && prefixDim <= dim,
      s"prefixDim must be in [1, $dim], got $prefixDim")
    val prefixed = corpus.select(col(idCol),
      slice(col(vecCol).cast("array<double>"), 1, prefixDim).as("pvec"))
    val centroids = Similarity.trainCentroids(prefixed, nlist, sampleSize,
      seed, idCol, "pvec")
    CellStore.writeCentroids(corpus.sparkSession, out, centroids)
    val m = CellMarker.of("dim" -> dim, "prefixDim" -> prefixDim,
      "eff" -> centroids.length, "seed" -> seed, "idCol" -> idCol, "vecCol" -> vecCol)
    commitStore(out, m, encode(corpus, m, centroids))
  }

  /** Two-stage serving FROM THE STORE: probe-pruned prefix ranking,
    * exact full-dim re-rank from the sidecar. Output (query_id, rank,
    * corpus_id) — the family shape. `allowed` (first column = id) is
    * the FILTERED-SEARCH selector, semi-joined after probe pruning. */
  def query(spark: SparkSession, out: String, queries: DataFrame,
            k: Int, rerank: Int, nprobe: Int = 4,
            allowed: Option[DataFrame] = None): DataFrame =
    queryAt(live(spark, out), queries, k, rerank, nprobe, allowed)

  /** Query a PINNED snapshot: both stages read exactly the pin-time
    * file sets, tombstones are the pin's snapshot — bit-for-bit
    * pin-time answers whatever mutations landed since (hash-oracled
    * in q342). */
  def queryPinned(spark: SparkSession, out: String, token: Int,
                  queries: DataFrame, k: Int, rerank: Int,
                  nprobe: Int = 4,
                  allowed: Option[DataFrame] = None): DataFrame =
    queryAt(pinned(spark, out, token), queries, k, rerank, nprobe, allowed)

  private def queryAt(v: View, queries: DataFrame, k: Int, rerank: Int,
                      nprobe: Int, allowed: Option[DataFrame]): DataFrame = {
    val m = v.marker
    val p = probe(v, queries.select(col(m.idCol).cast("long").as("query_id"),
        col(m.vecCol).cast("array<double>").as("qvec"))
      .withColumn("qpre", slice(col("qvec"), 1, m.int("prefixDim")))
      .withColumn("qpnorm", Similarity.norm(col("qpre")))
      .withColumn("qnorm", Similarity.norm(col("qvec"))), nprobe)
    // stage 1: prefix cosine over the probed cells (zero-prefix rows
    // sentinel to −2.0, below any real cosine)
    val cand = PerQueryTopK(scan(v, "cells", p, allowed, "qpre", "qpnorm")
        .withColumn("pcos",
          when(col("qpnorm") === 0d || col("pnorm") === 0d, lit(-2.0))
            .otherwise(Similarity.dot(col("qpre"), col("pvec")) /
              (col("qpnorm") * col("pnorm")))),
      "pcos", desc = true, rerank, collapse = true, batch = Some(p.size))
      .select("query_id", "corpus_id")
    // stage 2: exact full-dim re-rank from the sidecar — the probed
    // cells prune the partition read (candidates only live there),
    // the broadcast candidate join restricts rows inside them
    val rer = v.frame("vectors", p.cells).select("corpus_id", "cvec", "cnorm")
      .join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(p.local.select("query_id", "qvec", "qnorm")), Seq("query_id"))
      .withColumn("cosine", Similarity.dot(col("qvec"), col("cvec")) /
        (col("qnorm") * col("cnorm")))
    PerQueryTopK(rer, "cosine", desc = true, k, collapse = true, batch = Some(p.size))
      .select(col("query_id"), col("rank"), col("corpus_id"))
  }

  protected def serve(spark: SparkSession, out: String, queries: => DataFrame,
                      k: Int, nprobe: Int, rerank: Int,
                      allowed: Option[DataFrame]): DataFrame =
    query(spark, out, queries, k, rerank, nprobe, allowed)

  /** Quantization-drift probe in PREFIX space — the retrain trigger
    * for the frozen prefix quantizer: the stored cohort is the
    * persisted prefix slices, the recent cohort's vectors slice down
    * to the prefix first. */
  def assignmentDrift(spark: SparkSession, out: String,
                      recent: DataFrame): DataFrame = {
    val v = live(spark, out)
    val prefixDim = v.marker.int("prefixDim")
    drift(spark, out, v.quantizer, prefixDim, col("pvec"), recent,
      slice(col(v.marker.vecCol).cast("array<double>"), 1, prefixDim))
  }
}
