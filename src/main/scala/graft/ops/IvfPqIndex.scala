package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED IVF-PQ index — [[IvfIndex]]'s build/load split applied to
 * [[Similarity.ivfPqTopK]] (FAISS `IVFPQ` on disk): the store holds
 * the COMPRESSED corpus only —
 *
 *  - `centroids/` — the coarse quantizer (tiny, driver-loadable);
 *  - `codebooks/` — the m flat residual sub-codebooks (tiny);
 *  - `cells/` — `partitionBy(cell)` parquet of (corpus_id, codes):
 *    m SMALL INTS per vector instead of dim doubles — the ~32×
 *    compression that lets a billion-vector index fit where raw
 *    vectors cannot. Original vectors are NOT stored by default:
 *    queries score by ADC against the codebooks alone.
 *  - `vectors/` (optional, `build(refineStore = true)` — FAISS
 *    `IndexRefineFlat`): a raw-vector sidecar partitioned by the SAME
 *    cells, so [[queryRefinedStored]]'s exact re-rank fetches from the
 *    probed cells only. Deletes/purges/compaction/streamed adds all
 *    cover it alongside the code cells.
 *
 * Query batches probe their nprobe nearest cells on the driver — on
 * the same normalized query vector the batch operator's expression
 * probe ranks — and read ONLY those cells' partitions (plan-asserted
 * in IvfPqIndexSpec). Answers are bit-identical to the batch
 * `ivfPqTopK` with the same build parameters — q294 shares q293's
 * DuckDB oracle.
 *
 * This object is the product-code CODEC; the store lifecycle (frozen
 * adds, streamed batches, tombstones, compaction, retrain
 * generations, pins) is the shared [[CellStore]].
 */
object IvfPqIndex extends CellStore("_ivfpq_marker.json", "ivfpq",
    subdirs = Seq("cells", "vectors"), quantizerDirs = Seq("centroids", "codebooks")) {

  /** (coarse centroids, flat [s][code][dim/m] sub-codebooks) */
  type Quantizer = (Array[Array[Double]], IndexedSeq[Double])

  protected def loadQuantizer(conf: org.apache.hadoop.conf.Configuration,
                              root: String, m: CellMarker): Quantizer =
    (CellStore.centroidsAt(conf, root),
      graft.util.SmallParquet.rows(conf, s"$root/codebooks")
        .sortBy(r => (r.int("s"), r.int("code")))
        .flatMap(_.doubleArray("c")).toIndexedSeq)

  protected def probeCol = "nq"

  protected def probeCells(q: Quantizer, nprobe: Int) = CellStore.cosineProbe(q._1, nprobe)

  /** Codes into `cells/`, and the raw rows of the SAME encoded frame
    * into the `vectors/` sidecar — so sidecar and code store can never
    * disagree on assignment. */
  protected def encode(vectors: DataFrame, mk: CellMarker,
                       q: Quantizer): Seq[(String, DataFrame)] = {
    val full = Similarity.encodeIvfPqFull(vectors, q._1, q._2, mk.dim,
      mk.int("m"), mk.int("ksub"), mk.idCol, mk.vecCol)
    Seq("cells" -> full.select(col("cell"), col("corpus_id"), col("codes")),
      "vectors" -> full.select(col("cell"), col("corpus_id"), col("cvec"), col("cnorm")))
  }

  def build(corpus: DataFrame, out: String, dim: Int,
            nlist: Int = 16, m: Int = 8, ksub: Int = 16,
            coarseSample: Int = 2048, pqSample: Int = 256,
            coarseIters: Int = 8, pqIters: Int = 4, seed: Long = 42L,
            idCol: String = "vec_id", vecCol: String = "embedding",
            refineStore: Boolean = false): Unit =
    writeGeneration(corpus, out, dim, nlist, m, ksub, coarseSample, pqSample,
      coarseIters, pqIters, seed, idCol, vecCol, refineStore)

  /** One complete generation under `root` — shared by [[build]]
    * (root = store root, gen 0) and [[retrain]] (the next `gN/`). */
  private def writeGeneration(corpus: DataFrame, root: String, dim: Int,
                              nlist: Int, m: Int, ksub: Int,
                              coarseSample: Int, pqSample: Int,
                              coarseIters: Int, pqIters: Int, seed: Long,
                              idCol: String, vecCol: String,
                              refineStore: Boolean): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centroids, codebooks) = Similarity.trainIvfPq(corpus, dim, nlist, m,
      ksub, coarseSample, pqSample, coarseIters, pqIters, seed, idCol, vecCol)
    CellStore.writeCentroids(spark, root, centroids)
    // flat [s][code][dim/m] layout, one row per (subspace, code)
    val dsub = dim / m
    (0 until m).flatMap(s => (0 until ksub).map { c =>
      (s, c, codebooks.slice((s * ksub + c) * dsub, (s * ksub + c + 1) * dsub))
    }).toDF("s", "code", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/codebooks")
    val mk = CellMarker.of("dim" -> dim, "eff" -> centroids.length, "m" -> m,
      "ksub" -> ksub, "seed" -> seed, "idCol" -> idCol, "vecCol" -> vecCol)
    commitStore(root, mk, encode(corpus, mk, (centroids, codebooks))
      .filter { case (sub, _) => refineStore || sub == "cells" })
  }

  /** Retrain + RE-ENCODE into a new generation (the shared retrain
    * commit): requires the raw-vector refine sidecar — codes are lossy,
    * the code store alone cannot retrain. Re-runs the full quantizer
    * training over the live sidecar corpus (store + adds − deletes);
    * bit-identical to `build(refineStore = true)` over that corpus.
    * Returns the new generation number. */
  def retrain(spark: SparkSession, out: String, nlist: Int = 0,
              m: Int = 0, ksub: Int = 0): Int = {
    require(hasRefineStore(spark, out),
      s"$out has no vectors/ refine sidecar — an IVF-PQ store can only " +
        "retrain from raw vectors (build(refineStore = true))")
    retrainFrom(spark, out, "vectors") { (mk, corpus, root) =>
      writeGeneration(corpus, root, mk.dim,
        if (nlist > 0) nlist else mk.eff, if (m > 0) m else mk.int("m"),
        if (ksub > 0) ksub else mk.int("ksub"), coarseSample = 2048,
        pqSample = 256, coarseIters = 8, pqIters = 4, mk.seed, mk.idCol,
        mk.vecCol, refineStore = true)
    }
  }

  private def hasRefineStore(spark: SparkSession, out: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${dataRoot(spark, out)}/vectors")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** `{!knn}` requests serve through the self-contained two-stage path,
    * which needs the refine sidecar. */
  protected def serve(spark: SparkSession, out: String, queries: => DataFrame,
                      k: Int, nprobe: Int, rerank: Int,
                      allowed: Option[DataFrame]): DataFrame = {
    require(hasRefineStore(spark, out),
      s"$out is an IVF-PQ store without a refine sidecar — a " +
        "{!knn} request needs the self-contained two-stage path " +
        "(build(refineStore = true)), or use queryRefined with a " +
        "corpus frame")
    queryRefinedStored(spark, out, queries, k, rerank, nprobe, allowed)
  }

  /** Query the persisted index: bit-identical to `ivfPqTopK` with the
    * build's parameters; only the probed cells' partitions are read
    * and no training runs. */
  def query(spark: SparkSession, out: String, queries: DataFrame, k: Int,
            nprobe: Int = 4): DataFrame =
    candidateStage(live(spark, out), queries, k, nprobe, None)._1

  /** As [[query]] with a FILTERED-SEARCH id selector (FAISS
    * `IDSelector`): ADC ranking restricts to `allowed` ids (first
    * column = corpus id) via a semi-join over the probed mass. */
  def queryFiltered(spark: SparkSession, out: String, queries: DataFrame,
                    k: Int, allowed: DataFrame,
                    nprobe: Int = 4): DataFrame =
    candidateStage(live(spark, out), queries, k, nprobe, Some(allowed))._1

  /** Query a PINNED snapshot: ADC over the pin's recorded code-file
    * set under the pinned generation's quantizers, with the pin's
    * tombstones — bit-for-bit the pin-time ADC answers. The refine
    * step composes on top when needed: these candidates +
    * [[queryRefined]]'s external-corpus re-rank. */
  def queryPinned(spark: SparkSession, out: String, token: Int,
                  queries: DataFrame, k: Int, nprobe: Int = 4,
                  allowed: Option[DataFrame] = None): DataFrame =
    candidateStage(pinned(spark, out, token), queries, k, nprobe, allowed)._1

  /** The ADC stage plus the probe it ran — the refine paths reuse the
    * probed cells to partition-prune their raw-vector fetch
    * (candidates can only come from probed cells) and the localized
    * query rows for the exact re-rank. */
  private def candidateStage(v: View, queries: DataFrame, k: Int, nprobe: Int,
                             allowed: Option[DataFrame]): (DataFrame, Probe) = {
    val mk = v.marker
    val (centroids, codebooks) = v.quantizer
    val p = probe(v, Similarity.pqQueries(queries, mk.idCol, mk.vecCol), nprobe)
    val tables = Similarity.adcTables(p.byCell, p.rows, centroids, codebooks, mk.dim,
      mk.int("m"), mk.int("ksub"))
    (Similarity.adcRank(v.cells("cells", p.cells, allowed), tables, k,
      mk.int("m"), mk.int("ksub"), batch = Some(p.size)), p)
  }

  /** One execution of the ADC candidate stage: the collected (query,
    * candidate) pairs re-enter the plan as a LocalRelation and their
    * distinct ids become the re-rank's pushed fetch predicate. */
  private def collectedCandidates(v: View, queries: DataFrame, kCandidates: Int,
                                  nprobe: Int, allowed: Option[DataFrame])
      : (DataFrame, Seq[Any], Probe) = {
    val (adc, p) = candidateStage(v, queries, kCandidates, nprobe, allowed)
    val proj = adc.select(col("query_id"), col("corpus_id"))
    val rows = proj.collect()
    (CellStore.localFrame(v.spark, rows.toSeq, proj.schema),
      rows.map(_.get(1)).distinct.toSeq, p)
  }

  /** Two-stage serving over the persisted store (FAISS
    * `IndexRefineFlat` over an on-disk `IVFPQ` — the production
    * pattern q295 runs in batch form): `kCandidates` ADC candidates
    * per query from the code store, then an EXACT cosine re-rank over
    * only those rows. The bounded candidate ids PUSH into the raw
    * vector scan of `corpus` (wherever the raw vectors live) as an
    * `In` source filter — up to `maxPushedIds`; past the cap the
    * restriction stays in the plan as a broadcast semi-join (the In
    * literal itself would become the bottleneck). Bit-identical to
    * [[Similarity.ivfPqRefineTopK]] with the build's parameters;
    * `allowed` restricts the ADC stage, so the fetch inherits it. */
  def queryRefined(spark: SparkSession, out: String, corpus: DataFrame,
                   queries: DataFrame, k: Int, kCandidates: Int = 20,
                   nprobe: Int = 4,
                   allowed: Option[DataFrame] = None,
                   maxPushedIds: Int = 4096): DataFrame = {
    val v = live(spark, out)
    val mk = v.marker
    val (cand, candIds, p) = collectedCandidates(v, queries, kCandidates, nprobe, allowed)
    val fetch =
      if (candIds.size <= maxPushedIds) corpus.filter(col(mk.idCol).isin(candIds: _*))
      else corpus.join(
        broadcast(cand.select(col("corpus_id").as(mk.idCol)).distinct()),
        Seq(mk.idCol), "left_semi")
    val c = fetch
      .select(col(mk.idCol).as("corpus_id"),
        col(mk.vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", Similarity.norm(col("cvec")))
    rerank(cand, c, p, k)
  }

  /** Two-stage serving entirely FROM THE STORE — requires
    * `build(refineStore = true)`'s raw-vector sidecar. The exact
    * re-rank fetches from `vectors/` with the PROBED CELLS
    * partition-pruned (the sidecar shares the code store's cell
    * assignment to the bit) and the candidate ids pushed while the
    * literal stays Catalyst-cheap. Tombstoned ids never reach the
    * fetch (the ADC stage anti-joins them) and purges reclaim sidecar
    * rows alongside the codes. Answers are bit-identical to
    * [[queryRefined]] over the original corpus frame. */
  def queryRefinedStored(spark: SparkSession, out: String, queries: DataFrame,
                         k: Int, kCandidates: Int = 20,
                         nprobe: Int = 4,
                         allowed: Option[DataFrame] = None,
                         maxPushedIds: Int = 4096): DataFrame = {
    require(hasRefineStore(spark, out),
      s"$out has no vectors/ refine sidecar — build(refineStore = true), " +
        "or pass the corpus frame to queryRefined")
    val v = live(spark, out)
    val (cand, candIds, p) = collectedCandidates(v, queries, kCandidates, nprobe, allowed)
    val sidecar = v.frame("vectors", p.cells)
    val fetch =
      if (candIds.size <= maxPushedIds) sidecar.filter(col("corpus_id").isin(candIds: _*))
      else sidecar
    rerank(cand, fetch.select(col("corpus_id"), col("cvec"), col("cnorm")), p, k)
  }

  /** Exact-cosine re-rank of a bounded candidate set: candidates and
    * the localized queries broadcast into the (already id-pruned)
    * raw-vector frame, dense ranks per query. */
  private def rerank(cand: DataFrame, c: DataFrame, p: Probe, k: Int): DataFrame = {
    val rescored = c.join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(p.local.select(col("query_id"), col("qvec"), col("qnorm"))),
        Seq("query_id"))
      .select(col("query_id"), col("corpus_id"), (Similarity.dot(col("qvec"), col("cvec")) /
        (col("qnorm") * col("cnorm"))).as("cosine"))
    PerQueryTopK(rescored, "cosine", desc = true, k, batch = Some(p.size))
      .select(col("query_id"), col("rank"), col("corpus_id"))
  }
}
