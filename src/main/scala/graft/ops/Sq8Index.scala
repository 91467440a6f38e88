package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted INT8 scalar-quantized ANN store — FAISS
 * `IndexIVFScalarQuantizer` (QT_8bit) re-derived Spark-first: the
 * quantization-ladder rung between the 1-bit binary tier
 * ([[BinaryQuant]], 32× cut / coarsest recall) and product codes
 * ([[IvfPqIndex]], lookup-table ADC): each dimension quantizes
 * independently to one byte under FROZEN per-dim (offset, scale)
 * trained on the build sample — 8× memory cut vs the engine's
 * float64 arrays (4× vs float32) at far better recall than one sign
 * bit.
 *
 * Layout (the [[IvfIndex]] store shape):
 *  - `centroids/` — the coarse k-means quantizer (the SAME md5-seeded
 *    ordered-sample Lloyd as the raw/PQ tiers, so training replays in
 *    DuckDB);
 *  - `scalar/` — per-dim (vmin, vdiff) over the ordered sample's
 *    NORMALIZED vectors (FAISS `RangeStat_minmax`; normalization is
 *    FAISS's own cosine recipe — unit vectors make L2 monotone with
 *    cosine), one tiny parquet;
 *  - `codes/` — `partitionBy(cell)`: (corpus_id, qc: array<int>) —
 *    code_j = clamp(round((v̂_j − vmin_j)/vdiff_j · 255), 0, 255)
 *    over the unit vector v̂; a constant dim (vdiff 0) codes to 0.
 *
 * Query: probe the `nprobe` (neg-cosine)-nearest coarse cells —
 * collected (|Q|·nprobe-bounded) and pushed as a PARTITION FILTER, so
 * non-probed inverted lists never open (plan-locked in Sq8IndexSpec)
 * — then rank the probed mass by INTEGER SQUARED-L2 between the
 * quantized query and the stored codes (pure integer arithmetic:
 * translation-free — a dot product in the shifted code space would
 * rank by the offsets, not the vectors — and, the engine's reason,
 * EXACTLY replayable cross-engine where float decode-then-L2 would
 * ulp-drift), cut `rerank` candidates, and re-rank exactly over raw
 * vectors fetched candidate-bounded ([[BinaryQuant.rerankExact]]).
 *
 * Lifecycle: the shared [[CellStore]] over `codes/` — [[add]] appends
 * against the frozen quantizers (the FAISS `add` contract —
 * append-only for unique ids, duplicates collapse at read time like
 * the binary tier), tombstone deletes, purge, pins; rebuild via
 * [[build]] on drift ([[assignmentDrift]] measures, in this store's
 * dequantized space).
 */
object Sq8Index extends CellStore("_sq8_marker.json", "sq8",
    subdirs = Seq("codes"), quantizerDirs = Seq("centroids", "scalar")) {

  /** (coarse centroids, per-dim vmin, per-dim vdiff) */
  type Quantizer = (Array[Array[Double]], Array[Double], Array[Double])

  protected def loadQuantizer(conf: org.apache.hadoop.conf.Configuration,
                              root: String, m: CellMarker): Quantizer = {
    val sc = graft.util.SmallParquet.rows(conf, s"$root/scalar").sortBy(_.int("j"))
    (CellStore.centroidsAt(conf, root), sc.map(_.double("vmin")).toArray,
      sc.map(_.double("vdiff")).toArray)
  }

  protected def probeCol = "qvec"

  protected def probeCells(q: Quantizer, nprobe: Int) = CellStore.cosineProbe(q._1, nprobe)

  override protected def corpusId(c: Column): Column = c.cast("long")

  /** code_j = clamp(round((v_j − vmin_j)/vdiff_j · 255), 0, 255) —
    * pure column arithmetic (whole-stage codegen; the float ops are
    * the same double expressions DuckDB evaluates, so codes replay
    * exactly). `vmin`/`vdiff` ride as literal arrays. */
  private def quantize(vec: Column, vmin: Array[Double],
                       vdiff: Array[Double]): Column = {
    val vminC = typedlit(vmin.toSeq)
    val vdiffC = typedlit(vdiff.toSeq)
    transform(sequence(lit(0), lit(vmin.length - 1)), j => {
      val jj = (j + lit(1)).cast("int")
      val d = element_at(vdiffC, jj)
      when(d === 0d, lit(0)).otherwise(
        least(lit(255), greatest(lit(0),
          floor((element_at(vec, jj) - element_at(vminC, jj)) / d * 255d
            + lit(0.5d)))).cast("int"))
    })
  }

  /** Σ_j (qc_j − cc_j)² as a long — the integer code-space distance
    * (smaller = closer; translation-free, exact cross-engine). */
  private def intL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => ((x - y) * (x - y)).cast("bigint")),
      lit(0L), (acc, x) => acc + x)

  /** The unit vector of `vec` (its norm in `n`) — FAISS's cosine
    * recipe: quantize normalized vectors so code-space L2 tracks the
    * cosine. A zero vector stays zero. */
  private def unit(vec: Column, n: Column): Column =
    transform(vec, x => when(n === 0d, 0d).otherwise(x / n))

  protected def encode(vectors: DataFrame, m: CellMarker,
                       q: Quantizer): Seq[(String, DataFrame)] = {
    val (centroids, vmin, vdiff) = q
    val (_, nearest) = Similarity.cellFns(centroids, m.dim)
    Seq("codes" -> vectors.select(col(m.idCol).cast("long").as("corpus_id"),
        col(m.vecCol).cast("array<double>").as("cvec"))
      .withColumn("cn", Similarity.norm(col("cvec")))
      .withColumn("qc", quantize(unit(col("cvec"), col("cn")), vmin, vdiff))
      .withColumn("cell", nearest(col("cvec")))
      .select("corpus_id", "qc", "cell"))
  }

  /** Train both quantizers on the md5-ordered sample and persist the
    * cell-partitioned code store. */
  def build(corpus: DataFrame, out: String, dim: Int,
            nlist: Int = 16, sampleSize: Int = 2048, seed: Long = 42L,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val centroids = Similarity.trainCentroids(corpus, nlist, sampleSize,
      seed, idCol, vecCol)
    // per-dim min/max over the SAME ordered sample the coarse trainer
    // used (FAISS trains both quantizers on one train() call's data),
    // NORMALIZED — the scalar quantizer codes unit vectors
    val sample = corpus.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(sampleSize)
      .collect().map { r =>
        val v = r.getSeq[Double](1)
        // the same sequential sum-of-squares fold as Similarity.norm
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val n = math.sqrt(s)
        if (n == 0.0) v else v.map(_ / n)
      }
    val vmin = Array.tabulate(dim)(j => sample.iterator.map(_(j)).min)
    val vdiff = Array.tabulate(dim)(j =>
      sample.iterator.map(_(j)).max - vmin(j))
    import spark.implicits._
    CellStore.writeCentroids(spark, out, centroids)
    (0 until dim).map(j => (j, vmin(j), vdiff(j)))
      .toDF("j", "vmin", "vdiff").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/scalar")
    val m = CellMarker.of("dim" -> dim, "eff" -> centroids.length,
      "seed" -> seed, "idCol" -> idCol, "vecCol" -> vecCol)
    commitStore(out, m, encode(corpus, m, (centroids, vmin, vdiff)))
  }

  /** Serve from the store: probe-pruned partition read, integer-L2
    * candidate cut, exact-cosine re-rank over the external `corpus`
    * frame (candidate-bounded fetch). Output (query_id, rank,
    * corpus_id) — the family shape. `allowed` (first column = id) is
    * the FILTERED-SEARCH selector, semi-joined AFTER probe pruning. */
  def query(spark: SparkSession, out: String, queries: DataFrame,
            corpus: DataFrame, k: Int, rerank: Int, nprobe: Int = 4,
            pushLimit: Int = 4096,
            allowed: Option[DataFrame] = None): DataFrame =
    queryAt(live(spark, out), queries, corpus, k, rerank, nprobe, pushLimit, allowed)

  /** Query a PINNED snapshot: exactly the file set and tombstone view
    * of pin time — bit-for-bit pin-time answers whatever add/remove/
    * purge landed since (spec-locked; hash-oracled in q338). */
  def queryPinned(spark: SparkSession, out: String, token: Int,
                  queries: DataFrame, corpus: DataFrame, k: Int,
                  rerank: Int, nprobe: Int = 4, pushLimit: Int = 4096,
                  allowed: Option[DataFrame] = None): DataFrame =
    queryAt(pinned(spark, out, token), queries, corpus, k, rerank, nprobe,
      pushLimit, allowed)

  private def queryAt(v: View, queries: DataFrame, corpus: DataFrame, k: Int,
                      rerank: Int, nprobe: Int, pushLimit: Int,
                      allowed: Option[DataFrame]): DataFrame = {
    val m = v.marker
    val (_, vmin, vdiff) = v.quantizer
    val p = probe(v, queries.select(col(m.idCol).cast("long").as("query_id"),
        col(m.vecCol).cast("array<double>").as("qvec"))
      .withColumn("qn", Similarity.norm(col("qvec")))
      .withColumn("qqc", quantize(unit(col("qvec"), col("qn")), vmin, vdiff))
      .drop("qn"), nprobe)
    BinaryQuant.rerankExact(v.spark, candidatesOf(v, p, rerank, allowed), corpus,
      p.local, k, m.idCol, m.vecCol, pushLimit)
  }

  /** The integer-L2 candidate stage — the frame whose PLAN carries
    * the probed-cell partition filter (plan-locked in Sq8IndexSpec).
    * `q0` carries (query_id, qvec, qqc). */
  private[ops] def candidates(spark: SparkSession, out: String,
      q0: DataFrame, rerank: Int, nprobe: Int,
      allowed: Option[DataFrame] = None): DataFrame = {
    val v = live(spark, out)
    candidatesOf(v, probe(v, q0, nprobe), rerank, allowed)
  }

  private def candidatesOf(v: View, p: Probe, rerank: Int,
                           allowed: Option[DataFrame]): DataFrame =
    PerQueryTopK(scan(v, "codes", p, allowed, "qqc")
        .withColumn("d2", intL2(col("qqc"), col("qc"))),
      "d2", desc = false, rerank, collapse = true, batch = Some(p.size))
      .select("query_id", "corpus_id")

  protected def serve(spark: SparkSession, out: String, queries: => DataFrame,
                      k: Int, nprobe: Int, rerank: Int,
                      allowed: Option[DataFrame]): DataFrame = codesOnly(out)

  /** Quantization-drift probe for the SQ8 tier, read off the store AS
    * SERVED: the stored cohort DEQUANTIZES the codes (dec_j = vmin_j +
    * qc_j/255·vdiff_j — the unit-vector reconstruction; cosine is
    * scale-invariant), the recent cohort uses its raw vectors. Same
    * exact integer-milli statistic as the raw tier, so it hash-oracles
    * (q336). Duplicate copies of a re-added id each count. */
  def assignmentDrift(spark: SparkSession, out: String,
                      recent: DataFrame): DataFrame = {
    val v = live(spark, out)
    val (centroids, vmin, vdiff) = v.quantizer
    val vminC = typedlit(vmin.toSeq)
    val vdiffC = typedlit(vdiff.toSeq)
    val decoded = transform(col("qc"), (c, j) => {
      val jj = (j + lit(1)).cast("int")
      element_at(vminC, jj) + c.cast("double") / 255d * element_at(vdiffC, jj)
    })
    drift(spark, out, centroids, v.marker.dim, decoded, recent,
      col(v.marker.vecCol).cast("array<double>"))
  }
}
