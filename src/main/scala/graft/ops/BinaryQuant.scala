package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * 1-BIT (sign) embedding quantization — FAISS `IndexBinaryFlat` /
 * the binary-embedding serving tier modern vector stores ship
 * (32× memory cut vs this engine's float64 arrays — codes spend 2
 * bits/dim packing 32 sign bits per 64-bit word; 16× vs float32):
 * pack each dimension's sign into a
 * long-array code, rank by HAMMING distance (popcount of XOR — the
 * cheapest distance there is), then re-rank a bounded candidate set
 * with exact cosine over the raw vectors. Completes the quantization
 * ladder next to [[Similarity.int8Scale]] (8-bit) and [[IvfPqIndex]]
 * (product codes).
 *
 * Everything is column expressions (whole-stage codegen; packing is
 * integer arithmetic, so the DuckDB oracle replays it EXACTLY —
 * q317), and the shape honors the family's two-stage discipline:
 * Hamming ranking touches codes only, raw vectors are fetched for
 * the ≤ |Q|·rerank candidate rows alone.
 *
 * Determinism: bit b = 1 iff v(b) > 0 (strict — an exact 0.0
 * compares identically on both engines); Hamming ties break by
 * corpus id, the rerank by (cosine desc, id).
 */
object BinaryQuant {

  /** Pack `vec`'s sign bits into ceil(dim/32) longs of 32 bits each:
    * word w accumulates bits b = 0..31 as `acc*2 + (v[w*32+b] > 0)` —
    * shift-free integer arithmetic that can't overflow under ANSI
    * (max 2³²−1) and replays EXACTLY as a DuckDB list_reduce. Pure
    * column expressions, whole-stage codegen. */
  def packSigns(vec: Column, dim: Int): Column = {
    val words = (dim + 31) / 32
    transform(sequence(lit(0), lit(words - 1)), w =>
      aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, b) => {
        val idx = w * lit(32) + b
        val bit = when(idx < lit(dim),
            when(element_at(vec, (idx + lit(1)).cast("int")) > lit(0d),
              lit(1L)).otherwise(lit(0L)))
          .otherwise(lit(0L))
        acc * lit(2L) + bit
      }))
  }

  /** Hamming distance between two packed codes: Σ popcount(a⊕b). */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, x) => acc + x)

  /** Two-stage binary ANN: Hamming top-`rerank` candidates per query
    * over the packed codes, exact-cosine top-`k` re-rank over only
    * those rows. Output (query_id, rank, corpus_id) — the family
    * shape. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 rerank: Int, dim: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("corpus_id"),
      col(vecCol).cast("array<double>").as("cvec"))
    val codes = c.select(col("corpus_id"),
      packSigns(col("cvec"), dim).as("code"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qcode", packSigns(col("qvec"), dim))
    // stage 1: codes only — 1 long per 64 dims scanned, nothing else
    val scored = codes.crossJoin(broadcast(q.select("query_id", "qcode")))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("hamming", hamming(col("qcode"), col("code")))
    val cand = PerQueryTopK(scored, "hamming", desc = false, rerank)
      .select("query_id", "corpus_id")
    // stage 2: raw vectors for the candidate rows alone
    val rer = cand.join(c, Seq("corpus_id"))
      .join(broadcast(q.select("query_id", "qvec")), Seq("query_id"))
      .withColumn("cosine",
        Similarity.dot(col("qvec"), col("cvec")) /
          (Similarity.norm(col("qvec")) * Similarity.norm(col("cvec"))))
    PerQueryTopK(rer, "cosine", desc = true, k)
      .select(col("query_id"), col("rank"), col("corpus_id"))
  }

  private def markerPath(out: String) = s"$out/_bq_marker.json"

  /** Persist the packed codes (the build-once-query-many shape: pack
    * the corpus ONCE, serve Hamming ranking forever from 1/32 the
    * bytes). The store holds codes only — FAISS `IndexBinaryFlat`'s
    * contract; the re-rank corpus stays external and its fetch is
    * candidate-bounded ([[queryStore]]). */
  def buildStore(corpus: DataFrame, out: String, dim: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    corpus.select(col(idCol).cast("long").as("corpus_id"),
        packSigns(col(vecCol).cast("array<double>"), dim).as("code"))
      .write.mode("overwrite").parquet(s"$out/codes")
    graft.util.FsIo.writeSmallFile(spark.sparkContext.hadoopConfiguration,
      markerPath(out),
      CellMarker.of("dim" -> dim, "idCol" -> idCol, "vecCol" -> vecCol).json)
  }

  /** The candidate-bounded exact-cosine re-rank shared by the flat
    * store and the codes-only cell stores ([[BinaryIvfIndex]],
    * [[Sq8Index]]):
    * raw vectors for the collected (query, candidate) pairs alone,
    * fetched from the external corpus under a candidate-id pushdown —
    * an `In` literal up to `pushLimit` ids, a plan-side broadcast
    * semi-join past it (the [[IvfPqIndex.queryRefined]] discipline). */
  private[ops] def rerankExact(spark: SparkSession, cand: DataFrame,
                          corpus: DataFrame, q: DataFrame, k: Int,
                          idCol: String, vecCol: String,
                          pushLimit: Int): DataFrame = {
    val candRows = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    val candIds = candRows.map(_._2).distinct
    val c = corpus.select(col(idCol).cast("long").as("corpus_id"),
      col(vecCol).cast("array<double>").as("cvec"))
    val fetched =
      if (candIds.length <= pushLimit)
        c.filter(col("corpus_id").isin(candIds.map(Long.box).toSeq: _*))
      else {
        import spark.implicits._
        c.join(broadcast(candIds.toSeq.toDF("corpus_id")),
          Seq("corpus_id"), "left_semi")
      }
    import spark.implicits._
    val candDf = candRows.toSeq.toDF("query_id", "corpus_id")
    val rer = candDf.join(fetched, Seq("corpus_id"))
      .join(broadcast(q.select("query_id", "qvec")), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        (Similarity.dot(col("qvec"), col("cvec")) /
          (Similarity.norm(col("qvec")) * Similarity.norm(col("cvec")))).as("cosine"))
    PerQueryTopK(rer, "cosine", desc = true, k,
        batch = Some(candRows.map(_._1).distinct.length))
      .select(col("query_id"), col("rank"), col("corpus_id"))
  }

  /** Serve from the persisted code store: Hamming stage reads CODES
    * ONLY; the exact-cosine re-rank fetches raw vectors from the
    * external `corpus` frame under a candidate-id pushdown (bounded
    * by |Q|·rerank — the [[IvfPqIndex.queryRefined]] discipline;
    * above `pushLimit` ids the restriction becomes a plan-side
    * broadcast semi-join instead of an In literal). Answers are
    * bit-identical to the batch [[binaryTopK]] (one oracle, two read
    * paths — q318 vs q317). */
  def queryStore(spark: SparkSession, out: String,
                 queries: DataFrame, corpus: DataFrame, k: Int,
                 rerank: Int, pushLimit: Int = 4096): DataFrame = {
    val m = CellMarker.parse(graft.util.FsIo.readSmallFile(
      spark.sparkContext.hadoopConfiguration, markerPath(out)))
    val (dim, idCol, vecCol) = (m.dim, m.idCol, m.vecCol)
    val codes = spark.read.parquet(s"$out/codes")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qcode", packSigns(col("qvec"), dim))
    val scored = codes.crossJoin(broadcast(q.select("query_id", "qcode")))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("hamming", hamming(col("qcode"), col("code")))
    val cand = PerQueryTopK(scored, "hamming", desc = false, rerank)
      .select("query_id", "corpus_id")
    rerankExact(spark, cand, corpus, q, k, idCol, vecCol, pushLimit)
  }
}
