package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * LATE-INTERACTION re-rank — ColBERT's MaxSim (Khattab & Zaharia,
 * SIGIR 2020): queries and documents carry MULTI-VECTOR
 * representations (one embedding per token), and a candidate's score
 * is Σ over query tokens of the MAX cosine against any of the
 * document's token vectors — the standard quality step ABOVE
 * single-vector retrieval: a cheap first-stage tier (IVF / HNSW /
 * binary — any of the engine's stores) nominates top-N candidates,
 * and MaxSim re-ranks only those.
 *
 * Determinism (the L105 integer-milli discipline): each (query-token,
 * doc-token) cosine converts to `floor(cos·1000 + 0.5)` BEFORE the
 * max/sum — max and sum over integers are order-independent, so the
 * result hash-matches a DuckDB replay where float max-then-sum could
 * ulp-flip a tie.
 *
 * Scale shape: cost ∝ |candidates| · docTokens/doc · queryTokens/query
 * — the doc-token fetch is semi-join-restricted to candidate ids
 * (never a corpus scan; the corpus-scale work already happened in the
 * first stage), query tokens broadcast (|Q|-bounded), and the two
 * aggregations run on candidate-bounded frames.
 */
object LateInteraction {

  /**
   * MaxSim re-rank. `candidates`: (query_id, corpus_id) from any
   * first-stage tier. `docTokens`: one row per document token —
   * (docIdCol, vector col `tvec`). `queryTokens`: one row per query
   * token — (queryIdCol, token key `qpos`, vector col `qvec`).
   * Output (query_id, rank, corpus_id, maxsim_milli), rank 1..k by
   * (maxsim desc, corpus_id).
   */
  def maxSimRerank(candidates: DataFrame, docTokens: DataFrame,
                   queryTokens: DataFrame, k: Int,
                   docIdCol: String = "doc_id",
                   docVecCol: String = "tvec",
                   queryIdCol: String = "query_id",
                   queryPosCol: String = "qpos",
                   queryVecCol: String = "qvec"): DataFrame = {
    val cand = candidates.select(col("query_id").cast("long"),
      col("corpus_id").cast("long"))
    val dt = docTokens.select(col(docIdCol).cast("long").as("corpus_id"),
      col(docVecCol).cast("array<double>").as("tvec"))
    val qt = queryTokens.select(col(queryIdCol).cast("long").as("query_id"),
      col(queryPosCol).cast("int").as("qpos"),
      col(queryVecCol).cast("array<double>").as("qvec"))
    // doc tokens for CANDIDATE ids only — the corpus never re-scans
    val fetched = dt.join(broadcast(cand.select("corpus_id").distinct()),
      Seq("corpus_id"), "left_semi")
    val pairs = cand.join(fetched, Seq("corpus_id"))
      .join(broadcast(qt), Seq("query_id"))
      .withColumn("cm", floor(
        Similarity.dot(col("qvec"), col("tvec")) /
          (Similarity.norm(col("qvec")) * Similarity.norm(col("tvec")))
          * lit(1000d) + lit(0.5d)).cast("long"))
    val perQtoken = pairs.groupBy(col("query_id"), col("corpus_id"),
        col("qpos"))
      .agg(max(col("cm")).as("m"))
    val scored = perQtoken.groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("m")).as("maxsim_milli"))
    PerQueryTopK(scored, "maxsim_milli", desc = true, k)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("maxsim_milli"))
  }

  // ----- PERSISTED MULTI-VECTOR STORE (round 17 — the production
  // ----- ColBERT shape: token-level vectors persist alongside the
  // ----- doc tier, and CANDIDATES come from per-token ANN probes
  // ----- against the token store itself, not an external doc-level
  // ----- tier) ------------------------------------------------------

  private def tokMarkerPath(out: String) = s"$out/_tok_marker.json"

  /** Build the token-vector store. `docTokens`: (doc_id, tpos, tvec).
    * Two views of one token set, each partition-prunable for its
    * read pattern (the ColBERT system split — an IVF over token
    * space for candidate generation, a docid-keyed map for the
    * MaxSim fetch):
    *  - `cells/` — coarse k-means over TOKEN vectors (the family's
    *    md5-seeded ordered-sample Lloyd, sample keyed by
    *    `doc_id·posStride + tpos` — `tpos < posStride` required, so
    *    the key is unique and the replay deterministic),
    *    `partitionBy(cell)`: (doc_id, tpos, tvec, tnorm);
    *  - `doctokens/` — `partitionBy(bucket = doc_id mod buckets)`:
    *    the fetch side; a candidate's FULL token set may live in
    *    unprobed cells, so the MaxSim fetch reads by doc id, pruned
    *    to the candidates' buckets. */
  def buildTokenStore(docTokens: DataFrame, out: String, dim: Int,
                      nlist: Int = 16, sampleSize: Int = 2048,
                      seed: Long = 42L, posStride: Int = 4,
                      buckets: Int = 16): Unit = {
    val spark = docTokens.sparkSession
    val toks = docTokens.select(col("doc_id").cast("long"),
      col("tpos").cast("int"), col("tvec").cast("array<double>"))
    val keyed = toks.withColumn("tokid",
      col("doc_id") * posStride + col("tpos"))
    val centroids = Similarity.trainCentroids(keyed, nlist, sampleSize,
      seed, "tokid", "tvec")
    val (_, nearest) = Similarity.cellFns(centroids, dim)
    CellStore.writeCentroids(spark, out, centroids)
    val assigned = toks
      .withColumn("tnorm", Similarity.norm(col("tvec")))
      .withColumn("cell", nearest(col("tvec")))
    assigned.select("doc_id", "tpos", "tvec", "tnorm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/cells")
    assigned.withColumn("bucket",
        pmod(col("doc_id"), lit(buckets)).cast("int"))
      .select("doc_id", "tpos", "tvec", "bucket")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$out/doctokens")
    graft.util.FsIo.writeSmallFile(
      spark.sparkContext.hadoopConfiguration, tokMarkerPath(out),
      CellMarker.of("dim" -> dim, "eff" -> centroids.length, "seed" -> seed,
        "buckets" -> buckets).json)
  }

  /** Late interaction end-to-end FROM THE STORE: candidates are the
    * union of PER-QUERY-TOKEN probes (each query token probes its
    * `nprobe` nearest token cells — partition-pruned — ranks the
    * probed token mass by cosine, keeps `tokenK` matches; the doc
    * ids behind any kept match are the candidate set), then MaxSim
    * re-ranks over the candidates' FULL token sets fetched from the
    * bucket-keyed side (pruned to the candidates' buckets + a
    * broadcast semi-join). Cost ∝ probed token mass + candidate
    * token mass — never corpus-linear (plan-locked in
    * LateInteractionSpec). `queryTokens`: (query_id, qpos, qvec). */
  def queryTokenStore(spark: SparkSession, out: String,
                      queryTokens: DataFrame, k: Int,
                      tokenK: Int = 16, nprobe: Int = 4): DataFrame = {
    val buckets = CellMarker.parse(graft.util.FsIo.readSmallFile(
      spark.sparkContext.hadoopConfiguration, tokMarkerPath(out))).int("buckets")
    val cand = tokenCandidates(spark, out, queryTokens, tokenK, nprobe)
    // the fetch side: candidates' buckets pruned, ids semi-joined —
    // a candidate's full token set regardless of which cells hold it
    val candRows = cand.collect()
    val candDf = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*), cand.schema)
    val candBuckets = candRows.map(r => Int.box(
      (r.getLong(1) % buckets).toInt)).distinct.toIndexedSeq
    val fetched = spark.read.parquet(s"$out/doctokens")
      .filter(col("bucket").isin(candBuckets: _*))
      .select(col("doc_id"), col("tvec"))
    maxSimRerank(candDf, fetched, queryTokens, k)
  }

  /** The candidate-generation stage as a LAZY frame — the handle
    * whose PLAN carries the probed-cell partition filter
    * (plan-locked in LateInteractionSpec; [[queryTokenStore]]
    * collects it, so the filter is invisible on the final frame). */
  private[ops] def tokenCandidates(spark: SparkSession, out: String,
                                   queryTokens: DataFrame, tokenK: Int,
                                   nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // driver-side parquet read (r18): nlist-sized frame, zero Spark
    // jobs — the serving paths are driver-job-count bound (guide §5)
    val centroids = CellStore.centroidsAt(spark.sparkContext.hadoopConfiguration, out)
    val qt0 = queryTokens.select(col("query_id").cast("long"),
        col("qpos").cast("int"),
        col("qvec").cast("array<double>"))
      .withColumn("qnorm", Similarity.norm(col("qvec")))
    // driver-side probes over the collected (broadcast-small, row-
    // capped) query token batch (see CellStore.probe) — one collect,
    // zero probe jobs, broadcast builds from a LocalRelation
    val qRows = CellStore.collectBatch(qt0)
    val qvecIdx = qt0.schema.fieldIndex("qvec")
    val cellsOf = CellStore.cosineProbe(centroids, nprobe)
    val probesPer = qRows.map(r =>
      cellsOf(if (r.isNullAt(qvecIdx)) null else r.getSeq[Any](qvecIdx)))
    val probes = CellStore.localFrame(spark,
      qRows.zip(probesPer).flatMap { case (r, cs) =>
        cs.map(c => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c))
      }.toSeq,
      qt0.schema.add("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val probed = probesPer.flatten.distinct.map(Int.box).toIndexedSeq
    val scored = spark.read.parquet(s"$out/cells")
      .filter(col("cell").isin(probed: _*))
      .join(broadcast(probes.select("query_id", "qpos", "qvec", "qnorm",
        "cell")), Seq("cell"))
      .withColumn("tcos",
        when(col("qnorm") === 0d || col("tnorm") === 0d, lit(-2.0))
          .otherwise(Similarity.dot(col("qvec"), col("tvec")) /
            (col("qnorm") * col("tnorm"))))
    val w = Window.partitionBy(col("query_id"), col("qpos"))
      .orderBy(col("tcos").desc, col("doc_id").asc, col("tpos").asc)
    scored.withColumn("r", row_number().over(w))
      .filter(col("r") <= tokenK)
      .select(col("query_id"), col("doc_id").as("corpus_id"))
      .distinct()
  }
}
