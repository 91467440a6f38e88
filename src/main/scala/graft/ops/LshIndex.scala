package graft.ops

import graft.util.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED incremental near-dup (MinHash-LSH) index (round 17 — the
 * production form of [[ApproxDedup.dropNearDuplicatesAgainst]]: that
 * operator takes the corpus signature frame as an argument, so every
 * ingest batch pays a full signature-frame scan and the caller owns
 * keeping it current; here the banded signatures PERSIST
 * bucket-partitioned and the ingest gate is a store operation — the
 * bloom-incremental exact gate's (q274) near-dup sibling).
 *
 * Layout:
 *  - `bands/` — `partitionBy(bucket)`: one row per (doc, band) —
 *    (id, sig, band, key), bucket = key mod `buckets`. A probe
 *    computes its own band keys and reads ONLY its buckets
 *    (partition-pruned, plan-locked in LshIndexSpec) — an
 *    interactive "is this a dup?" probe opens a handful of buckets,
 *    a bulk batch converges to a plain banded equi-join (every
 *    bucket probed), which is the [[ApproxDedup]] batch shape and
 *    the correct 100 TB behavior for both;
 *  - `_lsh_marker.json` — numHashes/bands/buckets/idCol/textCol.
 *
 * Tokens are the engine's standard text tokenization (lowercased
 * `[a-z0-9]+` runs), signatures the [[ApproxDedup]] kernels — so the
 * whole store replays in DuckDB (q345: build, two ingest phases, and
 * the growth between them, on one hash).
 *
 * Determinism: the match estimate is INTEGER milli —
 * `(eqCount·1000) div numHashes` — and each dropped doc reports its
 * best match by (est desc, id asc), so the report is bit-stable.
 *
 * RECALL CAVEAT (the [[ApproxDedup.dropNearDuplicates]] note): a
 * stored bucket larger than `maxBucket` generates no candidates —
 * run the exact fingerprint gate first (the CorpusPipeline
 * discipline) or leave the default uncapped.
 */
object LshIndex {

  private def markerPath(out: String) = s"$out/_lsh_marker.json"

  private def tokensOf(textCol: String) =
    regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))

  private def bandedSigs(docs: DataFrame, idCol: String, textCol: String,
                         numHashes: Int, bands: Int,
                         buckets: Int): DataFrame = {
    val rows = ApproxDedup.bandRows(numHashes, bands)
    val sigs = ApproxDedup.signatureTable(
      docs.select(col(idCol), col(textCol)), col(idCol),
      tokensOf(textCol), numHashes)
    sigs.select(col("id"), col("sig"),
        explode(ApproxDedup.lshBands(col("sig"), bands, rows)).as("b"))
      .select(col("id"), col("sig"),
        col("b.band").as("band"), col("b.key").as("key"))
      .withColumn("bucket", pmod(col("key"), lit(buckets)).cast("int"))
  }

  /** Build the store from the existing corpus. */
  def build(docs: DataFrame, out: String, idCol: String = "doc_id",
            textCol: String = "text", numHashes: Int = 32,
            bands: Int = 8, buckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    ApproxDedup.bandRows(numHashes, bands) // validate the tiling
    bandedSigs(docs, idCol, textCol, numHashes, bands, buckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$out/bands")
    graft.util.FsIo.writeSmallFile(
      spark.sparkContext.hadoopConfiguration, markerPath(out),
      CellMarker.of("numHashes" -> numHashes, "bands" -> bands, "buckets" -> buckets,
        "idCol" -> idCol, "textCol" -> textCol).json)
  }

  private def readMarker(spark: SparkSession, out: String)
      : (Int, Int, Int, String, String) = {
    val m = CellMarker.parse(graft.util.FsIo.readSmallFile(
      spark.sparkContext.hadoopConfiguration, markerPath(out)))
    (m.int("numHashes"), m.int("bands"), m.int("buckets"), m.idCol, m.str("textCol"))
  }

  /** PROBE: which of `newDocs` near-duplicate the STORE? One row per
    * dropped doc — (id, dup_of, est_milli), dup_of = the best stored
    * match by (est desc, id asc). The bands scan reads only the
    * probe's buckets. */
  def probe(spark: SparkSession, out: String, newDocs: DataFrame,
            thresholdMilli: Long = 500L,
            maxBucket: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (numHashes, bands, buckets, idCol, textCol) = readMarker(spark, out)
    val nb = bandedSigs(newDocs, idCol, textCol, numHashes, bands, buckets)
    val probed = nb.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).map(Int.box).toIndexedSeq
    val stored0 = spark.read.parquet(s"$out/bands")
      .filter(col("bucket").isin(probed: _*))
    val stored =
      (if (maxBucket == Int.MaxValue) stored0
       else stored0.withColumn("__bn", count(lit(1))
           .over(Window.partitionBy(col("band"), col("key"))))
         .filter(col("__bn") <= maxBucket).drop("__bn"))
        .select(col("band"), col("key"), col("id").as("cid"),
          col("sig").as("csig"))
    val cand = nb.select(col("band"), col("key"), col("id"), col("sig"))
      .join(stored, Seq("band", "key"))
      .select("id", "cid", "sig", "csig").distinct()
    val est = cand.withColumn("eq",
        graft.functions.ArrayEqCount.array_eq_count(col("sig"), col("csig")))
      .withColumn("est_milli",
        expr(s"CAST(eq * 1000 AS BIGINT) div $numHashes"))
      .filter(col("est_milli") >= thresholdMilli)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("est_milli").desc, col("cid").asc)
    est.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id"), col("cid").as("dup_of"), col("est_milli"))
  }

  /** Append `docs`' banded signatures (frozen hash params — they ride
    * the marker, so adds always hash in the build's space). */
  def add(spark: SparkSession, out: String, docs: DataFrame): Unit = {
    val (numHashes, bands, buckets, idCol, textCol) = readMarker(spark, out)
    bandedSigs(docs, idCol, textCol, numHashes, bands, buckets)
      .write.mode("append").partitionBy("bucket").parquet(s"$out/bands")
  }

  /** The INGEST GATE (q274's bloom gate, near-dup form): probe the
    * batch, index the SURVIVORS (so the next batch dedups against
    * them too — the store grows with the corpus), return the dropped
    * report. Within-batch duplicates are not touched (compose with
    * [[ApproxDedup.dropNearDuplicates]] upstream — the documented
    * two-pass discipline). */
  def ingestDedup(spark: SparkSession, out: String, newDocs: DataFrame,
                  thresholdMilli: Long = 500L,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    val (_, _, _, idCol, _) = readMarker(spark, out)
    // the report feeds two consumers (returned + the survivor
    // anti-join) — materialize once, blocks GC-reclaimed with the
    // frame (the dropNearDuplicatesAgainst discipline)
    val report = probe(spark, out, newDocs, thresholdMilli, maxBucket)
      .cutLineage(true)
    val survivors = newDocs.join(report.select(col("id").as("__dropped")),
      col(idCol) === col("__dropped"), "left_anti")
    add(spark, out, survivors)
    report
  }
}
