package graft

import graft.util.Checkpoints.CutOps
import graft.dedup.Dedup
import graft.etl.Etl
import graft.index.ShardIndex
import graft.ops.{ApproxDedup, Boilerplate, Chunking, Clustering, CorpusPipeline, Decontamination, Joins, Multimodal, Preference, QualityClassifier, Sampling, Similarity}
import graft.text.Ranking
import graft.route.HashRangeRouter
import graft.schema.{IndexField, IndexSchema}
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StringType}

/**
 * Driver contract (SURVEY.md §7): one `queries` entry per implemented
 * operator from the SURVEY §2 inventory plus the training-data-pipeline
 * extensions, each with a DuckDB oracle where SQL-expressible.
 *
 * Numeric-parity rules used throughout (so DuckDB hash-compare is
 * byte-stable):
 *  - money sums go through DECIMAL(18,2) (exact, order-independent),
 *    then the FINAL value is cast to DOUBLE on both sides: the driver
 *    stringifies the Spark parquet read-back (Decimal keeps trailing
 *    zeros, "123.40") but fetches the oracle as float64 ("123.4"), so
 *    a decimal OUTPUT column hash-mismatches even when values are
 *    equal. Exact-decimal→double is deterministic in both engines, but
 *    NOT computed identically: Spark/Java BigDecimal.doubleValue is
 *    correctly rounded, while DuckDB converts the int128 unscaled
 *    value to double and divides by 10^scale (two roundings). They
 *    agree only while the unscaled sum fits in 2^53 (~9e13 at scale
 *    2, i.e. ~$90T per group) — beyond that, 1-ulp hash mismatches
 *    are possible; switch the affected oracle to a shared exact
 *    DECIMAL→VARCHAR formatting on both sides if a corpus ever
 *    crosses it.
 *  - DuckDB sum(BIGINT) is HUGEINT (→ float64 "n.0" in the driver's
 *    fetch) — always CAST(... AS BIGINT) integer sums in oracle SQL.
 *  - double ratios/divisions are computed with the same operation tree
 *    on both sides (IEEE ops are exactly rounded → bit-equal);
 *  - counts/row_numbers are cast to BIGINT to match DuckDB's widths.
 */
/** Typed row for the Dataset[T] surface (q53). */
case class Event(event_id: Long, user_id: Long, event_type: String, value: Double)

/** Aggregator[IN, BUF, OUT] instances — the typed custom-aggregate
  * surface (partial-merge capable, unlike mapGroups). */
object TypedAggs {
  import org.apache.spark.sql.{Encoder, Encoders, TypedColumn}
  import org.apache.spark.sql.expressions.Aggregator

  val userIdSum: TypedColumn[Event, Long] = new Aggregator[Event, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, e: Event): Long = b + e.user_id
    def merge(a: Long, b: Long): Long = a + b
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }.toColumn

  val rowCount: TypedColumn[Event, Long] = new Aggregator[Event, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, e: Event): Long = b + 1
    def merge(a: Long, b: Long): Long = a + b
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }.toColumn
}

object SparkEntry {

  /**
   * Flagship (SURVEY §7.2 minimum E2E slice): lineitem → doc ids
   * (F4-style concat key) → dedup → Solr-compatible 4-shard route →
   * shard store write → match-all count per shard read back
   * (SolrIndexDriverTest.java:54-61 shape). Driver smoke-checks rows>0.
   */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.lineitem(spark, dir)
      .withColumn("id", concat(col("l_orderkey"), lit("#"), col("l_linenumber")))
    val deduped = Dedup.retainMostRecent(docs, Seq(col("id")), col("l_shipdate"))
    val out = java.nio.file.Files.createTempDirectory("graft_shards_").toString
    ShardIndex.write(deduped, "id", out, shards = 4)
    ShardIndex.matchAllCounts(ShardIndex.read(spark, out))
  }

  /** READ-ONLY index stores shared across queries in one JVM — the
    * user shape is build-once-query-many, and the read-only index
    * queries only need the store CONTENTS, so Verify/Bench stop paying
    * the same build repeatedly. Mutating queries (q109 upsert, q122
    * deleteByQuery) build PRIVATE stores — sharing one would leak
    * state between queries. */
  // Per-key FUTURE holders, resolved OUTSIDE the map's bin locks (r18,
  // ADVICE_r17): multi-second store builds used to run inside
  // computeIfAbsent's mapping function, where distinct keys hashing to
  // one bin silently serialize under concurrent Par legs, and a nested
  // sharedStore call inside a build closure would violate the CHM
  // mapping-function contract. The CHM now only installs a
  // CompletableFuture (cheap, lock-safe); exactly one caller runs the
  // build, everyone else blocks on the future.
  private val sharedStores = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()
  private def sharedStore(d: String, spec: String)(build: String => Unit): String = {
    val holder = new java.util.concurrent.CompletableFuture[String]()
    val prior = sharedStores.putIfAbsent(s"$d|$spec", holder)
    if (prior != null) prior.join()
    else {
      try {
        val out = java.nio.file.Files
          .createTempDirectory(s"graft_store_${spec}_").toString
        build(out)
        holder.complete(out)
      } catch {
        case e: Throwable =>
          // a failed build must not poison the key forever — the next
          // caller retries (and concurrent waiters see the failure)
          sharedStores.remove(s"$d|$spec", holder)
          holder.completeExceptionally(e)
          throw e
      }
      holder.join()
    }
  }

  /** One owner query per shared read-only store spec: running these
    * once builds every store for (sfDir), so a measuring harness can
    * run them un-measured first (Bench's setup phase) and the
    * measured sweep sees only steady-state query cost — the user
    * shape is build-once-query-many, and folding a one-time store
    * build into a per-query number misranks exactly the queries the
    * bench exists to rank. Order: heaviest builds first so a scan of
    * the setup timings reads as the build-cost table. */
  val storeWarmupQueries: Seq[String] = Seq(
    "q272_shortest_path_expr", // graph_edges (~0.9M-edge segment store)
    "q88_segment_store",       // q88_segstore (8 micro -> 4 merged)
    "q49_build_index",         // q49_shardstore (8-shard parquet store)
    "q275_zorder_layout",      // events_zorder (range-exchanged layout)
    "q139_token_facet",        // docs_text (analyzed text store)
    "q119_index_range",        // part_nb
    "q132_index_num_range",    // part_num
    "q128_index_pivot",        // part_bs
    "q94_index_search",        // part_all
    "q141_json_facet_api",     // part_jf
    "q134_index_time_range",   // orders_time
    "q278_corpus_diff",        // docs_meta + events_time
    "q127_index_not",          // part_nulls
    "q219_update_stream",      // upsert_src/upsert_dest (idempotent)
    "q230_partitioned_export", // part_export
    "q228_jsonl_export",       // jsonl_export
    "q246_avro_roundtrip",     // emb_avro
    "q269_tfrecord_roundtrip", // tfrecord
    "q264_wet_roundtrip",      // wet_file
    "q287_ivf_persisted",      // ivf_index (train + cell-partitioned corpus)
    "q294_ivfpq_persisted",    // ivfpq_index (quantizers + code partitions)
    "q297_ivfpq_delete",       // ivfpq_del (ivfpq_index + tombstoned ids)
    "q298_ivf_delete",         // ivf_del (ivf_index + tombstoned ids)
    "q300_stream_ann_ingest",  // ivf_stream (build + streamed adds)
    "q309_ann_retrain",        // ivf_retrain (build half + add + retrain)
    "q313_hnsw_recall_gate",   // hnsw_index (sharded graph build)
    "q315_hnsw_lifecycle",     // hnsw_lifecycle (build + add + purge)
    "q322_hnsw_stream_delta",  // hnsw_stream (build evens + streamed odds)
    "q318_binary_ann_persisted", // bq_codes (packed sign bits)
    "q321_binary_ivf",         // bq_ivf (cell-partitioned binary codes)
    "q325_binary_ivf_add",     // bq_ivf_add (build evens + frozen-add odds)
    "q330_sq8_ann",            // sq8_index (coarse + scalar quantizers, codes)
    "q332_ann_pinned_query",   // ivf_pinned (build + pin + post-pin mutations)
    "q333_hnsw_pinned_query",  // hnsw_pinned (build + delta + pin + mutations)
    "q305_ivfpq_refine_stored", // ivfpq_refine (codes + raw-vector sidecar)
    "q286_tiered_merge",       // q286_tiered base store (upserts idempotent)
    "q289_index_multivalued",  // part_mv (array-surfaced store)
    "q304_index_analyzed_array", // part_mvana (analyzed multivalued)
    "q267_wet_gz",             // wet_gz
    "q281_warc_responses",     // warc_file_full
    "q282_warc_best_capture",  // warc_captures
    "q277_solr_xml_export",    // xml_export
    "q279_mp4_parse",          // video_fixtures
    "q283_epub_parse",         // epub_fixtures
    "q243_backup_restore",     // cust_backup
    "q337_mrl_persisted",      // mrl_index (prefix cells + raw sidecar)
    "q342_mrl_pinned_query",   // mrl_pinned (build + pin + post-pin mutations)
    "q338_sq8_pinned_query",   // sq8_pinned (build + pin + post-pin mutations)
    "q344_ann_backup",         // sq8_backup (build + backup + source mutations)
    "q345_lsh_incremental",    // lsh_index (banded sigs + two ingest phases)
    "q341_colbert_token_store", // colbert_tokens (token IVF + bucketed fetch)
    "q323_ann_tier_arbitration") // exact_topk5 (cached ground-truth leg)

  /** Prepend a 1-based `rnkName` column to a BOUNDED, already-ordered
    * frame by collecting it and zipping positions driver-side. Only
    * for frames bounded by construction (a `limit(k)`, a fixed-
    * cardinality distinct): it replaces the unpartitioned row_number
    * window — whose single-task WindowExec fires "No Partition
    * Defined" warnings and would be a scale bug on unbounded input —
    * with an explicitly driver-sized step, like the reference's own
    * driver-side shard-dir sort (MapReduceIndexerTool.java:1146-1166). */
  private def rankCollected(s: SparkSession, bounded: DataFrame,
                            rnkName: String): DataFrame = {
    val rows = bounded.collect()
    val ranked = rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq((i + 1L) +: r.toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(rnkName, LongType, nullable = false) +:
        bounded.schema.fields.toSeq)
    s.createDataFrame(java.util.Arrays.asList(ranked: _*), schema)
  }

  /** Evaluate independent thunks on their own threads and return the
    * results IN INPUT ORDER (r17 optimization, guide §2.6 "overlap
    * independent jobs"): multi-leg entries (tier arbitration, recall
    * evals) construct each leg with several eager, driver-blocking
    * jobs (quantizer loads, probe-cell collects, candidate collects);
    * run sequentially those jobs serialize on the driver even though
    * every one of them uses a fraction of the cluster. Spark's
    * scheduler interleaves concurrently-submitted jobs (FIFO back-
    * fill), and the result is a deterministic function of each thunk
    * alone, so ordering-by-input keeps the composed frame identical
    * to the sequential build. */
  private def concurrently[T](parts: Seq[() => T]): Seq[T] =
    graft.util.Par.seq(parts)

  // ---------------------------------------------------------------
  // queries: name -> (spark, sfDir) => DataFrame
  // ---------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1-S5 scan + match-all count (the `*:*` verification query)
    "q01_match_all" -> ((s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))),

    // Aggregate family over the main fact table (partial agg map-side;
    // decimal sums exact at any parallelism). sum_qty/avg_qty stay raw
    // DOUBLE (no decimal route): l_quantity values are integer-valued
    // doubles, whose sums are exact under any partition order — a
    // DATA-dependent invariant of the generator, not a structural one;
    // a generator with fractional quantities needs the decimal route.
    "q02_pricing_summary" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        count(lit(1)).as("cnt"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    }),

    // F4 generateSolrSequenceKey: per-file running counter key
    "q03_seq_key" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Etl.generateSequenceKey(docs, col("source"), col("source"), col("doc_id"), out = "seq_id")
        .select(col("doc_id"), col("seq_id"))
    }),

    // A1 RetainMostRecentUpdateConflictResolver
    "q04_dedup_retain_recent" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Dedup.retainMostRecent(ev, Seq(col("user_id")), col("ts"), col("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),

    // A6 dedup metric counters (duplicates vs outdated)
    "q05_dedup_counters" -> ((s, d) =>
      Dedup.retainMostRecentCounters(Tables.events(s, d), Seq(col("user_id")), col("ts"))),

    // A3 RejectingUpdateConflictResolver: the conflicting keys
    "q06_dedup_conflicts" -> ((s, d) =>
      Dedup.conflicts(Tables.events(s, d), Seq(col("user_id")))),

    // F1 convertTimestamp: multi-format parse -> ISO-8601
    "q07_convert_timestamp" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("raw", date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
      Etl.convertTimestamp(li, col("raw"), "ship_iso",
          Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .select(col("l_orderkey"), col("l_linenumber"), col("ship_iso"))
    }),

    // F3 generateUUID (deterministic name-based variant)
    "q08_uuid" -> ((s, d) =>
      Etl.generateUuid(Tables.documents(s, d), "uuid", col("doc_id"))
        .select(col("doc_id"), col("uuid"))),

    // P4 sanitizeUnknownSolrFields with quarantine rename
    "q09_sanitize" -> ((s, d) => {
      val schema = IndexSchema("doc_id", Seq(
        IndexField("doc_id", LongType, required = true),
        IndexField("text", StringType), IndexField("lang", StringType)))
      schema.sanitize(Tables.documents(s, d), renamePrefix = Some("ignored_"))
    }),

    // F2 tokenizeText + term frequencies (the inverted-index view)
    "q10_tokenize_tf" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextAnalysis.tokenize(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))),

    // term query read-back (MorphlineGoLiveMiniMRTest-style assertion)
    "q11_term_query" -> ((s, d) =>
      Tables.documents(s, d).filter(col("text").contains("spark"))
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // X2 Solr-compatible hash-range routing: docs per root shard
    "q12_shard_counts" -> ((s, d) => {
      val router = HashRangeRouter(4)
      Tables.lineitem(s, d)
        .withColumn("id", concat(col("l_orderkey"), lit("#"), col("l_linenumber")))
        .groupBy(router.shardCol(col("id")).as("shard"))
        .agg(count(lit(1)).as("cnt")).orderBy(col("shard"))
    }),

    // X2 micro-shard spread (reducers = shards * fanout)
    "q13_micro_shards" -> ((s, d) => {
      val router = HashRangeRouter(4)
      Tables.lineitem(s, d)
        .withColumn("id", concat(col("l_orderkey"), lit("#"), col("l_linenumber")))
        .groupBy(router.microShardCol(col("id"), 8).as("micro"))
        .agg(count(lit(1)).as("cnt")).orderBy(col("micro"))
    }),

    // join surface (free from Spark, §2.3): revenue per nation,
    // dims broadcast
    "q14_join_revenue" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
    }),

    // window family: gap-based sessionization (30 min)
    "q15_sessionize" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sec = col("ts").cast("long")
      val prevSec = lag(sec, 1).over(w)
      val newSession = when(prevSec.isNull || sec - prevSec > 1800, 1).otherwise(0)
      ev.withColumn("session_id",
          sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .select(col("event_id"), col("user_id"), col("session_id"))
    }),

    // sort + limit / top-k (absent in reference, Spark builtin).
    // orderBy+limit compiles to TakeOrderedAndProject — per-partition
    // top-k heaps merged on the driver — NOT a global row_number window,
    // which would drag every row through one task. The rank is then
    // zipped on DRIVER-side over the 10 collected rows (bounded by the
    // limit), so no unpartitioned WindowExec node exists in the plan
    // at all.
    "q16_topk_orders" -> ((s, d) => {
      val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
      val top = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(ord: _*)
        .limit(10)
      rankCollected(s, top, "rnk")
        .select(col("rnk"), col("o_orderkey"), col("o_totalprice"))
    }),

    // F8 alphanumeric ordering (part-2 < part-10 semantics). The
    // distinct-brand set is ~25 rows at any SF (brand cardinality is
    // fixed), so the positions are zipped driver-side over the sorted
    // collect — the reference itself does this sort on the driver
    // (MapReduceIndexerTool.java:1146-1166); never use this shape on
    // an unbounded key space.
    "q17_alphanum_sort" -> ((s, d) => {
      val brands = Tables.part(s, d).select(col("p_brand")).distinct()
        .orderBy(Etl.alphaNumOrderKey(col("p_brand")))
      rankCollected(s, brands, "pos")
        .select(col("pos"), col("p_brand"))
    }),

    // language ID heuristic (training-data pipeline)
    "q18_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))),

    // quality scoring (training-data pipeline)
    "q19_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cols = TextAnalysis.qualityColumns(col("text"))
      val base = cols.foldLeft(docs) { case (df, (n, c)) => df.withColumn(n, c) }
      base.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("mean_word_len"), col("punct_ratio"),
        col("stopword_distinct").cast("long").as("stopword_distinct"),
        col("stopword_ratio"), col("keep"))
    }),

    // document fingerprint (exact near-dup key)
    "q20_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),

    // exact dedup: keep first row per content hash group
    "q21_dedup_exact" -> ((s, d) =>
      Dedup.exactByContent(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"))),

    // MinHash+LSH near-dup candidates (planted near-dups: doc texts
    // re-appended with a suffix so candidate pairs exist)
    "q22_minhash_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // filter, not limit: limit without order takes arbitrary rows —
      // which docs get planted would depend on partition layout
      val planted = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(col("text"), lit(" near duplicate suffix")))
      val corpus = docs.unionByName(planted)
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      ApproxDedup.minHashCandidates(corpus, col("doc_id"), toks)
        .filter(col("est_jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash fingerprints
    "q23_simhash" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      Tables.documents(s, d).select(col("doc_id"), ApproxDedup.simHash32(toks).as("simhash"))
    }),

    // exact n-gram Jaccard on adjacent-doc pairs (shingle sets are
    // distinct'd once and persisted so the self-join reads them
    // instead of re-running tokenize+shingle on both sides)
    "q24_ngram_jaccard" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(ApproxDedup.shingles(toks, 3)).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sh.as("a").join(sh.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          ApproxDedup.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
    }),

    // brute-force cosine top-k (exact ANN baseline)
    "q25_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("corpus_id"), round(col("cosine"), 6).as("cosine_r"))
    }),

    // LSH-bucketed ANN (the scale path; oracle-free — signature uses
    // engine-side hyperplanes)
    "q26_lsh_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), 5, dim = 64)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // window running total (frame spec), decimal-exact
    "q27_running_total" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      ev.withColumn("running_value", sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
        .select(col("event_id"), col("user_id"), col("running_value"))
    }),

    // streaming-shape tumbling-window agg (batch equivalent of
    // StreamingIngest.windowedCounts)
    "q28_events_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))),

    // M4 union of inputs
    "q29_union_brands" -> ((s, d) => {
      val p = Tables.part(s, d)
      p.filter(col("p_brand") === "Brand#1")
        .unionByName(p.filter(col("p_brand") === "Brand#2"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
    }),

    // left-semi join (EXISTS)
    "q30_semi_join" -> ((s, d) =>
      Tables.customer(s, d).join(
          Tables.orders(s, d).filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),

    // left-anti join (NOT EXISTS)
    "q31_anti_join" -> ((s, d) =>
      Tables.customer(s, d).join(
          Tables.orders(s, d).filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    // set op: intersect
    "q32_intersect_nations" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))),

    // approx_count_distinct surfacing. The HLL estimate itself is
    // engine-specific, so the ORACLED output is (exact count, bound
    // check): within_bound = |approx-exact|/exact <= 3·rsd, which the
    // oracle reproduces as a literal TRUE next to its own exact count
    // — the hash matches iff Spark's deterministic HLL estimate
    // actually lands inside the published error bound.
    "q33_approx_distinct" -> ((s, d) => {
      val rsd = 0.05
      Tables.events(s, d).agg(
          approx_count_distinct(col("user_id"), rsd).as("__approx"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("exact_users"),
          (abs(col("__approx").cast("double") - col("exact_users").cast("double")) /
            col("exact_users").cast("double") <= lit(rsd * 3)).as("within_bound"))
    }),

    // the exact half of q33, split out so it gets a hash-matched oracle
    "q58_exact_distinct" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))),

    // P3 addValues: append to a multivalued field, null-safe (oracled)
    "q59_add_values" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("tags",
          when(col("doc_id") % 7 === 0, lit(null).cast("array<string>"))
            .otherwise(split(col("source"), "-")))
      Etl.addValues(Etl.addValues(docs, "tags", array(lit("extra"))),
          "tags", array(col("lang")))
        .select(col("doc_id"), array_join(col("tags"), "|").as("tags_joined"),
          size(col("tags")).cast("long").as("n_tags"))
    }),

    // P5 tryRules: first-matching-rule dispatch, each branch applying
    // its own transform (oracled as the equivalent CASE routing)
    "q61_try_rules" -> ((s, d) =>
      Etl.tryRules(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq(
          (col("lang") === "en",
            (b: org.apache.spark.sql.DataFrame) => b.withColumn("route", lit("english"))),
          (col("lang") === "de" || col("lang") === "fr",
            (b: org.apache.spark.sql.DataFrame) => b.withColumn("route", lit("european"))),
          (lit(true),
            (b: org.apache.spark.sql.DataFrame) => b.withColumn("route", lit("other")))))
        .select(col("doc_id"), col("route"))),

    // F6 separateAttachments: one record per attachment via explode
    "q62_separate_attachments" -> ((s, d) =>
      Etl.separateAttachments(
          Tables.documents(s, d)
            .withColumn("atts", split(col("source"), "-")),
          col("atts"))
        .select(col("doc_id"), col("attachment"))),

    // P2 extractAvroTree/flatten: struct flattened to prefixed
    // top-level columns (struct built in-query, flattened by the
    // SAME operator the Avro tree path uses)
    "q60_flatten_struct" -> ((s, d) =>
      Etl.flattenStructs(
        Tables.orders(s, d).select(
          col("o_orderkey"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").as("total")).as("meta")))
        .filter(col("meta_total") > 400000)
        .select(col("o_orderkey"), col("meta_status"),
          col("meta_total").cast("double").as("meta_total"))),

    // S5/S10 binary whole-file scan + MIME sniff + file_* metadata
    "q34_binary_assets" -> ((s, d) => {
      val bin = Multimodal.readBinary(s, d, "*.parquet")
      val sniffed = Multimodal.sniffMime(bin)
      Etl.withFileMetadata(sniffed, col("path"), col("length"), col("modificationTime"))
        .select(col("file_name"), col("mime"), col("file_length"))
        .orderBy(col("file_name"))
    }),

    // O1/O2 seed-deterministic randomization — the engine-replayable
    // md5(seed:id) form (hash-checked; the reference-parity rand(seed)
    // path stays available as Etl.randomize)
    "q35_randomize" -> ((s, d) =>
      Etl.randomizeReplayable(
          Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")),
          col("s_suppkey"))
        .select(col("s_name"), col("rkey"))),

    // P1-style projection out of semi-structured props
    "q36_extract_props" -> ((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("int").as("k"))),

    // A2 SortingUpdateConflictResolver: updates applied ascending by
    // timestamp — the observable ordered-apply sequence per key
    "q37_ordered_updates" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("user_id")).agg(
        array_join(
          transform(array_sort(collect_list(struct(col("ts"), col("event_id")))),
            x => x.getField("event_id").cast("string")),
          ",").as("ordered_events"))),

    // rollup (grouping-sets family — absent in reference, Spark builtin).
    // sum_qty: raw-double exactness rests on integer-valued quantities,
    // see the q02 note.
    "q38_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))),

    // left outer join with empty-side counting
    "q39_left_outer" -> ((s, d) =>
      Tables.orders(s, d).join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"), "left_outer")
        .groupBy(col("o_orderkey")).agg(count(col("l_orderkey")).as("n_lines"))),

    // scalar string-function family (morphline string commands)
    "q40_string_funcs" -> ((s, d) =>
      Tables.part(s, d).select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_name"), 1, 5).as("prefix5"),
        regexp_replace(col("p_type"), " ", "_").as("type_u"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"))),

    // exact distinct counts per group
    "q41_distinct_per_group" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_parts"))),

    // date-part extraction grouping
    "q42_year_month" -> ((s, d) =>
      Tables.orders(s, d).groupBy(
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("cnt"))),

    // set op: except
    "q43_except" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val rich = c.join(Tables.orders(s, d).filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .except(rich.select(col("c_custkey")))
    }),

    // skew-resistant salted dedup — MUST produce the same rows as the
    // window-based q04 (verified against the identical oracle)
    "q44_salted_dedup" -> ((s, d) =>
      Dedup.retainMostRecentSalted(Tables.events(s, d), Seq("user_id"),
          Seq("ts", "event_id"), saltBuckets = 16)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))),

    // embedding-cosine near-dup pairs (exact variant, DuckDB-checked;
    // the scale path is the LSH-bucketed dropNearDuplicatesByEmbedding)
    "q45_embedding_neardup" -> ((s, d) =>
      Similarity.nearDupPairsExact(Tables.embeddings(s, d), threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))),

    // IVF ANN (k-means cells + nprobe rescoring) — hash-checked: the
    // md5-seeded init + ordered-sample Lloyd loop replays in DuckDB as
    // 8 unrolled materialized rounds (the q161 BPE technique)
    "q46_ivf_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // Product-quantization ANN (Jégou et al. 2011, FAISS `PQ`): the
    // compression tier of the ANN family — a corpus vector becomes m=8
    // codebook codes (8 bytes vs 64 doubles), queries score by ADC
    // table lookups. Training (per-subspace Lloyd over the md5-seeded
    // ordered sample), encoding, and ADC all replay in DuckDB — the
    // q46 technique with a subspace key on every Lloyd CTE.
    "q292_pq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // IVF-PQ (FAISS IVFPQ — the classical billion-scale recipe):
    // coarse cells prune the probe, residuals product-quantize, ADC
    // scores probed pairs by m table lookups; the whole pipeline
    // (coarse Lloyd, residuals, m sub-Lloyds, encode, probe, ADC)
    // hash-checks against a DuckDB replay.
    "q293_ivfpq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64,
        nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // IVF-PQ + exact re-rank (FAISS IndexRefineFlat over IVFPQ — the
    // production two-stage pattern): 20 cheap ADC candidates per
    // query, then exact cosine over ONLY those rows fixes the final
    // ordering — quantization error corrected where it matters, raw
    // vectors fetched ∝ candidates, never corpus-wide.
    "q295_ivfpq_refine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqRefineTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        dim = 64, kCandidates = 20, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // the PERSISTED IVF index (build/load split): training + corpus
    // assignment run ONCE into a cell-partitioned store; a query
    // batch probes nprobe cells and reads ONLY those partitions (the
    // FAISS contract — at corpus scale the batch ivfTopK's per-call
    // retrain+reassign is the cost this kills). Same DuckDB oracle as
    // q46: training, probing and rescoring are bit-identical — only
    // WHERE the cells live changes.
    "q287_ivf_persisted" -> ((s, d) => {
      import graft.ops.IvfIndex
      val out = sharedStore(d, "ivf_index") { o =>
        IvfIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      IvfIndex.query(s, out, Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // the PERSISTED IVF-PQ index (q293's build/load split): the store
    // holds the COMPRESSED corpus — m codes per vector, no raw
    // vectors — plus the frozen coarse/sub-codebook quantizers; query
    // batches read only probed cell partitions and score by ADC.
    // Same oracle as q293: training, encoding, probing and ADC are
    // bit-identical — only where the codes live changes.
    "q294_ivfpq_persisted" -> ((s, d) => {
      import graft.ops.IvfPqIndex
      val out = sharedStore(d, "ivfpq_index") { o =>
        IvfPqIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      IvfPqIndex.query(s, out, Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // two-stage serving over the PERSISTED IVF-PQ store (q295's batch
    // refine, production form): ADC candidates from the code store,
    // exact cosine re-rank joining the raw corpus frame over ONLY
    // those rows — the code store never holds vectors, raw I/O ∝
    // candidates. Same oracle as q295 (candidates and re-rank are
    // bit-identical to the batch operator).
    "q302_ivfpq_refine_persisted" -> ((s, d) => {
      import graft.ops.IvfPqIndex
      val out = sharedStore(d, "ivfpq_index") { o =>
        IvfPqIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      IvfPqIndex.queryRefined(s, out, Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, kCandidates = 20, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // two-stage serving entirely FROM THE STORE (FAISS IndexRefineFlat
    // proper): build(refineStore=true) lays a raw-vector sidecar down
    // cell-partitioned beside the codes, and the exact re-rank fetches
    // from the PROBED CELLS only (partition pruning + pushed candidate
    // ids — plan-locked in IvfPqIndexSpec) with no external corpus
    // frame. Bit-identical to q302/q295, so it shares their oracle.
    "q305_ivfpq_refine_stored" -> ((s, d) => {
      import graft.ops.IvfPqIndex
      val out = sharedStore(d, "ivfpq_refine") { o =>
        IvfPqIndex.build(Tables.embeddings(s, d), o, dim = 64,
          refineStore = true)
      }
      IvfPqIndex.queryRefinedStored(s, out,
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, kCandidates = 20, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // FILTERED ANN over the persisted IVF store (FAISS IDSelector /
    // Solr's {!knn} composed with an fq — the most common production
    // vector-search shape: "nearest neighbors WHERE metadata
    // predicate"): the label predicate evaluates against the corpus
    // table into an id set, and ranking restricts to it via a
    // semi-join over the PROBED mass only (never corpus-wide; Catalyst
    // broadcasts the set when it fits). Oracle = q287's replay with
    // the same predicate applied before ranking (the q298 pattern).
    "q307_ivf_filtered" -> ((s, d) => {
      import graft.ops.IvfIndex
      val out = sharedStore(d, "ivf_index") { o =>
        IvfIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val allowed = Tables.embeddings(s, d)
        .filter(col("label").isin(1, 2, 3)).select(col("vec_id"))
      IvfIndex.queryFiltered(s, out,
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, allowed = allowed, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // Quantizer DRIFT probe (the retrain trigger the frozen-add
    // contract needs): milli-integer assignment-distance sums for the
    // stored corpus vs a deterministically SHIFTED recent batch
    // (+0.3 on dim 0 — the distribution moved). The oracle replays
    // training + assignment for both cohorts in the same exact milli
    // space; the recent sum reading high is the rebuild signal.
    "q308_ann_drift" -> ((s, d) => {
      import graft.ops.IvfIndex
      val out = sharedStore(d, "ivf_index") { o =>
        IvfIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val recent = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => x + when(i === 0, lit(0.3)).otherwise(lit(0.0)))
          .as("embedding"))
      IvfIndex.assignmentDrift(s, out, recent)
    }),

    // RETRAIN — the operator q308's drift signal calls for: build on
    // half the corpus, add the other half against the frozen (stale)
    // centroids, then retrain — the SAME md5-seeded training protocol
    // re-runs over the live corpus into a NEW generation, committed by
    // one _gen_N file (the segments_N precedent; old-generation dirs
    // keep serving until the swap). Because retrain over the live
    // corpus is bit-identical to build over that corpus, the retrained
    // store serves exactly q287's full-corpus answer: ONE oracle, two
    // construction paths (the q294 pattern) — a retrain that forgot
    // adds, resurrected deletes, or perturbed the training protocol
    // hash-fails here.
    "q309_ann_retrain" -> ((s, d) => {
      import graft.ops.IvfIndex
      val out = sharedStore(d, "ivf_retrain") { o =>
        val emb = Tables.embeddings(s, d)
        IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), o, dim = 64)
        IvfIndex.add(s, o, emb.filter(col("vec_id") % 2 === 1))
        IvfIndex.retrain(s, o)
      }
      IvfIndex.query(s, out, Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // HNSW (the Lucene {!knn} parity tier — Solr 9's actual vector
    // search is one Lucene HNSW graph per shard with a scatter-gather
    // merge; this is that architecture Spark-first, deterministic
    // build via md5-derived levels + (dist, id) tie-breaks). A graph
    // walk has no closed-form SQL replay, so the entry is
    // RECALL-FLOOR-GATED with the exact truth leg: per query,
    // recall@5 vs the replayable brute-force truth must clear 0.8 at
    // ef=64 — the oracle pins the (query, floor-met) table, so a
    // broken build, level assignment or shard merge hash-fails here
    // (HnswIndexSpec locks bit-identical builds and >=IVF recall at
    // equal candidate budget).
    "q313_hnsw_recall_gate" -> ((s, d) => {
      import graft.ops.{HnswIndex, RankingEval}
      val out = sharedStore(d, "hnsw_index") { o =>
        HnswIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = ops.Similarity.bruteForceTopK(emb, queries, 5)
        .select(col("query_id"), col("corpus_id"))
      val approx = HnswIndex.query(s, out, queries, k = 5, efSearch = 64)
        .select(col("query_id"), col("corpus_id"))
      RankingEval.annRecallAtK(exact, approx, k = 5)
        .select(col("query_id"),
          (col("recall_milli") >= 800).as("meets_floor"))
    }),

    // FILTERED HNSW (Lucene {!knn}+fq / FAISS IDSelector on the graph
    // tier): the allowed-id frame joins the graph as a per-node accept
    // flag; the walk routes THROUGH rejected nodes and collects only
    // accepted ones, and a shard whose walk visits more nodes than its
    // accepted count falls back to EXACT over the accepted set —
    // Lucene's visitedLimit fallback. The filter here is scarce
    // (accepted-per-shard < ef), so that fallback fires and the answer
    // is EXACT: unlike the unfiltered graph walk, this entry
    // hash-matches a full DuckDB replay (brute force over the allowed
    // set) — the scarce-filter contract itself is what's under oracle.
    "q314_hnsw_filtered" -> ((s, d) => {
      import graft.ops.HnswIndex
      val out = sharedStore(d, "hnsw_index") { o =>
        HnswIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val allowed = emb.filter(col("vec_id") % 13 === 0).select("vec_id")
      HnswIndex.queryFiltered(s, out, queries, k = 5, allowed,
          efSearch = 64)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // HNSW LIFECYCLE under one oracle: build on the evens, add the
    // odds (add rebuilds touched shards over old ∪ new with
    // ascending-id insertion — bit-identical to build-from-scratch
    // over the union, the q309 two-construction-paths pattern on the
    // graph tier), tombstone two id cohorts, purge (rebuilds ONLY the
    // touched shards into an atomically-committed new generation),
    // then run the scarce-filtered EXACT query. The DuckDB oracle is
    // brute force over (allowed ∩ live): a lost add, a resurrected
    // delete, a purge that moved a survivor's shard, or a generation
    // swap that served half-written data all hash-fail here.
    "q315_hnsw_lifecycle" -> ((s, d) => {
      import graft.ops.HnswIndex
      val out = sharedStore(d, "hnsw_lifecycle") { o =>
        val emb = Tables.embeddings(s, d)
        HnswIndex.build(emb.filter(col("vec_id") % 2 === 0), o, dim = 64)
        HnswIndex.add(s, o, emb.filter(col("vec_id") % 2 === 1))
        HnswIndex.removeIds(s, o,
          emb.filter(col("vec_id") % 10 === 4 || col("vec_id") % 10 === 7)
            .select("vec_id"))
        HnswIndex.purgeDeletes(s, o)
      }
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val allowed = emb.filter(col("vec_id") % 13 === 0).select("vec_id")
      HnswIndex.queryFiltered(s, out, queries, k = 5, allowed,
          efSearch = 64)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // {!knn} SERVED FROM THE STORE (round 15 — the qparser↔tier seam):
    // the literal Solr 9 request string `{!knn f= topK=}[...]` is
    // parsed and DISPATCHED onto the persisted sharded HNSW store —
    // Solr 9's actual execution (the qparser compiles onto one Lucene
    // HNSW graph per shard, scatter-gather merge), where KnnQuery.knn
    // alone is the exact-scan scoring surface. The fq pre-filter
    // compiles against the metadata frame into the walk's acceptDocs
    // set; the filter is selective, so every shard's walk overruns its
    // accepted cardinality and the scarce-filter EXACT fallback fires:
    // the request-string path must hash-match q314's full brute-force
    // replay — one oracle, two request surfaces.
    "q319_knn_hnsw_store" -> ((s, d) => {
      import graft.ops.HnswIndex
      val out = sharedStore(d, "hnsw_index") { o =>
        HnswIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val requests = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect().map { r =>
          val vec = r.getSeq[Double](1).mkString(",")
          (r.getLong(0), s"{!knn f=embedding topK=5}[$vec]")
        }.toSeq.sortBy(_._1)
      val meta = emb.select(col("vec_id"),
        pmod(col("vec_id"), lit(13)).as("mod13"))
      graft.search.KnnQuery.knnStore(s, out, requests, meta = Some(meta),
          fq = Some("mod13:0"), efSearch = 64)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // ONE hybrid-retrieval request (Solr 9.8's combiner — the modern
    // RAG/search shape, round 16): the lexical leg runs the full Solr
    // request loop (q117's path — parse, pushdown filter, index-served
    // distributed BM25) over the docs segment store; the vector leg
    // dispatches a {!knn} request string onto the persisted sharded
    // HNSW store under a scarce fq (q319's exact contract); integer
    // RRF (q178's combiner) fuses the two rank lists. All three legs
    // are individually oracled; this entry hash-checks their
    // COMPOSITION under one request surface — parse, filter, BM25
    // stats, graph dispatch, acceptDocs, rank fusion, every tie-break.
    "q327_hybrid_search" -> ((s, d) => {
      import graft.index.SegmentShardSink
      import graft.ops.HnswIndex
      val docsStore = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      val annStore = sharedStore(d, "hnsw_index") { o =>
        HnswIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val qvec = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).mkString(",")
      val meta = emb.select(col("vec_id"),
        pmod(col("vec_id"), lit(13)).as("mod13"))
      Graft.hybridSearch(s, docsStore, annStore,
          q = "text:spark", knnQ = s"{!knn f=embedding topK=10}[$qvec]",
          topN = 50, meta = Some(meta), fq = Some("mod13:0"))
        .limit(15)
        .select(col("id").cast("long").as("id"), col("rrf_score"),
          col("n_lists"))
    }),

    // SemDeDup with TRAINED centroids (round 16 — the published form:
    // Abbas et al. 2023 cluster with k-means; q145's axis-sign buckets
    // were the training-free stand-in): cells come from the SAME
    // md5-seeded ordered-sample Lloyd the IVF family ships (q46/q287's
    // replayable training), so cell populations adapt to the data
    // distribution and the O(cell²) rescore stays balanced on
    // clustered corpora where sign-bit buckets skew — and pairs split
    // by an axis sign but kept together by a centroid are now found
    // (spec-locked). Same downstream plan: one equi-join on the cell
    // key, keep-lowest-id. nlist SCALES with the corpus (the SemDeDup
    // cost model: cells sized so cell² stays bounded — ~128 rows/cell
    // keeps the pairwise rescore LINEAR in corpus size; fixed nlist
    // would read quadratic at 10×), floored at the oracle's 16 — at
    // the driver's sf0.01 correctness scale the floor binds, so the
    // replay stays bit-exact. The oracle replays TRAINING and prune.
    "q328_semantic_dedup_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val nlist = math.max(16, (emb.count() / 128L).toInt)
      ops.Similarity.semanticDedupIvf(emb, threshold = 0.4, dim = 64,
          nlist = nlist, sampleSize = math.max(2048, nlist * 16))
        .select(col("vec_id"), col("cluster"), col("is_dup"),
          col("max_prior_cos_r"))
    }),

    // BYTE-LEVEL BPE (GPT-2 / HF ByteLevel — round 16, the production
    // tokenizer form the word-boundary trainer q146/q161 stands
    // below): the GPT-2 regex pretokenizes (space-prefixed chunks,
    // so "the" word-initial and " the" mid-sentence train as distinct
    // symbols — the GPT-2 property), the byte alphabet maps chars
    // (space→Ġ), merges learn over the chunk-frequency table, the
    // fused kernel encodes the corpus; top-20 token occurrences. The
    // oracle replays the WHOLE pipeline: chunking (the corpus is
    // single-space lowercase words, so chunks are w0 plus Ġ-prefixed
    // rest — the regex's exact output on this text), alphabet map,
    // 20 statically-unrolled merge rounds (q161's technique), token
    // counting.
    "q329_bytelevel_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = text.Bpe.learnByteLevel(docs, "text", numMerges = 20)
      docs.select(explode(
          text.Bpe.encodeByteLevel(col("text"), merges)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("occurrences"))
        .orderBy(col("occurrences").desc, col("token")).limit(20)
    }),

    // Persisted INT8 (SQ8) tier — FAISS IndexIVFScalarQuantizer
    // (round 16): the quantization-ladder rung between 1-bit binary
    // and PQ — 8× memory cut vs float64 (4× vs float32) at far better
    // recall than a sign bit. Build on the EVENS (coarse Lloyd +
    // per-dim min/max scalar params over the NORMALIZED md5-ordered
    // sample — FAISS's cosine recipe: unit vectors make L2 track the
    // cosine), frozen-quantizer ADD the odds, then serve: probed-cell
    // partition pruning (plan-locked in Sq8IndexSpec), INTEGER
    // squared-L2 candidate cut (pure integer — replayable where float
    // decode would ulp-drift; translation-free where a shifted-space
    // dot would rank by the offsets), exact-cosine re-rank over
    // candidate rows only. The oracle replays training, normalization,
    // scalar params, codes, probing, the integer distance and the
    // re-rank — build AND add on one hash.
    "q330_sq8_ann" -> ((s, d) => {
      import graft.ops.Sq8Index
      val out = sharedStore(d, "sq8_index") { o =>
        val emb = Tables.embeddings(s, d)
        Sq8Index.build(emb.filter(col("vec_id") % 2 === 0), o, dim = 64)
        Sq8Index.add(s, o, emb.filter(col("vec_id") % 2 === 1))
      }
      val emb = Tables.embeddings(s, d)
      Sq8Index.query(s, out, emb.filter(col("vec_id") < 10), emb,
          k = 5, rerank = 32, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // FILTERED search on the SQ8 store (FAISS IDSelector on the int8
    // tier — q307/q326's sibling): the allowed set restricts
    // candidates AFTER probe pruning, before the integer-L2 cut, so
    // its left side is the probed mass only — q330's replay with the
    // predicate in exactly that position.
    "q334_sq8_filtered" -> ((s, d) => {
      import graft.ops.Sq8Index
      val out = sharedStore(d, "sq8_index") { o =>
        val emb = Tables.embeddings(s, d)
        Sq8Index.build(emb.filter(col("vec_id") % 2 === 0), o, dim = 64)
        Sq8Index.add(s, o, emb.filter(col("vec_id") % 2 === 1))
      }
      val emb = Tables.embeddings(s, d)
      Sq8Index.query(s, out, emb.filter(col("vec_id") < 10), emb,
          k = 5, rerank = 32, nprobe = 8,
          allowed = Some(emb.filter(col("vec_id") % 3 === 0)
            .select("vec_id")))
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // LATE-INTERACTION re-rank (ColBERT MaxSim, round 16): the
    // persisted IVF store nominates 20 candidates per query
    // (first-stage retrieval — q287's path), then multi-vector MaxSim
    // re-ranks ONLY those: per query token, the max integer-milli
    // cosine over the candidate's token vectors, summed. Token
    // vectors derive deterministically from the embeddings by index
    // rotation (3 doc tokens via +7t, 2 query tokens via +11t — a
    // replayable multi-vector fixture with genuinely distinct
    // directions). The oracle replays first-stage training+probe AND
    // the MaxSim tree: rotation, per-pair floor(cos·1000+0.5), max,
    // sum, every tie-break.
    "q331_colbert_maxsim" -> ((s, d) => {
      import graft.ops.{IvfIndex, LateInteraction}
      val out = sharedStore(d, "ivf_index") { o =>
        IvfIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val cand = IvfIndex.query(s, out, queries, k = 20, nprobe = 8)
        .select("query_id", "corpus_id")
      def rotated(step: Column) = transform(sequence(lit(0), lit(63)),
        j => element_at(col("e"), (pmod(j + step, lit(64)) + 1).cast("int")))
      val docTokens = emb.select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("e"))
        .withColumn("tpos", explode(array(lit(0), lit(1), lit(2))))
        .select(col("doc_id"), rotated(col("tpos") * 7).as("tvec"))
      val queryTokens = queries.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("e"))
        .withColumn("qpos", explode(array(lit(0), lit(1))))
        .select(col("query_id"), col("qpos"),
          rotated(col("qpos") * 11).as("qvec"))
      LateInteraction.maxSimRerank(cand, docTokens, queryTokens, k = 5)
        .select(col("query_id"), col("rank"), col("corpus_id"),
          col("maxsim_milli"))
    }),

    // PINNED SNAPSHOT query on a mutating ANN store (round 16 —
    // the reproducible-eval use case, hash-oracled): build the IVF
    // store on the EVENS, tombstone a cohort, PIN — then pile on
    // every mutation class (frozen adds of the odds; a purge that
    // must DEFER because its generation is pinned; a retrain that
    // rolls a new generation and folds the tombstones; a reclaim).
    // The pinned token must serve the PIN-TIME answers bit-for-bit:
    // the oracle replays training on the evens and ranks over evens
    // minus the tombstoned cohort — none of the post-pin mutations
    // may reach it.
    "q332_ann_pinned_query" -> ((s, d) => {
      import graft.ops.IvfIndex
      val out = sharedStore(d, "ivf_pinned") { o =>
        val emb = Tables.embeddings(s, d)
        val evens = emb.filter(col("vec_id") % 2 === 0)
        IvfIndex.build(evens, o, dim = 64)
        IvfIndex.removeIds(s, o,
          evens.filter(col("vec_id") % 7 === 1).select("vec_id"))
        val pin = IvfIndex.pinGeneration(s, o)
        require(pin == 0, s"expected the build generation, got $pin")
        IvfIndex.add(s, o, emb.filter(col("vec_id") % 2 === 1))
        require(IvfIndex.purgeDeletes(s, o) == 0,
          "purge must defer while its generation is pinned")
        IvfIndex.retrain(s, o)
        IvfIndex.reclaimGenerations(s, o)
      }
      IvfIndex.queryPinned(s, out, token = 0,
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // the GRAPH tier's pinned snapshot, hash-oracled (q332's sibling
    // on HnswIndex — here the pin freezes all THREE mutable layers:
    // the generation ceiling, the tombstone set, and the streamed
    // DELTA, each materialized at pin time): build evens, stream id
    // 13 into the delta, tombstone an even cohort, PIN — then upsert
    // every odd id with NEGATED vectors, tombstone more, purge, fold,
    // reclaim. The pinned scarce-filtered query (fq %13 — the q314
    // exact contract) must serve the pin-time live set with the
    // pin-time vectors: a leak of the negated upserts, the later
    // tombstones, or the fold is a hash-fail.
    "q333_hnsw_pinned_query" -> ((s, d) => {
      import graft.ops.HnswIndex
      val out = sharedStore(d, "hnsw_pinned") { o =>
        val emb = Tables.embeddings(s, d)
        val evens = emb.filter(col("vec_id") % 2 === 0)
        HnswIndex.build(evens, o, dim = 64)
        require(HnswIndex.addBatchDelta(s, o,
          emb.filter(col("vec_id") === 13), 0L, "q333"))
        HnswIndex.removeIds(s, o,
          evens.filter(col("vec_id") % 7 === 1).select("vec_id"))
        val pin = HnswIndex.pinSnapshot(s, o)
        require(pin == 0, s"expected the build ceiling, got $pin")
        HnswIndex.add(s, o, emb.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), transform(col("embedding")
            .cast("array<double>"), x => x * lit(-1.0)).as("embedding")))
        HnswIndex.removeIds(s, o,
          emb.filter(col("vec_id") % 5 === 0).select("vec_id"))
        HnswIndex.purgeDeletes(s, o)
        HnswIndex.foldDelta(s, o)
        HnswIndex.reclaimGenerations(s, o, retain = 1)
      }
      val emb = Tables.embeddings(s, d)
      HnswIndex.queryPinned(s, out, token = 0,
          emb.filter(col("vec_id") < 10), k = 5, efSearch = 64,
          allowed = Some(emb.filter(col("vec_id") % 13 === 0)
            .select("vec_id")))
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // the dense (unfiltered) {!knn}-from-store case: no SQL replay of
    // the graph walk exists, so — the q313 pattern — the entry is
    // recall-floor-gated against the replayable exact truth leg:
    // per request, recall@5 of the store-served answer vs brute force
    // must clear 0.8 at ef=64.
    "q320_knn_hnsw_recall" -> ((s, d) => {
      import graft.ops.{HnswIndex, RankingEval}
      val out = sharedStore(d, "hnsw_index") { o =>
        HnswIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val requests = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect().map { r =>
          val vec = r.getSeq[Double](1).mkString(",")
          (r.getLong(0), s"{!knn f=embedding topK=5}[$vec]")
        }.toSeq.sortBy(_._1)
      val served = graft.search.KnnQuery.knnStore(s, out, requests,
          efSearch = 64)
        .select(col("query_id"), col("corpus_id"))
      val exact = ops.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 10), 5)
        .select(col("query_id"), col("corpus_id"))
      RankingEval.annRecallAtK(exact, served, k = 5)
        .select(col("query_id"),
          (col("recall_milli") >= 800).as("meets_floor"))
    }),

    // HNSW STREAMING via the DELTA tier (round 15 — Lucene's NRT shape
    // closing the graph tier's ingest gap): build on the evens, STREAM
    // the odds in two exactly-once micro-batches into the flat delta
    // store (appending to the graph itself would be insertion-order-
    // dependent — refused; the delta is order-free by construction),
    // tombstone two cohorts, then run the scarce-filtered EXACT query:
    // the graph leg (scarce fallback) and the delta leg (always exact
    // cosine) merge into one exact answer, so the entry hash-matches
    // q315's lifecycle oracle — the SAME live set through a third
    // ingest path (build+add / build+stream / fresh build all agree).
    "q322_hnsw_stream_delta" -> ((s, d) => {
      import graft.ops.HnswIndex
      import graft.streaming.StreamingIngest
      val out = sharedStore(d, "hnsw_stream") { o =>
        val emb = Tables.embeddings(s, d)
        HnswIndex.build(emb.filter(col("vec_id") % 2 === 0), o, dim = 64)
        val adds = emb.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), col("embedding"))
        val root = java.nio.file.Files.createTempDirectory("graft_q322_").toString
        val src = s"$root/src"
        new java.io.File(src).mkdirs()
        def stageBatch(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = s"$root/stage_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file in $tmp"))
          val dst = new java.io.File(src, s"$name.parquet")
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          require(dst.setLastModified(mtime), s"cannot set mtime on $dst")
        }
        stageBatch(adds.filter(col("vec_id") < 250), "b0", 1000000000000L)
        stageBatch(adds.filter(col("vec_id") >= 250), "b1", 1000000060000L)
        val stream = s.readStream.schema(adds.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        StreamingIngest.annIngestSink(o, streamId = "q322")(stream)
          .start().awaitTermination()
        HnswIndex.removeIds(s, o,
          emb.filter(col("vec_id") % 10 === 4 || col("vec_id") % 10 === 7)
            .select("vec_id"))
      }
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val allowed = emb.filter(col("vec_id") % 13 === 0).select("vec_id")
      HnswIndex.queryFiltered(s, out, queries, k = 5, allowed,
          efSearch = 64)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // Unigram-LM (SentencePiece) tokenizer training, stage 1 — the
    // SEED VOCABULARY: freq-weighted counts of all substrings (≤4
    // chars) of the word-frequency table, top-300 by (cnt, piece)
    // union every single character (coverage). One distributed
    // explode+aggregate over the one-shuffle word table; pure integer.
    "q310_unigram_seed" -> ((s, d) => {
      val words = text.Bpe.wordFrequencies(Tables.documents(s, d), "text")
      text.Unigram.seedVocab(words, seedSize = 300, maxPieceLen = 4)
        .select(col("piece"), col("cnt"))
    }),

    // Unigram-LM stage 2 — the first E-STEP: Viterbi argmax
    // segmentation of the top-200 short words under the seed scores
    // (integer milli log-probs, floor(x+0.5) — identical on both
    // engines), ties broken by the lexicographically smallest
    // segmentation. The oracle ENUMERATES every segmentation in a
    // recursive CTE and takes the same argmax — two independent
    // implementations of the DP contract must agree on score AND path.
    "q311_unigram_estep" -> ((s, d) => {
      import s.implicits._
      val all = text.Bpe.wordFrequencies(Tables.documents(s, d), "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val seed = text.Unigram.seedInMemory(all, seedSize = 300, maxPieceLen = 4)
      val total = seed.iterator.map(_._2).sum
      val scores = seed.iterator
        .map { case (p, c) => p -> text.Unigram.scoreMilli(c, total) }.toMap
      val words = all.filter(_._1.length <= 10)
        .sortBy { case (w, f) => (-f, w) }.take(200)
      words.map { case (w, f) =>
        val (sc, seg) = text.Unigram.viterbi(w, scores, 4).get
        (w, f, sc, seg.mkString(" "))
      }.toDF("word", "freq", "score_milli", "seg")
    }),

    // Unigram-LM stage 3 — the M-STEP re-estimate: freq-weighted
    // expected piece counts over the E-step segmentations (the counts
    // the next EM round's probabilities come from), top-50. The full
    // EM+prune loop (Unigram.learnInMemory) is fuzz-locked against an
    // exhaustive-enumeration reference in UnigramSpec.
    "q312_unigram_mstep" -> ((s, d) => {
      import s.implicits._
      val all = text.Bpe.wordFrequencies(Tables.documents(s, d), "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val seed = text.Unigram.seedInMemory(all, seedSize = 300, maxPieceLen = 4)
      val total = seed.iterator.map(_._2).sum
      val scores = seed.iterator
        .map { case (p, c) => p -> text.Unigram.scoreMilli(c, total) }.toMap
      val words = all.filter(_._1.length <= 10)
        .sortBy { case (w, f) => (-f, w) }.take(200)
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, f) =>
        text.Unigram.viterbi(w, scores, 4).foreach { case (_, pieces) =>
          pieces.foreach(p => counts.update(p, counts.getOrElse(p, 0L) + f))
        }
      }
      counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(50)
        .toDF("piece", "cnt")
    }),

    // The DISTRIBUTED unigram E-step kernel (round 14): the same
    // M-step answer as q312, computed by `eStepCountsDistributed` —
    // broadcast scores, Viterbi each word WHERE IT SITS, one
    // vocab-bounded aggregation; the word table never collects. One
    // oracle (q312's recursive-CTE enumeration), two execution paths:
    // this is the kernel `learnDistributed` loops, the cap-free
    // 100 TB train (its full-loop bit-parity with learnInMemory is
    // spec-locked in UnigramSpec).
    "q316_unigram_mstep_dist" -> ((s, d) => {
      import s.implicits._
      val all = text.Bpe.wordFrequencies(Tables.documents(s, d), "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val seed = text.Unigram.seedInMemory(all, seedSize = 300, maxPieceLen = 4)
      val total = seed.iterator.map(_._2).sum
      val scores = seed.iterator
        .map { case (p, c) => p -> text.Unigram.scoreMilli(c, total) }.toMap
      val words = all.filter(_._1.length <= 10)
        .sortBy { case (w, f) => (-f, w) }.take(200)
      val counts = text.Unigram.eStepCountsDistributed(
        words.toDF("word", "freq"), scores, maxPieceLen = 4)
      counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(50)
        .toDF("piece", "cnt")
    }),

    // 1-BIT binary embedding quantization (FAISS IndexBinaryFlat /
    // the modern binary-embedding serving tier; 32× memory cut vs
    // the engine's float64 arrays, 16× vs float32):
    // sign-pack to 32-bit words (shift-free acc*2+bit — exact integer
    // arithmetic on both engines), rank by Hamming (popcount of XOR),
    // exact-cosine re-rank over the top-32 candidates only. Unlike
    // the graph walk, EVERY stage replays in SQL, so the whole
    // two-stage pipeline hash-matches the DuckDB oracle.
    "q317_binary_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.BinaryQuant.binaryTopK(emb,
        emb.filter(col("vec_id") < 10), k = 5, rerank = 32, dim = 64)
    }),

    // MATRYOSHKA (MRL) two-stage retrieval (round 16 — Kusupati et
    // al. 2022, the truncatable-embedding recipe the current
    // embedding APIs ship): stage 1 ranks by cosine over the FIRST 16
    // of 64 dims (a quarter of the scan's flops/bytes — the
    // quantization ladder's lateral sibling: cut DIMENSIONS instead
    // of bits), stage 2 re-ranks 32 candidates full-dim exact. Every
    // stage is slices of one arithmetic tree — the whole pipeline
    // replays in DuckDB.
    "q335_matryoshka_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      ops.Similarity.matryoshkaTopK(emb, emb.filter(col("vec_id") < 10),
          k = 5, rerank = 32, prefixDim = 16)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // SQ8 DRIFT probe (round 17, closes the frozen-quantizer loop on
    // the int8 tier): q308's retrain trigger re-read off the SQ8
    // layout — the stored cohort DEQUANTIZES the codes (vmin +
    // qc/255·vdiff, the store AS SERVED, quantization error included)
    // and the recent cohort is the same deterministically shifted
    // batch (+0.3 on dim 0). The oracle replays coarse training,
    // scalar params, codes, the decode, and both cohorts' exact
    // integer-milli assignment-distance sums.
    "q336_sq8_drift" -> ((s, d) => {
      import graft.ops.Sq8Index
      val out = sharedStore(d, "sq8_index") { o =>
        val emb = Tables.embeddings(s, d)
        Sq8Index.build(emb.filter(col("vec_id") % 2 === 0), o, dim = 64)
        Sq8Index.add(s, o, emb.filter(col("vec_id") % 2 === 1))
      }
      val recent = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => x + when(i === 0, lit(0.3)).otherwise(lit(0.0)))
          .as("embedding"))
      Sq8Index.assignmentDrift(s, out, recent)
    }),

    // MMR diversified re-rank (round 17 — Carbonell & Goldstein 1998,
    // the standard diversification step a retrieval stack runs above
    // any first-stage tier: RAG context assembly must not return k
    // near-duplicates): greedy k-of-N selection maximizing
    // λ·rel − (1−λ)·max-sim-to-selected, everything integer-milli
    // BEFORE the greedy (each step an exact integer argmax, ties by
    // id), distributed per query via flatMapGroups over the bounded
    // candidate group. The oracle replays the first-stage top-16 AND
    // all five greedy steps (statically unrolled — the q161
    // technique).
    "q343_mmr_diversify" -> ((s, d) => {
      import graft.ops.{Diversify, IvfIndex}
      val out = sharedStore(d, "ivf_index") { o =>
        IvfIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val cand = IvfIndex.query(s, out, queries, k = 16, nprobe = 8)
        .select("query_id", "corpus_id")
      Diversify.mmrTopK(cand, emb, queries, k = 5)
    }),

    // TOKEN-LEVEL multi-vector store (round 17 — the production
    // ColBERT shape q331 stood below: token vectors PERSIST, and
    // candidates come from per-query-token ANN probes against the
    // token store ITSELF, not an external doc-level tier). Two views
    // of one token set: an IVF over token space (coarse quantizer
    // trained on the md5-seeded ordered token sample, keyed
    // doc_id·4+tpos) for candidate generation, and a doc-id-bucketed
    // copy for the MaxSim fetch (a candidate's full token set may
    // live in unprobed cells). The oracle replays training, per-token
    // probing, the tokenK cut, the candidate union, and the whole
    // integer-milli MaxSim tree.
    "q341_colbert_token_store" -> ((s, d) => {
      import graft.ops.LateInteraction
      def rotated(step: Column) = transform(sequence(lit(0), lit(63)),
        j => element_at(col("e"), (pmod(j + step, lit(64)) + 1).cast("int")))
      val out = sharedStore(d, "colbert_tokens") { o =>
        val docTokens = Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"),
            col("embedding").cast("array<double>").as("e"))
          .withColumn("tpos", explode(array(lit(0), lit(1), lit(2))))
          .select(col("doc_id"), col("tpos"),
            rotated(col("tpos") * 7).as("tvec"))
        LateInteraction.buildTokenStore(docTokens, o, dim = 64,
          nlist = 16, posStride = 4)
      }
      val queryTokens = Tables.embeddings(s, d)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("e"))
        .withColumn("qpos", explode(array(lit(0), lit(1))))
        .select(col("query_id"), col("qpos"),
          rotated(col("qpos") * 11).as("qvec"))
      LateInteraction.queryTokenStore(s, out, queryTokens, k = 5,
        tokenK = 16, nprobe = 4)
    }),

    // UNIGRAM BYTE-FALLBACK encode (round 17 — SentencePiece
    // `byte_fallback=true`, the LLaMA-family form: 256 <0xNN> pieces
    // guarantee no unk): q311's E-step words prefixed with an
    // OUT-OF-VOCABULARY '7' (the corpus is pure a-z, so no piece
    // contains a digit — the byte arc is the ONLY way through
    // position 0, and the DP's additivity makes the rest exactly the
    // plain Viterbi argmax). The oracle replays seed + enumeration
    // and prepends the forced <0x37> arc; the decoded column binds
    // the round trip. Scores ride integer-milli, byte pieces at
    // (min − 1000) — strictly dominated wherever real coverage
    // exists (fuzz-locked in UnigramProps).
    "q340_unigram_bytefallback" -> ((s, d) => {
      import s.implicits._
      val all = text.Bpe.wordFrequencies(Tables.documents(s, d), "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val seed = text.Unigram.seedInMemory(all, seedSize = 300,
        maxPieceLen = 4)
      val total = seed.iterator.map(_._2).sum
      val vocab = text.Unigram.withByteFallback(seed.map { case (p, c) =>
        text.Unigram.Entry(p, c, text.Unigram.scoreMilli(c, total))
      })
      val words = all.filter(_._1.length <= 10)
        .sortBy { case (w, f) => (-f, w) }.take(200)
      words.map { case (w, f) =>
        val pieces = text.Unigram.encodeByteFallback("7" + w, vocab, 4)
        (w, f, pieces.mkString(" "),
          text.Unigram.decodeByteFallback(pieces))
      }.toDF("word", "freq", "seg", "decoded")
    }),

    // BATCHED hybrid retrieval (round 17 — q327's composition serving
    // THREE requests as one call): the vector legs dispatch as ONE
    // {!knn} job over the sharded HNSW store (scatter-gather shared
    // across the batch, fq → acceptDocs), the lexical legs keep
    // per-request postings pushdown (each topN-bounded), and ONE
    // integer-RRF job fuses grouped by (request, id). Per-request
    // rows are bit-identical to hybridSearch in a loop (spec-locked);
    // the oracle replays all six legs and the keyed fuse.
    "q339_hybrid_batch" -> ((s, d) => {
      import graft.index.SegmentShardSink
      import graft.ops.HnswIndex
      val docsStore = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      val annStore = sharedStore(d, "hnsw_index") { o =>
        HnswIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Double](1).mkString(",")).toMap
      val meta = emb.select(col("vec_id"),
        pmod(col("vec_id"), lit(13)).as("mod13"))
      val reqs = Seq(
        (-1L, "text:join", s"{!knn f=embedding topK=10}[${qv(0L)}]"),
        (-2L, "text:vector", s"{!knn f=embedding topK=10}[${qv(1L)}]"),
        (-3L, "text:merge", s"{!knn f=embedding topK=10}[${qv(2L)}]"))
      Graft.hybridSearchBatch(s, docsStore, annStore, reqs, topN = 50,
          meta = Some(meta), fq = Some("mod13:0"))
        .select(col("request_id"), col("id").cast("long").as("id"),
          col("rrf_score"), col("n_lists"))
    }),

    // PINNED SNAPSHOT on the SQ8 tier (round 17 — q332's pattern on
    // the int8 rung, closing pins across the serving ladder): build
    // on the evens, tombstone the %7==1 cohort, PIN — then frozen-add
    // the odds, tombstone more, and attempt a purge that must DEFER
    // (its generation is pinned). The pinned query serves exactly the
    // pin-time file set + tombstone snapshot; the oracle replays the
    // whole SQ8 pipeline restricted to the pin-time live set (evens
    // minus %7==1). A leak of the adds, the later tombstones, or a
    // purge that rewrote pinned files is a hash-fail.
    "q338_sq8_pinned_query" -> ((s, d) => {
      import graft.ops.{IvfIndex, Sq8Index}
      val out = sharedStore(d, "sq8_pinned") { o =>
        val emb = Tables.embeddings(s, d)
        val evens = emb.filter(col("vec_id") % 2 === 0)
        Sq8Index.build(evens, o, dim = 64)
        Sq8Index.removeIds(s, o,
          evens.filter(col("vec_id") % 7 === 1).select("vec_id"))
        val pin = Sq8Index.pinGeneration(s, o)
        require(pin == 0, s"expected the build generation, got $pin")
        Sq8Index.add(s, o, emb.filter(col("vec_id") % 2 === 1))
        Sq8Index.removeIds(s, o,
          emb.filter(col("vec_id") % 3 === 0).select("vec_id"))
        require(Sq8Index.purgeDeletes(s, o) == 0,
          "purge must defer while its generation is pinned")
      }
      val emb = Tables.embeddings(s, d)
      Sq8Index.queryPinned(s, out, token = 0,
          emb.filter(col("vec_id") < 10), emb,
          k = 5, rerank = 32, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // ONE REQUEST STRING, ANY SELF-CONTAINED TIER (round 17 — the
    // {!knn} qparser's marker dispatch extended beyond HNSW): the
    // SAME ten literal Solr 9 request strings serve the raw IVF
    // store (probe + exact) AND the MRL store (prefix probe +
    // sidecar re-rank), each leg hash-checked against its tier's
    // full replay — the request surface is now tier-agnostic
    // wherever a store is self-contained (SQ8/binary refuse with a
    // corpus-frame pointer, spec-locked).
    "q346_knn_any_tier" -> ((s, d) => {
      import graft.ops.{IvfIndex, MrlIndex}
      val ivfStore = sharedStore(d, "ivf_index") { o =>
        IvfIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val mrlStore = sharedStore(d, "mrl_index") { o =>
        val emb = Tables.embeddings(s, d)
        MrlIndex.build(emb.filter(col("vec_id") % 2 === 0), o,
          dim = 64, prefixDim = 16)
        MrlIndex.add(s, o, emb.filter(col("vec_id") % 2 === 1))
      }
      val reqs = Tables.embeddings(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0),
          s"{!knn f=embedding topK=5}[${r.getSeq[Double](1).mkString(",")}]"))
        .toSeq
      // the two tier legs are independent — dispatch them concurrently
      // (r17, graft.util.Par); union order is unchanged
      val (ivfLeg, mrlLeg) = graft.util.Par.pair(
        () => Graft.knnServe(s, ivfStore, reqs, nprobe = 8)
          .withColumn("tier", lit("ivf"))
          .select("tier", "query_id", "rank", "corpus_id"),
        () => Graft.knnServe(s, mrlStore, reqs, nprobe = 8, rerank = 32)
          .withColumn("tier", lit("mrl"))
          .select("tier", "query_id", "rank", "corpus_id"))
      ivfLeg.unionByName(mrlLeg)
    }),

    // PERSISTED incremental near-dup index (round 17 — the LSH
    // sibling of q274's bloom-incremental exact gate: banded MinHash
    // signatures persist bucket-partitioned, and the ingest gate is a
    // store operation): build on the %3!=0 corpus, then TWO ingest
    // phases — batch 1 carries planted near-dups of CORPUS docs
    // (dropped against the store) plus fresh %3==0 docs (indexed as
    // survivors); batch 2 carries near-dups of those SURVIVORS, whose
    // drops prove the store grew between phases. The oracle replays
    // signatures, banding, both phases' matches, the integer-milli
    // estimate, and the best-match tie-break — on one hash.
    "q345_lsh_incremental" -> ((s, d) => {
      import graft.ops.LshIndex
      val out = sharedStore(d, "lsh_index") { o =>
        val docs = Tables.documents(s, d)
        LshIndex.build(docs.filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), col("text")), s"$o/store")
        val plain = docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"))
        val planted1 = docs
          .filter(col("doc_id") < 30 && col("doc_id") % 3 =!= 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" near duplicate suffix")).as("text"))
        LshIndex.ingestDedup(s, s"$o/store",
            plain.unionByName(planted1), thresholdMilli = 500L)
          .coalesce(1).write.mode("overwrite").parquet(s"$o/report1")
        val planted2 = docs
          .filter(col("doc_id") % 3 === 0 && col("doc_id") < 60)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" near duplicate suffix")).as("text"))
        LshIndex.ingestDedup(s, s"$o/store", planted2,
            thresholdMilli = 500L)
          .coalesce(1).write.mode("overwrite").parquet(s"$o/report2")
      }
      s.read.parquet(s"$out/report1").withColumn("phase", lit(1))
        .unionByName(
          s.read.parquet(s"$out/report2").withColumn("phase", lit(2)))
        .select(col("phase"), col("id"), col("dup_of"), col("est_milli"))
    }),

    // CONSISTENT ONLINE BACKUP of a mutating ANN store (round 17 —
    // the /replication story on the vector tiers, built ON the pin
    // machinery: a pin IS a backup manifest): build SQ8 on the evens,
    // tombstone %7==1, BACKUP (pin → copy exactly the manifest →
    // release), then mutate the SOURCE freely (add odds, more
    // tombstones, a purge that now RUNS — the pin was released). The
    // backup serves the backup-time answers from its own directory:
    // ONE oracle (q338's pin-time live set), TWO mechanisms — the
    // q294 discipline.
    "q344_ann_backup" -> ((s, d) => {
      import graft.ops.{AnnBackup, Sq8Index}
      val out = sharedStore(d, "sq8_backup") { o =>
        val emb = Tables.embeddings(s, d)
        val evens = emb.filter(col("vec_id") % 2 === 0)
        val src = s"$o/src"
        Sq8Index.build(evens, src, dim = 64)
        Sq8Index.removeIds(s, src,
          evens.filter(col("vec_id") % 7 === 1).select("vec_id"))
        AnnBackup.backup(s, src, s"$o/bak")
        Sq8Index.add(s, src, emb.filter(col("vec_id") % 2 === 1))
        Sq8Index.removeIds(s, src,
          emb.filter(col("vec_id") % 3 === 0).select("vec_id"))
        require(Sq8Index.purgeDeletes(s, src) > 0,
          "the post-release purge must physically reclaim")
      }
      val emb = Tables.embeddings(s, d)
      Sq8Index.query(s, s"$out/bak", emb.filter(col("vec_id") < 10),
          emb, k = 5, rerank = 32, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // STORE-SERVED Matryoshka (round 17 — q335's flat prefix scan
    // moved onto a persisted probe-pruned tier): the coarse quantizer
    // trains ON THE PREFIX SPACE (md5-seeded ordered-sample Lloyd over
    // 16-dim slices — train in the space you rank in), `cells/` holds
    // prefix slices only (prefixDim/dim of the corpus bytes),
    // `vectors/` is the full-dim refine sidecar; a query probes its 8
    // nearest prefix cells (partition-pruned, plan-locked in
    // MrlIndexSpec), ranks the probed mass by prefix cosine, and
    // re-ranks 32 candidates exactly from the sidecar. Build on the
    // evens + frozen-quantizer add of the odds — the oracle replays
    // training, assignment, probing, both cosine stages, every
    // tie-break, on one hash.
    "q337_mrl_persisted" -> ((s, d) => {
      import graft.ops.MrlIndex
      val out = sharedStore(d, "mrl_index") { o =>
        val emb = Tables.embeddings(s, d)
        MrlIndex.build(emb.filter(col("vec_id") % 2 === 0), o,
          dim = 64, prefixDim = 16)
        MrlIndex.add(s, o, emb.filter(col("vec_id") % 2 === 1))
      }
      val emb = Tables.embeddings(s, d)
      MrlIndex.query(s, out, emb.filter(col("vec_id") < 10),
        k = 5, rerank = 32, nprobe = 8)
    }),

    // PINNED SNAPSHOT on the MRL tier (round 17 — q332/q338's pattern
    // on the dimension-cut rung: pins now cover ALL SEVEN persisted
    // tiers): build on evens, tombstone %7==1, PIN — then frozen-add
    // the odds, tombstone more, attempt a purge that must DEFER (the
    // shared IvfIndex pass already checks the pin). The pinned query
    // reads both stages' pin-time file sets; the oracle replays the
    // MRL pipeline restricted to the pin-time live set.
    "q342_mrl_pinned_query" -> ((s, d) => {
      import graft.ops.{IvfIndex, MrlIndex}
      val out = sharedStore(d, "mrl_pinned") { o =>
        val emb = Tables.embeddings(s, d)
        val evens = emb.filter(col("vec_id") % 2 === 0)
        MrlIndex.build(evens, o, dim = 64, prefixDim = 16)
        MrlIndex.removeIds(s, o,
          evens.filter(col("vec_id") % 7 === 1).select("vec_id"))
        val pin = MrlIndex.pinGeneration(s, o)
        require(pin == 0, s"expected the build generation, got $pin")
        MrlIndex.add(s, o, emb.filter(col("vec_id") % 2 === 1))
        MrlIndex.removeIds(s, o,
          emb.filter(col("vec_id") % 3 === 0).select("vec_id"))
        require(MrlIndex.purgeDeletes(s, o) == 0,
          "purge must defer while its generation is pinned")
      }
      MrlIndex.queryPinned(s, out, token = 0,
        Tables.embeddings(s, d).filter(col("vec_id") < 10),
        k = 5, rerank = 32, nprobe = 8)
    }),

    // the persisted binary-code tier (FAISS IndexBinaryFlat on disk:
    // pack once, serve Hamming forever from 1/32 the bytes; the
    // re-rank fetch is candidate-id-pushed into the external corpus
    // read — the queryRefined discipline). Same oracle as q317: one
    // oracle, two read paths — a store that dropped a code, packed a
    // bit differently, or fetched beyond its candidates hash-fails.
    "q318_binary_ann_persisted" -> ((s, d) => {
      val out = sharedStore(d, "bq_codes") { o =>
        graft.ops.BinaryQuant.buildStore(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      graft.ops.BinaryQuant.queryStore(s, out,
        emb.filter(col("vec_id") < 10), emb, k = 5, rerank = 32)
    }),

    // BUCKETED binary ANN (round 15 — FAISS IndexBinaryIVF, the 100 TB
    // serving form of the binary tier): q317/q318's Hamming stage scans
    // every code per query batch; here the codes cluster into coarse
    // cells under a BINARY quantizer (md5-seeded ordered-sample seeds +
    // one k-majority bit-vote round — the IVF family's training
    // discipline in bit space), the store partitions by cell, and a
    // query probes its nprobe nearest cells ONLY — the scan term drops
    // from |corpus| to the probed mass, partition-pruned at planning
    // (plan-locked in BinaryQuantSpec). Pure integer end-to-end until
    // the final cosine, so the WHOLE pipeline — training included —
    // replays in DuckDB.
    "q321_binary_ivf" -> ((s, d) => {
      val out = sharedStore(d, "bq_ivf") { o =>
        graft.ops.BinaryIvfIndex.build(Tables.embeddings(s, d), o,
          dim = 64, nlist = 8)
      }
      val emb = Tables.embeddings(s, d)
      graft.ops.BinaryIvfIndex.query(s, out,
        emb.filter(col("vec_id") < 10), emb, k = 5, rerank = 32, nprobe = 4)
    }),

    // the FROZEN-quantizer add on the bucketed binary store (FAISS
    // IndexBinaryIVF.add): build on the evens — the oracle's training
    // replay covers that cohort ONLY — then add the odds, which must
    // assign against the frozen centroids without re-training or
    // re-voting; the query replay assigns everyone under the
    // evens-trained centroids, so a drifted add hash-fails.
    "q325_binary_ivf_add" -> ((s, d) => {
      val out = sharedStore(d, "bq_ivf_add") { o =>
        val emb = Tables.embeddings(s, d)
        graft.ops.BinaryIvfIndex.build(
          emb.filter(col("vec_id") % 2 === 0), o, dim = 64, nlist = 8)
        graft.ops.BinaryIvfIndex.add(s, o,
          emb.filter(col("vec_id") % 2 === 1))
      }
      val emb = Tables.embeddings(s, d)
      graft.ops.BinaryIvfIndex.query(s, out,
        emb.filter(col("vec_id") < 10), emb, k = 5, rerank = 32, nprobe = 4)
    }),

    // FILTERED search on the bucketed binary store (IDSelector): the
    // allowed set restricts candidates AFTER probe pruning, before
    // the Hamming cut — the oracle replays q321 with the predicate in
    // exactly that position.
    "q326_binary_ivf_filtered" -> ((s, d) => {
      val out = sharedStore(d, "bq_ivf") { o =>
        graft.ops.BinaryIvfIndex.build(Tables.embeddings(s, d), o,
          dim = 64, nlist = 8)
      }
      val emb = Tables.embeddings(s, d)
      val allowed = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
      graft.ops.BinaryIvfIndex.queryFiltered(s, out,
        emb.filter(col("vec_id") < 10), emb, k = 5, rerank = 32,
        allowed = allowed, nprobe = 4)
    }),

    // ANN recall@k evaluation (ann-benchmarks' acceptance metric): the
    // quantized two-stage refine (q305 serving path) scored against
    // the exact brute-force truth — per query |approx∩exact|·200 in
    // integer milli space. The oracle replays BOTH legs (the full
    // IVF-PQ pipeline + the exact cosine top-k) and intersects, so a
    // recall regression anywhere in train/encode/probe/ADC/refine
    // hash-fails here even when the served ranks stay plausible.
    "q306_ann_recall_eval" -> ((s, d) => {
      import graft.ops.{IvfPqIndex, RankingEval, Similarity}
      val out = sharedStore(d, "ivfpq_refine") { o =>
        IvfPqIndex.build(Tables.embeddings(s, d), o, dim = 64,
          refineStore = true)
      }
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, 5)
        .select(col("query_id"), col("corpus_id"))
      val approx = IvfPqIndex.queryRefinedStored(s, out, queries,
          k = 5, kCandidates = 20, nprobe = 8)
        .select(col("query_id"), col("corpus_id"))
      RankingEval.annRecallAtK(exact, approx, k = 5)
    }),

    // The RESIDENT SERVING handle under measurement (round 15 — the
    // sf1 gate's serving-vs-scatter row): open() shard-exchanges and
    // PINS the generation-resolved graph once (materialized at open —
    // reclaim can't unseat it), then two query batches walk the cached
    // partitions — zero read, zero exchange on the warm path; the
    // SECOND batch's answers gate the entry (q313's recall-floor
    // oracle: the handle must serve exactly what the one-shot path
    // serves, warm).
    "q324_hnsw_serving" -> ((s, d) => {
      import graft.ops.{HnswIndex, RankingEval}
      val out = sharedStore(d, "hnsw_index") { o =>
        HnswIndex.build(Tables.embeddings(s, d), o, dim = 64)
      }
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val serving = HnswIndex.open(s, out)
      val got =
        try {
          serving.query(queries, k = 5, efSearch = 64).collect() // batch 1
          serving.query(queries, k = 5, efSearch = 64)           // batch 2
            .select(col("query_id"), col("corpus_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        } finally serving.close()
      import s.implicits._
      val approx = got.toDF("query_id", "corpus_id")
      val exact = ops.Similarity.bruteForceTopK(emb, queries, 5)
        .select(col("query_id"), col("corpus_id"))
      RankingEval.annRecallAtK(exact, approx, k = 5)
        .select(col("query_id"),
          (col("recall_milli") >= 800).as("meets_floor"))
    }),

    // TIER ARBITRATION at pinned candidate budgets (round 15 — the
    // executable form of "RankingEval arbitrates"): the four serving
    // tiers — exact scan, IVF-PQ refined, HNSW graph, binary Hamming —
    // answer the same queries over the same corpus; binary and IVF-PQ
    // score 32 exact candidates per query, while HNSW's ef=32 budget
    // is PER SHARD (the scatter-gather contract: every shard
    // contributes up to max(ef, k) exact-scored rows to the merge), so
    // its candidates_scored reports the honest shards×ef = 128 —
    // comparing the walk at a hidden 4× budget while printing 32 would
    // misrank exactly the decision this table exists to rank. Each
    // tier's query-averaged recall@5 vs the exact leg must clear its
    // pinned floor; the oracle replays the exact leg's candidate count
    // from corpus cardinality and pins the rest — a recall regression
    // in ANY tier's train/encode/probe/walk/rerank hash-fails.
    "q323_ann_tier_arbitration" -> ((s, d) => {
      import graft.ops.{BinaryQuant, HnswIndex, IvfPqIndex, RankingEval, Similarity}
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      // the exact ground-truth leg is O(|Q|·corpus) BECAUSE ground
      // truth is — but it is a deterministic function of the shared
      // embeddings table, so it computes ONCE per session via the
      // sharedStore mechanism (round 17: adding tier N+1 costs one
      // leg, not a re-run of the brute-force scan); the count rides
      // in the same store
      val budget = 32L
      // r17 optimization (guide §2.6): the six legs are independent —
      // each one's CONSTRUCTION runs several eager driver jobs
      // (quantizer loads, probe-cell collects, candidate collects;
      // this entry measured 86 serial jobs / ~14 s before), so build
      // them concurrently and let the scheduler back-fill. Leg
      // contents and union order are unchanged — same rows, same hash.
      val legs: Seq[(String, DataFrame, Long)] = concurrently(Seq(
        () => {
          val exactDir = sharedStore(d, "exact_topk5") { o =>
            val e = Tables.embeddings(s, d)
            Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 5)
              .select(col("query_id"), col("corpus_id"))
              .coalesce(1).write.mode("overwrite").parquet(s"$o/topk")
            graft.util.FsIo.writeSmallFile(
              s.sparkContext.hadoopConfiguration, s"$o/count",
              e.count().toString)
          }
          val corpusCount = graft.util.FsIo.readSmallFile(
            s.sparkContext.hadoopConfiguration, s"$exactDir/count").trim.toLong
          ("exact", s.read.parquet(s"$exactDir/topk"), corpusCount - 1)
        },
        // per-shard ef × the store's shard count — the honest total,
        // READ off the marker: if the build default ever changes, the
        // engine's number moves while the oracle's pinned 128 stays,
        // and the entry fails LOUDLY instead of silently misreporting
        () => {
          val hnswStore = sharedStore(d, "hnsw_index") { o =>
            HnswIndex.build(Tables.embeddings(s, d), o, dim = 64)
          }
          ("hnsw", HnswIndex.query(s, hnswStore, queries, k = 5,
              efSearch = budget.toInt)
            .select(col("query_id"), col("corpus_id")),
            budget * HnswIndex.shardCount(s, hnswStore))
        },
        () => {
          val pqStore = sharedStore(d, "ivfpq_refine") { o =>
            IvfPqIndex.build(Tables.embeddings(s, d), o, dim = 64,
              refineStore = true)
          }
          ("ivfpq", IvfPqIndex.queryRefinedStored(s, pqStore, queries,
              k = 5, kCandidates = budget.toInt, nprobe = 8)
            .select(col("query_id"), col("corpus_id")), budget)
        },
        () => {
          val bqStore = sharedStore(d, "bq_codes") { o =>
            BinaryQuant.buildStore(Tables.embeddings(s, d), o, dim = 64)
          }
          ("binary", BinaryQuant.queryStore(s, bqStore, queries, emb,
              k = 5, rerank = budget.toInt)
            .select(col("query_id"), col("corpus_id")), budget)
        },
        // the INT8 rung (round 16): 8 bits/dim buys most of the raw
        // tier's recall at the same 32-candidate budget
        () => {
          val sq8Store = sharedStore(d, "sq8_index") { o =>
            graft.ops.Sq8Index.build(
              Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0), o,
              dim = 64)
            graft.ops.Sq8Index.add(s, o,
              Tables.embeddings(s, d).filter(col("vec_id") % 2 === 1))
          }
          ("sq8", graft.ops.Sq8Index.query(s, sq8Store, queries, emb,
              k = 5, rerank = budget.toInt, nprobe = 8)
            .select(col("query_id"), col("corpus_id")), budget)
        },
        // the DIMENSION-cut rung (round 17, store-served Matryoshka):
        // a quarter of the prefix bytes buys near-raw recall at the
        // same 32-candidate budget — the MRL premise as a tier row
        () => {
          val mrlStore = sharedStore(d, "mrl_index") { o =>
            val e = Tables.embeddings(s, d)
            graft.ops.MrlIndex.build(e.filter(col("vec_id") % 2 === 0), o,
              dim = 64, prefixDim = 16)
            graft.ops.MrlIndex.add(s, o, e.filter(col("vec_id") % 2 === 1))
          }
          ("mrl", graft.ops.MrlIndex.query(s, mrlStore, queries,
              k = 5, rerank = budget.toInt, nprobe = 8)
            .select(col("query_id"), col("corpus_id")), budget)
        }))
      val exact = legs.head._2
      // floors pinned from measured recall with margin (exact is 1000
      // by construction; the raw avg_recall_milli per tier is the
      // RankingEval.tierReport surface, spec-asserted — the oracled
      // entry pins floor satisfaction, the q313 discipline; sq8
      // measured 860/880 at sf0.01/sf0.1 → floor 700; mrl measured
      // 460/200 at sf0.01/sf0.1 → floor 150. The low mrl number is a
      // DATA property, not a store defect: store-at-full-probe ==
      // flat matryoshkaTopK exactly (540/200 at rerank 32 — the
      // store is a faithful probe-pruned server of the flat family,
      // MrlIndexSpec locks the equality), and on the ISOTROPIC
      // synthetic embeddings a 16/64 prefix carries 1/4 of the
      // signal — real MRL-trained embeddings concentrate energy in
      // the prefix (Kusupati et al.), which is the premise the tier
      // serves; note binary's 64×1-bit sketch (350) beats a 16-dim
      // float prefix here for the same reason.
      val floors = Map("exact" -> 1000L, "hnsw" -> 800L,
        "ivfpq" -> 450L, "binary" -> 350L, "sq8" -> 700L,
        "mrl" -> 150L)
      val floorCol = floors.foldLeft(lit(0L)) { case (acc, (t, f)) =>
        when(col("tier") === t, lit(f)).otherwise(acc)
      }
      RankingEval.tierReport(exact, legs, 5)
        .withColumn("floor_milli", floorCol)
        .select(col("tier"), col("candidates_scored"), col("floor_milli"),
          (col("avg_recall_milli") >= col("floor_milli")).as("meets_floor"))
    }),

    // STREAMING ANN ingest: micro-batches of new vectors flow into the
    // persisted IVF store through foreachBatch (frozen-quantizer adds
    // + per-batch compaction — the FAISS `add` contract under a
    // stream). The oracle replays training on the ORIGINAL corpus and
    // unions the streamed ids into assignment/scoring, so this is the
    // first hash-check of the add path end-to-end; answers are
    // batch-boundary-invariant by construction (per-row assignment,
    // commuting appends).
    "q300_stream_ann_ingest" -> ((s, d) => {
      import graft.ops.IvfIndex
      import graft.streaming.StreamingIngest
      val out = sharedStore(d, "ivf_stream") { o =>
        val emb = Tables.embeddings(s, d)
        IvfIndex.build(emb, o, dim = 64)
        // two single-file micro-batches of NEW vectors (ids shifted
        // +100000, same embeddings) — the q268 staging pattern with
        // pinned mtimes so the file-source order is deterministic
        val adds = emb.filter(col("vec_id") < 50)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        val root = java.nio.file.Files.createTempDirectory("graft_q300_").toString
        val src = s"$root/src"
        new java.io.File(src).mkdirs()
        def stageBatch(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = s"$root/stage_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file in $tmp"))
          val dst = new java.io.File(src, s"$name.parquet")
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          require(dst.setLastModified(mtime), s"cannot set mtime on $dst")
        }
        stageBatch(adds.filter(col("vec_id") < 100025L), "b0", 1000000000000L)
        stageBatch(adds.filter(col("vec_id") >= 100025L), "b1", 1000000060000L)
        val stream = s.readStream.schema(adds.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        StreamingIngest.annIngestSink(o, streamId = "q300")(stream)
          .start().awaitTermination()
      }
      IvfIndex.query(s, out, Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // remove_ids on the persisted IVF (raw-vector) store — the q297
    // contract at the cell-pruned exact-cosine tier: tombstoned ids
    // anti-join out before scoring, survivors re-rank over identical
    // cosines (q287's oracle with the ids excluded before ranking).
    "q298_ivf_delete" -> ((s, d) => {
      import graft.ops.IvfIndex
      val out = sharedStore(d, "ivf_del") { o =>
        IvfIndex.build(Tables.embeddings(s, d), o, dim = 64)
        IvfIndex.removeIds(s, o,
          Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
            .select(col("vec_id")))
      }
      IvfIndex.query(s, out, Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // remove_ids on the persisted IVF-PQ store (FAISS remove_ids; the
    // redaction/dedup-follow-up a continuously-maintained corpus ANN
    // index needs): a delete batch tombstones ids in O(batch); every
    // query anti-joins them, so ranks recompute over survivors only —
    // the oracle replays the full q293 pipeline and excludes the
    // deleted ids before ranking. Physical reclaim (purgeDeletes /
    // compact) is spec-asserted in IvfPqIndexSpec.
    "q297_ivfpq_delete" -> ((s, d) => {
      import graft.ops.IvfPqIndex
      val out = sharedStore(d, "ivfpq_del") { o =>
        IvfPqIndex.build(Tables.embeddings(s, d), o, dim = 64)
        IvfPqIndex.removeIds(s, o,
          Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
            .select(col("vec_id")))
      }
      IvfPqIndex.query(s, out, Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),

    // LIMIT pushdown (Solr `rows=n` without a sort) — per-shard early
    // stop: each shard's reader stops materializing stored docs after
    // n hits, Spark applies the global limit over the union. A bare
    // LIMIT's row SET is nondeterministic, so the oracle uses two
    // deterministic legs: (a) the limit BITES (matches > n) but the
    // projection is constant over the match set, so ANY n rows hash
    // identically; (b) the limit is slack (n >= matches), so the
    // result is the full match set with real row content. Plan lock:
    // PlanShapeSpec asserts pushedLimit on both legs' scans.
    "q288_index_limit" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      val idx = s.read.format("graft-index").load(out)
      val bitten = idx.filter(col("p_brand") === "Brand#23")
        .select(col("p_brand")).limit(50)
        .select(lit("bitten").as("leg"),
          lit(-1L).as("p_partkey"), col("p_brand"))
      val slack = idx.filter(col("p_brand") === "Brand#11").limit(1000000)
        .select(lit("slack").as("leg"),
          col("id").cast("long").as("p_partkey"), col("p_brand"))
      bitten.union(slack)
    }),

    // MULTIVALUED fields surfaced as arrays (Solr's multiValued=true
    // response shape): the store keeps every stored occurrence in
    // order; `.option("multivalued", "array")` turns the relational
    // first-value scalar into array<string> with ALL values. Oracled
    // through explode so DuckDB's unnest replays the same rows (array
    // OUTPUT columns hash asymmetrically between pandas and duckdb).
    "q289_index_multivalued" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_mv") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(col("p_partkey").cast("string").as("id"),
            split(col("p_name"), " ").as("words"), col("p_brand")),
          "id", o, shards = 4)
      }
      val idx = s.read.format("graft-index")
        .option("multivalued", "array").load(out)
      idx.select(col("id").cast("long").as("p_partkey"),
          explode(col("words")).as("word"), col("p_brand"))
    }),

    // facet.pivot over a MULTIVALUED axis (Solr semantics: a doc
    // counts once under EACH (brand, word) combination it carries —
    // not a SQL GROUP BY, so the DSv2 pushdown refuses it): served
    // from the persisted .dvm ord lists per shard, vocabulary-bounded
    // partials merged by one groupBy. Same part_mv store as q289.
    "q290_pivot_multivalued" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      val out = sharedStore(d, "part_mv") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(col("p_partkey").cast("string").as("id"),
            split(col("p_name"), " ").as("words"), col("p_brand")),
          "id", o, shards = 4)
      }
      SegmentSearch.facetPivot(s, out, "p_brand", "words")
        .select(col("a").as("p_brand"), col("b").as("word"), col("cnt"))
    }),

    // MULTIVALUED term filter pushed at the SQL surface (Solr's
    // `fq=tags:x`, the most common index query shape): under array
    // surfacing, `array_contains(words, 'bolt')` is exactly a posting
    // lookup — TermFilterPushdown (GraftExtensions) routes it into the
    // scan as a termFilter option, so only matching stored docs
    // materialize instead of the whole store (plan-locked in
    // IndexDataSourceSpec: `pushedTerm=words:bolt`). The Filter stays
    // residual, so rows are correct with or without the extension.
    "q296_index_array_filter" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_mv") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(col("p_partkey").cast("string").as("id"),
            split(col("p_name"), " ").as("words"), col("p_brand")),
          "id", o, shards = 4)
      }
      val idx = s.read.format("graft-index")
        .option("multivalued", "array").load(out)
      idx.filter(array_contains(col("words"), "bolt"))
        .select(col("id").cast("long").as("p_partkey"),
          explode(col("words")).as("word"), col("p_brand"))
    }),

    // OR of multivalued term filters (Solr `fq=words:(bolt OR gear)`)
    // pushed whole as a posting-list union — a partially-pushable OR
    // never pushes (dropping a branch would narrow the scan), and
    // same-field branches collapse into one multi-term lookup.
    "q301_index_array_or" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_mv") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(col("p_partkey").cast("string").as("id"),
            split(col("p_name"), " ").as("words"), col("p_brand")),
          "id", o, shards = 4)
      }
      val idx = s.read.format("graft-index")
        .option("multivalued", "array").load(out)
      idx.filter(array_contains(col("words"), "bolt") ||
          array_contains(col("words"), "gear"))
        .select(col("id").cast("long").as("p_partkey"), col("p_brand"))
    }),

    // token statistics (whitespace + BPE-ish subword estimate)
    "q47_token_stats" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.whitespaceTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.subwordCountEstimate(col("text")).cast("long").as("subword_est"))),

    // winnowing (rolling-hash) fingerprints; hash-dependent -> rows-only
    "q48_winnowing" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      // arithmetic shingle path: murmur each TOKEN once, combine the w
      // token hashes per window arithmetically — no shingle string is
      // ever built (same staging discipline as minHashCandidates)
      Tables.documents(s, d)
        .select(col("doc_id"), ApproxDedup.tokenHashes(toks).as("th"))
        .select(col("doc_id"),
          ApproxDedup.shingleHashesFromTokenHashes(col("th"), 3).as("hs"))
        .select(col("doc_id"),
          size(TextAnalysis.winnowingFingerprints(col("hs")))
            .cast("long").as("n_fingerprints"))
    }),

    // end-to-end near-dup DROP (minhash candidates -> losers removed);
    // planted dups must vanish, originals survive. Rows-only.
    "q54_drop_near_dups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // filter, not limit (deterministic planted set — see q22)
      val planted = docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(col("text"), lit(" tiny suffix")))
      val corpus = docs.unionByName(planted)
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      val kept = ApproxDedup.dropNearDuplicates(corpus, col("doc_id"), toks, threshold = 0.7)
      kept.agg(count(lit(1)).as("kept"),
        count(when(col("doc_id") >= 1000000L, 1)).as("planted_survivors"))
    }),

    // all-pairs exact n-gram near-dup discovery (bounded so the
    // oracle's cross join stays sane) — finds the corpus's planted
    // 0.99-jaccard twins, DuckDB-checked. The size-ratio predicate is
    // an EXACT prefilter (J >= 0.5 forces |A| and |B| within 2x), so
    // it prunes intersections without changing the result set.
    "q56_neardup_discovery" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      // no persist here: the 300-row shingle set is trivial to
      // recompute, and persisting a self-joined DF makes the broadcast
      // build and the streamed side race to cache the same blocks
      // ("Block already exists" contention — multi-second outliers
      // under memory pressure); broadcast side pinned for a stable plan
      val sh = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"), array_distinct(ApproxDedup.shingles(toks, 3)).as("sh"))
        .withColumn("n", size(col("sh")))
      sh.as("a").join(broadcast(sh.as("b")),
          col("a.doc_id") < col("b.doc_id") &&
            col("a.n") * 2 >= col("b.n") && col("b.n") * 2 >= col("a.n"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          ApproxDedup.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    }),

    // per-row quarantine: valid side of a quality gate, oracled
    "q55_quarantine" -> ((s, d) => {
      val (valid, _) = graft.etl.Etl.quarantine(
        Tables.documents(s, d), col("n_chars") > 200)
      valid.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }),

    // pivot (long->wide reshape with per-value aggregation)
    "q57_pivot" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)),

    // cube grouping sets (all subtotal combinations)
    "q52_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))),

    // typed Dataset[T] aggregation — case-class Encoders + the
    // Aggregator[IN, BUF, OUT] custom-aggregate surface (the engine's
    // UDAF plug-point, ≙ the reference's UpdateConflictResolver SPI)
    "q53_typed_events" -> ((s, d) => {
      import s.implicits._
      val ds = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .as[Event]
      ds.groupByKey(_.event_type)
        .agg(TypedAggs.rowCount.name("n"), TypedAggs.userIdSum.name("user_id_sum"))
        .toDF("event_type", "n", "user_id_sum")
    }),

    // exact percentiles per group (quality-score distribution shape)
    "q51_percentiles" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type")).agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))),

    // composite-id (tenant!doc) routing: all docs of a tenant land in
    // the same shard neighbourhood — multi-tenant co-location the
    // CompositeIdRouter exists for. Oracled: DuckDB re-derives the
    // composite murmur3 hash per doc (DuckDbMurmurSql).
    "q50_composite_route" -> ((s, d) => {
      val router = HashRangeRouter(8)
      Tables.documents(s, d)
        .withColumn("cid", concat(col("source"), lit("!"), col("doc_id")))
        .groupBy(col("source"),
          router.shardCol(col("cid")).as("shard"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(countDistinct(col("shard")).as("n_shards"), sum(col("cnt")).as("docs"))
        .orderBy(col("source"))
    }),

    // the flagship build dataflow end-to-end (what the reference's
    // whole MR job chain does), timed by Bench: sanitize -> validate
    // -> dedup -> route -> 8-shard store write -> match-all read-back.
    // Oracled: DuckDB re-derives the murmur3 routing per id
    // (DuckDbMurmurSql), so per-shard counts hash-check.
    "q49_build_index" -> ((s, d) => {
      import graft.schema.{IndexField, IndexSchema}
      import org.apache.spark.sql.types._
      val schema = IndexSchema("id", Seq(
        IndexField("id", StringType, required = true),
        IndexField("l_quantity", DoubleType),
        IndexField("l_extendedprice", DoubleType),
        IndexField("l_returnflag", StringType),
        IndexField("l_shipdate", TimestampType)))
      val out = sharedStore(d, "q49_shardstore") { o =>
        val docs = Tables.lineitem(s, d)
          .withColumn("id", concat(col("l_orderkey"), lit("#"), col("l_linenumber")))
        Graft.buildIndex(docs, schema, o, shards = 8,
          orderBy = Some(col("l_shipdate")), filesPerShard = 2)
      }
      ShardIndex.matchAllCounts(Graft.openIndex(s, out))
    }),

    // the reference's index-DIRECTORY product end-to-end (S12 faithful
    // layout + M1 mtree + M2 forceMerge over SegmentIndex dirs):
    // 8 micro shards -> merge to 4 -> optimize to 1 segment each;
    // reports per-part (part, docs, segments). Oracled: DuckDB
    // re-derives the murmur3 routing (DuckDbMurmurSql).
    "q88_segment_store" -> ((s, d) => {
      val out = sharedStore(d, "q88_segstore") { o =>
        val docs = Tables.lineitem(s, d)
          .withColumn("id", concat(col("l_orderkey"), lit("#"), col("l_linenumber")))
          .select(col("id"), col("l_returnflag"), col("l_shipdate"))
        Graft.buildSegmentIndex(docs, "id", o, shards = 4, microShards = 8,
          orderBy = Some(col("l_shipdate")))
      }
      graft.index.SegmentShardSink.docCounts(s, out)
    }),

    // the SEARCH half of the product round-trip: build a segment store
    // from `part`, fan an exact-term query out to every shard
    // (scatter-gather, one task per shard, zero shuffles), gather hits
    // as a DataFrame. Oracled against DuckDB on the SOURCE table — the
    // query only matches if the index round-trip is lossless.
    "q94_index_search" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      val out = sharedStore(d, "part_all") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string")),
          "id", o, shards = 4)
      }
      SegmentSearch.termQuery(s, out, "p_brand", "Brand#23", Seq("id", "p_name", "p_size"))
        .select(col("id").cast("long").as("p_partkey"), col("p_name"),
          col("p_size").cast("long").as("p_size"))
    }),

    // index MAINTENANCE round-trip: distributed delete-by-term
    // (tombstone generations, Lucene liveDocs design) + forceMerge
    // reclaim, then export the store — oracled against DuckDB's view
    // of what must survive. Checks deletes mask postings AND stored
    // docs, and that the optimize rewrite drops exactly the tombstoned
    // rows.
    "q95_index_delete" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      val parts = Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
      val out = java.nio.file.Files.createTempDirectory("graft_q95_").toString
      SegmentShardSink.write(parts, "id", out, shards = 4)
      SegmentShardSink.deleteByTerm(s, out, "p_brand", "Brand#23")
      SegmentShardSink.optimize(s, out) // tombstone reclaim
      SegmentSearch.matchAll(s, out, Seq("id", "p_brand"))
        .select(col("id").cast("long").as("p_partkey"), col("p_brand"))
    }),

    // Solr JSON Facet API: buckets within buckets plus per-bucket
    // stats — top-5 brands by count (avg price stat on each), nested
    // top-3 sizes per brand. Two grouped aggs + a per-parent window;
    // the parent list is tiny -> broadcast join. avg goes through the
    // decimal-exact-sum -> double / double-count tree (see header).
    "q96_json_facet" -> ((s, d) => {
      val p = Tables.part(s, d)
      val brands = p.groupBy(col("p_brand")).agg(
        count(lit(1)).as("brand_cnt"),
        (sum(col("p_retailprice").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1)).cast("double")).as("avg_price"))
      val top5 = brands.orderBy(col("brand_cnt").desc, col("p_brand")).limit(5)
      val sizes = p.groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("size_cnt"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("size_cnt").desc, col("p_size"))
      sizes.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
        .join(broadcast(top5), "p_brand")
        .select(col("p_brand"), col("brand_cnt"), col("avg_price"),
          col("p_size").cast("long").as("p_size"), col("size_cnt"))
    }),

    // Solr spellcheck collate: each misspelled query term gets its one
    // best correction from the corpus vocabulary by (edit distance,
    // doc freq desc, term). The |V|×q candidate product is cut by the
    // semantics-preserving length prefilter (lev >= |len(a)-len(b)|) —
    // the same guard family as q82's n-gram prefilter; Solr's
    // DirectSpellChecker walks an automaton to the same effect.
    "q97_spell_collate" -> ((s, d) => {
      import s.implicits._
      val vocab = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(regexp_extract_all(lower(col("text")),
            lit("[a-z0-9]+"), lit(0)))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val queries = Seq("sparc", "quary", "mergee").toDF("qterm")
      val cand = vocab.crossJoin(broadcast(queries))
        .filter(abs(length(col("term")) - length(col("qterm"))) <= 2)
        .withColumn("dist", levenshtein(col("qterm"), col("term")))
        .filter(col("dist") <= 2)
      val w = Window.partitionBy(col("qterm"))
        .orderBy(col("dist"), col("df").desc, col("term"))
      cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qterm"), col("term").as("suggestion"),
          col("dist").cast("long").as("dist"), col("df"))
    }),

    // Solr function query (boost-by-recency): score = price * recip
    // over age in days from the corpus's max date — recip(x,m,a,b) =
    // a/(m*x+b) with a=b=90. One broadcast of the 1-row max, then a
    // scan-local scalar expression; round(,6) absorbs libm division
    // ulps like q73.
    "q98_function_query" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val maxd = o.agg(max(col("o_orderdate")).as("maxd"))
      o.crossJoin(broadcast(maxd))
        .withColumn("age_days",
          datediff(col("maxd").cast("date"), col("o_orderdate").cast("date"))
            .cast("double"))
        .withColumn("score",
          round(col("o_totalprice") * lit(90.0) / (lit(90.0) + col("age_days")), 6))
        .orderBy(col("score").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("score"))
        .limit(20)
    }),

    // Solr spatial geofilt: great-circle distance <= d km from a
    // point, lat/lon planted deterministically from c_custkey (the
    // corpus has no native coords; the oracle replants identically).
    // Plan shape is the spatial-index story at scale: a cheap
    // BOUNDING-BOX prefilter (comparisons only — pushdown-able, and
    // the analog of Solr's prefix-tree grid pruning) ahead of the
    // exact haversine residual; the bbox is a superset so the result
    // is unchanged. Haversine uses the identical op tree both sides;
    // round(,4) absorbs libm sin/cos ulps.
    "q99_geofilt" -> ((s, d) => {
      val ptLat = 10.0
      val ptLon = 20.0
      val dKm = 3000.0
      val latHalf = dKm / 111.195
      // exact max longitude delta of the circle: the extreme is NOT at
      // the center's latitude (dKm/(111.195*cos(ptLat)) under-covers
      // near the east/west tangent points) — it's asin(sin(r/R)/cos(lat))
      val lonHalf =
        math.toDegrees(math.asin(math.sin(dKm / 6371.0088) / math.cos(math.toRadians(ptLat))))
      val c = Tables.customer(s, d)
        .withColumn("lat", (pmod(col("c_custkey"), lit(120)) - lit(60)).cast("double") * lit(0.7))
        .withColumn("lon", (pmod(col("c_custkey") * lit(7), lit(360)) - lit(180)).cast("double") * lit(0.9))
      val hav = {
        val dLat = radians(col("lat") - lit(ptLat)) / lit(2.0)
        val dLon = radians(col("lon") - lit(ptLon)) / lit(2.0)
        val a = sin(dLat) * sin(dLat) +
          cos(radians(lit(ptLat))) * cos(radians(col("lat"))) * sin(dLon) * sin(dLon)
        lit(2.0 * 6371.0088) * asin(sqrt(a))
      }
      c.filter(col("lat").between(ptLat - latHalf, ptLat + latHalf) &&
          col("lon").between(ptLon - lonHalf, ptLon + lonHalf)) // bbox prune
        .withColumn("dist_km", round(hav, 4))
        .filter(col("dist_km") <= dKm)
        .select(col("c_custkey"), col("dist_km"))
    }),

    // Solr collapse + expand: collapse orders on customer (group head
    // = highest totalprice), expand returns the next hits per group —
    // head + 2 expanded here, `position` 1 = the collapsed head. One
    // window over the group key (q91 is the head-only grouping form).
    "q100_collapse_expand" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("position", row_number().over(w).cast("long"))
        .filter(col("position") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("position"))
    }),

    // PII redaction (emails/IPs/SSNs/phones -> typed tags + counts).
    // The corpus is synthetic word salad, so the PII is PLANTED from
    // doc_id (same derivation in the oracle) — the operator under
    // test is the regexp chain, oracle-checked byte-for-byte.
    "q63_pii_redact" -> ((s, d) => {
      import graft.text.Redaction
      val planted = Tables.documents(s, d).withColumn("ptext",
        concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@example.com from 10.0."), pmod(col("doc_id"), lit(256)),
          lit(".7 ssn 123-45-6789 tel 555-867-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      planted.select(
        Seq(col("doc_id"), Redaction.redactPii(col("ptext")).as("redacted")) ++
          Redaction.piiCounts(col("ptext")).map { case (n, c) => c.as(n) }: _*)
    }),

    // URL canonicalization (web-corpus dedup key). URLs planted from
    // doc_id with every noise class the canonicalizer handles: cased
    // scheme/host, www., :80, utm_* params, fragment.
    "q64_url_canonical" -> ((s, d) => {
      import graft.text.UrlNormalize
      val urls = Tables.documents(s, d).withColumn("url",
        concat(lit("HTTP://WWW.Example"), pmod(col("doc_id"), lit(40)),
          lit(".COM:80/Docs/"), pmod(col("doc_id"), lit(7)),
          lit("/?utm_source=feed&ref="), pmod(col("doc_id"), lit(3)),
          lit("&utm_campaign=c"), pmod(col("doc_id"), lit(5)),
          lit("#sec"), col("doc_id")))
      urls.select(col("doc_id"), col("url"),
        UrlNormalize.canonicalizeUrl(col("url")).as("canonical_url"))
    }),

    // Gopher-style repetition signals (dup word/2-gram/3-gram frac)
    "q65_repetition" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      docs.select(Seq(col("doc_id")) ++
        TextAnalysis.repetitionColumns(col("toks")).map { case (n, c) => c.as(n) }: _*)
    }),

    // fixed-size token chunking with overlap (training-window prep)
    "q66_chunking" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      Chunking.chunkTokens(docs, col("doc_id"), col("toks"), chunkSize = 32, stride = 24)
    }),

    // benchmark decontamination: corpus docs sharing an 8-gram with
    // the "eval set" (docs with doc_id % 97 == 0 stand in for it —
    // those docs therefore flag themselves, plus any near-dup twins)
    "q67_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(c: Column) = regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))
      val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(toks(col("text")).as("btoks"))
      Decontamination.sharedNgrams(docs, col("doc_id"), toks(col("text")),
        bench, col("btoks"), n = 8)
    }),

    // deterministic quota sampling: exactly 20 docs per language by
    // md5(doc_id) order — reproducible cross-engine (oracle-checked)
    "q68_quota_sample" -> ((s, d) =>
      Sampling.quotaSample(Tables.documents(s, d), col("lang"), col("doc_id"), k = 20)
        .select(col("doc_id"), col("lang"))),

    // data-mixture design: per-source char share + uniform-target
    // resampling weight
    "q69_mix_weights" -> ((s, d) =>
      Sampling.mixtureWeights(Tables.documents(s, d), col("source"), col("n_chars"))),

    // as-of join: each click gets the latest prior purchase value of
    // the same user (single shuffle union+window plan — no range join)
    "q70_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      Joins.asofJoin(clicks, purchases, "user_id", "ts", "ts", Seq("purchase_value"))
        .select(col("event_id"), col("user_id"), col("purchase_value"))
    }),

    // binned range join: events counted into the first-hour window of
    // each of users 0-19 — bin equi-join + exact residual, no
    // broadcast-nested-loop
    "q71_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("sec", col("ts").cast("long"))
      val intervals = ev.filter(col("user_id") < 20)
        .groupBy(col("user_id"))
        .agg(min(col("sec")).as("window_start"))
        .withColumnRenamed("user_id", "iv_user")
        .withColumn("window_end", col("window_start") + 3600)
      Joins.rangeJoinBinned(ev.select(col("event_id"), col("sec")), "sec",
          broadcast(intervals), "window_start", "window_end", binSize = 3600)
        .groupBy(col("iv_user")).agg(count(lit(1)).as("n_events"))
    }),

    // sequence packing, budget-bucket variant (the oracle-checkable
    // deterministic packing; exact greedy-reset packing is
    // Chunking.packGreedy, unit-tested)
    "q72_pack_buckets" -> ((s, d) =>
      Chunking.packByBudget(Tables.documents(s, d), col("source"), col("doc_id"),
          col("n_chars"), budget = 4000)
        .select(col("doc_id"), col("source"), col("pack_id"))),

    // TF-IDF: top-5 terms per doc (corpus idf over ALL docs; the
    // doc_id bound only prunes the tf side). round(,6) absorbs the
    // permitted 1-ulp ln() divergence between libm implementations
    // (q25's cosine precedent).
    "q73_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      val ti = Ranking.tfIdf(docs, col("doc_id"), col("toks"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(round(col("tf_idf"), 6).desc, col("term"))
      ti.filter(col("doc_id") < 100)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
          round(col("tf_idf"), 6).as("tf_idf_r"))
    }),

    // BM25 ranking for a 3-term query — the query-side scoring the
    // reference's built indexes exist to serve. Top-20 with total
    // (score, doc_id) order so the cut is deterministic.
    "q74_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      Ranking.bm25(docs, col("doc_id"), col("toks"), Seq("spark", "table", "vector"))
        .select(col("doc_id"), round(col("score"), 6).as("score_r"))
        .orderBy(col("score_r").desc, col("doc_id")).limit(20)
    }),

    // inverted-index postings: per term, exact df + capped ascending
    // posting list (the unbounded-group guard demonstrated)
    "q75_postings" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      Ranking.postings(docs, col("doc_id"), col("toks"), cap = 20)
    }),

    // corpus-global boilerplate 2-grams (>= 50 docs) + per-doc
    // boilerplate fraction (thresholds tuned to the synthetic corpus:
    // small vocab -> 2-grams repeat across docs the way chrome/menu
    // text does in a web crawl)
    "q76_boilerplate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      Boilerplate.boilerplateStats(docs, col("doc_id"), col("toks"), n = 2, minDocs = 50)
    }),

    // near-dup clustering: candidate pairs -> connected components ->
    // one canonical label (min doc_id) per duplicate GROUP. Corpus =
    // docs<150 plus planted copies; the corpus twin pair (two base
    // docs at jaccard 0.95) makes its group a 4-node component, so
    // transitive merging is actually exercised. Bounded all-pairs
    // edges (q56's oracle-baseline pattern; LSH is the scale path).
    "q77_dedup_clusters" -> ((s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 150)
      val copies = base.withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(col("text"), lit(" tiny suffix")))
      val corpus = base.unionByName(copies)
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      val sh = corpus.select(col("doc_id"),
        array_distinct(ApproxDedup.shingles(toks, 3)).as("sh"))
      val edges = sh.as("a").join(broadcast(sh.as("b")),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"),
          ApproxDedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
        .filter(col("j") >= 0.5)
      Clustering.connectedComponents(edges, "src", "dst")
    }),

    // the whole training-corpus pipeline end-to-end (quality gate ->
    // redact -> exact dedup -> near-dup drop), with planted exact
    // dups, near dups and junk that must all vanish while originals
    // survive. Rows-only (the near-dup stage is minhash-defined).
    "q78_corpus_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // filters, not limits (deterministic planted sets — see q22)
      val exactDups = docs.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 500000L)
      val nearDups = docs.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 600000L)
        .withColumn("text", concat(col("text"), lit(" tiny suffix")))
      val junk = docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 700000L)
        .withColumn("text", substring(col("text"), 1, 12))
      val corpus = docs.unionByName(exactDups).unionByName(nearDups).unionByName(junk)
      val out = CorpusPipeline.prepare(corpus, "doc_id", "text",
        CorpusPipeline.Config(nearDedupThreshold = Some(0.7)))
      out.agg(count(lit(1)).as("kept"),
        count(when(col("doc_id") >= 500000L && col("doc_id") < 600000L, 1)).as("exact_survivors"),
        count(when(col("doc_id") >= 600000L && col("doc_id") < 700000L, 1)).as("near_survivors"),
        count(when(col("doc_id") >= 700000L, 1)).as("junk_survivors"))
    }),

    // int8 embedding quantization: per-vector scale + quantized-array
    // diagnostics (sum/min/max and reconstruction MSE). Scalar outputs
    // only — the driver's hash compare stringifies arrays
    // asymmetrically between pandas and duckdb.
    "q79_quantize_int8" -> ((s, d) => {
      val v = col("embedding").cast("array<double>")
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), v.as("v"))
        .withColumn("scale", Similarity.int8Scale(col("v")))
        .withColumn("q", Similarity.quantizeInt8(col("v"), col("scale")))
      emb.select(col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"),
        array_min(col("q")).as("qmin"),
        array_max(col("q")).as("qmax"),
        round(Similarity.quantizationMse(col("v"), col("q"), col("scale")), 9).as("mse_r"))
    }),

    // two-stage retrieval: 16-dim coarse shortlist (40) -> exact
    // full-vector rerank (top 5) — the truncated-vector ANN pattern
    "q80_two_stage_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.twoStageTopK(emb, emb.filter(col("vec_id") < 10),
          coarseDims = 16, shortlist = 40, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("corpus_id"), col("cosine_r"))
    }),

    // positional phrase query (Lucene exact-phrase over postings)
    "q81_phrase_query" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      Ranking.phraseOccurrences(docs, col("doc_id"), col("toks"), Seq("table", "hash"))
    }),

    // fuzzy term query (Solr `term~`): vocabulary within edit
    // distance 2 of "spark", with document frequencies
    "q82_fuzzy_term" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      Ranking.fuzzyTerms(docs, col("doc_id"), col("toks"), "spark", maxDist = 2)
    }),

    // highlighting (first-fragment snippet around the matched term)
    "q85_highlight" -> ((s, d) =>
      Ranking.highlight(Tables.documents(s, d), col("doc_id"), col("text"),
        "spark", contextWords = 3)),

    // Solr atomic updates: set/inc/add merged onto the corpus by key
    // (update set derived from doc_id so the oracle replays it)
    "q86_atomic_update" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars"), split(col("source"), "-").as("tags"))
      val updates = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0, lit("reviewed")).as("lang"),
          lit(1000L).as("n_chars"),
          array(lit("patched")).as("tags"))
      graft.etl.Etl.applyAtomicUpdates(base, updates, "doc_id",
          set = Seq("lang"), inc = Seq("n_chars"), add = Seq("tags"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          array_join(col("tags"), "|").as("tags_joined"))
    }),

    // MoreLikeThis (Solr MLT handler): top-10 docs sharing the most of
    // doc 7's ten highest-TF-IDF terms
    "q84_more_like_this" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      Ranking.moreLikeThis(docs, col("doc_id"), col("toks"),
        sourceDocId = 7L, topTerms = 10, k = 10)
    }),

    // cursorMark deep paging (keyset pagination): the page AFTER a
    // cursor position in (totalprice desc, orderkey) order. The WHERE
    // tuple-predicate prunes before the sort — OFFSET-based paging
    // would sort and skip everything before the page (O(N) per page,
    // the deep-paging scale-killer cursorMark exists to avoid).
    "q87_cursor_page" -> ((s, d) => {
      val cursorPrice = 500000.0
      val cursorKey = 100L
      Tables.orders(s, d)
        .filter(col("o_totalprice") < cursorPrice ||
          (col("o_totalprice") === cursorPrice && col("o_orderkey") > cursorKey))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // Solr range facet (facet.range): fixed-width price buckets with
    // counts — one map-side-partial groupBy on the computed bucket,
    // exactly Solr's numeric range faceting over the whole corpus
    "q83_range_facet" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          (floor(col("o_totalprice") / lit(50000.0)) * 50000).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("bucket_total"))),

    // Solr boolean query ((+spark +query) OR (+merge -slow)): pure
    // filter over the token arrays — pushes into the scan, zero
    // shuffles, the most common search a Solr user runs after `*:*`
    "q89_boolean_query" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      Tables.documents(s, d).withColumn("__t", toks)
        .filter(
          (array_contains(col("__t"), "spark") && array_contains(col("__t"), "query")) ||
            (array_contains(col("__t"), "merge") && !array_contains(col("__t"), "slow")))
        .select(col("doc_id"))
    }),

    // Solr stats component (stats.field=l_quantity, facet by flag):
    // count/min/max/sum/mean per group, one map-side-partial groupBy
    "q90_field_stats" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          min(col("l_quantity")).as("min_q"),
          max(col("l_quantity")).as("max_q"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_q"))
        .withColumn("mean_q", col("sum_q") / col("cnt").cast("double"))),

    // Solr result grouping (group.field=source, group.limit=1): the
    // top document per group — per-group window, rows = n_groups
    "q91_grouping" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables.documents(s, d)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("source"), col("doc_id"), col("n_chars"))
    }),

    // Solr terms component (terms.prefix=s): vocabulary terms by
    // prefix with doc frequencies, top 10 — prefix filter BEFORE the
    // aggregation so only matching terms shuffle
    "q92_terms_prefix" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
        .filter(col("term").startsWith("s"))
        .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("term"))
        .limit(10)
    }),

    // edismax-lite boosted ranking: integer score 3*tf(spark) +
    // 1*tf(query) per doc, top 20 — weighted term frequencies as pure
    // column arithmetic (integer math: bit-stable to oracle)
    "q93_boosted_query" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      def tf(t: String) = size(filter(col("__t"), x => x === lit(t))).cast("long")
      Tables.documents(s, d).withColumn("__t", toks)
        .withColumn("score", lit(3L) * tf("spark") + tf("query"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("score"))
    }),

    // Solr {!parent} block join, ScoreMode.Total/Max: parents (orders)
    // with >=1 child lineitem matching the child query, scored by the
    // matching-children aggregate. The child filter runs FIRST (the
    // selective side), then one groupBy on the join key, then the
    // parent join — at 100 TB the child agg shrinks the probe side
    // before the join shuffle; no window, no cross product. max() of
    // doubles is exact (no rounding) -> hash-stable.
    "q101_block_join" -> ((s, d) => {
      val kids = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("child_hits"), max(col("l_extendedprice")).as("best_child"))
      Tables.orders(s, d)
        .join(kids, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("child_hits"),
          col("best_child"))
    }),

    // Solr {!join from=s_nationkey to=c_nationkey} query parser:
    // filter one doc set by field-equality against another query's
    // result. The from-side collapses to DISTINCT keys (9 rows here)
    // and broadcasts — a left-semi hash join with no shuffle of the
    // to-side, which is exactly Solr's join-filter evaluation shape.
    "q102_join_qparser" -> ((s, d) => {
      val from = Tables.supplier(s, d)
        .filter(col("s_acctbal") > 6000)
        .select(col("s_nationkey")).distinct()
      Tables.customer(s, d)
        .join(broadcast(from), col("c_nationkey") === col("s_nationkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // Solr {!rerank reRankDocs=50 reRankWeight=...}: cheap base query
    // ranks top-50, an expensive scorer re-ranks only that window —
    // the two-phase retrieval shape (recall pass over the corpus,
    // precision pass over a constant-size set). Final score =
    // base + 10000*(custkey%7): one IEEE add of exactly-representable
    // terms, bit-equal both engines. base_rank is assigned pre-rerank.
    "q103_rerank" -> ((s, d) => {
      // base_rank via rankCollected: the frame is bounded (post-limit
      // 50 rows), so the driver-side zip replaces the unpartitioned
      // row_number window (single-task WindowExec + warning)
      val base = rankCollected(s,
        Tables.orders(s, d)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(50), "base_rank")
      base.withColumn("rerank_score",
          col("o_totalprice") + lit(10000.0) * pmod(col("o_custkey"), lit(7)).cast("double"))
        .orderBy(col("rerank_score").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("base_rank"), col("rerank_score"))
    }),

    // Solr SignificantTermsQParser: terms over-represented in a
    // foreground doc set vs the whole corpus. One explode+groupBy
    // computes df and fg_df together (conditional count — a single
    // aggregation pass, not two scans); score kept in integer
    // millirat (fg_df*1000/df, integer division) so the ranking is
    // bit-stable. df floor prunes the long tail before the sort.
    "q104_significant_terms" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          count(when(pmod(col("doc_id"), lit(7)) === 0, 1)).as("fg_df"))
        .filter(col("df") >= 20)
        .withColumn("score_milli", expr("fg_df * 1000 div df").cast("long"))
        .orderBy(col("score_milli").desc, col("term"))
        .limit(20)
        .select(col("term"), col("df"), col("fg_df"), col("score_milli"))
    }),

    // Solr AnalyzingInfixSuggester: substring (not just prefix — q92
    // covers that) match over the vocabulary, weighted by doc freq,
    // with a payload (smallest holding doc). Same single explode+agg
    // pass as the other vocabulary queries; the infix filter lands on
    // the aggregated vocab (small), not the corpus.
    "q105_suggest_infix" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("weight"), min(col("doc_id")).as("payload_doc"))
        .filter(col("term").contains("ar"))
        .orderBy(col("weight").desc, col("term"))
        .limit(10)
    }),

    // Solr interval facets: user-supplied arbitrary intervals (unlike
    // q83's uniform range buckets), counted per facet field value.
    // One CASE column + one groupBy — a single aggregation pass; the
    // label expression is identical in the oracle so bucket edges
    // can't drift.
    "q106_interval_facet" -> ((s, d) => {
      val interval = when(col("o_totalprice") < 50000, "[0,50k)")
        .when(col("o_totalprice") < 150000, "[50k,150k)")
        .when(col("o_totalprice") < 300000, "[150k,300k)")
        .otherwise("[300k,*)")
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), interval.as("interval"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // Solr streaming-expression gatherNodes (graph traversal): from a
    // seed node set, walk customer -> orders -> supplying suppliers
    // (two hops), emitting each frontier node with its path count.
    // Each hop is a hash join on the edge key with the (small)
    // frontier broadcast — the iterative-BFS-as-joins shape that
    // scales by sharding the EDGE tables, never materializing paths.
    "q107_graph_walk" -> ((s, d) => {
      val seeds = Tables.customer(s, d)
        .filter(pmod(col("c_custkey"), lit(997)) === 0)
        .select(col("c_custkey"))
      val hop1 = Tables.orders(s, d)
        .join(broadcast(seeds), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
      Tables.lineitem(s, d)
        .join(broadcast(hop1), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("paths"))
    }),

    // the index as a first-class TABLE: DataSourceV2 read over the
    // segment store with Catalyst-driven pushdown — the p_brand
    // equality becomes a posting-list lookup per shard (no stored-doc
    // scan; see IndexDataSource) and only 3 stored fields materialize.
    // Same oracle as q94, which reaches the store via the explicit
    // scatter-gather API instead — both must agree with the source
    // table, proving the round-trip AND the pushdown are lossless.
    "q108_index_dsv2" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_all") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand") === "Brand#23")
        .select(col("id").cast("long").as("p_partkey"), col("p_name"),
          col("p_size").cast("long").as("p_size"))
    }),

    // incremental UPSERT — Solr's steady-state indexing idiom
    // (deleteById + add, one batch) applied to the store: build, then
    // apply a delta that rewrites every 10th part and adds brand-new
    // ids; the full export must equal the source's LATEST state, so
    // the oracle catches lost updates, resurrected tombstones, and
    // dropped adds. Delta-only shuffle (the store itself never moves).
    "q109_index_upsert" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      val parts = Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
        .select(col("id"), col("p_name"), col("p_brand"))
      val out = java.nio.file.Files.createTempDirectory("graft_q109_").toString
      SegmentShardSink.write(parts, "id", out, shards = 4)
      val delta = Tables.part(s, d)
        .filter(pmod(col("p_partkey"), lit(10)) === 0)
        .select(col("p_partkey").cast("string").as("id"),
          concat(col("p_name"), lit(" v2")).as("p_name"), col("p_brand"))
        .unionByName(Tables.part(s, d)
          .filter(pmod(col("p_partkey"), lit(97)) === 0)
          .select((col("p_partkey") + 1000000000L).cast("string").as("id"),
            concat(lit("new part "), col("p_partkey")).as("p_name"), col("p_brand")))
      SegmentShardSink.upsert(s, out, delta)
      SegmentSearch.matchAll(s, out, Seq("id", "p_name", "p_brand"))
        .select(col("id").cast("long").as("p_partkey"), col("p_name"), col("p_brand"))
    }),

    // the steady-state ingest shape the reference's TieredMergePolicy
    // guards (solrconfig_merge.xml:6-12, loaded by
    // TreeMergeOutputFormat.java:248-260): TWELVE successive upsert
    // batches against one store — each leaves a fresh segment per
    // touched part, and the per-batch tiered merge folds over-full
    // size tiers through the postings-level raw merge (tombstoned
    // victims take the rewrite path, reclaiming deletes
    // incrementally), so month-long ingest stays at O(log docs)
    // segments instead of one per batch forever. Batch b updates the
    // docs with doc_id % 12 == b, so DuckDB recomputes the final
    // state in closed form; TieredMergeSpec asserts the segment-count
    // bound on the same flow.
    "q286_tiered_merge" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("string").as("id"), col("lang"),
          col("n_chars"))
      // the base store is SHARED even though the query mutates it:
      // every batch rewrites the same ids to the same values (batch b
      // recomputes from the source frame, never from the store), so
      // re-running the 12-batch flow is idempotent — the measured cost
      // is the steady-state ingest (upserts + tiered merge folds +
      // read-back), not the one-time base build
      val out = sharedStore(d, "q286_tiered") { o =>
        SegmentShardSink.write(docs, "id", o, shards = 2)
      }
      (0 until 12).foreach { b =>
        val delta = docs
          .filter(pmod(col("id").cast("long"), lit(12)) === b)
          .withColumn("n_chars", col("n_chars") + lit((b + 1) * 1000L))
        SegmentShardSink.upsert(s, out, delta)
      }
      s.read.format("graft-index").load(out)
        .select(col("id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
    }),

    // Snapshot-isolated time travel over the segment store (Delta
    // versionAsOf analog / Lucene SnapshotDeletionPolicy): capture a
    // snapshot token, upsert a delta batch under a retention window,
    // then read BOTH the pinned snapshot (the exact pre-upsert state)
    // and the live table from the SAME store — the reproducible-
    // training-run contract ("the corpus exactly as the last run saw
    // it") without copying the store. The store is rebuilt fresh each
    // run (the flow is a state transition, not a steady-state query),
    // and both generations' aggregates are oracled from the source.
    "q291_snapshot_read" -> ((s, d) => {
      import graft.index.SegmentShardSink
      import s.implicits._
      val base = Tables.part(s, d)
        .select(col("p_partkey").cast("string").as("id"), col("p_brand"),
          col("p_size"))
      val out = java.nio.file.Files.createTempDirectory("graft_q291_").toString
      SegmentShardSink.write(base, "id", out, shards = 2)
      val token = Graft.indexSnapshot(s, out)
      val delta = Tables.part(s, d).filter(col("p_partkey") % 7 === 0)
        .select(col("p_partkey").cast("string").as("id"),
          lit("Brand#99").as("p_brand"), lit(999).as("p_size"))
        .unionByName((1 to 50).map(i => (s"x$i", "Brand#NEW", 111))
          .toDF("id", "p_brand", "p_size"))
      // retention window: the upsert's commit (+ any merge fold) must
      // not reclaim the token's pinned generations
      SegmentShardSink.upsert(s, out, delta, retainGenerations = 4)
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy(col("p_brand"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("p_size").cast("long")).as("sum_size"))
          .select(lit(tag).as("src"), col("p_brand"), col("cnt"), col("sum_size"))
      agg(Graft.openSegmentIndex(s, out, snapshot = Some(token)), "snapshot")
        .unionByName(agg(Graft.openSegmentIndex(s, out), "live"))
    }),

    // Luke/terms-component statistics: per-term live doc frequency
    // from the index's own POSTINGS (stored docs never read), summed
    // across shards — oracled against DuckDB on the source table, so
    // the postings statistics themselves are verified, not just
    // point lookups.
    "q110_luke_terms" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").cast("string").as("id"), col("c_mktsegment"))
      val out = java.nio.file.Files.createTempDirectory("graft_q110_").toString
      SegmentShardSink.write(cust, "id", out, shards = 4)
      SegmentSearch.fieldTerms(s, out, "c_mktsegment")
        .select(col("term").as("c_mktsegment"), col("doc_freq"))
    }),

    // Solr realtime get (/get?ids=...): an id-list lookup pushed into
    // the index as an IN filter — Catalyst hands the DSv2 scan the
    // whole id set, each shard resolves only its own posting lists.
    "q111_realtime_get" -> ((s, d) => {
      import graft.index.SegmentShardSink
      // r17 optimization: the shared part_all store carries these
      // columns (the scan prunes the rest) — read-only id lookup
      // serves from it instead of writing a private 3-column copy
      val out = sharedStore(d, "part_all") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("id").isin("7", "77", "177", "777"))
        .select(col("id").cast("long").as("p_partkey"), col("p_name"),
          col("p_size").cast("long").as("p_size"))
    }),

    // the lucene QUERY-STRING surface end-to-end: the exact text a
    // Solr user types, compiled by SolrQueryString to one Catalyst
    // predicate (boolean ops + analyzed-token match + numeric range +
    // wildcard; no UDFs — the oracle replicates each piece in SQL).
    "q112_query_string" -> ((s, d) => {
      import graft.search.SolrQueryString
      val docs = Tables.documents(s, d)
      val q = "(lang:en OR lang:de) AND text:spark -text:merge n_chars:[100 TO 400] source:src1*"
      docs.filter(SolrQueryString.compile(q, docs.schema,
          defaultField = "text", textFields = Set("text")))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // ANALYZED-field indexing (the Lucene stored-vs-indexed split):
    // text postings hold lowercase alnum TOKENS while the stored value
    // stays verbatim, so a term query on a text field matches docs
    // CONTAINING the token — Solr's actual text_general behavior, and
    // the same tokenization SolrQueryString compiles to, oracled via
    // the equivalent token-boundary regex on the source table.
    "q113_analyzed_index" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      // r17 optimization: identical to the shared docs_text spec —
      // read-only term query serves from the shared store
      val out = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      SegmentSearch.termQuery(s, out, "text", "spark", Seq("id", "lang"))
        .select(col("id").cast("long").as("doc_id"), col("lang"))
    }),

    // BUCKETED co-located join — the at-scale answer to "this join
    // shuffles 100 TB every night": both fact tables bucketed+sorted
    // on the join key at write time, so the join plan has ZERO
    // exchanges (locked in PlanShapeSpec) — Spark's bucketing in place
    // of the reference's implicit co-location-by-reducer. Tables are
    // (re)built per sf-dir under /tmp, a one-time cost the nightly
    // join amortizes, exactly the trade a warehouse makes.
    "q114_bucketed_join" -> ((s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_bucket LOCATION '/tmp/graft_warehouse'")
      val tag = d.replaceAll("[^a-zA-Z0-9]", "_")
      val ot = s"graft_bucket.orders_$tag"
      val lt = s"graft_bucket.lineitem_$tag"
      // EXTERNAL bucketed tables: a fresh session's in-memory catalog
      // doesn't know tables a prior JVM wrote, but the bucketed files
      // survive under the location — re-REGISTERING the same bucket
      // spec over them is metadata-only, so only the first JVM ever
      // pays the build (the warehouse amortization this query models)
      def ensure(table: String, df: => org.apache.spark.sql.DataFrame, key: String): Unit =
        if (!s.catalog.tableExists(table)) {
          val loc = new org.apache.hadoop.fs.Path(
            "/tmp/graft_warehouse", table.split('.').last.toLowerCase)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          // _SUCCESS gates registration: part- files without it are a
          // crashed half-build — rebuild rather than register over them
          if (fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")) &&
              fs.listStatus(loc).exists(_.getPath.getName.startsWith("part-")))
            s.sql(s"""CREATE TABLE $table (${df.schema.toDDL}) USING PARQUET
                     |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                     |LOCATION '$loc'""".stripMargin)
          else {
            if (fs.exists(loc)) fs.delete(loc, true) // partial leftovers
            df.write.option("path", loc.toString).bucketBy(8, key)
              .sortBy(key).mode("overwrite").saveAsTable(table)
          }
        }
      ensure(ot, Tables.orders(s, d), "o_orderkey")
      ensure(lt, Tables.lineitem(s, d), "l_orderkey")
      s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_quantity") >= 49)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("l_quantity"))
    }),

    // deterministic dataset split: split is a pure function of
    // (salt, doc_id) via lexicographic md5 thresholds — stable under
    // corpus growth, reproducible in any engine with md5 (the oracle
    // replays the identical comparison). Shuffle-free projection +
    // one count aggregation.
    "q115_dataset_split" -> ((s, d) => {
      Sampling.deterministicSplit(Tables.documents(s, d), col("doc_id"), "split1-")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // PHRASE query against the INDEX (Lucene PhraseQuery, slop 0):
    // positional postings resolve consecutive tokens per shard — the
    // index-side counterpart of q81's DataFrame phrase ranking, oracled
    // via the equivalent token-sequence regex on the source table.
    "q116_index_phrase" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      // r17 optimization: identical to the shared docs_text spec —
      // read-only phrase query serves from the shared store
      val out = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      SegmentSearch.phraseQuery(s, out, "text", "spark query", Seq("id", "lang"))
        .select(col("id").cast("long").as("doc_id"), col("lang"))
    }),

    // the FULL Solr request loop (Graft.search): query-string parse ->
    // index-table filter -> BM25 rank with corpus-wide idf -> top-k
    // with stored fields. Oracled end-to-end: the filter regexes AND
    // the whole BM25 tree are replayed in SQL (q74's parity pattern),
    // so parse, filter, rank, and tie-break all verify at once.
    "q117_solr_search" -> ((s, d) => {
      import graft.index.SegmentShardSink
      // r17 optimization: this is byte-for-byte the shared docs_text
      // spec — read-only search serves from the shared store instead
      // of rebuilding a private copy every run (build-once-query-many,
      // the sharedStore discipline; the result depends only on store
      // contents, which are identical)
      val out = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      Graft.search(s, out, "text:spark text:table lang:en", topK = 10)
        .select(col("id").cast("long").as("doc_id"), col("lang"), col("score_r"))
    }),

    // COUNT(*) pushdown on the index table (Solr's numFound without
    // fetching): Catalyst hands the aggregation to the DSv2 scan —
    // match-all counts come from commit METADATA, term-filtered counts
    // from posting-list cardinality; no stored field is ever read
    // (plan-locked in PlanShapeSpec).
    "q118_index_count" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_all") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string")),
          "id", o, shards = 4)
      }
      val idx = s.read.format("graft-index").load(out)
      val total = idx.agg(count(lit(1)).as("cnt")).withColumn("scope", lit("all"))
      val brand = idx.filter(col("p_brand") === "Brand#23")
        .agg(count(lit(1)).as("cnt")).withColumn("scope", lit("brand23"))
      total.unionByName(brand).select(col("scope"), col("cnt"))
    }),

    // RANGE pushdown on the index table (Solr `p_name:[m TO q}` /
    // Lucene TermRangeQuery): Catalyst's >=/< bounds compile to ONE
    // sorted-term-dictionary range scan per shard, and segments whose
    // commit-recorded zone-map stats (per-field min/max term) exclude
    // the range are skipped without opening a single segment file —
    // the index analog of parquet min/max row-group pruning. Range
    // order is code-point order on both sides (SegmentIndex.cpCompare
    // == Spark UTF8String order == DuckDB binary collation), which is
    // what makes this oracle exact.
    "q119_index_range" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_name") >= "m" && col("p_name") < "q")
        .select(col("id").cast("long").as("p_partkey"), col("p_name"), col("p_brand"))
    }),

    // TopN pushdown — Solr's distributed `sort=...&rows=N`: each shard
    // answers its LOCAL top-N through a bounded heap (never
    // materializing the full match set), Spark's TakeOrderedAndProject
    // merges the ≤ shards×N candidates — the exact scatter-gather a
    // Solr coordinator runs for a sorted query. The term filter rides
    // along as a posting lookup; the unique id tie-break makes the
    // result SET deterministic, so the oracle hash is exact.
    "q120_index_topn" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand") === "Brand#23")
        .orderBy(col("p_name").desc, col("id").asc)
        .limit(15)
        .select(col("id").cast("long").as("p_partkey"), col("p_name"))
    }),

    // facet.field pushdown — THE classic index-served aggregation:
    // GROUP BY p_brand COUNT(*) never reads a stored document; each
    // shard answers from its per-term live doc frequencies (postings
    // cardinality, deletes masked) and Spark merges the partials —
    // Solr's distributed facet counting, verified against DuckDB
    // grouping over the source table.
    "q121_index_facet" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // deleteByQuery — Solr's query-string delete applied to the store:
    // ids resolve through the index table (the boolean's term + prefix
    // branches push down), shuffle ONLY the ids, tombstone per shard.
    // The oracle is the complement: everything NOT matched must
    // survive verbatim, so lost or resurrected docs both fail the hash.
    "q122_delete_by_query" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      val parts = Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
        .select(col("id"), col("p_name"), col("p_brand"))
      val out = java.nio.file.Files.createTempDirectory("graft_q122_").toString
      SegmentShardSink.write(parts, "id", out, shards = 4)
      SegmentShardSink.deleteByQuery(s, out, "p_brand:Brand#23 OR p_name:m*")
      SegmentSearch.matchAll(s, out, Seq("id", "p_name", "p_brand"))
        .select(col("id").cast("long").as("p_partkey"), col("p_name"), col("p_brand"))
    }),

    // stats-component MIN/MAX pushdown: string extremes answered from
    // the commit's zone-map metadata (deletion-free segments never
    // open a file; tombstoned ones fall back to live postings), count
    // from live-doc metadata — the whole row costs ZERO stored reads.
    "q123_index_stats" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .agg(min(col("p_name")).as("name_lo"), max(col("p_name")).as("name_hi"),
          count(lit(1)).as("cnt"))
    }),

    // fq + facet.field — Solr's filtered faceting: the pushed range
    // filter and the grouped count BOTH land in the scan, each shard
    // intersecting facet-field postings with the filter's posting set;
    // stored docs never read, Spark sums the per-shard buckets.
    "q124_index_fq_facet" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_name") >= "m" && col("p_name") < "q")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // Boolean SHOULD pushdown — Lucene's BooleanQuery served the way
    // Lucene serves it: the OR of a term branch and a prefix branch
    // compiles to ONE pushed query whose posting-list unions (ordinal-
    // deduped per segment) produce the hits; no stored-doc scan, no
    // residual filter. The same shape a Solr user writes as
    // `p_brand:Brand#23 OR p_name:m*`.
    "q125_index_bool" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand") === "Brand#23" || col("p_name").startsWith("m"))
        .select(col("id").cast("long").as("p_partkey"), col("p_name"), col("p_brand"))
    }),

    // Boolean MUST pushdown — Lucene's +clauses: a nested boolean
    // ((brand OR brand) AND name-range) compiles to ONE pushed query;
    // each shard intersects the OR's posting union with the range's
    // dictionary scan, zone maps still pruning segments. Zero residual
    // filters, zero stored-doc scans for misses.
    "q126_index_must" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter((col("p_brand") === "Brand#23" || col("p_brand") === "Brand#34")
          && col("p_name") >= "a" && col("p_name") < "n")
        .select(col("id").cast("long").as("p_partkey"), col("p_name"), col("p_brand"))
    }),

    // Boolean MUST_NOT pushdown — Lucene's -clause, completing the
    // BooleanQuery triad: `p_brand <> X` compiles to field-presence
    // minus the term's postings (`+p_brand:[* TO *] -p_brand:X`, SQL's
    // null-excluding <>), and the standalone IS NOT NULL on a column
    // that is genuinely absent for most docs pushes as a presence
    // dictionary walk. Both land in ONE pushed AND; zero residual
    // filters, zero stored-doc reads for misses. The same shape a Solr
    // user writes as `fq=-p_brand:Brand#23&fq=sm_cont:[* TO *]`.
    "q127_index_not" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nulls") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_brand"),
              when(col("p_type").startsWith("STANDARD"), col("p_type"))
                .as("std_type")), // ABSENT for most docs — real null surface
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand") =!= "Brand#23" && col("std_type").isNotNull)
        .select(col("id").cast("long").as("p_partkey"), col("p_brand"), col("std_type"))
    }),

    // Solr facet.pivot=p_brand,p_size with an fq: GROUP BY two
    // fields + COUNT(*) pushes whole — each shard inverts both
    // fields' postings into transient forward (docvalues-style)
    // ord→term views, one O(docs) pass per field, and counts (a, b)
    // pairs over the fq's match set. Stored docs never read; Spark
    // merges the per-shard partial buckets, its final agg the gather
    // half of Solr's distributed pivot faceting.
    "q128_index_pivot" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_bs") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_brand"), col("p_size").cast("string").as("p_size")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand").startsWith("Brand#1"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // JSON facet API nested stats ({type: terms, field: p_size,
    // facet: {lo: "min(p_brand)", hi: "max(p_brand)"}} under an fq):
    // GROUP BY + COUNT/MIN/MAX pushes whole — each shard walks the
    // stat field's postings through the group's forward view over the
    // fq match set, emitting per-bucket partials; Spark's final agg
    // (sum/min/max merge) is the coordinator's bucket merge. Stored
    // docs never read.
    "q129_index_json_facet" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_bs") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_brand"), col("p_size").cast("string").as("p_size")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand").startsWith("Brand#2"))
        .groupBy(col("p_size"))
        .agg(count(lit(1)).as("cnt"),
          min(col("p_brand")).as("min_brand"),
          max(col("p_brand")).as("max_brand"))
    }),

    // stats.field under an fq (stats=true&stats.field=p_name&fq=
    // p_brand:Brand#23): ungrouped MIN/MAX/COUNT with a pushed filter
    // — served per shard from the stat field's postings ∩ the fq
    // match set (the unfiltered variant in q123 stays metadata-only
    // zone maps). One partial row per shard, no stored docs.
    "q130_index_stats_fq" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_nb") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_name"), col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand") === "Brand#23")
        .agg(min(col("p_name")).as("min_name"),
          max(col("p_name")).as("max_name"),
          count(lit(1)).as("cnt"))
    }),

    // Solr facet.range (facet.range=p_size&start=0&end=60&gap=10&fq=
    // p_brand:Brand#23) served from the index: the per-term counting
    // is the pushed facet.field (postings only), bucketing runs over
    // the vocabulary-sized term-count frame, and a broadcast bucket
    // spine keeps empty buckets at 0 (facet.mincount=0, Solr's
    // default). Stored docs never read.
    "q131_index_range_facet" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_bs") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_brand"), col("p_size").cast("string").as("p_size")),
          "id", o, shards = 4)
      }
      Graft.rangeFacet(s, out, "p_size", start = 0.0, end = 60.0, gap = 10.0,
        q = "p_brand:Brand#23")
    }),

    // Typed numeric fields (Solr plong/pdouble): p_size and the price
    // index natively under the sortable term encoding, so a numeric
    // BETWEEN + a double bound push as dictionary range scans in
    // NUMERIC order (code-point "15" < "5" never leaks) with zone-map
    // segment skipping — and the scan returns typed Long/Double
    // columns, no residual filters, no casts in the plan.
    "q132_index_num_range" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_num") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(
            col("p_partkey").cast("string").as("id"),
            col("p_size").cast("long").as("p_size"),
            col("p_retailprice").cast("double").as("p_price"),
            col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_size") >= 10L && col("p_size") < 20L && col("p_price") < 1500.0)
        .select(col("id").cast("long").as("p_partkey"), col("p_size"), col("p_price"))
    }),

    // JSON-facet nested stats over TYPED fields: numeric group keys
    // and double min/max decode from the sortable encoding — the
    // grouped-stats pushdown (q129) with plong buckets and pdouble
    // extremes, Solr's {type: terms, field: p_size, facet: {lo:
    // "min(price)", hi: "max(price)"}} under a numeric fq.
    "q133_index_num_stats" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_num") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(
            col("p_partkey").cast("string").as("id"),
            col("p_size").cast("long").as("p_size"),
            col("p_retailprice").cast("double").as("p_price"),
            col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_size") <= 10L)
        .groupBy(col("p_size"))
        .agg(count(lit(1)).as("cnt"),
          min(col("p_price")).as("min_price"),
          max(col("p_price")).as("max_price"))
    }),

    // Typed temporal fields (Solr pdate): o_orderdate indexes as both
    // a TIMESTAMP_NTZ (epoch-micros sortable terms — the parquet
    // timestamp[ms] column reads as NTZ) and a DATE (epoch days); a
    // timestamp lower bound and a date upper bound push together as
    // one AND of dictionary ranges in CHRONOLOGICAL order — Solr's
    // `o_ts:[1995-03-01T00:00 TO *] AND o_day:[* TO 1995-06-01}` fq —
    // with typed columns out and zero residual.
    "q134_index_time_range" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "orders_time") { o =>
        SegmentShardSink.write(
          Tables.orders(s, d).select(
            col("o_orderkey").cast("string").as("id"),
            col("o_orderdate").as("o_ts"),
            to_date(col("o_orderdate")).as("o_day"),
            col("o_totalprice")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("o_ts") >= lit("1995-03-01 00:00:00").cast("timestamp_ntz") &&
          col("o_day") < lit("1995-06-01").cast("date"))
        .select(col("id").cast("long").as("o_orderkey"),
          date_format(col("o_ts"), "yyyy-MM-dd").as("o_day"),
          col("o_totalprice"))
    }),

    // stats.field sum/count served from postings: SUM over an integral
    // typed field is Σ decoded-term × live-match-count (exact integer
    // math), COUNT(field) the non-null match count — one term-list walk
    // per field, zero row materialization, composed under an fq. The
    // executed plan is a single pushed-aggregate scan (no Spark-side
    // HashAggregate over rows).
    "q135_index_sum_stats" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_num") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(
            col("p_partkey").cast("string").as("id"),
            col("p_size").cast("long").as("p_size"),
            col("p_retailprice").cast("double").as("p_price"),
            col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand") === "Brand#23")
        .agg(sum(col("p_size")).as("sum_size"),
          count(col("p_size")).as("cnt_size"),
          count(lit(1)).as("cnt"))
    }),

    // Solr stats.cardinality / JSON-facet unique(field): per-brand
    // bucket count + number of DISTINCT p_size values, served from
    // postings alone. The inner GROUP BY is the pivot pushdown
    // (q128) — each shard emits vocabulary²-bounded (brand, size)
    // partials, which IS Solr's per-shard value-set refinement for
    // unique(); the outer aggregate merges the sets (sum → bucket
    // count, count of non-null sizes → cardinality). Data movement
    // ∝ distinct pairs, never corpus size; stored docs never read.
    "q136_index_unique" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_bs") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string"))
            .select(col("id"), col("p_brand"), col("p_size").cast("string").as("p_size")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_brand").startsWith("Brand#1"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("p_brand"))
        .agg(sum(col("__c")).as("cnt"),
          count(col("p_size")).as("uniq_size"))
    }),

    // Solr stats.percentiles over a pdouble field — EXACT (Solr only
    // offers t-digest approximation): the term dictionary is already
    // value-sorted, so each percentile is a cumulative-count walk
    // over the pushed facet's vocabulary-sized term→count partials.
    // percentile_disc semantics: smallest value whose cumulative doc
    // count reaches p of the matching total.
    "q137_index_percentiles" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_num") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(
            col("p_partkey").cast("string").as("id"),
            col("p_size").cast("long").as("p_size"),
            col("p_retailprice").cast("double").as("p_price"),
            col("p_brand")),
          "id", o, shards = 4)
      }
      Graft.percentiles(s, out, "p_price",
        fractions = Seq(0.25, 0.5, 0.75, 0.95), q = "p_brand:Brand#23")
    }),

    // JSON-facet numeric stats ({type: terms, field: p_brand, facet:
    // {s: "sum(p_size)"}} under a numeric fq): GROUP BY + SUM/COUNT
    // of a plong field pushes whole — each shard streams the stat
    // field's postings through the group's forward view over the fq
    // match set, summing DECODED typed terms in exact integer math.
    // Spark's final aggregate merges the per-shard partials (Solr's
    // coordinator bucket merge). Stored docs never read.
    "q138_index_group_sum" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_num") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(
            col("p_partkey").cast("string").as("id"),
            col("p_size").cast("long").as("p_size"),
            col("p_retailprice").cast("double").as("p_price"),
            col("p_brand")),
          "id", o, shards = 4)
      }
      s.read.format("graft-index").load(out)
        .filter(col("p_size") >= 10L && col("p_size") < 40L)
        .groupBy(col("p_brand"))
        .agg(sum(col("p_size")).as("sum_size"),
          count(col("p_size")).as("cnt_size"),
          count(lit(1)).as("cnt"))
    }),

    // Solr facet.field over an ANALYZED field (token facets — the
    // tags/terms faceting the DSv2 groupBy pushdown must refuse
    // because per-term counts don't partition docs): each doc counts
    // once under EACH token it carries, under a term fq. Per-shard
    // postings-block walks (v3 seek) produce vocabulary-sized
    // partials; one groupBy merges them — the distributed facet
    // response merge. The null bucket (token-less docs) is dropped to
    // mirror SQL explode semantics.
    "q139_token_facet" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      Graft.facetField(s, out, "text", fq = Some(("lang", "en")))
        .filter(col("term").isNotNull)
    }),

    // negated multivalued term filter (Solr `fq=-words:bolt` composed
    // with a positive term): the exclusion pushes as MUST_NOT over
    // field presence, ANDed with the positive posting lookup — the
    // Solr exclusion-facet shape at the SQL surface.
    "q303_index_array_not" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_mv") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(col("p_partkey").cast("string").as("id"),
            split(col("p_name"), " ").as("words"), col("p_brand")),
          "id", o, shards = 4)
      }
      val idx = s.read.format("graft-index")
        .option("multivalued", "array").load(out)
      idx.filter(array_contains(col("words"), "blue") &&
          !array_contains(col("words"), "bolt"))
        .select(col("id").cast("long").as("p_partkey"), col("p_brand"))
    }),

    // ANALYZED term filter at the SQL surface (Solr `fq=text:spark` on
    // a text field — the full-text half of the q296 pushdown):
    // graft_term_match runs THE index-time analyzer, so the pushed
    // posting lookup and the residual token re-check agree row-for-row
    // (plan-locked pushedTerm=text:spark in IndexDataSourceSpec).
    // Same docs_text store as q139.
    "q299_index_analyzed_filter" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      val idx = s.read.format("graft-index").load(out)
      idx.filter(graft.functions.TermMatch.graft_term_match(
          col("text"), lit("spark")))
        .select(col("id").cast("long").as("doc_id"), col("lang"))
    }),

    // analyzed MULTIVALUED term filter (Solr `fq=labels:promo` on a
    // tokenized multi-value text field — the last common fq shape):
    // `exists(labels, t -> graft_term_match(t, 'promo'))` asks "any
    // value's token stream contains the term"; postings index the
    // tokens of EVERY value, so the predicate pushes whole as a token
    // posting lookup (plan-locked in IndexDataSourceSpec). The match
    // here comes only via the UPPERCASE p_type value's case-folded
    // tokens — verbatim array_contains could never see it.
    "q304_index_analyzed_array" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_mvana") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(col("p_partkey").cast("string").as("id"),
            array(col("p_name"), col("p_type")).as("labels"), col("p_brand")),
          "id", o, shards = 4, analyzedFields = Set("labels"))
      }
      val idx = s.read.format("graft-index")
        .option("multivalued", "array").load(out)
      idx.filter(exists(col("labels"),
          t => graft.functions.TermMatch.graft_term_match(t, lit("promo"))))
        .select(col("id").cast("long").as("p_partkey"), col("p_brand"))
    }),

    // Solr SPLITSHARD: a private 2-shard store splits shard 0 at its
    // hash midpoint into two sub-shards (one data-local rewrite task,
    // siblings untouched), publishing shards=3 with EXPLICIT slice
    // ranges in the marker — then the full store export must still
    // equal the source (no doc lost, duplicated, or mis-routed).
    // Mutating, so the store stays private (not sharedStore).
    "q140_split_shard" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = java.nio.file.Files.createTempDirectory("graft_q140_").toString
      SegmentShardSink.write(
        Tables.customer(s, d).select(
          col("c_custkey").cast("string").as("id"),
          col("c_name"), col("c_mktsegment")),
        "id", out, shards = 2)
      Graft.splitShard(s, out, 0)
      s.read.format("graft-index").load(out)
        .select(col("id"), col("c_name"), col("c_mktsegment"))
    }),

    // Solr JSON Facet API end-to-end: the request a Solr user writes
    // ({type:terms, limit, sort, nested stats + sub-facet}) compiles
    // onto the index pushdowns — parent buckets via grouped
    // count+avg (avg(plong) rewrites to pushed sum+count partials),
    // child buckets via the pivot pushdown, Solr tie-break (count
    // desc, then index order), ≤5-row parent frame broadcast onto
    // the ranked child frame. Flattened bucket tree out.
    "q141_json_facet_api" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_jf") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(
            col("p_partkey").cast("string").as("id"),
            col("p_brand"), col("p_type"),
            col("p_size").cast("long").as("p_size")),
          "id", o, shards = 4)
      }
      Graft.jsonFacet(s, out,
        """{"brands": {"type": "terms", "field": "p_brand", "limit": 5,
          |  "facet": {"avg_size": "avg(p_size)",
          |            "types": {"type": "terms",
          |                      "field": "p_type", "limit": 3}}}}""".stripMargin)
    }),

    // Unigram-LM quality scoring (statistical-outlier signal for
    // corpus filtering): per-doc rarity under the corpus unigram
    // model, in bit-stable integer milli-ratio space (true ln-based
    // perplexity is libm-dependent and unverifiable bit-for-bit;
    // the inverse-probability ratio is monotone in the same
    // surprise). One explode feeds corpus counts AND the cost join;
    // totals broadcast; exact integer sums.
    "q142_unigram_rarity" -> ((s, d) =>
      TextAnalysis.unigramRarity(
        Tables.documents(s, d), "doc_id", "text")),

    // INDEX-SERVED MoreLikeThis: q84's exact scoring, but every
    // statistic from the index — seed term vector from positional
    // postings, df from posting cardinality, N from live counts,
    // candidates from the 10 interesting terms' posting lists (one
    // stored-id seek per candidate). Same oracle as q84 modulo the
    // store round-trip.
    "q143_index_mlt" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      Graft.moreLikeThis(s, out, "text", "7", topTerms = 10)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("shared_terms"))
        .orderBy(col("shared_terms").desc, col("doc_id"))
        .limit(10)
    }),

    // L106 exact cross-document substring-span dedup (Lee et al.
    // 2022): every 5-token window occurring >=2 times corpus-wide
    // marks its tokens; covered tokens are cut from the rebuilt text.
    "q144_substring_dedup" -> ((s, d) =>
      ops.SubstringDedup.dropDuplicatedSpans(
        Tables.documents(s, d), "doc_id", "text", k = 5)
        .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
          col("text_deduped"))),

    // L107 SemDeDup: axis-sign semantic buckets, within-bucket
    // pairwise cosine, keep-lowest-id
    "q145_semantic_dedup" -> ((s, d) =>
      ops.Similarity.semanticDedup(
        Tables.embeddings(s, d), threshold = 0.4, bits = 8)),

    // L108 BPE round-1: adjacent-char pair counts over the word-
    // frequency table, top-20 by (count, pair) — the corpus-scale half
    // of tokenizer training (the merge loop is unit-tested against an
    // independent reference)
    "q146_bpe_pairs" -> ((s, d) => {
      val words = text.Bpe.wordFrequencies(Tables.documents(s, d), "text")
        .select(text.Bpe.charSymbols(col("word")).as("syms"), col("freq"))
      text.Bpe.pairCounts(words)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(20)
    }),

    // L109 bigram-LM rarity: q142's conditional-probability sibling,
    // same bit-stable integer milli-ratio space
    "q147_bigram_rarity" -> ((s, d) =>
      TextAnalysis.bigramRarity(Tables.documents(s, d), "doc_id", "text")),

    // L110 multi-select faceting: fq={!tag=lang}lang:en +
    // facet.field={!ex=lang}lang — the tagged filter is LIFTED for
    // this facet while the n_chars range still bites; counts served
    // by the grouped-count pushdown
    "q148_facet_exclusion" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.facetFieldMultiSelect(s, out, "lang",
          filters = Seq("{!tag=lang}lang:en", "n_chars:[300 TO *]"),
          exclude = Set("lang"))
        .select(col("lang"), col("cnt"))
    }),

    // L110 facet.query: named query-string buckets, each an
    // independent pushed filter+count leg
    "q149_facet_query" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.facetQuery(s, out,
        queries = Seq("short" -> "n_chars:[* TO 299]",
                      "long" -> "n_chars:[300 TO *]"),
        filters = Seq("lang:en"))
    }),

    // L111 streaming expressions: rollup(search(...)) — the /stream
    // analytics surface compiled to a hash aggregate over the pushed
    // index scan
    "q150_stream_rollup" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.streamExpr(s,
        """rollup(search(docs_meta, q="n_chars:[100 TO *]", fl="lang,n_chars", sort="lang asc"),
          |  over="lang", sum(n_chars), count(*))""".stripMargin,
        Map("docs_meta" -> out))
    }),

    // L111 streaming expressions: select(top(innerJoin(search, search)))
    // — a two-collection equi-join, TakeOrdered top-10, projection
    "q151_stream_join_top" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val meta = docsMetaStore(s, d)
      val txt = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      Graft.streamExpr(s,
        """select(top(n=10,
          |  innerJoin(search(docs_meta, q="lang:en", fl="id,n_chars", sort="id asc"),
          |            search(docs_text, q="*:*", fl="id,lang", sort="id asc"), on="id"),
          |  sort="n_chars desc, id asc"), "id", "lang", "n_chars")""".stripMargin,
        Map("docs_meta" -> meta, "docs_text" -> txt))
    }),

    // L111 streaming expressions: unique(over=lang) under the stream's
    // sort contract — first tuple per key in stream order
    "q152_stream_unique" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.streamExpr(s,
        """unique(search(docs_meta, q="*:*", fl="id,lang,n_chars",
          |  sort="n_chars desc, id asc"), over="lang")""".stripMargin,
        Map("docs_meta" -> out))
    }),

    // L112 LTR rerank ({!ltr model=m}): first-pass term retrieval off
    // the index, feature extraction (occurrence count + field length),
    // linear-model rescore of the candidates, top-10. Integer-exact
    // features, fixed-order double fold -> bit-stable scores.
    "q153_ltr_rerank" -> ((s, d) => {
      import graft.index.SegmentShardSink
      import graft.search.Ltr
      val txt = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      val idx = Graft.openSegmentIndex(s, txt)
      val cand = idx.filter(
        Graft.queryString("text:spark AND lang:en", idx, "text", Set("text")))
      Ltr.rerank(cand,
          Seq(
            Ltr.Feature("hits",
              ((length(col("text")) -
                length(regexp_replace(col("text"), "spark", ""))) / 5).cast("long")),
            Ltr.Feature("len_chars", length(col("text")).cast("long"))),
          Ltr.LinearModel(Seq("hits" -> 2.0, "len_chars" -> 0.001)),
          topK = 10, tieBreak = col("id").cast("long"))
        .select(col("id").cast("long").as("doc_id"),
          col("hits"), col("len_chars"), col("ltr_score_r"))
    }),

    // L113 corpus-pipeline provenance audit: one (doc_id, stage) row
    // per dropped doc — the deterministic stages (quality + exact
    // dedup) so the audit itself is oracled; the LSH stage's drops are
    // covered rows-only through q78. Planted exact dups (ids shifted
    // +100000) + a raised token floor give both stages real signal on
    // the synthetic corpus.
    "q154_corpus_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 100000L)
      ops.CorpusPipeline.auditDrops(
        docs.unionByName(planted), "doc_id", "text",
        ops.CorpusPipeline.Config(minQualityTokens = 40,
          redactPii = false, nearDedupThreshold = None))
    }),

    // L114 /sql handler (Parallel SQL): SQL over a registered
    // collection view — the grouped aggregate pushes to postings like
    // the DataFrame surface
    "q155_solr_sql" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.sql(s,
        """SELECT source, min(n_chars) AS min_chars, count(*) AS cnt
          |FROM docs WHERE lang = 'en' GROUP BY source""".stripMargin,
        Map("docs" -> out))
    }),

    // L111 having(rollup(...), and(gt, lt)): the post-aggregate filter
    // decorator
    "q156_stream_having" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.streamExpr(s,
        """having(rollup(search(docs_meta, q="*:*", fl="source,n_chars", sort="source asc"),
          |  over="source", sum(n_chars), count(*)),
          |  and(gt(sum_n_chars, 7400), lt(cnt, 26)))""".stripMargin,
        Map("docs_meta" -> out))
    }),

    // L111 complement(search, search): cross-collection anti-join by
    // key — en docs whose text does NOT contain the token
    "q157_stream_complement" -> ((s, d) => {
      val meta = docsMetaStore(s, d)
      val txt = sharedStore(d, "docs_text") { o =>
        graft.index.SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      Graft.streamExpr(s,
        """complement(search(docs_meta, q="lang:en", fl="id,lang,n_chars", sort="id asc"),
          |  search(docs_text, q="text:spark", fl="id", sort="id asc"), on="id")""".stripMargin,
        Map("docs_meta" -> meta, "docs_text" -> txt))
    }),

    // L107 production path: SemDeDup over IVF k-means cells
    // (data-adaptive; hash-checked via the same unrolled k-means
    // replay as q46 — the sign-bucket semantics live in q145)
    "q158_semantic_dedup_ivf" -> ((s, d) =>
      ops.Similarity.semanticDedupIvf(
        Tables.embeddings(s, d), threshold = 0.4, dim = 64, nlist = 16)
        .select(col("vec_id"), col("cluster"), col("is_dup"))),

    // L115 pack assembly: budget-bucketed packs per source, documents
    // concatenated in doc_id order with an end-of-document marker
    "q159_pack_texts" -> ((s, d) =>
      ops.Chunking.packTexts(Tables.documents(s, d),
        col("source"), col("doc_id"), col("n_chars"), budget = 2000,
        col("text"), sep = "<|eod|>")
        .select(col("grp").as("source"), col("pack_id"), col("n_docs"),
          col("pack_cost"), col("packed_text"))),

    // L116 temperature-scaled mixture sampling (alpha=0.5 -> sqrt,
    // bit-stable): md5-coin Bernoulli under per-source rates
    "q160_temperature_sample" -> ((s, d) =>
      ops.Sampling.temperatureSample(Tables.documents(s, d),
        col("source"), col("doc_id"), alpha = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), col("source"))),

    // L108 end-to-end: learn 20 merges on the corpus, ENCODE the
    // corpus with the fused kernel, count the resulting subword
    // vocabulary (rows-only: the merge loop is engine-sequential;
    // kernel-vs-fold parity is unit-pinned)
    "q161_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = text.Bpe.learn(docs, "text", numMerges = 20)
      text.Bpe.wordFrequencies(docs, "text")
        .select(explode(text.Bpe.encode(
          text.Bpe.charSymbols(col("word")), merges)).as("subword"),
          col("freq"))
        .groupBy(col("subword")).agg(sum(col("freq")).as("occurrences"))
        .orderBy(col("occurrences").desc, col("subword")).limit(20)
    }),

    // L117 incremental dedup, exact half: a new batch (with planted
    // copies of corpus texts) anti-joins the corpus fingerprint set —
    // fingerprints move, documents never do
    "q162_delta_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400)
        .unionByName(docs.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 200000L))
      Dedup.dropExactAgainst(batch, col("text"),
          Dedup.contentFingerprints(corpus, col("text")))
        .select(col("doc_id"), col("source"))
    }),

    // L117 incremental dedup, near half: batch signatures banded
    // against the corpus signature table (rows-only: engine-side
    // minhash family)
    "q163_delta_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
      val corpusSigs = ops.ApproxDedup.signatureTable(
        docs.filter(col("doc_id") < 400), col("doc_id"), toks)
      val batch = docs.filter(col("doc_id") >= 400)
        .unionByName(docs.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 200000L)
          .withColumn("text", concat(col("text"), lit(" extra"))))
      ops.ApproxDedup.dropNearDuplicatesAgainst(
          batch, col("doc_id"), toks, corpusSigs, threshold = 0.8)
        .select(col("doc_id"), col("source"))
    }),

    // L110 extension — facet.limit/mincount/sort=count: Solr's default
    // facet ordering (count desc, value asc) with a bounded cut
    "q170_facet_params" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.facetFieldMultiSelect(s, out, "source",
        filters = Seq("n_chars:[250 TO *]"),
        params = graft.search.MultiSelect.FacetParams(
          limit = 8, mincount = 10, sort = "count"))
        .select(col("source"), col("cnt"))
    }),

    // L110 extension — facet.prefix: bucket-value prefix prune ahead
    // of grouping (a pushable StartsWith on the facet field)
    "q171_facet_prefix" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.facetFieldMultiSelect(s, out, "source",
        params = graft.search.MultiSelect.FacetParams(
          prefix = Some("src1"), sort = "index", limit = 20))
        .select(col("source"), col("cnt"))
    }),

    // L122 corpus profiling: equi-width histogram + per-source summary
    "q168_histogram" -> ((s, d) =>
      ops.Profiling.histogram(Tables.documents(s, d), col("n_chars"),
        lo = 0.0, hi = 600.0, buckets = 12)),

    "q169_group_summary" -> ((s, d) =>
      ops.Profiling.groupSummary(Tables.documents(s, d),
          col("lang"), col("n_chars"))
        .select(col("grp").as("lang"), col("n"),
          col("min_v"), col("max_v"),
          col("sum_v").cast("long").as("sum_v"), col("mean_v"))),

    // L121 Unicode canonicalization: NFC + control strip + whitespace
    // collapse over text salted with a decomposed accent, a control
    // char and ragged spacing — every row exercises the kernel
    "q167_canonical_text" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.canonicalText(
          // decomposed accents (e + U+0301), a BEL control, ragged
          // spacing: NFC composes, the strip removes, collapse tightens
          concat(col("text"), lit(" cafe\u0301 \u0007 e\u0301x")))
          .as("canon"))),

    "q166_dup_profile" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") < 8)
        .withColumn("doc_id", col("doc_id") + 300000L)
      Dedup.duplicationProfile(docs.unionByName(planted)
        .unionByName(planted.withColumn("doc_id", col("doc_id") + 1000L)),
        col("text"))
    }),

    // L119 TermVectorComponent: (doc_id, term, tf, df) for requested
    // ids, tf from the docs' positional postings, df from posting
    // cardinality — work ∝ the requested docs, never a corpus scan
    "q165_term_vectors" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val txt = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      graft.index.SegmentSearch.termVectors(s, txt, "text", Seq("3", "7"))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("term"), col("tf"), col("df"))
    }),

    // L118 function-query compiler: sort=<func> desc — the freshness-
    // boost family as compiled Columns (IEEE correctly-rounded ops
    // only, so the scores hash-match)
    "q164_function_sort" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val score = Graft.functionQuery(
        "sum(recip(n_chars,1,1000,1000), product(0.001, n_chars))", docs)
      docs.withColumn("fscore_r", round(score, 6))
        .orderBy(col("fscore_r").desc, col("doc_id"))
        .select(col("doc_id"), col("fscore_r")).limit(15)
    }),

    // Solr date math over a pdate index field: the range bounds are
    // NOW-anchored expressions resolved against an EXPLICIT instant
    // (Solr pins one NOW per distributed request for the same reason —
    // determinism across shards/retries), then pushed as one
    // chronological dictionary-range scan per shard (L97)
    "q172_date_math" -> ((s, d) => {
      val out = eventsTimeStore(s, d)
      val idx = s.read.format("graft-index").load(out)
      val anchor = java.time.Instant.parse("2024-01-25T13:45:00Z")
      idx.filter(graft.search.SolrQueryString.compile(
          "ts:[NOW-10DAYS/DAY TO NOW/HOUR]", idx.schema, "id", now = Some(anchor)))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    }),

    // Solr /export: the FULL filtered result set (not top-k) under a
    // global sort — pushed scan + range-exchange sort; the bulk-
    // extraction path a Solr→warehouse ETL uses (order semantics
    // locked in GraftFacadeSpec; the oracle checks the exported SET)
    "q173_export" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.export(s, out, "lang:en AND n_chars:[300 TO 500]",
        fl = Seq("id", "source", "n_chars"),
        sort = Seq(("n_chars", false), ("id", true)))
    }),

    // Solr QueryElevationComponent: editorially pinned ids lead in
    // config order, an excluded id vanishes, organic integer-score
    // order follows; top-k cut AFTER elevation (Solr's order of
    // operations). Pure per-row scalar math — no extra shuffle.
    "q174_elevation" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      def tf(t: String) = size(filter(col("__t"), x => x === lit(t))).cast("long")
      val scored = Tables.documents(s, d).withColumn("__t", toks)
        .withColumn("score", lit(3L) * tf("spark") + tf("query"))
        .filter(col("score") > 0)
        .select(col("doc_id"), col("score"))
      graft.search.Elevation(scored, col("doc_id"), col("score"),
          graft.search.Elevation.Config(
            elevated = Seq("17", "3"), excluded = Seq("5")))
        .limit(10)
        .withColumn("elevated", col("elevated").cast("long"))
    }),

    // L111 extension — hashJoin/leftOuterJoin: Solr's read-the-hashed-
    // stream-into-memory contract maps onto a broadcast hint; the
    // outer preserves unmatched left tuples (null-filled)
    "q175_stream_hash_join" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.streamExpr(s,
        """leftOuterJoin(
          |  search(docs_meta, q="lang:en AND n_chars:[380 TO *]",
          |    fl="id,source,n_chars", sort="id asc"),
          |  hashJoin(
          |    search(docs_meta, q="n_chars:[500 TO *]", fl="id,lang", sort="id asc"),
          |    search(docs_meta, q="lang:en OR lang:de", fl="id", sort="id asc"),
          |    on="id"),
          |  on="id")""".stripMargin,
        Map("docs_meta" -> out))
    }),

    // L111 extension — facet decorator: bounded sorted grouped
    // aggregate riding the same pushed scan as facet.field
    "q176_stream_facet" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.streamExpr(s,
        """facet(docs_meta, q="n_chars:[250 TO *]", buckets="lang,source",
          |  bucketSorts="cnt desc, lang asc, source asc",
          |  bucketSizeLimit=12, count(*))""".stripMargin,
        Map("docs_meta" -> out))
    }),

    // domain-blocklist filter (C4/RefinedWeb corpus hygiene): hosts on
    // or under a blocked domain drop before any downstream stage.
    // URLs planted as in q64; the literal blocklist compiles to
    // per-row scalar math — shuffle-free until the survivors' groupBy
    "q177_domain_blocklist" -> ((s, d) => {
      import graft.text.UrlNormalize
      val urls = Tables.documents(s, d).withColumn("url",
        concat(lit("http://"),
          // every third doc sits on a SUBDOMAIN of its host family —
          // exercising the dot-anchored suffix rule, not just equality
          when(pmod(col("doc_id"), lit(3)) === 0, lit("cdn.")).otherwise(lit("")),
          lit("example"), pmod(col("doc_id"), lit(40)),
          lit(".com/page/"), col("doc_id")))
      urls.filter(!UrlNormalize.blockedHost(col("url"),
          Seq("example7.com", "example23.com", "example38.com")))
        .groupBy(UrlNormalize.host(col("url")).as("host"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // hybrid retrieval: lexical top-50 (integer tf score) + embedding
    // cosine top-50 fused by Reciprocal Rank Fusion in integer space
    // — the union+groupBy runs over BOUNDED candidate frames only;
    // corpus-scale cost stays inside the two retrievers
    "q178_rrf_fusion" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      def tf(t: String) = size(filter(col("__t"), x => x === lit(t))).cast("long")
      val lexTop = Tables.documents(s, d).withColumn("__t", toks)
        .withColumn("score", lit(3L) * tf("spark") + tf("query"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50).select(col("doc_id"))
      val lex = rankCollected(s, lexTop, "rnk").select(col("doc_id").as("id"), col("rnk"))
      val emb = Tables.embeddings(s, d)
      val vec = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 50)
        .select(col("corpus_id").as("id"), col("rank").cast("long").as("rnk"))
      ops.HybridSearch.rrf(Seq(lex, vec), "id", "rnk").limit(15)
    }),

    // Solr result grouping, the full response shape: group.limit=2
    // docs per group PLUS group_size (numFound per group) and ngroups
    // (total group count, group.ngroups=true) on every row — one
    // window shuffle for rank+size, the group count a broadcast scalar
    "q179_group_ngroups" -> ((s, d) => {
      val base = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      val grp = Window.partitionBy(col("o_orderpriority"))
      val w = grp.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val grouped = base
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("group_size", count(lit(1)).over(grp))
        .filter(col("rn") <= 2)
      val ngroups = base.agg(countDistinct(col("o_orderpriority")).as("ngroups"))
      grouped.crossJoin(broadcast(ngroups))
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("rn"), col("group_size"), col("ngroups"))
    }),

    // token-budget corpus selection (the pretraining data-mixing
    // primitive: "this many tokens of each source, best docs first"):
    // per-source priority order, exact integer running sum, hard cap
    "q180_token_budget" -> ((s, d) =>
      ops.Sampling.tokenBudgetSelect(Tables.documents(s, d), col("source"),
          Seq(col("n_chars").desc, col("doc_id")), col("n_chars"),
          budget = 30000L)
        .select(col("source"), col("doc_id"), col("running_tokens"))),

    // json.facet allBuckets/missing: tagged one-row global aggregates
    // OUTSIDE the bucket list (exempt from limit/mincount/sort), per
    // the API contract — driver-sized extras on the pushed partials
    "q182_json_facet_all" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "part_jf") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).select(
            col("p_partkey").cast("string").as("id"),
            col("p_brand"), col("p_type"),
            col("p_size").cast("long").as("p_size")),
          "id", o, shards = 4)
      }
      Graft.jsonFacet(s, out,
        """{"brands": {"type": "terms", "field": "p_brand", "limit": 5,
          |  "allBuckets": true, "missing": true,
          |  "facet": {"sum_size": "sum(p_size)"}}}""".stripMargin)
    }),

    // FIM pretraining transform (Bavarian et al. 2022): deterministic
    // md5 coin + salted cut points -> <PRE>p<SUF>s<MID>m re-emission;
    // pure codegen'd projection, reproducible across engines/retries
    "q183_fim_split" -> ((s, d) =>
      ops.FimTransform.fimSplit(Tables.documents(s, d),
          col("doc_id"), col("text"), rate = 0.4)
        .select(col("doc_id"), col("mode"), col("fim_text"))),

    // Solr terms.regex: vocabulary filtered by a FULL-match regex (the
    // prefix form is q92); same postings-backed shape, regex applied
    // to the term dictionary before the bounded cut
    "q181_terms_regex" -> ((s, d) => {
      val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
        .filter(col("term").rlike("^s[a-z]*[kn]$"))
        .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("term"))
        .limit(10)
    }),

    // DSIR importance scoring (Xie et al. 2023): raw corpus scored
    // against the en-language target via hashed unigram+bigram
    // buckets, bit-stable integer milli-ratio weights (the bucket
    // table broadcasts; only the per-doc aggregate shuffles) — top-25
    // most target-like docs
    "q184_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ops.Dsir.select(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", k = 25, buckets = 256)
        .select(col("doc_id"), col("n_grams"), col("dsir_sum"), col("dsir_avg"))
    }),

    // graded decontamination (the Llama-style fraction threshold next
    // to q67's binary any-overlap): per-doc share of distinct 8-grams
    // found in the benchmark set; bench grams broadcast, corpus never
    // shuffles its text
    "q185_contamination_frac" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(c: Column) = regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))
      val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(toks(col("text")).as("btoks"))
      Decontamination.overlapFraction(docs, col("doc_id"), toks(col("text")),
        bench, col("btoks"), n = 8, tau = 0.02)
    }),

    // C4 cleaning rules (Raffel et al. 2020 §2.2): the corpus is
    // synthesized into lines (8-token chunks; every third line per
    // doc ends in '.'), with lorem-ipsum / code-brace / blocklist
    // lines PLANTED on fixed doc_id residues — line filter + first-
    // failing doc rule, all codegen'd projections, shuffle-free
    "q186_c4_clean" -> ((s, d) => {
      val toks = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
      val staged = Tables.documents(s, d).withColumn("__l", toks)
        .filter(size(col("__l")) > 0)
      val nChunks = ceil(size(col("__l")).cast("double") / 8.0).cast("int")
      val lines = transform(sequence(lit(0), nChunks - 1), i =>
        concat(array_join(slice(col("__l"), i * 8 + 1, lit(8)), " "),
          when(pmod(col("doc_id") + i, lit(3)) === 0, ".").otherwise("")))
      val lined = concat(array_join(lines, "\n"),
        when(pmod(col("doc_id"), lit(41)) === 0,
          "\nlorem ipsum dolor sit amet.").otherwise(""),
        when(pmod(col("doc_id"), lit(43)) === 0,
          "\nvar f = function() {").otherwise(""),
        when(pmod(col("doc_id"), lit(47)) === 0,
          "\nthis page requires badterm enabled.").otherwise(""))
      graft.text.C4Filters.c4Clean(
          staged.withColumn("lined", lined), col("lined"),
          minWords = 3, minLines = 3, badWords = Seq("badterm"))
        .select(col("doc_id"), col("clean_text"), col("n_lines_kept"),
          col("drop_reason"))
    }),

    // sequence-length bucketing: power-of-two token buckets with the
    // padding-waste fraction a training loader would pay per bucket —
    // one aggregation, bit-length bucket math (no log2)
    "q187_length_buckets" -> ((s, d) => {
      val toks = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
      ops.Profiling.lengthBuckets(
        Tables.documents(s, d).select(size(toks).cast("long").as("n_tokens"))
          .filter(col("n_tokens") > 0),
        col("n_tokens"))
    }),

    // Gopher top-2-gram char coverage: how much of each doc the
    // single most frequent 2-gram covers (count desc, gram asc
    // argmax) — the slogan-spam detector next to q65's dup fractions
    "q188_top_ngram_frac" -> ((s, d) =>
      graft.text.TextAnalysis.topNgramCharFraction(
        Tables.documents(s, d), "doc_id", "text", n = 2)),

    // dedup REMAP table (provenance for reference rewriting): for
    // every doc losing its exact-content cluster, the kept
    // representative chosen by QUALITY (n_chars desc) not arrival —
    // clusters keyed on the 40-char prefix so the corpus has real ones
    "q189_dedup_map" -> ((s, d) =>
      graft.dedup.Dedup.dedupMap(Tables.documents(s, d), col("doc_id"),
        lower(substring(col("text"), 1, 40)),
        Seq(col("n_chars").desc, col("doc_id")))),

    // facet.range `other` buckets (before/after/between): the three
    // tagged rows OUTSIDE the bucket list that Solr serves with
    // include-edge semantics — same single-scan aggregate family as
    // q83/q182
    "q190_facet_range_other" -> ((s, d) => {
      val p = Tables.part(s, d)
      val bucketed = p.filter(col("p_size") >= 5 && col("p_size") < 45)
        .groupBy((col("p_size") - ((col("p_size") - 5) % 10)).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("row_type", lit("bucket"))
      val other = p.agg(
        sum(when(col("p_size") < 5, 1L).otherwise(0L)).as("before"),
        sum(when(col("p_size") >= 45, 1L).otherwise(0L)).as("after"),
        sum(when(col("p_size") >= 5 && col("p_size") < 45, 1L).otherwise(0L)).as("between"))
      val tagged = Seq("before", "after", "between").map(t =>
        other.select(lit(t).as("row_type"), lit(null).cast("long").as("bucket_lo"),
          col(t).as("cnt")))
      bucketed.select(col("row_type"), col("bucket_lo"), col("cnt"))
        .unionAll(tagged.reduce(_ unionAll _))
    }),

    // grouped faceting (group.facet=true): facet counts by GROUP —
    // for each facet value, how many matching groups contain it; the
    // distinct (group, value) collapse IS the semantic
    "q191_group_facet" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_quantity") >= 30)
        .select(col("l_orderkey"), col("l_returnflag")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("group_count"))
        .orderBy(col("group_count").desc, col("l_returnflag"))),

    // curriculum staging: fixed difficulty thresholds on n_chars +
    // the deterministic within-stage shuffle key — one shuffle-free
    // projection (easy-to-hard loader order)
    "q192_curriculum" -> ((s, d) =>
      ops.Sampling.curriculum(Tables.documents(s, d), col("doc_id"),
          col("n_chars"), thresholds = Seq(150.0, 300.0, 450.0))
        .select(col("doc_id"), col("n_chars"), col("stage"), col("stage_order"))),

    // strdist function query (Solr's string-similarity function in
    // the q164 compiler): edit-distance similarity to a literal,
    // exact integer levenshtein + one IEEE division — scan-local
    "q199_strdist" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sim = Graft.functionQuery("""strdist(source, "src7")""", docs)
      docs.select(col("doc_id"), col("source"), sim.as("sim"))
        .filter(col("sim") >= 0.5)
        .orderBy(col("sim").desc, col("doc_id"))
        .limit(40)
    }),

    // /analysis/field handler: the tokenizeText chain opened up per
    // stage (raw regex tokens -> possessive strip -> stopword drop)
    // for the first five docs — the analyzer-debugging surface, all
    // scan-local projections
    "q200_analysis_stages" -> ((s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 5)
      val raw = regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+(?:['.][a-z0-9]+)*"), lit(0))
      val noPoss = transform(raw, t => regexp_replace(t, "'s$", ""))
      val noStop = filter(noPoss, t =>
        !t.isin(TextAnalysis.EnglishStopwords.map(lit): _*))
      val stages = Seq(
        ("1_tokenized", raw),
        ("2_possessive", noPoss),
        ("3_stopwords", noStop))
      stages.map { case (name, c) =>
        base.select(col("doc_id"), lit(name).as("stage"),
          array_join(c, " ").as("tokens"))
      }.reduce(_ unionAll _)
    }),

    // T5 span corruption (the denoising sibling of q183's FIM):
    // deterministic 15% span cut to <extra_id_0> + target emission —
    // md5/substr algebra replayed in SQL
    "q201_span_corrupt" -> ((s, d) =>
      ops.FimTransform.spanCorrupt(Tables.documents(s, d),
          col("doc_id"), col("text"), spanFrac = 0.15)
        .select(col("doc_id"), col("corrupted"), col("target"))),

    // significantTerms streaming expression: foreground lift of
    // `source` among en docs from two postings-only facet gathers
    "q197_significant_stream" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.streamExpr(s,
        """significantTerms(docs_meta, q="lang:en", field="source",
          |  minDocFreq=5, limit=10)""".stripMargin,
        Map("docs_meta" -> out))
    }),

    // nodes()/gatherNodes graph expansion: users who purchased →
    // everything those users do (one-hop walk, seed set broadcast
    // per Solr's gather-into-memory contract)
    "q198_nodes_stream" -> ((s, d) => {
      val out = eventsTimeStore(s, d)
      Graft.streamExpr(s,
        """nodes(events_time,
          |  search(events_time, q="event_type:purchase", fl="user_id", sort="id asc"),
          |  walk="user_id->user_id", gather="event_type")""".stripMargin,
        Map("events_time" -> out))
    }),

    // the REST of Solr's atomic-update modifier family (q86 covers
    // set/inc/add): remove occurrences, removeregex patterns,
    // add-distinct — one left equi-join, update side broadcast-sized;
    // final arrays sorted before join so the oracle is order-free
    "q194_atomic_update_ops" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"),
        array(col("source"), col("lang"),
          concat(lit("n"), pmod(col("doc_id"), lit(3)))).as("tags_a"))
        .withColumn("tags_b", col("tags_a"))
        .withColumn("tags_c", col("tags_a"))
      val updates = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"),
          array(col("lang")).as("tags_a"),            // remove the lang tag
          array(lit("^n[01]$")).as("tags_b"),         // strip n0/n1 markers
          array(lit("extra"), col("source")).as("tags_c")) // source already present
      graft.etl.Etl.applyAtomicUpdates(base, updates, "doc_id",
          remove = Seq("tags_a"), removeRegex = Seq("tags_b"),
          addDistinct = Seq("tags_c"))
        .select(col("doc_id"),
          array_join(array_sort(col("tags_a")), "|").as("a_joined"),
          array_join(array_sort(col("tags_b")), "|").as("b_joined"),
          array_join(array_sort(col("tags_c")), "|").as("c_joined"))
    }),

    // C4 corpus-global line dedup: the planted boilerplate footer
    // ("all rights reserved.") survives only in the first even doc;
    // q186's line synthesis provides the rest of the lines
    "q195_line_dedup" -> ((s, d) => {
      val toks = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
      val staged = Tables.documents(s, d).withColumn("__l", toks)
        .filter(size(col("__l")) > 0)
      val nChunks = ceil(size(col("__l")).cast("double") / 8.0).cast("int")
      val lines = transform(sequence(lit(0), nChunks - 1), i =>
        array_join(slice(col("__l"), i * 8 + 1, lit(8)), " "))
      val lined = concat(array_join(lines, "\n"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          "\nall rights reserved.").otherwise(""))
      graft.text.C4Filters.dedupLinesAcross(
        staged.withColumn("lined", lined), col("doc_id"), col("lined"))
    }),

    // tokenizer fertility per language (subwords per word — the
    // multilingual tokenizer-quality metric): q47's kernels rolled up
    // by lang, exact integer sums, one aggregation
    "q196_fertility" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          TextAnalysis.whitespaceTokenCount(col("text")).cast("long").as("__w"),
          TextAnalysis.subwordCountEstimate(col("text")).cast("long").as("__s"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__w")).as("words"),
          sum(col("__s")).as("subwords"))
        .withColumn("fertility",
          col("subwords").cast("double") / col("words").cast("double"))),

    // geodist() SORT (the d=... filter is q99): nearest-20 customers
    // by haversine km, rounded 4dp to absorb libm ulp before the
    // (dist, id) order — same synthesized coordinates as q99
    "q193_geodist_sort" -> ((s, d) => {
      val ptLat = 10.0
      val ptLon = 20.0
      val c = Tables.customer(s, d)
        .withColumn("lat", (pmod(col("c_custkey"), lit(120)) - lit(60)).cast("double") * lit(0.7))
        .withColumn("lon", (pmod(col("c_custkey") * lit(7), lit(360)) - lit(180)).cast("double") * lit(0.9))
      val hav = {
        val dLat = radians(col("lat") - lit(ptLat)) / lit(2.0)
        val dLon = radians(col("lon") - lit(ptLon)) / lit(2.0)
        val a = sin(dLat) * sin(dLat) +
          cos(radians(lit(ptLat))) * cos(radians(col("lat"))) * sin(dLon) * sin(dLon)
        lit(2.0 * 6371.0088) * asin(sqrt(a))
      }
      c.withColumn("dist_km", round(hav, 4))
        .orderBy(col("dist_km").asc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("dist_km"))
    }),

    // Solr 9 {!knn} dense-vector qparser: exact cosine scan, literal
    // query vector folded into codegen, TakeOrdered topK cut
    "q202_knn_qparser" -> ((s, d) =>
      graft.search.KnnQuery.knn(Tables.embeddings(s, d),
          s"{!knn f=embedding topK=12}[${knnVec.mkString(",")}]", "vec_id")
        .select(col("id").as("vec_id"), col("score"))),

    // {!knn} + fq PRE-filter (Solr 9.1 contract: filter BEFORE the
    // topK cut, so the response still carries topK survivors)
    "q203_knn_prefilter" -> ((s, d) =>
      graft.search.KnnQuery.knn(Tables.embeddings(s, d),
          s"{!knn f=embedding topK=12}[${knnVec.mkString(",")}]", "vec_id",
          fq = Some("label:[2 TO *]"))
        .select(col("id").as("vec_id"), col("score"))),

    // Lucene sloppy-phrase proximity ("data join"~3): ordered match
    // with up to 3 interposed tokens, compiled to one pushdown-
    // eligible rlike — no tokenize/explode anywhere
    "q204_proximity_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.filter(graft.search.SolrQueryString.compile(
          """text:"data join"~3""", docs.schema, "text", Set("text")))
        .select(col("doc_id"), col("source"))
    }),

    // Gopher duplicate-LINE signals on the q195 synthesized lines,
    // with the first line re-appended on doc_id%3==0 (the repeated-
    // footer planted case) — per-row array math, shuffle-free
    "q205_dup_lines" -> ((s, d) => {
      val toks = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
      val staged = Tables.documents(s, d).withColumn("__l", toks)
        .filter(size(col("__l")) > 0)
      val nChunks = ceil(size(col("__l")).cast("double") / 8.0).cast("int")
      val lines0 = transform(sequence(lit(0), nChunks - 1), i =>
        array_join(slice(col("__l"), i * 8 + 1, lit(8)), " "))
      val lines = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lines0, array(element_at(lines0, 1)))).otherwise(lines0)
      val sigs = TextAnalysis.duplicateLineColumns(col("__lines"))
      staged.withColumn("__lines", lines)
        .select(Seq(col("doc_id"), size(col("__lines")).cast("long").as("n_lines")) ++
          sigs.map { case (n, c) => c.as(n) }: _*)
    }),

    // Gopher duplicated-n-gram coverage (n=2,3): fraction of token
    // positions inside a repeated n-gram — ONE fused per-row kernel
    // pass per n (hash-map count + span union), no (doc,gram) shuffle
    "q206_dup_ngram_cov" -> ((s, d) => {
      val toks = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
      Tables.documents(s, d).withColumn("__t", toks)
        .filter(size(col("__t")) > 0)
        .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
          TextAnalysis.dupNgramCoverage(col("__t"), 2).as("dup2_frac"),
          TextAnalysis.dupNgramCoverage(col("__t"), 3).as("dup3_frac"))
    }),

    // SFT conversation assembly: per-user event transcript with
    // loss-mask char spans for purchase/signup turns — one shuffle
    // (offset window + ordered aggregate ride the same partitioning)
    "q207_sft_assembly" -> ((s, d) =>
      graft.ops.SftAssembly.assembleConversations(
          Tables.events(s, d), col("user_id"),
          Seq(col("ts"), col("event_id")), col("event_type"), col("props"),
          maskRoles = Seq("purchase", "signup"))
        .select(col("grp").as("user_id"), col("n_turns"),
          col("transcript"), col("mask_spans"))),

    // WordBreak spellcheck (Solr WordBreakSolrSpellChecker): unknown
    // terms split at every position against the corpus vocabulary
    // (break), adjacent query-term pairs rejoined (combine) — query
    // side explodes map-side and BROADCASTS into the vocab joins, so
    // the corpus-sized vocabulary never reshuffles
    "q208_wordbreak_spell" -> ((s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(expr(
          "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      import s.implicits._
      val breaks = Seq("sparkjoin", "datatable", "mergescan", "zzqqxx")
        .toDF("input")
        .withColumn("i", explode(sequence(lit(1), length(col("input")) - 1)))
        .select(col("input"), expr("substr(input, 1, i)").as("__l"),
          expr("substr(input, i + 1, length(input))").as("__r"))
      val joins = Seq(("win", "dow"), ("data", "base"), ("mer", "ge"))
        .toDF("t1", "t2")
        .select(concat(col("t1"), lit(" "), col("t2")).as("input"),
          concat(col("t1"), col("t2")).as("__j"))
      val broken = vocab.as("vl")
        .join(broadcast(breaks), col("vl.term") === col("__l"))
        .join(vocab.as("vr"), col("vr.term") === col("__r"))
        .select(lit("break").as("mode"), col("input"),
          concat(col("__l"), lit(" "), col("__r")).as("suggestion"),
          (col("vl.df") + col("vr.df")).as("df_score"))
      val joined = vocab.join(broadcast(joins), col("term") === col("__j"))
        .select(lit("combine").as("mode"), col("input"),
          col("__j").as("suggestion"), col("df").as("df_score"))
      broken.unionByName(joined)
    }),

    // facet.heatmap (Solr spatial grid facet): 30°×30° cell counts
    // over the q99-synthesized coordinates — one aggregation, cells
    // bounded by the grid, zero-count cells absent (gridLevel-1 shape)
    "q209_heatmap_facet" -> ((s, d) =>
      Tables.customer(s, d)
        .withColumn("lat", (pmod(col("c_custkey"), lit(120)) - lit(60)).cast("double") * lit(0.7))
        .withColumn("lon", (pmod(col("c_custkey") * lit(7), lit(360)) - lit(180)).cast("double") * lit(0.9))
        .groupBy(floor((col("lon") + 180.0) / 30.0).as("cell_x"),
          floor((col("lat") + 90.0) / 30.0).as("cell_y"))
        .agg(count(lit(1)).as("cnt"))),

    // epoch/repeat-factor mixing: share^0.5 reweighting of per-source
    // token mass into whole passes + a sampled tail, capped at 4
    // epochs — group-frame arithmetic only (Muennighoff-style repeat
    // planning; the up-sampling complement of q160/q180)
    "q210_epoch_mix" -> ((s, d) =>
      graft.ops.Sampling.epochAllocation(
          Tables.documents(s, d), col("source"), col("n_chars"),
          budget = 1000000L, alpha = 0.5, maxEpochs = 4.0)
        .select(col("grp").as("source"), col("tokens"),
          round(col("weight"), 6).as("weight_r"),
          round(col("epochs"), 6).as("epochs_r"),
          col("full_epochs"),
          round(col("tail_rate"), 6).as("tail_rate_r"))),

    // tokenizer-vocabulary OOV rate: corpus top-20 terms (count desc,
    // term asc) as the closed vocabulary, per-doc out-of-vocabulary
    // token fraction — vocab aggregate broadcast as ONE array row,
    // membership test stays in per-row codegen
    "q211_oov_rate" -> ((s, d) => {
      val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
      val docs = Tables.documents(s, d).withColumn("__t", toks)
        .filter(size(col("__t")) > 0)
      val vocab = docs.select(explode(col("__t")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term").asc).limit(20)
        .agg(sort_array(collect_list(col("term"))).as("__vocab"))
      docs.crossJoin(broadcast(vocab))
        .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
          (size(filter(col("__t"), t => !array_contains(col("__vocab"), t)))
            .cast("double") / size(col("__t")).cast("double")).as("oov_frac"))
    }),

    // timeseries() streaming expression: 2-day buckets over the pdate
    // index field, range pushed, zero-filled bucket spine broadcast
    "q212_timeseries" -> ((s, d) => {
      val out = eventsTimeStore(s, d)
      Graft.streamExpr(s,
        """timeseries(events_time, q="event_type:purchase", field="ts",
          |  start="2024-01-01T00:00:00Z", end="2024-01-31T00:00:00Z",
          |  gap="+2DAY", count(*))""".stripMargin,
        Map("events_time" -> out))
    }),

    // shortestPath() graph traversal: ALL min-length c:1→p:32 paths
    // over the customer→order⇄part edge set — one BFS join round per
    // depth, ids-only visited anti-join, localCheckpoint lineage cap
    "q213_shortest_path" -> ((s, d) => {
      // edges are distinct BY CONSTRUCTION, proven cheaply: orders
      // rows are unique per o_orderkey; (order, part) pairs dedup on
      // their NUMERIC keys (a far lighter shuffle than distinct-ing
      // the unioned string frame — at sf0.1 it is most of the query);
      // the three frames can't collide across the union because their
      // (src, dst) prefix namespaces differ — so the walk skips its
      // defensive distinct
      val co = Tables.orders(s, d).select(
        concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("o:"), col("o_orderkey")).as("dst"))
      val opNum = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val op = opNum.select(
        concat(lit("o:"), col("l_orderkey")).as("src"),
        concat(lit("p:"), col("l_partkey")).as("dst"))
      val po = opNum.select(
        concat(lit("p:"), col("l_partkey")).as("src"),
        concat(lit("o:"), col("l_orderkey")).as("dst"))
      graft.ops.GraphOps.shortestPaths(co.union(op).union(po),
        col("src"), col("dst"), "c:1", "p:32", maxDepth = 4,
        assumeDistinct = true)
    }),

    // {!frange} function-range qparser: recip freshness score bounded
    // to [0.55, 0.95) — scan-local codegen'd predicate
    "q214_frange" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.filter(graft.search.FunctionQuery.frange(
          "{!frange l=0.55 u=0.95 incu=false}recip(n_chars,1,500,500)",
          docs.schema))
        .select(col("doc_id"), col("n_chars"))
    }),

    // facet.prefix + facet.offset/facet.limit paging: the 's'-prefixed
    // vocabulary page [4, 10] in (count desc, term asc) facet order
    "q215_facet_prefix_page" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(expr(
          "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).as("term"))
        .filter(col("term").startsWith("s"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions
          .Window.orderBy(col("cnt").desc, col("term").asc)).cast("long"))
        .filter(col("rnk") > 3 && col("rnk") <= 10)),

    // group.query: top-3 docs per QUERY-defined group (Solr result
    // grouping with group.query legs) — each leg filters then ranks,
    // union of two bounded frames
    "q216_group_query" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def leg(label: String, q: String) = docs
        .filter(graft.search.SolrQueryString.compile(
          q, docs.schema, "text", Set("text")))
        .withColumn("grp_q", lit(label))
      val w = Window.partitionBy(col("grp_q"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      leg("short", "n_chars:[* TO 200}")
        .unionByName(leg("spark", "text:spark"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("grp_q"), col("rnk"), col("doc_id"), col("n_chars"))
    }),

    // contrastive hard-negative mining: per query vector, the top-3
    // nearest CROSS-label corpus vectors (the hard negatives a
    // contrastive trainer wants) — query side broadcast, q25's
    // rounding discipline on the cut
    "q217_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val c = emb.select(col("vec_id").as("corpus_id"), col("label").as("clabel"),
          col("embedding").cast("array<double>").as("cvec"))
        .withColumn("cnorm", graft.ops.Similarity.norm(col("cvec")))
      val q = emb.filter(col("vec_id") < 6)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding").cast("array<double>").as("qvec"))
        .withColumn("qnorm", graft.ops.Similarity.norm(col("qvec")))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("clabel") =!= col("qlabel"))
        .withColumn("cosine_r", round(
          graft.ops.Similarity.dot(col("qvec"), col("cvec"))
            / (col("qnorm") * col("cnorm")), 6))
      graft.ops.PerQueryTopK(scored, "cosine_r", desc = true, 3)
        .select(col("query_id"), col("rank").cast("long").as("rnk"), col("corpus_id"),
          col("cosine_r"))
    }),

    // mlt.interestingTerms=details: the source doc's extracted query
    // terms with scores — q84's phase 1 surfaced
    "q218_mlt_terms" -> ((s, d) =>
      graft.text.Ranking.interestingTerms(
        Tables.documents(s, d).select(col("doc_id"),
          regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks")),
        col("doc_id"), col("toks"), sourceDocId = 7L, topTerms = 10)),

    // update()/commit() streaming decorators: the src collection's
    // tuples upsert into dest (router-aligned delta), then the read
    // side serves the merged state — exactly-once per deterministic
    // stream (idempotent re-run)
    "q219_update_stream" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val dest = sharedStore(d, "upsert_dest") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).filter(col("doc_id") < 400)
            .select(col("doc_id").cast("string").as("id"),
              col("lang"), col("source"), col("n_chars")),
          "id", o, shards = 2)
      }
      val src = sharedStore(d, "upsert_src") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d)
            .filter(col("doc_id") >= 350 && col("doc_id") <= 450)
            .select(col("doc_id").cast("string").as("id"),
              col("lang"), col("source"), (col("n_chars") + 1000).as("n_chars")),
          "id", o, shards = 2)
      }
      // the update stream drains at compile time (Solr semantics)
      Graft.streamExpr(s,
        """commit(upsert_dest, update(upsert_dest,
          |  search(upsert_src, q="*:*", fl="id,lang,source,n_chars", sort="id asc")))""".stripMargin,
        Map("upsert_dest" -> dest, "upsert_src" -> src)).collect()
      s.read.format("graft-index").load(dest)
        .withColumn("doc_id", col("id").cast("long"))
        .filter(col("doc_id") >= 330 && col("doc_id") <= 420)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // random() stream: deterministic md5(seed || id) sample — the
    // replayable form of Solr's random sort (TakeOrdered cut)
    "q220_random_stream" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.streamExpr(s,
        """random(docs_meta, q="lang:en", fl="id,n_chars", rows=10, seed="r7")""",
        Map("docs_meta" -> out))
    }),

    // multimodal byte-frame sampling: stride-4096 windows of 512
    // bytes, fan-out capped BEFORE the explode; frame bytes real
    // (binary substring), metadata oracled against read_blob
    // container-aware frame sampling: MP4/FLV payloads emit REAL
    // keyframe offsets from their own sample tables (stsz/stsc/stco/
    // stss, video-tag frametype); non-container files keep the exact
    // byte-stride arithmetic. Both halves hash-oracled — the stride
    // half replayed over read_blob, the container half recomputed
    // from the fixtures' closed-form layout.
    "q221_frame_sample" -> ((s, d) =>
      Multimodal.sampleContainerFrames(s,
          Multimodal.readBinary(s, d, "*.parquet")
            .unionByName(Multimodal.readBinary(s, videoFixtureStore(s, d), "*")),
          every = 4096, frameLen = 512, maxFrames = 8)
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("file_name"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("byte_off"), col("frame_len"))),

    // full-query spellcheck collation (q97 is per-term): every query
    // token either vocabulary-exact or replaced by its best correction
    // (dist asc, df desc, term asc), reassembled in position order
    "q222_spell_collation" -> ((s, d) => {
      import s.implicits._
      val vocab = Tables.documents(s, d)
        .select(explode(array_distinct(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+"), lit(0)))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val qterms = Seq((1, "sparc"), (2, "quary"), (3, "merge"))
        .toDF("pos", "qterm")
      val exact = vocab.join(broadcast(qterms), col("term") === col("qterm"))
        .select(col("pos"), col("qterm"), col("qterm").as("resolved"), lit(0L).as("dist"))
      val missing = qterms.join(exact.select(col("pos").as("__p")),
        col("pos") === col("__p"), "left_anti")
      val cand = vocab.crossJoin(broadcast(missing))
        .filter(abs(length(col("term")) - length(col("qterm"))) <= 2)
        .withColumn("dist", levenshtein(col("qterm"), col("term")).cast("long"))
        .filter(col("dist") <= 2)
      val w = Window.partitionBy(col("pos"))
        .orderBy(col("dist").asc, col("df").desc, col("term").asc)
      val corrected = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("pos"), col("qterm"), col("term").as("resolved"), col("dist"))
      exact.unionByName(corrected)
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("resolved").as("r")))),
            x => x.getField("r")), " ").as("collation"),
          sum(when(col("dist") > 0, 1L).otherwise(0L)).as("n_corrected"))
    }),

    // n-gram CONTAINMENT (asymmetric near-dup: |A∩B|/|A| — catches a
    // short doc quoted inside a long one where Jaccard dilutes), q24's
    // adjacent-pair frame
    "q223_containment" -> ((s, d) => {
      val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
      // materialized like q24's shingle frame (its own comment
      // documents the discipline): the self-join's two sides exchange
      // on DIFFERENT keys (doc_id vs doc_id+1), so without this the
      // tokenize+shingle scan runs once per side (r17 optimization).
      // LAZY localCheckpoint rather than q24's persist: a persist
      // registers in the CacheManager where q24's IDENTICAL shingle
      // frame would cross-substitute in a shared session.
      val sh = Tables.documents(s, d).select(col("doc_id"),
        array_distinct(graft.ops.ApproxDedup.shingles(toks, 3)).as("sh"))
        .cutLineage(false)
      sh.as("a").join(sh.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double")
            / size(col("a.sh")).cast("double")).as("containment"))
    }),

    // termfreq()/exists() function queries: index-stat scoring from
    // the analyzed tokens, composed with the recip boost — top-20 by
    // (score desc, id), all scan-local codegen
    "q225_termfreq_fq" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val score = graft.search.FunctionQuery.compile(
        "sum(product(termfreq(text,'spark'),2),recip(n_chars,1,1000,1000))",
        docs.schema)
      docs.select(col("doc_id"), round(score, 6).as("score_r"))
        .orderBy(col("score_r").desc, col("doc_id").asc)
        .limit(20)
    }),

    // sentence-boundary chunking under a token budget: q186's line
    // synthesis provides sentences ('.' every third line); sentences
    // stay whole, budget bucketing via the exclusive prefix sum —
    // one window + one ordered-aggregate on the same partitioning
    "q226_sentence_chunks" -> ((s, d) => {
      val toks = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
      val staged = Tables.documents(s, d).withColumn("__l", toks)
        .filter(size(col("__l")) > 0)
      val nChunks = ceil(size(col("__l")).cast("double") / 8.0).cast("int")
      val lines = transform(sequence(lit(0), nChunks - 1), i =>
        array_join(slice(col("__l"), i * 8 + 1, lit(8)), " "))
      // sentences = lines joined until a '.' residue: reuse the q186
      // residue rule ((doc_id + i) % 3 == 0 ends a sentence) by
      // simply treating each line as a sentence here — segmentation
      // IS the line split; the budget pack is the operator under test
      val sentences = staged.select(col("doc_id"),
          posexplode(lines).as(Seq("sent_idx", "sentence")))
        .withColumn("sent_tokens",
          size(split(col("sentence"), " ")).cast("long"))
      val packed = graft.ops.Chunking.packByBudget(sentences, col("doc_id"),
        col("sent_idx"), col("sent_tokens"), budget = 24)
      packed.groupBy(col("doc_id"), col("pack_id"))
        .agg(count(lit(1)).as("n_sentences"),
          sum(col("sent_tokens")).as("chunk_tokens"),
          array_join(transform(
            array_sort(collect_list(struct(col("sent_idx"), col("sentence").as("t")))),
            x => x.getField("t")), " ").as("chunk_text"))
    }),

    // corpus contamination REPORT (the release-gate rollup over
    // q185's per-doc fractions): per source, contaminated share
    "q227_contamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(c: Column) = regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))
      val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(toks(col("text")).as("btoks"))
      val frac = Decontamination.overlapFraction(docs, col("doc_id"),
        toks(col("text")), bench, col("btoks"), n = 8, tau = 0.02)
      docs.select(col("doc_id"), col("source"))
        .join(frac.select(col("doc_id"), col("contaminated")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
        .withColumn("contaminated_frac",
          col("n_contaminated").cast("double") / col("n_docs").cast("double"))
    }),

    // JSONL training-data export sink + round trip: the standard
    // interchange a tokenizer/loader consumes — written once per
    // process (partitioned write), read back through the JSON reader
    "q228_jsonl_export" -> ((s, d) => {
      val out = sharedStore(d, "jsonl_export") { o =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").json(o)
      }
      s.read.json(out)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // hive-partitioned corpus export (the layout a 100 TB corpus
    // ships in): write partitionBy(lang), read back under a partition
    // filter — the en predicate prunes to ONE directory (plan-locked
    // in PlanShapeSpec), file contents never scanned for other langs
    "q230_partitioned_export" -> ((s, d) => {
      val out = sharedStore(d, "part_export") { o =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
          .write.mode("overwrite").partitionBy("lang").parquet(o)
      }
      s.read.parquet(out).filter(col("lang") === "en")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Zipf profile (corpus-health QA): frequency-of-frequency table —
    // how many distinct terms occur exactly f times; two aggregations,
    // second over the vocabulary-sized frame
    "q231_zipf_profile" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(expr(
          "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("f"))
        .groupBy(col("f")).agg(count(lit(1)).as("n_terms"))),

    // hl.snippets=2 multi-fragment highlighting: up to two
    // non-overlapping snippets in text order per matching doc
    "q232_highlight_multi" -> ((s, d) =>
      Ranking.highlightFragments(Tables.documents(s, d), col("doc_id"),
          col("text"), "spark", contextWords = 2, maxFragments = 2)
        .select(col("doc_id"), col("frag_idx").cast("long").as("frag_idx"),
          col("snippet"))),

    // stats.percentiles, CONTINUOUS form (q137 is the exact-disc walk
    // from the term dictionary): linear interpolation over l_quantity
    // per returnflag — Spark percentile == DuckDB quantile_cont
    "q229_percentile_cont" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25_r"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_r"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95_r"))),

    // Gopher §A1.1 verdict table: the repetition/length signals
    // composed into the paper's keep/drop decision — all fused
    // kernels, shuffle-free projection
    "q224_gopher_verdict" -> ((s, d) => {
      val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
      val base = Tables.documents(s, d).withColumn("__t", toks)
        .filter(size(col("__t")) > 0)
        .withColumn("n_words", size(col("__t")).cast("long"))
        .withColumn("mean_word_len",
          graft.functions.ArrayStrLenSum.str_len_sum(col("__t")).cast("double")
            / col("n_words").cast("double"))
        .withColumn("dup2_frac", TextAnalysis.dupNgramCoverage(col("__t"), 2))
      base.select(col("doc_id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len_r"),
        col("dup2_frac"),
        (col("n_words").between(50, 100000) &&
          col("mean_word_len") >= 2.0 && col("mean_word_len") <= 10.0 &&
          col("dup2_frac") < 0.3).as("keep"))
    }),

    // L155 seed quality classifier (fastText-style corpus filter,
    // weights from NB counts instead of SGD — two aggregations + one
    // broadcast join, bit-stable integer space): train on the
    // n_chars>=300 seed, score everything, roll up per language
    "q233_seed_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val wts = QualityClassifier.tokenWeights(
        docs, "doc_id", "text", col("n_chars") >= 300, minDf = 2)
      val scored = QualityClassifier.score(docs, "doc_id", "text", wts)
        .select(col("doc_id").as("__sid"), col("score_milli"))
      docs.select(col("doc_id"), col("lang"))
        .join(scored, col("doc_id") === col("__sid"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score_milli") > 0, 1L).otherwise(0L)).as("n_positive"),
          sum(col("score_milli")).as("score_sum"))
    }),

    // L156 CCNet perplexity buckets: per-language head/middle/tail
    // thirds under the corpus LM's integer milli surprise
    "q234_ccnet_buckets" -> ((s, d) =>
      TextAnalysis.perplexityBuckets(Tables.documents(s, d), "doc_id", "text", "lang")
        .groupBy(col("lang"), col("ppl_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score_milli")).as("min_score"),
          max(col("score_milli")).as("max_score"))),

    // L157 exact-quota stratified split: per-language 80/10/10 by
    // md5 rank — every stratum hits its quota, unlike the
    // hash-bound split's in-expectation shares
    "q235_stratified_split" -> ((s, d) =>
      Sampling.stratifiedSplit(Tables.documents(s, d), col("lang"), col("doc_id"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))),

    // L158 DPO preference-pair assembly: per-prompt (chosen,
    // rejected, margin) from scored candidates — one window shuffle
    "q236_pref_pairs" -> ((s, d) =>
      Preference.pairs(
        Tables.events(s, d).filter(col("value").isNotNull),
        col("user_id"), col("event_id"), col("value"))),

    // L159 lexical diversity (type/token ratio in milli space) per
    // language — shuffle-free per-row kernel + one aggregation
    "q237_lexical_diversity" -> ((s, d) => {
      val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
      val ttrCols = TextAnalysis.lexicalDiversityColumns(toks)
      Tables.documents(s, d)
        .select(col("doc_id") +: col("lang") +:
          ttrCols.map { case (n, c) => c.as(n) }: _*)
        .filter(col("n_tokens") > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ttr_milli")).as("ttr_sum"),
          min(col("ttr_milli")).as("ttr_min"),
          max(col("ttr_milli")).as("ttr_max"))
    }),

    // L160 Matryoshka-truncation recall probe (Kusupati et al. 2022):
    // overlap@10 between full-dim and first-16-dims cosine top-k —
    // the "how few dims can retrieval afford" diagnostic; cosine
    // renormalizes, so truncation needs no re-scaling pass
    "q238_matryoshka_overlap" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      def tr(df: DataFrame): DataFrame =
        df.withColumn("embedding", slice(col("embedding"), 1, 16))
      val qs = emb.filter(col("vec_id") < 10)
      val full = Similarity.bruteForceTopK(emb, qs, 10)
      val trunc = Similarity.bruteForceTopK(tr(emb), tr(qs), 10)
      full.select(col("query_id"), col("corpus_id"))
        .join(trunc.select(col("query_id").as("__tq"), col("corpus_id").as("__tc")),
          col("query_id") === col("__tq") && col("corpus_id") === col("__tc"),
          "left")
        .groupBy(col("query_id"))
        .agg(sum(when(col("__tc").isNotNull, 1L).otherwise(0L)).as("overlap_at_10"))
    }),

    // Solr facet.query: arbitrary sub-query counts in ONE corpus
    // scan (conditional aggregation — no per-facet re-scan), query
    // strings compiled by the same parser the search surface uses
    "q239_facet_query" -> ((s, d) => {
      import graft.search.SolrQueryString
      val docs = Tables.documents(s, d)
      def pred(q: String) = SolrQueryString.compile(q, docs.schema,
        defaultField = "text", textFields = Set("text"))
      val fqs = Seq(
        "text:spark", "lang:en AND n_chars:[300 TO *]", "source:src1* -text:merge")
      val agged = docs.agg(
        sum(when(pred(fqs.head), 1L).otherwise(0L)).as("c0"),
        fqs.tail.zipWithIndex.map { case (q, i) =>
          sum(when(pred(q), 1L).otherwise(0L)).as(s"c${i + 1}") }: _*)
      agged.select(explode(array(fqs.zipWithIndex.map { case (q, i) =>
        struct(lit(q).as("facet_query"), col(s"c$i").as("n")) }: _*)).as("kv"))
        .select(col("kv.facet_query").as("facet_query"), col("kv.n").as("n"))
    }),

    // L161 classifier calibration: q233's scores against their own
    // seed labels, confusion counts + milli precision/recall at four
    // operating points — ONE aggregation, thresholds exploded after
    "q240_threshold_sweep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val wts = QualityClassifier.tokenWeights(
        docs, "doc_id", "text", col("n_chars") >= 300, minDf = 2)
      val scored = QualityClassifier.score(docs, "doc_id", "text", wts)
        .select(col("doc_id").as("__sid"), col("score_milli"))
      val labeled = docs.select(col("doc_id"), (col("n_chars") >= 300).as("__lab"))
        .join(scored, col("doc_id") === col("__sid"))
      QualityClassifier.thresholdSweep(labeled, col("score_milli"), col("__lab"),
        Seq(-5000L, 0L, 5000L, 20000L))
    }),

    // Solr streaming expressions: cartesianProduct + the analyze()
    // evaluator — the term-explosion idiom (one row per indexed
    // token), rolled up to corpus term counts, having-filtered
    "q241_stream_cartesian" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "docs_text") { o =>
        SegmentShardSink.write(
          Tables.documents(s, d).select(
            col("doc_id").cast("string").as("id"), col("text"), col("lang")),
          "id", o, shards = 4, analyzedFields = Set("text"))
      }
      Graft.streamExpr(s,
        """having(rollup(cartesianProduct(
          |    search(docs, q="lang:en", fl="id,text", sort="id asc"),
          |    analyze(text) as term),
          |  over="term", count(*)), gt(cnt, 30))""".stripMargin,
        Map("docs" -> out))
    }),

    // L162 Stupid Backoff trigram LM (Brants et al. 2007): score the
    // whole corpus under the English-subcorpus model — integer milli
    // space, real backoff (non-en docs fall through to bigram/unigram)
    "q242_stupid_backoff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.stupidBackoffScore(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text")
        .withColumn("avg_sb_r", round(col("avg_sb"), 6)).drop("avg_sb")
    }),

    // Solr /replication backup+restore round trip: snapshot the
    // store, restore into a fresh core, query the RESTORED store —
    // oracled against the SOURCE table, so the round trip must be
    // lossless (marker-last copy ordering = the completion gate)
    "q243_backup_restore" -> ((s, d) => {
      import graft.index.{Backup, SegmentShardSink}
      val src = sharedStore(d, "cust_backup") { o =>
        SegmentShardSink.write(
          Tables.customer(s, d).select(
            col("c_custkey").cast("string").as("id"),
            col("c_mktsegment"), col("c_acctbal")),
          "id", o, shards = 4)
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_q243_").toString
      val snap = Backup.backup(s, src, tmp, "nightly")
      Backup.restore(s, snap, s"$tmp/restored")
      s.read.format("graft-index").load(s"$tmp/restored")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("bal"))
    }),

    // L163 cross-source duplication audit: per ordered source pair,
    // B's distinct-3-gram containment in A — gram-key equi-join only
    "q244_source_overlap" -> ((s, d) =>
      graft.ops.Profiling.sourceOverlap(
        Tables.documents(s, d), col("source"), col("text"), n = 3)),

    // L164 per-domain chrome strip: planted nav header (src1) and
    // copyright footer (src2) must be detected from cross-doc
    // evidence and stripped; untouched domains stay byte-identical
    "q245_chrome_strip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.withColumn("text",
        when(col("source") === "src1", concat(lit("SITE NAV MENU\n"), col("text")))
          .when(col("source") === "src2", concat(col("text"), lit("\nCOPYRIGHT FOOTER")))
          .otherwise(col("text")))
      graft.text.C4Filters.stripDomainChrome(planted, col("source"), col("text"),
          tauMilli = 900)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(length(col("text_stripped")) < length(col("text")), 1L)
            .otherwise(0L)).as("n_stripped"),
          sum((length(col("text")) - length(col("text_stripped"))).cast("long"))
            .as("chars_removed"))
    }),

    // S6 write side: Avro container round trip (float arrays + ints),
    // read-back aggregated against the SOURCE table — lossless or bust
    "q246_avro_roundtrip" -> ((s, d) => {
      import graft.sources.AvroSource
      val out = sharedStore(d, "emb_avro") { o =>
        AvroSource.write(Tables.embeddings(s, d), o)
      }
      AvroSource.read(s, s"$out/*.avro")
        .agg(count(lit(1)).as("n"),
          sum(col("vec_id")).as("id_sum"),
          sum(col("label").cast("long")).as("label_sum"),
          sum(size(col("embedding")).cast("long")).as("dim_sum"))
    }),

    // L165 skip-gram pair extraction (word2vec data prep): ±2 window
    // co-occurrence table, one map-side pair expression + one count
    // aggregation; bounded output via the count floor
    "q247_skipgram_pairs" -> ((s, d) =>
      graft.text.SkipGrams.pairs(Tables.documents(s, d), "text", window = 2)
        .filter(col("cnt") > 50)),

    // L166 n-gram novelty curve: first-occurrence grams per source
    // batch (sources ordered by name) + running vocabulary total
    "q248_novelty_curve" -> ((s, d) =>
      graft.ops.Profiling.noveltyCurve(
        Tables.documents(s, d), col("source"), col("text"), n = 3)),

    // Solr map() function query: range-collapse scoring
    // (map(n_chars,0,299,0,1) = the "long doc" indicator), counted
    "q249_map_fq" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.groupBy(Graft.functionQuery("map(n_chars,0,299,0,1)", docs).as("is_long"))
        .agg(count(lit(1)).as("n"))
    }),

    // Solr optimistic concurrency (_version_ contract, all four
    // arms): exact-match, must-exist, must-not-exist, no-check —
    // conflicts rejected like a 409, survivors stamped newVersion;
    // verified by re-reading the MUTATED store
    "q250_optimistic_upsert" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = java.nio.file.Files.createTempDirectory("graft_q250_").toString
      val base = Tables.customer(s, d).select(
        col("c_custkey").cast("string").as("id"),
        col("c_mktsegment"), lit(5L).as("_version_"))
      SegmentShardSink.write(base, "id", out, shards = 4)
      val c = Tables.customer(s, d)
      def arm(lo: Long, hi: Long, expected: Long, idOffset: Long = 0L) =
        c.filter(col("c_custkey").between(lo, hi)).select(
          (col("c_custkey") + idOffset).cast("string").as("id"),
          col("c_mktsegment"), lit(expected).as("_version_"))
      val batch = arm(1, 50, 5L)                       // exact match -> applies
        .unionByName(arm(51, 100, 99L))                // exact mismatch -> 409
        .unionByName(arm(101, 150, 1L))                // must exist -> applies
        .unionByName(arm(251, 300, -1L, 10000000L))    // must NOT exist -> insert
        .unionByName(arm(151, 200, -1L))               // must-not on existing -> 409
        .unionByName(arm(201, 250, 0L))                // no check -> applies
      val (applied, conflicts) = SegmentShardSink.conditionalUpsert(
        s, out, batch, "_version_", newVersion = 9L)
      val store = s.read.format("graft-index").load(out)
      applied.agg(count(lit(1)).as("applied")).crossJoin(
          conflicts.agg(count(lit(1)).as("conflicts")))
        .crossJoin(store.agg(
          sum(when(col("_version_") === 9L, 1L).otherwise(0L)).as("store_v9"),
          sum(when(col("_version_") === 5L, 1L).otherwise(0L)).as("store_v5"),
          count(lit(1)).as("store_total")))
    }),

    // Solr LTR feature LOGGING ([features] transformer / fv=true):
    // the per-candidate feature vectors a ranker trains on, named
    // feature-store entries over the matched set
    "q251_ltr_features" -> ((s, d) => {
      import graft.search.Ltr
      val docs = Tables.documents(s, d)
      val cands = docs.filter(col("text").contains("spark"))
      Ltr.featureFrame(cands, Seq(
          Ltr.Feature("f_len", col("n_chars").cast("double") / lit(1000.0)),
          Ltr.Feature("f_is_en", when(col("lang") === "en", 1.0).otherwise(0.0)),
          Ltr.Feature("f_src1", when(col("source").startsWith("src1"), 1.0)
            .otherwise(0.0))))
        .select(col("doc_id"), col("f_len"), col("f_is_en"), col("f_src1"))
    }),

    // L167 corpus snapshot diff: planted deletes/edits/adds between
    // two cuts classified added/removed/changed/unchanged — one
    // full-outer fingerprint join, counts per status
    "q252_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val newCut = docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 89 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 101 === 0)
          .withColumn("doc_id", col("doc_id") + 5000000L))
      graft.ops.Profiling.corpusDiff(docs, newCut, col("doc_id"), col("text"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),

    // Solr edismax: qf field boosts + per-term disjunction-max + the
    // mm minimum-should-match gate, tf scores in integer milli space
    "q253_edismax" -> ((s, d) =>
      graft.search.Edismax.query(Tables.documents(s, d), "spark src1",
          qf = Seq("text" -> 3000L, "source" -> 1000L), mm = 2, rows = 20,
          tieBreak = col("doc_id"))
        .select(col("doc_id"), col("matched_terms"), col("score_milli"))),

    // L168 round-robin source interleave: uniform mixing order
    // without a shuffle buffer — every rank slice holds one doc per
    // source (until sources exhaust)
    "q254_interleave" -> ((s, d) =>
      Sampling.interleaveBySource(
          Tables.documents(s, d), col("source"), col("doc_id"))
        .groupBy(col("rr_rank"))
        .agg(countDistinct(col("source")).as("n_sources"),
          sum(col("doc_id")).as("id_sum"))),

    // L169 nucleus (top-p) vocabulary truncation: smallest frequency-
    // sorted head reaching 50% of corpus token mass
    "q255_nucleus_vocab" -> ((s, d) =>
      graft.ops.Profiling.nucleusVocabulary(
        Tables.documents(s, d), col("text"), permille = 500)),

    // L170 winsorization at per-language p05/p95 (continuous
    // interpolation — the q229 cross-engine parity); clip-rate report
    "q256_winsorize" -> ((s, d) =>
      graft.ops.Profiling.winsorize(
          Tables.documents(s, d), col("lang"), col("n_chars"), 0.05, 0.95)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars").cast("double") < col("wins_lo"), 1L)
            .otherwise(0L)).as("n_low"),
          sum(when(col("n_chars").cast("double") > col("wins_hi"), 1L)
            .otherwise(0L)).as("n_high"),
          round(min(col("wins_lo")), 6).as("p05_r"),
          round(min(col("wins_hi")), 6).as("p95_r"))),

    // edismax pf phrase boost + bf additive function boost: the full
    // Solr relevance request (qf + pf + bf + mm + rows)
    "q257_edismax_phrase" -> ((s, d) =>
      graft.search.Edismax.query(Tables.documents(s, d), "fast spark",
          qf = Seq("text" -> 1000L), mm = 1, rows = 25, tieBreak = col("doc_id"),
          pf = Seq("text" -> 5000L),
          bf = Some(expr("n_chars div 10").cast("long")))
        .select(col("doc_id"), col("matched_terms"), col("score_milli"))),

    // declared-vs-detected language confusion matrix (the corpus QA
    // table that catches mislabeled crawls before they skew mixing)
    "q258_lang_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), TextAnalysis.languageId(col("text")).as("detected"))
        .groupBy(col("lang"), col("detected"))
        .agg(count(lit(1)).as("n"))),

    // L171 structural template detection: token-LENGTH-sequence
    // fingerprints; planted Caesar-ciphered twins (same shape, every
    // word different) must cluster, content hashing cannot see them
    "q259_template_structure" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("text", translate(col("text"),
          "abcdefghijklmnopqrstuvwxyz", "bcdefghijklmnopqrstuvwxyza"))
      val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
      docs.unionByName(planted)
        .select(TextAnalysis.structureFingerprint(toks).as("shape"))
        .groupBy(col("shape")).agg(count(lit(1)).as("cluster_size"))
        .filter(col("cluster_size") >= 2)
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }),

    // L172 ranked-retrieval eval (MRR + nDCG@10): cosine top-10
    // judged by label match — discounts from a precomputed integer
    // table, no runtime libm
    "q260_retrieval_eval" -> ((s, d) => {
      import graft.ops.RankingEval
      val emb = Tables.embeddings(s, d)
      val results = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
      val lbl = emb.select(col("vec_id"), col("label"))
      val ranked = results
        .join(lbl.select(col("vec_id").as("__qv"), col("label").as("__ql")),
          col("query_id") === col("__qv"))
        .join(lbl.select(col("vec_id").as("__cv"), col("label").as("__cl")),
          col("corpus_id") === col("__cv"))
        .withColumn("rel", col("__ql") === col("__cl"))
      RankingEval.evalRanked(ranked, col("query_id"), col("rank"), col("rel"), 10)
        .select(col("query_id"), col("n_rel"), col("dcg_micro"),
          col("idcg_micro"), col("ndcg_r"), col("rr_milli"))
    }),

    // L173 split leakage audit: exact-content fingerprints appearing
    // in BOTH train and test of the stratified split (planted dups
    // guarantee real leakage to catch) — the in-corpus decontamination
    // check an eval pipeline runs before trusting its numbers
    "q261_split_leakage" -> ((s, d) => {
      val docs0 = Tables.documents(s, d)
      val docs = docs0.unionByName(docs0.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 3000000L))
      val sp = Sampling.stratifiedSplit(docs, col("lang"), col("doc_id"))
        .select(col("lang"), col("split"), md5(col("text")).as("fp"))
      val train = sp.filter(col("split") === "train")
        .select(col("fp").as("__f1")).distinct()
      val test = sp.filter(col("split") === "test")
        .select(col("lang"), col("fp")).distinct()
      // same-lineage frames — mint fresh attribute ids for the join
      val trainM = s.createDataFrame(train.rdd, train.schema)
      test.join(trainM, col("fp") === col("__f1"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_leaked"))
    }),

    // streaming select() arithmetic evaluators (Solr add/sub/mult/
    // div): projected computation inside the expression pipeline
    "q262_stream_select_eval" -> ((s, d) => {
      val out = docsMetaStore(s, d)
      Graft.streamExpr(s,
        """select(search(docs_meta, q="lang:en", fl="id,n_chars", sort="id asc"),
          |  id, div(n_chars, 100) as centi, add(n_chars, 5) as plus5)""".stripMargin,
        Map("docs_meta" -> out))
    }),

    // Structured Streaming run ORACLED end-to-end: the watermarked
    // windowed aggregation executes as a real stream (AvailableNow
    // micro-batches, append mode, memory sink) and must emit exactly
    // the FINALIZED windows — window end <= max(ts) - watermark; the
    // oracle replicates that cut over the same data. q28 is the
    // static sibling (all windows, no watermark semantics).
    "q263_stream_windows" -> ((s, d) => {
      import graft.streaming.StreamingIngest
      import org.apache.spark.sql.streaming.Trigger
      // the file stream source wants a DIRECTORY — stream the sf dir
      // with a glob pinned to the events table
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val sink = s"q263_sink_${System.nanoTime()}"
      // stateful stream: bound the state-store partition count (r18 —
      // AQE is off in streaming, so shuffle.partitions is raw); the
      // memory sink's table lives in the bounded session
      StreamingIngest.withStatePartitions(s) { ss =>
        val raw = ss.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
        val ev = raw.schema("ts").dataType match {
          case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
        }
        val q = StreamingIngest.windowedCounts(ev)
          .select(col("window_start"), col("event_type"), col("n"))
          .writeStream.format("memory").queryName(sink).outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        ss.table(sink)
      }
    }),

    // WET/Common Crawl round trip: serialize the corpus as WET
    // records, parse it back through the Warc source — counts, id
    // checksum and byte mass must equal the source table
    "q264_wet_roundtrip" -> ((s, d) => {
      import graft.sources.Warc
      val out = sharedStore(d, "wet_file") { o =>
        Tables.documents(s, d)
          .select(Warc.wetRecord(
            concat(lit("http://corpus/"), col("doc_id")), col("text")).as("value"))
          .coalesce(1).write.mode("overwrite").text(o)
      }
      Warc.readWet(s, out).filter(col("rec_type") === "conversion")
        .select(regexp_extract(col("uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          length(col("body")).cast("long").as("body_len"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
          sum(col("body_len")).as("chars"))
    }),

    // edismax pf2 bigram phrase fields: partial phrase evidence for
    // each consecutive query-term pair
    "q265_edismax_pf2" -> ((s, d) =>
      graft.search.Edismax.query(Tables.documents(s, d), "fast spark table",
          qf = Seq("text" -> 1000L), mm = 1, rows = 25, tieBreak = col("doc_id"),
          pf2 = Seq("text" -> 2000L))
        .select(col("doc_id"), col("matched_terms"), col("score_milli"))),

    // L174 tokenizer-compression drift by source: chars per estimated
    // subword — the "which source tokenizes expensively" diagnostic
    "q266_compression_drift" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          TextAnalysis.subwordCountEstimate(col("text")).cast("long").as("__sub"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          sum(col("__sub")).as("subwords"))
        .withColumn("chars_per_subword_r",
          round(col("chars").cast("double") / col("subwords"), 6))),

    // .wet.gz — the format Common Crawl actually ships: gzip-coded
    // WET files decompress through the archive expander and parse
    // with the same record path; same oracle as the plain round trip
    "q267_wet_gz" -> ((s, d) => {
      import graft.sources.Warc
      val out = sharedStore(d, "wet_gz") { o =>
        Tables.documents(s, d)
          .select(Warc.wetRecord(
            concat(lit("http://corpus/"), col("doc_id")), col("text")).as("value"))
          .coalesce(1).write.mode("overwrite")
          .option("compression", "gzip").text(o)
      }
      Warc.readWetArchive(s, out).filter(col("rec_type") === "conversion")
        .select(regexp_extract(col("uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          length(col("body")).cast("long").as("body_len"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
          sum(col("body_len")).as("chars"))
    }),

    // the streaming dedup-ingest SINK oracled end-to-end (q263's
    // watermark treatment, applied to the ingest path): two real
    // AvailableNow micro-batches (maxFilesPerTrigger=1, mtime-ordered)
    // with a PLANTED cross-batch duplicate set; fingerprint state
    // persists between batches, so the second batch's duplicates are
    // anti-joined away against the first batch's corpus. Survivors =
    // the min-id doc per distinct text; the oracle replays that cut.
    "q268_stream_dedup_ingest" -> ((s, d) => {
      import graft.streaming.StreamingIngest
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_q268_").toString
      val src = s"$root/src"
      new java.io.File(src).mkdirs()
      // one parquet FILE per micro-batch; the file stream source
      // orders by modification time, pinned explicitly for determinism
      def stageBatch(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$root/stage_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file in $tmp"))
        val dst = new java.io.File(src, s"$name.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        require(dst.setLastModified(mtime), s"cannot set mtime on $dst")
      }
      stageBatch(docs.filter(col("doc_id") < 250), "b0", 1000000000000L)
      stageBatch(docs.filter(col("doc_id") >= 250).unionByName(planted),
        "b1", 1000000060000L)
      // per-micro-batch joins/writes inherit the session's shuffle
      // partitions with no AQE — bound them for the stream (r18)
      StreamingIngest.withStatePartitions(s) { ss =>
        val stream = ss.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val q = StreamingIngest.dedupIngestSink(
          s"$root/out", s"$root/state", "doc_id", "text")(stream).start()
        q.awaitTermination()
      }
      s.read.parquet(s"$root/out")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
          sum(length(col("text")).cast("long")).as("chars"))
    }),

    // TFRecord round trip — the sharded container training jobs
    // stream (tf.data): serialize the corpus as length+masked-crc32c
    // framed records (JDK CRC32C, bit-exact with TensorFlow's
    // readers), read it back through the source, parse, aggregate;
    // corrupt count must be zero and the corpus mass must survive
    "q269_tfrecord_roundtrip" -> ((s, d) => {
      import graft.sources.TfRecord
      val out = sharedStore(d, "tfrecord") { o =>
        TfRecord.write(
          Tables.documents(s, d).select(
            to_json(struct(col("doc_id"), col("text"))).as("j")),
          col("j"), o)
      }
      TfRecord.read(s, out)
        .select(from_json(col("payload").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING")).as("r"), col("corrupt"))
        .agg(count(lit(1)).as("n"),
          sum(col("r.doc_id")).as("id_sum"),
          sum(length(col("r.text")).cast("long")).as("chars"),
          sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_corrupt"))
    }),

    // fuzzy term query SERVED FROM THE INDEX (Lucene field:term~1):
    // each shard walks its term dictionary (one field-block seek,
    // vocabulary-sized) for terms within edit distance, then fetches
    // only the hits — never a stored-doc scan
    "q270_fuzzy_index" -> ((s, d) => {
      import graft.index.{SegmentSearch, SegmentShardSink}
      val out = sharedStore(d, "part_all") { o =>
        SegmentShardSink.write(
          Tables.part(s, d).withColumn("id", col("p_partkey").cast("string")),
          "id", o, shards = 4)
      }
      SegmentSearch.fuzzyQuery(s, out, "p_brand", "Brand#23", 1,
          Seq("id", "p_name", "p_brand"))
        .select(col("id").cast("long").as("p_partkey"), col("p_name"),
          col("p_brand"))
    }),

    // the same fuzzy surface in the q-string compiler (DataFrame
    // side): token-level edit distance on an analyzed field —
    // codegen'd levenshtein inside exists(), no UDF
    "q271_fuzzy_qstring" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pred = graft.search.SolrQueryString.compile(
        "text:sparc~1", docs.schema, defaultField = "text",
        textFields = Set("text"))
      docs.filter(pred).select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Solr's shortestPath() STREAMING EXPRESSION over an edge
    // collection served from the segment store (same graph and oracle
    // shape as q213, which drives GraphOps directly — this one parses
    // the expression language and reads edges through the graft-index
    // table with projection pushdown)
    "q272_shortest_path_expr" -> ((s, d) => {
      import graft.index.SegmentShardSink
      val out = sharedStore(d, "graph_edges") { o =>
        val co = Tables.orders(s, d).select(
          concat(lit("c:"), col("o_custkey")).as("src"),
          concat(lit("o:"), col("o_orderkey")).as("dst"))
        val opNum = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val op = opNum.select(
          concat(lit("o:"), col("l_orderkey")).as("src"),
          concat(lit("p:"), col("l_partkey")).as("dst"))
        val po = opNum.select(
          concat(lit("p:"), col("l_partkey")).as("src"),
          concat(lit("o:"), col("l_orderkey")).as("dst"))
        // microShards = 32: the corpus-sized edge store build fans out
        // to 32 writer tasks (4 shards x 8 splits) instead of 4 — at
        // true-sf1 this store is ~13M docs and the build is the
        // query's dominant cost; reads are unaffected (the DSv2 scan
        // already splits per segment)
        SegmentShardSink.write(
          co.union(op).union(po)
            .withColumn("id", concat(col("src"), lit(">"), col("dst"))),
          "id", o, shards = 4, microShards = 32)
      }
      Graft.streamExpr(s,
        """shortestPath(edges, from="c:1", to="p:32",
          |  edge="src=dst", maxDepth="4")""".stripMargin,
        Map("edges" -> out))
    }),

    // S16 live Solr sink END-TO-END over real HTTP: the corpus streams
    // through LiveSolrSink (router-aligned repartition, one concurrent
    // batched loader per shard leader, driver commit after the job)
    // into an in-process collector; what ARRIVED per shard is parsed
    // back and hash-checked against the DuckDB murmur3 routing oracle
    // — every document must land on exactly the slice a CloudSolrClient
    // would pick, with nothing lost or duplicated in flight
    "q273_live_solr_sink" -> ((s, d) => {
      val received =
        new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/",
        (ex: com.sun.net.httpserver.HttpExchange) => {
          val path = ex.getRequestURI.getPath
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          if (ex.getRequestMethod == "POST" && path.endsWith("/update")) {
            val shard = path.split("/shard")(1).takeWhile(_.isDigit).toInt
            received.add((shard, body))
          }
          ex.sendResponseHeaders(200, 2)
          ex.getResponseBody.write("ok".getBytes("UTF-8"))
          ex.close()
        })
      // daemon-threaded executor: server.stop() does NOT stop its
      // executor, and a non-daemon pool would pin the driver JVM open
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
      server.setExecutor(pool)
      server.start()
      val batches =
        try {
          val port = server.getAddress.getPort
          val targets =
            (0 until 4).map(i => s"http://127.0.0.1:$port/solr/shard$i")
          graft.index.LiveSolrSink.write(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            "doc_id", targets, batchSize = 256)
          scala.jdk.CollectionConverters.IteratorHasAsScala(
            received.iterator()).asScala.toSeq
        } finally { server.stop(0); pool.shutdownNow() }
      import s.implicits._
      batches.toDF("shard", "body")
        .select(col("shard"), explode(from_json(col("body"),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id BIGINT, text STRING")))).as("r"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"),
          sum(col("r.doc_id")).as("id_sum"),
          sum(length(col("r.text")).cast("long")).as("chars"))
        .orderBy(col("shard"))
    }),

    // Bloom-prefiltered incremental ingest: corpus membership decided
    // WITHOUT shuffling the corpus — a tree-combined bitset broadcasts,
    // bloom-miss rows bypass the join (definitely new), only bloom
    // hits (true dups + the fpp sliver) pay the exact anti-join. The
    // output is exact, so DuckDB's NOT EXISTS replays it verbatim.
    "q274_bloom_incremental" -> ((s, d) => {
      import graft.ops.BloomDedup
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
        .select(md5(col("text").cast("binary")).as("k"))
        .as[String](org.apache.spark.sql.Encoders.STRING)
      val incoming = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("k", md5(col("text").cast("binary")))
      BloomDedup.newRows(incoming, "k", corpus,
          expectedItems = 100000, fpp = 0.01)
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text")).cast("long")).as("chars"))
    }),

    // Z-order clustered layout: events re-written along the Morton
    // curve of (user_id, day) so a two-dimension box predicate prunes
    // row groups on BOTH columns; the box query runs over the
    // CLUSTERED copy and must return byte-identically what the oracle
    // computes over the raw table — layout may never change answers
    "q275_zorder_layout" -> ((s, d) => {
      import graft.ops.ZOrder
      val out = sharedStore(d, "events_zorder") { o =>
        ZOrder.clusterWrite(
          Tables.events(s, d).withColumn("day",
            datediff(col("ts"), lit("2024-01-01")).cast("int")),
          o, numFiles = 16, bitsPer = 8, col("user_id"), col("day"))
      }
      s.read.parquet(out)
        .filter(col("user_id").between(4, 10) &&
          col("day").between(7, 14))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("uid_sum"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("val_sum"))
        .orderBy(col("event_type"))
    }),

    // Count-min heavy hitters: frequent tokens found WITHOUT shuffling
    // the token stream — a tree-combined d×w sketch (KBs) broadcasts,
    // candidates (no false negatives: CMS only over-estimates) are the
    // only tokens the exact recount aggregates. Output exact → a plain
    // HAVING-threshold oracle replays it.
    "q276_cms_heavy_hitters" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .filter(col("tok") =!= "")
      graft.ops.CountMin.heavyHitters(toks, "tok", phi = 0.005,
          epsilon = 0.001)
        .withColumnRenamed("item", "item")
    }),

    // Solr update-XML export (the interop hand-off a stock Solr loads
    // with bin/post): the corpus round-trips through the codegen'd XML
    // writer and the files are re-read and field-extracted — nothing
    // lost, nothing duplicated across part files
    "q277_solr_xml_export" -> ((s, d) => {
      val out = sharedStore(d, "xml_export") { o =>
        graft.index.SolrExport.writeUpdateXml(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          o, numFiles = 4)
      }
      s.read.option("wholetext", "true").text(out)
        .select(explode(expr(
          "regexp_extract_all(value, '<field name=\"doc_id\">([0-9]+)</field>', 1)"))
          .as("id"))
        .agg(count(lit(1)).as("n"), sum(col("id").cast("long")).as("id_sum"))
    }),

    // Corpus snapshot diff (the dataset release-notes table): two
    // versions of the corpus full-outer-joined on doc key over
    // (key, fingerprint) projections only — text never shuffles —
    // rolled up per source as added/removed/modified/unchanged
    "q278_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ops.Profiling.corpusDiffBySource(oldSnap, newSnap,
          "doc_id", "source", md5(col("text").cast("binary")))
        .orderBy(col("source"))
    }),

    // S9 video: MP4/ISO-BMFF metadata through the dependency-free box
    // walk (IsoBmff — Tika MP4Parser analog,
    // solrCellDocumentTypes.conf:256). Round-trip oracle: fixture
    // layouts are closed forms of the nation key, DuckDB recomputes
    // them; the parser must read identical values from the real bytes.
    "q279_mp4_parse" -> ((s, d) => {
      import s.implicits._
      Multimodal.readBinary(s, videoFixtureStore(s, d), "*.mp4")
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .mapPartitions(_.flatMap { case (path, bytes) =>
          graft.sources.IsoBmff.parse(bytes).map { info =>
            // headOption: a parseable MP4 with zero resolvable tracks
            // must report zeros, not crash the task
            val t = info.tracks.headOption
            (path.replaceAll(".*/", ""), info.durationMillis,
              info.tracks.length.toLong,
              t.map(_.samples.length.toLong).getOrElse(0L),
              t.map(_.samples.count(_.keyframe).toLong).getOrElse(0L),
              t.map(_.width.toLong).getOrElse(0L),
              t.map(_.height.toLong).getOrElse(0L))
          }
        })
        .toDF("file_name", "duration_ms", "n_tracks", "n_samples",
          "n_keyframes", "width", "height")
    }),

    // FULL raw-crawl WARC (the .warc files WET derives from):
    // response records' HTTP messages split — status line, declared
    // Content-Type, entity payload octets — and every payload fed
    // through the DocumentParser (html tag-strip / plain passthrough).
    // Fixture: one warcinfo prelude + a request/response pair per
    // document, every value a closed form of the doc row, so DuckDB
    // replays framing, HTTP split, payload checksum, and extraction.
    "q281_warc_responses" -> ((s, d) => {
      import graft.sources.{DocumentParser, Warc}
      val out = warcFixtureStore(s, d)
      val extractedLen = udf((ct: String, payload: Array[Byte]) =>
        if (ct == null) null
        else java.lang.Long.valueOf(
          DocumentParser.parse(ct.takeWhile(_ != ';').trim, payload)
            .text.length.toLong))
      Warc.readWarc(s, out).select(
        col("rec_type"),
        regexp_extract(col("uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
        col("http_status").cast("long").as("http_status"),
        col("http_content_type").as("mime"),
        length(col("payload")).cast("long").as("payload_len"),
        md5(col("payload")).as("payload_md5"),
        extractedLen(col("http_content_type"), col("payload"))
          .as("extracted_len"))
    }),

    // S9 ebooks: EPUB zip container -> container.xml -> OPF (Dublin
    // Core metadata + spine order) -> chapter XHTML through the html
    // parser. Fixture layouts are closed forms of the nation key;
    // DuckDB recomputes metadata AND the spine-ordered full text the
    // parser must extract from the real container bytes.
    "q283_epub_parse" -> ((s, d) => {
      import s.implicits._
      Multimodal.readBinary(s, epubFixtureStore(s, d), "*.epub")
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .mapPartitions(_.map { case (path, bytes) =>
          val doc = graft.sources.DocumentParser.parse(
            "application/epub+zip", bytes)
          (path.replaceAll(".*/", ""), doc.metadata.getOrElse("title", ""),
            doc.metadata.getOrElse("language", ""),
            doc.metadata.getOrElse("n_chapters", "0").toLong, doc.text)
        })
        .toDF("file_name", "title", "language", "n_chapters", "text")
    }),

    // S9 feeds: RSS item stream (FeedParser analog) — titles +
    // descriptions as the text; closed-form fixtures per region row.
    "q284_feed_parse" -> ((s, d) => {
      import s.implicits._
      Multimodal.readBinary(s, epubFixtureStore(s, d), "*.rss")
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .mapPartitions(_.map { case (path, bytes) =>
          val doc = graft.sources.DocumentParser.parse(
            "application/rss+xml", bytes)
          (path.replaceAll(".*/", ""), doc.metadata.getOrElse("title", ""),
            doc.metadata.getOrElse("n_items", "0").toLong, doc.text)
        })
        .toDF("file_name", "feed_title", "n_items", "text")
    }),

    // the flagship LLM-ingestion chain, end-to-end: raw crawl →
    // training corpus. Full WARC → 200-responses → declared-type
    // parse (html tag-strip / plain passthrough) → language-ID +
    // token statistics, every stage over the EXTRACTED text and the
    // whole chain replayed by the DuckDB oracle.
    "q285_crawl_to_corpus" -> ((s, d) => {
      import graft.sources.{DocumentParser, Warc}
      val out = warcFixtureStore(s, d)
      val extract = udf((ct: String, payload: Array[Byte]) =>
        if (ct == null) null
        else DocumentParser.parse(ct.takeWhile(_ != ';').trim, payload).text)
      Warc.readWarc(s, out)
        .filter(col("rec_type") === "response" && col("http_status") === 200)
        .select(
          regexp_extract(col("uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          extract(col("http_content_type"), col("payload")).as("__text"))
        .select(col("doc_id"),
          TextAnalysis.languageId(col("__text")).as("lang_pred"),
          TextAnalysis.whitespaceTokenCount(col("__text")).cast("long")
            .as("ws_tokens"),
          length(col("__text")).cast("long").as("n_chars"))
    }),

    // best-capture-per-URL selection (the standard Common Crawl
    // processing step: a URL crawled in several snapshots keeps its
    // most recent capture): responses windowed per URI on WARC-Date
    // desc; fixture plants two dated captures per doc (singletons for
    // doc_id%5==0), every value a closed form — DuckDB recomputes the
    // winning capture, its date, and its payload checksum.
    "q282_warc_best_capture" -> ((s, d) => {
      import graft.sources.Warc
      import org.apache.spark.sql.expressions.Window
      val out = sharedStore(d, "warc_captures") { o =>
        val docs = Tables.documents(s, d)
        val uri = concat(lit("http://corpus/"), col("doc_id"))
        val c1 = docs.select(col("doc_id").as("__id"), lit(0).as("__sub"),
          Warc.warcResponseRecord(uri, lit(200), lit("OK"), lit("text/plain"),
            col("text"),
            format_string("2024-01-%02dT00:00:00Z",
              (col("doc_id") % 27 + 1).cast("int"))).as("value"))
        val c2 = docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id").as("__id"), lit(1).as("__sub"),
            Warc.warcResponseRecord(uri, lit(200), lit("OK"), lit("text/plain"),
              concat(col("text"), lit(" v2")),
              lit("2024-03-01T00:00:00Z")).as("value"))
        c1.unionByName(c2).orderBy(col("__id"), col("__sub"))
          .select(col("value")).coalesce(1).write.mode("overwrite").text(o)
      }
      Warc.readWarc(s, out).filter(col("rec_type") === "response")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("uri")).orderBy(col("warc_date").desc)))
        .withColumn("n_captures",
          count(lit(1)).over(Window.partitionBy(col("uri"))))
        .filter(col("rn") === 1)
        .select(
          regexp_extract(col("uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("n_captures").cast("long").as("n_captures"),
          col("warc_date").as("best_date"),
          length(col("payload")).cast("long").as("payload_len"),
          md5(col("payload")).as("payload_md5"))
    }),

    // S9 video: FLV tag walk (Flv — Tika FLVParser analog,
    // solrCellDocumentTypes.conf:265), same round-trip oracle shape
    // over the region-keyed fixtures.
    "q280_flv_parse" -> ((s, d) => {
      import s.implicits._
      Multimodal.readBinary(s, videoFixtureStore(s, d), "*.flv")
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .mapPartitions(_.flatMap { case (path, bytes) =>
          graft.sources.Flv.parse(bytes).map { info =>
            (path.replaceAll(".*/", ""), info.durationMs,
              info.tags.length.toLong, info.keyframes.length.toLong)
          }
        })
        .toDF("file_name", "duration_ms", "n_tags", "n_keyframes")
    })
  )

  /** The shared (id, ts, event_type, user_id) events segment store —
    * ts indexes as epoch-micros sortable terms (pdate analog). */
  private def eventsTimeStore(s: SparkSession, d: String): String = {
    import graft.index.SegmentShardSink
    sharedStore(d, "events_time") { o =>
      SegmentShardSink.write(
        Tables.events(s, d).select(
          col("event_id").cast("string").as("id"),
          col("ts"), col("event_type"), col("user_id")),
        "id", o, shards = 4)
    }
  }

  /** The shared (id, lang, source, n_chars) documents segment store —
    * n_chars indexes under the typed-numeric encoding. */
  private def docsMetaStore(s: SparkSession, d: String): String = {
    import graft.index.SegmentShardSink
    sharedStore(d, "docs_meta") { o =>
      SegmentShardSink.write(
        Tables.documents(s, d).select(
          col("doc_id").cast("string").as("id"),
          col("lang"), col("source"), col("n_chars")),
        "id", o, shards = 4)
    }
  }

  /** Deterministic MP4 + FLV fixture files, one per nation / region
    * row (the video-container analog of the WET fixture store): every
    * container's sample layout is a closed form of its table key, so
    * the DuckDB oracle recomputes each byte offset the box/tag
    * parsers must read back from the real binary. The driving frames
    * are 25- and 5-row dimensions — the collect is bounded by
    * construction. */
  /** Deterministic full-WARC fixture (one warcinfo prelude + a
    * request/response pair per document; statuses, content types, and
    * payloads are closed forms of the doc row — html for even ids,
    * plain text for odd, 404 every tenth). Shared by q281/q285. */
  private def warcFixtureStore(s: SparkSession, d: String): String =
    sharedStore(d, "warc_file_full") { o =>
      import graft.sources.Warc
      val docs = Tables.documents(s, d)
      val uri = concat(lit("http://corpus/"), col("doc_id"))
      val resp = docs.select(lit(1).as("__g"), col("doc_id").as("__id"),
        lit(1).as("__sub"),
        Warc.warcResponseRecord(uri,
          when(col("doc_id") % 10 === 0, lit(404)).otherwise(lit(200)),
          when(col("doc_id") % 10 === 0, lit("Not Found")).otherwise(lit("OK")),
          when(col("doc_id") % 2 === 0, lit("text/html"))
            .otherwise(lit("text/plain")),
          when(col("doc_id") % 2 === 0,
              concat(lit("<html><head><title>Doc "), col("doc_id"),
                lit("</title></head><body><p>"), col("text"),
                lit("</p></body></html>")))
            .otherwise(col("text"))).as("value"))
      val req = docs.select(lit(1).as("__g"), col("doc_id").as("__id"),
        lit(0).as("__sub"),
        Warc.warcRequestRecord(uri,
          concat(lit("GET /"), col("doc_id"), lit(" HTTP/1.1")),
          lit("corpus")).as("value"))
      val info = s.range(1).select(lit(0).as("__g"), lit(0L).as("__id"),
        lit(0).as("__sub"),
        Warc.warcinfoRecord(
          lit("software: graft-spark\r\nformat: WARC File Format 1.0\r\n"))
          .as("value"))
      info.unionByName(req).unionByName(resp)
        .orderBy(col("__g"), col("__id"), col("__sub"))
        .select(col("value")).coalesce(1)
        .write.mode("overwrite").text(o)
    }

  /** Deterministic EPUB + RSS fixture files (one per nation / region
    * row, the video-fixture pattern): every book's metadata, spine
    * order, and chapter text — and every feed's items — are closed
    * forms of the table key, so the DuckDB oracle recomputes what the
    * zip/XML parsers must extract from the real bytes. */
  private def epubFixtureStore(s: SparkSession, d: String): String =
    sharedStore(d, "epub_fixtures") { o =>
      val dir = java.nio.file.Paths.get(o)
      def zipFile(path: java.nio.file.Path, entries: Seq[(String, String)]): Unit = {
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(bos)
        entries.foreach { case (n, body) =>
          z.putNextEntry(new java.util.zip.ZipEntry(n))
          z.write(body.getBytes("UTF-8")); z.closeEntry()
        }
        z.close()
        java.nio.file.Files.write(path, bos.toByteArray)
      }
      Tables.nation(s, d).select(col("n_nationkey").cast("int"))
        .collect().map(_.getInt(0)).foreach { k =>
          val lang = Seq("en", "de", "fr")(k % 3)
          val n = 2 + k % 5
          val manifest = (1 to n).map(i =>
            s"""<item id="c$i" href="ch$i.xhtml" media-type="application/xhtml+xml"/>""")
            .mkString("\n")
          val spine = (1 to n).map(i => s"""<itemref idref="c$i"/>""").mkString("\n")
          val opf =
            s"""<package xmlns="http://www.idpf.org/2007/opf"
               |  xmlns:dc="http://purl.org/dc/elements/1.1/" version="3.0">
               |<metadata><dc:title>Book $k</dc:title>
               |<dc:language>$lang</dc:language></metadata>
               |<manifest>$manifest</manifest><spine>$spine</spine>
               |</package>""".stripMargin
          val container =
            """<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
              |<rootfiles><rootfile full-path="OEBPS/content.opf"/></rootfiles>
              |</container>""".stripMargin
          zipFile(dir.resolve(f"book_$k%02d.epub"),
            Seq("mimetype" -> "application/epub+zip",
              "META-INF/container.xml" -> container,
              "OEBPS/content.opf" -> opf) ++
              (1 to n).map(i => s"OEBPS/ch$i.xhtml" ->
                s"<html><body><p>chapter $i of book $k</p></body></html>"))
        }
      Tables.region(s, d).select(col("r_regionkey").cast("int"))
        .collect().map(_.getInt(0)).foreach { r =>
          val n = 3 + r
          val items = (1 to n).map(i =>
            s"<item><title>Item $i</title><description>story $i of feed $r</description></item>")
            .mkString("\n")
          java.nio.file.Files.write(dir.resolve(f"feed_$r%02d.rss"),
            s"""<rss version="2.0"><channel><title>Feed $r</title>
               |$items
               |</channel></rss>""".stripMargin.getBytes("UTF-8"))
        }
    }

  private def videoFixtureStore(s: SparkSession, d: String): String =
    sharedStore(d, "video_fixtures") { o =>
      import graft.sources.{Flv, IsoBmff}
      val dir = java.nio.file.Paths.get(o)
      Tables.nation(s, d).select(col("n_nationkey").cast("int"))
        .collect().map(_.getInt(0)).foreach { k =>
          val count = 5 + (k % 7)
          val sizes = (0 until count).map(i => 64 + ((k * 31 + i * 17) % 128))
          java.nio.file.Files.write(dir.resolve(f"vid_$k%02d.mp4"),
            IsoBmff.write(sizes, timescale = 1000, duration = 500L * (k + 1),
              width = 320 + 16 * (k % 8), height = 240 + 16 * (k % 5),
              samplesPerChunk = 3, keyEvery = 4))
        }
      Tables.region(s, d).select(col("r_regionkey").cast("int"))
        .collect().map(_.getInt(0)).foreach { r =>
          val count = 6 + r
          val sizes = (0 until count).map(i => 32 + ((r * 13 + i * 7) % 64))
          java.nio.file.Files.write(dir.resolve(f"flv_$r%02d.flv"),
            Flv.write(sizes, msPerTag = 40, keyEvery = 3))
        }
    }

  // ---------------------------------------------------------------
  // DuckDB oracles (ANSI-ish SQL over the same parquet tables).
  // Omitted for hash-/seed-dependent ops -> driver rows-only check.
  // ---------------------------------------------------------------
  private val stopIn: String = TextAnalysis.EnglishStopwords
    .map(w => s"'$w'").mkString("(", ",", ")")
  private def listLit(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** q202/q203's literal query vector: 64 dims on a 0.25 grid (exact
    * binary fractions — the decimal literal parses to the identical
    * double in both engines). */
  private val knnVec: Seq[Double] =
    (1 to 64).map(i => (((i * 37) % 19) - 9) * 0.25)

  /** Shared CTE body for the unigram-LM oracles (q310/q311/q312): the
    * word table, substring counts, the seed vocabulary (top-300 union
    * single chars) and its integer-milli scores — floor(x+0.5), the
    * rounding with identical semantics on both engines. */
  private val unigramSeedBody: String =
    """toks AS (SELECT t AS word FROM (
      |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
      |    FROM documents) u WHERE t <> ''),
      |wf AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
      |subs AS (
      |  SELECT substr(word, s, CAST(l AS INTEGER)) AS piece, sum(freq) AS cnt
      |  FROM (
      |    SELECT word, freq, s, unnest([1, 2, 3, 4]) AS l
      |    FROM (SELECT word, freq,
      |      CAST(unnest(range(1, length(word) + 1)) AS INTEGER) AS s FROM wf))
      |  WHERE s + l - 1 <= length(word)
      |  GROUP BY 1),
      |topseed AS (SELECT piece, cnt FROM subs ORDER BY cnt DESC, piece LIMIT 300),
      |seed0 AS (SELECT DISTINCT piece, cnt FROM (
      |  SELECT piece, cnt FROM topseed UNION ALL
      |  SELECT piece, cnt FROM subs WHERE length(piece) = 1)),
      |tot AS (SELECT sum(cnt) AS t FROM seed0),
      |seed AS (SELECT piece, cnt,
      |  CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1000 + 0.5) AS BIGINT)
      |    AS score_milli
      |  FROM seed0, tot)""".stripMargin

  /** The E-step enumeration: every segmentation of the top-200 short
    * words as a recursive CTE over the seed pieces, argmax per word by
    * (score desc, seg asc) — the independent replay of the Viterbi DP. */
  private val unigramEstepBody: String =
    """w AS (SELECT word, freq FROM wf WHERE length(word) <= 10
      |  ORDER BY freq DESC, word LIMIT 200),
      |r AS (
      |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS score, '' AS seg FROM w
      |  UNION ALL
      |  SELECT r.word, r.pos + length(s.piece) AS pos,
      |    r.score + s.score_milli AS score,
      |    CASE WHEN r.seg = '' THEN s.piece
      |         ELSE r.seg || ' ' || s.piece END AS seg
      |  FROM r CROSS JOIN generate_series(1, 4) g(l)
      |  JOIN seed s ON s.piece = substr(r.word, r.pos + 1, CAST(g.l AS INTEGER))
      |  WHERE r.pos + g.l <= length(r.word)),
      |best AS (
      |  SELECT word, score, seg, row_number() OVER (
      |    PARTITION BY word ORDER BY score DESC, seg ASC) AS rn
      |  FROM r WHERE pos = length(word))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_match_all" -> "SELECT count(*) AS cnt FROM lineitem",

    "q02_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | count(*) AS cnt, sum(l_quantity)/count(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q03_seq_key" ->
      """SELECT doc_id, source || '#' ||
        | CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS VARCHAR) AS seq_id
        |FROM documents""".stripMargin,

    "q04_dedup_retain_recent" ->
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,

    "q05_dedup_counters" ->
      """SELECT count(CASE WHEN ts = mx AND nmax > 1 THEN 1 END)
        |  - count(DISTINCT CASE WHEN nmax > 1 THEN user_id END) AS duplicates,
        | count(CASE WHEN ts < mx THEN 1 END) AS outdated,
        | count(*) AS total
        |FROM (
        | SELECT user_id, ts, mx,
        |  count(CASE WHEN ts = mx THEN 1 END) OVER (PARTITION BY user_id) AS nmax
        | FROM (SELECT user_id, ts, max(ts) OVER (PARTITION BY user_id) AS mx FROM events) a
        |) b""".stripMargin,

    "q06_dedup_conflicts" ->
      "SELECT user_id, count(*) AS n FROM events GROUP BY user_id HAVING count(*) > 1",

    "q07_convert_timestamp" ->
      """SELECT l_orderkey, l_linenumber,
        | strftime(l_shipdate, '%Y-%m-%dT%H:%M:%SZ') AS ship_iso
        |FROM lineitem""".stripMargin,

    "q08_uuid" ->
      """SELECT doc_id, concat_ws('-',
        | substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
        | substr(md5(CAST(doc_id AS VARCHAR)), 9, 4),
        | substr(md5(CAST(doc_id AS VARCHAR)), 13, 4),
        | substr(md5(CAST(doc_id AS VARCHAR)), 17, 4),
        | substr(md5(CAST(doc_id AS VARCHAR)), 21, 12)) AS uuid
        |FROM documents""".stripMargin,

    "q09_sanitize" ->
      """SELECT doc_id, text, lang, source AS ignored_source,
        | n_chars AS ignored_n_chars FROM documents""".stripMargin,

    "q10_tokenize_tf" ->
      s"""SELECT token, count(*) AS n FROM (
         | SELECT regexp_replace(tok, '''s$$', '') AS token FROM (
         |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+(?:[''.][a-z0-9]+)*')) AS tok
         |  FROM documents) u
         |) v WHERE token NOT IN $stopIn
         |GROUP BY token""".stripMargin,

    "q11_term_query" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE text LIKE '%spark%'",

    "q14_join_revenue" ->
      """SELECT n_name, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q15_sessionize" ->
      """SELECT event_id, user_id,
        | CAST(sum(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM (
        | SELECT event_id, user_id, ts,
        |  date_diff('second', TIMESTAMP '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP)) AS sec,
        |  lag(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP)))
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        | FROM events) t""".stripMargin,

    "q16_topk_orders" ->
      """SELECT rnk, o_orderkey, o_totalprice FROM (
        | SELECT CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
        |  o_orderkey, o_totalprice FROM orders) t
        |WHERE rnk <= 10""".stripMargin,

    "q17_alphanum_sort" ->
      """SELECT CAST(row_number() OVER (ORDER BY regexp_extract(p_brand, '^([^0-9]*)', 1),
        |  CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS pos, p_brand
        |FROM (SELECT DISTINCT p_brand FROM part) t""".stripMargin,

    "q18_langid" -> {
      val en = listLit(TextAnalysis.LangMarkers("en"))
      val de = listLit(TextAnalysis.LangMarkers("de"))
      val fr = listLit(TextAnalysis.LangMarkers("fr"))
      val es = listLit(TextAnalysis.LangMarkers("es"))
      s"""SELECT doc_id,
         | CASE WHEN en IS NULL THEN 'und'
         |  WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |  WHEN de >= fr AND de >= es THEN 'de'
         |  WHEN fr >= es THEN 'fr'
         |  ELSE 'es' END AS lang_pred
         |FROM (
         | SELECT doc_id,
         |  len(list_distinct(list_intersect(toks, $en))) AS en,
         |  len(list_distinct(list_intersect(toks, $de))) AS de,
         |  len(list_distinct(list_intersect(toks, $fr))) AS fr,
         |  len(list_distinct(list_intersect(toks, $es))) AS es
         | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
         |       FROM documents) t) s""".stripMargin
    },

    "q19_quality" -> {
      val sw = listLit(TextAnalysis.EnglishStopwords)
      s"""SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stopword_distinct, stopword_ratio,
         | (n_tokens >= 5 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
         |   AND punct_ratio <= 0.3) AS keep
         |FROM (
         | SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(toks) > 0
         |   THEN CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
         |     / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN length(text) > 0
         |   THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |     / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         |  CAST(len(list_distinct(list_intersect(toks, $sw))) AS BIGINT) AS stopword_distinct,
         |  CASE WHEN len(toks) > 0
         |   THEN CAST(len(list_distinct(list_intersect(toks, $sw))) AS DOUBLE)
         |     / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio
         | FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |       FROM documents) t) s""".stripMargin
    },

    "q20_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "q21_dedup_exact" ->
      "SELECT l_orderkey, min(l_linenumber) AS l_linenumber FROM lineitem GROUP BY l_orderkey",

    "q24_ngram_jaccard" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |  END AS sh
        | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |       FROM documents) t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        | CAST(len(list_distinct(a.sh)) + len(list_distinct(b.sh))
        |   - len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) AS jaccard
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "q25_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |p AS (SELECT q.vec_id AS query_id, e.vec_id AS corpus_id,
        |  list_dot_product(q.v, e.v) /
        |   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
        | FROM q, e WHERE q.vec_id <> e.vec_id)
        |SELECT query_id, rnk, corpus_id, round(cosine, 6) AS cosine_r FROM (
        | SELECT query_id, corpus_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rnk
        | FROM p) t WHERE rnk <= 5""".stripMargin,

    "q27_running_total" ->
      """SELECT event_id, user_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2)))
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
        |FROM events""".stripMargin,

    "q28_events_hourly" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        | count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q29_union_brands" ->
      """SELECT p_brand, count(*) AS n FROM part
        |WHERE p_brand IN ('Brand#1', 'Brand#2') GROUP BY p_brand""".stripMargin,

    "q30_semi_join" ->
      """SELECT c_custkey, c_name FROM customer WHERE c_custkey IN
        | (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)""".stripMargin,

    "q31_anti_join" ->
      """SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN
        | (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)""".stripMargin,

    "q32_intersect_nations" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    // the bound check is the oracled claim: TRUE on the oracle side,
    // computed |approx-exact|/exact <= 3*rsd on the Spark side
    "q33_approx_distinct" ->
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS within_bound
        |FROM events""".stripMargin,

    // file-level metadata oracle: DuckDB lists the same parquet files
    // with read_blob and sniffs the PAR1 magic from the hex prefix.
    // {SF_DIR} is substituted with the absolute sf dir by Verify at
    // dump time (the SQL itself is scale-factor-agnostic).
    "q34_binary_assets" ->
      """SELECT regexp_extract(filename, '[^/]+$') AS file_name,
        | CASE WHEN substr(hex(content), 1, 8) = '50415231'
        |      THEN 'application/x-parquet'
        |      ELSE 'application/octet-stream' END AS mime,
        | CAST(size AS BIGINT) AS file_length
        |FROM read_blob('{SF_DIR}/*.parquet')""".stripMargin,

    // the engine-replayable randomize: every row's shuffle-key
    // assignment is checked (the permutation is ORDER BY rkey)
    "q35_randomize" ->
      """SELECT s_name,
        | md5('421439783:' || CAST(s_suppkey AS VARCHAR)) AS rkey
        |FROM supplier""".stripMargin,

    "q36_extract_props" ->
      """SELECT event_id,
        | CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
        |FROM events""".stripMargin,

    "q37_ordered_updates" ->
      """SELECT user_id,
        | string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id) AS ordered_events
        |FROM events GROUP BY user_id""".stripMargin,

    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q39_left_outer" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_lines
        |FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey""".stripMargin,

    "q40_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, substr(p_name, 1, 5) AS prefix5,
        | replace(p_type, ' ', '_') AS type_u,
        | lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad
        |FROM part""".stripMargin,

    "q41_distinct_per_group" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q42_year_month" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(month(o_orderdate) AS BIGINT) AS m, count(*) AS cnt
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q43_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_custkey IN
        | (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)""".stripMargin,

    "q44_salted_dedup" ->
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,

    "q47_token_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        | CAST(COALESCE(list_aggregate(list_transform(
        |   regexp_extract_all(lower(text), '[a-z0-9]+'),
        |   x -> greatest(1, CAST(ceil(length(x)/4.0) AS INTEGER))), 'sum'), 0)
        |  + length(regexp_replace(text, '[a-zA-Z0-9\s]+', '', 'g')) AS BIGINT) AS subword_est
        |FROM documents""".stripMargin,

    "q55_quarantine" ->
      """SELECT lang, count(*) AS n FROM documents
        |WHERE n_chars > 200 GROUP BY lang""".stripMargin,

    "q56_neardup_discovery" ->
      """WITH d AS (
        | SELECT doc_id,
        |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |  END) AS sh
        | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |       FROM documents WHERE doc_id < 300) t)
        |SELECT id_a, id_b, jaccard FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        | FROM d a JOIN d b ON a.doc_id < b.doc_id) p
        |WHERE jaccard >= 0.5""".stripMargin,

    "q57_pivot" ->
      """SELECT user_id,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id""".stripMargin,

    "q52_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "q53_typed_events" ->
      """SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS user_id_sum
        |FROM events GROUP BY event_type""".stripMargin,

    "q51_percentiles" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS p50,
        | quantile_cont(value, 0.9) AS p90,
        | min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY event_type""".stripMargin,

    "q45_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) /
        |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
        | FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine_r FROM p WHERE cosine >= 0.4""".stripMargin,

    "q58_exact_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users
        |FROM events GROUP BY event_type""".stripMargin,

    "q59_add_values" ->
      """SELECT doc_id,
        | array_to_string(tags || ['extra', lang], '|') AS tags_joined,
        | CAST(len(tags) + 2 AS BIGINT) AS n_tags
        |FROM (
        | SELECT doc_id, lang,
        |  CASE WHEN doc_id % 7 = 0 THEN CAST([] AS VARCHAR[])
        |       ELSE string_split(source, '-') END AS tags
        | FROM documents) t""".stripMargin,

    "q60_flatten_struct" ->
      """SELECT o_orderkey, o_orderstatus AS meta_status,
        | o_totalprice AS meta_total
        |FROM orders WHERE o_totalprice > 400000""".stripMargin,

    "q61_try_rules" ->
      """SELECT doc_id,
        | CASE WHEN lang = 'en' THEN 'english'
        |      WHEN lang = 'de' OR lang = 'fr' THEN 'european'
        |      ELSE 'other' END AS route
        |FROM documents""".stripMargin,

    "q62_separate_attachments" ->
      """SELECT doc_id, unnest(string_split(source, '-')) AS attachment
        |FROM documents""".stripMargin,

    // q63: the SQL is GENERATED from Redaction.Patterns so the engine
    // and the oracle cannot drift. DuckDB regexp_replace needs the
    // explicit 'g' flag (Spark replaces all matches by default).
    "q63_pii_redact" -> {
      // single line: this is interpolated into a stripMargin string,
      // where a continuation line starting with '||' would lose its
      // first '|' to the margin stripper
      val planted = "text || ' contact u' || CAST(doc_id AS VARCHAR)" +
        " || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)" +
        " || '.7 ssn 123-45-6789 tel 555-867-'" +
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
      val redacted = graft.text.Redaction.Patterns.foldLeft("ptext") {
        case (e, (_, p, r)) => s"regexp_replace($e, '$p', '$r', 'g')"
      }
      val counts = graft.text.Redaction.Patterns.map { case (n, p, _) =>
        s"CAST(len(regexp_extract_all(ptext, '$p')) AS BIGINT) AS n_$n"
      }.mkString(",\n ")
      s"""WITH p AS (SELECT doc_id, $planted AS ptext FROM documents)
         |SELECT doc_id, $redacted AS redacted,
         | $counts
         |FROM p""".stripMargin
    },

    // q64: the canonicalization chain mirrored step-for-step (CTE per
    // step); RE2 replacement backrefs are \1 where Java's are $1.
    "q64_url_canonical" ->
      """WITH u AS (
        | SELECT doc_id,
        |  'HTTP://WWW.Example' || CAST(doc_id % 40 AS VARCHAR) || '.COM:80/Docs/'
        |   || CAST(doc_id % 7 AS VARCHAR) || '/?utm_source=feed&ref='
        |   || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=c'
        |   || CAST(doc_id % 5 AS VARCHAR) || '#sec' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |s2 AS (SELECT doc_id, url, regexp_replace(trim(url), '#.*', '', 'g') AS c FROM u),
        |s3 AS (SELECT doc_id, url,
        |  lower(regexp_extract(c, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1))
        |   || regexp_replace(c, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') AS c FROM s2),
        |s4 AS (SELECT doc_id, url,
        |  regexp_replace(c, '([?&])(?:(?:utm_[a-z]+|fbclid|gclid)=[^&]*(?:&|$))+', '\1', 'g') AS c FROM s3),
        |s5 AS (SELECT doc_id, url, regexp_replace(c, '[?&]+$', '', 'g') AS c FROM s4),
        |s6 AS (SELECT doc_id, url, regexp_replace(c, '^(https?://)www\.', '\1', 'g') AS c FROM s5),
        |s7 AS (SELECT doc_id, url,
        |  regexp_replace(c, '^(http://[^/:?]+):80([/?].*|)$', '\1\2', 'g') AS c FROM s6),
        |s8 AS (SELECT doc_id, url,
        |  regexp_replace(c, '^(https://[^/:?]+):443([/?].*|)$', '\1\2', 'g') AS c FROM s7)
        |SELECT doc_id, url, regexp_replace(c, '/+$', '', 'g') AS canonical_url FROM s8""".stripMargin,

    "q65_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 1),
        |     i -> concat_ws(' ', toks[i], toks[i+1])) END AS g2,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END AS g3
        | FROM t)
        |SELECT doc_id,
        | CASE WHEN len(toks) > 0 THEN CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
        |   / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS dup_word_frac,
        | CASE WHEN len(g2) > 0 THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
        |   / CAST(len(g2) AS DOUBLE) ELSE 0.0 END AS dup_2gram_frac,
        | CASE WHEN len(g3) > 0 THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
        |   / CAST(len(g3) AS DOUBLE) ELSE 0.0 END AS dup_3gram_frac
        |FROM g""".stripMargin,

    "q66_chunking" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(generate_series(0, greatest(len(toks) - 1, 0), 24)) AS cs FROM t)
        |SELECT doc_id, CAST(cs AS BIGINT) AS chunk_start,
        | CAST(len(toks[cs+1:cs+32]) AS BIGINT) AS n_chunk_tokens,
        | array_to_string(toks[cs+1:cs+32], ' ') AS chunk_text
        |FROM s""".stripMargin,

    "q67_decontaminate" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 7),
        |     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
        |                    toks[i+4], toks[i+5], toks[i+6], toks[i+7])) END) AS grams
        | FROM t),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g)
        |SELECT cg.doc_id, count(*) AS n_shared_grams
        |FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id""".stripMargin,

    "q68_quota_sample" ->
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang, row_number() OVER (
        |   PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents) t WHERE rn <= 20""".stripMargin,

    "q69_mix_weights" ->
      """WITH a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS group_cost
        |           FROM documents GROUP BY source)
        |SELECT source, group_cost,
        | CAST(group_cost AS DOUBLE) / CAST(sum(group_cost) OVER () AS DOUBLE) AS share,
        | (CAST(1 AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE))
        |  / (CAST(group_cost AS DOUBLE) / CAST(sum(group_cost) OVER () AS DOUBLE)) AS weight
        |FROM a""".stripMargin,

    "q70_asof_join" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS purchase_value FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, p.purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q71_range_join" ->
      """WITH e AS (SELECT event_id, user_id,
        |  date_diff('second', TIMESTAMP '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP)) AS sec
        | FROM events),
        |iv AS (SELECT user_id AS iv_user, min(sec) AS ws, min(sec) + 3600 AS we
        |       FROM e WHERE user_id < 20 GROUP BY user_id)
        |SELECT iv_user, count(*) AS n_events
        |FROM iv JOIN e ON e.sec BETWEEN iv.ws AND iv.we
        |GROUP BY iv_user""".stripMargin,

    "q72_pack_buckets" ->
      """SELECT doc_id, source,
        | CAST(floor(CAST(COALESCE(sum(n_chars) OVER (
        |   PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |  / CAST(4000 AS DOUBLE)) AS BIGINT) AS pack_id
        |FROM documents""".stripMargin,

    "q73_tfidf" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(toks) AS term FROM t) u GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf,
        |  CAST(tf.tf AS DOUBLE) * (ln((CAST(n_docs AS DOUBLE) + 1.0)
        |    / (CAST(doc_freq AS DOUBLE) + 1.0)) + 1.0) AS tf_idf
        | FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, rnk, term, tf, tf_idf_r FROM (
        | SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, round(tf_idf, 6) AS tf_idf_r,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY round(tf_idf, 6) DESC, term) AS BIGINT) AS rnk
        | FROM s WHERE doc_id < 100) x WHERE rnk <= 5""".stripMargin,

    "q74_bm25" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |d AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t),
        |tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) u
        |       WHERE term IN ('spark', 'table', 'vector') GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM d),
        |c AS (SELECT tf.doc_id, tf.term,
        |  ln(1.0 + (n_docs - CAST(doc_freq AS DOUBLE) + 0.5) / (CAST(doc_freq AS DOUBLE) + 0.5))
        |   * (CAST(tf AS DOUBLE) * 1.2 + CAST(tf AS DOUBLE))
        |   / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
        | FROM tf JOIN dfq USING (term) CROSS JOIN st),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN term = 'spark' THEN c END) AS c1,
        |  max(CASE WHEN term = 'table' THEN c END) AS c2,
        |  max(CASE WHEN term = 'vector' THEN c END) AS c3
        | FROM c GROUP BY doc_id)
        |SELECT doc_id,
        | round(COALESCE(c1, 0.0) + COALESCE(c2, 0.0) + COALESCE(c3, 0.0), 6) AS score_r
        |FROM wide
        |ORDER BY score_r DESC, doc_id LIMIT 20""".stripMargin,

    "q75_postings" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |dt AS (SELECT DISTINCT doc_id, term
        |       FROM (SELECT doc_id, unnest(toks) AS term FROM t) u),
        |r AS (SELECT doc_id, term,
        |  row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM dt)
        |SELECT term, count(*) AS doc_freq,
        | COALESCE(string_agg(CASE WHEN rn <= 20 THEN CAST(doc_id AS VARCHAR) END,
        |                     ',' ORDER BY doc_id), '') AS postings
        |FROM r GROUP BY term""".stripMargin,

    "q76_boilerplate" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 1),
        |     i -> concat_ws(' ', toks[i], toks[i+1])) END)) AS gram FROM t),
        |bp AS (SELECT gram FROM (SELECT gram, count(*) AS gram_docs FROM g GROUP BY gram) x
        |       WHERE gram_docs >= 50),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
        |hit AS (SELECT doc_id, count(*) AS n_bp FROM g JOIN bp USING (gram) GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_grams, COALESCE(hit.n_bp, 0) AS n_bp,
        | CAST(COALESCE(hit.n_bp, 0) AS DOUBLE) / CAST(tot.n_grams AS DOUBLE) AS bp_frac
        |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id""".stripMargin,

    "q77_dedup_clusters" ->
      """WITH RECURSIVE corpus AS (
        | SELECT doc_id, text FROM documents WHERE doc_id < 150
        | UNION ALL
        | SELECT doc_id + 100000, text || ' tiny suffix' FROM documents WHERE doc_id < 150),
        |d AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END) AS sh
        | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |       FROM corpus) t),
        |e AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM d a JOIN d b
        |  ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |   CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5),
        |sym AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
        |vtx AS (SELECT DISTINCT a AS v FROM sym),
        |reach(src, dst) AS (
        | SELECT v, v FROM vtx
        | UNION
        | SELECT reach.src, s.b FROM reach JOIN sym s ON s.a = reach.dst)
        |SELECT src AS v, CAST(min(dst) AS BIGINT) AS label
        |FROM reach GROUP BY src""".stripMargin,

    "q79_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |  list_transform(v, x -> CASE WHEN scale > 0
        |    THEN CAST(round(x / scale) AS INTEGER) ELSE 0 END) AS qv FROM s)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        | CAST(list_aggregate(qv, 'sum') AS BIGINT) AS qsum,
        | list_min(qv) AS qmin, list_max(qv) AS qmax,
        | round(list_aggregate(list_transform(generate_series(1, len(v)),
        |   i -> (v[i] - CAST(qv[i] AS DOUBLE) * scale) * (v[i] - CAST(qv[i] AS DOUBLE) * scale)),
        |   'sum') / CAST(len(v) AS DOUBLE), 9) AS mse_r
        |FROM q""".stripMargin,

    "q80_two_stage_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qs AS (SELECT * FROM e WHERE vec_id < 10),
        |coarse AS (SELECT qs.vec_id AS query_id, e.vec_id AS corpus_id,
        |  round(list_dot_product(qs.v[1:16], e.v[1:16]) /
        |   (sqrt(list_dot_product(qs.v, qs.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS coarse_r,
        |  list_dot_product(qs.v, e.v) /
        |   (sqrt(list_dot_product(qs.v, qs.v)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
        | FROM qs, e WHERE qs.vec_id <> e.vec_id),
        |short AS (SELECT * FROM (
        |  SELECT query_id, corpus_id, cosine,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY coarse_r DESC, corpus_id) AS srank FROM coarse) x
        | WHERE srank <= 40)
        |SELECT query_id, rnk, corpus_id, cosine_r FROM (
        | SELECT query_id, corpus_id, round(cosine, 6) AS cosine_r,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cosine, 6) DESC, corpus_id) AS BIGINT) AS rnk
        | FROM short) y WHERE rnk <= 5""".stripMargin,

    "q81_phrase_query" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, pos, toks[pos] AS term FROM
        | (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos FROM t) x)
        |SELECT a.doc_id, count(*) AS n_occurrences
        |FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.term = 'table' AND b.term = 'hash'
        |GROUP BY a.doc_id""".stripMargin,

    "q82_fuzzy_term" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |v AS (SELECT term, count(*) AS doc_freq FROM
        | (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t) u GROUP BY term)
        |SELECT term, CAST(doc_freq AS BIGINT) AS doc_freq,
        | CAST(levenshtein(term, 'spark') AS BIGINT) AS dist
        |FROM v WHERE levenshtein(term, 'spark') <= 2""".stripMargin,

    "q87_cursor_page" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice < 500000.0
        |   OR (o_totalprice = 500000.0 AND o_orderkey > 100)
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q83_range_facet" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) * 50000 AS BIGINT) AS bucket,
        | count(*) AS cnt,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_total
        |FROM orders GROUP BY 1""".stripMargin,

    "q94_index_search" ->
      """SELECT p_partkey, p_name, CAST(p_size AS BIGINT) AS p_size
        |FROM part WHERE p_brand = 'Brand#23'""".stripMargin,

    "q95_index_delete" ->
      "SELECT p_partkey, p_brand FROM part WHERE p_brand <> 'Brand#23'",

    "q96_json_facet" ->
      """WITH b AS (SELECT p_brand, count(*) AS brand_cnt,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_price
        | FROM part GROUP BY p_brand),
        |top5 AS (SELECT * FROM b ORDER BY brand_cnt DESC, p_brand LIMIT 5),
        |sz AS (SELECT p_brand, p_size, count(*) AS size_cnt
        |       FROM part GROUP BY p_brand, p_size),
        |r AS (SELECT p_brand, p_size, size_cnt, row_number() OVER (
        |  PARTITION BY p_brand ORDER BY size_cnt DESC, p_size) AS rn FROM sz)
        |SELECT r.p_brand, brand_cnt, avg_price,
        | CAST(r.p_size AS BIGINT) AS p_size, size_cnt
        |FROM r JOIN top5 ON r.p_brand = top5.p_brand
        |WHERE rn <= 3""".stripMargin,

    "q97_spell_collate" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t),
        |v AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
        |q AS (SELECT unnest(['sparc', 'quary', 'mergee']) AS qterm),
        |c AS (SELECT qterm, term, levenshtein(qterm, term) AS dist, df
        |      FROM q CROSS JOIN v WHERE levenshtein(qterm, term) <= 2)
        |SELECT qterm, term AS suggestion, CAST(dist AS BIGINT) AS dist, df
        |FROM (SELECT *, row_number() OVER (
        |  PARTITION BY qterm ORDER BY dist, df DESC, term) AS rn FROM c) x
        |WHERE rn = 1""".stripMargin,

    "q98_function_query" ->
      """WITH m AS (SELECT max(o_orderdate) AS maxd FROM orders),
        |s AS (SELECT o_orderkey,
        |  round(o_totalprice * 90.0 / (90.0 +
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(maxd AS DATE))
        |      AS DOUBLE)), 6) AS score
        | FROM orders CROSS JOIN m)
        |SELECT o_orderkey, score FROM s
        |ORDER BY score DESC, o_orderkey LIMIT 20""".stripMargin,

    "q99_geofilt" ->
      """WITH c AS (SELECT c_custkey,
        |  CAST(c_custkey % 120 - 60 AS DOUBLE) * 0.7 AS lat,
        |  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) * 0.9 AS lon
        | FROM customer),
        |d AS (SELECT c_custkey,
        |  round(2.0 * 6371.0088 * asin(sqrt(
        |    sin(radians(lat - 10.0) / 2.0) * sin(radians(lat - 10.0) / 2.0)
        |    + cos(radians(10.0)) * cos(radians(lat))
        |      * sin(radians(lon - 20.0) / 2.0) * sin(radians(lon - 20.0) / 2.0)
        |  )), 4) AS dist_km
        | FROM c)
        |SELECT c_custkey, dist_km FROM d WHERE dist_km <= 3000.0""".stripMargin,

    "q100_collapse_expand" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | CAST(position AS BIGINT) AS position
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
        |  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS position
        | FROM orders) x
        |WHERE position <= 3""".stripMargin,

    "q89_boolean_query" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents)
        |SELECT doc_id FROM t
        |WHERE (list_contains(toks, 'spark') AND list_contains(toks, 'query'))
        |   OR (list_contains(toks, 'merge') AND NOT list_contains(toks, 'slow'))""".stripMargin,

    // mean = sum_q / cnt replicated with the identical double op tree
    "q90_field_stats" ->
      """SELECT l_returnflag, count(*) AS cnt,
        | min(l_quantity) AS min_q, max(l_quantity) AS max_q,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_q,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS mean_q
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q91_grouping" ->
      """SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM (
        | SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents) x WHERE rn = 1""".stripMargin,

    "q92_terms_prefix" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
        |SELECT term, count(*) AS doc_freq FROM dt
        |WHERE term LIKE 's%'
        |GROUP BY term
        |ORDER BY doc_freq DESC, term LIMIT 10""".stripMargin,

    "q93_boosted_query" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |  3 * len(list_filter(toks, x -> x = 'spark'))
        |    + len(list_filter(toks, x -> x = 'query')) AS score
        | FROM t)
        |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
        |WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q84_more_like_this" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(toks) AS term FROM t) u GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |ti AS (SELECT tf.doc_id, tf.term,
        |  CAST(tf.tf AS DOUBLE) * (ln((CAST(n_docs AS DOUBLE) + 1.0)
        |    / (CAST(doc_freq AS DOUBLE) + 1.0)) + 1.0) AS tf_idf
        | FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |interesting AS (SELECT term FROM (
        | SELECT term, row_number() OVER (
        |   ORDER BY round(tf_idf, 6) DESC, term) AS rn
        | FROM ti WHERE doc_id = 7) x WHERE rn <= 10),
        |ct AS (SELECT DISTINCT doc_id, term
        |       FROM (SELECT doc_id, unnest(toks) AS term FROM t) u WHERE doc_id <> 7)
        |SELECT doc_id, count(*) AS shared_terms
        |FROM ct JOIN interesting USING (term)
        |GROUP BY doc_id
        |ORDER BY shared_terms DESC, doc_id LIMIT 10""".stripMargin,

    "q85_highlight" ->
      """SELECT doc_id,
        | regexp_extract(lower(text),
        |  '((?:[a-z0-9]+ ){0,3}\bspark\b(?: [a-z0-9]+){0,3})', 1) AS snippet
        |FROM documents
        |WHERE lower(text) LIKE '%spark%'
        |  AND regexp_matches(lower(text), '\bspark\b')""".stripMargin,

    "q86_atomic_update" ->
      """WITH b AS (SELECT doc_id, lang, n_chars, string_split(source, '-') AS tags
        |           FROM documents),
        |u AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN 'reviewed' END AS u_lang,
        |  1000 AS u_inc, ['patched'] AS u_tags
        | FROM documents WHERE doc_id % 5 = 0)
        |SELECT b.doc_id, COALESCE(u.u_lang, b.lang) AS lang,
        | CAST(b.n_chars + COALESCE(u.u_inc, 0) AS BIGINT) AS n_chars,
        | array_to_string(CASE WHEN u.u_tags IS NULL THEN b.tags
        |   WHEN b.tags IS NULL THEN u.u_tags
        |   ELSE b.tags || u.u_tags END, '|') AS tags_joined
        |FROM b LEFT JOIN u USING (doc_id)""".stripMargin,

    "q101_block_join" ->
      """SELECT o_orderkey, o_orderpriority,
        | CAST(count(*) AS BIGINT) AS child_hits,
        | max(l_extendedprice) AS best_child
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_quantity >= 45
        |GROUP BY o_orderkey, o_orderpriority""".stripMargin,

    "q102_join_qparser" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_nationkey IN
        |  (SELECT s_nationkey FROM supplier WHERE s_acctbal > 6000)""".stripMargin,

    "q103_rerank" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS base_rank
        |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50)
        |SELECT o_orderkey, CAST(base_rank AS BIGINT) AS base_rank,
        |  o_totalprice + 10000.0 * CAST(o_custkey % 7 AS DOUBLE) AS rerank_score
        |FROM base
        |ORDER BY rerank_score DESC, o_orderkey LIMIT 10""".stripMargin,

    "q104_significant_terms" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t),
        |v AS (SELECT term, count(*) AS df,
        |        count(*) FILTER (WHERE doc_id % 7 = 0) AS fg_df
        |      FROM dt GROUP BY term)
        |SELECT term, CAST(df AS BIGINT) AS df, CAST(fg_df AS BIGINT) AS fg_df,
        |  CAST(fg_df * 1000 // df AS BIGINT) AS score_milli
        |FROM v WHERE df >= 20
        |ORDER BY score_milli DESC, term LIMIT 20""".stripMargin,

    "q105_suggest_infix" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
        |SELECT term, CAST(count(*) AS BIGINT) AS weight,
        |  min(doc_id) AS payload_doc
        |FROM dt WHERE term LIKE '%ar%'
        |GROUP BY term
        |ORDER BY weight DESC, term LIMIT 10""".stripMargin,

    "q106_interval_facet" ->
      """SELECT o_orderpriority,
        | CASE WHEN o_totalprice < 50000 THEN '[0,50k)'
        |      WHEN o_totalprice < 150000 THEN '[50k,150k)'
        |      WHEN o_totalprice < 300000 THEN '[150k,300k)'
        |      ELSE '[300k,*)' END AS interval,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q107_graph_walk" ->
      """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS paths
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 997 = 0))
        |GROUP BY l_suppkey""".stripMargin,

    "q108_index_dsv2" ->
      """SELECT p_partkey, p_name, CAST(p_size AS BIGINT) AS p_size
        |FROM part WHERE p_brand = 'Brand#23'""".stripMargin,

    "q109_index_upsert" ->
      """SELECT p_partkey, p_name || ' v2' AS p_name, p_brand
        |FROM part WHERE p_partkey % 10 = 0
        |UNION ALL
        |SELECT p_partkey, p_name, p_brand
        |FROM part WHERE p_partkey % 10 <> 0
        |UNION ALL
        |SELECT p_partkey + 1000000000 AS p_partkey,
        |  'new part ' || p_partkey AS p_name, p_brand
        |FROM part WHERE p_partkey % 97 = 0""".stripMargin,

    "q286_tiered_merge" ->
      """SELECT doc_id, lang,
        |  CAST(n_chars + 1000 * (1 + doc_id % 12) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,

    "q291_snapshot_read" ->
      """WITH live AS (
        |  SELECT CASE WHEN p_partkey % 7 = 0 THEN 'Brand#99' ELSE p_brand END AS p_brand,
        |         CASE WHEN p_partkey % 7 = 0 THEN 999 ELSE p_size END AS p_size
        |  FROM part
        |  UNION ALL
        |  SELECT 'Brand#NEW' AS p_brand, 111 AS p_size FROM range(50)
        |)
        |SELECT 'snapshot' AS src, p_brand, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(p_size) AS BIGINT) AS sum_size
        |FROM part GROUP BY p_brand
        |UNION ALL
        |SELECT 'live' AS src, p_brand, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(p_size) AS BIGINT) AS sum_size
        |FROM live GROUP BY p_brand""".stripMargin,

    "q110_luke_terms" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS doc_freq
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q111_realtime_get" ->
      """SELECT p_partkey, p_name, CAST(p_size AS BIGINT) AS p_size
        |FROM part WHERE p_partkey IN (7, 77, 177, 777)""".stripMargin,

    "q112_query_string" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE (lang = 'en' OR lang = 'de')
        |  AND regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)')
        |  AND NOT regexp_matches(lower(text), '(^|[^a-z0-9])merge([^a-z0-9]|$)')
        |  AND CAST(n_chars AS DOUBLE) BETWEEN 100.0 AND 400.0
        |  AND regexp_matches(source, '^src1.*$')""".stripMargin,

    "q113_analyzed_index" ->
      """SELECT doc_id, lang FROM documents
        |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)')""".stripMargin,

    "q114_bucketed_join" ->
      """SELECT o_orderkey, o_orderpriority,
        | CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_quantity >= 49""".stripMargin,

    "q115_dataset_split" ->
      """SELECT source,
        | CASE WHEN md5('split1-' || CAST(doc_id AS VARCHAR)) < 'cc' THEN 'train'
        |      WHEN md5('split1-' || CAST(doc_id AS VARCHAR)) < 'e6' THEN 'val'
        |      ELSE 'test' END AS split,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "q116_index_phrase" ->
      """SELECT doc_id, lang FROM documents
        |WHERE regexp_matches(lower(text),
        |  '(^|[^a-z0-9])spark[^a-z0-9]+query([^a-z0-9]|$)')""".stripMargin,

    "q117_solr_search" ->
      """WITH t AS (SELECT doc_id, lang, text,
        |             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |d AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t),
        |tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) u
        |       WHERE term IN ('spark', 'table') GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM d),
        |c AS (SELECT tf.doc_id, tf.term,
        |  ln(1.0 + (n_docs - CAST(doc_freq AS DOUBLE) + 0.5) / (CAST(doc_freq AS DOUBLE) + 0.5))
        |   * (CAST(tf AS DOUBLE) * 1.2 + CAST(tf AS DOUBLE))
        |   / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
        | FROM tf JOIN dfq USING (term) CROSS JOIN st),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN term = 'spark' THEN c END) AS c1,
        |  max(CASE WHEN term = 'table' THEN c END) AS c2
        | FROM c GROUP BY doc_id),
        |hits AS (SELECT doc_id, lang FROM t
        |  WHERE regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)')
        |    AND regexp_matches(lower(text), '(^|[^a-z0-9])table([^a-z0-9]|$)')
        |    AND lang = 'en')
        |SELECT h.doc_id, h.lang,
        | round(COALESCE(c1, 0.0) + COALESCE(c2, 0.0), 6) AS score_r
        |FROM hits h LEFT JOIN wide USING (doc_id)
        |ORDER BY score_r DESC, CAST(h.doc_id AS VARCHAR) LIMIT 10""".stripMargin,

    "q118_index_count" ->
      """SELECT 'all' AS scope, CAST(count(*) AS BIGINT) AS cnt FROM part
        |UNION ALL
        |SELECT 'brand23' AS scope, CAST(count(*) AS BIGINT) AS cnt
        |FROM part WHERE p_brand = 'Brand#23'""".stripMargin,

    "q119_index_range" ->
      """SELECT p_partkey, p_name, p_brand
        |FROM part WHERE p_name >= 'm' AND p_name < 'q'""".stripMargin,

    "q120_index_topn" ->
      """SELECT p_partkey, p_name FROM part WHERE p_brand = 'Brand#23'
        |ORDER BY p_name DESC, CAST(p_partkey AS VARCHAR) ASC LIMIT 15""".stripMargin,

    "q121_index_facet" ->
      "SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY p_brand",

    "q122_delete_by_query" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE NOT (p_brand = 'Brand#23' OR p_name LIKE 'm%')""".stripMargin,

    "q123_index_stats" ->
      """SELECT min(p_name) AS name_lo, max(p_name) AS name_hi,
        | CAST(count(*) AS BIGINT) AS cnt FROM part""".stripMargin,

    "q124_index_fq_facet" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt FROM part
        |WHERE p_name >= 'm' AND p_name < 'q' GROUP BY p_brand""".stripMargin,

    "q125_index_bool" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_brand = 'Brand#23' OR p_name LIKE 'm%'""".stripMargin,

    "q126_index_must" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE (p_brand = 'Brand#23' OR p_brand = 'Brand#34')
        |  AND p_name >= 'a' AND p_name < 'n'""".stripMargin,

    "q127_index_not" ->
      """SELECT p_partkey, p_brand, p_type AS std_type FROM part
        |WHERE p_brand <> 'Brand#23' AND p_type LIKE 'STANDARD%'""".stripMargin,

    "q128_index_pivot" ->
      """SELECT p_brand, CAST(p_size AS VARCHAR) AS p_size,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM part WHERE p_brand LIKE 'Brand#1%'
        |GROUP BY 1, 2""".stripMargin,

    "q129_index_json_facet" ->
      """SELECT CAST(p_size AS VARCHAR) AS p_size,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       min(p_brand) AS min_brand, max(p_brand) AS max_brand
        |FROM part WHERE p_brand LIKE 'Brand#2%'
        |GROUP BY 1""".stripMargin,

    "q130_index_stats_fq" ->
      """SELECT min(p_name) AS min_name, max(p_name) AS max_name,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM part WHERE p_brand = 'Brand#23'""".stripMargin,

    "q131_index_range_facet" ->
      """WITH buckets AS (SELECT CAST(x * 10 AS DOUBLE) AS bucket FROM range(0, 6) t(x)),
        |counts AS (
        |  SELECT CAST(floor(p_size / 10.0) * 10 AS DOUBLE) AS bucket,
        |         count(*) AS c
        |  FROM part WHERE p_brand = 'Brand#23' GROUP BY 1)
        |SELECT b.bucket, CAST(coalesce(c.c, 0) AS BIGINT) AS cnt
        |FROM buckets b LEFT JOIN counts c USING (bucket)""".stripMargin,

    "q132_index_num_range" ->
      """SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(p_retailprice AS DOUBLE) AS p_price
        |FROM part
        |WHERE p_size >= 10 AND p_size < 20
        |  AND CAST(p_retailprice AS DOUBLE) < 1500.0""".stripMargin,

    "q133_index_num_stats" ->
      """SELECT CAST(p_size AS BIGINT) AS p_size,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       min(CAST(p_retailprice AS DOUBLE)) AS min_price,
        |       max(CAST(p_retailprice AS DOUBLE)) AS max_price
        |FROM part WHERE p_size <= 10 GROUP BY 1""".stripMargin,

    "q134_index_time_range" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_day,
        |       o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-06-01'""".stripMargin,

    "q135_index_sum_stats" ->
      """SELECT CAST(sum(p_size) AS BIGINT) AS sum_size,
        |       CAST(count(p_size) AS BIGINT) AS cnt_size,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM part WHERE p_brand = 'Brand#23'""".stripMargin,

    "q136_index_unique" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(count(DISTINCT p_size) AS BIGINT) AS uniq_size
        |FROM part WHERE p_brand LIKE 'Brand#1%'
        |GROUP BY 1""".stripMargin,

    // Mirrors the engine's percentile_disc walk step-for-step: same
    // cumulative-sum window, same double threshold arithmetic.
    "q137_index_percentiles" ->
      """WITH vals AS (
        |  SELECT CAST(p_retailprice AS DOUBLE) AS v, count(*) AS c
        |  FROM part WHERE p_brand = 'Brand#23' GROUP BY 1),
        |cum AS (
        |  SELECT v, sum(c) OVER (ORDER BY v) AS cumc, sum(c) OVER () AS tot
        |  FROM vals)
        |SELECT CAST(t.p AS DOUBLE) AS p, min(v) AS value
        |FROM cum, (VALUES (0.25),(0.5),(0.75),(0.95)) t(p)
        |WHERE cumc >= CAST(t.p AS DOUBLE) * tot
        |GROUP BY 1""".stripMargin,

    "q138_index_group_sum" ->
      """SELECT p_brand, CAST(sum(p_size) AS BIGINT) AS sum_size,
        |       CAST(count(p_size) AS BIGINT) AS cnt_size,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM part WHERE p_size >= 10 AND p_size < 40
        |GROUP BY 1""".stripMargin,

    // Same tokenizer as the index analyzer: lowercase, [a-z0-9]+ runs;
    // list_distinct = one count per (doc, token) pair.
    "q139_token_facet" ->
      """SELECT t AS term, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT doc_id,
        |        unnest(list_distinct(regexp_split_to_array(lower(text), '[^a-z0-9]+'))) AS t
        |      FROM documents WHERE lang = 'en')
        |WHERE t <> ''
        |GROUP BY 1""".stripMargin,

    "q140_split_shard" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id, c_name, c_mktsegment
        |FROM customer""".stripMargin,

    // analyzed-term membership under the same lowercase-alphanumeric
    // tokenization the index writer uses
    "q299_index_analyzed_filter" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
        |WHERE list_contains(
        |  regexp_split_to_array(lower(text), '[^a-z0-9]+'), 'spark')""".stripMargin,

    // analyzed MULTIVALUED term membership: any of the two label
    // values whose token stream (same lowercase-alphanumeric
    // tokenization) contains the term — the match comes only via the
    // uppercase p_type value's case-folded tokens
    "q304_index_analyzed_array" ->
      """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_brand
        |FROM part
        |WHERE len(list_filter([p_name, p_type], v -> list_contains(
        |  regexp_split_to_array(lower(v), '[^a-z0-9]+'), 'promo'))) > 0""".stripMargin,

    // Replays the compiled plan: top-5 brands (count desc, brand
    // tie-break), avg over exact integer sum, top-3 containers per
    // brand — flattened.
    "q141_json_facet_api" ->
      """WITH parent AS (
        |  SELECT p_brand, count(*) AS cnt,
        |         CAST(sum(p_size) AS DOUBLE) / count(p_size) AS avg_size
        |  FROM part GROUP BY 1),
        |ptop AS (
        |  SELECT *, row_number() OVER (ORDER BY cnt DESC, p_brand) AS rk
        |  FROM parent),
        |child AS (
        |  SELECT p_brand, p_type, count(*) AS types_cnt
        |  FROM part GROUP BY 1, 2),
        |ctop AS (
        |  SELECT *, row_number() OVER (PARTITION BY p_brand
        |            ORDER BY types_cnt DESC, p_type) AS rk
        |  FROM child)
        |SELECT p.p_brand, CAST(p.cnt AS BIGINT) AS cnt, p.avg_size,
        |       c.p_type, CAST(c.types_cnt AS BIGINT) AS types_cnt
        |FROM ptop p JOIN ctop c USING (p_brand)
        |WHERE p.rk <= 5 AND c.rk <= 3""".stripMargin,

    // Pure integer math end-to-end (// is DuckDB integer division);
    // only the final mean divides, exactly as the engine does.
    "q142_unigram_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) u WHERE t <> ''),
        |counts AS (SELECT t, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt, count(*) AS v FROM counts),
        |costs AS (SELECT t, ((tt + v) * 1000) // (c + 1) AS cost FROM counts, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(cost) AS BIGINT) AS rarity_sum,
        |       CAST(sum(cost) AS DOUBLE) / count(*) AS avg_rarity
        |FROM toks JOIN costs USING (t)
        |GROUP BY 1""".stripMargin,

    // q84's oracle verbatim — the index-served path must produce the
    // identical ranking from postings-derived statistics.
    "q143_index_mlt" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(toks) AS term FROM t) u GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |ti AS (SELECT tf.doc_id, tf.term,
        |  CAST(tf.tf AS DOUBLE) * (ln((CAST(n_docs AS DOUBLE) + 1.0)
        |    / (CAST(doc_freq AS DOUBLE) + 1.0)) + 1.0) AS tf_idf
        | FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |interesting AS (SELECT term FROM (
        | SELECT term, row_number() OVER (
        |   ORDER BY round(tf_idf, 6) DESC, term) AS rn
        | FROM ti WHERE doc_id = 7) x WHERE rn <= 10),
        |ct AS (SELECT DISTINCT doc_id, term
        |       FROM (SELECT doc_id, unnest(toks) AS term FROM t) u WHERE doc_id <> 7)
        |SELECT doc_id, count(*) AS shared_terms
        |FROM ct JOIN interesting USING (term)
        |GROUP BY doc_id
        |ORDER BY shared_terms DESC, doc_id LIMIT 10""".stripMargin,

    // 5-token windows; a window occurring >=2 times corpus-wide marks
    // its 5 token positions; covered tokens drop from the rebuilt
    // text. lead(...,4) IS NULL only past the partition end (tokens
    // themselves are never NULL), so `whole` marks exactly the
    // full-width windows.
    "q144_substring_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(l) AS tok, unnest(range(len(l))) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |),
        |grams AS (
        |  SELECT doc_id, pos,
        |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w || ' ' ||
        |      lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS gram,
        |    lead(tok,4) OVER w IS NOT NULL AS whole
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n
        |    FROM grams WHERE whole) WHERE n >= 2
        |),
        |cov AS (
        |  SELECT t.doc_id, t.pos, t.tok,
        |    max(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY t.doc_id ORDER BY t.pos
        |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS covered
        |  FROM toks t LEFT JOIN dup d ON t.doc_id = d.doc_id AND t.pos = d.pos
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(covered) AS BIGINT) AS n_dup_tokens,
        |  coalesce(string_agg(CASE WHEN covered = 0 THEN tok END, ' ' ORDER BY pos), '')
        |    AS text_deduped
        |FROM cov GROUP BY doc_id""".stripMargin,

    // axis-sign bucket = bit j set iff dim j+1 >= 0 (1-based lists on
    // both engines); within a bucket, b is a dup iff some a < b has
    // cosine >= 0.4; max over qualifying pairs is order-independent
    "q145_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id, v,
        |  (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END) + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END) +
        |  (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) +
        |  (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END) + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END) +
        |  (CASE WHEN v[7] >= 0 THEN 64 ELSE 0 END) + (CASE WHEN v[8] >= 0 THEN 128 ELSE 0 END)
        |    AS cluster
        | FROM e),
        |d AS (SELECT id_b AS vec_id, max(cos) AS mx FROM (
        |  SELECT b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM c a JOIN c b ON a.cluster = b.cluster AND a.vec_id < b.vec_id) p
        | WHERE cos >= 0.4 GROUP BY id_b)
        |SELECT c.vec_id, CAST(cluster AS BIGINT) AS cluster,
        |  d.vec_id IS NOT NULL AS is_dup, round(d.mx, 6) AS max_prior_cos_r
        |FROM c LEFT JOIN d ON c.vec_id = d.vec_id""".stripMargin,

    // word-frequency-weighted adjacent character pairs; the (cnt desc,
    // a, b) total order makes the top-20 cut deterministic
    "q146_bpe_pairs" ->
      """WITH toks AS (SELECT t AS word FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) u WHERE t <> ''),
        |wf AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
        |chars AS (SELECT freq, string_split(word, '') AS cs FROM wf),
        |pairs AS (SELECT unnest(cs[1:len(cs)-1]) AS a, unnest(cs[2:len(cs)]) AS b, freq
        |          FROM chars WHERE len(cs) >= 2)
        |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM pairs GROUP BY a, b
        |ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin,

    // Unigram-LM seed vocabulary: substring counting is pure integer;
    // top-300 by (cnt, piece) UNION all single chars (UNION dedups the
    // overlap). Lateral generate_series plays Spark's nested transform.
    "q310_unigram_seed" ->
      s"""WITH $unigramSeedBody
         |SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM seed0
         |ORDER BY cnt DESC, piece""".stripMargin,

    // Unigram-LM first E-step: the oracle ENUMERATES every segmentation
    // of each word (recursive CTE over the seed pieces) and takes the
    // (score desc, seg asc) argmax — the Spark side's Viterbi DP must
    // land on the identical score AND path, milli-integer exact
    "q311_unigram_estep" ->
      s"""WITH RECURSIVE $unigramSeedBody,
         |$unigramEstepBody
         |SELECT w.word, CAST(w.freq AS BIGINT) AS freq,
         |  b.score AS score_milli, b.seg AS seg
         |FROM w JOIN best b ON b.word = w.word AND b.rn = 1
         |ORDER BY freq DESC, w.word""".stripMargin,

    // byte fallback: the forced <0x37> arc (the only way through the
    // OOV '7' prefix) + the SAME enumerated argmax as q311; the
    // decoded column replays the byte→char restore
    "q340_unigram_bytefallback" ->
      s"""WITH RECURSIVE $unigramSeedBody,
         |$unigramEstepBody
         |SELECT w.word, CAST(w.freq AS BIGINT) AS freq,
         |  '<0x37> ' || b.seg AS seg, '7' || w.word AS decoded
         |FROM w JOIN best b ON b.word = w.word AND b.rn = 1
         |ORDER BY freq DESC, w.word""".stripMargin,

    // Unigram-LM M-step re-estimate: expected piece counts over the
    // enumerated argmax segmentations, freq-weighted, top-50
    "q312_unigram_mstep" ->
      s"""WITH RECURSIVE $unigramSeedBody,
         |$unigramEstepBody,
         |chosen AS (
         |  SELECT w.freq, b.seg FROM w
         |  JOIN best b ON b.word = w.word AND b.rn = 1),
         |mstep AS (
         |  SELECT unnest(string_split(seg, ' ')) AS piece, freq FROM chosen)
         |SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM mstep GROUP BY piece
         |ORDER BY cnt DESC, piece LIMIT 50""".stripMargin,

    // Matryoshka: the prefix-cosine stage is list slices of the q25
    // cosine chain (same fold, 16 dims), the re-rank the full chain
    "q335_matryoshka_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  CASE WHEN list_dot_product(q.v[1:16], q.v[1:16]) = 0
        |        OR list_dot_product(c.v[1:16], c.v[1:16]) = 0 THEN -2.0
        |  ELSE list_dot_product(q.v[1:16], c.v[1:16]) /
        |   (sqrt(list_dot_product(q.v[1:16], q.v[1:16]))
        |    * sqrt(list_dot_product(c.v[1:16], c.v[1:16]))) END AS pcos
        | FROM q, e c WHERE q.vec_id <> c.vec_id),
        |cand AS (SELECT query_id, corpus_id FROM (
        |  SELECT query_id, corpus_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY pcos DESC, corpus_id) AS pr
        |  FROM p) WHERE pr <= 32),
        |r AS (SELECT cand.query_id, cand.corpus_id,
        |  list_dot_product(qv.v, cv.v) /
        |   (sqrt(list_dot_product(qv.v, qv.v))
        |    * sqrt(list_dot_product(cv.v, cv.v))) AS cosine
        | FROM cand JOIN e qv ON qv.vec_id = cand.query_id
        | JOIN e cv ON cv.vec_id = cand.corpus_id)
        |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
        | SELECT query_id, corpus_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
        | FROM r) t WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

    // the binary-quantization pipeline replayed whole: identical
    // sign-pack (acc*2+bit over 32-bit words), Hamming = popcount of
    // XOR per word, candidate cut by (hamming, id), exact-cosine
    // re-rank over the candidates — all integer until the final
    // cosine, which follows the q25 double discipline
    "q317_binary_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |c AS (SELECT vec_id,
        |  [list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN v[0 + b + 1] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END for b in generate_series(0, 31)]), (acc, x) -> acc * 2 + x),
        |   list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN v[32 + b + 1] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END for b in generate_series(0, 31)]), (acc, x) -> acc * 2 + x)] AS code FROM e),
        |q AS (SELECT * FROM c WHERE vec_id < 10),
        |h AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  bit_count(xor(q.code[1], c.code[1]))
        |    + bit_count(xor(q.code[2], c.code[2])) AS ham
        | FROM q JOIN c ON c.vec_id <> q.vec_id),
        |cand AS (SELECT query_id, corpus_id FROM (
        |  SELECT query_id, corpus_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY ham, corpus_id) AS hr FROM h) t
        |  WHERE hr <= 32),
        |r AS (SELECT cand.query_id, cand.corpus_id,
        |  list_dot_product(qv.v, cv.v) /
        |   (sqrt(list_dot_product(qv.v, qv.v))
        |    * sqrt(list_dot_product(cv.v, cv.v))) AS cosine
        | FROM cand
        | JOIN e qv ON qv.vec_id = cand.query_id
        | JOIN e cv ON cv.vec_id = cand.corpus_id)
        |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
        | SELECT query_id, corpus_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
        | FROM r) t WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

    // one oracle, two read paths: the persisted code store must
    // serve exactly the batch pipeline's answer
    "q318_binary_ann_persisted" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |c AS (SELECT vec_id,
        |  [list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN v[0 + b + 1] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END for b in generate_series(0, 31)]), (acc, x) -> acc * 2 + x),
        |   list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN v[32 + b + 1] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END for b in generate_series(0, 31)]), (acc, x) -> acc * 2 + x)] AS code FROM e),
        |q AS (SELECT * FROM c WHERE vec_id < 10),
        |h AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  bit_count(xor(q.code[1], c.code[1]))
        |    + bit_count(xor(q.code[2], c.code[2])) AS ham
        | FROM q JOIN c ON c.vec_id <> q.vec_id),
        |cand AS (SELECT query_id, corpus_id FROM (
        |  SELECT query_id, corpus_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY ham, corpus_id) AS hr FROM h) t
        |  WHERE hr <= 32),
        |r AS (SELECT cand.query_id, cand.corpus_id,
        |  list_dot_product(qv.v, cv.v) /
        |   (sqrt(list_dot_product(qv.v, qv.v))
        |    * sqrt(list_dot_product(cv.v, cv.v))) AS cosine
        | FROM cand
        | JOIN e qv ON qv.vec_id = cand.query_id
        | JOIN e cv ON cv.vec_id = cand.corpus_id)
        |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
        | SELECT query_id, corpus_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
        | FROM r) t WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

    // the bucketed IndexBinaryIVF pipeline replayed WHOLE — coarse
    // training included: md5-ordered seed pick, (hamming, i) sample
    // assignment, per-bit majority vote (ties to 1), bit-repack,
    // full-corpus assignment, nprobe probe ranking, in-cell Hamming
    // candidate cut, exact-cosine re-rank — pure integer until the
    // final cosine
    "q321_binary_ivf" -> binaryIvfSql("", "TRUE"),

    // the add path on the frozen binary quantizer: training replays
    // over the BUILD cohort only (the evens), assignment over
    // everyone — an add that re-trained, re-voted, or mis-assigned
    // against the frozen centroids hash-fails
    "q325_binary_ivf_add" -> binaryIvfSql("WHERE vec_id % 2 = 0", "TRUE"),

    // filtered search on the bucketed store: the allowed set
    // restricts candidates AFTER probe pruning, before the Hamming
    // cut — exactly the replay's predicate position
    "q326_binary_ivf_filtered" -> binaryIvfSql("", "t.vec_id % 3 = 0"),

    // same enumeration oracle as q312 — the distributed E-step kernel
    // must land on the identical M-step counts
    "q316_unigram_mstep_dist" ->
      s"""WITH RECURSIVE $unigramSeedBody,
         |$unigramEstepBody,
         |chosen AS (
         |  SELECT w.freq, b.seg FROM w
         |  JOIN best b ON b.word = w.word AND b.rn = 1),
         |mstep AS (
         |  SELECT unnest(string_split(seg, ' ')) AS piece, freq FROM chosen)
         |SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM mstep GROUP BY piece
         |ORDER BY cnt DESC, piece LIMIT 50""".stripMargin,

    // integer-space bigram surprise: ((c(prev)+V)*1000) // (c(prev,cur)+1)
    // summed per doc; docs with < 2 tokens have no bigrams on either
    // engine
    "q147_bigram_rarity" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        |  FROM documents),
        |uni AS (SELECT t, count(*) AS c FROM (SELECT unnest(l) AS t FROM d) u GROUP BY 1),
        |v AS (SELECT count(*) AS vv FROM uni),
        |big AS (SELECT doc_id, unnest(l[1:len(l)-1]) AS a, unnest(l[2:len(l)]) AS b
        |        FROM d WHERE len(l) >= 2),
        |bc AS (SELECT a, b, count(*) AS cb FROM big GROUP BY a, b),
        |costs AS (SELECT bc.a, bc.b, ((uni.c + vv) * 1000) // (cb + 1) AS cost
        |          FROM bc JOIN uni ON bc.a = uni.t CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(cost) AS BIGINT) AS bigram_cost_sum,
        |  CAST(sum(cost) AS DOUBLE) / count(*) AS avg_bigram_cost
        |FROM big JOIN costs USING (a, b) GROUP BY doc_id""".stripMargin,

    // the lang fq is tagged and excluded for this facet; only the
    // n_chars range applies
    "q148_facet_exclusion" ->
      """SELECT lang, count(*) AS cnt FROM documents
        |WHERE n_chars >= 300 GROUP BY lang""".stripMargin,

    "q149_facet_query" ->
      """SELECT 'short' AS facet_query, count(*) AS cnt FROM documents
        |  WHERE lang = 'en' AND n_chars <= 299
        |UNION ALL
        |SELECT 'long' AS facet_query, count(*) AS cnt FROM documents
        |  WHERE lang = 'en' AND n_chars >= 300""".stripMargin,

    "q150_stream_rollup" ->
      """SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars, count(*) AS cnt
        |FROM documents WHERE n_chars >= 100 GROUP BY lang""".stripMargin,

    // ids join/sort as STRINGS (the store's id type): the varchar cast
    // matters for the asc tie-break
    "q151_stream_join_top" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang, n_chars
        |FROM documents WHERE lang = 'en'
        |ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR) ASC LIMIT 10""".stripMargin,

    "q152_stream_unique" ->
      """SELECT id, lang, n_chars FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR) ASC) AS rn
        |  FROM documents) t WHERE rn = 1""".stripMargin,

    // candidates = analyzed-term match (q113's boundary-regex
    // convention); integer features; one fixed-order double chain
    "q153_ltr_rerank" ->
      """SELECT doc_id, hits, len_chars,
        |  round(2.0 * hits + 0.001 * len_chars, 6) AS ltr_score_r
        |FROM (
        |  SELECT doc_id,
        |    (length(text) - length(replace(text, 'spark', ''))) // 5 AS hits,
        |    CAST(length(text) AS BIGINT) AS len_chars
        |  FROM documents
        |  WHERE lang = 'en'
        |    AND regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)')) t
        |ORDER BY ltr_score_r DESC, doc_id ASC LIMIT 10""".stripMargin,

    // quality gate = q19's keep expression with the raised floor;
    // exact dedup = min-id per q20 fingerprint among quality survivors
    "q154_corpus_audit" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 5),
        |q AS (
        |  SELECT doc_id, text,
        |    (CAST(len(toks) AS BIGINT) >= 40
        |     AND (CASE WHEN len(toks) > 0
        |       THEN CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
        |         / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) BETWEEN 2.0 AND 12.0
        |     AND (CASE WHEN length(text) > 0
        |       THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |         / CAST(length(text) AS DOUBLE) ELSE 0.0 END) <= 0.3) AS keep
        |  FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |        FROM src) t),
        |qd AS (SELECT doc_id, 'quality' AS stage FROM q WHERE NOT keep),
        |k AS (SELECT doc_id,
        |        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |      FROM q WHERE keep),
        |ed AS (SELECT doc_id, 'exact_dedup' AS stage FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM k) t WHERE rn > 1)
        |SELECT * FROM qd UNION ALL SELECT * FROM ed""".stripMargin,

    "q155_solr_sql" ->
      """SELECT source, CAST(min(n_chars) AS BIGINT) AS min_chars, count(*) AS cnt
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,

    "q156_stream_having" ->
      """SELECT source, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars, count(*) AS cnt
        |FROM documents GROUP BY source
        |HAVING sum(n_chars) > 7400 AND count(*) < 26""".stripMargin,

    // ids are store strings; the anti-join key and output keep the
    // varchar form
    "q157_stream_complement" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang, n_chars
        |FROM documents
        |WHERE lang = 'en'
        |  AND NOT regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)')""".stripMargin,

    // pack_id = floor(exclusive running n_chars / 2000) per source in
    // doc_id order; packs assemble in the same order
    "q159_pack_texts" ->
      """WITH p AS (
        |  SELECT source, doc_id, text, n_chars,
        |    CAST(floor(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT)
        |      AS pack_id
        |  FROM documents)
        |SELECT source, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS pack_cost,
        |  string_agg(text, '<|eod|>' ORDER BY doc_id) AS packed_text
        |FROM p GROUP BY source, pack_id""".stripMargin,

    // rate_g = min(1, 0.5*T/denom / sqrt(n_g/T)); denom = ordered
    // window sum over groups (source asc) — the identical double
    // addition sequence on both engines; the md5 coin divides the
    // first 8 hex chars by 2^32 (exact)
    "q160_temperature_sample" ->
      """WITH g AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS T FROM g),
        |r AS (SELECT source, n,
        |    1.0 / sqrt(CAST(n AS DOUBLE) / CAST(T AS DOUBLE)) AS factor,
        |    sum(CAST(n AS DOUBLE) * (1.0 / sqrt(CAST(n AS DOUBLE) / CAST(T AS DOUBLE))))
        |      OVER (ORDER BY source ASC ROWS BETWEEN UNBOUNDED PRECEDING
        |            AND UNBOUNDED FOLLOWING) AS denom,
        |    T
        |  FROM g CROSS JOIN t),
        |rates AS (SELECT source,
        |    least(1.0, 0.5 * CAST(T AS DOUBLE) / denom * factor) AS rate FROM r)
        |SELECT d.doc_id, d.source FROM documents d JOIN rates USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      / 4294967296.0 < rate""".stripMargin,

    "q162_delta_dedup" ->
      """WITH corpus AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 400),
        |batch AS (
        |  SELECT doc_id, source, text FROM documents WHERE doc_id >= 400
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, source, text FROM documents WHERE doc_id < 10)
        |SELECT doc_id, source FROM batch
        |WHERE md5(text) NOT IN (SELECT fp FROM corpus)""".stripMargin,

    "q171_facet_prefix" ->
      """SELECT source, count(*) AS cnt FROM documents
        |WHERE source LIKE 'src1%' GROUP BY source
        |ORDER BY source ASC LIMIT 20""".stripMargin,

    // the date-math bounds resolved by hand against the query's fixed
    // anchor 2024-01-25T13:45:00Z: NOW-10DAYS/DAY and NOW/HOUR
    "q172_date_math" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-25 13:00:00'
        |GROUP BY event_type""".stripMargin,

    "q173_export" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, source, n_chars
        |FROM documents
        |WHERE lang = 'en' AND n_chars BETWEEN 300 AND 500""".stripMargin,

    // q93's organic scoring with the elevation reorder replayed: pin
    // positions from the literal config, exclusion before the cut
    "q174_elevation" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |  3 * len(list_filter(toks, x -> x = 'spark'))
        |    + len(list_filter(toks, x -> x = 'query')) AS score
        | FROM t),
        |m AS (SELECT doc_id, CAST(score AS BIGINT) AS score,
        |  CASE CAST(doc_id AS VARCHAR) WHEN '17' THEN 1 WHEN '3' THEN 2 END AS pin
        | FROM s WHERE score > 0 AND CAST(doc_id AS VARCHAR) <> '5')
        |SELECT doc_id, score, CAST(pin IS NOT NULL AS BIGINT) AS elevated FROM m
        |ORDER BY COALESCE(pin, 9223372036854775807), score DESC, doc_id
        |LIMIT 10""".stripMargin,

    "q175_stream_hash_join" ->
      """WITH l AS (SELECT CAST(doc_id AS VARCHAR) AS id, source, n_chars
        |           FROM documents WHERE lang = 'en' AND n_chars >= 380),
        |r AS (SELECT CAST(doc_id AS VARCHAR) AS id, lang
        |      FROM documents WHERE n_chars >= 500 AND lang IN ('en','de'))
        |SELECT l.id, l.source, l.n_chars, r.lang
        |FROM l LEFT JOIN r USING (id)""".stripMargin,

    "q176_stream_facet" ->
      """SELECT lang, source, count(*) AS cnt FROM documents
        |WHERE n_chars >= 250 GROUP BY lang, source
        |ORDER BY cnt DESC, lang ASC, source ASC LIMIT 12""".stripMargin,

    // same planted urls; blocked = exact host or dot-anchored suffix
    "q177_domain_blocklist" ->
      """WITH u AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END
        |      || 'example' || (doc_id % 40) || '.com' AS host
        |  FROM documents),
        |kept AS (
        |  SELECT host FROM u WHERE NOT (
        |    host IN ('example7.com', 'example23.com', 'example38.com')
        |    OR host LIKE '%.example7.com'
        |    OR host LIKE '%.example23.com'
        |    OR host LIKE '%.example38.com'))
        |SELECT host, count(*) AS cnt FROM kept GROUP BY host""".stripMargin,

    // both retriever rank lists replayed (q93's integer tf scoring,
    // q25's cosine chain), fused with BIGINT floor division
    "q178_rrf_fusion" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |lex AS (SELECT doc_id,
        |  3 * len(list_filter(toks, x -> x = 'spark'))
        |    + len(list_filter(toks, x -> x = 'query')) AS score
        | FROM t),
        |lexr AS (SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        |  FROM lex WHERE score > 0 QUALIFY rnk <= 50),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v FROM e WHERE vec_id = 0),
        |p AS (SELECT e.vec_id AS id,
        |  list_dot_product(q.v, e.v) /
        |   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
        | FROM q, e WHERE e.vec_id <> 0),
        |vecr AS (SELECT id, row_number() OVER (ORDER BY cosine DESC, id) AS rnk
        |  FROM p QUALIFY rnk <= 50),
        |u AS (SELECT id, 1000000 // (60 + rnk) AS part FROM lexr
        |      UNION ALL SELECT id, 1000000 // (60 + rnk) FROM vecr)
        |SELECT id, CAST(sum(part) AS BIGINT) AS rrf_score,
        |       count(*) AS n_lists
        |FROM u GROUP BY id
        |ORDER BY rrf_score DESC, id LIMIT 15""".stripMargin,

    // the composed hybrid request: q117's BM25 replay (single-term
    // form) ranks the lexical leg, q319's scarce-exact knn replay
    // ranks the vector leg (query vector = vec 0's embedding; no
    // exclusion — the request id is -1), q178's integer fusion
    // combines them; string-id tie-breaks throughout (the segment
    // store's id space)
    "q327_hybrid_search" ->
      """WITH t AS (SELECT doc_id, text,
        |             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |d AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t),
        |tf AS (SELECT doc_id, count(*) AS tf, min(dl) AS dl
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) u
        |       WHERE term = 'spark' GROUP BY doc_id),
        |dfq AS (SELECT count(*) AS doc_freq FROM tf),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM d),
        |sc AS (SELECT tf.doc_id,
        |  round(ln(1.0 + (n_docs - CAST(doc_freq AS DOUBLE) + 0.5)
        |      / (CAST(doc_freq AS DOUBLE) + 0.5))
        |   * (CAST(tf AS DOUBLE) * 1.2 + CAST(tf AS DOUBLE))
        |   / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
        |    AS score_r
        | FROM tf CROSS JOIN dfq CROSS JOIN st),
        |hits AS (SELECT doc_id FROM t
        |  WHERE regexp_matches(lower(text),
        |    '(^|[^a-z0-9])spark([^a-z0-9]|$)')),
        |lexr AS (SELECT CAST(h.doc_id AS VARCHAR) AS id,
        |    row_number() OVER (ORDER BY COALESCE(score_r, 0.0) DESC,
        |      CAST(h.doc_id AS VARCHAR)) AS rnk
        |  FROM hits h LEFT JOIN sc USING (doc_id)
        |  QUALIFY rnk <= 50),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |qv AS (SELECT v FROM e WHERE vec_id = 0),
        |p AS (SELECT c.vec_id AS cid,
        |  list_dot_product(qv.v, c.v) /
        |   (sqrt(list_dot_product(qv.v, qv.v))
        |    * sqrt(list_dot_product(c.v, c.v))) AS cosine
        | FROM qv, e c WHERE c.vec_id % 13 = 0),
        |annr AS (SELECT CAST(cid AS VARCHAR) AS id,
        |    row_number() OVER (ORDER BY cosine DESC, cid) AS rnk
        |  FROM p QUALIFY rnk <= 10),
        |u AS (SELECT id, 1000000 // (60 + rnk) AS part FROM lexr
        |      UNION ALL SELECT id, 1000000 // (60 + rnk) FROM annr)
        |SELECT CAST(id AS BIGINT) AS id, CAST(sum(part) AS BIGINT)
        |    AS rrf_score, count(*) AS n_lists
        |FROM u GROUP BY id
        |ORDER BY rrf_score DESC, CAST(id AS VARCHAR) LIMIT 15""".stripMargin,

    // q327's six legs replayed (three lexical BM25 + three fq-exact
    // {!knn}) and fused by the KEYED integer RRF — the batch surface
    "q339_hybrid_batch" -> {
      def lexLeg(r: Int, term: String) =
        s"""tf$r AS (SELECT doc_id, count(*) AS tf, min(dl) AS dl
           |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) u
           |       WHERE term = '$term' GROUP BY doc_id),
           |dfq$r AS (SELECT count(*) AS doc_freq FROM tf$r),
           |sc$r AS (SELECT tf$r.doc_id,
           |  round(ln(1.0 + (n_docs - CAST(doc_freq AS DOUBLE) + 0.5)
           |      / (CAST(doc_freq AS DOUBLE) + 0.5))
           |   * (CAST(tf AS DOUBLE) * 1.2 + CAST(tf AS DOUBLE))
           |   / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
           |    AS score_r
           | FROM tf$r CROSS JOIN dfq$r CROSS JOIN st),
           |hits$r AS (SELECT doc_id FROM t
           |  WHERE regexp_matches(lower(text),
           |    '(^|[^a-z0-9])$term([^a-z0-9]|$$)')),
           |lexr$r AS (SELECT CAST(h.doc_id AS VARCHAR) AS id,
           |    row_number() OVER (ORDER BY COALESCE(score_r, 0.0) DESC,
           |      CAST(h.doc_id AS VARCHAR)) AS rnk
           |  FROM hits$r h LEFT JOIN sc$r USING (doc_id)
           |  QUALIFY rnk <= 50)""".stripMargin
      def annLeg(r: Int, qid: Int) =
        s"""p$r AS (SELECT c.vec_id AS cid,
           |  list_dot_product(qv$r.v, c.v) /
           |   (sqrt(list_dot_product(qv$r.v, qv$r.v))
           |    * sqrt(list_dot_product(c.v, c.v))) AS cosine
           | FROM (SELECT v FROM e WHERE vec_id = $qid) qv$r, e c
           | WHERE c.vec_id % 13 = 0),
           |annr$r AS (SELECT CAST(cid AS VARCHAR) AS id,
           |    row_number() OVER (ORDER BY cosine DESC, cid) AS rnk
           |  FROM p$r QUALIFY rnk <= 10)""".stripMargin
      val terms = Seq(1 -> "join", 2 -> "vector", 3 -> "merge")
      val legs = (terms.map { case (r, t) => lexLeg(r, t) } ++
        terms.map { case (r, _) => annLeg(r, r - 1) }).mkString(",\n")
      val unions = terms.map { case (r, _) =>
        s"""  SELECT ${-r} AS rid, id, 1000000 // (60 + rnk) AS part
           |  FROM lexr$r
           |  UNION ALL
           |  SELECT ${-r}, id, 1000000 // (60 + rnk) FROM annr$r""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH t AS (SELECT doc_id, text,
         |             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |           FROM documents),
         |d AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |              sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM d),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |$legs,
         |u AS (
         |$unions)
         |SELECT CAST(rid AS BIGINT) AS request_id, CAST(id AS BIGINT) AS id,
         |  CAST(sum(part) AS BIGINT) AS rrf_score, count(*) AS n_lists
         |FROM u GROUP BY rid, id
         |ORDER BY 1, 3 DESC, CAST(id AS VARCHAR)""".stripMargin
    },

    "q180_token_budget" ->
      """SELECT source, doc_id, CAST(running_tokens AS BIGINT) AS running_tokens FROM (
        |  SELECT source, doc_id,
        |    sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ROWS UNBOUNDED PRECEDING)
        |      AS running_tokens
        |  FROM documents) t
        |WHERE running_tokens <= 30000""".stripMargin,

    // bucket rows under Solr's count-desc + value tie-break and limit;
    // allBuckets/missing replayed as global aggregates (missing is the
    // always-present count-0 row: p_brand is never null in part)
    "q182_json_facet_all" ->
      """WITH b AS (
        |  SELECT 'term' AS bucket_type, p_brand, count(*) AS cnt,
        |         CAST(sum(p_size) AS BIGINT) AS sum_size
        |  FROM part GROUP BY p_brand
        |  ORDER BY cnt DESC, p_brand LIMIT 5)
        |SELECT * FROM b
        |UNION ALL
        |SELECT 'allBuckets', NULL, count(*), CAST(sum(p_size) AS BIGINT)
        |FROM part
        |UNION ALL
        |SELECT 'missing', NULL, count(CASE WHEN p_brand IS NULL THEN 1 END),
        |  CAST(sum(CASE WHEN p_brand IS NULL THEN p_size END) AS BIGINT)
        |FROM part""".stripMargin,

    // the same md5 coin / cut-point arithmetic replayed: first 8 md5
    // hex chars over 2^32 for the coin, salted hashes mod (len+1) for
    // the cuts, substr algebra identical 1-based in both engines
    "q183_fim_split" ->
      """WITH h AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    CAST(('0x' || substr(md5('fim' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      / 4294967296.0 AS coin,
        |    CAST(('0x' || substr(md5('fim#a' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % (length(text) + 1) AS a,
        |    CAST(('0x' || substr(md5('fim#b' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % (length(text) + 1) AS b
        |  FROM documents),
        |c AS (SELECT doc_id, text, len, coin,
        |        least(a, b) AS lo, greatest(a, b) AS hi FROM h)
        |SELECT doc_id,
        |  CASE WHEN coin < 0.4 THEN 'psm' ELSE 'plain' END AS mode,
        |  CASE WHEN coin < 0.4 THEN
        |    '<PRE>' || substr(text, 1, lo) || '<SUF>' || substr(text, hi + 1, len - hi)
        |      || '<MID>' || substr(text, lo + 1, hi - lo)
        |  ELSE text END AS fim_text
        |FROM c""".stripMargin,

    "q181_terms_regex" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
        |SELECT term, count(*) AS doc_freq FROM dt
        |WHERE regexp_full_match(term, 's[a-z]*[kn]')
        |GROUP BY term
        |ORDER BY doc_freq DESC, term LIMIT 10""".stripMargin,

    // the same hashed-feature space (md5-prefix buckets mod 256 over
    // unigrams ++ bigrams) and the same add-one milli-ratio weights,
    // replayed feature-for-feature; integer sums exact both engines
    "q184_dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, unnest(toks) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest(list_transform(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
        |      p -> p[1] || ' ' || p[2])) AS g
        |  FROM tok),
        |b AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256 AS bkt
        |  FROM grams),
        |ct AS (SELECT bkt, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bkt),
        |cr AS (SELECT bkt, count(*) AS c FROM b GROUP BY bkt),
        |w AS (
        |  SELECT coalesce(ct.bkt, cr.bkt) AS bkt,
        |    ((coalesce(ct.c, 0) + 1) * 1000000) // (coalesce(cr.c, 0) + 1) AS w
        |  FROM ct FULL JOIN cr ON ct.bkt = cr.bkt),
        |score AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |    CAST(sum(w.w) AS BIGINT) AS dsir_sum
        |  FROM b JOIN w ON b.bkt = w.bkt
        |  GROUP BY doc_id)
        |SELECT doc_id, n_grams, dsir_sum,
        |  CAST(dsir_sum AS DOUBLE) / n_grams AS dsir_avg
        |FROM score
        |ORDER BY dsir_avg DESC, doc_id LIMIT 25""".stripMargin,

    // q67's 8-gram construction, LEFT-joined so zero-overlap docs
    // surface with fraction 0; count(bg.gram) counts matches only
    "q185_contamination_frac" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 7),
        |     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
        |                    toks[i+4], toks[i+5], toks[i+6], toks[i+7])) END) AS grams
        | FROM t),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g)
        |SELECT cg.doc_id, count(*) AS n_grams,
        |  CAST(count(bg.gram) AS BIGINT) AS n_shared,
        |  CAST(count(bg.gram) AS DOUBLE) / count(*) AS overlap_frac,
        |  (CAST(count(bg.gram) AS DOUBLE) / count(*)) >= 0.02 AS contaminated
        |FROM cg LEFT JOIN bg USING (gram) GROUP BY cg.doc_id""".stripMargin,

    // the identical line synthesis (8-token chunks, '.' on the
    // (doc_id+i)%3 residue, planted lorem/brace/badterm lines) and
    // the same first-failing-rule CASE chain
    "q186_c4_clean" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t2 AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 8.0) AS INT) AS nc
        |       FROM t WHERE len(toks) > 0),
        |lined AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(generate_series(0, nc - 1),
        |      i -> array_to_string(toks[i*8+1 : i*8+8], ' ')
        |           || CASE WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END), chr(10))
        |    || CASE WHEN doc_id % 41 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
        |    || CASE WHEN doc_id % 43 = 0 THEN chr(10) || 'var f = function() {' ELSE '' END
        |    || CASE WHEN doc_id % 47 = 0 THEN chr(10) || 'this page requires badterm enabled.' ELSE '' END
        |    AS lined
        |  FROM t2),
        |k AS (
        |  SELECT doc_id, lined,
        |    list_filter(string_split(lined, chr(10)),
        |      l -> regexp_matches(l, '[.!?"]\s*$')
        |        AND len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 3) AS kept
        |  FROM lined)
        |SELECT doc_id,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |  CASE WHEN contains(lower(lined), 'lorem ipsum') THEN 'lorem_ipsum'
        |       WHEN contains(lined, '{') THEN 'brace'
        |       WHEN contains(lower(lined), 'badterm') THEN 'bad_word'
        |       WHEN len(kept) < 3 THEN 'too_few_lines' END AS drop_reason
        |FROM k""".stripMargin,

    // the same bit-length power-of-two bucket math (1 << bits(n-1))
    "q187_length_buckets" ->
      """WITH t AS (
        |  SELECT len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |             x -> x <> '')) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT CASE WHEN n_tokens <= 1 THEN 1
        |         ELSE 1 << length(bin(n_tokens - 1)) END AS bucket, n_tokens
        |  FROM t WHERE n_tokens > 0)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(bucket * count(*) AS BIGINT) AS capacity,
        |  CAST(bucket * count(*) - sum(n_tokens) AS DOUBLE) / (bucket * count(*)) AS padding_frac
        |FROM b GROUP BY bucket""".stripMargin,

    // 2-gram construction as in q185's 8-gram form; argmax replayed
    // with the same (count desc, gram asc) order
    "q188_top_ngram_frac" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t2 AS (SELECT doc_id, toks,
        |         length(array_to_string(toks, ' ')) AS total_chars FROM t
        |       WHERE length(array_to_string(toks, ' ')) > 0),
        |g AS (SELECT doc_id, total_chars, unnest(
        |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 1),
        |     i -> toks[i] || ' ' || toks[i+1]) END) AS gram
        | FROM t2),
        |c AS (SELECT doc_id, total_chars, gram, count(*) AS cnt
        |      FROM g GROUP BY ALL),
        |top AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |          ORDER BY cnt DESC, gram ASC) AS rn FROM c)
        |SELECT doc_id, gram AS top_gram, cnt AS gram_count,
        |  CAST(total_chars AS BIGINT) AS total_chars,
        |  CAST(cnt * length(gram) AS DOUBLE) / total_chars AS top_gram_char_frac
        |FROM top WHERE rn = 1""".stripMargin,

    // same fingerprint key and (n_chars desc, doc_id) keep order
    "q189_dedup_map" ->
      """WITH f AS (SELECT doc_id, n_chars,
        |             md5(lower(substr(text, 1, 40))) AS fp FROM documents),
        |w AS (SELECT doc_id, fp,
        |        row_number() OVER (PARTITION BY fp
        |          ORDER BY n_chars DESC, doc_id) AS rn,
        |        first_value(doc_id) OVER (PARTITION BY fp
        |          ORDER BY n_chars DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS kept_id,
        |        count(*) OVER (PARTITION BY fp) AS cluster_size
        |      FROM f)
        |SELECT doc_id AS id, kept_id, cluster_size FROM w WHERE rn > 1""".stripMargin,

    "q190_facet_range_other" ->
      """WITH b AS (
        |  SELECT 'bucket' AS row_type,
        |    CAST(p_size - ((p_size - 5) % 10) AS BIGINT) AS bucket_lo,
        |    count(*) AS cnt
        |  FROM part WHERE p_size >= 5 AND p_size < 45 GROUP BY 2)
        |SELECT * FROM b
        |UNION ALL SELECT 'before', NULL, count(*) FROM part WHERE p_size < 5
        |UNION ALL SELECT 'after', NULL, count(*) FROM part WHERE p_size >= 45
        |UNION ALL SELECT 'between', NULL, count(*) FROM part
        |  WHERE p_size >= 5 AND p_size < 45""".stripMargin,

    "q191_group_facet" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS group_count
        |FROM lineitem WHERE l_quantity >= 30
        |GROUP BY l_returnflag
        |ORDER BY group_count DESC, l_returnflag""".stripMargin,

    "q192_curriculum" ->
      """SELECT doc_id, n_chars,
        |  CAST(1 + CAST(n_chars > 150 AS INT) + CAST(n_chars > 300 AS INT)
        |    + CAST(n_chars > 450 AS INT) AS BIGINT) AS stage,
        |  md5('cur' || CAST(doc_id AS VARCHAR)) AS stage_order
        |FROM documents""".stripMargin,

    "q199_strdist" ->
      """SELECT doc_id, source, sim FROM (
        |  SELECT doc_id, source,
        |    1.0 - CAST(levenshtein(source, 'src7') AS DOUBLE)
        |      / greatest(length(source), 4) AS sim
        |  FROM documents) t
        |WHERE sim >= 0.5
        |ORDER BY sim DESC, doc_id LIMIT 40""".stripMargin,

    // q10's tokenize replay, opened per stage
    "q200_analysis_stages" ->
      s"""WITH b AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+(?:[''.][a-z0-9]+)*') AS raw
         |  FROM documents WHERE doc_id < 5),
         |s AS (SELECT doc_id, raw,
         |    list_transform(raw, t -> regexp_replace(t, '''s$$', '')) AS nop
         |  FROM b)
         |SELECT doc_id, '1_tokenized' AS stage,
         |  coalesce(array_to_string(raw, ' '), '') AS tokens FROM s
         |UNION ALL SELECT doc_id, '2_possessive',
         |  coalesce(array_to_string(nop, ' '), '') FROM s
         |UNION ALL SELECT doc_id, '3_stopwords',
         |  coalesce(array_to_string(
         |    list_filter(nop, t -> t NOT IN $stopIn), ' '), '') FROM s""".stripMargin,

    // the same per-mille span + salted start algebra as q183's FIM
    "q201_span_corrupt" ->
      """WITH h AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    greatest(1, (length(text) * 150) // 1000) AS span
        |  FROM documents),
        |c AS (SELECT doc_id, text, len, span,
        |    CAST(('0x' || substr(md5('t5#s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % greatest(len - span + 1, 1) AS st
        |  FROM h)
        |SELECT doc_id,
        |  CASE WHEN len = 0 THEN text
        |    ELSE substr(text, 1, st) || '<extra_id_0>'
        |      || substr(text, st + span + 1, len - st - span) END AS corrupted,
        |  CASE WHEN len = 0 THEN ''
        |    ELSE '<extra_id_0>' || substr(text, st + 1, span) || '<extra_id_1>' END AS target
        |FROM c""".stripMargin,

    "q197_significant_stream" ->
      """WITH bg AS (SELECT source, count(*) AS bg_df FROM documents GROUP BY source),
        |fg AS (SELECT source, count(*) AS fg_df FROM documents
        |       WHERE lang = 'en' GROUP BY source)
        |SELECT fg.source AS term, fg_df, bg_df,
        |  fg_df * 1000 // bg_df AS score_milli
        |FROM fg JOIN bg USING (source) WHERE bg_df >= 5
        |ORDER BY score_milli DESC, term LIMIT 10""".stripMargin,

    "q198_nodes_stream" ->
      """WITH seeds AS (SELECT DISTINCT user_id FROM events
        |               WHERE event_type = 'purchase')
        |SELECT e.event_type AS node, count(*) AS ancestors,
        |  CAST(1 AS BIGINT) AS level
        |FROM events e JOIN seeds USING (user_id)
        |GROUP BY e.event_type""".stripMargin,

    // sorted-array joins make the compare order-free; the same
    // remove/removeregex/add-distinct algebra in list form
    "q194_atomic_update_ops" ->
      """WITH b AS (SELECT doc_id,
        |    [source, lang, 'n' || CAST(doc_id % 3 AS VARCHAR)] AS tags FROM documents),
        |u AS (SELECT doc_id, [lang] AS rm, ['extra', source] AS ad
        |      FROM documents WHERE doc_id % 4 = 0)
        |SELECT b.doc_id,
        |  array_to_string(list_sort(CASE WHEN u.rm IS NULL THEN b.tags
        |    ELSE list_filter(b.tags, x -> NOT list_contains(u.rm, x)) END), '|') AS a_joined,
        |  array_to_string(list_sort(CASE WHEN u.rm IS NULL THEN b.tags
        |    ELSE list_filter(b.tags, x -> NOT regexp_matches(x, '^n[01]$')) END), '|') AS b_joined,
        |  array_to_string(list_sort(CASE WHEN u.ad IS NULL THEN b.tags
        |    ELSE b.tags || list_filter(list_distinct(u.ad), v -> NOT list_contains(b.tags, v)) END), '|') AS c_joined
        |FROM b LEFT JOIN u USING (doc_id)""".stripMargin,

    // q186's line synthesis (no '.' planting) + the even-doc footer;
    // first-occurrence window replayed on the same (doc_id, idx) order
    "q195_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t2 AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 8.0) AS INT) AS nc
        |       FROM t WHERE len(toks) > 0),
        |lined AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(generate_series(0, nc - 1),
        |      i -> array_to_string(toks[i*8+1 : i*8+8], ' ')), chr(10))
        |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'all rights reserved.' ELSE '' END
        |    AS lined
        |  FROM t2),
        |l AS (SELECT doc_id, s[2] AS line, CAST(s[1] AS BIGINT) AS idx FROM (
        |  SELECT doc_id, unnest(list_zip(generate_series(1, len(ls)), ls)) AS s FROM (
        |    SELECT doc_id, string_split(lined, chr(10)) AS ls FROM lined))),
        |k AS (SELECT doc_id, idx, line,
        |        (row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, idx)) = 1 AS kept
        |      FROM l)
        |SELECT doc_id AS id,
        |  coalesce(array_to_string(list(line ORDER BY idx) FILTER (WHERE kept), chr(10)), '') AS clean_text,
        |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_lines_kept,
        |  count(*) AS n_lines
        |FROM k GROUP BY doc_id""".stripMargin,

    // q47's token kernels rolled up per language
    "q196_fertility" ->
      """WITH t AS (SELECT lang,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
        |  CAST(COALESCE(list_aggregate(list_transform(
        |    regexp_extract_all(lower(text), '[a-z0-9]+'),
        |    x -> greatest(1, CAST(ceil(length(x)/4.0) AS INTEGER))), 'sum'), 0)
        |   + length(regexp_replace(text, '[a-zA-Z0-9\s]+', '', 'g')) AS BIGINT) AS sw
        | FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS words,
        |  CAST(sum(sw) AS BIGINT) AS subwords,
        |  CAST(sum(sw) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS fertility
        |FROM t GROUP BY lang""".stripMargin,

    // q99's distance chain, ordered: round(,4) absorbs libm ulp
    // BEFORE the sort so the order itself is engine-stable
    "q193_geodist_sort" ->
      """WITH c AS (SELECT c_custkey,
        |  CAST(c_custkey % 120 - 60 AS DOUBLE) * 0.7 AS lat,
        |  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) * 0.9 AS lon
        | FROM customer),
        |d AS (SELECT c_custkey,
        |  round(2.0 * 6371.0088 * asin(sqrt(
        |    sin(radians(lat - 10.0) / 2.0) * sin(radians(lat - 10.0) / 2.0)
        |    + cos(radians(10.0)) * cos(radians(lat))
        |      * sin(radians(lon - 20.0) / 2.0) * sin(radians(lon - 20.0) / 2.0)
        |  )), 4) AS dist_km
        | FROM c)
        |SELECT c_custkey, dist_km FROM d
        |ORDER BY dist_km ASC, c_custkey LIMIT 20""".stripMargin,

    "q179_group_ngroups" ->
      """WITH base AS (SELECT * FROM orders WHERE o_totalprice > 400000.0),
        |g AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS group_size
        | FROM base)
        |SELECT o_orderpriority, o_orderkey, o_totalprice, rn, group_size,
        |  (SELECT count(DISTINCT o_orderpriority) FROM base) AS ngroups
        |FROM g WHERE rn <= 2""".stripMargin,

    // Solr default facet.sort: count desc, then value asc; mincount
    // filters before the bounded cut
    "q170_facet_params" ->
      """SELECT source, cnt FROM (
        |  SELECT source, count(*) AS cnt FROM documents
        |  WHERE n_chars >= 250 GROUP BY source HAVING count(*) >= 10)
        |ORDER BY cnt DESC, source ASC LIMIT 8""".stripMargin,

    // same clamp + double arithmetic; width = 600/12 = 50 exactly
    "q168_histogram" ->
      """SELECT CAST(b AS BIGINT) AS bucket,
        |  0.0 + b * 50.0 AS bucket_lo, 0.0 + (b + 1) * 50.0 AS bucket_hi,
        |  count(*) AS n
        |FROM (SELECT least(11, greatest(0,
        |        CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 50.0) AS INT))) AS b
        |      FROM documents) t
        |GROUP BY b""".stripMargin,

    "q169_group_summary" ->
      """SELECT lang, count(*) AS n,
        |  min(n_chars) AS min_v, max(n_chars) AS max_v,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_v
        |FROM documents GROUP BY lang""".stripMargin,

    // same salt, same op order: normalize -> control strip -> collapse
    // -> trim; chr(769) = U+0301 combining acute, chr(7) = BEL
    "q167_canonical_text" ->
      """SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(7) || ' e' || chr(769) || 'x'),
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x80-\x9F]', '', 'g'),
        |  '\s+', ' ', 'g')) AS canon
        |FROM documents""".stripMargin,

    // same planted-clone union; the profile is one GROUP BY over md5
    "q166_dup_profile" ->
      """WITH src AS (
        |  SELECT text FROM documents
        |  UNION ALL SELECT text FROM documents WHERE doc_id < 8
        |  UNION ALL SELECT text FROM documents WHERE doc_id < 8),
        |g AS (SELECT md5(text) AS fp, count(*) AS n FROM src GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |  count(*) AS distinct_contents,
        |  CAST(sum(n - 1) AS BIGINT) AS exact_dup_docs,
        |  CAST(max(n) AS BIGINT) AS largest_clone_cluster
        |FROM g""".stripMargin,

    // tf = token counts of the requested docs under the analyzed-field
    // tokenizer (q143's convention); df = distinct-doc counts corpus-wide
    "q165_term_vectors" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |        FROM (SELECT doc_id, unnest(toks) AS term FROM t WHERE doc_id IN (3, 7)) u
        |        GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM (SELECT doc_id, unnest(toks) AS term FROM t) u GROUP BY term)
        |SELECT doc_id, term, tf, df FROM tfc JOIN dfq USING (term)""".stripMargin,

    // the compiled column's exact association order: recip = a/(m*x+b),
    // then + product — all IEEE correctly-rounded ops
    "q164_function_sort" ->
      """SELECT doc_id,
        |  round(1000.0 / (1.0 * CAST(n_chars AS DOUBLE) + 1000.0)
        |        + 0.001 * CAST(n_chars AS DOUBLE), 6) AS fscore_r
        |FROM documents
        |ORDER BY fscore_r DESC, doc_id ASC LIMIT 15""".stripMargin,

    // same literal vector, same cosine tree, same (score desc, id)
    // cut — the q25 rounding discipline
    "q202_knn_qparser" ->
      s"""WITH s AS (SELECT vec_id,
         |  round(list_dot_product(CAST(embedding AS DOUBLE[]), ${knnSqlVec}) /
         |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
         |     * sqrt(list_dot_product(${knnSqlVec}, ${knnSqlVec}))), 6) AS score
         | FROM embeddings)
         |SELECT vec_id, score FROM s
         |ORDER BY score DESC, vec_id LIMIT 12""".stripMargin,

    "q203_knn_prefilter" ->
      s"""WITH s AS (SELECT vec_id,
         |  round(list_dot_product(CAST(embedding AS DOUBLE[]), ${knnSqlVec}) /
         |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
         |     * sqrt(list_dot_product(${knnSqlVec}, ${knnSqlVec}))), 6) AS score
         | FROM embeddings WHERE label >= 2)
         |SELECT vec_id, score FROM s
         |ORDER BY score DESC, vec_id LIMIT 12""".stripMargin,

    // the compiled regex replayed verbatim (RE2 and java.util.regex
    // agree on this alternation-free pattern)
    "q204_proximity_search" ->
      """SELECT doc_id, source FROM documents
        |WHERE regexp_matches(lower(text),
        |  '(^|[^a-z0-9])data([^a-z0-9]+[a-z0-9]+){0,3}[^a-z0-9]+join([^a-z0-9]|$)')""".stripMargin,

    // q195's line synthesis + the doc_id%3 planted repeat; dup mass
    // via (occurrences-1)·length over DISTINCT lines — integer sums,
    // one final division per signal
    "q205_dup_lines" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t2 AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 8.0) AS INT) AS nc
        |       FROM t WHERE len(toks) > 0),
        |l0 AS (SELECT doc_id, list_transform(generate_series(0, nc - 1),
        |         i -> array_to_string(toks[i*8+1 : i*8+8], ' ')) AS ls FROM t2),
        |l AS (SELECT doc_id,
        |        CASE WHEN doc_id % 3 = 0 THEN list_append(ls, ls[1]) ELSE ls END AS ls
        |      FROM l0)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls) AS dup_line_frac,
        |  CASE WHEN list_sum(list_transform(ls, x -> length(x))) > 0 THEN
        |    CAST(list_sum(list_transform(list_distinct(ls),
        |      x -> (len(list_filter(ls, y -> y = x)) - 1) * length(x))) AS DOUBLE)
        |    / list_sum(list_transform(ls, x -> length(x)))
        |  ELSE 0.0 END AS dup_line_char_frac
        |FROM l""".stripMargin,

    // window-count + span-union replay of the fused kernel: positions
    // covered by n-grams occurring 2+ times, distinct-counted
    "q206_dup_ngram_cov" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, len(toks) AS nt, toks FROM t WHERE len(toks) > 0),
        |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
        |         i -> {pos: i, gram: toks[i] || ' ' || toks[i+1]})) AS u
        |       FROM base WHERE nt >= 2),
        |c2 AS (SELECT doc_id, u.pos AS pos,
        |         count(*) OVER (PARTITION BY doc_id, u.gram) AS cnt FROM g2),
        |cov2 AS (SELECT doc_id, count(DISTINCT p) AS c FROM (
        |  SELECT doc_id, unnest(generate_series(pos, pos+1)) AS p
        |  FROM c2 WHERE cnt >= 2) GROUP BY doc_id),
        |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-2),
        |         i -> {pos: i, gram: array_to_string(toks[i:i+2], ' ')})) AS u
        |       FROM base WHERE nt >= 3),
        |c3 AS (SELECT doc_id, u.pos AS pos,
        |         count(*) OVER (PARTITION BY doc_id, u.gram) AS cnt FROM g3),
        |cov3 AS (SELECT doc_id, count(DISTINCT p) AS c FROM (
        |  SELECT doc_id, unnest(generate_series(pos, pos+2)) AS p
        |  FROM c3 WHERE cnt >= 2) GROUP BY doc_id)
        |SELECT b.doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cov2.c, 0) AS DOUBLE) / nt AS dup2_frac,
        |  CAST(coalesce(cov3.c, 0) AS DOUBLE) / nt AS dup3_frac
        |FROM base b LEFT JOIN cov2 ON b.doc_id = cov2.doc_id
        |            LEFT JOIN cov3 ON b.doc_id = cov3.doc_id""".stripMargin
  ) ++ oracleSqlRound7

  /** [[knnVec]] as a DuckDB DOUBLE[] literal. */
  private def knnSqlVec: String =
    knnVec.mkString("CAST([", ",", "] AS DOUBLE[])")

  /** q207-q212 oracles (appended as a separate map so the main
    * literal stays within scalac's method-size comfort zone). */
  private val oracleSqlRound7: Map[String, String] = Map(
    // same rendering, offsets from the same cumulative window
    "q207_sft_assembly" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    '[' || event_type || '] ' || props AS line FROM events),
        |o AS (SELECT *, coalesce(sum(length(line) + 1) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        |      FROM e)
        |SELECT user_id, count(*) AS n_turns,
        |  string_agg(line, chr(10) ORDER BY ts, event_id) AS transcript,
        |  coalesce(string_agg(CASE WHEN event_type IN ('purchase', 'signup')
        |    THEN CAST(s AS VARCHAR) || ':' || CAST(s + length(line) AS VARCHAR) END,
        |    '|' ORDER BY ts, event_id), '') AS mask_spans
        |FROM o GROUP BY user_id""".stripMargin,

    // break = every split point against the vocabulary (both halves
    // present); combine = adjacent pair concatenation present
    "q208_wordbreak_spell" ->
      """WITH v AS (
        |  SELECT term, count(*) AS df FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        |    FROM documents) GROUP BY term),
        |q AS (SELECT unnest(['sparkjoin', 'datatable', 'mergescan', 'zzqqxx']) AS input),
        |sp AS (SELECT input, unnest(generate_series(1, length(input) - 1)) AS i FROM q),
        |halves AS (SELECT input, substr(input, 1, i) AS l,
        |             substr(input, i + 1, length(input)) AS r FROM sp),
        |breaks AS (
        |  SELECT 'break' AS mode, input, l || ' ' || r AS suggestion,
        |    CAST(vl.df + vr.df AS BIGINT) AS df_score
        |  FROM halves JOIN v vl ON vl.term = l JOIN v vr ON vr.term = r),
        |pairs AS (SELECT * FROM (VALUES ('win', 'dow'), ('data', 'base'),
        |            ('mer', 'ge')) p(t1, t2)),
        |combines AS (
        |  SELECT 'combine' AS mode, t1 || ' ' || t2 AS input,
        |    t1 || t2 AS suggestion, CAST(v.df AS BIGINT) AS df_score
        |  FROM pairs JOIN v ON v.term = t1 || t2)
        |SELECT * FROM breaks UNION ALL SELECT * FROM combines""".stripMargin,

    "q209_heatmap_facet" ->
      """SELECT CAST(floor((lon + 180.0) / 30.0) AS BIGINT) AS cell_x,
        |  CAST(floor((lat + 90.0) / 30.0) AS BIGINT) AS cell_y,
        |  count(*) AS cnt
        |FROM (SELECT CAST(c_custkey % 120 - 60 AS DOUBLE) * 0.7 AS lat,
        |        CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) * 0.9 AS lon
        |      FROM customer)
        |GROUP BY 1, 2""".stripMargin,

    // the same op order: T (integer), f = sqrt(tokens/T), weight =
    // f/Σf (Σ in grp order), epochs = min(4, budget·w/tokens)
    "q210_epoch_mix" ->
      """WITH c AS (SELECT source AS grp, CAST(sum(n_chars) AS BIGINT) AS tokens
        |           FROM documents GROUP BY 1),
        |w AS (SELECT grp, tokens, sum(tokens) OVER (ORDER BY grp
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS T
        |      FROM c),
        |f AS (SELECT grp, tokens,
        |        sqrt(CAST(tokens AS DOUBLE) / CAST(T AS DOUBLE)) AS fac FROM w),
        |n AS (SELECT grp, tokens, fac / sum(fac) OVER (ORDER BY grp
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS weight
        |      FROM f),
        |e AS (SELECT grp, tokens, weight,
        |        least(4.0, 1000000.0 * weight / CAST(tokens AS DOUBLE)) AS epochs
        |      FROM n)
        |SELECT grp AS source, tokens, round(weight, 6) AS weight_r,
        |  round(epochs, 6) AS epochs_r,
        |  CAST(floor(epochs) AS BIGINT) AS full_epochs,
        |  round(epochs - floor(epochs), 6) AS tail_rate_r
        |FROM e""".stripMargin,

    // vocabulary = top-20 (count desc, term asc); per-doc membership
    "q211_oov_rate" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
        |cnts AS (SELECT term, count(*) AS c FROM (
        |    SELECT unnest(toks) AS term FROM base) GROUP BY term),
        |vocab AS (SELECT list(term) AS vs FROM (
        |    SELECT term FROM cnts ORDER BY c DESC, term LIMIT 20))
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> NOT list_contains(vs, x))) AS DOUBLE)
        |    / len(toks) AS oov_frac
        |FROM base, vocab""".stripMargin,

    // recursive-CTE replay of the BFS: min-depth simple walks — every
    // min-depth walk visits each node at its BFS depth, so the CTE's
    // per-path pruning and the BFS's global visited set admit the
    // SAME path set (proof in GraphOps.scala scaladoc)
    "q213_shortest_path" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS src, 'o:' || o_orderkey AS dst FROM orders
        |  UNION SELECT DISTINCT 'o:' || l_orderkey, 'p:' || l_partkey FROM lineitem
        |  UNION SELECT DISTINCT 'p:' || l_partkey, 'o:' || l_orderkey FROM lineitem),
        |walk AS (
        |  SELECT 'c:1' AS node, ['c:1'] AS path, 0 AS d
        |  UNION ALL
        |  SELECT e.dst, list_append(w.path, e.dst), d + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE d < 4 AND w.node <> 'p:32' AND NOT list_contains(w.path, e.dst)),
        |hits AS (SELECT path, d FROM walk WHERE node = 'p:32'),
        |md AS (SELECT min(d) AS md FROM hits)
        |SELECT array_to_string(path, '>') AS path, CAST(d AS BIGINT) AS depth
        |FROM hits, md WHERE d = md""".stripMargin,

    // recip is one IEEE division — the bound compare replays exactly
    "q214_frange" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE 500.0 / (1.0 * CAST(n_chars AS DOUBLE) + 500.0) >= 0.55
        |  AND 500.0 / (1.0 * CAST(n_chars AS DOUBLE) + 500.0) < 0.95""".stripMargin,

    "q215_facet_prefix_page" ->
      """SELECT term, cnt, rnk FROM (
        |  SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk
        |  FROM (SELECT term, count(*) AS cnt FROM (
        |          SELECT unnest(list_filter(
        |            string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        |          FROM documents)
        |        WHERE term LIKE 's%' GROUP BY term))
        |WHERE rnk > 3 AND rnk <= 10""".stripMargin,

    "q216_group_query" ->
      """WITH legs AS (
        |  SELECT 'short' AS grp_q, doc_id, n_chars FROM documents WHERE n_chars < 200
        |  UNION ALL
        |  SELECT 'spark', doc_id, n_chars FROM documents
        |  WHERE regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)'))
        |SELECT grp_q, rnk, doc_id, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY grp_q
        |    ORDER BY n_chars DESC, doc_id) AS rnk FROM legs)
        |WHERE rnk <= 3""".stripMargin,

    // q25's cosine chain with the cross-label filter
    "q217_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 6),
        |p AS (SELECT q.vec_id AS query_id, e.vec_id AS corpus_id,
        |  round(list_dot_product(q.v, e.v) /
        |   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_r
        | FROM q, e WHERE q.label <> e.label)
        |SELECT query_id, rnk, corpus_id, cosine_r FROM (
        | SELECT query_id, corpus_id, cosine_r,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine_r DESC, corpus_id) AS BIGINT) AS rnk
        | FROM p) t WHERE rnk <= 3""".stripMargin,

    // same association order: (tf·2) + recip, one IEEE chain
    "q225_termfreq_fq" ->
      """SELECT doc_id, score_r FROM (
        |  SELECT doc_id, round(
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t = 'spark')) AS DOUBLE) * 2.0
        |    + 1000.0 / (1.0 * CAST(n_chars AS DOUBLE) + 1000.0), 6) AS score_r
        |  FROM documents) t
        |ORDER BY score_r DESC, doc_id LIMIT 20""".stripMargin,

    // q195's line synthesis; pack = floor(exclusive-prefix-sum / 24)
    "q226_sentence_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t2 AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 8.0) AS INT) AS nc
        |       FROM t WHERE len(toks) > 0),
        |lines AS (SELECT doc_id, i - 1 AS sent_idx,
        |    array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ') AS sentence
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, nc)) AS i FROM t2)),
        |s AS (SELECT doc_id, sent_idx, sentence,
        |        len(string_split(sentence, ' ')) AS st FROM lines),
        |p AS (SELECT *, CAST(floor(coalesce(sum(st) OVER (PARTITION BY doc_id
        |        ORDER BY sent_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        0) / 24.0) AS BIGINT) AS pack_id FROM s)
        |SELECT doc_id, pack_id, count(*) AS n_sentences,
        |  CAST(sum(st) AS BIGINT) AS chunk_tokens,
        |  string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text
        |FROM p GROUP BY doc_id, pack_id""".stripMargin,

    // q185's per-doc verdicts rolled up per source
    "q227_contamination_report" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 7),
        |     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
        |                    toks[i+4], toks[i+5], toks[i+6], toks[i+7])) END) AS grams
        | FROM t),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |per AS (SELECT cg.doc_id,
        |    (CAST(count(bg.gram) AS DOUBLE) / count(*)) >= 0.02 AS contaminated
        |  FROM cg LEFT JOIN bg USING (gram) GROUP BY cg.doc_id)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS contaminated_frac
        |FROM documents d JOIN per ON d.doc_id = per.doc_id
        |GROUP BY d.source""".stripMargin,

    // export round trip preserves exactly the projected relation
    "q228_jsonl_export" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",

    "q229_percentile_cont" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25_r,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_r,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95_r
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q230_partitioned_export" ->
      "SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en'",

    "q231_zipf_profile" ->
      """SELECT f, count(*) AS n_terms FROM (
        |  SELECT term, count(*) AS f FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        |    FROM documents) GROUP BY term)
        |GROUP BY f""".stripMargin,

    // same regex, leftmost non-overlapping scan, first two matches
    "q232_highlight_multi" ->
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS frag_idx, frags[i] AS snippet
        |FROM (
        |  SELECT doc_id, regexp_extract_all(lower(text),
        |    '(?:[a-z0-9]+ ){0,2}\b(?:spark)\b(?: [a-z0-9]+){0,2}') AS frags
        |  FROM documents
        |  WHERE regexp_matches(lower(text), '\bspark\b')),
        |  (SELECT unnest(generate_series(1, 2)) AS i)
        |WHERE i <= least(len(frags), 2)""".stripMargin,

    // merged state: base <400 overridden/extended by the 350-450
    // modified delta, then the read window
    "q219_update_stream" ->
      """WITH final AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id BETWEEN 350 AND 450 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id < 400 OR doc_id BETWEEN 350 AND 450)
        |SELECT doc_id, lang, n_chars FROM final
        |WHERE doc_id BETWEEN 330 AND 420""".stripMargin,

    // rand_key no longer leaks into the output (Solr's random stream
    // emits only fl=); the oracle still verifies the exact md5-seeded
    // SELECTION by replaying the key in its own ORDER BY
    "q220_random_stream" ->
      """SELECT id, n_chars FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS id, n_chars,
        |    md5('r7' || CAST(doc_id AS VARCHAR)) AS rand_key
        |  FROM documents WHERE lang = 'en')
        |ORDER BY rand_key LIMIT 10""".stripMargin,

    // offsets 0,4096,... <= size-1, capped at 8; tail frame truncates
    "q221_frame_sample" ->
      """SELECT regexp_extract(filename, '[^/]+$') AS file_name,
        |  CAST(i AS BIGINT) AS frame_idx,
        |  CAST(i * 4096 AS BIGINT) AS byte_off,
        |  least(512, size - i * 4096) AS frame_len
        |FROM (SELECT filename, size, unnest(generate_series(0,
        |        CAST(least(7, (size - 1) // 4096) AS INT))) AS i
        |      FROM read_blob('{SF_DIR}/*.parquet'))
        |UNION ALL
        |-- mp4 fixtures: keyframes (every 4th sample) at offsets
        |-- 32 + running sample-size sum (IsoBmff.write layout)
        |SELECT file_name, CAST(i // 4 AS BIGINT) AS frame_idx,
        |  CAST(off AS BIGINT) AS byte_off, CAST(sz AS BIGINT) AS frame_len
        |FROM (
        |  SELECT printf('vid_%02d.mp4', k) AS file_name, i, sz,
        |    32 + COALESCE(SUM(sz) OVER (PARTITION BY k ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM (
        |    SELECT n_nationkey AS k, g.i AS i,
        |      64 + ((n_nationkey * 31 + g.i * 17) % 128) AS sz
        |    FROM nation, (SELECT unnest(generate_series(0, 11)) AS i) g
        |    WHERE g.i < 5 + (n_nationkey % 7)))
        |WHERE i % 4 = 0
        |UNION ALL
        |-- flv fixtures: keyframes (every 3rd tag) at payload offsets
        |-- 24 + running (size+15) sum (Flv.write layout)
        |SELECT file_name, CAST(i // 3 AS BIGINT) AS frame_idx,
        |  CAST(off AS BIGINT) AS byte_off, CAST(sz AS BIGINT) AS frame_len
        |FROM (
        |  SELECT printf('flv_%02d.flv', k) AS file_name, i, sz,
        |    24 + COALESCE(SUM(sz + 15) OVER (PARTITION BY k ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM (
        |    SELECT r_regionkey AS k, g.i AS i,
        |      32 + ((r_regionkey * 13 + g.i * 7) % 64) AS sz
        |    FROM region, (SELECT unnest(generate_series(0, 10)) AS i) g
        |    WHERE g.i < 6 + r_regionkey))
        |WHERE i % 3 = 0""".stripMargin,

    // q97's candidate rule per missing term, position-ordered rebuild
    "q222_spell_collation" ->
      """WITH v AS (SELECT term, count(*) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      regexp_extract_all(lower(text), '[a-z0-9]+'))) AS term
        |    FROM documents) GROUP BY term),
        |q AS (SELECT * FROM (VALUES (1, 'sparc'), (2, 'quary'), (3, 'merge')) t(pos, qterm)),
        |exact AS (SELECT pos, qterm, qterm AS resolved, 0 AS dist
        |          FROM q JOIN v ON v.term = q.qterm),
        |missing AS (SELECT * FROM q WHERE pos NOT IN (SELECT pos FROM exact)),
        |cand AS (SELECT pos, qterm, term, levenshtein(qterm, term) AS dist, df
        |         FROM missing CROSS JOIN v
        |         WHERE abs(length(term) - length(qterm)) <= 2
        |           AND levenshtein(qterm, term) <= 2),
        |best AS (SELECT pos, qterm, term AS resolved, dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY pos
        |    ORDER BY dist, df DESC, term) AS rn FROM cand) WHERE rn = 1),
        |uni AS (SELECT * FROM exact UNION ALL SELECT * FROM best)
        |SELECT string_agg(resolved, ' ' ORDER BY pos) AS collation,
        |  CAST(sum(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrected
        |FROM uni""".stripMargin,

    // q24's shingle sets, asymmetric normalizer |A∩B|/|A|
    "q223_containment" ->
      """WITH d AS (
        |SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_transform(generate_series(1, len(toks) - 2),
        |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        | FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |         x -> x <> '') AS toks
        |       FROM documents) t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
        |   / len(a.sh) AS containment
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "q224_gopher_verdict" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, toks, len(toks) AS nw,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mwl
        |  FROM t WHERE len(toks) > 0),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
        |        i -> {pos: i, gram: toks[i] || ' ' || toks[i+1]})) AS u, nw
        |      FROM base WHERE nw >= 2),
        |c AS (SELECT doc_id, u.pos AS pos,
        |        count(*) OVER (PARTITION BY doc_id, u.gram) AS cnt FROM g),
        |cov AS (SELECT doc_id, count(DISTINCT p) AS cc FROM (
        |  SELECT doc_id, unnest(generate_series(pos, pos+1)) AS p
        |  FROM c WHERE cnt >= 2) GROUP BY doc_id),
        |s AS (SELECT b.doc_id, CAST(nw AS BIGINT) AS n_words,
        |    round(mwl, 6) AS mean_word_len_r, mwl,
        |    CAST(coalesce(cov.cc, 0) AS DOUBLE) / nw AS dup2_frac
        |  FROM base b LEFT JOIN cov ON b.doc_id = cov.doc_id)
        |SELECT doc_id, n_words, mean_word_len_r, dup2_frac,
        |  (n_words BETWEEN 50 AND 100000 AND mwl >= 2.0 AND mwl <= 10.0
        |   AND dup2_frac < 0.3) AS keep
        |FROM s""".stripMargin,

    // q73's tf-idf restricted to the source doc, same order
    "q218_mlt_terms" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(toks) AS term FROM t) u GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |  CAST(tf.tf AS DOUBLE) * (ln((CAST(n_docs AS DOUBLE) + 1.0)
        |    / (CAST(doc_freq AS DOUBLE) + 1.0)) + 1.0) AS tf_idf
        | FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT term, rnk AS rank, score_r FROM (
        | SELECT term, round(tf_idf, 6) AS score_r,
        |  CAST(row_number() OVER (ORDER BY round(tf_idf, 6) DESC, term) AS BIGINT) AS rnk
        | FROM s WHERE doc_id = 7) x WHERE rnk <= 10""".stripMargin,

    // 15 two-day buckets zero-filled; range [start, end) as pushed
    "q212_timeseries" ->
      """WITH spine AS (
        |  SELECT i AS b, TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 2) DAY AS bucket_start
        |  FROM (SELECT unnest(generate_series(0, 14)) AS i)),
        |c AS (SELECT CAST(floor(date_diff('millisecond',
        |         TIMESTAMP '2024-01-01 00:00:00', ts) / 172800000.0) AS BIGINT) AS b,
        |        count(*) AS n
        |      FROM events
        |      WHERE event_type = 'purchase'
        |        AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |        AND ts < TIMESTAMP '2024-01-31 00:00:00'
        |      GROUP BY 1)
        |SELECT bucket_start, CAST(coalesce(n, 0) AS BIGINT) AS cnt
        |FROM spine LEFT JOIN c ON spine.b = c.b""".stripMargin,

    // NB-count weights in nano/milli integer space, minDf=2; OOV
    // tokens score 0 via the LEFT join
    "q233_seed_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) u WHERE t <> ''),
        |lab AS (SELECT doc_id, n_chars >= 300 AS lab FROM documents),
        |counts AS (
        |  SELECT t, CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |         CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS cn
        |  FROM toks JOIN lab USING (doc_id) GROUP BY 1
        |  HAVING count(*) >= 2),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cn) AS BIGINT) AS tn,
        |        count(*) AS v FROM counts),
        |wts AS (SELECT t,
        |    ((cp + 1) * 1000000000) // (tp + v) * 1000
        |      // greatest(((cn + 1) * 1000000000) // (tn + v), 1) - 1000 AS w
        |  FROM counts, tot),
        |scores AS (
        |  SELECT doc_id, CAST(sum(coalesce(w, 0)) AS BIGINT) AS score_milli
        |  FROM toks LEFT JOIN wts USING (t) GROUP BY 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN score_milli > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        |  CAST(sum(score_milli) AS BIGINT) AS score_sum
        |FROM scores JOIN documents USING (doc_id) GROUP BY lang""".stripMargin,

    // q142's rarity CTE + per-language tercile rank
    "q234_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) u WHERE t <> ''),
        |counts AS (SELECT t, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt, count(*) AS v FROM counts),
        |costs AS (SELECT t, ((tt + v) * 1000) // (c + 1) AS cost FROM counts, tot),
        |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(cost) AS BIGINT) AS rarity_sum
        |  FROM toks JOIN costs USING (t) GROUP BY 1),
        |sm AS (SELECT doc_id, (rarity_sum * 1000) // n_tokens AS score_milli FROM scored),
        |b AS (SELECT d.lang, sm.score_milli,
        |    row_number() OVER (PARTITION BY d.lang ORDER BY sm.score_milli, sm.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY d.lang) AS n
        |  FROM sm JOIN documents d USING (doc_id))
        |SELECT lang,
        |  CASE WHEN (rn - 1) * 3 < n THEN 'head'
        |       WHEN (rn - 1) * 3 < n * 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(score_milli) AS BIGINT) AS min_score,
        |  CAST(max(score_milli) AS BIGINT) AS max_score
        |FROM b GROUP BY 1, 2""".stripMargin,

    "q235_stratified_split" ->
      """WITH r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN (rn - 1) * 1000 < n * 800 THEN 'train'
        |       WHEN (rn - 1) * 1000 < n * 900 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q236_pref_pairs" ->
      """WITH r AS (SELECT user_id AS prompt, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id ASC) AS rb,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value ASC, event_id DESC) AS rw
        |  FROM events WHERE value IS NOT NULL)
        |SELECT prompt,
        |  max(CASE WHEN rb = 1 THEN event_id END) AS chosen_id,
        |  max(CASE WHEN rb = 1 THEN value END) AS chosen_score,
        |  max(CASE WHEN rw = 1 THEN event_id END) AS rejected_id,
        |  max(CASE WHEN rw = 1 THEN value END) AS rejected_score,
        |  CAST(count(*) AS BIGINT) AS n_candidates,
        |  max(CASE WHEN rb = 1 THEN value END)
        |    - max(CASE WHEN rw = 1 THEN value END) AS margin
        |FROM r GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    "q237_lexical_diversity" ->
      """WITH t AS (SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tokens,
        |    len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |        x -> x <> ''))) AS n_types
        |  FROM documents),
        |m AS (SELECT lang, (n_types * 1000) // n_tokens AS ttr_milli
        |  FROM t WHERE n_tokens > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ttr_milli) AS BIGINT) AS ttr_sum,
        |  CAST(min(ttr_milli) AS BIGINT) AS ttr_min,
        |  CAST(max(ttr_milli) AS BIGINT) AS ttr_max
        |FROM m GROUP BY 1""".stripMargin,

    // full-dim vs first-16-dims top-10 overlap per query (q25's
    // cosine CTE twice, LEFT join so zero-overlap queries surface)
    "q238_matryoshka_overlap" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |p AS (SELECT q.vec_id AS qid, e.vec_id AS cid,
        |  list_dot_product(q.v, e.v) /
        |   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        | FROM q, e WHERE q.vec_id <> e.vec_id),
        |f AS (SELECT qid, cid FROM (
        | SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        | FROM p) x WHERE rn <= 10),
        |et AS (SELECT vec_id, CAST(list_slice(embedding, 1, 16) AS DOUBLE[]) AS v
        |       FROM embeddings),
        |qt AS (SELECT * FROM et WHERE vec_id < 10),
        |pt AS (SELECT qt.vec_id AS qid, et.vec_id AS cid,
        |  list_dot_product(qt.v, et.v) /
        |   (sqrt(list_dot_product(qt.v, qt.v)) * sqrt(list_dot_product(et.v, et.v))) AS cos
        | FROM qt, et WHERE qt.vec_id <> et.vec_id),
        |tr AS (SELECT qid, cid FROM (
        | SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        | FROM pt) x WHERE rn <= 10)
        |SELECT f.qid AS query_id,
        |  CAST(sum(CASE WHEN tr.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_10
        |FROM f LEFT JOIN tr ON f.qid = tr.qid AND f.cid = tr.cid
        |GROUP BY 1""".stripMargin,

    // q112's text-term regex semantics, one count per facet query
    "q239_facet_query" ->
      """SELECT 'text:spark' AS facet_query, CAST(count(*) FILTER (
        |    WHERE regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)')
        |  ) AS BIGINT) AS n FROM documents
        |UNION ALL
        |SELECT 'lang:en AND n_chars:[300 TO *]', CAST(count(*) FILTER (
        |    WHERE lang = 'en' AND CAST(n_chars AS DOUBLE) >= 300.0
        |  ) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'source:src1* -text:merge', CAST(count(*) FILTER (
        |    WHERE regexp_matches(source, '^src1.*$')
        |      AND NOT regexp_matches(lower(text), '(^|[^a-z0-9])merge([^a-z0-9]|$)')
        |  ) AS BIGINT) FROM documents""".stripMargin,

    // q233's scores CTE + a threshold spine, confusion counts per row
    "q240_threshold_sweep" ->
      """WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) u WHERE t <> ''),
        |lab AS (SELECT doc_id, n_chars >= 300 AS lab FROM documents),
        |counts AS (
        |  SELECT t, CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |         CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS cn
        |  FROM toks JOIN lab USING (doc_id) GROUP BY 1
        |  HAVING count(*) >= 2),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS tp0, CAST(sum(cn) AS BIGINT) AS tn0,
        |        count(*) AS v FROM counts),
        |wts AS (SELECT t,
        |    ((cp + 1) * 1000000000) // (tp0 + v) * 1000
        |      // greatest(((cn + 1) * 1000000000) // (tn0 + v), 1) - 1000 AS w
        |  FROM counts, tot),
        |scores AS (
        |  SELECT doc_id, CAST(sum(coalesce(w, 0)) AS BIGINT) AS score_milli
        |  FROM toks LEFT JOIN wts USING (t) GROUP BY 1),
        |j AS (SELECT s.score_milli, l.lab FROM scores s JOIN lab l USING (doc_id)),
        |th AS (SELECT * FROM (VALUES (-5000), (0), (5000), (20000)) t(threshold)),
        |cm AS (SELECT threshold,
        |    CAST(sum(CASE WHEN score_milli >= threshold AND lab THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN score_milli >= threshold AND NOT lab THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN score_milli < threshold AND lab THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN score_milli < threshold AND NOT lab THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM j CROSS JOIN th GROUP BY threshold)
        |SELECT CAST(threshold AS BIGINT) AS threshold, tp, fp, fn, tn,
        |  CAST(CASE WHEN tp + fp > 0 THEN (tp * 1000) // (tp + fp) ELSE 0 END AS BIGINT)
        |    AS precision_milli,
        |  CAST(CASE WHEN tp + fn > 0 THEN (tp * 1000) // (tp + fn) ELSE 0 END AS BIGINT)
        |    AS recall_milli
        |FROM cm""".stripMargin,

    // term explosion over the en subcorpus, counts > 30
    "q241_stream_cartesian" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        |  FROM documents WHERE lang = 'en')
        |SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |FROM t GROUP BY term HAVING count(*) > 30""".stripMargin,

    // trigram/bigram/unigram model over the en subcorpus, backoff
    // chain in exact integer milli space (400 = alpha, 160 = alpha^2)
    "q242_stupid_backoff" ->
      """WITH sdoc AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        |  FROM documents),
        |mdoc AS (SELECT l FROM sdoc JOIN documents USING (doc_id) WHERE lang = 'en'),
        |trif AS (SELECT doc_id, g.a AS a, g.b AS b, g.c AS c FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 2),
        |    i -> {a: l[i], b: l[i+1], c: l[i+2]})) AS g
        |  FROM sdoc WHERE len(l) >= 3) x),
        |c3 AS (SELECT g.a AS a, g.b AS b, g.c AS c, CAST(count(*) AS BIGINT) AS c3 FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(l) - 2),
        |    i -> {a: l[i], b: l[i+1], c: l[i+2]})) AS g
        |  FROM mdoc WHERE len(l) >= 3) x GROUP BY 1, 2, 3),
        |c2 AS (SELECT g.a AS a, g.b AS b, CAST(count(*) AS BIGINT) AS c2 FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
        |    i -> {a: l[i], b: l[i+1]})) AS g
        |  FROM mdoc WHERE len(l) >= 2) x GROUP BY 1, 2),
        |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM (
        |  SELECT unnest(l) AS t FROM mdoc) x GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS tt FROM c1),
        |s AS (SELECT trif.doc_id,
        |    CASE WHEN c3.c3 IS NOT NULL THEN (c3.c3 * 1000) // cab.c2
        |         WHEN cbc.c2 IS NOT NULL THEN (400 * ((cbc.c2 * 1000) // cb.c1)) // 1000
        |         ELSE (160 * ((coalesce(cc.c1, 0) * 1000) // tt)) // 1000 END AS sc
        |  FROM trif
        |  LEFT JOIN c3 ON trif.a = c3.a AND trif.b = c3.b AND trif.c = c3.c
        |  LEFT JOIN c2 cab ON trif.a = cab.a AND trif.b = cab.b
        |  LEFT JOIN c2 cbc ON trif.b = cbc.a AND trif.c = cbc.b
        |  LEFT JOIN c1 cb ON trif.b = cb.t
        |  LEFT JOIN c1 cc ON trif.c = cc.t
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        |  CAST(sum(sc) AS BIGINT) AS sb_sum,
        |  round(CAST(sum(sc) AS DOUBLE) / count(*), 6) AS avg_sb_r
        |FROM s GROUP BY 1""".stripMargin,

    // backup->restore round trip queried against the SOURCE table
    "q243_backup_restore" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer GROUP BY 1""".stripMargin,

    "q244_source_overlap" ->
      """WITH g AS (SELECT DISTINCT source AS s, gram FROM (
        |  SELECT source, unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(generate_series(1, len(toks) - 2),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS gram
        |  FROM (SELECT source, list_filter(
        |          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |        FROM documents) t) u),
        |tot AS (SELECT s, CAST(count(*) AS BIGINT) AS tot FROM g GROUP BY 1),
        |sh AS (SELECT a.s AS src_a, b.s AS src_b, CAST(count(*) AS BIGINT) AS shared_grams
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.s <> b.s GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_grams,
        |  CAST((shared_grams * 1000) // tot AS BIGINT) AS containment_b_milli
        |FROM sh JOIN tot ON sh.src_b = tot.s""".stripMargin,

    // plant the same chrome, detect+strip with the same rules
    "q245_chrome_strip" ->
      """WITH planted AS (SELECT doc_id, source,
        |    CASE WHEN source = 'src1' THEN 'SITE NAV MENU' || chr(10) || text
        |         WHEN source = 'src2' THEN text || chr(10) || 'COPYRIGHT FOOTER'
        |         ELSE text END AS text
        |  FROM documents),
        |firsts AS (SELECT source, split_part(text, chr(10), 1) AS l, count(*) AS c
        |  FROM planted GROUP BY 1, 2),
        |hdr AS (SELECT source, l AS hdr FROM (
        |    SELECT source, l, c, sum(c) OVER (PARTITION BY source) AS tot,
        |      row_number() OVER (PARTITION BY source ORDER BY c DESC, l ASC) AS rn
        |    FROM firsts) x WHERE rn = 1 AND c * 1000 >= tot * 900),
        |lasts AS (SELECT source, string_split(text, chr(10))[-1] AS l, count(*) AS c
        |  FROM planted GROUP BY 1, 2),
        |ftr AS (SELECT source, l AS ftr FROM (
        |    SELECT source, l, c, sum(c) OVER (PARTITION BY source) AS tot,
        |      row_number() OVER (PARTITION BY source ORDER BY c DESC, l ASC) AS rn
        |    FROM lasts) x WHERE rn = 1 AND c * 1000 >= tot * 900),
        |s1 AS (SELECT p.doc_id, p.source, p.text,
        |    CASE WHEN hdr IS NOT NULL AND (p.text = hdr
        |            OR starts_with(p.text, hdr || chr(10)))
        |         THEN substring(p.text, length(hdr) + 2) ELSE p.text END AS t1
        |  FROM planted p LEFT JOIN hdr USING (source)),
        |s2 AS (SELECT s1.doc_id, s1.source, s1.text,
        |    CASE WHEN ftr IS NOT NULL AND (t1 = ftr
        |            OR ends_with(t1, chr(10) || ftr))
        |         THEN substring(t1, 1, greatest(length(t1) - length(ftr) - 1, 0))
        |         ELSE t1 END AS t2
        |  FROM s1 LEFT JOIN ftr USING (source))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(t2) < length(text) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_stripped,
        |  CAST(sum(length(text) - length(t2)) AS BIGINT) AS chars_removed
        |FROM s2 GROUP BY 1""".stripMargin,

    // the avro round trip must reproduce the source table exactly
    "q246_avro_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |  CAST(sum(label) AS BIGINT) AS label_sum,
        |  CAST(sum(len(embedding)) AS BIGINT) AS dim_sum
        |FROM embeddings""".stripMargin,

    "q247_skipgram_pairs" ->
      """WITH t AS (SELECT list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        |  FROM documents),
        |p AS (SELECT unnest(flatten(list_transform(generate_series(1, len(l)), i ->
        |    list_transform(list_filter(generate_series(greatest(i - 2, 1),
        |        least(i + 2, len(l))), j -> j != i),
        |      j -> {c: l[i], x: l[j]})))) AS pr
        |  FROM t WHERE len(l) >= 2)
        |SELECT pr.c AS center, pr.x AS context, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2 HAVING count(*) > 50""".stripMargin,

    "q248_novelty_curve" ->
      """WITH t AS (SELECT source, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        |  FROM documents),
        |g AS (SELECT source, unnest(CASE WHEN len(l) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(generate_series(1, len(l) - 2),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS gram
        |  FROM t),
        |fs AS (SELECT gram, min(source) AS b FROM g GROUP BY 1),
        |pb AS (SELECT b AS batch, CAST(count(*) AS BIGINT) AS novel_grams
        |  FROM fs GROUP BY 1)
        |SELECT batch, novel_grams,
        |  CAST(sum(novel_grams) OVER (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumulative_grams
        |FROM pb""".stripMargin,

    "q249_map_fq" ->
      """SELECT CASE WHEN CAST(n_chars AS DOUBLE) BETWEEN 0.0 AND 299.0
        |         THEN 0.0 ELSE 1.0 END AS is_long,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1""".stripMargin,

    // the four _version_ arms computed straight from the key ranges
    "q250_optimistic_upsert" ->
      """WITH n AS (SELECT
        |    CAST(count(*) FILTER (WHERE c_custkey BETWEEN 1 AND 50) AS BIGINT) AS na,
        |    CAST(count(*) FILTER (WHERE c_custkey BETWEEN 51 AND 100) AS BIGINT) AS nb,
        |    CAST(count(*) FILTER (WHERE c_custkey BETWEEN 101 AND 150) AS BIGINT) AS nc,
        |    CAST(count(*) FILTER (WHERE c_custkey BETWEEN 251 AND 300) AS BIGINT) AS nd,
        |    CAST(count(*) FILTER (WHERE c_custkey BETWEEN 151 AND 200) AS BIGINT) AS ne,
        |    CAST(count(*) FILTER (WHERE c_custkey BETWEEN 201 AND 250) AS BIGINT) AS nf,
        |    CAST(count(*) AS BIGINT) AS total
        |  FROM customer)
        |SELECT na + nc + nd + nf AS applied,
        |  nb + ne AS conflicts,
        |  na + nc + nd + nf AS store_v9,
        |  total - na - nc - nf AS store_v5,
        |  total + nd AS store_total
        |FROM n""".stripMargin,

    "q251_ltr_features" ->
      """SELECT doc_id, CAST(n_chars AS DOUBLE) / 1000.0 AS f_len,
        |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS f_is_en,
        |  CASE WHEN regexp_matches(source, '^src1.*$') THEN 1.0 ELSE 0.0 END AS f_src1
        |FROM documents WHERE contains(text, 'spark')""".stripMargin,

    "q252_corpus_diff" ->
      """WITH newcut AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 89 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 101 = 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN md5(o.text) <> md5(n.text) THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents o FULL OUTER JOIN newcut n ON o.doc_id = n.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1""".stripMargin,

    "q253_edismax" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tt,
        |    list_filter(string_split_regex(lower(source), '[^a-z0-9]+'), x -> x <> '') AS ts
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |    len(list_filter(tt, x -> x = 'spark')) AS tts,
        |    len(list_filter(ts, x -> x = 'spark')) AS tss,
        |    len(list_filter(tt, x -> x = 'src1')) AS tt1,
        |    len(list_filter(ts, x -> x = 'src1')) AS ts1
        |  FROM t),
        |m AS (SELECT doc_id,
        |    (CASE WHEN tts > 0 OR tss > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN tt1 > 0 OR ts1 > 0 THEN 1 ELSE 0 END) AS matched_terms,
        |    greatest(3000 * tts, 1000 * tss)
        |      + greatest(3000 * tt1, 1000 * ts1) AS score_milli
        |  FROM sc)
        |SELECT doc_id, CAST(matched_terms AS BIGINT) AS matched_terms,
        |  CAST(score_milli AS BIGINT) AS score_milli
        |FROM m WHERE matched_terms >= 2
        |ORDER BY score_milli DESC, doc_id ASC LIMIT 20""".stripMargin,

    "q254_interleave" ->
      """WITH r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rr_rank
        |  FROM documents)
        |SELECT CAST(rr_rank AS BIGINT) AS rr_rank,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r GROUP BY 1""".stripMargin,

    "q255_nucleus_vocab" ->
      """WITH toks AS (
        |  SELECT t FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) u WHERE t <> ''),
        |c AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |x AS (SELECT token, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS tot
        |  FROM c)
        |SELECT token, cnt, cum FROM x WHERE (cum - cnt) * 1000 < tot * 500""".stripMargin,

    "q256_winsorize" ->
      """WITH b AS (SELECT lang,
        |    quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY 1)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN CAST(n_chars AS DOUBLE) < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN CAST(n_chars AS DOUBLE) > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  round(min(lo), 6) AS p05_r, round(min(hi), 6) AS p95_r
        |FROM documents d JOIN b ON d.lang = b.lang GROUP BY 1""".stripMargin,

    "q257_edismax_phrase" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sc AS (SELECT doc_id, n_chars,
        |    len(list_filter(tk, x -> x = 'fast')) AS tff,
        |    len(list_filter(tk, x -> x = 'spark')) AS tfs,
        |    CASE WHEN len(tk) < 2 THEN 0
        |         ELSE len(list_filter(generate_series(1, len(tk) - 1),
        |                i -> tk[i] = 'fast' AND tk[i+1] = 'spark')) END AS ph
        |  FROM t),
        |m AS (SELECT doc_id,
        |    (CASE WHEN tff > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN tfs > 0 THEN 1 ELSE 0 END) AS matched_terms,
        |    1000 * tff + 1000 * tfs + 5000 * ph + n_chars // 10 AS score_milli
        |  FROM sc)
        |SELECT doc_id, CAST(matched_terms AS BIGINT) AS matched_terms,
        |  CAST(score_milli AS BIGINT) AS score_milli
        |FROM m WHERE matched_terms >= 1
        |ORDER BY score_milli DESC, doc_id ASC LIMIT 25""".stripMargin,

    "q258_lang_confusion" -> {
      val en = listLit(TextAnalysis.LangMarkers("en"))
      val de = listLit(TextAnalysis.LangMarkers("de"))
      val fr = listLit(TextAnalysis.LangMarkers("fr"))
      val es = listLit(TextAnalysis.LangMarkers("es"))
      s"""WITH p AS (SELECT lang,
         | CASE WHEN en IS NULL THEN 'und'
         |  WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |  WHEN de >= fr AND de >= es THEN 'de'
         |  WHEN fr >= es THEN 'fr'
         |  ELSE 'es' END AS detected
         |FROM (
         | SELECT lang,
         |  len(list_distinct(list_intersect(toks, $en))) AS en,
         |  len(list_distinct(list_intersect(toks, $de))) AS de,
         |  len(list_distinct(list_intersect(toks, $fr))) AS fr,
         |  len(list_distinct(list_intersect(toks, $es))) AS es
         | FROM (SELECT lang, regexp_extract_all(lower(text), '[a-z]+') AS toks
         |       FROM documents) t) s)
         |SELECT lang, detected, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2""".stripMargin
    },

    "q259_template_structure" ->
      """WITH u AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT translate(text, 'abcdefghijklmnopqrstuvwxyz',
        |                   'bcdefghijklmnopqrstuvwxyza') AS text
        |  FROM documents WHERE doc_id < 30),
        |f AS (SELECT md5(array_to_string(list_transform(
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
        |    t -> CAST(length(t) AS VARCHAR)), ',')) AS shape
        |  FROM u),
        |c AS (SELECT shape, count(*) AS cluster_size FROM f GROUP BY 1
        |      HAVING count(*) >= 2)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters
        |FROM c GROUP BY 1""".stripMargin,

    // q25's cosine top-10 + label-match relevance + the same literal
    // discount/prefix tables (1e6/log2(r+1), floor)
    "q260_retrieval_eval" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |p AS (SELECT q.vec_id AS qid, e.vec_id AS cid, q.label AS ql, e.label AS cl,
        |  list_dot_product(q.v, e.v) /
        |   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        | FROM q, e WHERE q.vec_id <> e.vec_id),
        |r AS (SELECT qid, cid, ql = cl AS rel, rnk FROM (
        | SELECT qid, cid, ql, cl,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        | FROM p) x WHERE rnk <= 10),
        |disc AS (SELECT qid, rel, rnk,
        |  ([1000000, 630929, 500000, 430676, 386852, 356207, 333333, 315464,
        |    301029, 289064])[rnk] AS d
        | FROM r),
        |agg AS (SELECT qid AS query_id,
        |  CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
        |  CAST(sum(CASE WHEN rel THEN d ELSE 0 END) AS BIGINT) AS dcg_micro,
        |  min(CASE WHEN rel THEN rnk END) AS first_rel
        | FROM disc GROUP BY 1)
        |SELECT query_id, n_rel, dcg_micro,
        |  CAST(([0, 1000000, 1630929, 2130929, 2561605, 2948457, 3304664,
        |    3637997, 3953461, 4254490, 4543554])[CAST(n_rel AS INT) + 1] AS BIGINT)
        |    AS idcg_micro,
        |  CASE WHEN n_rel > 0 THEN round(CAST(dcg_micro AS DOUBLE) /
        |    ([0, 1000000, 1630929, 2130929, 2561605, 2948457, 3304664,
        |      3637997, 3953461, 4254490, 4543554])[CAST(n_rel AS INT) + 1], 6)
        |    ELSE 0.0 END AS ndcg_r,
        |  CAST(CASE WHEN first_rel IS NOT NULL THEN 1000 // first_rel
        |    ELSE 0 END AS BIGINT) AS rr_milli
        |FROM agg""".stripMargin,

    // augmented corpus -> q235's split -> fingerprint intersection
    "q261_split_leakage" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000, lang, text FROM documents WHERE doc_id < 20),
        |r AS (SELECT lang, doc_id, text,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM docs),
        |sp AS (SELECT lang,
        |    CASE WHEN (rn - 1) * 1000 < n * 800 THEN 'train'
        |         WHEN (rn - 1) * 1000 < n * 900 THEN 'val' ELSE 'test' END AS split,
        |    md5(text) AS fp
        |  FROM r),
        |tr AS (SELECT DISTINCT fp FROM sp WHERE split = 'train'),
        |te AS (SELECT DISTINCT lang, fp FROM sp WHERE split = 'test')
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_leaked
        |FROM te JOIN tr USING (fp) GROUP BY 1""".stripMargin,

    "q262_stream_select_eval" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |  CAST(n_chars AS DOUBLE) / 100.0 AS centi,
        |  CAST(n_chars AS DOUBLE) + 5.0 AS plus5
        |FROM documents WHERE lang = 'en'""".stripMargin,

    // only FINALIZED windows: end <= max(ts) - 2h watermark
    "q263_stream_windows" ->
      """WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events)
        |SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events, m
        |WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
        |      <= mx - INTERVAL 2 HOUR
        |GROUP BY 1, 2""".stripMargin,

    // the WET round trip must reproduce the corpus exactly
    "q264_wet_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents""".stripMargin,

    "q265_edismax_pf2" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |    len(list_filter(tk, x -> x = 'fast')) AS tf1,
        |    len(list_filter(tk, x -> x = 'spark')) AS tf2,
        |    len(list_filter(tk, x -> x = 'table')) AS tf3,
        |    CASE WHEN len(tk) < 2 THEN 0
        |         ELSE len(list_filter(generate_series(1, len(tk) - 1),
        |                i -> tk[i] = 'fast' AND tk[i+1] = 'spark')) END AS p12,
        |    CASE WHEN len(tk) < 2 THEN 0
        |         ELSE len(list_filter(generate_series(1, len(tk) - 1),
        |                i -> tk[i] = 'spark' AND tk[i+1] = 'table')) END AS p23
        |  FROM t),
        |m AS (SELECT doc_id,
        |    (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS matched_terms,
        |    1000 * tf1 + 1000 * tf2 + 1000 * tf3
        |      + 2000 * p12 + 2000 * p23 AS score_milli
        |  FROM sc)
        |SELECT doc_id, CAST(matched_terms AS BIGINT) AS matched_terms,
        |  CAST(score_milli AS BIGINT) AS score_milli
        |FROM m WHERE matched_terms >= 1
        |ORDER BY score_milli DESC, doc_id ASC LIMIT 25""".stripMargin,

    // q47's subword estimate grouped per source
    "q266_compression_drift" ->
      """WITH s AS (SELECT source, n_chars,
        |    COALESCE(list_aggregate(list_transform(
        |      regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> greatest(1, CAST(ceil(length(x)/4.0) AS INTEGER))), 'sum'), 0)
        |     + length(regexp_replace(text, '[a-zA-Z0-9\s]+', '', 'g')) AS sub
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(sub) AS BIGINT) AS subwords,
        |  round(CAST(sum(n_chars) AS DOUBLE) / CAST(sum(sub) AS BIGINT), 6)
        |    AS chars_per_subword_r
        |FROM s GROUP BY 1""".stripMargin,

    "q267_wet_gz" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents""".stripMargin,

    // survivors of the streaming dedup ingest: min-id doc per distinct
    // text over corpus + planted cross-batch duplicates (ids shifted
    // +100000, always losers because the original's id is smaller and
    // arrives in an earlier or equal batch)
    "q268_stream_dedup_ingest" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id < 10),
        |keep AS (
        |  SELECT min(doc_id) AS keep_id, min(length(text)) AS len
        |  FROM all_docs GROUP BY text)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(keep_id) AS BIGINT) AS id_sum,
        |  CAST(sum(len) AS BIGINT) AS chars
        |FROM keep""".stripMargin,

    "q269_tfrecord_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(length(text)) AS BIGINT) AS chars,
        |  0::BIGINT AS n_corrupt
        |FROM documents""".stripMargin,

    "q270_fuzzy_index" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE levenshtein(p_brand, 'Brand#23') <= 1""".stripMargin,

    "q271_fuzzy_qstring" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE len(list_filter(
        |  regexp_extract_all(lower(text), '[a-z0-9]+'),
        |  t -> levenshtein(t, 'sparc') <= 1)) > 0""".stripMargin,

    "q277_solr_xml_export" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents""".stripMargin,

    "q278_corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id, source, md5(text) AS f FROM documents
        |  WHERE doc_id % 7 <> 0),
        |new AS (
        |  SELECT doc_id, source,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS f
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(new.source, old.source) AS source,
        |  CAST(sum(CASE WHEN old.f IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
        |  CAST(sum(CASE WHEN new.f IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
        |  CAST(sum(CASE WHEN old.f IS NOT NULL AND new.f IS NOT NULL
        |    AND old.f <> new.f THEN 1 ELSE 0 END) AS BIGINT) AS modified,
        |  CAST(sum(CASE WHEN old.f = new.f THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
        |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the mp4 fixtures' generative parameters, recomputed (the parser
    // must read identical values back from the real container bytes)
    "q279_mp4_parse" ->
      """SELECT printf('vid_%02d.mp4', n_nationkey) AS file_name,
        |  CAST(500 * (n_nationkey + 1) AS BIGINT) AS duration_ms,
        |  CAST(1 AS BIGINT) AS n_tracks,
        |  CAST(5 + n_nationkey % 7 AS BIGINT) AS n_samples,
        |  CAST((5 + n_nationkey % 7 + 3) // 4 AS BIGINT) AS n_keyframes,
        |  CAST(320 + 16 * (n_nationkey % 8) AS BIGINT) AS width,
        |  CAST(240 + 16 * (n_nationkey % 5) AS BIGINT) AS height
        |FROM nation""".stripMargin,

    "q280_flv_parse" ->
      """SELECT printf('flv_%02d.flv', r_regionkey) AS file_name,
        |  CAST((6 + r_regionkey - 1) * 40 AS BIGINT) AS duration_ms,
        |  CAST(6 + r_regionkey AS BIGINT) AS n_tags,
        |  CAST((6 + r_regionkey + 2) // 3 AS BIGINT) AS n_keyframes
        |FROM region""".stripMargin,

    // the full-WARC fixture's generative closed forms: record framing,
    // HTTP split, payload checksum, and the html tag-strip extraction
    // all recomputed from the documents table
    "q281_warc_responses" ->
      """WITH resp AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN 404 ELSE 200 END AS st,
        |    CASE WHEN doc_id % 2 = 0 THEN 'text/html'
        |         ELSE 'text/plain' END AS ct,
        |    CASE WHEN doc_id % 2 = 0 THEN '<html><head><title>Doc '
        |        || doc_id || '</title></head><body><p>' || text
        |        || '</p></body></html>'
        |      ELSE text END AS payload,
        |    CASE WHEN doc_id % 2 = 0 THEN length(trim(regexp_replace(
        |        'Doc ' || doc_id || ' ' || text, '\s+', ' ', 'g')))
        |      ELSE length(text) END AS ext
        |  FROM documents)
        |SELECT 'response' AS rec_type, doc_id,
        |  CAST(st AS BIGINT) AS http_status, ct AS mime,
        |  CAST(strlen(payload) AS BIGINT) AS payload_len,
        |  md5(payload) AS payload_md5, CAST(ext AS BIGINT) AS extracted_len
        |FROM resp
        |UNION ALL
        |SELECT 'request', doc_id, NULL, NULL,
        |  CAST(strlen(p) AS BIGINT), md5(p), NULL
        |FROM (SELECT doc_id,
        |    'GET /' || doc_id || ' HTTP/1.1' || chr(13) || chr(10)
        |    || 'Host: corpus' || chr(13) || chr(10) || chr(13) || chr(10) AS p
        |  FROM documents)
        |UNION ALL
        |SELECT 'warcinfo', NULL, NULL, NULL,
        |  CAST(strlen(w) AS BIGINT), md5(w), NULL
        |FROM (SELECT 'software: graft-spark' || chr(13) || chr(10)
        |    || 'format: WARC File Format 1.0' || chr(13) || chr(10) AS w)""".stripMargin,

    // the epub fixtures' generative closed forms: metadata AND the
    // spine-ordered extracted text recomputed per book
    "q283_epub_parse" ->
      """SELECT printf('book_%02d.epub', n_nationkey) AS file_name,
        |  'Book ' || n_nationkey AS title,
        |  ['en', 'de', 'fr'][(n_nationkey % 3) + 1] AS language,
        |  CAST(2 + n_nationkey % 5 AS BIGINT) AS n_chapters,
        |  (SELECT string_agg('chapter ' || i || ' of book ' || n_nationkey,
        |       ' ' ORDER BY i)
        |   FROM unnest(generate_series(1, 2 + n_nationkey % 5)) AS t(i)) AS text
        |FROM nation""".stripMargin,

    "q284_feed_parse" ->
      """SELECT printf('feed_%02d.rss', r_regionkey) AS file_name,
        |  'Feed ' || r_regionkey AS feed_title,
        |  CAST(3 + r_regionkey AS BIGINT) AS n_items,
        |  (SELECT string_agg('Item ' || i || ' story ' || i || ' of feed '
        |       || r_regionkey, ' ' ORDER BY i)
        |   FROM unnest(generate_series(1, 3 + r_regionkey)) AS t(i)) AS text
        |FROM region""".stripMargin,

    // the crawl→corpus chain replayed end-to-end: fixture framing,
    // HTTP filter, text extraction, then the SAME langid/token
    // replicas as q18/q47 over the DERIVED text
    "q285_crawl_to_corpus" -> {
      val en = listLit(TextAnalysis.LangMarkers("en"))
      val de = listLit(TextAnalysis.LangMarkers("de"))
      val fr = listLit(TextAnalysis.LangMarkers("fr"))
      val es = listLit(TextAnalysis.LangMarkers("es"))
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN trim(regexp_replace(
         |        'Doc ' || doc_id || ' ' || text, '\\s+', ' ', 'g'))
         |      ELSE text END AS dtext
         |  FROM documents WHERE doc_id % 10 <> 0)
         |SELECT doc_id,
         | CASE WHEN en IS NULL THEN 'und'
         |  WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |  WHEN de >= fr AND de >= es THEN 'de'
         |  WHEN fr >= es THEN 'fr'
         |  ELSE 'es' END AS lang_pred,
         | CAST(len(string_split_regex(trim(dtext), '\\s+')) AS BIGINT)
         |   AS ws_tokens,
         | CAST(length(dtext) AS BIGINT) AS n_chars
         |FROM (
         | SELECT doc_id, dtext,
         |  len(list_distinct(list_intersect(toks, $en))) AS en,
         |  len(list_distinct(list_intersect(toks, $de))) AS de,
         |  len(list_distinct(list_intersect(toks, $fr))) AS fr,
         |  len(list_distinct(list_intersect(toks, $es))) AS es
         | FROM (SELECT doc_id, dtext,
         |         regexp_extract_all(lower(dtext), '[a-z]+') AS toks
         |       FROM corpus) t) s""".stripMargin
    },

    // the winning capture per URL, recomputed from the fixture's
    // generative closed forms (two dated captures, singleton every
    // fifth doc, ISO dates sort lexicographically)
    "q282_warc_best_capture" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END AS BIGINT)
        |    AS n_captures,
        |  CASE WHEN doc_id % 5 = 0
        |    THEN printf('2024-01-%02dT00:00:00Z', CAST(doc_id % 27 + 1 AS INT))
        |    ELSE '2024-03-01T00:00:00Z' END AS best_date,
        |  CAST(strlen(CASE WHEN doc_id % 5 = 0 THEN text
        |    ELSE text || ' v2' END) AS BIGINT) AS payload_len,
        |  md5(CASE WHEN doc_id % 5 = 0 THEN text ELSE text || ' v2' END)
        |    AS payload_md5
        |FROM documents""".stripMargin,

    "q276_cms_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS item
        |  FROM documents),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT item, count(*) AS cnt FROM toks, tot
        |GROUP BY item, tot.total
        |HAVING count(*) >= ceil(0.005 * total)
        |ORDER BY cnt DESC, item""".stripMargin,

    "q275_zorder_layout" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events
        |WHERE user_id BETWEEN 4 AND 10
        |  AND date_diff('day', DATE '2024-01-01', ts) BETWEEN 7 AND 14
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q274_bloom_incremental" ->
      """WITH corpus AS (
        |  SELECT md5(text) AS k FROM documents WHERE doc_id % 3 <> 0),
        |inc AS (
        |  SELECT doc_id, text, md5(text) AS k FROM documents
        |  WHERE doc_id % 3 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM inc WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus c WHERE c.k = inc.k)""".stripMargin,

    "q272_shortest_path_expr" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS src, 'o:' || o_orderkey AS dst FROM orders
        |  UNION SELECT DISTINCT 'o:' || l_orderkey, 'p:' || l_partkey FROM lineitem
        |  UNION SELECT DISTINCT 'p:' || l_partkey, 'o:' || l_orderkey FROM lineitem),
        |walk AS (
        |  SELECT 'c:1' AS node, ['c:1'] AS path, 0 AS d
        |  UNION ALL
        |  SELECT e.dst, list_append(w.path, e.dst), d + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE d < 4 AND w.node <> 'p:32' AND NOT list_contains(w.path, e.dst)),
        |hits AS (SELECT path, d FROM walk WHERE node = 'p:32'),
        |md AS (SELECT min(d) AS md FROM hits)
        |SELECT array_to_string(path, '>') AS path, CAST(d AS BIGINT) AS depth
        |FROM hits, md WHERE d = md""".stripMargin
  ) ++ routingOracles ++ kmeansOracles

  /**
   * Oracles for the murmur3-routed queries — previously rows-only
   * ("DuckDB can't replay Solr murmur3"), now fully hash-checked: the
   * routing hash is re-derived INSIDE DuckDB by
   * [[graft.route.DuckDbMurmurSql]] (an independent SQL
   * reimplementation of published murmur3_x86_32), so the driver's
   * compare verifies every per-row shard assignment, not just row
   * counts. Range starts come from the spec-pinned router
   * (HashRangeRouterSpec pins them to Solr's published layout).
   */
  private def routingOracles: Map[String, String] = {
    import graft.route.DuckDbMurmurSql._
    val s4 = rangeStarts(4)
    val s8 = rangeStarts(8)
    val liId = "l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR"
    val mu = murmurUnsigned("__id")
    // (hu unsigned, h signed) per id; `sel` provides the __id column
    def hashed(sel: String) =
      s"SELECT ${signed("hu")} AS h, hu FROM (SELECT $mu AS hu FROM ($sel))"
    // The MinHash pipeline as reusable CTE chains (token murmur →
    // w=3 pmod shingles → 32 seed-42 universal-hash minima), so the
    // LSH family's oracles share one proven replica. Assumes every
    // doc has ≥ 3 tokens (generated corpora: min 10); the 10000
    // maxBucket guard cannot trigger at oracle scale.
    def minhashSigCtes(baseName: String, baseSql: String,
                       prefix: String = ""): String = {
      val params = graft.ops.ApproxDedup.hashParams(32, 42)
      val aList = params.map(_._1).mkString("[", ",", "]")
      val bList = params.map(_._2).mkString("[", ",", "]")
      def pstep(acc: String, h: String) =
        s"((($acc) * 1000003 + $h) % 2147483647 + 2147483647) % 2147483647"
      val shingle = pstep(pstep(pstep("1", "a.h"), "b.h"), "c.h")
      s"""$baseName AS ($baseSql),
         |${prefix}arrs AS (
         |  SELECT id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
         |  FROM $baseName),
         |${prefix}toks AS (
         |  SELECT id, i, tk[i] AS __id
         |  FROM (SELECT id, tk,
         |      unnest(generate_series(1, len(tk))) AS i FROM ${prefix}arrs)),
         |${prefix}th AS (SELECT id, i, ${signed("hu")} AS h
         |  FROM (SELECT id, i, $mu AS hu FROM ${prefix}toks)),
         |${prefix}sh AS (
         |  SELECT a.id, a.i, $shingle AS s
         |  FROM ${prefix}th a
         |  JOIN ${prefix}th b ON b.id = a.id AND b.i = a.i + 1
         |  JOIN ${prefix}th c ON c.id = a.id AND c.i = a.i + 2),
         |${prefix}mins AS (
         |  SELECT id, hi, min((s * ($aList)[hi] + ($bList)[hi])
         |    % 2147483647) AS m
         |  FROM ${prefix}sh
         |  CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS hi)
         |  GROUP BY 1, 2),
         |${prefix}sigs AS (
         |  SELECT id, list(m ORDER BY hi) AS sig FROM ${prefix}mins
         |  GROUP BY id)""".stripMargin
    }
    // 8 band keys per signature: murmur of the '_'-joined 4-row slice
    def bandKeysSql(sigsName: String): String =
      s"""SELECT id, sig, b, ${signed("ku")} AS key
         |  FROM (SELECT id, sig, b,
         |      ${murmurUnsigned("array_to_string(sig[4*b+1:4*b+4], '_')")} AS ku
         |    FROM $sigsName
         |    CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b))""".stripMargin
    Map(
      "q12_shard_counts" ->
        s"""SELECT CAST(${shardCase("h", s4)} AS INTEGER) AS shard,
           | count(*) AS cnt
           |FROM (${hashed(s"SELECT $liId AS __id FROM lineitem")})
           |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q13_micro_shards" ->
        s"""SELECT CAST(${shardCase("h", s4)} * 2
           |   + (hu % 2147483648) % 2 AS INTEGER) AS micro,
           | count(*) AS cnt
           |FROM (${hashed(s"SELECT $liId AS __id FROM lineitem")})
           |GROUP BY 1 ORDER BY 1""".stripMargin,

      // build dataflow: retain-most-recent dedup keeps exactly one row
      // per id, so per-shard match-all counts = routed distinct ids
      "q49_build_index" ->
        s"""SELECT CAST(${shardCase("h", s8)} AS INTEGER) AS shard,
           | count(*) AS cnt
           |FROM (${hashed(s"SELECT DISTINCT $liId AS __id FROM lineitem")})
           |GROUP BY 1 ORDER BY 1""".stripMargin,

      // segment store: 8 micro -> merge to 4 parts -> optimize leaves
      // exactly 1 segment per part; docs = routed distinct ids
      "q88_segment_store" ->
        s"""SELECT printf('part-%05d', ${shardCase("h", s4)}) AS part,
           | count(*) AS docs, 1::BIGINT AS segments
           |FROM (${hashed(s"SELECT DISTINCT $liId AS __id FROM lineitem")})
           |GROUP BY 1 ORDER BY 1""".stripMargin,

      // MinHash+LSH was rows-only ("hash/seed-defined") — but every
      // stage is deterministic arithmetic over the same murmur3 the
      // routing oracle rebuilds, so the ENTIRE pipeline replays in
      // SQL: token murmur → w=3 polynomial shingles (pmod chain) →
      // 32 universal-hash minima (seed-42 coefficients injected as
      // literals) → band keys (murmur of the '_'-joined signature
      // slice) → band self-join → agreement/32. Assumes every doc has
      // ≥ w tokens (min is 10 in the generated corpora); the 10000
      // maxBucket guard cannot trigger at oracle scale.
      "q22_minhash_pairs" -> {
        val base =
          """SELECT doc_id AS id, text FROM documents
            |  UNION ALL
            |  SELECT doc_id + 1000000, text || ' near duplicate suffix'
            |  FROM documents WHERE doc_id < 50""".stripMargin
        s"""WITH ${minhashSigCtes("base", base)},
           |bk AS (${bandKeysSql("sigs")}),
           |cand AS (
           |  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sig AS sa, r.sig AS sb
           |  FROM bk l JOIN bk r
           |    ON l.b = r.b AND l.key = r.key AND l.id < r.id),
           |est AS (
           |  SELECT id_a, id_b,
           |    len(list_filter(generate_series(1, 32), i -> sa[i] = sb[i])) / 32.0
           |      AS est_jaccard
           |  FROM cand)
           |SELECT id_a, id_b, est_jaccard FROM est
           |WHERE est_jaccard >= 0.5 ORDER BY 1, 2""".stripMargin
      },

      // the persisted LSH gate (q345): three cohorts' signatures
      // replayed with the q22 machinery, phase-1 matches vs the
      // corpus store, phase-2 vs corpus + phase-1 SURVIVORS (the
      // growth the entry proves), integer-milli estimates, best
      // match by (est desc, id)
      "q345_lsh_incremental" -> {
        val corpusBase =
          "SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 <> 0"
        val b1Base =
          """SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 0
            |  UNION ALL
            |  SELECT doc_id + 1000000, text || ' near duplicate suffix'
            |  FROM documents WHERE doc_id < 30 AND doc_id % 3 <> 0""".stripMargin
        val b2Base =
          """SELECT doc_id + 2000000 AS id,
            |    text || ' near duplicate suffix' AS text
            |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 60""".stripMargin
        def phase(n: Int, probeBk: String, storeBk: String) =
          s"""p$n AS (SELECT DISTINCT n.id, c.id AS cid,
             |    n.sig AS nsig, c.sig AS csig
             |  FROM $probeBk n JOIN $storeBk c
             |    ON c.b = n.b AND c.key = n.key),
             |e$n AS (SELECT id, cid,
             |    (len(list_filter(generate_series(1, 32),
             |       i -> nsig[i] = csig[i])) * 1000) // 32 AS est_milli
             |  FROM p$n),
             |r$n AS (SELECT id, cid AS dup_of, est_milli FROM (
             |  SELECT id, cid, est_milli, row_number() OVER (
             |      PARTITION BY id ORDER BY est_milli DESC, cid) AS rn
             |  FROM e$n WHERE est_milli >= 500) WHERE rn = 1)""".stripMargin
        s"""WITH ${minhashSigCtes("cbase", corpusBase, "c")},
           |${minhashSigCtes("b1base", b1Base, "b1")},
           |${minhashSigCtes("b2base", b2Base, "b2")},
           |cbk AS (${bandKeysSql("csigs")}),
           |b1bk AS (${bandKeysSql("b1sigs")}),
           |b2bk AS (${bandKeysSql("b2sigs")}),
           |${phase(1, "b1bk", "cbk")},
           |surv1 AS (SELECT id, sig FROM b1sigs
           |  WHERE id NOT IN (SELECT id FROM r1)),
           |sbk AS (SELECT * FROM cbk
           |  UNION ALL SELECT * FROM (${bandKeysSql("surv1")}) u),
           |${phase(2, "b2bk", "sbk")}
           |SELECT CAST(1 AS INTEGER) AS phase, id, dup_of,
           |  CAST(est_milli AS BIGINT) AS est_milli FROM r1
           |UNION ALL
           |SELECT CAST(2 AS INTEGER), id, dup_of,
           |  CAST(est_milli AS BIGINT) FROM r2
           |ORDER BY 1, 2""".stripMargin
      },

      // hyperplane LSH top-k: the Gaussian plane matrix (Random(42 +
      // t*7919), row-major — the exact stream the engine uses) rides
      // as a 6144-double literal; per-bit dots replay the kernel's
      // left-to-right fold via list_reduce with a 0.0 prepend, so sign
      // bits (and the cosine rescoring order) are bit-identical IEEE.
      // Output is integer (query, rank, corpus) — doubles only order.
      "q26_lsh_ann" -> {
        val planes = (0 until 16).flatMap { t =>
          val rnd = new scala.util.Random(42L + t * 7919L)
          Seq.fill(6 * 64)(rnd.nextGaussian())
        }
        val pl = planes.mkString("[", ",", "]")
        // sequential fold: 0.0 + x1 + x2 ... (the kernel's d += v*p)
        def seqDot(vExpr: String, pOff: String) =
          s"""list_reduce(list_prepend(0.0,
             |      [CAST(($vExpr)[j + 1] AS DOUBLE) * pl[$pOff + j + 1]
             |       for j in generate_series(0, 63)]), (a, x) -> a + x)""".stripMargin
        // vector-vector form (ArrayDotProduct's fold) for the rescore
        def seqDot2(aE: String, bE: String) =
          s"""list_reduce(list_prepend(0.0,
             |      [CAST(($aE)[j + 1] AS DOUBLE) * CAST(($bE)[j + 1] AS DOUBLE)
             |       for j in generate_series(0, 63)]), (a, x) -> a + x)""".stripMargin
        s"""WITH pls AS (SELECT $pl AS pl),
           |vecs AS (SELECT vec_id AS id, embedding AS v
           |  FROM embeddings),
           |dots AS (
           |  SELECT id, t, b,
           |    ${seqDot("v", "t * 384 + b * 64")} AS d
           |  FROM vecs, pls,
           |    (SELECT unnest(generate_series(0, 15)) AS t),
           |    (SELECT unnest(generate_series(0, 5)) AS b)),
           |buckets AS (
           |  SELECT id, t,
           |    sum(CASE WHEN d >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS bucket
           |  FROM dots GROUP BY 1, 2),
           |pairs AS (
           |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id
           |  FROM buckets q JOIN buckets c
           |    ON q.t = c.t AND q.bucket = c.bucket AND q.id <> c.id
           |  WHERE q.id < 10),
           |scored AS (
           |  SELECT p.query_id, p.corpus_id,
           |    (${seqDot2("qv.v", "cv.v")}) /
           |    (sqrt(${seqDot2("qv.v", "qv.v")}) *
           |     sqrt(${seqDot2("cv.v", "cv.v")})) AS cosine
           |  FROM pairs p
           |  JOIN vecs qv ON qv.id = p.query_id
           |  JOIN vecs cv ON cv.id = p.corpus_id),
           |ranked AS (
           |  SELECT query_id, corpus_id, CAST(row_number() OVER (
           |      PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC)
           |    AS INTEGER) AS rank
           |  FROM scored)
           |SELECT query_id, rank, corpus_id FROM ranked
           |WHERE rank <= 5 ORDER BY 1, 2""".stripMargin
      },

      // winnowing (Schleimer et al.): distinct window-of-4 minima over
      // the same w=3 shingle-hash chain — the fingerprint COUNT per
      // doc replays as a window-min + count(DISTINCT). Full windows
      // only (docs have ≥ 8 shingles, so the n<=w degenerate arm of
      // the kernel is unreachable in the generated corpora).
      "q48_winnowing" -> {
        val base = "SELECT doc_id AS id, text FROM documents"
        s"""WITH ${minhashSigCtes("base", base)},
           |wmins AS (
           |  SELECT id, i,
           |    min(s) OVER (PARTITION BY id ORDER BY i
           |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
           |    max(i) OVER (PARTITION BY id) AS maxi
           |  FROM sh)
           |SELECT id AS doc_id, CAST(count(DISTINCT m) AS BIGINT)
           |    AS n_fingerprints
           |FROM wmins WHERE i <= maxi - 3
           |GROUP BY 1 ORDER BY 1""".stripMargin
      },

      // the DROP form of the same pipeline: losers = the larger id of
      // any banded pair at est >= 0.7; survivors counted
      "q54_drop_near_dups" -> {
        val base =
          """SELECT doc_id AS id, text FROM documents
            |  UNION ALL
            |  SELECT doc_id + 1000000, text || ' tiny suffix'
            |  FROM documents WHERE doc_id < 30""".stripMargin
        s"""WITH ${minhashSigCtes("base", base)},
           |bk AS (${bandKeysSql("sigs")}),
           |losers AS (
           |  SELECT DISTINCT r.id AS lid
           |  FROM bk l JOIN bk r
           |    ON l.b = r.b AND l.key = r.key AND l.id < r.id
           |  WHERE len(list_filter(generate_series(1, 32),
           |      i -> l.sig[i] = r.sig[i])) / 32.0 >= 0.7)
           |SELECT CAST(count(*) AS BIGINT) AS kept,
           |  CAST(sum(CASE WHEN id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS planted_survivors
           |FROM base WHERE id NOT IN (SELECT lid FROM losers)""".stripMargin
      },

      // BPE END-TO-END (learn 20 merges + encode), replayed by 20
      // statically-unrolled rounds: round k picks the (cnt desc, a, b)
      // argmax pair over the weighted adjacent-pair counts of corpus
      // state k-1, then rewrites every word with the left-to-right
      // non-overlap fold. After 20 rounds the corpus state IS the
      // rank-order encoding (a learned pair's symbols pre-date pairs
      // built from them — Bpe.scala's min-rank/rank-order parity), so
      // no separate encode stage exists to diverge.
      "q161_bpe_encode" -> {
        def pairCte(k: Int) =
          s"""bp$k AS MATERIALIZED (
             |  SELECT a, b FROM (
             |    SELECT p.s[1] AS a, p.s[2] AS b, sum(freq) AS cnt
             |    FROM (SELECT freq, unnest([[syms[j], syms[j + 1]]
             |        for j in generate_series(1, len(syms) - 1)]) AS s
             |      FROM w${k - 1}) p
             |    GROUP BY 1, 2)
             |  ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
        def rewriteCte(k: Int) =
          s"""w$k AS MATERIALIZED (
             |  SELECT list_reduce(list_prepend([]::VARCHAR[],
             |      [[s] for s in syms]),
             |      (acc, x) -> CASE WHEN len(acc) > 0
             |          AND acc[len(acc)] = bp$k.a AND x[1] = bp$k.b
             |        THEN acc[1:len(acc) - 1] || [bp$k.a || bp$k.b]
             |        ELSE acc || x END) AS syms, freq
             |  FROM w${k - 1} CROSS JOIN bp$k)""".stripMargin
        val rounds = (1 to 20).map(k => pairCte(k) + ",\n" + rewriteCte(k))
          .mkString(",\n")
        s"""WITH w0 AS MATERIALIZED (
           |  SELECT [substr(word, j, 1) for j in generate_series(1, len(word))]
           |      AS syms, count(*) AS freq
           |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
           |      AS word FROM documents)
           |  GROUP BY 1),
           |$rounds
           |SELECT subword, CAST(sum(freq) AS BIGINT) AS occurrences
           |FROM (SELECT unnest(syms) AS subword, freq FROM w20)
           |GROUP BY 1 ORDER BY occurrences DESC, subword LIMIT 20""".stripMargin
      },

      // byte-level BPE: q161's unrolled-merge replay over GPT-2 chunks
      // — the corpus is single-space lowercase words, so the GPT-2
      // regex's chunks are exactly [w0, ' w1', ' w2', ...] and the
      // byte alphabet's only non-identity mapping is space → Ġ
      // (chr(288), the published bytes_to_unicode table)
      "q329_bytelevel_bpe" -> {
        def pairCte(k: Int) =
          s"""bp$k AS MATERIALIZED (
             |  SELECT a, b FROM (
             |    SELECT p.s[1] AS a, p.s[2] AS b, sum(freq) AS cnt
             |    FROM (SELECT freq, unnest([[syms[j], syms[j + 1]]
             |        for j in generate_series(1, len(syms) - 1)]) AS s
             |      FROM w${k - 1}) p
             |    GROUP BY 1, 2)
             |  ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
        def rewriteCte(k: Int) =
          s"""w$k AS MATERIALIZED (
             |  SELECT list_reduce(list_prepend([]::VARCHAR[],
             |      [[s] for s in syms]),
             |      (acc, x) -> CASE WHEN len(acc) > 0
             |          AND acc[len(acc)] = bp$k.a AND x[1] = bp$k.b
             |        THEN acc[1:len(acc) - 1] || [bp$k.a || bp$k.b]
             |        ELSE acc || x END) AS syms, freq
             |  FROM w${k - 1} CROSS JOIN bp$k)""".stripMargin
        val rounds = (1 to 20).map(k => pairCte(k) + ",\n" + rewriteCte(k))
          .mkString(",\n")
        s"""WITH wsl AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |chunks AS (
           |  SELECT CASE WHEN i = 1 THEN ws[i]
           |              ELSE chr(288) || ws[i] END AS word
           |  FROM (SELECT ws, unnest(generate_series(1, len(ws))) AS i
           |        FROM wsl)),
           |w0 AS MATERIALIZED (
           |  SELECT [substr(word, j, 1) for j in generate_series(1, len(word))]
           |      AS syms, count(*) AS freq
           |  FROM chunks GROUP BY 1),
           |$rounds
           |SELECT subword AS token, CAST(sum(freq) AS BIGINT) AS occurrences
           |FROM (SELECT unnest(syms) AS subword, freq FROM w20)
           |GROUP BY 1 ORDER BY occurrences DESC, token LIMIT 20""".stripMargin
      },

      // the WHOLE corpus pipeline (quality gate → PII redaction →
      // exact fingerprint dedup → near-dup drop), stage by stage: the
      // quality signals, the RE2∩Java redaction chain (built from
      // Redaction.Patterns so oracle and engine can never drift), the
      // min-id fingerprint window, and the now-replayed minhash loser
      // rule at 0.7 — every stage an already-proven replica, composed
      "q78_corpus_pipeline" -> {
        val redactChain = graft.text.Redaction.Patterns.foldLeft("text") {
          case (acc, (_, pat, rep)) =>
            s"regexp_replace($acc, '${pat.replace("\\", "\\\\")
              .replace("'", "''")}', '$rep', 'g')"
        }
        val corpus =
          """SELECT doc_id AS id, text FROM documents
            |  UNION ALL
            |  SELECT doc_id + 500000, text FROM documents WHERE doc_id < 20
            |  UNION ALL
            |  SELECT doc_id + 600000, text || ' tiny suffix'
            |  FROM documents WHERE doc_id < 40
            |  UNION ALL
            |  SELECT doc_id + 700000, substr(text, 1, 12)
            |  FROM documents WHERE doc_id < 10""".stripMargin
        s"""WITH corpus AS ($corpus),
           |qual AS (
           |  SELECT id, text FROM (
           |    SELECT id, text,
           |      len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt,
           |      list_sum([0] || [len(x)
           |        for x in regexp_extract_all(lower(text), '[a-z0-9]+')]) AS tl,
           |      len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS np,
           |      len(text) AS nc
           |    FROM corpus)
           |  WHERE nt >= 5
           |    AND CAST(tl AS DOUBLE) / CAST(nt AS DOUBLE) >= 2.0
           |    AND CAST(tl AS DOUBLE) / CAST(nt AS DOUBLE) <= 12.0
           |    AND (nc = 0 OR CAST(np AS DOUBLE) / CAST(nc AS DOUBLE) <= 0.3)),
           |red AS (SELECT id, $redactChain AS text FROM qual),
           |ex AS (
           |  SELECT id, text FROM (
           |    SELECT id, text, row_number() OVER (
           |        PARTITION BY md5(regexp_replace(trim(lower(text)),
           |          '\\s+', ' ', 'g'))
           |        ORDER BY id ASC) AS rn
           |    FROM red)
           |  WHERE rn = 1),
           |${minhashSigCtes("nb", "SELECT id, text FROM ex")},
           |bk AS (${bandKeysSql("sigs")}),
           |losers AS (
           |  SELECT DISTINCT r.id AS lid
           |  FROM bk l JOIN bk r
           |    ON l.b = r.b AND l.key = r.key AND l.id < r.id
           |  WHERE len(list_filter(generate_series(1, 32),
           |      i -> l.sig[i] = r.sig[i])) / 32.0 >= 0.7)
           |SELECT CAST(count(*) AS BIGINT) AS kept,
           |  CAST(sum(CASE WHEN id >= 500000 AND id < 600000
           |    THEN 1 ELSE 0 END) AS BIGINT) AS exact_survivors,
           |  CAST(sum(CASE WHEN id >= 600000 AND id < 700000
           |    THEN 1 ELSE 0 END) AS BIGINT) AS near_survivors,
           |  CAST(sum(CASE WHEN id >= 700000 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS junk_survivors
           |FROM ex WHERE id NOT IN (SELECT lid FROM losers)""".stripMargin
      },

      // the INCREMENTAL form (L117 state): batch ids drop when their
      // signature agrees >= 0.8 with ANY banded corpus signature
      "q163_delta_neardup" -> {
        val corpus = "SELECT doc_id AS id, text FROM documents WHERE doc_id < 400"
        val batch =
          """SELECT doc_id AS id, text, source FROM documents WHERE doc_id >= 400
            |  UNION ALL
            |  SELECT doc_id + 200000, text || ' extra', source
            |  FROM documents WHERE doc_id < 10""".stripMargin
        s"""WITH ${minhashSigCtes("cbase", corpus, prefix = "c")},
           |${minhashSigCtes("nbase", batch, prefix = "n")},
           |cbk AS (${bandKeysSql("csigs")}),
           |nbk AS (${bandKeysSql("nsigs")}),
           |losers AS (
           |  SELECT DISTINCT n.id AS lid
           |  FROM nbk n JOIN cbk c ON n.b = c.b AND n.key = c.key
           |  WHERE len(list_filter(generate_series(1, 32),
           |      i -> n.sig[i] = c.sig[i])) / 32.0 >= 0.8)
           |SELECT id AS doc_id, source FROM nbase
           |WHERE id NOT IN (SELECT lid FROM losers) ORDER BY 1""".stripMargin
      },

      // SimHash was rows-only ("hash-family-defined") — but the family
      // is the same murmur3 the routing oracle rebuilds, so the WHOLE
      // fingerprint replays in SQL: per-token hash → 32 bit votes →
      // majority bits. Zero-token docs fingerprint to 0 on both sides.
      "q23_simhash" ->
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS __id
           |  FROM documents),
           |h AS (SELECT doc_id, ${murmurUnsigned("__id")} AS hu FROM toks),
           |votes AS (
           |  SELECT doc_id, i,
           |    sum(CASE WHEN (hu >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
           |  FROM h CROSS JOIN generate_series(0, 31) AS g(i)
           |  GROUP BY 1, 2),
           |sim AS (
           |  SELECT doc_id,
           |    sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sh
           |  FROM votes GROUP BY 1)
           |SELECT d.doc_id, CAST(coalesce(s.sh, 0) AS BIGINT) AS simhash
           |FROM documents d LEFT JOIN sim s USING (doc_id)
           |ORDER BY 1""".stripMargin,

      // live sink: what the HTTP collector received per shard must be
      // exactly the murmur3 slice assignment of the whole corpus
      "q273_live_solr_sink" ->
        s"""SELECT CAST(${shardCase("h", s4)} AS INTEGER) AS shard,
           | count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           | CAST(sum(length(text)) AS BIGINT) AS chars
           |FROM (SELECT doc_id, text, ${signed("hu")} AS h
           |  FROM (SELECT doc_id, text,
           |      ${murmurUnsigned("doc_id::VARCHAR")} AS hu FROM documents))
           |GROUP BY 1 ORDER BY 1""".stripMargin,

      // composite `source!doc_id`: top 16 bits of hash(source) pick the
      // slice, bottom 16 of hash(doc_id) spread within it
      "q50_composite_route" ->
        s"""SELECT source, count(DISTINCT shard) AS n_shards,
           | CAST(count(*) AS BIGINT) AS docs
           |FROM (SELECT source, ${shardCase("h", s8)} AS shard
           |  FROM (SELECT source, ${signed("cu")} AS h
           |    FROM (SELECT source,
           |        ${compositeUnsigned("pu", "su")} AS cu
           |      FROM (SELECT source, ${murmurUnsigned("source")} AS pu,
           |          ${murmurUnsigned("doc_id::VARCHAR")} AS su
           |        FROM documents))))
           |GROUP BY source ORDER BY source""".stripMargin
    )
  }

  /**
   * Oracles for the IVF k-means queries (q46/q158) — previously
   * rows-only ("cells depend on engine-side training"), now fully
   * hash-checked by replaying the ENTIRE training loop in DuckDB as 8
   * unrolled materialized Lloyd rounds (the q161 BPE technique):
   *
   *  - the sample is the ordered min-id take (reproducible by
   *    construction, commit c14b771);
   *  - init is the k sample vectors with smallest
   *    `md5('<seed>:<id>')` — Similarity.kmeans selects them the same
   *    way, replacing the JVM-only Random.shuffle;
   *  - every float accumulation on both sides is a sequential
   *    left-fold from +0.0 in a pinned order (dim order for
   *    distances/dots, ascending-id order for per-cluster means), so
   *    centroids — and everything downstream of them — are
   *    BIT-IDENTICAL doubles, not approximately-equal ones;
   *  - assignment ties keep the lowest centroid index on both sides
   *    (strict `<` scan ⟷ ORDER BY dist, i).
   */
  /** The bucketed IndexBinaryIVF replay, parameterized on the
    * TRAINING cohort (`sampWhere` filters the ordered sample — the
    * add-path oracle trains on the build cohort only) and on the
    * filtered-search predicate (`candPred` restricts candidates after
    * probe pruning, the engine's semi-join position). Everything else
    * — md5-ordered seed pick, (hamming, i) assignment, per-bit
    * majority vote (ties to 1), bit repack, nprobe probe ranking,
    * in-cell Hamming cut, exact-cosine re-rank — is shared verbatim
    * across q321/q325/q326. */
  private def binaryIvfSql(sampWhere: String, candPred: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |c AS (SELECT vec_id,
      |  [list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN v[0 + b + 1] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END for b in generate_series(0, 31)]), (acc, x) -> acc * 2 + x),
      |   list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN v[32 + b + 1] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END for b in generate_series(0, 31)]), (acc, x) -> acc * 2 + x)] AS code FROM e),
      |samp AS (SELECT vec_id, code FROM c $sampWhere
      |  ORDER BY vec_id LIMIT 2048),
      |seeds AS (SELECT code, CAST(row_number() OVER (
      |    ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)),
      |      CAST(vec_id AS VARCHAR)) AS INTEGER) - 1 AS i FROM samp),
      |sd AS (SELECT * FROM seeds WHERE i < 8),
      |a0 AS (SELECT vec_id, i FROM (
      |  SELECT s.vec_id, d.i, row_number() OVER (PARTITION BY s.vec_id
      |    ORDER BY bit_count(xor(s.code[1], d.code[1]))
      |           + bit_count(xor(s.code[2], d.code[2])), d.i) AS rn
      |  FROM samp s CROSS JOIN sd d) t WHERE rn = 1),
      |bs AS (SELECT a.i AS ci, j.j,
      |    (s.code[1 + (j.j // 32)] >> (31 - (j.j % 32))) & 1 AS b
      |  FROM a0 a JOIN samp s USING (vec_id)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j),
      |vb AS (SELECT ci, j,
      |    CASE WHEN 2 * sum(b) >= count(*) THEN CAST(1 AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM bs GROUP BY ci, j),
      |vbits AS (SELECT ci, list(bit ORDER BY j) AS bits FROM vb GROUP BY ci),
      |vc AS (
      |  SELECT ci AS i,
      |    [list_reduce(list_prepend(CAST(0 AS BIGINT), [bits[b + 1] for b in generate_series(0, 31)]), (acc, x) -> acc * 2 + x),
      |     list_reduce(list_prepend(CAST(0 AS BIGINT), [bits[32 + b + 1] for b in generate_series(0, 31)]), (acc, x) -> acc * 2 + x)] AS code
      |  FROM vbits
      |  UNION ALL
      |  SELECT d.i, d.code FROM sd d
      |  WHERE d.i NOT IN (SELECT ci FROM vb)),
      |cells AS (SELECT vec_id, i AS cell FROM (
      |  SELECT t.vec_id, v.i, row_number() OVER (PARTITION BY t.vec_id
      |    ORDER BY bit_count(xor(t.code[1], v.code[1]))
      |           + bit_count(xor(t.code[2], v.code[2])), v.i) AS rn
      |  FROM c t CROSS JOIN vc v) t2 WHERE rn = 1),
      |q AS (SELECT * FROM c WHERE vec_id < 10),
      |probes AS (SELECT query_id, cell FROM (
      |  SELECT qq.vec_id AS query_id, v.i AS cell, row_number() OVER (
      |    PARTITION BY qq.vec_id
      |    ORDER BY bit_count(xor(qq.code[1], v.code[1]))
      |           + bit_count(xor(qq.code[2], v.code[2])), v.i) AS rn
      |  FROM q qq CROSS JOIN vc v) t3 WHERE rn <= 4),
      |h AS (SELECT p.query_id, t.vec_id AS corpus_id,
      |    bit_count(xor(qq.code[1], t.code[1]))
      |      + bit_count(xor(qq.code[2], t.code[2])) AS ham
      |  FROM probes p
      |  JOIN cells cl ON cl.cell = p.cell
      |  JOIN c t ON t.vec_id = cl.vec_id AND t.vec_id <> p.query_id
      |  JOIN q qq ON qq.vec_id = p.query_id
      |  WHERE $candPred),
      |cand AS (SELECT query_id, corpus_id FROM (
      |  SELECT query_id, corpus_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY ham, corpus_id) AS hr FROM h) t4
      |  WHERE hr <= 32),
      |r AS (SELECT cand.query_id, cand.corpus_id,
      |  list_dot_product(qv.v, cv.v) /
      |   (sqrt(list_dot_product(qv.v, qv.v))
      |    * sqrt(list_dot_product(cv.v, cv.v))) AS cosine
      | FROM cand
      | JOIN e qv ON qv.vec_id = cand.query_id
      | JOIN e cv ON cv.vec_id = cand.corpus_id)
      |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
      | SELECT query_id, corpus_id, row_number() OVER (
      |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
      | FROM r) t5 WHERE rn <= 5 ORDER BY 1, 2""".stripMargin

  private def kmeansOracles: Map[String, String] = {
    val k = 16; val iters = 8; val dim = 64; val seed = 42L
    val sampleLimit = 2048
    val dj = s"generate_series(0, ${dim - 1})"
    // sequential left fold from +0.0 — the kernels' `d += ...` loop
    def fold(listExpr: String) =
      s"list_reduce(list_prepend(0.0, $listExpr), (acc, x) -> acc + x)"
    def sqDist(vE: String, cE: String) =
      fold(s"[(($vE)[j + 1] - ($cE)[j + 1]) * (($vE)[j + 1] - ($cE)[j + 1]) " +
        s"for j in $dj]")
    def dotF(aE: String, bE: String) =
      fold(s"[($aE)[j + 1] * ($bE)[j + 1] for j in $dj]")
    // one Lloyd round: assign (ties -> lowest i), then per-cluster
    // per-dim mean folded in ascending-id order; empty cells carry
    def round(r: Int) =
      s"""a$r AS MATERIALIZED (
         |  SELECT id, i FROM (
         |    SELECT s.id, c.i, row_number() OVER (PARTITION BY s.id
         |        ORDER BY ${sqDist("s.v", "c.c")}, c.i) AS rn
         |    FROM samp s CROSS JOIN c${r - 1} c)
         |  WHERE rn = 1),
         |m$r AS MATERIALIZED (
         |  SELECT a.i, d.j,
         |    ${fold("list(d.vj ORDER BY d.id)")} / count(*) AS cj
         |  FROM a$r a JOIN dims d ON d.id = a.id
         |  GROUP BY 1, 2),
         |c$r AS MATERIALIZED (
         |  SELECT i, list(cj ORDER BY j) AS c FROM m$r GROUP BY 1
         |  UNION ALL
         |  SELECT p.i, p.c FROM c${r - 1} p
         |  WHERE p.i NOT IN (SELECT i FROM a$r))""".stripMargin
    val rounds = (1 to iters).map(round).mkString(",\n")
    // shared: train on the ordered sample, then assign the full corpus
    // by negative cosine (ties -> lowest i), exactly CentroidNegCosines.
    // `sampWhere` restricts the TRAINING cohort (the add-path oracles
    // train on the build cohort while assignment covers everyone —
    // the q325 pattern).
    def trainAndAssignW(sampWhere: String) =
      s"""samp AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |    [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
         |  FROM embeddings $sampWhere ORDER BY vec_id LIMIT $sampleLimit),
         |dims AS MATERIALIZED (
         |  SELECT id, j, v[j + 1] AS vj
         |  FROM samp, (SELECT unnest($dj) AS j)),
         |c0 AS MATERIALIZED (
         |  SELECT i, c FROM (
         |    SELECT CAST(row_number() OVER (
         |        ORDER BY md5('$seed:' || CAST(id AS VARCHAR)),
         |        CAST(id AS VARCHAR)) AS INTEGER) - 1 AS i, v AS c
         |    FROM samp)
         |  WHERE i < $k),
         |$rounds,
         |cn AS MATERIALIZED (
         |  SELECT i, c, sqrt(${dotF("c", "c")}) AS cnorm FROM c$iters),
         |corpn AS MATERIALIZED (
         |  SELECT id, v, sqrt(${dotF("v", "v")}) AS vnorm FROM (
         |    SELECT vec_id AS id,
         |      [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
         |    FROM embeddings)),
         |cells AS MATERIALIZED (
         |  SELECT id, i AS cell, row_number() OVER (PARTITION BY id
         |      ORDER BY -(${dotF("t.v", "c.c")} / (t.vnorm * c.cnorm)),
         |        c.i) AS rn
         |  FROM corpn t CROSS JOIN cn c),
         |corpcell AS MATERIALIZED (
         |  SELECT id, cell FROM cells WHERE rn = 1)""".stripMargin
    val trainAndAssign = trainAndAssignW("")
    // SQ8 replay, parameterized on the FILTERED-SEARCH predicate
    // (`candPred` restricts candidates after probe pruning, the
    // engine's semi-join position — the binaryIvfSql pattern):
    // coarse training + scalar min/max over the NORMALIZED evens
    // sample, codes for everyone under the frozen quantizers,
    // probed-cell integer-L2 candidates, exact re-rank
    val sq8Cte: String = {
      val t = trainAndAssignW("WHERE vec_id % 2 = 0")
      s"""$t,
         |sn AS MATERIALIZED (
         |  SELECT id, sqrt(${dotF("v", "v")}) AS nrm FROM samp),
         |ndims AS MATERIALIZED (
         |  SELECT d.id, d.j,
         |    CASE WHEN s.nrm = 0 THEN 0.0 ELSE d.vj / s.nrm END AS vj
         |  FROM dims d JOIN sn s ON s.id = d.id),
         |sq AS MATERIALIZED (
         |  SELECT j, min(vj) AS vmin, max(vj) - min(vj) AS vdiff
         |  FROM ndims GROUP BY j),
         |codes AS MATERIALIZED (
         |  SELECT t.id, list(CASE WHEN s.vdiff = 0 THEN 0
         |      ELSE CAST(least(255, greatest(0,
         |        floor(((CASE WHEN t.vnorm = 0 THEN 0.0
         |                ELSE t.v[s.j + 1] / t.vnorm END) - s.vmin)
         |          / s.vdiff * 255 + 0.5)))
         |        AS INTEGER) END ORDER BY s.j) AS qc
         |  FROM corpn t CROSS JOIN sq s GROUP BY t.id)""".stripMargin
    }
    def sq8Sql(candPred: String): String = {
      s"""WITH $sq8Cte,
         |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
         |sd AS (
         |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST((qq.qc[j + 1] - cq.qc[j + 1])
         |         * (qq.qc[j + 1] - cq.qc[j + 1]) AS BIGINT)
         |       for j in $dj]),
         |      (acc, x) -> acc + x) AS d2
         |  FROM qcell q JOIN corpcell c ON c.cell = q.cell AND c.id <> q.id
         |    AND $candPred
         |  JOIN codes qq ON qq.id = q.id
         |  JOIN codes cq ON cq.id = c.id),
         |cand AS (SELECT query_id, corpus_id FROM (
         |  SELECT query_id, corpus_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2 ASC, corpus_id) AS r
         |  FROM sd) WHERE r <= 32),
         |rer AS (SELECT cand.query_id, cand.corpus_id,
         |  ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
         | FROM cand JOIN corpn qv ON qv.id = cand.query_id
         | JOIN corpn cv ON cv.id = cand.corpus_id)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
         |  SELECT query_id, corpus_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
         |  FROM rer)
         |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin
    }
    // SQ8 drift probe (q336): the stored cohort is the DEQUANTIZED
    // codes (vmin + qc/255·vdiff — the store as served), the recent
    // cohort the q308 shifted batch; both summed in the exact
    // integer-milli assignment-distance space
    val sq8DriftSql: String =
      s"""WITH $sq8Cte,
         |dec AS MATERIALIZED (
         |  SELECT c.id,
         |    list(s.vmin + c.qc[s.j + 1] / 255.0 * s.vdiff ORDER BY s.j) AS v
         |  FROM codes c CROSS JOIN sq s GROUP BY c.id),
         |decn AS MATERIALIZED (
         |  SELECT id, v, sqrt(${dotF("v", "v")}) AS vnorm FROM dec),
         |sdist AS (
         |  SELECT t.id, CAST(round((1 - max(${dotF("t.v", "c.c")} /
         |      (t.vnorm * c.cnorm))) * 1000) AS BIGINT) AS dm
         |  FROM decn t CROSS JOIN cn c GROUP BY t.id),
         |recn AS (
         |  SELECT id, v, sqrt(${dotF("v", "v")}) AS vnorm FROM (
         |    SELECT vec_id AS id,
         |      [CAST(embedding[j + 1] AS DOUBLE) +
         |        (CASE WHEN j = 0 THEN 0.3 ELSE 0.0 END) for j in $dj] AS v
         |    FROM embeddings)),
         |rdist AS (
         |  SELECT t.id, CAST(round((1 - max(${dotF("t.v", "c.c")} /
         |      (t.vnorm * c.cnorm))) * 1000) AS BIGINT) AS dm
         |  FROM recn t CROSS JOIN cn c GROUP BY t.id)
         |SELECT 'store' AS cohort, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(dm) AS BIGINT) AS sum_dist_milli FROM sdist
         |UNION ALL
         |SELECT 'recent', CAST(count(*) AS BIGINT),
         |  CAST(sum(dm) AS BIGINT) FROM rdist""".stripMargin
    // Store-served Matryoshka (q337): 16-dim k-means trained on the
    // evens' PREFIX slices, prefix-space assignment + probing, prefix
    // cosine candidates, full-dim exact re-rank — the whole two-stage
    // store replayed (same Lloyd protocol as trainAndAssignW, folds
    // over the first 16 dims only). `candPred` restricts the
    // candidate rows (the pinned-read oracle q342 models the
    // pin-time live set with it — the sq8Sql pattern).
    def mrlSql(candPred: String): String = {
      val pd = 16
      val djp = s"generate_series(0, ${pd - 1})"
      def dotP(aE: String, bE: String) =
        fold(s"[($aE)[j + 1] * ($bE)[j + 1] for j in $djp]")
      def sqDistP(vE: String, cE: String) =
        fold(s"[(($vE)[j + 1] - ($cE)[j + 1]) * (($vE)[j + 1] - ($cE)[j + 1]) " +
          s"for j in $djp]")
      def roundP(r: Int) =
        s"""a$r AS MATERIALIZED (
           |  SELECT id, i FROM (
           |    SELECT s.id, c.i, row_number() OVER (PARTITION BY s.id
           |        ORDER BY ${sqDistP("s.v", "c.c")}, c.i) AS rn
           |    FROM samp s CROSS JOIN c${r - 1} c)
           |  WHERE rn = 1),
           |m$r AS MATERIALIZED (
           |  SELECT a.i, d.j,
           |    ${fold("list(d.vj ORDER BY d.id)")} / count(*) AS cj
           |  FROM a$r a JOIN dims d ON d.id = a.id
           |  GROUP BY 1, 2),
           |c$r AS MATERIALIZED (
           |  SELECT i, list(cj ORDER BY j) AS c FROM m$r GROUP BY 1
           |  UNION ALL
           |  SELECT p.i, p.c FROM c${r - 1} p
           |  WHERE p.i NOT IN (SELECT i FROM a$r))""".stripMargin
      val roundsP = (1 to iters).map(roundP).mkString(",\n")
      s"""WITH samp AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |    [CAST(embedding[j + 1] AS DOUBLE) for j in $djp] AS v
         |  FROM embeddings WHERE vec_id % 2 = 0
         |  ORDER BY vec_id LIMIT $sampleLimit),
         |dims AS MATERIALIZED (
         |  SELECT id, j, v[j + 1] AS vj
         |  FROM samp, (SELECT unnest($djp) AS j)),
         |c0 AS MATERIALIZED (
         |  SELECT i, c FROM (
         |    SELECT CAST(row_number() OVER (
         |        ORDER BY md5('$seed:' || CAST(id AS VARCHAR)),
         |        CAST(id AS VARCHAR)) AS INTEGER) - 1 AS i, v AS c
         |    FROM samp)
         |  WHERE i < $k),
         |$roundsP,
         |cn AS MATERIALIZED (
         |  SELECT i, c, sqrt(${dotP("c", "c")}) AS cnorm FROM c$iters),
         |corpn AS MATERIALIZED (
         |  SELECT id, v, sqrt(${dotF("v", "v")}) AS vnorm FROM (
         |    SELECT vec_id AS id,
         |      [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
         |    FROM embeddings)),
         |corpp AS MATERIALIZED (
         |  SELECT id, [v[j + 1] for j in $djp] AS p,
         |    sqrt(${dotP("v", "v")}) AS pnorm
         |  FROM corpn),
         |cells AS MATERIALIZED (
         |  SELECT id, i AS cell, row_number() OVER (PARTITION BY id
         |      ORDER BY -(${dotP("t.p", "c.c")} / (t.pnorm * c.cnorm)),
         |        c.i) AS rn
         |  FROM corpp t CROSS JOIN cn c),
         |corpcell AS (SELECT id, cell FROM cells WHERE rn = 1),
         |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
         |pc AS (
         |  SELECT q.id AS query_id, c.id AS corpus_id,
         |    CASE WHEN qp.pnorm = 0 OR cp.pnorm = 0 THEN -2.0
         |    ELSE ${dotP("qp.p", "cp.p")} / (qp.pnorm * cp.pnorm) END AS pcos
         |  FROM qcell q JOIN corpcell c ON c.cell = q.cell AND c.id <> q.id
         |    AND $candPred
         |  JOIN corpp qp ON qp.id = q.id
         |  JOIN corpp cp ON cp.id = c.id),
         |cand AS (SELECT query_id, corpus_id FROM (
         |  SELECT query_id, corpus_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY pcos DESC, corpus_id) AS r
         |  FROM pc) WHERE r <= 32),
         |rer AS (SELECT cand.query_id, cand.corpus_id,
         |  ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
         | FROM cand JOIN corpn qv ON qv.id = cand.query_id
         | JOIN corpn cv ON cv.id = cand.corpus_id)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
         |  SELECT query_id, corpus_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
         |  FROM rer)
         |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin
    }
    // Token-level ColBERT store (q341): k-means over the md5-ordered
    // TOKEN sample (ids doc_id·4+tpos), per-query-token probes,
    // tokenK candidate cut, candidate union, the q331 MaxSim tree
    val tokenColbertSql: String =
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT vec_id, [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
         |  FROM embeddings),
         |alltok AS MATERIALIZED (
         |  SELECT e0.vec_id AS doc_id, t.tpos,
         |    e0.vec_id * 4 + t.tpos AS id,
         |    [e0.v[((j + t.tpos * 7) % 64) + 1] for j in $dj] AS v
         |  FROM e0, (SELECT unnest([0, 1, 2]) AS tpos) t),
         |samp AS MATERIALIZED (
         |  SELECT id, v FROM alltok ORDER BY id LIMIT $sampleLimit),
         |dims AS MATERIALIZED (
         |  SELECT id, j, v[j + 1] AS vj
         |  FROM samp, (SELECT unnest($dj) AS j)),
         |c0 AS MATERIALIZED (
         |  SELECT i, c FROM (
         |    SELECT CAST(row_number() OVER (
         |        ORDER BY md5('$seed:' || CAST(id AS VARCHAR)),
         |        CAST(id AS VARCHAR)) AS INTEGER) - 1 AS i, v AS c
         |    FROM samp)
         |  WHERE i < $k),
         |$rounds,
         |cn AS MATERIALIZED (
         |  SELECT i, c, sqrt(${dotF("c", "c")}) AS cnorm FROM c$iters),
         |dt AS MATERIALIZED (
         |  SELECT doc_id, tpos, v AS tvec, sqrt(${dotF("v", "v")}) AS tnorm
         |  FROM alltok),
         |tcell AS MATERIALIZED (
         |  SELECT doc_id, tpos, cell FROM (
         |    SELECT d.doc_id, d.tpos, c.i AS cell, row_number() OVER (
         |        PARTITION BY d.doc_id, d.tpos
         |        ORDER BY -(${dotF("d.tvec", "c.c")} / (d.tnorm * c.cnorm)),
         |          c.i) AS rn
         |    FROM dt d CROSS JOIN cn c) WHERE rn = 1),
         |qt AS MATERIALIZED (
         |  SELECT e0.vec_id AS query_id, t.qpos,
         |    [e0.v[((j + t.qpos * 11) % 64) + 1] for j in $dj] AS qvec
         |  FROM e0, (SELECT unnest([0, 1]) AS qpos) t WHERE e0.vec_id < 10),
         |qtn AS MATERIALIZED (SELECT query_id, qpos, qvec,
         |    sqrt(${dotF("qvec", "qvec")}) AS qnorm FROM qt),
         |qprobe AS (SELECT query_id, qpos, cell FROM (
         |  SELECT q.query_id, q.qpos, c.i AS cell, row_number() OVER (
         |      PARTITION BY q.query_id, q.qpos
         |      ORDER BY -(${dotF("q.qvec", "c.c")} / (q.qnorm * c.cnorm)),
         |        c.i) AS rn
         |  FROM qtn q CROSS JOIN cn c) WHERE rn <= 4),
         |sc1 AS (
         |  SELECT p.query_id, p.qpos, d.doc_id, d.tpos,
         |    CASE WHEN q.qnorm = 0 OR d.tnorm = 0 THEN -2.0
         |    ELSE ${dotF("q.qvec", "d.tvec")} / (q.qnorm * d.tnorm)
         |    END AS tcos
         |  FROM qprobe p
         |  JOIN tcell tc ON tc.cell = p.cell
         |  JOIN dt d ON d.doc_id = tc.doc_id AND d.tpos = tc.tpos
         |  JOIN qtn q ON q.query_id = p.query_id AND q.qpos = p.qpos),
         |cand AS (
         |  SELECT DISTINCT query_id, doc_id AS corpus_id FROM (
         |    SELECT query_id, qpos, doc_id, row_number() OVER (
         |        PARTITION BY query_id, qpos
         |        ORDER BY tcos DESC, doc_id, tpos) AS r
         |    FROM sc1) WHERE r <= 16),
         |pairs AS (SELECT cand.query_id, cand.corpus_id, q.qpos,
         |    CAST(floor(${dotF("q.qvec", "d.tvec")} /
         |      (sqrt(${dotF("q.qvec", "q.qvec")})
         |       * sqrt(${dotF("d.tvec", "d.tvec")})) * 1000 + 0.5)
         |      AS BIGINT) AS cm
         |  FROM cand JOIN dt d ON d.doc_id = cand.corpus_id
         |  JOIN qt q ON q.query_id = cand.query_id),
         |mx AS (SELECT query_id, corpus_id, qpos, max(cm) AS m
         |  FROM pairs GROUP BY 1, 2, 3),
         |ms AS (SELECT query_id, corpus_id, CAST(sum(m) AS BIGINT)
         |    AS maxsim_milli
         |  FROM mx GROUP BY 1, 2)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id,
         |    maxsim_milli FROM (
         |  SELECT query_id, corpus_id, maxsim_milli, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY maxsim_milli DESC, corpus_id ASC) AS rn
         |  FROM ms)
         |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin
    // MMR diversification (q343): the IVF first stage replayed at
    // k=16, then all five greedy steps statically unrolled — each
    // step one integer argmax over the remaining candidates with the
    // max-sim-to-chosen correlated lookup (the chosen set rides as a
    // growing list)
    val mmrSql: String = {
      val lam = 500
      def step(n: Int) =
        s"""step$n AS (
           |  SELECT query_id, $n AS rank, corpus_id, score AS mmr_milli FROM (
           |    SELECT t.*, row_number() OVER (PARTITION BY query_id
           |        ORDER BY score DESC, corpus_id) AS rn FROM (
           |      SELECT c.query_id, c.corpus_id,
           |        $lam * c.rel - ${1000 - lam} * (SELECT max(m.sim)
           |          FROM sims m
           |          WHERE m.query_id = c.query_id AND m.i = c.corpus_id
           |            AND list_contains(ch.ch, m.j)) AS score
           |      FROM cand c JOIN chosen${n - 1} ch ON ch.query_id = c.query_id
           |      WHERE NOT list_contains(ch.ch, c.corpus_id)) t)
           |  WHERE rn = 1),
           |chosen$n AS (SELECT s.query_id, list_append(ch.ch, s.corpus_id) AS ch
           |  FROM step$n s JOIN chosen${n - 1} ch USING (query_id))""".stripMargin
      val steps = (2 to 5).map(step).mkString(",\n")
      s"""WITH $trainAndAssign,
         |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
         |scored AS (
         |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id,
         |    ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
         |  FROM qcell q JOIN corpcell c ON c.cell = q.cell AND c.id <> q.id
         |  JOIN corpn qv ON qv.id = q.id
         |  JOIN corpn cv ON cv.id = c.id),
         |cand AS (SELECT query_id, corpus_id,
         |    CAST(floor(cosine * 1000 + 0.5) AS BIGINT) AS rel FROM (
         |  SELECT query_id, corpus_id, cosine, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
         |  FROM scored) WHERE rn <= 16),
         |sims AS MATERIALIZED (SELECT a.query_id, a.corpus_id AS i,
         |    b.corpus_id AS j,
         |    CAST(floor(${dotF("ei.v", "ej.v")} /
         |      (ei.vnorm * ej.vnorm) * 1000 + 0.5) AS BIGINT) AS sim
         |  FROM cand a JOIN cand b ON b.query_id = a.query_id
         |    AND b.corpus_id <> a.corpus_id
         |  JOIN corpn ei ON ei.id = a.corpus_id
         |  JOIN corpn ej ON ej.id = b.corpus_id),
         |step1 AS (SELECT query_id, 1 AS rank, corpus_id,
         |    $lam * rel AS mmr_milli FROM (
         |  SELECT query_id, corpus_id, rel, row_number() OVER (
         |      PARTITION BY query_id ORDER BY rel DESC, corpus_id) AS rn
         |  FROM cand) WHERE rn = 1),
         |chosen1 AS (SELECT query_id, [corpus_id] AS ch FROM step1),
         |$steps
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id,
         |  CAST(mmr_milli AS BIGINT) AS mmr_milli
         |FROM (SELECT * FROM step1 UNION ALL SELECT * FROM step2
         |  UNION ALL SELECT * FROM step3 UNION ALL SELECT * FROM step4
         |  UNION ALL SELECT * FROM step5)
         |ORDER BY 1, 2""".stripMargin
    }
    val ivfAnnSql =
        s"""WITH $trainAndAssign,
           |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
           |scored AS (
           |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id,
           |    ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
           |  FROM qcell q JOIN corpcell c ON c.cell = q.cell AND c.id <> q.id
           |  JOIN corpn qv ON qv.id = q.id
           |  JOIN corpn cv ON cv.id = c.id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
           |  SELECT query_id, corpus_id, row_number() OVER (
           |      PARTITION BY query_id
           |      ORDER BY cosine DESC, corpus_id ASC) AS rn
           |  FROM scored)
           |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin
    // PQ (q292): the SAME Lloyd replay with a SUBSPACE key on every
    // CTE — m=8 independent 8-dim k-means train simultaneously, then
    // corpus encodes to per-subspace argmin codes and pairs score by
    // the per-subspace distance sum (ADC), fold order pinned
    // throughout (dim order inside a subspace, subspace order across)
    val djS = s"generate_series(0, 7)" // dsub = 8 per PQ subspace
    def sqDistS(vE: String, cE: String) =
      fold(s"[(($vE)[j + 1] - ($cE)[j + 1]) * (($vE)[j + 1] - ($cE)[j + 1]) " +
        s"for j in $djS]")
    val pqAnnSql: String = {
      val ksub = 16; val dsub = 8; val pqIters = 4
      val pqSample = 256
      def pqRound(r: Int) =
        s"""pa$r AS MATERIALIZED (
           |  SELECT s, id, i FROM (
           |    SELECT v.s, v.id, c.i, row_number() OVER (PARTITION BY v.s, v.id
           |        ORDER BY ${sqDistS("v.v", "c.c")}, c.i) AS rn
           |    FROM subv v JOIN pc${r - 1} c ON c.s = v.s)
           |  WHERE rn = 1),
           |pm$r AS MATERIALIZED (
           |  SELECT a.s, a.i, d.jl,
           |    ${fold("list(d.vj ORDER BY d.id)")} / count(*) AS cj
           |  FROM pa$r a JOIN sdims d ON d.s = a.s AND d.id = a.id
           |  GROUP BY 1, 2, 3),
           |pc$r AS MATERIALIZED (
           |  SELECT s, i, list(cj ORDER BY jl) AS c FROM pm$r GROUP BY 1, 2
           |  UNION ALL
           |  SELECT p.s, p.i, p.c FROM pc${r - 1} p
           |  WHERE NOT EXISTS (SELECT 1 FROM pa$r a WHERE a.s = p.s AND a.i = p.i))"""
          .stripMargin
      val pqRounds = (1 to pqIters).map(pqRound).mkString(",\n")
      s"""WITH samp0 AS MATERIALIZED (
         |  SELECT vec_id AS id, [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
         |  FROM embeddings ORDER BY vec_id LIMIT $pqSample),
         |sampN AS MATERIALIZED (
         |  SELECT id, [v[j + 1] / vn for j in $dj] AS v
         |  FROM (SELECT id, v, sqrt(${dotF("v", "v")}) AS vn FROM samp0)),
         |sdims AS MATERIALIZED (
         |  SELECT id, CAST(j // $dsub AS INTEGER) AS s, j % $dsub AS jl, v[j + 1] AS vj
         |  FROM sampN, (SELECT unnest($dj) AS j)),
         |subv AS MATERIALIZED (
         |  SELECT s, id, list(vj ORDER BY jl) AS v FROM sdims GROUP BY 1, 2),
         |prk AS MATERIALIZED (
         |  SELECT id, CAST(row_number() OVER (
         |      ORDER BY md5('$seed:' || CAST(id AS VARCHAR)),
         |        CAST(id AS VARCHAR)) AS INTEGER) - 1 AS i
         |  FROM sampN),
         |pc0 AS MATERIALIZED (
         |  SELECT sv.s, prk.i, sv.v AS c FROM subv sv JOIN prk ON prk.id = sv.id
         |  WHERE prk.i < $ksub),
         |$pqRounds,
         |corpPN AS MATERIALIZED (
         |  SELECT id, [v[j + 1] / vn for j in $dj] AS v FROM (
         |    SELECT id, v, sqrt(${dotF("v", "v")}) AS vn FROM (
         |      SELECT vec_id AS id,
         |        [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
         |      FROM embeddings))),
         |cdims AS MATERIALIZED (
         |  SELECT id, CAST(j // $dsub AS INTEGER) AS s, j % $dsub AS jl, v[j + 1] AS vj
         |  FROM corpPN, (SELECT unnest($dj) AS j)),
         |csubv AS MATERIALIZED (
         |  SELECT s, id, list(vj ORDER BY jl) AS v FROM cdims GROUP BY 1, 2),
         |pcodes AS MATERIALIZED (
         |  SELECT s, id, i AS code FROM (
         |    SELECT v.s, v.id, c.i, row_number() OVER (PARTITION BY v.s, v.id
         |        ORDER BY ${sqDistS("v.v", "c.c")}, c.i) AS rn
         |    FROM csubv v JOIN pc$pqIters c ON c.s = v.s)
         |  WHERE rn = 1),
         |pairds AS (
         |  SELECT q.id AS query_id, k.id AS corpus_id, q.s,
         |    ${sqDistS("q.v", "c.c")} AS ds
         |  FROM csubv q JOIN pcodes k ON k.s = q.s AND k.id <> q.id
         |  JOIN pc$pqIters c ON c.s = k.s AND c.i = k.code
         |  WHERE q.id < 10),
         |adc AS (
         |  SELECT query_id, corpus_id, ${fold("list(ds ORDER BY s)")} AS dist
         |  FROM pairds GROUP BY 1, 2)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
         |  SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist ASC, corpus_id ASC) AS rn
         |  FROM adc)
         |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin
    }
    // IVF-PQ (q293): coarse Lloyd (normalized space) → neg-cosine cell
    // assignment → residual per row → per-subspace Lloyd on the first
    // 256 residuals → codes → probed-cell ADC. The full FAISS IVFPQ
    // pipeline replayed; every stage reuses a generator proven above.
    val ivfPqBody: String = {
      val nlist = 16; val ksub = 16; val coarseIters = 8; val pqIters = 4
      def coarseRound(r: Int) =
        s"""ia$r AS MATERIALIZED (
           |  SELECT id, i FROM (
           |    SELECT s.id, c.i, row_number() OVER (PARTITION BY s.id
           |        ORDER BY ${sqDist("s.v", "c.c")}, c.i) AS rn
           |    FROM isamp s CROSS JOIN ic${r - 1} c)
           |  WHERE rn = 1),
           |im$r AS MATERIALIZED (
           |  SELECT a.i, d.j,
           |    ${fold("list(d.vj ORDER BY d.id)")} / count(*) AS cj
           |  FROM ia$r a JOIN idims d ON d.id = a.id
           |  GROUP BY 1, 2),
           |ic$r AS MATERIALIZED (
           |  SELECT i, list(cj ORDER BY j) AS c FROM im$r GROUP BY 1
           |  UNION ALL
           |  SELECT p.i, p.c FROM ic${r - 1} p
           |  WHERE p.i NOT IN (SELECT i FROM ia$r))""".stripMargin
      def pqRound2(r: Int) =
        s"""ipa$r AS MATERIALIZED (
           |  SELECT s, id, i FROM (
           |    SELECT v.s, v.id, c.i, row_number() OVER (PARTITION BY v.s, v.id
           |        ORDER BY ${sqDistS("v.v", "c.c")}, c.i) AS rn
           |    FROM ipsubv v JOIN ipc${r - 1} c ON c.s = v.s)
           |  WHERE rn = 1),
           |ipm$r AS MATERIALIZED (
           |  SELECT a.s, a.i, d.jl,
           |    ${fold("list(d.vj ORDER BY d.id)")} / count(*) AS cj
           |  FROM ipa$r a JOIN ipsdims d ON d.s = a.s AND d.id = a.id
           |  GROUP BY 1, 2, 3),
           |ipc$r AS MATERIALIZED (
           |  SELECT s, i, list(cj ORDER BY jl) AS c FROM ipm$r GROUP BY 1, 2
           |  UNION ALL
           |  SELECT p.s, p.i, p.c FROM ipc${r - 1} p
           |  WHERE NOT EXISTS (SELECT 1 FROM ipa$r a WHERE a.s = p.s AND a.i = p.i))"""
          .stripMargin
      val coarseRounds = (1 to coarseIters).map(coarseRound).mkString(",\n")
      val pqRounds = (1 to pqIters).map(pqRound2).mkString(",\n")
      s"""WITH icorpN AS MATERIALIZED (
         |  SELECT id, [v[j + 1] / vn for j in $dj] AS v FROM (
         |    SELECT id, v, sqrt(${dotF("v", "v")}) AS vn FROM (
         |      SELECT vec_id AS id,
         |        [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
         |      FROM embeddings))),
         |isamp AS MATERIALIZED (
         |  SELECT id, v FROM icorpN ORDER BY id LIMIT $sampleLimit),
         |idims AS MATERIALIZED (
         |  SELECT id, j, v[j + 1] AS vj FROM isamp, (SELECT unnest($dj) AS j)),
         |irk AS MATERIALIZED (
         |  SELECT id, CAST(row_number() OVER (
         |      ORDER BY md5('$seed:' || CAST(id AS VARCHAR)),
         |        CAST(id AS VARCHAR)) AS INTEGER) - 1 AS i
         |  FROM isamp),
         |ic0 AS MATERIALIZED (
         |  SELECT rk.i, s.v AS c FROM isamp s JOIN irk rk ON rk.id = s.id
         |  WHERE rk.i < $nlist),
         |$coarseRounds,
         |icn AS MATERIALIZED (
         |  SELECT i, c, sqrt(${dotF("c", "c")}) AS cnorm FROM ic$coarseIters),
         |icorpn2 AS MATERIALIZED (
         |  SELECT id, v, sqrt(${dotF("v", "v")}) AS vnorm FROM icorpN),
         |icells AS MATERIALIZED (
         |  SELECT id, i AS cell, row_number() OVER (PARTITION BY id
         |      ORDER BY -(${dotF("t.v", "c.c")} / (t.vnorm * c.cnorm)),
         |        c.i) AS rn
         |  FROM icorpn2 t CROSS JOIN icn c),
         |icorpcell AS MATERIALIZED (SELECT id, cell FROM icells WHERE rn = 1),
         |ires AS MATERIALIZED (
         |  SELECT t.id, icc.cell, [t.v[j + 1] - c.c[j + 1] for j in $dj] AS r
         |  FROM icorpN t JOIN icorpcell icc ON icc.id = t.id
         |  JOIN icn c ON c.i = icc.cell),
         |ipsamp AS MATERIALIZED (SELECT id, r FROM ires ORDER BY id LIMIT 256),
         |ipsdims AS MATERIALIZED (
         |  SELECT id, CAST(j // 8 AS INTEGER) AS s, j % 8 AS jl, r[j + 1] AS vj
         |  FROM ipsamp, (SELECT unnest($dj) AS j)),
         |ipsubv AS MATERIALIZED (
         |  SELECT s, id, list(vj ORDER BY jl) AS v FROM ipsdims GROUP BY 1, 2),
         |iprk AS MATERIALIZED (
         |  SELECT id, CAST(row_number() OVER (
         |      ORDER BY md5('$seed:' || CAST(id AS VARCHAR)),
         |        CAST(id AS VARCHAR)) AS INTEGER) - 1 AS i
         |  FROM ipsamp),
         |ipc0 AS MATERIALIZED (
         |  SELECT sv.s, rk.i, sv.v AS c FROM ipsubv sv JOIN iprk rk ON rk.id = sv.id
         |  WHERE rk.i < $ksub),
         |$pqRounds,
         |icdims AS MATERIALIZED (
         |  SELECT id, CAST(j // 8 AS INTEGER) AS s, j % 8 AS jl, r[j + 1] AS vj
         |  FROM ires, (SELECT unnest($dj) AS j)),
         |icsubv AS MATERIALIZED (
         |  SELECT s, id, list(vj ORDER BY jl) AS v FROM icdims GROUP BY 1, 2),
         |icodes AS MATERIALIZED (
         |  SELECT s, id, i AS code FROM (
         |    SELECT v.s, v.id, c.i, row_number() OVER (PARTITION BY v.s, v.id
         |        ORDER BY ${sqDistS("v.v", "c.c")}, c.i) AS rn
         |    FROM icsubv v JOIN ipc$pqIters c ON c.s = v.s)
         |  WHERE rn = 1),
         |iqcell AS (SELECT id, cell FROM icells WHERE rn <= 8 AND id < 10),
         |iqres AS MATERIALIZED (
         |  SELECT q.id, q.cell, [t.v[j + 1] - c.c[j + 1] for j in $dj] AS r
         |  FROM iqcell q JOIN icorpN t ON t.id = q.id
         |  JOIN icn c ON c.i = q.cell),
         |iqrdims AS (
         |  SELECT id, cell, CAST(j // 8 AS INTEGER) AS s, j % 8 AS jl, r[j + 1] AS vj
         |  FROM iqres, (SELECT unnest($dj) AS j)),
         |iqrsubv AS MATERIALIZED (
         |  SELECT id, cell, s, list(vj ORDER BY jl) AS v
         |  FROM iqrdims GROUP BY 1, 2, 3),
         |ipairds AS (
         |  SELECT q.id AS query_id, kc.id AS corpus_id, q.s,
         |    ${sqDistS("q.v", "cb.c")} AS ds
         |  FROM iqrsubv q
         |  JOIN icorpcell kc ON kc.cell = q.cell AND kc.id <> q.id
         |  JOIN icodes k ON k.id = kc.id AND k.s = q.s
         |  JOIN ipc$pqIters cb ON cb.s = q.s AND cb.i = k.code),
         |iadc AS (
         |  SELECT query_id, corpus_id, ${fold("list(ds ORDER BY s)")} AS dist
         |  FROM ipairds GROUP BY 1, 2)""".stripMargin
    }
    val ivfPqSql =
      s"""$ivfPqBody
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
         |  SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist ASC, corpus_id ASC) AS rn
         |  FROM iadc)
         |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin
    // refine (q295): the same ADC pipeline cut at 20 candidates, then
    // an exact-cosine re-rank over the RAW vectors of only those rows
    val ivfPqRefineSql =
      s"""$ivfPqBody,
         |icand AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
         |        ORDER BY dist ASC, corpus_id ASC) AS rn
         |    FROM iadc)
         |  WHERE rn <= 20),
         |irawn AS MATERIALIZED (
         |  SELECT id, v, sqrt(${dotF("v", "v")}) AS vn FROM (
         |    SELECT vec_id AS id,
         |      [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
         |    FROM embeddings)),
         |irescored AS (
         |  SELECT c.query_id, c.corpus_id,
         |    ${dotF("qv.v", "cv.v")} / (qv.vn * cv.vn) AS cosine
         |  FROM icand c JOIN irawn qv ON qv.id = c.query_id
         |  JOIN irawn cv ON cv.id = c.corpus_id)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
         |  SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, corpus_id ASC) AS rn
         |  FROM irescored)
         |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin
    Map(
      "q46_ivf_ann" -> ivfAnnSql,

      // SemDeDup on TRAINED cells: the q46 training replay assigns the
      // corpus (corpcell), then q145's within-cell keep-lowest-id
      // prune runs with the trained cell as the cluster key
      "q328_semantic_dedup_trained" ->
        s"""WITH $trainAndAssign,
           |cv AS (SELECT t.id AS vec_id, t.v, c.cell
           |  FROM corpn t JOIN corpcell c ON c.id = t.id),
           |d AS (SELECT id_b AS vec_id, max(cos) AS mx FROM (
           |  SELECT b.vec_id AS id_b,
           |    list_dot_product(a.v, b.v) /
           |      (sqrt(list_dot_product(a.v, a.v))
           |       * sqrt(list_dot_product(b.v, b.v))) AS cos
           |  FROM cv a JOIN cv b ON a.cell = b.cell AND a.vec_id < b.vec_id) p
           | WHERE cos >= 0.4 GROUP BY id_b)
           |SELECT cv.vec_id, CAST(cv.cell AS BIGINT) AS cluster,
           |  d.vec_id IS NOT NULL AS is_dup, round(d.mx, 6) AS max_prior_cos_r
           |FROM cv LEFT JOIN d ON cv.vec_id = d.vec_id""".stripMargin,

      // SQ8 (IndexIVFScalarQuantizer): coarse training + scalar
      // min/max params on the EVENS sample (the build cohort — the
      // q325 add-path pattern), codes for everyone under the frozen
      // quantizers, probed-cell integer-L2 candidates, exact re-rank;
      // `candPred` is the filtered-search selector in the engine's
      // exact position (after probe pruning, before the cut — q334)
      "q330_sq8_ann" -> sq8Sql("TRUE"),
      "q336_sq8_drift" -> sq8DriftSql,
      "q337_mrl_persisted" -> mrlSql("TRUE"),
      // pinned MRL read: the pin-time live set is the evens minus the
      // pin-time tombstones (%7==1) — post-pin adds/deletes invisible
      "q342_mrl_pinned_query" -> mrlSql("c.id % 2 = 0 AND c.id % 7 <> 1"),
      // pinned SQ8 read: the pin-time live set is the evens minus the
      // pin-time tombstones (%7==1); post-pin adds/deletes are
      // invisible by construction of the predicate
      "q338_sq8_pinned_query" -> sq8Sql("c.id % 2 = 0 AND c.id % 7 <> 1"),
      // the backup serves exactly the backup-time live set — one
      // oracle, two mechanisms (pin read / manifest copy)
      "q344_ann_backup" -> sq8Sql("c.id % 2 = 0 AND c.id % 7 <> 1"),
      "q341_colbert_token_store" -> tokenColbertSql,
      "q343_mmr_diversify" -> mmrSql,
      "q334_sq8_filtered" -> sq8Sql("c.id % 3 = 0"),

      // ColBERT MaxSim: the q46/q287 first-stage replay cut at 20
      // candidates, token vectors by index rotation, per-pair
      // integer-milli floor, max per query token, sum, rank
      "q331_colbert_maxsim" ->
        s"""WITH $trainAndAssign,
           |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
           |scored AS (
           |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id,
           |    ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
           |  FROM qcell q JOIN corpcell c ON c.cell = q.cell AND c.id <> q.id
           |  JOIN corpn qv ON qv.id = q.id
           |  JOIN corpn cv ON cv.id = c.id),
           |cand AS (SELECT query_id, corpus_id FROM (
           |  SELECT query_id, corpus_id, row_number() OVER (
           |      PARTITION BY query_id
           |      ORDER BY cosine DESC, corpus_id ASC) AS rn
           |  FROM scored) WHERE rn <= 20),
           |e AS (SELECT vec_id AS id,
           |    [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
           |  FROM embeddings),
           |dt AS (SELECT e.id AS corpus_id, t.tpos,
           |    [e.v[((j + t.tpos * 7) % 64) + 1] for j in $dj] AS tvec
           |  FROM e, (SELECT unnest([0, 1, 2]) AS tpos) t),
           |qt AS (SELECT e.id AS query_id, t.qpos,
           |    [e.v[((j + t.qpos * 11) % 64) + 1] for j in $dj] AS qvec
           |  FROM e, (SELECT unnest([0, 1]) AS qpos) t WHERE e.id < 10),
           |pairs AS (SELECT cand.query_id, cand.corpus_id, qt.qpos,
           |    CAST(floor(${dotF("qt.qvec", "dt.tvec")} /
           |      (sqrt(${dotF("qt.qvec", "qt.qvec")})
           |       * sqrt(${dotF("dt.tvec", "dt.tvec")})) * 1000 + 0.5)
           |      AS BIGINT) AS cm
           |  FROM cand JOIN dt ON dt.corpus_id = cand.corpus_id
           |  JOIN qt ON qt.query_id = cand.query_id),
           |mx AS (SELECT query_id, corpus_id, qpos, max(cm) AS m
           |  FROM pairs GROUP BY 1, 2, 3),
           |ms AS (SELECT query_id, corpus_id, CAST(sum(m) AS BIGINT)
           |    AS maxsim_milli
           |  FROM mx GROUP BY 1, 2)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id,
           |    maxsim_milli FROM (
           |  SELECT query_id, corpus_id, maxsim_milli, row_number() OVER (
           |      PARTITION BY query_id
           |      ORDER BY maxsim_milli DESC, corpus_id ASC) AS rn
           |  FROM ms)
           |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

      // the pinned GRAPH view: live set at pin time = evens minus the
      // tombstoned %7 cohort plus the streamed id 13, restricted by
      // the %13 fq (scarce → the walk is exact brute force); the
      // post-pin negated upserts / tombstones / fold are invisible
      "q333_hnsw_pinned_query" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |c AS (SELECT * FROM e WHERE vec_id % 13 = 0
          |  AND ((vec_id % 2 = 0 AND vec_id % 7 <> 1) OR vec_id = 13)),
          |q AS (SELECT * FROM e WHERE vec_id < 10),
          |p AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          |  list_dot_product(q.v, c.v) /
          |   (sqrt(list_dot_product(q.v, q.v))
          |    * sqrt(list_dot_product(c.v, c.v))) AS cosine
          | FROM q, c WHERE q.vec_id <> c.vec_id)
          |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
          | SELECT query_id, corpus_id, row_number() OVER (
          |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
          | FROM p) t WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

      // the pinned token's view: training on the evens (the build
      // cohort), ranking over evens minus the tombstoned %7 cohort —
      // the post-pin adds/purge/retrain/reclaim must be invisible
      "q332_ann_pinned_query" -> {
        val t = trainAndAssignW("WHERE vec_id % 2 = 0")
        s"""WITH $t,
           |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
           |scored AS (
           |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id,
           |    ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
           |  FROM qcell q JOIN corpcell c ON c.cell = q.cell AND c.id <> q.id
           |  JOIN corpn qv ON qv.id = q.id
           |  JOIN corpn cv ON cv.id = c.id
           |  WHERE c.id % 2 = 0 AND c.id % 7 <> 1)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
           |  SELECT query_id, corpus_id, row_number() OVER (
           |      PARTITION BY query_id
           |      ORDER BY cosine DESC, corpus_id ASC) AS rn
           |  FROM scored)
           |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin
      },
      "q292_pq_ann" -> pqAnnSql,
      "q293_ivfpq_ann" -> ivfPqSql,
      // q293's replay with the tombstoned ids excluded BEFORE ranking
      // (the Spark side anti-joins the tombstone set off the probed
      // cells, so survivors re-rank — identical pair scores)
      "q297_ivfpq_delete" ->
        s"""$ivfPqBody
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
           |  SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
           |      ORDER BY dist ASC, corpus_id ASC) AS rn
           |  FROM iadc WHERE corpus_id % 7 <> 3)
           |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,
      // persisted IVF-PQ serves the SAME answer from the code store —
      // one oracle, two read paths (the q46/q287 pairing)
      "q294_ivfpq_persisted" -> ivfPqSql,
      "q295_ivfpq_refine" -> ivfPqRefineSql,
      // identical pipeline served from the persisted code store +
      // raw-corpus re-rank join (one oracle, two read paths — the
      // q293/q294 relationship at the refine tier)
      "q302_ivfpq_refine_persisted" -> ivfPqRefineSql,
      "q305_ivfpq_refine_stored" -> ivfPqRefineSql,
      // recall@5 of the refined ANN vs exact truth: both legs replayed
      // (the refine pipeline above + a brute-force cosine top-5 over
      // the same normalized corpus), intersected per query in exact
      // integer milli space
      "q306_ann_recall_eval" ->
        s"""$ivfPqBody,
           |icand AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
           |        ORDER BY dist ASC, corpus_id ASC) AS rn
           |    FROM iadc)
           |  WHERE rn <= 20),
           |irawn AS MATERIALIZED (
           |  SELECT id, v, sqrt(${dotF("v", "v")}) AS vn FROM (
           |    SELECT vec_id AS id,
           |      [CAST(embedding[j + 1] AS DOUBLE) for j in $dj] AS v
           |    FROM embeddings)),
           |irescored AS (
           |  SELECT c.query_id, c.corpus_id,
           |    ${dotF("qv.v", "cv.v")} / (qv.vn * cv.vn) AS cosine
           |  FROM icand c JOIN irawn qv ON qv.id = c.query_id
           |  JOIN irawn cv ON cv.id = c.corpus_id),
           |iref AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
           |        ORDER BY cosine DESC, corpus_id ASC) AS rn
           |    FROM irescored)
           |  WHERE rn <= 5),
           |iexact AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT q.id AS query_id, e.id AS corpus_id,
           |      row_number() OVER (PARTITION BY q.id
           |        ORDER BY ${dotF("q.v", "e.v")} / (q.vn * e.vn) DESC, e.id ASC) AS rn
           |    FROM irawn q JOIN irawn e ON e.id <> q.id
           |    WHERE q.id < 10)
           |  WHERE rn <= 5),
           |iov AS (
           |  SELECT r.query_id, count(*) AS n FROM iref r
           |  JOIN iexact x ON x.query_id = r.query_id
           |    AND x.corpus_id = r.corpus_id
           |  GROUP BY 1)
           |SELECT b.query_id, CAST(coalesce(o.n, 0) * 200 AS BIGINT) AS recall_milli
           |FROM (SELECT DISTINCT query_id FROM iexact) b
           |LEFT JOIN iov o USING (query_id)
           |ORDER BY 1""".stripMargin,
      // the persisted index serves the SAME answer from frozen
      // centroids + cell partitions — one oracle, two read paths
      "q287_ivf_persisted" -> ivfAnnSql,
      // one request string, two tiers: the ivf and mrl replays under
      // tier tags — exactly what the dispatched request must serve
      "q346_knn_any_tier" ->
        s"""SELECT * FROM (
           |  SELECT 'ivf' AS tier, t1.* FROM ($ivfAnnSql) t1
           |  UNION ALL
           |  SELECT 'mrl' AS tier, t2.* FROM (${mrlSql("TRUE")}) t2) u
           |ORDER BY 1, 2, 3""".stripMargin,
      // retrain over the live corpus (build-half + add-half) is
      // bit-identical to build over the full corpus: one oracle,
      // two CONSTRUCTION paths — the q294 pattern at the lifecycle
      // tier (a retrain that forgot adds or perturbed the training
      // protocol hash-fails)
      "q309_ann_retrain" -> ivfAnnSql,
      // HNSW recall-floor gate: the graph walk has no SQL replay; the
      // oracle pins per-query floor satisfaction against the exact
      // truth leg (recall computed Spark-side vs replayable brute
      // force) — any recall regression flips a boolean and hash-fails
      "q313_hnsw_recall_gate" ->
        """SELECT DISTINCT vec_id AS query_id, TRUE AS meets_floor
          |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin,

      // scarce-filtered HNSW is EXACT (the Lucene visitedLimit
      // fallback), so the oracle is the full brute-force replay over
      // the allowed set — same cosine tree as q25
      "q314_hnsw_filtered" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |q AS (SELECT * FROM e WHERE vec_id < 10),
          |c AS (SELECT * FROM e WHERE vec_id % 13 = 0),
          |p AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          |  list_dot_product(q.v, c.v) /
          |   (sqrt(list_dot_product(q.v, q.v))
          |    * sqrt(list_dot_product(c.v, c.v))) AS cosine
          | FROM q, c WHERE q.vec_id <> c.vec_id)
          |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
          | SELECT query_id, corpus_id, row_number() OVER (
          |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
          | FROM p) t WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

      // the {!knn} request-string dispatch onto the HNSW store is the
      // SAME scarce-filtered exact contract as q314 — one oracle, two
      // request surfaces (a parse, field-check or fq-compile defect
      // hash-fails here)
      "q319_knn_hnsw_store" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |q AS (SELECT * FROM e WHERE vec_id < 10),
          |c AS (SELECT * FROM e WHERE vec_id % 13 = 0),
          |p AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          |  list_dot_product(q.v, c.v) /
          |   (sqrt(list_dot_product(q.v, q.v))
          |    * sqrt(list_dot_product(c.v, c.v))) AS cosine
          | FROM q, c WHERE q.vec_id <> c.vec_id)
          |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
          | SELECT query_id, corpus_id, row_number() OVER (
          |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
          | FROM p) t WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

      // dense {!knn}-from-store: recall-floor gate (the q313 pattern —
      // the oracle pins per-request floor satisfaction)
      "q320_knn_hnsw_recall" ->
        """SELECT DISTINCT vec_id AS query_id, TRUE AS meets_floor
          |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin,

      // the serving handle must answer exactly like the one-shot path
      // (q313's floor gate on the WARM second batch)
      "q324_hnsw_serving" ->
        """SELECT DISTINCT vec_id AS query_id, TRUE AS meets_floor
          |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin,

      // tier arbitration: the exact leg's candidate count replays
      // from the corpus cardinality; the approximate tiers' floors
      // are pinned (their recalls have no SQL replay — the q313
      // discipline applied across the ladder)
      "q323_ann_tier_arbitration" ->
        """SELECT 'binary' AS tier, CAST(32 AS BIGINT) AS candidates_scored,
          |  CAST(350 AS BIGINT) AS floor_milli, TRUE AS meets_floor
          |UNION ALL
          |SELECT 'exact', (SELECT count(*) - 1 FROM embeddings), 1000, TRUE
          |UNION ALL
          |SELECT 'hnsw', 128, 800, TRUE
          |UNION ALL
          |SELECT 'ivfpq', 32, 450, TRUE
          |UNION ALL
          |SELECT 'sq8', 32, 700, TRUE
          |UNION ALL
          |SELECT 'mrl', 32, 150, TRUE
          |ORDER BY 1""".stripMargin,

      // the lifecycle store's live corpus = everything minus the two
      // tombstoned cohorts; the query side is the same scarce-filtered
      // exact contract as q314
      "q315_hnsw_lifecycle" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |q AS (SELECT * FROM e WHERE vec_id < 10),
          |c AS (SELECT * FROM e
          |  WHERE vec_id % 13 = 0 AND vec_id % 10 NOT IN (4, 7)),
          |p AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          |  list_dot_product(q.v, c.v) /
          |   (sqrt(list_dot_product(q.v, q.v))
          |    * sqrt(list_dot_product(c.v, c.v))) AS cosine
          | FROM q, c WHERE q.vec_id <> c.vec_id)
          |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
          | SELECT query_id, corpus_id, row_number() OVER (
          |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
          | FROM p) t WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,
      // the streamed-delta store holds the SAME live set as q315's
      // (evens built + odds streamed − the two tombstoned cohorts),
      // and the scarce-filtered query is exact on both legs (graph
      // fallback + delta cosine scan) — one oracle, three ingest
      // paths (fresh build ≡ build+add ≡ build+stream)
      "q322_hnsw_stream_delta" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |q AS (SELECT * FROM e WHERE vec_id < 10),
          |c AS (SELECT * FROM e
          |  WHERE vec_id % 13 = 0 AND vec_id % 10 NOT IN (4, 7)),
          |p AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          |  list_dot_product(q.v, c.v) /
          |   (sqrt(list_dot_product(q.v, q.v))
          |    * sqrt(list_dot_product(c.v, c.v))) AS cosine
          | FROM q, c WHERE q.vec_id <> c.vec_id)
          |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
          | SELECT query_id, corpus_id, row_number() OVER (
          |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
          | FROM p) t WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

      // q287's replay with the STREAMED ids unioned into assignment
      // and scoring: training ran on the original corpus (the store
      // was built before the stream), adds assign against those
      // frozen centroids — a duplicate vector lands in its original's
      // cell with a bit-identical cosine, ties broken by id
      "q300_stream_ann_ingest" ->
        s"""WITH $trainAndAssign,
           |corpcell2 AS (
           |  SELECT id, cell FROM corpcell
           |  UNION ALL
           |  SELECT id + 100000 AS id, cell FROM corpcell WHERE id < 50),
           |corpn2 AS (
           |  SELECT id, v, vnorm FROM corpn
           |  UNION ALL
           |  SELECT id + 100000 AS id, v, vnorm FROM corpn WHERE id < 50),
           |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
           |scored AS (
           |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id,
           |    ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
           |  FROM qcell q JOIN corpcell2 c ON c.cell = q.cell AND c.id <> q.id
           |  JOIN corpn qv ON qv.id = q.id
           |  JOIN corpn2 cv ON cv.id = c.id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
           |  SELECT query_id, corpus_id, row_number() OVER (
           |      PARTITION BY query_id
           |      ORDER BY cosine DESC, corpus_id ASC) AS rn
           |  FROM scored)
           |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,
      // q287's replay with tombstoned ids excluded before ranking
      "q298_ivf_delete" ->
        s"""WITH $trainAndAssign,
           |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
           |scored AS (
           |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id,
           |    ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
           |  FROM qcell q JOIN corpcell c ON c.cell = q.cell AND c.id <> q.id
           |  JOIN corpn qv ON qv.id = q.id
           |  JOIN corpn cv ON cv.id = c.id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
           |  SELECT query_id, corpus_id, row_number() OVER (
           |      PARTITION BY query_id
           |      ORDER BY cosine DESC, corpus_id ASC) AS rn
           |  FROM scored WHERE corpus_id % 7 <> 3)
           |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

      // drift probe: training + assignment replayed for both cohorts,
      // per-vector milli distance to the nearest centroid summed in
      // exact integer space (recent = dim-0 shifted by the same 0.3
      // double literal on both sides)
      "q308_ann_drift" ->
        s"""WITH $trainAndAssign,
           |sdist AS (
           |  SELECT t.id, CAST(round((1 - max(${dotF("t.v", "c.c")} /
           |      (t.vnorm * c.cnorm))) * 1000) AS BIGINT) AS dm
           |  FROM corpn t CROSS JOIN cn c GROUP BY t.id),
           |recn AS (
           |  SELECT id, v, sqrt(${dotF("v", "v")}) AS vnorm FROM (
           |    SELECT vec_id AS id,
           |      [CAST(embedding[j + 1] AS DOUBLE) +
           |        (CASE WHEN j = 0 THEN 0.3 ELSE 0.0 END) for j in $dj] AS v
           |    FROM embeddings)),
           |rdist AS (
           |  SELECT t.id, CAST(round((1 - max(${dotF("t.v", "c.c")} /
           |      (t.vnorm * c.cnorm))) * 1000) AS BIGINT) AS dm
           |  FROM recn t CROSS JOIN cn c GROUP BY t.id)
           |SELECT 'store' AS cohort, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(dm) AS BIGINT) AS sum_dist_milli FROM sdist
           |UNION ALL
           |SELECT 'recent', CAST(count(*) AS BIGINT),
           |  CAST(sum(dm) AS BIGINT) FROM rdist""".stripMargin,

      // filtered ANN: q287's replay restricted to the metadata
      // predicate's id set before ranking (the q298 composition with
      // a real fq instead of tombstones)
      "q307_ivf_filtered" ->
        s"""WITH $trainAndAssign,
           |qcell AS (SELECT id, cell FROM cells WHERE rn <= 8 AND id < 10),
           |scored AS (
           |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id,
           |    ${dotF("qv.v", "cv.v")} / (qv.vnorm * cv.vnorm) AS cosine
           |  FROM qcell q JOIN corpcell c ON c.cell = q.cell AND c.id <> q.id
           |  JOIN corpn qv ON qv.id = q.id
           |  JOIN corpn cv ON cv.id = c.id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, corpus_id FROM (
           |  SELECT query_id, corpus_id, row_number() OVER (
           |      PARTITION BY query_id
           |      ORDER BY cosine DESC, corpus_id ASC) AS rn
           |  FROM scored WHERE corpus_id IN (
           |    SELECT vec_id FROM embeddings WHERE label IN (1, 2, 3)))
           |WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,

      // L80: both legs deterministic by construction — the bitten leg
      // projects a column constant over its match set, the slack leg's
      // limit exceeds its match count (see the query's scaladoc)
      "q288_index_limit" ->
        """SELECT 'bitten' AS leg, CAST(-1 AS BIGINT) AS p_partkey, p_brand
          |FROM (SELECT p_brand FROM part WHERE p_brand = 'Brand#23' LIMIT 50) t
          |UNION ALL
          |SELECT 'slack' AS leg, CAST(p_partkey AS BIGINT) AS p_partkey, p_brand
          |FROM part WHERE p_brand = 'Brand#11'""".stripMargin,

      // multivalued array surfacing: every stored occurrence, in order,
      // replayed by unnest over the same split
      "q289_index_multivalued" ->
        """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
          |  unnest(string_split(p_name, ' ')) AS word, p_brand
          |FROM part""".stripMargin,

      // pivot over (brand, word): DISTINCT per doc first (p_name words
      // are distinct by construction, but the contract is per-combo)
      "q290_pivot_multivalued" ->
        """SELECT p_brand, word, CAST(count(*) AS BIGINT) AS cnt
          |FROM (SELECT DISTINCT p_partkey, p_brand,
          |        unnest(string_split(p_name, ' ')) AS word FROM part)
          |GROUP BY 1, 2""".stripMargin,

      // negative + positive multivalued terms: exclusion as presence
      // minus match, intersected with the positive lookup
      "q303_index_array_not" ->
        """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_brand
          |FROM part
          |WHERE list_contains(string_split(p_name, ' '), 'blue')
          |  AND NOT list_contains(string_split(p_name, ' '), 'bolt')""".stripMargin,

      // OR of multivalued term filters: the union pushed whole
      "q301_index_array_or" ->
        """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_brand
          |FROM part
          |WHERE list_contains(string_split(p_name, ' '), 'bolt')
          |   OR list_contains(string_split(p_name, ' '), 'gear')""".stripMargin,

      // multivalued term filter (pushed as a posting lookup): docs
      // where ANY stored occurrence equals the term, every occurrence
      // of the matching docs surfaced
      "q296_index_array_filter" ->
        """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
          |  unnest(string_split(p_name, ' ')) AS word, p_brand
          |FROM part
          |WHERE list_contains(string_split(p_name, ' '), 'bolt')""".stripMargin,

      "q158_semantic_dedup_ivf" ->
        s"""WITH $trainAndAssign,
           |pc AS (
           |  SELECT a.id AS id_a, b.id AS id_b,
           |    ${dotF("av.v", "bv.v")} / (av.vnorm * bv.vnorm) AS cos
           |  FROM corpcell a JOIN corpcell b
           |    ON a.cell = b.cell AND a.id < b.id
           |  JOIN corpn av ON av.id = a.id
           |  JOIN corpn bv ON bv.id = b.id),
           |dups AS (
           |  SELECT id_b AS sem_id FROM pc WHERE cos >= 0.4 GROUP BY 1)
           |SELECT c.id AS vec_id, CAST(c.cell AS BIGINT) AS cluster,
           |  (d.sem_id IS NOT NULL) AS is_dup
           |FROM corpcell c LEFT JOIN dups d ON d.sem_id = c.id
           |ORDER BY 1""".stripMargin
    )
  }
}
