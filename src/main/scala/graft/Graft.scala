package graft

import graft.index.ShardIndex
import graft.schema.IndexSchema
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Top-level facade: the one-call equivalent of the reference's
 * MapReduceIndexerTool run (randomize → ETL → dedup → route → index →
 * merge, MapReduceIndexerTool.java:113-150), for users switching from
 * the reference. Each stage is the library operator documented in its
 * own module; this just sequences them over one Catalyst plan + one
 * shuffle. It holds the pipeline and request entry points only; every
 * other operator is called on its own module.
 */
object Graft {

  /**
   * Build a queryable shard store from documents.
   *
   * @param docs     input documents (any DataFrame)
   * @param schema   index schema; unknown columns are quarantined to
   *                 `ignored_*` (dropped unless the pattern accepts them),
   *                 single-valued fields enforced, unique key required
   * @param out      store directory (one `shard=NNNNN` dir per shard)
   * @param shards   final shard count (SolrCloud-compatible routing)
   * @param orderBy  dedup recency column (reference default:
   *                 file_last_modified); None = reject on conflicts
   */
  def buildIndex(docs: DataFrame, schema: IndexSchema, out: String, shards: Int,
                 orderBy: Option[Column], filesPerShard: Int = 1,
                 overwrite: Boolean = false,
                 router: Option[graft.route.HashRangeRouter] = None): DataFrame = {
    val sanitized = schema.enforceCardinality(
      schema.sanitize(docs, renamePrefix = Some("ignored_")))
    // missing-key enforcement rides inside the build job (raise_error
    // on null key) — one pass over the corpus, not a separate
    // driver-blocking pre-scan
    val validated = schema.requireKey(sanitized)
    orderBy match {
      case Some(ts) =>
        // retain-most-recent dedup fuses into the route shuffle (a
        // doc's shard is a function of its id), so the whole build is
        // ONE exchange — see ShardIndex.routedForWrite
        ShardIndex.write(validated, schema.uniqueKey, out, shards,
          filesPerShard = filesPerShard, dedupOrder = Some(ts),
          overwrite = overwrite, router = router)
      case None =>
        // conflict REJECTION also rides the route shuffle (count window
        // over the same keys, raise_error on collision) — no separate
        // conflict pre-scan
        ShardIndex.write(validated, schema.uniqueKey, out, shards,
          filesPerShard = filesPerShard, rejectConflicts = true,
          overwrite = overwrite, router = router)
    }
  }

  /** Open a built store for querying. */
  def openIndex(spark: SparkSession, path: String): DataFrame =
    ShardIndex.read(spark, path)

  /**
   * Build the reference's index-DIRECTORY layout (`part-NNNNN/data/
   * index` per shard, SolrRecordWriter.java:129) instead of the
   * Parquet store: same routing and fused dedup, then mtree-merge the
   * micro shards down and forceMerge each survivor to one segment —
   * the full MapReduceIndexerTool phase sequence over
   * [[graft.index.SegmentIndex]] directories. Returns per-part
   * (part, docs, segments).
   *
   * `microShards` is the WRITE-PARALLELISM lever: a build runs one
   * writer task per (micro) shard, so direct write caps at `shards`
   * cores while fan-out converts idle cores into writers and pays one
   * merge-tree re-read/re-write per level. Measured at sf1-true (6M
   * docs → 4 shards, local[32]): direct → 86.6k docs/s, 16 → 260k
   * (3.0×), plateau at 32 (docs/SCALING.md §"writer fan-out"). At
   * cluster scale this is the reference's own design: one micro index
   * per map task, then mtree.
   *
   * The default `microShards = 0` AUTO-SIZES on the input's Catalyst
   * size estimate ([[graft.index.SegmentShardSink.autoMicroShards]]):
   * builds over ~8 MB-estimate per final shard fan out to
   * `min(cores, 4 × shards)` — the measured optimum, so the flagship
   * 100 TB build path does not leave cores idle by default — while
   * small stores write direct (no merge tax). Pass an explicit value
   * to override either way (`microShards = shards` forces direct).
   */
  def buildSegmentIndex(docs: DataFrame, idCol: String, out: String,
                        shards: Int, microShards: Int = 0, fanout: Int = 2,
                        orderBy: Option[Column] = None,
                        analyzedFields: Set[String] = Set.empty): DataFrame = {
    val spark = docs.sparkSession
    val micro =
      if (microShards != 0) microShards
      else graft.index.SegmentShardSink.autoMicroShards(docs, shards)
    graft.index.SegmentShardSink.write(docs, idCol, out, shards, micro,
      dedupOrder = orderBy, analyzedFields = analyzedFields)
    if (micro > shards)
      graft.index.SegmentShardSink.mergeTree(spark, out, shards, fanout)
    graft.index.SegmentShardSink.optimize(spark, out)
    graft.index.SegmentShardSink.docCounts(spark, out)
  }

  /** Open a segment store as a TABLE via the graft-index DataSourceV2
    * source: EqualTo/In predicates push down to posting lookups,
    * stored-field projection prunes (see
    * [[graft.index.IndexDataSource]]). `multivaluedAsArray = true`
    * surfaces multivalued fields as `array<string>` with every stored
    * occurrence in order (Solr's multiValued=true response shape);
    * the default keeps the first-value scalar contract. */
  def openSegmentIndex(spark: SparkSession, store: String,
                       multivaluedAsArray: Boolean = false,
                       snapshot: Option[String] = None): DataFrame = {
    var r = spark.read.format("graft-index")
    if (multivaluedAsArray) r = r.option("multivalued", "array")
    snapshot.foreach(t => r = r.option("snapshot", t))
    r.load(store)
  }

  /** Capture the store's current commit generations as an opaque
    * snapshot token — the Delta `versionAsOf` analog for segment
    * stores. Pass it to [[openSegmentIndex]]'s `snapshot` to read the
    * store exactly as it was when the token was taken, regardless of
    * upserts/merges committed since. Tokens stay openable while every
    * part's pinned generation is within its writer's retention window
    * (`retainGenerations` on [[upsertIndex]]/[[mergeIndex]] — the
    * default 1 keeps only the live commit, so pass K > 1 on the
    * ingest side to hold K-1 older snapshots). Generations are
    * per-PART (an upsert only commits the parts its delta touches),
    * hence a vector token, not a single number. */
  def indexSnapshot(spark: SparkSession, store: String): String =
    indexSnapshot(spark, store, pin = false)

  /** As [[indexSnapshot]]; with `pin = true` the captured generations
    * are also HELD against the retention policy (Lucene
    * SnapshotDeletionPolicy): any number of later commits may land and
    * reclaim, the pinned snapshot stays openable until
    * [[releaseIndexSnapshot]]. Without the pin, a token older than the
    * ingest side's `retainGenerations` expires at the next
    * commit+reclaim (the open fails with the retention message) — pin
    * the snapshots that must outlive the window, e.g. "train on the
    * corpus exactly as run N saw it" reproducibility holds. */
  def indexSnapshot(spark: SparkSession, store: String, pin: Boolean): String = {
    val conf = graft.index.ShardIndex.hadoopConf(spark)
    graft.index.SegmentShardSink.partIndexDirs(spark, store).map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      val gen = graft.index.SegmentIndex.latestCommit(fs, p)
        .map(_.gen).getOrElse(throw new IllegalStateException(s"no commit in $d"))
      if (pin) graft.index.SegmentIndex.pinGeneration(fs, p, gen)
      s"${p.getParent.getParent.getName}:$gen"
    }.mkString(",")
  }

  /** Release a PINNED snapshot token's holds (idempotent; a token from
    * an unpinned [[indexSnapshot]] is a no-op). The held generations'
    * files fall out at the next commit's reclaim if outside the
    * retention window. */
  def releaseIndexSnapshot(spark: SparkSession, store: String, token: String): Unit = {
    val conf = graft.index.ShardIndex.hadoopConf(spark)
    val pins = token.split(",").iterator.filter(_.nonEmpty).map { e =>
      val i = e.lastIndexOf(':')
      require(i > 0, s"malformed snapshot token entry '$e'")
      e.substring(0, i) -> e.substring(i + 1).toInt
    }.toMap
    graft.index.SegmentShardSink.partIndexDirs(spark, store).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      pins.get(p.getParent.getParent.getName).foreach { g =>
        graft.index.SegmentIndex.unpinGeneration(p.getFileSystem(conf), p, g)
      }
    }
  }

  /** Incremental upsert of a delta batch into a segment store
    * (deleteById + add with the store's own routing; see
    * [[graft.index.SegmentShardSink.upsert]]). `mergePolicy` is the
    * TieredMergePolicy analog run after each batch — the reference's
    * `solrconfig_merge.xml` ships maxMergeAtOnce=10000 /
    * segmentsPerTier=100 (tuned for its one-shot offline merge); this
    * engine's steady-state defaults are 10/10 (Lucene's own) — see
    * docs/QUERIES.md §"Tiered merge knobs" for the mapping. */
  def upsertIndex(spark: SparkSession, store: String, updates: DataFrame,
                  mergePolicy: graft.index.SegmentIndex.MergePolicy =
                    graft.index.SegmentIndex.MergePolicy(),
                  retainGenerations: Int = 1): Unit =
    graft.index.SegmentShardSink.upsert(spark, store, updates, mergePolicy,
      retainGenerations)

  /** Run the tiered merge policy across every part of a store without
    * ingesting anything — the standalone counter-force for stores
    * grown by many small appends (see
    * [[graft.index.SegmentShardSink.maybeMerge]]). */
  def mergeIndex(spark: SparkSession, store: String,
                 mergePolicy: graft.index.SegmentIndex.MergePolicy =
                   graft.index.SegmentIndex.MergePolicy(),
                 retainGenerations: Int = 1): Unit =
    graft.index.SegmentShardSink.maybeMerge(spark, store, mergePolicy,
      retainGenerations)

  /** Compile a Solr/Lucene query string (`field:term AND n:[1 TO 5]`)
    * to a Catalyst predicate usable on any DataFrame — including
    * [[openSegmentIndex]] tables (see [[graft.search.SolrQueryString]]). */
  def queryString(q: String, df: DataFrame, defaultField: String,
                  textFields: Set[String] = Set.empty): Column =
    graft.search.SolrQueryString.compile(q, df.schema, defaultField, textFields)

  /**
   * The FULL Solr request loop in one call: parse the query string,
   * filter the index table (term pushdown where eligible), BM25-rank
   * the hits by the query's positive analyzed terms with CORPUS-WIDE
   * statistics (Solr's idf scope), return the top-k with their stored
   * fields. Ties break on the id column's string order; scores are
   * rounded to 6 places (`score_r`) per the engine's float-parity
   * discipline. A query with no rankable terms (pure filters/ranges)
   * returns hits in id order with score 0.
   *
   * Ranking scope: scores are computed against ONE analyzed field —
   * `rankField` when given, else the lexicographically-first analyzed
   * field (also the query's default field) — the Solr `df`-scoring
   * shape for the common single-text-field store. The ranking pass
   * re-tokenizes stored text in one corpus scan; serving latency-
   * critical traffic from the postings themselves (tf = position-list
   * length) is the documented next optimization, not done here.
   */
  def search(spark: SparkSession, store: String, q: String, topK: Int = 10,
             rankField: Option[String] = None,
             boost: Option[String] = None): DataFrame = {
    import graft.index.SegmentShardSink
    val marker = SegmentShardSink.readMarker(
      spark.sessionState.newHadoopConf(), store)
    val idx = openSegmentIndex(spark, store)
    val textFields = marker.analyzed
    // sorted: Set iteration order is hash-dependent above 4 elements —
    // the default/ranked field must not vary between runs
    val default = rankField.orElse(textFields.toSeq.sorted.headOption)
      .getOrElse(marker.idCol)
    val (pred, terms) = graft.search.SolrQueryString.compileWithTerms(
      q, idx.schema, default, textFields)
    val hits = idx.filter(pred)
    val id = marker.idCol
    // Solr's {!boost} / edismax boost= — a function query MULTIPLIED
    // into the relevance score (per-row codegen'd math over stored
    // fields; parity discipline per FunctionQuery's scaladoc)
    val boostCol = boost.map(graft.search.FunctionQuery.compile(_, idx.schema))
    if (terms.isEmpty || !textFields.contains(default))
      hits
        .withColumn("score_r", boostCol.map(b => round(b, 6)).getOrElse(lit(0.0)))
        .orderBy(col("score_r").desc, col(id)).limit(topK)
    else {
      // INDEX-SERVED scoring: tf/df/|d| come from postings + norms
      // (SegmentSearch.bm25Scores, Solr's distributed-idf two-phase) —
      // per-query work ∝ the queried terms' posting lists, never a
      // corpus re-tokenize. Bit-identical to the previous
      // Ranking.bm25-over-stored-values plan for single-valued fields;
      // for MULTIVALUED analyzed fields this scores ALL values (the
      // Lucene/Solr semantics) where the old corpus scan saw only the
      // surfaced first value.
      val scored = graft.index.SegmentSearch.bm25Scores(spark, store, default, terms)
        .withColumnRenamed("doc_id", "__sid")
      val base = coalesce(col("score"), lit(0.0))
      hits.join(scored, col(id) === col("__sid"), "left")
        .drop("__sid")
        .withColumn("score_r",
          round(boostCol.map(base * _).getOrElse(base), 6))
        .drop("score")
        .orderBy(col("score_r").desc, col(id))
        .limit(topK)
    }
  }

  /**
   * Solr's `/export` handler: the FULL (not top-k) result set of a
   * query, projected to `fl` and globally ordered by `sort` — the
   * bulk-extraction surface (Solr streams it from docValues in sort
   * order; CloudSolrStream consumes it). Spark-first form: the pushed
   * index scan (filters → postings, `fl` → column pruning) under a
   * range-exchange global sort — the same merge-of-sorted-partitions
   * shape Solr's shard-merging export performs, with the sort
   * parallelized instead of funneled through one aggregator. Every
   * requested field must be a stored column; `sort` entries are
   * (field, ascending). `now` anchors date math in `q`.
   */
  def export(spark: SparkSession, store: String, q: String,
             fl: Seq[String], sort: Seq[(String, Boolean)],
             now: Option[java.time.Instant] = None): DataFrame = {
    import graft.index.SegmentShardSink
    val marker = SegmentShardSink.readMarker(
      spark.sessionState.newHadoopConf(), store)
    val idx = openSegmentIndex(spark, store)
    val default = marker.analyzed.toSeq.sorted.headOption.getOrElse(marker.idCol)
    val hits = idx.filter(graft.search.SolrQueryString.compile(
      q, idx.schema, default, marker.analyzed, now))
    val ordered = sort.map { case (f, asc) => if (asc) col(f).asc else col(f).desc }
    hits.select(fl.map(col): _*).orderBy(ordered: _*)
  }

  /** Compile a reference morphline .conf into a Pipeline command chain
    * (see [[graft.etl.MorphlineConfig]]). */
  def morphline(configText: String, schema: Option[IndexSchema] = None,
                morphlineId: Option[String] = None): graft.etl.MorphlineConfig.Compiled =
    graft.etl.MorphlineConfig.compile(configText, schema, morphlineId)

  /** Scatter-gather exact-term query over a [[buildSegmentIndex]]
    * store (one task per shard, zero shuffles); `fields` selects the
    * stored fields to return. */
  def searchIndex(spark: SparkSession, store: String, field: String,
                  term: String, fields: Seq[String]): DataFrame =
    graft.index.SegmentSearch.termQuery(spark, store, field, term, fields)

  /** Solr facet.range over the segment store: gap-width buckets on a
    * numeric field with live counts under a query-string fq, empty
    * buckets kept (see [[graft.index.SegmentSearch.rangeFacet]]). */
  def rangeFacet(spark: SparkSession, store: String, field: String,
                 start: Double, end: Double, gap: Double,
                 q: String = "*:*"): DataFrame =
    graft.index.SegmentSearch.rangeFacet(spark, store, field, start, end, gap, q)

  /** Solr JSON Facet API: compile a user's json.facet request onto
    * the index table's pushed plans (see
    * [[graft.search.JsonFacetApi.jsonFacet]]). */
  def jsonFacet(spark: SparkSession, store: String, request: String,
                q: String = "*:*"): DataFrame =
    graft.search.JsonFacetApi.jsonFacet(spark, store, request, q)

  /** Solr SPLITSHARD: split one shard's hash range at the midpoint,
    * publish explicit slice ranges (see
    * [[graft.index.SegmentShardSink.splitShard]]). */
  def splitShard(spark: SparkSession, store: String, shard: Int): Unit =
    graft.index.SegmentShardSink.splitShard(spark, store, shard)

  /** INDEX-SERVED MoreLikeThis — the MLT handler with every statistic
    * from postings (see [[graft.index.SegmentSearch.moreLikeThis]]). */
  def moreLikeThis(spark: SparkSession, store: String, field: String,
                   idValue: String, topTerms: Int = 10): DataFrame =
    graft.index.SegmentSearch.moreLikeThis(spark, store, field, idValue, topTerms)

  /** Solr facet.field over ANY field — multivalued/analyzed included
    * (see [[graft.index.SegmentSearch.facetField]]). */
  def facetField(spark: SparkSession, store: String, field: String,
                 fq: Option[(String, String)] = None): DataFrame =
    graft.index.SegmentSearch.facetField(spark, store, field, fq)

  /** Solr `facet.query` over a segment store: (facet_query, cnt) per
    * named bucket query, under `q` + tagged `fq`s (see
    * [[graft.search.MultiSelect]]). Filters accept the `{!tag=name}`
    * localparams prefix. */
  def facetQuery(spark: SparkSession, store: String,
                 queries: Seq[(String, String)], q: String = "*:*",
                 filters: Seq[String] = Nil): DataFrame = {
    val (idx, default, textFields) = multiSelectCtx(spark, store)
    graft.search.MultiSelect.facetQueries(idx, default, textFields, q,
      filters.map(graft.search.MultiSelect.parseFq), queries)
  }

  /** Solr multi-select `facet.field={!ex=tags}field`: grouped counts
    * with the excluded tags' `fq`s lifted — the checkbox-facet
    * contract (see [[graft.search.MultiSelect.facetFieldEx]]). */
  def facetFieldMultiSelect(spark: SparkSession, store: String, field: String,
                            q: String = "*:*", filters: Seq[String] = Nil,
                            exclude: Set[String] = Set.empty,
                            params: graft.search.MultiSelect.FacetParams =
                              graft.search.MultiSelect.FacetParams()): DataFrame = {
    val (idx, default, textFields) = multiSelectCtx(spark, store)
    graft.search.MultiSelect.facetFieldEx(idx, default, textFields, field, q,
      filters.map(graft.search.MultiSelect.parseFq), exclude, params)
  }

  /** Execute a Solr streaming expression (`search`/`top`/`unique`/
    * `rollup`/`innerJoin`/`select`) against named segment stores
    * (see [[graft.search.StreamingExpressions]]). */
  def streamExpr(spark: SparkSession, expr: String,
                 collections: Map[String, String]): DataFrame =
    graft.search.StreamingExpressions.compile(spark, expr, collections)

  /** The Solr /sql handler analog (Parallel SQL over collections):
    * registers each named segment store as a temp view over its
    * DataSourceV2 table and runs the statement — filters, projections
    * and grouped counts push down to postings exactly as the
    * DataFrame surface does. Where Solr compiles SQL to streaming
    * expressions over worker nodes, the engine hands the plan to
    * Catalyst — same contract, better optimizer. */
  def sql(spark: SparkSession, statement: String,
          collections: Map[String, String]): DataFrame = {
    collections.foreach { case (name, store) =>
      openSegmentIndex(spark, store).createOrReplaceTempView(name)
    }
    spark.sql(statement)
  }

  private def multiSelectCtx(spark: SparkSession, store: String) = {
    val marker = graft.index.SegmentShardSink.readMarker(
      spark.sessionState.newHadoopConf(), store)
    val idx = openSegmentIndex(spark, store)
    val default = marker.analyzed.toSeq.sorted.headOption.getOrElse(marker.idCol)
    (idx, default, marker.analyzed)
  }

  /** Compile a Solr function query (`recip(age,1,1000,1000)`,
    * `div(x,y)`, ...) to a Column over `df`'s schema — the
    * defType=func / sort-by-function / edismax boost-function surface
    * (see [[graft.search.FunctionQuery]]). */
  def functionQuery(fq: String, df: DataFrame): Column =
    graft.search.FunctionQuery.compile(fq, df.schema)

  /** Solr stats.percentiles, served EXACTLY from the sorted term
    * dictionary (see [[graft.index.SegmentSearch.percentiles]]). */
  def percentiles(spark: SparkSession, store: String, field: String,
                  fractions: Seq[Double], q: String = "*:*"): DataFrame =
    graft.index.SegmentSearch.percentiles(spark, store, field, fractions, q)

  /** The training-corpus counterpart of [[buildIndex]]: quality gate →
    * PII redaction → URL/exact/near dedup → optional chunking, one
    * composed plan (see [[graft.ops.CorpusPipeline]]). */
  def prepareCorpus(docs: DataFrame, idCol: String, textCol: String,
                    cfg: graft.ops.CorpusPipeline.Config =
                      graft.ops.CorpusPipeline.Config()): DataFrame =
    graft.ops.CorpusPipeline.prepare(docs, idCol, textCol, cfg)

  /** Solr 9 {!knn} served from the PERSISTED sharded HNSW store —
    * the real Lucene execution shape (per-shard graph walk +
    * scatter-gather merge); fq compiles against `meta` into the
    * walk's acceptDocs set (see [[graft.search.KnnQuery.knnStore]]). */
  def knnServe(spark: SparkSession, store: String,
               requests: Seq[(Long, String)],
               meta: Option[DataFrame] = None, metaIdCol: String = "vec_id",
               fq: Option[String] = None,
               textFields: Set[String] = Set.empty,
               efSearch: Int = 64, nprobe: Int = 8,
               rerank: Int = 32): DataFrame =
    graft.search.KnnQuery.knnStore(spark, store, requests, meta, metaIdCol,
      fq, textFields, efSearch, nprobe, rerank)

  /**
   * ONE hybrid-retrieval request — Solr 9.8's "combiner" shape, the
   * modern RAG/search request: the LEXICAL leg runs the full Solr
   * request loop over the segment store ([[search]]: query-string
   * parse → term-pushdown filter → index-served distributed BM25 →
   * top-`topN` by (score_r desc, id)); the VECTOR leg dispatches the
   * `{!knn}` request string onto the persisted sharded HNSW store
   * ([[knnServe]]: per-shard graph walk, scatter-gather merge,
   * optional `fq` pre-filter compiled into acceptDocs); and the two
   * ranked lists fuse by integer-space Reciprocal Rank Fusion
   * ([[graft.ops.HybridSearch.rrf]] — Cormack et al. 2009, the
   * combiner Solr 9.8 ships), which never compares the legs'
   * incommensurable scores, only their ranks.
   *
   * Output: (id STRING — the segment store's id space, the vector
   * leg's corpus ids rendered into it; rrf_score; n_lists), ordered
   * (rrf_score desc, id). Scale shape: each leg carries its own
   * corpus-scale design (postings pushdown / graph walk); the fuse
   * touches two topN-bounded lists only. Both legs are
   * deterministic, so the fused ranking is too — the `{!knn}` leg
   * under a scarce `fq` is EXACT (the visitedLimit contract), which
   * is what lets the whole request hash-check against a DuckDB
   * replay (q327).
   */
  def hybridSearch(spark: SparkSession, store: String, annStore: String,
                   q: String, knnQ: String, topN: Int = 50,
                   meta: Option[DataFrame] = None,
                   metaIdCol: String = "vec_id",
                   fq: Option[String] = None,
                   textFields: Set[String] = Set.empty,
                   efSearch: Int = 64, k0: Int = 60,
                   rankField: Option[String] = None): DataFrame = {
    import spark.implicits._
    val marker = graft.index.SegmentShardSink.readMarker(
      spark.sessionState.newHadoopConf(), store)
    // the two legs are independent and each runs eager driver jobs —
    // build them concurrently (r17, graft.util.Par: overlap the fixed
    // job-launch latency; leg contents and fuse order are unchanged)
    val (lex, ann) = graft.util.Par.pair(
      () => {
        // the lexical top-N is bounded by construction (limit topN) and
        // arrives ordered — rank driver-side (the rankCollected
        // discipline: an unpartitioned window would be the scale bug)
        val lexIds = search(spark, store, q, topK = topN, rankField = rankField)
          .select(col(marker.idCol).cast("string"))
          .collect().map(_.getString(0))
        lexIds.toSeq.zipWithIndex
          .map { case (id, i) => (id, (i + 1).toLong) }.toDF("id", "rnk")
      },
      // one {!knn} request; query_id -1 never collides with a corpus id,
      // so the family's self-exclusion stays inert
      () => knnServe(spark, annStore, Seq((-1L, knnQ)), meta, metaIdCol,
          fq, textFields, efSearch)
        .select(col("corpus_id").cast("string").as("id"),
          col("rank").cast("long").as("rnk")))
    graft.ops.HybridSearch.rrf(Seq(lex, ann), "id", "rnk", k0)
  }

  /**
   * BATCHED hybrid retrieval (round 17): N requests `(request_id,
   * q, knnQ)` served as ONE composition — every other serving
   * surface takes a batch ([[knnServe]]), and a per-request driver
   * round-trip per fuse is the latency bug at serving scale. The
   * vector legs dispatch as ONE `{!knn}` job (the whole batch rides
   * one scatter-gather over the sharded store — request ids must not
   * collide with corpus ids; use negatives, the [[hybridSearch]]
   * convention); the lexical legs keep PER-REQUEST pushdown (each
   * query string compiles to its own postings lookups — a union
   * filter would scan the OR of the terms and re-rank per request
   * anyway; each leg is `topN`-bounded by construction, so the
   * driver holds |requests|·topN ids, the [[hybridSearch]]
   * discipline batched); the fuse is ONE integer-RRF job grouped by
   * (request, id) ([[graft.ops.HybridSearch.rrfKeyed]]).
   *
   * Output: (request_id, id, rrf_score, n_lists), ordered
   * (request_id, rrf_score desc, id). Per-request rows are
   * bit-identical to [[hybridSearch]] run in a loop
   * (HybridSearchSpec; hash-oracled with 3 fused requests in q339).
   */
  def hybridSearchBatch(spark: SparkSession, store: String,
                        annStore: String,
                        requests: Seq[(Long, String, String)],
                        topN: Int = 50,
                        meta: Option[DataFrame] = None,
                        metaIdCol: String = "vec_id",
                        fq: Option[String] = None,
                        textFields: Set[String] = Set.empty,
                        efSearch: Int = 64, k0: Int = 60,
                        rankField: Option[String] = None): DataFrame = {
    import spark.implicits._
    require(requests.nonEmpty, "empty hybrid request batch")
    require(requests.map(_._1).distinct.size == requests.size,
      "duplicate request ids in the hybrid batch")
    val marker = graft.index.SegmentShardSink.readMarker(
      spark.sessionState.newHadoopConf(), store)
    // every lexical leg and the batched vector leg are independent —
    // evaluate them concurrently (r17, graft.util.Par): the per-leg
    // eager jobs (postings collects, probe collects) overlap instead
    // of serializing on the driver; flatMap order over the in-order
    // results keeps the frame identical to the sequential build
    val (lexRows, ann) = graft.util.Par.pair(
      () => graft.util.Par.seq(
        requests.map { case (rid, q, _) => () =>
          search(spark, store, q, topK = topN, rankField = rankField)
            .select(col(marker.idCol).cast("string"))
            .collect().zipWithIndex
            .map { case (r, i) => (rid, r.getString(0), (i + 1).toLong) }
            .toSeq
        }).flatten,
      () => knnServe(spark, annStore,
          requests.map { case (rid, _, knnQ) => (rid, knnQ) },
          meta, metaIdCol, fq, textFields, efSearch)
        .select(col("query_id").as("request_id"),
          col("corpus_id").cast("string").as("id"),
          col("rank").cast("long").as("rnk")))
    val lex = lexRows.toDF("request_id", "id", "rnk")
    graft.ops.HybridSearch.rrfKeyed(Seq(lex, ann), "request_id", "id",
      "rnk", k0)
  }

  /** Seed quality classifier: train count-based weights on a labeled
    * seed (see [[graft.ops.QualityClassifier]]). */
  def trainSeedClassifier(docs: DataFrame, idCol: String, textCol: String,
                          label: Column, minDf: Int = 1): DataFrame =
    graft.ops.QualityClassifier.tokenWeights(docs, idCol, textCol, label, minDf)

  /** Score a corpus against trained seed-classifier weights. */
  def scoreSeedClassifier(docs: DataFrame, idCol: String, textCol: String,
                          weights: DataFrame): DataFrame =
    graft.ops.QualityClassifier.score(docs, idCol, textCol, weights)

  /** Exact-quota stratified train/val/test split (see
    * [[graft.ops.Sampling.stratifiedSplit]]). */
  def stratifiedSplit(df: DataFrame, stratum: Column, key: Column): DataFrame =
    graft.ops.Sampling.stratifiedSplit(df, stratum, key)

  /** DPO preference-pair assembly (see [[graft.ops.Preference.pairs]]). */
  def preferencePairs(df: DataFrame, prompt: Column, id: Column,
                      score: Column): DataFrame =
    graft.ops.Preference.pairs(df, prompt, id, score)

  /** Cross-source duplication audit (see
    * [[graft.ops.Profiling.sourceOverlap]]). */
  def sourceOverlap(df: DataFrame, src: Column, text: Column,
                    n: Int = 3): DataFrame =
    graft.ops.Profiling.sourceOverlap(df, src, text, n)

  /** Corpus snapshot diff (see [[graft.ops.Profiling.corpusDiff]]). */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, id: Column,
                 content: Column): DataFrame =
    graft.ops.Profiling.corpusDiff(oldDf, newDf, id, content)

  /** edismax request: q + qf boosts + pf phrase boosts + bf + mm +
    * rows (see [[graft.search.Edismax.query]]). */
  def edismax(df: DataFrame, q: String, qf: Seq[(String, Long)], mm: Int,
              rows: Int, tieBreak: Column,
              pf: Seq[(String, Long)] = Nil,
              bf: Option[Column] = None,
              pf2: Seq[(String, Long)] = Nil): DataFrame =
    graft.search.Edismax.query(df, q, qf, mm, rows, tieBreak, pf, bf, pf2)

  /** Skip-gram (center, context, cnt) pair extraction (see
    * [[graft.text.SkipGrams.pairs]]). */
  def skipGramPairs(docs: DataFrame, textCol: String, window: Int = 2): DataFrame =
    graft.text.SkipGrams.pairs(docs, textCol, window)

  // ── persisted ANN index stores (the FAISS-analog serving tier) ──
  // Build once, query many; incremental add against frozen quantizers;
  // remove_ids tombstones + purge. Every method resolves the store's
  // codec through the cell-store registry (graft.ops.CellStore). The
  // lifecycle methods serve every cell-store codec; the query and drift
  // methods serve the IVF (raw vectors, exact cosines over probed
  // cells) and IVF-PQ (m codes per vector, ~32× smaller, ADC scoring —
  // the billion-vector recipe) tiers and refuse any other codec by
  // name. Every other tier is served by its own module
  // (graft.ops.Sq8Index, MrlIndex, BinaryIvfIndex, HnswIndex, ...).

  /** Build a persisted ANN index over `(idCol, vecCol)`:
    * `compressed = false` → [[graft.ops.IvfIndex]] (raw vectors);
    * `compressed = true` → [[graft.ops.IvfPqIndex]] (PQ code store,
    * no raw vectors on disk; `refineStore = true` adds the
    * cell-partitioned raw-vector sidecar so two-stage serving needs no
    * external corpus frame — FAISS IndexRefineFlat proper).
    * `nlist ≈ sqrt(corpus rows)`. */
  def buildAnnIndex(corpus: DataFrame, out: String, dim: Int,
                    nlist: Int = 16, compressed: Boolean = false,
                    refineStore: Boolean = false,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    if (compressed)
      graft.ops.IvfPqIndex.build(corpus, out, dim, nlist,
        idCol = idCol, vecCol = vecCol, refineStore = refineStore)
    else graft.ops.IvfIndex.build(corpus, out, dim, nlist,
      idCol = idCol, vecCol = vecCol)

  /** Top-k neighbors for a broadcast-small query batch — only the
    * probed cells' partitions are read (plan-asserted pruning). */
  def queryAnnIndex(spark: SparkSession, store: String, queries: DataFrame,
                    k: Int, nprobe: Int = 4): DataFrame =
    graft.ops.CellStore(spark, store) match {
      case graft.ops.IvfPqIndex =>
        graft.ops.IvfPqIndex.query(spark, store, queries, k, nprobe)
      case graft.ops.IvfIndex => graft.ops.IvfIndex.query(spark, store, queries, k, nprobe)
      case other => unserved(store, other, "queryAnnIndex")
    }

  /** Incremental add against the store's FROZEN quantizers (FAISS
    * `add`), with the per-call cell compaction counter-force. The
    * streaming form is [[graft.streaming.StreamingIngest.annIngestSink]]. */
  def addToAnnIndex(spark: SparkSession, store: String, vectors: DataFrame,
                    maxFilesPerCell: Int = 8): Unit =
    graft.ops.CellStore(spark, store).add(spark, store, vectors, maxFilesPerCell)

  /** Two-stage serving: ADC candidates from a PQ code store + exact
    * cosine re-rank over `corpusRaw` (wherever the raw vectors live)
    * for only those candidates — FAISS `IndexRefineFlat`. On a
    * raw-vector IVF store the plain [[queryAnnIndex]] is already
    * exact, so this dispatches to it. */
  def queryAnnIndexRefined(spark: SparkSession, store: String,
                           corpusRaw: DataFrame, queries: DataFrame, k: Int,
                           kCandidates: Int = 20, nprobe: Int = 4): DataFrame =
    graft.ops.CellStore(spark, store) match {
      case graft.ops.IvfPqIndex => graft.ops.IvfPqIndex.queryRefined(spark, store,
        corpusRaw, queries, k, kCandidates, nprobe)
      case graft.ops.IvfIndex => graft.ops.IvfIndex.query(spark, store, queries, k, nprobe)
      case other => unserved(store, other, "queryAnnIndexRefined")
    }

  /** Delete by id (FAISS `remove_ids`): O(batch) tombstones, deleted
    * ids never surface from queries; [[purgeAnnDeletes]] reclaims.
    * The shared cell-store protocol ([[graft.ops.CellStore.removeIds]]). */
  def removeFromAnnIndex(spark: SparkSession, store: String, ids: DataFrame): Unit =
    graft.ops.CellStore(spark, store).removeIds(spark, store, ids)

  /** Physically reclaim tombstoned vectors/codes (rewrites exactly the
    * touched cells, then clears the tombstones). */
  def purgeAnnDeletes(spark: SparkSession, store: String): Int =
    graft.ops.CellStore(spark, store).purgeDeletes(spark, store)

  /** FILTERED search (FAISS `IDSelector` / Solr `{!knn}` + fq): the
    * caller's metadata predicate, evaluated to an id frame, restricts
    * ranking via a semi-join over the probed mass only. Both tiers. */
  def queryAnnIndexFiltered(spark: SparkSession, store: String,
                            queries: DataFrame, k: Int, allowed: DataFrame,
                            nprobe: Int = 4): DataFrame =
    graft.ops.CellStore(spark, store) match {
      case graft.ops.IvfPqIndex =>
        graft.ops.IvfPqIndex.queryFiltered(spark, store, queries, k, allowed, nprobe)
      case graft.ops.IvfIndex =>
        graft.ops.IvfIndex.queryFiltered(spark, store, queries, k, allowed, nprobe)
      case other => unserved(store, other, "queryAnnIndexFiltered")
    }

  /** Two-stage serving from the store alone — requires
    * `buildAnnIndex(compressed = true, refineStore = true)`'s raw-vector
    * sidecar; the re-rank fetch is partition-pruned to the probed cells
    * and id-pushed to the candidates. */
  def queryAnnIndexRefinedStored(spark: SparkSession, store: String,
                                 queries: DataFrame, k: Int,
                                 kCandidates: Int = 20,
                                 nprobe: Int = 4): DataFrame =
    graft.ops.IvfPqIndex.queryRefinedStored(spark, store, queries, k,
      kCandidates, nprobe)

  /** recall@k of an approximate result against exact truth (both as
    * (query_id, corpus_id) top-k frames), exact integer milli space —
    * the serving-quality acceptance gate. */
  def annRecallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    graft.ops.RankingEval.annRecallAtK(exact, approx, k)

  /** Quantization-drift probe over a raw-vector IVF store (the retrain
    * trigger): per-cohort milli-distance sums to the assigned centroid
    * for the stored corpus vs `recent`. */
  def annAssignmentDrift(spark: SparkSession, store: String,
                         recent: DataFrame): DataFrame =
    graft.ops.CellStore(spark, store) match {
      case graft.ops.IvfIndex => graft.ops.IvfIndex.assignmentDrift(spark, store, recent)
      case other => unserved(store, other, "annAssignmentDrift")
    }

  /** The refusal of a tier-choosing method for a codec it does not
    * serve: names the store, its tier and the module that serves it. */
  private def unserved(store: String, codec: graft.ops.CellStore, op: String): Nothing = {
    val tier = codec.getClass.getSimpleName.stripSuffix("$")
    throw new IllegalArgumentException(s"Graft.$op does not serve $store: it is " +
      s"a $tier store — call graft.ops.$tier directly")
  }

  /** Sharded deterministic-build HNSW (Solr 9's `{!knn}` architecture:
    * one graph per shard, scatter-gather merge) — the recall-at-low-
    * latency tier next to the IVF family's memory tier. */
  def buildHnswIndex(corpus: DataFrame, out: String, dim: Int,
                     shards: Int = 4, m: Int = 8,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit =
    graft.ops.HnswIndex.build(corpus, out, dim, shards, m,
      idCol = idCol, vecCol = vecCol)

  /** Serve from the bucketed binary store: partition-pruned probe
    * scan + candidate-bounded exact re-rank. */
  def queryBinaryIvfIndex(spark: SparkSession, store: String,
                          queries: DataFrame, corpus: DataFrame, k: Int,
                          rerank: Int, nprobe: Int = 4): DataFrame =
    graft.ops.BinaryIvfIndex.query(spark, store, queries, corpus, k, rerank,
      nprobe)

  /** Serve from the SQ8 store: probed-cell partition pruning, integer
    * dot-product candidate cut, exact-cosine re-rank (candidate-
    * bounded raw-vector fetch). */
  def querySq8Index(spark: SparkSession, store: String, queries: DataFrame,
                    corpus: DataFrame, k: Int, rerank: Int,
                    nprobe: Int = 4): DataFrame =
    graft.ops.Sq8Index.query(spark, store, queries, corpus, k, rerank, nprobe)

  /** Build the STORE-SERVED Matryoshka tier — prefix-space coarse
    * quantizer, prefix cells, full-dim refine sidecar (see
    * [[graft.ops.MrlIndex.build]]; the persisted form of
    * [[graft.ops.Similarity.matryoshkaTopK]]). */
  def buildMrlIndex(corpus: DataFrame, out: String, dim: Int,
                    prefixDim: Int, nlist: Int = 16): Unit =
    graft.ops.MrlIndex.build(corpus, out, dim, prefixDim, nlist)

  /** CONSISTENT ONLINE BACKUP of a mutating ANN store — pin →
    * copy exactly the pin manifest → release; the destination is a
    * complete, independently serving and mutable store answering
    * backup-time answers (see [[graft.ops.AnnBackup.backup]]).
    * Returns data files copied. */
  def backupAnnStore(spark: SparkSession, store: String,
                     dest: String): Int =
    graft.ops.AnnBackup.backup(spark, store, dest)
}
