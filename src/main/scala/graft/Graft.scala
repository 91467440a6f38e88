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
 * shuffle.
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

  /** Distributed delete-by-term over a segment store (tombstones only;
    * run [[graft.index.SegmentShardSink.optimize]] to reclaim).
    * Returns newly deleted doc count. */
  def deleteFromIndex(spark: SparkSession, store: String, field: String,
                      term: String): Long =
    graft.index.SegmentShardSink.deleteByTerm(spark, store, field, term)

  /** Solr `deleteByQuery` over a segment store: the full query-string
    * surface (boolean/range/prefix/analyzed-token), ids resolved via
    * the index table's pushdown and tombstoned shard-locally (see
    * [[graft.index.SegmentShardSink.deleteByQuery]]). */
  def deleteByQuery(spark: SparkSession, store: String, q: String): Long =
    graft.index.SegmentShardSink.deleteByQuery(spark, store, q)

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

  /** Solr TermVectorComponent: (doc_id, term, tf, df) for requested
    * ids, served from postings (see
    * [[graft.index.SegmentSearch.termVectors]]). */
  def termVectors(spark: SparkSession, store: String, field: String,
                  ids: Seq[String]): DataFrame =
    graft.index.SegmentSearch.termVectors(spark, store, field, ids)

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

  /** [[prepareCorpus]]'s provenance audit: one (id, stage) row per
    * dropped document (see [[graft.ops.CorpusPipeline.auditDrops]]). */
  def auditCorpus(docs: DataFrame, idCol: String, textCol: String,
                  cfg: graft.ops.CorpusPipeline.Config =
                    graft.ops.CorpusPipeline.Config()): DataFrame =
    graft.ops.CorpusPipeline.auditDrops(docs, idCol, textCol, cfg)

  /** Exact cross-document substring-span dedup (see
    * [[graft.ops.SubstringDedup.dropDuplicatedSpans]]). */
  def dropDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 5, minOccurrences: Int = 2): DataFrame =
    graft.ops.SubstringDedup.dropDuplicatedSpans(docs, idCol, textCol, k, minOccurrences)

  /** SemDeDup semantic dedup — sign-bucket cells (oracle-checkable)
    * or trained IVF cells via [[graft.ops.Similarity.semanticDedupIvf]]
    * (see [[graft.ops.Similarity.semanticDedup]]). */
  def semanticDedup(df: DataFrame, threshold: Double, bits: Int = 8): DataFrame =
    graft.ops.Similarity.semanticDedup(df, threshold, bits)

  /** Learn BPE merges from a corpus (see [[graft.text.Bpe.learn]]);
    * encode with [[graft.text.Bpe.encode]]'s fused kernel. */
  def learnBpe(docs: DataFrame, textCol: String, numMerges: Int): Seq[graft.text.Bpe.Merge] =
    graft.text.Bpe.learn(docs, textCol, numMerges)

  /** Byte-level BPE training (GPT-2 / HF ByteLevel — the production
    * tokenizer form; see [[graft.text.Bpe.learnByteLevel]]). */
  def learnByteLevelBpe(docs: DataFrame, textCol: String,
                        numMerges: Int): Seq[graft.text.Bpe.Merge] =
    graft.text.Bpe.learnByteLevel(docs, textCol, numMerges)

  /** Byte-level production encoding of a text column — GPT-2
    * pretokenize, alphabet map, fused BPE kernel; decode with
    * [[decodeByteLevel]] inverts exactly. */
  def encodeByteLevel(text: Column,
                      merges: Seq[graft.text.Bpe.Merge]): Column =
    graft.text.Bpe.encodeByteLevel(text, merges)

  /** Exact ids→text decode for byte-level tokens. */
  def decodeByteLevel(tokens: Column): Column =
    graft.text.Bpe.decodeByteLevel(tokens)

  /** Temperature-scaled mixture sampling (see
    * [[graft.ops.Sampling.temperatureSample]]). */
  def temperatureSample(df: DataFrame, grp: Column, key: Column,
                        alpha: Double, targetFraction: Double): DataFrame =
    graft.ops.Sampling.temperatureSample(df, grp, key, alpha, targetFraction)

  /** One-row corpus duplication health metric (see
    * [[graft.dedup.Dedup.duplicationProfile]]). */
  def duplicationProfile(df: DataFrame, content: Column): DataFrame =
    graft.dedup.Dedup.duplicationProfile(df, content)

  /** Equi-width histogram profile (see
    * [[graft.ops.Profiling.histogram]]). */
  def histogram(df: DataFrame, c: Column, lo: Double, hi: Double,
                buckets: Int): DataFrame =
    graft.ops.Profiling.histogram(df, c, lo, hi, buckets)

  /** Query elevation — pinned/excluded ids for one query text (see
    * [[graft.search.Elevation]]). */
  def elevate(scored: DataFrame, idCol: Column, organic: Column,
              elevated: Seq[String], excluded: Seq[String] = Nil): DataFrame =
    graft.search.Elevation(scored, idCol, organic,
      graft.search.Elevation.Config(elevated, excluded))

  /** Reciprocal Rank Fusion of ranked candidate lists (see
    * [[graft.ops.HybridSearch.rrf]]). */
  def rrf(lists: Seq[DataFrame], idCol: String, rankCol: String,
          k0: Int = 60): DataFrame =
    graft.ops.HybridSearch.rrf(lists, idCol, rankCol, k0)

  /** Per-group token-budget corpus selection (see
    * [[graft.ops.Sampling.tokenBudgetSelect]]). */
  def tokenBudgetSelect(df: DataFrame, grp: Column, order: Seq[Column],
                        tokens: Column, budget: Long): DataFrame =
    graft.ops.Sampling.tokenBudgetSelect(df, grp, order, tokens, budget)

  /** Deterministic fill-in-the-middle transform (see
    * [[graft.ops.FimTransform.fimSplit]]). */
  def fimSplit(df: DataFrame, id: Column, text: Column,
               rate: Double = 0.5, salt: String = "fim"): DataFrame =
    graft.ops.FimTransform.fimSplit(df, id, text, rate, salt)

  /** DSIR importance-resampling selection of target-like raw docs
    * (see [[graft.ops.Dsir.select]]). */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, k: Int, buckets: Int = 512): DataFrame =
    graft.ops.Dsir.select(raw, target, idCol, textCol, k, buckets)

  /** Graded benchmark-contamination fractions (see
    * [[graft.ops.Decontamination.overlapFraction]]). */
  def contaminationFraction(corpus: DataFrame, corpusId: Column,
                            corpusTokens: Column, bench: DataFrame,
                            benchTokens: Column, n: Int = 8,
                            tau: Double = 0.05): DataFrame =
    graft.ops.Decontamination.overlapFraction(corpus, corpusId, corpusTokens,
      bench, benchTokens, n, tau)

  /** C4-style line+document cleaning (see
    * [[graft.text.C4Filters.c4Clean]]). */
  def c4Clean(docs: DataFrame, textCol: Column, minWords: Int = 3,
              minLines: Int = 3, badWords: Seq[String] = Nil): DataFrame =
    graft.text.C4Filters.c4Clean(docs, textCol, minWords, minLines, badWords)

  /** Power-of-two sequence-length bucketing with padding waste (see
    * [[graft.ops.Profiling.lengthBuckets]]). */
  def lengthBuckets(df: DataFrame, tokens: Column): DataFrame =
    graft.ops.Profiling.lengthBuckets(df, tokens)

  /** Gopher top-n-gram char coverage per doc (see
    * [[graft.text.TextAnalysis.topNgramCharFraction]]). */
  def topNgramCharFraction(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 2): DataFrame =
    graft.text.TextAnalysis.topNgramCharFraction(docs, idCol, textCol, n)

  /** Dedup remap table (loser → kept representative, see
    * [[graft.dedup.Dedup.dedupMap]]). */
  def dedupMap(df: DataFrame, id: Column, content: Column,
               keepBy: Seq[Column]): DataFrame =
    graft.dedup.Dedup.dedupMap(df, id, content, keepBy)

  /** Curriculum staging with deterministic within-stage order (see
    * [[graft.ops.Sampling.curriculum]]). */
  def curriculum(df: DataFrame, id: Column, difficulty: Column,
                 thresholds: Seq[Double], salt: String = "cur"): DataFrame =
    graft.ops.Sampling.curriculum(df, id, difficulty, thresholds, salt)

  /** Corpus-global first-occurrence line dedup (see
    * [[graft.text.C4Filters.dedupLinesAcross]]). */
  def dedupLinesAcross(docs: DataFrame, id: Column, textCol: Column): DataFrame =
    graft.text.C4Filters.dedupLinesAcross(docs, id, textCol)

  /** Deterministic T5-style span corruption (see
    * [[graft.ops.FimTransform.spanCorrupt]]). */
  def spanCorrupt(df: DataFrame, id: Column, text: Column,
                  spanFrac: Double = 0.15, salt: String = "t5"): DataFrame =
    graft.ops.FimTransform.spanCorrupt(df, id, text, spanFrac, salt)

  /** Solr 9 {!knn} dense-vector query: exact cosine topK with the
    * optional fq PRE-filter (see [[graft.search.KnnQuery]]). */
  def knn(df: DataFrame, q: String, idCol: String,
          fq: Option[String] = None,
          textFields: Set[String] = Set.empty): DataFrame =
    graft.search.KnnQuery.knn(df, q, idCol, fq, textFields)

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

  /** Gopher duplicate-line signals over a per-doc lines array (see
    * [[graft.text.TextAnalysis.duplicateLineColumns]]). */
  def duplicateLineColumns(lines: Column): Seq[(String, Column)] =
    graft.text.TextAnalysis.duplicateLineColumns(lines)

  /** Gopher duplicated-n-gram token coverage, one fused per-row pass
    * (see [[graft.text.TextAnalysis.dupNgramCoverage]]). */
  def dupNgramCoverage(tokens: Column, n: Int): Column =
    graft.text.TextAnalysis.dupNgramCoverage(tokens, n)

  /** SFT conversation assembly with loss-mask spans (see
    * [[graft.ops.SftAssembly.assembleConversations]]). */
  def assembleConversations(df: DataFrame, grp: Column, order: Seq[Column],
                            role: Column, text: Column,
                            maskRoles: Seq[String]): DataFrame =
    graft.ops.SftAssembly.assembleConversations(df, grp, order, role, text, maskRoles)

  /** Epoch/repeat-factor mixing allocation (see
    * [[graft.ops.Sampling.epochAllocation]]). */
  def epochAllocation(df: DataFrame, grp: Column, cost: Column,
                      budget: Long, alpha: Double, maxEpochs: Double): DataFrame =
    graft.ops.Sampling.epochAllocation(df, grp, cost, budget, alpha, maxEpochs)

  /** Seed quality classifier: train count-based weights on a labeled
    * seed (see [[graft.ops.QualityClassifier]]). */
  def trainSeedClassifier(docs: DataFrame, idCol: String, textCol: String,
                          label: Column, minDf: Int = 1): DataFrame =
    graft.ops.QualityClassifier.tokenWeights(docs, idCol, textCol, label, minDf)

  /** Score a corpus against trained seed-classifier weights. */
  def scoreSeedClassifier(docs: DataFrame, idCol: String, textCol: String,
                          weights: DataFrame): DataFrame =
    graft.ops.QualityClassifier.score(docs, idCol, textCol, weights)

  /** CCNet per-language perplexity buckets (see
    * [[graft.text.TextAnalysis.perplexityBuckets]]). */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String): DataFrame =
    graft.text.TextAnalysis.perplexityBuckets(docs, idCol, textCol, langCol)

  /** Exact-quota stratified train/val/test split (see
    * [[graft.ops.Sampling.stratifiedSplit]]). */
  def stratifiedSplit(df: DataFrame, stratum: Column, key: Column): DataFrame =
    graft.ops.Sampling.stratifiedSplit(df, stratum, key)

  /** DPO preference-pair assembly (see [[graft.ops.Preference.pairs]]). */
  def preferencePairs(df: DataFrame, prompt: Column, id: Column,
                      score: Column): DataFrame =
    graft.ops.Preference.pairs(df, prompt, id, score)

  /** Stupid Backoff trigram LM scoring against a model corpus (see
    * [[graft.text.TextAnalysis.stupidBackoffScore]]). */
  def stupidBackoffScore(docs: DataFrame, modelDocs: DataFrame,
                         idCol: String, textCol: String): DataFrame =
    graft.text.TextAnalysis.stupidBackoffScore(docs, modelDocs, idCol, textCol)

  /** Solr /replication backup: snapshot a store (see
    * [[graft.index.Backup.backup]]). */
  def backupIndex(spark: SparkSession, store: String, destDir: String,
                  name: String): String =
    graft.index.Backup.backup(spark, store, destDir, name)

  /** Solr /replication restore (see [[graft.index.Backup.restore]]). */
  def restoreIndex(spark: SparkSession, snapshot: String, dest: String): Unit =
    graft.index.Backup.restore(spark, snapshot, dest)

  /** Optimistic-concurrency upsert under the Solr _version_ contract
    * (see [[graft.index.SegmentShardSink.conditionalUpsert]]). */
  def upsertIndexOptimistic(spark: SparkSession, store: String,
                            updates: DataFrame, versionCol: String,
                            newVersion: Long): (DataFrame, DataFrame) =
    graft.index.SegmentShardSink.conditionalUpsert(
      spark, store, updates, versionCol, newVersion)

  /** Cross-source duplication audit (see
    * [[graft.ops.Profiling.sourceOverlap]]). */
  def sourceOverlap(df: DataFrame, src: Column, text: Column,
                    n: Int = 3): DataFrame =
    graft.ops.Profiling.sourceOverlap(df, src, text, n)

  /** Per-domain boilerplate header/footer strip (see
    * [[graft.text.C4Filters.stripDomainChrome]]). */
  def stripDomainChrome(docs: DataFrame, srcCol: Column, textCol: Column,
                        tauMilli: Int = 500): DataFrame =
    graft.text.C4Filters.stripDomainChrome(docs, srcCol, textCol, tauMilli)

  /** Avro object-container write sink (see
    * [[graft.sources.AvroSource.write]]). */
  def writeAvro(df: DataFrame, path: String): Unit =
    graft.sources.AvroSource.write(df, path)

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

  /** Ranked-retrieval eval: MRR + nDCG@k (see
    * [[graft.ops.RankingEval.evalRanked]]). */
  def evalRanked(ranked: DataFrame, query: Column, rank: Column,
                 rel: Column, k: Int): DataFrame =
    graft.ops.RankingEval.evalRanked(ranked, query, rank, rel, k)

  /** Skip-gram (center, context, cnt) pair extraction (see
    * [[graft.text.SkipGrams.pairs]]). */
  def skipGramPairs(docs: DataFrame, textCol: String, window: Int = 2): DataFrame =
    graft.text.SkipGrams.pairs(docs, textCol, window)

  /** Fuzzy term query served from a segment store (`field:term~N`,
    * see [[graft.index.SegmentSearch.fuzzyQuery]]). */
  def fuzzySearchIndex(spark: SparkSession, store: String, field: String,
                       term: String, maxEdits: Int,
                       fields: Seq[String]): DataFrame =
    graft.index.SegmentSearch.fuzzyQuery(spark, store, field, term, maxEdits, fields)

  /** Write a binary payload column as TFRecord shards (see
    * [[graft.sources.TfRecord.write]]). */
  def writeTfRecord(df: DataFrame, payload: org.apache.spark.sql.Column,
                    path: String): Unit =
    graft.sources.TfRecord.write(df, payload, path)

  /** Read TFRecord shards as (path, record_index, payload, corrupt)
    * (see [[graft.sources.TfRecord.read]]). */
  def readTfRecord(spark: SparkSession, path: String): DataFrame =
    graft.sources.TfRecord.read(spark, path)

  /** Deploy built shards into a live Solr-protocol cluster over HTTP —
    * merge fan-out, fail-fast, commit-after-all (see
    * [[graft.index.HttpGoLive]]). */
  def goLiveHttp(shards: Seq[(Int, String)], targets: Seq[String],
                 threads: Int = 4): Unit =
    new graft.index.HttpGoLive(threads).goLive(shards, targets)

  /** Incoming rows not yet in the corpus, decided by a broadcast
    * Bloom prefilter + exact anti-join on the hits only (see
    * [[graft.ops.BloomDedup]]). */
  def bloomNewRows(incoming: DataFrame, keyCol: String,
                   corpusKeys: org.apache.spark.sql.Dataset[String],
                   expectedItems: Long, fpp: Double = 0.01): DataFrame =
    graft.ops.BloomDedup.newRows(incoming, keyCol, corpusKeys, expectedItems, fpp)

  /** Stream a frame into live Solr-protocol shard leaders: routed
    * repartition, concurrent batched JSON updates, commit after the
    * job (see [[graft.index.LiveSolrSink]]). */
  def liveSolrWrite(df: DataFrame, idCol: String, targets: Seq[String],
                    batchSize: Int = 100, commit: Boolean = true): Unit =
    graft.index.LiveSolrSink.write(df, idCol, targets,
      batchSize = batchSize, commit = commit)

  /** All shortest paths between two nodes over an edge frame (see
    * [[graft.ops.GraphOps.shortestPaths]]). */
  def shortestPaths(edges: DataFrame, fromCol: org.apache.spark.sql.Column,
                    toCol: org.apache.spark.sql.Column, source: String,
                    target: String, maxDepth: Int): DataFrame =
    graft.ops.GraphOps.shortestPaths(edges, fromCol, toCol, source, target, maxDepth)

  /** Morton-interleave column for Z-order clustering (see
    * [[graft.ops.ZOrder]]). */
  def zorder(bitsPer: Int, dims: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    graft.ops.ZOrder.zorderCol(bitsPer, dims: _*)

  /** Cluster a frame along the Z-curve and write parquet files with
    * tight per-file min/max on every clustered column. */
  def zorderWrite(df: DataFrame, path: String, numFiles: Int, bitsPer: Int,
                  dims: org.apache.spark.sql.Column*): Unit =
    graft.ops.ZOrder.clusterWrite(df, path, numFiles, bitsPer, dims: _*)

  /** EXACT heavy hitters at support `phi`, count-min-sketch pruned
    * (see [[graft.ops.CountMin]]). */
  def heavyHitters(df: DataFrame, itemCol: String, phi: Double,
                   epsilon: Double = 0.0005): DataFrame =
    graft.ops.CountMin.heavyHitters(df, itemCol, phi, epsilon)

  /** Per-source corpus snapshot diff rollup (see
    * [[graft.ops.Profiling.corpusDiffBySource]]). */
  def corpusDiffBySource(oldSnap: DataFrame, newSnap: DataFrame, key: String,
                         source: String, fp: org.apache.spark.sql.Column): DataFrame =
    graft.ops.Profiling.corpusDiffBySource(oldSnap, newSnap, key, source, fp)

  /** Export a frame as Solr update-XML part files (see
    * [[graft.index.SolrExport]]). */
  def solrXmlExport(df: DataFrame, path: String, numFiles: Int = 1): Unit =
    graft.index.SolrExport.writeUpdateXml(df, path, numFiles)

  /** Unbounded-manifest binary source — paths never materialize on the
    * driver (see [[graft.sources.BinaryFiles.readManifestDistributed]]). */
  def readManifestDistributed(spark: SparkSession, manifest: String,
                              partitions: Int = 0,
                              maxBytes: Int = 64 << 20): DataFrame =
    graft.sources.BinaryFiles.readManifestDistributed(spark, manifest, partitions, maxBytes)

  /** WET text records — Common Crawl's extracted-text profile (see
    * [[graft.sources.Warc.readWet]]); `.wet.gz` via the archive form. */
  def readWet(spark: SparkSession, path: String): DataFrame =
    graft.sources.Warc.readWet(spark, path)

  def readWetArchive(spark: SparkSession, path: String): DataFrame =
    graft.sources.Warc.readWetArchive(spark, path)

  /** FULL raw-crawl WARC: response records split into HTTP status /
    * declared Content-Type / binary entity payload, WARC-Date carried
    * for best-capture selection (see [[graft.sources.Warc.readWarc]]). */
  def readWarc(spark: SparkSession, path: String): DataFrame =
    graft.sources.Warc.readWarc(spark, path)

  def readWarcArchive(spark: SparkSession, path: String): DataFrame =
    graft.sources.Warc.readWarcArchive(spark, path)

  /** Container-aware frame sampling over binary payloads: MP4/FLV emit
    * REAL keyframe offsets from their own sample tables, everything
    * else falls back to byte-stride windows (see
    * [[graft.ops.Multimodal.sampleContainerFrames]]). */
  def sampleContainerFrames(spark: SparkSession, df: DataFrame, every: Int,
                            frameLen: Int, maxFrames: Int = 64): DataFrame =
    graft.ops.Multimodal.sampleContainerFrames(spark, df, every, frameLen, maxFrames).toDF()

  /** One-blob document parse by sniffed-or-declared MIME (the
    * solrCell/Tika analog; see [[graft.sources.DocumentParser.parse]]):
    * returns (text, metadata) for the ~20 dependency-free formats. */
  def parseDocument(mime: String, bytes: Array[Byte]): (String, Map[String, String]) = {
    val d = graft.sources.DocumentParser.parse(mime, bytes)
    (d.text, d.metadata)
  }

  // ── persisted ANN index stores (the FAISS-analog serving tier) ──
  // Build once, query many; incremental add against frozen quantizers;
  // remove_ids tombstones + purge. Every method resolves the store's
  // codec through the cell-store registry (graft.ops.CellStore), so
  // one facade serves both tiers: IVF (raw vectors, exact cosines over
  // probed cells) and IVF-PQ (m codes per vector, ~32× smaller, ADC
  // scoring — the billion-vector recipe).

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
      case _ => graft.ops.IvfIndex.query(spark, store, queries, k, nprobe)
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
      case _ => graft.ops.IvfIndex.query(spark, store, queries, k, nprobe)
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

  /** Fold over-budget cell partitions (tombstoned rows drop during the
    * rewrite); steady-state I/O ∝ recently-grown cells. */
  def compactAnnIndex(spark: SparkSession, store: String,
                      maxFilesPerCell: Int = 8): Int =
    graft.ops.CellStore(spark, store).compact(spark, store, maxFilesPerCell)

  /** FILTERED search (FAISS `IDSelector` / Solr `{!knn}` + fq): the
    * caller's metadata predicate, evaluated to an id frame, restricts
    * ranking via a semi-join over the probed mass only. Both tiers. */
  def queryAnnIndexFiltered(spark: SparkSession, store: String,
                            queries: DataFrame, k: Int, allowed: DataFrame,
                            nprobe: Int = 4): DataFrame =
    graft.ops.CellStore(spark, store) match {
      case graft.ops.IvfPqIndex =>
        graft.ops.IvfPqIndex.queryFiltered(spark, store, queries, k, allowed, nprobe)
      case _ => graft.ops.IvfIndex.queryFiltered(spark, store, queries, k, allowed, nprobe)
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
    graft.ops.IvfIndex.assignmentDrift(spark, store, recent)

  /** Act on the drift signal: re-train (and for a PQ store re-encode)
    * over the live corpus into a NEW generation, committed atomically
    * by one `_gen_N` file — old-generation reads keep serving until
    * the swap; tombstones fold in. PQ stores require the raw-vector
    * refine sidecar (codes are lossy). Returns the new generation. */
  def retrainAnnIndex(spark: SparkSession, store: String): Int =
    graft.ops.CellStore(spark, store) match {
      case graft.ops.IvfPqIndex => graft.ops.IvfPqIndex.retrain(spark, store)
      case _ => graft.ops.IvfIndex.retrain(spark, store)
    }

  /** Drop superseded retrain generations (complete stores below the
    * newest), keeping `retain` for in-flight readers — disk stays
    * bounded under a long drift-retrain history. Both tiers share the
    * layout, so one call serves either store. */
  def reclaimAnnGenerations(spark: SparkSession, store: String,
                            retain: Int = 1): Int =
    graft.ops.CellStore(spark, store).reclaimGenerations(spark, store, retain)

  /** Sharded deterministic-build HNSW (Solr 9's `{!knn}` architecture:
    * one graph per shard, scatter-gather merge) — the recall-at-low-
    * latency tier next to the IVF family's memory tier. */
  def buildHnswIndex(corpus: DataFrame, out: String, dim: Int,
                     shards: Int = 4, m: Int = 8,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit =
    graft.ops.HnswIndex.build(corpus, out, dim, shards, m,
      idCol = idCol, vecCol = vecCol)

  /** Top-k over the sharded HNSW store ((cosine desc, id) order,
    * self-matches excluded). */
  def queryHnswIndex(spark: SparkSession, store: String, queries: DataFrame,
                     k: Int, efSearch: Int = 64): DataFrame =
    graft.ops.HnswIndex.query(spark, store, queries, k, efSearch)

  /** FILTERED HNSW top-k (Lucene `{!knn}`+fq / FAISS IDSelector):
    * `allowed`'s first column is the permitted id set; the walk
    * collects accepted nodes only and falls back to exact over the
    * accepted set when the filter is scarce (Lucene's visitedLimit
    * contract — a very selective filter gets the exact answer). */
  def queryHnswIndexFiltered(spark: SparkSession, store: String,
                             queries: DataFrame, k: Int, allowed: DataFrame,
                             efSearch: Int = 64): DataFrame =
    graft.ops.HnswIndex.queryFiltered(spark, store, queries, k, allowed,
      efSearch)

  /** Add vectors to an HNSW store: touched shards rebuild over
    * old ∪ new (bit-identical to a fresh build over the union) into a
    * new atomically-committed generation. Batch adds — cost is ∝
    * touched-shard bytes; for continuous ingest use the IVF tier. */
  def addToHnswIndex(spark: SparkSession, store: String,
                     vectors: DataFrame): Unit =
    graft.ops.HnswIndex.add(spark, store, vectors)

  /** Tombstone ids in an HNSW store (O(batch); dead nodes still route
    * the walk but never surface). First column = id. */
  def removeFromHnswIndex(spark: SparkSession, store: String,
                          ids: DataFrame): Unit =
    graft.ops.HnswIndex.removeIds(spark, store, ids)

  /** Physically reclaim HNSW tombstones: rebuild only the touched
    * shards into a new generation (≡ fresh build over the live rows),
    * then clear the tombstone set. Returns shards rebuilt. */
  def purgeHnswDeletes(spark: SparkSession, store: String): Int =
    graft.ops.HnswIndex.purgeDeletes(spark, store)

  /** Drop HNSW generations fully shadowed by newer ones (every shard
    * re-carried), keeping the newest `retain` regardless — disk stays
    * bounded under a long add/purge history. Returns gens removed. */
  def reclaimHnswGenerations(spark: SparkSession, store: String,
                             retain: Int = 2): Int =
    graft.ops.HnswIndex.reclaimGenerations(spark, store, retain)

  /** Exactly-once streamed micro-batch into the HNSW DELTA tier
    * (Lucene NRT — queries merge graph + delta; see
    * [[graft.ops.HnswIndex.addBatchDelta]]). */
  def addHnswDeltaBatch(spark: SparkSession, store: String,
                        vectors: DataFrame, batchId: Long,
                        streamId: String = "",
                        foldThreshold: Long = 100000L): Boolean =
    graft.ops.HnswIndex.addBatchDelta(spark, store, vectors, batchId,
      streamId, foldThreshold)

  /** Fold the HNSW delta store into the graph (order-free touched-
    * shard rebuild — ≡ batch adds of the same rows). Returns rows
    * folded. */
  def foldHnswDelta(spark: SparkSession, store: String): Long =
    graft.ops.HnswIndex.foldDelta(spark, store)

  /** Open a RESIDENT HNSW serving handle: the graph shard-exchanges
    * once into the cache and every later batch walks it with zero
    * read and zero exchange — the Solr live-searcher shape. Snapshot
    * semantics: mutations committed after open need a reopen. */
  def openHnswServing(spark: SparkSession,
                      store: String): graft.ops.HnswIndex.Serving =
    graft.ops.HnswIndex.open(spark, store)

  /** Train a unigram-LM (SentencePiece) tokenizer vocabulary over a
    * corpus — one tokenize+count shuffle, then in-memory EM/prune
    * (`graft.text.Unigram`); [[graft.text.Bpe.learn]]'s sibling. */
  def trainUnigram(docs: DataFrame, textCol: String, vocabSize: Int,
                   maxPieceLen: Int = 4): Seq[graft.text.Unigram.Entry] =
    graft.text.Unigram.learn(docs, textCol, vocabSize,
      maxPieceLen = maxPieceLen)

  /** Cap-free unigram train: the word table stays distributed end to
    * end (each EM round is one broadcast-scores Spark job, only
    * vocab-bounded frames collect) — use when the table exceeds
    * [[trainUnigram]]'s in-memory cap, the 100 TB web-corpus case.
    * Bit-identical to the capped path when the cap has slack. */
  def trainUnigramDistributed(docs: DataFrame, textCol: String,
                              vocabSize: Int, maxPieceLen: Int = 4)
      : Seq[graft.text.Unigram.Entry] =
    graft.text.Unigram.learnDistributed(docs, textCol, vocabSize,
      maxPieceLen = maxPieceLen)

  /** Serialize a trained BPE merge table as the HF `tokenizer.json`
    * model object at `path` — the handoff format the training stack
    * downstream of this pipeline loads directly. */
  def exportBpeTokenizer(spark: SparkSession, path: String,
                         merges: Seq[graft.text.Bpe.Merge]): Unit =
    graft.text.TokenizerExport.write(spark, path,
      graft.text.TokenizerExport.bpeModelJson(merges))

  /** Serialize a trained unigram vocabulary as the HF
    * `tokenizer.json` model object at `path`. */
  def exportUnigramTokenizer(spark: SparkSession, path: String,
                             vocab: Seq[graft.text.Unigram.Entry]): Unit =
    graft.text.TokenizerExport.write(spark, path,
      graft.text.TokenizerExport.unigramModelJson(vocab))

  /** Load a HF `tokenizer.json` BPE model (exported here or trained
    * externally) into the merge table the encode kernels
    * ([[graft.text.Bpe.encode]]) run with — the import half of
    * tokenizer interop. */
  def importBpeTokenizer(spark: SparkSession,
                         path: String): Seq[graft.text.Bpe.Merge] =
    graft.text.TokenizerImport.bpeMerges(
      graft.text.TokenizerImport.read(spark, path))

  /** Load a HF `tokenizer.json` Unigram model into the scored
    * vocabulary [[graft.text.Unigram.encode]] runs with. */
  def importUnigramTokenizer(spark: SparkSession,
                             path: String): Seq[graft.text.Unigram.Entry] =
    graft.text.TokenizerImport.unigramVocab(
      graft.text.TokenizerImport.read(spark, path))

  /** Matryoshka (MRL) two-stage retrieval: prefix-dim cosine
    * candidates, full-dim exact re-rank — cut dimensions instead of
    * bits (see [[graft.ops.Similarity.matryoshkaTopK]]). */
  def matryoshkaAnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    rerank: Int, prefixDim: Int): DataFrame =
    graft.ops.Similarity.matryoshkaTopK(corpus, queries, k, rerank,
      prefixDim)

  /** Two-stage 1-bit binary ANN (FAISS IndexBinaryFlat; 32× memory
    * cut vs the engine's float64 arrays, 16× vs float32): Hamming
    * over sign codes, exact-cosine re-rank over the top-`rerank`
    * candidates only. */
  def binaryAnn(corpus: DataFrame, queries: DataFrame, k: Int,
                rerank: Int, dim: Int): DataFrame =
    graft.ops.BinaryQuant.binaryTopK(corpus, queries, k, rerank, dim)

  /** Persist the packed sign codes — pack once, serve many. */
  def buildBinaryAnnIndex(corpus: DataFrame, out: String, dim: Int): Unit =
    graft.ops.BinaryQuant.buildStore(corpus, out, dim)

  /** Serve from a persisted binary-code store; the re-rank fetch is
    * candidate-id-pushed into the external `corpus` read. */
  def queryBinaryAnnIndex(spark: SparkSession, store: String,
                          queries: DataFrame, corpus: DataFrame, k: Int,
                          rerank: Int): DataFrame =
    graft.ops.BinaryQuant.queryStore(spark, store, queries, corpus, k, rerank)

  /** BUCKETED binary ANN store (FAISS IndexBinaryIVF): codes cluster
    * into coarse cells under a md5-seeded k-majority binary quantizer;
    * queries probe nprobe cells only — the 100 TB serving form of the
    * binary tier (see [[graft.ops.BinaryIvfIndex]]). */
  def buildBinaryIvfIndex(corpus: DataFrame, out: String, dim: Int,
                          nlist: Int = 8): Unit =
    graft.ops.BinaryIvfIndex.build(corpus, out, dim, nlist)

  /** Serve from the bucketed binary store: partition-pruned probe
    * scan + candidate-bounded exact re-rank. */
  def queryBinaryIvfIndex(spark: SparkSession, store: String,
                          queries: DataFrame, corpus: DataFrame, k: Int,
                          rerank: Int, nprobe: Int = 4): DataFrame =
    graft.ops.BinaryIvfIndex.query(spark, store, queries, corpus, k, rerank,
      nprobe)

  /** Filtered search on the bucketed binary store (IDSelector):
    * `allowed`'s first column restricts candidates after probe
    * pruning. */
  def queryBinaryIvfIndexFiltered(spark: SparkSession, store: String,
                                  queries: DataFrame, corpus: DataFrame,
                                  k: Int, rerank: Int, allowed: DataFrame,
                                  nprobe: Int = 4): DataFrame =
    graft.ops.BinaryIvfIndex.queryFiltered(spark, store, queries, corpus, k,
      rerank, allowed, nprobe)

  /** Frozen-quantizer add on the bucketed binary store (FAISS
    * IndexBinaryIVF.add — appends to touched cells only). */
  def addToBinaryIvfIndex(spark: SparkSession, store: String,
                          vectors: DataFrame): Unit =
    graft.ops.BinaryIvfIndex.add(spark, store, vectors)

  /** Tombstone deletes on the bucketed binary store (remove_ids). */
  def removeFromBinaryIvfIndex(spark: SparkSession, store: String,
                               ids: DataFrame): Unit =
    graft.ops.BinaryIvfIndex.removeIds(spark, store, ids)

  /** Physically reclaim tombstoned binary codes; returns cells
    * purged. */
  def purgeBinaryIvfDeletes(spark: SparkSession, store: String): Int =
    graft.ops.BinaryIvfIndex.purgeDeletes(spark, store)

  /** Build the persisted INT8 (SQ8) ANN store — FAISS
    * IndexIVFScalarQuantizer: coarse k-means cells + frozen per-dim
    * (offset, scale), 8× memory cut vs float64 (4× vs float32); the
    * quantization-ladder rung between the binary and PQ tiers (see
    * [[graft.ops.Sq8Index.build]]). */
  def buildSq8Index(corpus: DataFrame, out: String, dim: Int,
                    nlist: Int = 16): Unit =
    graft.ops.Sq8Index.build(corpus, out, dim, nlist)

  /** Serve from the SQ8 store: probed-cell partition pruning, integer
    * dot-product candidate cut, exact-cosine re-rank (candidate-
    * bounded raw-vector fetch). */
  def querySq8Index(spark: SparkSession, store: String, queries: DataFrame,
                    corpus: DataFrame, k: Int, rerank: Int,
                    nprobe: Int = 4): DataFrame =
    graft.ops.Sq8Index.query(spark, store, queries, corpus, k, rerank, nprobe)

  /** Filtered search on the SQ8 store (IDSelector): `allowed`'s first
    * column restricts candidates after probe pruning. */
  def querySq8IndexFiltered(spark: SparkSession, store: String,
                            queries: DataFrame, corpus: DataFrame, k: Int,
                            rerank: Int, allowed: DataFrame,
                            nprobe: Int = 4): DataFrame =
    graft.ops.Sq8Index.query(spark, store, queries, corpus, k, rerank,
      nprobe, allowed = Some(allowed))

  /** Frozen-quantizer add on the SQ8 store (appends to touched cells
    * only). */
  def addToSq8Index(spark: SparkSession, store: String,
                    vectors: DataFrame): Unit =
    graft.ops.Sq8Index.add(spark, store, vectors)

  /** Tombstone deletes on the SQ8 store (remove_ids). */
  def removeFromSq8Index(spark: SparkSession, store: String,
                         ids: DataFrame): Unit =
    graft.ops.Sq8Index.removeIds(spark, store, ids)

  /** Physically reclaim tombstoned SQ8 codes; returns cells purged. */
  def purgeSq8Deletes(spark: SparkSession, store: String): Int =
    graft.ops.Sq8Index.purgeDeletes(spark, store)

  /** Late-interaction (ColBERT MaxSim) re-rank over a first-stage
    * tier's candidates — Σ per query token of the max integer-milli
    * cosine against the candidate's token vectors (see
    * [[graft.ops.LateInteraction.maxSimRerank]]). */
  def maxSimRerank(candidates: DataFrame, docTokens: DataFrame,
                   queryTokens: DataFrame, k: Int): DataFrame =
    graft.ops.LateInteraction.maxSimRerank(candidates, docTokens,
      queryTokens, k)

  /** PIN the HNSW store's current serving state; the token replays
    * pin-time answers bit-for-bit under any later mutation (see
    * [[graft.ops.HnswIndex.pinSnapshot]] — the [[indexSnapshot]]
    * pin=true contract on the vector tiers). */
  def pinHnswSnapshot(spark: SparkSession, store: String): Int =
    graft.ops.HnswIndex.pinSnapshot(spark, store)

  /** Query a pinned HNSW snapshot (generation-ceiling graph + the
    * pin's materialized tombstones and delta). */
  def queryHnswPinned(spark: SparkSession, store: String, token: Int,
                      queries: DataFrame, k: Int, efSearch: Int = 64,
                      allowed: Option[DataFrame] = None): DataFrame =
    graft.ops.HnswIndex.queryPinned(spark, store, token, queries, k,
      efSearch, allowed)

  /** Release an HNSW pin (its generations re-enter reclaim). */
  def releaseHnswSnapshot(spark: SparkSession, store: String,
                          token: Int): Unit =
    graft.ops.HnswIndex.releaseSnapshot(spark, store, token)

  /** PIN an IVF / IVF-PQ store's current generation (file-set
    * snapshot + tombstones; purge/compact defer while pinned — see
    * [[graft.ops.CellStore.pinGeneration]]). */
  def pinIvfGeneration(spark: SparkSession, store: String): Int =
    graft.ops.CellStore(spark, store).pinGeneration(spark, store)

  /** Query a pinned IVF snapshot (raw-vector cells). */
  def queryIvfPinned(spark: SparkSession, store: String, token: Int,
                     queries: DataFrame, k: Int,
                     nprobe: Int = 4): DataFrame =
    graft.ops.IvfIndex.queryPinned(spark, store, token, queries, k, nprobe)

  /** Query a pinned IVF-PQ snapshot (ADC over the pinned code set). */
  def queryIvfPqPinned(spark: SparkSession, store: String, token: Int,
                       queries: DataFrame, k: Int,
                       nprobe: Int = 4): DataFrame =
    graft.ops.IvfPqIndex.queryPinned(spark, store, token, queries, k, nprobe)

  /** Release an IVF / IVF-PQ pin. */
  def releaseIvfGeneration(spark: SparkSession, store: String,
                           token: Int): Unit =
    graft.ops.CellStore(spark, store).releaseGeneration(spark, store, token)

  // ----- round 17 ---------------------------------------------------

  /** Build the STORE-SERVED Matryoshka tier — prefix-space coarse
    * quantizer, prefix cells, full-dim refine sidecar (see
    * [[graft.ops.MrlIndex.build]]; the persisted form of
    * [[matryoshkaAnn]]). */
  def buildMrlIndex(corpus: DataFrame, out: String, dim: Int,
                    prefixDim: Int, nlist: Int = 16): Unit =
    graft.ops.MrlIndex.build(corpus, out, dim, prefixDim, nlist)

  /** Serve from the MRL store: probe-pruned prefix ranking + exact
    * full-dim re-rank from the sidecar. */
  def queryMrlIndex(spark: SparkSession, store: String,
                    queries: DataFrame, k: Int, rerank: Int,
                    nprobe: Int = 4): DataFrame =
    graft.ops.MrlIndex.query(spark, store, queries, k, rerank, nprobe)

  /** Filtered search on the MRL store (IDSelector position). */
  def queryMrlIndexFiltered(spark: SparkSession, store: String,
                            queries: DataFrame, k: Int, rerank: Int,
                            allowed: DataFrame,
                            nprobe: Int = 4): DataFrame =
    graft.ops.MrlIndex.query(spark, store, queries, k, rerank, nprobe,
      allowed = Some(allowed))

  /** Frozen-quantizer add on the MRL store (prefix-space assignment,
    * sidecar-first append). */
  def addToMrlIndex(spark: SparkSession, store: String,
                    vectors: DataFrame): Unit =
    graft.ops.MrlIndex.add(spark, store, vectors)

  /** PIN the MRL store's current state (file-set snapshots of BOTH
    * stages + tombstones; purge defers while pinned). Release with
    * [[releaseIvfGeneration]]. */
  def pinMrlGeneration(spark: SparkSession, store: String): Int =
    graft.ops.MrlIndex.pinGeneration(spark, store)

  /** Query a pinned MRL snapshot. */
  def queryMrlPinned(spark: SparkSession, store: String, token: Int,
                     queries: DataFrame, k: Int, rerank: Int,
                     nprobe: Int = 4): DataFrame =
    graft.ops.MrlIndex.queryPinned(spark, store, token, queries, k,
      rerank, nprobe)

  /** Prefix-space drift probe on the MRL store — the frozen prefix
    * quantizer's retrain trigger. */
  def mrlAssignmentDrift(spark: SparkSession, store: String,
                         recent: DataFrame): DataFrame =
    graft.ops.MrlIndex.assignmentDrift(spark, store, recent)

  /** PIN the SQ8 store's current state (file-set snapshot +
    * tombstones; purge defers while pinned). Release with
    * [[releaseIvfGeneration]]. */
  def pinSq8Generation(spark: SparkSession, store: String): Int =
    graft.ops.Sq8Index.pinGeneration(spark, store)

  /** Query a pinned SQ8 snapshot. */
  def querySq8Pinned(spark: SparkSession, store: String, token: Int,
                     queries: DataFrame, corpus: DataFrame, k: Int,
                     rerank: Int, nprobe: Int = 4): DataFrame =
    graft.ops.Sq8Index.queryPinned(spark, store, token, queries, corpus,
      k, rerank, nprobe)

  /** PIN the bucketed binary store's current state. Release with
    * [[releaseIvfGeneration]]. */
  def pinBinaryIvfGeneration(spark: SparkSession, store: String): Int =
    graft.ops.BinaryIvfIndex.pinGeneration(spark, store)

  /** Query a pinned binary-IVF snapshot (the exact re-rank reads the
    * caller's pin-time corpus frame — the code store holds no raw
    * vectors). */
  def queryBinaryIvfPinned(spark: SparkSession, store: String,
                           token: Int, queries: DataFrame,
                           corpus: DataFrame, k: Int, rerank: Int,
                           nprobe: Int = 4): DataFrame =
    graft.ops.BinaryIvfIndex.queryPinned(spark, store, token, queries,
      corpus, k, rerank, nprobe)

  /** SQ8 quantization-drift probe — the retrain trigger on the int8
    * tier (see [[graft.ops.Sq8Index.assignmentDrift]]). */
  def sq8AssignmentDrift(spark: SparkSession, store: String,
                         recent: DataFrame): DataFrame =
    graft.ops.Sq8Index.assignmentDrift(spark, store, recent)

  /** Build the token-level multi-vector (ColBERT) store: an IVF over
    * token space for candidate generation + a doc-id-bucketed fetch
    * copy (see [[graft.ops.LateInteraction.buildTokenStore]]). */
  def buildColbertTokenStore(docTokens: DataFrame, out: String, dim: Int,
                             nlist: Int = 16, posStride: Int = 4,
                             buckets: Int = 16): Unit =
    graft.ops.LateInteraction.buildTokenStore(docTokens, out, dim, nlist,
      posStride = posStride, buckets = buckets)

  /** Late interaction end-to-end FROM the token store: per-query-token
    * probes nominate candidates, MaxSim re-ranks their full token
    * sets (see [[graft.ops.LateInteraction.queryTokenStore]]). */
  def queryColbertTokenStore(spark: SparkSession, store: String,
                             queryTokens: DataFrame, k: Int,
                             tokenK: Int = 16,
                             nprobe: Int = 4): DataFrame =
    graft.ops.LateInteraction.queryTokenStore(spark, store, queryTokens,
      k, tokenK, nprobe)

  /** Unigram vocabulary with the SentencePiece byte-fallback tail
    * (256 `<0xNN>` pieces — no unk, ever; see
    * [[graft.text.Unigram.withByteFallback]]). */
  def unigramWithByteFallback(
      vocab: Seq[graft.text.Unigram.Entry]): Seq[graft.text.Unigram.Entry] =
    graft.text.Unigram.withByteFallback(vocab)

  /** Byte-fallback unigram encode/decode (the LLaMA-family form). */
  def unigramEncodeByteFallback(word: String,
      vocab: Seq[graft.text.Unigram.Entry],
      maxPieceLen: Int = 4): Vector[String] =
    graft.text.Unigram.encodeByteFallback(word, vocab, maxPieceLen)

  def unigramDecodeByteFallback(pieces: Seq[String]): String =
    graft.text.Unigram.decodeByteFallback(pieces)

  /** Encode with PROTECTED added tokens (BOS/EOS/control tokens that
    * never split — see [[graft.text.AddedTokens.encode]]). */
  def encodeWithAddedTokens(text: String, added: Seq[String],
      encodeSegment: String => Seq[String]): Vector[String] =
    graft.text.AddedTokens.encode(text, added, encodeSegment)

  /** CONSISTENT ONLINE BACKUP of a mutating ANN store — pin →
    * copy exactly the pin manifest → release; the destination is a
    * complete, independently serving and mutable store answering
    * backup-time answers (see [[graft.ops.AnnBackup.backup]]).
    * Returns data files copied. */
  def backupAnnStore(spark: SparkSession, store: String,
                     dest: String): Int =
    graft.ops.AnnBackup.backup(spark, store, dest)

  /** Build the persisted incremental near-dup (MinHash-LSH) index —
    * banded signatures bucket-partitioned on disk (see
    * [[graft.ops.LshIndex.build]]). */
  def buildLshIndex(docs: DataFrame, out: String,
                    idCol: String = "doc_id",
                    textCol: String = "text"): Unit =
    graft.ops.LshIndex.build(docs, out, idCol, textCol)

  /** Which of `newDocs` near-duplicate the LSH store? (id, dup_of,
    * est_milli) — bucket-pruned probe. */
  def probeLshIndex(spark: SparkSession, store: String,
                    newDocs: DataFrame,
                    thresholdMilli: Long = 500L): DataFrame =
    graft.ops.LshIndex.probe(spark, store, newDocs, thresholdMilli)

  /** The near-dup INGEST GATE: probe the batch, index the survivors
    * (the store grows with the corpus), return the dropped report
    * (see [[graft.ops.LshIndex.ingestDedup]]). */
  def lshIngestDedup(spark: SparkSession, store: String,
                     newDocs: DataFrame,
                     thresholdMilli: Long = 500L): DataFrame =
    graft.ops.LshIndex.ingestDedup(spark, store, newDocs, thresholdMilli)

  /** MMR diversified re-rank over any first-stage tier's candidates
    * (Carbonell & Goldstein 1998 — see
    * [[graft.ops.Diversify.mmrTopK]]). */
  def mmrDiversify(candidates: DataFrame, corpus: DataFrame,
                   queries: DataFrame, k: Int,
                   lambdaMilli: Long = 500L): DataFrame =
    graft.ops.Diversify.mmrTopK(candidates, corpus, queries, k,
      lambdaMilli)
}
