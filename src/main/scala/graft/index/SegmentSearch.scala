package graft.index

import graft.util.SerializableHadoopConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Distributed search over a [[SegmentShardSink]] store — the
 * scatter-gather half of the reference's product. The reference
 * builds indexes FOR a SolrCloud that then answers queries by
 * fanning them out to every shard and merging; here each shard's
 * raw [[SegmentIndex.Reader]] runs inside one Spark task (one task
 * per part dir — the same parallelism a Solr query gets from its
 * shards) and the gathered hits come back as a DataFrame, so index
 * lookups compose with the rest of the engine's relational surface.
 *
 * Results carry one string column per requested stored field
 * (multivalued fields yield their FIRST value; null when absent) —
 * the strings-only divergence declared on [[SegmentIndex]].
 *
 * Scale shape: no shuffle at all — a one-stage parallel scan of the
 * posting lists, each task touching only its own shard directory,
 * exactly the per-shard locality a distributed search tier has. The
 * gathered result is only the HITS (not the corpus), so a selective
 * term query moves negligible data.
 */
object SegmentSearch {

  /** Plain-value rendering of a stored term: numeric fields decode
    * their sortable index encoding (see [[NumericTerms]]); the
    * encoding is an INDEX-INTERNAL representation, never surfaced. */
  private def decodeOf(marker: SegmentShardSink.StoreMarker,
                       fields: Seq[String]): Array[String => String] =
    fields.iterator.map { f =>
      marker.kindOf(f) match {
        case 'l' => (s: String) => NumericTerms.decodeLong(s).toString
        case 'd' => (s: String) => NumericTerms.decodeDouble(s).toString
        case 't' => (s: String) =>
          NumericTerms.instantOf(NumericTerms.decodeLong(s)).toString
        case 'u' => (s: String) =>
          NumericTerms.ntzOf(NumericTerms.decodeLong(s)).toString
        case 'a' => (s: String) =>
          java.time.LocalDate.ofEpochDay(NumericTerms.decodeLong(s)).toString
        case _ => identity[String] _
      }
    }.toArray

  /** A caller's plain query value as the INDEXED term (numeric fields
    * encode — the inverse of [[decodeOf]]). */
  private def encodeTerm(marker: SegmentShardSink.StoreMarker,
                         field: String, term: String): String =
    marker.kindOf(field) match {
      case 'l' => NumericTerms.encodeLong(term.toLong)
      case 'd' => NumericTerms.encodeDouble(term.toDouble)
      case 't' =>
        NumericTerms.encodeLong(NumericTerms.microsOf(java.time.Instant.parse(term)))
      case 'u' =>
        NumericTerms.encodeLong(
          NumericTerms.microsOfNtz(java.time.LocalDateTime.parse(term)))
      case 'a' => NumericTerms.encodeLong(java.time.LocalDate.parse(term).toEpochDay)
      case _ => term
    }

  private def gather(spark: SparkSession, store: String, fields: Seq[String])
                    (hits: SegmentIndex.Reader => Iterator[SegmentIndex.Doc]): DataFrame =
    gatherWith(spark, store, fields,
      SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store))(hits)

  /** [[gather]] for callers that already read the store marker — the
    * query entry points all need it for term encoding / field-kind
    * guards, and re-reading it here would cost a second filesystem
    * open per query (a full round-trip on object stores). */
  private def gatherWith(spark: SparkSession, store: String, fields: Seq[String],
                         marker: SegmentShardSink.StoreMarker)
                        (hits: SegmentIndex.Reader => Iterator[SegmentIndex.Doc]): DataFrame = {
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    val decs = decodeOf(marker, fields)
    val schema = StructType(fields.map(f => StructField(f, StringType, nullable = true)))
    val rows = spark.sparkContext.parallelize(dirs, dirs.size).flatMap { d =>
      val p = new Path(d)
      val reader = new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
      // field→position table, first occurrence wins (the multivalued
      // surfacing contract) — per-doc Map + Option allocation was a
      // visible slice of corpus-sized exports (same fix as the DSv2
      // reader's row loop)
      val fieldIdx = new java.util.HashMap[String, Integer](fields.length * 2)
      fields.indices.foreach(i => fieldIdx.put(fields(i), i))
      hits(reader).map { doc =>
        val arr = new Array[Any](fields.length)
        val it = doc.iterator
        while (it.hasNext) {
          val kv = it.next()
          val i = fieldIdx.get(kv._1)
          if (i != null && arr(i) == null) arr(i) = decs(i)(kv._2)
        }
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Exact-term query (`field:term`) fanned out to every shard;
    * returns the requested stored fields of every live hit. Numeric
    * fields take the PLAIN value ("15", "2.5") and match exactly. */
  def termQuery(spark: SparkSession, store: String, field: String, term: String,
                fields: Seq[String]): DataFrame = {
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    val t = encodeTerm(marker, field, term)
    gatherWith(spark, store, fields, marker)(r => r.termDocs(field, t).iterator)
  }

  /** `*:*` — every live stored doc across all shards. */
  def matchAll(spark: SparkSession, store: String, fields: Seq[String]): DataFrame =
    gather(spark, store, fields)(_.allDocs())

  /** Exact-phrase query (`field:"a b c"`, slop 0) over an ANALYZED
    * field, fanned out shard-parallel — positional postings resolve
    * consecutive tokens per shard, no stored-doc scan for misses. The
    * phrase is analyzed with the index's own tokenizer. */
  def phraseQuery(spark: SparkSession, store: String, field: String,
                  phrase: String, fields: Seq[String]): DataFrame = {
    val tokens = SegmentIndex.analyze(phrase)
    // fail fast on the driver — an empty token list would otherwise
    // throw inside every shard task; and only ANALYZED fields carry
    // the token positions phrase matching reads (a stored-verbatim
    // field would silently return zero rows)
    require(tokens.nonEmpty, s"phrase '$phrase' has no indexable tokens")
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    require(marker.analyzed.contains(field),
      s"phrase query needs an analyzed field; '$field' is not analyzed")
    gatherWith(spark, store, fields, marker)(r => r.phraseDocs(field, tokens).iterator)
  }

  /** Fuzzy term query (`field:term~N`): live docs containing a
    * dictionary term within `maxEdits` Levenshtein edits, fanned out
    * shard-parallel — each shard walks its own term dictionary
    * (vocabulary-sized, one field-block seek) and fetches only hits.
    * String fields only (fuzzy over sortable numeric encodings is
    * meaningless). */
  def fuzzyQuery(spark: SparkSession, store: String, field: String,
                 term: String, maxEdits: Int, fields: Seq[String]): DataFrame = {
    // enforce the declared string-only contract: on a numeric field the
    // dictionary holds sortable ENCODINGS, and edit distance over the
    // encoding returns arbitrary neighbors in encoding space
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    require(marker.kindOf(field) == 's',
      s"fuzzy query is defined for string fields only; '$field' is numeric")
    gatherWith(spark, store, fields, marker)(
      r => r.fuzzyDocs(field, term, maxEdits).iterator)
  }

  /**
   * INDEX-SERVED BM25 (the Lucene scoring path, distributed the way
   * Solr distributes it): two scatter phases over the shards —
   *
   *  1. term statistics: per-shard live doc counts, total field
   *     tokens (from the stored NORMS), per-term document frequency
   *     from posting cardinality; combined on the driver into GLOBAL
   *     N / avgdl / df (Solr's ShardRequest.PURPOSE_GET_TERM_STATS
   *     distributed-idf design) and handed back to
   *  2. scoring: each shard scores only the docs its QUERIED-term
   *     posting lists name — tf from positions, |d| from norms —
   *     so per-shard work is ∝ Σ df(query terms), never a corpus
   *     scan or re-tokenize.
   *
   * The double math replicates [[graft.text.Ranking.bm25]]'s operator
   * tree and fixed term-order summation exactly (all inputs are
   * integer-derived, so the combined statistics are order-independent
   * and the scores match bit-for-bit). `field` must be an ANALYZED
   * field of the store. Output: (doc_id, score), one row per doc
   * matching ≥1 term.
   */
  def bm25Scores(spark: SparkSession, store: String, field: String,
                 terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores needs at least one query term")
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    require(marker.analyzed.contains(field),
      s"bm25Scores requires an analyzed field; '$field' is stored verbatim")
    val idField = marker.idCol
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    // phase 1: one tiny stats row per shard
    val stats = spark.sparkContext.parallelize(dirs, dirs.size).map { d =>
      val p = new Path(d)
      new SegmentIndex.Reader(p.getFileSystem(conf.value), p).bm25Stats(field, terms)
    }.collect()
    val nDocs = stats.map(_._1).sum
    val totalTokens = stats.map(_._2).sum
    val df = stats.flatMap(_._3).groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    if (nDocs == 0L || df.isEmpty) {
      val schema = StructType(Seq(StructField("doc_id", StringType, nullable = true),
        StructField("score", org.apache.spark.sql.types.DoubleType, nullable = false)))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
    val n = nDocs.toDouble
    val avgdl = totalTokens.toDouble / n
    // phase 2: postings-driven scoring under the global stats
    val rows = spark.sparkContext.parallelize(dirs, dirs.size).flatMap { d =>
      val p = new Path(d)
      new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
        .bm25Scores(field, terms, k1, b, n, avgdl, df, idField)
        .map { case (id, s) => Row(id, s) }
    }
    val schema = StructType(Seq(StructField("doc_id", StringType, nullable = true),
      StructField("score", org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /**
   * Solr `facet.range` over a numeric single-valued field, served
   * from the index: gap-width buckets `[start + i*gap, start +
   * (i+1)*gap)` covering `[start, end)`, each with its LIVE doc count
   * among docs matching the query string `q` (an `fq`). Empty buckets
   * are kept at count 0 — Solr's `facet.mincount=0` default; values
   * outside `[start, end)` are dropped (no `facet.range.other`).
   *
   * Scale shape: the per-term counting is the DSv2 facet pushdown —
   * `filter(q).groupBy(field).count` compiles to a postings-only
   * GraftIndexScan (term→count partials per shard, stored docs never
   * read) — so the frame being bucketed is vocabulary-sized, not
   * corpus-sized; the bucket spine (`spark.range`, ≤ a few hundred
   * rows) joins broadcast. Unparsable (non-numeric) terms drop with
   * the out-of-range values.
   */
  /** The facet half of [[rangeFacet]] alone: term → live count under
    * the fq, as the pushed DSv2 facet plan (postings only). */
  private[index] def pushedTermCounts(spark: SparkSession, store: String,
                                      field: String, q: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit}
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    val idx = spark.read.format("graft-index").load(store)
    val default = marker.analyzed.toSeq.sorted.headOption.getOrElse(marker.idCol)
    val pred = graft.search.SolrQueryString.compile(q, idx.schema, default, marker.analyzed)
    idx.filter(pred).groupBy(col(field)).agg(count(lit(1)).as("__c"))
  }

  def rangeFacet(spark: SparkSession, store: String, field: String,
                 start: Double, end: Double, gap: Double,
                 q: String = "*:*"): DataFrame = {
    require(gap > 0, s"gap must be positive, got $gap")
    require(end > start, s"empty range [$start, $end)")
    import org.apache.spark.sql.functions.{broadcast, coalesce, floor, lit, sum}
    val termCounts = pushedTermCounts(spark, store, field, q)
    // Optimizer barrier: without it Catalyst transposes the bucket
    // predicates below the aggregate (filters on a grouping key
    // commute), where the un-pushable casts become residual filters
    // and forfeit the facet pushdown — the scan would read stored
    // docs O(matches) instead of postings O(vocabulary). The RDD
    // round-trip finalizes the pushed plan; everything downstream
    // operates on the vocabulary-sized partials, like a Solr
    // coordinator over gathered facet responses (but still a
    // distributed frame, never collected).
    val counted = spark.createDataFrame(termCounts.rdd, termCounts.schema)
      // try_cast: non-numeric terms become null and drop (ANSI-safe)
      .withColumn("__v", org.apache.spark.sql.functions.expr(
        s"try_cast(`$field` AS DOUBLE)"))
      .filter(col("__v").isNotNull && col("__v") >= start && col("__v") < end)
      .withColumn("bucket", floor((col("__v") - start) / gap) * gap + start)
      .groupBy(col("bucket")).agg(sum(col("__c")).as("__n"))
    val nb = math.ceil((end - start) / gap).toLong
    val spine = spark.range(nb)
      .select((lit(start) + col("id") * gap).as("bucket"))
    // vocabulary-sized counts broadcast to the spine (left-outer keeps
    // empty buckets; build side must be the non-preserved right)
    spine.join(broadcast(counted), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("__n"), lit(0L)).as("cnt"))
  }

  /**
   * Solr `stats.percentiles` over a numeric single-valued field —
   * except EXACT where Solr settles for a t-digest approximation:
   * the index's term dictionary is already value-sorted, so the
   * percentile is a cumulative-count walk over vocabulary-sized
   * per-term counts, not a corpus sort. For each requested fraction
   * `p` the result is the smallest value whose cumulative doc count
   * reaches `p` of the matching total (classic `percentile_disc`).
   *
   * Scale shape: phase 1 is the pushed DSv2 facet
   * (`filter(q).groupBy(field).count` → postings-only partials per
   * shard); the cumulative walk then runs over the MERGED term→count
   * frame — vocabulary-sized, single-partition windowed (documented:
   * the frame is |distinct values|, not |docs|; a 100 TB corpus of
   * bounded-cardinality fields stays cheap, and an unbounded-
   * cardinality field is exactly the case where Solr's t-digest
   * approximation loses exactness while this stays correct at
   * vocabulary cost). Non-numeric terms are dropped.
   */
  def percentiles(spark: SparkSession, store: String, field: String,
                  fractions: Seq[Double], q: String = "*:*"): DataFrame = {
    require(fractions.nonEmpty, "percentiles needs at least one fraction")
    require(fractions.forall(p => p > 0.0 && p <= 1.0),
      s"fractions must be in (0, 1], got $fractions")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, expr, min, sum}
    val termCounts = pushedTermCounts(spark, store, field, q)
    // same optimizer barrier as rangeFacet: keep the bucket math from
    // migrating below the pushed aggregate and forfeiting the pushdown
    val counted = spark.createDataFrame(termCounts.rdd, termCounts.schema)
      .withColumn("__v", expr(s"try_cast(`$field` AS DOUBLE)"))
      .filter(col("__v").isNotNull)
    val cum = counted.select(col("__v"),
      sum(col("__c")).over(Window.orderBy(col("__v"))).as("__cum"),
      sum(col("__c")).over(Window.partitionBy()).as("__tot"))
    import spark.implicits._
    val spine = fractions.toDF("p")
    cum.join(broadcast(spine), col("__cum") >= col("p") * col("__tot"))
      .groupBy(col("p")).agg(min(col("__v")).as("value"))
  }

  /**
   * Solr TermVectorComponent (tv.tf + tv.df): per-document term
   * vectors for the REQUESTED ids — (doc_id, term, tf, df) — served
   * entirely from the index: tf from each doc's positional postings
   * (the same seed-vector read MLT's phase 1 does, one id posting +
   * one field block per shard), df from posting cardinality across
   * shards. Work ∝ the requested docs' postings + their terms' stat
   * rows; the request shape is a handful of ids (the TV component's
   * contract), so the per-doc maps are driver-bounded by construction.
   */
  def termVectors(spark: SparkSession, store: String, field: String,
                  ids: Seq[String]): DataFrame = {
    import spark.implicits._
    require(ids.nonEmpty, "termVectors needs at least one id")
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    require(marker.analyzed.contains(field),
      s"termVectors requires an analyzed field; '$field' is stored verbatim")
    val idField = marker.idCol
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    val idsB = ids
    val perDoc: Seq[(String, Map[String, Int])] =
      spark.sparkContext.parallelize(dirs, dirs.size).flatMap { d =>
        val p = new Path(d)
        val r = new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
        idsB.map(id => id -> r.docTermFreqs(field, idField, id))
          .filter(_._2.nonEmpty)
      }.collect().toSeq
    val terms = perDoc.flatMap(_._2.keys).distinct.sorted
    val dfMap: Map[String, Long] =
      if (terms.isEmpty) Map.empty
      else spark.sparkContext.parallelize(dirs, dirs.size).map { d =>
        val p = new Path(d)
        new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
          .bm25Stats(field, terms)._3
      }.collect().flatten.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    perDoc.flatMap { case (id, tf) =>
      tf.toSeq.map { case (t, f) => (id, t, f.toLong, dfMap.getOrElse(t, 0L)) }
    }.toDF("doc_id", "term", "tf", "df")
  }

  /**
   * INDEX-SERVED MoreLikeThis (Solr's MLT handler): find docs similar
   * to the one whose id is `idValue`, with every statistic read from
   * the index — the seed's term frequencies from positional postings
   * (its per-doc term vector), document frequencies from posting
   * cardinality, N from live-doc counts (the same scatter phases as
   * distributed BM25) — then candidates from the interesting terms'
   * posting lists only. Scoring replicates
   * [[graft.text.Ranking.moreLikeThis]] exactly: interesting terms =
   * top `topTerms` by `tf * (ln((N+1)/(df+1)) + 1)` rounded to 6
   * decimals (term tie-break), candidate score = count of DISTINCT
   * shared interesting terms.
   *
   * Scale shape: phase 1 touches the seed's id posting + ONE
   * field-block; phase 2 moves |seed terms| stat rows per shard;
   * phase 3's work is ∝ the 10 interesting terms' posting lists +
   * one stored-id seek per candidate. A corpus scan never happens —
   * Solr's MLT cost model exactly. Returns (doc_id, shared_terms),
   * unranked (callers order/limit — ids may need a numeric cast
   * first).
   */
  def moreLikeThis(spark: SparkSession, store: String, field: String,
                   idValue: String, topTerms: Int = 10): DataFrame = {
    import spark.implicits._
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    require(marker.analyzed.contains(field),
      s"moreLikeThis requires an analyzed field; '$field' is stored verbatim")
    val idField = marker.idCol
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    // phase 1: the seed's term vector (exactly one shard holds it)
    val seedTf = spark.sparkContext.parallelize(dirs, dirs.size).map { d =>
      val p = new Path(d)
      new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
        .docTermFreqs(field, idField, idValue)
    }.collect().foldLeft(Map.empty[String, Int])(_ ++ _)
    if (seedTf.isEmpty)
      return Seq.empty[(String, Long)].toDF("doc_id", "shared_terms")
    // phase 2: global N + df for the seed's terms (tiny rows per shard)
    val stats = spark.sparkContext.parallelize(dirs, dirs.size).map { d =>
      val p = new Path(d)
      new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
        .bm25Stats(field, seedTf.keys.toSeq.sorted)
    }.collect()
    val n = stats.map(_._1).sum.toDouble
    val df = stats.flatMap(_._3).groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    def round6(x: Double): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val interesting = seedTf.toSeq.map { case (t, tf) =>
      val dfT = df.getOrElse(t, 0L).toDouble
      (t, round6(tf.toDouble * (math.log((n + 1.0) / (dfT + 1.0)) + 1.0)))
    }.sortBy { case (t, s) => (-s, t) }.take(topTerms).map(_._1)
    // phase 3: candidates from the interesting terms' postings only
    spark.sparkContext.parallelize(dirs, dirs.size).flatMap { d =>
      val p = new Path(d)
      new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
        .sharedTermCounts(field, interesting, idField, idValue)
    }.toDF("doc_id", "__c")
      // ids are store-unique, but a defensive merge keeps the contract
      // obvious (and free at candidate-set size)
      .groupBy(col("doc_id"))
      .agg(org.apache.spark.sql.functions.sum(col("__c")).as("shared_terms"))
  }

  /**
   * Solr `facet.field` over ANY field — including MULTIVALUED and
   * ANALYZED fields, which the DSv2 groupBy pushdown must refuse
   * (per-term counts don't partition docs there, so they aren't a
   * SQL GROUP BY): a doc counts once under EACH term it carries —
   * Solr's actual facet semantics for tags/token fields — plus a
   * null-term bucket for matching docs lacking the field. The
   * optional `fq` is an exact-term filter (field, plain value).
   *
   * Scale shape: one task per shard walks the facet field's postings
   * block (v3 seek — the rest of the dictionary unread) intersected
   * with the fq's posting list; the gathered frame is per-shard
   * vocabulary-sized partials, merged by one groupBy — a distributed
   * facet response merge, data movement ∝ vocabulary, never corpus.
   */
  def facetField(spark: SparkSession, store: String, field: String,
                 fq: Option[(String, String)] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    val dec = decodeOf(marker, Seq(field))(0)
    val filter: PushedQuery = fq match {
      case Some((f, v)) => TermQuery(f, Seq(encodeTerm(marker, f, v)))
      case None => MatchAll
    }
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    spark.sparkContext.parallelize(dirs, dirs.size).flatMap { d =>
      val p = new Path(d)
      val reader = new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
      val (counts, nullBucket) = reader.facetCounts(field, filter)
      counts.iterator.map { case (t, n) => (dec(t), n) } ++
        (if (nullBucket > 0) Iterator((null: String, nullBucket)) else Iterator.empty)
    }.toDF("term", "cnt_part")
      .groupBy(col("term"))
      .agg(sum(col("cnt_part")).as("cnt"))
  }

  /**
   * Solr `facet.pivot=a,b` over fields of ANY cardinality — including
   * MULTIVALUED and ANALYZED fields, where a doc counts once under
   * EACH (valueA, valueB) combination it carries (the shape the DSv2
   * two-field GROUP BY pushdown must refuse: per-combination counts
   * don't partition docs). Served from the persisted forward columns
   * (`.dvm` ord lists / `.dvd`); per-shard partials are (a, b, count)
   * rows — bounded by the product of the two vocabularies actually
   * co-occurring — merged by one groupBy. Null bucket on an axis the
   * doc lacks. Optional `fq` is an exact-term filter.
   */
  def facetPivot(spark: SparkSession, store: String, fieldA: String,
                 fieldB: String, fq: Option[(String, String)] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val marker = SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store)
    val Seq(decA, decB) = decodeOf(marker, Seq(fieldA, fieldB)).toSeq
    val filter: PushedQuery = fq match {
      case Some((f, v)) => TermQuery(f, Seq(encodeTerm(marker, f, v)))
      case None => MatchAll
    }
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    spark.sparkContext.parallelize(dirs, dirs.size).flatMap { d =>
      val p = new Path(d)
      val reader = new SegmentIndex.Reader(p.getFileSystem(conf.value), p)
      reader.pivotCountsMulti(fieldA, fieldB, filter).iterator.map {
        case ((a, b), n) => (a.map(decA).orNull, b.map(decB).orNull, n)
      }
    }.toDF("a", "b", "cnt_part")
      .groupBy(col("a"), col("b"))
      .agg(sum(col("cnt_part")).as("cnt"))
  }

  /**
   * Luke/terms-component statistics: per-term LIVE doc frequency for
   * one field, summed across shards. One task per shard reads only
   * that shard's postings (never stored docs), then a single groupBy
   * merges the per-shard counts — the scatter-gather shape of a
   * distributed terms request, with data movement ∝ vocabulary size,
   * not corpus size.
   */
  /**
   * SignificantTermsComponent analog: terms of `field`
   * overrepresented in the foreground (docs matching the `fq` term
   * filter) vs the whole collection. Both frames come from the same
   * postings-only [[facetField]] scatter-gather (vocabulary-sized,
   * stored docs never read); significance is the q104 integer
   * milli-ratio `fg_df·1000 div bg_df` — monotone in the foreground
   * lift, bit-stable (Solr's exact scoring formula is
   * implementation-defined; the RANKING contract is what this
   * preserves).
   */
  def significantTerms(spark: SparkSession, store: String, field: String,
                       fq: (String, String), minDocFreq: Long = 1L,
                       limit: Int = 10): DataFrame = {
    val bg = facetField(spark, store, field, None)
      .withColumnRenamed("cnt", "bg_df")
    val fg = facetField(spark, store, field, Some(fq))
      .withColumnRenamed("cnt", "fg_df")
    fg.join(bg, Seq("term"))
      .filter(col("bg_df") >= minDocFreq)
      .withColumn("score_milli", expr("fg_df * 1000 div bg_df").cast("long"))
      .orderBy(col("score_milli").desc, col("term"))
      .limit(limit)
  }

  def fieldTerms(spark: SparkSession, store: String, field: String): DataFrame = {
    import spark.implicits._
    val dirs = SegmentShardSink.partIndexDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    // Luke shows PLAIN values: numeric fields decode their sortable
    // index encoding for the statistics view
    val dec = decodeOf(
      SegmentShardSink.readMarker(ShardIndex.hadoopConf(spark), store), Seq(field))(0)
    spark.sparkContext.parallelize(dirs, dirs.size).flatMap { d =>
      val p = new Path(d)
      new SegmentIndex.Reader(p.getFileSystem(conf.value), p).termStats(field).iterator
        .map { case (t, n) => (dec(t), n) }
    }.toDF("term", "df_part")
      .groupBy(col("term"))
      .agg(org.apache.spark.sql.functions.sum(col("df_part")).as("doc_freq"))
  }
}
