package graft.index

import graft.util.Checkpoints.CutOps
import graft.route.HashRangeRouter
import graft.util.SerializableHadoopConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The index-directory shard sink — the reference's ACTUAL output
 * layout (`<out>/part-NNNNN/data/index` per reducer,
 * `SolrRecordWriter.java:129`), written per-partition behind the SAME
 * Solr-compatible routing `ShardIndex.write` uses, with the mtree
 * merge (`MapReduceIndexerTool.java:765-815`) and forceMerge
 * (`BatchWriter.java:203-218`) as explicit follow-up phases over
 * [[SegmentIndex]] directories.
 *
 * Division of labor with [[ShardIndex]]: the Parquet shard store is
 * the engine's native, columnar, Catalyst-queryable form (single
 * shuffle, no merge phase at all — the v1 SURVEY §7.4 sanctioned); this
 * sink produces the SEARCH-INDEX-directory form for a consumer that
 * wants the reference's go-live layout (one self-contained index dir
 * per shard, mergeable/optimizable in place). It exists because the
 * real Lucene artifact is absent from this offline build environment
 * — [[SegmentIndex]] documents the architecture-level fidelity and
 * the declared divergences.
 *
 * Scale shape: ONE hash shuffle on the micro-shard key (identical to
 * ShardIndex.write — dedup fuses into the same exchange), then each
 * task streams its sorted rows into per-micro-shard index dirs.
 * Merge rounds move whole segment FILES (no doc rewrite), exactly the
 * reference's cheap `addIndexes` path, and each merge target is one
 * task — parallelism = number of targets, the same bound the
 * reference's mapper-only merge jobs have.
 */
object SegmentShardSink {

  /** Canonical string rendering per Spark type (the declared
    * strings-only divergence of [[SegmentIndex]]). */
  private def render(v: Any): String = v match {
    case null => null
    case s: String => s
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case x => String.valueOf(x)
  }

  /** Render one value for indexing: numeric kinds ('l' long, 'd'
    * double, 't' timestamp→epoch-micros, 'a' date→epoch-days) take
    * the sortable fixed-width encoding (see [[NumericTerms]]),
    * everything else ('s') the canonical string. Accepts strings for
    * typed fields too (an upsert delta may carry plain renderings). */
  private def renderKind(v: Any, kind: Char): String = kind match {
    case 'l' => v match {
      case n: java.lang.Number => NumericTerms.encodeLong(n.longValue())
      case s: String => NumericTerms.encodeLong(s.toLong)
      case x => NumericTerms.encodeLong(String.valueOf(x).toLong)
    }
    case 'd' => v match {
      case n: java.lang.Number => NumericTerms.encodeDouble(n.doubleValue())
      case s: String => NumericTerms.encodeDouble(s.toDouble)
      case x => NumericTerms.encodeDouble(String.valueOf(x).toDouble)
    }
    case 't' => NumericTerms.encodeLong(v match {
      case ts: java.sql.Timestamp => NumericTerms.microsOf(ts)
      case i: java.time.Instant => NumericTerms.microsOf(i)
      case n: java.lang.Number => n.longValue() // already epoch-micros
      case s: String => NumericTerms.microsOf(java.time.Instant.parse(s))
      case x => NumericTerms.microsOf(java.time.Instant.parse(String.valueOf(x)))
    })
    case 'a' => NumericTerms.encodeLong(v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case n: java.lang.Number => n.longValue() // already epoch-days
      case s: String => java.time.LocalDate.parse(s).toEpochDay
      case x => java.time.LocalDate.parse(String.valueOf(x)).toEpochDay
    })
    case 'u' => NumericTerms.encodeLong(v match {
      case l: java.time.LocalDateTime => NumericTerms.microsOfNtz(l)
      case n: java.lang.Number => n.longValue() // already epoch-micros
      case s: String => NumericTerms.microsOfNtz(java.time.LocalDateTime.parse(s))
      case x => NumericTerms.microsOfNtz(
        java.time.LocalDateTime.parse(String.valueOf(x)))
    })
    case _ => render(v)
  }

  private def docOf(row: Row, fields: Array[(String, Int, Boolean, Char)]): SegmentIndex.Doc =
    fields.iterator.flatMap { case (name, idx, isArray, kind) =>
      if (row.isNullAt(idx)) Iterator.empty
      else if (isArray)
        row.getSeq[Any](idx).iterator.filter(_ != null).map(e => name -> render(e))
      else Iterator.single(name -> renderKind(row.get(idx), kind))
    }.toSeq

  /** Numeric-term kind of a single-valued column: integrals 'l',
    * fractionals 'd', timestamps 't' (epoch micros), dates 'a'
    * (epoch days), everything else 's' (strings verbatim). */
  private def kindOf(dt: DataType): Char = dt match {
    case ByteType | ShortType | IntegerType | LongType => 'l'
    case FloatType | DoubleType => 'd'
    case TimestampType => 't'
    case TimestampNTZType => 'u' // pandas-written parquet reads as NTZ
    case DateType => 'a'
    case _ => 's'
  }

  /** Auto writer fan-out sizing for [[graft.Graft.buildSegmentIndex]]:
    * per-shard estimated input bytes above this threshold buy the
    * fan-out's merge tax back several times over (measured at
    * sf1-true, docs/SCALING.md §"writer fan-out": 86.6k → 260k docs/s
    * at microShards=16 on a ~14 MB/shard Catalyst estimate); below it
    * the merge re-read dominates and direct write wins. Calibrated
    * against `optimizedPlan.stats.sizeInBytes` (parquet-compressed
    * scale): sf1-true q88 shape ≈ 13.7 MB/shard → fan out; sf0.1 ≈
    * 1.3 MB/shard and fixture stores → direct. */
  private[graft] val AutoFanoutBytesPerShard: Long = 8L << 20

  /** Resolve the auto (`microShards = 0`) writer fan-out: big builds
    * get `min(cores, 4 × shards)` (the measured sweet spot — a
    * 32-core driver building 4 shards should not leave 28 writers
    * idle), small stores stay direct (no merge tax). The estimate is
    * Catalyst's driver-side plan statistic — free, no job — but the
    * ROOT estimate alone is untrustworthy upward: joins multiply
    * child sizes and stat-less leaves fall back to the huge
    * `spark.sql.defaultSizeInBytes`, so a small build from a
    * joined/derived input could spuriously fan out and pay the
    * merge-tree tax. Sanity-check against the leaf scan bytes (what
    * the writer actually ingests, join fan-out aside): take the
    * smaller signal, and a plan with any unknown-size leaf stays
    * direct (the explicit `microShards` knob remains for callers who
    * know their size). */
  private[graft] def autoMicroShards(df: DataFrame, shards: Int): Int = {
    val plan = df.queryExecution.optimizedPlan
    val default = BigInt(
      df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val leafSizes = plan.collectLeaves().map(_.stats.sizeInBytes)
    val est = plan.stats.sizeInBytes
    val trusted = est < default && leafSizes.forall(_ < default)
    val signal = if (trusted) est.min(leafSizes.sum) else BigInt(0)
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (signal > BigInt(AutoFanoutBytesPerShard) * shards)
      math.max(shards, math.min(cores, 4 * shards))
    else shards
  }

  /**
   * Build `microShards` (default: `shards`) index directories at
   * `out/part-NNNNN/data/index`, docs routed by the Solr-compatible
   * hash of `idCol` and sorted `id desc` within each index (O4
   * parity). `dedupOrder` fuses retain-most-recent dedup into the
   * route exchange exactly as in `ShardIndex.write`. Every micro
   * shard gets a directory — an empty one still holds a commit (the
   * reference's empty reducers also produce empty indexes).
   */
  def write(df: DataFrame, idCol: String, out: String, shards: Int,
            microShards: Int = 0,
            dedupOrder: Option[Column] = None,
            router: Option[HashRangeRouter] = None,
            analyzedFields: Set[String] = Set.empty): Unit = {
    require(!analyzedFields.contains(idCol), "the id column cannot be analyzed")
    require(df.schema(idCol).dataType == StringType,
      s"id column '$idCol' must be a string (cast it; ids are routed and deleted as strings)")
    val splits = math.max(1, if (microShards > 0) microShards / shards else 1)
    val n = shards * splits
    val routed = ShardIndex.routedForWrite(df, idCol, shards, splits, dedupOrder,
      rejectConflicts = false, routerOpt = router, keepMs = true)
      .drop("shard")
      .sortWithinPartitions(col("__ms"), col(idCol).desc)
    val schema = routed.schema
    val msIdx = schema.fieldIndex("__ms")
    // single-valued numeric columns index under the sortable encoding
    // (Solr typed-field analog); analyzed fields are tokenized text by
    // contract, so numeric typing never applies to them
    val fields: Array[(String, Int, Boolean, Char)] = schema.fields.zipWithIndex
      .filter(_._1.name != "__ms")
      .map { case (f, i) =>
        val arr = f.dataType.isInstanceOf[ArrayType]
        val kind = if (arr || analyzedFields.contains(f.name)) 's' else kindOf(f.dataType)
        (f.name, i, arr, kind)
      }
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(df.sparkSession))
    val analyzedBc = analyzedFields
    // rows arrive sorted by __ms, so each micro shard is one contiguous
    // run: a single open writer at a time per task
    routed.foreachPartition { (rows: Iterator[Row]) =>
      var cur = -1
      var w: SegmentIndex.Writer = null
      // build-time tiered merge: a corpus-scale part flushes one
      // segment per maxBufferedDocs — fold over-full tiers so a fresh
      // build starts at O(log docs) segments (no-op under 10 flushes)
      def closeMerged(): Unit = if (w != null) { w.close(); w.maybeMerge(); () }
      rows.foreach { row =>
        val ms = row.getInt(msIdx)
        if (ms != cur) {
          closeMerged()
          w = SegmentIndex.writer(indexDir(out, ms), conf.value, analyzedBc)
          cur = ms
        }
        w.addDocument(docOf(row, fields))
      }
      closeMerged()
      ()
    }
    // empty micro shards still get committed (empty) indexes
    val fs = new Path(out).getFileSystem(ShardIndex.hadoopConf(df.sparkSession))
    (0 until n).foreach { ms =>
      val dir = new Path(indexDir(out, ms))
      if (SegmentIndex.latestCommit(fs, dir).isEmpty)
        new SegmentIndex.Writer(fs, dir, analyzedFields).commit()
    }
    writeMarker(out, shards, n, idCol, fields.map(_._1), analyzedFields,
      fields.filter(_._3).map(_._1).toSet, router, df.sparkSession,
      numericLong = fields.filter(_._4 == 'l').map(_._1).toSet,
      numericDouble = fields.filter(_._4 == 'd').map(_._1).toSet,
      numericTs = fields.filter(_._4 == 't').map(_._1).toSet,
      numericDate = fields.filter(_._4 == 'a').map(_._1).toSet,
      numericTsNtz = fields.filter(_._4 == 'u').map(_._1).toSet)
  }

  private def indexDir(out: String, part: Int): String =
    f"$out/part-$part%05d/data/index"

  private def writeMarker(out: String, shards: Int, parts: Int, idCol: String,
                          columns: Seq[String], analyzed: Set[String],
                          multivalued: Set[String],
                          router: Option[HashRangeRouter],
                          spark: SparkSession,
                          numericLong: Set[String] = Set.empty,
                          numericDouble: Set[String] = Set.empty,
                          numericTs: Set[String] = Set.empty,
                          numericDate: Set[String] = Set.empty,
                          numericTsNtz: Set[String] = Set.empty): Unit = {
    val p = new Path(out, "_graft_segment_commit.json")
    val fs = p.getFileSystem(ShardIndex.hadoopConf(spark))
    val os = fs.create(p, true)
    // the marker is the store's SCHEMA record: column inventory (the
    // DSv2 source's metadata-only schema), analyzer + multivalued sets
    // (so maintenance ops re-apply the same indexing), and the ROUTING
    // (bits + explicit ranges) so upserts land on the part that holds
    // the prior version even for custom-routed stores
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val bits = router.map(_.routingBits).getOrElse(16)
    val rangesJson = router.flatMap(_.explicitRanges) match {
      case Some(rs) => "\"" + rs.map { case (a, b) => s"$a:$b" }.mkString(",") + "\""
      case None => "null"
    }
    try os.write(
      (s"""{"graft_segment_store":1,"shards":$shards,"parts":$parts,""" +
        s""""id_column":"$idCol","columns":${arr(columns)},""" +
        s""""analyzed":${arr(analyzed.toSeq.sorted)},""" +
        s""""multivalued":${arr(multivalued.toSeq.sorted)},""" +
        s""""numeric_long":${arr(numericLong.toSeq.sorted)},""" +
        s""""numeric_double":${arr(numericDouble.toSeq.sorted)},""" +
        s""""numeric_ts":${arr(numericTs.toSeq.sorted)},""" +
        s""""numeric_date":${arr(numericDate.toSeq.sorted)},""" +
        s""""numeric_ts_ntz":${arr(numericTsNtz.toSeq.sorted)},""" +
        s""""routing_bits":$bits,"ranges":$rangesJson}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /**
   * Incremental upsert (Solr's steady-state indexing idiom
   * `deleteByTerm(id); add(newDoc)` — the update path the reference
   * delegates to the live cluster, here applied directly to the
   * store): route the delta batch with the store's OWN routing
   * (shards/parts/id column read back from the marker, so updates land
   * on exactly the part that holds the prior version), then per part:
   * one batched tombstone pass over the ids followed by the new docs
   * as one fresh segment, one commit. Untouched parts never open.
   *
   * Scale shape: one hash shuffle of the DELTA only (the store itself
   * does not move), per-part work ∝ delta size + one postings read per
   * segment. Ids must be unique within `updates` (the usual upsert
   * batch contract — last-writer ambiguity inside one batch is a
   * caller bug, enforced here).
   */
  def upsert(spark: SparkSession, store: String, updates: DataFrame,
             mergePolicy: SegmentIndex.MergePolicy = SegmentIndex.MergePolicy(),
             retainGenerations: Int = 1): Unit =
    upsertBuffered(spark, store, updates, mergePolicy, retainGenerations,
      SegmentIndex.MaxBufferedDocs)

  /** [[upsert]] with its writers' flush threshold (`maxBufferedDocs`)
    * given — a small one makes a batch flush segments mid-write. */
  private[index] def upsertBuffered(spark: SparkSession, store: String,
                                    updates: DataFrame,
                                    mergePolicy: SegmentIndex.MergePolicy,
                                    retainGenerations: Int,
                                    maxBufferedDocs: Int): Unit = {
    val conf0 = ShardIndex.hadoopConf(spark)
    val marker = readMarker(conf0, store)
    val idCol = marker.idCol
    val splits = math.max(1, marker.parts / marker.shards)
    require(updates.columns.contains(idCol), s"updates must carry id column '$idCol'")
    // same-batch duplicate ids are still refused loudly, but the check
    // rides the write pass itself instead of a dedicated groupBy-count
    // shuffle job per upsert (r17 optimization: duplicates of an id
    // route to the same micro-shard, where the writer's own id set
    // detects them for free; the driver unwraps the task failure back
    // to the contract's IllegalArgumentException below)
    val routed = ShardIndex.routedForWrite(updates, idCol, marker.shards, splits,
      dedupOrder = None, rejectConflicts = false,
      routerOpt = Some(marker.router), keepMs = true)
      .drop("shard")
      .sortWithinPartitions(col("__ms"), col(idCol).desc)
    val schema = routed.schema
    val msIdx = schema.fieldIndex("__ms")
    val idIdx = schema.fieldIndex(idCol)
    // numeric kinds come from the MARKER (the store's schema record),
    // so a delta re-encodes exactly as the original write did
    val fields: Array[(String, Int, Boolean, Char)] = schema.fields.zipWithIndex
      .filter(_._1.name != "__ms")
      .map { case (f, i) =>
        val arr = f.dataType.isInstanceOf[ArrayType]
        (f.name, i, arr, if (arr) 's' else marker.kindOf(f.name))
      }
    val conf = new SerializableHadoopConf(conf0)
    val analyzedBc = marker.analyzed
    // STAGED write (r18, VERDICT_r17 item 4): tasks write tombstones +
    // segments + merges under staged commit names invisible to readers;
    // the driver publishes per part only after the WHOLE job succeeded.
    // A refused batch (the fused duplicate check below, or any task
    // failure) discards the staged commits and the files only they
    // reference — the store stays byte-identical to its pre-upsert
    // state, restoring the refusal atomicity the r16 pre-check job
    // provided, still without that extra shuffle job per upsert.
    val partsP = (0 until marker.parts).map(ms => indexDir(store, ms))
    def eachPartDir(f: org.apache.hadoop.fs.Path => Unit): Unit = {
      val fs = new Path(store).getFileSystem(conf0)
      partsP.foreach { d =>
        val p = new Path(d)
        if (fs.exists(p)) f(p)
      }
    }
    // crash residue from a previous driver that died between job
    // success and publish (or mid-discard) must not leak into THIS
    // batch's publication
    eachPartDir(SegmentIndex.discardStaged(new Path(store)
      .getFileSystem(conf0), _))
    // the duplicate check rides the write pass as a RETURNED FLAG, not
    // a task failure: a thrown task would make Spark kill its siblings
    // asynchronously, racing the driver's staged-state discard with
    // writers mid-file. With the flag, the collect() below is a full
    // barrier — every task has finished (and staged whatever it wrote)
    // before the driver decides to publish or discard, so the refusal
    // path is deterministic and byte-exact.
    val dupFlags =
      try {
        routed.rdd.mapPartitions { (rows: Iterator[Row]) =>
          var cur = -1
          var w: SegmentIndex.Writer = null
          var dup = false
          val ids = scala.collection.mutable.HashSet.empty[String]
          def flush(): Unit = if (w != null) {
            w.deleteDocumentsBatch(idCol, ids.toSet)
            w.close() // stages tombstones + the new segment together
            // steady-state counter-force: each batch leaves one fresh
            // segment per touched part — tiered merge folds over-full
            // tiers so month-long ingest stays at O(log docs) segments
            w.maybeMerge(mergePolicy)
            ids.clear()
          }
          rows.takeWhile(_ => !dup).foreach { row =>
            val ms = row.getInt(msIdx)
            if (ms != cur) {
              flush()
              val dir = new Path(indexDir(store, ms))
              w = new SegmentIndex.Writer(dir.getFileSystem(conf.value), dir, analyzedBc,
                maxBufferedDocs = maxBufferedDocs, retainGenerations = retainGenerations,
                staged = true)
              cur = ms
            }
            if (!ids.add(render(row.get(idIdx)))) dup = true // stop: batch is refused
            else w.addDocument(docOf(row, fields))
          }
          // a refused partition abandons its tail un-staged, and deletes
          // the segments its writer flushed past maxBufferedDocs: no
          // commit, live or staged, references them
          if (!dup) flush() else w.abort()
          Iterator.single(dup)
        }.collect()
      } catch {
        case e: Throwable =>
          // a genuinely failed job (I/O, OOM — not the duplicate path)
          // still discards whatever landed; late writes of killed tasks
          // are unreferenced staged files the next upsert's pre-sweep
          // also clears
          eachPartDir(SegmentIndex.discardStaged(new Path(store)
            .getFileSystem(conf0), _))
          throw e
      }
    if (dupFlags.exists(identity)) {
      // refusal: drop every staged commit and the files only they
      // reference — the store is byte-identical to its pre-upsert
      // state (spec-locked in SegmentIndexSpec)
      eachPartDir(SegmentIndex.discardStaged(new Path(store)
        .getFileSystem(conf0), _))
      throw new IllegalArgumentException(
        s"duplicate $idCol values in upsert batch")
    }
    // the job succeeded whole: publish every part's staged commits
    // (driver-side renames, bounded by the store's part count — the
    // same driver-side per-part discipline mergeTree's renumbering
    // already uses), then the deferred retention reclaim runs per
    // published part
    eachPartDir(SegmentIndex.publishStaged(new Path(store)
      .getFileSystem(conf0), _, retainGenerations))
  }

  private[graft] case class StoreMarker(shards: Int, parts: Int, idCol: String,
                                        analyzed: Set[String],
                                        columns: Seq[String],
                                        multivalued: Set[String],
                                        routingBits: Int,
                                        ranges: Option[Seq[(Int, Int)]],
                                        numericLong: Set[String] = Set.empty,
                                        numericDouble: Set[String] = Set.empty,
                                        numericTs: Set[String] = Set.empty,
                                        numericDate: Set[String] = Set.empty,
                                        numericTsNtz: Set[String] = Set.empty) {
    /** The store's routing, reconstructed — identical to what write() used. */
    def router: HashRangeRouter = HashRangeRouter(shards, routingBits, ranges)
    /** Numeric-term kind per field ('l'/'d'/'t'/'a'/'s') — the
      * typed-field record (Solr plong/pdouble/pdate analog). */
    def kindOf(field: String): Char =
      if (numericLong.contains(field)) 'l'
      else if (numericDouble.contains(field)) 'd'
      else if (numericTs.contains(field)) 't'
      else if (numericDate.contains(field)) 'a'
      else if (numericTsNtz.contains(field)) 'u'
      else 's'
  }

  private[graft] def readMarker(conf: org.apache.hadoop.conf.Configuration,
                                store: String): StoreMarker = {
    val p = new Path(store, "_graft_segment_commit.json")
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"no store marker at $p")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def intOf(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(throw new IllegalStateException(s"marker missing $k"))
    val id = """"id_column":"([^"]*)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse(throw new IllegalStateException("marker missing id_column"))
    def strSet(k: String): Set[String] = (raw""""$k":\[(.*?)\]""").r.findFirstMatchIn(txt) match {
      case Some(m) if m.group(1).nonEmpty =>
        m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet
      case _ => Set.empty[String]
    }
    val cols = ("\"columns\":\\[(.*?)\\]").r.findFirstMatchIn(txt) match {
      case Some(m) if m.group(1).nonEmpty =>
        m.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
      case _ => Nil
    }
    val bits = """"routing_bits":(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(16)
    val ranges = """"ranges":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
      .map(_.split(",").toSeq.map { pair =>
        val Array(a, b) = pair.split(":"); (a.toInt, b.toInt)
      })
    StoreMarker(intOf("shards"), intOf("parts"), id, strSet("analyzed"),
      cols, strSet("multivalued"), bits, ranges,
      numericLong = strSet("numeric_long"),
      numericDouble = strSet("numeric_double"),
      numericTs = strSet("numeric_ts"),
      numericDate = strSet("numeric_date"),
      numericTsNtz = strSet("numeric_ts_ntz"))
  }

  /** Stored-field inventory from the store marker (written by
    * [[write]]); empty for a pre-columns-marker store. */
  private[index] def storedColumns(conf: org.apache.hadoop.conf.Configuration,
                                   store: String): Seq[String] = {
    val p = new Path(store, "_graft_segment_commit.json")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    "\"columns\":\\[(.*?)\\]".r.findFirstMatchIn(txt) match {
      case Some(m) if m.group(1).nonEmpty =>
        m.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
      case _ => Nil
    }
  }

  /** part-NNNNN dirs under a store, ascending. */
  private[graft] def partIndexDirs(spark: SparkSession, store: String): Seq[String] =
    partDirs(spark, store)

  private def partDirs(spark: SparkSession, store: String): Seq[String] = {
    val root = new Path(store)
    val fs = root.getFileSystem(ShardIndex.hadoopConf(spark))
    if (!fs.exists(root)) Nil
    else fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.matches("part-\\d+"))
      .map(_.getPath.getName).sorted
      .map(name => s"$store/$name/data/index")
  }

  /**
   * MTree merge (M1): collapse `parts` micro-shard indexes down to
   * `shards` final ones with `fanout` sources per target per round —
   * `log_fanout(parts/shards)` rounds, each target a single task
   * calling the logical `addIndexes` (segment-file copy, no rewrite).
   * Afterwards the store's part dirs are renumbered part-00000 …
   * part-(shards-1) (X5 renumbering, `MapReduceIndexerTool.java:
   * 1168-1250`). Requires `parts = shards * fanout^N`
   * (`ShardIndex.mtreeIterations` — the reference's own invariant).
   */
  def mergeTree(spark: SparkSession, store: String, shards: Int, fanout: Int): Unit = {
    var current = partDirs(spark, store)
    require(current.nonEmpty, s"no part dirs under $store")
    ShardIndex.mtreeIterations(current.size, shards, fanout) // validates invariant
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    // addIndexes MATERIALIZES source segments that carry tombstones —
    // that path rewrites postings, so the analyzer must ride along
    val analyzed = markerAnalyzed(spark, store)
    var round = 0
    while (current.size > shards) {
      val groups = current.grouped(fanout).toSeq
      val targets = groups.indices.map(i => f"$store/mtree-$round/part-$i%05d/data/index")
      spark.sparkContext.parallelize(groups.zip(targets), groups.size)
        .foreach { case (group, target) =>
          val dir = new Path(target)
          val w = new SegmentIndex.Writer(dir.getFileSystem(conf.value), dir, analyzed)
          w.addIndexes(group.map(new Path(_)))
          w.commit()
        }
      current = targets
      round += 1
    }
    // X5: publish merge output as the store's final part-NNNNN dirs
    val fs = new Path(store).getFileSystem(ShardIndex.hadoopConf(spark))
    if (round > 0) {
      fs.listStatus(new Path(store))
        .filter(s => s.isDirectory && s.getPath.getName.matches("part-\\d+"))
        .foreach(s => fs.delete(s.getPath, true))
      current.zipWithIndex.foreach { case (dir, i) =>
        // dir = store/mtree-K/part-i/data/index; move its part dir up
        val src = new Path(dir).getParent.getParent
        fs.rename(src, new Path(store, f"part-$i%05d"))
      }
      (0 until round).foreach(r => fs.delete(new Path(store, s"mtree-$r"), true))
      // the store now has `shards` parts with 1 split each — rewrite the
      // marker so routing-derived consumers (upsert) target the merged
      // layout, not the pre-merge micro shards
      val m = readMarker(ShardIndex.hadoopConf(spark), store)
      writeMarker(store, shards, shards, m.idCol, m.columns, m.analyzed,
        m.multivalued, Some(m.router), spark)
    }
  }

  /** Incremental tiered merge over every part index, one task per
    * part ([[SegmentIndex.MergePolicy]] — the
    * `solrconfig_merge.xml:6-12` TieredMergePolicy parity path, run
    * automatically after each [[upsert]] batch and available here as
    * an explicit store-wide pass): folds over-full size tiers through
    * the cheap postings-level raw merge, bounding per-part segment
    * count at O(log docs) in steady state without [[optimize]]'s full
    * store rewrite. */
  def maybeMerge(spark: SparkSession, store: String,
                 policy: SegmentIndex.MergePolicy = SegmentIndex.MergePolicy(),
                 retainGenerations: Int = 1): Unit = {
    val dirs = partDirs(spark, store)
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    // the rewrite fallback (tombstoned victims) re-analyzes, so the
    // store's analyzer config rides along, same as optimize()
    val analyzed = markerAnalyzed(spark, store)
    spark.sparkContext.parallelize(dirs, math.max(1, dirs.size)).foreach { d =>
      val p = new Path(d)
      new SegmentIndex.Writer(p.getFileSystem(conf.value), p, analyzed,
        retainGenerations = retainGenerations).maybeMerge(policy)
      ()
    }
  }

  /** Segment optimize (M2): forceMerge every part index down to
    * `maxSegments` (default 1), one task per part. */
  def optimize(spark: SparkSession, store: String, maxSegments: Int = 1,
               retainGenerations: Int = 1): Unit = {
    val dirs = partDirs(spark, store)
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    // forceMerge REWRITES postings from stored docs, so the store's
    // analyzer config must ride along or analyzed fields would degrade
    // to exact-value postings after an optimize
    val analyzed = markerAnalyzed(spark, store)
    spark.sparkContext.parallelize(dirs, math.max(1, dirs.size)).foreach { d =>
      val p = new Path(d)
      new SegmentIndex.Writer(p.getFileSystem(conf.value), p, analyzed,
        retainGenerations = retainGenerations).forceMerge(maxSegments)
      ()
    }
  }

  /**
   * Solr SPLITSHARD: split one shard's hash range at its midpoint and
   * rewrite that shard's LIVE docs into two sub-shards — the
   * collection-scaling operation (a hot shard outgrows its node; Solr
   * splits it without touching the siblings). Exactly like Solr:
   * a single-shard operation — the other parts' files never move, the
   * rewrite runs as ONE data-local task, and the store publishes the
   * new topology by rewriting its marker with shards+1 and EXPLICIT
   * slice ranges (the same cluster-state ranges the router's X1
   * alignment path consumes), so upserts/deletes keep routing
   * correctly afterward. Docs re-index from their verbatim stored
   * values (analyzed fields re-analyze, typed encodings are stable).
   *
   * Directory protocol: the two halves build under dot-prefixed temp
   * dirs (invisible to partDirs), the parent drops, higher parts
   * shift up one name, the halves rename into place, and the MARKER
   * write is the publication point — a crash before it leaves a
   * mixed-name store that the next split attempt would refuse, never
   * a silently wrong router.
   */
  def splitShard(spark: SparkSession, store: String, shard: Int): Unit = {
    val conf = ShardIndex.hadoopConf(spark)
    val marker = readMarker(conf, store)
    require(marker.shards == marker.parts,
      s"splitShard needs one part per shard (shards=${marker.shards}, parts=${marker.parts})")
    require(shard >= 0 && shard < marker.shards,
      s"shard $shard out of range (0..${marker.shards - 1})")
    require(marker.kindOf(marker.idCol) == 's',
      "splitShard requires a string id column (routing re-hashes stored ids)")
    val router = marker.router
    val ranges = router.starts.zip(router.ends).toSeq
    val (lo, hi) = ranges(shard)
    require(lo < hi, s"shard $shard range [$lo, $hi] cannot split further")
    val mid = (lo.toLong + (hi.toLong - lo.toLong) / 2).toInt
    val srcDir = indexDir(store, shard)
    val tmp0 = s"$store/.split-$shard-0/data/index"
    val tmp1 = s"$store/.split-$shard-1/data/index"
    val sConf = new SerializableHadoopConf(conf)
    val idCol = marker.idCol
    val analyzed = marker.analyzed
    spark.sparkContext.parallelize(Seq(srcDir), 1).foreach { d =>
      val p = new Path(d)
      val reader = new SegmentIndex.Reader(p.getFileSystem(sConf.value), p)
      val w0 = SegmentIndex.writer(tmp0, sConf.value, analyzed)
      val w1 = SegmentIndex.writer(tmp1, sConf.value, analyzed)
      reader.allDocs().foreach { doc =>
        val id = SegmentIndex.firstValues(doc).getOrElse(idCol,
          throw new IllegalStateException(s"doc missing id column '$idCol'"))
        val h = graft.route.SolrHash.compositeHash(id)
        (if (h <= mid) w0 else w1).addDocument(doc)
      }
      w0.close(); w1.close()
      ()
    }
    val fs = new Path(store).getFileSystem(conf)
    fs.delete(new Path(store, f"part-$shard%05d"), true)
    var i = marker.parts - 1
    while (i > shard) {
      fs.rename(new Path(store, f"part-$i%05d"), new Path(store, f"part-${i + 1}%05d"))
      i -= 1
    }
    fs.rename(new Path(store, s".split-$shard-0"), new Path(store, f"part-$shard%05d"))
    fs.rename(new Path(store, s".split-$shard-1"), new Path(store, f"part-${shard + 1}%05d"))
    val newRanges =
      ranges.take(shard) ++ Seq((lo, mid), (mid + 1, hi)) ++ ranges.drop(shard + 1)
    writeMarker(store, marker.shards + 1, marker.parts + 1, idCol, marker.columns,
      marker.analyzed, marker.multivalued,
      Some(HashRangeRouter(marker.shards + 1, marker.routingBits, Some(newRanges))),
      spark,
      numericLong = marker.numericLong, numericDouble = marker.numericDouble,
      numericTs = marker.numericTs, numericDate = marker.numericDate,
      numericTsNtz = marker.numericTsNtz)
  }

  /** analyzer set from the marker; empty for raw SegmentIndex dirs
    * without a store marker (direct Writer users). */
  private def markerAnalyzed(spark: SparkSession, store: String): Set[String] = {
    val p = new Path(store, "_graft_segment_commit.json")
    val fs = p.getFileSystem(ShardIndex.hadoopConf(spark))
    if (fs.exists(p)) readMarker(ShardIndex.hadoopConf(spark), store).analyzed
    else Set.empty
  }

  /**
   * Distributed delete-by-term (Solr's `<delete><query>field:term
   * </query></delete>` exact-term case) across every part index: one
   * task per shard opens its writer, tombstones matching live docs,
   * and commits — the same single-writer-per-index discipline the
   * write path uses, with no data movement (tombstones only). Returns
   * the total number of newly deleted docs.
   */
  def deleteByTerm(spark: SparkSession, store: String, field: String, term: String): Long = {
    val dirs = partDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    // numeric fields index under the sortable encoding — the caller's
    // plain value must hit the encoded term
    val kind = readMarker(ShardIndex.hadoopConf(spark), store).kindOf(field)
    val t = if (kind == 's') term else renderKind(term, kind)
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    spark.sparkContext.parallelize(dirs, dirs.size).map { d =>
      val p = new Path(d)
      val w = new SegmentIndex.Writer(p.getFileSystem(conf.value), p)
      val n = w.deleteDocuments(field, t)
      if (n > 0) w.commit()
      n.toLong
    }.sum().toLong
  }

  /**
   * Distributed delete-by-query (Solr's `deleteByQuery` — the update
   * surface the reference delegates to the live cluster,
   * `SolrClientDocumentLoader.java` scope, here applied directly to
   * the store): compile `q` against the store's OWN schema and
   * analyzer config, resolve the matching ids through the DSv2 index
   * table — filter pushdown applies, so a `field:term` or
   * `field:[a TO b]` delete reads only its posting lists (and skips
   * zone-map-excluded segments) — route the ids with the store's own
   * router, and tombstone each shard in ONE batched postings pass.
   *
   * Scale shape: only the matching IDS shuffle (documents never
   * move), per-part work ∝ matches + one postings read per segment;
   * untouched parts never open a writer. Returns newly deleted docs
   * (0 when re-run — tombstoning is idempotent).
   */
  def deleteByQuery(spark: SparkSession, store: String, q: String): Long = {
    val conf0 = ShardIndex.hadoopConf(spark)
    val marker = readMarker(conf0, store)
    val idCol = marker.idCol
    val idx = spark.read.format("graft-index").load(store)
    val default = marker.analyzed.toSeq.sorted.headOption.getOrElse(idCol)
    val pred = graft.search.SolrQueryString.compile(q, idx.schema, default, marker.analyzed)
    val splits = math.max(1, marker.parts / marker.shards)
    val routed = ShardIndex.routedForWrite(idx.filter(pred).select(col(idCol)),
      idCol, marker.shards, splits, dedupOrder = None, rejectConflicts = false,
      routerOpt = Some(marker.router), keepMs = true)
      .drop("shard")
      .sortWithinPartitions(col("__ms"))
    val schema = routed.schema
    val msIdx = schema.fieldIndex("__ms")
    val idIdx = schema.fieldIndex(idCol)
    val conf = new SerializableHadoopConf(conf0)
    routed.rdd.mapPartitions { rows =>
      var cur = -1
      var w: SegmentIndex.Writer = null
      var deleted = 0L
      val ids = scala.collection.mutable.HashSet.empty[String]
      def flush(): Unit = if (w != null) {
        deleted += w.deleteDocumentsBatch(idCol, ids.toSet)
        w.commit()
        ids.clear()
      }
      rows.foreach { row =>
        val ms = row.getInt(msIdx)
        if (ms != cur) {
          flush()
          w = SegmentIndex.writer(indexDir(store, ms), conf.value)
          cur = ms
        }
        ids += render(row.get(idIdx))
      }
      flush()
      Iterator.single(deleted)
    }.sum().toLong
  }

  /**
   * Consistent store snapshot (the Solr backup API's replication
   * design): each part copies ONLY the files its LATEST COMMIT
   * references — `segments_N`, each live segment's `.fld`/`.trm`, and
   * the live `.del` generations — plus the store marker. Because
   * segment files are immutable and a commit is the single
   * publication point, a backup taken while a writer is mid-append
   * still captures a valid, openable index at the committed
   * generation (Lucene's snapshot-by-commit property). One task per
   * part; bytes move executor-side through Hadoop FS streams, never
   * the driver.
   */
  def backup(spark: SparkSession, store: String, dest: String): Unit = {
    val dirs = partDirs(spark, store)
    require(dirs.nonEmpty, s"no part dirs under $store")
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    spark.sparkContext.parallelize(dirs, dirs.size).foreach { d =>
      val src = new Path(d)
      val fs = src.getFileSystem(conf.value)
      val part = src.getParent.getParent.getName // part-NNNNN
      val dst = new Path(s"$dest/$part/data/index")
      fs.mkdirs(dst)
      SegmentIndex.latestCommit(fs, src).foreach { cp =>
        val files = Seq(s"segments_${cp.gen}") ++ cp.segments.flatMap { m =>
          Seq(s"${m.name}.fld", s"${m.name}.trm") ++
            Seq("fdx", "nrm", "dvd", "dvm").collect {
              case ext if fs.exists(new Path(src, s"${m.name}.$ext")) => s"${m.name}.$ext"
            } ++
            (if (m.delGen > 0) Seq(s"${m.name}_${m.delGen}.del") else Nil)
        }
        files.foreach { f =>
          val in = fs.open(new Path(src, f))
          val out = fs.create(new Path(dst, f), true)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536)
          finally { in.close(); out.close() }
        }
      }
    }
    // marker last: its presence marks the backup complete
    val fs = new Path(store).getFileSystem(ShardIndex.hadoopConf(spark))
    val mSrc = new Path(store, "_graft_segment_commit.json")
    if (fs.exists(mSrc)) {
      val in = fs.open(mSrc)
      val out = fs.create(new Path(dest, "_graft_segment_commit.json"), true)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536)
      finally { in.close(); out.close() }
    }
  }

  /** Restore a [[backup]] into `dest` (a fresh store path): the backup
    * holds exactly one commit per part, so restore is a plain
    * parallel copy. */
  def restore(spark: SparkSession, backupDir: String, dest: String): Unit = {
    val dirs = partDirs(spark, backupDir)
    require(dirs.nonEmpty, s"no part dirs under $backupDir (not a backup?)")
    val conf = new SerializableHadoopConf(ShardIndex.hadoopConf(spark))
    spark.sparkContext.parallelize(dirs, dirs.size).foreach { d =>
      val src = new Path(d)
      val fs = src.getFileSystem(conf.value)
      val part = src.getParent.getParent.getName
      val dst = new Path(s"$dest/$part/data/index")
      fs.mkdirs(dst)
      fs.listStatus(src).filter(_.isFile).foreach { st =>
        val in = fs.open(st.getPath)
        val out = fs.create(new Path(dst, st.getPath.getName), true)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536)
        finally { in.close(); out.close() }
      }
    }
    val fs = new Path(backupDir).getFileSystem(ShardIndex.hadoopConf(spark))
    val mSrc = new Path(backupDir, "_graft_segment_commit.json")
    if (fs.exists(mSrc)) {
      val in = fs.open(mSrc)
      val out = fs.create(new Path(dest, "_graft_segment_commit.json"), true)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536)
      finally { in.close(); out.close() }
    }
  }

  /** Per-part doc/segment counts — the `*:*` verification view
    * (SolrIndexDriverTest.java:54-61 shape) as a DataFrame. */
  def docCounts(spark: SparkSession, store: String): DataFrame = {
    import spark.implicits._
    val conf = ShardIndex.hadoopConf(spark)
    partDirs(spark, store).map { d =>
      val p = new Path(d)
      val cp = SegmentIndex.latestCommit(p.getFileSystem(conf), p)
        .getOrElse(throw new IllegalStateException(s"no commit in $d"))
      val part = p.getParent.getParent.getName
      (part, cp.numDocs.toLong, cp.segments.length.toLong)
    }.toDF("part", "docs", "segments").orderBy("part")
  }

  /**
   * Optimistic-concurrency upsert — Solr's `_version_` contract
   * (documented update semantics; the live-cluster behavior the
   * reference's go-live hands its documents to):
   *
   *   expected > 1  → the stored version must match EXACTLY
   *   expected == 1 → the doc must exist (any version)
   *   expected < 0  → the doc must NOT exist
   *   expected == 0 → no concurrency check
   *
   * Rows that fail their check are REJECTED (Solr's 409 conflict),
   * the rest apply through [[upsert]] with `newVersion` stamped into
   * the version column. Returns (applied, conflicts) — conflicts
   * carry the stored version (null = absent) for the caller's retry
   * loop.
   *
   * Scale shape: current versions come from an id-pushed index read
   * (delta-sized — the IN filter prunes to the owning posting lists),
   * joined to the batch on the id; the store itself never moves. The
   * check-then-write pair is batch-atomic per part exactly like
   * [[upsert]] (tombstones + new segment in one commit).
   */
  def conditionalUpsert(spark: SparkSession, store: String, updates: DataFrame,
                        versionCol: String, newVersion: Long): (DataFrame, DataFrame) = {
    val marker = readMarker(ShardIndex.hadoopConf(spark), store)
    val idCol = marker.idCol
    require(updates.columns.contains(versionCol),
      s"updates must carry expected-version column '$versionCol'")
    require(marker.columns.contains(versionCol),
      s"store has no version column '$versionCol'")
    val ids = updates.select(col(idCol)).distinct()
    val current = spark.read.format("graft-index").load(store)
      .select(col(idCol).as("__cid"), col(versionCol).as("__cur"))
      .join(ids, col("__cid") === col(idCol), "left_semi")
    val joined = updates
      .join(current, col(idCol) === col("__cid"), "left")
      .withColumn("__ok",
        when(col(versionCol) > 1L, col("__cur").isNotNull && col("__cur") === col(versionCol))
          .when(col(versionCol) === 1L, col("__cur").isNotNull)
          .when(col(versionCol) < 0L, col("__cur").isNull)
          .otherwise(lit(true)))
    val applied = joined.filter(col("__ok"))
      .drop("__cid", "__cur", "__ok")
      .withColumn(versionCol, lit(newVersion))
    val conflicts = joined.filter(!col("__ok"))
      .withColumnRenamed("__cur", "stored_version")
      .drop("__cid", "__ok")
    // both frames' lineage READS the store; after the write that
    // lineage would re-resolve against the NEW versions and silently
    // change the answer — localCheckpoint severs it (materialized
    // pre-write, exactly once)
    val appliedP = applied.cutLineage(true)
    val conflictsP = conflicts.cutLineage(true)
    if (!appliedP.isEmpty) upsert(spark, store, appliedP)
    (appliedP, conflictsP)
  }
}
