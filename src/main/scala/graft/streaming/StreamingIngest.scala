package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/**
 * Streaming ingest surface. The reference is pure batch (SURVEY.md
 * §2.9) — its closest analog is the per-task
 * beginTransaction/commitTransaction document-loader protocol
 * (DocumentLoader.java:36-60). The Spark-native engine gets continuous
 * index building for free: the same ETL/dedup/route column transforms
 * run under Structured Streaming, with `foreachBatch` playing the role
 * of `loadSolr` (each micro-batch = one reference mapper transaction).
 */
object StreamingIngest {

  /** Open a parquet directory as a stream (schema from the batch read). */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema).parquet(path)
  }

  /** Run a streaming query body with `spark.sql.shuffle.partitions`
    * bounded. The bound lives on a session of its own — `spark`'s
    * modifiable SQL settings copied into `spark.newSession()` — which
    * the body receives and must build its streams from; the caller's
    * session is never touched, so a concurrent leg planning on it
    * keeps its own partition count. AQE does not apply to streaming
    * plans, so the session's shuffle-partition count is the RAW number
    * of state store instances (plus their per-micro-batch
    * commit/snapshot I/O) and reduce tasks every trigger — a count
    * sized for batch scans multiplies fixed state-store overhead on
    * every micro-batch.
    * Spark pins a stateful query's partition count into its checkpoint
    * at first start, which is exactly why it must be chosen
    * deliberately rather than inherited from the batch default.
    * Production tuning: set `spark.graft.stream.statePartitions` to
    * the stream's peak-throughput task count; the default bounds the
    * batch setting at 8 (never raises it), which keeps tiny local
    * benches honest and is a sane floor for a single-box stream. */
  def withStatePartitions[T](spark: SparkSession)(body: SparkSession => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val n = spark.conf.getOption("spark.graft.stream.statePartitions")
      .map(_.toInt)
      .getOrElse(math.min(spark.conf.get(key).toInt, 8))
    val scoped = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (scoped.conf.isModifiable(k)) scoped.conf.set(k, v)
    }
    scoped.conf.set(key, n.toString)
    body(scoped)
  }

  /**
   * Watermarked tumbling-window aggregation — the canonical streaming
   * shape: event-time windows, late data bounded by the watermark, and
   * partial aggregation before the shuffle.
   */
  def windowedCounts(events: DataFrame, tsCol: String = "ts",
                     window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /**
   * Micro-batch sink in the reference's transactional-loader shape:
   * each batch is routed/deduped with the SAME batch operators and
   * appended to the shard store — begin/commit per batch like
   * MorphlineMapRunner's per-task transaction (MorphlineMapRunner
   * .java:169,257-260).
   */
  def indexSink(out: String)(transform: DataFrame => DataFrame)
               (events: DataFrame): DataStreamWriter[Row] =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        transform(batch).write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow())

  /**
   * Continuous ANN-index maintenance: each micro-batch of vectors
   * encodes against the store's FROZEN quantizers and appends to its
   * touched cell partitions ([[graft.ops.IvfIndex.add]] — the FAISS
   * `add` contract under a stream), with the per-batch compaction
   * counter-force bounding files-per-cell regardless of how many
   * batches land. Batch-boundary invariant: assignment is per-row
   * against frozen centroids and appends commute, so query answers
   * depend only on the SET of streamed vectors, never on how the
   * stream chopped them (q300 hash-checks the result against the
   * batch oracle). The corpus-store pairing: q268's dedup-ingest keeps
   * the document store canonical while this sink keeps its ANN index
   * fresh — [[graft.ops.IvfIndex.removeIds]] follows the deletes.
   *
   * Exactly-once under replay: each micro-batch applies through
   * [[graft.ops.CellStore.addBatch]] — an `_ann_batch_<stream>_<id>`
   * marker skips a batch that already fully applied, and a batch that
   * crashed mid-append reruns delete-output-first against its own
   * batch-keyed cell files, so a Structured-Streaming retry never
   * duplicates vectors (a duplicate row would otherwise occupy a
   * top-k rank slot and displace a true neighbor). REQUIRES a stable
   * `checkpointLocation` (same contract as [[segmentUpsertSink]])
   * plus `streamId`, a stable identifier UNIQUE PER (store,
   * checkpoint) — the checkpoint path itself is the natural choice.
   * The markers are durable in the store while Structured Streaming
   * batch ids are checkpoint-scoped: the streamId namespaces them, so
   * a relaunch under a NEW checkpoint (batch ids restart at 0) or a
   * second stream into the same store can never have its fresh data
   * silently skipped as a "replay" of another stream's batches.
   */
  def annIngestSink(store: String, streamId: String,
                    maxFilesPerCell: Int = 8,
                    hnswFoldThreshold: Long = 100000L)
                   (vectors: DataFrame): DataStreamWriter[Row] =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        annIngestBatch(batch.sparkSession, store, batch, batchId, streamId,
          maxFilesPerCell, hnswFoldThreshold)
        ()
      }
      .trigger(Trigger.AvailableNow())

  /** ONE micro-batch of the ANN ingest sink — the tier DISPATCH
    * itself, factored out so the lifecycle fuzz can drive the public
    * seam (marker routing) directly: an HNSW store takes the batch
    * into its DELTA tier (Lucene NRT — appending to the graph itself
    * would be insertion-order-dependent), folding past
    * `hnswFoldThreshold` rows; every cell store (IVF, IVF-PQ, SQ8,
    * MRL, binary IVF) takes the shared exactly-once batch of its
    * registry codec; any other path is refused by name. Returns true
    * if the batch applied, false on a replay skip. */
  def annIngestBatch(spark: org.apache.spark.sql.SparkSession,
                     store: String, batch: DataFrame, batchId: Long,
                     streamId: String, maxFilesPerCell: Int = 8,
                     hnswFoldThreshold: Long = 100000L): Boolean =
    if (graft.ops.HnswIndex.isHnswStore(spark, store))
      graft.ops.HnswIndex.addBatchDelta(spark, store, batch, batchId,
        streamId, hnswFoldThreshold)
    else graft.ops.CellStore(spark, store).addBatch(spark, store, batch,
      batchId, maxFilesPerCell, streamId)

  /**
   * Streaming exact dedup with BOUNDED state:
   * `dropDuplicatesWithinWatermark` keeps a key's state only until
   * the watermark passes it — the streaming form of L1's exact dedup
   * that does not grow state forever (a bare dropDuplicates on an
   * unbounded stream is the state-explosion bug; the watermark bound
   * is what survives a month-long ingest).
   */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           tsCol: String = "ts",
                           watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /**
   * Stream-static enrichment join: each micro-batch hash-joins the
   * static dimension frame — Catalyst broadcasts it when it fits
   * under the auto-broadcast threshold and falls back to a shuffled
   * join otherwise (no forced hint: a multi-GB dimension must not be
   * rammed through the driver every trigger). The dimension is
   * re-resolvable per batch, so a refreshed dimension table picks up
   * on the next trigger — the standard streaming-enrichment contract.
   */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /**
   * Exactly-once index sink: each micro-batch overwrites its OWN
   * `batch=<id>` subdirectory, so a batch replayed after a crash (or a
   * restart that re-runs the last uncommitted batch) lands on the same
   * path instead of appending duplicates — the streaming analog of the
   * reference's task-commit idempotence (a rerun reducer rewrites its
   * own part dir: MorphlineMapRunner.java:169,257-260 transaction per
   * task + delete-output-first rerun semantics). Pair with a
   * checkpointLocation; read the store back with `spark.read.parquet(
   * out)` (the batch= partition column is pruned away by consumers
   * selecting data columns).
   */
  def idempotentIndexSink(out: String)(transform: DataFrame => DataFrame)
                         (events: DataFrame): DataStreamWriter[Row] =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        transform(batch).write.mode("overwrite").parquet(s"$out/batch=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())

  /**
   * Streaming incremental indexing: each micro-batch UPSERTS into a
   * live [[graft.index.SegmentShardSink]] store (deleteById + add,
   * routed with the store's own routing) — continuous index
   * maintenance, the operation a reference user performs by sending
   * update batches to the live cluster.
   *
   * Exactly-once: an `_applied_batch_<id>` marker under the store
   * skips a batch that already fully applied; a crash BETWEEN the
   * upsert and the marker write replays the batch, which is safe
   * because upserting the same delta twice is a semantic no-op
   * (delete-then-add of identical ids/docs) — provided `transform` is
   * deterministic, the same discipline the reference's rerun-a-reducer
   * idempotence relies on.
   *
   * REQUIRES a stable `checkpointLocation` on the started query (same
   * as [[idempotentIndexSink]]): the `_applied_batch_<id>` markers are
   * durable in the store while batch ids are CHECKPOINT-scoped — a
   * relaunch without the original checkpoint restarts ids at 0 and the
   * stale markers would silently skip every new batch.
   */
  def segmentUpsertSink(store: String)(transform: DataFrame => DataFrame)
                       (events: DataFrame): DataStreamWriter[Row] =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.hadoop.fs.Path
        val spark = batch.sparkSession
        val marker = new Path(store, s"_applied_batch_$batchId")
        val fs = marker.getFileSystem(
          graft.index.ShardIndex.hadoopConf(spark))
        if (!fs.exists(marker)) {
          graft.index.SegmentShardSink.upsert(spark, store, transform(batch))
          fs.create(marker, true).close()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())

  /**
   * Streaming LIVE-SOLR ingest — the literal `loadSolr ≙
   * writeStream.foreachBatch` completion: each micro-batch streams
   * through [[graft.index.LiveSolrSink]] (router-aligned repartition,
   * concurrent batched JSON updates) into the live shard leaders, and
   * the cluster-wide commit runs per batch AFTER that batch's job
   * barrier — exactly the reference loader's
   * beginTransaction/load.../commitTransaction cadence
   * (SolrClientDocumentLoader.java:58-88), one transaction per
   * micro-batch instead of one per mapper. Replayed batches re-send
   * their documents; Solr-protocol updates are idempotent upserts by
   * unique key, the same at-least-once-delivery contract the
   * reference's speculative mappers rely on.
   */
  def liveSolrSink(targets: Seq[String], idCol: String,
                   batchSize: Int = 100)
                  (transform: DataFrame => DataFrame)
                  (docs: DataFrame): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.index.LiveSolrSink.write(
          transform(batch), idCol, targets, batchSize = batchSize)
        ()
      }
      .trigger(Trigger.AvailableNow())

  /**
   * Streaming corpus ingest with INCREMENTAL DEDUP STATE (L117 over a
   * stream): per micro-batch —
   *
   *   1. drop docs whose content fingerprint exists in the COMMITTED
   *      state (fingerprint dirs of batches < this one);
   *   2. exact-dedup within the batch (keep min id);
   *   3. write survivors to `out/batch=<id>` (idempotent overwrite);
   *   4. write the survivors' fingerprints to `state/batch=<id>`
   *      (same batch-keyed idempotence).
   *
   * Replay safety: a crashed batch reruns against the same committed
   * prefix — its own partially-written dirs are overwritten, never
   * read (the `< batchId` filter), so the admitted set is a pure
   * function of (committed state, batch contents): exactly-once
   * corpus growth with cross-batch dedup. Fingerprints are the only
   * cross-batch state — documents never re-read. This is the
   * streaming form of [[graft.dedup.Dedup.dropExactAgainst]]; swap
   * stage 1-2 for the near-dup pair ([[graft.ops.ApproxDedup
   * .signatureTable]] state) for fuzzy growth.
   */
  def dedupIngestSink(out: String, stateDir: String,
                      idCol: String, textCol: String)
                     (docs: DataFrame): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.hadoop.fs.Path
        val spark = batch.sparkSession
        val statePath = new Path(stateDir)
        val fs = statePath.getFileSystem(
          graft.index.ShardIndex.hadoopConf(spark))
        val committed =
          if (!fs.exists(statePath)) Array.empty[String]
          else fs.listStatus(statePath).map(_.getPath)
            .filter { p =>
              p.getName.startsWith("batch=") &&
                p.getName.stripPrefix("batch=").toLong < batchId
            }.map(_.toString)
        val known =
          if (committed.isEmpty)
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField(
                  "fp", org.apache.spark.sql.types.StringType))))
          else spark.read.parquet(committed.toIndexedSeq: _*)
        val fresh = graft.dedup.Dedup.dropExactAgainst(
          batch, org.apache.spark.sql.functions.col(textCol), known)
        val kept = graft.dedup.Dedup.exactByContent(fresh,
          org.apache.spark.sql.functions.col(textCol),
          org.apache.spark.sql.functions.col(idCol))
        kept.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        // fingerprints from the JUST-WRITTEN survivors, not from
        // `kept`'s lineage: the second write used to recompute the
        // whole anti-join + window per batch (guide §1.2 — don't
        // compute things twice); the read-back is survivor-sized,
        // byte-identical rows by construction
        graft.dedup.Dedup.contentFingerprints(
            spark.read.parquet(s"$out/batch=$batchId"),
            org.apache.spark.sql.functions.col(textCol))
          .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())

  /**
   * Stateful gap-based sessionization over a stream —
   * `flatMapGroupsWithState` with an event-time timeout: per-user
   * state holds (sessionStart, lastSeen, count); a session row is
   * emitted when the watermark passes lastSeen + gap. The custom-state
   * path the batch window operator (SparkEntry q15) cannot express
   * incrementally.
   */
  case class SessionState(start: Long, last: Long, count: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long)

  def sessionizeStream(events: DataFrame, gapSeconds: Long = 1800,
                       watermark: String = "2 hours"): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // the watermark tag lives on the ts attribute — it must survive
    // untouched into the grouping (casting it away = "no watermark")
    val typed = events.withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rawRows, state: GroupState[SessionState]) =>
          val rows = rawRows.map { case (u, t) => (u, t.getTime / 1000) }
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user,
              new java.sql.Timestamp(s.start * 1000),
              new java.sql.Timestamp(s.last * 1000), s.count))
          } else {
            val secs = rows.map(_._2).toSeq.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            secs.foreach { sec =>
              cur match {
                case Some(s) if sec - s.last <= gapSeconds =>
                  // a LATE in-watermark event (sec < s.last, possible
                  // across batches) must widen the session, never
                  // rewind it — last monotone, start can only move back
                  cur = Some(s.copy(start = math.min(s.start, sec),
                    last = math.max(s.last, sec), count = s.count + 1))
                case Some(s) =>
                  closed ::= SessionOut(user,
                    new java.sql.Timestamp(s.start * 1000),
                    new java.sql.Timestamp(s.last * 1000), s.count)
                  cur = Some(SessionState(sec, sec, 1))
                case None =>
                  cur = Some(SessionState(sec, sec, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapSeconds) * 1000)
            }
            closed.reverseIterator
          }
      }
  }
}
