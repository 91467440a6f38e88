package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** A store marker: the flat JSON object of integers and strings
  * every cell-store codec writes at its generation root (`dim`, `eff`,
  * `seed`, `idCol`, `vecCol` plus codec keys such as
  * `m`/`ksub`/`prefixDim`), and the HNSW, token and LSH stores at
  * their roots. [[json]] renders the fields in declaration order,
  * byte-for-byte the layout the stores have always written. */
final case class CellMarker(fields: Seq[(String, Any)]) {
  def str(k: String): String = fields.collectFirst { case (`k`, v) => v.toString }
    .getOrElse(throw new NoSuchElementException(s"store marker has no '$k'"))
  def int(k: String): Int = str(k).toInt
  def dim: Int = int("dim")
  def eff: Int = int("eff")
  def seed: Long = str("seed").toLong
  def idCol: String = str("idCol")
  def vecCol: String = str("vecCol")
  def json: String = fields.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")
}

object CellMarker {
  private val Field = """"(\w+)":(?:(-?\d+)|"([^"]*)")""".r

  def of(fields: (String, Any)*): CellMarker = CellMarker(fields)

  def parse(txt: String): CellMarker = CellMarker(Field.findAllMatchIn(txt)
    .map(m => m.group(1) -> (if (m.group(2) != null) m.group(2).toLong else m.group(3)))
    .toSeq)
}

/**
 * The CELL-STORE lifecycle, written once for the five cell-partitioned
 * ANN codecs — [[IvfIndex]] (raw vectors), [[IvfPqIndex]] (product
 * codes + optional raw refine sidecar), [[Sq8Index]] (int8 codes),
 * [[MrlIndex]] (prefix cells + full-dim sidecar) and [[BinaryIvfIndex]]
 * (packed sign codes). Each tier object extends this class and
 * inherits every lifecycle method; the tier itself is only a codec.
 *
 * On-disk layout of a store `out`:
 *  - `_gen_N` files at the root name the current GENERATION; its data
 *    root is `out` (N = 0, the build layout) or `out/gN` — a retrain
 *    writes a complete new generation and the single `_gen_N` creation
 *    is the atomic swap (the `segments_N` commit precedent);
 *  - at the data root: the codec's marker file, its quantizer dirs
 *    (write-once per generation) and its data subdirs, each written
 *    `partitionBy(cell)` — one directory per inverted list;
 *  - at the store root: `deletes/` (tombstones) with the `_tombcount`
 *    cache, `_ann_batch_*` streamed-batch markers, and pins — a
 *    `_pin_N` marker plus `.pin_N/` holding each subdir's file list
 *    (`files` for `cells/`, `files_<subdir>` otherwise) and the
 *    tombstone snapshot.
 *
 * A codec supplies: its marker file, data subdirs and quantizer dirs
 * (constructor); the quantizer load; `encode` — a vector frame into
 * (subdir, frame keyed by `cell`) pairs under the frozen quantizers;
 * the probe-space column and probe ranking; its candidate score and
 * refine step (the tier's query bodies, over a [[View]] and a
 * [[Probe]]); and how it serves a parsed `{!knn}` request.
 */
abstract class CellStore(val markerFile: String, tier: String,
                         val subdirs: Seq[String],
                         val quantizerDirs: Seq[String]) {
  import CellStore._

  /** The codec's frozen quantizers, loaded driver-side. */
  type Quantizer
  protected def loadQuantizer(conf: Configuration, root: String,
                              m: CellMarker): Quantizer
  /** Encode vectors under the frozen quantizers: (subdir, frame with a
    * `cell` column) pairs, in write order. */
  protected def encode(vectors: DataFrame, m: CellMarker,
                       q: Quantizer): Seq[(String, DataFrame)]
  /** The query-frame column the probe ranks cells by. */
  protected def probeCol: String
  /** Per query: the `nprobe` nearest cells of a probe-space value. */
  protected def probeCells(q: Quantizer,
                           nprobe: Int): scala.collection.Seq[Any] => Array[Int]
  /** Serve a validated `{!knn}` request frame (query_id, rank,
    * corpus_id) — or refuse when the tier cannot serve one alone. */
  protected def serve(spark: SparkSession, out: String, queries: => DataFrame,
                      k: Int, nprobe: Int, rerank: Int,
                      allowed: Option[DataFrame]): DataFrame
  /** The stored corpus-id type, applied to tombstone and allowed ids. */
  protected def corpusId(c: Column): Column = c

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ----- generations --------------------------------------------------

  /** Current generation: max N over the root's `_gen_N` files (0 = the
    * build layout). */
  private def generation(fs: FileSystem, out: String): Int =
    numbered(fs, out, "_gen_").foldLeft(0)(math.max)

  /** Root of the CURRENT generation's marker, quantizers and data
    * subdirs. Tombstones, batch markers and pins stay at the store
    * root: a batch committed before a retrain is folded into the new
    * generation, so its replay must still be a no-op. */
  private[ops] def dataRoot(spark: SparkSession, out: String): String = {
    val g = generation(fsOf(spark, out), out)
    if (g == 0) out else s"$out/g$g"
  }

  /** Drop superseded generations, keeping the newest `retain` (the
    * in-flight reader window) and every pinned one — marker first, so
    * a crash between the deletes leaves a never-resolved dir. The
    * build layout (gen 0) is never reclaimed. Returns generations
    * removed. */
  def reclaimGenerations(spark: SparkSession, out: String,
                         retain: Int = 1): Int = {
    require(retain >= 1, "the current generation cannot be reclaimed")
    val fs = fsOf(spark, out)
    val pinned = pins(fs, out)
    val removed = numbered(fs, out, "_gen_").sorted.dropRight(retain)
      .filterNot(pinned)
    removed.foreach { g =>
      fs.delete(new Path(s"$out/_gen_$g"), false)
      fs.delete(new Path(s"$out/g$g"), true)
    }
    removed.size
  }

  /** Registry probe: does `out` carry this codec's marker? */
  private[ops] def isStore(spark: SparkSession, out: String): Boolean =
    fsOf(spark, out).exists(new Path(s"${dataRoot(spark, out)}/$markerFile"))

  /** Write one complete generation under `root`: the encoded subdirs,
    * then the marker (quantizer dirs are the codec's, written first). */
  protected def commitStore(root: String, m: CellMarker,
                            frames: Seq[(String, DataFrame)]): Unit = {
    frames.foreach { case (sub, f) =>
      f.write.mode("overwrite").partitionBy("cell").parquet(s"$root/$sub")
    }
    graft.util.FsIo.writeSmallFile(frames.head._2.sparkSession.sparkContext
      .hadoopConfiguration, s"$root/$markerFile", m.json)
  }

  /** RETRAIN COMMIT: recover, read the live corpus (store + adds −
    * deletes) from `source` as (idCol, vecCol), let `write` lay a
    * complete generation under `out/g(N+1)`, commit it with one
    * `_gen_(N+1)` creation, then clear the folded-in tombstones and
    * their count cache. Committed batch markers stay. Returns the new
    * generation. */
  protected def retrainFrom(spark: SparkSession, out: String, source: String)
                           (write: (CellMarker, DataFrame, String) => Unit): Int = {
    recoverStore(spark, out)
    val fs = fsOf(spark, out)
    val g = generation(fs, out)
    val v = live(spark, out)
    val corpus = exceptDeleted(spark, out,
        spark.read.parquet(s"${v.root}/$source"))
      .select(col("corpus_id").as(v.marker.idCol), col("cvec").as(v.marker.vecCol))
    val newRoot = s"$out/g${g + 1}"
    fs.delete(new Path(newRoot), true) // crashed attempt
    write(v.marker, corpus, newRoot)
    fs.create(new Path(s"$out/_gen_${g + 1}"), true).close()
    fs.delete(new Path(deletesPath(out)), true)
    AnnTombstones.clearCount(spark, out)
    g + 1
  }

  // ----- reads: one body for the live store and a pinned snapshot -----

  /** Where a read resolves — the live generation (`pin = None`) or a
    * pin's recorded state: marker, quantizers, subdir file sets and
    * tombstones all come from the same place. */
  private[ops] final class View(val spark: SparkSession, val out: String,
                                pin: Option[Int]) {
    private def conf = spark.sparkContext.hadoopConfiguration
    val root: String = pin.fold(dataRoot(spark, out))(pinnedRootOf(out, _))
    lazy val marker: CellMarker = CellMarker.parse(
      graft.util.FsIo.readSmallFile(conf, s"$root/$markerFile"))
    lazy val quantizer: Quantizer = loadQuantizer(conf, root, marker)

    /** One data subdir, partition-pruned to the probed cells. */
    def frame(sub: String, probed: Seq[Int]): DataFrame =
      pin.fold(readCells(spark, s"$root/$sub"))(pinnedSubdirFrame(spark, out, _, sub))
        .filter(col("cell").isin(probed.map(Int.box): _*))

    /** [[frame]] with the tombstones anti-joined out and the
      * FILTERED-SEARCH `allowed` ids (first column) semi-joined in —
      * both after probe pruning, so their left side is the probed
      * mass only. */
    def cells(sub: String, probed: Seq[Int],
              allowed: Option[DataFrame]): DataFrame = {
      val f = frame(sub, probed)
      val kept = pin.fold(exceptDeleted(spark, out, f))(pinnedTombAnti(spark, out, _)(f))
      allowed.fold(kept)(a => kept.join(
        a.select(corpusId(col(a.columns.head)).as("corpus_id")),
        Seq("corpus_id"), "left_semi"))
    }
  }

  private[ops] def live(spark: SparkSession, out: String): View =
    new View(spark, out, None)

  private[ops] def pinned(spark: SparkSession, out: String, token: Int): View = {
    requirePin(spark, out, token)
    new View(spark, out, Some(token))
  }

  /** A probed query batch: the batch as a LocalRelation, the same rows
    * exploded per probed cell (a `cell` column appended) — kept as
    * `rows` too — the distinct probed cells (the partition-pruning
    * literals) and the batch size, which sizes the top-n merge. */
  private[ops] final class Probe(val local: DataFrame, val byCell: DataFrame,
                                 val rows: Seq[Row], val cells: IndexedSeq[Int],
                                 val size: Int)

  /** THE driver-side probe: one bounded collect of the (broadcast-small
    * by contract) query batch, probe cells ranked on the driver, and
    * the query side rebuilt as LocalRelations — no probe job, and
    * every downstream broadcast of the query side ships the driver's
    * rows without a job ([[LocalBroadcast]]). A null probe value
    * probes nothing. */
  private[ops] def probe(v: View, q0: DataFrame, nprobe: Int): Probe = {
    val rows = collectBatch(q0).toSeq
    val i = q0.schema.fieldIndex(probeCol)
    val cellsOf = probeCells(v.quantizer, nprobe)
    val per = rows.map(r => if (r.isNullAt(i)) Array.empty[Int] else cellsOf(r.getSeq[Any](i)))
    val byCell = rows.zip(per).flatMap { case (r, cs) => cs.map(c => Row.fromSeq(r.toSeq :+ c)) }
    new Probe(localFrame(q0.sparkSession, rows, q0.schema),
      localFrame(q0.sparkSession, byCell, q0.schema.add("cell", IntegerType, nullable = false)),
      byCell, per.flatten.distinct.toIndexedSeq, rows.size)
  }

  /** The probed scan every candidate score starts from: the subdir's
    * probed, tombstone-filtered, allowed-restricted rows joined to the
    * broadcast query side on `cell` (columns `qCols`), self-matches
    * dropped. */
  protected def scan(v: View, sub: String, p: Probe,
                     allowed: Option[DataFrame], qCols: String*): DataFrame =
    v.cells(sub, p.cells, allowed)
      .join(broadcast(p.byCell.select(("query_id" +: qCols :+ "cell").map(col): _*)),
        Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))

  /** Parse-side `{!knn}` serving: validates the request field and dims
    * against the marker, builds the query frame, serves it through the
    * codec. Output (query_id, rank, corpus_id). */
  private[graft] def queryVectors(spark: SparkSession, out: String,
      vectors: Seq[(Long, Array[Double])], k: Int, nprobe: Int, rerank: Int,
      allowed: Option[DataFrame], field: Option[String]): DataFrame =
    serve(spark, out, {
      val m = live(spark, out).marker
      field.foreach(f => require(f == m.vecCol,
        s"request field '$f' does not match the store's vector column " +
          s"'${m.vecCol}' ($out)"))
      vectors.foreach { case (id, v) => require(v.length == m.dim,
        s"query $id has dim ${v.length}, store expects ${m.dim}") }
      import spark.implicits._
      vectors.map { case (id, v) => (id, v.toSeq) }.toDF(m.idCol, m.vecCol)
    }, k, nprobe, rerank, allowed)

  /** The codes-only tiers' refusal: their exact re-rank needs the
    * caller's corpus frame, which a `{!knn}` request cannot carry. */
  protected def codesOnly(out: String): Nothing =
    throw new IllegalArgumentException(
      s"$out holds quantized codes only — its exact re-rank needs the " +
        "caller's corpus frame; use Graft.querySq8Index / " +
        "queryBinaryIvfIndex instead of a {!knn} request")

  /** Quantization-drift probe — the retrain trigger the frozen-add
    * contract needs: per cohort, the exact-integer sum of per-vector
    * milli distances `round((1 − cos_nearest)·1000)` to the nearest
    * centroid, for the STORED primary subdir (tombstones excluded;
    * `stored` maps its rows into probe space) and for `recent`
    * (`recentVec`). A recent mean well above the store's says the
    * centroids no longer describe incoming data. One pass per cohort,
    * centroids broadcast. */
  protected def drift(spark: SparkSession, out: String,
                      centroids: Array[Array[Double]], dim: Int, stored: Column,
                      recent: DataFrame, recentVec: Column): DataFrame = {
    val (dists, _) = Similarity.cellFns(centroids, dim)
    def cohort(vecs: DataFrame, name: String): DataFrame =
      vecs.select(round((lit(1.0) + array_min(dists(col("v")))) * 1000)
          .cast("long").as("dm"))
        .agg(count(lit(1)).as("n"), sum(col("dm")).as("sum_dist_milli"))
        .select(lit(name).as("cohort"), col("n"), col("sum_dist_milli"))
    val kept = exceptDeleted(spark, out,
      spark.read.parquet(s"${dataRoot(spark, out)}/${subdirs.head}"))
    cohort(kept.select(stored.as("v")), "store")
      .unionByName(cohort(recent.select(recentVec.as("v")), "recent"))
  }

  // ----- adds -----------------------------------------------------------

  /** Encode under the live quantizers, keeping only the subdirs the
    * store carries (an IVF-PQ store without a refine sidecar). */
  private def encodeLive(spark: SparkSession, out: String,
                         vectors: DataFrame): Seq[(String, DataFrame)] = {
    val v = live(spark, out)
    val fs = fsOf(spark, out)
    encode(vectors, v.marker, v.quantizer)
      .filter { case (sub, _) => fs.exists(new Path(s"${v.root}/$sub")) }
  }

  /** Incremental add against the FROZEN quantizers (FAISS `add`):
    * append to the touched cell partitions only, so answers for stored
    * vectors never change, then fold any cell whose file pile exceeds
    * `maxFilesPerCell` ([[compact]]). Appends, not
    * upserts: re-adding a stored id leaves both copies (the codes
    * tiers collapse duplicates to their best copy at read time). */
  def add(spark: SparkSession, out: String, vectors: DataFrame,
          maxFilesPerCell: Int = 8): Unit = {
    recoverStore(spark, out) // never append into a half-swapped cell
    val root = dataRoot(spark, out)
    encodeLive(spark, out, vectors).foreach { case (sub, f) =>
      f.write.mode("append").partitionBy("cell").parquet(s"$root/$sub")
    }
    compact(spark, out, maxFilesPerCell)
  }

  /** Marker recording that streamed batch `batchId` of stream
    * `streamId` fully applied — the replay guard of [[addBatch]]. */
  private[graft] def batchMarker(out: String, batchId: Long,
                                 streamId: String = "") =
    new Path(s"$out/_ann_batch_${streamKey(streamId)}$batchId")

  /** Exactly-once add for a streamed micro-batch: a no-op if the
    * batch's marker exists; otherwise encode, commit through
    * [[commitEncodedBatch]], then compact (marker strictly before
    * compaction: once a batch's files may fold, its replay must
    * already be a no-op). Returns true if the batch applied. */
  def addBatch(spark: SparkSession, out: String, vectors: DataFrame,
               batchId: Long, maxFilesPerCell: Int = 8,
               streamId: String = ""): Boolean = {
    val applied = commitEncodedBatch(spark, out,
      encodeLive(spark, out, vectors), batchId, streamId)
    if (applied) compact(spark, out, maxFilesPerCell)
    applied
  }

  /** The transactional append: DELETE-OUTPUT-FIRST (a crashed prior
    * attempt's `b<key><id>-*` cell files go away — the reference's
    * rerun-a-task semantics), stage each subdir's frame under a private
    * dir, move the staged files to batch-keyed names inside the cell
    * partitions, and only then write the ONE batch marker covering
    * every subdir. */
  private def commitEncodedBatch(spark: SparkSession, out: String,
                                 frames: Seq[(String, DataFrame)],
                                 batchId: Long, streamId: String): Boolean = {
    val marker = batchMarker(out, batchId, streamId)
    val fs = fsOf(spark, out)
    if (fs.exists(marker)) return false
    recoverStore(spark, out) // never append into a half-swapped cell
    val key = streamKey(streamId)
    val base = dataRoot(spark, out)
    frames.foreach { case (subdir, encoded) =>
      val root = new Path(s"$base/$subdir")
      // a crashed attempt's leftovers are exactly this batch's names;
      // compaction only folds files of batches whose marker exists
      cellDirs(fs, root).foreach { d =>
        fs.listStatus(d)
          .filter(f => f.isFile && f.getPath.getName.startsWith(s"b$key$batchId-"))
          .foreach(f => fs.delete(f.getPath, false))
      }
      val stage = new Path(s"$base/.ann_stage_${subdir}_$key$batchId")
      encoded.write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
      cellDirs(fs, stage).foreach { d =>
        val dst = new Path(root, d.getName)
        if (!fs.exists(dst)) fs.mkdirs(dst)
        parquetFiles(fs, d).zipWithIndex.foreach { case (f, i) =>
          fs.rename(f.getPath, new Path(dst, f"b$key$batchId-$i%05d.parquet"))
        }
      }
      fs.delete(stage, true)
    }
    fs.create(marker, true).close()
    true
  }

  // ----- tombstones -------------------------------------------------------

  /** Anti-join the live tombstones out of a stored frame (broadcast:
    * between purges the set is bounded by the delete batches since the
    * last reclaim). The [[AnnTombstones]] nudge reads the marker-cached
    * count — no count job on the serving path. */
  private def exceptDeleted(spark: SparkSession, out: String,
                            cells: DataFrame): DataFrame =
    deletes(spark, out).fold(cells) { d =>
      AnnTombstones.check(spark, tier, out,
        AnnTombstones.countOf(spark, out)(d.count()))
      antiJoin(cells, d)
    }

  /** Delete vectors by id (FAISS `remove_ids`): appends a tombstone
    * batch to `deletes/` — O(batch) I/O, no cell touched. Deleted ids
    * never surface from this moment; a tombstoned id stays dead,
    * including rows added after the delete, until [[purgeDeletes]].
    * `ids`' FIRST column is the id ([[CellStore.appendTombstones]]). */
  def removeIds(spark: SparkSession, out: String, ids: DataFrame): Unit =
    appendTombstones(spark, out, ids, corpusId)

  /** Physically reclaim tombstoned rows from every subdir (sidecars
    * first, the primary subdir last), then clear the tombstones and
    * their count cache. DEFERS (returns 0) while a pin addresses the
    * current generation — deletes stay logically applied. Returns
    * cells purged in the primary subdir. */
  def purgeDeletes(spark: SparkSession, out: String): Int = {
    recoverStore(spark, out)
    val dels = deletes(spark, out).getOrElse(return 0)
    val fs = fsOf(spark, out)
    if (pins(fs, out).contains(generation(fs, out))) {
      log.info(s"purgeDeletes deferred: generation of $out is pinned")
      return 0
    }
    val base = dataRoot(spark, out)
    val purged = subdirs.reverse.map(purgeSubdir(spark, fs, base, _, dels)).last
    fs.delete(new Path(deletesPath(out)), true)
    AnnTombstones.clearCount(spark, out)
    purged
  }

  /** One subdir's purge: locate touched cells (broadcast semi-join),
    * rewrite the whole touched set in ONE read-filter-write job into a
    * tmp dir (a per-cell salt aims output files at [[TargetFileBytes]]),
    * then swap each cell by whole-directory rename — original aside to
    * trash first, rewrite in second — so a crash at any point leaves a
    * state [[recoverStore]] completes. Returns cells purged. */
  private def purgeSubdir(spark: SparkSession, fs: FileSystem, base: String,
                          subdir: String, dels: DataFrame): Int = {
    val root = new Path(s"$base/$subdir")
    if (!fs.exists(root)) return 0
    val touched = spark.read.parquet(root.toString)
      .join(broadcast(dels.select("corpus_id")), Seq("corpus_id"), "left_semi")
      .select("cell").distinct().collect().map(_.getInt(0))
    if (touched.isEmpty) return 0
    val splits: Seq[(Int, Int)] = touched.toSeq.map { c =>
      val d = new Path(root, s"cell=$c")
      val bytes = if (fs.exists(d)) parquetFiles(fs, d).map(_.getLen).sum else 0L
      c -> splitsFor(bytes)
    }
    val salt = splits.foldLeft(lit(0)) { case (acc, (c, n)) =>
      when(col("cell") === c, pmod(hash(col("corpus_id")), lit(n))).otherwise(acc)
    }
    val tmp = new Path(s"$base/.purge_tmp_$subdir")
    val trash = new Path(s"$base/.purge_trash_$subdir")
    fs.delete(tmp, true)
    fs.delete(trash, true)
    val stored = spark.read.parquet(root.toString)
      .filter(col("cell").isin(touched.map(Int.box).toIndexedSeq: _*))
    antiJoin(stored, dels).repartition(splits.map(_._2).sum, col("cell"), salt)
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    // swap only after the tmp write committed whole (_SUCCESS); at no
    // point is any cell's only live copy scheduled for deletion
    fs.mkdirs(trash)
    touched.foreach { c =>
      val d = new Path(root, s"cell=$c")
      if (fs.exists(d)) fs.rename(d, new Path(trash, s"cell=$c"))
      val td = new Path(tmp, s"cell=$c")
      if (fs.exists(td)) fs.rename(td, d)
    }
    fs.delete(tmp, true)
    fs.delete(trash, true)
    touched.length
  }

  // ----- crash recovery and compaction ------------------------------------

  /** Complete (or discard) any swap a crashed [[purgeDeletes]] /
    * [[compact]] left behind — runs at every mutation entry point.
    * Purge tmp dirs that finished (`_SUCCESS`) may hold the ONLY copy
    * of a cell whose live dir was moved aside: those rename back in; a
    * tmp cell whose live dir still exists is discarded (the tombstones
    * still present let the next purge re-derive it). Compact tmp dirs
    * (`.compact_tmp_<subdir>_cell=N`, not cell-partitioned) resolve
    * the same way; trash dirs only hold superseded originals. */
  private def recoverStore(spark: SparkSession, out: String): Unit = {
    val base = dataRoot(spark, out)
    val fs = fsOf(spark, out)
    if (!fs.exists(new Path(base))) return
    subdirs.foreach { subdir =>
      val tmp = new Path(s"$base/.purge_tmp_$subdir")
      if (fs.exists(tmp)) {
        if (fs.exists(new Path(tmp, "_SUCCESS")))
          cellDirs(fs, tmp).foreach { d =>
            val dst = new Path(s"$base/$subdir/${d.getName}")
            if (!fs.exists(dst)) fs.rename(d, dst)
          }
        fs.delete(tmp, true)
      }
      fs.delete(new Path(s"$base/.purge_trash_$subdir"), true)
    }
    fs.listStatus(new Path(base)).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(".compact_tmp_")) {
        val rest = n.stripPrefix(".compact_tmp_")
        val i = rest.indexOf("_cell=")
        val dst = if (i > 0) Some(new Path(
          s"$base/${rest.substring(0, i)}/${rest.substring(i + 1)}")) else None
        dst match {
          case Some(d) if !fs.exists(d) && fs.exists(new Path(s.getPath, "_SUCCESS")) =>
            fs.rename(s.getPath, d)
          case _ => fs.delete(s.getPath, true)
        }
      } else if (n.startsWith(".compact_trash_")) fs.delete(s.getPath, true)
    }
  }

  /** Fold over-budget cell partitions: each cell whose parquet file
    * count exceeds `maxFilesPerCell` is rewritten to
    * ceil(bytes / [[TargetFileBytes]]) files, tombstoned rows dropped
    * (already invisible), by whole-directory swap (original aside,
    * rewrite in). Cells under budget are never touched, so
    * steady-state I/O is ∝ recently grown cells. DEFERS while the
    * current generation is pinned. Single-writer discipline: do not
    * compact while a query batch reads the store. Returns cells folded. */
  def compact(spark: SparkSession, out: String, maxFilesPerCell: Int = 8): Int = {
    val fs = fsOf(spark, out)
    recoverStore(spark, out)
    if (pins(fs, out).contains(generation(fs, out))) {
      log.info(s"compact deferred: generation of $out is pinned")
      return 0
    }
    val dels = deletes(spark, out)
    val base = dataRoot(spark, out)
    var folded = 0
    subdirs.foreach { subdir =>
      cellDirs(fs, new Path(s"$base/$subdir")).foreach { d =>
        val files = parquetFiles(fs, d)
        if (files.length > maxFilesPerCell) {
          val tmp = new Path(s"$base/.compact_tmp_${subdir}_${d.getName}")
          val trash = new Path(s"$base/.compact_trash_${subdir}_${d.getName}")
          fs.delete(tmp, true)
          fs.delete(trash, true)
          val stored = spark.read.parquet(d.toString)
          dels.fold(stored)(antiJoin(stored, _))
            .coalesce(splitsFor(files.map(_.getLen).sum))
            .write.mode("overwrite").parquet(tmp.toString)
          fs.rename(d, trash)
          fs.rename(tmp, d)
          fs.delete(trash, true)
          folded += 1
        }
      }
    }
    folded
  }

  // ----- pinned snapshots (the SegmentIndex pinGeneration precedent) -----

  private def listName(sub: String) = if (sub == "cells") "files" else s"files_$sub"

  private[ops] def pinnedRootOf(out: String, token: Int): String =
    if (token == 0) out else s"$out/g$token"

  private def requirePin(spark: SparkSession, out: String, token: Int): Unit =
    require(fsOf(spark, out).exists(pinMarker(out, token)), s"no pin $token on $out")

  /** A pinned subdir's frame: exactly the FILE SET the pin recorded —
    * later appends are unlisted, rewrites of listed files defer while
    * the pin lives. Partition pruning still applies via the basePath. */
  private def pinnedSubdirFrame(spark: SparkSession, out: String, token: Int,
                                subdir: String): DataFrame = {
    val root = pinnedRootOf(out, token)
    val files = graft.util.FsIo.readSmallFile(spark.sparkContext.hadoopConfiguration,
        s"${pinDir(out, token)}/${listName(subdir)}")
      .split("\n").filter(_.nonEmpty).map(f => s"$root/$subdir/$f").toSeq
    if (files.isEmpty) spark.read.parquet(s"$root/$subdir").limit(0)
    else spark.read.schema(cellSchema(spark, files.head))
      .option("basePath", s"$root/$subdir").parquet(files: _*)
  }

  /** The pin's tombstone snapshot as an anti-join (identity when the
    * pin saw no deletes). */
  private def pinnedTombAnti(spark: SparkSession, out: String,
                             token: Int): DataFrame => DataFrame = {
    val p = new Path(s"${pinDir(out, token)}/deletes")
    if (!fsOf(spark, out).exists(p)) identity
    else antiJoin(_, spark.read.parquet(p.toString))
  }

  /** PIN the store's CURRENT state; returns the snapshot token (the
    * generation number). Quantizers and marker are write-once per
    * generation; data subdirs mutate in place under adds, so the pin
    * records each subdir's FILE LIST (Lucene's commit point: a commit
    * is a file set) and materializes the tombstone set. Rewrites of
    * pinned files ([[purgeDeletes]], [[compact]]) defer while the pin
    * lives; retrain is free (a new generation) and
    * [[reclaimGenerations]] spares pinned generations. Release with
    * [[releaseGeneration]]. */
  def pinGeneration(spark: SparkSession, out: String): Int = {
    recoverStore(spark, out)
    val fs = fsOf(spark, out)
    val g = generation(fs, out)
    val root = dataRoot(spark, out)
    fs.delete(new Path(pinDir(out, g)), true)
    deletes(spark, out).foreach(
      _.write.mode("overwrite").parquet(s"${pinDir(out, g)}/deletes"))
    subdirs.filter(s => fs.exists(new Path(s"$root/$s"))).foreach { sub =>
      val files = cellDirs(fs, new Path(s"$root/$sub")).flatMap(d =>
        parquetFiles(fs, d).map(f => s"${d.getName}/${f.getPath.getName}")).sorted
      graft.util.FsIo.writeSmallFile(spark.sparkContext.hadoopConfiguration,
        s"${pinDir(out, g)}/${listName(sub)}", files.mkString("\n"))
    }
    fs.create(pinMarker(out, g), true).close()
    g
  }

  /** Release a pin: its generation re-enters reclaim eligibility and
    * deferred rewrites may proceed. */
  def releaseGeneration(spark: SparkSession, out: String, token: Int): Unit =
    releasePin(spark, out, token)
}

/** The single marker → codec REGISTRY, plus the lifecycle's shared
  * helpers. */
object CellStore {

  /** Every cell-store codec; a store carries exactly one marker. */
  private lazy val codecs: Seq[CellStore] =
    Seq(IvfIndex, IvfPqIndex, Sq8Index, MrlIndex, BinaryIvfIndex)

  /** The codec serving `out`; refuses a path no codec's marker names
    * (before touching it). */
  def apply(spark: SparkSession, out: String): CellStore =
    codecs.find(_.isStore(spark, out)).getOrElse(throw new IllegalArgumentException(
      s"$out carries no known cell-store ANN marker " +
        s"(${codecs.map(_.markerFile).mkString(", ")})"))

  /** Row cap of the probe's query-batch collect: ANN query batches are
    * broadcast-small by contract, so a larger batch fails loudly here
    * instead of with a driver OOM. */
  private[ops] val MaxQueryBatch: Int = 1 << 16

  /** Output file size purge and compaction rewrites aim at. */
  private val TargetFileBytes = 256L << 20

  /** Driver-held rows as a LocalRelation. */
  private[ops] def localFrame(spark: SparkSession, rows: Seq[Row],
                              schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** A cell-partitioned subdir under the schema its files carry: the
    * row schema Spark wrote into one data file's footer, plus
    * `cell: int` — the schema inference would find, without the
    * inference job. A subdir with no data file is read as before. */
  private def readCells(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    cellDirs(fs, new Path(dir)).iterator.flatMap(parquetFiles(fs, _)).nextOption() match {
      case Some(f) => spark.read.schema(cellSchema(spark, f.getPath.toString)).parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }

  private def cellSchema(spark: SparkSession, file: String): StructType =
    org.apache.spark.sql.GraftBridge.asNullable(graft.util.SmallParquet.sparkSchema(
      spark.sparkContext.hadoopConfiguration, file)).add("cell", IntegerType)

  private[ops] def collectBatch(df: DataFrame): Array[Row] = {
    val rows = df.limit(MaxQueryBatch + 1).collect()
    require(rows.length <= MaxQueryBatch,
      s"query batch of ${df.count()} rows exceeds the $MaxQueryBatch-row " +
        "cap of a probed ANN query batch — split it")
    rows
  }

  /** The cosine probe over double centroids (bit-identical to the
    * expression kernel, see [[Similarity.probeCellsLocal]]). */
  private[ops] def cosineProbe(centroids: Array[Array[Double]],
                               nprobe: Int): scala.collection.Seq[Any] => Array[Int] = {
    val cnorms = Similarity.centroidNormsLocal(centroids)
    v => Similarity.probeCellsLocal(v, centroids, cnorms, nprobe)
  }

  private[ops] def centroidsAt(conf: Configuration, root: String): Array[Array[Double]] =
    graft.util.SmallParquet.rows(conf, s"$root/centroids")
      .sortBy(_.int("i")).map(_.doubleArray("c")).toArray

  private[ops] def writeCentroids(spark: SparkSession, root: String,
                                  centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("i", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/centroids")
  }

  /** Stream-scoping key for batch markers and batch-keyed file names:
    * Structured Streaming batch ids are checkpoint-scoped while the
    * markers are durable, so a per-stream namespace keeps a relaunch
    * (or a second stream) from colliding with committed markers. Empty
    * streamId keeps the single-stream names. */
  private[graft] def streamKey(streamId: String): String =
    if (streamId.isEmpty) ""
    else java.security.MessageDigest.getInstance("MD5")
      .digest(streamId.getBytes("UTF-8")).take(4)
      .map(b => f"$b%02x").mkString + "_"

  // ----- the tombstone and pin files, shared with HnswIndex ---------------

  private[ops] def deletesPath(out: String) = s"$out/deletes"

  /** The live tombstone set, if any delete batch has landed. */
  private[ops] def deletes(spark: SparkSession, out: String): Option[DataFrame] = {
    val p = new Path(deletesPath(out))
    if (fsOf(spark, out).exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Append a tombstone batch to `deletes/` — O(batch) I/O: `ids`'
    * FIRST column under the store's id type (`corpusId`), distinct.
    * The live row count folds into the [[AnnTombstones]] cache (one
    * O(batch) job here, none on queries). */
  private[ops] def appendTombstones(spark: SparkSession, out: String, ids: DataFrame,
                                    corpusId: Column => Column): Unit = {
    ids.select(corpusId(col(ids.columns.head)).as("corpus_id"))
      // a null id must not reach the store: the collected tombstone
      // set reads rows with the primitive accessor, where null
      // silently decodes as 0L — tombstoning id 0 by accident
      .filter(col("corpus_id").isNotNull).distinct()
      .coalesce(1).write.mode("append").parquet(deletesPath(out))
    AnnTombstones.recordRemoval(spark, out,
      spark.read.parquet(deletesPath(out)).count())
  }

  /** A pin is a `_pin_N` marker at the store root plus its `.pin_N/`
    * directory of materialized state. */
  private[ops] def pinMarker(out: String, g: Int) = new Path(s"$out/_pin_$g")
  private[ops] def pinDir(out: String, g: Int) = s"$out/.pin_$g"

  private[ops] def pins(fs: FileSystem, out: String): Set[Int] =
    numbered(fs, out, "_pin_").toSet

  /** Release a pin: marker first, then its materialized state. */
  private[ops] def releasePin(spark: SparkSession, out: String, token: Int): Unit = {
    val fs = fsOf(spark, out)
    fs.delete(pinMarker(out, token), false)
    fs.delete(new Path(pinDir(out, token)), true)
  }

  private def fsOf(spark: SparkSession, out: String): FileSystem =
    new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[ops] def numbered(fs: FileSystem, out: String, prefix: String): Seq[Int] = {
    val p = new Path(out)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toInt).toOption)
  }

  private def cellDirs(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell=")).map(_.getPath)

  private def parquetFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).toSeq.filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))

  private def splitsFor(bytes: Long): Int =
    math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt

  private def antiJoin(cells: DataFrame, dels: DataFrame): DataFrame =
    cells.join(broadcast(dels.select("corpus_id")), Seq("corpus_id"), "left_anti")
}
