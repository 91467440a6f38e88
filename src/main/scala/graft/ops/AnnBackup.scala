package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * CONSISTENT ONLINE BACKUP of a mutating ANN store (round 17 — the
 * `index/Backup` Solr-/replication story brought to the vector
 * tiers, built ON the pin machinery): a pin IS a backup manifest —
 * the recorded file lists name an immutable read set (appends are
 * unlisted new files, rewrites defer while the pin lives), the
 * quantizers are write-once per generation, and the pin's tombstone
 * snapshot is the delete state. So backup = PIN → copy exactly the
 * manifest (listed data files, quantizer dirs, marker, tombstone
 * snapshot) → RELEASE. Concurrent adds/removes during the copy
 * cannot tear it, and the destination is a complete, independently
 * SERVING AND MUTABLE store (generation-0 layout) answering
 * bit-for-bit the pin-time answers — Lucene's snapshot-based backup
 * shape (`SnapshotDeletionPolicy` + copy-the-commit-point).
 *
 * Scope: the [[CellStore]] tiers — IVF, IVF-PQ (+refine sidecar),
 * SQ8, binary IVF, MRL — whose pins are file-list snapshots; the
 * registry resolves the codec, and any other path (an HNSW store,
 * whose pins share the `_pin_N`/`.pin_N` names but not the layout) is
 * refused before it is touched. The destination is a NEW store
 * identity: streamed-batch replay markers deliberately do not copy (a
 * replayed batch id belongs to the source's stream history, not the
 * backup's).
 */
object AnnBackup {

  /** Pin the store, copy the pin manifest to `dest`, release.
    * Returns the number of data files copied. `dest` must not
    * exist. */
  def backup(spark: SparkSession, store: String, dest: String): Int = {
    val codec = CellStore(spark, store)
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(dest)), s"backup destination $dest already exists")
    val tok = codec.pinGeneration(spark, store)
    try copyPinned(spark, codec, store, tok, dest)
    finally codec.releaseGeneration(spark, store, tok)
  }

  /** The copy body: everything the pin addresses, nothing else. */
  private def copyPinned(spark: SparkSession, codec: CellStore, store: String,
                         tok: Int, dest: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(store).getFileSystem(conf)
    val root = codec.pinnedRootOf(store, tok)
    def cp(src: String, dst: String): Unit = {
      val d = new Path(dst)
      fs.mkdirs(d.getParent)
      require(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(src), fs, d, false, conf),
        s"backup copy failed: $src")
    }
    // quantizers (write-once per generation) + the marker, from the
    // pinned generation's root to the backup's top
    (codec.quantizerDirs :+ codec.markerFile)
      .filter(n => fs.exists(new Path(s"$root/$n")))
      .foreach(n => cp(s"$root/$n", s"$dest/$n"))
    // the pin's tombstone snapshot becomes the backup's live deletes
    val pinDir = s"$store/.pin_$tok"
    if (fs.exists(new Path(s"$pinDir/deletes"))) cp(s"$pinDir/deletes", s"$dest/deletes")
    // the pinned data files, subdir by subdir (the manifest lists)
    var copied = 0
    fs.listStatus(new Path(pinDir)).filter(_.isFile).foreach { st =>
      val listName = st.getPath.getName
      if (listName == "files" || listName.startsWith("files_")) {
        val sub = if (listName == "files") "cells" else listName.stripPrefix("files_")
        graft.util.FsIo.readSmallFile(conf, st.getPath.toString)
          .split("\n").filter(_.nonEmpty).foreach { rel =>
            cp(s"$root/$sub/$rel", s"$dest/$sub/$rel")
            copied += 1
          }
      }
    }
    copied
  }
}
