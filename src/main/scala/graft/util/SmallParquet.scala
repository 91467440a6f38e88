package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Driver-side reader for QUANTIZER-SIZED parquet frames (r18, guide §5
 * "the driver" / VERDICT_r17 item 5 — de-job the serving paths).
 *
 * Every ANN serving call loads its trained quantizers — centroid
 * matrices, PQ codebooks, SQ8 scalar params — from tiny parquet dirs
 * (nlist ≤ dozens of rows, written `coalesce(1)` at build time). Doing
 * that through `spark.read.parquet(...).collect()` costs one or two
 * full Spark JOBS per serving call for data the driver could read in
 * microseconds; the r17 round already established the serving family
 * is driver-job-count bound. This helper reads the files directly with
 * parquet-java's example (Group) API — zero jobs, zero scheduler round
 * trips — and the call sites keep their collect-then-sort determinism.
 *
 * ONLY for bounded frames (quantizers, scalar params): everything is
 * materialized on the driver, exactly like the `.collect()` it
 * replaces.
 */
object SmallParquet {

  /** One row, with typed getters mirroring the Row getters the
    * collect-based call sites used. */
  final class R(g: Group) {
    def int(f: String): Int = g.getInteger(f, 0)
    def long(f: String): Long = g.getLong(f, 0)
    def double(f: String): Double = g.getDouble(f, 0)
    // Spark writes array columns in the standard 3-level LIST shape:
    //   optional group f (LIST) { repeated group list {
    //     optional <t> element; } }
    private def list(f: String): (Group, Int) = {
      val lg = g.getGroup(f, 0)
      (lg, lg.getFieldRepetitionCount("list"))
    }
    def doubleArray(f: String): Array[Double] = {
      val (lg, n) = list(f)
      Array.tabulate(n)(i => lg.getGroup("list", i).getDouble("element", 0))
    }
    def longArray(f: String): Array[Long] = {
      val (lg, n) = list(f)
      Array.tabulate(n)(i => lg.getGroup("list", i).getLong("element", 0))
    }
  }

  /** All rows of every `*.parquet` file under `dir` (any file order —
    * call sites sort by their key column, as they always did). */
  def rows(conf: Configuration, dir: String): Seq[R] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq.sortBy(_.getName)
    files.flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(new R(_)).toVector
      finally reader.close()
    }
  }

  /** The row schema Spark wrote into a parquet file's footer (the
    * `org.apache.spark.sql.parquet.row.metadata` key) — what schema
    * inference reads, without its job. */
  def sparkSchema(conf: Configuration, file: String): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    require(json != null, s"$file carries no Spark row schema in its footer")
    DataType.fromJson(json).asInstanceOf[StructType]
  }
}
