package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Input enumeration sources (S1/S2/S3): the reference walks input
 * trees into a one-URI-per-line manifest, skipping `.`/`_`-prefixed
 * hidden files (MapReduceIndexerTool.java:892-959, filter at 904-909),
 * optionally reading `--input-list` manifests incl. stdin
 * (:914-934), then NLine-splits the manifest across mappers
 * (:648-683).
 *
 * Spark-native: `binaryFile` already skips `_`/`.` files and handles
 * split planning by bytes (no manual NLine math — S3 is subsumed by
 * `maxPartitionBytes`); the manifest path keeps the reference's
 * "catalog is a file list" contract.
 */
object BinaryFiles {

  /** S1: recursive tree scan (hidden-file filter is Spark's default). */
  def readTree(spark: SparkSession, root: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(root)

  /** Above this many manifest lines, [[readManifest]] switches to the
    * distributed reader — no unbounded driver materialization path is
    * reachable from the facade. */
  val ManifestCollectLimit: Int = 100000

  /** S2: newline-delimited URI manifest (blank lines and `#` comments
    * ignored). Small manifests (≤ [[ManifestCollectLimit]] lines) go
    * through the driver-side `binaryFile` load for reference parity
    * (path-glob planning, file-status columns); anything larger is
    * routed to [[readManifestDistributed]] so a 100M-line manifest
    * never lands on the driver. Use [[readManifestDryRun]] when only
    * the resolved path list is wanted. */
  def readManifest(spark: SparkSession, manifest: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, trim}
    val lines = spark.read.textFile(manifest)
      .select(trim(col("value")).as("value"))
      .filter(col("value") =!= "" && !col("value").startsWith("#"))
    // limit+1 bounds the driver copy regardless of manifest size
    val head = lines.limit(ManifestCollectLimit + 1).collect().map(_.getString(0))
    require(head.nonEmpty, s"manifest $manifest lists no files")
    if (head.length > ManifestCollectLimit)
      readManifestDistributed(spark, manifest)
    else
      spark.read.format("binaryFile").load(head.toIndexedSeq: _*)
  }

  /** Dry-run: the resolved (trimmed, uncommented) path list only —
    * bounded by the caller's own `collect`/`show`, never loads bytes. */
  def readManifestDryRun(spark: SparkSession, manifest: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, trim}
    spark.read.textFile(manifest)
      .select(trim(col("value")).as("path"))
      .filter(col("path") =!= "" && !col("path").startsWith("#"))
  }

  /**
   * S2 at unbounded scale: the manifest NEVER materializes on the
   * driver — paths stay a DataFrame, repartition spreads them across
   * the cluster, and each task opens its own files through the Hadoop
   * FS with the SESSION's `hadoopConfiguration` (shipped via
   * [[graft.util.SerializableHadoopConf]], the same pattern the
   * Avro/TFRecord sinks use — so runtime-configured `spark.hadoop.*`
   * object-store credentials work here too). This is the flow for a
   * 100M-file manifest where [[readManifest]]'s driver-side
   * `collect()` (reference-parity: MapReduceIndexerTool.java:892-959
   * holds the list in the submitter JVM too) would exhaust driver
   * memory.
   *
   * Schema is EXACTLY `binaryFile`'s — (path, modificationTime,
   * length, content) — so [[readManifest]]'s size-based switch
   * between the two flows is invisible to callers. A file larger
   * than `maxBytes` FAILS the task with a clear message (binaryFile
   * would have loaded it whole; silently truncating bytes would
   * corrupt any downstream parse) unless `truncateOversize = true`,
   * an explicit opt-in for callers that genuinely want capped reads
   * — then `length` still reports the TRUE file size, so
   * `length > octet_length(content)` identifies capped rows.
   */
  def readManifestDistributed(spark: SparkSession, manifest: String,
                              partitions: Int = 0,
                              maxBytes: Int = 64 << 20,
                              truncateOversize: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val n = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism
    val paths = spark.read.textFile(manifest)
      .map(_.trim)(org.apache.spark.sql.Encoders.STRING)
      .filter((l: String) => l.nonEmpty && !l.startsWith("#"))
      .repartition(n)
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.TIMESTAMP,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.BINARY)
    val serConf =
      new graft.util.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    paths.mapPartitions { it =>
      // per-task FS handle (session conf), reused across this partition's files
      val conf = serConf.value
      it.map { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(conf)
        val status = fs.getFileStatus(path)
        val len = status.getLen
        if (len > maxBytes && !truncateOversize)
          throw new java.io.IOException(
            s"manifest file $p is $len bytes (> maxBytes=$maxBytes); " +
              "raise maxBytes or pass truncateOversize=true to cap reads")
        val take = math.min(len, maxBytes.toLong).toInt
        val buf = new Array[Byte](take)
        val in = fs.open(path)
        try in.readFully(0, buf) finally in.close()
        (p, new java.sql.Timestamp(status.getModificationTime), len, buf)
      }
    }(enc).toDF("path", "modificationTime", "length", "content")
      .filter(col("path").isNotNull)
  }
}
