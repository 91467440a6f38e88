package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * BUCKETED binary ANN store — FAISS `IndexBinaryIVF`: the flat binary
 * tier's ([[BinaryQuant.buildStore]]) Hamming stage scans every code
 * per query batch, which is the right flat-tier semantics but the
 * wrong serving shape at 10⁹+ vectors. Here the packed sign codes
 * ([[BinaryQuant.packSigns]]) cluster into `nlist` coarse cells under
 * a BINARY quantizer trained on the md5-seeded ordered sample
 * (k-majority/bit-vote — see [[trainBinaryCentroids]]), the code store
 * persists `partitionBy(cell)` under `codes/`, and a query probes its
 * `nprobe` (Hamming)-nearest cells ONLY: the Hamming scan term drops
 * from |corpus| to the probed mass, partition-pruned at planning
 * (plan-locked in BinaryQuantSpec). Re-rank stays the
 * candidate-bounded exact-cosine fetch from the caller's corpus frame
 * ([[BinaryQuant.rerankExact]]). Pure integer end-to-end until the
 * final cosine, so the whole pipeline — training included — replays
 * in DuckDB (q321).
 *
 * This object is the bit-space CODEC; the lifecycle is the shared
 * [[CellStore]]. [[add]] is APPEND-ONLY FOR UNIQUE IDS, unlike
 * [[HnswIndex.add]]'s upsert: a rewrite-the-old-copy protocol would
 * open a crash window where an id's only live copy sits between the
 * drop and the append (the old code can live in a DIFFERENT cell than
 * the re-quantized new one, so no single-cell swap covers both) —
 * instead a re-added id's duplicate rows collapse at READ time to the
 * best Hamming copy before the candidate cut. To truly replace an
 * id's vector: [[removeIds]] + [[purgeDeletes]] + add, or rebuild.
 */
object BinaryIvfIndex extends CellStore("_bqivf_marker.json", "binary-ivf",
    subdirs = Seq("codes"), quantizerDirs = Seq("centroids")) {

  /** The packed centroid codes, index = cell id. */
  type Quantizer = Array[Array[Long]]

  protected def loadQuantizer(conf: org.apache.hadoop.conf.Configuration,
                              root: String, m: CellMarker): Quantizer =
    graft.util.SmallParquet.rows(conf, s"$root/centroids")
      .sortBy(_.int("i")).map(_.longArray("code")).toArray

  protected def probeCol = "qcode"

  /** The IVF probe ranking in bit space: pure-integer Hamming, with
    * the (distance, index) tie-break; a malformed code probes nothing. */
  protected def probeCells(centroids: Quantizer,
                           nprobe: Int): scala.collection.Seq[Any] => Array[Int] = raw =>
    if (raw.exists(_ == null) ||
        (centroids.nonEmpty && raw.length != centroids(0).length)) Array.empty[Int]
    else {
      val c = raw.map(_.asInstanceOf[Long]).toArray
      Similarity.probeOrderLocal(centroids.map(ct => hammingWords(c, ct).toDouble),
        nprobe)
    }

  override protected def corpusId(c: Column): Column = c.cast("long")

  protected def encode(vectors: DataFrame, m: CellMarker,
                       centroids: Quantizer): Seq[(String, DataFrame)] =
    Seq("codes" -> vectors.select(col(m.idCol).cast("long").as("corpus_id"),
        BinaryQuant.packSigns(col(m.vecCol).cast("array<double>"), m.dim).as("code"))
      .withColumn("cell", nearestCell(col("code"), centroids)))

  /** In-memory Hamming between two packed codes. */
  private def hammingWords(a: Seq[Long], b: Seq[Long]): Int = {
    var s = 0
    var i = 0
    while (i < a.length) {
      s += java.lang.Long.bitCount(a(i) ^ b(i))
      i += 1
    }
    s
  }

  /** md5("<seed>:<id>") hex — the engine's seeded-randomization
    * primitive (O1/O2), the same keying the IVF k-means oracle
    * replays with DuckDB's md5(). */
  private def md5Key(seed: Long, id: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"$seed:$id".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** Train the BINARY coarse quantizer (the bit-space analog of the
    * family's md5-seeded ordered-sample Lloyd): seeds = the first
    * `nlist` sample codes in (md5("<seed>:<id>"), id) order, one
    * k-MAJORITY round — each sample code joins its (Hamming, i)-
    * nearest seed, then every centroid bit becomes the majority vote
    * of its cluster (ties to 1: `2·ones >= n`), empty clusters carry
    * their seed. Returns the packed centroid codes, index = cell id.
    * Pure integer throughout — the DuckDB oracle replays it exactly. */
  private[ops] def trainBinaryCentroids(sample: Seq[(Long, Seq[Long])],
                                        nlist: Int, seed: Long,
                                        words: Int): Array[Array[Long]] = {
    val seeds = sample
      .sortBy { case (id, _) => (md5Key(seed, id), id.toString) }
      .take(nlist).map(_._2.toArray).toArray
    val eff = seeds.length
    // assign each sample code to its (Hamming, i)-nearest seed
    val assigned = Array.fill(eff)(
      scala.collection.mutable.ArrayBuffer.empty[Array[Long]])
    sample.foreach { case (_, code) =>
      val c = code.toArray
      var best = 0
      var bestH = Int.MaxValue
      var i = 0
      while (i < eff) {
        val h = hammingWords(c, seeds(i))
        if (h < bestH) { bestH = h; best = i }
        i += 1
      }
      assigned(best) += c
    }
    // k-majority vote per centroid bit; empty clusters carry the seed
    Array.tabulate(eff) { i =>
      val cluster = assigned(i)
      if (cluster.isEmpty) seeds(i)
      else Array.tabulate(words) { w =>
        var word = 0L
        var b = 0
        while (b < 32) {
          val mask = 1L << (31 - b)
          var ones = 0
          cluster.foreach(c => if ((c(w) & mask) != 0L) ones += 1)
          val bit = if (2 * ones >= cluster.length) 1L else 0L
          word = word * 2L + bit
          b += 1
        }
        word
      }
    }
  }

  /** The (Hamming, i)-nearest centroid of a packed `code` column —
    * the bit-space assignment kernel (ties to the lowest index via
    * array_position's first match). */
  private def nearestCell(code: Column,
                          centroids: Array[Array[Long]]): Column = {
    val hams = array(centroids.map(c =>
      BinaryQuant.hamming(code, typedlit(c.toSeq))): _*)
    (array_position(hams, array_min(hams)) - 1).cast("int")
  }

  def build(corpus: DataFrame, out: String, dim: Int,
            nlist: Int = 8, sampleSize: Int = 2048,
            seed: Long = 42L, idCol: String = "vec_id",
            vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    // ordered sample (the trainCentroids discipline: reproducible
    // across partitionings and retries; bounded driver memory)
    val sample = corpus.select(col(idCol).cast("long").as("corpus_id"),
        BinaryQuant.packSigns(col(vecCol).cast("array<double>"), dim).as("code"))
      .orderBy(col("corpus_id")).limit(sampleSize)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val centroids = trainBinaryCentroids(sample, nlist, seed, (dim + 31) / 32)
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("i", "code").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/centroids")
    val m = CellMarker.of("dim" -> dim, "eff" -> centroids.length,
      "seed" -> seed, "idCol" -> idCol, "vecCol" -> vecCol)
    commitStore(out, m, encode(corpus, m, centroids))
  }

  /** Serve from the bucketed store: the `nprobe` nearest cells per
    * query are probed and pushed as a partition filter — non-probed
    * inverted lists never open — then Hamming ranks INSIDE the probed
    * mass and the exact-cosine re-rank fetches candidates only.
    * `allowed` (first column = id) is the FILTERED-SEARCH selector,
    * semi-joined after probe pruning. Output (query_id, rank,
    * corpus_id), the family shape. */
  def query(spark: SparkSession, out: String, queries: DataFrame,
            corpus: DataFrame, k: Int, rerank: Int, nprobe: Int = 4,
            pushLimit: Int = 4096,
            allowed: Option[DataFrame] = None): DataFrame =
    queryAt(live(spark, out), queries, corpus, k, rerank, nprobe, pushLimit, allowed)

  /** Named form of the filtered search ([[query]]'s `allowed` arm). */
  def queryFiltered(spark: SparkSession, out: String, queries: DataFrame,
                    corpus: DataFrame, k: Int, rerank: Int, allowed: DataFrame,
                    nprobe: Int = 4, pushLimit: Int = 4096): DataFrame =
    query(spark, out, queries, corpus, k, rerank, nprobe, pushLimit, Some(allowed))

  /** Query a PINNED snapshot: exactly the file set and tombstone view
    * of pin time — bit-for-bit pin-time answers whatever add/remove/
    * purge landed since (spec-locked; an AnnLifecycleProps fuzz op). */
  def queryPinned(spark: SparkSession, out: String, token: Int,
                  queries: DataFrame, corpus: DataFrame, k: Int,
                  rerank: Int, nprobe: Int = 4, pushLimit: Int = 4096,
                  allowed: Option[DataFrame] = None): DataFrame =
    queryAt(pinned(spark, out, token), queries, corpus, k, rerank, nprobe,
      pushLimit, allowed)

  private def queryAt(v: View, queries: DataFrame, corpus: DataFrame, k: Int,
                      rerank: Int, nprobe: Int, pushLimit: Int,
                      allowed: Option[DataFrame]): DataFrame = {
    val m = v.marker
    val p = probe(v, queries.select(col(m.idCol).cast("long").as("query_id"),
        col(m.vecCol).cast("array<double>").as("qvec"))
      .withColumn("qcode", BinaryQuant.packSigns(col("qvec"), m.dim)), nprobe)
    BinaryQuant.rerankExact(v.spark, candidatesOf(v, p, rerank, allowed), corpus,
      p.local, k, m.idCol, m.vecCol, pushLimit)
  }

  /** The Hamming candidate stage — the frame whose PLAN carries the
    * probed-cell partition filter (plan-locked in BinaryQuantSpec).
    * `q0` carries (query_id, qcode). */
  private[ops] def candidates(spark: SparkSession, out: String,
                              q0: DataFrame, rerank: Int, nprobe: Int,
                              allowed: Option[DataFrame] = None): DataFrame = {
    val v = live(spark, out)
    candidatesOf(v, probe(v, q0, nprobe), rerank, allowed)
  }

  /** Duplicate corpus rows (a re-added id) collapse to the pair's best
    * Hamming BEFORE the cut — map-side combinable, probed-mass-sized. */
  private def candidatesOf(v: View, p: Probe, rerank: Int,
                           allowed: Option[DataFrame]): DataFrame =
    PerQueryTopK(scan(v, "codes", p, allowed, "qcode")
        .withColumn("hamming", BinaryQuant.hamming(col("qcode"), col("code"))),
      "hamming", desc = false, rerank, collapse = true, batch = Some(p.size))
      .select("query_id", "corpus_id")

  protected def serve(spark: SparkSession, out: String, queries: => DataFrame,
                      k: Int, nprobe: Int, rerank: Int,
                      allowed: Option[DataFrame]): DataFrame = codesOnly(out)
}
