package perfbench

import java.util.SplittableRandom

/**
 * Seeded input generator. Every input of every workload is a pure
 * function of (seed, stream name): the same seed gives byte-identical
 * Avro files and identical request streams. The
 * program only ever sees what this object produces.
 */
object Gen {

  /** An independent random stream per (seed, name); `String.hashCode`
    * is specified by the JLS, so streams are stable across JVMs. */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      (stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL))

  /** Zipf(s) over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"
  private val Syllables = for (c <- Consonants; v <- Vowels) yield s"$c$v"

  /** The vocabulary word of a rank: letters only and unique per rank,
    * so every analyzer that splits on non-alphanumerics keeps it as one
    * token. Words never contain digits, so the digit-bearing reserved
    * terms below cannot collide with them. */
  def word(rank: Int): String = {
    val b = Syllables.size
    var x = rank + b
    val sb = new StringBuilder
    while (x > 0) { sb.insert(0, Syllables(x % b)); x /= b }
    sb.toString
  }

  def words(r: SplittableRandom, z: Zipf, min: Int, max: Int): String =
    Iterator.fill(min + r.nextInt(max - min + 1))(word(z.sample(r))).mkString(" ")

  // ------------------------------------------------------------------
  // build: tweet-shaped Avro corpus with planted newest-wins collisions
  // ------------------------------------------------------------------

  final case class Tweet(id: String, user: String, text: String,
                         createdAt: String, retweets: Long, sourceApp: String)

  /** The raw corpus in file order. `unique` distinct ids; a
    * `collisionShare` of them get a second raw doc with the same id and
    * a strictly later `created_at`, so newest-wins must keep the second.
    * `user` is unique per raw doc, which makes the winner observable. */
  final case class TweetCorpus(raw: IndexedSeq[Tweet], unique: Int,
                               winners: Map[String, String], victims: IndexedSeq[String])

  private val Epoch = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def tweets(seed: Long, unique: Int, collisionShare: Double, vocab: Int): TweetCorpus = {
    val r = rng(seed, "tweets")
    val z = new Zipf(vocab, 1.07)
    val collisions = math.round(unique * collisionShare).toInt
    val victims = distinctInts(rng(seed, "victims"), collisions, unique)
    def tweet(rawIdx: Int, id: Int): Tweet =
      Tweet(f"t$id%08d", s"u$rawIdx", words(r, z, 3, 7),
        Epoch.plusSeconds(rawIdx.toLong).format(TsFormat),
        r.nextInt(1000).toLong, s"app${r.nextInt(5)}")
    val firsts = (0 until unique).map(i => tweet(i, i))
    val seconds = victims.indices.map(j => tweet(unique + j, victims(j)))
    val all = firsts ++ seconds
    // randomize raw order (the reference's phase 1) so collisions spread
    val order = (0 until all.size).toArray
    val ro = rng(seed, "order")
    var i = order.length - 1
    while (i > 0) {
      val j = ro.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val winners = all.iterator.map(t => t.id -> t.user).toMap
    TweetCorpus(order.toIndexedSeq.map(all), unique, winners, seconds.map(_.id))
  }

  /** `k` distinct ints from [0, n), in draw order. */
  def distinctInts(r: SplittableRandom, k: Int, n: Int): IndexedSeq[Int] = {
    require(k <= n)
    val seen = new java.util.HashSet[Integer]()
    val out = IndexedSeq.newBuilder[Int]
    while (seen.size < k) {
      val x = r.nextInt(n)
      if (seen.add(x)) out += x
    }
    out.result()
  }

  val TweetSchema: org.apache.avro.Schema = org.apache.avro.SchemaBuilder
    .record("status").namespace("perfbench").fields()
    .requiredString("id")
    .requiredString("user_screen_name")
    .requiredString("text")
    .requiredString("created_at")
    .requiredLong("retweet_count")
    .requiredString("source_app") // not in the index schema: sanitized away
    .endRecord()

  /** Write the raw corpus as `files` Avro container files. The sync
    * marker is derived from the seed (Avro would otherwise draw a
    * random one), so the same seed gives byte-identical files. */
  def writeAvro(c: TweetCorpus, dir: java.io.File, files: Int, seed: Long): Seq[java.io.File] = {
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    dir.mkdirs()
    val sync = new Array[Byte](16)
    rng(seed, "avro-sync").nextBytes(sync)
    val per = (c.raw.size + files - 1) / files
    (0 until files).map { f =>
      val file = new java.io.File(dir, f"tweets-$f%02d.avro")
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](TweetSchema))
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16)
      w.create(TweetSchema, os, sync)
      try {
        c.raw.slice(f * per, math.min(c.raw.size, (f + 1) * per)).foreach { t =>
          val rec = new GenericData.Record(TweetSchema)
          rec.put("id", t.id)
          rec.put("user_screen_name", t.user)
          rec.put("text", t.text)
          rec.put("created_at", t.createdAt)
          rec.put("retweet_count", t.retweets)
          rec.put("source_app", t.sourceApp)
          w.append(rec)
        }
      } finally w.close()
      file
    }
  }

  // ------------------------------------------------------------------
  // serve: documents + clustered embeddings + a fixed request mix
  // ------------------------------------------------------------------

  final case class Doc(id: Long, text: String, category: String, likes: Long)

  final case class ServeCorpus(docs: IndexedSeq[Doc], vectors: Array[Array[Double]],
                               termCounts: Map[String, Int])

  val Dim = 64

  def serveCorpus(seed: Long, n: Int, vocab: Int, clusters: Int): ServeCorpus = {
    val r = rng(seed, "serve-docs")
    val z = new Zipf(vocab, 1.07)
    val zc = new Zipf(20, 0.8)
    val docs = (0 until n).map(i =>
      Doc(i.toLong, words(r, z, 6, 12), s"c${zc.sample(r)}", r.nextInt(1000).toLong))
    val rv = rng(seed, "serve-vectors")
    val centers = Array.fill(clusters, Dim)(rv.nextGaussian())
    val vectors = Array.fill(n)(clusteredVector(rv, centers))
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    docs.foreach(d => d.text.split(' ').distinct.foreach(w => counts(w) = counts.getOrElse(w, 0) + 1))
    ServeCorpus(docs, vectors, counts.toMap)
  }

  /** A unit vector near a random cluster center. Per-dimension spread
    * decays with the dimension index, as in Matryoshka-trained
    * embeddings, so a prefix carries most of a vector's signal. */
  private def clusteredVector(r: SplittableRandom, centers: Array[Array[Double]]): Array[Double] = {
    val c = centers(r.nextInt(centers.length))
    val v = Array.tabulate(Dim)(d => (c(d) + 0.6 * r.nextGaussian()) / (1 + d / 8.0))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  sealed trait Req { def id: Long; def family: String }
  /** BM25 top-10 over one or two terms (`text:a` or `text:a OR text:b`). */
  final case class Lexical(id: Long, terms: Seq[String]) extends Req { val family = "lexical" }
  /** Exact term lookup returning every matching id. */
  final case class TermLookup(id: Long, term: String) extends Req { val family = "term" }
  /** `range = false`: facet.field on category; `true`: facet.range on likes. */
  final case class Facet(id: Long, range: Boolean) extends Req { val family = "facet" }
  final case class Knn(id: Long, tier: String, vector: Array[Double]) extends Req {
    val family = s"knn_$tier"
  }
  final case class Hybrid(id: Long, term: String, vector: Array[Double]) extends Req {
    val family = "hybrid"
  }

  val Tiers: Seq[String] = Seq("ivf", "ivfpq", "mrl", "hnsw")
  val Families: Seq[String] =
    Seq("lexical", "term", "facet") ++ Tiers.map("knn_" + _) ++ Seq("hybrid")

  /** Requests per family in one round of the serve mix (50 requests).
    * The shares are not taken from real traffic. They are set by the
    * time budget: a kNN or hybrid request costs 0.4-1.3 s against
    * 0.06-0.25 s for the lexical families, so those weigh less and two
    * rounds (the 100 requests p90 needs) fit one run. Serve-wide
    * latency and throughput depend on these shares; the per-family
    * figures (`search.<family>_*`) carry the breakdown. */
  val ServeMix: Seq[(String, Int)] = Seq("lexical" -> 10, "term" -> 12, "facet" -> 10) ++
    Tiers.map(t => s"knn_$t" -> 3) :+ ("hybrid" -> 6)

  /** `rounds` rounds of the serve mix, each with fresh draws and its
    * families in seeded order. Head terms are drawn by Zipf rank among
    * the 50 most frequent words, tail terms uniformly among words seen
    * 1-40 times. Query vectors are fresh points from the corpus's
    * clusters. */
  def serveRequests(seed: Long, c: ServeCorpus, clusters: Int,
                    rounds: Int): IndexedSeq[IndexedSeq[Req]] = {
    val r = rng(seed, "serve-requests")
    val byFreq = c.termCounts.toSeq.sortBy { case (w, n) => (-n, w) }
    val head = byFreq.take(50).map(_._1)
    val tail = byFreq.filter { case (_, n) => n >= 1 && n <= 40 }.map(_._1)
    require(tail.nonEmpty, "corpus has no tail terms")
    val hz = new Zipf(head.size, 1.0)
    val rv = rng(seed, "serve-vectors") // same centers as the corpus
    val centers = Array.fill(clusters, Dim)(rv.nextGaussian())
    val rq = rng(seed, "serve-query-vectors")
    def h() = head(hz.sample(r))
    def t() = tail(r.nextInt(tail.size))
    val mix = ServeMix.flatMap { case (f, n) => Seq.fill(n)(f) }
    (0 until rounds).map { round =>
      val order = mix.toArray
      var i = order.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val x = order(i); order(i) = order(j); order(j) = x
        i -= 1
      }
      order.toIndexedSeq.zipWithIndex.map { case (f, k) =>
        val id = round * 1000L + k + 1
        f match {
          case "lexical" => Lexical(id, if (k % 2 == 0) Seq(h()) else Seq(h(), t()))
          case "term" => TermLookup(id, t())
          case "facet" => Facet(id, range = k % 2 == 1)
          case "hybrid" => Hybrid(id, h(), clusteredVector(rq, centers))
          case knn => Knn(id, knn.stripPrefix("knn_"), clusteredVector(rq, centers))
        }
      }
    }
  }

  /** `n` recall-probe query vectors: fresh points from the corpus's
    * clusters, drawn apart from the request stream. */
  def probeVectors(seed: Long, clusters: Int, n: Int): IndexedSeq[Array[Double]] = {
    val rv = rng(seed, "serve-vectors") // same centers as the corpus
    val centers = Array.fill(clusters, Dim)(rv.nextGaussian())
    val rp = rng(seed, "serve-probe-vectors")
    IndexedSeq.fill(n)(clusteredVector(rp, centers))
  }

  def knnString(v: Array[Double], k: Int): String =
    v.mkString(s"{!knn f=embedding topK=$k}[", ",", "]")

  /** Exact top-k by cosine, ties by id: the recall reference. */
  def exactTopK(vectors: Array[Array[Double]], q: Array[Double], k: Int): Seq[Long] = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val qn = norm(q)
    vectors.indices.map { i =>
      val v = vectors(i)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * q(d); d += 1 }
      (i.toLong, dot / (norm(v) * qn))
    }.sortBy { case (i, s) => (-s, i) }.take(k).map(_._1)
  }
}
