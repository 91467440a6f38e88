package perfbench

import graft.Graft
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * `serve`: warm stores (one analyzed segment store; IVF, IVF-PQ with
 * refine sidecar, MRL and HNSW over clustered 64-d embeddings) answer a
 * fixed seeded request mix from a closed loop of two clients. Search,
 * index reads and the ANN operators do the work; the index writer is
 * idle.
 */
final class ServeWorkload(ctx: Ctx) extends Workload(ctx) {
  import ServeWorkload._
  import ctx.spark

  /** The five store builds take long enough that two setups are the
    * most a run can afford. */
  override def setupReps: Int = 2

  private var corpus: Gen.ServeCorpus = _
  private var rounds: IndexedSeq[IndexedSeq[Gen.Req]] = _
  private var docs: org.apache.spark.sql.DataFrame = _
  private var emb: org.apache.spark.sql.DataFrame = _
  private var stores: Map[String, String] = Map.empty
  private var segSchema: StructType = _
  // expectations, computed by plain DataFrame code over the raw corpus
  private var termIds: Map[String, Set[String]] = Map.empty
  private var categoryCounts: Map[String, Long] = Map.empty
  private var likesBuckets: Map[Double, Long] = Map.empty
  // the recall probe: query vectors, their exact top 10, and each
  // tier's mean recall@10 on them
  private var probe: IndexedSeq[Array[Double]] = _
  private var probeExact: IndexedSeq[Seq[Long]] = _
  private var probeRecall: Map[String, Double] = Map.empty
  private var round = 0

  def prepare(): Unit = {
    corpus = Gen.serveCorpus(ctx.seed, Docs, Vocab, Clusters)
    rounds = Gen.serveRequests(ctx.seed, corpus, Clusters, Rounds)
    docs = Workload.frame(spark, DocSchema,
      corpus.docs.map(d => Row(d.id.toString, d.text, d.category, d.likes)), ctx.sc.defaultParallelism)
    emb = Workload.frame(spark, EmbSchema,
      corpus.docs.indices.map(i => Row(i.toLong, corpus.vectors(i).toSeq)), ctx.sc.defaultParallelism)
    val terms = rounds.flatten.flatMap {
      case Gen.Lexical(_, ts) => ts
      case Gen.TermLookup(_, t) => Seq(t)
      case Gen.Hybrid(_, t, _) => Seq(t)
      case _ => Nil
    }.distinct
    termIds = docs.select(col("id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w").isin(terms: _*)).groupBy("w").agg(collect_set("id"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      .withDefaultValue(Set.empty)
    categoryCounts = docs.groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    likesBuckets = docs.groupBy((floor(col("likes") / 100) * 100).cast("double")).count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    probe = Gen.probeVectors(ctx.seed, Clusters, ProbeQueries)
    probeExact = probe.map(Gen.exactTopK(corpus.vectors, _, 10))
  }

  /** Build the five stores, side by side: the builds are independent
    * and bound by driver-side job latency. */
  def setup(rep: Int): Unit = {
    stores.values.foreach(s => Workload.deleteTree(new java.io.File(s)))
    def path(n: String) = ctx.dir(s"$n-$rep").getAbsolutePath
    stores = Map("seg" -> path("seg"), "ivf" -> path("ivf"), "ivfpq" -> path("ivfpq"),
      "mrl" -> path("mrl"), "hnsw" -> path("hnsw"))
    Workload.closedLoop(3, IndexedSeq(
      () => Graft.buildHnswIndex(emb, stores("hnsw"), Gen.Dim, shards = 2),
      () => Graft.buildAnnIndex(emb, stores("ivfpq"), Gen.Dim, nlist = NList, compressed = true,
        refineStore = true),
      () => Graft.buildMrlIndex(emb, stores("mrl"), Gen.Dim, prefixDim = 16, nlist = NList),
      () => Graft.buildAnnIndex(emb, stores("ivf"), Gen.Dim, nlist = NList),
      () => Graft.buildSegmentIndex(docs, "id", stores("seg"), shards = 2, analyzedFields = Set("text"))))
    segSchema = Graft.openSegmentIndex(spark, stores("seg")).schema
  }

  /** The recall probe, then one request of every family without a
    * `{!knn}` tier, in the mix's order (the probe has run the kNN path).
    * The probe sends one `{!knn}` batch of [[ProbeQueries]] vectors to
    * each ANN tier and scores it against the exact top 10. Each tier's
    * mean recall@10 must reach its floor, so a change that trades answer
    * quality for speed fails the run. */
  override def warmUp(): Unit = {
    val requests = probe.indices.map(k => (-(k + 1).toLong, Gen.knnString(probe(k), 10)))
    probeRecall = Gen.Tiers.map { t =>
      val got = Graft.knnServe(spark, stores(t), requests, nprobe = NProbe, rerank = Rerank)
        .select("query_id", "corpus_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recall = probe.indices.map { k =>
        got.getOrElse(-(k + 1).toLong, Set.empty[Long]).intersect(probeExact(k).toSet).size / 10.0
      }.sum / probe.size
      ctx.ops.check(f"$t mean recall@10 on the probe") {
        if (recall >= MinRecall(t)) None else Some(f"$recall%.3f < ${MinRecall(t)}")
      }
      t -> recall
    }.toMap
    Main.log("probe recall@10: " + Gen.Tiers.map(t => f"$t=${probeRecall(t)}%.4f").mkString(" "))
    Gen.Families.filterNot(_.startsWith("knn_")).flatMap(f => rounds.head.find(_.family == f)).foreach { q =>
      ctx.ops.run(s"warm-up ${q.family}")(exec(q, new Trace(false, ctx.sc)))(identity)
    }
  }

  def measure(trace: Trace, quick: Boolean): Phase = {
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val start = ctx.now()
    var done = 0
    do {
      val r = round
      val requests = rounds(r % Rounds)
      Workload.closedLoop(Clients, requests.map(q => () => {
        val t0 = System.nanoTime()
        trace.span(s"serve.${q.family}", req = r * 1000L + q.id % 1000) {
          ctx.ops.run(s"round $r ${q.family} #${q.id}")(exec(q, trace))(identity)
        }
        lat.add(Workload.ms(t0))
      }))
      done += requests.size
      round += 1
    } while (!quick && (done < MinRequests || ctx.now() - start < ctx.seconds * 1000000L))
    val end = ctx.now()
    ctx.drain()
    import scala.jdk.CollectionConverters._
    val ms = lat.asScala.toSeq
    require(quick || Stats.tailPercentile(ms.size).exists(_ >= 0.9),
      s"${ms.size} samples cannot carry p90")
    Phase(start, end, throughputPerS = ms.size / ((end - start) / 1e6), opMs = ms,
      jobsPerOp = ctx.collector.jobsBetween(start, end).size.toDouble / ms.size,
      bytesPerDoc = Workload.bytes(new java.io.File(stores("seg"))).toDouble / Docs,
      meanOpMs = ms.sum / ms.size)
  }

  /** Run one request and return its verdict (None = correct). */
  private def exec(q: Gen.Req, tr: Trace): Option[String] = q match {
    case Gen.Lexical(_, ts) =>
      val qs = ts.map(t => s"text:$t").mkString(" OR ")
      if (tr.enabled) tr.span("SolrQueryString.compileWithTerms") {
        graft.search.SolrQueryString.compileWithTerms(qs, segSchema, "text", Set("text"))
      }
      val ids = tr.span("Graft.search") {
        Graft.search(spark, stores("seg"), qs, topK = 10).select("id").collect().map(_.getString(0)).toSeq
      }
      tr.attr("rows", ids.size)
      val expected = ts.flatMap(termIds).toSet
      if (ids.size != math.min(10, expected.size)) Some(s"$qs: ${ids.size} hits, expected ${math.min(10, expected.size)}")
      else ids.find(!expected(_)).map(id => s"$qs: $id does not match")
    case Gen.TermLookup(_, t) =>
      val ids = tr.span("Graft.searchIndex") {
        Graft.searchIndex(spark, stores("seg"), "text", t, Seq("id")).collect().map(_.getString(0)).toSet
      }
      tr.attr("rows", ids.size)
      if (ids != termIds(t)) Some(s"text:$t: ${ids.size} ids, expected ${termIds(t).size}") else None
    case Gen.Facet(_, false) =>
      val got = tr.span("Graft.facetField") {
        Graft.facetField(spark, stores("seg"), "category").collect()
          .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap
      }
      tr.attr("rows", got.size)
      if (got != categoryCounts) Some(s"category facet $got, expected $categoryCounts") else None
    case Gen.Facet(_, true) =>
      val got = tr.span("Graft.rangeFacet") {
        Graft.rangeFacet(spark, stores("seg"), "likes", 0, 1000, 100).collect()
          .map(r => r.getAs[Number](0).doubleValue -> r.getAs[Number](1).longValue).toMap
      }
      tr.attr("rows", got.size)
      val expected = (0 until 10).map(b => b * 100.0 -> likesBuckets.getOrElse(b * 100.0, 0L)).toMap
      if (got != expected) Some(s"likes range facet $got, expected $expected") else None
    case Gen.Knn(id, tier, v) =>
      val ids = tr.span("Graft.knnServe") {
        Graft.knnServe(spark, stores(tier), Seq((-id, Gen.knnString(v, 10))), nprobe = NProbe,
          rerank = Rerank).orderBy("rank").select("corpus_id").collect().map(_.getLong(0)).toSeq
      }
      tr.attr("rows", ids.size)
      if (ids.size != 10 || ids.distinct.size != 10) Some(s"$tier: ${ids.size} neighbours")
      else ids.find(i => i < 0 || i >= Docs).map(i => s"$tier: no doc $i")
    case Gen.Hybrid(_, t, v) =>
      val got = tr.span("Graft.hybridSearch") {
        Graft.hybridSearch(spark, stores("seg"), stores("hnsw"), s"text:$t", Gen.knnString(v, 10),
          topN = 20).select("id", "n_lists").collect().map(r => (r.getString(0), r.getAs[Number](1).intValue)).toSeq
      }
      tr.attr("rows", got.size)
      val lexical = math.min(20, termIds(t).size)
      val both = got.filter(_._2 == 2).map(_._1)
      if (got.map(_._1).distinct.size != got.size) Some("duplicate ids in fused list")
      else if (got.size < math.max(lexical, 10) || got.size > lexical + 10)
        Some(s"fused ${got.size} ids from $lexical lexical + 10 vector hits")
      else both.find(!termIds(t)(_)).map(id => s"$id in both lists but does not match text:$t")
  }

  def layers(a: Analysis): Map[String, Double] = {
    val reqs = a.spanList.filter(s => s.parent == 0 && s.name.startsWith("serve."))
    val perFamily = Gen.Families.flatMap { f =>
      val ss = reqs.filter(_.name == s"serve.$f")
      val p50 = if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.durUs / 1000.0))
      val jobs = if (ss.isEmpty) 0.0 else ss.map(s => a.inclusive(s).jobs).sum.toDouble / ss.size
      Seq(s"search.${f}_p50_ms" -> p50, s"search.${f}_jobs_per_req" -> jobs)
    }
    val parse = a.spanList.filter(_.name == "SolrQueryString.compileWithTerms").map(_.durUs / 1000.0)
    perFamily.toMap ++ Map(
      "search.parse_ms" -> (if (parse.isEmpty) 0.0 else Stats.median(parse)),
      "ops.knn_recall_at_10" -> probeRecall.values.sum / probeRecall.size,
      "index.rows_read_per_result" -> ServeWorkload.rowsReadPerResult(a, reqs),
      "serve.driver_only_share" -> reqs.map(a.driverOnlyUs).sum.toDouble / reqs.map(_.durUs).sum) ++
      Gen.Tiers.map(t => s"ops.knn_recall_at_10_$t" -> probeRecall(t))
  }
}

object ServeWorkload {
  val Docs = 5000
  val Vocab = 8000
  val Clusters = 24
  val NList = 32
  val NProbe = 8
  val Rerank = 32
  val Clients = 2
  /** Two rounds of distinct requests: p90 needs at least ten samples
    * beyond it. Runs longer than `--seconds` cycle through the rounds. */
  val Rounds = 2
  val MinRequests = 100
  /** Recall-probe queries per ANN tier (one batch each). */
  val ProbeQueries = 48
  /** Floors on each tier's mean recall@10 on the probe, each checked as
    * one operation. Over 32 seeds the tiers reached (min-max, mean,
    * standard deviation): IVF 1.0 on every seed; IVF-PQ 0.527-0.650,
    * 0.591, 0.031; MRL 0.965-0.996, 0.985, 0.007; HNSW 0.483-0.796,
    * 0.625, 0.068. Each floor is the mean minus four standard
    * deviations, rounded down to 0.05 (IVF: 0.95), so an unseen seed
    * passes while a tier that loses a quarter of its recall (IVF-PQ),
    * under a tenth (IVF, MRL) or about 45% (HNSW, whose recall varies
    * most between seeds) fails. */
  val MinRecall: Map[String, Double] = Map("ivf" -> 0.95, "ivfpq" -> 0.45, "mrl" -> 0.95, "hnsw" -> 0.35)

  val DocSchema: StructType = StructType(Seq(StructField("id", StringType, nullable = false),
    StructField("text", StringType), StructField("category", StringType),
    StructField("likes", LongType)))
  val EmbSchema: StructType = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  /** Task records read per result row returned, over request spans. */
  def rowsReadPerResult(a: Analysis, reqs: Seq[Span]): Double = {
    val rows = reqs.flatMap(s => (s +: a.descendants(s)).flatMap(x => Option(x.attrs.get("rows"))))
      .map(_.toString.toDouble).sum
    val read = reqs.map(s => a.inclusive(s).recordsRead).sum
    if (rows == 0) 0.0 else read / rows
  }
}
