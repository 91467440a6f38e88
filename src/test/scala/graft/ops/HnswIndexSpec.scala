package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sharded deterministic-build HNSW: bit-identical graphs across
  * builds, scatter-gather top-k, recall at or above the IVF family at
  * equal candidate budget (the directive's acceptance bar). */
class HnswIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  private lazy val idx: String = {
    val out = java.nio.file.Files.createTempDirectory("hnsw_idx_").toString
    HnswIndex.build(emb, out, dim = 64)
    out
  }

  private def graphRows(o: String): Set[(Long, Int, Seq[Seq[Long]])] =
    spark.read.parquet(s"$o/graph")
      .select("corpus_id", "level", "nbrs")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[scala.collection.Seq[Long]](2).map(_.toSeq).toSeq)).toSet

  test("deterministic build: two builds over the same corpus produce " +
      "bit-identical graphs (levels, adjacency, shard membership)") {
    val again = java.nio.file.Files.createTempDirectory("hnsw_idx2_").toString
    // different input partitioning must not change the graph either
    HnswIndex.build(emb.repartition(7), again, dim = 64)
    assert(graphRows(idx) === graphRows(again))
    // the params marker's bytes are the store format: fixed key order
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$again/_hnsw_marker.json")), "UTF-8") ===
      """{"dim":64,"m":8,"efC":64,"shards":4,"idCol":"vec_id","vecCol":"embedding"}""")
  }

  test("scatter-gather query: k rows per query, rank order by (cosine " +
      "desc, id), no self-matches, repeatable") {
    val queries = emb.filter(col("vec_id") < 10)
    def run() = HnswIndex.query(spark, idx, queries, k = 5, efSearch = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val a = run()
    assert(a.size === 50)
    assert(a.forall { case (q, _, c, _) => q != c }, "self-match surfaced")
    a.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted == Seq(1, 2, 3, 4, 5))
      val cos = rows.sortBy(_._2).map(_._4)
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y },
        "ranks not in cosine order")
    }
    assert(a === run(), "query is not deterministic")
  }

  test("recall@5 >= the IVF-PQ refined path at equal candidate budget, " +
      "and >= the floor at the q313 operating point") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "corpus_id")
    def recallSum(approx: org.apache.spark.sql.DataFrame): Long =
      RankingEval.annRecallAtK(exact, approx.select("query_id", "corpus_id"), 5)
        .agg(sum("recall_milli")).head.getLong(0)
    val pqOut = java.nio.file.Files.createTempDirectory("hnsw_vs_pq_").toString
    IvfPqIndex.build(emb, pqOut, dim = 64, refineStore = true)
    // equal candidate budget: 20 candidates per query on both paths
    val ivf = recallSum(IvfPqIndex.queryRefinedStored(spark, pqOut, queries,
      k = 5, kCandidates = 20, nprobe = 8))
    val hnsw = recallSum(HnswIndex.query(spark, idx, queries, k = 5,
      efSearch = 20))
    assert(hnsw >= ivf,
      s"HNSW recall $hnsw below the IVF-PQ path $ivf at equal budget")
    // the q313 gate's operating point holds with margin for every query
    val perQuery = RankingEval.annRecallAtK(exact,
      HnswIndex.query(spark, idx, queries, k = 5, efSearch = 64)
        .select("query_id", "corpus_id"), 5)
    assert(perQuery.filter(col("recall_milli") < 800).count() === 0,
      "a query fell below the 0.8 recall floor at ef=64")
  }

  private def graphRowsLive(o: String): Set[(Long, Int, Seq[Seq[Long]])] =
    HnswIndex.readGraph(spark, o)
      .select("corpus_id", "level", "nbrs")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[scala.collection.Seq[Long]](2).map(_.toSeq).toSeq)).toSet

  test("filtered search: every hit satisfies the filter, and a scarce " +
      "filter is EXACT (the Lucene visitedLimit fallback)") {
    val queries = emb.filter(col("vec_id") < 10)
    val allowed = emb.filter(col("vec_id") % 13 === 0).select("vec_id")
    val got = HnswIndex.queryFiltered(spark, idx, queries, k = 5, allowed,
        efSearch = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._3 % 13 == 0), "a hit escaped the filter")
    // scarce => exact: identical (query, rank, id) triples to brute
    // force over the allowed corpus
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 13 === 0), queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.sorted.toSeq === exact.sorted.toSeq)
  }

  test("filtered search with a DENSE filter keeps the walk (no " +
      "fallback) and still clears the recall floor") {
    val queries = emb.filter(col("vec_id") < 10)
    val allowedDf = emb.filter(col("vec_id") % 2 === 0)
    val approx = HnswIndex.queryFiltered(spark, idx, queries, k = 5,
        allowedDf.select("vec_id"), efSearch = 64)
    val exact = Similarity.bruteForceTopK(allowedDf, queries, 5)
      .select("query_id", "corpus_id")
    val perQuery = RankingEval.annRecallAtK(exact,
      approx.select("query_id", "corpus_id"), 5)
    assert(perQuery.filter(col("recall_milli") < 800).count() === 0,
      "a dense-filtered query fell below the 0.8 recall floor")
  }

  test("add-then-query is bit-identical to build-from-scratch over " +
      "the union; the pre-add generation stays byte-readable") {
    val inc = java.nio.file.Files.createTempDirectory("hnsw_add_").toString
    HnswIndex.build(emb.filter(col("vec_id") % 2 === 0), inc, dim = 64)
    val gen0 = graphRowsLive(inc)
    HnswIndex.add(spark, inc, emb.filter(col("vec_id") % 2 === 1))
    // the rebuilt store IS the fresh full build, node for node
    assert(graphRowsLive(inc) === graphRows(idx))
    // old generation untouched (readers that resolved before the
    // swap keep serving exactly what they saw)
    val gen0Again = spark.read.parquet(s"$inc/graph")
      .select("corpus_id", "level", "nbrs")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[scala.collection.Seq[Long]](2).map(_.toSeq).toSeq)).toSet
    assert(gen0Again === gen0)
  }

  test("add is an UPSERT: re-adding an existing id replaces its " +
      "vector (one node, the new vector) — bit-identical to a fresh " +
      "build over the replaced corpus") {
    val store = java.nio.file.Files.createTempDirectory("hnsw_ups_").toString
    HnswIndex.build(emb, store, dim = 64)
    // replace id 0's vector with id 1's values
    val replacement = emb.filter(col("vec_id") === 1)
      .select(lit(0L).as("vec_id"), col("embedding"))
    HnswIndex.add(spark, store, replacement)
    val live = graphRowsLive(store)
    assert(live.count(_._1 == 0L) === 1, "re-added id duplicated")
    val fresh = java.nio.file.Files.createTempDirectory("hnsw_ups2_").toString
    HnswIndex.build(
      emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(replacement), fresh, dim = 64)
    assert(live === graphRowsLive(fresh))
  }

  test("a single-vector add writes a generation carrying ONLY its " +
      "shard (mutation I/O ∝ touched shards) and readers layer " +
      "per shard across generations") {
    val store = java.nio.file.Files.createTempDirectory("hnsw_gen_").toString
    HnswIndex.build(emb, store, dim = 64)
    val one = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    HnswIndex.add(spark, store, one)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markerBytes = {
      val p = new org.apache.hadoop.fs.Path(s"$store/_gen_1")
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, "UTF-8")
    }
    assert(markerBytes.split(",").count(_.nonEmpty) === 1,
      s"gen 1 should carry exactly one shard, carried [$markerBytes]")
    val gen1Shards = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$store/g1/graph"))
      .map(_.getPath.getName).filter(_.startsWith("shard="))
    assert(gen1Shards.length === 1, "gen 1 wrote more than its shard")
    // layered resolution still serves the fresh-build answer
    val fresh = java.nio.file.Files.createTempDirectory("hnsw_gen2_").toString
    HnswIndex.build(
      emb.select(col("vec_id"), col("embedding")).unionByName(one),
      fresh, dim = 64)
    assert(graphRowsLive(store) === graphRowsLive(fresh))
  }

  test("removeIds hides ids immediately; purgeDeletes rebuilds " +
      "bit-identically to a fresh build over the live corpus and " +
      "clears the tombstones") {
    val store = java.nio.file.Files.createTempDirectory("hnsw_del_").toString
    HnswIndex.build(emb, store, dim = 64)
    val deadIds = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    HnswIndex.removeIds(spark, store, deadIds)
    val queries = emb.filter(col("vec_id") < 10)
    // pre-purge: tombstoned ids already never surface (graph untouched)
    val pre = HnswIndex.query(spark, store, queries, k = 5, efSearch = 64)
      .collect()
    assert(pre.forall(_.getLong(2) % 5 != 0), "a tombstoned id surfaced")
    val rebuilt = HnswIndex.purgeDeletes(spark, store)
    assert(rebuilt > 0)
    val fresh = java.nio.file.Files.createTempDirectory("hnsw_del2_").toString
    HnswIndex.build(emb.filter(col("vec_id") % 5 =!= 0), fresh, dim = 64)
    assert(graphRowsLive(store) === graphRowsLive(fresh))
    assert(HnswIndex.deletes(spark, store).isEmpty, "tombstones survived")
    val post = HnswIndex.query(spark, store, queries, k = 5, efSearch = 64)
      .collect()
    assert(post.forall(_.getLong(2) % 5 != 0))
  }

  test("Serving: the resident handle answers repeated batches " +
      "identically to the one-shot path (filtered and not) off a " +
      "persisted, pre-exchanged graph") {
    val s = HnswIndex.open(spark, idx)
    try {
      assert(s.partitioned.storageLevel.useMemory ||
        s.partitioned.storageLevel.useDisk, "serving graph not persisted")
      val queries = emb.filter(col("vec_id") < 10)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      val oneShot = rows(HnswIndex.query(spark, idx, queries, 5, 64))
      assert(rows(s.query(queries, 5)) === oneShot)
      assert(rows(s.query(queries, 5)) === oneShot, "second warm batch")
      val allowed = emb.filter(col("vec_id") % 13 === 0).select("vec_id")
      assert(rows(s.queryFiltered(queries, 5, allowed)) ===
        rows(HnswIndex.queryFiltered(spark, idx, queries, 5, allowed)))
    } finally s.close()
  }

  test("crash states: an uncommitted generation dir is invisible to " +
      "readers and overwritten by the retried mutation; a reclaim " +
      "crash leaves only an orphaned dir") {
    val store = java.nio.file.Files.createTempDirectory("hnsw_crash_").toString
    HnswIndex.build(emb, store, dim = 64)
    val before = graphRowsLive(store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate a crash mid-add: a partial g1 data dir, no _gen_1 marker
    emb.limit(3).select(col("vec_id").as("corpus_id"))
      .write.parquet(s"$store/g1/graph/shard=0")
    assert(graphRowsLive(store) === before, "uncommitted gen dir leaked")
    // the retried add recomputes gen 1 and overwrites the debris
    val one = emb.filter(col("vec_id") === 1)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    HnswIndex.add(spark, store, one)
    val live = graphRowsLive(store)
    assert(live.size === before.size + 1)
    assert(live.exists(_._1 === 10001L))
    // reclaim-crash shape: marker gone, dir still present → never resolved
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/_gen_1"), false)
    assert(graphRowsLive(store) === before,
      "a marker-less generation dir must never resolve")
  }

  test("reclaimGenerations removes fully-shadowed generations outside " +
      "the retain window; resolution is unchanged") {
    val store = java.nio.file.Files.createTempDirectory("hnsw_rec_").toString
    HnswIndex.build(emb, store, dim = 64)
    def batch(off: Int) = emb.filter(col("vec_id") < 100)
      .select((col("vec_id") + off).as("vec_id"), col("embedding"))
    HnswIndex.add(spark, store, batch(20000)) // gen 1: spans every shard
    HnswIndex.add(spark, store, batch(30000)) // gen 2: spans every shard
    val before = graphRowsLive(store)
    // retain=2 keeps both: nothing reclaimable
    assert(HnswIndex.reclaimGenerations(spark, store, retain = 2) === 0)
    val removed = HnswIndex.reclaimGenerations(spark, store, retain = 1)
    assert(removed === 1, "gen 1 is fully shadowed by gen 2")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/_gen_1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/g1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/_gen_2")))
    assert(graphRowsLive(store) === before, "reclaim changed resolution")
  }

  test("scarce-filter exactness holds across 20 random (filter, k, ef) " +
      "combinations — the q314 oracle contract, fuzzed") {
    val rnd = new scala.util.Random(14) // fixed seed: deterministic sweep
    val queries = emb.filter(col("vec_id") < 5)
    (1 to 20).foreach { i =>
      val mod = 11 + rnd.nextInt(30)          // scarce: <=46 allowed of 500
      val off = rnd.nextInt(mod)
      val k = 1 + rnd.nextInt(7)
      val ef = 48 + rnd.nextInt(80)           // always > allowed-per-shard
      val allowedDf = emb.filter(col("vec_id") % mod === off)
      val got = HnswIndex.queryFiltered(spark, idx, queries, k,
          allowedDf.select("vec_id"), efSearch = ef)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sorted.toSeq
      val want = Similarity.bruteForceTopK(allowedDf, queries, k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sorted.toSeq
      assert(got === want,
        s"combo #$i (mod=$mod off=$off k=$k ef=$ef) diverged from exact")
    }
  }

  test("a purge whose rebuilds empty every touched shard still " +
      "commits a SERVABLE store: file-less generation dirs read as " +
      "empty frames, and later adds land in a fresh generation") {
    val store = java.nio.file.Files.createTempDirectory("hnsw_empty_").toString
    val small = emb.filter(col("vec_id") < 12)
    HnswIndex.build(small, store, dim = 64)
    HnswIndex.removeIds(spark, store, small.select("vec_id"))
    assert(HnswIndex.purgeDeletes(spark, store) > 0)
    val queries = emb.filter(col("vec_id") < 3)
    // the emptied store must answer (with nothing), not throw on a
    // generation dir that holds no parquet files
    assert(HnswIndex.query(spark, store, queries, k = 5).collect().isEmpty)
    val refill = emb.filter(col("vec_id") >= 12 && col("vec_id") < 24)
    HnswIndex.add(spark, store, refill)
    val post = HnswIndex.query(spark, store, queries, k = 5).collect()
    assert(post.nonEmpty, "the emptied-then-refilled store went dark")
    assert(post.forall(r => r.getLong(2) >= 12 && r.getLong(2) < 24))
  }

  test("the tombstone warning fires past the configured bound on the " +
      "scatter path and stays silent under it") {
    val store = java.nio.file.Files.createTempDirectory("hnsw_tomb_").toString
    HnswIndex.build(emb.filter(col("vec_id") < 40), store, dim = 64)
    HnswIndex.removeIds(spark, store,
      emb.filter(col("vec_id") < 5).select("vec_id"))
    val queries = emb.filter(col("vec_id") < 3)
    try {
      spark.conf.set(AnnTombstones.ThresholdConf, "100")
      AnnTombstones.reset()
      HnswIndex.query(spark, store, queries, k = 3).collect()
      assert(AnnTombstones.lastWarning.isEmpty, "warned under the bound")
      spark.conf.set(AnnTombstones.ThresholdConf, "2")
      HnswIndex.query(spark, store, queries, k = 3).collect()
      val w = AnnTombstones.lastWarning
      assert(w.isDefined, "no warning past the bound")
      assert(w.get.contains("purgeDeletes") && w.get.contains(store))
    } finally {
      spark.conf.unset(AnnTombstones.ThresholdConf)
      AnnTombstones.reset()
    }
  }

  test("sharding is a pure partition of the corpus: every id appears " +
      "in exactly one shard; more shards still answer") {
    val g = spark.read.parquet(s"$idx/graph")
    assert(g.select("corpus_id").distinct().count() === emb.count())
    assert(g.groupBy("corpus_id").count().filter(col("count") > 1).count() === 0)
    val wide = java.nio.file.Files.createTempDirectory("hnsw_wide_").toString
    HnswIndex.build(emb, wide, dim = 64, shards = 8)
    val queries = emb.filter(col("vec_id") < 3)
    val got = HnswIndex.query(spark, wide, queries, k = 3, efSearch = 64)
      .collect()
    assert(got.length === 9)
  }

  test("a PINNED snapshot reproduces its pre-mutation answers " +
      "bit-for-bit through add + stream + remove + purge + fold + " +
      "reclaim, and releases back into reclaim eligibility") {
    val out = java.nio.file.Files.createTempDirectory("hnsw_pin_").toString
    val emb100 = emb.filter(col("vec_id") < 100)
    val evens = emb100.filter(col("vec_id") % 2 === 0)
    HnswIndex.build(evens, out, dim = 64)
    // pre-pin state carries all three mutable layers: a streamed
    // delta row, a tombstone, and one committed generation (an add)
    HnswIndex.add(spark, out, emb100.filter(col("vec_id") === 1))
    assert(HnswIndex.addBatchDelta(spark, out,
      emb100.filter(col("vec_id") === 3), 0L, "pin"))
    HnswIndex.removeIds(spark, out,
      emb100.filter(col("vec_id") === 4).select("vec_id"))
    val queries = emb.filter(col("vec_id") < 6)
    def exactRows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    val allowed = emb100.select("vec_id")
    val want = exactRows(HnswIndex.queryFiltered(spark, out, queries,
      k = 5, allowed, efSearch = 512))
    val pin = HnswIndex.pinSnapshot(spark, out)
    // mutate EVERYTHING: upsert pinned ids, stream, tombstone more,
    // purge (clears live tombstones), fold, reclaim aggressively
    HnswIndex.add(spark, out, emb100.filter(col("vec_id") < 20)
      .select(col("vec_id"), transform(col("embedding")
        .cast("array<double>"), x => x * lit(-1.0)).as("embedding")))
    assert(HnswIndex.addBatchDelta(spark, out,
      emb100.filter(col("vec_id") === 5), 1L, "pin"))
    HnswIndex.removeIds(spark, out,
      emb100.filter(col("vec_id") % 3 === 0).select("vec_id"))
    HnswIndex.purgeDeletes(spark, out)
    HnswIndex.foldDelta(spark, out)
    HnswIndex.reclaimGenerations(spark, out, retain = 1)
    // the live answers moved; the pinned ones must not have
    val live = exactRows(HnswIndex.queryFiltered(spark, out, queries,
      k = 5, allowed, efSearch = 512))
    assert(live !== want, "mutations were supposed to move live answers")
    val pinned = exactRows(HnswIndex.queryPinned(spark, out, pin, queries,
      k = 5, efSearch = 512, allowed = Some(allowed)))
    assert(pinned === want, "pinned snapshot drifted under mutations")
    // release: the pin's generations re-enter reclaim; the live view
    // is untouched
    HnswIndex.releaseSnapshot(spark, out, pin)
    HnswIndex.reclaimGenerations(spark, out, retain = 1)
    assert(exactRows(HnswIndex.queryFiltered(spark, out, queries,
      k = 5, allowed, efSearch = 512)) === live)
    intercept[IllegalArgumentException] {
      HnswIndex.queryPinned(spark, out, pin, queries, k = 5)
    }
  }
}
