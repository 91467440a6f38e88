package graft.index

import graft.TestSpark
import graft.route.HashRangeRouter
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The segment-index format + sink, verified the way the reference
  * verifies its builds: open the output with a RAW reader and query it
  * back (SolrIndexDriverTest.java:54-61 — MatchAllDocsQuery count ==
  * docs written, one segment after optimize; SolrMergeDriverTest —
  * merge keeps every doc). */
class SegmentIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def conf = new Configuration()
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("varint roundtrip incl. multi-byte and zero") {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val vals = Seq(0, 1, 127, 128, 300, 16383, 16384, Int.MaxValue)
    vals.foreach(SegmentIndex.writeVInt(out, _))
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(vals.map(_ => SegmentIndex.readVInt(in)) === vals)
  }

  test("per-field seek index: scoped reads equal full-parse projections, .fdx " +
    "random access equals streaming, survives copy-merge and forceMerge") {
    val dir = tmp("graft_seek_")
    val w = SegmentIndex.writer(dir, conf, analyzed = Set("body"))
    (0 until 50).foreach { i =>
      w.addDocument(Seq("id" -> i.toString, "grp" -> s"g${i % 3}",
        "val" -> s"v${i % 7}", "body" -> s"token$i shared word"))
    }
    w.close()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val segName = SegmentIndex.reader(dir, conf).commit.segments.head.name
    // field-scoped postings == the full parse, projected
    val full = SegmentIndex.readPostings(fs, p, segName)
    val scoped = SegmentIndex.readPostingsFields(fs, p, segName, Set("grp", "val"))
    assert(scoped.keySet === Set("grp", "val"))
    scoped.foreach { case (f, ts) =>
      assert(ts.keySet === full(f).keySet)
      ts.foreach { case (t, ords) => assert(ords.toSeq === full(f)(t).toSeq) }
    }
    // positional single-field view == full positional projection
    val posFull = SegmentIndex.readPostingsPositions(fs, p, segName)("body")
    val posOne = SegmentIndex.readPostingsPositionsField(fs, p, segName, "body")
    assert(posOne.keySet === posFull.keySet)
    posOne.foreach { case (t, arr) =>
      assert(arr.map(_._1).toSeq === posFull(t).map(_._1).toSeq)
      arr.zip(posFull(t)).foreach { case ((_, ps), (_, psF)) =>
        assert(ps.toSeq === psF.toSeq)
      }
    }
    // .fdx seek path (selective) == streamed pick, in ord order
    val all = SegmentIndex.readStoredDocs(fs, p, segName)
    val picks = Array(3, 17, 42)
    assert(SegmentIndex.readStoredDocsAt(fs, p, segName, picks, 50) ===
      picks.toIndexedSeq.map(all))
    // large selections take the streaming path, same result
    val most = (0 until 40).toArray
    assert(SegmentIndex.readStoredDocsAt(fs, p, segName, most, 50) ===
      most.toIndexedSeq.map(all))
    // a store without .fdx (older segment) falls back to streaming
    fs.delete(new Path(p, s"$segName.fdx"), false)
    assert(SegmentIndex.readStoredDocsAt(fs, p, segName, picks, 50) ===
      picks.toIndexedSeq.map(all))
    // copy-merge carries the seek files; forceMerge rewrites them
    val dir2 = tmp("graft_seek_dst_")
    val w2 = SegmentIndex.writer(dir2, conf, analyzed = Set("body"))
    w2.addIndexes(Seq(p))
    // a second segment so forceMerge below genuinely rewrites
    w2.addDocument(Seq("id" -> "extra", "grp" -> "g1", "val" -> "v0",
      "body" -> "shared"))
    w2.close()
    val r2 = SegmentIndex.reader(dir2, conf)
    assert(r2.termDocs("grp", "g1").size === 18)
    w2.forceMerge(1)
    val r3 = SegmentIndex.reader(dir2, conf)
    val mergedSeg = r3.commit.segments.head.name
    assert(r3.commit.segments.size === 1)
    assert(fs.exists(new Path(new Path(dir2), s"$mergedSeg.fdx")))
    assert(r3.termDocs("grp", "g1").size === 18)
  }

  test("writer/reader roundtrip: stored docs, postings, multivalued fields") {
    val dir = tmp("graft_segidx_")
    val w = SegmentIndex.writer(dir, conf)
    w.addDocument(Seq("id" -> "1", "value" -> "alpha", "tag" -> "x", "tag" -> "y"))
    w.addDocument(Seq("id" -> "2", "value" -> "beta", "tag" -> "x"))
    w.commit()
    w.addDocument(Seq("id" -> "3", "value" -> "alpha")) // second segment
    w.close()

    val r = SegmentIndex.reader(dir, conf)
    assert(r.matchAllCount === 3L)
    assert(r.numSegments === 2)
    assert(r.termQueryCount("value", "alpha") === 2L)
    assert(r.termQueryCount("tag", "x") === 2L)
    assert(r.termQueryCount("tag", "y") === 1L)
    assert(r.termQueryCount("value", "missing") === 0L)
    val doc2 = r.termDocs("id", "2")
    assert(doc2.size === 1 && doc2.head.toMap.apply("value") === "beta")
  }

  test("forceMerge(1): one segment, same docs, old files deleted") {
    val dir = tmp("graft_segfm_")
    val w = SegmentIndex.writer(dir, conf)
    (1 to 10).foreach { i =>
      w.addDocument(Seq("id" -> i.toString, "value" -> s"v$i"))
      w.commit() // 10 one-doc segments
    }
    assert(SegmentIndex.reader(dir, conf).numSegments === 10)
    w.forceMerge(1)
    val r = SegmentIndex.reader(dir, conf)
    assert(r.numSegments === 1)
    assert(r.matchAllCount === 10L)
    assert(r.termQueryCount("value", "v7") === 1L)
    // old segment files physically gone, one .fld/.trm pair remains
    val files = new java.io.File(dir).list().toSeq
    assert(files.count(_.endsWith(".fld")) === 1)
    assert(files.count(_.endsWith(".trm")) === 1)
  }

  test("addIndexes: logical merge keeps all docs without rewriting") {
    val src1 = tmp("graft_segsrc1_")
    val src2 = tmp("graft_segsrc2_")
    val dst = tmp("graft_segdst_")
    val w1 = SegmentIndex.writer(src1, conf)
    (1 to 5).foreach(i => w1.addDocument(Seq("id" -> s"a$i")))
    w1.close()
    val w2 = SegmentIndex.writer(src2, conf)
    (1 to 7).foreach(i => w2.addDocument(Seq("id" -> s"b$i")))
    w2.close()
    val wd = SegmentIndex.writer(dst, conf)
    wd.addIndexes(Seq(new Path(src1), new Path(src2)))
    wd.commit()
    val r = SegmentIndex.reader(dst, conf)
    assert(r.matchAllCount === 12L)
    assert(r.termQueryCount("id", "b3") === 1L)
  }

  // --- the E2E mirror of SolrIndexDriverTest: TSV fixture ("i\tvalue{i}",
  // IndexingTestCase.java:30-36) -> build -> merge -> raw-reader asserts ---
  test("E2E: TSV fixture -> 8 micro shards -> mergeTree to 1 -> optimize; " +
    "match-all == distinct ids, 1 segment") {
    import spark.implicits._
    val out = tmp("graft_segstore_")
    val docs = (0 until 100).map(i => (i.toString, s"value$i"))
      .toDF("id", "value")
    SegmentShardSink.write(docs, "id", out, shards = 1, microShards = 8)
    // 8 part dirs, every doc present exactly once
    val counts0 = SegmentShardSink.docCounts(spark, out).collect()
    assert(counts0.length === 8)
    assert(counts0.map(_.getLong(1)).sum === 100L)

    SegmentShardSink.mergeTree(spark, out, shards = 1, fanout = 2) // 3 rounds
    val merged = SegmentShardSink.docCounts(spark, out).collect()
    assert(merged.length === 1)
    assert(merged.head.getLong(1) === 100L)

    SegmentShardSink.optimize(spark, out) // forceMerge(1)
    val r = SegmentIndex.reader(s"$out/part-00000/data/index", conf)
    assert(r.matchAllCount === 100L)   // MatchAllDocsQuery == docs written
    assert(r.numSegments === 1)        // forceMerge leaves one segment
    assert(r.termQueryCount("value", "value42") === 1L)
    assert(r.termDocs("value", "value42").head.toMap.apply("id") === "42")
  }

  test("routing parity: every doc lands in the shard HashRangeRouter names") {
    import spark.implicits._
    val out = tmp("graft_segroute_")
    val docs = (0 until 200).map(i => (s"doc$i", s"v$i")).toDF("id", "value")
    SegmentShardSink.write(docs, "id", out, shards = 4)
    val router = HashRangeRouter(4)
    for (part <- 0 until 4) {
      val r = SegmentIndex.reader(s"$out/part-0000$part/data/index", conf)
      r.allDocs().foreach { d =>
        assert(router.shardOfId(d.toMap.apply("id")) === part,
          s"doc ${d.toMap.apply("id")} in wrong shard $part")
      }
    }
  }

  test("fused dedup: retain-most-recent survivor inside the sink's one shuffle") {
    import spark.implicits._
    val out = tmp("graft_segdedup_")
    val docs = Seq(
      ("k1", "old", 1L), ("k1", "new", 9L),
      ("k2", "only", 5L)).toDF("id", "value", "ts")
    SegmentShardSink.write(docs, "id", out, shards = 2,
      dedupOrder = Some(col("ts")))
    val all = (0 until 2).flatMap { p =>
      SegmentIndex.reader(s"$out/part-0000$p/data/index", conf).allDocs()
    }.map(_.toMap)
    assert(all.size === 2)
    assert(all.find(_("id") == "k1").get("value") === "new")
  }

  test("go-live: built shards MERGEINDEXES into live serving indexes, commit bumps") {
    import spark.implicits._
    // a "live cluster": 2 serving indexes that already hold documents
    val live = (0 until 2).map { i =>
      val d = tmp(s"graft_seglive${i}_")
      val w = SegmentIndex.writer(d, conf)
      w.addDocument(Seq("id" -> s"pre$i", "value" -> "existing"))
      w.close()
      d
    }
    val preGens = live.map(d => SegmentIndex.reader(d, conf).commit.gen)
    // build a 2-shard store offline, then go-live it
    val out = tmp("graft_segbuild_")
    val docs = (0 until 50).map(i => (s"doc$i", s"v$i")).toDF("id", "value")
    SegmentShardSink.write(docs, "id", out, shards = 2)
    new SegmentStoreGoLive(conf).goLive(GoLive.segmentShardDirs(out, conf), live)
    // every live index now serves old + its shard's new docs
    val readers = live.map(d => SegmentIndex.reader(d, conf))
    assert(readers.map(_.matchAllCount).sum === 52L)
    readers.zipWithIndex.foreach { case (r, i) =>
      assert(r.termQueryCount("id", s"pre$i") === 1L) // pre-existing doc kept
      assert(r.commit.gen > preGens(i))               // new commit published
    }
    // the deployed docs live in the shard the router names
    val router = HashRangeRouter(2)
    readers.zipWithIndex.foreach { case (r, i) =>
      r.allDocs().map(_.toMap.apply("id")).filter(_.startsWith("doc"))
        .foreach(id => assert(router.shardOfId(id) === i))
    }
  }

  test("deleteDocuments: tombstones mask term + match-all + stored reads; commit publishes") {
    val dir = tmp("graft_segdel_")
    val w = SegmentIndex.writer(dir, conf)
    (1 to 6).foreach(i => w.addDocument(Seq("id" -> i.toString,
      "color" -> (if (i % 2 == 0) "red" else "blue"))))
    w.commit()
    w.addDocument(Seq("id" -> "7", "color" -> "red")) // second segment
    w.commit()

    val n = w.deleteDocuments("color", "red")
    assert(n === 4)
    // not yet visible — publication happens at commit
    assert(SegmentIndex.reader(dir, conf).matchAllCount === 7L)
    w.commit()
    val r = SegmentIndex.reader(dir, conf)
    assert(r.matchAllCount === 3L)
    assert(r.termQueryCount("color", "red") === 0L)
    assert(r.termQueryCount("color", "blue") === 3L)
    assert(r.allDocs().map(_.toMap.apply("id")).toSet === Set("1", "3", "5"))
    // second delete on the same term is a no-op
    assert(w.deleteDocuments("color", "red") === 0)
    // deletes accumulate across generations
    assert(w.deleteDocuments("id", "3") === 1)
    w.commit()
    assert(SegmentIndex.reader(dir, conf).matchAllCount === 2L)
  }

  test("delete-then-add re-adds under the same key (the Solr update idiom)") {
    val dir = tmp("graft_segupd_")
    val w = SegmentIndex.writer(dir, conf)
    w.addDocument(Seq("id" -> "k", "v" -> "old"))
    w.commit()
    w.deleteDocuments("id", "k")
    w.addDocument(Seq("id" -> "k", "v" -> "new")) // buffered doc NOT hit by delete
    w.commit()
    val r = SegmentIndex.reader(dir, conf)
    assert(r.matchAllCount === 1L)
    assert(r.termDocs("id", "k").head.toMap.apply("v") === "new")
  }

  test("fully-deleted segment drops at commit; forceMerge reclaims tombstones") {
    val dir = tmp("graft_segreclaim_")
    val w = SegmentIndex.writer(dir, conf)
    w.addDocument(Seq("id" -> "a", "g" -> "dead"))
    w.addDocument(Seq("id" -> "b", "g" -> "dead"))
    w.commit() // segment 1: all docs will die
    w.addDocument(Seq("id" -> "c", "g" -> "dead"))
    w.addDocument(Seq("id" -> "d", "g" -> "live"))
    w.commit() // segment 2: half dies
    w.deleteDocuments("g", "dead")
    w.commit()
    val r1 = SegmentIndex.reader(dir, conf)
    assert(r1.matchAllCount === 1L)
    assert(r1.numSegments === 1) // the all-dead segment is gone
    assert(r1.commit.segments.head.dels === 1)
    w.forceMerge(1)
    val r2 = SegmentIndex.reader(dir, conf)
    assert(r2.matchAllCount === 1L)
    assert(r2.commit.segments.head.dels === 0) // tombstones reclaimed
    val files = new java.io.File(dir).list().toSeq
    assert(!files.exists(_.endsWith(".del")))
    assert(files.count(_.endsWith(".fld")) === 1)
  }

  test("addIndexes materializes deletions instead of resurrecting them") {
    val src = tmp("graft_segsrcdel_")
    val ws = SegmentIndex.writer(src, conf)
    (1 to 5).foreach(i => ws.addDocument(Seq("id" -> i.toString)))
    ws.commit()
    ws.deleteDocuments("id", "2")
    ws.deleteDocuments("id", "4")
    ws.commit()
    val dst = tmp("graft_segdstdel_")
    val wd = SegmentIndex.writer(dst, conf)
    wd.addIndexes(Seq(new Path(src)))
    wd.commit()
    val r = SegmentIndex.reader(dst, conf)
    assert(r.matchAllCount === 3L)
    assert(r.termQueryCount("id", "2") === 0L)
    assert(r.allDocs().map(_.toMap.apply("id")).toSet === Set("1", "3", "5"))
  }

  test("distributed deleteByTerm + scatter-gather search over a store") {
    import spark.implicits._
    val out = tmp("graft_segdistdel_")
    val docs = (0 until 100).map(i => (i.toString, if (i % 4 == 0) "drop" else "keep"))
      .toDF("id", "fate")
    SegmentShardSink.write(docs, "id", out, shards = 4)
    // search before: scatter-gather finds every match
    val hits = SegmentSearch.termQuery(spark, out, "fate", "drop", Seq("id"))
    assert(hits.count() === 25L)
    val deleted = SegmentShardSink.deleteByTerm(spark, out, "fate", "drop")
    assert(deleted === 25L)
    assert(SegmentSearch.termQuery(spark, out, "fate", "drop", Seq("id")).count() === 0L)
    val survivors = SegmentSearch.matchAll(spark, out, Seq("id", "fate"))
    assert(survivors.count() === 75L)
    assert(survivors.filter(col("fate") === "drop").count() === 0L)
    // doc counts view reflects tombstones; optimize reclaims them
    assert(SegmentShardSink.docCounts(spark, out).agg(sum("docs")).head.getLong(0) === 75L)
    SegmentShardSink.optimize(spark, out)
    assert(SegmentSearch.matchAll(spark, out, Seq("id")).count() === 75L)
  }

  test("array columns index one posting per element; typed values render canonically") {
    import spark.implicits._
    val out = tmp("graft_segarr_")
    val docs = Seq(
      ("d1", Seq("red", "blue"), 7L),
      ("d2", Seq("red"), 8L)).toDF("id", "tags", "n")
    SegmentShardSink.write(docs, "id", out, shards = 1)
    val r = SegmentIndex.reader(s"$out/part-00000/data/index", conf)
    assert(r.termQueryCount("tags", "red") === 2L)
    assert(r.termQueryCount("tags", "blue") === 1L)
    // a single-valued numeric column indexes under the SORTABLE
    // encoding (typed-field contract) — the raw dictionary holds the
    // encoded term, the search surface takes/returns plain values
    assert(r.termQueryCount("n", NumericTerms.encodeLong(7L)) === 1L)
    assert(SegmentSearch.termQuery(spark, out, "n", "7", Seq("id", "n"))
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq === Seq(("d1", "7")))
  }

  test("deleteDocumentsBatch == per-term deletes; termDocsIn dedupes multivalued hits") {
    val dir = tmp("graft_batchdel_")
    val w = SegmentIndex.writer(dir, conf)
    w.addDocument(Seq("id" -> "1", "tag" -> "a", "tag" -> "b"))
    w.addDocument(Seq("id" -> "2", "tag" -> "a"))
    w.addDocument(Seq("id" -> "3", "tag" -> "c"))
    w.commit()
    // a doc matching BOTH queried terms comes back once
    val r0 = SegmentIndex.reader(dir, conf)
    assert(r0.termDocsIn("tag", Seq("a", "b")).map(_.toMap.apply("id")).sorted === Seq("1", "2"))
    val deleted = w.deleteDocumentsBatch("id", Set("1", "3", "nope"))
    assert(deleted === 2)
    w.commit()
    val r = SegmentIndex.reader(dir, conf)
    assert(r.matchAllCount === 1L)
    assert(r.termDocsIn("id", Seq("1", "2", "3")).map(_.toMap.apply("id")) === Seq("2"))
  }

  test("termStats: live doc frequency per term, deletes excluded, segments summed") {
    val dir = tmp("graft_tstats_")
    val w = SegmentIndex.writer(dir, conf)
    w.addDocument(Seq("id" -> "1", "seg" -> "x"))
    w.addDocument(Seq("id" -> "2", "seg" -> "x"))
    w.commit() // segment 1
    w.addDocument(Seq("id" -> "3", "seg" -> "x"))
    w.addDocument(Seq("id" -> "4", "seg" -> "y"))
    w.commit() // segment 2
    assert(SegmentIndex.reader(dir, conf).termStats("seg") === Map("x" -> 3L, "y" -> 1L))
    w.deleteDocuments("id", "2")
    w.commit()
    assert(SegmentIndex.reader(dir, conf).termStats("seg") === Map("x" -> 2L, "y" -> 1L))
  }

  test("upsert: updates replace, new ids append, untouched rows survive; " +
    "duplicate-id batch rejected") {
    import spark.implicits._
    val out = tmp("graft_upsert_")
    val base = (1 to 40).map(i => (i.toString, s"name$i")).toDF("id", "name")
    SegmentShardSink.write(base, "id", out, shards = 2, microShards = 4)
    val delta = Seq(("7", "name7 v2"), ("20", "name20 v2"), ("99", "brand new"))
      .toDF("id", "name")
    SegmentShardSink.upsert(spark, out, delta)
    val got = SegmentSearch.matchAll(spark, out, Seq("id", "name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size === 41) // 40 base - 0 lost + 1 new
    assert(got("7") === "name7 v2" && got("20") === "name20 v2")
    assert(got("99") === "brand new")
    assert(got("8") === "name8")
    // same-batch id collision is a caller bug, refused loudly — and
    // ATOMICALLY (r18, the staged-publish protocol): the refused batch
    // must leave the store byte-identical, even though other micro
    // shards' tasks completed their (staged) writes before the
    // duplicate was hit
    def snapshot(): Map[String, (Long, String)] = {
      val root = java.nio.file.Paths.get(out)
      val md = java.security.MessageDigest.getInstance("MD5")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          root.relativize(p).toString ->
            (bytes.length.toLong, md.digest(bytes).map(b => f"$b%02x").mkString)
        }.toMap
    }
    val before = snapshot()
    // duplicates land in ONE micro shard; the other rows spread across
    // all four — without staging, their parts would publish commits
    val bad = ((1 to 40).map(i => (i.toString, s"poison$i")) ++
      Seq(("5", "dup"))).toDF("id", "name")
    assertThrows[IllegalArgumentException] {
      SegmentShardSink.upsert(spark, out, bad)
    }
    assert(snapshot() === before,
      "a refused upsert batch must leave the store byte-identical")
    // the same refusal with a one-doc flush threshold: every writer
    // flushes a segment per doc, so the refused part has segments on
    // disk when it hits the duplicate — they must not outlive the batch
    assertThrows[IllegalArgumentException] {
      SegmentShardSink.upsertBuffered(spark, out, bad, SegmentIndex.MergePolicy(),
        retainGenerations = 1, maxBufferedDocs = 1)
    }
    assert(snapshot() === before,
      "a refused upsert batch that flushed mid-write left files behind")
    // and the store still serves — a clean retry of a corrected batch
    SegmentShardSink.upsert(spark, out,
      Seq(("5", "name5 v2")).toDF("id", "name"))
    val after = SegmentSearch.matchAll(spark, out, Seq("id", "name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after.size === 41 && after("5") === "name5 v2")
    assert(after("7") === "name7 v2" && after("12") === "name12")
  }

  test("analyzed fields: token postings, verbatim stored values, survive forceMerge and upsert") {
    import spark.implicits._
    val out = tmp("graft_ana_")
    val df = Seq(
      ("1", "Spark Shuffles Data", "keep-exact"),
      ("2", "the data pipeline", "keep-exact"),
      ("3", "no match here", "other")).toDF("id", "body", "tag")
    SegmentShardSink.write(df, "id", out, shards = 2, analyzedFields = Set("body"))
    def hits(term: String) =
      SegmentSearch.termQuery(spark, out, "body", term, Seq("id", "body"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // token match, case folded; stored value verbatim
    assert(hits("data").keySet === Set("1", "2"))
    assert(hits("data")("1") === "Spark Shuffles Data")
    assert(hits("spark").keySet === Set("1"))
    // full original string is NOT a term on an analyzed field
    assert(hits("Spark Shuffles Data").isEmpty)
    // non-analyzed field still matches exactly
    assert(SegmentSearch.termQuery(spark, out, "tag", "keep-exact", Seq("id"))
      .count() === 2L)
    // forceMerge rewrites postings — analyzer must re-apply
    SegmentShardSink.optimize(spark, out)
    assert(hits("data").keySet === Set("1", "2"))
    // upsert re-analyzes the delta with the store's config
    SegmentShardSink.upsert(spark, out,
      Seq(("3", "actually data too", "other")).toDF("id", "body", "tag"))
    assert(hits("data").keySet === Set("1", "2", "3"))
    // termStats counts tokens for analyzed fields
    val stats = SegmentSearch.fieldTerms(spark, out, "body")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("data") === 3L && stats("spark") === 1L)
  }

  test("rangeFacet: gap buckets from pushed facet counts, empty kept at 0, fq honored") {
    import spark.implicits._
    val out = tmp("graft_rangefacet_")
    // sizes: 5,15,15,35 (k), 25 (other) — bucket 20 empty under the fq
    val df = Seq(
      ("1", "5", "k"), ("2", "15", "k"), ("3", "15", "k"),
      ("4", "35", "k"), ("5", "25", "o"), ("6", "oops", "k") // non-numeric drops
    ).toDF("id", "size", "grp")
    SegmentShardSink.write(df, "id", out, shards = 2)
    val got = SegmentSearch.rangeFacet(spark, out, "size",
      start = 0.0, end = 40.0, gap = 10.0, q = "grp:k")
    // the counting half is the pushed facet (postings only)…
    val inner = SegmentSearch.pushedTermCounts(spark, out, "size", "grp:k")
      .queryExecution.executedPlan.toString
    assert(inner.contains("pushedTerm=grp:k") && inner.contains("pushedGroupBy=size"),
      inner.take(2000))
    // …and the bucketing composes past the barrier with a broadcast
    // spine (the barrier keeps the cast predicates out of the scan)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(got.collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap ===
      Map(0.0 -> 1L, 10.0 -> 2L, 20.0 -> 0L, 30.0 -> 1L))
    // deletes flow through the pushed counts
    SegmentShardSink.deleteByTerm(spark, out, "id", "2")
    assert(SegmentSearch.rangeFacet(spark, out, "size", 0.0, 40.0, 10.0, "grp:k")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap ===
      Map(0.0 -> 1L, 10.0 -> 1L, 20.0 -> 0L, 30.0 -> 1L))
  }

  test("splitShard: midpoint split, explicit ranges published, routing invariants hold") {
    import graft.TestSpark
    import graft.route.SolrHash
    val sp = TestSpark.spark
    import sp.implicits._
    val out = tmp("graft_split_")
    val docs = (1 to 200).map(i => (i.toString, s"name$i"))
    SegmentShardSink.write(docs.toDF("id", "name"), "id", out, shards = 2)
    SegmentShardSink.splitShard(sp, out, 0)
    val conf = ShardIndex.hadoopConf(sp)
    val m = SegmentShardSink.readMarker(conf, out)
    assert(m.shards === 3 && m.parts === 3)
    val ranges = m.ranges.get
    // contiguous full-space cover, split at the old shard-0 midpoint
    assert(ranges.head._1 === Int.MinValue && ranges.last._2 === Int.MaxValue)
    ranges.sliding(2).foreach { case Seq((_, e), (s2, _)) => assert(s2 === e + 1); case _ => }
    // every live doc sits in the part whose range holds its hash
    val router = m.router
    val dirs = SegmentShardSink.partIndexDirs(sp, out)
    assert(dirs.size === 3)
    dirs.zipWithIndex.foreach { case (d, i) =>
      val p = new Path(d)
      val r = new SegmentIndex.Reader(p.getFileSystem(conf), p)
      r.allDocs().foreach { doc =>
        val id = SegmentIndex.firstValues(doc)("id")
        assert(router.shardOfHash(SolrHash.compositeHash(id)) === i,
          s"doc $id mis-routed in part $i")
      }
    }
    // nothing lost, nothing duplicated
    val ids = sp.read.format("graft-index").load(out)
      .select("id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq === docs.map(_._1).sorted)
    // upsert routes with the NEW explicit ranges (update + fresh doc)
    SegmentShardSink.upsert(sp, out,
      Seq(("7", "updated7"), ("201", "name201")).toDF("id", "name"))
    val after = sp.read.format("graft-index").load(out)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after("7") === "updated7" && after("201") === "name201" &&
      after.size === 201)
    // the updated docs landed on the range-owning part
    Seq("7", "201").foreach { id =>
      val owner = router.shardOfHash(SolrHash.compositeHash(id))
      val p = new Path(dirs(owner))
      val r = new SegmentIndex.Reader(p.getFileSystem(conf), p)
      assert(r.termDocs("id", id).nonEmpty, s"id $id not on owning part $owner")
    }
    // splitting the (new) last shard exercises the no-shift path
    SegmentShardSink.splitShard(sp, out, 2)
    val m2 = SegmentShardSink.readMarker(conf, out)
    assert(m2.shards === 4 &&
      sp.read.format("graft-index").load(out).count() === 201L)
  }

  test("moreLikeThis: seed term vector from positions, candidates from postings, " +
    "seed excluded, deletes honored") {
    import graft.TestSpark
    val sp = TestSpark.spark
    import sp.implicits._
    val out = tmp("graft_mlt_")
    // seed 1: rare tokens xq zq + common token the; docs 2/3 share
    // rare tokens, doc 4 shares only 'the' (low idf, still counted
    // when within topTerms)
    val df = Seq(
      ("1", "xq zq the"), ("2", "xq zq other"), ("3", "zq alone"),
      ("4", "the common"), ("5", "nothing shared")
    ).toDF("id", "body")
    SegmentShardSink.write(df, "id", out, shards = 2, analyzedFields = Set("body"))
    def mlt() = SegmentSearch.moreLikeThis(sp, out, "body", "1", topTerms = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mlt() === Map("2" -> 2L, "3" -> 1L, "4" -> 1L))
    // doc 2 deleted -> out of candidates AND out of df stats
    SegmentShardSink.deleteByTerm(sp, out, "id", "2")
    assert(mlt() === Map("3" -> 1L, "4" -> 1L))
    // unknown seed -> empty frame, not an error
    assert(SegmentSearch.moreLikeThis(sp, out, "body", "404").count() === 0L)
    // non-analyzed field refused
    intercept[IllegalArgumentException] {
      SegmentSearch.moreLikeThis(sp, out, "id", "1")
    }
  }

  test("facetField: multivalued/analyzed Solr facet semantics, null bucket ordinal-distinct") {
    import graft.TestSpark
    val sp = TestSpark.spark
    import sp.implicits._
    val out = tmp("graft_mvfacet_")
    // tags multivalued: doc 1 carries x+y (counts once under EACH);
    // doc 3 has no tags (null bucket); doc 4 out of fq
    val df = Seq(
      ("1", Seq("x", "y"), "k"), ("2", Seq("x"), "k"),
      ("3", Seq.empty[String], "k"), ("4", Seq("x"), "o")
    ).toDF("id", "tags", "grp")
    SegmentShardSink.write(df, "id", out, shards = 2)
    val got = SegmentSearch.facetField(sp, out, "tags", fq = Some(("grp", "k")))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got === Map(Some("x") -> 2L, Some("y") -> 1L, None -> 1L))
    // doc 1 holds two tags but fills the null-bucket complement once:
    // nullBucket == matched(3) - present(2), NOT 3 - 3 postings
    val noFq = SegmentSearch.facetField(sp, out, "tags")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(noFq === Map(Some("x") -> 3L, Some("y") -> 1L, None -> 1L))
    // analyzed field: token facets (each doc once per distinct token)
    val out2 = tmp("graft_tokfacet_")
    SegmentShardSink.write(
      Seq(("1", "spark spark shuffles"), ("2", "spark joins")).toDF("id", "body"),
      "id", out2, shards = 1, analyzedFields = Set("body"))
    val toks = SegmentSearch.facetField(sp, out2, "body")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(toks === Map("spark" -> 2L, "shuffles" -> 1L, "joins" -> 1L))
  }

  test("percentiles: exact percentile_disc from pushed term counts, fq + deletes honored") {
    import spark.implicits._
    val out = tmp("graft_pctl_")
    // 10 docs in grp k with values 1..10 (typed long), plus an
    // out-of-fq doc that must not count
    val df = ((1 to 10).map(i => (i.toString, i.toLong, "k")) :+ ("99", 1000L, "o"))
      .toDF("id", "v", "grp")
    SegmentShardSink.write(df, "id", out, shards = 2)
    val got = SegmentSearch.percentiles(spark, out, "v",
      fractions = Seq(0.1, 0.5, 0.95, 1.0), q = "grp:k")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // smallest value whose cumulative count reaches p*10
    assert(got === Map(0.1 -> 1.0, 0.5 -> 5.0, 0.95 -> 10.0, 1.0 -> 10.0))
    // the counting half is the pushed facet (postings only)
    val inner = SegmentSearch.pushedTermCounts(spark, out, "v", "grp:k")
      .queryExecution.executedPlan.toString
    assert(inner.contains("pushedTerm=grp:k") && inner.contains("pushedGroupBy=v"),
      inner.take(2000))
    // deletes shift the distribution (drop 1..4 -> median of 5..10)
    (1 to 4).foreach(i => SegmentShardSink.deleteByTerm(spark, out, "id", i.toString))
    val after = SegmentSearch.percentiles(spark, out, "v", Seq(0.5), "grp:k")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(after === Map(0.5 -> 7.0))
    // bad fractions fail fast
    intercept[IllegalArgumentException] {
      SegmentSearch.percentiles(spark, out, "v", Seq(1.5))
    }
  }

  test("phrase query: consecutive positions only, multivalue gap blocks cross-value, " +
    "survives forceMerge") {
    val dir = tmp("graft_phrase_")
    val w = new SegmentIndex.Writer(
      new Path(dir).getFileSystem(conf), new Path(dir), analyzed = Set("body"))
    w.addDocument(Seq("id" -> "1", "body" -> "the quick brown fox"))
    w.addDocument(Seq("id" -> "2", "body" -> "quick thinking, brown result"))
    w.addDocument(Seq("id" -> "3", "body" -> "Quick Brown shoes"))
    // multivalued: "…quick" ends value 1, "brown…" starts value 2 — the
    // position gap must prevent a phrase match across the boundary
    w.addDocument(Seq("id" -> "4", "body" -> "very quick", "body" -> "brown again"))
    w.commit()
    val r = SegmentIndex.reader(dir, conf)
    def ids(toks: Seq[String]) =
      r.phraseDocs("body", toks).map(_.toMap.apply("id")).sorted
    assert(ids(Seq("quick", "brown")) === Seq("1", "3")) // case-folded, punctuation-split
    assert(ids(Seq("brown", "quick")) === Seq())         // order matters
    assert(ids(Seq("quick")) === Seq("1", "2", "3", "4")) // 1-token phrase = term query
    assert(ids(Seq("the", "quick", "brown", "fox")) === Seq("1"))
    // forceMerge rewrites segments — positions must be rebuilt
    w.forceMerge(1)
    val r2 = SegmentIndex.reader(dir, conf)
    assert(r2.phraseDocs("body", Seq("quick", "brown")).map(_.toMap.apply("id")).sorted
      === Seq("1", "3"))
  }

  test("upsert after mergeTree targets the MERGED layout (marker rewritten)") {
    import spark.implicits._
    val out = tmp("graft_mtup_")
    val base = (1 to 40).map(i => (i.toString, s"v$i")).toDF("id", "v")
    SegmentShardSink.write(base, "id", out, shards = 2, microShards = 8)
    SegmentShardSink.mergeTree(spark, out, shards = 2, fanout = 2)
    assert(SegmentShardSink.partIndexDirs(spark, out).size === 2)
    SegmentShardSink.upsert(spark, out,
      Seq(("5", "v5 new"), ("41", "fresh")).toDF("id", "v"))
    // no phantom micro-shard dirs resurrected by the upsert
    assert(SegmentShardSink.partIndexDirs(spark, out).size === 2)
    val got = SegmentSearch.matchAll(spark, out, Seq("id", "v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size === 41)        // 40 + 1 new, NO duplicate of id 5
    assert(got("5") === "v5 new")  // the merged part held the prior version
  }

  test("upsert honors a custom router recorded in the marker") {
    import graft.route.HashRangeRouter
    import spark.implicits._
    val out = tmp("graft_custrt_")
    // deliberately lopsided 2-shard ranges (NOT the uniform default)
    val router = HashRangeRouter(2, explicitRanges = Some(Seq(
      (Int.MinValue, -1000000000), (-999999999, Int.MaxValue))))
    val base = (1 to 60).map(i => (i.toString, s"v$i")).toDF("id", "v")
    SegmentShardSink.write(base, "id", out, shards = 2, router = Some(router))
    SegmentShardSink.upsert(spark, out,
      (1 to 60).map(i => (i.toString, s"v$i updated")).toDF("id", "v"))
    val got = SegmentSearch.matchAll(spark, out, Seq("id", "v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // every update found its prior version — no duplicates anywhere
    assert(got.size === 60)
    assert(got.values.forall(_.endsWith("updated")))
  }

  test("mergeTree preserves analyzed postings when sources carry tombstones") {
    import spark.implicits._
    val out = tmp("graft_mtana_")
    val docs = (1 to 20).map(i => (i.toString, s"body text number$i")).toDF("id", "body")
    SegmentShardSink.write(docs, "id", out, shards = 1, microShards = 4,
      analyzedFields = Set("body"))
    SegmentShardSink.deleteByTerm(spark, out, "id", "3") // forces materialize path
    SegmentShardSink.mergeTree(spark, out, shards = 1, fanout = 2)
    // token postings survived the merge's rewrite of tombstoned segments
    assert(SegmentSearch.termQuery(spark, out, "body", "text", Seq("id")).count() === 19L)
    assert(SegmentSearch.phraseQuery(spark, out, "body", "body text", Seq("id"))
      .count() === 19L)
  }

  test("backup/restore: commit-point snapshot survives later mutation of the source") {
    import spark.implicits._
    val store = tmp("graft_bak_store_")
    val bak = tmp("graft_bak_dest_")
    val restored = tmp("graft_bak_rest_")
    SegmentShardSink.write((1 to 30).map(i => (i.toString, s"v$i")).toDF("id", "v"),
      "id", store, shards = 2)
    SegmentShardSink.deleteByTerm(spark, store, "id", "7") // live .del generation
    SegmentShardSink.backup(spark, store, bak)
    // mutate the ORIGINAL after the backup
    SegmentShardSink.upsert(spark, store,
      Seq(("1", "MUTATED"), ("99", "post-backup")).toDF("id", "v"))
    SegmentShardSink.restore(spark, bak, restored)
    val got = SegmentSearch.matchAll(spark, restored, Seq("id", "v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size === 29)            // 30 - deleted 7; no post-backup rows
    assert(got("1") === "v1")          // pre-mutation value
    assert(!got.contains("7") && !got.contains("99"))
    // the restored store is fully functional (searchable, upsertable)
    assert(SegmentSearch.termQuery(spark, restored, "v", "v12", Seq("id"))
      .head.getString(0) === "12")
    SegmentShardSink.upsert(spark, restored, Seq(("7", "back")).toDF("id", "v"))
    assert(SegmentSearch.matchAll(spark, restored, Seq("id")).count() === 30L)
  }

  test("fieldTerms: postings-only stats across shards match the source frame") {
    import spark.implicits._
    val out = tmp("graft_fterms_")
    val df = (1 to 30).map(i => (i.toString, if (i % 3 == 0) "fizz" else "plain"))
      .toDF("id", "kind")
    SegmentShardSink.write(df, "id", out, shards = 3)
    val stats = SegmentSearch.fieldTerms(spark, out, "kind")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats === Map("fizz" -> 10L, "plain" -> 20L))
  }

  test("index-served BM25 == Ranking.bm25 over stored values, bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val store = tmp("graft_bm25_")
    val df = Seq(
      ("1", "spark query engine runs spark jobs"),
      ("2", "a dull tool with no relevant words at all whatsoever"),
      ("3", "query planning in spark"),
      ("4", "spark spark spark"),
      ("5", "the query"),
      ("6", "")
    ).toDF("id", "text")
    SegmentShardSink.write(df, "id", store, shards = 3, analyzedFields = Set("text"))
    val terms = Seq("spark", "query")
    val viaIndex = SegmentSearch.bm25Scores(spark, store, "text", terms)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val viaCorpus = graft.text.Ranking.bm25(
        df.withColumn("__toks", toks), col("id"), col("__toks"), terms)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaIndex.keySet === viaCorpus.keySet)
    viaIndex.foreach { case (id, s) =>
      assert(s === viaCorpus(id), s"doc $id: index $s vs corpus ${viaCorpus(id)}")
    }
    // deletes shift df/N and drop the doc — still exact vs the pruned corpus
    SegmentShardSink.deleteByTerm(spark, store, "id", "4")
    val viaIndex2 = SegmentSearch.bm25Scores(spark, store, "text", terms)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaCorpus2 = graft.text.Ranking.bm25(
        df.filter(col("id") =!= "4").withColumn("__toks", toks),
        col("id"), col("__toks"), terms)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaIndex2 === viaCorpus2)
  }

  test("norms: written per analyzed field, survive merge paths, legacy fallback recomputes") {
    val dir = tmp("graft_norms_")
    val w = SegmentIndex.writer(dir, conf, analyzed = Set("text"))
    w.addDocument(Seq("id" -> "1", "text" -> "alpha beta gamma", "plain" -> "x"))
    w.addDocument(Seq("id" -> "2", "text" -> "two words", "text" -> "more here now"))
    w.commit()
    val seg = SegmentIndex.reader(dir, conf).commit.segments.head
    val norms = SegmentIndex.readNorms(
      new Path(dir).getFileSystem(conf), new Path(dir), seg.name)
    // multivalued text sums across values; non-analyzed fields absent
    assert(norms("text").toSeq === Seq(3, 5))
    assert(!norms.contains("plain") && !norms.contains("id"))
    // forceMerge rewrites norms with the merged ordinals
    w.addDocument(Seq("id" -> "3", "text" -> "one"))
    w.forceMerge(1)
    val merged = SegmentIndex.reader(dir, conf)
    val segM = merged.commit.segments.head
    val normsM = SegmentIndex.readNorms(
      new Path(dir).getFileSystem(conf), new Path(dir), segM.name)
    assert(normsM("text").toSeq === Seq(3, 5, 1))
    // legacy fallback: delete the .nrm file — stats recompute from
    // stored values and match
    val fs = new Path(dir).getFileSystem(conf)
    fs.delete(new Path(dir, s"${segM.name}.nrm"), false)
    val (n, tot, df) = SegmentIndex.reader(dir, conf).bm25Stats("text", Seq("words"))
    assert(n === 3L && tot === 9L && df === Map("words" -> 1L))
  }

  test("deleteByQuery: boolean/range query tombstones across shards, idempotent") {
    import spark.implicits._
    val store = tmp("graft_dbq_")
    val df = (1 to 40).map { i =>
      (i.toString, f"v$i%02d", if (i % 2 == 0) "even" else "odd")
    }.toDF("id", "v", "par")
    SegmentShardSink.write(df, "id", store, shards = 4)
    // range [v10 TO v19] AND par:even → v10 v12 v14 v16 v18
    val n = SegmentShardSink.deleteByQuery(spark, store, "v:[v10 TO v19] AND par:even")
    assert(n === 5L)
    val left = SegmentSearch.matchAll(spark, store, Seq("id", "v"))
      .collect().map(_.getString(1)).toSet
    assert(left.size === 35)
    assert(!left.contains("v10") && !left.contains("v18") && left.contains("v11"))
    // idempotent: same query again deletes nothing
    assert(SegmentShardSink.deleteByQuery(spark, store, "v:[v10 TO v19] AND par:even") === 0L)
    // the survivors stay consistent through optimize (tombstone reclaim)
    SegmentShardSink.optimize(spark, store)
    assert(SegmentSearch.matchAll(spark, store, Seq("id")).count() === 35L)
    // prefix delete via the query string (v3x block)
    assert(SegmentShardSink.deleteByQuery(spark, store, "v:v3*") === 10L)
    assert(SegmentSearch.matchAll(spark, store, Seq("id")).count() === 25L)
  }

  test("deleteByQuery matches ANALYZED fields by token (the Solr semantics)") {
    import spark.implicits._
    val store = tmp("graft_dbq_ana_")
    val df = Seq(
      ("1", "spark shines bright"), ("2", "dull engine"), ("3", "Spark again")
    ).toDF("id", "text")
    SegmentShardSink.write(df, "id", store, shards = 2, analyzedFields = Set("text"))
    assert(SegmentShardSink.deleteByQuery(spark, store, "text:spark") === 2L)
    assert(SegmentSearch.matchAll(spark, store, Seq("id"))
      .collect().map(_.getString(0)).toSeq === Seq("2"))
  }

  test("rangeDocs/rangeCount: bound inclusivity, unbounded sides, deletes masked") {
    val dir = tmp("graft_range_")
    val w = SegmentIndex.writer(dir, conf)
    Seq("apple", "banana", "cherry", "date").zipWithIndex.foreach { case (v, i) =>
      w.addDocument(Seq("id" -> (i + 1).toString, "v" -> v))
    }
    w.commit()
    val r0 = SegmentIndex.reader(dir, conf)
    def vals(docs: Seq[SegmentIndex.Doc]) = docs.map(_.toMap.apply("v")).sorted
    assert(vals(r0.rangeDocs("v", Some("banana"), true, Some("cherry"), true))
      === Seq("banana", "cherry"))
    assert(vals(r0.rangeDocs("v", Some("banana"), false, Some("cherry"), false)) === Nil)
    assert(vals(r0.rangeDocs("v", Some("b"), true, None, true))
      === Seq("banana", "cherry", "date"))
    assert(vals(r0.rangeDocs("v", None, true, Some("b"), false)) === Seq("apple"))
    assert(r0.rangeCount("v", Some("b"), true, None, true) === 3L)
    // delete one in-range doc: both paths mask it
    w.deleteDocuments("v", "cherry"); w.commit()
    val r1 = SegmentIndex.reader(dir, conf)
    assert(vals(r1.rangeDocs("v", Some("b"), true, None, true)) === Seq("banana", "date"))
    assert(r1.rangeCount("v", Some("b"), true, None, true) === 2L)
  }

  test("zone-map stats: recorded per non-analyzed field, skip avoids opening segments") {
    val dir = tmp("graft_zonemap_")
    val w = SegmentIndex.writer(dir, conf, analyzed = Set("text"))
    w.addDocument(Seq("id" -> "1", "v" -> "aaa", "text" -> "Spark Engine"))
    w.addDocument(Seq("id" -> "2", "v" -> "mmm", "text" -> "other words"))
    w.commit() // segment A: v in [aaa, mmm]
    w.addDocument(Seq("id" -> "3", "v" -> "xxx"))
    w.commit() // segment B: v in [xxx, xxx]
    val r = SegmentIndex.reader(dir, conf)
    val stats = r.commit.segments.map(s => s.name -> s.stats).toMap
    val (segA, segB) = (r.commit.segments.head, r.commit.segments.last)
    assert(stats(segA.name)("v") === ("aaa", "mmm"))
    assert(stats(segB.name)("v") === ("xxx", "xxx"))
    // analyzed fields record NO stats (token ranges say nothing about
    // stored values); id stats exist
    assert(!stats(segA.name).contains("text"))
    assert(stats(segA.name).contains("id"))
    // PROOF of skipping: corrupt segment B's term dictionary. A range
    // that B's stats exclude still answers (B never opened)...
    val trmB = new java.io.File(dir, s"${segB.name}.trm")
    val out = new java.io.FileOutputStream(trmB)
    out.write(Array.fill(8)(0x7F.toByte)); out.close()
    val r2 = SegmentIndex.reader(dir, conf)
    assert(r2.rangeDocs("v", Some("aaa"), true, Some("nnn"), true).size === 2)
    assert(r2.rangeCount("v", Some("aaa"), true, Some("nnn"), true) === 2L)
    // ...while a range covering B must open it and fails on the
    // corruption — the skip was real, not accidental emptiness
    intercept[Exception] {
      r2.rangeDocs("v", Some("aaa"), true, Some("zzz"), true)
    }
  }

  test("zone-map stats survive addIndexes (file copy) and forceMerge (rewrite)") {
    val src = tmp("graft_zmsrc_")
    val ws = SegmentIndex.writer(src, conf)
    ws.addDocument(Seq("id" -> "1", "v" -> "kkk"))
    ws.close()
    val dst = tmp("graft_zmdst_")
    val wd = SegmentIndex.writer(dst, conf)
    wd.addDocument(Seq("id" -> "2", "v" -> "bbb"))
    wd.commit()
    wd.addIndexes(Seq(new Path(src)))
    wd.commit()
    val r = SegmentIndex.reader(dst, conf)
    assert(r.commit.segments.flatMap(_.stats.get("v")).toSet
      === Set(("bbb", "bbb"), ("kkk", "kkk")))
    wd.forceMerge(1)
    val rm = SegmentIndex.reader(dst, conf)
    assert(rm.commit.segments.head.stats("v") === ("bbb", "kkk"))
  }

  test("cpCompare and nextAfterPrefix: code-point order, prefix == half-open range") {
    import SegmentIndex.{cpCompare, nextAfterPrefix}
    // supplementary char (U+10000, surrogate pair) vs U+FFFD: UTF-16
    // code-unit order would say 𐀀 < � — code-point
    // order (and UTF-8 byte order) says the opposite
    val supp = new String(Character.toChars(0x10000))
    val fffd = "�"
    assert(cpCompare(supp, fffd) > 0)
    assert(supp.compareTo(fffd) < 0) // the trap we avoid
    assert(cpCompare("abc", "abd") < 0 && cpCompare("ab", "abc") < 0)
    assert(nextAfterPrefix("abc") === Some("abd"))
    assert(nextAfterPrefix("") === None) // every string has prefix ""
    // prefix p matches t iff p <= t < nextAfterPrefix(p)
    val p = "ban"
    val nxt = nextAfterPrefix(p).get
    for (t <- Seq("ban", "banana", "bao", "bam", "bz", "a", p + "￿"))
      assert((cpCompare(t, p) >= 0 && cpCompare(t, nxt) < 0) === t.startsWith(p), t)
  }

  test("cpCompare fuzz: surrogate fix-up agrees with the codePointAt definition") {
    // the reference implementation the fast unit-walk must match
    def slow(a: String, b: String): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val ca = a.codePointAt(i)
        val cb = b.codePointAt(i)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
      }
      Integer.compare(a.length, b.length)
    }
    val rnd = new scala.util.Random(11)
    // char pool deliberately dense around the problem ranges: ASCII,
    // BMP text, [U+E000, U+FFFF] privates, and supplementary pairs
    def randString(): String = {
      val sb = new StringBuilder
      (0 until rnd.nextInt(6)).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => sb.append(('a' + rnd.nextInt(26)).toChar)
          case 1 => sb.append((0xE000 + rnd.nextInt(0x2000)).toChar)
          case 2 => sb.appendAll(Character.toChars(0x10000 + rnd.nextInt(0x1000)))
          case 3 => sb.append((0x4E00 + rnd.nextInt(0x100)).toChar)
        }
      }
      sb.toString
    }
    (1 to 20000).foreach { _ =>
      val (a, b) = (randString(), randString())
      assert(Integer.signum(SegmentIndex.cpCompare(a, b)) === Integer.signum(slow(a, b)),
        s"'$a' vs '$b' (${a.map(_.toInt)} vs ${b.map(_.toInt)})")
    }
  }

  test("fuzzyDocs: dictionary-walk fuzzy term query, edit bounds and deletes honored") {
    val dir = tmp("graft_fuzzy_")
    val w = SegmentIndex.writer(dir, conf, analyzed = Set("body"))
    w.addDocument(Seq("id" -> "1", "tag" -> "spark", "body" -> "quick brown fox"))
    w.addDocument(Seq("id" -> "2", "tag" -> "sparks", "body" -> "quack sounds"))
    w.addDocument(Seq("id" -> "3", "tag" -> "shark", "body" -> "totally different"))
    w.addDocument(Seq("id" -> "4", "tag" -> "sprocket", "body" -> "quxbk typo here"))
    w.commit()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val r = new SegmentIndex.Reader(fs, p)
    def idsOf(docs: Seq[SegmentIndex.Doc]) =
      docs.map(d => SegmentIndex.firstValues(d)("id")).sorted
    // exact-field fuzzy: spark~1 matches spark, sparks, shark (1 edit each)
    assert(idsOf(r.fuzzyDocs("tag", "spark", 1)) === Seq("1", "2", "3"))
    assert(idsOf(r.fuzzyDocs("tag", "spark", 0)) === Seq("1"))
    // analyzed-field fuzzy over tokens: quick~1 matches quick/quack;
    // quxbk is 2 edits away (x->i, b->c)
    assert(idsOf(r.fuzzyDocs("body", "quick", 1)) === Seq("1", "2"))
    assert(idsOf(r.fuzzyDocs("body", "quick", 2)) === Seq("1", "2", "4"))
    // deletes honored
    val w2 = new SegmentIndex.Writer(fs, p, Set("body"))
    w2.deleteDocuments("id", "2")
    w2.commit()
    val r2 = new SegmentIndex.Reader(fs, p)
    assert(idsOf(r2.fuzzyDocs("tag", "spark", 1)) === Seq("1", "3"))
    // bound guard
    intercept[IllegalArgumentException](r2.fuzzyDocs("tag", "spark", 3))
  }

  test("stored-field codecs: v1 plain write reads back identically to v2; " +
      "seek path agrees on both") {
    def build(compress: Boolean): (Path, SegmentIndex.Reader) = {
      val p = new Path(tmp(s"graft_codec_${compress}_"))
      val fs = p.getFileSystem(conf)
      val w = new SegmentIndex.Writer(fs, p, compressStored = compress)
      (0 until 500).foreach(i => w.addDocument(
        Seq("id" -> i.toString, "body" -> ("text " * (i % 7 + 1) + i))))
      w.commit()
      (p, new SegmentIndex.Reader(fs, p))
    }
    val (_, rv1) = build(compress = false)
    val (_, rv2) = build(compress = true)
    assert(rv1.allDocs().toSeq === rv2.allDocs().toSeq)
    // selective seek (termDocs) must agree too — v2 inflates only the
    // blocks its hit ordinals land in
    assert(rv1.termDocs("id", "42") === rv2.termDocs("id", "42"))
    assert(rv1.termDocs("id", "499") === rv2.termDocs("id", "499"))
  }

  test("mixed v1/v2 store refuses raw merge and forceMerge rewrites to ONE v2 segment") {
    val p = new Path(tmp("graft_codec_mixed_"))
    val fs = p.getFileSystem(conf)
    val w1 = new SegmentIndex.Writer(fs, p, compressStored = false)
    (0 until 20).foreach(i => w1.addDocument(Seq("id" -> s"a$i")))
    w1.commit()
    val w2 = new SegmentIndex.Writer(fs, p, compressStored = true)
    (0 until 20).foreach(i => w2.addDocument(Seq("id" -> s"b$i")))
    val merged = w2.forceMerge(1) // must take the rewrite path, not byte-concat
    assert(merged.segments.length === 1)
    val r = new SegmentIndex.Reader(fs, p)
    assert(r.numDocs === 40)
    assert(r.allDocs().map(_.head._2).toSet ===
      ((0 until 20).map(i => s"a$i") ++ (0 until 20).map(i => s"b$i")).toSet)
    assert(r.termDocs("id", "a7").nonEmpty && r.termDocs("id", "b19").nonEmpty)
  }

  test("auto-flush: maxBufferedDocs bounds the buffer into multiple segments; " +
      "session deletes NEVER touch session-added docs (flushed or buffered)") {
    val p = new Path(tmp("graft_autoflush_"))
    val fs = p.getFileSystem(conf)
    // prior generation holds an OLD copy of id 3
    val w0 = new SegmentIndex.Writer(fs, p)
    w0.addDocument(Seq("id" -> "3", "v" -> "old"))
    w0.commit()
    val w = new SegmentIndex.Writer(fs, p, maxBufferedDocs = 10)
    (0 until 35).foreach(i => w.addDocument(Seq("id" -> i.toString, "v" -> "new")))
    // 3 auto-flushes happened (ids 0-29 on disk), 5 docs buffered.
    // The session's delete must hit ONLY the prior generation's copy —
    // id 3's new (flushed) doc and id 34's buffered doc are exempt.
    // This is the upsert protocol: add the delta, then delete its ids.
    assert(w.deleteDocumentsBatch("id", Set("3", "34")) === 1)
    w.commit()
    val r = new SegmentIndex.Reader(fs, p)
    assert(r.numSegments === 4) // w0's fully-deleted segment dropped
    assert(r.numDocs === 35)
    assert(r.termDocs("id", "3").map(_.toMap.apply("v")) === Seq("new"))
    assert(r.termDocs("id", "34").nonEmpty)
  }

  test("upsert survives auto-flush: a delta larger than maxBufferedDocs " +
      "replaces old copies without tombstoning itself") {
    val p = new Path(tmp("graft_upsert_flush_"))
    val fs = p.getFileSystem(conf)
    val w0 = new SegmentIndex.Writer(fs, p)
    (0 until 30).foreach(i => w0.addDocument(Seq("id" -> i.toString, "v" -> "old")))
    w0.commit()
    // the SegmentShardSink.upsert per-micro-shard protocol, with a
    // flush threshold far below the delta size
    val w = new SegmentIndex.Writer(fs, p, maxBufferedDocs = 7)
    val ids = (0 until 30).map(_.toString)
    ids.foreach(i => w.addDocument(Seq("id" -> i, "v" -> "new")))
    w.deleteDocumentsBatch("id", ids.toSet)
    w.commit()
    val r = new SegmentIndex.Reader(fs, p)
    assert(r.numDocs === 30)
    ids.foreach { i =>
      assert(r.termDocs("id", i).map(_.toMap.apply("v")) === Seq("new"),
        s"id $i must carry the NEW value")
    }
  }
}
