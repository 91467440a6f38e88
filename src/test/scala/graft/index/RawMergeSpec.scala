package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The postings-level forceMerge (mergeSegmentsRaw) must be
  * indistinguishable from the doc-rewrite merge on every read
  * surface: stored docs, postings, positions, norms, zone-map stats,
  * and follow-up deletes. Twin stores get identical docs via two
  * writer sessions (→ two segments each); one merges raw (clean
  * segments), the other is forced down the rewrite path by a
  * same-doc-count delete+re-add that leaves a tombstone. */
class RawMergeSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private def tmp(): Path =
    new Path(java.nio.file.Files.createTempDirectory("graft_rawmerge_").toString)

  private val analyzed = Set("text")
  private def docs1: Seq[SegmentIndex.Doc] = Seq(
    Seq("id" -> "a", "text" -> "spark merges segments fast", "n" -> "5"),
    Seq("id" -> "b", "text" -> "postings merge not rewrite", "n" -> "2"),
    Seq("id" -> "c", "text" -> "spark spark spark"))
  private def docs2: Seq[SegmentIndex.Doc] = Seq(
    Seq("id" -> "d", "text" -> "segments concatenate bytes", "n" -> "9"),
    Seq("id" -> "e", "tag" -> "no-text-here"))

  private def build(dir: Path): SegmentIndex.Writer = {
    val fs = dir.getFileSystem(conf)
    val w1 = new SegmentIndex.Writer(fs, dir, analyzed)
    docs1.foreach(w1.addDocument); w1.commit()
    val w2 = new SegmentIndex.Writer(fs, dir, analyzed)
    docs2.foreach(w2.addDocument); w2.commit()
    w2
  }

  test("raw merge path is taken for clean segments and matches the rewrite") {
    val rawDir = tmp(); val rwDir = tmp()
    val fs = rawDir.getFileSystem(conf)

    val wRaw = build(rawDir)
    assert(SegmentIndex.latestCommit(fs, rawDir).get.segments.length === 2)
    assert(SegmentIndex.canRawMerge(fs, rawDir,
      SegmentIndex.latestCommit(fs, rawDir).get.segments, analyzed))
    wRaw.forceMerge(1)

    // rewrite twin: tombstone 'e' then re-add it — forces the
    // doc-rewrite path (canRawMerge false), same logical content
    val wRw = build(rwDir)
    wRw.deleteDocuments("id", "e")
    wRw.addDocument(Seq("id" -> "e", "tag" -> "no-text-here"))
    wRw.commit()
    wRw.forceMerge(1)

    val rRaw = new SegmentIndex.Reader(fs, rawDir)
    val rRw = new SegmentIndex.Reader(fs, rwDir)
    assert(rRaw.numSegments === 1)
    assert(rRw.numSegments === 1)
    assert(rRaw.numDocs === 5)
    // stored docs identical as SETS (rewrite reorders the re-added doc)
    assert(rRaw.allDocs().map(_.toMap).toSet === rRw.allDocs().map(_.toMap).toSet)
    // term queries agree on every term of every field
    for ((f, t) <- Seq("id" -> "a", "id" -> "e", "text" -> "spark",
        "text" -> "merge", "n" -> "5", "tag" -> "no-text-here")) {
      val a = rRaw.termDocs(f, t).map(_.toMap).toSet
      val b = rRw.termDocs(f, t).map(_.toMap).toSet
      assert(a === b, s"term $f:$t diverged")
    }
  }

  test("raw-merged positions support phrase matching; norms survive") {
    val dir = tmp()
    val fs = dir.getFileSystem(conf)
    val w = build(dir)
    w.forceMerge(1)
    val cp = SegmentIndex.latestCommit(fs, dir).get
    val seg = cp.segments.head
    val posts = SegmentIndex.readPostingsPositions(fs, dir, seg.name)
    // "postings merge" is a phrase in doc b (ord 1): consecutive positions
    val pm = posts("text")("postings").head
    val mg = posts("text")("merge").head
    assert(pm._1 === mg._1) // same ordinal
    assert(mg._2.exists(p => pm._2.contains(p - 1)), "phrase adjacency lost")
    // norms: token counts per ord — doc c ("spark spark spark") has 3
    val norms = SegmentIndex.readNorms(fs, dir, seg.name)("text")
    assert(norms(2) === 3)
    assert(norms.length === 5)
    assert(norms(4) === 0) // doc e has no text field
    // zone-map stats combined across sources
    assert(seg.stats("id") === ("a", "e"))
    assert(seg.stats("n") === ("2", "9"))
  }

  test("deletes on a raw-merged segment work (ordinals aligned)") {
    val dir = tmp()
    val fs = dir.getFileSystem(conf)
    val w = build(dir)
    w.forceMerge(1)
    val w2 = new SegmentIndex.Writer(fs, dir, analyzed)
    assert(w2.deleteDocuments("id", "d") === 1)
    w2.commit()
    val r = new SegmentIndex.Reader(fs, dir)
    assert(r.numDocs === 4)
    assert(r.termDocs("id", "d").isEmpty)
    assert(r.termDocs("id", "e").nonEmpty)
  }

  test("empty-source and single-segment edge cases") {
    val dir = tmp()
    val fs = dir.getFileSystem(conf)
    // one empty committed writer session + one with docs
    val w0 = new SegmentIndex.Writer(fs, dir, analyzed)
    w0.commit() // no segment at all (empty pending)
    val w1 = new SegmentIndex.Writer(fs, dir, analyzed)
    docs1.foreach(w1.addDocument); w1.commit()
    val w2 = new SegmentIndex.Writer(fs, dir, analyzed)
    docs2.foreach(w2.addDocument); w2.commit()
    w2.forceMerge(1)
    val r = new SegmentIndex.Reader(fs, dir)
    assert(r.numDocs === 5)
    assert(r.numSegments === 1)
  }

  private def trmBytes(dir: Path, seg: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir.toString, s"$seg.trm"))

  // U+1D11E (a surrogate pair) sorts before U+FF21 in UTF-16 order and
  // after it in code-point order, the writer's order
  private val clef = "\uD834\uDD1Ex"
  private val wideA = "\uFF21x"

  test("raw-merged .trm is in code-point order, byte-identical to one session") {
    val a: Seq[SegmentIndex.Doc] = Seq(
      Seq("id" -> clef, "text" -> s"$clef clef"),
      Seq("id" -> "b", "text" -> "plain words"))
    val b: Seq[SegmentIndex.Doc] = Seq(
      Seq("id" -> wideA, "text" -> s"$wideA wide"),
      Seq("id" -> "c", "text" -> "more plain words"))
    val merged = tmp(); val fresh = tmp()
    val fs = merged.getFileSystem(conf)
    val w1 = new SegmentIndex.Writer(fs, merged, analyzed)
    a.foreach(w1.addDocument); w1.commit()
    val w2 = new SegmentIndex.Writer(fs, merged, analyzed)
    b.foreach(w2.addDocument); w2.commit()
    val seg = w2.forceMerge(1).segments.head.name
    val w3 = new SegmentIndex.Writer(fs, fresh, analyzed)
    (a ++ b).foreach(w3.addDocument)
    val freshSeg = w3.commit().segments.head.name
    assert(trmBytes(merged, seg).sameElements(trmBytes(fresh, freshSeg)),
      "merged .trm differs from the single-session .trm")
  }

  test("a source dictionary out of code-point order takes the doc rewrite") {
    val dir = tmp(); val fresh = tmp()
    val fs = dir.getFileSystem(conf)
    val docsA: Seq[SegmentIndex.Doc] = Seq(Seq("id" -> clef), Seq("id" -> wideA))
    val docsB: Seq[SegmentIndex.Doc] = Seq(Seq("id" -> "z"))
    val w1 = new SegmentIndex.Writer(fs, dir, Set.empty)
    docsA.foreach(w1.addDocument)
    val seg0 = w1.commit().segments.head.name
    val w2 = new SegmentIndex.Writer(fs, dir, Set.empty)
    docsB.foreach(w2.addDocument); w2.commit()
    // replace the first segment's .trm with a v4 block in UTF-16 order
    // (clef, ord 0, before wideA, ord 1), as an older merge wrote it
    val TRM4 = SegmentIndex.TRM_MAGIC4
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def vint(v0: Int): Unit = {
      var v = v0
      while ((v & ~0x7F) != 0) { out.writeByte((v & 0x7F) | 0x80); v >>>= 7 }
      out.writeByte(v)
    }
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      vint(b.length); out.write(b)
    }
    out.writeInt(TRM4)
    val blockOff = bos.size().toLong
    str("id"); vint(0); vint(2)
    vint(0); str(clef); vint(1); vint(0)  // ord 0
    vint(0); str(wideA); vint(1); vint(1) // ord 1
    val footerOff = bos.size().toLong
    vint(1); str("id"); out.writeLong(blockOff)
    out.writeLong(footerOff); out.writeInt(TRM4)
    val os = fs.create(new Path(dir, s"$seg0.trm"), true)
    try os.write(bos.toByteArray) finally os.close()
    val segs = SegmentIndex.latestCommit(fs, dir).get.segments
    assert(SegmentIndex.canRawMerge(fs, dir, segs, Set.empty))
    val ids = Seq(clef, wideA, "z")
    def answers() = {
      val r = new SegmentIndex.Reader(fs, dir)
      ids.map(t => t -> r.termDocs("id", t).map(_.toMap))
    }
    val before = answers()
    assert(before.forall(_._2.size == 1))
    val seg = w2.forceMerge(1).segments.head.name
    assert(answers() === before)
    // the doc rewrite wrote the merged segment: its dictionary equals
    // one fresh session's over the same docs, in code-point order
    val w3 = new SegmentIndex.Writer(fs, fresh, Set.empty)
    (docsA ++ docsB).foreach(w3.addDocument)
    val freshSeg = w3.commit().segments.head.name
    assert(trmBytes(dir, seg).sameElements(trmBytes(fresh, freshSeg)))
  }
}
