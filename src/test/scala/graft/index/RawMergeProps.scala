package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import scala.collection.immutable.ArraySeq

/** The streaming raw merge against a fresh-write oracle: random docs
  * split into 1–6 writer sessions (some empty) and raw-merged give the
  * same `.trm`, `.nrm`, `.dvd` and `.dvm` bytes, and the same reader
  * answers, as one session writing the same docs in the same order.
  * Values mix a supplementary character with characters in
  * U+E000–U+FFFF, where UTF-16 and code-point order disagree. Each
  * field keeps one kind (analyzed, multivalued or single-valued) in
  * every source: a field single-valued in one source and multivalued
  * in another is where the merged and fresh layouts differ (the merge
  * keeps neither docValues column). */
object RawMergeProps extends Properties("raw-merge") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(100)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L))
      .withWorkers(1)

  private val conf = new Configuration()
  private val analyzed = Set("text")

  // U+1D11E and U+1F600 (surrogate pairs) sort before U+E000 / U+FF21
  // in UTF-16 order, after them in code-point order
  private val odd = Seq("𝄞x", "Ａx", "y", "😀", "x")
  private val genWord: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("spark", "merge", "segment", "lucene", "solr", "shard", "y9"),
    1 -> Gen.oneOf(odd))
  private val genVal: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("a", "ab", "abc", "b", "b0", "c"),
    2 -> Gen.oneOf(odd))

  private def genDoc(i: Int): Gen[SegmentIndex.Doc] = for {
    idHead <- Gen.oneOf(odd :+ "d")
    // every doc holds `text` (maybe with no tokens), so every source
    // has norms and the store qualifies for the raw merge
    text <- Gen.listOf(genWord).map(_.mkString(" "))
    tags <- Gen.option(Gen.choose(2, 4).flatMap(Gen.listOfN(_, genVal)))
    n <- Gen.option(Gen.choose(-50, 50))
    price <- Gen.option(Gen.choose(0, 9999).map(c => f"${c / 100.0}%.2f"))
    sym <- Gen.option(genVal)
  } yield Seq("id" -> s"$idHead$i", "text" -> text) ++
    tags.toSeq.flatten.map("tags" -> _) ++ n.map(v => "n" -> v.toString) ++
    price.map("price" -> _) ++ sym.map("sym" -> _)

  private val genCase: Gen[(IndexedSeq[SegmentIndex.Doc], List[Int])] = for {
    n <- Gen.choose(1, 40)
    docs <- Gen.sequence[List[SegmentIndex.Doc], SegmentIndex.Doc]((0 until n).map(genDoc))
    k <- Gen.choose(1, 6)
    cuts <- Gen.listOfN(k - 1, Gen.choose(0, n))
  } yield (docs.toIndexedSeq, cuts.sorted)

  private def tmp(): Path =
    new Path(java.nio.file.Files.createTempDirectory("graft_rawmergeprops_").toString)

  private def bytesOf(dir: Path, seg: String, ext: String): Option[ArraySeq[Byte]] = {
    val p = java.nio.file.Paths.get(dir.toString, s"$seg.$ext")
    if (java.nio.file.Files.exists(p))
      Some(ArraySeq.unsafeWrapArray(java.nio.file.Files.readAllBytes(p)))
    else None
  }

  property("raw merge == one fresh session: file bytes and reader answers") =
    Prop.forAllNoShrink(genCase) { case (docs, cuts) =>
      val merged = tmp(); val fresh = tmp()
      val fs = merged.getFileSystem(conf)
      var last: SegmentIndex.Writer = null
      val bounds = 0 +: cuts :+ docs.length
      bounds.zip(bounds.tail).foreach { case (a, b) =>
        last = new SegmentIndex.Writer(fs, merged, analyzed)
        docs.slice(a, b).foreach(last.addDocument)
        last.commit()
      }
      val fw = new SegmentIndex.Writer(fs, fresh, analyzed)
      docs.foreach(fw.addDocument)
      val freshSeg = fw.commit().segments.head.name
      // the raw merge itself, under a name outside any commit
      val segs = SegmentIndex.latestCommit(fs, merged).get.segments
      val raw = SegmentIndex.canRawMerge(fs, merged, segs, analyzed) &&
        SegmentIndex.mergeSegmentsRaw(fs, merged, "_probe", segs).isDefined
      val diffs = Seq("trm", "nrm", "dvd", "dvm").filter { ext =>
        bytesOf(merged, "_probe", ext) != bytesOf(fresh, freshSeg, ext)
      }
      // the same merge through forceMerge, then the reader surface
      val seg = last.forceMerge(1).segments.head.name
      val rm = new SegmentIndex.Reader(fs, merged)
      val rf = new SegmentIndex.Reader(fs, fresh)
      def positions(dir: Path, s: String) =
        SegmentIndex.readPostingsPositions(fs, dir, s).map { case (f, ts) =>
          f -> ts.map { case (t, ps) => t -> ps.toSeq.map { case (o, p) => (o, p.toSeq) } }
        }
      val termsOf = SegmentIndex.readPostings(fs, fresh, freshSeg)
      val sameTermDocs = termsOf.forall { case (f, ts) =>
        ts.keys.forall(t => rm.termDocs(f, t).map(_.toMap) == rf.termDocs(f, t).map(_.toMap))
      }
      val bm25Terms = Seq("spark", "x", "merge", "absent")
      val phrase = Seq("spark", "merge")
      val facetFields = Seq("sym", "tags", "text", "n", "price")
      (raw :| "raw merge path taken") &&
        (diffs.isEmpty :| s"bytes differ: ${diffs.mkString(",")}") &&
        ((positions(merged, seg) == positions(fresh, freshSeg)) :| "postings + positions") &&
        (sameTermDocs :| "termDocs") &&
        ((rm.phraseDocs("text", phrase).map(_.toMap) ==
          rf.phraseDocs("text", phrase).map(_.toMap)) :| "phraseDocs") &&
        (facetFields.forall(f => rm.facetCounts(f, MatchAll) == rf.facetCounts(f, MatchAll))
          :| "facetCounts") &&
        ((rm.bm25Stats("text", bm25Terms) == rf.bm25Stats("text", bm25Terms)) :| "bm25Stats")
    }
}
