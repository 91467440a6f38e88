package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/**
 * A miniature Lucene-architecture inverted-index format — the
 * byte-level half of the reference's actual product (a searchable
 * index directory per shard, `SolrRecordWriter.java:124-191` writes
 * one via an embedded Solr; `TreeMergeOutputFormat.java:118-234`
 * merges them with `IndexWriter.addIndexes`).
 *
 * The real Lucene jar does not exist in this build environment (no
 * artifact on the unmanaged classpath, offline resolver), so the
 * format is hand-rolled from the public Lucene ARCHITECTURE — not its
 * binary codec:
 *
 *  - an index directory holds immutable SEGMENTS plus a generational
 *    commit file `segments_N` (highest N wins — Lucene's commit
 *    protocol) listing live segments and their doc counts;
 *  - a segment is `_K.fld` (stored fields, doc-ordinal order; the
 *    default v2 codec packs records into ~16 KiB deflate blocks —
 *    Lucene's CompressingStoredFieldsFormat analog, because stored
 *    bytes are the store's dominant cost at corpus scale — v1 plain
 *    records remain readable) +
 *    `_K.fdx` (fixed-width position of each stored doc record: v1 a
 *    byte offset, v2 (block offset, offset-in-block) — Lucene's
 *    stored-fields index: a selective query SEEKS to its hit
 *    ordinals, inflating only the blocks it touches, instead of
 *    streaming the segment) +
 *    `_K.trm` (term dictionary: sorted (field, term) → delta-varint
 *    posting list of ascending doc ordinals; v2 adds per-ordinal
 *    token POSITIONS for analyzed fields — phrase queries — with a
 *    100-position gap between multivalues, Lucene's
 *    positionIncrementGap; v3 appends a per-field seek FOOTER —
 *    Lucene's terms index — so reading one field's postings never
 *    parses the rest of the dictionary);
 *  - `addIndexes` is a LOGICAL merge: source segment files are copied
 *    in under fresh names and registered in the next commit — no
 *    rewrite, exactly Lucene's cheap path;
 *  - `forceMerge(1)` rewrites all segments into one (the reference's
 *    `--max-segments` latency trade, `BatchWriter.java:203-218`).
 *
 *  - deletes are per-segment TOMBSTONE generations (`_K_G.del`
 *    listing deleted ordinals — Lucene's liveDocs/delGen design):
 *    segment files stay immutable, the commit names the live del
 *    generation, readers mask deleted ordinals, `forceMerge`
 *    reclaims them and fully-deleted segments drop at the next
 *    commit.
 *
 * DIVERGENCE (declared): field values are stored/indexed as strings
 * (numerics rendered canonically, timestamps as ISO instants) — no
 * typed points/docValues, no scoring, no compression. The format
 * answers the queries the reference's tests verify builds with
 * (match-all counts, term lookups, per-doc field equality:
 * `SolrIndexDriverTest.java:54-61`).
 *
 * All I/O goes through `org.apache.hadoop.fs` so index dirs live on
 * whatever cluster filesystem the store uses (the reference writes
 * straight to HDFS).
 */
object SegmentIndex {

  /** `dels`/`delGen`: per-segment tombstone count and the commit
    * generation whose `_name_delGen.del` file holds the deleted
    * ordinals (Lucene's liveDocs/delGen design — deletes never touch
    * the immutable segment files). `delGen == 0` means no deletions.
    *
    * `stats`: per-field (min, max) indexed term under CODE-POINT order
    * — the zone-map / Lucene-points analog that lets a range query
    * skip whole segments from commit METADATA alone, before any
    * segment file is opened. Recorded only for NON-analyzed fields
    * (token min/max says nothing about stored-value ranges). Deletes
    * leave stats untouched: they stay a conservative superset, which
    * only ever over-reads, never drops a live match. */
  final case class SegmentMeta(name: String, docs: Int, dels: Int = 0, delGen: Int = 0,
                               stats: Map[String, (String, String)] = Map.empty) {
    def liveDocs: Int = docs - dels
  }
  final case class CommitPoint(gen: Int, counter: Int, segments: Seq[SegmentMeta]) {
    def numDocs: Int = segments.map(_.liveDocs).sum
  }

  /** One document = ordered (field, value) pairs; a repeated field is
    * a multivalued field (Solr's default field model). */
  type Doc = Seq[(String, String)]

  /** Observability/test hook: query-time forward-view INVERSIONS — a
    * pivot/grouped-stat touched a field with no persisted docValues
    * column (legacy segment or multivalued field) and had to rebuild
    * the ord→term view from postings. A store written since `.dvd`
    * existed never bumps this for single-valued fields; DocValuesSpec
    * asserts exactly that. */
  private[index] val dvFallbacks = new java.util.concurrent.atomic.AtomicLong

  /**
   * TieredMergePolicy analog — the amortized counter-force to segment
   * accumulation (the reference loads Lucene's
   * `TieredMergePolicy(maxMergeAtOnce=10000, segmentsPerTier=100)` at
   * merge time, `solrconfig_merge.xml:6-12` via
   * `TreeMergeOutputFormat.java:248-260`). Segments are bucketed into
   * geometric size TIERS by live-doc count (tier i spans
   * `floorDocs·maxMergeAtOnce^(i-1) .. floorDocs·maxMergeAtOnce^i`);
   * whenever a tier holds more than `segmentsPerTier` segments, the
   * smallest `maxMergeAtOnce` of them fold into one segment of the
   * next tier. Steady-state per-index segment count is therefore
   * bounded by `segmentsPerTier · log_maxMergeAtOnce(docs/floorDocs)`
   * — O(log docs) — and each document's bytes are re-copied at most
   * once per tier it ascends, the classic logarithmic merge
   * amortization. Defaults are scaled to this store's
   * maxBufferedDocs=128k flush size (Lucene's own 10/10 defaults),
   * not the reference's 10000/100 (tuned there for a one-shot
   * offline merge, where unbounded fan-in is fine because no query
   * ever runs against the intermediate state).
   */
  final case class MergePolicy(segmentsPerTier: Int = 10,
                               maxMergeAtOnce: Int = 10,
                               floorDocs: Int = 1024) {
    require(segmentsPerTier >= 2, "segmentsPerTier must be >= 2")
    require(maxMergeAtOnce >= 2, "maxMergeAtOnce must be >= 2")
    require(floorDocs >= 1, "floorDocs must be >= 1")
    /** Geometric size tier of a segment (0 = at/under the floor; tier
      * i spans `floorDocs·M^(i-1) < docs <= floorDocs·M^i`) — exact
      * integer math, no float-log boundary jitter. */
    def tierOf(liveDocs: Int): Int = {
      var t = 0
      var cap = floorDocs.toLong
      val d = math.max(liveDocs, 1).toLong
      while (d > cap) { t += 1; cap *= maxMergeAtOnce }
      t
    }
    /** Upper bound on post-merge segment count for `docs` total docs —
      * what the spec asserts: segmentsPerTier per tier, tier count
      * logarithmic in docs. */
    def maxSegments(docs: Long): Int =
      segmentsPerTier * (tierOf(math.min(docs, Int.MaxValue).toInt) + 1)
  }

  /** The relational surfacing contract for multivalued fields: the
    * FIRST occurrence wins (shared by SegmentSearch and the DSv2
    * source, so the two read paths cannot diverge). */
  private[index] def firstValues(doc: Doc): Map[String, String] =
    doc.foldLeft(Map.empty[String, String]) { case (acc, (k, v)) =>
      if (acc.contains(k)) acc else acc.updated(k, v)
    }

  /** CODE-POINT string comparison — the order of UTF-8 byte comparison
    * and therefore of Spark's `UTF8String` (what a pushed `>=`/`<`
    * predicate means to Catalyst). `String.compareTo` is UTF-16
    * code-UNIT order, which disagrees for supplementary characters vs
    * chars in [U+E000, U+FFFF]; using it for range pushdown could
    * silently DROP true matches. All range/stats ordering in this
    * format goes through this comparator. */
  private[index] def cpCompare(a: String, b: String): Int = {
    // plain UTF-16 unit walk with the classic surrogate fix-up (the
    // public Lucene CharsRef UTF16-sorted-as-UTF8 shift): unit order
    // equals code-point order except where one differing unit is a
    // surrogate (U+D800..DFFF, leading a supplementary >= U+10000) and
    // the other is in [U+E000, U+FFFF] — shifting both ranges when
    // BOTH units are >= 0xD800 restores code-point order. This runs in
    // the writer's hottest loop (the per-field vocabulary sort, ~30%
    // of segment write time): codePointAt/charCount per character cost
    // several times the comparison itself.
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (ca != cb) {
        if (ca >= 0xD800 && cb >= 0xD800) {
          val fa = if (ca >= 0xE000) ca - 0x800 else ca + 0x2000
          val fb = if (cb >= 0xE000) cb - 0x800 else cb + 0x2000
          return fa - fb
        }
        return ca - cb
      }
      i += 1
    }
    Integer.compare(a.length, b.length)
  }
  private[index] val CpOrdering: Ordering[String] =
    (a: String, b: String) => cpCompare(a, b)

  /** Smallest string strictly greater than every string with prefix
    * `p` (code-point order) — rewrites a prefix query as the range
    * `[p, nextAfterPrefix(p))`. None when no upper bound exists (all
    * code points in `p` are U+10FFFF). */
  private[index] def nextAfterPrefix(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      val sb = new StringBuilder
      (0 until i).foreach(j => sb.appendAll(Character.toChars(cps(j))))
      sb.appendAll(Character.toChars(cps(i) + 1))
      Some(sb.toString)
    }
  }

  // ---- primitives (unsigned LEB128 + length-prefixed UTF-8; no
  // writeUTF, whose 64 KB cap a document body would hit) ----

  private[index] def writeVInt(out: DataOutputStream, v0: Int): Unit = {
    require(v0 >= 0, s"negative varint: $v0")
    var v = v0
    while ((v & ~0x7F) != 0) { out.writeByte((v & 0x7F) | 0x80); v >>>= 7 }
    out.writeByte(v)
  }

  private[index] def readVInt(in: DataInputStream): Int = {
    var b = in.readByte()
    var v = b & 0x7F
    var shift = 7
    while ((b & 0x80) != 0) {
      b = in.readByte()
      v |= (b & 0x7F) << shift
      shift += 7
    }
    v
  }

  /** Array-backed serializer for the write path: varints and string
    * bytes land as direct array stores instead of byte-at-a-time
    * virtual calls through DataOutputStream→Counting→Buffered — at
    * segment scale (millions of varints per file) the stream chain
    * was a top slice of single-writer ingest cost. Big-endian
    * fixed-width puts match DataOutputStream, so files stay
    * bit-identical to the stream-written form. */
  private[index] final class ByteWriter(initial: Int) {
    var buf = new Array[Byte](initial)
    var n = 0
    // ensure stays a two-branch method so HotSpot inlines it into
    // every putVInt/putStr call (the guard logic living here inflated
    // the bytecode past the inline threshold and cost ~20% writer
    // throughput); the rare grow path carries the overflow guard
    private def ensure(k: Int): Unit =
      if (n + k > buf.length) grow(n + k)
    private def grow(need: Int): Unit = {
      // guard: past 2^30 doubling wraps negative; fail loudly instead
      // of hanging — .trm/.dvd/.fdx are built fully in memory, so an
      // oversized tier merge must error, not spin
      val MaxArray = Int.MaxValue - 8
      if (need < 0 || need > MaxArray) throw new IllegalStateException(
        s"segment buffer exceeds max array size ($need bytes) — " +
          "segment too large for in-memory build; lower segmentsPerTier/maxMergeAtOnce")
      var c = buf.length << 1
      while (c > 0 && c < need) c <<= 1
      if (c < need) c = MaxArray
      buf = java.util.Arrays.copyOf(buf, c)
    }
    def putVInt(v0: Int): Unit = {
      require(v0 >= 0, s"negative varint: $v0")
      ensure(5)
      var v = v0
      while ((v & ~0x7F) != 0) { buf(n) = ((v & 0x7F) | 0x80).toByte; n += 1; v >>>= 7 }
      buf(n) = v.toByte; n += 1
    }
    def putStr(s: String): Unit = {
      val len = s.length
      var ascii = true
      var i = 0
      while (ascii && i < len) { if (s.charAt(i) < 0x80) i += 1 else ascii = false }
      if (ascii) {
        putVInt(len); ensure(len)
        i = 0
        while (i < len) { buf(n) = s.charAt(i).toByte; n += 1; i += 1 }
      } else {
        val bytes = s.getBytes(StandardCharsets.UTF_8)
        putVInt(bytes.length); ensure(bytes.length)
        System.arraycopy(bytes, 0, buf, n, bytes.length); n += bytes.length
      }
    }
    /** [[putStr]] of `new String(cs, from, until - from)`, without
      * building the String for an ASCII run (the merge's front coder). */
    def putChars(cs: Array[Char], from: Int, until: Int): Unit = {
      var i = from
      while (i < until && cs(i) < 0x80) i += 1
      if (i == until) {
        putVInt(until - from); ensure(until - from)
        i = from
        while (i < until) { buf(n) = cs(i).toByte; n += 1; i += 1 }
      } else {
        val bytes = new String(cs, from, until - from).getBytes(StandardCharsets.UTF_8)
        putVInt(bytes.length); putBytes(bytes, 0, bytes.length)
      }
    }
    def putBytes(b: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len)
      System.arraycopy(b, off, buf, n, len); n += len
    }
    def putIntBE(v: Int): Unit = {
      ensure(4)
      buf(n) = (v >>> 24).toByte; buf(n + 1) = (v >>> 16).toByte
      buf(n + 2) = (v >>> 8).toByte; buf(n + 3) = v.toByte
      n += 4
    }
    def putLongBE(v: Long): Unit = { putIntBE((v >>> 32).toInt); putIntBE(v.toInt) }
    def reset(): Unit = n = 0
    /** Flush accumulated bytes to `out` and reset. */
    def drainTo(out: java.io.OutputStream): Unit = { out.write(buf, 0, n); n = 0 }
  }

  // reusable ASCII encode buffer: writeStr runs once per field name,
  // term and stored value — a fresh getBytes array per call was a
  // measurable slice of single-writer ingest throughput
  private val strBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](512)
  }

  private def writeStr(out: DataOutputStream, s: String): Unit = {
    val n = s.length
    var buf = strBuf.get()
    if (buf.length < n) {
      buf = new Array[Byte](java.lang.Integer.highestOneBit(math.max(n, 256)) << 1)
      strBuf.set(buf)
    }
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      val c = s.charAt(i)
      if (c < 0x80) { buf(i) = c.toByte; i += 1 } else ascii = false
    }
    if (ascii) { writeVInt(out, n); out.write(buf, 0, n) }
    else {
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      writeVInt(out, bytes.length)
      out.write(bytes)
    }
  }

  private def readStr(in: DataInputStream): String = {
    val len = readVInt(in)
    val buf = new Array[Byte](len)
    in.readFully(buf)
    new String(buf, StandardCharsets.UTF_8)
  }

  private val FLD_MAGIC = 0x47464C44 // "GFLD" — v1: plain doc records
  private[index] val FLD_MAGIC2 = 0x47464C45 // "GFLE" — v2: deflate block-compressed
  private[index] val FLD_MAGIC4 = 0x47464C46 // "GFLF" — v4: LZ4 block-compressed
  private val FDX_MAGIC2 = 0x47464459 // "GFDY" — v2: (blockOff: i64, rawOff: i32) per doc
  private val TRM_MAGIC = 0x4754524D  // "GTRM" — v1, ords only
  private val TRM_MAGIC2 = 0x4754524E // "GTRN" — v2, ords + per-ord positions
  // v4: v3 + FRONT-CODED terms (each term = shared-prefix char count
  // vs the previous term + suffix — Lucene's prefix-coded term blocks;
  // terms in a block are sorted, so id-like vocabularies share long
  // prefixes) and a per-field positions FLAG (non-analyzed fields drop
  // the 1-byte-per-posting zero position count v2/v3 paid)
  private[index] val TRM_MAGIC4 = 0x47545250 // "GTRP"

  /** Shared CHAR prefix of consecutive sorted terms, never splitting a
    * surrogate pair (the suffix is UTF-8 encoded on its own — a suffix
    * starting with a lone low surrogate would encode as replacement
    * bytes; the prefix side is taken from the DECODED previous term,
    * so only the suffix boundary matters). */
  private[index] def sharedPrefixLen(prev: String, t: String): Int = {
    val n = math.min(prev.length, t.length)
    var i = 0
    while (i < n && prev.charAt(i) == t.charAt(i)) i += 1
    if (i < t.length && Character.isLowSurrogate(t.charAt(i)) && i > 0) i - 1 else i
  }
  private val TRM_MAGIC3 = 0x4754524F // "GTRO" — v3: v2 blocks + per-field seek footer
  private val DEL_MAGIC = 0x4744454C // "GDEL"
  private val NRM_MAGIC = 0x474E524D // "GNRM" — per-ord token counts (norms)
  private val FDX_MAGIC = 0x47464458 // "GFDX" — fixed-width stored-doc offsets
  private val DVD_MAGIC = 0x47445644 // "GDVD" — persisted docValues (forward index)
  private val DVM_MAGIC = 0x47445645 // "GDVE" — SORTED_SET docValues (per-doc ord lists)
  // v2: FRONT-CODED dicts (same prefix coding as the v4 .trm — the
  // dicts are CP-sorted, so id-like vocabularies shrink the same way)
  private val DVD_MAGIC2 = 0x47445646 // "GDVF"
  private val DVM_MAGIC2 = 0x47445647 // "GDVG"

  /** Front-coded dict write: per term, shared-prefix char count vs the
    * previous + suffix (never splitting a surrogate pair). */
  private def putDict(out: ByteWriter, terms: Array[String]): Unit = {
    out.putVInt(terms.length)
    var prev = ""
    var i = 0
    while (i < terms.length) {
      val t = terms(i)
      val pl = sharedPrefixLen(prev, t)
      out.putVInt(pl)
      out.putStr(if (pl == 0) t else t.substring(pl))
      prev = t
      i += 1
    }
  }

  /** Dict read for both codecs: verbatim strings (legacy) or
    * front-coded (v2). */
  private def readDict(in: DataInputStream, frontCoded: Boolean): Array[String] = {
    val nT = readVInt(in)
    val terms = new Array[String](nT)
    if (!frontCoded) {
      var i = 0
      while (i < nT) { terms(i) = readStr(in); i += 1 }
    } else {
      var prev = ""
      var i = 0
      while (i < nT) {
        val pl = readVInt(in)
        val sfx = readStr(in)
        val t = if (pl == 0) sfx else prev.substring(0, pl) + sfx
        terms(i) = t
        prev = t
        i += 1
      }
    }
    terms
  }

  /** Raw bytes per stored-field compression block (doc-aligned: a doc
    * record never splits across blocks, so one inflate serves a whole
    * record; oversized docs become single-doc blocks). 16 KiB is the
    * Lucene BEST_SPEED chunk neighborhood — at 100 TB the store's
    * dominant cost is stored-field bytes, and text deflates 2-4×. */
  private[index] val StoredBlockSize: Int = 16 * 1024

  private def deflateBlock(raw: Array[Byte], len: Int): Array[Byte] = {
    // BEST_SPEED: stored-field reads sit on the query path; the codec
    // trades a few ratio points for LZ4-class inflate cost
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    try {
      d.setInput(raw, 0, len)
      d.finish()
      val out = new java.io.ByteArrayOutputStream(len / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** The default codec for compressed stored fields. LZ4 (v4): the
    * write path is throughput-gated on block compression at corpus
    * ingest rates, and Lucene's own BEST_SPEED stored-fields default
    * is LZ4 for the same reason; deflate (v2) stays fully readable and
    * raw-mergeable forever, and remains writable for byte-budgeted
    * stores (StoreStats measures both). */
  private[index] val DefaultStoredMagic: Int = FLD_MAGIC4

  /** Stored-field block magics with the (blockOff, rawOff) .fdx layout
    * — identical framing, different per-block compressor. */
  private[index] def isBlockedMagic(m: Int): Boolean =
    m == FLD_MAGIC2 || m == FLD_MAGIC4

  private def compressBlock(magic: Int, raw: Array[Byte], len: Int): Array[Byte] =
    if (magic == FLD_MAGIC4) Lz4Block.compress(raw, len)
    else deflateBlock(raw, len)

  private def decompressBlock(magic: Int, comp: Array[Byte], rawLen: Int): Array[Byte] =
    if (magic == FLD_MAGIC4) Lz4Block.decompress(comp, comp.length, rawLen)
    else inflateBlock(comp, rawLen)

  private def inflateBlock(comp: Array[Byte], rawLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(comp)
      val out = new Array[Byte](rawLen)
      var off = 0
      while (off < rawLen && !inf.finished()) {
        val n = inf.inflate(out, off, rawLen - off)
        // needsDictionary: a corrupt zlib header with FDICT set would
        // otherwise return 0 forever — fail, don't spin
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new java.io.IOException("truncated stored-field block")
        off += n
      }
      out
    } finally inf.end()
  }

  /** Byte-position tracking for the seek indexes (.trm footer / .fdx):
    * sits between DataOutputStream and the buffered sink, so `count`
    * is exact at every record boundary. */
  private final class CountingOutputStream(out: java.io.OutputStream)
      extends java.io.OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }

  // ---- tombstones: _name_delGen.del = sorted deleted ordinals ----

  private def delFile(name: String, delGen: Int) = s"${name}_$delGen.del"

  private[index] def writeDels(fs: FileSystem, dir: Path, name: String,
                               delGen: Int, ords: collection.SortedSet[Int]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      fs.create(new Path(dir, delFile(name, delGen)), true)))
    try {
      out.writeInt(DEL_MAGIC)
      writeVInt(out, ords.size)
      var prev = 0
      ords.foreach { o => writeVInt(out, o - prev); prev = o }
    } finally out.close()
  }

  private[index] def readDels(fs: FileSystem, dir: Path,
                              meta: SegmentMeta): collection.immutable.SortedSet[Int] = {
    if (meta.delGen == 0) return collection.immutable.SortedSet.empty[Int]
    val in = new DataInputStream(new BufferedInputStream(
      fs.open(new Path(dir, delFile(meta.name, meta.delGen)))))
    try {
      require(in.readInt() == DEL_MAGIC, s"bad .del magic in $dir/${meta.name}")
      val n = readVInt(in)
      val b = collection.immutable.SortedSet.newBuilder[Int]
      var prev = 0
      (0 until n).foreach { _ => prev += readVInt(in); b += prev }
      b.result()
    } finally in.close()
  }

  // ---- segment write ----

  /** The index-time analyzer for text fields: lowercase alphanumeric
    * runs — deliberately the SAME tokenization SolrQueryString's
    * analyzed-term predicates use, so `text:spark` agrees between an
    * index lookup and a DataFrame scan. */
  private[graft] def analyze(v: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var i = 0
    val lower = v.toLowerCase
    while (i < lower.length) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.nonEmpty) { out += sb.toString; sb.clear() }
      i += 1
    }
    if (sb.nonEmpty) out += sb.toString
    out.toSeq
  }

  /** Allocation-light membership form of [[analyze]]: true iff
    * `analyze(v).contains(term)`, streaming the token runs in place
    * (one lowercase fold — the same locale-sensitive `toLowerCase` as
    * [[analyze]], which is 1:N on e.g. İ so a per-char fold would
    * drift — no buffers, no per-token Strings, early exit on first
    * match). This is [[graft.functions.TermMatch]]'s per-row kernel:
    * the residual filter runs it over every scanned row even when the
    * pushdown fired, so the token materialization [[analyze]] does was
    * a hot-spot there. Parity with `analyze(v).contains(term)` is
    * fuzz-locked in TermMatchSpec. */
  private[graft] def analyzeContains(v: String, term: String): Boolean = {
    val tn = term.length
    if (tn == 0) return false
    val lower = v.toLowerCase
    val n = lower.length
    @inline def tok(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
    var i = 0
    while (i < n) {
      while (i < n && !tok(lower.charAt(i))) i += 1
      var j = i
      while (j < n && tok(lower.charAt(j))) j += 1
      if (j - i == tn && lower.regionMatches(i, term, 0, tn)) return true
      i = j
    }
    false
  }

  /** Writer phase profile (nanos, cumulative, per-JVM): where segment
    * write wall time goes — the profile-first discipline that found
    * the r10 writer fixes. Phase boundaries are per-SEGMENT (a handful
    * of nanoTime calls per 128k docs — zero measurable overhead).
    * StoreStats prints the table; docs/SCALING.md records it. */
  private[index] object WritePhases {
    import java.util.concurrent.atomic.AtomicLong
    val stored = new AtomicLong   // .fld blocks (+codec) + .fdx
    val docLoop = new AtomicLong  // postings build (analyze, term hash)
    val vocabSort = new AtomicLong // per-field vocabulary sort
    val trm = new AtomicLong      // .trm serialize + write (+ .nrm)
    val dv = new AtomicLong       // .dvd + .dvm derive + write
    def reset(): Unit =
      Seq(stored, docLoop, vocabSort, trm, dv).foreach(_.set(0))
    def table: Seq[(String, Long)] = Seq("stored" -> stored.get,
      "docLoop" -> docLoop.get, "vocabSort" -> vocabSort.get,
      "trm" -> trm.get, "dv" -> dv.get)
  }

  private[index] def writeSegment(fs: FileSystem, dir: Path, name: String,
                                  docs: IndexedSeq[Doc],
                                  analyzed: Set[String] = Set.empty,
                                  compress: Boolean = true,
                                  storedMagic: Int = DefaultStoredMagic): SegmentMeta = {
    var tMark = System.nanoTime()
    def phase(acc: java.util.concurrent.atomic.AtomicLong): Unit = {
      val now = System.nanoTime()
      acc.addAndGet(now - tMark)
      tMark = now
    }
    // stored fields, doc-ordinal order; .fdx records each doc record's
    // position (fixed-width) so a selective query can seek straight
    // to its hit ordinals instead of streaming every stored doc —
    // Lucene's stored-fields index (.fdx) design. The default codec
    // (v2, Lucene's CompressingStoredFieldsFormat analog) packs doc
    // records into ~16 KiB deflate blocks: per doc the .fdx carries
    // (block file offset, raw offset inside the block), so a seek
    // costs one block inflate. `compress = false` writes the v1 plain
    // layout; both remain readable forever.
    if (compress) {
      val blockOffs = new Array[Long](docs.length)
      val rawOffs = new Array[Int](docs.length)
      val fldCount = new CountingOutputStream(new BufferedOutputStream(
        fs.create(new Path(dir, s"$name.fld"), true)))
      val fld = new DataOutputStream(fldCount)
      try {
        require(isBlockedMagic(storedMagic), s"not a block codec magic: $storedMagic")
        fld.writeInt(storedMagic)
        writeVInt(fld, docs.length)
        val block = new ByteWriter(StoredBlockSize + 4096)
        def flush(): Unit = if (block.n > 0) {
          val comp = compressBlock(storedMagic, block.buf, block.n)
          writeVInt(fld, block.n)
          writeVInt(fld, comp.length)
          fld.write(comp)
          block.reset()
        }
        var i = 0
        docs.foreach { d =>
          // nothing is written to fld while a block fills, so `count`
          // IS the file offset the current block will flush to
          blockOffs(i) = fldCount.count
          rawOffs(i) = block.n
          i += 1
          block.putVInt(d.length)
          d.foreach { case (f, v) => block.putStr(f); block.putStr(v) }
          if (block.n >= StoredBlockSize) flush()
        }
        flush()
      } finally fld.close()
      val fdx = new ByteWriter(8 + 12 * docs.length)
      fdx.putIntBE(FDX_MAGIC2)
      fdx.putIntBE(docs.length)
      var i = 0
      while (i < docs.length) {
        fdx.putLongBE(blockOffs(i)); fdx.putIntBE(rawOffs(i)); i += 1
      }
      val fdxOut = fs.create(new Path(dir, s"$name.fdx"), true)
      try fdx.drainTo(fdxOut) finally fdxOut.close()
    } else {
      val docOffsets = new Array[Long](docs.length)
      val fldCount = new CountingOutputStream(new BufferedOutputStream(
        fs.create(new Path(dir, s"$name.fld"), true)))
      val fld = new DataOutputStream(fldCount)
      try {
        fld.writeInt(FLD_MAGIC)
        writeVInt(fld, docs.length)
        val rec = new ByteWriter(1024)
        var i = 0
        docs.foreach { d =>
          docOffsets(i) = fldCount.count
          i += 1
          rec.putVInt(d.length)
          d.foreach { case (f, v) => rec.putStr(f); rec.putStr(v) }
          rec.drainTo(fld)
        }
      } finally fld.close()
      val fdx = new ByteWriter(8 + 8 * docs.length)
      fdx.putIntBE(FDX_MAGIC)
      fdx.putIntBE(docs.length)
      docOffsets.foreach(fdx.putLongBE)
      val fdxOut = fs.create(new Path(dir, s"$name.fdx"), true)
      try fdx.drainTo(fdxOut) finally fdxOut.close()
    }
    phase(WritePhases.stored)
    // inverted postings: field → term → ascending distinct ordinals.
    // Analyzed fields index their TOKENS (stored value stays verbatim,
    // the Lucene stored-vs-indexed split) WITH token positions, so
    // phrase queries run against the index; everything else indexes
    // the exact value (docValues/StrField behavior, no positions).
    // Multivalued analyzed fields advance positions by a 100 gap
    // between values (Lucene's positionIncrementGap) so phrases never
    // match across value boundaries.
    // unboxed growable posting buffers: ArrayBuffer[Int] boxes every
    // ordinal/position, and the build+write loops touch every posting
    // — this class is the difference between an allocation per posting
    // and an amortized array append
    final class IntsBuf(initial: Int) {
      var arr = new Array[Int](initial)
      var n = 0
      def add(v: Int): Unit = {
        if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length << 1)
        arr(n) = v; n += 1
      }
      def last: Int = arr(n - 1)
      def isEmpty: Boolean = n == 0
    }
    // positions stays null for non-analyzed fields (exact terms carry
    // no positions — the write path emits the 0-length run directly)
    final class Posting {
      val ords = new IntsBuf(4)
      var positions: mutable.ArrayBuffer[IntsBuf] = null
    }
    val post = mutable.HashMap.empty[String, mutable.HashMap[String, Posting]]
    // norms: per-ord token counts of each ANALYZED field (the Lucene
    // norms analog) — what index-side BM25 needs for |d| and avgdl
    // without re-analyzing stored values. Multivalued fields sum
    // tokens across ALL values (Lucene/Solr length semantics).
    val norms = mutable.HashMap.empty[String, Array[Int]]
    // persisted docValues (Lucene's docValues="true" contract, the
    // reference's schema.xml:70): per NON-analyzed field that stays
    // single-valued across this segment, the forward doc→value column
    // is written ONCE at index time, so pivot/grouped-stat queries
    // read a packed ord column instead of re-inverting postings per
    // query. A field repeated within any doc is multivalued — no
    // forward column (the pushdown contract never groups on those).
    // occurrence counts, not value copies: the forward column itself
    // derives from the postings vocabulary below (for a non-analyzed
    // field the postings terms ARE the distinct values), so the doc
    // loop only needs to detect multivalued fields
    val dvOcc = mutable.HashMap.empty[String, Array[Int]]
    val dvMulti = mutable.HashSet.empty[String]
    var ord = 0
    val fieldPos = mutable.HashMap.empty[String, Int] // analyzed-field position bases, reused per doc
    // per-field terms in ARRIVAL order (appended on first sight): the
    // sink feeds each segment sorted by id, so id-like vocabularies
    // arrive as one run and the CP sort below degrades from
    // O(V log V) random-order to TimSort's O(V) run detection — the
    // vocabulary sort was the writer's single largest phase (~30%)
    val arrival = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    docs.foreach { d =>
      if (fieldPos.nonEmpty) fieldPos.clear()
      d.foreach { case (f, v) =>
        val isAna = analyzed.contains(f)
        if (!isAna) {
          val occ = dvOcc.getOrElseUpdate(f, new Array[Int](docs.length))
          occ(ord) += 1
          if (occ(ord) > 1) dvMulti += f
        }
        val byField = post.getOrElseUpdate(f, mutable.HashMap.empty)
        if (!isAna) {
          // exact term, no positions, no per-value tokenization
          val szBefore = byField.size
          val p = byField.getOrElseUpdate(v, new Posting)
          if (byField.size != szBefore)
            arrival.getOrElseUpdate(f, mutable.ArrayBuffer.empty) += v
          if (p.ords.isEmpty || p.ords.last != ord) p.ords.add(ord)
        } else {
          val terms = analyze(v)
          norms.getOrElseUpdate(f, new Array[Int](docs.length))(ord) += terms.length
          val base = fieldPos.getOrElse(f, 0)
          var i = 0
          val it = terms.iterator
          while (it.hasNext) {
            val t = it.next()
            val szBefore = byField.size
            val p = byField.getOrElseUpdate(t, new Posting)
            if (byField.size != szBefore)
              arrival.getOrElseUpdate(f, mutable.ArrayBuffer.empty) += t
            if (p.ords.isEmpty || p.ords.last != ord) { // dedupe same term, same doc
              p.ords.add(ord)
              if (p.positions == null) p.positions = mutable.ArrayBuffer.empty
              p.positions += new IntsBuf(2)
            }
            p.positions.last.add(base + i)
            i += 1
          }
          fieldPos(f) = base + terms.length + 100
        }
      }
      ord += 1
    }
    phase(WritePhases.docLoop)
    // v3: v2 per-field blocks + a seek FOOTER (field → block offset)
    // and a fixed 12-byte trailer naming the footer — Lucene's
    // per-field terms index. A reader touching one field seeks to its
    // block instead of parsing the whole dictionary.
    // each field's vocabulary is sorted ONCE (code-point order, the
    // zone-map/pushdown comparator) and shared by the .trm write, the
    // .dvd dict and the zone-map stats — the biggest vocab (an id
    // field) is segment-sized, and sorting it repeatedly was a top
    // slice of write cost. Readers parse term blocks into maps, so
    // block order is determinism, not contract.
    val fields = post.keys.toSeq.sorted
    val sortedVocab = mutable.HashMap.empty[String, Array[String]]
    fields.foreach { f =>
      // getOrElse: a field whose every value analyzed to zero tokens
      // has a postings entry but no terms, hence no arrival list
      val a = arrival.getOrElse(f, mutable.ArrayBuffer.empty[String]).toArray
      java.util.Arrays.sort(a, CpOrdering)
      sortedVocab(f) = a
    }
    phase(WritePhases.vocabSort)
    val trm = new ByteWriter(1 << 20)
    trm.putIntBE(TRM_MAGIC4)
    val fieldOffsets = new Array[Long](fields.length)
    fields.iterator.zipWithIndex.foreach { case (f, fi) =>
      fieldOffsets(fi) = trm.n.toLong
      trm.putStr(f)
      // positions exist exactly for analyzed fields — one flag per
      // field instead of a zero count per posting
      val hasPos = analyzed.contains(f)
      trm.putVInt(if (hasPos) 1 else 0)
      val byField = post(f)
      val terms = sortedVocab(f)
      trm.putVInt(terms.length)
      var prevTerm = ""
      terms.foreach { t =>
        val pl = sharedPrefixLen(prevTerm, t)
        trm.putVInt(pl)
        trm.putStr(if (pl == 0) t else t.substring(pl))
        prevTerm = t
        val p = byField(t)
        trm.putVInt(p.ords.n)
        var prev = 0
        var i = 0
        while (i < p.ords.n) {
          val o = p.ords.arr(i)
          trm.putVInt(o - prev); prev = o
          if (hasPos) {
            val ps = p.positions(i)
            trm.putVInt(ps.n)
            var pprev = 0
            var j = 0
            while (j < ps.n) {
              val pv = ps.arr(j)
              trm.putVInt(pv - pprev); pprev = pv; j += 1
            }
          }
          i += 1
        }
      }
    }
    val footerOff = trm.n.toLong
    trm.putVInt(fields.length)
    fields.iterator.zipWithIndex.foreach { case (f, fi) =>
      trm.putStr(f)
      trm.putLongBE(fieldOffsets(fi))
    }
    trm.putLongBE(footerOff)
    trm.putIntBE(TRM_MAGIC4)
    val trmOut = fs.create(new Path(dir, s"$name.trm"), true)
    try trm.drainTo(trmOut) finally trmOut.close()
    if (norms.nonEmpty) {
      val nrm = new DataOutputStream(new BufferedOutputStream(
        fs.create(new Path(dir, s"$name.nrm"), true)))
      try {
        nrm.writeInt(NRM_MAGIC)
        val fields = norms.keys.toSeq.sorted
        writeVInt(nrm, fields.length)
        fields.foreach { f =>
          writeStr(nrm, f)
          val arr = norms(f)
          writeVInt(nrm, arr.length)
          arr.foreach(writeVInt(nrm, _))
        }
      } finally nrm.close()
    }
    phase(WritePhases.trm)
    val dvFields = (dvOcc.keySet -- dvMulti).toSeq.sorted
    if (dvFields.nonEmpty) {
      // forward columns straight from the postings: for a single-
      // valued non-analyzed field the vocabulary IS the value dict,
      // and each term's posting list names exactly the docs holding
      // it — one array pass per field, no per-doc string hashing
      val cols = dvFields.map { f =>
        val byField = post(f)
        val terms = sortedVocab(f)
        val ordCol = new Array[Int](docs.length) // 0 = doc lacks the field
        var ti = 0
        while (ti < terms.length) {
          val p = byField(terms(ti))
          var i = 0
          while (i < p.ords.n) { ordCol(p.ords.arr(i)) = ti + 1; i += 1 }
          ti += 1
        }
        (f, terms, ordCol)
      }
      writeDocValuesCols(fs, dir, name, cols, docs.length)
    }
    // SORTED_SET docValues (.dvm) for the fields the single-valued
    // column can't hold: ANALYZED fields (per-doc distinct-token sets)
    // and MULTIVALUED non-analyzed fields (per-doc value sets) — the
    // Lucene SortedSetDocValues design. Derived from the postings in
    // one counting pass + one fill pass per field; per-doc lists come
    // out ascending in dict order for free (terms iterate sorted).
    // Facet queries then read a packed forward column instead of
    // re-walking the field's postings (positions and all) per query.
    val dvmFields = fields.filter(f => analyzed.contains(f) || dvMulti.contains(f))
    if (dvmFields.nonEmpty) {
      val cols = dvmFields.map { f =>
        val byField = post(f)
        val terms = sortedVocab(f)
        val counts = new Array[Int](docs.length)
        var ti = 0
        while (ti < terms.length) {
          val p = byField(terms(ti))
          var i = 0
          while (i < p.ords.n) { counts(p.ords.arr(i)) += 1; i += 1 }
          ti += 1
        }
        val offs = new Array[Int](docs.length + 1)
        var o = 0
        while (o < docs.length) { offs(o + 1) = offs(o) + counts(o); o += 1 }
        val lists = new Array[Int](offs(docs.length))
        val fill = java.util.Arrays.copyOf(offs, docs.length)
        ti = 0
        while (ti < terms.length) {
          val p = byField(terms(ti))
          var i = 0
          while (i < p.ords.n) {
            val d = p.ords.arr(i)
            lists(fill(d)) = ti
            fill(d) += 1
            i += 1
          }
          ti += 1
        }
        (f, terms, offs, lists)
      }
      writeSortedSetCols(fs, dir, name, cols, docs.length)
    }
    phase(WritePhases.dv)
    // zone-map stats: min/max indexed term per NON-analyzed field
    // (code-point order — must match what a pushed range predicate
    // means to Spark, see cpCompare)
    val stats = post.iterator.collect {
      case (f, terms) if !analyzed.contains(f) && terms.nonEmpty =>
        // the shared vocab is already CP-sorted: bounds are its ends
        val sv = sortedVocab(f)
        f -> (sv(0), sv(sv.length - 1))
    }.toMap
    SegmentMeta(name, docs.length, stats = stats)
  }

  /** `.dvd` — persisted docValues: per field, a CP-sorted term dict
    * then one varint per doc ordinal (dict index + 1; 0 = doc lacks
    * the field), with a v3-style per-field seek footer so reading one
    * field's column never parses the rest. The on-disk analog of
    * Lucene's SortedDocValues (ord column + terms dict). */
  private def writeDocValuesCols(fs: FileSystem, dir: Path, name: String,
                                 fields: Seq[(String, Array[String], Array[Int])],
                                 nDocs: Int): Unit = {
    val out = new ByteWriter(1 << 18)
    out.putIntBE(DVD_MAGIC2)
    val offsets = new Array[Long](fields.length)
    fields.iterator.zipWithIndex.foreach { case ((f, terms, ordCol), fi) =>
      offsets(fi) = out.n.toLong
      out.putStr(f)
      putDict(out, terms)
      out.putVInt(nDocs)
      var o = 0
      while (o < nDocs) { out.putVInt(ordCol(o)); o += 1 }
    }
    val footerOff = out.n.toLong
    out.putVInt(fields.length)
    fields.iterator.zipWithIndex.foreach { case ((f, _, _), fi) =>
      out.putStr(f)
      out.putLongBE(offsets(fi))
    }
    out.putLongBE(footerOff)
    out.putIntBE(DVD_MAGIC2)
    val os = fs.create(new Path(dir, s"$name.dvd"), true)
    try out.drainTo(os) finally os.close()
  }

  /** `.dvm` — SORTED_SET docValues: per field, a CP-sorted term dict
    * then per-doc ord LISTS (varint length + delta-encoded ascending
    * dict indexes), with the same per-field seek footer as `.dvd`.
    * The on-disk analog of Lucene's SortedSetDocValues — the forward
    * view of MULTIVALUED and ANALYZED fields, where one doc carries a
    * SET of ords. `offs` is the CSR offsets array (doc o's ords live
    * at lists[offs(o) until offs(o+1)], ascending). */
  private def writeSortedSetCols(fs: FileSystem, dir: Path, name: String,
                                 fields: Seq[(String, Array[String], Array[Int], Array[Int])],
                                 nDocs: Int): Unit = {
    val out = new ByteWriter(1 << 18)
    out.putIntBE(DVM_MAGIC2)
    val offsets = new Array[Long](fields.length)
    fields.iterator.zipWithIndex.foreach { case ((f, terms, offs, lists), fi) =>
      offsets(fi) = out.n.toLong
      out.putStr(f)
      putDict(out, terms)
      out.putVInt(nDocs)
      var o = 0
      while (o < nDocs) {
        val from = offs(o)
        val until = offs(o + 1)
        out.putVInt(until - from)
        var prev = 0
        var j = from
        while (j < until) {
          out.putVInt(lists(j) - prev)
          prev = lists(j)
          j += 1
        }
        o += 1
      }
    }
    val footerOff = out.n.toLong
    out.putVInt(fields.length)
    fields.iterator.zipWithIndex.foreach { case ((f, _, _, _), fi) =>
      out.putStr(f)
      out.putLongBE(offsets(fi))
    }
    out.putLongBE(footerOff)
    out.putIntBE(DVM_MAGIC2)
    val os = fs.create(new Path(dir, s"$name.dvm"), true)
    try out.drainTo(os) finally os.close()
  }

  /** SORTED_SET docValues of SELECTED fields (None = all): field →
    * (CP-sorted term dict, CSR offsets, concatenated ascending ord
    * lists). Empty for segments written before `.dvm` existed —
    * callers fall back to postings. Footer-seeked like `.dvd`. */
  private[index] def readSortedSet(fs: FileSystem, dir: Path, name: String,
                                   sel: Option[Set[String]])
      : Map[String, (Array[String], Array[Int], Array[Int])] = {
    val path = new Path(dir, s"$name.dvm")
    if (!fs.exists(path)) return Map.empty
    if (sel.exists(_.isEmpty)) return Map.empty
    val raw = fs.open(path)
    try {
      val magic = new DataInputStream(raw).readInt()
      require(magic == DVM_MAGIC || magic == DVM_MAGIC2,
        s"bad .dvm magic in $dir/$name")
      val len = fs.getFileStatus(path).getLen
      raw.seek(len - 12)
      val tail = new DataInputStream(raw)
      val footerOff = tail.readLong()
      require(tail.readInt() == magic, s"bad .dvm trailer in $dir/$name")
      raw.seek(footerOff)
      val foot = new DataInputStream(new BufferedInputStream(raw))
      val nFields = readVInt(foot)
      val offs = (0 until nFields).map(_ => (readStr(foot), foot.readLong()))
      offs.iterator
        .filter { case (f, _) => sel.forall(_.contains(f)) }
        .map { case (_, off) =>
          raw.seek(off)
          val in = new DataInputStream(new BufferedInputStream(raw))
          val f = readStr(in)
          val terms = readDict(in, frontCoded = magic == DVM_MAGIC2)
          val nD = readVInt(in)
          val csr = new Array[Int](nD + 1)
          var buf = new Array[Int](math.max(nD * 2, 16))
          var bn = 0
          var o = 0
          while (o < nD) {
            val n = readVInt(in)
            csr(o + 1) = csr(o) + n
            var prev = 0
            var j = 0
            while (j < n) {
              prev += readVInt(in)
              if (bn == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length << 1)
              buf(bn) = prev
              bn += 1
              j += 1
            }
            o += 1
          }
          f -> (terms, csr, java.util.Arrays.copyOf(buf, bn))
        }.toMap
    } finally raw.close()
  }

  /** Persisted docValues of SELECTED fields (None = all): field →
    * (CP-sorted term dict, per-ordinal dict index, -1 = missing).
    * Empty for segments written before docValues existed — callers
    * fall back to postings inversion. Footer-seeked: I/O ∝ the
    * selected fields' columns. */
  private[index] def readDocValues(fs: FileSystem, dir: Path, name: String,
                                   sel: Option[Set[String]])
      : Map[String, (Array[String], Array[Int])] = {
    val path = new Path(dir, s"$name.dvd")
    if (!fs.exists(path)) return Map.empty
    if (sel.exists(_.isEmpty)) return Map.empty
    val raw = fs.open(path)
    try {
      val magic = new DataInputStream(raw).readInt()
      require(magic == DVD_MAGIC || magic == DVD_MAGIC2,
        s"bad .dvd magic in $dir/$name")
      val len = fs.getFileStatus(path).getLen
      raw.seek(len - 12)
      val tail = new DataInputStream(raw)
      val footerOff = tail.readLong()
      require(tail.readInt() == magic, s"bad .dvd trailer in $dir/$name")
      raw.seek(footerOff)
      val foot = new DataInputStream(new BufferedInputStream(raw))
      val nFields = readVInt(foot)
      val offs = (0 until nFields).map(_ => (readStr(foot), foot.readLong()))
      offs.iterator
        .filter { case (f, _) => sel.forall(_.contains(f)) }
        .map { case (_, off) =>
          raw.seek(off)
          val in = new DataInputStream(new BufferedInputStream(raw))
          val f = readStr(in)
          val terms = readDict(in, frontCoded = magic == DVD_MAGIC2)
          val nD = readVInt(in)
          val idx = new Array[Int](nD)
          var o = 0
          while (o < nD) { idx(o) = readVInt(in) - 1; o += 1 }
          f -> (terms, idx)
        }.toMap
    } finally raw.close()
  }

  /** Raw-merge eligibility: every source segment is tombstone-free,
    * carries the stored-field seek index (.fdx) and the v3 terms
    * dictionary, and — when the store analyzes fields — its norms
    * file (a source missing norms would need re-analysis to rebuild
    * them, i.e. the rewrite path). */
  private[index] def canRawMerge(fs: FileSystem, dir: Path,
                                 segs: Seq[SegmentMeta],
                                 analyzed: Set[String]): Boolean =
    segs.forall { s =>
      s.dels == 0 && fs.exists(new Path(dir, s"${s.name}.fdx")) &&
        (analyzed.isEmpty || s.docs == 0 ||
          fs.exists(new Path(dir, s"${s.name}.nrm"))) && {
          val in = fs.open(new Path(dir, s"${s.name}.trm"))
          try { val m = in.readInt(); m == TRM_MAGIC3 || m == TRM_MAGIC4 }
          finally in.close()
        }
    } && {
      // byte concatenation requires ONE stored-field codec across all
      // sources; a mixed-codec store (e.g. addIndexes-copied legacy
      // segments) takes the rewrite path, which re-emits as the
      // default codec
      fldMagics(fs, dir, segs).distinct.lengthIs <= 1
    }

  private def fldMagics(fs: FileSystem, dir: Path,
                        segs: Seq[SegmentMeta]): Seq[Int] =
    segs.filter(_.docs > 0).map { s =>
      val in = fs.open(new Path(dir, s"${s.name}.fld"))
      try in.readInt() finally in.close()
    }

  /** A source dictionary that is not strictly increasing in code-point
    * order (e.g. a segment an older build merged in UTF-16 order): the
    * k-way merge cannot consume it. */
  private final class UnsortedDictException(what: String)
      extends RuntimeException(s"dictionary not in code-point order: $what", null, false, false)

  /** [[cpCompare]] over char buffers — the merge cursors' terms, so no
    * String is built per term. */
  private def cpCompare(a: Array[Char], aLen: Int, b: Array[Char], bLen: Int): Int = {
    val n = math.min(aLen, bLen)
    var i = 0
    while (i < n) {
      val ca = a(i)
      val cb = b(i)
      if (ca != cb) {
        if (ca >= 0xD800 && cb >= 0xD800) {
          val fa = if (ca >= 0xE000) ca - 0x800 else ca + 0x2000
          val fb = if (cb >= 0xE000) cb - 0x800 else cb + 0x2000
          return fa - fb
        }
        return ca - cb
      }
      i += 1
    }
    Integer.compare(aLen, bLen)
  }

  /** One source's footer-indexed file (.trm v3/v4, .dvd, .dvm): its
    * magic and each field block's byte range. Blocks are loaded one
    * field at a time by positional read, so a merge holds one field
    * block per source, never the whole file. */
  private final class BlockFile(fs: FileSystem, path: Path) extends java.io.Closeable {
    private val in = fs.open(path)
    val magic: Int = in.readInt()
    /** field → (offset, length) */
    val blocks: Map[String, (Long, Int)] = {
      in.seek(fs.getFileStatus(path).getLen - 12)
      val footerOff = in.readLong()
      require(in.readInt() == magic, s"bad trailer in $path")
      in.seek(footerOff)
      val foot = new DataInputStream(new BufferedInputStream(in))
      val offs = Array.fill(readVInt(foot))((readStr(foot), foot.readLong()))
      // a block ends where the next one (or the footer) starts
      val starts = (offs.map(_._2) :+ footerOff).sorted
      offs.map { case (f, o) => f -> (o, (starts.find(_ > o).get - o).toInt) }.toMap
    }
    def block(f: String): Array[Byte] = {
      val (off, len) = blocks(f)
      val b = new Array[Byte](len)
      in.readFully(off, b)
      b
    }
    def close(): Unit = in.close()
  }

  /** Cursor over one source field block: varints at `pos`, and the
    * block's sorted dictionary decoded term by term into a reused char
    * buffer (`term`/`len`; front-coded or verbatim). Each [[next]]
    * checks that the new term is strictly greater than the previous
    * one in code-point order — the order the k-way merge relies on. */
  private final class DictCursor(val buf: Array[Byte], frontCoded: Boolean, what: => String) {
    var pos = 0
    var term = new Array[Char](32)
    var len = 0
    /** dictionary index of the current term */
    var idx = -1
    private var prev = new Array[Char](32)
    private var left = 0

    def vint(): Int = {
      var b = buf(pos)
      pos += 1
      var v = b & 0x7F
      var shift = 7
      while ((b & 0x80) != 0) {
        b = buf(pos)
        pos += 1
        v |= (b & 0x7F) << shift
        shift += 7
      }
      v
    }
    def skipVInts(k: Int): Unit = {
      var i = 0
      while (i < k) {
        while (buf(pos) < 0) pos += 1 // continuation bit set
        pos += 1
        i += 1
      }
    }
    def skipStr(): Unit = { val n = vint(); pos += n }
    /** Reads the dictionary size at `pos`; the terms follow. */
    def startDict(): Int = { left = vint(); left }

    def next(): Boolean = left > 0 && {
      left -= 1
      val t = prev; prev = term; term = t
      val prevLen = len
      val pl = if (frontCoded) vint() else 0
      val n = vint()
      if (pl > prevLen) throw new java.io.IOException(s"corrupt front-coded dictionary: $what")
      if (term.length < pl + n) term = new Array[Char](math.max(pl + n, term.length * 2))
      System.arraycopy(prev, 0, term, 0, pl)
      var i = 0
      while (i < n && buf(pos + i) >= 0) { term(pl + i) = buf(pos + i).toChar; i += 1 }
      len =
        if (i == n) pl + n
        else {
          val s = new String(buf, pos, n, StandardCharsets.UTF_8)
          s.getChars(0, s.length, term, pl)
          pl + s.length
        }
      pos += n
      idx += 1
      if (idx > 0 && cpCompare(prev, prevLen, term, len) >= 0) throw new UnsortedDictException(what)
      true
    }
  }

  /** Output side of front coding ([[putDict]] / the writer's .trm
    * terms) over char buffers. */
  private final class FrontCoder {
    private var prev = new Array[Char](32)
    private var prevLen = 0
    def put(out: ByteWriter, t: Array[Char], tLen: Int): Unit = {
      // sharedPrefixLen over buffers
      val m = math.min(prevLen, tLen)
      var pl = 0
      while (pl < m && prev(pl) == t(pl)) pl += 1
      if (pl < tLen && pl > 0 && Character.isLowSurrogate(t(pl))) pl -= 1
      out.putVInt(pl)
      out.putChars(t, pl, tLen)
      if (prev.length < tLen) prev = new Array[Char](math.max(tLen, prev.length * 2))
      System.arraycopy(t, 0, prev, 0, tLen)
      prevLen = tLen
    }
  }

  /** k-way union of the cursors' sorted dictionaries (Lucene's
    * MultiTermsEnum): a binary heap orders cursors by (current term,
    * cursor index), so `onTerm(tops, m)` runs once per distinct term,
    * in code-point order, with the m cursors holding it in index
    * order — `tops(0)`'s buffer holds the term. `onTerm` may consume
    * bytes after each cursor's term (the .trm postings) before the
    * cursors advance. Returns the number of distinct terms. */
  private def unionDicts(cs: Array[DictCursor])(onTerm: (Array[Int], Int) => Unit): Int = {
    val heap = new Array[Int](cs.length)
    var size = 0
    def less(a: Int, b: Int): Boolean = {
      val c = cpCompare(cs(a).term, cs(a).len, cs(b).term, cs(b).len)
      c < 0 || (c == 0 && a < b)
    }
    def push(x: Int): Unit = {
      var k = size
      size += 1
      while (k > 0 && less(x, heap((k - 1) >> 1))) { heap(k) = heap((k - 1) >> 1); k = (k - 1) >> 1 }
      heap(k) = x
    }
    def pop(): Int = {
      val top = heap(0)
      size -= 1
      if (size > 0) {
        val x = heap(size)
        var k = 0
        var done = false
        while (!done) {
          var c = 2 * k + 1
          if (c >= size) done = true
          else {
            if (c + 1 < size && less(heap(c + 1), heap(c))) c += 1
            if (less(heap(c), x)) { heap(k) = heap(c); k = c } else done = true
          }
        }
        heap(k) = x
      }
      top
    }
    var i = 0
    while (i < cs.length) { if (cs(i).next()) push(i); i += 1 }
    val tops = new Array[Int](cs.length)
    var distinct = 0
    while (size > 0) {
      val c0 = cs(heap(0))
      var m = 0
      while (size > 0 && cpCompare(cs(heap(0)).term, cs(heap(0)).len, c0.term, c0.len) == 0) {
        tops(m) = pop()
        m += 1
      }
      onTerm(tops, m)
      distinct += 1
      var j = 0
      while (j < m) { if (cs(tops(j)).next()) push(tops(j)); j += 1 }
    }
    distinct
  }

  /** Appends one source's posting list of the current term (`n` docs)
    * to `out` with ordinals shifted by `base`; `last` is the previous
    * ordinal written for this term, and the last one written is
    * returned. When the source lays postings out as the output does
    * (a positions run per posting or none), only the first gap is
    * re-encoded and the rest copies as bytes, positions included. */
  private def copyPostings(c: DictCursor, n: Int, base: Int, last: Int,
                           srcPos: Boolean, outPos: Boolean, out: ByteWriter): Int = {
    if (n == 0) return last
    var ord = c.vint()
    out.putVInt(ord + base - last)
    if (srcPos == outPos) {
      val from = c.pos
      if (srcPos) c.skipVInts(c.vint())
      var i = 1
      while (i < n) {
        ord += c.vint()
        if (srcPos) c.skipVInts(c.vint())
        i += 1
      }
      out.putBytes(c.buf, from, c.pos - from)
    } else {
      // a v3 source's empty runs are dropped, a source flagged without
      // positions gets empty runs added
      var i = 0
      while (i < n) {
        if (i > 0) { val g = c.vint(); ord += g; out.putVInt(g) }
        if (srcPos) c.skipVInts(c.vint()) else out.putVInt(0)
        i += 1
      }
    }
    ord + base
  }

  /** Whether any posting of a v3 block (cursor at its dictionary size)
    * carries positions — v3 has no per-field flag. */
  private def v3HasPositions(block: DictCursor): Boolean = {
    val c = new DictCursor(block.buf, frontCoded = false, "")
    c.pos = block.pos
    c.startDict()
    while (c.next()) {
      var n = c.vint()
      while (n > 0) {
        c.vint()
        val np = c.vint()
        if (np > 0) return true
        n -= 1
      }
    }
    false
  }

  /**
   * Postings-level segment merge — Lucene's `SegmentMerger` design,
   * streaming:
   *  - `.trm`: per field, one cursor per source over that field's
   *    block; the sorted dictionaries k-way merge in code-point order
   *    (the writer's order). Per term the summed doc count is written,
   *    then each source's postings with ordinals shifted by its doc
   *    base — only each source's first gap is re-encoded, the rest
   *    (positions included) copies as bytes. One output field block
   *    is built in a byte buffer, since its term count precedes it.
   *  - `.nrm`: each source's norms are read once and written at their
   *    doc base (zeros where a source lacks the field).
   *  - `.dvd` / `.dvm`: the merged dictionary is the k-way union of
   *    the sources' dictionaries plus one dict-index remap array per
   *    source; the per-doc ords stream through the remap.
   *  - `.fld` / `.fdx`: stored bytes concatenate, offsets shift.
   * Heap is O(docs) in primitive arrays plus one field block of bytes
   * per source and for the output; no object is built per posting or
   * per doc. No document is re-parsed or re-analyzed.
   *
   * Returns None — with the files written under `name` deleted — when
   * a source dictionary is not strictly increasing in code-point
   * order; the caller then rewrites the live docs, as it does for
   * sources carrying tombstones ([[canRawMerge]] false).
   */
  private[index] def mergeSegmentsRaw(fs: FileSystem, dir: Path, name: String,
                                      segs: Seq[SegmentMeta]): Option[SegmentMeta] = {
    val totalDocs = segs.map(_.docs).sum
    // empty sources contribute nothing to any file
    val live = segs.filter(_.docs > 0).toIndexedSeq
    val bases = live.scanLeft(0)(_ + _.docs)
    try {
      val srcFields = mergeTrm(fs, dir, name, live, bases)
      mergeNorms(fs, dir, name, live, totalDocs)
      mergeDocValues(fs, dir, name, live, srcFields, totalDocs, sortedSet = false)
      mergeDocValues(fs, dir, name, live, srcFields, totalDocs, sortedSet = true)
      mergeStored(fs, dir, name, segs, totalDocs)
    } catch {
      case e: Throwable =>
        Seq("fld", "fdx", "trm", "nrm", "dvd", "dvm").foreach { ext =>
          try fs.delete(new Path(dir, s"$name.$ext"), false)
          catch { case d: java.io.IOException => e.addSuppressed(d) }
        }
        e match {
          case _: UnsortedDictException => return None
          case _ => throw e
        }
    }
    // zone-map stats: per-field min/max combined across sources
    val stats = segs.flatMap(_.stats.toSeq)
      .groupBy(_._1)
      .map { case (f, vs) =>
        f -> (vs.map(_._2._1).min(CpOrdering), vs.map(_._2._2).max(CpOrdering))
      }
    Some(SegmentMeta(name, totalDocs, stats = stats))
  }

  /** The `.trm` half of [[mergeSegmentsRaw]]; returns each source's
    * indexed fields (the docValues eligibility input). */
  private def mergeTrm(fs: FileSystem, dir: Path, name: String,
                       live: IndexedSeq[SegmentMeta], bases: Seq[Int]): IndexedSeq[Set[String]] = {
    val trms = live.map(s => new BlockFile(fs, new Path(dir, s"${s.name}.trm")))
    try {
      val out = new CountingOutputStream(new BufferedOutputStream(
        fs.create(new Path(dir, s"$name.trm"), true)))
      try {
        val head = new ByteWriter(256)
        val body = new ByteWriter(1 << 16)
        head.putIntBE(TRM_MAGIC4)
        head.drainTo(out)
        val fields = trms.flatMap(_.blocks.keys).distinct.sorted
        val fieldOffsets = new Array[Long](fields.length)
        fields.iterator.zipWithIndex.foreach { case (f, fi) =>
          val srcs = live.indices.filter(i => trms(i).blocks.contains(f)).toArray
          val cs = srcs.map { i =>
            new DictCursor(trms(i).block(f), frontCoded = trms(i).magic == TRM_MAGIC4,
              s"$dir/${live(i).name}.trm field $f")
          }
          // per source: does each posting carry a positions run? (v4:
          // the field flag; v3: always, maybe empty)
          val srcPos = cs.indices.map { k =>
            cs(k).skipStr()
            trms(srcs(k)).magic != TRM_MAGIC4 || cs(k).vint() == 1
          }.toArray
          val hasPos = cs.indices.exists { k =>
            if (trms(srcs(k)).magic == TRM_MAGIC4) srcPos(k) else v3HasPositions(cs(k))
          }
          cs.foreach(_.startDict())
          val counts = new Array[Int](cs.length)
          val coder = new FrontCoder
          val nTerms = unionDicts(cs) { (tops, m) =>
            var sum = 0
            var j = 0
            while (j < m) { counts(j) = cs(tops(j)).vint(); sum += counts(j); j += 1 }
            val c0 = cs(tops(0))
            coder.put(body, c0.term, c0.len)
            body.putVInt(sum)
            var last = 0
            j = 0
            while (j < m) {
              val k = tops(j)
              last = copyPostings(cs(k), counts(j), bases(srcs(k)), last, srcPos(k), hasPos, body)
              j += 1
            }
          }
          fieldOffsets(fi) = out.count
          head.putStr(f)
          head.putVInt(if (hasPos) 1 else 0)
          head.putVInt(nTerms)
          head.drainTo(out)
          body.drainTo(out)
        }
        val footerOff = out.count
        head.putVInt(fields.length)
        fields.iterator.zipWithIndex.foreach { case (f, fi) =>
          head.putStr(f)
          head.putLongBE(fieldOffsets(fi))
        }
        head.putLongBE(footerOff)
        head.putIntBE(TRM_MAGIC4)
        head.drainTo(out)
      } finally out.close()
      trms.map(_.blocks.keySet)
    } finally trms.foreach(_.close())
  }

  /** The `.nrm` half of [[mergeSegmentsRaw]]: each source's per-ord
    * token counts at its doc base (a source without the field
    * contributes zeros — it has no tokens there). */
  private def mergeNorms(fs: FileSystem, dir: Path, name: String,
                         live: IndexedSeq[SegmentMeta], totalDocs: Int): Unit = {
    val norms = live.map(s => readNorms(fs, dir, s.name))
    val fields = norms.flatMap(_.keys).distinct.sorted
    if (fields.nonEmpty) {
      val os = new BufferedOutputStream(fs.create(new Path(dir, s"$name.nrm"), true))
      try {
        val out = new ByteWriter(1 << 16)
        out.putIntBE(NRM_MAGIC)
        out.putVInt(fields.length)
        fields.foreach { f =>
          out.putStr(f)
          out.putVInt(totalDocs)
          live.indices.foreach { i =>
            val a = norms(i).getOrElse(f, Array.emptyIntArray)
            require(a.length <= live(i).docs, s"bad .nrm length in $dir/${live(i).name}")
            var o = 0
            while (o < live(i).docs) { out.putVInt(if (o < a.length) a(o) else 0); o += 1 }
            out.drainTo(os)
          }
        }
        out.drainTo(os)
      } finally os.close()
    }
  }

  /** The `.dvd` (single-valued) or `.dvm` (SORTED_SET) half of
    * [[mergeSegmentsRaw]]. A field merges only when every source that
    * HOLDS it (postings-wise) carries its column — otherwise the merged
    * segment omits it and readers fall back to per-query inversion
    * (never a wrong answer, only the legacy cost). The dictionary union
    * is in the shared code-point order, so each source's remap is
    * monotonic and SORTED_SET lists stay ascending. */
  private def mergeDocValues(fs: FileSystem, dir: Path, name: String,
                             live: IndexedSeq[SegmentMeta], srcFields: IndexedSeq[Set[String]],
                             totalDocs: Int, sortedSet: Boolean): Unit = {
    val ext = if (sortedSet) "dvm" else "dvd"
    val outMagic = if (sortedSet) DVM_MAGIC2 else DVD_MAGIC2
    val files = live.map { s =>
      val p = new Path(dir, s"${s.name}.$ext")
      if (fs.exists(p)) Some(new BlockFile(fs, p)) else None
    }
    try {
      val fields = files.flatten.flatMap(_.blocks.keys).distinct.filter { f =>
        live.indices.forall(i => files(i).exists(_.blocks.contains(f)) || !srcFields(i).contains(f))
      }.sorted
      if (fields.nonEmpty) {
        val out = new CountingOutputStream(new BufferedOutputStream(
          fs.create(new Path(dir, s"$name.$ext"), true)))
        try {
          val col = new ByteWriter(1 << 16)
          val dict = new ByteWriter(1 << 16)
          col.putIntBE(outMagic)
          col.drainTo(out)
          val offsets = new Array[Long](fields.length)
          fields.iterator.zipWithIndex.foreach { case (f, fi) =>
            val srcs = live.indices.filter(i => files(i).exists(_.blocks.contains(f))).toArray
            val cs = srcs.map { i =>
              val bf = files(i).get
              require(bf.magic == outMagic || bf.magic == (if (sortedSet) DVM_MAGIC else DVD_MAGIC),
                s"bad .$ext magic in $dir/${live(i).name}")
              new DictCursor(bf.block(f), frontCoded = bf.magic == outMagic,
                s"$dir/${live(i).name}.$ext field $f")
            }
            val remaps = cs.map { c => c.skipStr(); new Array[Int](c.startDict()) }
            val coder = new FrontCoder
            var next = 0
            val nTerms = unionDicts(cs) { (tops, m) =>
              val c0 = cs(tops(0))
              coder.put(dict, c0.term, c0.len)
              var j = 0
              while (j < m) { val k = tops(j); remaps(k)(cs(k).idx) = next; j += 1 }
              next += 1
            }
            offsets(fi) = out.count
            col.putStr(f)
            col.putVInt(nTerms)
            col.drainTo(out)
            dict.drainTo(out)
            col.putVInt(totalDocs)
            var k = 0
            live.indices.foreach { i =>
              val docs = live(i).docs
              if (k < srcs.length && srcs(k) == i) {
                val c = cs(k)
                val remap = remaps(k)
                require(c.vint() == docs, s"bad .$ext doc count in $dir/${live(i).name}")
                var o = 0
                while (o < docs) {
                  if (sortedSet) {
                    val n = c.vint()
                    col.putVInt(n)
                    var src = 0
                    var prev = 0
                    var j = 0
                    while (j < n) {
                      src += c.vint()
                      val r = remap(src)
                      col.putVInt(r - prev)
                      prev = r
                      j += 1
                    }
                  } else {
                    val v = c.vint()
                    col.putVInt(if (v == 0) 0 else remap(v - 1) + 1)
                  }
                  o += 1
                }
                k += 1
              } else {
                // source lacks the field: missing / empty lists
                var o = 0
                while (o < docs) { col.putVInt(0); o += 1 }
              }
              col.drainTo(out)
            }
          }
          val footerOff = out.count
          col.putVInt(fields.length)
          fields.iterator.zipWithIndex.foreach { case (f, fi) =>
            col.putStr(f)
            col.putLongBE(offsets(fi))
          }
          col.putLongBE(footerOff)
          col.putIntBE(outMagic)
          col.drainTo(out)
        } finally out.close()
      }
    } finally files.flatten.foreach(_.close())
  }

  /** The `.fld` / `.fdx` half of [[mergeSegmentsRaw]]. */
  private def mergeStored(fs: FileSystem, dir: Path, name: String,
                          segs: Seq[SegmentMeta], totalDocs: Int): Unit = {
    // one codec across sources (canRawMerge enforced); compressed
    // blocks (v2 deflate / v4 LZ4) and v1 records are all
    // self-delimiting, so any single codec concatenates — blocks
    // relocate wholesale without a decompress
    val srcMagic = fldMagics(fs, dir, segs).headOption
    val v2 = srcMagic.exists(isBlockedMagic)
    // per-source stored-field positions via each .fdx
    val srcOffsets: Seq[(Array[Long], Array[Int])] = segs.map { s =>
      if (s.docs == 0) (Array.empty[Long], Array.empty[Int])
      else {
        val in = new DataInputStream(new BufferedInputStream(
          fs.open(new Path(dir, s"${s.name}.fdx"))))
        try {
          val magic = in.readInt()
          require(magic == (if (v2) FDX_MAGIC2 else FDX_MAGIC),
            s"bad .fdx magic in $dir/${s.name}")
          val n = in.readInt()
          val arr = new Array[Long](n)
          val raws = if (v2) new Array[Int](n) else Array.empty[Int]
          var i = 0
          while (i < n) {
            arr(i) = in.readLong()
            if (v2) raws(i) = in.readInt()
            i += 1
          }
          (arr, raws)
        } finally in.close()
      }
    }
    // .fld: header + verbatim byte concatenation of every source's
    // record/block region; positions recorded for the new .fdx as we
    // go (v2 blocks relocate wholesale — intra-block offsets hold)
    val newOffsets = new Array[Long](totalDocs)
    val newRawOffs = if (v2) new Array[Int](totalDocs) else Array.empty[Int]
    val fldCount = new CountingOutputStream(new BufferedOutputStream(
      fs.create(new Path(dir, s"$name.fld"), true)))
    val fld = new DataOutputStream(fldCount)
    try {
      fld.writeInt(if (v2) srcMagic.get else FLD_MAGIC)
      writeVInt(fld, totalDocs)
      var ord = 0
      segs.iterator.zipWithIndex.foreach { case (s, si) =>
        val (offs, raws) = srcOffsets(si)
        if (offs.nonEmpty) {
          val base = fldCount.count
          var i = 0
          while (i < offs.length) {
            newOffsets(ord) = base + (offs(i) - offs(0))
            if (v2) newRawOffs(ord) = raws(i)
            ord += 1; i += 1
          }
          val in = fs.open(new Path(dir, s"${s.name}.fld"))
          try {
            in.seek(offs(0)) // first record/block = end of source header
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) { if (n > 0) fld.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
        }
      }
    } finally fld.close()
    val fdx = new DataOutputStream(new BufferedOutputStream(
      fs.create(new Path(dir, s"$name.fdx"), true)))
    try {
      fdx.writeInt(if (v2) FDX_MAGIC2 else FDX_MAGIC)
      fdx.writeInt(totalDocs)
      var i = 0
      while (i < totalDocs) {
        fdx.writeLong(newOffsets(i))
        if (v2) fdx.writeInt(newRawOffs(i))
        i += 1
      }
    } finally fdx.close()
  }

  /** Levenshtein distance ≤ maxEdits, banded DP with length prefilter
    * and row-minimum early exit — O(len·maxEdits) per candidate, the
    * shape a vocabulary walk needs. */
  private[index] def withinEdits(a: String, b: String, maxEdits: Int): Boolean = {
    if (a == b) return true
    val la = a.length
    val lb = b.length
    if (math.abs(la - lb) > maxEdits) return false
    if (maxEdits == 0) return false // a != b already known
    var prev = Array.tabulate(lb + 1)(identity)
    var cur = new Array[Int](lb + 1)
    var i = 1
    while (i <= la) {
      cur(0) = i
      var rowMin = i
      var j = 1
      while (j <= lb) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        val v = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), prev(j - 1) + cost)
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > maxEdits) return false
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(lb) <= maxEdits
  }

  private[index] def readStoredDocs(fs: FileSystem, dir: Path,
                                    name: String): IndexedSeq[Doc] = {
    val in = new DataInputStream(new BufferedInputStream(
      fs.open(new Path(dir, s"$name.fld"))))
    try {
      val magic = in.readInt()
      if (isBlockedMagic(magic)) {
        // v2/v4: stream blocks, decompress, parse the records each holds
        val n = readVInt(in)
        val out = IndexedSeq.newBuilder[Doc]
        var read = 0
        while (read < n) {
          val rawLen = readVInt(in)
          val compLen = readVInt(in)
          val comp = new Array[Byte](compLen)
          in.readFully(comp)
          val bin = new DataInputStream(
            new java.io.ByteArrayInputStream(decompressBlock(magic, comp, rawLen)))
          while (bin.available() > 0 && read < n) {
            val nf = readVInt(bin)
            out += (0 until nf).map(_ => (readStr(bin), readStr(bin)))
            read += 1
          }
        }
        out.result()
      } else {
        require(magic == FLD_MAGIC, s"bad .fld magic in $dir/$name")
        val n = readVInt(in)
        (0 until n).map { _ =>
          val nf = readVInt(in)
          (0 until nf).map(_ => (readStr(in), readStr(in)))
        }
      }
    } finally in.close()
  }

  /** Per-ord token counts of analyzed fields (`$name.nrm`); empty map
    * when the segment predates norms — callers fall back to
    * re-analyzing stored values. */
  private[index] def readNorms(fs: FileSystem, dir: Path,
                               name: String): Map[String, Array[Int]] = {
    val p = new Path(dir, s"$name.nrm")
    if (!fs.exists(p)) return Map.empty
    val in = new DataInputStream(new BufferedInputStream(fs.open(p)))
    try {
      require(in.readInt() == NRM_MAGIC, s"bad .nrm magic in $dir/$name")
      val nFields = readVInt(in)
      (0 until nFields).map { _ =>
        val f = readStr(in)
        val n = readVInt(in)
        val arr = new Array[Int](n)
        var i = 0
        while (i < n) { arr(i) = readVInt(in); i += 1 }
        f -> arr
      }.toMap
    } finally in.close()
  }

  /** field → term → ascending doc ordinals (whole term dictionary —
    * vocabulary-sized, the per-segment lookup structure). Positions
    * (v2+ files) are skipped here; use [[readPostingsPositions]]. */
  private[index] def readPostings(fs: FileSystem, dir: Path,
                                  name: String): Map[String, Map[String, Array[Int]]] =
    readTrm(fs, dir, name, None, keepPositions = false)
      .map { case (f, ts) => f -> ts.map { case (t, ps) => t -> ps.map(_._1) } }

  /** SELECTED fields only — on a v3 file each field's block is reached
    * by SEEK via the footer, so I/O is ∝ the queried fields' postings,
    * not the whole dictionary (the per-field terms-index scale path;
    * older files fall back to a full parse). */
  private[index] def readPostingsFields(fs: FileSystem, dir: Path, name: String,
                                        fields: Set[String])
      : Map[String, Map[String, Array[Int]]] =
    readTrm(fs, dir, name, Some(fields), keepPositions = false)
      .map { case (f, ts) => f -> ts.map { case (t, ps) => t -> ps.map(_._1) } }

  /** Positional view: field → term → (ord, positions) — positions
    * empty for non-analyzed fields and for v1 segment files. */
  private[index] def readPostingsPositions(fs: FileSystem, dir: Path, name: String)
      : Map[String, Map[String, Array[(Int, Array[Int])]]] =
    readTrm(fs, dir, name, None, keepPositions = true)

  /** Positional view of ONE field (seek path on v3 files). */
  private[index] def readPostingsPositionsField(fs: FileSystem, dir: Path, name: String,
                                                field: String)
      : Map[String, Array[(Int, Array[Int])]] =
    readTrm(fs, dir, name, Some(Set(field)), keepPositions = true)
      .getOrElse(field, Map.empty)

  /** One field block: `field` name, then sorted terms with delta-coded
    * ordinals (+ per-ordinal positions in v2/v3). v4 blocks carry a
    * per-field positions flag and FRONT-CODED terms (prefix-length vs
    * the previous term + suffix). */
  private def parseFieldBlock(in: DataInputStream, hasPositions: Boolean,
                              keepPositions: Boolean, v4: Boolean = false)
      : (String, Map[String, Array[(Int, Array[Int])]]) = {
    val f = readStr(in)
    val fieldHasPos = if (v4) readVInt(in) == 1 else hasPositions
    val nTerms = readVInt(in)
    var prevTerm = ""
    f -> (0 until nTerms).map { _ =>
      val t =
        if (!v4) readStr(in)
        else {
          val pl = readVInt(in)
          val suffix = readStr(in)
          if (pl == 0) suffix else prevTerm.substring(0, pl) + suffix
        }
      prevTerm = t
      val len = readVInt(in)
      val out = new Array[(Int, Array[Int])](len)
      var prev = 0
      var i = 0
      while (i < len) {
        prev += readVInt(in)
        val positions: Array[Int] =
          if (!fieldHasPos) Array.empty
          else {
            val nPos = readVInt(in)
            if (nPos == 0) Array.empty
            else {
              val ps = new Array[Int](nPos)
              var pprev = 0
              var j = 0
              while (j < nPos) { pprev += readVInt(in); ps(j) = pprev; j += 1 }
              if (keepPositions) ps else Array.empty[Int]
            }
          }
        out(i) = (prev, positions)
        i += 1
      }
      t -> out
    }.toMap
  }

  private def readTrm(fs: FileSystem, dir: Path, name: String,
                      sel: Option[Set[String]], keepPositions: Boolean)
      : Map[String, Map[String, Array[(Int, Array[Int])]]] = {
    val path = new Path(dir, s"$name.trm")
    val raw = fs.open(path)
    try {
      val head = new DataInputStream(new BufferedInputStream(raw))
      val magic = head.readInt()
      require(magic == TRM_MAGIC || magic == TRM_MAGIC2 || magic == TRM_MAGIC3 ||
        magic == TRM_MAGIC4, s"bad .trm magic in $dir/$name")
      if (magic == TRM_MAGIC3 || magic == TRM_MAGIC4) {
        // footer-directed: trailer names the footer, footer names each
        // field's block offset — selected fields are SEEKED to, the
        // rest of the dictionary is never read
        val len = fs.getFileStatus(path).getLen
        raw.seek(len - 12)
        val tail = new DataInputStream(raw)
        val footerOff = tail.readLong()
        require(tail.readInt() == magic, s"bad .trm trailer in $dir/$name")
        raw.seek(footerOff)
        val foot = new DataInputStream(new BufferedInputStream(raw))
        val nFields = readVInt(foot)
        val offsets = (0 until nFields).map(_ => (readStr(foot), foot.readLong()))
        offsets.iterator
          .filter { case (f, _) => sel.forall(_.contains(f)) }
          .map { case (_, off) =>
            raw.seek(off)
            parseFieldBlock(new DataInputStream(new BufferedInputStream(raw)),
              hasPositions = true, keepPositions, v4 = magic == TRM_MAGIC4)
          }.toMap
      } else {
        // v1/v2: no footer — sequential parse (selection only filters)
        val v2 = magic == TRM_MAGIC2
        val nFields = readVInt(head)
        (0 until nFields).iterator
          .map(_ => parseFieldBlock(head, hasPositions = v2, keepPositions))
          .filter { case (f, _) => sel.forall(_.contains(f)) }
          .toMap
      }
    } finally raw.close()
  }

  /** Stored docs of SELECTED ascending ordinals: with a `.fdx` the
    * reader seeks straight to each hit's record (I/O ∝ hits); without
    * one — or when the selection is a large fraction of the segment,
    * where streaming beats seeking — it streams the whole `.fld` and
    * picks. Returned docs align with `ords` order. */
  private[index] def readStoredDocsAt(fs: FileSystem, dir: Path, name: String,
                                      ords: Array[Int], segDocs: Int): IndexedSeq[Doc] = {
    val fdxPath = new Path(dir, s"$name.fdx")
    if (ords.isEmpty) return IndexedSeq.empty
    if (ords.length * 4 >= segDocs || !fs.exists(fdxPath)) {
      val all = readStoredDocs(fs, dir, name)
      return ords.toIndexedSeq.map(all)
    }
    val offsets = new Array[Long](ords.length)
    val rawOffs = new Array[Int](ords.length) // v2 only: offset in block
    var v2 = false
    val fdx = fs.open(fdxPath)
    try {
      val head = new DataInputStream(fdx)
      val magic = head.readInt()
      v2 = magic == FDX_MAGIC2
      require(v2 || magic == FDX_MAGIC, s"bad .fdx magic in $dir/$name")
      val n = head.readInt()
      val width = if (v2) 12L else 8L
      var i = 0
      while (i < ords.length) {
        val o = ords(i)
        require(o >= 0 && o < n, s"ordinal $o out of range in $dir/$name ($n docs)")
        fdx.seek(8L + width * o)
        offsets(i) = head.readLong()
        if (v2) rawOffs(i) = head.readInt()
        i += 1
      }
    } finally fdx.close()
    val fld = fs.open(new Path(dir, s"$name.fld"))
    try {
      if (v2) {
        // the .fld header magic picks the block decompressor (v2
        // deflate vs v4 LZ4 — same block framing)
        val fldMagic = new DataInputStream(fld).readInt()
        require(isBlockedMagic(fldMagic), s"bad .fld magic in $dir/$name")
        // one decompress per DISTINCT block touched: ascending ords
        // cluster into the same block, so cache the last one
        var cachedOff = -1L
        var cachedRaw: Array[Byte] = null
        offsets.iterator.zipWithIndex.map { case (blockOff, i) =>
          if (blockOff != cachedOff) {
            fld.seek(blockOff)
            val in = new DataInputStream(fld)
            val rawLen = readVInt(in)
            val compLen = readVInt(in)
            val comp = new Array[Byte](compLen)
            in.readFully(comp)
            cachedRaw = decompressBlock(fldMagic, comp, rawLen)
            cachedOff = blockOff
          }
          val bin = new DataInputStream(new java.io.ByteArrayInputStream(
            cachedRaw, rawOffs(i), cachedRaw.length - rawOffs(i)))
          val nf = readVInt(bin)
          (0 until nf).map(_ => (readStr(bin), readStr(bin))): Doc
        }.toIndexedSeq
      } else {
        offsets.iterator.map { off =>
          fld.seek(off)
          val in = new DataInputStream(new BufferedInputStream(fld))
          val nf = readVInt(in)
          (0 until nf).map(_ => (readStr(in), readStr(in))): Doc
        }.toIndexedSeq
      }
    } finally fld.close()
  }

  // ---- commit protocol (segments_N, highest generation wins) ----

  private val genRe = "segments_(\\d+)".r

  def latestCommit(fs: FileSystem, dir: Path): Option[CommitPoint] = {
    if (!fs.exists(dir)) return None
    val gens = fs.listStatus(dir).flatMap(s => s.getPath.getName match {
      case genRe(g) => Some(g.toInt)
      case _ => None
    })
    if (gens.isEmpty) None else Some(readCommitFile(fs, dir, gens.max))
  }

  /** Open commit generation `gen` exactly — the snapshot read under
    * the retention policy ([[Writer]] `retainGenerations`). `None`
    * when that generation's `segments_N` file is absent (reclaimed or
    * never written). */
  def commitAt(fs: FileSystem, dir: Path, gen: Int): Option[CommitPoint] = {
    if (!fs.exists(new Path(dir, s"segments_$gen"))) None
    else Some(readCommitFile(fs, dir, gen))
  }

  private def readCommitFile(fs: FileSystem, dir: Path, gen: Int,
                             staged: Boolean = false): CommitPoint = {
    val p = new Path(dir, s"${if (staged) StagedPrefix else ""}segments_$gen")
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(buf, StandardCharsets.UTF_8))
    import scala.jdk.CollectionConverters._
    val segs = root.get("segments").elements().asScala.map { s =>
      val stats =
        if (!s.has("stats")) Map.empty[String, (String, String)]
        else s.get("stats").properties().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asText(), e.getValue.get(1).asText())
        }.toMap
      SegmentMeta(s.get("name").asText(), s.get("docs").asInt(),
        if (s.has("dels")) s.get("dels").asInt() else 0,
        if (s.has("delgen")) s.get("delgen").asInt() else 0,
        stats)
    }.toSeq
    CommitPoint(gen, root.get("counter").asInt(), segs)
  }

  private def writeCommit(fs: FileSystem, dir: Path, cp: CommitPoint,
                          staged: Boolean = false): Unit = {
    // jackson, not string interpolation: stats min/max are TERM data
    // (arbitrary user strings) and must be JSON-escaped
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("format", 1)
    root.put("counter", cp.counter)
    val arr = root.putArray("segments")
    cp.segments.foreach { s =>
      val o = arr.addObject()
      o.put("name", s.name)
      o.put("docs", s.docs)
      o.put("dels", s.dels)
      o.put("delgen", s.delGen)
      if (s.stats.nonEmpty) {
        val st = o.putObject("stats")
        s.stats.toSeq.sortBy(_._1).foreach { case (f, (mn, mx)) =>
          val a = st.putArray(f); a.add(mn); a.add(mx)
        }
      }
    }
    val json = mapper.writeValueAsString(root)
    val p = new Path(dir,
      s"${if (staged) StagedPrefix else ""}segments_${cp.gen}")
    val os = fs.create(p, true)
    try os.write(json.getBytes(StandardCharsets.UTF_8)) finally os.close()
  }

  // ---- staged commits (r18 — batch-atomic upsert publication) ----
  //
  // A STAGED commit is a complete commit file written under a name the
  // reader-side generation regex never matches: segment data files and
  // tombstone generations land on disk, but the store serves exactly
  // its pre-existing commits until publishStaged renames the staged
  // files into place. This is the two-phase form of the `segments_N`
  // protocol: tasks stage, the driver publishes only after the WHOLE
  // job succeeded — so a refused upsert batch (duplicate ids, any task
  // failure) leaves every part serving its old generation, restoring
  // the refusal atomicity the r17 fused duplicate check traded away,
  // WITHOUT re-adding the pre-write validation job.

  private[index] val StagedPrefix = "_staged_"
  private val stagedGenRe = "_staged_segments_(\\d+)".r

  private def stagedGensOf(fs: FileSystem, dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).flatMap(s => s.getPath.getName match {
      case stagedGenRe(g) => Some(g.toInt)
      case _ => None
    }).sorted.toSeq

  /** Publish every staged commit in `dir` (ascending — highest wins),
    * then run the retention reclaim the staged session deferred.
    * No-op when nothing is staged. */
  def publishStaged(fs: FileSystem, dir: Path, retain: Int): Unit = {
    val gens = stagedGensOf(fs, dir)
    gens.foreach { g =>
      fs.rename(new Path(dir, s"${StagedPrefix}segments_$g"),
        new Path(dir, s"segments_$g"))
    }
    if (gens.nonEmpty) reclaimCommits(fs, dir, retain)
  }

  /** Discard staged commits AND the files only they reference (their
    * fresh segments and tombstone generations) — the refusal path and
    * the crash-residue sweep. Files referenced by any LIVE commit are
    * never touched, so the store is byte-identical to its pre-upsert
    * state afterwards. */
  def discardStaged(fs: FileSystem, dir: Path): Unit = {
    val gens = stagedGensOf(fs, dir)
    if (gens.isEmpty) return
    val liveRefs = fs.listStatus(dir).flatMap(s => s.getPath.getName match {
      case genRe(g) => Some(g.toInt)
      case _ => None
    }).flatMap(g => commitRefs(fs, dir, g)).toSet
    gens.foreach { g =>
      val refs = refsOf(readCommitFile(fs, dir, g, staged = true))
      (refs -- liveRefs).foreach(f => fs.delete(new Path(dir, f), false))
      fs.delete(new Path(dir, s"${StagedPrefix}segments_$g"), false)
    }
  }

  private[index] val SegmentFileExts = Seq("fld", "fdx", "trm", "nrm", "dvd", "dvm")

  /** A writer's default flush threshold: buffered docs per auto-flushed segment. */
  private[index] val MaxBufferedDocs = 1 << 17

  /** Every file a commit point references: segment data files plus
    * the live tombstone generation per segment. */
  private def refsOf(cp: CommitPoint): Set[String] =
    cp.segments.flatMap { s =>
      SegmentFileExts.map(e => s"${s.name}.$e") ++
        (if (s.delGen > 0) Seq(delFile(s.name, s.delGen)) else Nil)
    }.toSet

  private def commitRefs(fs: FileSystem, dir: Path, gen: Int): Set[String] =
    commitAt(fs, dir, gen).map(refsOf).getOrElse(Set.empty)

  /**
   * Retention deletion policy (Lucene `IndexFileDeleter` +
   * `KeepOnlyLastCommitDeletionPolicy`/`SnapshotDeletionPolicy`
   * analog): keep the newest `retain` commit generations; every file
   * referenced ONLY by older commits is deleted, then the old
   * `segments_N` files themselves. Files referenced by NO commit —
   * this writer's flushed-but-unpublished segments, crash leftovers —
   * are never touched. With `retain = 1` this reproduces the
   * keep-last-commit behavior exactly (merged-away segments, stale
   * tombstone generations and dropped fully-deleted segments vanish
   * the moment the next commit lands); with `retain = K` a reader
   * pinned at any of the newest K generations keeps a complete,
   * immutable snapshot while upserts and merges commit concurrently.
   *
   * PINNED generations (Lucene `SnapshotDeletionPolicy` proper): a
   * `pinned_N` marker file ([[pinGeneration]], written by
   * `Graft.indexSnapshot(pin = true)`) holds generation N — and every
   * file it references — across ANY number of commits, regardless of
   * the retention window, until [[unpinGeneration]] releases it. This
   * closes the silent-expiry window: an unpinned snapshot token older
   * than `retainGenerations` dies at the next commit+reclaim (the
   * open then fails with the retention message), while a pinned one
   * refuses reclaim by construction.
   */
  private def reclaimCommits(fs: FileSystem, dir: Path, retain: Int): Unit = {
    val keep = math.max(1, retain)
    val gens = fs.listStatus(dir).flatMap(s => s.getPath.getName match {
      case genRe(g) => Some(g.toInt)
      case _ => None
    }).sorted(Ordering.Int.reverse)
    if (gens.length <= keep) return
    val pinned = pinnedGenerations(fs, dir)
    val (inWindow, older) = gens.splitAt(keep)
    val (held, dropped) = older.partition(pinned.contains)
    val keepRefs = (inWindow ++ held).iterator
      .flatMap(g => commitRefs(fs, dir, g)).toSet
    dropped.foreach { g =>
      (commitRefs(fs, dir, g) -- keepRefs)
        .foreach(f => fs.delete(new Path(dir, f), false))
      fs.delete(new Path(dir, s"segments_$g"), false)
    }
  }

  private val pinRe = "pinned_(\\d+)".r

  /** Hold commit generation `gen` (and every file it references)
    * against [[reclaimCommits]] until [[unpinGeneration]] — the
    * SnapshotDeletionPolicy hold. Idempotent.
    *
    * Concurrency contract: the marker write races a concurrent
    * commit's reclaim (check-then-act over the filesystem — reclaim
    * may read the pinned set between our existence check and the
    * marker landing). The post-write re-verify below catches the
    * common interleaving (marker up, generation already gone →
    * marker removed, loud failure) but a reclaim mid-deletion can
    * still slip past it: Lucene's SnapshotDeletionPolicy holds the
    * WRITER's lock for exactly this reason, and a marker-file
    * protocol has no lock to take. Pinning a generation while a
    * writer may commit+reclaim the same store therefore requires the
    * same single-writer quiescence as the other maintenance ops
    * (forceMerge, purge): pin from the writer's control flow, or pin
    * a generation still inside the retention window (those reclaim
    * never touches). */
  def pinGeneration(fs: FileSystem, dir: Path, gen: Int): Unit = {
    require(fs.exists(new Path(dir, s"segments_$gen")),
      s"cannot pin generation $gen of $dir — no such commit (already " +
        "reclaimed by the retention policy, or never written)")
    fs.create(new Path(dir, s"pinned_$gen"), true).close()
    // re-verify: a reclaim that read the pinned set before our marker
    // landed may have dropped the generation — fail loudly instead of
    // leaving a pin that advertises a snapshot whose files are gone
    if (!fs.exists(new Path(dir, s"segments_$gen"))) {
      fs.delete(new Path(dir, s"pinned_$gen"), false)
      throw new IllegalStateException(
        s"generation $gen of $dir was reclaimed concurrently with the " +
          "pin — retry against the newest generation, or pin under " +
          "single-writer quiescence")
    }
  }

  /** Release a [[pinGeneration]] hold; the generation's files fall out
    * at the next commit's reclaim if outside the retention window.
    * Idempotent. */
  def unpinGeneration(fs: FileSystem, dir: Path, gen: Int): Unit = {
    fs.delete(new Path(dir, s"pinned_$gen"), false)
    ()
  }

  private[index] def pinnedGenerations(fs: FileSystem, dir: Path): Set[Int] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).flatMap(s => s.getPath.getName match {
      case pinRe(g) => Some(g.toInt)
      case _ => None
    }).toSet

  /**
   * Index writer over one directory. NOT thread-safe (one writer per
   * index dir — same single-writer discipline as Lucene). Buffered
   * documents become ONE new segment at `commit()`.
   */
  /** @param staged commits write under [[StagedPrefix]] names the
    *   reader regex never matches, and the retention reclaim is
    *   deferred — publication happens when the CALLER (the upsert
    *   driver, after its whole job succeeded) runs [[publishStaged]];
    *   [[discardStaged]] is the refusal path. */
  final class Writer(fs: FileSystem, dir: Path,
                     analyzed: Set[String] = Set.empty,
                     compressStored: Boolean = true,
                     maxBufferedDocs: Int = MaxBufferedDocs,
                     retainGenerations: Int = 1,
                     staged: Boolean = false) {
    require(maxBufferedDocs > 0)
    require(retainGenerations >= 1, "retainGenerations must be >= 1")
    // diagnostic knob (StoreStats codec A/B): which block codec
    // compressed flushes write; readers always dispatch on the magic
    private[index] var storedCodecMagic: Int = DefaultStoredMagic
    fs.mkdirs(dir)
    private var commitPoint =
      latestCommit(fs, dir).getOrElse(CommitPoint(0, 0, Nil))
    private val pending = mutable.ArrayBuffer.empty[Doc]
    // newly-deleted ordinals per live segment, buffered until commit()
    // (the commit file is the only publication point — a crash before
    // commit leaves the index exactly at the previous generation)
    private val pendingDels = mutable.HashMap.empty[String, mutable.SortedSet[Int]]

    /** Buffer a doc; at `maxBufferedDocs` the buffer flushes to disk
      * as a segment (Lucene's maxBufferedDocs/ramBuffer flush): the
      * writer's memory footprint — buffered docs plus the in-flight
      * segment's postings map — is BOUNDED regardless of how many
      * docs a task streams in, which is what keeps a corpus-scale
      * index build linear instead of GC-bound. Flushed segments stay
      * unpublished (readers see nothing) until `commit()` writes the
      * next generation, and they keep this session's delete contract:
      * docs added in this writer session — buffered OR auto-flushed —
      * are never touched by this session's deletes (the upsert
      * protocol adds a delta then deletes its ids; the delete must
      * only hit PRIOR copies, whatever the flush threshold did). */
    def addDocument(doc: Doc): Unit = {
      pending += doc
      if (pending.length >= maxBufferedDocs) flushSegment()
    }

    // segments auto-flushed by THIS session: excluded from this
    // session's delete-by-term walks (see addDocument scaladoc)
    private val sessionFlushed = mutable.Set.empty[String]

    /** Write buffered docs as an on-disk segment WITHOUT publishing —
      * files exist, but only the commit file (written by `commit()`)
      * makes any segment visible; a crash here leaves unreferenced
      * files and an unchanged index. */
    private def flushSegment(): Unit = if (pending.nonEmpty) {
      val name = s"_${commitPoint.counter}"
      val meta = writeSegment(fs, dir, name, pending.toIndexedSeq, analyzed,
        compress = compressStored, storedMagic = storedCodecMagic)
      pending.clear()
      sessionFlushed += name
      commitPoint = commitPoint.copy(counter = commitPoint.counter + 1,
        segments = commitPoint.segments :+ meta)
    }

    /** Abandon the session's uncommitted work: buffered docs and
      * deletes are dropped, and the segments auto-flushed since the
      * last commit — files no commit references — are deleted. */
    def abort(): Unit = {
      sessionFlushed.foreach(n =>
        SegmentFileExts.foreach(e => fs.delete(new Path(dir, s"$n.$e"), false)))
      sessionFlushed.clear()
      pending.clear()
      pendingDels.clear()
    }

    /**
     * Delete-by-term (Lucene `deleteDocuments(Term)` / Solr
     * delete-by-query's exact-term case): tombstone every LIVE doc of
     * every committed segment whose (field, term) posting matches.
     * Buffered docs added in this writer session are a future segment
     * and are NOT affected — so the Solr update idiom
     * `deleteByTerm(id); addDocument(newDoc)` re-adds correctly.
     * Returns the number of newly deleted docs; visible after
     * `commit()`.
     */
    def deleteDocuments(field: String, term: String): Int =
      deleteDocumentsBatch(field, Set(term))

    /** Batched delete-by-term: ONE postings read per segment for the
      * whole term set (the upsert path deletes thousands of ids — a
      * per-term call would re-read postings quadratically). Same
      * tombstone/commit semantics as the single-term form. */
    def deleteDocumentsBatch(field: String, terms: Set[String]): Int = {
      var deleted = 0
      if (terms.isEmpty) return 0
      // session-added docs are exempt whether still buffered or
      // already auto-flushed — only PRIOR generations' copies match
      commitPoint.segments.withFilter(s => !sessionFlushed(s.name)).foreach { seg =>
        val post = readPostingsFields(fs, dir, seg.name, Set(field))
          .getOrElse(field, Map.empty)
        if (post.nonEmpty) {
          lazy val already = readDels(fs, dir, seg)
          lazy val buf = pendingDels.getOrElseUpdate(seg.name, mutable.SortedSet.empty[Int])
          terms.foreach { term =>
            post.getOrElse(term, Array.empty[Int]).foreach { o =>
              if (!already.contains(o) && buf.add(o)) deleted += 1
            }
          }
        }
      }
      deleted
    }

    /** Flush buffered docs as a new segment, publish buffered deletes
      * as per-segment `.del` generations, and write the next commit.
      * A segment whose docs are ALL deleted is dropped from the commit
      * and its files removed (Lucene drops fully-deleted segments at
      * the next commit too). Idempotent when nothing changed. */
    def commit(): CommitPoint = {
      val withFlush =
        if (pending.isEmpty) commitPoint
        else {
          val name = s"_${commitPoint.counter}"
          val meta = writeSegment(fs, dir, name, pending.toIndexedSeq, analyzed,
            compress = compressStored, storedMagic = storedCodecMagic)
          pending.clear()
          commitPoint.copy(counter = commitPoint.counter + 1,
            segments = commitPoint.segments :+ meta)
        }
      val nextGen = withFlush.gen + 1
      val segs = withFlush.segments.flatMap { seg =>
        pendingDels.get(seg.name) match {
          case None => Some(seg)
          case Some(newOnes) =>
            val merged = readDels(fs, dir, seg) ++ newOnes
            if (merged.size >= seg.docs) None // fully deleted: dropped from the commit
            else {
              writeDels(fs, dir, seg.name, nextGen, merged)
              Some(seg.copy(dels = merged.size, delGen = nextGen))
            }
        }
      }
      pendingDels.clear()
      // publication turns this session's flushed segments into PRIOR
      // committed copies: a later upsert batch through this same
      // Writer must be able to delete from them, so the session
      // exemption ends here
      sessionFlushed.clear()
      commitPoint = CommitPoint(nextGen, withFlush.counter, segs)
      writeCommit(fs, dir, commitPoint, staged)
      // now that the new generation is live, reclaim files outside the
      // retention window (stale tombstone generations and dropped
      // fully-deleted segments fall out once no retained commit
      // references them) — DEFERRED in staged mode (publishStaged
      // reclaims after the rename; reclaiming here would delete files
      // the still-live old generation references)
      if (!staged) reclaimCommits(fs, dir, retainGenerations)
      commitPoint
    }

    /**
     * Logical merge (TreeMergeOutputFormat.java:196 `addIndexes`
     * analog): copy every live segment of `srcDirs` in under fresh
     * names — file copy + commit registration, no doc rewrite.
     * Call `commit()` afterwards to publish.
     */
    def addIndexes(srcDirs: Seq[Path]): Unit = {
      srcDirs.foreach { src =>
        val srcCp = latestCommit(fs, src).getOrElse(
          throw new IllegalStateException(s"no commit in source index $src"))
        srcCp.segments.foreach { seg =>
          if (seg.dels == 0) {
            val name = s"_${commitPoint.counter}"
            // .nrm only exists for segments with analyzed fields;
            // .fdx only for segments written since the seek index
            Seq("fld", "fdx", "trm", "nrm", "dvd", "dvm").foreach { ext =>
              val from = new Path(src, s"${seg.name}.$ext")
              if (ext == "fld" || ext == "trm" || fs.exists(from))
                org.apache.hadoop.fs.FileUtil.copy(
                  fs, from, fs, new Path(dir, s"$name.$ext"), false, fs.getConf)
            }
            commitPoint = commitPoint.copy(counter = commitPoint.counter + 1,
              segments = commitPoint.segments :+
                SegmentMeta(name, seg.docs, stats = seg.stats)) // file copy keeps stats valid
          } else {
            // a source segment carrying tombstones is MATERIALIZED:
            // its live docs join the pending buffer and become part of
            // this writer's next flushed segment (the doc-rewrite merge
            // path — only taken where a file copy would resurrect
            // deleted docs)
            val dels = readDels(fs, src, seg)
            readStoredDocs(fs, src, seg.name).zipWithIndex.foreach {
              case (doc, ord) => if (!dels.contains(ord)) pending += doc
            }
          }
        }
      }
    }

    /** Merges `segs` into one new segment `name`. Tombstone-free
      * sources take the POSTINGS-LEVEL merge ([[mergeSegmentsRaw]]:
      * byte-concatenated stored fields, streaming k-way dictionary
      * merge — no doc is re-parsed or re-analyzed). Otherwise, or when
      * a source dictionary is out of code-point order, the live docs
      * are rewritten: surviving ordinals shift when tombstones go, so
      * the rewrite also reclaims deletes. */
    private def mergeInto(name: String, segs: Seq[SegmentMeta], storedMagic: Int): SegmentMeta =
      (if (canRawMerge(fs, dir, segs, analyzed)) mergeSegmentsRaw(fs, dir, name, segs) else None)
        .getOrElse {
          val live = segs.flatMap { s =>
            val dels = readDels(fs, dir, s)
            readStoredDocs(fs, dir, s.name).zipWithIndex.collect {
              case (doc, o) if !dels.contains(o) => doc
            }
          }.toIndexedSeq
          writeSegment(fs, dir, name, live, analyzed,
            compress = compressStored, storedMagic = storedMagic)
        }

    /**
     * forceMerge (BatchWriter.java:203-218 / --max-segments analog):
     * rewrite to at most `maxSegments` segments (1 = the reference's
     * default query-latency trade) and publish. Clean sources stream
     * through [[mergeSegmentsRaw]] (k-way dictionary merge, stored
     * bytes concatenated; heap O(docs) in primitive arrays plus one
     * field block); sources with tombstones are rewritten doc by doc.
     * Old segment files are deleted after the new commit lands.
     */
    def forceMerge(maxSegments: Int = 1): CommitPoint = {
      require(maxSegments >= 1)
      commit() // flush pending first
      if (commitPoint.segments.length <= maxSegments &&
          commitPoint.segments.forall(_.dels == 0)) commitPoint
      else {
        val old = commitPoint.segments
        val name = s"_${commitPoint.counter}"
        // live docs only — forceMerge is also the tombstone-reclaim
        // path (Lucene's expungeDeletes folds into forceMerge)
        val meta = mergeInto(name, old, DefaultStoredMagic)
        commitPoint = CommitPoint(commitPoint.gen + 1, commitPoint.counter + 1, Seq(meta))
        writeCommit(fs, dir, commitPoint, staged)
        // pre-merge segment files live until they leave the retention
        // window (retain=1: deleted now, exactly the old behavior)
        if (!staged) reclaimCommits(fs, dir, retainGenerations)
        commitPoint
      }
    }

    /**
     * Incremental tiered merge ([[MergePolicy]] — the
     * `solrconfig_merge.xml:6-12` TieredMergePolicy analog): while any
     * size tier holds more than `segmentsPerTier` segments, fold the
     * smallest `maxMergeAtOnce` of that tier into one segment —
     * through [[mergeSegmentsRaw]] (byte-concatenated stored fields,
     * streaming k-way dictionary merge with ord-shifted postings; no
     * doc re-parsed, no per-posting object) when every victim
     * qualifies, else the doc-rewrite path (which doubles as
     * incremental tombstone reclaim: victims' deleted ordinals vanish
     * in the rewrite). Each fold publishes its own commit generation,
     * so readers always see a consistent snapshot and a crash
     * mid-merge loses nothing but unreferenced files. Converges: each
     * fold strictly reduces segment count. Call after `commit()` —
     * this is the steady-state counter-force that keeps a
     * continuously-upserted index at O(log docs) segments instead of
     * one segment per batch forever ([[forceMerge]] stays the full
     * one-shot rewrite for the final go-live latency trade).
     */
    def maybeMerge(policy: MergePolicy = MergePolicy()): CommitPoint = {
      if (pending.nonEmpty || pendingDels.nonEmpty) commit()
      var again = true
      while (again) {
        again = false
        commitPoint.segments
          .groupBy(s => policy.tierOf(s.liveDocs))
          .toSeq.sortBy(_._1) // smallest tier first: cheapest fold, cascades up
          .find(_._2.lengthIs > policy.segmentsPerTier)
          .foreach { case (_, tierSegs) =>
            val victims = tierSegs.sortBy(_.liveDocs).take(policy.maxMergeAtOnce)
            val name = s"_${commitPoint.counter}"
            val meta = mergeInto(name, victims, storedCodecMagic)
            val victimNames = victims.map(_.name).toSet
            commitPoint = CommitPoint(commitPoint.gen + 1, commitPoint.counter + 1,
              commitPoint.segments.filterNot(s => victimNames(s.name)) :+ meta)
            writeCommit(fs, dir, commitPoint, staged)
            if (!staged) reclaimCommits(fs, dir, retainGenerations)
            again = true
          }
      }
      commitPoint
    }

    def close(): CommitPoint = commit()
  }

  /**
   * Raw index reader — the verification half (the reference's tests
   * open built shards with a raw Lucene reader and count
   * MatchAllDocsQuery hits, SolrIndexDriverTest.java:54-61).
   */
  /** @param onlySegments restrict the view to a subset of the
    *   commit's segments (segment-split scan parallelism: segments
    *   are independent — ordinals, deletes, zone maps, postings are
    *   all per-segment — so a reader over a subset is exactly the
    *   index minus the other segments; per-partition partials from
    *   disjoint subsets sum to the whole-index answer). A requested
    *   name missing from the live commit is an ERROR, not an empty
    *   view: it means the store was modified (merge/upsert commit)
    *   between partition planning and task execution, and silently
    *   returning a partial result would corrupt every aggregate built
    *   from the partials — fail the task. Task retries reuse the same
    *   planned partitions (same pinned segment list), so the job fails
    *   fast after max retries: safe vs mixed generations. */
  /** @param expectedGen the commit GENERATION the caller planned
    *   against (DSv2 partition planning records it): the reader opens
    *   exactly that `segments_N` snapshot, so a commit landing between
    *   planning and execution cannot mix generations across shards —
    *   every partition of one scan reads the same immutable commit
    *   point. With the writer's retention policy (`retainGenerations
    *   = K`), the pinned snapshot's files survive the next K-1 commits,
    *   so concurrent scans and upserts of the SAME store are safe as
    *   long as a scan finishes within K-1 commits of its planning; a
    *   snapshot already reclaimed (the retain=1 default reproduces
    *   keep-last-commit) is an ERROR, and task retries reuse the same
    *   planned gen, so the job fails fast rather than silently reading
    *   a different generation. */
  final class Reader(fs: FileSystem, dir: Path,
                     onlySegments: Option[Set[String]] = None,
                     expectedGen: Option[Int] = None) {
    val commit: CommitPoint = {
      val full = expectedGen match {
        case Some(g) => commitAt(fs, dir, g).getOrElse {
          val live = latestCommit(fs, dir).map(_.gen.toString).getOrElse("none")
          throw new IllegalStateException(
            s"commit generation $g of index $dir is not available (store " +
              s"is at generation $live) — the snapshot was reclaimed by the " +
              "retention policy (Writer.retainGenerations) or never existed")
        }
        case None => latestCommit(fs, dir).getOrElse(
          throw new IllegalStateException(s"no commit in index $dir"))
      }
      onlySegments match {
        case None => full
        case Some(keep) =>
          val have = full.segments.map(_.name).toSet
          val gone = keep -- have
          if (gone.nonEmpty) throw new IllegalStateException(
            s"segment(s) ${gone.mkString(", ")} vanished from $dir — " +
              "store modified between scan planning and execution")
          full.copy(segments = full.segments.filter(s => keep(s.name)))
      }
    }

    def numDocs: Int = commit.numDocs
    def numSegments: Int = commit.segments.length

    /** MatchAllDocsQuery analog (live docs only). */
    def matchAllCount: Long = numDocs.toLong

    /** All LIVE stored documents, segment order then ordinal order. */
    def allDocs(): Iterator[Doc] =
      commit.segments.iterator.flatMap { s =>
        val dels = readDels(fs, dir, s)
        readStoredDocs(fs, dir, s.name).iterator.zipWithIndex.collect {
          case (doc, ord) if !dels.contains(ord) => doc
        }
      }

    /** Exact-term query: LIVE stored docs matching (field, term) —
      * one field-block seek for the postings, one stored-doc seek per
      * hit (I/O ∝ hits, not segment size). */
    def termDocs(field: String, term: String): Seq[Doc] =
      commit.segments.flatMap { s =>
        val dels = readDels(fs, dir, s)
        val ords = readPostingsFields(fs, dir, s.name, Set(field))
          .getOrElse(field, Map.empty).getOrElse(term, Array.empty[Int])
          .filterNot(dels.contains)
        readStoredDocsAt(fs, dir, s.name, ords, s.docs)
      }

    /** Fuzzy term query (Lucene `field:term~N` / Solr fuzzy search):
      * LIVE stored docs containing any dictionary term within
      * `maxEdits` Levenshtein edits of `term`. The match set comes
      * from a TERM-DICTIONARY walk (one field-block seek, vocabulary-
      * sized — never a doc scan): each candidate is length-prefiltered
      * then checked with the banded DP, exactly Lucene's
      * dictionary-intersection design at the brute-force end of its
      * automaton spectrum. */
    def fuzzyDocs(field: String, term: String, maxEdits: Int): Seq[Doc] = {
      require(maxEdits >= 0 && maxEdits <= 2, "fuzzy supports 0-2 edits (Lucene bound)")
      commit.segments.flatMap { s =>
        val dels = readDels(fs, dir, s)
        val post = readPostingsFields(fs, dir, s.name, Set(field))
          .getOrElse(field, Map.empty)
        val ords = post.iterator
          .collect { case (t, os) if withinEdits(t, term, maxEdits) => os }
          .flatten
          .filterNot(dels.contains)
          .toArray.distinct.sorted
        readStoredDocsAt(fs, dir, s.name, ords, s.docs)
      }
    }

    /** Multi-term exact query (`field:(a OR b OR ...)` / realtime-get
      * id lists): LIVE stored docs matching ANY of `terms`, each doc
      * once even when several terms hit it on a multivalued field
      * (ordinal-level dedup per segment). */
    def termDocsIn(field: String, terms: Seq[String]): Seq[Doc] =
      commit.segments.flatMap { s =>
        val dels = readDels(fs, dir, s)
        val post = readPostingsFields(fs, dir, s.name, Set(field))
          .getOrElse(field, Map.empty)
        val ords = terms.iterator
          .flatMap(t => post.getOrElse(t, Array.empty[Int]).iterator)
          .filterNot(dels.contains)
          .toArray.distinct.sorted
        readStoredDocsAt(fs, dir, s.name, ords, s.docs)
      }

    private def termInRange(t: String,
                            lower: Option[String], lowerInc: Boolean,
                            upper: Option[String], upperInc: Boolean): Boolean =
      lower.forall { l => val c = cpCompare(t, l); if (lowerInc) c >= 0 else c > 0 } &&
      upper.forall { u => val c = cpCompare(t, u); if (upperInc) c <= 0 else c < 0 }

    /** Zone-map check: can `s` possibly hold a term of `field` in the
      * bounds? Decided from commit METADATA only. No stats entry (old
      * commit format, or an analyzed field) → must open the segment. */
    private def segmentCanMatch(s: SegmentMeta, field: String,
                                lower: Option[String], lowerInc: Boolean,
                                upper: Option[String], upperInc: Boolean): Boolean =
      s.stats.get(field) match {
        case None => true
        case Some((mn, mx)) =>
          lower.forall { l => val c = cpCompare(mx, l); if (lowerInc) c >= 0 else c > 0 } &&
          upper.forall { u => val c = cpCompare(mn, u); if (upperInc) c <= 0 else c < 0 }
      }

    /** Ascending distinct ordinals of docs whose `field` term falls in
      * the bounds (multivalued fields can match several terms). */
    private def rangeOrds(s: SegmentMeta, field: String,
                          lower: Option[String], lowerInc: Boolean,
                          upper: Option[String], upperInc: Boolean): Array[Int] =
      readPostingsFields(fs, dir, s.name, Set(field)).getOrElse(field, Map.empty)
        .iterator
        .collect { case (t, ords) if termInRange(t, lower, lowerInc, upper, upperInc) => ords }
        .flatten.toArray.distinct.sorted

    /** Range query over exact-value postings (Lucene TermRangeQuery /
      * Solr `field:[a TO b]`): LIVE stored docs whose indexed term for
      * `field` lies within the code-point-ordered bounds (`None` =
      * unbounded). Segments whose commit-recorded [[SegmentMeta.stats]]
      * prove the range empty are skipped WITHOUT opening any segment
      * file — the zone-map scale path for selective ranges over many
      * segments. A prefix query is the range `[p, nextAfterPrefix(p))`.
      * On an ANALYZED field this ranges over TOKENS, not stored values
      * — the DSv2 source never pushes those. */
    def rangeDocs(field: String,
                  lower: Option[String], lowerInc: Boolean,
                  upper: Option[String], upperInc: Boolean): Seq[Doc] =
      commit.segments.flatMap { s =>
        if (!segmentCanMatch(s, field, lower, lowerInc, upper, upperInc)) Nil
        else {
          val dels = readDels(fs, dir, s)
          val ords = rangeOrds(s, field, lower, lowerInc, upper, upperInc)
            .filterNot(dels.contains)
          readStoredDocsAt(fs, dir, s.name, ords, s.docs)
        }
      }

    /** Count of LIVE docs in the range — postings only, stored docs
      * never read, skippable segments never opened (the numFound-for-
      * a-range-fq count-pushdown path). */
    def rangeCount(field: String,
                   lower: Option[String], lowerInc: Boolean,
                   upper: Option[String], upperInc: Boolean): Long =
      commit.segments.map { s =>
        if (!segmentCanMatch(s, field, lower, lowerInc, upper, upperInc)) 0L
        else {
          val dels = readDels(fs, dir, s)
          rangeOrds(s, field, lower, lowerInc, upper, upperInc)
            .count(o => !dels.contains(o)).toLong
        }
      }.sum

    /** Ordinals (with duplicates, deletes NOT yet masked) matching a
      * term/range/or query shape in segment `s` — the posting-algebra
      * core shared by OR queries and filtered facets. Range branches
      * consult the zone map BEFORE touching `allPost`, so a segment
      * every branch excludes never opens its term dictionary. */
    private def branchOrds(s: SegmentMeta,
                           allPost: => Map[String, Map[String, Array[Int]]],
                           q: PushedQuery): Iterator[Int] = q match {
      case TermQuery(f, ts) =>
        val post = allPost.getOrElse(f, Map.empty)
        ts.iterator.flatMap(t => post.getOrElse(t, Array.empty[Int]).iterator)
      case RangeQuery(f, lo, loInc, hi, hiInc) =>
        if (!segmentCanMatch(s, f, lo, loInc, hi, hiInc)) Iterator.empty
        else allPost.getOrElse(f, Map.empty).iterator
          .collect { case (t, ords) if termInRange(t, lo, loInc, hi, hiInc) => ords }
          .flatten
      case OrQuery(bs) => bs.iterator.flatMap(b => branchOrds(s, allPost, b))
      case NotQuery(inner, base) =>
        // MUST_NOT: base ordinals (field presence as an unbounded
        // range, or the whole segment for IS NULL) minus the inner
        // match. Deletes are masked by the caller, after this.
        val excluded = branchOrds(s, allPost, inner).toSet
        val baseIt = base match {
          case Some(f) =>
            branchOrds(s, allPost,
              RangeQuery(f, None, lowerInc = true, None, upperInc = true))
          case None => Iterator.range(0, s.docs)
        }
        baseIt.filterNot(excluded)
      case AndQuery(bs) =>
        // MUST intersection with early exit once empty
        var acc: Set[Int] = null
        val it = bs.iterator
        while (it.hasNext && (acc == null || acc.nonEmpty)) {
          val next = branchOrds(s, allPost, it.next()).toSet
          acc = if (acc == null) next else acc intersect next
        }
        if (acc == null) Iterator.empty else acc.iterator
      case MatchAll => Iterator.empty // callers handle MatchAll separately
    }

    /** Every field a pushed query touches — what [[branchOrds]] will
      * look up, so postings reads can be scoped to exactly these
      * blocks (the v3 per-field seek path). */
    private def queryFields(q: PushedQuery): Set[String] = q match {
      case TermQuery(f, _) => Set(f)
      case RangeQuery(f, _, _, _, _) => Set(f)
      case OrQuery(bs) => bs.iterator.flatMap(queryFields).toSet
      case AndQuery(bs) => bs.iterator.flatMap(queryFields).toSet
      case NotQuery(inner, base) => queryFields(inner) ++ base
      case MatchAll => Set.empty
    }

    /** Can the zone map rule the whole segment out for `q` WITHOUT
      * opening any file? AND: any excluded branch excludes the
      * conjunction; OR: all branches must be excluded. A NOT branch
      * never excludes: zone maps bound what a field CONTAINS, not what
      * a segment lacks (a complement can match everywhere). */
    private def segExcluded(s: SegmentMeta, q: PushedQuery): Boolean = q match {
      case RangeQuery(f, lo, loInc, hi, hiInc) =>
        !segmentCanMatch(s, f, lo, loInc, hi, hiInc)
      case AndQuery(bs) => bs.exists(segExcluded(s, _))
      case OrQuery(bs) => bs.forall(segExcluded(s, _))
      case _ => false
    }

    /** Boolean query (Lucene BooleanQuery): LIVE stored docs matching
      * an [[OrQuery]] (SHOULD — posting-list unions, ordinal-deduped),
      * [[AndQuery]] (MUST — posting-set intersections) or [[NotQuery]]
      * (MUST_NOT — presence/whole-segment complement), nestable.
      * Zone-map-excluded segments are skipped unopened. */
    def queryDocs(q: PushedQuery): Seq[Doc] =
      commit.segments.flatMap { s =>
        if (segExcluded(s, q)) Nil
        else {
          val dels = readDels(fs, dir, s)
          lazy val allPost = readPostingsFields(fs, dir, s.name, queryFields(q))
          val ords = branchOrds(s, allPost, q)
            .filterNot(dels.contains).toArray.distinct.sorted
          readStoredDocsAt(fs, dir, s.name, ords, s.docs)
        }
      }

    /** Count of LIVE docs matching the boolean query — postings only. */
    def queryCount(q: PushedQuery): Long =
      commit.segments.map { s =>
        if (segExcluded(s, q)) 0L
        else {
          val dels = readDels(fs, dir, s)
          lazy val allPost = readPostingsFields(fs, dir, s.name, queryFields(q))
          branchOrds(s, allPost, q)
            .filterNot(dels.contains).toArray.distinct.length.toLong
        }
      }.sum

    /** Ascending LIVE match ordinals per segment — the ord-level core
      * every doc-fetch path derives from, exposed for COLUMNAR
      * retrieval (see [[docValuesCols]]): callers assemble projected
      * rows from forward columns instead of fetching whole stored
      * docs. Zone-map-excluded segments yield empty without opening
      * any file. */
    def matchOrdsBySegment(q: PushedQuery): Iterator[(SegmentMeta, Array[Int])] =
      commit.segments.iterator.map { s =>
        val ords: Array[Int] = q match {
          case MatchAll =>
            val dels = readDels(fs, dir, s)
            if (dels.isEmpty) Array.range(0, s.docs)
            else Array.range(0, s.docs).filterNot(dels.contains)
          case TermQuery(f, ts) =>
            val dels = readDels(fs, dir, s)
            val post = readPostingsFields(fs, dir, s.name, Set(f))
              .getOrElse(f, Map.empty)
            val raw =
              if (ts.lengthIs == 1) post.getOrElse(ts.head, Array.empty[Int])
              else ts.iterator.flatMap(t =>
                post.getOrElse(t, Array.empty[Int]).iterator).toArray.distinct.sorted
            raw.filterNot(dels.contains)
          case RangeQuery(f, lo, loInc, hi, hiInc) =>
            if (!segmentCanMatch(s, f, lo, loInc, hi, hiInc)) Array.empty[Int]
            else {
              val dels = readDels(fs, dir, s)
              rangeOrds(s, f, lo, loInc, hi, hiInc).filterNot(dels.contains)
            }
          case q @ (_: OrQuery | _: AndQuery | _: NotQuery) =>
            if (segExcluded(s, q)) Array.empty[Int]
            else {
              val dels = readDels(fs, dir, s)
              lazy val allPost = readPostingsFields(fs, dir, s.name, queryFields(q))
              branchOrds(s, allPost, q)
                .filterNot(dels.contains).toArray.distinct.sorted
            }
        }
        (s, ords)
      }

    /** Forward columns of exactly `fields` from one segment's `.dvd`
      * (Lucene docValues retrieval): per field its CP-sorted value
      * dict and the per-ordinal dict index (-1 = doc lacks the field).
      * `None` when any requested field has no persisted column there
      * (legacy segment, or the field is analyzed / multivalued in
      * that segment) — the caller falls back to stored-doc fetch for
      * that segment. I/O ∝ the requested fields' columns; the `.fld`
      * stored fields are never opened. */
    def docValuesCols(s: SegmentMeta, fields: Array[String])
        : Option[Array[(Array[String], Array[Int])]] = {
      if (fields.isEmpty) return Some(Array.empty)
      val m = readDocValues(fs, dir, s.name, Some(fields.toSet))
      if (fields.forall(m.contains)) Some(fields.map(m)) else None
    }

    /** Stored docs of one segment at the given LIVE ordinals — the
      * per-segment fallback for [[matchOrdsBySegment]] consumers. */
    def storedDocsAt(s: SegmentMeta, ords: Array[Int]): Seq[Doc] =
      readStoredDocsAt(fs, dir, s.name, ords, s.docs)

    /** Min/max LIVE indexed term of a non-analyzed field (code-point
      * order — Spark's string MIN/MAX semantics). A segment WITHOUT
      * deletions answers from its commit-recorded zone-map stats —
      * metadata only, no file opened; a segment carrying tombstones
      * scans its live postings (stats could name a deleted doc's
      * value). None when no live doc holds the field. */
    def fieldMinMax(field: String): Option[(String, String)] = {
      val perSeg = commit.segments.flatMap { s =>
        if (s.dels == 0 && s.stats.nonEmpty) s.stats.get(field)
        else {
          val dels = readDels(fs, dir, s)
          val live = readPostingsFields(fs, dir, s.name, Set(field))
            .getOrElse(field, Map.empty)
            .collect { case (t, ords) if ords.exists(o => !dels.contains(o)) => t }
          if (live.isEmpty) None
          else Some((live.min(CpOrdering), live.max(CpOrdering)))
        }
      }
      if (perSeg.isEmpty) None
      else Some((perSeg.map(_._1).min(CpOrdering), perSeg.map(_._2).max(CpOrdering)))
    }

    /** facet.field under a pushed filter (Solr's `fq` + facet): per-
      * term LIVE doc counts of `field` among docs matching `filter`,
      * plus the null bucket (matching docs lacking `field`) — postings
      * intersections only, stored docs never read. `filter` shapes:
      * [[MatchAll]] (plain facet), [[TermQuery]], [[RangeQuery]] (with
      * zone-map segment skipping). MULTIVALUED/analyzed fields get
      * Solr facet semantics: a doc counts once under EACH term it
      * carries (so counts need not partition the match set), while
      * the null bucket complements ordinal-distinct field presence.
      * On a single-valued field the counts partition the matching
      * docs — the shape the DSv2 groupBy pushdown requires. */
    def facetCounts(field: String, filter: PushedQuery): (Map[String, Long], Long) = {
      val acc = mutable.HashMap.empty[String, Long]
      var matched = 0L
      var withField = 0L
      commit.segments.foreach { s =>
        val dels = readDels(fs, dir, s)
        // the zone map can rule the segment out from commit metadata
        // (range filters directly; and/or trees recursively)
        if (!segExcluded(s, filter)) {
          // PERSISTED forward columns first (schema.xml docValues
          // design): `.dvm` (SORTED_SET — analyzed/multivalued) or
          // `.dvd` (single-valued) serve the facet as a packed-ord
          // walk over exactly the MATCH set — the facet field's
          // postings (positions and all) are never opened, and under
          // a selective filter the work is ∝ matches, not ∝ the
          // field's total postings. Legacy segments without a column
          // fall back to the postings walk (bumps [[dvFallbacks]]).
          val dvm = readSortedSet(fs, dir, s.name, Some(Set(field)))
          lazy val dvd =
            if (dvm.contains(field)) Map.empty[String, (Array[String], Array[Int])]
            else readDocValues(fs, dir, s.name, Some(Set(field)))
          val served = dvm.contains(field) || dvd.contains(field)
          // filter fields only when served; + facet field on fallback
          lazy val allPost = readPostingsFields(fs, dir, s.name,
            if (served) queryFields(filter) else queryFields(filter) + field)
          // the match-set ordinal iterator (deletes masked)
          val ords: Iterator[Int] = filter match {
            case MatchAll =>
              matched += s.liveDocs.toLong
              Iterator.range(0, s.docs).filterNot(dels.contains)
            case q =>
              val fOrds = branchOrds(s, allPost, q).filterNot(dels.contains).toSet
              matched += fOrds.size.toLong
              fOrds.iterator
          }
          dvm.get(field) match {
            case Some((terms, csr, lists)) =>
              // per-segment counts by dict index: one array, no hashing
              val cnt = new Array[Long](terms.length)
              ords.foreach { o =>
                var j = csr(o)
                if (j < csr(o + 1)) withField += 1
                while (j < csr(o + 1)) { cnt(lists(j)) += 1; j += 1 }
              }
              var ti = 0
              while (ti < terms.length) {
                if (cnt(ti) > 0)
                  acc.update(terms(ti), acc.getOrElse(terms(ti), 0L) + cnt(ti))
                ti += 1
              }
            case None => dvd.get(field) match {
              case Some((terms, idx)) =>
                val cnt = new Array[Long](terms.length)
                ords.foreach { o =>
                  val ti = idx(o)
                  if (ti >= 0) { cnt(ti) += 1; withField += 1 }
                }
                var ti = 0
                while (ti < terms.length) {
                  if (cnt(ti) > 0)
                    acc.update(terms(ti), acc.getOrElse(terms(ti), 0L) + cnt(ti))
                  ti += 1
                }
              case None =>
                // legacy fallback: walk the facet field's postings.
                // presence tracked per ORDINAL (BitSet), not per
                // posting: on a multivalued/analyzed field a doc
                // carries several terms but must fill the null
                // bucket's complement once. The counter only bumps
                // when the field actually EXISTS here postings-wise —
                // a segment that simply lacks the field has no column
                // to miss.
                val fieldPost = allPost.getOrElse(field, Map.empty)
                if (fieldPost.nonEmpty) dvFallbacks.incrementAndGet()
                val present = new java.util.BitSet(s.docs)
                val matchSet: Int => Boolean = filter match {
                  case MatchAll => o => !dels.contains(o)
                  case _ =>
                    val set = ords.toSet
                    set.contains
                }
                fieldPost.foreach { case (term, tOrds) =>
                  var c = 0L
                  tOrds.foreach { o =>
                    if (matchSet(o)) { c += 1; present.set(o) }
                  }
                  if (c > 0) acc.update(term, acc.getOrElse(term, 0L) + c)
                }
                withField += present.cardinality().toLong
            }
          }
        }
      }
      (acc.toMap, matched - withField)
    }

    /** facet.pivot (two-level) under a pushed filter: LIVE doc counts
      * grouped by `(fieldA, fieldB)` among docs matching `filter`,
      * with null buckets on BOTH axes (a doc missing a field lands in
      * that axis's `None`). Postings only — per segment, each field's
      * postings are inverted into a transient forward (docvalues-
      * style) ord→term array in one O(docs) pass, then the match set
      * is counted through the two views. The reference's Solr-side
      * analog is facet.pivot, which walks per-segment docvalues the
      * same way; per-vocabulary posting intersections would be
      * O(|V_a|·|V_b|) and are exactly what this avoids. Assumes both
      * fields single-valued non-analyzed (the DSv2 pushdown
      * contract). */
    /** Forward ord→term view of `field` in segment `s`: read straight
      * from the persisted docValues column when the segment carries
      * one (packed-ord read, postings never touched — the
      * schema.xml:70 `docValues="true"` design), else a transient
      * inversion of the field's postings (legacy segments /
      * multivalued fields; bumps [[dvFallbacks]]). */
    private def forwardFrom(s: SegmentMeta,
                            dv: Map[String, (Array[String], Array[Int])],
                            field: String,
                            post: => Map[String, Map[String, Array[Int]]])
        : Array[String] =
      dv.get(field) match {
        case Some((terms, idx)) =>
          val fwd = new Array[String](s.docs)
          var o = 0
          while (o < idx.length) {
            if (idx(o) >= 0) fwd(o) = terms(idx(o))
            o += 1
          }
          fwd
        case None =>
          dvFallbacks.incrementAndGet()
          val fwd = new Array[String](s.docs)
          post.getOrElse(field, Map.empty).foreach { case (t, ords) =>
            ords.foreach(o => fwd(o) = t)
          }
          fwd
      }

    def pivotCounts(fieldA: String, fieldB: String, filter: PushedQuery)
        : Map[(Option[String], Option[String]), Long] = {
      val acc = mutable.HashMap.empty[(Option[String], Option[String]), Long]
      commit.segments.foreach { s =>
        if (!segExcluded(s, filter)) {
          val dels = readDels(fs, dir, s)
          // dvd-served fields never reach the postings read: the scan
          // touches only the FILTER's field blocks (plus inversion
          // fallbacks for legacy segments)
          val dv = readDocValues(fs, dir, s.name, Some(Set(fieldA, fieldB)))
          val needInvert = Set(fieldA, fieldB).filterNot(dv.contains)
          val allPost = readPostingsFields(fs, dir, s.name,
            queryFields(filter) ++ needInvert)
          val fa = forwardFrom(s, dv, fieldA, allPost)
          val fb = forwardFrom(s, dv, fieldB, allPost)
          val ords: Iterator[Int] = filter match {
            case MatchAll => Iterator.range(0, s.docs)
            case q => branchOrds(s, allPost, q).toArray.distinct.iterator
          }
          ords.filterNot(dels.contains).foreach { o =>
            val k = (Option(fa(o)), Option(fb(o)))
            acc.update(k, acc.getOrElse(k, 0L) + 1L)
          }
        }
      }
      acc.toMap
    }

    /** Per-doc VALUE-LIST view of `field` in segment `s` — the
      * multivalued generalization of [[forwardFrom]]: `.dvm` lists
      * where the segment carries them, `.dvd` as one-element lists,
      * else a postings inversion into per-doc buffers (legacy; bumps
      * [[dvFallbacks]]). Empty array = doc lacks the field. */
    private def listsFrom(s: SegmentMeta, field: String,
                          post: => Map[String, Map[String, Array[Int]]])
        : Int => Array[String] = {
      val dvm = readSortedSet(fs, dir, s.name, Some(Set(field)))
      dvm.get(field) match {
        case Some((terms, csr, lists)) =>
          o => {
            val n = csr(o + 1) - csr(o)
            val out = new Array[String](n)
            var j = 0
            while (j < n) { out(j) = terms(lists(csr(o) + j)); j += 1 }
            out
          }
        case None =>
          val dvd = readDocValues(fs, dir, s.name, Some(Set(field)))
          dvd.get(field) match {
            case Some((terms, idx)) =>
              o => if (idx(o) >= 0) Array(terms(idx(o))) else Array.empty[String]
            case None =>
              val fieldPost = post.getOrElse(field, Map.empty)
              if (fieldPost.nonEmpty) dvFallbacks.incrementAndGet()
              val bufs = Array.fill(s.docs)(List.empty[String])
              // reverse term order so per-doc cons-lists come out in
              // forward dictionary order — parity with the .dvm view
              fieldPost.toSeq.sortBy(_._1)(CpOrdering.reverse).foreach {
                case (t, ords) => ords.foreach(o => bufs(o) = t :: bufs(o))
              }
              o => bufs(o).toArray
          }
      }
    }

    /** facet.pivot over fields of ANY cardinality — Solr semantics on
      * multivalued/analyzed fields: a doc counts once under EACH
      * (valueA, valueB) combination it carries (cartesian per doc),
      * with null buckets on an axis the doc lacks entirely. Served
      * from the persisted forward columns (`.dvm`/`.dvd`); the
      * single-valued [[pivotCounts]] stays the DSv2 pushdown's path
      * (SQL GROUP BY semantics — it must refuse multivalued). */
    def pivotCountsMulti(fieldA: String, fieldB: String, filter: PushedQuery)
        : Map[(Option[String], Option[String]), Long] = {
      val acc = mutable.HashMap.empty[(Option[String], Option[String]), Long]
      commit.segments.foreach { s =>
        if (!segExcluded(s, filter)) {
          val dels = readDels(fs, dir, s)
          lazy val allPost =
            readPostingsFields(fs, dir, s.name, queryFields(filter) + fieldA + fieldB)
          val la = listsFrom(s, fieldA, allPost)
          val lb = listsFrom(s, fieldB, allPost)
          val ords: Iterator[Int] = filter match {
            case MatchAll => Iterator.range(0, s.docs)
            case q => branchOrds(s, allPost, q).toArray.distinct.iterator
          }
          ords.filterNot(dels.contains).foreach { o =>
            val as = la(o)
            val bs = lb(o)
            val aOpts: Array[Option[String]] =
              if (as.isEmpty) Array(None) else as.map(v => Some(v): Option[String])
            val bOpts: Array[Option[String]] =
              if (bs.isEmpty) Array(None) else bs.map(v => Some(v): Option[String])
            aOpts.foreach { a =>
              bOpts.foreach { b =>
                val k = (a, b)
                acc.update(k, acc.getOrElse(k, 0L) + 1L)
              }
            }
          }
        }
      }
      acc.toMap
    }

    /** stats.field under an `fq`: min/max LIVE indexed term of `field`
      * among docs matching `filter` (code-point order — Spark's string
      * MIN/MAX semantics). [[MatchAll]] delegates to the zone-map path
      * [[fieldMinMax]] (metadata only); a real filter intersects the
      * field's postings with the match set per segment — stored docs
      * never read. None when no matching live doc holds the field. */
    def filteredMinMax(field: String, filter: PushedQuery): Option[(String, String)] =
      if (filter == MatchAll) fieldMinMax(field)
      else {
        val perSeg = commit.segments.flatMap { s =>
          if (segExcluded(s, filter)) None
          else {
            val dels = readDels(fs, dir, s)
            val allPost =
              readPostingsFields(fs, dir, s.name, queryFields(filter) + field)
            val m: Set[Int] =
              branchOrds(s, allPost, filter).filterNot(dels.contains).toSet
            if (m.isEmpty) None
            else {
              val live = allPost.getOrElse(field, Map.empty)
                .collect { case (t, ords) if ords.exists(m.contains) => t }
              if (live.isEmpty) None
              else Some((live.min(CpOrdering), live.max(CpOrdering)))
            }
          }
        }
        if (perSeg.isEmpty) None
        else Some((perSeg.map(_._1).min(CpOrdering), perSeg.map(_._2).max(CpOrdering)))
      }

    /** stats.field sum/count under an `fq`: (Σ decoded term value ×
      * live match count, non-null count) of `field` among docs
      * matching `filter` — postings only, one pass over the field's
      * term list per segment. `decode` maps an indexed term to its
      * numeric value (the typed-field sortable encoding); the sum is
      * exact integer math (`addExact`/`multiplyExact` — overflow
      * throws, matching Spark's ANSI long-sum). Sum is None when no
      * matching live doc holds the field (SQL SUM over empty = NULL).
      * Assumes `field` single-valued non-analyzed (the DSv2 pushdown
      * contract). */
    def fieldSumCount(field: String, filter: PushedQuery,
                      decode: String => Long): (Option[Long], Long) = {
      var sum = 0L
      var count = 0L
      commit.segments.foreach { s =>
        if (!segExcluded(s, filter)) {
          val dels = readDels(fs, dir, s)
          val allPost =
            readPostingsFields(fs, dir, s.name, queryFields(filter) + field)
          val matched: Int => Boolean = filter match {
            case MatchAll => o => !dels.contains(o)
            case q => branchOrds(s, allPost, q).filterNot(dels.contains).toSet
          }
          allPost.getOrElse(field, Map.empty).foreach { case (t, ords) =>
            val n = ords.count(matched).toLong
            if (n > 0) {
              sum = Math.addExact(sum, Math.multiplyExact(decode(t), n))
              count += n
            }
          }
        }
      }
      (if (count > 0) Some(sum) else None, count)
    }

    /** JSON-facet nested stats (`{type: terms, field: group, facet:
      * {m: "min(f)", x: "max(f)", s: "sum(g)"}}`): per-group LIVE doc
      * count, min/max of each `statFields` entry, and (sum, non-null
      * count) of each `sumFields` entry — among docs matching
      * `filter`, grouped by `group` (key None = the null bucket —
      * matching docs missing the group field). Per segment: the
      * group's postings invert into a transient forward ord→term view
      * (one O(docs) pass), the match set becomes a boolean array, and
      * each stat field's postings stream through both — min/max/sum
      * ignore docs missing the stat field, exactly SQL aggregates
      * over NULLs. Sums are exact integer math over `decode`d terms
      * (`addExact` — overflow throws, matching Spark's ANSI long
      * sum). Stored docs never read. Assumes all fields single-valued
      * non-analyzed (the DSv2 pushdown contract). */
    def groupedStats(group: String, statFields: Seq[String], filter: PushedQuery,
                     sumFields: Seq[String] = Nil,
                     decode: String => (String => Long) = _ => _ => 0L)
        : Map[Option[String], (Long, Map[String, (String, String)], Map[String, (Long, Long)])] = {
      val counts = mutable.HashMap.empty[Option[String], Long]
      val mins = mutable.HashMap.empty[(Option[String], String), String]
      val maxs = mutable.HashMap.empty[(Option[String], String), String]
      val sums = mutable.HashMap.empty[(Option[String], String), Long]
      val cnts = mutable.HashMap.empty[(Option[String], String), Long]
      commit.segments.foreach { s =>
        if (!segExcluded(s, filter)) {
          val dels = readDels(fs, dir, s)
          // group column from the persisted docValues when present —
          // stat/sum fields stay postings-streamed (term→ords is the
          // right shape for min/max/sum), so only the GROUP field's
          // O(docs) inversion disappears
          val dv = readDocValues(fs, dir, s.name, Some(Set(group)))
          val needInvert: Set[String] =
            if (dv.contains(group)) Set.empty else Set(group)
          val allPost = readPostingsFields(fs, dir, s.name,
            queryFields(filter) ++ needInvert ++ statFields ++ sumFields)
          val fwd = forwardFrom(s, dv, group, allPost)
          val matched = new Array[Boolean](s.docs)
          filter match {
            case MatchAll =>
              var o = 0
              while (o < s.docs) { matched(o) = !dels.contains(o); o += 1 }
            case q =>
              branchOrds(s, allPost, q).filterNot(dels.contains)
                .foreach(o => matched(o) = true)
          }
          var o = 0
          while (o < s.docs) {
            if (matched(o)) {
              val g = Option(fwd(o))
              counts.update(g, counts.getOrElse(g, 0L) + 1L)
            }
            o += 1
          }
          statFields.foreach { f =>
            allPost.getOrElse(f, Map.empty).foreach { case (t, ords) =>
              ords.foreach { o =>
                if (matched(o)) {
                  val km = (Option(fwd(o)), f)
                  if (!mins.contains(km) || cpCompare(t, mins(km)) < 0) mins(km) = t
                  if (!maxs.contains(km) || cpCompare(t, maxs(km)) > 0) maxs(km) = t
                }
              }
            }
          }
          sumFields.foreach { f =>
            val dec = decode(f)
            allPost.getOrElse(f, Map.empty).foreach { case (t, ords) =>
              val v = dec(t)
              ords.foreach { o =>
                if (matched(o)) {
                  val km = (Option(fwd(o)), f)
                  sums.update(km, Math.addExact(sums.getOrElse(km, 0L), v))
                  cnts.update(km, cnts.getOrElse(km, 0L) + 1L)
                }
              }
            }
          }
        }
      }
      counts.keysIterator.map { g =>
        g -> (counts(g), statFields.flatMap { f =>
          mins.get((g, f)).map(mn => f -> (mn, maxs((g, f))))
        }.toMap, sumFields.flatMap { f =>
          cnts.get((g, f)).map(n => f -> (sums((g, f)), n))
        }.toMap)
      }.toMap
    }

    /** Per-term LIVE doc frequency for one field across all segments —
      * the Luke/terms-component statistics view of the index. */
    def termStats(field: String): Map[String, Long] = {
      val acc = mutable.HashMap.empty[String, Long]
      commit.segments.foreach { s =>
        val dels = readDels(fs, dir, s)
        readPostingsFields(fs, dir, s.name, Set(field))
          .getOrElse(field, Map.empty).foreach {
          case (term, ords) =>
            val live = ords.count(o => !dels.contains(o))
            if (live > 0) acc.update(term, acc.getOrElse(term, 0L) + live)
        }
      }
      acc.toMap
    }

    /** Exact-phrase query over an ANALYZED field: LIVE docs where
      * `tokens` occur at consecutive positions (Lucene PhraseQuery,
      * slop 0). Fields indexed without analysis have no positions and
      * never match a multi-token phrase. */
    def phraseDocs(field: String, tokens: Seq[String]): Seq[Doc] = {
      require(tokens.nonEmpty, "empty phrase")
      commit.segments.flatMap { s =>
        val dels = readDels(fs, dir, s)
        val post = readPostingsPositionsField(fs, dir, s.name, field)
        val perTok: Seq[Map[Int, Array[Int]]] =
          tokens.map(t => post.getOrElse(t, Array.empty[(Int, Array[Int])]).toMap)
        if (perTok.exists(_.isEmpty)) Nil
        else {
          val candidates = perTok.map(_.keySet).reduce(_ intersect _)
            .filterNot(dels.contains).toSeq.sorted
          val hits = candidates.filter { ord =>
            val first = perTok.head(ord)
            first.exists(p => perTok.zipWithIndex.tail.forall {
              case (m, k) => java.util.Arrays.binarySearch(m(ord), p + k) >= 0
            })
          }
          readStoredDocsAt(fs, dir, s.name, hits.toArray, s.docs)
        }
      }
    }

    /** Count of LIVE docs matching ANY of `terms` — postings only, no
      * stored-doc reads (the count-pushdown path). */
    def termCountIn(field: String, terms: Seq[String]): Long =
      commit.segments.map { s =>
        val dels = readDels(fs, dir, s)
        val post = readPostingsFields(fs, dir, s.name, Set(field))
          .getOrElse(field, Map.empty)
        terms.iterator
          .flatMap(t => post.getOrElse(t, Array.empty[Int]).iterator)
          .filterNot(dels.contains)
          .toArray.distinct.length.toLong
      }.sum

    def termQueryCount(field: String, term: String): Long =
      commit.segments.map { s =>
        val dels = readDels(fs, dir, s)
        readPostingsFields(fs, dir, s.name, Set(field))
          .getOrElse(field, Map.empty).getOrElse(term, Array.empty[Int])
          .count(o => !dels.contains(o)).toLong
      }.sum

    /** Term frequencies of ONE live doc (looked up by its `idField`
      * value) over an ANALYZED field — tf from positional postings,
      * the per-doc term-vector view MoreLikeThis needs. Empty when
      * the doc isn't in this index. Cost: the id's posting lookup +
      * one field-block parse of the seed's segment (v3 seek). */
    def docTermFreqs(field: String, idField: String, idValue: String): Map[String, Int] =
      commit.segments.iterator.flatMap { s =>
        val dels = readDels(fs, dir, s)
        readPostingsFields(fs, dir, s.name, Set(idField))
          .getOrElse(idField, Map.empty)
          .getOrElse(idValue, Array.empty[Int])
          .filterNot(dels.contains).headOption.map { ord =>
            readPostingsPositionsField(fs, dir, s.name, field).iterator
              .flatMap { case (t, arr) =>
                arr.find(_._1 == ord).filter(_._2.length > 0)
                  .map(e => t -> e._2.length)
              }.toMap
          }
      }.foldLeft(Map.empty[String, Int])(_ ++ _)

    /** For every live doc holding ≥1 of `terms` on `field` (except
      * the doc whose `idField` is `excludeIdValue`): how many DISTINCT
      * query terms it shares — the MoreLikeThis candidate walk. Work ∝
      * the query terms' posting lists + one stored-id seek per
      * candidate; never a corpus scan. */
    def sharedTermCounts(field: String, terms: Seq[String], idField: String,
                         excludeIdValue: String): Iterator[(String, Int)] =
      commit.segments.iterator.flatMap { s =>
        val dels = readDels(fs, dir, s)
        val post = readPostingsFields(fs, dir, s.name, Set(field))
          .getOrElse(field, Map.empty)
        val cnt = mutable.HashMap.empty[Int, Int]
        terms.foreach { t =>
          post.getOrElse(t, Array.empty[Int]).foreach { o =>
            if (!dels.contains(o)) cnt.update(o, cnt.getOrElse(o, 0) + 1)
          }
        }
        if (cnt.isEmpty) Iterator.empty
        else {
          val ords = cnt.keys.toArray.sorted
          readStoredDocsAt(fs, dir, s.name, ords, s.docs).iterator
            .zip(ords.iterator).flatMap { case (doc, o) =>
              firstValues(doc).get(idField)
                .filter(_ != excludeIdValue).map(_ -> cnt(o))
            }
        }
      }

    /** Per-ord token counts of `field` in segment `s` — the stored
      * norms when present, else recomputed by re-analyzing stored
      * values (segments written before norms existed). */
    private def segNorms(s: SegmentMeta, field: String): Array[Int] =
      readNorms(fs, dir, s.name).get(field).getOrElse {
        readStoredDocs(fs, dir, s.name).map(doc =>
          doc.iterator.filter(_._1 == field).map(kv => analyze(kv._2).length).sum
        ).toArray
      }

    /** The shard-local half of distributed BM25 term statistics
      * (Solr's GET_TERM_STATS scatter phase): LIVE doc count, total
      * `field` tokens over live docs (for global avgdl), and per-term
      * live document frequency — postings + norms only, stored docs
      * never read (unless norms need the legacy recompute). */
    def bm25Stats(field: String, terms: Seq[String]): (Long, Long, Map[String, Long]) = {
      var totalTokens = 0L
      val df = mutable.HashMap.empty[String, Long]
      commit.segments.foreach { s =>
        val dels = readDels(fs, dir, s)
        val norms = segNorms(s, field)
        var o = 0
        while (o < norms.length) {
          if (!dels.contains(o)) totalTokens += norms(o)
          o += 1
        }
        val post = readPostingsFields(fs, dir, s.name, Set(field))
          .getOrElse(field, Map.empty)
        terms.foreach { t =>
          val live = post.getOrElse(t, Array.empty[Int]).count(o => !dels.contains(o))
          if (live > 0) df.update(t, df.getOrElse(t, 0L) + live)
        }
      }
      (matchAllCount, totalTokens, df.toMap)
    }

    /** The shard-local half of distributed BM25 scoring: for every
      * LIVE doc matching ≥1 query term on the ANALYZED `field`, the
      * exact score under the GLOBAL statistics handed in (nDocs,
      * avgdl, df — combined across shards by the coordinator, Solr's
      * distributed-idf design). tf comes from positional postings,
      * |d| from norms; per-doc contributions sum in `terms` order, so
      * the doubles equal [[graft.text.Ranking.bm25]]'s fixed-order
      * column sum bit-for-bit. Work ∝ postings of the QUERIED terms —
      * never a corpus scan. Returns (id value, score). */
    def bm25Scores(field: String, terms: Seq[String], k1: Double, b: Double,
                   nDocs: Double, avgdl: Double, df: Map[String, Long],
                   idField: String): Iterator[(String, Double)] =
      commit.segments.iterator.flatMap { s =>
        val dels = readDels(fs, dir, s)
        val post = readPostingsPositionsField(fs, dir, s.name, field)
        lazy val norms = segNorms(s, field) // once per segment, only if a term hits
        val acc = mutable.LinkedHashMap.empty[Int, Double]
        terms.foreach { t =>
          df.get(t).foreach { dfT =>
            val idf = math.log(1.0 + ((nDocs - dfT.toDouble) + 0.5) / (dfT.toDouble + 0.5))
            post.getOrElse(t, Array.empty[(Int, Array[Int])]).foreach {
              case (ord, positions) =>
                if (!dels.contains(ord) && positions.length > 0) {
                  val tf = positions.length.toDouble
                  val dl = norms(ord).toDouble
                  val c = idf * (tf * k1 + tf) /
                    (tf + k1 * ((1.0 - b) + b * dl / avgdl))
                  acc.update(ord, acc.getOrElse(ord, 0.0) + c)
                }
            }
          }
        }
        if (acc.isEmpty) Iterator.empty
        else {
          val ords = acc.keys.toArray.sorted
          val byOrd = ords.iterator
            .zip(readStoredDocsAt(fs, dir, s.name, ords, s.docs).iterator).toMap
          acc.iterator.flatMap { case (ord, score) =>
            firstValues(byOrd(ord)).get(idField).map(_ -> score)
          }
        }
      }
  }

  def writer(dir: String, conf: Configuration,
             analyzed: Set[String] = Set.empty,
             compressStored: Boolean = true,
             retainGenerations: Int = 1,
             staged: Boolean = false): Writer = {
    val p = new Path(dir)
    new Writer(p.getFileSystem(conf), p, analyzed, compressStored,
      retainGenerations = retainGenerations, staged = staged)
  }

  def reader(dir: String, conf: Configuration): Reader = {
    val p = new Path(dir)
    new Reader(p.getFileSystem(conf), p)
  }
}
