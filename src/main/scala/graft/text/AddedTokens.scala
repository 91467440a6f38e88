package graft.text

/**
 * Special / added tokens (round 17 — HF `added_tokens`, the BOS/EOS/
 * control-token machinery every production tokenizer carries): a
 * protected token matches ATOMICALLY wherever it occurs in the input
 * — it never splits, never merges with neighbors, and passes through
 * encode/decode verbatim — while the text between matches encodes
 * with the trained model as usual. Matching is leftmost,
 * longest-first (the HF extractor's precedence: `<s>` vs `<s>>`
 * resolves to the longer token first at equal start).
 *
 * Model-agnostic: the segment encoder is a parameter, so the same
 * splitter serves BPE ([[Bpe.encodeByteLevel]]) and unigram
 * ([[Unigram.encodeByteFallback]]) paths. The scan is O(|text|·|A|)
 * over the handful of added tokens a tokenizer carries; a vocabulary
 * with THOUSANDS of added tokens would want an Aho-Corasick automaton
 * — out of scope by data shape (HF's own extractor is a regex
 * alternation, the same order of work).
 */
object AddedTokens {

  /** Split `text` around the added tokens: `Right(token)` for each
    * protected match, `Left(run)` for the text between matches. */
  def segment(text: String,
              added: Seq[String]): Vector[Either[String, String]] = {
    val toks = added.filter(_.nonEmpty).distinct
      .sortBy(t => (-t.length, t))
    val out = Vector.newBuilder[Either[String, String]]
    val run = new StringBuilder
    def flush(): Unit = if (run.nonEmpty) {
      out += Left(run.toString); run.clear()
    }
    var pos = 0
    while (pos < text.length) {
      toks.find(text.startsWith(_, pos)) match {
        case Some(t) => flush(); out += Right(t); pos += t.length
        case None => run.append(text.charAt(pos)); pos += 1
      }
    }
    flush()
    out.result()
  }

  /** Encode with protected tokens: matches pass through verbatim,
    * everything else goes to `encodeSegment`. */
  def encode(text: String, added: Seq[String],
             encodeSegment: String => Seq[String]): Vector[String] =
    segment(text, added).flatMap {
      case Right(tok) => Vector(tok)
      case Left(run) => encodeSegment(run).toVector
    }
}
