package perfbench

/**
 * The benchmark's own port of Solr's compositeId routing for plain ids
 * (no `!`): MurmurHash3 x86_32 of the UTF-8 bytes with seed 0, then the
 * shard whose hash range (Solr's `DocRouter.partitionRange`) holds it.
 * Written from the published algorithms, not from the program, so the
 * per-part doc counts of a build are checked against an independent
 * expectation.
 */
object Routing {

  def murmur3(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h = 0
    val blocks = data.length / 4
    var i = 0
    while (i < blocks) {
      val o = i * 4
      var k = (data(o) & 0xff) | ((data(o + 1) & 0xff) << 8) |
        ((data(o + 2) & 0xff) << 16) | ((data(o + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    val t = blocks * 4
    var k = 0
    val rem = data.length & 3
    if (rem == 3) k ^= (data(t + 2) & 0xff) << 16
    if (rem >= 2) k ^= (data(t + 1) & 0xff) << 8
    if (rem >= 1) {
      k ^= data(t) & 0xff
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^= h >>> 16
    h
  }

  /** Range starts of `n` shards over the full int range, with Solr's
    * rounding of range ends to 16-bit sub-domain boundaries. */
  def rangeStarts(n: Int): IndexedSeq[Int] = {
    val step = math.max(1L, (Int.MaxValue.toLong - Int.MinValue.toLong) / n)
    val mask = 0xffffL
    val round = step >= (1L << 16) * 16
    val starts = IndexedSeq.newBuilder[Int]
    var start = Int.MinValue.toLong
    var target = start
    var end = start
    var made = 0
    while (end < Int.MaxValue) {
      val targetEnd = target + step
      end = targetEnd
      if (round && (end & mask) != mask) {
        val down = (end | mask) - (1L << 16)
        val up = end | mask
        end = if (end - down < up - end && down > start) down else up
      }
      if (made == n - 1) end = Int.MaxValue
      starts += start.toInt
      start = end + 1
      target = targetEnd + 1
      made += 1
    }
    starts.result()
  }

  def shardOf(id: String, starts: IndexedSeq[Int]): Int = {
    val h = murmur3(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    starts.lastIndexWhere(_ <= h)
  }
}
