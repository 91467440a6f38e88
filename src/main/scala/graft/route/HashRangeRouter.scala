package graft.route

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Hash-range document routing: the ZooKeeper-free SolrCloud routing the
 * reference synthesizes in SolrCloudCompositeIdRoutingPartitioner
 * (map-reduce/src/main/java/com/riskiq/solr/hadoop/
 * SolrCloudCompositeIdRoutingPartitioner.java:108-118 slice synthesis,
 * 65-97 partition function).
 *
 * `numShards` contiguous ranges cover the full 32-bit hash space; a doc
 * id hashes (SolrHash.compositeHash) into exactly one range = its root
 * shard. With `numPartitions` a multiple of `numShards`, each root
 * shard is spread over `numPartitions / numShards` micro shards by
 * `(offsetHash & Int.MaxValue) % perShard`, where the offset hash is
 * the PLAIN murmur3 of the FULL key string — not the composite routing
 * hash — exactly as the reference computes it
 * (SolrCloudCompositeIdRoutingPartitioner.java:92-96
 * `Hash.murmurhash3_x86_32(keyStr, 0, keyStr.length(), 0)`). The two
 * hashes coincide for plain ids but differ for `a!b` composite ids:
 * the composite hash picks the slice, the full-key hash spreads the
 * slice's docs over its micro shards.
 *
 * Range synthesis mirrors Solr CompositeIdRouter.partitionRange
 * (public Apache Solr source): equal steps, each range end rounded to a
 * 0x...ffff boundary when the step is large enough, so route-key
 * sub-domains (the bottom 16 composite bits) are never split across
 * shards. The reference's own routing TODO notes its per-doc linear
 * slice scan ("TODO: scalability: replace linear search ... with binary
 * search", SolrCloudCompositeIdRoutingPartitioner.java:73); here the
 * lookup is a binary search over the precomputed range starts, O(log
 * shards) per row inside codegen.
 */
final case class HashRangeRouter(numShards: Int, routingBits: Int = 16,
    explicitRanges: Option[Seq[(Int, Int)]] = None)
    extends Serializable {
  require(numShards > 0, s"numShards must be positive: $numShards")

  /** Inclusive range starts; ranges(i) covers [starts(i), ends(i)]. */
  val (starts: Array[Int], ends: Array[Int]) = explicitRanges match {
    case Some(ranges) =>
      // X1 alignment path: route against a LIVE collection's slice
      // ranges (e.g. read from its cluster state after shard splits)
      // instead of synthesizing equal ones. ZK discovery itself stays
      // out of scope (SolrCloudPartitioner.java:50-141); callers fetch
      // the ranges and inject them here.
      require(ranges.length == numShards,
        s"explicitRanges has ${ranges.length} entries for $numShards shards")
      require(ranges.head._1 == Int.MinValue && ranges.last._2 == Int.MaxValue,
        "explicitRanges must cover the full 32-bit hash space")
      ranges.sliding(2).foreach {
        case Seq((_, e), (s2, _)) =>
          require(s2 == e + 1, s"explicitRanges not contiguous at $e -> $s2")
        case _ =>
      }
      (ranges.map(_._1).toArray, ranges.map(_._2).toArray)
    case None => synthesizeRanges()
  }

  private def synthesizeRanges(): (Array[Int], Array[Int]) = {
    val min = Int.MinValue
    val max = Int.MaxValue
    val rangeSize = max.toLong - min.toLong
    val rangeStep = math.max(1L, rangeSize / numShards)
    val mask = (1L << routingBits) - 1 // 0x0000ffff for default bits
    // only round ends to sub-domain boundaries when steps are wide
    // enough for the rounding to be insignificant (Solr semantics)
    val round = rangeStep >= (1L << routingBits) * 16
    val ss = Array.newBuilder[Int]
    val es = Array.newBuilder[Int]
    var start = min.toLong
    var targetStart = min.toLong
    var end = start
    var n = 0
    while (end < max) {
      val targetEnd = targetStart + rangeStep
      end = targetEnd
      if (round && ((end & mask) != mask)) {
        val roundDown = (end | mask) - (1L << routingBits)
        val roundUp = end | mask
        end = if (end - roundDown < roundUp - end && roundDown > start) roundDown else roundUp
      }
      if (n == numShards - 1) end = max
      ss += start.toInt
      es += end.toInt
      start = end + 1L
      targetStart = targetEnd + 1L
      n += 1
    }
    (ss.result(), es.result())
  }
  require(starts.length == numShards,
    s"range synthesis produced ${starts.length} ranges for $numShards shards")
  require(ends.length == numShards,
    s"range synthesis produced ${ends.length} range ends for $numShards shards")

  /** Root shard for a 32-bit routing hash: binary search on starts. */
  def shardOfHash(hash: Int): Int = {
    var lo = 0
    var hi = numShards - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= hash) lo = mid else hi = mid - 1
    }
    lo
  }

  def shardOfId(id: String): Int = shardOfHash(SolrHash.compositeHash(id))

  /** Micro-shard (= reducer partition) placement, reference parity:
    * slice by composite hash, offset by plain full-key murmur3
    * (SolrCloudCompositeIdRoutingPartitioner.java:92-96). */
  def microShard(id: String, numPartitions: Int): Int = {
    require(numPartitions % numShards == 0,
      s"numPartitions ($numPartitions) must be a multiple of numShards ($numShards)")
    val perShard = numPartitions / numShards
    shardOfHash(SolrHash.compositeHash(id)) * perShard +
      (SolrHash.hashString(id) & Int.MaxValue) % perShard
  }

  /** Column: root shard index of a string id column. */
  def shardCol(id: Column): Column =
    GraftColumns.of(SolrShardRoute(GraftColumns.expr(id), this, 1))

  /** Column: micro-shard index of a string id column. */
  def microShardCol(id: Column, numPartitions: Int): Column = {
    require(numPartitions % numShards == 0,
      s"numPartitions ($numPartitions) must be a multiple of numShards ($numShards)")
    GraftColumns.of(SolrShardRoute(GraftColumns.expr(id), this, numPartitions / numShards))
  }
}

object HashRangeRouter {
  /** Router over explicit (inclusive) slice ranges — align a batch
    * build with an existing live collection whose ranges are no longer
    * uniform (after SPLITSHARD). Ranges must be sorted, contiguous and
    * cover the full 32-bit space. */
  def fromRanges(ranges: Seq[(Int, Int)], routingBits: Int = 16): HashRangeRouter =
    HashRangeRouter(ranges.length, routingBits, Some(ranges))
}

/**
 * `solr_shard(id)`: root shard (perShard=1) or micro shard index for a
 * document id under Solr hash-range routing. Codegen-friendly: a
 * static-shaped call into the broadcast-captured router object, so it
 * stays inside whole-stage codegen.
 */
case class SolrShardRoute(child: Expression, router: HashRangeRouter, perShard: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val shard = router.shardOfHash(SolrHash.compositeHashUtf8(s))
    if (perShard == 1) shard
    else shard * perShard + (SolrHash.hashUtf8(s) & Int.MaxValue) % perShard
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val routerRef = ctx.addReferenceObj("graftRouter", router, classOf[HashRangeRouter].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val h = ctx.freshName("graftHash")
      // offset hash = plain murmur3 of the full key (reference parity,
      // SolrCloudCompositeIdRoutingPartitioner.java:92-96); the ternary
      // keeps it unevaluated for root-shard (perShard == 1) routing
      s"""
         |int $h = graft.route.SolrHash.compositeHashUtf8($c);
         |${ev.value} = $routerRef.shardOfHash($h) * $perShard +
         |  ($perShard == 1 ? 0
         |    : ((graft.route.SolrHash.hashUtf8($c) & Integer.MAX_VALUE) % $perShard));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "solr_shard"
}
