package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference,
  AttributeSet, Descending, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetrics, SQLShuffleReadMetricsReporter,
  SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.IntegerType
import scala.collection.mutable

/**
 * PER-QUERY TOP-n as one operator — the cut every ANN query ends in
 * (cell stores, HNSW's scatter merge, the flat batch operators), in
 * the shape distributed top-k search uses: each scan partition keeps
 * a bounded partial top-n per query, one shuffle keyed by query feeds
 * a single merge. The shuffle runs INSIDE the operator's RDD, so AQE
 * plans no exchange and the cut costs no job of its own; a batch of
 * one query merges in one reducer and reports `SinglePartition`, so a
 * caller's `orderBy("rank")` adds no exchange either.
 *
 * Semantics are exactly `row_number() OVER (PARTITION BY query_id
 * ORDER BY score [DESC|ASC], corpus_id) <= n` — ranked by Spark's own
 * generated ordering over those sort keys (NaN, ±0.0 and null placed
 * as Spark places them), `rank` an `IntegerType` — and with
 * `collapse`, of first reducing each (query_id, corpus_id) to its
 * `max` (desc) or `min` (asc) score, nulls ignored as SQL does.
 *
 * Planned by [[PerQueryTopKStrategy]] (registered in
 * [[graft.GraftExtensions]]).
 */
object PerQueryTopK {

  /** Per-query top-`n` of `scored` by `score` (ties to the lower
    * `corpus_id`) with a `rank` column appended; `collapse` first
    * reduces duplicate copies of an id (re-adds, sidecar twins) to
    * their best score — output (query_id, corpus_id, score, rank) — so
    * a duplicate never holds a slot a distinct neighbor should.
    * `batch` is the query count when the driver knows it (it sizes
    * the merge); unknown batches merge in `spark.sql.shuffle.partitions`
    * reducers. */
  def apply(scored: DataFrame, score: String, desc: Boolean, n: Int,
            collapse: Boolean = false, batch: Option[Int] = None): DataFrame = {
    val in = if (collapse) scored.select("query_id", "corpus_id", score) else scored
    val plan = in.queryExecution.analyzed
    def attr(name: String): Attribute = {
      val hits = plan.output.filter(_.name.equalsIgnoreCase(name))
      require(hits.size == 1, s"per-query top-n needs one '$name' column, got ${plan.output}")
      hits.head
    }
    GraftBridge.frame(in.sparkSession, PerQueryTopKNode(attr("query_id"),
      attr("corpus_id"), attr(score), desc, n, collapse, batch,
      AttributeReference("rank", IntegerType, nullable = false)(), plan))
  }

  /** The child columns a cut keeps: all of them, the score made
    * nullable under `collapse` (an aggregate's output). */
  private[ops] def kept(child: Seq[Attribute], score: Attribute,
                        collapse: Boolean): Seq[Attribute] =
    child.map(a => if (collapse && a.exprId == score.exprId) a.withNullability(true) else a)
}

/** The logical per-query top-n: output = child columns (+ `rank`). */
case class PerQueryTopKNode(query: Attribute, corpus: Attribute, score: Attribute,
                            desc: Boolean, n: Int, collapse: Boolean,
                            batch: Option[Int], rank: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] =
    PerQueryTopK.kept(child.output, score, collapse) :+ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override protected def withNewChildInternal(c: LogicalPlan): PerQueryTopKNode =
    copy(child = c)
}

/** Plans [[PerQueryTopKNode]]: the merge runs in `batch` reducers
  * (capped at `spark.sql.shuffle.partitions`) when the driver knows
  * the batch, else in `spark.sql.shuffle.partitions`. */
object PerQueryTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: PerQueryTopKNode =>
      val parts = SQLConf.get.numShufflePartitions
      PerQueryTopKExec(t.query, t.corpus, t.score, t.desc, t.n, t.collapse,
        t.batch.fold(parts)(b => math.max(1, math.min(b, parts))), t.rank,
        planLater(t.child)) :: Nil
    case _ => Nil
  }
}

/** The physical per-query top-n: partial top-n per scan partition,
  * one query-keyed row shuffle, one merge per reducer. */
case class PerQueryTopKExec(query: Attribute, corpus: Attribute, score: Attribute,
                            desc: Boolean, n: Int, collapse: Boolean,
                            reducers: Int, rank: Attribute, child: SparkPlan)
    extends UnaryExecNode {

  private lazy val shuffleMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext) ++
      SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)

  override lazy val metrics = shuffleMetrics ++ Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "candidates ranked"),
    "shipped" -> SQLMetrics.createMetric(sparkContext, "partial top-n rows shuffled"))

  override def output: Seq[Attribute] =
    PerQueryTopK.kept(child.output, score, collapse) :+ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)

  /** The merge's placement: one reducer is `SinglePartition`; more
    * hash the query key exactly as an `Exchange hashpartitioning`. */
  override def outputPartitioning: Partitioning =
    if (reducers == 1) SinglePartition else HashPartitioning(Seq(query), reducers)

  protected override def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val (q, c, s, d, top, col, r) = (query, corpus, score, desc, n, collapse, rank)
    val candidates = longMetric("candidates")
    val shipped = longMetric("shipped")
    val numOut = longMetric("numOutputRows")
    val partial = child.execute().mapPartitions { rows =>
      val buf = new TopNBuffer(in, q, c, s, d, top, col)
      val unsafe = UnsafeProjection.create(in, in)
      rows.foreach { row => candidates += 1; buf.add(unsafe(row)) }
      buf.partial.map { row => shipped += 1; row: InternalRow }
    }
    GraftBridge.exchange(partial, in, outputPartitioning, shuffleMetrics)
      .mapPartitions { rows =>
        val buf = new TopNBuffer(in, q, c, s, d, top, col)
        rows.foreach(row => buf.add(row.asInstanceOf[UnsafeRow]))
        val proj = UnsafeProjection.create(in :+ r, in :+ r)
        val slot = new SpecificInternalRow(Seq(IntegerType))
        val joined = new JoinedRow
        buf.ranked.map { case (row, i) =>
          numOut += 1
          slot.setInt(0, i)
          proj(joined(row, slot))
        }
      }
  }

  override protected def withNewChildInternal(c: SparkPlan): PerQueryTopKExec =
    copy(child = c)
}

/** One task's candidates per query: a bounded heap of the best `n`
  * rows (plain cut), or the best copy per (query, id) (`collapse`).
  * Rows are copied as they are kept. */
private final class TopNBuffer(in: Seq[Attribute], query: Attribute, corpus: Attribute,
                               score: Attribute, desc: Boolean, n: Int,
                               collapse: Boolean) {
  private def ordering(keys: SortOrder*): Ordering[UnsafeRow] = {
    val o = new LazilyGeneratedOrdering(keys, in)
    (a, b) => o.compare(a, b)
  }
  private val byRank = ordering(SortOrder(score, if (desc) Descending else Ascending),
    SortOrder(corpus, Ascending))
  private val byScore = ordering(SortOrder(score, Ascending))
  private val scoreAt = in.indexWhere(_.exprId == score.exprId)
  private val queryKey = UnsafeProjection.create(Seq(query), in)
  private val pairKey = UnsafeProjection.create(Seq(query, corpus), in)
  // plain cut: per query, a heap whose head is the worst kept row
  private val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
  // collapse: per (query, id), the best copy seen
  private val best = mutable.HashMap.empty[UnsafeRow, UnsafeRow]

  def add(r: UnsafeRow): Unit =
    if (collapse) {
      val k = pairKey(r)
      best.get(k) match {
        case None => best.put(k.copy(), r.copy())
        case Some(cur) if better(r, cur) => best.put(k.copy(), r.copy())
        case _ =>
      }
    } else {
      val h = heaps.getOrElseUpdate(queryKey(r).copy(), mutable.PriorityQueue.empty(byRank))
      if (h.size < n) h.enqueue(r.copy())
      else if (n > 0 && byRank.compare(r, h.head) < 0) { h.dequeue(); h.enqueue(r.copy()) }
    }

  /** SQL `max`/`min` over the score: nulls ignored, the first of equal
    * values kept. */
  private def better(r: UnsafeRow, cur: UnsafeRow): Boolean =
    if (r.isNullAt(scoreAt)) false
    else if (cur.isNullAt(scoreAt)) true
    else { val cmp = byScore.compare(r, cur); if (desc) cmp > 0 else cmp < 0 }

  private def groups: Iterator[Seq[UnsafeRow]] =
    if (collapse) best.values.groupBy(queryKey(_).copy()).valuesIterator.map(_.toSeq)
    else heaps.valuesIterator.map(_.toSeq)

  /** What a scan partition ships: each query's best `n` rows. Under
    * `collapse`, its best `n` ids with a non-null score plus every id
    * whose copies here are all null — a non-null copy elsewhere may
    * still lift such an id. One case cannot be cut at all: an
    * ascending cut of a nullable score ranks a null best FIRST, so an
    * id cut here (non-null, ranked out) must still reach the merge in
    * case another partition saw it only as null; every collapsed
    * (query, id) ships, as a partial aggregate would. */
  def partial: Iterator[UnsafeRow] =
    if (!collapse) heaps.valuesIterator.flatMap(_.iterator)
    else if (!desc && score.nullable) best.valuesIterator
    else groups.flatMap { g =>
      val (nulls, scored) = g.partition(_.isNullAt(scoreAt))
      nulls ++ scored.sorted(byRank).take(n)
    }

  /** The merged answer: per query, the best `n` rows with ranks 1..n. */
  def ranked: Iterator[(UnsafeRow, Int)] =
    groups.flatMap(g => g.sorted(byRank).take(n).zipWithIndex.map { case (r, i) => (r, i + 1) })
}
