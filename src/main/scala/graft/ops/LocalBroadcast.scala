package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/**
 * JOB-FREE BROADCAST of rows the driver already holds. A broadcast
 * exchange collects its child through `executeCollectIterator`, which
 * `LocalTableScanExec` does not override — so broadcasting a
 * LocalRelation (a probed query batch, ADC tables, collected
 * candidates) runs a Spark job just to hand the driver its own rows.
 * This AQE query-stage preparation rule swaps the local scan under a
 * `BroadcastExchangeExec` for [[DriverLocalScanExec]], which answers
 * the collect from its rows directly. Node names are unchanged.
 */
object LocalBroadcast extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case b @ BroadcastExchangeExec(_, l: LocalTableScanExec)
        if l.stream.isEmpty && !l.isInstanceOf[DriverLocalScanExec] =>
      val scan = new DriverLocalScanExec(l.output, l.rows, l.stream)
      l.logicalLink.foreach(scan.setLogicalLink) // AQE links stages through it
      b.withNewChildren(Seq(scan))
  }
}

/** A `LocalTableScanExec` whose `executeCollectIterator` returns its
  * (unsafe) rows on the driver instead of running a job. */
class DriverLocalScanExec(output: Seq[Attribute], rows: Seq[InternalRow],
                          stream: Option[SparkDataStream])
    extends LocalTableScanExec(output, rows, stream) {
  override def nodeName: String = "LocalTableScan"
  // never equal to the LocalTableScanExec it replaces (either way
  // round), so tree transforms keep the swap
  override def canEqual(that: Any): Boolean = that.isInstanceOf[DriverLocalScanExec]
  override def equals(that: Any): Boolean =
    that.isInstanceOf[DriverLocalScanExec] && super.equals(that)
  override def hashCode(): Int = super.hashCode()
  override def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
    val rs = executeCollect()
    (rs.length.toLong, rs.iterator)
  }
}
