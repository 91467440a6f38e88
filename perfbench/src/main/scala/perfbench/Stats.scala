package perfbench

import java.util.concurrent.atomic.AtomicLong

/** Percentiles, metric naming and the result line. */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 1]) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p out of (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  val StandardPercentiles: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)

  /** The highest standard percentile with at least ten samples beyond
    * it, if any: a tail figure resting on fewer is noise. */
  def tailPercentile(n: Int): Option[Double] =
    StandardPercentiles.filter(p => n * (1 - p) >= 10 - 1e-9).lastOption

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitRe = "[A-Za-z0-9_/%.-]{1,16}".r

  def validName(n: String): Boolean = NameRe.matches(n)
  def validUnit(u: String): Boolean = UnitRe.matches(u)

  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    str(k) + ":" + (v match {
      case s: String => str(s)
      case d: Double => num(d)
      case f: Float => num(f.toDouble)
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case m: Map[_, _] =>
        json(m.toSeq.map { case (a, b) => a.toString -> b }.sortBy(_._1))
      case raw: Raw => raw.text
      case other => str(String.valueOf(other))
    })
  }.mkString("{", ",", "}")

  /** Pre-rendered JSON, embedded verbatim. */
  final case class Raw(text: String)

  /** The result line: `correct`, `attempted`, `failed`, `metrics`. */
  def resultLine(ops: Ops, metrics: Seq[Metric]): String = {
    metrics.foreach { m =>
      require(validName(m.name), s"bad metric name '${m.name}'")
      require(validUnit(m.unit), s"bad unit '${m.unit}' for ${m.name}")
    }
    require(metrics.map(_.name).distinct.size == metrics.size, "duplicate metric names")
    val ms = metrics.map(m => m.name -> Raw(json(Seq("value" -> m.value, "unit" -> m.unit))))
    json(Seq("correct" -> ops.correct, "attempted" -> ops.attempted,
      "failed" -> ops.failed, "metrics" -> Raw(json(ms))))
  }
}

/**
 * Operation accounting. Every operation the benchmark issues counts as
 * attempted; it counts as failed when it throws or when its output
 * disagrees with the benchmark's own expectation. The first few
 * failures are kept for the log.
 */
final class Ops {
  private val nAttempted = new AtomicLong
  private val nFailed = new AtomicLong
  private val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def attempted: Long = nAttempted.get
  def failed: Long = nFailed.get
  def correct: Boolean = failed == 0 && attempted > 0
  def failures: Seq[String] = { import scala.jdk.CollectionConverters._; notes.asScala.toSeq }

  private def fail(what: String, why: String): Unit = {
    nFailed.incrementAndGet()
    if (notes.size < 20) notes.add(s"$what: $why")
  }

  /** Run one operation and check its result; `check` returns an error
    * description or None. Returns the result when the operation ran. */
  def run[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    nAttempted.incrementAndGet()
    val out = try Right(body) catch { case e: Exception => Left(e) }
    out match {
      case Left(e) =>
        fail(what, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      case Right(v) =>
        val verdict = try check(v) catch { case e: Exception => Some(s"check threw $e") }
        verdict.foreach(fail(what, _))
        Some(v)
    }
  }

  /** A standalone correctness check, counted as one operation. */
  def check(what: String)(verdict: => Option[String]): Unit =
    run(what)(())(_ => verdict)
}
