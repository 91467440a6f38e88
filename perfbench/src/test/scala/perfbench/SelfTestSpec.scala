package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests. Run from perfbench/: `sbt test`. */
class SelfTestSpec extends AnyFunSuite {

  private def tmpDir(): java.io.File = {
    val target = java.nio.file.Paths.get("target")
    java.nio.file.Files.createDirectories(target)
    java.nio.file.Files.createTempDirectory(target, "selftest").toFile
  }

  private def sha256(files: Seq[java.io.File]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    md.digest().map(b => f"$b%02x").mkString
  }

  test("generator: the same seed gives byte-identical Avro files, another seed differs") {
    def gen(seed: Long) = {
      val c = Gen.tweets(seed, 3000, 0.05, 500)
      sha256(Gen.writeAvro(c, tmpDir(), 3, seed))
    }
    assert(gen(7) === gen(7))
    assert(gen(7) !== gen(8))
  }

  test("generator: planted collisions are later and win") {
    val c = Gen.tweets(3, 2000, 0.05, 300)
    assert(c.raw.size === 2100)
    assert(c.raw.map(_.id).distinct.size === 2000)
    c.victims.take(20).foreach { id =>
      val versions = c.raw.filter(_.id == id).sortBy(_.createdAt)
      assert(versions.size === 2)
      assert(c.winners(id) === versions.last.user)
    }
  }

  test("generator: request streams and probe vectors repeat per seed") {
    def serve(seed: Long) = {
      val c = Gen.serveCorpus(seed, 2000, 400, 8)
      Gen.serveRequests(seed, c, 8, 2).flatten.map {
        case Gen.Knn(id, t, v) => s"$id $t ${v.mkString(",")}"
        case Gen.Hybrid(id, t, v) => s"$id $t ${v.mkString(",")}"
        case other => other.toString
      }
    }
    assert(serve(5) === serve(5))
    assert(serve(5) !== serve(6))
    assert(serve(5).size === 2 * Gen.ServeMix.map(_._2).sum)
    def probe(seed: Long) = Gen.probeVectors(seed, 8, 5).map(_.toSeq)
    assert(probe(5) === probe(5))
    assert(probe(5) !== probe(6))
  }

  test("percentiles: nearest rank, and the tail percentile needs ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) === 50.0)
    assert(Stats.percentile(xs, 0.9) === 90.0)
    assert(Stats.percentile(Seq(3.0), 0.9) === 3.0)
    assert(Stats.tailPercentile(9) === None)
    assert(Stats.tailPercentile(20) === Some(0.5))
    assert(Stats.tailPercentile(99) === Some(0.75))
    assert(Stats.tailPercentile(100) === Some(0.9))
    assert(Stats.tailPercentile(199) === Some(0.9))
    assert(Stats.tailPercentile(200) === Some(0.95))
    assert(Stats.tailPercentile(1000) === Some(0.99))
  }

  test("metric names and units follow the syntax and match BENCHMARK.json") {
    assert(Stats.validName("serve.knn_ivf_p50_ms"))
    assert(Stats.validName("setup_s"))
    assert(!Stats.validName("bad name"))
    assert(!Stats.validName(".leading_dot"))
    assert(!Stats.validName("x" * 65))
    assert(!Stats.validName("p90/ms"))
    val all = Metrics.EndToEnd ++ Metrics.PerLayer
    all.foreach { case (n, u) =>
      assert(Stats.validName(n), n)
      assert(Stats.validUnit(u), u)
    }
    assert(all.map(_._1).distinct.size === all.size)

    import org.json4s._
    val spec = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    def metrics(key: String) = (spec \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }
    assert(metrics("end_to_end") === Metrics.EndToEnd)
    assert(metrics("per_layer") === Metrics.PerLayer)
    assert((spec \ "workloads").children.map(w => (w \ "name").values) === Workload.Names)
  }

  test("failure counting: throws and wrong answers fail, right answers pass") {
    val ops = new Ops
    ops.run("ok")(1 + 1)(v => if (v == 2) None else Some("wrong"))
    ops.run("wrong")(1 + 1)(v => if (v == 3) None else Some(s"got $v"))
    ops.run("throws")(sys.error("boom"))(_ => None)
    ops.check("check passes")(None)
    assert(ops.attempted === 4)
    assert(ops.failed === 2)
    assert(!ops.correct)
    assert(ops.failures.exists(_.startsWith("wrong: got 2")))
    val line = Stats.resultLine(ops, Seq(Stats.Metric("setup_s", 1.25, "s")))
    assert(line === """{"correct":false,"attempted":4,"failed":2,"metrics":{"setup_s":{"value":1.25,"unit":"s"}}}""")
    assert(new Ops().correct === false) // nothing attempted is not a pass
    intercept[IllegalArgumentException](
      Stats.resultLine(ops, Seq(Stats.Metric("bad name", 1, "s"))))
  }

  test("routing: murmur3 matches published vectors and Solr's two-shard split") {
    def m(s: String) = Routing.murmur3(s.getBytes("UTF-8"))
    assert(m("") === 0)
    assert(m("hello") === 613153351)
    assert(m("The quick brown fox jumps over the lazy dog") === 776992547)
    assert(Routing.rangeStarts(2) === IndexedSeq(Int.MinValue, 0))
    assert(Routing.rangeStarts(4).size === 4)
  }

  test("self time: union of child intervals") {
    assert(Trace.coveredUs(0, 100, Seq((10, 20), (15, 30), (50, 60))) === 30)
    assert(Trace.coveredUs(0, 100, Seq((-10, 5), (95, 200))) === 10)
    assert(Trace.coveredUs(0, 100, Nil) === 0)
  }
}
