package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The shared cell-store pieces: marker round trip, the registry, the
  * bounded query-batch collect of the driver-side probe, the footer
  * read schema, and the [[PerQueryTopK]] cut against the window cut it
  * replaced. */
class CellStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("marker JSON round-trips byte-for-byte in declaration order") {
    val txt = """{"dim":64,"prefixDim":16,"eff":4,"seed":42,""" +
      """"idCol":"vec_id","vecCol":"embedding"}"""
    val m = CellMarker.parse(txt)
    assert(m.json === txt)
    assert((m.dim, m.int("prefixDim"), m.eff, m.seed, m.idCol, m.vecCol) ===
      ((64, 16, 4, 42L, "vec_id", "embedding")))
  }

  test("the registry resolves each codec by its marker and refuses an " +
      "unknown path by name") {
    val emb = Tables.embeddings(spark, TestSpark.sf).filter(col("vec_id") < 100)
    val root = java.nio.file.Files.createTempDirectory("cellstore_reg_").toString
    IvfIndex.build(emb, s"$root/ivf", dim = 64, nlist = 4)
    Sq8Index.build(emb, s"$root/sq8", dim = 64, nlist = 4)
    assert(CellStore(spark, s"$root/ivf") eq IvfIndex)
    assert(CellStore(spark, s"$root/sq8") eq Sq8Index)
    val e = intercept[IllegalArgumentException](CellStore(spark, s"$root/none"))
    assert(e.getMessage.contains(s"$root/none"))
  }

  test("a query batch over the probe's row cap fails naming the cap and " +
      "the batch size") {
    import spark.implicits._
    val n = CellStore.MaxQueryBatch + 1
    val batch = spark.range(n).select(col("id").as("query_id"))
    val e = intercept[IllegalArgumentException](CellStore.collectBatch(batch))
    assert(e.getMessage.contains(s"${CellStore.MaxQueryBatch}") &&
      e.getMessage.contains(s"$n rows"), e.getMessage)
    assert(CellStore.collectBatch(Seq(1L, 2L).toDF("query_id")).length === 2)
    // the token store's per-query-token probe collects through the same cap
    val toks = java.nio.file.Files.createTempDirectory("cellstore_tokcap_").toString
    LateInteraction.buildTokenStore(Seq((1L, 0, Seq(1.0, 0.0)), (2L, 0, Seq(0.0, 1.0)))
      .toDF("doc_id", "tpos", "tvec"), toks, dim = 2, nlist = 2, buckets = 2)
    val tokBatch = spark.range(n).select(col("id").as("query_id"), lit(0).as("qpos"),
      array(lit(1.0), lit(0.0)).as("qvec"))
    val te = intercept[IllegalArgumentException](
      LateInteraction.tokenCandidates(spark, toks, tokBatch, tokenK = 1, nprobe = 1))
    assert(te.getMessage.contains(s"${CellStore.MaxQueryBatch}") &&
      te.getMessage.contains(s"$n rows"), te.getMessage)
  }

  test("a subdir read under its footer schema has the inferred schema") {
    val emb = Tables.embeddings(spark, TestSpark.sf).filter(col("vec_id") < 100)
    val out = java.nio.file.Files.createTempDirectory("cellstore_schema_").toString
    MrlIndex.build(emb, out, dim = 64, prefixDim = 16, nlist = 4)
    val v = MrlIndex.live(spark, out)
    Seq("cells", "vectors").foreach { sub =>
      assert(v.frame(sub, 0 until 4).schema === spark.read.parquet(s"$out/$sub").schema, sub)
    }
  }

  /** THE REFERENCE: the groupBy + `row_number` window cut the cell
    * stores ran before [[PerQueryTopK]] — kept here only. */
  private def windowCut(scored: DataFrame, score: String, desc: Boolean, n: Int,
                        collapse: Boolean): DataFrame = {
    val s = if (!collapse) scored
      else scored.groupBy(col("query_id"), col("corpus_id"))
        .agg((if (desc) max(col(score)) else min(col(score))).as(score))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(if (desc) col(score).desc else col(score).asc, col("corpus_id").asc)
    s.withColumn("rank", row_number().over(w)).filter(col("rank") <= n)
  }

  /** One generated cut: rows (query, corpus, score) spread over
    * `slices` scan partitions (more slices than rows leaves some
    * empty), the cut's parameters, whether ids are strings, and the
    * score column's type — double, or the integer and long scores of
    * `hamming` and `maxsim_milli`. */
  private case class Cut(rows: Seq[(Int, Int, Option[Double])], slices: Int, n: Int,
                         desc: Boolean, collapse: Boolean, batchKnown: Boolean,
                         stringIds: Boolean, scoreType: DataType)

  // few distinct values: ties, duplicate ids, NaN, ±0.0 and nulls are common
  private val genScore: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.oneOf(-1.0, -0.25, 0.5, 1.0, 2.0).map(Some(_)),
    1 -> Gen.const(Some(Double.NaN)), 1 -> Gen.const(Some(0.0)),
    1 -> Gen.const(Some(-0.0)), 1 -> Gen.const(None))
  private val genCut: Gen[Cut] = for {
    queries <- Gen.frequency(2 -> Gen.const(1), 3 -> Gen.choose(2, 5))
    size <- Gen.choose(0, 40)
    rows <- Gen.listOfN(size, for {
      q <- Gen.choose(0, queries - 1); c <- Gen.choose(0, 9); s <- genScore
    } yield (q, c, s))
    slices <- Gen.choose(1, 6)
    n <- Gen.choose(1, 12)
    desc <- Gen.oneOf(true, false)
    collapse <- Gen.oneOf(true, false)
    batchKnown <- Gen.oneOf(true, false)
    stringIds <- Gen.oneOf(true, false)
    scoreType <- Gen.frequency(2 -> Gen.const(DoubleType), 1 -> Gen.const(IntegerType),
      1 -> Gen.const(LongType))
  } yield Cut(rows, slices, n, desc, collapse, batchKnown, stringIds, scoreType)

  /** Rows as comparable strings: ±0.0 read as one value (SQL `max`
    * keeps whichever equal copy it meets first, and tied rows rank in
    * scan order). */
  private def canon(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double if d == 0.0 => "0.0"
    case x => String.valueOf(x)
  }.mkString("|")).sorted

  test("PerQueryTopK returns the rows of the window cut it replaced " +
      "(fixed-seed property: order, collapse, ties, NaN, ±0.0, nulls, " +
      "empty partitions, n past the candidates, long and string ids)") {
    val t0 = System.nanoTime()
    val prop = Prop.forAll(genCut) { c =>
      val idType = if (c.stringIds) StringType else LongType
      def id(i: Int): Any = if (c.stringIds) s"id$i" else i.toLong
      // integral scores keep the ties: x·4 rounded, NaN a value of its own
      def value(x: Double): Any = c.scoreType match {
        case DoubleType => x
        case t =>
          val i = if (x.isNaN) 3L else math.round(x * 4)
          if (t == IntegerType) i.toInt else i
      }
      val schema = StructType(Seq(StructField("query_id", idType),
        StructField("corpus_id", idType),
        // a score column without nulls is declared non-nullable, as the
        // stores' own score expressions may be
        StructField("score", c.scoreType, nullable = c.rows.exists(_._3.isEmpty)),
        StructField("tag", StringType)))
      val rows = c.rows.map { case (q, k, s) =>
        val v = s.map(value)
        Row(id(q), id(k), v.orNull, s"$k:${v.map { case d: Double if d == 0.0 => 0.0; case x => x }}")
      }
      val scored = spark.createDataFrame(spark.sparkContext.parallelize(rows, c.slices), schema)
      val batch = if (c.batchKnown) Some(c.rows.map(_._1).distinct.size) else None
      val got = PerQueryTopK(scored, "score", c.desc, c.n, c.collapse, batch)
      val want = windowCut(scored, "score", c.desc, c.n, c.collapse)
      got.schema == want.schema && canon(got) == canon(want)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(80)
      .withInitialSeed(Seed(20261017L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    info(f"80 cuts in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
