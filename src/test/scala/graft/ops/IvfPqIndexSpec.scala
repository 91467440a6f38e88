package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted IVF-PQ: build/load split over the batch ivfPqTopK —
  * frozen coarse + sub-codebook quantizers, cell-partitioned CODE
  * store (no raw vectors), probe-only reads, ADC scoring. */
class IvfPqIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  private lazy val idx: String = {
    val out = java.nio.file.Files.createTempDirectory("ivfpq_idx_").toString
    IvfPqIndex.build(emb, out, dim = 64)
    out
  }

  test("persisted query matches the batch operator exactly") {
    val queries = emb.filter(col("vec_id") < 10)
    val batch = Similarity.ivfPqTopK(emb, queries, k = 5, dim = 64, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val persisted = IvfPqIndex.query(spark, idx, queries, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(persisted === batch)
  }

  test("the store holds codes, not vectors (the compression contract)") {
    val cells = spark.read.parquet(s"$idx/cells")
    assert(cells.columns.toSet === Set("corpus_id", "codes", "cell"))
    val row = cells.limit(1).collect().head
    assert(row.getSeq[Int](row.fieldIndex("codes")).length === 8) // m codes
  }

  test("query scan reads only the probed cell partitions (pruning on the plan)") {
    val queries = emb.filter(col("vec_id") === 3)
    val df = IvfPqIndex.query(spark, idx, queries, k = 5, nprobe = 2)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val cellScans = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("cells")))
    assert(cellScans.nonEmpty, "no cells/ file scan in the plan")
    val s = cellScans.head
    assert(s.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"cell must be a partition filter, got ${s.partitionFilters}")
    assert(s.selectedPartitions.partitionCount <= 2,
      s"nprobe=2 must select <=2 cell partitions, got ${s.selectedPartitions.partitionCount}")
  }

  test("two-stage refine matches the batch operator; the re-rank fetch " +
      "is id-pushed (In on the corpus scan, plan-locked)") {
    val queries = emb.filter(col("vec_id") < 10)
    val batch = Similarity.ivfPqRefineTopK(emb, queries, k = 5, dim = 64,
        kCandidates = 20, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val got = IvfPqIndex.queryRefined(spark, idx, emb, queries, k = 5,
        kCandidates = 20, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(got === batch)
    // fresh frame for the plan lock: post-collect, AQE wraps subtrees
    // in QueryStageExec nodes that hide the file scans
    val served = IvfPqIndex.queryRefined(spark, idx, emb, queries, k = 5,
      kCandidates = 20, nprobe = 8)
    // PLAN LOCK: the raw-vector fetch carries the candidate ids as a
    // pushed In — at corpus scale the scan reads only the row groups
    // holding candidates, never the full vector column
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val corpusScans = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("embeddings")))
    assert(corpusScans.nonEmpty, "no raw-corpus file scan in the refine plan")
    val s = corpusScans.head
    assert(s.metadata.get("PushedFilters").exists(_.contains("In(vec_id")),
      s"candidate ids must push into the corpus scan, metadata: ${s.metadata.get("PushedFilters")}")
    assert(s.dataFilters.exists(_.references.exists(_.name == "vec_id")),
      s"vec_id data filter missing: ${s.dataFilters}")
  }

  test("refineStore sidecar: stored two-stage serving matches the " +
      "corpus-frame path bit-for-bit; the fetch partition-prunes to " +
      "probed cells; purge reclaims raw vectors too") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("ivfpq_refstore_").toString
    IvfPqIndex.build(emb, out, dim = 64, refineStore = true)
    val queries = emb.filter(col("vec_id") < 10)
    val viaCorpus = IvfPqIndex.queryRefined(spark, out, emb, queries, k = 5,
        kCandidates = 20, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val viaStore = IvfPqIndex.queryRefinedStored(spark, out, queries, k = 5,
        kCandidates = 20, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(viaStore === viaCorpus)
    // plan lock: the sidecar fetch is cell-partition-pruned AND id-pushed
    val planDf = IvfPqIndex.queryRefinedStored(spark, out,
      emb.filter(col("vec_id") === 3), k = 5, kCandidates = 10, nprobe = 2)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val vecScans = scans(planDf.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("vectors")))
    assert(vecScans.nonEmpty, "no vectors/ sidecar scan in the plan")
    val s = vecScans.head
    assert(s.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"cell must partition-prune the sidecar fetch, got ${s.partitionFilters}")
    assert(s.selectedPartitions.partitionCount <= 2,
      s"nprobe=2 must select <=2 sidecar partitions, got ${s.selectedPartitions.partitionCount}")
    assert(s.metadata.get("PushedFilters").exists(_.contains("In(corpus_id")),
      s"candidate ids must push into the sidecar scan: ${s.metadata.get("PushedFilters")}")
    // streamed add maintains the sidecar under the same batch marker;
    // a replay is a no-op for BOTH dirs
    val adds = emb.filter(col("vec_id") < 30)
      .select((col("vec_id") + 70000L).as("vec_id"), col("embedding"))
    assert(IvfPqIndex.addBatch(spark, out, adds, batchId = 9L) === true)
    assert(IvfPqIndex.addBatch(spark, out, adds, batchId = 9L) === false)
    val nCells = spark.read.parquet(s"$out/cells").count()
    val nVecs = spark.read.parquet(s"$out/vectors").count()
    assert(nCells === emb.count() + 30 && nVecs === nCells,
      s"sidecar out of lockstep: cells=$nCells vectors=$nVecs")
    // filtered two-stage serving (IDSelector over IndexRefineFlat):
    // the ADC stage restricts to the allowed set, the re-rank inherits
    // it; sidecar and corpus-frame paths agree under the filter
    val allowed = emb.filter(col("label").isin(1, 2, 3)).select("vec_id")
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    val fStore = IvfPqIndex.queryRefinedStored(spark, out, queries, k = 5,
        kCandidates = 20, nprobe = 8, allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(fStore.nonEmpty)
    assert(fStore.forall(t => allowedSet.contains(t._3)),
      "a disallowed id surfaced from filtered refine")
    val fCorpus = IvfPqIndex.queryRefined(spark, out, emb, queries, k = 5,
        kCandidates = 20, nprobe = 8, allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(fStore === fCorpus)

    // redaction: purge must physically reclaim the raw vectors too
    val victims = Seq(1L, 2L, 70001L)
    IvfPqIndex.removeIds(spark, out, victims.toDF("vec_id"))
    IvfPqIndex.purgeDeletes(spark, out)
    assert(spark.read.parquet(s"$out/cells")
      .filter(col("corpus_id").isin(victims.map(Long.box): _*)).count() === 0)
    assert(spark.read.parquet(s"$out/vectors")
      .filter(col("corpus_id").isin(victims.map(Long.box): _*)).count() === 0,
      "purge left redacted raw vectors in the refine sidecar")
  }

  test("an over-cap refine batch leaves the In literal behind: " +
      "the id restriction becomes a plan-side broadcast join, answers " +
      "identical to the pushed path") {
    // synthetic 4k-row dim-8 corpus: integer-hash embeddings keep the
    // fixture deterministic and the candidate sets spread wide. r18:
    // was 12k rows × 1200 queries against the DEFAULT 4096 cap — this
    // test alone cost 31 s; the cap is a parameter compared against
    // the candidate count, so tripping an explicit 1500 cap with a
    // quarter of the data exercises the identical fork at a tenth of
    // the cost.
    val corpus = spark.range(4000).select(col("id").as("vec_id"),
      expr("transform(sequence(0,7), j -> " +
        "cast(pmod(hash(id*8+j), 1000) as double)/500.0 - 1.0)").as("embedding"))
    val out = java.nio.file.Files.createTempDirectory("ivfpq_bigbatch_").toString
    IvfPqIndex.build(corpus, out, dim = 8, nlist = 16, m = 4, ksub = 16,
      refineStore = true)
    val queries = corpus.filter(pmod(col("vec_id"), lit(20)) === 0) // 200
    // the offline batch's candidate mass: 200 queries x 20 candidates
    val nCand = IvfPqIndex.query(spark, out, queries, k = 20, nprobe = 8)
      .select("corpus_id").distinct().count()
    val cap = 1500
    assert(nCand > cap, s"fixture too weak: only $nCand distinct candidates")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    // an over-cap batch trips the fallback; the forced-push variant is
    // the old giant-In plan — both must answer identically
    val viaJoin = IvfPqIndex.queryRefinedStored(spark, out, queries,
      k = 3, kCandidates = 20, nprobe = 8, maxPushedIds = cap)
    val viaPush = IvfPqIndex.queryRefinedStored(spark, out, queries,
      k = 3, kCandidates = 20, nprobe = 8, maxPushedIds = Int.MaxValue)
    assert(rows(viaJoin) === rows(viaPush))
    // plan lock: under the fallback the sidecar scan carries NO
    // candidate-id In literal (the probed-cell partition filter stays)
    val planDf = IvfPqIndex.queryRefinedStored(spark, out, queries,
      k = 3, kCandidates = 20, nprobe = 8, maxPushedIds = cap)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val vecScans = scans(planDf.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("vectors")))
    assert(vecScans.nonEmpty, "no vectors/ sidecar scan in the plan")
    val s = vecScans.head
    assert(s.partitionFilters.exists(_.references.exists(_.name == "cell")),
      "probed-cell pruning must survive the fallback")
    assert(!s.metadata.get("PushedFilters").exists(_.contains("In(corpus_id")),
      s"giant In literal leaked into the scan: ${s.metadata.get("PushedFilters")}")
    // the corpus-frame path takes the same fork: semi-join, same answers
    val cJoin = IvfPqIndex.queryRefined(spark, out, corpus, queries,
      k = 3, kCandidates = 20, nprobe = 8, maxPushedIds = cap)
    val cPush = IvfPqIndex.queryRefined(spark, out, corpus, queries,
      k = 3, kCandidates = 20, nprobe = 8, maxPushedIds = Int.MaxValue)
    assert(rows(cJoin.select("query_id", "rank", "corpus_id")) ===
      rows(cPush.select("query_id", "rank", "corpus_id")))
  }

  test("recall@k responds to the tuning levers (the q306 metric's " +
      "purpose): wide probes + more candidates reach high recall") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "corpus_id")
    def recallSum(kCand: Int, nprobe: Int): Long =
      RankingEval.annRecallAtK(exact,
        IvfPqIndex.queryRefined(spark, idx, emb, queries, k = 5,
            kCandidates = kCand, nprobe = nprobe)
          .select("query_id", "corpus_id"), 5)
        .agg(org.apache.spark.sql.functions.sum("recall_milli"))
        .head.getLong(0)
    val defaults = recallSum(20, 8)   // the q306 operating point
    val wide = recallSum(100, 16)     // all cells probed, 5x candidates
    assert(wide >= defaults,
      s"widening the levers lost recall: $defaults -> $wide")
    // nprobe=16 probes every cell and kCandidates=100 of 500 corpus
    // rows go to exact re-rank: recall must be high (deterministic
    // pipeline, deterministic value)
    assert(wide >= 8000L, s"wide-setting recall too low: $wide / 10000")
  }

  test("incremental add encodes against frozen quantizers; old answers unchanged") {
    val out = java.nio.file.Files.createTempDirectory("ivfpq_add_").toString
    IvfPqIndex.build(emb.filter(col("vec_id") % 2 === 0), out, dim = 64)
    val queries = emb.filter(col("vec_id") === 0)
    val before = IvfPqIndex.query(spark, out, queries, k = 3, nprobe = 8)
      .filter(col("corpus_id") % 2 === 0) // hits among the original half
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    IvfPqIndex.add(spark, out, emb.filter(col("vec_id") % 2 === 1))
    val total = spark.read.parquet(s"$out/cells").count()
    assert(total === emb.count())
    // original-half hits can only be displaced by NEW ids, never
    // reordered among themselves (codes and tables are frozen)
    val after = IvfPqIndex.query(spark, out, queries, k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(after.length === 3)
    val afterEven = after.filter(_._2 % 2 == 0).map(_._2).toSet
    assert(afterEven.subsetOf(before.map(_._2)))
  }

  test("IVF-PQ retrain re-encodes codes + sidecar into a new generation " +
      "from the live sidecar corpus; answers match a fresh build; a " +
      "code-only store refuses (codes are lossy)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("ivfpq_retrain_").toString
    IvfPqIndex.build(emb.filter(col("vec_id") < 300), out, dim = 64,
      refineStore = true)
    IvfPqIndex.add(spark, out, emb.filter(col("vec_id") >= 300))
    val victims = Seq(3L, 333L)
    IvfPqIndex.removeIds(spark, out, victims.toDF("vec_id"))
    val gen = IvfPqIndex.retrain(spark, out)
    assert(gen === 1)
    val live = emb.filter(!col("vec_id").isin(victims.map(Long.box): _*))
    val fresh = java.nio.file.Files.createTempDirectory("ivfpq_freshg_").toString
    IvfPqIndex.build(live, fresh, dim = 64, refineStore = true)
    val queries = emb.filter(col("vec_id") < 10)
    def adc(o: String) = IvfPqIndex.query(spark, o, queries, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    def refined(o: String) = IvfPqIndex.queryRefinedStored(spark, o, queries,
        k = 5, kCandidates = 20, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(adc(out) === adc(fresh))
    assert(refined(out) === refined(fresh))
    // sidecar re-encoded in lockstep in the new generation
    val nc = spark.read.parquet(s"$out/g1/cells").count()
    assert(nc === live.count())
    assert(spark.read.parquet(s"$out/g1/vectors").count() === nc)
    // a code-only store cannot retrain — codes are lossy
    val codeOnly = java.nio.file.Files.createTempDirectory("ivfpq_codeonly_").toString
    IvfPqIndex.build(emb.filter(col("vec_id") < 100), codeOnly, dim = 64)
    intercept[IllegalArgumentException] {
      IvfPqIndex.retrain(spark, codeOnly)
    }
    // reclaim serves the PQ tier through the shared layout: a second
    // retrain supersedes g1; reclaim drops it, answers unchanged
    assert(IvfPqIndex.retrain(spark, out) === 2)
    val g2Refined = refined(out)
    assert(IvfIndex.reclaimGenerations(spark, out, retain = 1) === 1)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/g1")))
    assert(refined(out) === g2Refined, "reclaim changed PQ resolution")
  }

  test("remove_ids: deleted ids never surface; purge reclaims the rows " +
      "and clears the tombstones without changing answers") {
    val out = java.nio.file.Files.createTempDirectory("ivfpq_del_").toString
    IvfPqIndex.build(emb, out, dim = 64)
    val queries = emb.filter(col("vec_id") < 10)
    val full = IvfPqIndex.query(spark, out, queries, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // delete the ids that actually WON (vec_id of every rank-1 hit) —
    // the strongest survivors-rerank check
    val victims = full.filter(_._2 == 1).map(_._3).distinct.toSeq
    import spark.implicits._
    IvfPqIndex.removeIds(spark, out, victims.toDF("vec_id"))
    val afterDel = IvfPqIndex.query(spark, out, queries, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(afterDel.forall(t => !victims.contains(t._3)),
      "a tombstoned id surfaced from query()")
    assert(afterDel.count(_._2 == 1) === full.count(_._2 == 1),
      "every query must still have a rank-1 hit (survivors re-rank)")
    // purge: rows physically gone, tombstone dir cleared, answers stable
    val purged = IvfPqIndex.purgeDeletes(spark, out)
    assert(purged >= 1)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/deletes")))
    val stored = spark.read.parquet(s"$out/cells")
      .filter(col("corpus_id").isin(victims.map(Long.box): _*)).count()
    assert(stored === 0, "purge left tombstoned rows in the code store")
    val afterPurge = IvfPqIndex.query(spark, out, queries, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(afterPurge.sortBy(t => (t._1, t._2)).toSeq ===
      afterDel.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("a PINNED generation reproduces its pre-mutation ADC answers " +
      "bit-for-bit through add + deferred purge + retrain + reclaim " +
      "(the PQ tier's pin on the shared store layout)") {
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.sf)
    val out = java.nio.file.Files.createTempDirectory("ivfpq_pin_").toString
    val base = emb.filter(col("vec_id") < 80)
    IvfPqIndex.build(base, out, dim = 64, refineStore = true)
    IvfPqIndex.retrain(spark, out) // gen 1 — a reclaimable, pinnable gen
    IvfPqIndex.removeIds(spark, out,
      base.filter(col("vec_id") === 7).select("vec_id"))
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    val want = rows(IvfPqIndex.query(spark, out, queries, k = 5, nprobe = 8))
    val pin = IvfPqIndex.pinGeneration(spark, out)
    assert(pin === 1)
    IvfPqIndex.add(spark, out,
      emb.filter(col("vec_id") >= 80 && col("vec_id") < 120))
    assert(IvfPqIndex.purgeDeletes(spark, out) === 0, "purge did not defer")
    IvfPqIndex.retrain(spark, out) // gen 2
    IvfPqIndex.retrain(spark, out) // gen 3
    IvfIndex.reclaimGenerations(spark, out, retain = 1)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/g1")),
      "reclaim deleted the pinned generation")
    assert(rows(IvfPqIndex.queryPinned(spark, out, pin, queries,
      k = 5, nprobe = 8)) === want, "pinned ADC answers drifted")
    IvfIndex.releaseGeneration(spark, out, pin)
    assert(IvfIndex.reclaimGenerations(spark, out, retain = 1) >= 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/g1")))
  }

  test("IVF-PQ retrain clears the tombstone-count cache with the " +
      "tombstones it folds in") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("ivfpq_tombcount_").toString
    IvfPqIndex.build(emb.filter(col("vec_id") < 200), out, dim = 64,
      refineStore = true)
    IvfPqIndex.removeIds(spark, out, Seq(3L, 7L).toDF("vec_id"))
    assert(AnnTombstones.cachedCount(spark, out) === Some(2L))
    assert(IvfPqIndex.retrain(spark, out) === 1)
    assert(AnnTombstones.cachedCount(spark, out) === None,
      "retrain left a stale _tombcount behind")
  }
}
