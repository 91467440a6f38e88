package graft.ops

import graft.util.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

/**
 * Similarity search over an embedding column (array<float>):
 * brute-force cosine top-k as the exact baseline, and an LSH
 * (random-hyperplane) bucketed variant as the 100 TB path.
 *
 * Scale notes:
 *  - queries are broadcast (small side) so the corpus never shuffles;
 *  - dot products are `aggregate(zip_with(...))` — codegen'd, no UDF;
 *  - norms are precomputed once per side, not per pair;
 *  - the LSH variant turns O(|Q|·|C|) into an equi-join on bucket
 *    signatures: each corpus vector is scored only against queries in
 *    its (or a neighboring, via multi-probe) bucket.
 */
object Similarity {

  /** Sequential-order dot product (fused custom expression — same
    * left-to-right fold as aggregate(zip_with), so deterministic fp
    * and oracle-compatible, without the per-pair zipped array). */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDotProduct.array_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Exact brute-force top-k: for each query vector, the k nearest
   * corpus vectors by cosine. Query side must be small — it is
   * broadcast; corpus-side work is a single scan.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms hoisted to one column per ROW (not per pair) — same
    // arithmetic tree as cosine(), so results stay bit-identical while
    // the per-pair work drops to a single dot product
    val c = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
    PerQueryTopK(scored, "cosine", desc = true, k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  /**
   * MATRYOSHKA (MRL) two-stage retrieval — Kusupati et al. 2022, the
   * truncatable-embedding recipe the current embedding APIs ship: an
   * MRL-trained embedding's PREFIX is itself a valid lower-dim
   * embedding, so stage 1 ranks by cosine over the first `prefixDim`
   * dims only (prefixDim/dim of the full scan's flops AND bytes when
   * the prefix is stored as its own column/store) and stage 2
   * re-ranks `rerank` candidates with the full-dim exact cosine —
   * the quantization ladder's lateral sibling: cut DIMENSIONS
   * instead of bits. Same two-stage shape as [[BinaryQuant]]: the
   * corpus-scale stage touches prefixes only, full vectors are
   * scored for ≤ |Q|·rerank candidate rows. Everything is column
   * expressions over slices of one arithmetic tree, so the WHOLE
   * pipeline replays in DuckDB (q335); ties break (cosine desc, id)
   * at both stages.
   */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     rerank: Int, prefixDim: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be positive, got $prefixDim")
    val c = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("cpre", slice(col("cvec"), 1, prefixDim))
      .withColumn("cnorm", norm(col("cvec")))
      .withColumn("cpnorm", norm(col("cpre")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qpre", slice(col("qvec"), 1, prefixDim))
      .withColumn("qnorm", norm(col("qvec")))
      .withColumn("qpnorm", norm(col("qpre")))
    // stage 1: prefix cosine only
    // zero-norm guard (the Sq8Index.unit discipline): a vector whose
    // first prefixDim dims are all zero would make the division NaN,
    // and Spark sorts NaN ABOVE every real double — zero-prefix rows
    // would seize candidate slots (and DuckDB's 0-division NULL would
    // diverge). Sentinel -2.0 ranks below any real cosine.
    val pre = c.crossJoin(broadcast(
        q.select("query_id", "qpre", "qpnorm")))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("pcos",
        when(col("qpnorm") === 0d || col("cpnorm") === 0d, lit(-2.0))
          .otherwise(dot(col("qpre"), col("cpre")) /
            (col("qpnorm") * col("cpnorm"))))
    val cand = PerQueryTopK(pre, "pcos", desc = true, rerank)
      .select("query_id", "corpus_id")
    // stage 2: full-dim exact cosine over candidates only
    val rer = cand
      .join(c.select("corpus_id", "cvec", "cnorm"), Seq("corpus_id"))
      .join(broadcast(q.select("query_id", "qvec", "qnorm")),
        Seq("query_id"))
      .withColumn("cosine",
        dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
    PerQueryTopK(rer, "cosine", desc = true, k)
      .select(col("query_id"), col("rank"), col("corpus_id"))
  }

  /**
   * Symmetric int8 quantization: scale = max|v|/127, q_i =
   * round(v_i/scale) — the 4× memory cut that makes billion-vector
   * corpora fit executor memory (dequantize: v ≈ q·scale). Pure
   * column expressions; an all-zero vector quantizes to zeros with
   * scale 0.
   */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x))) / lit(127.0)

  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale > 0, round(x / scale).cast("int")).otherwise(lit(0)))

  /** Mean squared reconstruction error of the quantization — the
    * per-vector quality diagnostic (sequential fold, oracle-stable). */
  def quantizationMse(vec: Column, quantized: Column, scale: Column): Column =
    aggregate(
      zip_with(vec, quantized, (v, q) => (v - q.cast("double") * scale) * (v - q.cast("double") * scale)),
      lit(0.0), (acc, x) => acc + x) / size(vec).cast("double")

  /**
   * Two-stage (coarse-to-fine) exact retrieval: shortlist by dot
   * product over the first `coarseDims` dimensions, then rerank the
   * shortlist by full-vector cosine — the standard truncated-vector /
   * matryoshka retrieval pattern: the coarse pass reads a quarter of
   * the bytes, the exact pass touches only `shortlist` rows per
   * query. Both ranks order by (round(score,6) desc, corpus_id) so
   * the cut is reproducible cross-engine.
   */
  def twoStageTopK(corpus: DataFrame, queries: DataFrame, coarseDims: Int,
                   shortlist: Int, k: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("chead", slice(col("cvec"), 1, coarseDims))
      .withColumn("cnorm", norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qhead", slice(col("qvec"), 1, coarseDims))
      .withColumn("qnorm", norm(col("qvec")))
    // coarse score uses the FULL-vector norms (already computed for
    // the rerank): truncated-dot-over-full-norm tracks the final
    // cosine much better than a raw head dot when norms vary
    val coarse = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("coarse_r",
        round(dot(col("qhead"), col("chead")) / (col("qnorm") * col("cnorm")), 6))
    val shortlisted = PerQueryTopK(coarse, "coarse_r", desc = true, shortlist)
      .drop("rank")
    val reranked = shortlisted
      .withColumn("cosine_r",
        round(dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")), 6))
    PerQueryTopK(reranked, "cosine_r", desc = true, k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine_r"))
  }

  /**
   * Random-hyperplane LSH signature: sign bits of dot(v, r_i) for
   * `numBits` fixed pseudo-random hyperplanes (deterministic seed).
   * Cosine-similar vectors agree on most bits, so bucketing on bands
   * of the signature finds neighbors without the cross join.
   *
   * Computed by the [[graft.functions.HyperplaneSignature]] expression:
   * the plane matrix rides as ONE codegen reference object instead of
   * `numBits × dim` inlined literals — at lshTopK's 16 tables × 6 bits
   * × 64 dims the literal form made janino compile ~6k-constant
   * methods, which dominated small-corpus wall time and blows past JIT
   * inlining limits at any scale.
   */
  def hyperplaneSignature(vec: Column, dim: Int, numBits: Int = 16,
                          seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    // row-major (bit-major) fill order — the same stream positions as
    // the historical per-plane generation, so signatures are unchanged
    val planes = Array.fill(numBits, dim)(rnd.nextGaussian())
    graft.functions.HyperplaneSignature.hyperplane_sig(
      vec.cast("array<double>"), planes.flatten.toIndexedSeq, numBits, dim)
  }

  /**
   * Embedding-cosine near-duplicate pairs. `exact=true` scores every
   * a<b pair — DuckDB-checkable, fine for corpora that fit a
   * broadcast; the 100 TB path is `lshTopK`-style bucketing first and
   * exact rescoring only inside buckets (`dropNearDuplicatesByEmbedding`
   * composes that).
   */
  def nearDupPairsExact(df: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).cast("array<double>").as("va"))
      .withColumn("na", norm(col("va")))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).cast("array<double>").as("vb"))
      .withColumn("nb", norm(col("vb")))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /**
   * Corpus-wide LSH candidate pairs via a SHUFFLE banded self-join —
   * the scale path for self-dedup. Unlike `lshTopK` (which broadcasts
   * the query side and would OOM the moment queries == the corpus),
   * nothing here is broadcast: signatures shuffle on their (table,
   * bucket) key, candidate id pairs are distinct'd, and the rescore is
   * two shuffle equi-joins back against the vector table. Every join
   * key is an equi-key, so the whole thing is sort-merge/hash
   * partitionable at any corpus size.
   */
  def lshSelfPairs(df: DataFrame, dim: Int,
                   tables: Int = 16, bits: Int = 6, seed: Long = 42L,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    lshSelfPairsWithSig(df, dim, tables, bits, seed, idCol, vecCol)._1

  /** [[lshSelfPairs]] plus the PERSISTED bucket frame backing it, so a
    * consumer that materializes the pairs can `unpersist` it instead
    * of leaking it ([[dropNearDuplicatesByEmbedding]] does). */
  private[graft] def lshSelfPairsWithSig(
      df: DataFrame, dim: Int,
      tables: Int = 16, bits: Int = 6, seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val v = df.select(col(idCol).as("__vid"),
        col(vecCol).cast("array<double>").as("__vec"))
      .withColumn("__nrm", norm(col("__vec")))
    def sigs(vec: Column): Column = array((0 until tables).map(t =>
      struct(lit(t).as("t"),
        hyperplaneSignature(vec, dim, bits, seed + t * 7919L).as("bucket"))): _*)
    // signatures are tiny ((table, bucket, id) longs); persist so the
    // self-join's two sides don't re-hash the corpus twice
    val sig = v.select(col("__vid"), explode(sigs(col("__vec"))).as("tb"))
      .select(col("tb.t").as("t"), col("tb.bucket").as("bucket"), col("__vid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = sig.as("a").join(sig.as("b"), Seq("t", "bucket"))
      .filter(col("a.__vid") < col("b.__vid"))
      .select(col("a.__vid").as("id_a"), col("b.__vid").as("id_b"))
      .distinct()
    val scored = pairs
      .join(v.select(col("__vid").as("id_a"), col("__vec").as("__va"),
        col("__nrm").as("__na")), Seq("id_a"))
      .join(v.select(col("__vid").as("id_b"), col("__vec").as("__vb"),
        col("__nrm").as("__nb")), Seq("id_b"))
      .withColumn("cosine", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .select(col("id_a"), col("id_b"), col("cosine"))
    (scored, sig)
  }

  /** Near-dup dedup by embedding: drop the larger id of every
    * LSH-candidate pair that rescores above the threshold. Built on
    * [[lshSelfPairs]] — no broadcast of the corpus, safe when the
    * input is the full 100 TB table, not a bounded query set. */
  def dropNearDuplicatesByEmbedding(df: DataFrame, threshold: Double, dim: Int,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding"): DataFrame = {
    val (scored, sig) = lshSelfPairsWithSig(df, dim, idCol = idCol, vecCol = vecCol)
    // localCheckpoint: materializes the (small) loser set so the bucket
    // cache can be released, and is itself GC-reclaimed with the
    // returned frame — a persist would leak per call
    val losers = scored
      .filter(col("cosine") >= threshold)
      .select(col("id_b").as("__loser")).distinct()
      .cutLineage(true)
    sig.unpersist()
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Deterministic axis-sign semantic bucket: bit j set iff dim j of
    * the vector is >= 0 (the first `bits` dims). A degenerate — but
    * seed-free and engine-reproducible — random-hyperplane code with
    * axis-aligned planes. */
  def signBucket(vec: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 62)
    // bits beyond the vector's length contribute 0: without the size
    // guard, Spark 4's default ANSI mode throws INVALID_ARRAY_INDEX on
    // any vector shorter than `bits` (and non-ANSI silently nulls the
    // comparison) — short vectors must bucket deterministically. The
    // element access sits inside a CaseWhen branch because And does
    // not guarantee short-circuit evaluation under codegen.
    (0 until bits).map { j =>
      val dim = when(lit(j) < size(vec), element_at(vec, j + 1))
        .otherwise(lit(-1.0))
      when(dim >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /**
   * SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
   * the embedding space and dropping near-identical members inside
   * each cluster. The published form clusters with k-means; this
   * engine variant buckets by [[signBucket]] (deterministic,
   * training-free, DuckDB-oracle-checkable — q145) and the production
   * path swaps in [[ivfTopK]]'s trained centroids for data-adaptive
   * cells (same downstream plan: an equi-join on the cell key).
   *
   * Within each bucket every ordered pair (a < b) with cosine >=
   * `threshold` marks b as a semantic duplicate of an earlier
   * representative — keep-lowest-id, the deterministic tie-break.
   * Returns one row per input vector: (idCol, cluster, is_dup,
   * max_prior_cos_r).
   *
   * Scale shape: ONE hash shuffle on the bucket key; the pairwise
   * rescore is O(cell²) — the SemDeDup cost model (cells are sized by
   * the bit width / nlist so cell² stays bounded; 2^bits buckets over
   * n rows gives n²/2^bits expected pair work, and a skewed bucket is
   * the signal to raise `bits`). Pairwise dot products are
   * row-deterministic (fixed dim order), so no cross-row float
   * accumulation exists anywhere — max() over pairs is
   * order-independent.
   */
  def semanticDedup(df: DataFrame, threshold: Double, bits: Int = 8,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val base = df.select(col(idCol).as("sem_id"),
        col(vecCol).cast("array<double>").as("sem_v"))
      .withColumn("sem_cluster", signBucket(col("sem_v"), bits))
    pruneWithinCells(base, threshold, idCol)
  }

  /** The shared within-cell keep-lowest-id prune: expects (sem_id,
    * sem_v, sem_cluster); one equi-join on the cell key, pairwise
    * cosine, max over qualifying priors. */
  private def pruneWithinCells(clustered: DataFrame, threshold: Double,
                               idCol: String): DataFrame = {
    val base = clustered.withColumn("sem_n", norm(col("sem_v")))
    val a = base.select(col("sem_cluster"), col("sem_id").as("id_a"),
      col("sem_v").as("va"), col("sem_n").as("na"))
    val b = base.select(col("sem_cluster"), col("sem_id").as("id_b"),
      col("sem_v").as("vb"), col("sem_n").as("nb"))
    val dups = a.join(b, Seq("sem_cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sem_cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sem_cos") >= threshold)
      .groupBy(col("id_b").as("sem_id"))
      .agg(max(col("sem_cos")).as("sem_max_cos"))
    base.join(dups, Seq("sem_id"), "left")
      .select(col("sem_id").as(idCol),
        col("sem_cluster").as("cluster"),
        col("sem_max_cos").isNotNull.as("is_dup"),
        round(col("sem_max_cos"), 6).as("max_prior_cos_r"))
  }

  /**
   * IVF (inverted-file) ANN: corpus coarse-quantized to `nlist`
   * k-means centroids (trained driver-side on a bounded sample, Lloyd
   * iterations, fixed seed); queries probe their `nprobe` nearest
   * cells and rescore exactly inside them. The other classical ANN
   * trade vs LSH: data-adaptive cells, recall ≈ probed mass.
   *
   * Scaling the defaults: nlist=16 suits the test corpus; the
   * classical sizing is nlist ≈ sqrt(corpus rows) (FAISS guidance —
   * 1e9 vectors → nlist ~ 32k) with `sampleSize` ≥ ~40×nlist so every
   * cell sees training mass, and nprobe/nlist ≈ the recall target.
   * Cell assignment stays one fused map pass at any nlist; only the
   * driver-side k-means grows (O(sampleSize × nlist × dim) per
   * iteration — still seconds at 32k×128 on one core).
   */
  /** Ordered-sample k-means training + the fused nearest-cell
    * expressions, shared by [[ivfTopK]] and [[semanticDedupIvf]].
    * Returns (effective cell count, distance-array fn, nearest-cell
    * fn): the EFFECTIVE count is however many centroids k-means could
    * actually produce — a corpus (or sample) smaller than `nlist`
    * trains fewer cells instead of violating the kernel's
    * centroid-matrix contract and crashing.
    *
    * Ordered take: a bare limit() samples whatever partitions answer
    * first, so centroids (and the whole index layout) would differ
    * across cluster layouts AND stage retries; min-id top-k costs one
    * TakeOrdered and makes the build reproducible. */
  private def trainCells(df: DataFrame, dim: Int, nlist: Int,
                         sampleSize: Int, seed: Long, idCol: String,
                         vecCol: String): (Int, Column => Column, Column => Column) = {
    val centroids = trainCentroids(df, nlist, sampleSize, seed, idCol, vecCol)
    val (dists, nearest) = cellFns(centroids, dim)
    (centroids.length, dists, nearest)
  }

  /** The ordered-sample k-means training alone — shared by the batch
    * operators above and the PERSISTED index ([[IvfIndex.build]]),
    * which trains once and serves many query calls. */
  private[ops] def trainCentroids(df: DataFrame, nlist: Int, sampleSize: Int,
                                  seed: Long, idCol: String,
                                  vecCol: String): Array[Array[Double]] = {
    val sample = df.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(sampleSize)
      .collect().map(r => (String.valueOf(r.get(0)), r.getSeq[Double](1).toArray))
    kmeans(sample, nlist, iters = 8, seed)
  }

  /** The fused nearest-cell kernels for a trained centroid matrix:
    * (distance-array fn, nearest-cell fn). One kernel per row — the
    * centroid matrix rides as a codegen reference object; vector norm
    * computed once, each centroid dot once. min(-cosine) = nearest. */
  private[ops] def cellFns(centroids: Array[Array[Double]],
                           dim: Int): (Column => Column, Column => Column) = {
    val eff = centroids.length
    val flat = centroids.flatten.toIndexedSeq
    def dists(vec: Column): Column =
      graft.functions.CentroidNegCosines.centroid_neg_cosines(vec, flat, eff, dim)
    def nearest(vec: Column): Column = {
      val arr = dists(vec)
      (array_position(arr, array_min(arr)) - 1).cast("int")
    }
    (dists, nearest)
  }

  /** The `nprobe` nearest cell indices for a distance array — ranked
    * by (distance, index), ties to the lowest index, exactly the
    * assignment kernel's tie-break. Shared by [[ivfTopK]] and
    * [[IvfIndex.query]] so the two probe identically. */
  private[ops] def probeCells(distArr: Column, eff: Int, nprobe: Int): Column =
    slice(transform(
      array_sort(zip_with(
        distArr,
        sequence(lit(0), lit(eff - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
      x => x.getField("i")), 1, math.min(nprobe, eff))

  /** DRIVER-SIDE replication of `probeCells(centroid_neg_cosines(v))`
    * (r18, guide §5 — the serving paths are driver-job-count bound):
    * the probed-cell set is a DRIVER-SIDE DECISION INPUT (a partition
    * filter), computed from the broadcast-small query batch, so
    * deriving it on the driver saves one full Spark job per serving
    * call. Bit-identical to the expression pipeline by construction:
    * the dot/norm folds run left-to-right from +0.0 exactly like
    * [[graft.functions.CentroidNegCosines]] (whose nullSafeEval this
    * mirrors line for line), and the (distance, index) tie-break
    * matches array_sort's struct ordering — equal keys (including
    * ±0.0, which Spark's compareDoubles treats as equal) break to the
    * lower index, NaN sorts last. A dim-mismatched or null-element
    * vector yields NO probes — the null-dists explode of the
    * expression form. */
  private[ops] def probeCellsLocal(vRaw: scala.collection.Seq[Any],
                                   centroids: Array[Array[Double]],
                                   cnorms: Array[Double],
                                   nprobe: Int): Array[Int] = {
    val eff = centroids.length
    if (eff == 0) return Array.empty
    val dim = centroids(0).length
    if (vRaw == null || vRaw.length != dim || vRaw.exists(_ == null))
      return Array.empty
    val v = new Array[Double](dim)
    var j = 0
    var sq = 0.0
    while (j < dim) {
      val x = vRaw(j).asInstanceOf[Double]
      v(j) = x
      sq += x * x
      j += 1
    }
    val nv = math.sqrt(sq)
    val d = new Array[Double](eff)
    var i = 0
    while (i < eff) {
      var acc = 0.0
      val c = centroids(i)
      j = 0
      while (j < dim) { acc += v(j) * c(j); j += 1 }
      d(i) = -(acc / (nv * cnorms(i)))
      i += 1
    }
    probeOrderLocal(d, nprobe)
  }

  /** The (distance asc, index asc) cut shared by the cosine and the
    * binary (Hamming, exact-integer) local probes. */
  private[ops] def probeOrderLocal(d: Array[Double], nprobe: Int): Array[Int] = {
    val idx = Array.range(0, d.length)
    val sorted = idx.sortWith { (a, b) =>
      val da = d(a); val db = d(b)
      // Spark's compareDoubles: == covers ±0.0; NaN greater than all
      if (da == db) a < b
      else {
        val c = java.lang.Double.compare(da, db)
        if (c != 0) c < 0 else a < b
      }
    }
    sorted.take(math.min(nprobe, d.length))
  }

  /** Centroid norms exactly as [[graft.functions.CentroidNegCosines]]
    * precomputes them (left-to-right sum of squares, then sqrt). */
  private[ops] def centroidNormsLocal(centroids: Array[Array[Double]]): Array[Double] =
    centroids.map { c =>
      var s = 0.0
      var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      math.sqrt(s)
    }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nlist: Int = 16, nprobe: Int = 4, sampleSize: Int = 2048,
              seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (eff, dists, nearestCell) =
      trainCells(corpus, dim, nlist, sampleSize, seed, idCol, vecCol)
    val c = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
      .withColumn("cell", nearestCell(col("cvec")))
    val q0 = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    // nprobe nearest cells per query: rank the distance array
    val q = q0.withColumn("cell",
      explode(probeCells(dists(col("qvec")), eff, nprobe)))
    // no defensive distinct: each corpus row holds exactly one cell and
    // a query's probed cells are distinct indices, so a (query, corpus)
    // pair can match at most once — a distinct here would re-shuffle
    // the hottest intermediate for nothing
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .select(col("query_id"), col("corpus_id"), col("cosine"))
    PerQueryTopK(scored, "cosine", desc = true, k)
  }

  /**
   * [[semanticDedup]]'s PRODUCTION cell assignment — the published
   * SemDeDup form: cells are the IVF k-means centroids (trained
   * driver-side on a bounded sample, [[ivfTopK]]'s training) instead
   * of axis-sign buckets, so cell populations adapt to the data
   * distribution and the O(cell²) rescore stays balanced on clustered
   * corpora where sign-bit buckets skew. Same downstream plan: one
   * equi-join on the cell key, keep-lowest-id. Engine-side training →
   * rows-only verification (the oracled semantics live in q145).
   */
  def semanticDedupIvf(df: DataFrame, threshold: Double, dim: Int,
                       nlist: Int = 16, sampleSize: Int = 2048,
                       seed: Long = 42L,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val (_, _, nearestCell) =
      trainCells(df, dim, nlist, sampleSize, seed, idCol, vecCol)
    val base = df.select(col(idCol).as("sem_id"),
        col(vecCol).cast("array<double>").as("sem_v"))
      .withColumn("sem_cluster", nearestCell(col("sem_v")).cast("long"))
    pruneWithinCells(base, threshold, idCol)
  }

  /** md5 hex of a UTF-8 string — matches SQL `md5(...)` in Spark and
    * DuckDB, so selections keyed on it replay identically everywhere. */
  private[ops] def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /**
   * Driver-side Lloyd k-means over a bounded sample — ENGINE-REPLAYABLE
   * by construction, so the IVF queries (q46/q158) hash-check against a
   * DuckDB replay of the same training loop:
   *  - `sample` arrives in ascending-id order (the ordered take) and
   *    per-cluster mean accumulation folds in that order from +0.0 —
   *    the same sequential fold `list_reduce(list(x ORDER BY id))`
   *    expresses in SQL;
   *  - init is the k sample vectors with smallest `md5("<seed>:<id>")`
   *    (hex-string order, id tie-break) — a seeded pseudo-random draw
   *    that any engine with md5 reproduces, replacing the former
   *    `scala.util.Random.shuffle` whose Fisher-Yates stream existed
   *    only in the JVM;
   *  - assignment scans centroids in index order with a strict `<`, so
   *    distance ties keep the LOWEST index (SQL: ORDER BY d, i).
   */
  private[ops] def kmeans(sample: Array[(String, Array[Double])], k: Int,
                          iters: Int, seed: Long): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty k-means sample")
    val dim = sample.head._2.length
    var centroids = sample
      .sortBy { case (id, _) => (md5Hex(s"$seed:$id"), id) }
      .take(k).map(_._2.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { case (_, v) =>
        var best = 0; var bestD = Double.MaxValue
        var i = 0
        while (i < centroids.length) {
          var d = 0.0; var j = 0
          while (j < dim) { val x = v(j) - centroids(i)(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i)
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    centroids
  }

  /**
   * Product-quantization ANN (Jégou et al. 2011 — the FAISS `PQ`
   * index): vectors L2-normalize, split into `m` subspaces of `dim/m`
   * dims, and each subspace vector-quantizes against its own
   * `ksub`-entry codebook (per-subspace Lloyd k-means over the SAME
   * ordered md5-seeded sample as [[ivfTopK]], so the whole training
   * loop replays in SQL). A corpus vector then IS its `m` codes —
   * `m` bytes instead of `dim` floats (32× at 8×64) — and scoring is
   * ADC (asymmetric distance computation): per query one
   * `m × ksub` table of exact subspace distances, per (query, corpus)
   * pair `m` table lookups. On normalized vectors squared-L2 ranking
   * is monotone in cosine, so PQ slots beside the exact/LSH/IVF tiers
   * on the same contract.
   *
   * Scale shape: codebooks broadcast (m·ksub·dim/m doubles); the
   * corpus is read ONCE to encode (one fused kernel pass) and the
   * scoring scan moves only (id, m codes) rows — the compression tier
   * a billion-vector store keeps in memory when raw vectors no longer
   * fit. Queries are bounded and broadcast with their precomputed ADC
   * tables.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             m: Int = 8, ksub: Int = 16, sampleSize: Int = 256,
             iters: Int = 4, seed: Long = 42L,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    // normalized ordered sample — vnorm folds from +0.0 in dim order,
    // each component divides by it: exactly `v[j+1]/sqrt(dot(v,v))`
    // in the DuckDB replay
    val sample = corpus.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(sampleSize)
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        var sq = 0.0
        var j = 0
        while (j < v.length) { sq += v(j) * v(j); j += 1 }
        val n = math.sqrt(sq)
        (String.valueOf(r.get(0)), v.map(_ / n))
      }
    require(sample.length >= ksub,
      s"PQ needs >= ksub=$ksub sample vectors, got ${sample.length}")
    // per-subspace codebooks from ONE shared sample order (the md5
    // init inside kmeans picks the same sample ids for every subspace)
    val codebooks: IndexedSeq[Double] = (0 until m).flatMap { s =>
      val sub = sample.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      }
      kmeans(sub, ksub, iters, seed).flatten
    }
    val c = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
      .withColumn("codes", graft.functions.PqKernels.pq_codes(
        transform(col("cvec"), x => x / col("cnorm")), codebooks, m, ksub, dim))
      .select(col("corpus_id"), col("codes"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
      .withColumn("qtable", graft.functions.PqKernels.pq_adc_table(
        transform(col("qvec"), x => x / col("qnorm")), codebooks, m, ksub, dim))
      .select(col("query_id"), col("qtable"))
    // ADC: m lookups per pair, folded from +0.0 in subspace order
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("adc", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (code, s) => element_at(col("qtable"), s * lit(ksub) + code + lit(1))),
        lit(0.0), (acc, x) => acc + x))
    PerQueryTopK(scored, "adc", desc = false, k)
      .select(col("query_id"), col("rank"), col("corpus_id"))
  }

  /**
   * IVF-PQ (Jégou et al. 2011 §IV, the FAISS `IVFPQ` index — THE
   * classical billion-scale recipe): coarse k-means cells prune the
   * search to `nprobe` probed cells, and inside them vectors are
   * product-quantized RESIDUALS (v − cell centroid) — the coarse
   * quantizer absorbs the corpus's global structure so the `m`
   * sub-codebooks spend their 16 codes on local detail. Everything in
   * L2-normalized space; coarse assignment keeps [[ivfTopK]]'s
   * negative-cosine kernel (scale-invariant, so cells match the plain
   * IVF family's), residual encode/ADC are [[pqTopK]]'s kernels.
   *
   * Scale shape: the scoring scan joins (cell, id, m codes) rows
   * against broadcast (query, probed cell, ADC table) rows on the
   * cell key — corpus vectors are read once at encode time and never
   * again; per probed pair the score is `m` table lookups.
   *
   * Fully engine-replayable: coarse Lloyd (8 rounds) and the m
   * per-subspace residual Lloyds (4 rounds) both train from ordered
   * md5-seeded samples with pinned fold orders, so q293 hash-checks
   * the entire pipeline against DuckDB.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
                coarseSample: Int = 2048, pqSample: Int = 256,
                coarseIters: Int = 8, pqIters: Int = 4, seed: Long = 42L,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (centroids, codebooks) = trainIvfPq(corpus, dim, nlist, m, ksub,
      coarseSample, pqSample, coarseIters, pqIters, seed, idCol, vecCol)
    val codes = encodeIvfPq(corpus, centroids, codebooks, dim, m, ksub, idCol, vecCol)
    val probes = probeIvfPq(queries, centroids, codebooks, dim, m, ksub, nprobe,
      idCol, vecCol)
    adcRank(codes, probes, k, m, ksub)
  }

  /**
   * IVF-PQ with EXACT re-rank (FAISS `IndexRefineFlat` over `IVFPQ` —
   * the standard two-stage serving pattern): ADC over probed cells
   * produces `kCandidates` cheap candidates per query, then ONLY those
   * |Q|·kCandidates rows fetch their raw vectors for an exact cosine
   * re-rank. ADC's quantization error is corrected where it matters
   * (the final ordering) while the corpus-wide scan still never
   * touches a raw vector — the candidate set joins the corpus as a
   * BROADCAST, so the fetch is one hash-join pass, I/O ∝ candidates.
   */
  def ivfPqRefineTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                      kCandidates: Int = 20, nlist: Int = 16, nprobe: Int = 4,
                      m: Int = 8, ksub: Int = 16,
                      coarseSample: Int = 2048, pqSample: Int = 256,
                      coarseIters: Int = 8, pqIters: Int = 4, seed: Long = 42L,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (centroids, codebooks) = trainIvfPq(corpus, dim, nlist, m, ksub,
      coarseSample, pqSample, coarseIters, pqIters, seed, idCol, vecCol)
    val codes = encodeIvfPq(corpus, centroids, codebooks, dim, m, ksub, idCol, vecCol)
    val probes = probeIvfPq(queries, centroids, codebooks, dim, m, ksub, nprobe,
      idCol, vecCol)
    val cand = adcRank(codes, probes, kCandidates, m, ksub)
      .select(col("query_id"), col("corpus_id"))
    val c = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    // exact rescore of the candidate set only: candidates broadcast
    // into the corpus join (one pass), query side broadcast as always
    val rescored = c.join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", dot(col("qvec"), col("cvec")) /
        (col("qnorm") * col("cnorm")))
    PerQueryTopK(rescored, "cosine", desc = true, k)
      .select(col("query_id"), col("rank"), col("corpus_id"))
  }

  /** IVF-PQ training (driver-side, ordered md5-seeded samples): the
    * coarse centroid matrix + the m flat sub-codebooks trained on the
    * RESIDUALS of the first `pqSample` sample ids — shared by the
    * batch operator and the persisted [[IvfPqIndex]], so both serve
    * bit-identical answers. */
  private[ops] def trainIvfPq(corpus: DataFrame, dim: Int, nlist: Int, m: Int,
                              ksub: Int, coarseSample: Int, pqSample: Int,
                              coarseIters: Int, pqIters: Int, seed: Long,
                              idCol: String, vecCol: String)
      : (Array[Array[Double]], IndexedSeq[Double]) = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    def normalize(v: Array[Double]): Array[Double] = {
      var sq = 0.0; var j = 0
      while (j < v.length) { sq += v(j) * v(j); j += 1 }
      val n = math.sqrt(sq)
      v.map(_ / n)
    }
    val sampleAll = corpus.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(coarseSample)
      .collect().map(r => (String.valueOf(r.get(0)), normalize(r.getSeq[Double](1).toArray)))
    val centroids = kmeans(sampleAll, nlist, coarseIters, seed)
    val eff = centroids.length
    val cnorms = centroids.map { c =>
      var sq = 0.0; var j = 0
      while (j < c.length) { sq += c(j) * c(j); j += 1 }
      math.sqrt(sq)
    }
    // negative-cosine assignment, bit-identical to CentroidNegCosines
    // (vector norm recomputed per row, strict < keeps the lowest cell)
    def assignCell(nv: Array[Double]): Int = {
      var sq = 0.0; var j = 0
      while (j < nv.length) { sq += nv(j) * nv(j); j += 1 }
      val vn = math.sqrt(sq)
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < eff) {
        var d = 0.0; var jj = 0
        while (jj < dim) { d += nv(jj) * centroids(i)(jj); jj += 1 }
        val nd = -(d / (vn * cnorms(i)))
        if (nd < bestD) { bestD = nd; best = i }
        i += 1
      }
      best
    }
    // PQ trains on the RESIDUALS of the first pqSample ids
    val pqTrain = sampleAll.take(pqSample).map { case (id, nv) =>
      val c = centroids(assignCell(nv))
      (id, Array.tabulate(dim)(j => nv(j) - c(j)))
    }
    require(pqTrain.length >= ksub,
      s"IVF-PQ needs >= ksub=$ksub residual sample vectors, got ${pqTrain.length}")
    val codebooks: IndexedSeq[Double] = (0 until m).flatMap { s =>
      val sub = pqTrain.map { case (id, r) =>
        (id, java.util.Arrays.copyOfRange(r, s * dsub, (s + 1) * dsub))
      }
      kmeans(sub, ksub, pqIters, seed).flatten
    }
    (centroids, codebooks)
  }

  /** Encode the corpus against FROZEN quantizers: one fused pass →
    * (cell, corpus_id, codes) — the compressed row the IVF-PQ scoring
    * scan (and the persisted store) carries instead of vectors. */
  private[ops] def encodeIvfPq(corpus: DataFrame, centroids: Array[Array[Double]],
                               codebooks: IndexedSeq[Double], dim: Int, m: Int,
                               ksub: Int, idCol: String, vecCol: String): DataFrame =
    encodeIvfPqFull(corpus, centroids, codebooks, dim, m, ksub, idCol, vecCol)
      .select(col("cell"), col("corpus_id"), col("codes"))

  /** [[encodeIvfPq]] keeping the raw row alongside the codes —
    * (cell, corpus_id, codes, cvec, cnorm). The refine sidecar
    * ([[IvfPqIndex]] `refineStore`) derives its rows from THIS frame
    * so sidecar and code store agree on cell assignment to the bit
    * (both use the normalized-vector nearest-cell, same expression). */
  private[ops] def encodeIvfPqFull(corpus: DataFrame, centroids: Array[Array[Double]],
                                   codebooks: IndexedSeq[Double], dim: Int, m: Int,
                                   ksub: Int, idCol: String, vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (_, nearest) = cellFns(centroids, dim)
    val cellsDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "ccent")
    corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
      .withColumn("nvec", transform(col("cvec"), x => x / col("cnorm")))
      .withColumn("cell", nearest(col("nvec")))
      .join(broadcast(cellsDf), Seq("cell"))
      .withColumn("codes", graft.functions.PqKernels.pq_codes(
        zip_with(col("nvec"), col("ccent"), (a, b) => a - b), codebooks, m, ksub, dim))
      .select(col("cell"), col("corpus_id"), col("codes"),
        col("cvec"), col("cnorm"))
  }

  /** Probe side: per (query, probed cell) the residual ADC lookup
    * table — broadcast-small by the query contract. */
  private[ops] def probeIvfPq(queries: DataFrame, centroids: Array[Array[Double]],
                              codebooks: IndexedSeq[Double], dim: Int, m: Int,
                              ksub: Int, nprobe: Int,
                              idCol: String, vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val (dists, _) = cellFns(centroids, dim)
    val cellsDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "ccent")
    pqQueries(queries, idCol, vecCol)
      .withColumn("cell", explode(probeCells(dists(col("nq")), centroids.length, nprobe)))
      .join(broadcast(cellsDf), Seq("cell"))
      .withColumn("qtable", graft.functions.PqKernels.pq_adc_table(
        zip_with(col("nq"), col("ccent"), (a, b) => a - b), codebooks, m, ksub, dim))
      .select(col("cell"), col("query_id"), col("qtable"))
  }

  /** The IVF-PQ query frame: (query_id, qvec, qnorm) plus `nq`, the
    * normalized vector both the coarse probe and the residual tables
    * read. */
  private[ops] def pqQueries(queries: DataFrame, idCol: String,
                             vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
      .withColumn("nq", transform(col("qvec"), x => x / col("qnorm")))

  /** Per probed (query, cell) row of a driver-held [[pqQueries]] batch
    * (`rows`, with `probed`'s schema and a `cell` column): the
    * residual ADC lookup table, computed on the driver — the
    * `pq_adc_table` kernel on `nq − centroid` — into a LocalRelation
    * (cell, query_id, qtable) that broadcasts without a job. */
  private[ops] def adcTables(probed: DataFrame, rows: Seq[Row],
                             centroids: Array[Array[Double]],
                             codebooks: IndexedSeq[Double], dim: Int, m: Int,
                             ksub: Int): DataFrame = {
    val cb = codebooks.toArray
    val (qi, ni, ci) = (probed.schema.fieldIndex("query_id"),
      probed.schema.fieldIndex("nq"), probed.schema.fieldIndex("cell"))
    val tables = rows.map { r =>
      val nq = if (r.isNullAt(ni)) null else r.getSeq[Any](ni)
      val cell = r.getInt(ci)
      // zip_with(nq, centroid, a - b) then the kernel: any null or
      // length mismatch makes the table null
      val table = if (nq == null || nq.length != dim || nq.contains(null)) null
        else graft.functions.PqKernels.adcTable(Array.tabulate(dim)(j =>
          nq(j).asInstanceOf[Double] - centroids(cell)(j)), cb, m, ksub, dim).toSeq
      Row(cell, r.get(qi), table)
    }
    CellStore.localFrame(probed.sparkSession, tables, StructType(Seq(
      StructField("cell", IntegerType, nullable = false), probed.schema(qi),
      StructField("qtable", ArrayType(DoubleType, containsNull = false)))))
  }

  /** ADC scoring + top-k: codes rows join broadcast probe rows on the
    * cell key; per pair the score is m table lookups folded from +0.0
    * in subspace order. `batch` is the query count when the driver
    * knows it ([[PerQueryTopK]]). */
  private[ops] def adcRank(codes: DataFrame, probes: DataFrame, k: Int,
                           m: Int, ksub: Int, batch: Option[Int] = None): DataFrame = {
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"), aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (code, s) => element_at(col("qtable"), s * lit(ksub) + code + lit(1))),
        lit(0.0), (acc, x) => acc + x).as("adc"))
    PerQueryTopK(scored, "adc", desc = false, k, batch = batch)
      .select(col("query_id"), col("rank"), col("corpus_id"))
  }

  /**
   * Multi-table LSH ANN (the classical design: L independent tables of
   * b hyperplane bits; a pair is a candidate if its signatures collide
   * in ANY table). Collision prob for angle θ is 1-(1-(1-θ/π)^b)^L —
   * L tables buy recall, b bits prune candidates. Defaults (16×6) give
   * ~0.6+ recall@5 on near-random 64-dim data while rescoring only a
   * fraction of the corpus.
   *
   * Scale shape: corpus vectors fan out L× as (table, bucket,
   * corpus_id) KEYS ONLY — vectors themselves stay put; candidate id
   * pairs are deduped before the rescore join, and queries are
   * broadcast throughout. The rescore is an equi-join on corpus_id —
   * one shuffle of the candidate ids, never O(|Q|·|C|).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              tables: Int = 16, bits: Int = 6, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    def sigs(vec: Column): Column = array((0 until tables).map(t =>
      struct(lit(t).as("t"),
        hyperplaneSignature(vec, dim, bits, seed + t * 7919L).as("bucket"))): _*)
    val cb = c.select(col("corpus_id"), explode(sigs(col("cvec"))).as("tb"))
      .select(col("tb.t").as("t"), col("tb.bucket").as("bucket"), col("corpus_id"))
    val qb = q.select(col("query_id"), explode(sigs(col("qvec"))).as("tb"))
      .select(col("tb.t").as("t"), col("tb.bucket").as("bucket"), col("query_id"))
    val pairs = cb.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id")).distinct()
    val scored = pairs
      .join(c, Seq("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .select(col("query_id"), col("corpus_id"), col("cosine"))
    PerQueryTopK(scored, "cosine", desc = true, k)
  }
}
