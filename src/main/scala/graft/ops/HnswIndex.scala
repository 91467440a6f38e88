package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted SHARDED HNSW index (Malkov & Yashunin 2016) — the graph
 * ANN tier that completes vector-search parity with modern Solr:
 * Solr 9's actual `{!knn}` is Lucene HNSW, one graph PER SHARD with a
 * scatter-gather merge across shards (reference trace: the collection
 * the reference loads into is served exactly that way). This is the
 * same deployment shape Spark-first:
 *
 *  - `build`: hash-repartition the corpus by id into `shards`
 *    partitions, build one in-memory HNSW graph per partition
 *    (mapPartitions — the only imperative per-partition stage in the
 *    family, exactly Lucene's per-segment graph build), and persist
 *    each node's per-layer adjacency as parquet rows partitioned by
 *    shard. Executor memory bounds the SHARD, never the corpus — the
 *    Lucene segment contract.
 *  - `query`: broadcast the (small) query batch, search every shard's
 *    graph independently (one task per shard, graph loaded from its
 *    partition's rows), cut each shard's ef-search results to a
 *    partial top-k and merge the global top-k once
 *    ([[PerQueryTopK]]) — Solr's distributed knn scatter-gather.
 *
 * DETERMINISM (the property a hash-oracled engine needs, which
 * stochastic HNSW builds lack): node levels come from md5(id) — the
 * engine-wide seeded-randomization primitive (O1/O2) — via the
 * standard geometric assignment floor(-ln(u)·mL), mL = 1/ln(M);
 * insertion order is ascending id within a shard; every candidate
 * ordering breaks ties by (distance, id). Same corpus → bit-identical
 * graph, across builds and across partitionings of the INPUT frame
 * (hash-repartition by id fixes shard membership; per-shard insertion
 * re-sorts).
 *
 * Scale: build is one shuffle (the repartition) + a linear
 * per-partition pass; queries read all shard graphs once (graph size
 * ≈ corpus × M longs — far below raw vectors is NOT true here: HNSW
 * stores raw vectors for distance evaluation, the Lucene trade — use
 * [[IvfPqIndex]] when memory dominates, HNSW when recall-at-low-
 * latency dominates; [[RankingEval.annRecallAtK]] arbitrates).
 *
 * LIFECYCLE (round 14 — parity with the IVF family's serving
 * surface):
 *  - [[removeIds]]: O(batch) tombstones, Lucene soft-delete
 *    semantics — a dead node still ROUTES the walk but is never
 *    collected, until [[purgeDeletes]] rebuilds its shard.
 *  - [[queryFiltered]]: Lucene `acceptDocs` — the filter joins the
 *    graph as a per-node flag (one Catalyst join, no driver collect
 *    of the filter set), collection-time acceptance, and the
 *    visitedLimit fallback to exact when the filter is scarce.
 *  - [[add]] / [[purgeDeletes]]: rebuild ONLY the touched shards
 *    (ascending-id insertion makes any rebuild bit-identical to a
 *    fresh build over the same live rows) into a new GENERATION
 *    carrying JUST those shards, committed by one `_gen_N` file
 *    whose content is the carried shard list — the `segments_N` /
 *    [[IvfIndex.retrain]] precedent sharpened to Lucene's
 *    per-segment layering: readers resolve each shard to its newest
 *    carrying generation, so mutation I/O is ∝ touched-shard bytes,
 *    never a corpus rewrite, and old generations keep serving
 *    in-flight readers untouched. Batch adds (the Lucene flush
 *    discipline).
 *  - [[addBatchDelta]] / [[foldDelta]]: continuous ingest WITHOUT
 *    order-dependence — appending to a graph directly would make the
 *    result insertion-order-dependent (which a hash-oracled engine
 *    refuses), so streamed micro-batches land in a flat DELTA side
 *    store (Lucene's NRT shape): queries union an exact-cosine leg
 *    over it, delta ids shadow their graph nodes (upsert), and past
 *    a size threshold the delta folds into the graph through the
 *    order-free touched-shard rebuild — batch-boundary-invariant end
 *    to end (spec-locked; q322 runs the lifecycle oracle with a
 *    streamed cohort).
 */
object HnswIndex {

  private def markerPath(out: String) = s"$out/_hnsw_marker.json"
  private def deltaPath(out: String) = s"$out/delta"
  private def dropIntentPath(out: String) = s"$out/_drop_intent"
  private def dropIntentIdsPath(out: String) = s"$out/.drop_intent_ids"
  private def deltaSeqPath(out: String) = s"$out/_delta_seq"
  private def hwmPath(out: String, key: String) = s"$out/_hnsw_hwm_$key"

  /** Is `out` an HNSW store? (the streaming sink's tier dispatch). */
  private[graft] def isHnswStore(spark: SparkSession, out: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(markerPath(out))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** GENERATIONS — the [[IvfIndex.generation]] / `segments_N` commit
    * protocol, sharpened to per-shard layering (the Lucene segment
    * model): [[add]] and [[purgeDeletes]] write ONLY the rebuilt
    * shards under `out/gN/graph/`, and the single `_gen_N` file —
    * whose CONTENT is the shard list that generation carries — is the
    * atomic swap. A reader resolves every shard to its newest
    * carrying generation (gen 0 = the build layout carries all), so
    * mutation I/O is ∝ touched-shard bytes, never a corpus rewrite,
    * and old-generation dirs stay byte-identical for in-flight
    * readers. The params marker and the tombstone set live at the
    * store root: params never change, and a delete landed before a
    * swap is folded into the new generation by construction. */
  private[ops] def generations(fs: org.apache.hadoop.fs.FileSystem,
                                out: String): Seq[Int] =
    CellStore.numbered(fs, out, "_gen_").sorted

  /** The shards generation `g` carries: its `_gen_N` file's content. */
  private def shardsOf(spark: SparkSession, out: String, g: Int): Seq[Int] =
    graft.util.FsIo.readSmallFile(spark.sparkContext.hadoopConfiguration,
      s"$out/_gen_$g").split(",").toSeq.filter(_.nonEmpty).map(_.trim.toInt)

  /** The LIVE graph: per shard, the rows of its newest carrying
    * generation — one parquet read per contributing generation,
    * partition-pruned to the shards it still serves. Every read uses
    * the EXPLICIT [[graphSchema]]: a generation whose rebuild emptied
    * all its shards (tombstones covered every live row) commits a
    * file-less partitioned dir, and schema inference over it would
    * throw — with the declared schema it resolves to an empty frame,
    * which is exactly what an emptied shard serves. */
  private[graft] def readGraph(spark: SparkSession, out: String): DataFrame =
    readGraphUpTo(spark, out, Int.MaxValue)

  /** [[readGraph]] restricted to generations ≤ `maxGen` — the
    * GENERATION-ADDRESSED read a pinned snapshot resolves through
    * (generation dirs are immutable once committed, so the resolution
    * at any historical ceiling reproduces that moment's graph
    * byte-for-byte as long as reclaim spares the dirs — which
    * [[reclaimGenerations]] guarantees for pinned ceilings). */
  private def readGraphUpTo(spark: SparkSession, out: String,
                            maxGen: Int): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = generations(fs, out).filter(_ <= maxGen)
    // newest generation carrying each shard wins
    val carried = scala.collection.mutable.Set.empty[Int]
    val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    gens.reverse.foreach { g =>
      val shards = shardsOf(spark, out, g).filterNot(carried)
      if (shards.nonEmpty) {
        carried ++= shards
        layers += spark.read.schema(graphSchema).parquet(s"$out/g$g/graph")
          .filter(col("shard").isin(shards.toSeq: _*))
          .select("shard", "corpus_id", "cvec", "level", "nbrs")
      }
    }
    val base = spark.read.schema(graphSchema).parquet(s"$out/graph")
      .select("shard", "corpus_id", "cvec", "level", "nbrs")
    val base2 =
      if (carried.isEmpty) base
      else base.filter(!col("shard").isin(carried.toSeq: _*))
    (layers :+ base2).reduce(_ unionByName _)
  }

  final case class Marker(dim: Int, m: Int, efC: Int, shards: Int,
                          idCol: String, vecCol: String)

  /** Uniform(0,1) from md5(id) — the deterministic level source. */
  private def levelOf(id: Long, mL: Double): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(id.toString.getBytes("UTF-8"))
    val bits = java.nio.ByteBuffer.wrap(h).getLong(0) >>> 11 // 53 bits
    val u = (bits + 1).toDouble / (1L << 53).toDouble // (0, 1]
    math.floor(-math.log(u) * mL).toInt
  }

  /** One shard's in-memory graph build — insertion in ascending id,
    * every ordering tie-broken by (dist, id). */
  private final class Graph(dim: Int, m: Int, efC: Int) {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
    val levels = scala.collection.mutable.ArrayBuffer.empty[Int]
    // nbrs(node)(layer) = neighbor node indexes
    val nbrs = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Int]]]
    private val mL = 1.0 / math.log(m.toDouble)
    private var entry = -1 // node index of the current top entry point

    /** Restore the entry point on a graph rebuilt from persisted rows:
      * (level desc, id asc) — deterministic, independent of row order. */
    def restoreEntry(): Unit = {
      var best = -1
      var i = 0
      while (i < ids.length) {
        if (best < 0 || levels(i) > levels(best) ||
            (levels(i) == levels(best) && ids(i) < ids(best))) best = i
        i += 1
      }
      entry = best
    }

    /** 1 - cosine (minimized). */
    private def dist(v: Array[Double], n: Double, j: Int): Double = {
      val w = vecs(j)
      var s = 0.0; var i = 0
      while (i < dim) { s += v(i) * w(i); i += 1 }
      1.0 - s / (n * norms(j))
    }

    /** The cosine itself, computed DIRECTLY — what results carry.
      * Returning `1.0 - dist` instead loses the cosine's low bits
      * (1.0-(1.0-x) ≠ x at the ulp), which flips exact cross-leg ties
      * against the column kernels' values (the lifecycle fuzz caught
      * a delta-leg vector tying a graph-leg one and losing the id
      * tie-break to a 1-ulp phantom difference). Same sequential fold
      * as [[Similarity.dot]], so the value is bit-identical to the
      * engine's column cosine. */
    private def cosOf(v: Array[Double], n: Double, j: Int): Double = {
      val w = vecs(j)
      var s = 0.0; var i = 0
      while (i < dim) { s += v(i) * w(i); i += 1 }
      s / (n * norms(j))
    }

    /** Best-first layer search: ef closest nodes to v on `layer`,
      * ordered (dist asc, id asc), starting from `starts`. */
    private def searchLayer(v: Array[Double], n: Double, starts: Seq[Int],
                            ef: Int, layer: Int): Seq[(Double, Int)] =
      searchLayerAccept(v, n, starts, ef, layer, _ => true, Int.MaxValue)._1

    /** Filtered best-first layer search — Lucene `acceptDocs`
      * semantics: the traversal expands through EVERY node (a
      * rejected node still routes), only accepted nodes enter the
      * result heap. `limit` caps visited nodes; on overrun the caller
      * falls back to exact over the accepted set (Lucene's
      * scarce-filter fallback — past that point brute force is the
      * cheaper exact plan anyway). With accept-all and no limit this
      * is bit-identical to the unfiltered search. */
    private def searchLayerAccept(v: Array[Double], n: Double,
        starts: Seq[Int], ef: Int, layer: Int, accept: Int => Boolean,
        limit: Int): (Seq[(Double, Int)], Boolean) = {
      val visited = scala.collection.mutable.HashSet.empty[Int]
      // candidates: min-heap by (dist, id); results: max-heap by (dist, id)
      val cand = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](Ordering.by[(Double, Int), (Double, Long)](
          t => (-t._1, -ids(t._2))))
      val res = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](Ordering.by[(Double, Int), (Double, Long)](
          t => (t._1, ids(t._2))))
      var limitHit = false
      starts.foreach { s0 =>
        if (visited.add(s0)) {
          val d = dist(v, n, s0)
          cand.enqueue((d, s0))
          if (accept(s0)) res.enqueue((d, s0))
        }
      }
      while (cand.nonEmpty && !limitHit) {
        val (dc, c) = cand.dequeue()
        if (res.size >= ef && dc > res.head._1) { cand.clear() }
        else {
          val layerNbrs = if (layer < nbrs(c).length) nbrs(c)(layer)
                          else Array.empty[Int]
          layerNbrs.foreach { e =>
            if (!limitHit && visited.add(e)) {
              if (visited.size > limit) limitHit = true
              else {
                val d = dist(v, n, e)
                if (res.size < ef || d < res.head._1 ||
                    (d == res.head._1 && ids(e) < ids(res.head._2))) {
                  cand.enqueue((d, e))
                  if (accept(e)) {
                    res.enqueue((d, e))
                    if (res.size > ef) res.dequeue()
                  }
                }
              }
            }
          }
        }
      }
      (res.toSeq.sortBy(t => (t._1, ids(t._2))), limitHit)
    }

    /** Simple closest-M neighbor selection ((dist, id) order — the
      * deterministic baseline; Lucene defaults to the diversity
      * heuristic, either satisfies the HNSW contract). */
    private def selectM(cands: Seq[(Double, Int)], mm: Int): Array[Int] =
      cands.sortBy(t => (t._1, ids(t._2))).take(mm).map(_._2).toArray

    def insert(id: Long, v: Array[Double]): Unit = {
      val idx = ids.length
      var nrm = 0.0
      var i0 = 0
      while (i0 < dim) { nrm += v(i0) * v(i0); i0 += 1 }
      val n = math.sqrt(nrm)
      val lvl = levelOf(id, mL)
      ids += id; vecs += v; norms += n; levels += lvl
      nbrs += Array.fill(lvl + 1)(Array.empty[Int])
      if (entry < 0) { entry = idx; return }
      var ep = Seq(entry)
      val topL = levels(entry)
      // greedy descent above the node's level
      var layer = topL
      while (layer > lvl) {
        ep = searchLayer(v, n, ep, 1, layer).take(1).map(_._2)
        layer -= 1
      }
      // connect on each layer from min(topL, lvl) down to 0
      layer = math.min(topL, lvl)
      while (layer >= 0) {
        val w = searchLayer(v, n, ep, efC, layer)
        val mm = if (layer == 0) 2 * m else m
        val chosen = selectM(w, mm)
        nbrs(idx)(layer) = chosen
        chosen.foreach { c =>
          val cur = nbrs(c)(layer)
          val withNew = (cur :+ idx).distinct
          nbrs(c)(layer) =
            if (withNew.length <= mm) withNew
            else selectM(withNew.map(j => (dist(vecs(c), norms(c), j), j))
              .toSeq, mm)
        }
        ep = w.map(_._2)
        layer -= 1
      }
      if (lvl > topL) entry = idx
    }

    /** Top-k (cosine desc, id asc) for one query vector. */
    def search(v: Array[Double], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Nil
      var nrm = 0.0
      var i0 = 0
      while (i0 < dim) { nrm += v(i0) * v(i0); i0 += 1 }
      val n = math.sqrt(nrm)
      var ep = Seq(entry)
      var layer = levels(entry)
      while (layer > 0) {
        ep = searchLayer(v, n, ep, 1, layer).take(1).map(_._2)
        layer -= 1
      }
      searchLayer(v, n, ep, math.max(ef, k), 0).take(math.max(ef, k))
        .map { case (_, j) => (ids(j), cosOf(v, n, j)) }
    }

    /** Filtered top-k: descent is UNFILTERED (upper layers only
      * route — Lucene gates acceptance at the collection layer), the
      * layer-0 collection accepts only `accept` nodes; if the walk
      * visits more than `limit` nodes it falls back to exact over the
      * accepted set (bit-deterministic either way: the walk order is
      * deterministic, so the fallback decision is too). */
    def searchAccept(v: Array[Double], k: Int, ef: Int,
        accept: Int => Boolean, limit: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Nil
      var nrm = 0.0
      var i0 = 0
      while (i0 < dim) { nrm += v(i0) * v(i0); i0 += 1 }
      val n = math.sqrt(nrm)
      var ep = Seq(entry)
      var layer = levels(entry)
      while (layer > 0) {
        ep = searchLayer(v, n, ep, 1, layer).take(1).map(_._2)
        layer -= 1
      }
      val kk = math.max(ef, k)
      val (res, limitHit) =
        searchLayerAccept(v, n, ep, kk, 0, accept, limit)
      if (limitHit) bruteForce(v, n, kk, accept)
      else res.take(kk).map { case (_, j) => (ids(j), cosOf(v, n, j)) }
    }

    /** Exact accepted-set top-k, entered DIRECTLY in the scarce
      * regime (accepted cardinality ≤ the walk's visited budget): the
      * visited-counter fallback only fires on OVERRUN, so a shard
      * whose reachable component fits under the budget while neighbor
      * pruning left an accepted node unreachable would return an
      * approximate answer where the scarce contract promises an exact
      * one — going straight to brute force closes that hole, and past
      * that cardinality brute force is the cheaper exact plan anyway. */
    def searchExact(v: Array[Double], k: Int,
        accept: Int => Boolean): Seq[(Long, Double)] = {
      var nrm = 0.0
      var i0 = 0
      while (i0 < dim) { nrm += v(i0) * v(i0); i0 += 1 }
      val n = math.sqrt(nrm)
      bruteForce(v, n, k, accept)
    }

    /** Exact scan over the accepted nodes of this shard — the
      * scarce-filter fallback. DIRECT cosines ((cosine desc, id asc)
      * ordering, so the cut agrees bit-for-bit with the column-kernel
      * brute force and the oracles' replay), top `kk`. */
    private def bruteForce(v: Array[Double], n: Double, kk: Int,
        accept: Int => Boolean): Seq[(Long, Double)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      var i = 0
      while (i < ids.length) {
        if (accept(i)) buf += ((ids(i), cosOf(v, n, i)))
        i += 1
      }
      buf.sortBy { case (id, c) => (-c, id) }.take(kk).toSeq
    }
  }

  private val graphSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("shard", IntegerType), StructField("corpus_id", LongType),
      StructField("cvec", ArrayType(DoubleType)),
      StructField("level", IntegerType),
      StructField("nbrs", ArrayType(ArrayType(LongType)))))
  }

  /** (shard, corpus_id, cvec): shard = `pmod(murmur3(id), shards)` —
    * HashPartitioning's own `partitionIdExpression`, computed as a
    * COLUMN rather than read off `TaskContext.getPartitionId` (a
    * task's partition index renumbers when the lineage executes
    * inside a bigger plan, e.g. a union — a label must not). One
    * membership function; [[add]] reuses it so a later vector lands
    * in the shard a fresh build would put it in. */
  private def assignShards(corpus: DataFrame, shards: Int,
      idCol: String, vecCol: String): DataFrame =
    corpus.select(
      pmod(hash(col(idCol).cast("long")), lit(shards)).cast("int")
        .as("shard"),
      col(idCol).cast("long").as("corpus_id"),
      col(vecCol).cast("array<double>").as("cvec"))

  /** Build graphs for every shard present in `rows` ((shard,
    * corpus_id, cvec)) — ascending-id insertion per shard, so ANY
    * rebuild ([[add]], [[purgeDeletes]]) is bit-identical to a fresh
    * [[build]] over the same live rows: the property the specs and
    * the one-oracle-two-construction-paths q-entries lean on. */
  private def rebuildShards(rows: DataFrame, dim: Int, m: Int,
      efC: Int, shards: Int): DataFrame = {
    val spark = rows.sparkSession
    val rdd = rows.repartition(shards, col("shard")).rdd.mapPartitions { it =>
      val byShard = it.map(r => (r.getInt(0),
        (r.getLong(1), r.getSeq[Double](2).toArray))).toArray.groupBy(_._1)
      byShard.iterator.flatMap { case (shard, rs) =>
        val all = rs.map(_._2).sortBy(_._1)
        val g = new Graph(dim, m, efC)
        all.foreach { case (id, v) => g.insert(id, v) }
        g.ids.indices.iterator.map { i =>
          Row(shard, g.ids(i), g.vecs(i).toSeq, g.levels(i),
            g.nbrs(i).map(_.map(j => g.ids(j)).toSeq).toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, graphSchema)
  }

  /** Build the sharded graph store: one shuffle (hash-repartition by
    * id), one linear graph build per shard, adjacency persisted as
    * parquet partitioned by shard. */
  def build(corpus: DataFrame, out: String, dim: Int, shards: Int = 4,
            m: Int = 8, efConstruction: Int = 64,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    rebuildShards(assignShards(corpus, shards, idCol, vecCol),
        dim, m, efConstruction, shards)
      .write.mode("overwrite").partitionBy("shard").parquet(s"$out/graph")
    graft.util.FsIo.writeSmallFile(spark.sparkContext.hadoopConfiguration,
      markerPath(out), CellMarker.of("dim" -> dim, "m" -> m,
        "efC" -> efConstruction, "shards" -> shards, "idCol" -> idCol,
        "vecCol" -> vecCol).json)
  }

  /** The store's shard count — callers accounting candidate budgets
    * need it: `efSearch` is a PER-SHARD budget (every shard
    * contributes up to max(ef, k) exact-scored rows to the merge), so
    * the honest total is shards×ef, never ef. */
  def shardCount(spark: SparkSession, out: String): Int =
    readMarker(spark, out).shards

  private def readMarker(spark: SparkSession, out: String): Marker = {
    val mk = CellMarker.parse(graft.util.FsIo.readSmallFile(
      spark.sparkContext.hadoopConfiguration, markerPath(out)))
    Marker(mk.dim, mk.int("m"), mk.int("efC"), mk.int("shards"), mk.idCol, mk.vecCol)
  }

  /** Scatter-gather query: every shard searches its graph for the
    * broadcast query batch (ef results each), one per-query top-k
    * ([[PerQueryTopK]]) merges the global top-k — Solr's distributed
    * `{!knn}`. Self-matches are excluded (the family convention).
    * Tombstoned ids never surface (Lucene liveDocs: the node still
    * ROUTES, it just isn't collected). */
  def query(spark: SparkSession, out: String, queries: DataFrame, k: Int,
            efSearch: Int = 64): DataFrame =
    scatterQuery(spark, out, queries, k, efSearch, None)

  /** FILTERED knn (Lucene `{!knn}` + fq / FAISS `IDSelector`): the
    * allowed-id frame (first column = id) joins the graph rows as a
    * per-node accept flag — one Catalyst join, broadcast or shuffle
    * by id-set size, no driver collect of the filter — and the walk
    * collects accepted nodes only, still routing THROUGH rejected
    * ones. If a shard's walk visits more nodes than the shard's
    * accepted count (the scarce-filter regime) it falls back to exact
    * over the accepted set — Lucene's visitedLimit fallback, which
    * also makes very selective filters exact rather than empty. */
  def queryFiltered(spark: SparkSession, out: String, queries: DataFrame,
                    k: Int, allowed: DataFrame,
                    efSearch: Int = 64): DataFrame =
    scatterQuery(spark, out, queries, k, efSearch, Some(allowed))

  private def scatterQuery(spark: SparkSession, out: String,
      queries: DataFrame, k: Int, efSearch: Int,
      allowed: Option[DataFrame]): DataFrame =
    scatterOver(spark, out, readMarker(spark, out), readGraph(spark, out),
      prePartitioned = false, queries, k, efSearch, allowed,
      readDelta(spark, out), deletes(spark, out))

  /** Query with DRIVER-SIDE literal vectors — the `{!knn}` request
    * dispatch path ([[graft.search.KnnQuery.knnStore]]): a parsed
    * request batch arrives as (query_id, vector) pairs rather than a
    * corpus frame. Same scatter-gather, same self-exclusion by
    * query_id, same filtered/scarce semantics via `allowed`.
    * `field`, when given, must name the store's vector column — the
    * request's `f=` reaching the wrong store is a caller bug worth
    * failing loudly on. */
  def queryVectors(spark: SparkSession, out: String,
                   vectors: Seq[(Long, Array[Double])], k: Int,
                   efSearch: Int = 64, allowed: Option[DataFrame] = None,
                   field: Option[String] = None): DataFrame = {
    val mk = readMarker(spark, out)
    field.foreach(f => require(f == mk.vecCol,
      s"request field '$f' does not match the store's vector column " +
        s"'${mk.vecCol}' ($out)"))
    vectors.foreach { case (id, v) => require(v.length == mk.dim,
      s"query $id has dim ${v.length}, store expects ${mk.dim}") }
    import spark.implicits._
    val qdf = vectors.map { case (id, v) => (id, v.toSeq) }
      .toDF(mk.idCol, mk.vecCol)
    scatterOver(spark, out, mk, readGraph(spark, out),
      prePartitioned = false, qdf, k, efSearch, allowed,
      readDelta(spark, out), deletes(spark, out))
  }

  private def scatterOver(spark: SparkSession, out: String, mk: Marker,
      base: DataFrame, prePartitioned: Boolean, queries: DataFrame,
      k: Int, efSearch: Int, allowed: Option[DataFrame],
      delta: Option[DataFrame],
      tombstones: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.types._
    val q = queries.select(col(mk.idCol).cast("long").as("query_id"),
        col(mk.vecCol).cast("array<double>").as("qvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qB = spark.sparkContext.broadcast(q)
    // tombstones (caller-resolved: the live set normally, a pin's
    // snapshot under [[queryPinned]]): bounded by the delete batches
    // since the last purge (the IvfIndex small-side contract) — a
    // per-executor hash set is the liveDocs bitset analog
    val tomb: Set[Long] = tombstones
      .map(_.select("corpus_id").collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty)
    AnnTombstones.check(spark, "hnsw", out, tomb.size.toLong)
    val tombB = spark.sparkContext.broadcast(tomb)
    val dim = mk.dim; val m = mk.m; val efC = mk.efC
    val ef = efSearch; val kk = k
    val filtering = allowed.isDefined
    // a shard's rows MUST land whole in one task: the accept-flag join
    // can re-plan the exchange away, so the filtered path always
    // re-partitions AFTER it; the unfiltered path over a pre-exchanged
    // (Serving-cached) base skips the exchange entirely
    val graph = allowed match {
      case Some(a) =>
        val idsF = a.select(col(a.columns.head).cast("long").as("corpus_id"))
          .distinct().withColumn("_ok", lit(true))
        base.join(idsF, Seq("corpus_id"), "left_outer")
          .select(col("shard"), col("corpus_id"), col("cvec"), col("level"),
            col("nbrs"), coalesce(col("_ok"), lit(false)).as("_ok"))
          .repartition(mk.shards, col("shard"))
      case None =>
        val g0 = base.withColumn("_ok", lit(true))
        if (prePartitioned) g0 else g0.repartition(mk.shards, col("shard"))
    }
    val schema = StructType(Seq(
      StructField("query_id", LongType), StructField("corpus_id", LongType),
      StructField("cosine", DoubleType)))
    val scatteredRdd = graph.rdd.mapPartitions { it =>
      // a task may hold >1 shard after hash partitioning: group, then
      // rebuild each shard's graph verbatim from its persisted rows
      val byShard = it.map { r =>
        (r.getInt(0), (r.getLong(1), r.getSeq[Double](2).toArray,
          r.getInt(3), r.getSeq[scala.collection.Seq[Long]](4).map(_.toArray),
          r.getBoolean(5)))
      }.toArray.groupBy(_._1)
      byShard.iterator.flatMap { case (_, rows0) =>
        val rows = rows0.map(_._2).sortBy(_._1)
        val index = rows.iterator.map(_._1).zipWithIndex.toMap
        val g = new Graph(dim, m, efC)
        rows.foreach { case (id, v, lvl, _, _) =>
          g.ids += id; g.vecs += v
          var nrm = 0.0
          var i0 = 0
          while (i0 < dim) { nrm += v(i0) * v(i0); i0 += 1 }
          g.norms += math.sqrt(nrm); g.levels += lvl
          g.nbrs += Array.empty
        }
        rows.zipWithIndex.foreach { case ((_, _, _, nb, _), i) =>
          g.nbrs(i) = nb.map(_.map(index)).toArray
        }
        g.restoreEntry() // (level desc, id asc) — deterministic
        val tombSet = tombB.value
        val plain = !filtering && tombSet.isEmpty
        val ok = rows.map(_._5)
        val accept: Int => Boolean =
          i => ok(i) && !tombSet.contains(g.ids(i))
        val acceptedCount = ok.indices.count(accept)
        // the walk's visited budget; at or under it the accepted set
        // goes straight to exact (see Graph.searchExact), past it the
        // walk runs with Lucene's visitedLimit overrun fallback
        val budget = math.max(ef, kk + 1)
        val scarce = acceptedCount <= budget
        val limit = math.max(budget, acceptedCount)
        qB.value.iterator.flatMap { case (qid, qv) =>
          val hits =
            if (plain) g.search(qv, kk + 1, ef) // +1 absorbs a self-match
            else if (scarce) g.searchExact(qv, budget, accept)
            else g.searchAccept(qv, kk + 1, ef, accept, limit)
          hits.filter(_._1 != qid).take(math.max(ef, kk))
            .map { case (cid, cos) => Row(qid, cid, cos) }
        }
      }
    }
    val scattered = spark.createDataFrame(scatteredRdd, schema)
    // the DELTA leg (Lucene NRT): recent streamed batches live in a
    // flat side store; each query unions an exact-cosine scan over it
    // (bounded by the fold threshold). Delta ids SHADOW their graph
    // nodes — the upsert contract — so the graph leg drops them; the
    // filter and the tombstones apply to the delta identically. The
    // frame is caller-supplied: one-shot paths read it fresh, a
    // [[Serving]] handle passes its PINNED snapshot (see [[open]]).
    val merged = delta match {
      case None => scattered
      case Some(delta0) =>
        val live = tombstones
          .map(dl => delta0.join(broadcast(dl.select("corpus_id")),
            Seq("corpus_id"), "left_anti"))
          .getOrElse(delta0)
        val accepted = allowed match {
          case Some(a) => live.join(
            a.select(col(a.columns.head).cast("long").as("corpus_id"))
              .distinct(), Seq("corpus_id"), "left_semi")
          case None => live
        }
        import spark.implicits._
        val qdf = q.toSeq.map { case (id, v) => (id, v.toSeq) }
          .toDF("query_id", "qvec")
        val deltaLeg = accepted.crossJoin(broadcast(qdf))
          .filter(col("query_id") =!= col("corpus_id"))
          .select(col("query_id"), col("corpus_id"),
            (Similarity.dot(col("qvec"), col("cvec")) /
              (Similarity.norm(col("qvec")) * Similarity.norm(col("cvec"))))
              .as("cosine"))
        scattered.join(broadcast(delta0.select("corpus_id")),
            Seq("corpus_id"), "left_anti")
          .unionByName(deltaLeg)
    }
    PerQueryTopK(merged, "cosine", desc = true, k, batch = Some(q.length))
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  /** The live tombstone set, if any delete batch has landed. */
  private[ops] def deletes(spark: SparkSession, out: String): Option[DataFrame] =
    CellStore.deletes(spark, out)

  // ----- the DELTA tier (Lucene NRT: stream into a flat side store,
  // ----- merge at query, fold into the graph past a threshold) ------

  /** Delta rows carry a `seq` (the committing batch id): the upsert
    * contract resolves at READ time — latest seq per id wins — so a
    * batch commit never has to destructively rewrite COMMITTED rows
    * before its own marker lands (a crash between such a rewrite and
    * the marker would lose the only copy of the superseded row while
    * the superseding one is still invisible). Shadowed history is
    * garbage-collected by the next swap (fold/purge/direct-add). */
  private val deltaSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("corpus_id", LongType),
      StructField("cvec", ArrayType(DoubleType)),
      StructField("seq", LongType)))
  }

  /** Complete (or discard) a delta swap a crash left half-done: a tmp
    * dir that finished its write (`_SUCCESS`) while the live dir is
    * gone holds the only copy — rename it in; any other tmp/trash
    * residue is superseded and drops. Runs at every delta mutation
    * entry (single-writer discipline, as every mutation here). */
  private[ops] def recoverDelta(spark: SparkSession, out: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dp = new org.apache.hadoop.fs.Path(deltaPath(out))
    val tmp = new org.apache.hadoop.fs.Path(s"$out/.delta_tmp")
    val trash = new org.apache.hadoop.fs.Path(s"$out/.delta_trash")
    if (fs.exists(tmp)) {
      if (!fs.exists(dp) &&
          fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
        fs.rename(tmp, dp)
      else fs.delete(tmp, true)
    }
    fs.delete(trash, true)
  }

  /** Swap the delta store's contents for `rows` — original aside to a
    * trash dir first, rewrite in second, so the only live copy is
    * never scheduled for deletion ([[recoverDelta]] completes a crash
    * at any point). READER CAVEAT (unlike the graph tier's layered
    * generations): the swap physically deletes files an in-flight
    * lazy plan may still reference — single-writer covers mutations,
    * not readers. A query that must tolerate concurrent delta
    * mutations goes through [[open]], which pins the resolved delta
    * alongside the graph snapshot. */
  private def swapDelta(spark: SparkSession,
                        fs: org.apache.hadoop.fs.FileSystem, out: String,
                        rows: DataFrame): Unit = {
    val dp = new org.apache.hadoop.fs.Path(deltaPath(out))
    val tmp = new org.apache.hadoop.fs.Path(s"$out/.delta_tmp")
    val trash = new org.apache.hadoop.fs.Path(s"$out/.delta_trash")
    fs.delete(tmp, true)
    fs.delete(trash, true)
    rows.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(dp)) fs.rename(dp, trash)
    fs.rename(tmp, dp)
    fs.delete(trash, true)
  }

  /** Split a batch tag (`<key><id>`, key = "" or 8 hex + '_') into
    * (key, batchId); None when the id half isn't numeric. */
  private def parseBatchTag(tag: String): Option[(String, Long)] = {
    val us = tag.lastIndexOf('_')
    val (key, idStr) =
      if (us >= 0) (tag.substring(0, us + 1), tag.substring(us + 1))
      else ("", tag)
    scala.util.Try(idStr.toLong).toOption.map(key -> _)
  }

  /** The compacted-marker HIGH WATERMARK of stream `key`: every batch
    * id ≤ it committed and had its marker reclaimed
    * ([[compactBatchMarkers]]); -1 when none were. */
  private def hwmOf(fs: org.apache.hadoop.fs.FileSystem, out: String,
                    key: String): Long =
    graft.util.FsIo.readSwapped(fs.getConf, hwmPath(out, key))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(-1L)

  /** The delta store's LIVE files: swap-produced part files plus
    * batch-keyed files whose batch COMMITTED — marker present, or
    * batch id at or under its stream's compacted-marker high
    * watermark — so a half-moved batch (crash, or another stream
    * mid-move) is invisible to readers and folds; its markerless
    * files are re-staged whole by the batch replay. One root listing
    * resolves every marker (bounded: [[compactBatchMarkers]] keeps the
    * marker population from growing with stream lifetime). */
  private def deltaFiles(fs: org.apache.hadoop.fs.FileSystem,
                         out: String): Seq[String] = {
    val dp = new org.apache.hadoop.fs.Path(deltaPath(out))
    if (!fs.exists(dp)) return Nil
    val rootNames = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .iterator.map(_.getPath.getName).toSet
    val hwms = scala.collection.mutable.Map.empty[String, Long]
    fs.listStatus(dp).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .filter { s =>
        val n = s.getPath.getName
        if (!n.startsWith("b")) true
        else {
          val cut = n.lastIndexOf('-')
          cut > 1 && {
            val tag = n.substring(1, cut)
            rootNames.contains(s"_hnsw_batch_$tag") ||
              parseBatchTag(tag).exists { case (key, id) =>
                id <= hwms.getOrElseUpdate(key, hwmOf(fs, out, key))
              }
          }
        }
      }
      .map(_.getPath.toString).toSeq
  }

  /** Reclaim the committed batch markers of stream `streamId` behind
    * one durable high-watermark file (round 16 — without it a
    * long-lived stream's per-batch root listing and marker population
    * grow O(total-batches-ever)): Structured Streaming commits a
    * stream's batch ids IN ORDER, so every id ≤ the newest committed
    * marker has committed, and the single hwm file carries the same
    * replay guarantee the markers did. The hwm commits (crash-safe
    * swap write) BEFORE any marker deletes, so no crash point weakens
    * replay protection. The delta seq counter is migrated first if
    * this store predates it (its legacy derivation counted markers).
    * Returns markers reclaimed. [[addBatchDelta]] invokes this
    * automatically past 64 live markers per stream. */
  def compactBatchMarkers(spark: SparkSession, out: String,
                          streamId: String = ""): Int = {
    val key = CellStore.streamKey(streamId)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ensureSeqCounter(fs, out)
    val mine = fs.listStatus(new org.apache.hadoop.fs.Path(out)).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith("_hnsw_batch_"))
      .flatMap { n =>
        parseBatchTag(n.stripPrefix("_hnsw_batch_"))
          .collect { case (k, id) if k == key => id }
      }.toSeq
    if (mine.isEmpty) return 0
    val m = math.max(mine.max, hwmOf(fs, out, key))
    graft.util.FsIo.writeSwapped(fs.getConf, hwmPath(out, key), m.toString)
    mine.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$out/_hnsw_batch_$key$id"),
        false)
    }
    mine.size
  }

  /** The delta COMMIT ORDINAL counter: read the durable value, or
    * migrate a pre-counter store by counting its batch markers (the
    * legacy seq derivation — valid exactly while no marker has been
    * compacted, which [[compactBatchMarkers]] guarantees by migrating
    * first). */
  private def readSeqCounter(fs: org.apache.hadoop.fs.FileSystem,
                             out: String): Long =
    graft.util.FsIo.readSwapped(fs.getConf, deltaSeqPath(out))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse {
        fs.listStatus(new org.apache.hadoop.fs.Path(out))
          .count(_.getPath.getName.startsWith("_hnsw_batch_")).toLong
      }

  private def ensureSeqCounter(fs: org.apache.hadoop.fs.FileSystem,
                               out: String): Unit =
    if (graft.util.FsIo.readSwapped(fs.getConf, deltaSeqPath(out)).isEmpty)
      graft.util.FsIo.writeSwapped(fs.getConf, deltaSeqPath(out),
        readSeqCounter(fs, out).toString)

  /** The delta's raw committed rows (shadowed history included) — the
    * PHYSICAL view: the fold threshold and the swap rewrites operate
    * here, so an update-heavy stream that keeps the resolved set
    * small still triggers the fold once the physical pile grows. */
  private def readDeltaRaw(spark: SparkSession,
                           out: String): Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = deltaFiles(fs, out)
    if (files.isEmpty) None
    else Some(spark.read.schema(deltaSchema).parquet(files: _*))
  }

  /** The committed delta rows, UPSERT-RESOLVED: one row per id — the
    * highest `seq` wins, where seq is the store's COMMIT ORDINAL
    * (a durable monotone counter bumped at each batch commit —
    * monotone across streams AND across checkpoint relaunches, so
    * latest-COMMIT-wins holds even when a restarted stream's batch
    * ids restart at 0; batch ids alone are stream-scoped and do not
    * order commits). A duplicated id within one batch (an
    * at-least-once upstream's caller bug) resolves deterministically:
    * the final tie-break is the vector's own string form — a TOTAL
    * order, so repeated reads of the same store can never flip the
    * pick. Read-time resolution is what lets a batch COMMIT without
    * destructively rewriting older committed rows first — no crash
    * point can lose the only live copy of an id. This is the MUTATION
    * view (no drop-intent filter); readers go through [[readDelta]]. */
  private def readDeltaResolved(spark: SparkSession,
                                out: String): Option[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    readDeltaRaw(spark, out).map { raw =>
      val w = Window.partitionBy(col("corpus_id"))
        .orderBy(col("seq").desc, col("cvec").cast("string").asc)
      raw.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** The READER view of the delta: [[readDeltaResolved]] minus the
    * ids of a COMMITTED drop intent — a crashed [[add]] whose
    * generation landed but whose delta drop did not must not serve
    * stale delta shadows over the freshly-rebuilt graph nodes in the
    * window before the next mutation entry physically completes the
    * drop ([[resolveDropIntent]]); an UNcommitted intent (the add's
    * generation never landed) leaves the delta rows serving — they
    * are still the only live copy. Queries never mutate: the filter
    * is read-side only. */
  private[ops] def readDelta(spark: SparkSession,
                             out: String): Option[DataFrame] =
    readDeltaResolved(spark, out).map { resolved =>
      committedDropIntentIds(spark, out) match {
        case Some(ids) =>
          resolved.join(broadcast(ids), Seq("corpus_id"), "left_anti")
        case None => resolved
      }
    }

  /** The staged ids of a drop intent WHOSE GENERATION COMMITTED —
    * i.e. an [[add]] that crashed after its `_gen_N` swap but before
    * its delta drop finished. None when no intent exists or the
    * intent's generation never landed (that add is void).
    *
    * Torn-write defense (round 17): the intent is written via the
    * crash-atomic [[graft.util.FsIo.writeSwapped]] protocol, AND the
    * recorded generation is validated against the store's actual
    * last generation — at any crash point the only legal values are
    * `last` (the add committed; finish the drop) or `last + 1` (the
    * add never landed; the intent is void). Anything else is a torn
    * or stale file (e.g. a legacy truncate-write crash leaving '1'
    * of '13', which CAN point at an older existing generation) and
    * must be treated as void — dropping on it would lose ids whose
    * replacement generation never landed. */
  private def committedDropIntentIds(spark: SparkSession,
                                     out: String): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val txt = graft.util.FsIo.readSwapped(conf, dropIntentPath(out))
      .getOrElse(return None)
    val gen = scala.util.Try(txt.trim.toInt).getOrElse(return None)
    val last = generations(fs, out).lastOption.getOrElse(0)
    if (gen != last || !fs.exists(new org.apache.hadoop.fs.Path(s"$out/_gen_$gen")))
      None // uncommitted (gen == last+1), torn, or stale — void
    else Some(spark.read.parquet(dropIntentIdsPath(out)).select("corpus_id"))
  }

  /** Finish (or void) a drop intent a crashed [[add]] left behind —
    * runs at every mutation entry (single-writer discipline): a
    * COMMITTED intent (its generation landed, so the graph holds the
    * newer copies) physically completes the delta drop; an
    * uncommitted one is discarded — the add never happened, the delta
    * rows stay the live copies. Idempotent. */
  private[ops] def resolveDropIntent(spark: SparkSession,
                                     out: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedDropIntentIds(spark, out) match {
      case Some(ids) => dropFromDelta(spark, out, ids)
      case None => // absent, unparsable, torn, or its gen never landed
    }
    graft.util.FsIo.deleteSwapped(
      spark.sparkContext.hadoopConfiguration, dropIntentPath(out))
    fs.delete(new org.apache.hadoop.fs.Path(dropIntentIdsPath(out)), true)
  }

  /** Drop `ids` (first column) from the delta store, if it overlaps —
    * the upsert discipline's delta half: a direct [[add]] or a purge
    * supersedes any delta row with the same id. One cheap overlap
    * probe per call; the rewrite only runs when something drops.
    * Operates on the MUTATION view (drop intents do not mask rows
    * here — completing an intent is exactly this call). */
  private def dropFromDelta(spark: SparkSession, out: String,
                            ids: DataFrame): Unit = {
    recoverDelta(spark, out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readDeltaResolved(spark, out).foreach { delta =>
      val idF = ids.select(col(ids.columns.head).cast("long").as("corpus_id"))
      if (!delta.join(broadcast(idF), Seq("corpus_id"), "left_semi")
            .isEmpty)
        swapDelta(spark, fs, out,
          delta.join(broadcast(idF), Seq("corpus_id"), "left_anti"))
    }
  }

  /** Exactly-once micro-batch ingest into the DELTA tier — the
    * streaming answer the graph tier deliberately lacks: appending to
    * an HNSW graph is insertion-order-dependent, so streamed batches
    * land in a flat side store (Lucene's NRT shape); every query
    * unions an exact-cosine leg over it (delta ids SHADOW their graph
    * nodes — the upsert contract), and once the delta holds
    * `foldThreshold`+ rows it folds into the graph via the order-free
    * touched-shard rebuild ([[foldDelta]]) — which is why answers are
    * batch-boundary-invariant end to end. Exactly-once protocol =
    * [[IvfIndex.addBatch]]'s: stream-scoped batch markers,
    * delete-output-first replay, stage-then-move into batch-keyed
    * file names. An id re-streamed in a later batch SHADOWS its older
    * delta row at read time ([[readDelta]]'s latest-`seq` resolution —
    * the commit itself never rewrites committed state, so no crash
    * point between batches can lose an id's only live copy). Returns
    * true if the batch applied, false on a replay skip. */
  def addBatchDelta(spark: SparkSession, out: String, vectors: DataFrame,
                    batchId: Long, streamId: String = "",
                    foldThreshold: Long = 100000L): Boolean = {
    val mk = readMarker(spark, out)
    val key = CellStore.streamKey(streamId)
    val marker = new org.apache.hadoop.fs.Path(
      s"$out/_hnsw_batch_$key$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // replay guard: the batch's own marker, or — once markers were
    // compacted away — its stream's high watermark
    if (fs.exists(marker) || batchId <= hwmOf(fs, out, key)) return false
    resolveDropIntent(spark, out)
    recoverDelta(spark, out)
    val dp = new org.apache.hadoop.fs.Path(deltaPath(out))
    if (!fs.exists(dp)) fs.mkdirs(dp)
    // delete-output-first: a crashed prior attempt's markerless files
    fs.listStatus(dp)
      .filter(f => f.isFile && f.getPath.getName.startsWith(s"b$key$batchId-"))
      .foreach(f => fs.delete(f.getPath, false))
    // seq = the store's COMMIT ORDINAL: a durable monotone counter
    // (crash-safe swap file; round 16 — the former count-every-marker
    // derivation cost O(total-batches-ever) listStatus per batch and
    // pinned markers forever) — monotone across streams and
    // relaunches (batch ids are stream-scoped and restart with
    // checkpoints; commit order does not), so readDelta's latest-seq
    // resolution IS latest-commit-wins. Single-writer discipline, as
    // every mutation here; a crashed attempt re-derives its seq on
    // replay (the counter advances only after the files landed, so a
    // replay reuses or skips a seq — never reuses one another batch
    // committed).
    val seq = readSeqCounter(fs, out) + 1
    val rows = vectors.select(col(mk.idCol).cast("long").as("corpus_id"),
        col(mk.vecCol).cast("array<double>").as("cvec"))
      .withColumn("seq", lit(seq))
    val stage = new org.apache.hadoop.fs.Path(s"$out/.delta_stage_$key$batchId")
    rows.write.mode("overwrite").parquet(stage.toString)
    fs.listStatus(stage)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(dp, f"b$key$batchId-$i%05d.parquet"))
      }
    fs.delete(stage, true)
    graft.util.FsIo.writeSwapped(fs.getConf, deltaSeqPath(out), seq.toString)
    fs.create(marker, true).close()
    // marker-population valve: past 64 live markers for this stream,
    // fold them into the hwm file (replay protection unchanged)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(out)).iterator
      .map(_.getPath.getName)
      .count(n => n.startsWith(s"_hnsw_batch_$key") &&
        parseBatchTag(n.stripPrefix("_hnsw_batch_")).exists(_._1 == key))
    if (live >= 64) compactBatchMarkers(spark, out, streamId)
    // fold on the PHYSICAL row count: shadowed history is only GC'd
    // by a swap, so an update-heavy stream re-streaming the same ids
    // must still hit the valve once the raw pile (which every query's
    // resolution window scans) outgrows the threshold
    val size = readDeltaRaw(spark, out).map(_.count()).getOrElse(0L)
    if (size >= foldThreshold) foldDelta(spark, out)
    true
  }

  /** Fold the delta into the graph: ONE [[add]]-shaped touched-shard
    * rebuild over the delta rows (order-free — the reason folding
    * commutes with batch boundaries), then clear the delta. A crash
    * between the generation commit and the delta clear re-folds on
    * the next call; add is an UPSERT rebuild, so the re-fold changes
    * nothing. Returns rows folded. */
  def foldDelta(spark: SparkSession, out: String): Long = {
    resolveDropIntent(spark, out)
    recoverDelta(spark, out)
    val mk = readMarker(spark, out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readDelta(spark, out) match {
      case None => 0L
      case Some(delta) =>
        val n = delta.count()
        if (n > 0)
          addInternal(spark, out,
            delta.select(col("corpus_id").as(mk.idCol),
              col("cvec").as(mk.vecCol)))
        fs.delete(new org.apache.hadoop.fs.Path(deltaPath(out)), true)
        n
    }
  }

  /** Delete vectors by id (Lucene soft delete): appends a tombstone
    * batch to `deletes/` — O(batch) I/O, the graph is untouched;
    * deleted ids stop surfacing from [[query]]/[[queryFiltered]]
    * immediately (they still ROUTE until [[purgeDeletes]] rebuilds
    * their shards — exactly a deleted doc's life in a Lucene segment
    * before a merge). `ids`' FIRST column is the id. */
  def removeIds(spark: SparkSession, out: String, ids: DataFrame): Unit =
    CellStore.appendTombstones(spark, out, ids, _.cast("long"))

  /** Physically reclaim tombstoned nodes: rebuild ONLY the shards
    * holding tombstoned ids (survivor membership can't move — shard =
    * hash(id)), write them as a NEW generation carrying just those
    * shards, commit with one `_gen_N` creation, then clear the
    * tombstones; untouched shards keep serving from their existing
    * generations untouched — I/O ∝ touched-shard bytes. Because
    * rebuild inserts ascending-id per shard, purge-then-query is
    * BIT-IDENTICAL to build-from-scratch over the live corpus
    * (spec-locked). Returns shards rebuilt. */
  def purgeDeletes(spark: SparkSession, out: String): Int = {
    val mk = readMarker(spark, out)
    resolveDropIntent(spark, out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val del = deletes(spark, out).getOrElse(return 0)
    // the delta tier holds the same ids' rows — reclaim both sides
    // before the tombstones clear (the refine-sidecar precedent)
    dropFromDelta(spark, out, del.select("corpus_id"))
    val old = readGraph(spark, out)
    val touched = old
      .join(broadcast(del.select("corpus_id")), Seq("corpus_id"), "left_semi")
      .select("shard").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(CellStore.deletesPath(out)), true)
      AnnTombstones.clearCount(spark, out)
      return 0
    }
    val live = old.filter(col("shard").isin(touched: _*))
      .join(broadcast(del.select("corpus_id")), Seq("corpus_id"), "left_anti")
      .select("shard", "corpus_id", "cvec")
    val rebuilt = rebuildShards(live, mk.dim, mk.m, mk.efC, mk.shards)
    commitGeneration(spark, out, rebuilt, touched)
    fs.delete(new org.apache.hadoop.fs.Path(CellStore.deletesPath(out)), true)
    AnnTombstones.clearCount(spark, out)
    touched.size
  }

  /** Add vectors (UPSERT): the touched shards (same membership
    * function as [[build]]) rebuild over (old ∖ incoming-ids) ∪ new
    * with ascending-id insertion, so add-then-query is BIT-IDENTICAL
    * to build-from-scratch over that set — the deterministic contract
    * (FAISS/Lucene appends are insertion-order-dependent; a
    * hash-oracled engine wants the order-free one). The new
    * generation carries ONLY the rebuilt shards (I/O ∝ touched-shard
    * bytes); BATCH adds, the Lucene flush discipline. A tombstoned id
    * stays dead even if re-added (the IvfIndex contract) until
    * [[purgeDeletes]] clears it. */
  def add(spark: SparkSession, out: String, vectors: DataFrame): Unit = {
    val mk = readMarker(spark, out)
    resolveDropIntent(spark, out)
    recoverDelta(spark, out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = vectors.select(col(mk.idCol).cast("long").as("corpus_id"))
    // upsert discipline vs the delta tier: a direct add supersedes any
    // delta row carrying the same id (else a stale delta row would
    // shadow the freshly-rebuilt graph node). ORDER (round 16, the
    // crash-safety fix): the generation commits FIRST, the delta drop
    // runs SECOND, under a durable intent staged BEFORE the commit —
    //  - drop-then-commit loses an id whose ONLY live copy was a delta
    //    row if the crash lands between the two (gone from both legs);
    //  - commit-then-drop without the intent leaves a stale delta row
    //    shadowing the fresh graph node forever;
    //  - the intent records the TARGET generation, so recovery
    //    ([[resolveDropIntent]]) can tell which side of the commit the
    //    crash fell on: generation landed → finish the drop (readers
    //    already mask the ids via [[readDelta]]'s intent filter);
    //    generation absent → the add never happened, void the intent,
    //    the delta rows stay the live copies.
    val overlaps = readDeltaResolved(spark, out).exists(dl =>
      !dl.join(broadcast(ids), Seq("corpus_id"), "left_semi").isEmpty)
    if (!overlaps) { addInternal(spark, out, vectors); return }
    val gNew = generations(fs, out).lastOption.getOrElse(0) + 1
    ids.distinct().coalesce(1)
      .write.mode("overwrite").parquet(dropIntentIdsPath(out))
    // writeSwapped, not a create-truncate-write: a torn-but-parseable
    // prefix of the generation number could point at an OLDER existing
    // generation and read as committed, dropping ids whose replacement
    // never landed (recovery additionally validates gen == last)
    graft.util.FsIo.writeSwapped(spark.sparkContext.hadoopConfiguration,
      dropIntentPath(out), gNew.toString)
    addInternal(spark, out, vectors) // commits _gen_gNew
    dropFromDelta(spark, out,
      spark.read.parquet(dropIntentIdsPath(out)).select("corpus_id"))
    graft.util.FsIo.deleteSwapped(spark.sparkContext.hadoopConfiguration,
      dropIntentPath(out))
    fs.delete(new org.apache.hadoop.fs.Path(dropIntentIdsPath(out)), true)
  }

  /** The graph-side add body — shared with [[foldDelta]], which must
    * NOT drop its own input from the delta before the rebuild reads
    * it ([[ops]]-visible so the crash specs can stop an add exactly
    * between its generation commit and its delta drop). */
  private[ops] def addInternal(spark: SparkSession, out: String,
                               vectors: DataFrame): Unit = {
    val mk = readMarker(spark, out)
    val newRows = assignShards(vectors, mk.shards, mk.idCol, mk.vecCol)
    val touched =
      newRows.select("shard").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    val old = readGraph(spark, out)
    // UPSERT semantics (free under rebuild, unlike a FAISS/Lucene
    // append): a re-added id replaces its old vector instead of
    // duplicating the node — old rows for incoming ids drop before
    // the union, so add-then-query ≡ build-from-scratch over
    // (old ∖ newIds) ∪ new
    val rebuildInput = old.filter(col("shard").isin(touched: _*))
      .select("shard", "corpus_id", "cvec")
      .join(newRows.select("corpus_id"), Seq("corpus_id"), "left_anti")
      .select("shard", "corpus_id", "cvec")
      .unionByName(newRows)
    val rebuilt = rebuildShards(rebuildInput, mk.dim, mk.m, mk.efC, mk.shards)
    commitGeneration(spark, out, rebuilt, touched)
  }

  /** A RESIDENT serving handle (Solr keeps each shard's live HNSW
    * graph resident between requests; this is that shape on Spark):
    * the generation-resolved graph is shard-exchanged ONCE and
    * persisted, so every subsequent query batch walks the cached
    * partitions — zero read, zero exchange on the unfiltered path
    * (a filtered query reuses the cached read but pays its own
    * exchange after the accept-flag join, which can re-plan the
    * partitioning away). The handle SNAPSHOTS the generations at
    * [[open]] — a mutation committed later is not visible until
    * reopen, exactly an open Lucene reader; tombstones re-read per
    * query (O(batch), the cheap fresh half). */
  final class Serving private[ops](spark: SparkSession, out: String,
      mk: Marker, private[ops] val partitioned: DataFrame,
      pinnedDelta: Option[DataFrame]) {
    def query(queries: DataFrame, k: Int, efSearch: Int = 64): DataFrame =
      scatterOver(spark, out, mk, partitioned, prePartitioned = true,
        queries, k, efSearch, None, pinnedDelta, deletes(spark, out))
    def queryFiltered(queries: DataFrame, k: Int, allowed: DataFrame,
                      efSearch: Int = 64): DataFrame =
      scatterOver(spark, out, mk, partitioned, prePartitioned = false,
        queries, k, efSearch, Some(allowed), pinnedDelta,
        deletes(spark, out))
    def close(): Unit = {
      partitioned.unpersist()
      pinnedDelta.foreach(_.unpersist())
      ()
    }
  }

  /** Open a resident [[Serving]] handle over the current generations.
    * The snapshot MATERIALIZES here (persist is lazy; an unpinned
    * handle would re-read generation dirs on first query, and a
    * [[reclaimGenerations]] landing in that window could delete a dir
    * the handle still resolves) — after the count the cached
    * partitions are the snapshot, and reclaim can't reach them. The
    * DELTA pins the same way (round 16): unlike the graph's layered
    * generations, the delta tier's swaps/folds physically delete the
    * files a lazy plan references, so an unpinned one-shot query
    * racing a concurrent fold/purge/add can fail mid-scan — a handle
    * is the documented way to read a store while another process
    * mutates it (the mutation side's single-writer discipline covers
    * writers only, never readers). Tombstones stay fresh per query
    * (O(batch), the cheap half). */
  def open(spark: SparkSession, out: String,
           storage: org.apache.spark.storage.StorageLevel =
             org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      : Serving = {
    val mk = readMarker(spark, out)
    val part = readGraph(spark, out)
      .repartition(mk.shards, col("shard")).persist(storage)
    part.count() // pin the snapshot before the handle escapes
    val delta = readDelta(spark, out).map(_.persist(storage))
    delta.foreach(_.count()) // same pin: folds can't unsee these rows
    new Serving(spark, out, mk, part, delta)
  }

  // ----- PINNED SNAPSHOTS (round 16 — the SegmentIndex pinGeneration
  // ----- precedent on the ANN store: a reproducible eval over a
  // ----- mutating index) ---------------------------------------------

  /** PIN the store's CURRENT state and return the snapshot token (the
    * generation ceiling): graph resolution freezes at generations ≤
    * the token (generation dirs are immutable once committed and
    * [[reclaimGenerations]] spares what a pin resolves), while the
    * two MUTABLE side states — the tombstone set and the delta tier,
    * both bounded (delete batches / foldThreshold) — MATERIALIZE into
    * the pin's own directory, so later removes, purges, streamed
    * batches, folds and reclaims can never move a pinned answer:
    * [[queryPinned]] reproduces this moment bit-for-bit (spec-locked,
    * and a fuzz op in AnnLifecycleProps). Release with
    * [[releaseSnapshot]]; an unreleased pin holds its generations on
    * disk — the SegmentIndex retention contract. */
  def pinSnapshot(spark: SparkSession, out: String): Int = {
    resolveDropIntent(spark, out)
    recoverDelta(spark, out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g = generations(fs, out).lastOption.getOrElse(0)
    fs.delete(new org.apache.hadoop.fs.Path(CellStore.pinDir(out, g)), true)
    deletes(spark, out).foreach(
      _.write.mode("overwrite").parquet(s"${CellStore.pinDir(out, g)}/deletes"))
    readDelta(spark, out).foreach(
      _.write.mode("overwrite").parquet(s"${CellStore.pinDir(out, g)}/delta"))
    fs.create(CellStore.pinMarker(out, g), true).close()
    g
  }

  /** Release a pin: its generations re-enter reclaim eligibility, its
    * materialized side state drops. */
  def releaseSnapshot(spark: SparkSession, out: String, token: Int): Unit =
    CellStore.releasePin(spark, out, token)

  /** Query a PINNED snapshot: the graph resolved at generations ≤
    * `token`, the pin's materialized tombstones and delta — the exact
    * pre-mutation serving state, whatever landed since. */
  def queryPinned(spark: SparkSession, out: String, token: Int,
                  queries: DataFrame, k: Int, efSearch: Int = 64,
                  allowed: Option[DataFrame] = None): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(CellStore.pinMarker(out, token)),
      s"no pin $token on $out")
    def part(name: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"${CellStore.pinDir(out, token)}/$name")
      if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }
    scatterOver(spark, out, readMarker(spark, out),
      readGraphUpTo(spark, out, token), prePartitioned = false,
      queries, k, efSearch, allowed, part("delta"), part("deletes"))
  }

  /** Reclaim fully-SHADOWED generations (the `retainGenerations`
    * precedent, [[graft.index.SegmentIndex]]): a generation every one
    * of whose shards is re-carried by a NEWER generation serves no
    * current reader — its marker and data dir can go. The newest
    * `retain` generations are kept regardless (the in-flight-reader
    * window: a reader that resolved just before the latest commits
    * may still be scanning a shadowed dir); gen 0 (the build layout)
    * is never reclaimed — [[readGraph]] reads it unconditionally for
    * whatever shards no generation carries. PINNED snapshots hold
    * their resolutions: a generation that any pin's ceiling-resolution
    * still reads is kept until [[releaseSnapshot]]. Returns
    * generations removed. Single-writer discipline, as every mutation
    * here. */
  def reclaimGenerations(spark: SparkSession, out: String,
                         retain: Int = 2): Int = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = generations(fs, out)
    if (gens.size <= retain) return 0
    val carriedBy: Map[Int, Set[Int]] =
      gens.map(g => g -> shardsOf(spark, out, g).toSet).toMap
    // the generations a resolution at ceiling `cap` actually reads:
    // for each shard, the newest carrying generation ≤ cap
    def resolved(cap: Int): Set[Int] = {
      val carried = scala.collection.mutable.Set.empty[Int]
      val used = scala.collection.mutable.Set.empty[Int]
      gens.filter(_ <= cap).reverse.foreach { g =>
        val fresh = carriedBy(g) -- carried
        if (fresh.nonEmpty) { carried ++= fresh; used += g }
      }
      used.toSet
    }
    val pinnedNeeds: Set[Int] = CellStore.pins(fs, out).flatMap(resolved)
    val candidates = gens.dropRight(retain)
    val removed = candidates.filterNot(pinnedNeeds).filter { g =>
      val newer = gens.filter(_ > g)
      carriedBy(g).forall(s => newer.exists(n => carriedBy(n).contains(s)))
    }
    removed.foreach { g =>
      // marker first: once it's gone no new reader resolves the dir,
      // and a crash between the two deletes leaves only an orphaned
      // (never-again-resolved) data dir, not a half-resolved store
      fs.delete(new org.apache.hadoop.fs.Path(s"$out/_gen_$g"), false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$out/g$g"), true)
    }
    removed.size
  }

  /** Write the rebuilt shards as the next generation and commit with
    * one `_gen_N` file whose content is the carried shard list — the
    * `segments_N` precedent: a crash before the marker leaves an
    * invisible partial dir a rerun overwrites; readers resolve each
    * shard to its newest carrying generation ([[readGraph]]). */
  private def commitGeneration(spark: SparkSession, out: String,
                               graph: DataFrame, shards: Seq[Int]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gNew = generations(fs, out).lastOption.getOrElse(0) + 1
    graph.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$out/g$gNew/graph")
    val os = fs.create(new org.apache.hadoop.fs.Path(s"$out/_gen_$gNew"), true)
    try os.write(shards.sorted.mkString(",").getBytes("UTF-8"))
    finally os.close()
  }

}
