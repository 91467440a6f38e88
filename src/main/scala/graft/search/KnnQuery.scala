package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Solr dense-vector search surface: the `{!knn f=<field> topK=<N>}[v1,
 * v2, ...]` query parser (Solr 9 `KnnQParserPlugin` syntax — the
 * modern query surface over the kind of index the reference builds;
 * reference scope per SURVEY §2, vector search itself is part of the
 * L8-L11 ANN family).
 *
 * Semantics (declared, deterministic):
 *  - the bracketed literal is the query vector; `f` names the
 *    array-typed column; `topK` bounds the response;
 *  - similarity = cosine (Solr's `DenseVectorField` default), ordered
 *    (round(score, 6) desc, id asc) so the cut is reproducible
 *    cross-engine (the q25 discipline);
 *  - a pre-filter (Solr 9.1's fq preFilter contract) restricts the
 *    candidate set BEFORE the topK cut, so the response still carries
 *    topK survivors — not Lucene's post-filtering.
 *
 * Execution: EXACT one-pass scan. The query vector folds into the
 * plan as a literal array; the fused sequential dot product
 * ([[graft.ops.Similarity.dot]]) plus a driver-computed query norm
 * leave one multiply-divide per row; the global cut is a distributed
 * TakeOrdered (bounded per-partition heaps), never a single-partition
 * window. Solr answers this with an HNSW graph walk — approximate by
 * construction; at 100 TB the Spark-shaped approximate paths are the
 * LSH/IVF family (L9/L10, `ops/Similarity.scala`), and this parser is
 * the exact-scoring surface those are measured against.
 */
object KnnQuery {

  final case class KnnRequest(field: String, topK: Int, vector: Seq[Double])

  private val Header = """\{!knn\s+([^}]*)\}\s*\[([^\]]*)\]\s*""".r

  /** Parse `{!knn f=emb topK=10}[0.1,0.2,...]`. Local params may come
    * in either order; both `f` and `topK` are required (Solr defaults
    * topK=10 — we require it explicit so query intent is visible). */
  def parse(q: String): KnnRequest = q.trim match {
    case Header(params, vec) =>
      val kv = params.trim.split("\\s+").filter(_.nonEmpty).map { p =>
        val i = p.indexOf('=')
        require(i > 0, s"malformed local param '$p' in: $q")
        p.substring(0, i) -> p.substring(i + 1)
      }.toMap
      def param(k: String) = kv.getOrElse(k,
        throw new IllegalArgumentException(s"{!knn} needs $k= in: $q"))
      val field = param("f")
      val topK = param("topK").toInt
      require(topK > 0, s"topK must be positive in: $q")
      val v = vec.split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
      require(v.nonEmpty, s"empty query vector in: $q")
      KnnRequest(field, topK, v)
    case _ => throw new IllegalArgumentException(s"not a {!knn} query: $q")
  }

  /**
   * Execute a parsed request against a DataFrame holding the vector
   * column. Output: (id, score) — score = round(cosine, 6), ordered
   * (score desc, id asc), topK rows.
   */
  def search(df: DataFrame, req: KnnRequest, idCol: String,
             preFilter: Option[Column] = None): DataFrame = {
    // query norm is pure literal arithmetic — computed once on the
    // driver, not per row
    val qnorm = math.sqrt(req.vector.map(x => x * x).sum)
    require(qnorm > 0, "zero query vector")
    val qvec = typedlit(req.vector)
    val base = preFilter.fold(df)(df.filter)
    val scored = base.select(col(idCol).as("id"),
        col(req.field).cast("array<double>").as("__v"))
      .withColumn("score", round(
        graft.ops.Similarity.dot(col("__v"), qvec) /
          (graft.ops.Similarity.norm(col("__v")) * lit(qnorm)), 6))
    scored.select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(req.topK)
  }

  /** One-call surface: parse + optional pre-filter query string
    * (compiled by [[SolrQueryString]] over `df`'s schema) + search. */
  def knn(df: DataFrame, q: String, idCol: String,
          fq: Option[String] = None,
          textFields: Set[String] = Set.empty): DataFrame = {
    val req = parse(q)
    val pre = fq.map(f => SolrQueryString.compile(f, df.schema, req.field, textFields))
    search(df, req, idCol, pre)
  }

  /**
   * Serve a batch of literal `{!knn}` requests FROM THE PERSISTED
   * SHARDED HNSW STORE — Solr 9's actual execution shape: the `{!knn}`
   * qparser compiles onto one Lucene HNSW graph per shard with a
   * scatter-gather merge, never a corpus scan ([[search]] above is the
   * exact-scoring surface that walk is measured against;
   * [[graft.ops.RankingEval.annRecallAtK]] arbitrates).
   *
   * `requests`: (query_id, request-string) pairs — the id keys the
   * response rows and drives the family's self-exclusion convention.
   * All requests of a batch must share `f=` (checked against the
   * store's vector column) and `topK` — one scatter serves the batch.
   *
   * `fq` (Solr 9.1's preFilter contract composed with `{!knn}`):
   * compiled by [[SolrQueryString]] against `meta`'s schema, evaluated
   * there, and the matching ids become the graph walk's acceptDocs
   * set — collection-time acceptance routing THROUGH rejected nodes,
   * with the scarce-filter exact fallback
   * ([[graft.ops.HnswIndex.queryFiltered]] semantics, q314's
   * contract). Output: (query_id, rank, corpus_id, cosine), topK rows
   * per query.
   */
  def knnStore(spark: org.apache.spark.sql.SparkSession, store: String,
               requests: Seq[(Long, String)],
               meta: Option[DataFrame] = None, metaIdCol: String = "vec_id",
               fq: Option[String] = None,
               textFields: Set[String] = Set.empty,
               efSearch: Int = 64, nprobe: Int = 8,
               rerank: Int = 32): DataFrame = {
    require(requests.nonEmpty, "empty {!knn} request batch")
    val parsed = requests.map { case (id, q) => (id, parse(q)) }
    val topKs = parsed.map(_._2.topK).distinct
    require(topKs.size == 1,
      s"batch store dispatch needs one shared topK, got $topKs")
    val fields = parsed.map(_._2.field).distinct
    require(fields.size == 1,
      s"batch store dispatch needs one shared f=, got $fields")
    val allowed = fq.map { f =>
      val m = meta.getOrElse(throw new IllegalArgumentException(
        "{!knn} fq pre-filter needs a metadata frame (meta=)"))
      m.filter(SolrQueryString.compile(f, m.schema, fields.head, textFields))
        .select(col(metaIdCol))
    }
    val vecs = parsed.map { case (id, r) => (id, r.vector.toArray) }
    val fld = Some(fields.head)
    // TIER DISPATCH by store marker (round 17 — one request string,
    // any SELF-CONTAINED persisted tier): HNSW (graph walk), else the
    // cell-store registry — MRL (prefix probe + sidecar re-rank),
    // IVF-PQ with refine sidecar (ADC + sidecar re-rank), raw IVF
    // (probe + exact). The SQ8 and binary tiers hold codes only —
    // their exact re-rank needs the caller's corpus frame
    // (Graft.querySq8Index / queryBinaryIvfIndex), so their codecs
    // refuse a {!knn} request and say so; an unknown path is refused.
    if (graft.ops.HnswIndex.isHnswStore(spark, store))
      graft.ops.HnswIndex.queryVectors(spark, store, vecs,
        k = topKs.head, efSearch = efSearch, allowed = allowed,
        field = fld)
    else graft.ops.CellStore(spark, store).queryVectors(spark, store, vecs,
      k = topKs.head, nprobe = nprobe, rerank = rerank, allowed = allowed,
      field = fld)
  }
}
