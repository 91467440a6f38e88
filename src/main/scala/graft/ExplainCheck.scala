package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: captures `explain("formatted")` for representative
  * queries into docs/PLANS.md — the plan-shape evidence (pushdown,
  * broadcast, partial aggregation, codegen spans) for review. */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val interesting = Seq(
      "q02_pricing_summary" -> "partial->final aggregate, 4-column pruned scan",
      "q11_term_query" -> "StringContains pushed to the parquet scan, one codegen stage",
      "q12_shard_counts" -> "custom solr_shard expression aggregated map-side (4 groups shuffle, not rows)",
      "q14_join_revenue" -> "both dimension tables broadcast, column-pruned scans",
      "q44_salted_dedup" -> "two-phase (key,salt)->key aggregation: hot keys split across buckets",
      "q25_cosine_topk" -> "fused array_dot, norms hoisted per row, query side broadcast",
      "q16_topk_orders" -> "global top-k as distributed TakeOrderedAndProject (no single-partition window)",
      "q22_minhash_pairs" -> "fused minhash_sig/poly_shingles kernels, banded equi-join (no cross join)",
      "q63_pii_redact" -> "regexp chain fused into one shuffle-free codegen stage over the scan",
      "q67_decontaminate" -> "benchmark grams broadcast; corpus grams explode map-side, never shuffled for the join",
      "q70_asof_join" -> "union of both sides + ONE hash exchange + window — no join operator, no range scan",
      "q71_range_join" -> "interval bins equi-joined (broadcast), BETWEEN as residual filter — no nested loop",
      "q74_bm25" -> "one corpus explode -> term aggregates; doc-freq and corpus stats broadcast back",
      "q75_postings" -> "per-term window rank feeding capped collect_list — df exact, lists bounded",
      "q96_json_facet" -> "nested facet: tiny top-5 parent bucket list broadcast back onto child buckets",
      "q97_spell_collate" -> "length prefilter (cheap compare) ahead of levenshtein over the vocabulary; 3-row query side broadcast",
      "q98_function_query" -> "1-row max(date) broadcast; recip score is scan-local codegen; global top-20 as TakeOrdered",
      "q99_geofilt" -> "bbox prune (comparisons only) ahead of the haversine residual — the spatial-grid pattern",
      "q101_block_join" -> "child filter + partial aggregation shrink the probe BEFORE the parent join",
      "q102_join_qparser" -> "from-side distinct broadcast as a left-semi hash join — the {!join} filter shape",
      "q108_index_dsv2" -> "DataSourceV2 index scan: term pushed to posting lookups, stored fields pruned, IsNotNull absorbed",
      "q119_index_range" -> "range bounds pushed as ONE term-dictionary range scan; zone-map stats skip segments unopened",
      "q120_index_topn" -> "TopN pushed per shard (bounded heap); Spark's TakeOrderedAndProject merges the ≤shards×N candidates",
      "q121_index_facet" -> "GROUP BY field COUNT(*) answered from per-shard termStats postings — no stored-doc scan at all",
      "q126_index_must" -> "nested boolean ((OR) AND range) pushed whole: posting union ∩ dictionary range scan per shard",
      "q127_index_not" -> "MUST_NOT + presence pushed whole: (presence − term postings) ∩ presence walk, zero residual",
      "q128_index_pivot" -> "facet.pivot: two-field GROUP BY + fq pushed whole — per-segment forward views from postings, stored docs never read",
      "q129_index_json_facet" -> "JSON-facet nested stats: GROUP BY + COUNT/MIN/MAX + fq pushed whole — stat postings walked through the group's forward view",
      "q130_index_stats_fq" -> "stats.field + fq: ungrouped MIN/MAX/COUNT under a pushed filter — stat postings ∩ match set per shard",
      "q131_index_range_facet" -> "facet.range: pushed facet counts bucketed over the vocabulary-sized frame, broadcast spine keeps empty buckets",
      "q132_index_num_range" -> "typed numeric fields: BETWEEN + double bound push as NUMERIC-order dictionary ranges (sortable encoding), typed columns out, zero residual",
      "q133_index_num_stats" -> "typed grouped stats: plong buckets + pdouble min/max decode from the sortable encoding, one pushed numeric fq",
      "q134_index_time_range" -> "typed temporal fields: timestamp + date bounds push as one AND of chronological dictionary ranges, typed columns out",
      "q136_index_unique" -> "unique()/cardinality: outer distinct-count rides the pushed pivot partials — vocabulary²-bounded, stored docs never read",
      "q137_index_percentiles" -> "exact percentiles: pushed facet partials -> vocabulary-sized cumulative window + broadcast fraction spine",
      "q138_index_group_sum" -> "grouped SUM/COUNT(field): GROUP BY + typed sums + numeric fq pushed whole, per-shard bucket partials merged by Spark",
      "q141_json_facet_api" -> "JSON Facet API: avg -> pushed sum+count partials, nested sub-facet -> pivot pushdown, <=5-row parent broadcast onto ranked child",
      "q144_substring_dedup" -> "exact substring dedup: fused shingle kernel map-side, ONE window-count shuffle on the gram key, span fold + rebuild shuffle-free",
      "q145_semantic_dedup" -> "SemDeDup: sign-bucket equi-join (one hash shuffle), pairwise cosine kernels row-local, max over pairs order-independent",
      "q150_stream_rollup" -> "streaming-expr rollup: pushed index scan feeding a partial->final hash aggregate — no sorted-stream reduce",
      "q151_stream_join_top" -> "streaming-expr innerJoin+top: two pushed index scans, hash join on id, global top-10 as TakeOrderedAndProject",
      "q155_solr_sql" -> "Parallel SQL over the collection view: the same DSv2 pushdowns fire through spark.sql",
      "q162_delta_dedup" -> "incremental exact dedup: batch anti-joins the corpus fingerprint set — fingerprints move, documents never",
      "q233_seed_classifier" -> "seed classifier: weight table broadcast onto token occurrences, per-doc partial aggregation — corpus never reshuffles whole",
      "q236_pref_pairs" -> "preference pairs: two window sorts + final aggregate all riding ONE prompt-key exchange",
      "q241_stream_cartesian" -> "cartesianProduct+analyze(): map-side explode under the rollup's partial aggregate — one exchange total",
      "q242_stupid_backoff" -> "Stupid Backoff: scored trigrams LEFT-join the three gram models, per-doc aggregate partial-aggregates map-side",
      "q244_source_overlap" -> "source overlap: gram->source-set aggregation + MAP-SIDE pair expansion — no gram self-join",
      "q253_edismax" -> "edismax: tokenize-once-per-field matcher fused into the scan, TakeOrdered cut — no shuffle before the top-k",
      "q260_retrieval_eval" -> "retrieval eval: literal discount arrays in codegen, one query-key aggregation over the judged top-k",
      "q202_knn_qparser" -> "{!knn}: literal query vector folded into ONE codegen'd dot product per row, global cut as TakeOrderedAndProject — no broadcast, no window",
      "q204_proximity_search" -> "sloppy-phrase proximity: one rlike predicate in the scan stage — no tokenize, no explode, no shuffle",
      "q206_dup_ngram_cov" -> "dup-ngram coverage: both fused kernels in one scan-stage projection — zero exchanges in the whole plan",
      "q221_frame_sample" -> "byte-frame sampling: offsets bounded pre-explode (Generate under the scan), binary substring row-local",
      "q226_sentence_chunks" -> "sentence chunking: ONE hash exchange on doc_id — window prefix-sum and the ordered aggregate reuse the same partitioning",
      "q292_pq_ann" -> "PQ ADC: codes from one fused kernel pass (codebooks as codegen reference objects), query tables broadcast, per-pair score is an m-lookup fold — corpus vectors read once at encode, never at scoring",
      "q294_ivfpq_persisted" -> "persisted IVF-PQ: the code store's probed cells read under a PARTITION filter (pruning at planning), ADC scoring joins broadcast (query, cell, table) rows — no raw vectors anywhere in the plan",
      "q296_index_array_filter" -> "multivalued array_contains routed to a posting lookup by the injected TermFilterPushdown rule (pushedTerm on the scan), Filter kept residual — tag filtering reads matching docs only, not the store",
      "q299_index_analyzed_filter" -> "analyzed graft_term_match pushed to a token posting lookup; the residual re-check runs THE index-time analyzer as a codegen'd kernel inside the scan stage",
      "q301_index_array_or" -> "OR of multivalued terms pushed WHOLE as a posting union (same-field branches collapse to one multi-term lookup) — a partially-pushable OR never pushes",
      "q304_index_analyzed_array" -> "exists(f, t -> graft_term_match(t, …)) on an analyzed MULTIVALUED field pushed as a token posting lookup — postings index every value's tokens, the lambda re-check stays residual",
      "q302_ivfpq_refine_persisted" -> "persisted two-stage refine: candidate ids collected once (bounded) and PUSHED as an In filter into the raw-corpus scan — re-rank I/O ∝ candidates, never corpus-wide",
      "q305_ivfpq_refine_stored" -> "refineStore sidecar serving: raw-vector fetch under a cell PARTITION filter (probed cells only) AND a pushed id In — the fetch reads probed-cell row groups holding candidates, nothing else",
      "q307_ivf_filtered" -> "filtered ANN (IDSelector): the allowed-id semi-join applies AFTER probe pruning, so its left side is probed mass only; Catalyst picks broadcast vs shuffle by the id set's size",
      "q308_ann_drift" -> "drift probe: centroids broadcast as codegen reference objects, one scan-local milli-distance projection per cohort, a 1-row aggregate each — no shuffle wider than the final union",
      "q321_binary_ivf" -> "bucketed binary ANN: the cell-partitioned code store read under a PARTITION filter (probed cells only — the Hamming scan term is probed mass, not corpus), centroid Hamming as literal-code expressions, the exact re-rank candidate-id-pushed into the corpus read",
      "q322_hnsw_stream_delta" -> "HNSW graph+delta merge: the scatter leg's per-shard walk unions an exact-cosine delta leg (delta bounded by the fold threshold, broadcast query batch), delta ids anti-joined out of the graph leg (upsert shadowing) — one PerQueryTopK (partial top-k per partition, one merge) cuts both legs' top-k",
      "q337_mrl_persisted" -> "store-served Matryoshka: BOTH stages read under cell PARTITION filters (probed prefix cells only) — the prefix scan touches prefixDim/dim of the bytes in probed cells, the sidecar re-rank joins broadcast candidates inside the same probed set",
      "q341_colbert_token_store" -> "token-level ColBERT fetch stage: the doc-token read under a BUCKET partition filter (candidates' buckets only) with the candidate frame broadcast — the corpus-scale work happened in the (collected) per-token probe stage, itself cell-partition-pruned (plan-locked in LateInteractionSpec)")
    // prose riders appended after specific plans (regenerated with them)
    val postscript = Map(
      "q108_index_dsv2" ->
        ("Row materialization (round 11): when the projection carries no " +
          "array-surfaced field and no pushed sort, rows assemble COLUMNAR " +
          "from the `.dvd` forward columns of exactly the projected fields " +
          "(dict converted once per segment×field, two array reads per " +
          "column per row) — the `.fld` stored blocks never open, so scan " +
          "I/O is ∝ projected columns instead of full row width. Two " +
          "measured gates keep it off where it loses: match sets under " +
          "1/32 of a segment keep the per-hit stored seeks, and the " +
          "projection must prune ≥ half the table's columns. Segments " +
          "lacking a column fall back to stored fetch per-segment with " +
          "identical results."))
    val sb = new StringBuilder
    sb.append("# Captured physical plans (generated by graft.ExplainCheck at sf0.001)\n")
    sb.append("\nRegenerate: `sbt \"runMain graft.ExplainCheck\"`.\n")
    for ((q, why) <- interesting) {
      sb.append(s"\n## $q — $why\n\n```\n")
      val df = SparkEntry.queries(q)(spark, d)
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
      postscript.get(q).foreach(p => sb.append(s"\n$p\n"))
    }
    // HNSW generation-layered read (round 14): not reachable through a
    // q-entry's returned frame (the graph walk runs behind a LogicalRDD
    // boundary), so the layered READ plan is captured directly — the
    // evidence that a mutated store reads each shard from its newest
    // carrying generation under partition filters, never a full rescan.
    locally {
      val store = java.nio.file.Files
        .createTempDirectory("explain_hnsw_").toString
      val emb = Tables.embeddings(spark, d)
      graft.ops.HnswIndex.build(emb, store, dim = 64)
      graft.ops.HnswIndex.add(spark, store,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
          .select(org.apache.spark.sql.functions
            .col("vec_id").plus(10000).as("vec_id"),
            org.apache.spark.sql.functions.col("embedding")))
      sb.append("\n## hnsw layered read — after a single-vector add: the " +
        "touched shard reads from g1 under a PartitionFilter, every " +
        "other shard from the base build under the complementary " +
        "filter — mutation I/O and re-read both ∝ touched shards\n\n```\n")
      sb.append(graft.ops.HnswIndex.readGraph(spark, store)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n\nThe filtered-search accept flag rides the same " +
        "frame: `queryFiltered` left-outer-joins the allowed-id set " +
        "onto this read (Catalyst picks broadcast vs shuffle by filter " +
        "size) before the per-shard walk, so the filter never collects " +
        "to the driver.\n")
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("docs"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("docs/PLANS.md"), sb.toString)
    println(s"wrote docs/PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
