package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** The plan properties that matter at 100 TB, as test data: filters pushed
  * to the parquet scan, pruned read schemas, broadcast joins where a side
  * is small, codegen kernels, and no cartesian or all-pairs nested loop.
  * Each [[PlanAudits.Want]] row names a registered query and the needles
  * its formatted physical plan must and must not contain. `QueriesSpec`
  * checks the rows without a `conf` on the build its smoke check already
  * makes; `PlanAuditSpec` builds the rows with one, and holds the audits
  * that need a plan other than a query's final one. */
object PlanAudits {
  /** `conf` is set while the query's plan is built and explained, then restored. */
  case class Want(query: String, mustContain: Seq[(String, String)],
      mustNotContain: Seq[(String, String)] = Seq.empty, conf: Map[String, String] = Map.empty)

  val audits: Seq[Want] = Seq(
    Want("q2_filter_project", Seq(
      "filter pushed to scan" -> "PushedFilters: [IsNotNull(l_shipdate)",
      "column-pruned read" -> "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp>")),
    Want("q3_join", Seq(
      "dimension broadcast" -> "BroadcastHashJoin")),
    Want("q11_multi_join", Seq(
      "star dims broadcast" -> "BroadcastHashJoin")),
    Want("q1_agg", Seq(
      "partial aggregation" -> "HashAggregate",
      "map-side combine" -> "partial_sum")),
    Want("q31_dedup_embed", Seq(
      "codegen dot kernel in verify filter" -> "float_vec_dot"),
      mustNotContain = Seq(
        "no cartesian candidate generation" -> "CartesianProduct",
        "no all-pairs nested-loop join" -> "BroadcastNestedLoopJoin")),
    Want("q33_ann_lsh", Seq(
      "bucket equi-join candidates" -> "hyperplane_sig",
      "bounded-heap rerank aggregate" -> "scored_top_k"),
      mustNotContain = Seq(
        "no cartesian candidate generation" -> "CartesianProduct",
        "no all-pairs nested-loop join" -> "BroadcastNestedLoopJoin",
        "no scored-row window shuffle+sort" -> "Window")),
    // (a Window and a broadcast cross ARE expected here — both over the
    // tiny queries×nCells probe-assignment table; the scored corpus rows
    // go through the partition-pruned scan + the heap aggregate, pinned
    // below, and corpus scoring itself is the cell equi-join)
    Want("q57_ann_ivf_probe", Seq(
      "probe scan partition-pruned on cell" -> "PartitionFilters: [cell",
      "corpus scored via cell equi-join" -> "BroadcastHashJoin",
      "bounded-heap rerank aggregate" -> "scored_top_k")),
    // the q83 SparkEntry binding of the IVF+PQ probe (the ivfpq_probe
    // audit in PlanAuditSpec re-checks the same shape on a throwaway index, plus
    // the file-level strict-subset assertion)
    Want("q83_ann_ivfpq", Seq(
      "probe scan partition-pruned on cell" -> "PartitionFilters: [cell",
      "ADC shortlist + rerank via bounded heap" -> "scored_top_k"),
      mustNotContain = Seq(
        "no nested-loop fallback" -> "BroadcastNestedLoopJoin",
        "no cartesian" -> "CartesianProduct")),
    Want("q88_bloom_join", Seq(
      "bloom membership predicate pre-filters the fact side" -> "might_contain",
      "map-side combine after the join" -> "partial_sum"),
      mustNotContain = Seq(
        "no nested-loop fallback" -> "BroadcastNestedLoopJoin",
        "no cartesian" -> "CartesianProduct")),
    Want("q85_stratified_sample", Seq(
      "bounded-heap per-stratum sample" -> "scored_top_k"),
      mustNotContain = Seq(
        "no per-stratum window sort of the corpus" -> "Window")),
    Want("q87_contamination_score", Seq(
      "benchmark gram set broadcast" -> "BroadcastHashJoin")),
    Want("q94_bucketed_join", Seq(
      "co-located sort-merge join" -> "SortMergeJoin"),
      mustNotContain = Seq(
        "no join-key exchange (bucketing's whole point)" -> "Exchange hashpartitioning(o_orderkey",
        "no cartesian" -> "CartesianProduct")),
    Want("q93_salted_join", Seq(
      "join runs on the salted key" -> "__salt",
      "build side replicated by a generator" -> "Generate"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    Want("q91_incremental_agg", Seq(
      "delta aggregates with map-side combine" -> "partial_sum"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // (the trailing ORDER BY is the oracle protocol's determinism sort —
    // the upsample itself is Generate over a projection, no hash shuffle)
    Want("q86_epoch_upsample", Seq(
      "copy explosion is a generator over a projection" -> "Generate"),
      mustNotContain = Seq(
        "no hash shuffle in the upsample path" -> "Exchange hashpartitioning",
        "no per-doc window" -> "Window")),
    Want("q90_more_like_this", Seq(
      "query-side weights broadcast" -> "BroadcastHashJoin",
      "bounded-heap top-k" -> "scored_top_k"),
      mustNotContain = Seq(
        "no all-pairs candidate generation" -> "CartesianProduct",
        "no nested-loop fallback" -> "BroadcastNestedLoopJoin",
        "no scored-row window shuffle+sort" -> "Window")),
    Want("q32_ann_brute", Seq(
      "query side broadcast" -> "BroadcastNestedLoopJoin")),
    Want("q58_decontaminate", Seq(
      "benchmark gram set broadcast" -> "BroadcastHashJoin",
      "anti-join keeps clean docs" -> "LeftAnti"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop contamination probe" -> "BroadcastNestedLoopJoin")),
    Want("q60_pack_sequences", Seq(
      "single per-shard window" -> "Window"),
      mustNotContain = Seq(
        "no extra shuffle beyond the shard window" -> "CartesianProduct")),
    Want("q51_asof_join", Seq(
      "single-shuffle window formulation" -> "Window"),
      mustNotContain = Seq(
        "no nested-loop range join" -> "BroadcastNestedLoopJoin",
        "no cartesian" -> "CartesianProduct")),
    Want("q52_interval_join", Seq.empty,
      mustNotContain = Seq(
        "no nested-loop range join" -> "BroadcastNestedLoopJoin",
        "no cartesian" -> "CartesianProduct")),
    // PII scrub is one codegen projection over the scan — the only
    // exchange in the plan is the final presentation orderBy (range),
    // never a hash shuffle.
    Want("q70_pii_redact", Seq(
      "redaction inline in the projection" -> "regexp_replace"),
      mustNotContain = Seq(
        "no hash shuffle in a pure scan+project" -> "Exchange hashpartitioning")),
    // per-doc top-terms rerank goes through the bounded-heap aggregate
    // (map-side partial top-k), NOT a row_number window over the full
    // (doc, term) table
    Want("q72_tfidf", Seq(
      "bounded-heap rerank aggregate" -> "scored_top_k"),
      mustNotContain = Seq(
        "no scored-row window shuffle+sort" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // funnel = cascaded conditional min-aggs: stage timestamps come from
    // map-side partial_min groupBys + user_id equi-joins — never a Window
    // (per-user sort) over the raw event stream
    Want("q75_funnel", Seq(
      "map-side partial min per stage" -> "partial_min"),
      mustNotContain = Seq(
        "no per-user window over raw events" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // retention matrix: distinct + min-agg + one user_id equi-join; the
    // only rows shuffled are (user, day) pairs, the output is days²
    Want("q76_retention", Seq(
      "map-side partial cohort min" -> "partial_min"),
      mustNotContain = Seq(
        "no per-user window" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // source-overlap: grams travel as 61-bit hashes through the native
    // kernel; the per-source count tables join back by broadcast; the gram
    // self-join is an equi-join (fan-out bounded by |sources|² per gram)
    Want("q77_source_overlap", Seq(
      "grams hashed via the native shingle kernel" -> "word_shingle_hash",
      "per-source counts broadcast back" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no cartesian gram pairing" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // SCD2: the user_id<50 predicate must reach the parquet scan; the
    // version ordering is two key-partitioned windows, never a sort of the
    // whole log
    Want("q78_scd2", Seq(
      "changelog filter pushed to scan" -> "PushedFilters: [IsNotNull(user_id), LessThan(user_id,50)",
      "key-partitioned version windows" -> "Window"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // postings: capped lists via the bounded-heap aggregate — per-term
    // state is k entries, the term shuffle carries tasks×terms×k rows,
    // never a stop-word's corpus-sized posting list
    Want("q79_postings", Seq(
      "capped postings via bounded heap" -> "scored_top_k",
      "map-side partial df count" -> "partial_count"),
      mustNotContain = Seq(
        "no raw collect_list of postings" -> "collect_list",
        "no cartesian" -> "CartesianProduct")),
    // quantile bucketing: boundaries are one answer-sized percentile agg
    // broadcast back over the scan (the 1-row BNLJ is the intended plan) —
    // never an NTILE window, which would globally sort the corpus
    Want("q80_quantile_bucket", Seq(
      "exact quartile boundaries" -> "percentile_disc",
      "1-row bounds broadcast over the scan" -> "BroadcastNestedLoopJoin"),
      mustNotContain = Seq(
        "no global-sort ntile window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // BM25: per-term df and corpus stats broadcast back; the corpus-side
    // work is one explode + two partial-aggregated groupBys
    Want("q81_bm25", Seq(
      "df table broadcast back" -> "BroadcastHashJoin",
      "map-side partial tf" -> "partial_count"),
      mustNotContain = Seq(
        "no per-doc window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // correlation: five exact decimal moments in ONE partial-aggregated
    // groupBy — a single scan + single shuffle, closed form on top
    Want("q82_correlation", Seq(
      "map-side partial moment sums" -> "partial_sum"),
      mustNotContain = Seq(
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // passage dedup: the corpus shuffles once for the df count (two-phase
    // distinct aggregate) and once for the reassembly; the hot set comes
    // BACK only as a broadcast anti-join — the corpus never re-shuffles
    // to learn what to drop
    Want("q101_passage_dedup", Seq(
      "hot passage set broadcast back" -> "BroadcastHashJoin",
      "boilerplate removed by anti-join" -> "LeftAnti",
      "map-side partial df count" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // PassJoin fuzzy match: candidates come from the (len, ordinal,
    // segment) equi-join over generated segments — the whole point is
    // that the O(n²) levenshtein cross join never appears
    Want("q102_fuzzy_match", Seq(
      "segments enumerated by generators" -> "Generate",
      "exact verify via codegen levenshtein" -> "levenshtein"),
      mustNotContain = Seq(
        "no all-pairs cross join" -> "CartesianProduct",
        "no nested-loop fuzzy join" -> "BroadcastNestedLoopJoin")),
    // gaps-and-islands: one user-partitioned window for the island id,
    // then groupBys with map-side combine — never a cross join, and the
    // streak summary needs no second window pass (struct-max picks the
    // best streak inside the aggregate)
    Want("q103_islands", Seq(
      "island ids via the user-partitioned window" -> "Window",
      "map-side partial streak aggregation" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // gapfill: the 1-row day-bounds aggregate broadcast over the user
    // list IS the intended tiny BNLJ (same convention as q80's bounds);
    // the observed side arrives by a (user, day) hash equi-join — which
    // PHYSICAL hash join is a size call (broadcast at test SF, shuffled/SMJ
    // under AQE at scale), so pin the equi-join family, not one member —
    // and LOCF is one running window
    Want("q105_gapfill", Seq(
      "grid densified by a generator" -> "Generate",
      "LOCF via the running window" -> "Window",
      "observed side joined by hash equi-join" -> "HashJoin"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // snapshot diff: ONE full-outer key join then a codegen projection —
    // the changelog is produced without any per-row driver logic
    Want("q106_snapshot_diff", Seq(
      "full-outer key join" -> "FullOuter"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // triangles: per-node attribution explodes the (u,v,w) triples and
    // partial-aggregates; the closure joins are audited un-truncated in
    // PlanAuditSpec's triangle_closure (checkpoints erase them here by design)
    Want("q107_triangles", Seq(
      "per-node attribution via explode" -> "Generate",
      "map-side partial triangle count" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // incremental triangles: every wedge-GENERATING join is delta-
    // anchored with the delta side broadcast (the standing edge table is
    // only scanned by the closing equi-joins); per-node attribution and
    // map-side count as in q107; never a cartesian/nested-loop fallback
    Want("q221_delta_triangles", Seq(
      "delta side broadcasts into the wedge joins" -> "BroadcastHashJoin",
      "per-node attribution via explode" -> "Generate",
      "map-side partial count" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin",
        "no window" -> "Window")),
    // k-means final plan: assignment is a PROJECTION over the quantized
    // corpus (centroids are literals inside the argmin expression — no
    // join touches the corpus), contingency is a map-side-combined
    // aggregate, and only the k-row norms table joins — broadcast
    Want("q108_kmeans", Seq(
      "map-side partial contingency count" -> "partial_count",
      "k-row norms joined by broadcast" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no corpus-side shuffle join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // IQR outliers: the ranking window is the one corpus shuffle; the
    // group-sized quartile table comes back by broadcast — the corpus
    // is never shuffle-joined
    Want("q109_outliers", Seq(
      "rank window on the group key" -> "Window",
      "quartile table joined by broadcast" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no corpus-side shuffle join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // phrase search: the index build's Generate+Window live behind the
    // memoizing checkpoint (audited un-truncated in PlanAuditSpec);
    // the query plan shows the broadcast top-phrase probe
    Want("q110_phrase_search", Seq(
      "top phrase joined by broadcast" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // image near-dup: candidates come from the banded (j, v) equi-join
    // over generated band rows — never an all-pairs image compare
    Want("q111_image_neardup", Seq(
      "bands enumerated by a generator" -> "Generate",
      "hamming verify via bit_count" -> "bit_count"),
      mustNotContain = Seq(
        "no all-pairs image compare" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // incremental join refresh: the standing view is touched only by
    // broadcast joins (delete-key anti-join, dimension); nothing
    // re-shuffles the view
    Want("q112_incremental_join", Seq(
      "delete retraction via broadcast anti-join" -> "BroadcastHashJoin LeftAnti"),
      mustNotContain = Seq(
        "no view-side shuffle join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // temporal join: SCD2 versions + as-of both ride key-partitioned
    // windows — one exchange family, never a range/nested-loop join
    Want("q113_temporal_join", Seq(
      "as-of via the key-partitioned window" -> "Window"),
      mustNotContain = Seq(
        "no range-join nested loop" -> "BroadcastNestedLoopJoin",
        "no cartesian" -> "CartesianProduct")),
    // negative sampling: the tiny anchor broadcast IS the intended
    // nested-loop (the q32/q80 convention); the corpus streams through
    // the bounded heap — no per-anchor window sort
    Want("q114_negative_sampling", Seq(
      "per-anchor draw via the bounded heap" -> "scored_top_k"),
      mustNotContain = Seq(
        "no per-anchor corpus window sort" -> "RunningWindowFunction")),
    // semantic dedup: candidate pairs meet ONLY through the cluster-id
    // equi-join (the SemDeDup cell bound) and verify through the codegen
    // dot kernel — never a cross-cluster/all-pairs product
    Want("q115_semantic_dedup", Seq(
      "exact cosine verify via the codegen dot kernel" -> "float_vec_dot"),
      mustNotContain = Seq(
        "no all-pairs candidate generation" -> "CartesianProduct",
        "no cross-cluster nested-loop join" -> "BroadcastNestedLoopJoin")),
    // dim-side incremental join: key-level retraction rides a broadcast
    // anti-join on the JOIN KEY; the standing view never re-shuffles
    Want("q118_incremental_join_dim", Seq(
      "key retraction via broadcast anti-join" -> "BroadcastHashJoin LeftAnti"),
      mustNotContain = Seq(
        "no view-side shuffle join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // collocations: linear explodes into partial-aggregated counts; the
    // 1-row total broadcast IS the intended nested-loop (q80 convention),
    // so only the cartesian negative is pinned
    Want("q119_collocations", Seq(
      "bigrams enumerated by a generator" -> "Generate",
      "map-side partial counts" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // trend: one partial-aggregated moment shuffle; dim broadcast
    Want("q120_trend", Seq(
      "map-side partial moment sums" -> "partial_sum",
      "dimension broadcast" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // anomaly: the trailing RANGE window is the one group shuffle
    Want("q121_anomaly", Seq(
      "trailing window over the day index" -> "Window",
      "map-side partial daily counts" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // hybrid RRF: the lexical leg's corpus scoring goes through the
    // bounded heap, and the broadcast query cross is the suite's ONE
    // sanctioned nested loop — pinned POSITIVELY (it must plan as a
    // broadcast-query-side BNLJ, guarded in-plan by maxQueries; the
    // fuse window is answer-sized by construction)
    Want("q123_hybrid_rrf", Seq(
      "lexical leg through the bounded heap" -> "scored_top_k",
      "sanctioned probe-batch nested loop, query side broadcast" ->
        "BroadcastNestedLoopJoin"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // end-to-end corpus pipeline: the final plan reads the checkpointed
    // cleaned-corpus snapshot, drops dup-cluster ids via ONE anti-join
    // (a shuffle join by design — the dup-id set scales with the
    // corpus's duplicate mass, so broadcasting it is the IncrementalJoin
    // purge-scale mistake), and packs through one per-shard window. The
    // upstream stages' broadcast shapes live behind the checkpoints and
    // are audited by their own entries (q101 hot set, q58 bench grams,
    // q28/q69 pair generation + closure).
    Want("q125_corpus_pipeline", Seq(
      "dup-cluster removal via anti-join" -> "LeftAnti",
      "one per-shard packing window" -> "Window"),
      mustNotContain = Seq(
        "no cartesian anywhere in the chain" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // indexed hybrid retrieval: the dense leg must keep q83's
    // partition-pruned probe shape and both legs their bounded-heap
    // rerank — and unlike q123's sanctioned probe-batch cross, the
    // indexed composition has NO nested loop at all
    Want("q126_hybrid_indexed", Seq(
      "dense probe scan partition-pruned on cell" -> "PartitionFilters: [cell",
      "bounded-heap rerank in both legs" -> "scored_top_k",
      "lexical query weights broadcast" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no corpus-sized cross join" -> "CartesianProduct",
        "no nested-loop fallback" -> "BroadcastNestedLoopJoin")),
    // HLL sketch: one partial-aggregated register shuffle is ALL the
    // corpus-sized work; summaries aggregate ≤ groups×2^p register rows
    Want("q128_hll_distinct", Seq(
      "map-side partial register max" -> "partial_max"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // count-min: depth-row generator into a partial-aggregated counter
    // build; the probe estimate joins the depth×width table answer-sized
    Want("q129_count_min", Seq(
      "depth rows enumerated by a generator" -> "Generate",
      "map-side partial counter sums" -> "partial_sum"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // label propagation: the final plan is the checkpointed label table
    // + the community-size window (the round joins are audited
    // un-truncated in PlanAuditSpec's labelprop_round)
    Want("q130_label_prop", Seq(
      "community sizes via the label window" -> "Window"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // containment join: prefix-token equi-join candidates, codegen
    // array_intersect verify — never an all-pairs comparison
    Want("q132_containment", Seq(
      "codegen set-intersect verify" -> "array_intersect"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // common neighbors: the wedge equi-join with map-side-combined pair
    // counts, top-k as a global TakeOrdered (no full sort materializes)
    Want("q137_common_neighbors", Seq(
      "map-side-combined wedge counts" -> "partial_count",
      "answer-sized top-k" -> "TakeOrderedAndProject"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // trigram substring search: pattern trigrams broadcast into the
    // postings join; the corpus contributes one generator pass
    Want("q140_substring_search", Seq(
      "pattern trigrams broadcast" -> "BroadcastHashJoin",
      "postings via one generator pass" -> "Generate"),
      mustNotContain = Seq(
        "no corpus LIKE scan fallback" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin")),
    // frequent itemsets: basket self-join with map-side-combined pair
    // counts; the basket total and item counts ride broadcasts
    Want("q141_itemsets", Seq(
      "map-side-combined pair counts" -> "partial_count",
      "broadcast basket total / item counts" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no cartesian over the corpus" -> "CartesianProduct")),
    // skyline: the only unpartitioned window runs over the bands-row
    // summary (answer-sized); the corpus sees one (band, x) groupBy and
    // per-band windows — never a global sort into one partition. (A
    // nested-loop IS expected here: the 1-row min/max stats broadcast
    // cross — the q57 tiny-table convention; dominance itself is the
    // prefix-max joins, pinned as hash joins.)
    Want("q143_skyline", Seq(
      "per-band / band-summary windows" -> "Window",
      "band summary broadcast back" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no cartesian dominance check" -> "CartesianProduct")),
    // MinHash / SimHash pre-collapse discipline (r15): the exact-collapse
    // and bucket-cap stages are map-side-combined groupBys + joins — NO
    // window anywhere in the pipeline. A min-over-window partitioned by
    // the fingerprint puts a 10⁸-member boilerplate cluster on ONE task's
    // sort; the groupBy combines it map-side and the join-back is
    // AQE-skew-splittable (the q158/q202 keep-first rule applied to the
    // flagship dedup path).
    // the signature/banding stages sit behind the collapse + capped-bucket
    // checkpoints (erased from the FINAL plan by design — the
    // dedup_kernels audit in PlanAuditSpec pins the native kernels on the stage
    // plans directly); the verify kernel runs downstream and stays visible.
    // Test-scale corpora sit under the answer-sized cap, where the pairs
    // are finished on the driver (the next row checks that path), so the
    // distributed plan is built at cap 0.
    Want("q28_dedup_minhash", Seq(
      "exact-Jaccard verify kernel" -> "array_intersect"),
      mustNotContain = Seq(
        "no hot-fingerprint window in the exact collapse" -> "Window",
        "no cartesian candidate generation" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin"),
      conf = Map("graft.cc.driverEdgeCap" -> "0")),
    // at the default cap the test corpora are answer-sized: the pairs are
    // finished on the driver and q28 reads a local relation
    Want("q28_dedup_minhash", Seq(
      "under the cap q28 takes the driver path" -> "LocalTableScan"),
      mustNotContain = Seq(
        "no distributed verify under the cap" -> "array_intersect")),
    Want("q29_dedup_simhash", Seq.empty,
      mustNotContain = Seq(
        "no hot-fingerprint window in the exact collapse" -> "Window",
        "no cartesian candidate generation" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // advanced-index probe: the same final-plan class as q147 — the
    // advance itself runs eagerly (delta-sized checkpoints + appends)
    // before this plan exists, so what must stay pinned is the probe
    Want("q238_lsh_advance", Seq(
      "broadcast group-expansion joins" -> "BroadcastHashJoin",
      "exact-Jaccard verify kernel" -> "array_intersect"),
      mustNotContain = Seq(
        "no cartesian candidate generation" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // streamed-chain probe: same final-plan class again — the drain runs
    // eagerly before this plan exists; what must stay pinned is that the
    // probe against the shard-partitioned layout keeps q147's shape
    Want("q239_stream_lsh", Seq(
      "broadcast group-expansion joins" -> "BroadcastHashJoin",
      "exact-Jaccard verify kernel" -> "array_intersect"),
      mustNotContain = Seq(
        "no cartesian candidate generation" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // delta dedup: bucket pruning, banding, and candidate generation run
    // inside the eager delta-sized checkpoints, so the FINAL plan is the
    // verify join + group expansion — pin the exact-Jaccard verify kernel
    // and that no candidate path degenerated to a cross product
    Want("q147_delta_dedup", Seq(
      "broadcast group-expansion joins" -> "BroadcastHashJoin",
      "exact-Jaccard verify kernel" -> "array_intersect"),
      mustNotContain = Seq(
        "no cartesian candidate generation" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // jsonl roundtrip: explicit-schema json scan + per-row projection —
    // no shuffle at all beyond the answer orderBy
    Want("q172_jsonl_roundtrip", Seq(
      "explicit-schema json scan" -> "json"),
      mustNotContain = Seq(
        "no join" -> "Join",
        "no window" -> "Window")),
    // lexical diversity: one token-count shuffle + one per-source
    // rollup, both map-side combined
    Want("q173_lexical_diversity", Seq(
      "map-side-combined token counts" -> "partial_count"),
      mustNotContain = Seq(
        "no join" -> "Join",
        "no window" -> "Window")),
    // neyman sampling: moments one map-side agg; targets broadcast
    // back; selection one per-group rank (the exact-count price)
    Want("q176_neyman_sample", Seq(
      "targets broadcast back" -> "BroadcastHashJoin",
      "per-group rank" -> "row_number"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // weighted pagerank: rounds checkpoint; final plan is the top-20
    // TakeOrdered over node-sized ranks
    Want("q175_weighted_pagerank", Seq(
      "bounded top-k" -> "TakeOrderedAndProject"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested loop" -> "BroadcastNestedLoopJoin")),
    // join-size estimate: two depth×width counter builds (map-side
    // combined) + an answer-sized counter⋈counter product; the exact
    // ground-truth leg is the only corpus join and it is an equi-join
    Want("q170_join_size", Seq(
      "map-side-combined counters" -> "partial_count",
      "exact decimal products" -> "partial_sum"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested loop" -> "BroadcastNestedLoopJoin")),
    // FK audit: one left equi-join + conditional aggregation per edge —
    // the child scans once and the 1-row summaries union answer-sized
    Want("q171_fk_audit", Seq(
      "orphan check is a hash equi-join" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested loop" -> "BroadcastNestedLoopJoin")),
    // streamed transitions: the final plan is the batch count over the
    // sink's emitted pairs + the answer-sized n_src window (the q153
    // no-self-join-on-memory-sink discipline)
    Want("q168_stream_transitions", Seq(
      "map-side-combined pair counts" -> "partial_count",
      "answer-sized n_src window" -> "Window"),
      mustNotContain = Seq(
        "no join on the sink" -> "Join")),
    // band join: bucket probe keeps it an equi-join — never a cross
    // product or a nested-loop theta join
    Want("q169_band_join", Seq(
      "map-side-combined pair summary" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested-loop theta join" -> "BroadcastNestedLoopJoin")),
    // streamed debounce: the final plan is the batch summary over the
    // sink's kept-flagged rows — one map-side-combined agg, no join
    Want("q174_stream_debounce", Seq(
      "map-side-combined burst summary" -> "partial_count"),
      mustNotContain = Seq(
        "no join on the sink" -> "Join",
        "no window on the sink" -> "Window")),
    // debounce: burst islands are per-(user,type) windows (bounded by
    // one user's activity); the summary is one map-side-combined agg
    Want("q166_debounce", Seq(
      "map-side-combined burst summary" -> "partial_count",
      "per-key burst windows" -> "Window"),
      mustNotContain = Seq(
        "no join" -> "Join")),
    // k-anonymity: one map-side-combined class census; answer-sized
    // risky classes + a 1-row summary — no join, no window
    Want("q167_kanon", Seq(
      "map-side-combined class census" -> "partial_count"),
      mustNotContain = Seq(
        "no join" -> "Join",
        "no window" -> "Window")),
    // transitions: one map-side-combined pair count; the only windows
    // are per-user lead() (bounded by one user's activity); totals join
    // back answer-sized
    Want("q164_transitions", Seq(
      "map-side-combined pair counts" -> "partial_count",
      "per-user sequence window" -> "Window"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // vocab drift: one token-count shuffle with side-conditional sums;
    // totals ride a 1-row broadcast; top-10 is a bounded TakeOrdered,
    // never a global sort of the vocabulary
    Want("q165_vocab_drift", Seq(
      "map-side-combined token counts" -> "partial_sum",
      "bounded global top-k" -> "TakeOrderedAndProject"),
      mustNotContain = Seq(
        "no vocabulary-wide sort" -> "Sort [drift",
        "no nested loop beyond the 1-row scalar joins" -> "SortMergeJoin")),
    // profiling: one aggregation pass — the exact multi-count-DISTINCT
    // rides the column-order expand (Profile.distinctCounts: copy g=0
    // first), partial-aggregated; no join, no window, and the per-column
    // reshape explodes ONE aggregated row
    Want("q160_profile", Seq(
      "multi-distinct expand" -> "inline(array(struct(g, 0,",
      "map-side partials" -> "partial_count"),
      mustNotContain = Seq(
        "no join" -> "Join",
        "no window" -> "Window")),
    // ACF: decimal moments partial-aggregate map-side; the only windows
    // are the per-series lead() lags (bounded by series length)
    Want("q161_acf", Seq(
      "map-side decimal moments" -> "partial_sum",
      "per-series lag windows" -> "Window"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // CUSUM: group totals broadcast back to the series; prefix sums are
    // per-series windows; S' is exact decimal, no division anywhere
    Want("q162_cusum", Seq(
      "totals broadcast back" -> "BroadcastHashJoin",
      "per-series prefix windows" -> "Window"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // HyperANF: the rounds run inside per-round checkpoints (the q100
    // truncation), so the final plan is the probe filter + the global
    // summary — register union a map-side max, Σ s_u an exact decimal
    // partial sum; nothing all-pairs anywhere
    Want("q159_hyperanf", Seq(
      // r12: the union is the single native reg_max semilattice
      // aggregate (map-side partial), not 2^p separate max expressions
      "map-side register union" -> "partial_reg_max",
      "exact decimal global sum" -> "partial_sum"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // substring dedup: the keep-first vote is an order-free min(struct)
    // aggregate with map-side combine — a hot key (million-occurrence
    // boilerplate 8-gram) never funnels into one rank-window task; the
    // only windows are the per-doc islands merge
    Want("q158_substring_dedup", Seq(
      "map-side-combined keep-first vote" -> "partial_min",
      "map-side-combined dup-key counts" -> "partial_count"),
      mustNotContain = Seq(
        "keep-first is an aggregate, not a rank window" -> "row_number",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // diagnostics composition: the four per-group results are
    // answer-sized (groups × a handful of columns) and assemble by
    // broadcast joins; the moment sums partial-aggregate map-side
    Want("q177_ts_diagnose", Seq(
      "headline assembly is broadcast joins" -> "BroadcastHashJoin",
      "map-side moment sums" -> "partial_sum"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // multimodal end-to-end: every corpus-sized stage lives behind the
    // asset/fingerprint materializations, so the FINAL card plan reads
    // only checkpoint scans — no parquet anywhere (the snapshot is read
    // once, upstream); survivor selection is one broadcast anti-join
    // against the duplicate-mass-sized dropped set (the deliberate
    // asymmetry with q125's shuffle anti-join — see MultimodalPipeline)
    Want("q189_multimodal_pipeline", Seq(
      "downstream rides the materialized snapshots" -> "Scan ExistingRDD",
      "survivor selection is a broadcast anti-join" -> "BroadcastHashJoin LeftAnti"),
      mustNotContain = Seq(
        "no parquet re-read past the snapshot" -> "Scan parquet",
        "no cartesian" -> "CartesianProduct")),
    // markup extraction is a map-only codegen chain: no hash shuffle,
    // no join, no window anywhere (the trailing range exchange is the
    // oracle protocol's determinism sort)
    Want("q193_html_extract", Seq(
      "regex chain lives in the scan projection" -> "regexp_replace"),
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no join" -> "Join",
        "no window" -> "Window")),
    // link extraction: one generator fan-out (bounded hrefs per doc) +
    // ONE map-side-combined canonical count — no join anywhere
    Want("q194_link_extract", Seq(
      "href fan-out is a generator" -> "Generate",
      "map-side-combined link counts" -> "partial_count"),
      mustNotContain = Seq(
        "no join" -> "Join",
        "no window" -> "Window")),
    // frontier delta: the bloom membership predicate runs in the scan
    // stage (revisit mass never reaches the count exchange); the exact
    // FP kill is broadcast semi + anti — the standing visited set is
    // never shuffled (no sort-merge join anywhere), and the count
    // aggregates partial map-side
    Want("q197_frontier_delta", Seq(
      "bloom prune in the scan stage" -> "might_contain",
      "exact FP kill is a broadcast anti-join" -> "BroadcastHashJoin LeftAnti",
      "map-side-combined link counts" -> "partial_count"),
      mustNotContain = Seq(
        "visited is never shuffled" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // warc-path extraction: the wire records surface as one RDD scan
    // (one task per archive — gzip members force sequential decode
    // within a file), and the whole body-split + extraction chain is
    // map-side projection — no shuffle, join, or window anywhere (the
    // trailing range exchange is the oracle determinism sort)
    Want("q196_warc_extract", Seq(
      "wire records ride one RDD scan" -> "Scan ExistingRDD",
      "regex chain lives in the scan projection" -> "regexp_replace"),
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no join" -> "Join",
        "no window" -> "Window")),
    // C4 line cleaning: line+page filters are map-side array lambdas
    // (no explode of dropped lines); the keep-first vote is a map-side-
    // combined min/count aggregate on md5(line) — a nav line shared by
    // EVERY page partially aggregates before it moves, never funnels
    // into one rank-window task; the repeated-line set (boilerplate
    // vocabulary, answer-sized) broadcasts back
    Want("q195_c4_line_clean", Seq(
      "map-side-combined keep-first vote" -> "partial_min",
      "repeated-line set broadcasts back" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "keep-first is an aggregate, not a rank window" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // streaming fingerprint-index maintenance: the per-batch adjudication
    // plans are deltaVerdicts' (pinned by its unit tests and q192's
    // audit); the FINAL plan must be nothing but the landed verdict
    // shards — a parquet scan plus the oracle determinism sort, with no
    // recomputation of any batch (no join, no hash shuffle, no window)
    Want("q198_stream_mm_index", Seq(
      "result is the landed verdict shards" -> "Scan parquet"),
      mustNotContain = Seq(
        "no recomputation joins" -> "Join",
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no window" -> "Window")),
    // WET export roundtrip: the re-read side is one RDD scan over the
    // emitted conversion shards + map-side projection — no shuffle,
    // join, or window (the write side runs eagerly before this plan)
    Want("q205_wet_export", Seq(
      "wet records ride one RDD scan" -> "Scan ExistingRDD"),
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no join" -> "Join",
        "no window" -> "Window")),
    // charset sniff: one per-row decode kernel (binary bytes are opaque
    // to Catalyst — the audioFingerprintBands precedent), zero shuffle
    // (the trailing range exchange is the oracle determinism sort)
    Want("q204_charset_sniff", Seq(
      "per-row decode kernel" -> "MapPartitions"),
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no join" -> "Join",
        "no window" -> "Window")),
    // mojibake repair: the q204 cost class — a per-row repair kernel
    // over the corrupted page column, nothing corpus-keyed anywhere
    Want("q224_mojibake_repair", Seq(
      "per-row repair kernel" -> "MapPartitions"),
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no join" -> "Join",
        "no window" -> "Window")),
    // sitemap seed discovery: <url> blocks fan out through a generator,
    // loc/lastmod extraction is map-side regex, and the visited check is
    // the q197 shape — bloom prune in the scan stage, exact FP kill via
    // broadcast semi + anti; the visited set is never shuffled
    Want("q203_sitemap_seeds", Seq(
      "block fan-out is a generator" -> "Generate",
      "bloom prune in the scan stage" -> "might_contain",
      "exact FP kill is a broadcast anti-join" -> "BroadcastHashJoin LeftAnti"),
      mustNotContain = Seq(
        "visited is never shuffled" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // politeness scheduler: per-host top-BUDGET rides the bounded heap
    // (map-side partial top-k — the shuffle carries tasks×hosts×K, never
    // every frontier row into a hot host's sort task) and the
    // answer-sized schedule broadcasts back; no rank window anywhere
    Want("q202_crawl_schedule", Seq(
      "per-host budget via the bounded heap" -> "scored_top_k",
      "answer-sized schedule broadcasts back" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no rank window over the frontier" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // streaming frontier: the per-batch adjudication plans are
    // Frontier.additions' (pinned by q197's audit); the FINAL plan must
    // be nothing but the landed addition shards — a parquet scan plus
    // the determinism sort, no recomputation of any batch
    Want("q201_stream_frontier", Seq(
      "result is the landed addition shards" -> "Scan parquet"),
      mustNotContain = Seq(
        "no recomputation joins" -> "Join",
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no window" -> "Window")),
    // Gopher repetition battery: every metric is a per-row array
    // sort + fold in the scan projection — zero shuffle, zero fan-out
    // (the oracle pays the explode-groupBy; the engine never does)
    Want("q199_gopher_repetition", Seq(
      "per-row sorted-gram folds in the projection" -> "array_sort"),
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no gram explode" -> "Generate",
        "no join" -> "Join",
        "no window" -> "Window")),
    // Gopher quality battery: per-row lambdas over the token/line
    // arrays — zero shuffle, zero fan-out (the q199 cost class)
    Want("q206_gopher_quality", Seq(
      "per-row rule lambdas in the projection" -> "filter(_lines"),
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no explode" -> "Generate",
        "no join" -> "Join",
        "no window" -> "Window")),
    // CCNet perplexity bucketing: the tercile cutoffs come from a
    // map-side-combined (lang, bin) HISTOGRAM (the cumulative walk runs
    // over the answer-sized bin table — the only Window in the plan) and
    // the per-language cut bins BROADCAST back onto the doc stream; the
    // anti-pattern this row exists to avoid — an ntile over a language's
    // whole corpus, funneling it into one sort task — must be absent
    Want("q207_ccnet_bucket", Seq(
      "map-side histogram combine" -> "partial_count",
      "cut bins broadcast onto the doc stream" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no corpus ntile" -> "ntile",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // anchor-text harvest: one bounded generator fans out the <a>
    // elements, the (target, term) count map-side combines, and the
    // per-target top-k runs through the scored_top_k bounded heap —
    // never a rank window funneling a hub target's whole anchor
    // vocabulary into one sort task
    Want("q208_anchor_text", Seq(
      "anchor-element fan-out is a generator" -> "Generate",
      "map-side (target, term) combine" -> "partial_count",
      "per-target top-k via the bounded heap" -> "scored_top_k"),
      mustNotContain = Seq(
        "no rank window over the counts" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // DSIR importance weights: both bucket histograms build in one
    // map-side-combined pass (1024 rows by construction), the ratio
    // table broadcasts onto the feature stream (the 1-row totals join
    // is the only nested-loop), and the per-doc weight is the only
    // corpus-keyed exchange — no corpus-sized join anywhere
    Want("q209_dsir_weights", Seq(
      "bucket histogram map-side combine" -> "partial_count",
      "ratio table broadcasts onto the feature stream" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no corpus-keyed sort-merge join" -> "SortMergeJoin",
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // CDX random-access gate: the final plan rides the wire boundary
    // only — an RDD scan of the range-fetched records plus the
    // per-archive repartition; no parquet read (the corpus reaches the
    // row through the memoized warc shards), no join, no window —
    // extraction and digest are map-side projections
    Want("q210_cdx_fetch", Seq(
      "range-fetched records enter as an RDD scan" -> "Scan ExistingRDD"),
      mustNotContain = Seq(
        "no parquet re-read past the archive" -> "Scan parquet",
        "no join" -> "Join",
        "no window" -> "Window")),
    // WARC revisit resolution: responses pass through one side of a
    // union; revisits equi-join the digest→payload vocabulary (the
    // dedup mass) — never all-pairs, never a parquet re-read (the
    // corpus reaches the row through the memoized revisit shards)
    Want("q211_warc_revisit", Seq(
      "responses pass through, revisits resolve" -> "Union",
      "wire records enter as an RDD scan" -> "Scan ExistingRDD"),
      mustNotContain = Seq(
        "no parquet re-read past the archive" -> "Scan parquet",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin",
        "no window" -> "Window")),
    // URL blocklist gate: depth-bounded suffix COLUMNS broadcast-joined
    // against the dimension-sized blocklist — the URL corpus is
    // adjudicated entirely map-side: zero shuffles, no sort-merge join,
    // no rank window (the only Generate is the fixture's URL fan-out)
    Want("q212_url_blocklist", Seq(
      "blocklist broadcasts onto the URL stream" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "URL corpus never shuffles" -> "Exchange hashpartitioning",
        "no sort-merge join" -> "SortMergeJoin",
        "no window" -> "Window")),
    // streaming anchor maintenance: the final plan reads the LANDED
    // term-count partials only (no page is ever re-read), sum-merges
    // them, and runs the batch operator's own bounded heap
    Want("q213_stream_anchor", Seq(
      "result reads the landed partials" -> "Scan parquet",
      "per-target top-k via the bounded heap" -> "scored_top_k"),
      mustNotContain = Seq(
        "no rank window" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // HITS: the iterative half-rounds run behind eager checkpoints
    // (their two-shuffle shape is unit-pinned); the FINAL plan is two
    // bounded top-k selections over the checkpointed score table —
    // TakeOrdered, never a full sort or a rank window
    Want("q214_hits", Seq(
      "bounded top-k per side" -> "TakeOrderedAndProject",
      "scores enter from the checkpointed rounds" -> "Scan ExistingRDD"),
      mustNotContain = Seq(
        "no rank window" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no parquet re-read past the rounds" -> "Scan parquet")),
    // streaming LM maintenance: the release scoring pass reads the
    // landed count partials (the model) + the corpus, equi-joins on
    // the bigram key with map-side-combined aggregations — the q89
    // shape with the model externalized; no cartesian/nested loop
    Want("q215_stream_lm", Seq(
      "model merged from landed partials" -> "Scan parquet",
      "map-side per-doc combine" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin",
        "no rank window" -> "Window")),
    // card PII: extraction + per-candidate Luhn folds are one codegen
    // projection — nothing corpus-keyed anywhere (the q70 cost class)
    Want("q227_card_pii", Seq.empty,
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no join" -> "Join",
        "no window" -> "Window")),
    // incremental components: the standing map is scanned (checkpoint
    // RDD scans), endpoints/merge tables broadcast into every join, the
    // fixpoint ran over the delta-sized rep graph before this plan — no
    // corpus-keyed sort-merge join, no cartesian, no window
    Want("q226_delta_components", Seq(
      "map probe and relabel via broadcast" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no corpus sort-merge join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no window" -> "Window")),
    // hard-negative mining: corpus streams through the cosine stage
    // into the bounded heap — no per-anchor rank window ever sorts the
    // scored rows, no corpus-keyed sort-merge join. (A BNLJ against the
    // BROADCAST anchor batch is the intended scoring plan — the label
    // exclusion is a non-equi predicate over the always-tiny side, the
    // q80 1-row-BNLJ precedent scaled to an anchor batch.)
    Want("q223_hard_negatives", Seq(
      "bounded-heap mining aggregate" -> "scored_top_k",
      "anchor batch broadcast" -> "BroadcastNestedLoopJoin"),
      mustNotContain = Seq(
        "no per-anchor rank window" -> "Window",
        "no corpus sort-merge join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct")),
    // streaming classifier: the fit merged from landed histogram/prior
    // partials (parquet scans + map-side SUMs over answer-sized keys),
    // weight table broadcast onto the scoring feature stream — q220's
    // shape with the model side landed instead of inline
    Want("q225_stream_classifier", Seq(
      "fit merged from landed partials" -> "Scan parquet",
      "weights broadcast onto the feature stream" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no corpus sort-merge join" -> "SortMergeJoin",
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // streaming DSIR: distributions merged from the landed histogram
    // partials (parquet scan + map-side SUM over ≤1024 keys), ratio
    // table broadcast onto the scoring feature stream — q209's shape
    // with the model side landed instead of inline
    Want("q222_stream_dsir", Seq(
      "distributions merged from landed partials" -> "Scan parquet",
      "ratio table broadcasts onto the feature stream" -> "BroadcastHashJoin",
      "map-side per-doc combine" -> "partial_count"),
      mustNotContain = Seq(
        "no corpus sort-merge join" -> "SortMergeJoin",
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // crawl-delay ETA: the q202 heap schedule joined with the
    // host-dimension delay table — both broadcast; the only window is
    // the robots-sized group parse, never one over the frontier
    Want("q216_crawl_delay", Seq(
      "per-host budget via the bounded heap" -> "scored_top_k",
      "schedule and delays broadcast back" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // character entropy: a per-row fold over the sorted char array in
    // the scan projection — zero shuffle, zero fan-out (the oracle pays
    // the unnest-groupBy; the engine never does), the q199 cost class
    Want("q217_char_entropy", Seq(
      "per-row sorted-run fold in the projection" -> "array_sort"),
      mustNotContain = Seq(
        "no hash shuffle" -> "Exchange hashpartitioning",
        "no char explode" -> "Generate",
        "no join" -> "Join",
        "no window" -> "Window")),
    // crawl-plan composition (r15: the frontier delta LANDS once —
    // delta-sized by contract — and every gate rides the snapshot
    // instead of re-running the links → canon → bloom chain per
    // consumer; the bloom-prune plan shape itself stays pinned on
    // q197, whose final plan is the un-materialized additions):
    // blocklist/rules/schedule/delays all broadcast, the per-host
    // budget through the bounded heap; no sort-merge join or cartesian
    // anywhere from the landed frontier to fetch waves
    Want("q218_crawl_plan", Seq(
      "gates ride the landed frontier snapshot" -> "Scan ExistingRDD",
      "per-host budget via the bounded heap" -> "scored_top_k",
      "gates and schedule broadcast" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        // the specific regression the landing prevents: if any gate
        // stopped riding the snapshot, the links → canon → bloom chain
        // would re-enter the final plan as its might_contain probe
        "frontier chain never re-runs past the landing" -> "might_contain",
        "no corpus sort-merge join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // α-power language sampling: one map-side-combined language count,
    // weights/rates on the answer-sized language table (the 1-row
    // total is the only nested-loop), rates broadcast back, keep is a
    // map-side hash compare — never a per-language rank window
    Want("q219_alpha_sample", Seq(
      "map-side language count" -> "partial_count",
      "rates broadcast onto the doc stream" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no per-language rank window" -> "Window",
        "no corpus sort-merge join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct")),
    // NB quality classifier: the fit is one map-side-combined seed
    // histogram (≤1024 rows by construction), the weight table
    // broadcasts onto the corpus feature stream, and the per-doc score
    // sum is the only corpus-keyed exchange — no corpus-sized join, no
    // window, nothing per-class beyond the answer-sized weight table
    Want("q220_quality_classifier", Seq(
      "seed histogram map-side combine" -> "partial_sum",
      "weights broadcast onto the feature stream" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no corpus sort-merge join" -> "SortMergeJoin",
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // cross-modal pair QC: a per-row integer kernel over the pair table
    // — the only join builds the pairs; no window, no cartesian, no
    // nested-loop (the pair build is an equi-join on the partner id)
    Want("q230_crossmodal_qc", Seq(
      "codegen dot kernel" -> "float_vec_dot"),
      mustNotContain = Seq(
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct",
        "no nested-loop pair build" -> "BroadcastNestedLoopJoin")),
    // streaming CDX: the release read is the landed shard chain (one
    // parquet scan — union-by-layout, no fold) into one map-side-
    // combined identity aggregate; nothing corpus-joined, no window
    Want("q233_stream_cdx", Seq(
      "index read from the landed shard chain" -> "Scan parquet",
      "identity rollup map-side combine" -> "partial_count"),
      mustNotContain = Seq(
        "no join" -> "Join",
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // streaming IVF: the probe against the STREAMED chain keeps q57's
    // shape — the cell filter partition-prunes across shard dirs, the
    // rerank is the bounded heap
    Want("q234_stream_ivf", Seq(
      "probe scan partition-pruned on cell" -> "PartitionFilters: [cell",
      "corpus scored via cell equi-join" -> "BroadcastHashJoin",
      "bounded-heap rerank aggregate" -> "scored_top_k"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")),
    // host rollup: ONE map-side-combined aggregate — the exchange
    // carries hosts, never documents; no join anywhere, no window
    Want("q235_host_adjudicate", Seq(
      "host rollup map-side combine" -> "partial_count"),
      mustNotContain = Seq(
        "no join" -> "Join",
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // streamed host stats: the release read is the landed partial chain
    // SUM-merged map-side over the host vocabulary — q235's shape with
    // the counts side landed instead of inline
    Want("q237_stream_hosts", Seq(
      "counts merged from landed partials" -> "Scan parquet",
      "host-vocabulary map-side combine" -> "partial_sum"),
      mustNotContain = Seq(
        "no join" -> "Join",
        "no window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // compacted component chain: the fold's broadcast joins run inside
    // mergedMap's per-step checkpoints (erased from the FINAL plan by
    // design; the fold shape itself is pinned at q226) — the final plan
    // is the folded map's RDD scan, and must never degrade to a
    // corpus-keyed join or window
    Want("q236_compact_components", Seq(
      "release map read from the folded chain" -> "Scan ExistingRDD"),
      mustNotContain = Seq(
        "no corpus sort-merge join" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no window" -> "Window")),
    // supervised langid: the fit is q220's shape per language — ONE
    // map-side-combined histogram; weights/priors broadcast; the ×langs
    // fan-out is a broadcast nested loop over the handful-row lang
    // table (expected); the argmax is a min(struct) vote, never a rank
    // window over the corpus
    Want("q229_langid", Seq(
      "seed histogram map-side combine" -> "partial_count",
      "weights broadcast onto the feature stream" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no per-doc rank window" -> "Window",
        "no cartesian" -> "CartesianProduct")),
    // robots.txt gate: host-dimension rule arrays BROADCAST onto the URL
    // stream and the match/argmax is a per-row fold — the URL corpus is
    // never shuffled against rules (no sort-merge join, no cartesian,
    // no per-URL rank window; the only window sits in the robots-sized
    // group parse)
    Want("q200_robots_gate", Seq(
      "rule arrays broadcast onto the URL stream" -> "BroadcastHashJoin",
      "URL fan-out is a generator" -> "Generate"),
      mustNotContain = Seq(
        "URL corpus never shuffle-joined" -> "SortMergeJoin",
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // incremental multimodal ingest: the banded pairing, the class-index
    // semi join, and the component closure all run behind eager
    // checkpoints (answer-sized — their shapes are pinned by the
    // deltaVerdicts unit test); the FINAL plan is the delta fingerprint
    // pass joined to broadcast verdict tables — no nested loop or
    // cartesian anywhere
    Want("q192_multimodal_delta", Seq(
      "verdict assembly over broadcast answer-sized tables" -> "BroadcastHashJoin"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no all-pairs nested loop" -> "BroadcastNestedLoopJoin")),
    // retention cohorts: per-user set + explode + count — two shuffles,
    // NO self-join of user-weeks against first-weeks, no rank window
    Want("q178_retention", Seq(
      "map-side user-week set build" -> "partial_collect_set",
      "map-side cohort-cell count" -> "partial_count"),
      mustNotContain = Seq(
        "no first-activity self-join" -> "SortMergeJoin",
        "no broadcast self-join" -> "BroadcastHashJoin",
        "no shuffled hash self-join" -> "ShuffledHashJoin",
        "no rank window" -> "Window")),
    // k-core: the peel rounds run inside eager per-round checkpoints,
    // so the final plan is one map-side-combined degree aggregate over
    // the converged edge set
    Want("q151_kcore", Seq(
      "map-side-combined core degrees" -> "partial_count"),
      mustNotContain = Seq(
        "no join in the final plan" -> "Join",
        "no cartesian" -> "CartesianProduct")),
    // quantile sketch: the histogram build is one partial-aggregated
    // shuffle; the only window runs over the answer-sized bucket table,
    // and the data itself is never sorted
    Want("q149_quantile_sketch", Seq(
      "map-side-combined bucket counts" -> "partial_count",
      "quantile extraction over the bucket table" -> "Window"),
      mustNotContain = Seq(
        "no corpus-wide sort" -> "Sort [v",
        "no cartesian" -> "CartesianProduct")),
    // shared-chunk dedup: one hash-keyed aggregation with map-side
    // combine; the rolling-hash boundary pass stays in codegen
    Want("q148_chunk_dedup", Seq(
      "map-side-combined chunk counts" -> "partial_count",
      "rolling boundary kernel in the projection" -> "rolling_chunk_bounds"),
      mustNotContain = Seq(
        "no join needed" -> "Join",
        "no window" -> "Window")),
    // KMV: the late-r11 build kernel — a bounded bottom-k aggregate that
    // partial-aggregates map-side, so the exchange carries tasks×groups×k
    // longs and NO per-group sort task materializes the full distinct
    // hash set (the r10 shape was distinct + window row_number). The only
    // nested loop is the deliberate bounded group-pair stage.
    Want("q134_kmv", Seq(
      "map-side partial bottom-k" -> "partial_bottom_k_longs"),
      mustNotContain = Seq(
        "no distinct-set window rank" -> "row_number")),
    // SCC: the peel rounds run inside eager per-round checkpoints, so
    // the final plan is the node-sized label/size join — sizes are a
    // map-side-combined count, the join answer-sized
    Want("q155_scc", Seq(
      "map-side-combined component sizes" -> "partial_count"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct",
        "no nested loop" -> "BroadcastNestedLoopJoin")),
    // temperature sampling: group sizes/targets ride a broadcast back to
    // the corpus; the only sort is the per-group rank the exact-count
    // contract requires
    Want("q154_temperature_sample", Seq(
      "targets broadcast back" -> "BroadcastHashJoin",
      "per-group rank" -> "row_number"),
      mustNotContain = Seq(
        "no cartesian" -> "CartesianProduct")))

  /** The formatted physical plan, as `explain("formatted")` prints it. */
  def planOf(df: DataFrame): String = df.queryExecution.explainString(FormattedMode)

  /** `w`'s assertions on `plan`: a label per needle, and whether it holds. */
  def checks(w: Want, plan: String): Seq[(String, Boolean)] =
    w.mustContain.map { case (label, needle) =>
      s"${w.query} :: $label (missing $needle)" -> plan.contains(needle) } ++
    w.mustNotContain.map { case (label, needle) =>
      s"${w.query} :: $label (present $needle)" -> !plan.contains(needle) }

  /** The labels of the checks that do not hold. */
  def failed(checks: Seq[(String, Boolean)]): Seq[String] = checks.collect { case (label, false) => label }

  /** An equi-join of some physical kind; which kind is a size call. */
  def equiJoin(plan: String): Boolean =
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin").exists(plan.contains)

  def noCartesian(plan: String): Boolean = !plan.contains("CartesianProduct")

  def noNestedLoop(plan: String): Boolean = !plan.contains("BroadcastNestedLoopJoin")

  /** `part` files are a non-empty strict subset of `whole`'s. */
  def strictSubset(part: Long, whole: Long): Boolean = part > 0 && part < whole
}
