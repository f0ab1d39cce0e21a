package graft

import graft.ext.{Dedup, Sessions, Similarity, TextStats}
import graft.ops.{Convert, Eval, Merge, Percentiles, Predictions, Relational, SyntheticBoxes}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY §5.4): every implemented operator from SURVEY §2 is
  * registered as a named query over the testdata tables; each SQL-expressible
  * one has a DuckDB oracle with matching column names and types.
  *
  * Parity rules (enforced throughout, see module docs):
  *  - per-row double arithmetic: raw (IEEE-identical in both engines);
  *  - double aggregates: rounded (fp sum order differs in the last ulp);
  *  - Spark counts/sizes cast to long ↔ DuckDB BIGINT;
  *  - explicit deterministic tie-breaks on every ranked/kept row;
  *  - event-time in integer microseconds (`ts` ns long div 1000 ↔ DuckDB
  *    `epoch_us` of its µs-truncated read of the same parquet).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingRollup(spark, "/root/testdata/sf0.001")

  /** The shingle-based dedup queries run on a 50-doc slice: the synthetic
    * corpus draws every document from one ~50-word vocabulary, so ALL pairs
    * are genuine char-3-gram near-duplicates — the shingle join is
    * intrinsically quadratic on this data (Σ per-shingle count², no LSH can
    * prune truly-similar pairs). Real corpora don't have this shape; the
    * slice keeps the oracle comparison meaningful without an O(n²·shingles)
    * bench term.
    */
  private def docs50(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d).filter(col("doc_id") < 50)

  /** One entry per implemented operator family from SURVEY §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (reference operator semantics, SURVEY §2) ----
    "q01_pricing_rollup" -> Relational.q01PricingRollup _,
    "q02_cust_orders"    -> Relational.q02CustOrders _,
    "q03_region_rollup"  -> Relational.q03RegionRollup _,
    "q04_filter_project" -> Relational.q04FilterProject _,
    "q05_top_orders"     -> Relational.q05TopOrders _,
    "q06_no_orders"      -> Relational.q06NoOrders _,
    "q07_active_parts"   -> Relational.q07ActiveParts _,
    "q08_ordered_qty_seq" -> Relational.q08OrderedQtySeq _,
    "q09_nation_revenue" -> Relational.q09NationRevenue _,
    // ---- dedup family ----
    "q10_dedup_exact" -> ((s: SparkSession, d: String) =>
      Dedup.exactKeepMax(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    "q16_ngram_jaccard" -> ((s: SparkSession, d: String) =>
      Dedup.ngramJaccardPairs(docs50(s, d), n = 3, minJaccard = 0.5)),
    "q17_minhash_neardup" -> ((s: SparkSession, d: String) =>
      Dedup.minhashNearDups(docs50(s, d), k = 16, bands = 4, n = 3, minJaccard = 0.5)),
    "q18_simhash" -> ((s: SparkSession, d: String) =>
      Dedup.simhash(docs50(s, d), bits = 16, n = 3)),
    // ---- event-time ----
    "q11_sessionize" -> Sessions.qSessionize _,
    "q12_tumbling_window" -> Sessions.qTumbling _,
    // ---- text analysis ----
    "q13_quality_features" -> ((s: SparkSession, d: String) =>
      TextStats.qualityFeatures(Tables.documents(s, d))),
    "q14_langid" -> ((s: SparkSession, d: String) =>
      TextStats.langId(Tables.documents(s, d))),
    "q15_fingerprint" -> ((s: SparkSession, d: String) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))),
    // ---- similarity search ----
    "q19_cosine_topk" -> ((s: SparkSession, d: String) =>
      Similarity.cosineTopK(Tables.embeddings(s, d), col("vec_id") % 10 === 0, k = 5)),
    "q20_cosine_neardup" -> ((s: SparkSession, d: String) =>
      Similarity.cosineNearDups(Tables.embeddings(s, d), minCos = 0.18)),
    // ---- geometry / matching on synthetic boxes ----
    "q21_yolo_norm" -> ((s: SparkSession, d: String) =>
      SyntheticBoxes.yoloNorm(Tables.part(s, d))),
    "q22_best_match" -> ((s: SparkSession, d: String) =>
      SyntheticBoxes.bestMatches(Tables.part(s, d), iouThr = 0.3)),
    // greedy matcher: order-dependent loop, oracled via a recursive CTE that
    // replays the same greedy order (duplicated predictions force real
    // one-to-one contention — see SyntheticBoxes.qGreedyEval)
    "q23_greedy_eval" -> SyntheticBoxes.qGreedyEval _,
    "q24_lsh_cosine" -> ((s: SparkSession, d: String) =>
      Similarity.lshNearPairs(Tables.embeddings(s, d), dim = 64, bits = 8, minCos = 0.15)),
    "q25_predictions_pipeline" -> (qPredictionsPipeline _),
    "q26_convert_pipeline" -> (qConvertPipeline _),
    // ---- argmax / as-of / multimodal ----
    "q27_multimodal_decode" -> ((s: SparkSession, d: String) =>
      ext.Multimodal.decodeFeatures(
        ext.Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"), col("checksum"))),
    "q28_argmax" -> Relational.q28Argmax _,
    "q29_asof_signup" -> Relational.q29AsofSignup _,
    // ---- composed curation pipeline (quality gate → dedup → lang-ID) ----
    "q30_curation_pipeline" -> ((s: SparkSession, d: String) =>
      TextStats.curationPipeline(Tables.documents(s, d))),
    // IVF ANN: approximate-by-design but fully deterministic (engine-neutral
    // centroid sample + round-6 assignment), so the whole index→probe→rerank
    // path is oracle-checked; recall vs brute force tested in SkewIvfSpec
    // nCentroids auto-derives as ceil(sqrt(N)) from a corpus count (the
    // bloom auto-sizing discipline) — the oracle re-derives the same k
    "q31_ivf_topk" -> ((s: SparkSession, d: String) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), col("vec_id") % 10 === 0,
        k = 5, nprobe = 4)),
    "q35_bpe_tokens" -> ((s: SparkSession, d: String) =>
      TextStats.tokenCounts(Tables.documents(s, d))),
    // full dedup closure: MinHash-LSH pairs → connected components →
    // canonical ids (iterative min-label propagation; oracled by a DuckDB
    // recursive-CTE transitive closure — ComponentsSpec covers semantics)
    // connectivity consumer: rides the rep-pair + star-edge list (same
    // components as the expanded pairs, linear in exact-copy multiplicity)
    "q36_dedup_groups" -> ((s: SparkSession, d: String) =>
      ext.Components.dedupGroups(
        Dedup.minhashNearDupEdges(docs50(s, d), k = 16, bands = 4, n = 3,
          minJaccard = 0.5))),
    // ---- set ops / grouping sets / pivot ----
    "q32_set_ops" -> Relational.q32SetOps _,
    "q33_cube"    -> Relational.q33Cube _,
    "q34_pivot"   -> Relational.q34Pivot _,
    "q37_percentiles" -> ((s: SparkSession, d: String) =>
      Relational.q37Percentiles(s, d)),
    // ---- analytics extensions (round 2) ----
    "q38_window_frames" -> Relational.q38WindowFrames _,
    "q39_band_join"     -> Relational.q39BandJoin _,
    "q40_tfidf_topk" -> ((s: SparkSession, d: String) =>
      TextStats.tfidfTopTerms(Tables.documents(s, d), k = 3)),
    "q41_heavy_hitters" -> ((s: SparkSession, d: String) =>
      TextStats.heavyHitters(Tables.documents(s, d), minShare = 0.4)),
    "q42_zscore"            -> Relational.q42Zscore _,
    "q43_stratified_sample" -> Relational.q43StratifiedSample _,
    // deterministic KMV sketch: the approximate distinct-count itself is
    // oracle-checked (HLL's engine-internal registers could never be)
    "q44_kmv_distinct" -> ((s: SparkSession, d: String) =>
      Dedup.kmvDistinctTokens(Tables.documents(s, d), k = 16)),
    // interval self-join (batch twin of StreamOps.attributionJoin)
    "q45_attribution" -> Relational.q45Attribution _,
    // per-group mode with deterministic tie-break
    "q46_mode" -> Relational.q46Mode _,
    // time-hierarchy rollup (year/month/total in one shuffle)
    "q47_time_rollup" -> Relational.q47TimeRollup _,
    // multimodal frame-sampling shape: k deterministic offsets per media row
    "q48_frame_sample" -> ((s: SparkSession, d: String) =>
      ext.Multimodal.sampleFrames(
        ext.Multimodal.mediaFromDocuments(Tables.documents(s, d)), k = 4)),
    // ranking family: ntile / dense_rank / percent_rank, one shuffle
    "q49_ranking" -> Relational.q49Ranking _,
    // ---- round-4 curation / profiling extensions ----
    // benchmark decontamination: share of each train doc's word-3-grams
    // found in the eval split (doc_id % 20 == 0); eval n-gram set broadcast
    "q50_contamination" -> ((s: SparkSession, d: String) =>
      ext.Curation.contamination(Tables.documents(s, d),
        col("doc_id") % 20 === 0, n = 3, flagAt = 0.5)),
    // Gopher-style repetition quality signals — pure per-row expressions
    "q51_repetition" -> ((s: SparkSession, d: String) =>
      // Spread.ifNarrow on the map-heavy text inputs (round 19): the
      // per-row kernel otherwise runs on the single-file scan's one
      // partition (bench-measured wins; no-op on already-parallel inputs)
      ext.Curation.repetitionSignals(
        Spread.ifNarrow(Tables.documents(s, d), col("doc_id")))),
    // CCNet-style sub-document exact dedup on 8-token chunks
    "q52_chunk_dedup" -> ((s: SparkSession, d: String) =>
      ext.Curation.chunkDedup(Tables.documents(s, d), chunkTokens = 8)),
    // dense daily spine + LOCF (time-series missing-data repair)
    "q53_gapfill" -> Sessions.qGapfill _,
    // equi-width histogram on the global extent (data profiling)
    "q54_histogram" -> ((s: SparkSession, d: String) =>
      ops.Profile.histogram(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", nBuckets = 16)),
    // single-pass per-column profile (one scan computes every metric)
    "q55_profile" -> ((s: SparkSession, d: String) =>
      ops.Profile.columnProfile(Tables.orders(s, d),
        numericCols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        stringCols = Seq("o_orderstatus", "o_orderpriority"))),
    // deterministic weighted sampling (A-Res with arithmetic hash)
    "q56_weighted_sample" -> ((s: SparkSession, d: String) =>
      Relational.q56WeightedSample(s, d)),
    // int8 scalar quantization of the embedding column
    "q57_vec_quantize" -> ((s: SparkSession, d: String) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d))),
    // semi-structured: JSON field extraction + typed rollup
    "q58_json_rollup" -> Relational.q58JsonRollup _,
    // multi-stage conversion funnel (view → click → purchase, 24 h windows)
    "q59_funnel" -> Sessions.qFunnel _,
    // fuzzy vocabulary pairs via length-blocked edit-distance join
    "q60_fuzzy_match" -> ((s: SparkSession, d: String) =>
      ext.Curation.fuzzyVocabPairs(Tables.documents(s, d), maxDist = 2)),
    // IQR outlier fences on the distributed percentile operator
    "q61_iqr_outliers" -> ((s: SparkSession, d: String) =>
      Relational.q61IqrOutliers(s, d)),
    // rolling event-time RANGE frame (trailing 24 h per user)
    "q62_rolling_range" -> Sessions.qRollingRange _,
    // skew-safe holistic aggregation: event_type has only 5 values over the
    // whole stream (maximal key skew) — the salted two-phase collect bounds
    // any task's share of a hot key to ~1/buckets (ext/Skew; equivalence to
    // the unsalted form is SkewIvfSpec-tested, values oracle-checked here)
    "q63_salted_distinct" -> ((s: SparkSession, d: String) =>
      ext.Skew.saltedCollectSet(Tables.events(s, d), "event_type", "user_id",
        "event_id")
        .select(col("event_type"),
          size(col("user_id_set")).cast("long").as("n_distinct_users"),
          element_at(col("user_id_set"), 1).as("min_user"),
          element_at(col("user_id_set"), -1).as("max_user"))),
    // PageRank on the near-dup graph (3 power iterations, rank rounded per
    // iteration so the fp neighbor-sum stays engine-parity-safe); scores
    // duplicate-group centrality — the canonical-doc signal beyond min-id
    "q64_pagerank" -> ((s: SparkSession, d: String) =>
      ext.Components.pageRank(
        Dedup.minhashNearDups(docs50(s, d), k = 16, bands = 4, n = 3,
          minJaccard = 0.5).select("doc_a", "doc_b"),
        iterations = 3)),
    // FULL OUTER join with both null-extension directions live
    "q65_full_outer" -> Relational.q65FullOuter _,
    // the percentile operator's 100 TB plan (histogram pruning),
    // oracle-checked directly
    "q66_percentiles_distributed" -> Relational.q66PercentilesDistributed _,
    // incremental aggregate maintenance: base ⊕ delta partial-state merge
    // verified against a from-scratch recompute (the oracle)
    "q68_incremental_agg" -> ((s: SparkSession, d: String) =>
      Relational.q68IncrementalAgg(s, d)),
    // ratio-to-report + cumulative concentration on one shuffle
    "q69_share_of_total" -> Relational.q69ShareOfTotal _,
    // hopping (overlapping) event-time windows — tumbling's generalization
    "q70_hopping_window" -> ((s: SparkSession, d: String) =>
      Sessions.hopping(Tables.events(s, d))),
    // overlapping sliding-window chunking (the RAG chunker)
    "q71_sliding_chunks" -> ((s: SparkSession, d: String) =>
      ext.Curation.slidingChunks(Tables.documents(s, d),
        chunkTokens = 32, stride = 24)),
    // deterministic global fixed-size sample via TakeOrderedAndProject
    "q72_global_sample" -> ((s: SparkSession, d: String) =>
      Relational.q72GlobalSample(s, d)),
    // language-mix rebalance to the smallest language's size
    "q73_lang_rebalance" -> ((s: SparkSession, d: String) =>
      ext.Curation.languageRebalance(Tables.documents(s, d))),
    // correlation + OLS from exact integer sufficient statistics
    "q74_corr_regression" -> Relational.q74CorrRegression _,
    // arbitrary grouping sets (the non-rollup/cube case)
    "q75_grouping_sets" -> Relational.q75GroupingSets _,
    // bag-semantics INTERSECT ALL / EXCEPT ALL
    "q76_multiset_ops" -> Relational.q76MultisetOps _,
    // trailing-window z-score anomaly flags on the daily series
    "q77_moving_anomaly" -> ((s: SparkSession, d: String) =>
      Sessions.movingAnomaly(Tables.events(s, d))),
    // the dedup end product: doc → keeper mapping over near-dup components,
    // keeper = longest text (min doc_id ties) — not just min-id groups
    // connectivity consumer (q36's discipline): edge list, never pairs
    "q78_canonical_dedup" -> ((s: SparkSession, d: String) =>
      Dedup.canonicalMapping(
        Dedup.minhashNearDupEdges(docs50(s, d), k = 16, bands = 4, n = 3,
          minJaccard = 0.5),
        docs50(s, d))),
    // Count-Min frequency sketch, built and probed in one plan; the
    // overestimate-only property is visible in the output
    "q79_countmin" -> ((s: SparkSession, d: String) =>
      ext.Sketches.countMin(Tables.events(s, d), "user_id",
        col("user_id") < 20)),
    // collocation mining by exact-rational lift (PMI without the log)
    "q80_collocations" -> ((s: SparkSession, d: String) =>
      ext.Curation.collocations(Tables.documents(s, d), minCount = 10L)),
    // run-length compaction (debounce): consecutive same-type events → runs
    "q81_compact_runs" -> ((s: SparkSession, d: String) =>
      Sessions.compactRuns(Tables.events(s, d))),
    // incremental JOIN maintenance: 4-way delta-join partial merge,
    // oracle = from-scratch recompute of the whole join
    "q82_delta_join" -> Relational.q82DeltaJoin _,
    // hashing-trick featurization: vocabulary-free sparse vectors
    "q83_feature_hashing" -> ((s: SparkSession, d: String) =>
      TextStats.featureHashing(Tables.documents(s, d), dim = 32)),
    // asymmetric shingle containment: sub-document duplicates Jaccard misses
    "q84_containment" -> ((s: SparkSession, d: String) =>
      Dedup.containmentPairs(docs50(s, d), n = 3, minContain = 0.8)),
    // robust outliers by median absolute deviation (two percentile passes)
    "q85_mad_outliers" -> ((s: SparkSession, d: String) =>
      Relational.q85MadOutliers(s, d)),
    // exponential moving average: a true recurrence as an ordered fold,
    // per-step 9-dp round (the PageRank parity trick)
    "q86_ema" -> ((s: SparkSession, d: String) =>
      Sessions.emaDaily(Tables.events(s, d))),
    // greedy token-budget sequence packing (pure-integer recurrence fold)
    "q89_pack_sequences" -> ((s: SparkSession, d: String) =>
      ext.Curation.packSequences(Tables.documents(s, d), budget = 256)),
    // stratified 3-way split + inverse-frequency class weights
    "q90_stratified_split" -> ((s: SparkSession, d: String) =>
      ext.Curation.stratifiedSplit(Tables.documents(s, d))),
    // session occupancy: active sessions/users per hour bucket (interval →
    // bucket explode, bounded by duration/bucket, then one hash agg)
    "q94_occupancy" -> ((s: SparkSession, d: String) =>
      Sessions.occupancy(Tables.events(s, d))),
    // LISTAGG with deterministic order (sort_array before concat)
    "q95_string_agg" -> Relational.q95StringAgg _,
    // month-over-month growth from exact decimal monthly sums
    "q96_period_over_period" -> Relational.q96PeriodOverPeriod _,
    // ---- round 5: analytics + graph traversal ----
    // cohort retention triangle from the deduped (user, day) frame
    "q97_cohort_retention" -> ((s: SparkSession, d: String) =>
      Sessions.cohortRetention(Tables.events(s, d))),
    // exact trailing 7-day distinct users via bounded interval explode
    "q98_trailing_distinct" -> ((s: SparkSession, d: String) =>
      Sessions.trailingDistinctUsers(Tables.events(s, d))),
    // bigram next-token model: exact conditional probabilities, top-3 per
    // top-100 contexts
    "q99_bigram_lm" -> ((s: SparkSession, d: String) =>
      ext.TextStats.bigramNextToken(Tables.documents(s, d))),
    // 2-D Pareto frontier: O(D log D) running-min pass vs the oracle's
    // definitional quadratic NOT EXISTS
    "q100_skyline" -> Relational.q100Skyline _,
    // level-synchronous BFS (4 hops from node 1) on the deterministic
    // supplier graph; oracle replays it as a recursive CTE + min(dist)
    "q101_khop_bfs" -> ((s: SparkSession, d: String) => {
      val sup = Tables.supplier(s, d)
      ext.Components.kHopDistances(
        ext.Components.supplierGraph(sup),
        sup.filter(col("s_suppkey") === 1).select(col("s_suppkey").as("node")),
        maxHops = 4)
    }),
    // per-node triangle participation via canonicalized wedge-close joins
    "q102_triangles" -> ((s: SparkSession, d: String) =>
      ext.Components.triangleCounts(
        ext.Components.supplierGraph(Tables.supplier(s, d)))),
    // MERGE INTO semantics: full-outer join + 3-state CASE (update/
    // insert/delete), exact decimal-cents arithmetic
    "q103_merge_upsert" -> Merge.q103MergeUpsert _,
    // inverted-index retrieval: df-capped postings join + exact Jaccard
    // top-k per query
    "q104_retrieval" -> ((s: SparkSession, d: String) =>
      ext.Retrieval.topKByTokenOverlap(Tables.documents(s, d))),
    // per-dimension embedding standardization from exact quantized moments
    "q105_embedding_standardize" -> ((s: SparkSession, d: String) =>
      Similarity.standardizeDims(Tables.embeddings(s, d),
        col("vec_id") < 50)),
    // winsorized mean: percentile fences broadcast over one fact scan
    "q106_winsorized_mean" -> ((s: SparkSession, d: String) =>
      Relational.q106WinsorizedMean(s, d)),
    // one BPE training merge step: vocab-weighted pair counts → argmax pair
    // → greedy left-to-right merge → post-merge pair state
    "q107_bpe_merge" -> ((s: SparkSession, d: String) =>
      TextStats.bpeMergeStep(Tables.documents(s, d))),
    // one k-means Lloyd iteration: broadcast-centroid map-side argmin
    // assignment + exact-integer centroid update state
    "q108_kmeans_step" -> ((s: SparkSession, d: String) =>
      Similarity.kmeansStep(Tables.embeddings(s, d))),
    // equi-depth histogram: exact-percentile cutpoints broadcast over one
    // binning scan (equi-width collapses under skew; this doesn't)
    "q109_equidepth" -> ((s: SparkSession, d: String) =>
      Percentiles.equiDepthHistogram(
        Tables.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice")),
        "l_returnflag", "l_extendedprice",
        // l_extendedprice is ~99% unique → window-sort cutpoints behind
        // the adaptive scale gate (the q85 decision shape: the 3-group
        // window sort is one task per group however big the table; above
        // the cutover the bit-identical histogram-pruning plan takes
        // over). Plan-decision cardinality is a footer read.
        Cutover.footer(Cutover.PercentileSort, s, d, "lineitem"), bins = 8)),
    // learned BPE merge table: 3 iterated argmax+rewrite rounds over the
    // piped vocabulary (boundary-safe at multi-char symbols)
    "q110_bpe_learn" -> ((s: SparkSession, d: String) =>
      TextStats.bpeLearnMerges(Tables.documents(s, d), nMerges = 3)),
    // PCA direction estimate: two exact power-iteration steps, Gram matrix
    // never materialized (XᵀXv computed as Xᵀ(Xv))
    "q111_power_iteration" -> ((s: SparkSession, d: String) =>
      Similarity.gramPowerIteration(Tables.embeddings(s, d))),
    // linear-interpolation gap-fill: LOCF's sibling for continuous signals
    // (two frames over one user-partitioned spine)
    "q112_interpolate" -> ((s: SparkSession, d: String) =>
      Sessions.interpolateDaily(Tables.events(s, d))),
    // chi-square contingency cells lang × source: per-cell exact moments,
    // marginals broadcast back over the cell frame
    "q113_chi_square" -> ((s: SparkSession, d: String) =>
      ext.Curation.chiSquareCells(Tables.documents(s, d))),
    // first-order Markov transitions over user event sequences: one lead
    // window + a |types|²-cell aggregation
    "q115_markov" -> ((s: SparkSession, d: String) =>
      Sessions.markovTransitions(Tables.events(s, d))),
    // hybrid RAG retrieval: sparse Jaccard + dense cosine top-k lists,
    // reciprocal-rank fused on O(queries·k) rows
    "q117_hybrid_rrf" -> ((s: SparkSession, d: String) =>
      ext.Retrieval.hybridRRF(Tables.documents(s, d), Tables.embeddings(s, d))),
    // growth accounting: per-day new/retained/resurrected/churned ledger
    // from lag/lead over the (user, active-day) frame
    "q118_growth_accounting" -> ((s: SparkSession, d: String) =>
      Sessions.growthAccounting(Tables.events(s, d))),
    // saturating balance recurrence (non-associative fold, exact decimal
    // per-step clamp): bal = max(0, bal + net) over ordered daily nets
    "q119_capped_balance" -> ((s: SparkSession, d: String) =>
      Sessions.cappedRunningBalance(Tables.events(s, d))),
    // A/B readout: user-level exact cents moments per variant hash, Welch
    // t from a fixed IEEE chain over exact ints
    "q120_ab_test" -> ((s: SparkSession, d: String) =>
      Sessions.abTestReadout(Tables.events(s, d))),
    // water-filling token-budget allocation across sources (60% budget):
    // exact integer boundary predicate, one source-sized window sort
    "q121_waterfill" -> ((s: SparkSession, d: String) =>
      ext.Curation.waterfillBudget(Tables.documents(s, d))),
    // exact total-variation drift of the source distribution, en vs rest:
    // integer numerator, single final division
    "q122_distribution_drift" -> ((s: SparkSession, d: String) =>
      ext.Curation.distributionDrift(Tables.documents(s, d), "source",
        col("lang") === "en")),
    // systematic PPS sample: n equally spaced points on the cumulative
    // token-weight line, pick counts in closed-form integer ceil-divs
    // over the distributed bucketed prefix sum
    "q123_systematic_sample" -> ((s: SparkSession, d: String) =>
      ext.Curation.systematicSample(Tables.documents(s, d))),
    // rendezvous-hash resize 8→9 shards: per-key argmax assignment, the
    // movement matrix shows only ~1/9 of keys relocating
    "q124_rendezvous" -> ((s: SparkSession, d: String) =>
      ext.Skew.rendezvousMovement(
        Tables.documents(s, d).select(col("doc_id")), "doc_id")),
    // per-segment Gini concentration: rank-weighted closed form in exact
    // cents (O(n log n) vs the O(n²) pairwise definition)
    "q125_gini" -> Relational.q125Gini _,
    // Kaplan–Meier churn survival with right-censoring at the corpus edge;
    // fixed-order double product fold, no rounding anywhere
    "q127_kaplan_meier" -> ((s: SparkSession, d: String) =>
      Sessions.kaplanMeier(Tables.events(s, d))),
    // per-user behavioral diversity: Gini impurity over event-type counts
    // (entropy-shaped, no logs — exact rational)
    "q128_event_diversity" -> ((s: SparkSession, d: String) =>
      Sessions.eventDiversity(Tables.events(s, d))),
    // FK referential-integrity audit: orphans + childless parents per
    // relationship via key-deduped anti-joins
    "q129_ref_integrity" -> Relational.q129RefIntegrity _,
    // longest consecutive-day streak per user: gaps-and-islands closed
    // form (day − row_number constant within a run)
    "q130_longest_streak" -> ((s: SparkSession, d: String) =>
      Sessions.longestStreak(Tables.events(s, d))),
    // cohort LTV triangle: exact-cents revenue cumulated by months since
    // first activity, per-user LTV against the broadcast cohort size
    "q131_ltv_triangle" -> ((s: SparkSession, d: String) =>
      Sessions.ltvTriangle(Tables.events(s, d))),
    // RFM segmentation: recency/frequency/monetary ntile(5) scores with
    // deterministic tiebreaks, rolled up per (r,f,m) segment. Registered
    // on the DISTRIBUTED gridRank path (round 11): the ntile form's three
    // global windows single-partition the per-user frame — fine on small
    // frames, wrong as the default at scale; both modes are
    // equivalence-asserted bit-identical (Round10OpsSpec)
    "q132_rfm" -> ((s: SparkSession, d: String) =>
      Sessions.rfmSegments(Tables.events(s, d), distributed = true)),
    // market-basket association rules over order baskets of part brands:
    // corpus-scaled support floor, exact-rational confidence and lift
    "q133_assoc_rules" -> Relational.q133AssocRules _,
    // link prediction on the supplier graph: common-neighbor counts and
    // Jaccard coefficient for non-edge pairs (wedge join + anti-join)
    "q134_link_predict" -> ((s: SparkSession, d: String) =>
      ext.Components.linkPrediction(
        ext.Components.supplierGraph(Tables.supplier(s, d)))),
    // Lorenz curve in revenue deciles: cumulative share of exact-cents
    // customer revenue, ntile(10) with custkey tiebreak
    "q135_revenue_deciles" -> Relational.q135RevenueDeciles _,
    // HLL-shaped distinct sketch: integer trailing-zero registers, exact
    // dyadic harmonic sum — the approximation itself is oracled
    "q136_hll_distinct" -> ((s: SparkSession, d: String) =>
      ext.Sketches.hllDistinct(Tables.events(s, d), "event_type", "user_id")),
    // temporal cross-sell: any-A-before-any-B customer counts per brand
    // pair, corpus-scaled support floor, exact-rational confidence
    "q137_cross_sell" -> Relational.q137CrossSell _,
    // skewness/excess kurtosis per group from exact integer power sums —
    // the fixed-expression standardization chain, raw doubles
    "q138_higher_moments" -> Relational.q138HigherMoments _,
    // signup→purchase latency p50/p90 by signup-week cohort (sort-rank
    // exact percentiles over integer-microsecond latencies)
    "q139_conversion_latency" -> ((s: SparkSession, d: String) =>
      Sessions.conversionLatency(Tables.events(s, d))),
    // peak concurrent sessions per day: sweep line over session
    // boundaries, ends before starts at equal timestamps
    "q140_max_concurrency" -> ((s: SparkSession, d: String) =>
      Sessions.maxConcurrency(Tables.events(s, d))),
    // largest-remainder apportionment of a 1M budget across nations by
    // customer-count weights — integer allocations that sum exactly
    "q141_largest_remainder" -> ((s: SparkSession, d: String) =>
      ext.Curation.largestRemainder(
        Tables.customer(s, d).groupBy(col("c_nationkey").as("key"))
          .agg(count(lit(1)).as("w")), total = 1000000L)),
    // MMR diversified rerank: greedy λ·rel − (1−λ)·max-sim selection over
    // the top-40 candidate pool, 6dp-rounded quantized cosines throughout
    "q142_mmr_rerank" -> ((s: SparkSession, d: String) =>
      Similarity.mmrSelect(Tables.embeddings(s, d))),
    // day-of-week seasonal baseline: daily revenue vs its weekday-bucket
    // mean as one exact-int division (cents·n_days / Σ cents)
    "q143_dow_baseline" -> ((s: SparkSession, d: String) =>
      Sessions.dowBaseline(Tables.events(s, d))),
    // order→ship latency p25/p50/p90 per priority: value-count percentile
    // strategy over a joined fact (integer-day domain, D≪N)
    "q144_ship_latency" -> Relational.q144ShipLatency _,
    // rolling 7-day Pearson r between daily click and purchase counts:
    // exact integer frame moments, fixed-expression derivation
    "q145_rolling_corr" -> ((s: SparkSession, d: String) =>
      Sessions.rollingCorrelation(Tables.events(s, d))),
    // exact two-sample KS statistic (en vs rest over doc length): the
    // max runs over integers |C1·n2 − C2·n1|, one final division
    "q146_ks_test" -> ((s: SparkSession, d: String) =>
      ext.Curation.ksTest(Tables.documents(s, d), "n_chars",
        col("lang") === "en")),
    // Cohen's kappa of the lang-ID heuristic vs labels: chance-corrected
    // agreement from exact confusion-matrix integers
    "q147_langid_kappa" -> ((s: SparkSession, d: String) =>
      TextStats.langIdKappa(Tables.documents(s, d))),
    // HHI supplier-revenue concentration per nation (+ effective
    // competitor count 1/HHI), shares from exact cents
    "q148_hhi" -> Relational.q148Hhi _,
    // index of dispersion of daily counts per event type:
    // (n·Σx² − (Σx)²)/(n·Σx), one exact-int division, zero-day spine
    "q149_dispersion" -> ((s: SparkSession, d: String) =>
      Sessions.dispersionIndex(Tables.events(s, d))),
    // per-source corpus-health scorecard: volume, exact-dup mass, mean
    // length, log-free language diversity — all ints + single divisions
    "q150_source_scorecard" -> ((s: SparkSession, d: String) =>
      ext.Curation.sourceScorecard(Tables.documents(s, d))),
    // character-level near-dup: (len-bucket, prefix) blocking self-join +
    // banded threshold levenshtein — the OCR-noise complement to MinHash
    "q151_edit_neardup" -> ((s: SparkSession, d: String) =>
      ext.Dedup.editNearDups(Tables.documents(s, d))),
    // retrieval ranking quality: NDCG@10 against metadata-graded
    // relevance, discounts frozen to 9-dp decimal literals (no libm log)
    "q152_ndcg" -> ((s: SparkSession, d: String) =>
      ext.Retrieval.ndcgAtK(Tables.documents(s, d))),
    // template/boilerplate families by shared leading-token prefix: one
    // map-side-combined hash agg, multi-source families = scraper chrome
    "q153_boilerplate" -> ((s: SparkSession, d: String) =>
      ext.Curation.boilerplatePrefixes(Tables.documents(s, d))),
    // mergeable KMV bottom-k sketches → union/intersection estimates per
    // event-type pair, exact pair counts alongside
    "q154_kmv_set_algebra" -> ((s: SparkSession, d: String) =>
      ext.Sketches.kmvSetAlgebra(Tables.events(s, d))),
    // train/val/test n-gram leakage matrix: split vocabularies self-joined
    // on shingle, containment of the smaller side
    "q155_split_leakage" -> ((s: SparkSession, d: String) =>
      ext.Curation.splitLeakage(Tables.documents(s, d))),
    // CUPED variance-reduced A/B readout: pooled θ from exact integer
    // moments, adjusted mean as ONE division of exact integers
    "q156_cuped" -> ((s: SparkSession, d: String) =>
      Sessions.cupedReadout(Tables.events(s, d))),
    // first-relevant-rank reciprocal per query (MRR inputs)
    "q157_mrr" -> ((s: SparkSession, d: String) =>
      ext.Retrieval.mrrAtK(Tables.documents(s, d))),
    // approximate-index quality: recall/precision of the banded-LSH
    // near-dup index vs the exact Jaccard ground truth
    "q158_lsh_quality" -> ((s: SparkSession, d: String) =>
      Dedup.lshQuality(docs50(s, d))),
    // snapshot diff ledger: added/removed/changed/unchanged per status
    // from ONE full-outer join, churn as a single integer division
    "q159_snapshot_diff" -> Merge.q159SnapshotDiff _,
    // reliability diagram: per confidence decile, claimed (mean conf) vs
    // observed (best-match rate) — all-integer until two final divisions
    "q160_calibration" -> ((s: SparkSession, d: String) =>
      SyntheticBoxes.calibration(Tables.part(s, d))),
    // vocabulary coverage curve at top-k cutpoints — TakeOrdered top-k,
    // never a global vocab sort
    "q161_vocab_coverage" -> ((s: SparkSession, d: String) =>
      TextStats.vocabCoverage(Tables.documents(s, d))),
    // mergeable histogram quantile sketch: locate p50/p90 in O(types·64)
    // state, exact percentile alongside (sketch-quality visible)
    "q162_hist_quantile" -> ((s: SparkSession, d: String) =>
      ext.Sketches.histogramQuantileSketch(Tables.events(s, d))),
    // revenue-weighted quantity quartiles: the weighted-percentile core on
    // a value-count frame with exact cents weights
    "q126_weighted_median" -> ((s: SparkSession, d: String) => {
      val vc = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"),
          col("l_quantity").cast("double").as("qty"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("wcents"))
      Percentiles.weightedPercentiles(vc, "l_returnflag", "qty", "wcents",
        Seq(0.25, 0.5, 0.75))
    }),
    // per-(label, dim) exact moments → class centroids + within-class
    // scatter of the embedding corpus
    "q116_class_scatter" -> ((s: SparkSession, d: String) =>
      Similarity.classScatter(Tables.embeddings(s, d))),
    // one synchronous label-propagation round on the supplier graph,
    // seeded with s_suppkey % 3 (neighbor-majority, ties to smallest)
    "q114_label_prop" -> ((s: SparkSession, d: String) => {
      val sup = Tables.supplier(s, d)
      ext.Components.labelPropagationStep(
        ext.Components.supplierGraph(sup),
        sup.select(col("s_suppkey").as("node"),
          (col("s_suppkey") % 3).as("label")))
    }),
    // SCD2 point-in-time join: validity-interval dimension from signup
    // events, purchases joined to the version valid at their event time
    "q93_scd2_join" -> ((s: SparkSession, d: String) =>
      Sessions.scd2Join(Tables.events(s, d))),
    // Morton (z-order) clustering key — the multi-dimensional data-skipping
    // layout; pure shift/mask integer expression (Sinks.writeZOrdered sorts
    // by it at write time)
    "q91_zorder_key" -> ((s: SparkSession, d: String) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          graft.functions.ZOrder.zValue(col("l_partkey"), col("l_suppkey"))
            .as("zval"))),
    // per-file statistics manifest (the data-skipping metadata a lakehouse
    // table format maintains) grouped by the file-source metadata column:
    // unlike input_file_name() it is part of the scan's output, so it
    // survives exchanges and keeps the scan off a cached copy of the table
    // (input_file_name() reads "" on an InMemoryRelation)
    "q92_file_manifest" -> ((s: SparkSession, d: String) =>
      Tables.lineitem(s, d)
        .groupBy(col("_metadata.file_name").as("file"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_orderkey"),
          max(col("l_orderkey")).as("max_orderkey"))),
    // SQL front end: correlated EXISTS / NOT EXISTS — Catalyst's
    // RewritePredicateSubquery decorrelates to semi/anti joins
    // (PlanSpec-asserted); path-based parquet refs, no temp views
    "q87_sql_exists" -> ((s: SparkSession, d: String) => s.sql(
      s"""SELECT c.c_custkey, c.c_mktsegment
         |FROM parquet.`$d/customer.parquet` c
         |WHERE EXISTS (SELECT 1 FROM parquet.`$d/orders.parquet` o
         |              WHERE o.o_custkey = c.c_custkey)
         |  AND NOT EXISTS (SELECT 1 FROM parquet.`$d/orders.parquet` o
         |                  WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_totalprice > 250000.0)""".stripMargin)),
    // SQL front end: correlated SCALAR subquery (TPC-H Q17 shape) —
    // decorrelated into an aggregate + join; per-part avg is exact
    // (integral quantities, groups ≪ 2^53) so the compare is parity-safe
    "q88_sql_scalar_subquery" -> ((s: SparkSession, d: String) => s.sql(
      s"""SELECT l1.l_returnflag AS flag, count(*) AS n_small,
         |  sum(l1.l_quantity) AS sum_qty
         |FROM parquet.`$d/lineitem.parquet` l1
         |WHERE l1.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
         |                       FROM parquet.`$d/lineitem.parquet` l2
         |                       WHERE l2.l_partkey = l1.l_partkey)
         |GROUP BY l1.l_returnflag""".stripMargin)),
    // declarative data-quality expectations: every rule one indicator sum,
    // single aggregation pass + exact uniqueness check
    "q67_expectations" -> ((s: SparkSession, d: String) =>
      ops.Profile.expectations(Tables.orders(s, d),
        rules = Seq(
          "orderkey_not_null" -> col("o_orderkey").isNull,
          "totalprice_range" -> (col("o_totalprice") < 0.0 ||
            col("o_totalprice") > 1000000.0 || col("o_totalprice").isNull),
          "status_domain" -> (!col("o_orderstatus").isin("O", "F", "P") ||
            col("o_orderstatus").isNull)),
        uniqueCols = Seq("o_orderkey")))
    ,
    // PII scan + redaction scorecard (round 9; round 10 moved the patterns
    // and this augmentation to production shapes). The synthetic corpus has
    // no natural PII, so the query first augments text DETERMINISTICALLY
    // from doc_id — mixed-case dot/plus email on a non-.com TLD when
    // doc_id%3=0, NANP phone alternating "+1-555-xxx-xxxx" / "(555)
    // xxx-xxxx" writings when %4=0, arbitrary dotted-quad IP when %5=0 —
    // the oracle replays the identical augmentation, so the regex machinery
    // is what's actually under test. Zero shuffles until the tiny
    // per-source rollup.
    "q163_pii_redact" -> ((s: SparkSession, d: String) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" contact User."),
          col("doc_id").cast("string"), lit("+tag@Mail"),
          (col("doc_id") % 7).cast("string"), lit(".org")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, concat(
          when(col("doc_id") % 8 === 0, lit(" call +1-555-"))
            .otherwise(lit(" call (555) ")),
          lpad(((col("doc_id") * 3) % 1000).cast("string"), 3, "0"),
          lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" from 192.168."),
          (col("doc_id") % 256).cast("string"), lit("."),
          ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit("")))
      ext.Safety.piiScorecard(
        Spread.ifNarrow(Tables.documents(s, d), col("doc_id")), aug)
    }),
    // C4-style blocklist filter: keep/drop is the exact integer inequality
    // blocked*100 <= pct*total — bit-reproducible across engines
    "q164_blocklist" -> ((s: SparkSession, d: String) =>
      ext.Safety.blocklistScorecard(Tables.documents(s, d), col("text"),
        Gate.blockWords, maxPct = Gate.maxPct)),
    // Bloom-filter join pruning with engine-neutral hashes: premium buyers
    // (the selective build side) → auto-sized filter (~10 bits per distinct
    // build key, Sketches.bloomBitsFor — round 10: a fixed width was
    // 83%-saturated at sf0.1 and would prune nothing at 10× keys) → probe
    // every customer; FP tail is deterministic and oracle-counted, the
    // oracle re-deriving the same width from the same distinct count.
    "q165_bloom_semijoin" -> ((s: SparkSession, d: String) =>
      ext.Sketches.bloomSemiJoin(
        Tables.orders(s, d).filter(col("o_totalprice") > 480000.0),
        col("o_custkey"),
        Tables.customer(s, d), col("c_custkey"))),
    // per-document n-gram novelty vs all earlier docs (corpus-freshness
    // curve): one shuffle on gram, min-over-window, re-agg by doc
    "q166_ngram_novelty" -> ((s: SparkSession, d: String) =>
      ext.Curation.ngramNovelty(Tables.documents(s, d), n = 3)),
    // bloom-PRUNED fact→dim join: the dim bloom drops fact rows before the
    // shuffle join; FPs die in the real join, so the oracle is the PLAIN
    // join — pruning is invisible to correctness, visible to the shuffle
    "q167_bloom_pruned_join" -> ((s: SparkSession, d: String) =>
      ext.Sketches.bloomPrunedJoin(
        Tables.orders(s, d), col("o_custkey"),
        Tables.customer(s, d).filter(col("c_acctbal") > 9000.0),
        col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("revenue_cents"))),
    // group-aware split: whole sources assigned by engine-neutral
    // fingerprint — the split discipline that stops near-dup leakage
    // across boundaries; disjointness is structural
    "q168_group_split" -> ((s: SparkSession, d: String) =>
      ext.Curation.groupSplit(Tables.documents(s, d), col("source"),
        col("n_chars"))),
    // incremental dedup (round 10): NEW batch (docs 25..49) near-dup'd
    // against the EXISTING corpus (docs 0..24) — banded-LSH prune across
    // the two frames only, exact Jaccard verifies candidates; the
    // dedup-against-prior-crawl gate, on q17's bounded doc window
    "q169_incremental_dedup" -> ((s: SparkSession, d: String) =>
      ext.Dedup.minhashNewVsCorpus(
        docs50(s, d).filter(col("doc_id") >= 25),
        docs50(s, d).filter(col("doc_id") < 25),
        k = 16, bands = 4, n = 3, minJaccard = 0.5)),
    // temperature mixture (round 10): √n-weighted source quotas via exact
    // largest-remainder apportionment + hash-priority selection — the
    // pretraining mixture step (τ pinned to 1/2: IEEE sqrt is correctly
    // rounded, pow is not)
    "q170_temperature_mixture" -> ((s: SparkSession, d: String) =>
      ext.Curation.temperatureMixture(Tables.documents(s, d))),
    // deterministic shuffle + fixed-size shards via distributed grid-rank;
    // the shard audit a training-shard writer runs
    "q171_shuffle_shards" -> ((s: SparkSession, d: String) =>
      ext.Curation.shuffleShards(Tables.documents(s, d), nShards = 16)),
    // cross-source duplication matrix: shared distinct 3-grams +
    // containment per source pair — the mirror/syndication diagnostic
    "q172_source_overlap" -> ((s: SparkSession, d: String) =>
      ext.Curation.sourceOverlapMatrix(
        Spread.ifNarrow(Tables.documents(s, d), col("doc_id")), n = 3)),
    // embedding health audit: bad-dim/NaN/zero-vector counts + exact
    // fixed-point norm² envelope per label
    "q173_embedding_audit" -> ((s: SparkSession, d: String) =>
      ext.Similarity.embeddingAudit(Tables.embeddings(s, d), dim = 64)),
    // URL canonicalization host rollup over the `syntheticUrl` shapes
    "q174_url_canonical" -> ((s: SparkSession, d: String) =>
      ext.Urls.hostRollup(
        Tables.documents(s, d).select(col("doc_id"), syntheticUrl.as("url")),
        col("url"))),
    // SemDeDup-style semantic dedup (round 10): cluster-bucketed cosine
    // near-dup — the documented scale path for the |N|² brute pair scan
    // (q20 measured ~20× super-linear at the 10× point; bucketing bounds
    // work to Σ|cluster|²). Threshold 3/10 as an exact integer inequality.
    "q175_semantic_dedup" -> ((s: SparkSession, d: String) =>
      ext.Similarity.semanticDedup(Tables.embeddings(s, d), k = 8,
        thrNum = 3, thrDen = 10)),
    // weak-supervision label fusion: 3 synthetic annotators (deterministic
    // doc_id-keyed noise, q163's discipline — the FUSION/kappa machinery is
    // what's tested) → majority vote with lowest-label tie-break → per-
    // annotator Cohen's kappa vs consensus as exact integer num/den
    "q176_label_fusion" -> ((s: SparkSession, d: String) => {
      val truth = pmod(col("doc_id"), lit(4L))
      val a1 = when(col("doc_id") % 5 === 0, pmod(col("doc_id") + 1, lit(4L)))
        .otherwise(truth)
      val a2 = when(col("doc_id") % 3 === 0, pmod(col("doc_id") + 2, lit(4L)))
        .otherwise(truth)
      val votes = Tables.documents(s, d).select(
        col("doc_id").as("item_id"),
        explode(array(
          struct(lit("a0").as("annotator"), truth.as("label")),
          struct(lit("a1").as("annotator"), a1.as("label")),
          struct(lit("a2").as("annotator"), a2.as("label")))).as("v"))
        .select(col("item_id"), col("v.annotator"), col("v.label"))
      ext.Labeling.annotatorReport(votes)
    }),
    // k-anonymity release with one-step generalization + l-diversity
    // readout: (nation, segment) groups ≥ k released intact, small groups
    // generalized to (nation, *), still-small rows suppressed into one
    // census row; sensitive attribute = account balance
    "q177_k_anonymity" -> ((s: SparkSession, d: String) =>
      ext.Safety.kAnonymize(Tables.customer(s, d), col("c_nationkey"),
        col("c_mktsegment"), col("c_acctbal"), k = 10)),
    // Luhn-checked payment-card scan (q163's augmentation discipline: the
    // CHECKSUM machinery is what's tested — 2/3 of docs get a
    // deterministic doc_id-derived 16-digit run, ~10% of which pass Luhn;
    // 1/5 get a 15-digit near-miss that must not match)
    "q178_luhn_pan" -> ((s: SparkSession, d: String) => {
      val two = (m: Int, a: Int) =>
        lpad(pmod(col("doc_id") * m + a, lit(100L)).cast("string"), 2, "0")
      val pan = concat(two(7, 1), two(13, 2), two(17, 3), two(19, 4),
        two(23, 5), two(29, 6), two(31, 7), two(37, 8))
      val aug = concat(col("text"),
        when(col("doc_id") % 3 < 2, concat(lit(" card "), pan))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" ref "),
          lpad(pmod(col("doc_id") * 41, lit(1000L)).cast("string"), 15,
            "0"))).otherwise(lit("")))
      ext.Safety.panScorecard(Tables.documents(s, d), aug)
    }),
    // per-domain document cap: top-5 by char mass per synthetic host —
    // the anti-mega-site crawl budget; kept/total doc + char rollup
    "q179_domain_cap" -> ((s: SparkSession, d: String) => {
      val host = concat(lit("site"), pmod(col("doc_id"), lit(7L))
        .cast("string"), lit(".com"))
      ext.Curation.domainCap(Tables.documents(s, d), host, col("n_chars"),
        k = 5)
    }),
    // chat-transcript audit over the event log as a message stream:
    // role alternation violations + maximal-prefix context-window
    // truncation (token proxy = props.k + 1, budget 500)
    "q180_dialogue_audit" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.turnAudit(Tables.events(s, d),
        turnTokens,
        budget = 500L)),
    // cross-document duplication mass: per doc, gram occurrences whose
    // 3-gram lives in ≥2 docs — the span-dedup masking readout
    "q181_dup_mass" -> ((s: SparkSession, d: String) =>
      ext.Curation.duplicationMass(Tables.documents(s, d), n = 3)),
    // code-switching audit: language-ID each half independently, flag
    // disagreement (q163's discipline: 1/4 of docs get a planted French
    // tail so the HALF-level machinery demonstrably fires)
    "q182_code_switch" -> ((s: SparkSession, d: String) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 4 === 0, repeat(lit(" le la et les des"), 8))
          .otherwise(lit("")))
      ext.TextStats.codeSwitchAudit(Tables.documents(s, d), aug)
    }),
    // cross-source quantile normalization of the doc score: per-source
    // rank → pooled midpoint nearest-rank value; pooled rank distributed
    "q183_quantile_norm" -> ((s: SparkSession, d: String) =>
      ext.Curation.quantileNormalize(Tables.documents(s, d),
        col("n_chars"), col("source"))),
    // SFT pair extraction: (user turn → next assistant turn) pairs per
    // conversation with exact µs latency and response token mass
    "q184_turn_pairs" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.turnPairs(Tables.events(s, d),
        turnTokens)),
    // per-source data card (composition capstone): mass + boilerplate-
    // prefix dups + blocklist drops + majority lang, one row per source
    "q185_source_datacard" -> ((s: SparkSession, d: String) =>
      ext.Curation.sourceDataCard(Tables.documents(s, d),
        blockWords = Gate.blockWords, maxPct = Gate.maxPct)),
    // train-tokenizer → encode-corpus in one DAG: q110's learned merges
    // pivoted to one broadcast row, replayed over the DISTINCT vocab,
    // joined back onto (source, word) counts — fertility per source
    "q186_bpe_fertility" -> ((s: SparkSession, d: String) =>
      ext.TextStats.bpeApplyFertility(Tables.documents(s, d), nMerges = 3)),
    // crawl politeness: per-host hourly fetch buckets → peak rate and
    // over-limit bucket count (limit 5/hour — active on the fixture's
    // measured 6–9 peaks)
    "q187_fetch_rate" -> ((s: SparkSession, d: String) =>
      ext.Urls.fetchRateAudit(Tables.events(s, d),
        concat(lit("site"), pmod(col("user_id"), lit(7L)).cast("string"),
          lit(".com")),
        bucketNs = 3600L * 1000000000L, limit = 5)),
    // mixture drift matrix: pairwise exact-integer TVD between sources
    // over 64-char n_chars buckets — which sources disagree on "typical"
    "q188_source_drift" -> ((s: SparkSession, d: String) =>
      ext.Curation.sourceDriftMatrix(Tables.documents(s, d),
        col("n_chars"), bucketWidth = 64L)),
    // IVF index quality vs exact truth (q158's sibling for the dense
    // path): recall/precision of q31's lists against q19's at k=5
    "q189_ivf_quality" -> ((s: SparkSession, d: String) =>
      ext.Similarity.ivfQuality(Tables.embeddings(s, d),
        col("vec_id") % 10 === 0, k = 5)),
    // entry-path mining: first-3-event-type paths per conversation —
    // the onboarding distribution / scripted-client spike readout
    "q190_entry_paths" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.entryPaths(Tables.events(s, d), k = 3)),
    // embedding cluster purity vs labels: majority share + Gini impurity
    // per exact-L2² cell — the embedding-space health check
    "q191_cluster_purity" -> ((s: SparkSession, d: String) =>
      ext.Similarity.clusterPurity(Tables.embeddings(s, d), col("label"),
        k = 8)),
    // per-source OOV rate under the frozen global top-20 vocabulary —
    // who pays for the vocab sizing decision q161 makes globally
    "q192_oov_rate" -> ((s: SparkSession, d: String) =>
      TextStats.oovRate(Tables.documents(s, d), vocabK = 20)),
    // experiment-health SRM gate: spread-hash arms vs 50/50, chi² as the
    // closed-form (n_a − n_b)²/n over exact integers
    "q193_srm_check" -> ((s: SparkSession, d: String) =>
      Sessions.srmCheck(Tables.events(s, d))),
    // model-based quality filtering in the LOGIT domain (σ(z)>1/2 ⟺
    // z>0): frozen micro-unit weights × integer features, pure int gate
    // (weights chosen against measured feature ranges: ~50% keep rate)
    "q194_quality_gate" -> ((s: SparkSession, d: String) =>
      TextStats.linearQualityGate(Tables.documents(s, d),
        bias = Gate.bias, wTokens = Gate.wTokens, wStop = Gate.wStop,
        wDistinct = Gate.wDistinct)),
    // HTML → text extraction scorecard (q163's augmentation discipline:
    // docs wrapped in deterministic markup — scripts with content,
    // comments, entities — so the STRIPPER is what's tested)
    "q195_html_extract" -> ((s: SparkSession, d: String) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><body><h1>T"), id,
        lit("</h1><script>var x = \"a\";</script><p>"), col("text"),
        lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<p>A &amp; B &lt;ok&gt;</p>"))
          .when(col("doc_id") % 3 === 1,
            lit("<!-- hidden --><p>Tail &quot;q&quot; &#39;s</p>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      ext.Html.extractionScorecard(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          html.as("html")),
        col("html"))
    }),
    // robots-style disallow filter over q174's URL shapes: literal path
    // prefixes per canonical host, broadcast rule probe
    "q196_robots_filter" -> ((s: SparkSession, d: String) =>
      ext.Urls.robotsFilter(
        Tables.documents(s, d).select(col("doc_id"), syntheticUrl.as("url")),
        col("doc_id"), col("url"),
        rules = Seq("site0.com" -> "/search", "site2.com" -> "/a",
          "cdn.site1.net" -> "/img", "site3.com" -> "/clean",
          "blog.site4.org" -> "/post"))),
    // embedding snapshot drift per label: even/odd vec_id halves as two
    // snapshots; exact floor-mean per-dim deltas (shift-to-non-negative
    // so div ≡ // holds), drift² + max dim shift
    "q197_embedding_drift" -> ((s: SparkSession, d: String) =>
      ext.Similarity.snapshotDrift(Tables.embeddings(s, d),
        col("vec_id") % 2 === 0)),
    // padding efficiency: length-sorted vs shuffled batches of 32 — the
    // measurement behind length bucketing; both orders distributed ranks
    "q198_padding_efficiency" -> ((s: SparkSession, d: String) =>
      ext.Curation.paddingEfficiency(Tables.documents(s, d),
        expr("(n_chars div 4) + 1"), batchSize = 32)),
    // the capstone composition: HTML extract → blocklist → quality gate
    // → corpus-wide exact dedup, per-source survival funnel in one DAG
    // (the `wrappedHtml` markup feeds the real extractor first)
    "q199_curation_funnel" -> ((s: SparkSession, d: String) =>
      ext.Curation.curationFunnel(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          wrappedHtml.as("html")),
        ext.Html.htmlToText(col("html")),
        blockWords = Gate.blockWords, maxPct = Gate.maxPct,
        bias = Gate.bias, wTokens = Gate.wTokens, wStop = Gate.wStop,
        wDistinct = Gate.wDistinct)),
    // the final manifest: q199's survivors through the group-aware
    // split — what actually ships to the trainer, and where
    "q200_corpus_manifest" -> ((s: SparkSession, d: String) =>
      ext.Curation.corpusManifest(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          wrappedHtml.as("html")),
        ext.Html.htmlToText(col("html")),
        blockWords = Gate.blockWords, maxPct = Gate.maxPct,
        bias = Gate.bias, wTokens = Gate.wTokens, wStop = Gate.wStop,
        wDistinct = Gate.wDistinct)),
    // fill-in-the-middle example transform: deterministic cuts, 50% rate,
    // reassembly invariant + fingerprint of the RENDERED <PRE><SUF><MID>
    // string — pure per-row, zero shuffles
    "q201_fim_transform" -> ((s: SparkSession, d: String) =>
      ext.Transforms.fimSplit(Tables.documents(s, d))),
    // SFT loss-mask geometry: trainable (assistant) token mass, span
    // count (consecutive assistant msgs = ONE span), first trainable
    // token offset — same conversation window as q180/q184
    "q202_loss_mask" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.lossMask(Tables.events(s, d),
        turnTokens)),
    // reference-LM fluency scoring: bigram model trained on the even-id
    // half, every doc scored by known-bigram mass — exact integer
    // sufficient statistics, no logs (NOTES parity rule)
    "q203_lm_score" -> ((s: SparkSession, d: String) =>
      ext.TextStats.lmScore(
        Spread.ifNarrow(Tables.documents(s, d), col("doc_id")),
        col("doc_id") % 2 === 0)),
    // aspect-ratio bucketing for image batching: exact integer
    // nearest-ratio assignment, per-bucket padding cost vs the
    // global-pad baseline (dims deterministic from doc_id — the
    // ASSIGNMENT machinery is what's tested, q163's discipline)
    "q204_aspect_buckets" -> ((s: SparkSession, d: String) => {
      val w = (pmod(col("doc_id") * 7 + 3, lit(8L)) + 1L) * 128L
      val h = (pmod(col("doc_id") * 11 + 5, lit(8L)) + 1L) * 128L
      ext.Multimodal.aspectBuckets(Tables.documents(s, d), w, h)
    }),
    // consistent pseudonymization audit: entity → deterministic
    // surrogate; mention/doc/collision counts per surrogate (planted
    // cross-doc repeated entities so consistency demonstrably fires)
    "q205_pseudonymize" -> ((s: SparkSession, d: String) =>
      ext.Safety.pseudonymize(Tables.documents(s, d), entityAugmented)),
    // substring-level duplicate span masking (ExactSubstr shape): char
    // positions whose 20-gram repeats corpus-wide, merged to maximal
    // per-doc spans — the span-dedup complement of the doc-level family
    "q206_repeated_spans" -> ((s: SparkSession, d: String) =>
      ext.Dedup.repeatedSpans(
        Spread.ifNarrow(Tables.documents(s, d), col("doc_id")), l = 20)),
    // GPT-style fixed-context layout: distributed prefix sum of doc
    // stream offsets, window-fragmentation histogram (c = 512 so
    // multi-doc windows demonstrably occur on the short synthetic docs)
    "q207_context_windows" -> ((s: SparkSession, d: String) =>
      ext.Curation.contextWindows(Tables.documents(s, d), c = 512L)),
    // contrastive hard-negative mining: top-3 non-positive retrievals
    // per query (doc-prefix queries, every 97th doc) + the false-negative
    // safety check (exact Jaccard vs the positive < 1/2)
    "q208_hard_negatives" -> ((s: SparkSession, d: String) =>
      ext.Retrieval.hardNegatives(Tables.documents(s, d),
        col("doc_id") % 97 === 3 && col("doc_id") < 97L * 21, k = 3)),
    // dialogue-family composition capstone: template gate → usability
    // gate with per-stage conversation/pair/token survival in one DAG
    "q209_sft_manifest" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.sftManifest(Tables.events(s, d),
        turnTokens)),
    // data-parallel shard balance: snake assignment off the distributed
    // descending grid rank — per-worker doc/char loads
    "q210_shard_balance" -> ((s: SparkSession, d: String) =>
      ext.Curation.shardBalance(Tables.documents(s, d),
        length(col("text")), nWorkers = 8)),
    // three independent quality gates cross-tabulated: blocklist
    // heuristic × logit model gate × reference-LM fluency — the
    // disagreement cells are the human-review queue
    "q211_gate_agreement" -> ((s: SparkSession, d: String) =>
      ext.Curation.gateAgreement(Tables.documents(s, d),
        blockWords = Gate.blockWords, maxPct = Gate.maxPct,
        bias = Gate.bias, wTokens = Gate.wTokens, wStop = Gate.wStop,
        wDistinct = Gate.wDistinct, refPred = col("doc_id") % 2 === 0)),
    // agentic-transcript bracket audit: tool results must answer pending
    // tool calls — running-balance window, orphan/unclosed counts.
    // click→call, purchase→result: the two ~equal-mass event types, so
    // orphans AND unclosed both fire (a 'cart' mapping was degenerate —
    // the type doesn't exist in the fixture, the q104 activity lesson)
    "q212_toolcall_audit" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.toolCallAudit(Tables.events(s, d),
        callTypes = Seq("click"), resultTypes = Seq("purchase"))),
    // right-to-be-forgotten blast radius: q205's planted entities, a
    // delete request for every 5th one, per-source tombstone counts
    "q213_forget_audit" -> ((s: SparkSession, d: String) => {
      val deletes = s.range(0, 40).filter(col("id") % 5 === 0)
        .select(entityEmail(col("id")).as("email"))
      ext.Safety.forgetAudit(Tables.documents(s, d), entityAugmented,
        deletes)
    }),
    // the data-recipe table when budget > corpus: per-source repeat
    // factors off the shared √-temperature quotas, oversampling flags.
    // Grouping is by doc_id digit-length bins (10/90/400 docs at
    // sf0.01) — the real `source` column is perfectly uniform (25 docs
    // each), which would make √-temperature a no-op and the flag
    // permanently inactive (the k-core fixture lesson)
    "q214_mixture_epochs" -> ((s: SparkSession, d: String) =>
      ext.Curation.mixtureEpochs(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit("len"),
            length(col("doc_id").cast("string")).cast("string"))
            .as("source")),
        budgetNum = 3, budgetDen = 1)),
    // GPT-3-style eval decontamination: verbatim 13-gram hits merged to
    // per-train-doc removal spans (q50 flags; this emits the plan)
    "q215_decontam_spans" -> ((s: SparkSession, d: String) =>
      ext.Curation.decontamSpans(Tables.documents(s, d),
        col("doc_id") % 20 === 0, n = 13)),
    // DPO preference-pair builder: per-user (chosen, rejected) = reward
    // argmax/argmin in exact cents, margin-gated at $200 (median per-user
    // spread ≈ $220 at every SF, so the gate provably filters both ways);
    // the chosen×rejected type matrix is the degenerate-axis check
    "q216_preference_pairs" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.preferencePairs(Tables.events(s, d))),
    // data-loader shuffle audit: per-epoch same-source adjacency off the
    // DISTRIBUTED grid rank, anchored to the closed-form random
    // expectation and the sorted-order worst case
    "q217_shuffle_quality" -> ((s: SparkSession, d: String) =>
      ext.Curation.shuffleQuality(Tables.documents(s, d))),
    // best-of-n sampling value: E[max of 4 draws] from the empirical
    // per-source reward CDF — exact order-statistic integers, no pow()
    "q218_best_of_n" -> ((s: SparkSession, d: String) =>
      ext.Retrieval.bestOfN(Tables.documents(s, d), col("n_chars"))),
    // T5 span corruption: deterministic 1–3-token masks at ~15% token
    // mass, merged spans, sentinel-aware input/target lengths, exact
    // mask fingerprint
    "q219_span_corruption" -> ((s: SparkSession, d: String) =>
      ext.Transforms.spanCorruption(
        Spread.ifNarrow(Tables.documents(s, d), col("doc_id")))),
    // dedup shifts the source mixture: per-source shares before/after
    // prefix dedup in exact ppm — the recipe must be re-derived AFTER
    "q220_dedup_impact" -> ((s: SparkSession, d: String) =>
      ext.Curation.dedupImpact(Tables.documents(s, d))),
    // train-readiness preflight capstone: contamination / shard balance /
    // oversampling / blocklist folded to one pass-fail table (2 pass,
    // 2 fail at sf0.01 — both branches alive); recipe grouped by the
    // q214 digit-length bins (the uniform source column is a no-op)
    "q221_train_preflight" -> ((s: SparkSession, d: String) =>
      ext.Curation.trainPreflight(Tables.documents(s, d),
        col("doc_id") % 20 === 0, Gate.blockWords, maxPct = Gate.maxPct,
        recipeGroup = concat(lit("len"),
          length(col("doc_id").cast("string")).cast("string")))),
    // per-source lineage digest: order-invariant content hash + masses —
    // the O(sources) "did anything change" stamp before q158's diff
    "q222_corpus_digest" -> ((s: SparkSession, d: String) =>
      ext.Curation.corpusDigest(Tables.documents(s, d))),
    // sequence-length selection curve: docs truncated + token mass lost
    // at each candidate context (32/64/96 straddle the 10–99 token docs)
    "q223_truncation_audit" -> ((s: SparkSession, d: String) =>
      ext.Curation.truncationAudit(Tables.documents(s, d))),
    // degenerate-generation QA: tail periodicity per (source, period);
    // planted stutter (24× ' spam') and phrase cycle (12× ' foo bar')
    // so both loop kinds demonstrably fire (q163 augmentation discipline)
    "q224_generation_loops" -> ((s: SparkSession, d: String) =>
      ext.TextStats.generationLoops(Tables.documents(s, d),
        concat(col("text"),
          when(col("doc_id") % 17 === 0, repeat(lit(" spam"), 24))
            .when(col("doc_id") % 23 === 0, repeat(lit(" foo bar"), 12))
            .otherwise(lit(""))))),
    // q214's recipe at DOC grain: who gets the extra pass (hash-spread
    // pick, deterministic); (group, exposures) histogram — the
    // memorization-exposure readout; q214's digit-length bins
    "q225_epoch_exposure" -> ((s: SparkSession, d: String) =>
      ext.Curation.epochExposure(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit("len"),
            length(col("doc_id").cast("string")).cast("string"))
            .as("source")))),
    // in-batch false-negative risk for contrastive training: near-dup
    // pairs co-located by the loader permutation per batch size —
    // collision mass grows with batch size (16/64/256 curve)
    "q226_batch_collisions" -> ((s: SparkSession, d: String) =>
      ext.Curation.batchCollisions(Tables.documents(s, d))),
    // snapshot change detection on the lineage digest: v2 revises the
    // docs of three sources (doc_id mod 20 < 3) → exactly those sources
    // flag changed, the rest skip recompute
    "q227_digest_delta" -> ((s: SparkSession, d: String) => {
      val a = Tables.documents(s, d)
      val b = a.withColumn("text",
        when(pmod(col("doc_id"), lit(20L)) < 3,
          concat(col("text"), lit(" revised"))).otherwise(col("text")))
      ext.Curation.digestDelta(a, b)
    }),
    // two-phase annealing recipe: 90% uniform + 10% quality-weighted
    // anneal (gate: n_chars ≥ 300 — 256/500 pass, per-source spread
    // 7–17, so the shift column demonstrably moves both ways)
    "q228_annealing_recipe" -> ((s: SparkSession, d: String) =>
      ext.Curation.annealingRecipe(Tables.documents(s, d),
        col("n_chars") >= 300L)),
    // instruction-template diversity: digit-normalized 2-token template
    // head with exact-ppm corpus share + cumulative head mass (103
    // multi-doc templates / 254 of 500 docs at sf0.01 — active)
    "q229_template_diversity" -> ((s: SparkSession, d: String) =>
      ext.TextStats.templateDiversity(Tables.documents(s, d))),
    // Condorcet-cycle audit over (user, dow)-unit preference battles:
    // per-triple signed majority margins + weakest edge; the sf0.01
    // tournament has 1 genuine cycle, larger SFs converge to a total
    // order (margins stay the live readout; both is_cycle branches are
    // proven on the LabelingSpec panel fixture)
    "q230_tournament_audit" -> ((s: SparkSession, d: String) =>
      ext.Labeling.tournamentAudit(Tables.events(s, d))),
    // Bradley–Terry leaderboard from the same battles: 5 MM passes,
    // exact-integer wins, 9-dp iterate (the q64 discipline)
    "q231_bradley_terry" -> ((s: SparkSession, d: String) =>
      ext.Labeling.bradleyTerry(Tables.events(s, d))),
    // audio arm of the multimodal seam: 16-bit LE PCM frame energies +
    // VAD-style self-thresholded activity runs (text bytes stand in as
    // PCM; decode is REAL byte arithmetic, exact in the oracle because
    // the corpus is pure ASCII)
    "q232_audio_activity" -> ((s: SparkSession, d: String) =>
      ext.Multimodal.audioActivity(
        ext.Multimodal.mediaFromDocuments(Tables.documents(s, d)))),
    // skew playbook capstone: salted join on a deliberately hot key
    // (~80% of rows on one key), per-key salt-bucket balance readout +
    // dim-enriched cents proven against the oracle's join-free compute
    "q233_skew_playbook" -> ((s: SparkSession, d: String) =>
      ext.Skew.skewPlaybook(Tables.events(s, d))),
    // per-lang AUC of "n_chars predicts contains-'spark'": exact
    // tie-corrected doubled rank-sum U + one IEEE division (every lang
    // has both classes at every SF — de 53/17 pos/neg at sf0.01 — and
    // the length→containment correlation keeps 0.5 < auc < 1, so the
    // tie path and both class branches are live)
    "q234_group_auc" -> ((s: SparkSession, d: String) =>
      ext.EvalMetrics.groupAuc(Tables.documents(s, d), col("lang"),
        col("n_chars"), col("text").contains("spark"))),
    // per-lang average precision at 10 under the same score/label:
    // lcm(1..10)=2520-cleared integer numerator, deterministic
    // (score DESC, doc_id ASC) ranking
    "q235_avg_precision" -> ((s: SparkSession, d: String) =>
      ext.EvalMetrics.averagePrecision(Tables.documents(s, d), col("lang"),
        col("n_chars"), col("text").contains("spark"), col("doc_id"))),
    // join-fanout pre-flight over the two fact relationships: key-grain
    // counts on both sides, full-outer audit join at |keys| grain
    "q236_join_fanout" -> ((s: SparkSession, d: String) =>
      ops.Relational.fanoutAudit(Tables.orders(s, d), col("o_orderkey"),
          Tables.lineitem(s, d), col("l_orderkey"), "orders->lineitem")
        .unionByName(ops.Relational.fanoutAudit(
          Tables.customer(s, d), col("c_custkey"),
          Tables.orders(s, d), col("o_custkey"), "customer->orders"))),
    // serving-template render: per-conversation flat prompt string,
    // exact length + q15 position-weighted fingerprint
    "q237_chat_template" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.chatTemplate(Tables.events(s, d))),
    // markdown structure audit over the deterministic doc_id-keyed
    // augmentation (fixture corpus has no markdown — q163 discipline)
    "q238_markdown_audit" -> ((s: SparkSession, d: String) =>
      ext.Html.markdownAudit(Tables.documents(s, d),
        ext.Html.markdownFromDoc)),
    // prefix-cache reuse under a sliding 8-piece context window:
    // generic zip_with first-mismatch on the engine side vs the
    // oracle's independent append-only/unique-piece derivation
    "q239_prefix_cache" -> ((s: SparkSession, d: String) =>
      ext.Dialogue.prefixCacheAudit(Tables.events(s, d))),
    // green-list watermark detector over a planted watermark: docs with
    // doc_id%7==0 get 60 appended 'wm' tokens whose self-bigram is green
    // under mix40∘fingerprint (verified at design time), so the z>4
    // branch provably fires on exactly the planted family while clean
    // docs stay ~N(0,1)
    "q240_watermark_detect" -> ((s: SparkSession, d: String) =>
      ext.TextStats.watermarkDetect(
        Spread.ifNarrow(Tables.documents(s, d), col("doc_id"))
          .withColumn("text",
          when(pmod(col("doc_id"), lit(7L)) === 0,
            concat(col("text"), expr("repeat(' wm', 60)")))
            .otherwise(col("text"))),
        col("text"))),
    // speculative-decode acceptance: draft diverges at the analytic
    // position 1+(doc_id*7+3)%20 — generic prefix scan vs the oracle's
    // least(p-1, T) closed form; short docs exercise the full-accept
    // branch
    "q241_spec_decode" -> ((s: SparkSession, d: String) =>
      ext.EvalMetrics.speculativeAcceptance(Tables.documents(s, d),
        col("text"), pmod(col("doc_id") * 7 + 3, lit(20L)) + 1)),
    // Krippendorff's alpha over a 3-full + 1-partial annotator panel
    // (a3 votes on even doc_ids only — m_u ∈ {3,4} exercises the
    // per-unit lcm clearing)
    "q242_krippendorff" -> ((s: SparkSession, d: String) => {
      val truth = pmod(col("doc_id"), lit(4L))
      val a1 = when(col("doc_id") % 5 === 0,
        pmod(col("doc_id") + 1, lit(4L))).otherwise(truth)
      val a2 = when(col("doc_id") % 3 === 0,
        pmod(col("doc_id") + 2, lit(4L))).otherwise(truth)
      val a3 = when(col("doc_id") % 4 === 0,
        pmod(col("doc_id") + 3, lit(4L))).otherwise(truth)
      val votes = Tables.documents(s, d).select(
        col("doc_id").as("item_id"),
        explode(array(
          struct(lit("a0").as("annotator"), truth.as("label")),
          struct(lit("a1").as("annotator"), a1.as("label")),
          struct(lit("a2").as("annotator"), a2.as("label")),
          struct(lit("a3").as("annotator"),
            when(pmod(col("doc_id"), lit(2L)) === 0, a3)
              .otherwise(lit(null).cast("long")).as("label")))).as("v"))
        .select(col("item_id"), col("v.annotator"), col("v.label"))
        .filter(col("label").isNotNull)
      ext.Labeling.krippendorffAlpha(votes)
    }),
    // reward-length bias screen: exact-moment correlation (the q74
    // integer-moments discipline) between token count and the frozen
    // q194 quality logit — the length-bias audit a reward model gets
    // before its scores gate RLHF data
    "q243_reward_length_bias" -> ((s: SparkSession, d: String) => {
      val base = Tables.documents(s, d)
        .select(col("source"), ext.TextStats.tokens(col("text")).as("__t"))
        .select(col("source"),
          size(col("__t")).cast("decimal(18,0)").as("x"),
          ext.TextStats.qualityLogitMicro(col("__t"), Gate.bias,
            Gate.wTokens, Gate.wStop, Gate.wDistinct)
            .cast("decimal(18,0)").as("y"))
      ops.Relational.corrRegression(base, col("source"), col("x"),
          col("y"))
        .select(col("source"), col("n"), col("corr"),
          col("slope_cents_per_unit").as("slope_micro_per_tok"),
          col("intercept"), col("r2"))
    }),
    // GRPO/RLVR group-relative advantage over (user, dow) units with a
    // binary verifier reward; degenerate zero-variance groups flagged
    "q244_group_advantage" -> ((s: SparkSession, d: String) =>
      ext.EvalMetrics.grpoAudit(Tables.events(s, d))),
    // near-dup cluster-size histogram: LSH pairs (0.55) closed into
    // components, keep-one-per-cluster removal mass; 5+23 clusters and
    // 22 singletons on the docs50 slice
    "q245_neardup_clusters" -> ((s: SparkSession, d: String) =>
      ext.Dedup.nearDupClusters(docs50(s, d), k = 16, bands = 4, n = 3,
        minJaccard = 0.55)),
    // binned ECE of the fixed linear squash of the q194 quality logit
    // as an English-ness predictor — exact integer gap numerators per
    // decile, one division; worst bin via packed-integer argmax
    "q246_ece_calibration" -> ((s: SparkSession, d: String) => {
      val conf = least(lit(1000000L), greatest(lit(0L),
        expr("(logit + 60000000) div 120")))
      val base = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          ext.TextStats.qualityLogitMicro(
            ext.TextStats.tokens(col("text")), Gate.bias,
            Gate.wTokens, Gate.wStop, Gate.wDistinct).as("logit"))
      ext.EvalMetrics.eceCalibration(base, col("source"), conf,
        col("lang") === "en")
        .withColumnRenamed("grp", "source")
    }),
    // paged KV-cache accounting (16-token pages) over chat-template
    // contexts: peak pages + internal fragmentation per conversation
    "q247_kv_cache_pager" -> ((s: SparkSession, d: String) =>
      ext.Serving.kvCachePager(Tables.events(s, d))),
    // upward CUSUM drift detector on the daily ingest series via the
    // prefix-sum/running-min closed form — exact 4N-scaled integers
    "q248_cusum_daily" -> ((s: SparkSession, d: String) =>
      ext.Sessions.cusumDaily(Tables.events(s, d))),
    // Flesch / FK-grade readability per source from exact corpus sums
    "q249_readability" -> ((s: SparkSession, d: String) =>
      ext.TextStats.readability(Tables.documents(s, d), col("text"))),
    // token-bucket admission control (C=5, r=2/s, cost=1) replayed
    // exactly per user via the packed-BIGINT fold
    "q250_token_bucket" -> ((s: SparkSession, d: String) =>
      ext.Serving.tokenBucket(Tables.events(s, d))),
    // DSIR-shaped frequency-ratio selection score, target = lang 'en':
    // exact cross-rate evidence summed per doc, rolled up per source
    "q251_freq_ratio_select" -> ((s: SparkSession, d: String) =>
      ext.TextStats.freqRatioScore(Tables.documents(s, d), col("text"),
        col("lang") === "en")),
    // perceptual (dHash) near-dup pairs over the deterministic text
    // raster (first 72 chars as a 9×8 luma grid — the q27/q232
    // text-bytes-as-media envelope): band-LSH prune → exact Hamming ≤ 16.
    // Fixture keeps both branches live at sf0.01: 24 exact pairs
    // (hamming 0, shared 72-char prefixes) + 3 near pairs (14–16)
    "q252_dhash_neardup" -> ((s: SparkSession, d: String) =>
      Dedup.dhashNearDups(Tables.documents(s, d), maxDist = 16)),
    // dHash near-dup clusters: the q245 CC + histogram readout over the
    // perceptual pair graph (image-corpus twin of text nearDupClusters)
    "q253_dhash_clusters" -> ((s: SparkSession, d: String) =>
      Dedup.dhashClusters(Tables.documents(s, d), maxDist = 16)),
    // training-run capstone: mixture recipe → doc-grain exposure explode
    // → context packing → lineage manifest in ONE DAG (q214+q89+q222
    // composed; q214's digit-length source bins so the quotas vary)
    "q254_train_run_prep" -> ((s: SparkSession, d: String) =>
      ext.Curation.trainRunPrep(
        Tables.documents(s, d).select(col("doc_id"), col("text"),
          concat(lit("len"),
            length(col("doc_id").cast("string")).cast("string"))
            .as("source")))),
    // the image-dedup END PRODUCT: doc → keeper mapping (q78's
    // keep-the-best policy: longest text, min-id ties) over the dHash
    // near-dup graph — what a curation pipeline actually applies
    "q255_dhash_keeper" -> ((s: SparkSession, d: String) =>
      Dedup.canonicalMapping(
        Dedup.dhashNearDupEdges(Tables.documents(s, d), maxDist = 16),
        Tables.documents(s, d))),
    // SemDeDup-shaped semantic dedup: q24's bucket-pruned cosine pairs
    // (minCos 0.15, the fixture's live threshold) → CC → the q245
    // histogram contract over ALL embedding rows — the embedding member
    // of the dedup triple (MinHash text / dHash image / cosine embedding)
    "q256_embed_dedup_clusters" -> ((s: SparkSession, d: String) =>
      Similarity.embedDedupClusters(Tables.embeddings(s, d), dim = 64,
        bits = 8, minCos = 0.15)),
    // submodular greedy max-coverage selection over shingle sets (k=6,
    // early stop on zero gain): exact-integer gains + min-id ties make
    // the selection ORDER oracle-checkable; q17's bounded doc window
    "q257_greedy_coverage" -> ((s: SparkSession, d: String) =>
      Dedup.greedyCoverage(docs50(s, d), k = 6, n = 3)),
    // χ² distributional drift: snapshot B deterministically drops a
    // third of the LONG docs (n_chars > 300 ∧ doc_id%3=0), so the
    // 100-char length-bin histogram shifts hard at the tail — a live
    // drift signal with exact per-bin numerators
    "q258_chi2_drift" -> ((s: SparkSession, d: String) => {
      val a = Tables.documents(s, d)
      val b = a.filter(!(col("n_chars") > 300L && col("doc_id") % 3 === 0))
      ext.Curation.chi2Drift(a, b, expr("n_chars div 100"))
    }),
    // incremental perceptual gate: NEW batch (doc_id%5=0) dHash-checked
    // against the standing corpus — q169's crawl-admission shape on the
    // image raster; 13 exact-prefix pairs live at sf0.01
    "q259_dhash_gate" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Dedup.dhashNewVsCorpus(docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), maxDist = 16)
    }),
    // cross-modal dedup capstone: MinHash text (q245's 0.55) + dHash
    // raster (q252's 16) + embedding cosine (q256's 0.15, vec_id ≡
    // doc_id) pair graphs unioned into ONE CC + ONE q78 keeper per doc,
    // with a modality bitmask (1 text / 2 image / 4 embedding) saying
    // which graphs made each doc a duplicate
    "q260_crossmodal_keeper" -> ((s: SparkSession, d: String) =>
      Dedup.crossModalKeeper(Tables.documents(s, d),
        Tables.embeddings(s, d))),
    // REAL-image dHash, driver-oracled end to end: engine-written 18×16
    // grayscale PNGs (each 9×8 grid cell = one exact 2×2 pixel block)
    // → ImageIO decode → area-averaged dhashBands → the shared collapse
    // + band join + Hamming verify; the oracle predicts every bit from
    // the text-derived cell sums (luma of gray is 1000·v, counts equal)
    "q261_image_dhash_neardup" -> ((s: SparkSession, d: String) =>
      ext.Multimodal.imageNearDups(
        ext.Multimodal.textPngs(Tables.documents(s, d)), maxDist = 16)),
    // q20's connectivity form (round-16 verdict #6): rep pairs + star
    // edges — the distance-0 clique of m exact copies is m−1 edges, not
    // m²/2 output rows, so OUTPUT mass stays linear in multiplicity
    "q262_cosine_neardup_edges" -> ((s: SparkSession, d: String) =>
      Similarity.cosineNearDupEdges(Tables.embeddings(s, d), minCos = 0.18)),
    // streaming twin #17 driven END-TO-END through the driver oracle
    // (round-16 verdict #7): the stateless online dedup gate's exact code
    // path — codegen'd per-row signatures (array_min over transformed
    // codes, no stateful agg), band explode, stream-static band join,
    // smallest-matching-band per-pair dedup, array-intersect verify — on
    // a batch replay. The twin is STATELESS (zero state store), so a
    // micro-batch arrival sequence is exactly a batch union
    // (StreamingSpec proves whole-vs-split); the 3-slice union below IS
    // the replayed sequence.
    "q263_stream_dedup_gate" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") < 50)
      val arrivals = (0L until 3L).map(b =>
          docs.filter(col("doc_id") >= 50 &&
            pmod(col("doc_id"), lit(3L)) === b))
        .reduce(_ unionByName _)
        // round 19 (guide §2.5 input parallelism): the 3 single-file
        // filter slices union to 3 partitions, so the whole map-side gate
        // (per-row signatures + band probe + exact verify) ran on 3 of 32
        // cores — StageAudit measured the save stage at 3 tasks / 8.4 s
        // CPU. Explicit-count hash repartition (AQE-coalesce-exempt)
        // spreads the replay; the gate is per-row deterministic, so the
        // layout cannot change a single output value.
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      streaming.StreamOps.dedupGateStream(arrivals, corpus)
    }),
    // leakage-safe split (round 16): whole near-dup clusters assigned to
    // one split — structural disjointness, the contamination control a
    // per-doc hash split can't give (5-gram shingles: the q260
    // full-corpus lesson)
    "q264_leakage_safe_split" -> ((s: SparkSession, d: String) =>
      Dedup.leakageSafeSplit(Tables.documents(s, d))),
    // split-leakage audit (round 16): how contaminated is a NAIVE per-doc
    // hash split? Docs whose near-dup cluster spans >1 split are leaked —
    // the diagnostic that motivates q264's cluster-grain re-split
    "q265_split_leakage_audit" -> ((s: SparkSession, d: String) => {
      // reduced-before-multiply (the round-17 clusterSplit discipline):
      // overflow-proof over the full BIGINT id domain, same buckets
      val naive = pmod(pmod(pmod(col("doc_id"), lit(1000003L)) *
        lit(2654435761L), lit(1000003L)), lit(10L))
      Dedup.splitLeakageAudit(Tables.documents(s, d),
        when(naive < 8, lit("train")).when(naive === 8, lit("val"))
          .otherwise(lit("test")))
    }),
    // incremental split gate (round 16): ODD docs arrive against the
    // EVEN-doc corpus — a new doc inherits the split of the matched
    // corpus cluster (min cluster id on a bridge), else opens its own
    // singleton cluster; q264's rule, applied at admission time
    "q266_incremental_split" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalSplit(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
    }),
    // persisted-index seams as driver rows (round 17): each builds the
    // standing asset and probes it in ONE plan — structural equality to
    // the recompute form is what the driver checks (q169/q31 semantics);
    // the real parquet round-trip of the same assets is Round16/17OpsSpec
    "q267_band_index_gate" -> ((s: SparkSession, d: String) =>
      ext.Dedup.minhashNewVsIndex(
        docs50(s, d).filter(col("doc_id") >= 25),
        ext.Dedup.buildBandIndex(docs50(s, d).filter(col("doc_id") < 25),
          k = 16, bands = 4, n = 3),
        k = 16, bands = 4, n = 3, minJaccard = 0.5)),
    "q268_ivf_index_probe" -> ((s: SparkSession, d: String) =>
      ext.Similarity.ivfTopKIndexed(
        ext.Similarity.buildIvfIndex(Tables.embeddings(s, d)),
        col("vec_id") % 10 === 0, k = 5, nprobe = 4)),
    // streaming twin #20 (the STATEFUL collapse gate) driven end-to-end
    // through the driver oracle: in batch mode flatMapGroupsWithState
    // invokes the SAME state function once per group with empty state —
    // exactly one micro-batch carrying everything, which under the
    // family's in-order horizon contract (per-group doc_id sort) is the
    // withRep recurrence; cross-micro-batch state is StreamingSpec's half
    "q269_stream_collapse_gate" -> ((s: SparkSession, d: String) =>
      streaming.StreamOps.collapseGateStream(Tables.documents(s, d)).toDF()),
    // q266's admission rule fed from the PERSISTED standing assets (band
    // index + cluster map) built in-plan — same inputs, same output
    // contract, zero corpus-text recompute in the gate itself
    "q270_incremental_split_indexed" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      ext.Dedup.incrementalSplitIndexed(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 5),
        ext.Dedup.buildClusterMap(corpus))
    }),
    // Assets seam (round 18): the same index gates consuming PRE-BUILT
    // PERSISTED assets keyed by (corpus digest, geometry). The first
    // execution builds + writes the asset parquet; every later execution
    // (bench warm-up + 3 timed runs, any other query on the same corpus
    // version) reads it back and pays probe cost only — the build-once/
    // probe-many amortization a standing 100 TB index actually delivers.
    // Freshness is loud: Assets.ensure serves only an asset stamped with
    // the caller's digest, and Assets.requireFresh rejects a stale or
    // unstamped one (Round18OpsSpec). Oracles are q267/q270/q268's
    // verbatim — the versioned path must not move a single hash.
    "q271_band_index_versioned" -> ((s: SparkSession, d: String) => {
      val corpus = docs50(s, d).filter(col("doc_id") < 25)
      val index = ext.Assets.ensure(s, "q271", ext.Dedup.bandIndex(16, 4, 3),
        ext.Assets.textDigest(corpus))(
        ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 3))
      ext.Dedup.minhashNewVsIndex(
        docs50(s, d).filter(col("doc_id") >= 25), index,
        k = 16, bands = 4, n = 3, minJaccard = 0.5)
    }),
    "q272_split_assets_versioned" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      val digest = ext.Assets.textDigest(corpus)
      val idx = ext.Assets.ensure(s, "q272", ext.Dedup.bandIndex(16, 4, 5),
        digest)(ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 5))
      val cmap = ext.Assets.ensure(s, "q272",
        ext.Dedup.clusterMap(16, 4, 5, 0.5), digest)(
        ext.Dedup.buildClusterMap(corpus))
      ext.Dedup.incrementalSplitIndexed(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1), idx, cmap)
    }),
    "q273_ivf_index_versioned" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val index = ext.Assets.ensure(s, "q273", ext.Similarity.ivfIndex(0),
        ext.Similarity.embeddingDigest(emb))(
        ext.Similarity.buildIvfIndex(emb))
      ext.Similarity.ivfTopKIndexed(index, col("vec_id") % 10 === 0,
        k = 5, nprobe = 4)
    }),
    // CROSS-micro-batch stateful semantics driver-oracled (round 18):
    // a deterministic 2-batch replay of the collapse gate — batch 0 =
    // even doc_ids, batch 1 = odd — with the per-text rep carried across
    // the batch boundary through flatMapGroupsWithState initial state.
    // Unlike q269 (one batch = global doc_id order), the result DEPENDS
    // on the carry: an odd-id copy of a text admitted in batch 0 is
    // never is_first, even when its id is globally minimal.
    "q274_collapse_gate_replay" -> ((s: SparkSession, d: String) =>
      streaming.StreamOps.collapseGateReplay(
        Tables.documents(s, d), batches = 2).toDF()),
    // the perceptual (dhash) admission gate from a PRE-BUILT persisted
    // index — the q271 pattern on the image-raster family; q259's oracle
    // verbatim
    "q275_dhash_index_versioned" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val index = ext.Assets.ensure(s, "q275", ext.Dedup.dhashIndex,
        ext.Assets.textDigest(corpus))(ext.Dedup.buildDhashIndex(corpus))
      ext.Dedup.dhashNewVsIndex(
        docs.filter(col("doc_id") % 5 === 0), index, maxDist = 16)
    }),
    // Assets.advance family (round 19): a corpus version moves v0 → v1
    // by an appended delta, and the v1 asset derives from the STANDING
    // v0 asset plus the delta — never a corpus rescan or a full
    // re-assignment (Assets.ensure's rebuild-on-any-mismatch, the cost
    // the maintenance protocol exists to avoid). q276/q277/q279's
    // oracles are the from-scratch builds' SQL VERBATIM — advance must
    // not move a hash; q278 keeps the standing centroid geometry by
    // contract and is oracled independently (assign-to-standing-
    // centroids replayed in SQL).
    "q276_band_index_advance" -> ((s: SparkSession, d: String) => {
      val c0 = docs50(s, d).filter(col("doc_id") < 15)
      val delta = docs50(s, d)
        .filter(col("doc_id") >= 15 && col("doc_id") < 25)
      val fam = ext.Dedup.bandIndex(16, 4, 3)
      val d0 = ext.Assets.textDigest(c0)
      val d1 = ext.Assets.textDigest(docs50(s, d).filter(col("doc_id") < 25))
      ext.Assets.ensure(s, "q276", fam, d0)(
        ext.Dedup.buildBandIndex(c0, k = 16, bands = 4, n = 3))
      val idx = ext.Assets.advance(s, "q276", fam, d0, d1)(
        old => ext.Dedup.advanceBandIndex(old, delta, k = 16, bands = 4,
          n = 3))(
        ext.Dedup.buildBandIndex(docs50(s, d).filter(col("doc_id") < 25),
          k = 16, bands = 4, n = 3))
      ext.Dedup.minhashNewVsIndex(
        docs50(s, d).filter(col("doc_id") >= 25), idx,
        k = 16, bands = 4, n = 3, minJaccard = 0.5)
    }),
    "q277_cluster_map_advance" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      val delta = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      val fam = ext.Dedup.clusterMap(16, 4, 5, 0.5)
      val d0 = ext.Assets.textDigest(corpus)
      val d1 = ext.Assets.textDigest(docs)
      val idx = ext.Assets.ensure(s, "q277", ext.Dedup.bandIndex(16, 4, 5),
        d0)(ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 5))
      ext.Assets.ensure(s, "q277", fam, d0)(
        ext.Dedup.buildClusterMap(corpus))
      ext.Dedup.leakageSafeSplitIndexed(
        ext.Assets.advance(s, "q277", fam, d0, d1)(
          old => ext.Dedup.advanceClusterMap(old, idx, delta))(
          ext.Dedup.buildClusterMap(docs)))
    }),
    "q278_ivf_index_advance" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(pmod(col("vec_id"), lit(4L)) =!= 3)
      val delta = emb.filter(pmod(col("vec_id"), lit(4L)) === 3)
      val fam = ext.Similarity.ivfIndex(0)
      val d0 = ext.Similarity.embeddingDigest(corpus)
      val d1 = ext.Similarity.embeddingDigest(emb)
      ext.Assets.ensure(s, "q278", fam, d0)(
        ext.Similarity.buildIvfIndex(corpus))
      val idx = ext.Assets.advance(s, "q278", fam, d0, d1)(
        old => ext.Similarity.advanceIvfIndex(old, delta))(
        // no-standing-asset fallback ONLY: a from-scratch build on the
        // grown corpus RESAMPLES centroids (different geometry from the
        // advanced index — the documented IVF advance contract); the
        // driver row always takes the advance arm because the base
        // asset is ensured above
        ext.Similarity.buildIvfIndex(emb))
      ext.Similarity.ivfTopKIndexed(idx, col("vec_id") % 10 === 0,
        k = 5, nprobe = 4)
    }),
    "q279_dhash_index_advance" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val c0 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
      val delta = docs.filter(col("doc_id") % 5 === 3 ||
        col("doc_id") % 5 === 4)
      val fam = ext.Dedup.dhashIndex
      val d0 = ext.Assets.textDigest(c0)
      val d1 = ext.Assets.textDigest(docs.filter(col("doc_id") % 5 =!= 0))
      ext.Assets.ensure(s, "q279", fam, d0)(ext.Dedup.buildDhashIndex(c0))
      val idx = ext.Assets.advance(s, "q279", fam, d0, d1)(
        old => ext.Dedup.advanceDhashIndex(old, delta))(
        ext.Dedup.buildDhashIndex(docs.filter(col("doc_id") % 5 =!= 0)))
      ext.Dedup.dhashNewVsIndex(
        docs.filter(col("doc_id") % 5 === 0), idx, maxDist = 16)
    }),
    // LINEAR-build IVF (round 19): centroids fitted on a bounded
    // deterministic sample (one Lloyd step, integer means) + ONE
    // assignment pass — the scale path past the exact build's N·√N,
    // measured beside it the way q19's brute force backs q24/q31
    "q280_ivf_sampled_build" -> ((s: SparkSession, d: String) =>
      ext.Similarity.ivfTopKSampled(Tables.embeddings(s, d),
        col("vec_id") % 10 === 0, k = 5, nCentroids = 128,
        sampleSize = 4096, nprobe = 4)),
    // K = 3 collapse replay under a SKEWED (range-block) batch key
    // (round 19): `doc_id div 64 mod 3` sends contiguous id blocks to
    // alternating batches, so a group's copies span NON-ADJACENT batches
    // and a rep admitted in batch 0 must survive an interposed batch
    // that never touches its group — state carried across ≥ 2
    // boundaries (Round19OpsSpec proves the carry dependence and the
    // MemoryStream bit-equality on a spanning fixture)
    "q281_collapse_gate_skewed" -> ((s: SparkSession, d: String) =>
      streaming.StreamOps.collapseGateReplayBy(
        Tables.documents(s, d),
        pmod(expr("doc_id div 64"), lit(3L)), batches = 3).toDF()),
    // watermarked dedup REPLAY (round 19): dropDuplicatesWithinWatermark
    // on (user_id, event_type) folded across 3 deterministic micro-
    // batches — late drop, horizon gating, expiry, re-admission, all
    // driver-oracled (the cross-batch half of the watermark family was
    // spec-only). batch = event_id mod 3 interleaves the 30-day span
    // into every batch, so batch 1/2 carry thousands of genuinely LATE
    // rows below the batch-0 watermark; delay = 10 days keeps a horizon
    // band where batch-0 admissions gate batch-2 copies across the
    // interposed boundary
    "q282_dedup_watermark_replay" -> ((s: SparkSession, d: String) =>
      streaming.StreamOps.dedupWithinWatermarkReplay(
        Tables.events(s, d).withColumn("ts_us", expr("ts div 1000")),
        pmod(col("event_id"), lit(3L)), batches = 3,
        delayMs = 864000000L))
  )

  /** q205/q213's planted entity universe: deterministic, cross-doc
    * repeated emails so pseudonymization consistency and deletion
    * blast-radius both demonstrably fire (q163's augmentation
    * discipline — the extraction/linkage machinery is what's tested).
    */
  private def entityEmail(i: Column): Column =
    concat(lit("person"), i.cast("string"),
      lit("@example"), pmod(i, lit(7L)).cast("string"), lit(".com"))

  private def entityAugmented: Column = {
    val e1 = pmod(col("doc_id"), lit(40L))
    val e2 = pmod(col("doc_id") * 3 + 1, lit(40L))
    concat(col("text"), lit(" contact "), entityEmail(e1),
      when(col("doc_id") % 3 === 0, concat(lit(" cc "), entityEmail(e1)))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit(" also "), entityEmail(e2)))
        .otherwise(lit("")))
  }

  /** q174/q196's seven raw URL shapes over a doc_id-keyed augmentation
    * (q163's discipline: the NORMALIZER is what's tested): case, default
    * ports, utm params, fragments, and an already-canonical control.
    */
  private def syntheticUrl: Column = {
    val sIdx = pmod(col("doc_id"), lit(5L)).cast("string")
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(7L))
    when(m === 0,
        concat(lit("https://WWW.Site"), sIdx, lit(".COM/path/page")))
      .when(m === 1, concat(lit("http://site"), sIdx, lit(".com:80/a/b")))
      .when(m === 2, concat(lit("https://site"), sIdx,
        lit(".com:443/x?utm_source=feed&id="), id))
      .when(m === 3, concat(lit("http://blog.site"), sIdx,
        lit(".org/post?id="), id, lit("&utm_campaign=x&ref=y")))
      .when(m === 4, concat(lit("https://cdn.site"), sIdx,
        lit(".net/img/large.png#sec"), id))
      .when(m === 5, concat(lit("http://site"), sIdx,
        lit(".com/search?utm_source=a&utm_medium=b")))
      .otherwise(concat(lit("https://site"), sIdx, lit(".com/clean/"), id))
  }

  /** q199/q200's markup around each document's text: a script with
    * content, comments and entities, so the extractor is what's tested
    * (q195's wrapper differs: it carries the doc id in the heading).
    */
  private def wrappedHtml: Column =
    concat(
      lit("<html><body><h1>T</h1>"),
      lit("<script>var x = \"a\";</script><p>"), col("text"),
      lit("</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<p>A &amp; B &lt;ok&gt;</p>"))
        .when(col("doc_id") % 3 === 1,
          lit("<!-- hidden --><p>Tail &quot;q&quot; &#39;s</p>"))
        .otherwise(lit("")),
      lit("</body></html>"))

  /** The dialogue family's per-message token proxy, props.k + 1
    * (q180/q184/q202/q209).
    */
  private def turnTokens: Column =
    get_json_object(col("props"), "$.k").cast("long") + 1L

  /** The curation gates' one fixture. The blocklist (q164/q185/q199/q200/
    * q211/q221) keeps a doc when at most `maxPct`% of its tokens are
    * blocked words; the logit weights (q194/q199/q200/q211, and the
    * q243/q246 audits of that logit) are frozen micro-units, chosen
    * against measured feature ranges for a ~50% keep rate.
    */
  private object Gate {
    val blockWords = Seq("slow", "big", "the")
    val maxPct = 10
    val bias = -60000000L
    val wTokens = 500000L
    val wStop = 2000000L
    val wDistinct = 1000000L
  }

  /** §3.2 pipeline demo on synthetic boxes: normalized prediction rows →
    * nested annotation documents (oracled on the count path; nested-assembly
    * values are unit-tested in PredictionsSpec).
    */
  private def qPredictionsPipeline(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d)
    val pages = SyntheticBoxes.gtBoxes(part).select("page").distinct()
    val images = pages.select(
      concat(lit("page_"), col("page"), lit(".png")).as("file_name"),
      lit(1024).as("width"), lit(512).as("height"))
    val preds = SyntheticBoxes.predBoxes(part).select(
      concat(lit("page_"), col("page")).as("stem"),
      col("line_no"),
      col("class_id"),
      ((col("x") + col("w") / 2.0) / SyntheticBoxes.ImgW).as("x_center"),
      ((col("y") + col("h") / 2.0) / SyntheticBoxes.ImgH).as("y_center"),
      (col("w") / SyntheticBoxes.ImgW).as("width"),
      (col("h") / SyntheticBoxes.ImgH).as("height"),
      col("confidence"))
    Predictions.documents(images, preds, confThr = 0.25, roundDp = 2)
      .select(col("file_name"), size(col("annotations")).as("n_annotations"),
        col("corruption.type").as("corruption_type"))
  }

  /** §3.1 pipeline demo on synthetic boxes: nested annotation docs → YOLO
    * label lines + split — fully oracled, including the 6-dp-formatted first
    * label line (ties here are exactly-representable power-of-two fractions,
    * so HALF_EVEN agrees across engines) and an engine-neutral split hash.
    * Byte parity of whole label files stays golden-tested (ConvertSpec).
    */
  private def qConvertPipeline(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d)
    val anns = SyntheticBoxes.gtBoxes(part)
      .groupBy(col("page"))
      .agg(transform(
        array_sort(collect_list(struct(col("line_no"),
          struct(array(col("x"), col("y"), col("w"), col("h")).as("bbox"),
            col("class_id").as("category_id"),
            lit("").as("category_name")).as("ann")))),
        e => e("ann")).as("annotations"))
      .select(concat(lit("page_"), col("page"), lit(".png")).as("file_name"),
        col("annotations"))
    val images = anns.select(col("file_name"),
      lit(1024).as("width"), lit(512).as("height"))
    // engine-neutral split (page·Knuth-constant mod 100): `hashSplit`'s
    // Murmur3 is Spark-internal, so the oracle could not reproduce it —
    // the split CONTRACT (deterministic, ~80/20) is what matters
    val neutralSplit = when(
      graft.functions.Hashing.knuthMod(
        regexp_extract(col("file_name"), "page_(\\d+)", 1).cast("long"),
        100) < 80, "train").otherwise("val")
    Convert.dataset(images, anns, neutralSplit)
      .select(col("file_name"), col("split"), col("n_boxes").cast("long").as("n_boxes"),
        element_at(col("lines"), 1).as("first_line"))
  }

  /** The BPE merge replay of [[graft.ext.TextStats.bpeLearnMerges]]:
    * `words(w, wcnt)`, the lowercase alphabetic words of ≥ 2 chars, and
    * `s0`, their piped (`|a||b|`) spelling; then per round i the pair
    * counts `pc<i>`, the top pair `best<i>` (`best` columns of it) and
    * `s<i>`, the vocabulary with that pair merged. Every `s<i>` carries
    * the word columns `carry`. Generated so the SQL and the Scala plan
    * always iterate the same number of rounds.
    */
  private def bpeRoundsSql(nMerges: Int, carry: Seq[String],
                           best: String): String = {
    val words =
      """WITH words AS (
        |  SELECT w, count(*) AS wcnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents WHERE length(trim(text)) > 0) u
        |  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
        |  GROUP BY 1),
        |s0 AS (SELECT """.stripMargin + carry.mkString(", ") +
        """, regexp_replace(w, '(.)', '|\1|', 'g') AS piped
          |       FROM words)""".stripMargin
    val rounds = (1 to nMerges).map { i =>
      s"""pc$i AS (
         |  SELECT pa, pb, CAST(sum(wcnt) AS BIGINT) AS total FROM (
         |    SELECT wcnt, (b).pa AS pa, (b).pb AS pb FROM (
         |      SELECT wcnt, unnest(list_transform(generate_series(1, len(t) - 1),
         |        i -> struct_pack(pa := t[i], pb := t[i + 1]))) AS b
         |      FROM (SELECT wcnt, string_split(trim(piped, '|'), '||') AS t
         |            FROM s${i - 1}) x
         |      WHERE len(t) >= 2) u) v
         |  GROUP BY 1, 2),
         |best$i AS (SELECT $best FROM pc$i
         |           ORDER BY total DESC, pa, pb LIMIT 1),
         |s$i AS (SELECT ${carry.map("s." + _).mkString(", ")},
         |  replace(s.piped, '|' || b.ba || '||' || b.bb || '|',
         |          '|' || b.ba || b.bb || '|') AS piped
         |  FROM s${i - 1} s CROSS JOIN best$i b)""".stripMargin
    }
    (words +: rounds).mkString(",\n")
  }

  /** q110's oracle: the merge replay, one row per learned merge. */
  private def bpeLearnOracle(nMerges: Int): String =
    bpeRoundsSql(nMerges, Seq("wcnt"), "pa AS ba, pb AS bb, total") + "\n" +
      (1 to nMerges).map { i =>
        s"SELECT CAST($i AS BIGINT) AS step, ba AS merged_a, bb AS merged_b, total FROM best$i"
      }.mkString("\nUNION ALL ")

  /** q199/q200's shared oracle chain: q195's extraction, q164's
    * normalized blocklist, q194's logit gate, q15's fingerprint over the
    * 80-char prefix, and the window-min dedup marker — everything up to
    * (and including) the `mn` CTE; the two queries differ only in their
    * final readout.
    */
  private val Q199_CHAIN: String =
    """WITH aug AS (SELECT doc_id, source,
        |    '<html><body><h1>T</h1>'
        |    || '<script>var x = "a";</script><p>' || text || '</p>'
        |    || CASE WHEN doc_id % 3 = 0 THEN '<p>A &amp; B &lt;ok&gt;</p>'
        |         WHEN doc_id % 3 = 1
        |           THEN '<!-- hidden --><p>Tail &quot;q&quot; &#39;s</p>'
        |         ELSE '' END
        |    || '</body></html>' AS h
        |  FROM documents),
        |ex AS (SELECT doc_id, source,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(
        |                  regexp_replace(
        |                    regexp_replace(h,
        |                      '<script[^>]*>.*?</script>', ' ', 'g'),
        |                    '<style[^>]*>.*?</style>', ' ', 'g'),
        |                  '<!--.*?-->', ' ', 'g'),
        |                '<[^>]+>', ' ', 'g'),
        |              '&lt;', '<', 'g'),
        |            '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |        '&#39;', '''', 'g'),
        |      '&amp;', '&', 'g')) AS t0
        |  FROM aug),
        |fin AS (SELECT doc_id, source,
        |    regexp_replace(t0, '\s+', ' ', 'g') AS txt FROM ex),
        |sig AS (SELECT doc_id, source, txt,
        |    CASE WHEN length(trim(txt)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(txt), '\s+') END AS t
        |  FROM fin),
        |f AS (SELECT doc_id, source, txt, len(t) AS nt,
        |    len(list_filter(t, x -> list_contains(['slow','big','the'],
        |      regexp_replace(translate(x,
        |        'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |      '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')))) AS n_blocked,
        |    len(list_filter(t, x ->
        |      x IN ('the','of','and','a','to','in','is'))) AS sh,
        |    len(list_distinct(t)) AS nd
        |  FROM sig),
        |g AS (SELECT doc_id, source, txt,
        |    n_blocked * 100 <= 10 * nt AS kept,
        |    (n_blocked * 100 <= 10 * nt) AND
        |      (-60000000 + 500000 * nt + 2000000 * sh + 1000000 * nd > 0)
        |      AS kept_q
        |  FROM f),
        |fp AS (SELECT *, CAST(coalesce(list_sum(list_transform(
        |    generate_series(1, length(substr(txt, 1, 80))),
        |    i -> CAST(ascii(substr(substr(txt, 1, 80), i, 1)) AS BIGINT)
        |         * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |    AS BIGINT) AS fpv
        |  FROM g),
        |mn AS (SELECT *, min(CASE WHEN kept_q THEN doc_id END)
        |    OVER (PARTITION BY fpv) AS min_id FROM fp)"""

  /** q186's oracle: q110's generated learn chain with the word key
    * threaded through every round, then the final piped vocabulary's
    * symbol counts joined back onto per-(source, word) occurrence counts
    * — fertility as the one terminal IEEE division of exact longs.
    */
  private def bpeApplyOracle(nMerges: Int): String = {
    val tail =
      s"""applied AS (SELECT w,
         |    CAST(len(string_split(trim(piped, '|'), '||')) AS BIGINT)
         |      AS n_sym
         |  FROM s$nMerges),
         |wv AS (SELECT source, w, count(*) AS cnt FROM (
         |    SELECT source,
         |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |    FROM documents WHERE length(trim(text)) > 0) u
         |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2
         |  GROUP BY 1, 2)
         |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_word_occ,
         |  CAST(sum(cnt * length(w)) AS BIGINT) AS total_word_chars,
         |  CAST(sum(cnt * n_sym) AS BIGINT) AS total_symbols,
         |  CAST(sum(cnt * n_sym) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
         |    AS fertility
         |FROM wv JOIN applied USING (w) GROUP BY source""".stripMargin
    bpeRoundsSql(nMerges, Seq("w", "wcnt"), "pa AS ba, pb AS bb") + ",\n" +
      tail
  }

  /** Shared q104-style retrieval replay: CTEs through `ranked` (top-k per
    * query by token Jaccard) — the common prefix of the q152/q157 oracles.
    */
  private def retrievalRankedCtes(k: Int): String =
    s"""$retrievalScoredSql,
       |ranked AS (
       |  SELECT query_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) AS "rank",
       |    doc_id
       |  FROM scored QUALIFY "rank" <= $k)""".stripMargin

  /** q152 oracle: the q104 retrieval replay at k, then NDCG from the SAME
    * frozen 9-dp weight literals the operator embeds
    * ([[graft.ext.Retrieval.ndcgWeights]]) — no libm log in either engine.
    */
  private def ndcgOracle(k: Int): String = {
    val wts = graft.ext.Retrieval.ndcgWeights(k)
    val wvals = wts.map { case (p, w, _) =>
      s"($p, CAST($w AS DECIMAL(10,9)))" }.mkString(", ")
    val cvals = (("(0, CAST(0.000000000 AS DECIMAL(20,9)))") +:
      wts.map { case (p, _, c) => s"($p, CAST($c AS DECIMAL(20,9)))" })
      .mkString(", ")
    s"""WITH ${retrievalRankedCtes(k)},
       |wts(pos, w) AS (VALUES $wvals),
       |cumw(m, cw) AS (VALUES $cvals),
       |meta AS (SELECT doc_id, lang, source FROM documents),
       |graded AS (
       |  SELECT r.query_id, r."rank",
       |    CASE WHEN m.lang = qm.lang AND m.source = qm.source THEN 3
       |         WHEN m.lang = qm.lang THEN 1 ELSE 0 END AS gain
       |  FROM ranked r
       |  JOIN meta m ON m.doc_id = r.doc_id
       |  JOIN meta qm ON qm.doc_id = r.query_id),
       |dcg AS (
       |  SELECT query_id, count(*) AS n_retrieved,
       |    CAST(sum(gain * w) AS DECIMAL(20,9)) AS dcg
       |  FROM graded JOIN wts ON "rank" = pos GROUP BY 1),
       |byls AS (SELECT lang, source, count(*) AS c_ls FROM meta
       |         GROUP BY 1, 2),
       |byl AS (SELECT lang, count(*) AS c_l FROM meta GROUP BY 1),
       |pool AS (
       |  SELECT qm.doc_id AS query_id,
       |    ls.c_ls - 1 AS n2, l.c_l - ls.c_ls AS n1,
       |    least(ls.c_ls - 1, $k) AS a,
       |    least(l.c_l - ls.c_ls, $k - least(ls.c_ls - 1, $k)) AS b
       |  FROM meta qm
       |  JOIN byls ls ON qm.lang = ls.lang AND qm.source = ls.source
       |  JOIN byl l ON qm.lang = l.lang),
       |idcg AS (
       |  SELECT p.query_id, p.n2, p.n1,
       |    CAST(ca.cw * 2 + cab.cw AS DECIMAL(20,9)) AS idcg
       |  FROM pool p
       |  JOIN cumw ca ON p.a = ca.m
       |  JOIN cumw cab ON p.a + p.b = cab.m)
       |SELECT d.query_id, d.n_retrieved, i.n2, i.n1,
       |  CAST(d.dcg * 1000000000 AS BIGINT) AS dcg_e9,
       |  CAST(i.idcg * 1000000000 AS BIGINT) AS idcg_e9,
       |  CASE WHEN i.idcg > 0
       |       THEN CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE) END
       |    AS ndcg
       |FROM dcg d JOIN idcg i USING (query_id)""".stripMargin
  }

  /** q157 oracle: retrieval replay + first-relevant-rank reciprocal,
    * anchored on the query set (empty-top-k queries emit rr = 0).
    */
  private def mrrOracle(k: Int): String =
    s"""WITH ${retrievalRankedCtes(k)},
       |meta AS (SELECT doc_id, lang FROM documents),
       |g AS (
       |  SELECT r.query_id,
       |    min(CASE WHEN m.lang = qm.lang THEN r."rank" END)
       |      AS first_rel_rank
       |  FROM ranked r
       |  JOIN meta m ON m.doc_id = r.doc_id
       |  JOIN meta qm ON qm.doc_id = r.query_id
       |  GROUP BY 1)
       |SELECT q.query_id, g.first_rel_rank,
       |  coalesce(CAST(1 AS DOUBLE) / g.first_rel_rank, 0.0) AS rr
       |FROM queries q LEFT JOIN g USING (query_id)""".stripMargin

  /** DuckDB replay of [[graft.ext.Similarity.mmrSelect]]'s greedy MMR
    * loop: pick 1 is pure-relevance argmax, then one (pick, selall) CTE
    * pair per round — generated so the SQL always unrolls exactly the
    * rounds the Scala plan iterates (the q110 discipline). Cosines are
    * 6 dp rounds of exact quantized moments on both sides, so every
    * argmax compares identical doubles.
    */
  private def mmrOracle(k: Int, candN: Int): String = {
    val base =
      s"""WITH $qvNormsSql,
         |qq AS (SELECT q, n2 FROM nrm WHERE vec_id = 0 AND n2 > 0),
         |cand AS (
         |  SELECT vec_id, q, n2, rel FROM (
         |    SELECT vec_id, q, n2, rel,
         |      row_number() OVER (ORDER BY rel DESC, vec_id) AS rnk
         |    FROM (
         |      SELECT c.vec_id, c.q, c.n2,
         |        round(CAST(CAST(list_dot_product(c.q, qq.q) AS BIGINT) AS DOUBLE)
         |          / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(qq.n2
         |            AS DOUBLE))), 6) AS rel
         |      FROM nrm c CROSS JOIN qq
         |      WHERE c.vec_id <> 0 AND c.n2 > 0) r) rr
         |  WHERE rnk <= $candN),
         |sims AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |    round(CAST(CAST(list_dot_product(a.q, b.q) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))),
         |      6) AS sim
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |selall1 AS (
         |  SELECT vec_id, rel, CAST(1 AS BIGINT) AS pick_order,
         |    CAST(rel AS DECIMAL(13,7)) AS mmr_score
         |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
    // λ·rel − (1−λ)·sim in EXACT DECIMAL: the 6-dp rounded doubles cast
    // back to their grid DECIMAL(9,6) identically in both engines, and the
    // two-multiply-minus chain on doubles would be the FMA-contractible
    // q77 shape
    val rounds = (2 to k).map { i =>
      s"""pick$i AS (
         |  SELECT vec_id, rel, CAST($i AS BIGINT) AS pick_order, mmr_score
         |  FROM (
         |    SELECT c.vec_id AS vec_id, c.rel AS rel,
         |      CAST(CAST(0.7 AS DECIMAL(2,1)) * CAST(c.rel AS DECIMAL(9,6))
         |        - CAST(0.3 AS DECIMAL(2,1))
         |          * CAST(max(s.sim) AS DECIMAL(9,6))
         |        AS DECIMAL(13,7)) AS mmr_score
         |    FROM cand c
         |    JOIN sims s ON s.va = c.vec_id
         |    JOIN selall${i - 1} p ON s.vb = p.vec_id
         |    WHERE c.vec_id NOT IN (SELECT vec_id FROM selall${i - 1})
         |    GROUP BY c.vec_id, c.rel
         |    ORDER BY mmr_score DESC, c.vec_id LIMIT 1) t),
         |selall$i AS (SELECT * FROM selall${i - 1}
         |             UNION ALL SELECT * FROM pick$i)""".stripMargin
    }
    (base +: rounds).mkString(",\n") +
      // greedy rounds carry exact DECIMAL(13,7); the hashed output is the
      // e-7 BIGINT (decimal repr is hasher-version-sensitive, round 6)
      s"""\nSELECT vec_id, rel, pick_order,
         |  CAST(mmr_score * 10000000 AS BIGINT) AS mmr_score_e7
         |FROM selall$k""".stripMargin
  }

  /** Oracles whose CTEs DuckDB re-inlines per reference — the unrolled
    * iterative replays (greedy coverage, MMR, Bradley–Terry, the q260
    * closure stitch) reference their base CTEs once per round, so DuckDB
    * recomputes the shingle/similarity frames k times over. `AS
    * MATERIALIZED` pins each CTE to one evaluation — measured at sf0.01:
    * q257 63.5 → 0.1 s, q254 18.4 → 1.3 s, q142 5.3 → 0.1 s, q260
    * 4.7 → 0.3 s, q231 3.4 → 0.0 s (results bit-identical on every one —
    * materialization is an evaluation strategy, not a semantics change).
    * Applied as a post-map so the SQL literals above stay readable.
    */
  private val materializedCteOracles = Set(
    "q257_greedy_coverage", "q254_train_run_prep", "q142_mmr_rerank",
    "q260_crossmodal_keeper", "q231_bradley_terry", "q119_capped_balance",
    "q23_greedy_eval", "q64_pagerank",
    "q264_leakage_safe_split", "q265_split_leakage_audit",
    "q266_incremental_split", "q270_incremental_split_indexed",
    "q272_split_assets_versioned", "q277_cluster_map_advance",
    "q20_cosine_neardup",
    "q262_cosine_neardup_edges",
    // round 18: q253/q255's `bands` CTE was re-inlined per reference —
    // including ONCE PER CANDIDATE PAIR inside the correlated Hamming
    // check — and q89's pack replay re-derived its token projection per
    // recursion round. q252/q261 measured SLOWER materialized (3.2→15.0 s
    // and similar): their inlined forms let DuckDB push the band filter
    // into the CTE, which materialization blocks — a recorded negative
    // result, same class as the q85 histogram-pruning revert.
    "q253_dhash_clusters", "q255_dhash_keeper", "q89_pack_sequences")
  private def materializeCtes(sql: String): String =
    sql.replaceAll("""AS\s*\(\s*SELECT""", "AS MATERIALIZED (SELECT")

  /** DuckDB oracle SQL, matching column names/types per query. */
  def oracleSql: Map[String, String] = rawOracleSql.map { case (k, v) =>
    k -> (if (materializedCteOracles(k)) materializeCtes(v) else v)
  }

  private def rawOracleSql: Map[String, String] = Map(
    "q110_bpe_learn" -> bpeLearnOracle(3),
    "q142_mmr_rerank" -> mmrOracle(5, 40),
    "q01_pricing_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_cust_orders" ->
      """SELECT c_custkey, c_mktsegment,
        |  count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_mktsegment""".stripMargin,

    "q03_region_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        |  count(*) AS n_customers,
        |  round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name)""".stripMargin,

    "q04_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
        |FROM lineitem
        |WHERE l_discount >= 0.05 AND l_quantity >= 30""".stripMargin,

    "q05_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 3""".stripMargin,

    "q06_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q07_active_parts" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,

    // secondary sort key: l_linenumber is NOT unique within an order in the
    // testdata; Spark's array_sort over struct(ln, q) breaks ties by q
    "q08_ordered_qty_seq" ->
      """SELECT l_orderkey,
        |  string_agg(CAST(CAST(l_quantity AS INTEGER) AS VARCHAR), ' '
        |             ORDER BY l_linenumber, CAST(l_quantity AS INTEGER)) AS qty_seq,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    "q09_nation_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q10_dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT max(doc_id) FROM documents GROUP BY text)""".stripMargin,

    "q11_sessionize" ->
      s"""WITH $sessionsSql
        |SELECT user_id, session_id,
        |  count(*) AS n_events,
        |  min(ts_us) AS start_us,
        |  max(ts_us) AS end_us,
        |  max(ts_us) - min(ts_us) AS dur_us
        |FROM numbered GROUP BY user_id, session_id""".stripMargin,

    "q12_tumbling_window" ->
      """SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
        |  count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,

    // blank-doc convention: 0 tokens / 0.0 ratios on both sides (Spark's
    // tokens() returns [], DuckDB's regexp_split would return [''] → CASE)
    "q13_quality_features" ->
      """SELECT doc_id, lang, source,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |  END AS n_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT)
        |  END AS n_distinct_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |         / len(regexp_split_to_array(trim(text), '\s+'))
        |  END AS avg_token_len,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |         AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+'))
        |  END AS type_token_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t IN ('the','of','and','a','to','in','is'))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+'))
        |  END AS stopword_ratio
        |FROM documents""".stripMargin,

    "q14_langid" ->
      s"""WITH s AS (
        |  SELECT doc_id, lang AS actual_lang,
        |    $langScoresSql
        |  FROM documents)
        |SELECT doc_id, actual_lang, score_en, score_es, score_de, score_fr, score_zh,
        |  $langPredSql
        |FROM s""".stripMargin,

    // COALESCE: list_sum([]) is NULL in DuckDB but the Spark fold yields 0
    // for an empty document
    "q15_fingerprint" ->
      """SELECT doc_id,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, length(text)),
        |    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)
        |         * ((i * 2654435761) % 1000003))), 0) % 2147483648 AS BIGINT) AS fp
        |FROM documents""".stripMargin,

    "q16_ngram_jaccard" ->
      s"""WITH ${shinglesSql("sh", 3, "WHERE doc_id < 50")},
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT p.doc_a, p.doc_b, p.inter, sa.sz AS size_a, sb.sz AS size_b,
        |  CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.doc_a
        |JOIN sizes sb ON sb.doc_id = p.doc_b
        |WHERE CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) >= 0.5""".stripMargin,

    "q17_minhash_neardup" ->
      s"""WITH ${shinglesSql("sh", 3, "WHERE doc_id < 50")},
        |${minhashSql("mh", "sh")},
        |${bandSigSql("bands", "mh")},
        |${bandCandidatesSql("cands", "bands", "band_sig")},
        |${jaccardOverlapSql("cands")}
        |SELECT i.doc_a, i.doc_b,
        |  CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_a
        |JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.5""".stripMargin,

    "q18_simhash" ->
      s"""WITH ${shinglesSql("sh", 3, "WHERE doc_id < 50")},
        |n AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
        |bitc AS (
        |  SELECT doc_id, t.j,
        |    sum(CASE WHEN ((2 * (t.j + 101) + 1) * shingle + (97 + 31 * (t.j + 101)))
        |                  % 2147483647 > 1073741823
        |             THEN 1 ELSE 0 END) AS cnt
        |  FROM sh, generate_series(0, 15) t(j)
        |  GROUP BY doc_id, t.j)
        |SELECT b.doc_id, n.n_shingles,
        |  CAST(sum(CASE WHEN 2 * b.cnt > n.n_shingles
        |                THEN CAST(1 AS BIGINT) << b.j ELSE 0 END) AS BIGINT) AS simhash
        |FROM bitc b JOIN n ON n.doc_id = b.doc_id
        |GROUP BY b.doc_id, n.n_shingles""".stripMargin,

    // fixed-point quantized cosines (see Similarity's parity note): the
    // integer moments are exact, the derived double is raw — no round
    "q19_cosine_topk" ->
      s"""WITH $qvNormsSql,
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(CAST(list_dot_product(q.q, c.q) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
        |      AS cos
        |  FROM nrm q
        |  JOIN nrm c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id % 10 = 0 AND q.n2 > 0 AND c.n2 > 0),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT query_id, neighbor_id, rnk, cos FROM ranked WHERE rnk <= 5""".stripMargin,

    // round 18: the N² pair loop's per-pair dot product is ONE
    // list_dot_product instead of a correlated 64-step generate_series
    // sum (measured at sf0.1: 188 → 1.9 s, rows bit-identical). Exactness
    // argument: every product ≤ 2^44 and every partial sum ≤ 2^50, so the
    // double-arithmetic fold is exact and order-independent — the same
    // value the BIGINT sum cast to DOUBLE produced.
    "q20_cosine_neardup" ->
      s"""WITH $qvNormsSql
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_dot_product(a.q, b.q)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
        |FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
        |  AND a.n2 > 0 AND b.n2 > 0
        |WHERE list_dot_product(a.q, b.q)
        |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
        |      >= 0.18""".stripMargin,

    "q21_yolo_norm" ->
      s"""WITH $clippedBoxesSql
        |SELECT page, line_no, class_id,
        |  (cx + cw / 2.0) / 1024.0 AS x_center,
        |  (cy + ch / 2.0) / 512.0 AS y_center,
        |  cw / 1024.0 AS w_norm,
        |  ch / 512.0 AS h_norm
        |FROM c2""".stripMargin,

    "q22_best_match" ->
      s"""WITH $boxPairsSql,
        |scored AS (
        |  SELECT page, class_id, pred_line, gt_line,
        |    CASE WHEN area_p + area_g - inter > 0.0
        |         THEN inter / (area_p + area_g - inter) ELSE 0.0 END AS iou
        |  FROM cand),
        |best AS (
        |  SELECT page, class_id, pred_line, gt_line, iou,
        |    row_number() OVER (PARTITION BY page, pred_line
        |                       ORDER BY iou DESC, gt_line) AS rk
        |  FROM scored WHERE iou >= 0.3)
        |SELECT page, class_id, pred_line, gt_line, iou FROM best WHERE rk = 1""".stripMargin,

    "q24_lsh_cosine" ->
      s"""WITH $lshBucketsSql
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  CAST(CAST(list_dot_product(a.q, b.q) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
        |FROM nrm a JOIN nrm b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  AND a.n2 > 0 AND b.n2 > 0
        |WHERE CAST(CAST(list_dot_product(a.q, b.q) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
        |      >= 0.15""".stripMargin,

    "q35_bpe_tokens" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |  END AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(
        |    regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^A-Za-z0-9\s]')))
        |    AS BIGINT) AS n_distinct_bpe_tokens
        |FROM documents""".stripMargin,

    "q32_set_ops" ->
      """SELECT nationkey, 'union' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION SELECT s_nationkey FROM supplier) u
        |UNION ALL
        |SELECT nationkey, 'intersect' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT SELECT s_nationkey FROM supplier) i
        |UNION ALL
        |SELECT nationkey, 'except' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT SELECT s_nationkey FROM supplier) e""".stripMargin,

    "q33_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q34_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "q37_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.9) AS p90,
        |  quantile_cont(l_quantity, 0.25) AS qty_p25
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // Greedy IoU matcher (J4) + P/R/F1 rollup: the recursive CTE replays the
    // reference's order-dependent greedy loop exactly — one recursion step
    // per prediction in line order, `used` carried as a list, the per-step
    // argmax as a LATERAL ORDER BY iou DESC, gt_line LIMIT 1 (first-max-wins
    // ≡ the strict-> scan). Filtering candidates to iou >= thr before the
    // argmax is equivalence-preserving: acceptance requires iou >= thr anyway.
    "q23_greedy_eval" ->
      """WITH RECURSIVE g AS (
        |  SELECT p_partkey // 25 AS page,
        |    p_partkey % 25 AS gt_line,
        |    CAST(p_partkey % 6 AS INTEGER) AS class_id,
        |    CAST(p_partkey * 37 % 960 AS DOUBLE) AS gx1,
        |    CAST(p_partkey * 59 % 480 AS DOUBLE) AS gy1,
        |    CAST(p_partkey * 37 % 960 AS DOUBLE)
        |      + CAST(64 + p_partkey * 13 % 128 AS DOUBLE) AS gx2,
        |    CAST(p_partkey * 59 % 480 AS DOUBLE)
        |      + CAST(48 + p_partkey * 17 % 96 AS DOUBLE) AS gy2
        |  FROM part),
        |p0 AS (
        |  SELECT p_partkey // 25 AS page,
        |    p_partkey % 25 AS pred_line,
        |    CAST(p_partkey % 6 AS INTEGER) AS class_id,
        |    CAST(p_partkey * 37 % 960 AS DOUBLE)
        |      + CAST(p_partkey % 7 AS DOUBLE) - 3.0 AS px1,
        |    CAST(p_partkey * 59 % 480 AS DOUBLE)
        |      + CAST(p_partkey % 11 AS DOUBLE) - 5.0 AS py1,
        |    CAST(p_partkey * 37 % 960 AS DOUBLE)
        |      + CAST(p_partkey % 7 AS DOUBLE) - 3.0
        |      + CAST(64 + p_partkey * 13 % 128 AS DOUBLE)
        |      + CAST(p_partkey % 5 AS DOUBLE) - 2.0 AS px2,
        |    CAST(p_partkey * 59 % 480 AS DOUBLE)
        |      + CAST(p_partkey % 11 AS DOUBLE) - 5.0
        |      + CAST(48 + p_partkey * 17 % 96 AS DOUBLE)
        |      + CAST(p_partkey % 9 AS DOUBLE) - 4.0 AS py2
        |  FROM part),
        |p AS (
        |  SELECT * FROM p0
        |  UNION ALL
        |  SELECT page, pred_line + 25, class_id,
        |         px1 + 4.0, py1, px2 + 4.0, py2
        |  FROM p0),
        |cand AS (
        |  SELECT p.page, p.pred_line, g.gt_line,
        |    CASE WHEN greatest(0.0, least(px2, gx2) - greatest(px1, gx1))
        |            * greatest(0.0, least(py2, gy2) - greatest(py1, gy1)) = 0.0
        |         THEN 0.0
        |      ELSE greatest(0.0, least(px2, gx2) - greatest(px1, gx1))
        |         * greatest(0.0, least(py2, gy2) - greatest(py1, gy1))
        |         / ((px2 - px1) * (py2 - py1) + (gx2 - gx1) * (gy2 - gy1)
        |            - greatest(0.0, least(px2, gx2) - greatest(px1, gx1))
        |              * greatest(0.0, least(py2, gy2) - greatest(py1, gy1)))
        |    END AS iou
        |  FROM p JOIN g ON p.page = g.page AND p.class_id = g.class_id),
        |cand_thr AS (SELECT * FROM cand WHERE iou >= 0.5),
        |pidx AS (
        |  SELECT page, pred_line, class_id,
        |    row_number() OVER (PARTITION BY page ORDER BY pred_line) AS idx
        |  FROM p),
        |np AS (SELECT page, count(*) AS n FROM pidx GROUP BY page),
        |steps AS (
        |  SELECT page, 0 AS step, CAST([] AS BIGINT[]) AS used,
        |         CAST([] AS INTEGER[]) AS mcls
        |  FROM np
        |  UNION ALL
        |  SELECT s.page, s.step + 1,
        |    CASE WHEN b.gl IS NULL THEN s.used
        |         ELSE list_append(s.used, b.gl) END,
        |    CASE WHEN b.gl IS NULL THEN s.mcls
        |         ELSE list_append(s.mcls, pp.class_id) END
        |  FROM steps s
        |  JOIN pidx pp ON pp.page = s.page AND pp.idx = s.step + 1
        |  LEFT JOIN LATERAL (
        |    SELECT c.gt_line AS gl FROM cand_thr c
        |    WHERE c.page = s.page AND c.pred_line = pp.pred_line
        |      AND NOT list_contains(s.used, c.gt_line)
        |    ORDER BY c.iou DESC, c.gt_line LIMIT 1) b ON TRUE),
        |final AS (
        |  SELECT s.page, s.mcls FROM steps s
        |  JOIN np ON np.page = s.page AND s.step = np.n),
        |tp AS (SELECT CAST(unnest(mcls) AS INTEGER) AS class_id FROM final),
        |tpc AS (SELECT class_id, count(*) AS tp FROM tp GROUP BY class_id),
        |pc AS (SELECT class_id, count(*) AS n_pred FROM p GROUP BY class_id),
        |gc AS (SELECT class_id, count(*) AS n_gt FROM g GROUP BY class_id),
        |counts AS (
        |  SELECT pc.class_id,
        |    coalesce(tpc.tp, 0) AS tp,
        |    pc.n_pred - coalesce(tpc.tp, 0) AS fp,
        |    gc.n_gt - coalesce(tpc.tp, 0) AS fn
        |  FROM pc
        |  JOIN gc ON gc.class_id = pc.class_id
        |  LEFT JOIN tpc ON tpc.class_id = pc.class_id),
        |roll AS (
        |  SELECT CAST(class_id AS VARCHAR) AS class_id, tp, fp, fn FROM counts
        |  UNION ALL
        |  SELECT 'ALL', sum(tp), sum(fp), sum(fn) FROM counts),
        |pr AS (
        |  SELECT class_id, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |    CAST(fn AS BIGINT) AS fn,
        |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp)
        |         ELSE 0.0 END AS "precision",
        |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn)
        |         ELSE 0.0 END AS recall
        |  FROM roll)
        |SELECT class_id, tp, fp, fn, "precision", recall,
        |  CASE WHEN "precision" + recall > 0
        |       THEN 2.0 * "precision" * recall / ("precision" + recall)
        |       ELSE 0.0 END AS f1
        |FROM pr""".stripMargin,

    // §3.2 pipeline demo: prediction-box reconstruction + conf filter +
    // per-page nested-count — the count path of Predictions.documents
    "q25_predictions_pipeline" ->
      """WITH pages AS (SELECT DISTINCT p_partkey // 25 AS page FROM part),
        |p AS (SELECT p_partkey // 25 AS page FROM part
        |      WHERE (p_partkey % 100) / 100.0 >= 0.25),
        |cnt AS (SELECT page, count(*) AS n FROM p GROUP BY page)
        |SELECT 'page_' || CAST(pages.page AS VARCHAR) || '.png' AS file_name,
        |  CAST(coalesce(cnt.n, 0) AS INTEGER) AS n_annotations,
        |  'none' AS corruption_type
        |FROM pages LEFT JOIN cnt ON cnt.page = pages.page""".stripMargin,

    // §3.1 pipeline demo: clip→norm geometry, 6-dp HALF_EVEN label line
    // (roundbankers ≡ PyRound here: every tie is a power-of-two fraction,
    // exactly representable, so decimal-repr vs binary-expansion rounding
    // cannot diverge — SURVEY §7.4.1), ordered first-line, neutral split
    "q26_convert_pipeline" ->
      s"""WITH $clippedBoxesSql,
        |lines AS (
        |  SELECT page, line_no,
        |    printf('%d %.6f %.6f %.6f %.6f', class_id,
        |      roundbankers((cx + cw / 2.0) / 1024.0, 6),
        |      roundbankers((cy + ch / 2.0) / 512.0, 6),
        |      roundbankers(cw / 1024.0, 6),
        |      roundbankers(ch / 512.0, 6)) AS line
        |  FROM c2),
        |agg AS (
        |  SELECT page, count(*) AS n_boxes,
        |    min_by(line, line_no) AS first_line
        |  FROM lines GROUP BY page)
        |SELECT 'page_' || CAST(page AS VARCHAR) || '.png' AS file_name,
        |  CASE WHEN (page * 2654435761) % 100 < 80
        |       THEN 'train' ELSE 'val' END AS split,
        |  CAST(n_boxes AS BIGINT) AS n_boxes, first_line
        |FROM agg""".stripMargin,

    // multimodal stub decode over UTF-8 text bytes (corpus is pure ASCII, so
    // char-indexed ascii() IS the byte; list_reduce replicates the sequential
    // (a*31+b) mod 2^31 rolling checksum)
    "q27_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |  'image/' || lang AS media_type,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  16 + CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS width,
        |  16 + CASE WHEN length(text) > 1 THEN ascii(substr(text, 2, 1)) ELSE 0 END AS height,
        |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(text)),
        |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 2147483648) END AS BIGINT) AS checksum
        |FROM documents""".stripMargin,

    // IVF ANN: engine-neutral centroid sample (lowest arithmetic hash),
    // quantized-exact assignment (raw double from integer moments),
    // nprobe=4 probe, exact rerank — deterministic end to end, so the
    // approximate index IS oracle-checkable
    "q31_ivf_topk" ->
      ivfTopkOracle(""),

    // MinHash-LSH pairs (q17's chain) → transitive closure via recursive CTE
    // (min reachable id ≡ the engine's min-label-propagation fixpoint)
    "q36_dedup_groups" ->
      s"""WITH RECURSIVE ${docs50PairsSql(0.5)},
        |${closureSql("pairs", "doc")}
        |SELECT node, min(comp) AS canonical_id FROM reach GROUP BY node""".stripMargin,

    "q28_argmax" ->
      """SELECT n_name, c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) t
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE rk = 1""".stripMargin,

    "q29_asof_signup" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |carried AS (
        |  SELECT event_id, user_id, event_type, ts_us,
        |    max(CASE WHEN event_type = 'signup' THEN ts_us END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS last_signup_us
        |  FROM e)
        |SELECT event_id, user_id, ts_us, last_signup_us,
        |  ts_us - last_signup_us AS us_since_signup
        |FROM carried WHERE event_type = 'purchase'""".stripMargin,

    "q38_window_frames" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  o_totalprice - lag(o_totalprice) OVER w AS delta,
        |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q39_band_join" ->
      """WITH bands AS (
        |  SELECT CAST(b AS BIGINT) AS band,
        |    CAST(900.0 + 10.0 * b AS DOUBLE) AS lo,
        |    CAST(910.0 + 10.0 * b AS DOUBLE) AS hi
        |  FROM generate_series(0, 9) t(b))
        |SELECT band, lo, hi, count(*) AS n_parts,
        |  round(sum(p_retailprice), 2) AS sum_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band, lo, hi""".stripMargin,

    // BM25-style idf numerator (exact rational) instead of ln(N/df):
    // transcendental functions are the one class of scalar where engines'
    // libm implementations may differ in the last ulp
    "q40_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, t.term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents WHERE length(trim(text)) > 0) t),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |       GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM
        |        (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    t.tf * (n.n_docs - d.df + 0.5) / (d.df + 0.5) AS score
        |  FROM tf t JOIN dfq d USING (term), n),
        |rk AS (SELECT doc_id, term, tf, df, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT doc_id, term, tf, df, rk, score FROM rk WHERE rk <= 3""".stripMargin,

    "q41_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents WHERE length(trim(text)) > 0) t),
        |dfq AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term, df, n_docs, CAST(df AS DOUBLE) / n_docs AS share
        |FROM dfq, n
        |WHERE CAST(df AS DOUBLE) / n_docs >= 0.4""".stripMargin,

    // balances are exact cents: moments accumulate as exact HUGEINTs, and
    // mean/std/z are the identical raw double derivation as the Spark side
    "q42_zscore" ->
      """WITH m AS (
        |  SELECT c_mktsegment, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(round(c_acctbal * 100, 0) AS HUGEINT)) AS DOUBLE)
        |      AS sx,
        |    CAST(sum(CAST(round(c_acctbal * 100, 0) AS HUGEINT)
        |           * CAST(round(c_acctbal * 100, 0) AS HUGEINT)) AS DOUBLE)
        |      AS sxx
        |  FROM customer GROUP BY c_mktsegment),
        |stats AS (
        |  SELECT c_mktsegment, sx / n / 100.0 AS seg_mean,
        |    sqrt(CASE WHEN sxx / n - (sx/n) * (sx/n) > 0
        |              THEN sxx / n - (sx/n) * (sx/n) ELSE 0 END) / 100.0
        |      AS seg_std
        |  FROM m)
        |SELECT c_custkey, c.c_mktsegment, c_acctbal, seg_mean, seg_std,
        |  CASE WHEN seg_std > 0.0
        |       THEN (c_acctbal - seg_mean) / seg_std
        |       ELSE 0.0 END AS zscore
        |FROM customer c JOIN stats s ON s.c_mktsegment = c.c_mktsegment""".stripMargin,

    "q49_ranking" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(ntile(4) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile,
        |  CAST(dense_rank() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC) AS BIGINT) AS drk,
        |  percent_rank() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC) AS prk
        |FROM customer""".stripMargin,

    "q47_time_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY ROLLUP(CAST(year(o_orderdate) AS BIGINT),
        |                CAST(month(o_orderdate) AS BIGINT))""".stripMargin,

    // octet_length(encode(...)), not length(...): the Spark side offsets
    // into UTF-8 BYTES of the content column, and char length only happens
    // to coincide on an all-ASCII corpus
    "q48_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  'image/' || lang AS media_type,
        |  CAST(t.i AS INTEGER) AS frame_no,
        |  CAST(t.i * (octet_length(encode(text)) // 4) AS BIGINT) AS byte_offset
        |FROM documents, generate_series(0, 3) t(i)""".stripMargin,

    "q46_mode" ->
      """WITH counts AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |ranked AS (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY n DESC, event_type) AS rk
        |  FROM counts)
        |SELECT user_id, event_type AS mode_event, n
        |FROM ranked WHERE rk = 1""".stripMargin,

    "q45_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |v AS (SELECT user_id, event_id AS view_id, ts_us AS view_us
        |      FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts_us AS purchase_us
        |      FROM e WHERE event_type = 'purchase')
        |SELECT p.user_id, p.purchase_id, v.view_id, p.purchase_us, v.view_us
        |FROM p JOIN v ON v.user_id = p.user_id
        |  AND v.view_us <= p.purchase_us
        |  AND v.view_us >= p.purchase_us - 3600000000""".stripMargin,

    "q44_kmv_distinct" ->
      """WITH tok AS (
        |  SELECT DISTINCT lang, term FROM (
        |    SELECT lang,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents WHERE length(trim(text)) > 0) t),
        |exact AS (SELECT lang, count(*) AS n_exact FROM tok GROUP BY lang),
        |h AS (
        |  SELECT DISTINCT lang,
        |    (CAST(coalesce(list_sum(list_transform(
        |      generate_series(1, length(term)),
        |      i -> CAST(ascii(substr(term, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |      AS BIGINT) * 2654435761 + 1013904223) % 2147483648 AS h
        |  FROM tok),
        |kth AS (SELECT lang, h AS kth_hash FROM (
        |    SELECT lang, h,
        |      row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
        |    FROM h) r WHERE rk = 16)
        |SELECT e.lang, e.n_exact, k.kth_hash,
        |  CASE WHEN k.kth_hash IS NOT NULL AND k.kth_hash > 0
        |       THEN CAST(15 * 2147483648 AS DOUBLE) / k.kth_hash
        |       ELSE CAST(e.n_exact AS DOUBLE) END AS kmv_estimate
        |FROM exact e LEFT JOIN kth k ON k.lang = e.lang""".stripMargin,

    "q43_stratified_sample" ->
      """WITH t AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n_total
        |  FROM customer),
        |f AS (SELECT * FROM t WHERE (c_custkey * 2654435761) % 1000 < 100)
        |SELECT c_custkey, c_mktsegment, c_acctbal, n_total,
        |  count(*) OVER (PARTITION BY c_mktsegment) AS n_sampled
        |FROM f""".stripMargin,

    "q30_curation_pipeline" ->
      raw"""WITH q AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t IN ('the','of','and','a','to','in','is'))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio
        |  FROM documents),
        |f AS (SELECT * FROM q WHERE n_tokens >= 20 AND stopword_ratio < 0.6),
        |kept AS (
        |  SELECT * FROM f
        |  WHERE doc_id IN (SELECT max(doc_id) FROM f GROUP BY text)),
        |s AS (
        |  SELECT doc_id, lang AS actual_lang, n_tokens, stopword_ratio,
        |    $langScoresSql
        |  FROM kept)
        |SELECT doc_id, actual_lang,
        |  $langPredSql,
        |  n_tokens, stopword_ratio
        |FROM s""".stripMargin,

    // word-3-gram eval-set overlap; eval split = doc_id % 20 = 0. The `toks`
    // CASE mirrors tokens()'s blank-doc convention; generate_series(1, 0)
    // is empty in DuckDB just as the guarded sequence() is in Spark.
    "q50_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 20 = 0 AS is_eval,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, is_eval,
        |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |eval_set AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
        |train AS (SELECT DISTINCT doc_id, gram FROM grams WHERE NOT is_eval),
        |per_doc AS (
        |  SELECT tr.doc_id, count(*) AS n_ngrams,
        |    CAST(sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_overlap
        |  FROM train tr LEFT JOIN eval_set e USING (gram)
        |  GROUP BY tr.doc_id)
        |SELECT d.doc_id, coalesce(n_ngrams, 0) AS n_ngrams,
        |  coalesce(n_overlap, 0) AS n_overlap,
        |  CASE WHEN coalesce(n_ngrams, 0) = 0 THEN 0.0
        |       ELSE CAST(n_overlap AS DOUBLE) / n_ngrams END AS contamination,
        |  CASE WHEN coalesce(n_ngrams, 0) = 0 THEN 0.0
        |       ELSE CAST(n_overlap AS DOUBLE) / n_ngrams END >= 0.5 AS contaminated
        |FROM documents d LEFT JOIN per_doc ON per_doc.doc_id = d.doc_id
        |WHERE d.doc_id % 20 <> 0""".stripMargin,

    // ratios are single divisions of exact integer counts — IEEE-identical
    "q51_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(len(t) - 1, 0)),
        |      i -> t[i] || ' ' || t[i+1]) AS g2,
        |    list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(len(g2) AS BIGINT) AS n_2grams,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
        |               / CAST(len(g2) AS DOUBLE) END AS dup_2gram_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
        |               / CAST(len(g3) AS DOUBLE) END AS dup_3gram_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |    ELSE CAST(list_max(list_transform(list_distinct(g2),
        |         x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE)
        |         / CAST(len(g2) AS DOUBLE) END AS top_2gram_share
        |FROM g""".stripMargin,

    // DuckDB list slice t[a:b] clamps past the end exactly like Spark's
    // slice(arr, start, len); the parallel unnests zip positionally
    "q52_chunk_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |cl AS (
        |  SELECT doc_id,
        |    list_transform(
        |      generate_series(1, CAST(ceil(CAST(len(t) AS DOUBLE) / 8) AS BIGINT)),
        |      i -> array_to_string(t[(i-1)*8+1:(i-1)*8+8], ' ')) AS chunks
        |  FROM toks WHERE len(t) > 0),
        |exploded AS (
        |  SELECT doc_id, unnest(generate_series(1, len(chunks))) - 1 AS chunk_idx,
        |         unnest(chunks) AS chunk
        |  FROM cl),
        |marked AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM exploded)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS keep_frac
        |FROM marked GROUP BY doc_id""".stripMargin,

    // revenue rounded to 2 dp BEFORE the LOCF copy (carried values must be
    // bit-identical); day = floor(epoch µs / 86.4e9), exact integer division
    "q53_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n_events,
        |    round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2)
        |      AS revenue
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(mn, mx)) AS day
        |  FROM (SELECT user_id, min(day) AS mn, max(day) AS mx
        |        FROM daily GROUP BY 1) b)
        |SELECT s.user_id, s.day,
        |  coalesce(d.n_events, 0) AS n_events, d.revenue,
        |  last_value(d.revenue IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_locf,
        |  coalesce(d.n_events, 0) = 0 AS filled
        |FROM spine s
        |LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day""".stripMargin,

    // bucket edges derived with the same association (lo + (b·(hi−lo))/16)
    // on both sides — raw doubles, no rounding needed
    "q54_histogram" ->
      """WITH ext AS (
        |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |b AS (
        |  SELECT l_returnflag,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 16))
        |                    AS BIGINT), 15) END AS bucket,
        |    lo, hi
        |  FROM lineitem, ext WHERE l_extendedprice IS NOT NULL)
        |SELECT l_returnflag, bucket,
        |  lo + bucket * (hi - lo) / 16 AS bucket_lo,
        |  lo + (bucket + 1) * (hi - lo) / 16 AS bucket_hi,
        |  count(*) AS cnt
        |FROM b GROUP BY l_returnflag, bucket, lo, hi""".stripMargin,

    // single aggregate row unpivoted by the column list; timestamps profiled
    // as epoch µs (unix_micros ↔ epoch_us), strings lexically
    "q55_profile" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z1,
        |      count(DISTINCT o_orderkey) AS d1,
        |      min(CAST(o_orderkey AS DOUBLE)) AS mn1,
        |      max(CAST(o_orderkey AS DOUBLE)) AS mx1,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z2,
        |      count(DISTINCT o_custkey) AS d2,
        |      min(CAST(o_custkey AS DOUBLE)) AS mn2,
        |      max(CAST(o_custkey AS DOUBLE)) AS mx2,
        |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z3,
        |      count(DISTINCT o_totalprice) AS d3,
        |      min(CAST(o_totalprice AS DOUBLE)) AS mn3,
        |      max(CAST(o_totalprice AS DOUBLE)) AS mx3,
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z4,
        |      count(DISTINCT o_orderdate) AS d4,
        |      min(CAST(epoch_us(o_orderdate) AS DOUBLE)) AS mn4,
        |      max(CAST(epoch_us(o_orderdate) AS DOUBLE)) AS mx4,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z5,
        |      count(DISTINCT o_orderstatus) AS d5,
        |      min(o_orderstatus) AS mn5, max(o_orderstatus) AS mx5,
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z6,
        |      count(DISTINCT o_orderpriority) AS d6,
        |      min(o_orderpriority) AS mn6, max(o_orderpriority) AS mx6
        |  FROM orders)
        |SELECT 'o_orderkey' AS col_name, n, z1 AS n_null, d1 AS n_distinct,
        |  mn1 AS min_num, mx1 AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a
        |UNION ALL SELECT 'o_custkey', n, z2, d2, mn2, mx2, NULL, NULL FROM a
        |UNION ALL SELECT 'o_totalprice', n, z3, d3, mn3, mx3, NULL, NULL FROM a
        |UNION ALL SELECT 'o_orderdate', n, z4, d4, mn4, mx4, NULL, NULL FROM a
        |UNION ALL SELECT 'o_orderstatus', n, z5, d5,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn5, mx5 FROM a
        |UNION ALL SELECT 'o_orderpriority', n, z6, d6,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn6, mx6 FROM a""".stripMargin,

    // knuthMod hash ((k·2654435761) mod 2^31) — positive operands, so `%`
    // and pmod agree; the priority key is one double division
    "q56_weighted_sample" ->
      """WITH k AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST((o_orderkey * 2654435761) % 2147483648 AS DOUBLE)
        |      / o_totalprice AS priority_key
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT o_orderpriority, rk, o_orderkey, o_totalprice, priority_key
        |FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY priority_key, o_orderkey) AS BIGINT) AS rk FROM k) t
        |WHERE rk <= 8""".stripMargin,

    // float→double widening is exact in both engines; round-half-up is the
    // explicit floor(x + 0.5) so no engine round-mode is in the path
    "q57_vec_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |s AS (SELECT vec_id, n_dims, e,
        |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, n_dims, scale,
        |    list_transform(e, x -> CASE WHEN scale > 0
        |      THEN CAST(floor(x / scale + 0.5) AS BIGINT) ELSE 0 END) AS qv
        |  FROM s)
        |SELECT vec_id, n_dims, scale,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
        |  CAST(list_sum(list_transform(generate_series(1, n_dims),
        |    i -> qv[i] * (i % 97))) AS BIGINT) AS checksum
        |FROM q""".stripMargin,

    // avg as explicit sum/count division — engines' AVG accumulators differ
    // in summation order but exact-int sum/count does not
    "q58_json_rollup" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(count(k) AS BIGINT) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  count(DISTINCT k) AS n_distinct_k,
        |  CAST(sum(k) AS DOUBLE) / count(k) AS avg_k
        |FROM e GROUP BY event_type""".stripMargin,

    // strictly-after with a 24 h conversion window per hop; stage times are
    // exact integer µs so every comparison is engine-identical
    "q59_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t_view FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts_us) AS t_click
        |       FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE event_type = 'click' AND ts_us > t_view
        |         AND ts_us <= t_view + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(ts_us) AS t_purchase
        |       FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE event_type = 'purchase' AND ts_us > t_click
        |         AND ts_us <= t_click + 86400000000 GROUP BY 1)
        |SELECT s1.user_id, t_view, t_click, t_purchase,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2
        |            ELSE 1 END AS BIGINT) AS stage_reached
        |FROM s1
        |LEFT JOIN s2 ON s2.user_id = s1.user_id
        |LEFT JOIN s3 ON s3.user_id = s1.user_id""".stripMargin,

    // levenshtein is the standard DP edit distance in both engines (exact
    // integer); the length band is a correctness-preserving blocker
    "q60_fuzzy_match" ->
      """WITH vocab AS (
        |  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT a.term AS term_a, b.term AS term_b,
        |  CAST(levenshtein(a.term, b.term) AS BIGINT) AS dist
        |FROM vocab a JOIN vocab b
        |  ON a.term < b.term
        |  AND abs(length(a.term) - length(b.term)) <= 2
        |  AND levenshtein(a.term, b.term) <= 2""".stripMargin,

    // quantile_cont ≡ the engine's exact interpolated percentile (bit-level,
    // q37-verified); fence arithmetic written with identical association
    "q61_iqr_outliers" ->
      """WITH q AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.25) AS p25,
        |    quantile_cont(l_extendedprice, 0.75) AS p75
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice > p75 + 0.5 * (p75 - p25)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN l_extendedprice < p25 - 0.5 * (p75 - p25)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  max(p75 + 0.5 * (p75 - p25)) AS high_fence
        |FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
        |GROUP BY l.l_returnflag""".stripMargin,

    // RANGE frame on integer µs: equal-timestamp rows share a frame, so the
    // result is deterministic without a unique sort key (row frames aren't)
    "q62_rolling_range" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE user_id < 20)
        |SELECT event_id, user_id, ts_us,
        |  CAST(count(*) OVER w AS BIGINT) AS n_24h,
        |  round(sum(value) OVER w, 2) AS sum_24h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // the salted two-phase collect is result-identical to the plain
    // distinct aggregate — which is exactly what the oracle computes
    "q63_salted_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_distinct_users,
        |  min(user_id) AS min_user, max(user_id) AS max_user
        |FROM events GROUP BY event_type""".stripMargin,

    // pair generation = q36's oracle prefix; then 3 unrolled power
    // iterations (recursive CTEs can't aggregate, so the fixed iteration
    // count is written out). (1.0 - 0.85) stays an explicit subtraction —
    // a 0.15 literal is a DIFFERENT double than the engine-side 1.0 − 0.85.
    "q64_pagerank" ->
      s"""WITH ${docs50PairsSql(0.5)},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |n AS (SELECT count(*) AS cnt FROM deg),
        |r0 AS (SELECT src AS node, 1.0 / cnt AS rank FROM deg, n),
        |s1 AS (SELECT e.dst, sum(r.rank / d.deg) AS s
        |       FROM edges e JOIN deg d ON d.src = e.src
        |       JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |r1 AS (SELECT dst AS node,
        |         round((1.0 - 0.85) / cnt + 0.85 * s, 9) AS rank FROM s1, n),
        |s2 AS (SELECT e.dst, sum(r.rank / d.deg) AS s
        |       FROM edges e JOIN deg d ON d.src = e.src
        |       JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT dst AS node,
        |         round((1.0 - 0.85) / cnt + 0.85 * s, 9) AS rank FROM s2, n),
        |s3 AS (SELECT e.dst, sum(r.rank / d.deg) AS s
        |       FROM edges e JOIN deg d ON d.src = e.src
        |       JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |r3 AS (SELECT dst AS node,
        |         round((1.0 - 0.85) / cnt + 0.85 * s, 9) AS rank FROM s3, n)
        |SELECT r3.node, d.deg, r3.rank
        |FROM r3 JOIN deg d ON d.src = r3.node""".stripMargin,

    "q65_full_outer" ->
      """WITH c AS (
        |  SELECT c_nationkey, count(*) AS n_cust,
        |    round(sum(c_acctbal), 2) AS cust_bal
        |  FROM customer WHERE c_acctbal < -700 GROUP BY c_nationkey),
        |s AS (
        |  SELECT s_nationkey, count(*) AS n_supp
        |  FROM supplier WHERE s_acctbal < 1000 GROUP BY s_nationkey)
        |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust,
        |  cust_bal,
        |  coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey""".stripMargin,

    // quantile_cont bit-matches the operator's interpolation (q37-verified);
    // p cast to DOUBLE — a bare 0.25 literal is DECIMAL in DuckDB
    "q66_percentiles_distributed" ->
      """SELECT l_returnflag, CAST(0.25 AS DOUBLE) AS p,
        |  quantile_cont(l_extendedprice, 0.25) AS value
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, CAST(0.5 AS DOUBLE),
        |  quantile_cont(l_extendedprice, 0.5)
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, CAST(0.9 AS DOUBLE),
        |  quantile_cont(l_extendedprice, 0.9)
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // rule predicates carry explicit IS NULL arms (a NULL comparison would
    // fall to ELSE and silently under-count violations in both engines)
    "q67_expectations" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1000000.0
        |                    OR o_totalprice IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |                    OR o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v3,
        |    count(DISTINCT o_orderkey) AS nd
        |  FROM orders)
        |SELECT 'orderkey_not_null' AS rule, v1 AS n_violations, n AS n_rows FROM a
        |UNION ALL SELECT 'totalprice_range', v2, n FROM a
        |UNION ALL SELECT 'status_domain', v3, n FROM a
        |UNION ALL SELECT 'unique_o_orderkey', n - nd, n FROM a""".stripMargin,

    // from-scratch recompute over the full stream — what the base ⊕ delta
    // merge must equal
    "q68_incremental_agg" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  min(epoch_us(ts)) AS first_us
        |FROM events GROUP BY event_type""".stripMargin,

    // balances are exact cents: window sums accumulate as exact HUGEINTs,
    // and both shares are single raw double divisions of identical inputs —
    // bit-identical across engines with no rounding
    "q69_share_of_total" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    CAST(round(c_acctbal * 100, 0) AS HUGEINT) AS cents
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(cents AS DOUBLE) /
        |    CAST(sum(cents) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
        |    AS share,
        |  CAST(sum(cents) OVER (PARTITION BY c_mktsegment
        |         ORDER BY c_acctbal DESC, c_custkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(sum(cents) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
        |    AS cum_share
        |FROM c""".stripMargin,

    // every event lands in window/slide = 2 hopping windows: starts
    // floor(ts/slide)·slide and one slide earlier (exact µs floor division)
    "q70_hopping_window" ->
      """SELECT (epoch_us(ts) // 1800000000 - i) * 1800000000 AS w_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events, (VALUES (0), (1)) t(i)
        |GROUP BY 1, 2""".stripMargin,

    // starts 1, 1+24, … ≤ n_tokens; list_slice is 1-based inclusive on both
    // engines; chunk_idx = (start-1)//stride ≡ Spark's posexplode ordinal
    "q71_sliding_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents)
        |SELECT doc_id, (u.s - 1) // 24 AS chunk_idx, CAST(u.s AS BIGINT) AS start,
        |  least(len(toks) - u.s + 1, 32) AS chunk_len,
        |  array_to_string(list_slice(toks, u.s, u.s + 31), ' ') AS chunk_text
        |FROM t, unnest(generate_series(1, len(toks), 24)) AS u(s)""".stripMargin,

    // same spread() constants as Hashing.scala (bijective affine mod 2^31)
    "q72_global_sample" ->
      """SELECT l_orderkey, l_linenumber,
        |  ((l_orderkey * 8 + l_linenumber) * 2654435761 + 1013904223)
        |    % 2147483648 AS pri
        |FROM lineitem
        |ORDER BY pri, l_orderkey, l_linenumber LIMIT 1000""".stripMargin,

    "q73_lang_rebalance" ->
      """WITH pri AS (
        |  SELECT doc_id, lang,
        |    (doc_id * 2654435761 + 1013904223) % 2147483648 AS pri
        |  FROM documents),
        |rk AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rk
        |  FROM pri),
        |tgt AS (
        |  SELECT min(n) AS n_target FROM (
        |    SELECT count(*) AS n FROM documents GROUP BY lang))
        |SELECT doc_id, lang, rk, n_target FROM rk, tgt
        |WHERE rk <= n_target""".stripMargin,

    // exact integer sufficient statistics (quantity integral, price exact
    // cents in this corpus) accumulated as HUGEINTs — and the CENTERED
    // NUMERATORS n·sxy−sx·sy etc. stay HUGEINT too: computing them in
    // double is the FMA-contractible multiply-subtract that drifted q77
    // in the driver, plus a catastrophic cancellation. Doubles appear only
    // after the exact numerators, in non-contractible shapes (single
    // divisions; div by a product of sqrts; square-over-product)
    "q74_corr_regression" ->
      """WITH t AS (
        |  SELECT l_returnflag, CAST(l_quantity AS HUGEINT) AS x,
        |    CAST(round(l_extendedprice * 100, 0) AS HUGEINT) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM t GROUP BY 1),
        |c AS (
        |  SELECT l_returnflag, n,
        |    n * sxy - sx * sy AS covn,
        |    n * sxx - sx * sx AS vx,
        |    n * syy - sy * sy AS vy,
        |    sy, sx
        |  FROM a)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    CAST(covn AS DOUBLE)
        |      / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) END AS corr,
        |  CASE WHEN vx > 0 THEN
        |    CAST(covn AS DOUBLE) / CAST(vx AS DOUBLE) END
        |    AS slope_cents_per_unit,
        |  CASE WHEN vx > 0 THEN
        |    CAST(vx * sy - covn * sx AS DOUBLE)
        |      / CAST(n * vx AS DOUBLE) END AS intercept,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    CAST(covn AS DOUBLE) * CAST(covn AS DOUBLE)
        |      / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) END AS r2
        |FROM c""".stripMargin,

    "q75_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q76_multiset_ops" ->
      """SELECT 'intersect_all' AS op, nationkey, count(*) AS multiplicity
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      INTERSECT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey
        |UNION ALL
        |SELECT 'except_all' AS op, nationkey, count(*) AS multiplicity
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      EXCEPT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey""".stripMargin,

    // every hashed value is EXACT — daily totals become 2-dp decimals BEFORE
    // the frame sums, μ is a half-up integer construction in e-6 units (NO
    // decimal division: DuckDB's `/` on decimals returns DOUBLE), the
    // anomaly flag is the pure decimal inequality (n·x − s1)² >
    // 4·(n·s2 − s1²), and the HASHED OUTPUT is pure fixed-point BIGINT
    // (revenue_cents / mu_e6 / var_num_e4): round 6 proved the driver's
    // hasher normalizes DECIMAL values version-sensitively, so decimals
    // stay internal. Casts shrink precision only, never scale (DuckDB
    // downcasts don't round like Spark).
    "q77_moving_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS revenue
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, day, revenue,
        |    count(*) OVER w AS n,
        |    CAST(sum(revenue) OVER w AS DECIMAL(18,2)) AS s1,
        |    CAST(sum(CAST(revenue * revenue AS DECIMAL(28,4))) OVER w
        |         AS DECIMAL(28,4)) AS s2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT event_type, day, revenue, n, s1, s2,
        |    CAST(s1 * 100 AS BIGINT) AS s1c,
        |    CAST(CAST(n AS DECIMAL(3,0)) * s2
        |         - CAST(s1 * s1 AS DECIMAL(30,4)) AS DECIMAL(32,4)) AS var_num,
        |    CAST(CAST(n AS DECIMAL(3,0)) * revenue - s1
        |         AS DECIMAL(18,2)) AS dd
        |  FROM f)
        |SELECT event_type, day,
        |  CAST(revenue * 100 AS BIGINT) AS revenue_cents, n AS n_frame,
        |  CASE WHEN s1c < 0
        |       THEN -((abs(s1c) * 20000 + n) // (n * 2))
        |       ELSE (abs(s1c) * 20000 + n) // (n * 2) END AS mu_e6,
        |  CAST(var_num * 10000 AS BIGINT) AS var_num_e4,
        |  CAST(dd * dd AS DECIMAL(30,4)) > var_num * 4.0 AS anomaly
        |FROM g""".stripMargin,

    // q36's MinHash→LSH→Jaccard→closure replay, extended by the keeper
    // choice: longest text first, doc_id ties — per component
    "q78_canonical_dedup" ->
      s"""WITH RECURSIVE ${docs50PairsSql(0.5)},
        |${closureSql("pairs", "doc")},
        |$compSql,
        |$keeperSql
        |SELECT doc_id, comp, n_chars, group_size, keep_doc,
        |  doc_id = keep_doc AS is_kept
        |FROM sel""".stripMargin,

    // same knuthMod constants as Hashing.scala; (VALUES …) enumerates the
    // depth rows exactly like the Spark side's posexplode'd array
    "q79_countmin" ->
      """WITH sk AS (
        |  SELECT t.j, ((user_id + t.j * 40503) * 2654435761) % 64 AS bucket,
        |    count(*) AS cnt
        |  FROM events, (VALUES (0), (1), (2)) t(j)
        |  GROUP BY 1, 2),
        |probes AS (
        |  SELECT user_id AS key, count(*) AS n_exact FROM events
        |  WHERE user_id < 20 GROUP BY 1),
        |pb AS (
        |  SELECT p.key, p.n_exact, t.j,
        |    ((p.key + t.j * 40503) * 2654435761) % 64 AS bucket
        |  FROM probes p, (VALUES (0), (1), (2)) t(j))
        |SELECT pb.key, pb.n_exact, min(s.cnt) AS n_est,
        |  min(s.cnt) - pb.n_exact AS overcount
        |FROM pb JOIN sk s ON s.j = pb.j AND s.bucket = pb.bucket
        |GROUP BY pb.key, pb.n_exact""".stripMargin,

    // lift = exact long products, one raw double division — bit-identical,
    // no rounding (sum(len) is HUGEINT in DuckDB → cast back to BIGINT to
    // mirror Spark's long arithmetic)
    "q80_collocations" ->
      """WITH toks AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |nz AS (SELECT t FROM toks WHERE len(t) > 0),
        |unic AS (
        |  SELECT w, count(*) AS nw FROM (SELECT unnest(t) AS w FROM nz)
        |  GROUP BY 1),
        |bic AS (
        |  SELECT bg, count(*) AS n_pair FROM (
        |    SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
        |      i -> t[i] || ' ' || t[i+1])) AS bg FROM nz)
        |  GROUP BY 1 HAVING count(*) >= 10),
        |tot AS (
        |  SELECT CAST(sum(len(t)) AS BIGINT) AS n_tokens,
        |    CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS n_bigrams
        |  FROM nz)
        |SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
        |  n_pair, u1.nw AS n_w1, u2.nw AS n_w2,
        |  CAST(n_pair * n_tokens * n_tokens AS DOUBLE)
        |        / CAST(u1.nw * u2.nw * n_bigrams AS DOUBLE) AS lift
        |FROM bic
        |CROSS JOIN tot
        |JOIN unic u1 ON u1.w = string_split(bg, ' ')[1]
        |JOIN unic u2 ON u2.w = string_split(bg, ' ')[2]""".stripMargin,

    // the sessionize window trick with type-change (not time-gap) breaks;
    // DuckDB window sum(int) is HUGEINT → cast run_id back to BIGINT
    "q81_compact_runs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS run_id
        |  FROM c)
        |SELECT user_id, run_id, min(event_type) AS event_type,
        |  min(event_id) AS min_event, min(ts_us) AS start_us,
        |  count(*) AS run_len
        |FROM r GROUP BY 1, 2""".stripMargin,

    // from-scratch recompute — the Spark side merges 4 delta-join partials;
    // exact decimal sums make the merge association-free, so they agree
    "q82_delta_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // per-token q15 rolling hash mod dim — same kernel constants
    "q83_feature_hashing" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END) AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(generate_series(1, length(w)),
        |      i -> CAST(ascii(substr(w, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0)
        |      % 2147483648 AS BIGINT) % 32 AS bucket
        |  FROM toks)
        |SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2""".stripMargin,

    // q16's shingle base, asymmetric |A∩B|/|A| instead of Jaccard
    "q84_containment" ->
      s"""WITH ${shinglesSql("sh", 3, "WHERE doc_id < 50")},
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
        |    count(*) AS inter
        |  FROM sh a JOIN sh b
        |    ON b.shingle = a.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT inner_doc, outer_doc, inter,
        |  sa.sz AS size_inner, sb.sz AS size_outer,
        |  CAST(inter AS DOUBLE) / sa.sz AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = inner_doc
        |JOIN sizes sb ON sb.doc_id = outer_doc
        |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8""".stripMargin,

    // med/MAD ≡ quantile_cont (the q37-verified bit-level interpolation),
    // emitted raw — rounding the derived doubles would reintroduce
    // engine drift; the outlier compare uses the same unrounded stats
    "q85_mad_outliers" ->
      """WITH med AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        |  FROM lineitem GROUP BY 1),
        |dev AS (
        |  SELECT l.l_returnflag, m.med,
        |    abs(l.l_extendedprice - m.med) AS d
        |  FROM lineitem l JOIN med m USING (l_returnflag)),
        |mad AS (
        |  SELECT l_returnflag, quantile_cont(d, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT v.l_returnflag, max(v.med) AS med,
        |  max(m.mad) AS mad, count(*) AS n,
        |  CAST(sum(CASE WHEN v.d > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev v JOIN mad m USING (l_returnflag)
        |GROUP BY 1""".stripMargin,

    // the recurrence replayed by a recursive CTE over the day index — in
    // exact DECIMAL arithmetic end to end (both engines round decimals
    // HALF_UP exactly; a double fold ties at the 10th digit and flaps —
    // see Sessions.emaDaily's parity note)
    "q86_ema" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS rev
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, day, rev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM daily),
        |ema AS (
        |  SELECT event_type, day, rev, i, CAST(rev AS DECIMAL(28,9)) AS ema
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.rev, x.i,
        |    CAST(round(CAST(0.25 AS DECIMAL(3,2)) * x.rev
        |               + CAST(0.75 AS DECIMAL(3,2)) * e.ema, 9)
        |         AS DECIMAL(28,9))
        |  FROM idx x JOIN ema e ON e.event_type = x.event_type
        |    AND x.i = e.i + 1)
        |SELECT event_type, day, CAST(rev AS DOUBLE) AS rev,
        |  CAST(ema AS DOUBLE) AS ema FROM ema""".stripMargin,

    // the greedy packing recurrence replayed per source over the doc index
    // — all-integer state, no fp anywhere
    "q89_pack_sequences" ->
      """WITH RECURSIVE counts AS (
        |  SELECT source, doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS n_tokens
        |  FROM documents),
        |idx AS (
        |  SELECT source, doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS i
        |  FROM counts),
        |pack AS (
        |  SELECT source, doc_id, n_tokens, i,
        |    CAST(1 AS BIGINT) AS bin, n_tokens AS cum
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.source, x.doc_id, x.n_tokens, x.i,
        |    CASE WHEN p.cum + x.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.cum + x.n_tokens > 256 THEN x.n_tokens
        |         ELSE p.cum + x.n_tokens END
        |  FROM idx x JOIN pack p ON p.source = x.source AND x.i = p.i + 1)
        |SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(bin AS BIGINT) AS bin, CAST(cum AS BIGINT) AS cum_tokens
        |FROM pack""".stripMargin,

    // counts are exact; both divisions are single raw double ops
    "q90_stratified_split" ->
      """WITH assigned AS (
        |  SELECT lang,
        |    CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |         WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |counts AS (
        |  SELECT lang, split, count(*) AS n FROM assigned GROUP BY 1, 2),
        |ext AS (
        |  SELECT lang, split, n,
        |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
        |    CAST(sum(CASE WHEN split = 'train' THEN n END) OVER ()
        |      AS BIGINT) AS tt,
        |    CAST(count(CASE WHEN split = 'train' THEN 1 END) OVER ()
        |      AS BIGINT) AS tl
        |  FROM counts)
        |SELECT lang, split, n, n_lang,
        |  CAST(n AS DOUBLE) / CAST(n_lang AS DOUBLE) AS frac_of_lang,
        |  CASE WHEN split = 'train' THEN
        |    CAST(tt AS DOUBLE) / CAST(tl * n AS DOUBLE) END
        |    AS class_weight
        |FROM ext""".stripMargin,

    "q95_string_agg" ->
      """SELECT r_name, count(*) AS n_nations,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q96_period_over_period" ->
      """WITH monthly AS (
        |  SELECT o_orderpriority,
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(month(o_orderdate) AS BIGINT) AS mo,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1, 2, 3),
        |lagged AS (
        |  SELECT o_orderpriority, yr, mo, rev,
        |    lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY yr, mo)
        |      AS prev_rev
        |  FROM monthly)
        |SELECT o_orderpriority, yr, mo,
        |  CAST(rev AS DOUBLE) AS rev,
        |  CAST(prev_rev AS DOUBLE) AS prev_rev,
        |  CASE WHEN prev_rev > 0
        |    THEN CAST(rev - prev_rev AS DOUBLE) / CAST(prev_rev AS DOUBLE)
        |    END AS mom_growth
        |FROM lagged""".stripMargin,

    // ---- round 5 ----
    "q97_cohort_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |wc AS (
        |  SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM ud),
        |mat AS (
        |  SELECT cohort_day, (day - cohort_day) // 7 AS week_offset,
        |    count(DISTINCT user_id) AS n_active
        |  FROM wc GROUP BY 1, 2),
        |sz AS (
        |  SELECT cohort_day, count(DISTINCT user_id) AS cohort_size
        |  FROM wc WHERE day = cohort_day GROUP BY 1)
        |SELECT m.cohort_day, m.week_offset, m.n_active, s.cohort_size,
        |  CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |    AS retention
        |FROM mat m JOIN sz s USING (cohort_day)""".stripMargin,

    "q98_trailing_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |tgt AS (
        |  SELECT DISTINCT user_id, t_day FROM (
        |    SELECT user_id, day + unnest(generate_series(0, 6)) AS t_day
        |    FROM ud) u),
        |daily AS (
        |  SELECT day, count(DISTINCT user_id) AS n_users_1d
        |  FROM ud GROUP BY 1),
        |trail AS (
        |  SELECT t.t_day AS day, count(DISTINCT t.user_id) AS n_users_7d
        |  FROM tgt t JOIN daily d ON t.t_day = d.day GROUP BY 1)
        |SELECT d.day, d.n_users_1d, tr.n_users_7d
        |FROM daily d JOIN trail tr USING (day)""".stripMargin,

    "q99_bigram_lm" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |pairs AS (
        |  SELECT (b).w1 AS w1, (b).w2 AS w2 FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
        |    FROM toks WHERE len(t) >= 2) u),
        |pc AS (SELECT w1, w2, count(*) AS cnt FROM pairs GROUP BY 1, 2),
        |tot AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS total
        |        FROM pc GROUP BY 1),
        |top_ctx AS (
        |  SELECT w1, total FROM (
        |    SELECT w1, total,
        |      row_number() OVER (ORDER BY total DESC, w1) AS rk
        |    FROM tot) x WHERE rk <= 100)
        |SELECT p.w1,
        |  row_number() OVER (PARTITION BY p.w1 ORDER BY p.cnt DESC, p.w2)
        |    AS "rank",
        |  p.w2, p.cnt, tc.total,
        |  CAST(p.cnt AS DOUBLE) / CAST(tc.total AS DOUBLE) AS p
        |FROM pc p JOIN top_ctx tc USING (w1)
        |QUALIFY "rank" <= 3""".stripMargin,

    "q100_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT p_retailprice AS price,
        |    CAST(p_size AS BIGINT) AS "size"
        |  FROM part WHERE p_brand IN ('Brand#1', 'Brand#2'))
        |SELECT price, "size" FROM pts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts b
        |  WHERE b.price <= a.price AND b."size" <= a."size"
        |    AND (b.price < a.price OR b."size" < a."size"))""".stripMargin,

    "q101_khop_bfs" ->
      s"""WITH RECURSIVE $supplierGraphSql,
        |bfs(node, dist) AS (
        |  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
        |  UNION ALL
        |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN sym e ON e.src = b.node
        |  WHERE b.dist < 4)
        |SELECT node, min(dist) AS dist FROM bfs GROUP BY node""".stripMargin,

    "q102_triangles" ->
      s"""WITH $supplierGraphSql,
        |canon AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
        |tri AS (
        |  SELECT x.a AS a, x.b AS b, y.b AS c
        |  FROM canon x
        |  JOIN canon y ON y.a = x.b
        |  JOIN canon z ON z.a = x.a AND z.b = y.b),
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, count(*) AS n_triangles
        |FROM corners GROUP BY node""".stripMargin,

    "q103_merge_upsert" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal
        |  FROM customer),
        |mk AS (SELECT max(c_custkey) AS mk FROM cust),
        |agg AS (
        |  SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS delta
        |  FROM orders WHERE year(o_orderdate) >= 1997 GROUP BY 1),
        |src AS (
        |  SELECT CASE WHEN o_custkey % 100 = 0 THEN o_custkey + mk
        |              ELSE o_custkey END AS c_custkey, delta
        |  FROM agg, mk),
        |merged AS (
        |  SELECT
        |    CASE WHEN t.c_custkey IS NULL THEN s.c_custkey
        |         ELSE t.c_custkey END AS c_custkey,
        |    CASE WHEN t.c_custkey IS NULL
        |           THEN 'Customer#new#' || s.c_custkey
        |         ELSE t.c_name END AS c_name,
        |    CASE WHEN t.c_custkey IS NULL THEN 'MERGED'
        |         ELSE t.c_mktsegment END AS c_mktsegment,
        |    CASE WHEN t.c_custkey IS NULL
        |           THEN CAST(s.delta AS DECIMAL(18,2))
        |         WHEN s.c_custkey IS NOT NULL AND NOT (t.c_acctbal < -900)
        |           THEN CAST(t.c_acctbal + s.delta AS DECIMAL(18,2))
        |         ELSE t.c_acctbal END AS c_acctbal,
        |    CASE WHEN t.c_custkey IS NULL THEN 'insert'
        |         WHEN s.c_custkey IS NOT NULL AND t.c_acctbal < -900
        |           THEN 'delete'
        |         WHEN s.c_custkey IS NOT NULL THEN 'update'
        |         ELSE 'keep' END AS action
        |  FROM cust t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey)
        |SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(c_acctbal AS DOUBLE) AS c_acctbal, action
        |FROM merged WHERE action <> 'delete'""".stripMargin,

    "q104_retrieval" ->
      s"""WITH $retrievalScoredSql
        |SELECT query_id,
        |  row_number() OVER (PARTITION BY query_id
        |                     ORDER BY score DESC, doc_id) AS "rank",
        |  doc_id, overlap, q_len, d_len, score
        |FROM scored
        |QUALIFY "rank" <= 5""".stripMargin,

    "q105_embedding_standardize" ->
      """WITH flat AS (
        |  SELECT vec_id, (b).d AS dim, (b).v AS qv FROM (
        |    SELECT vec_id,
        |      unnest(list_transform(generate_series(1, len(embedding)),
        |        i -> struct_pack(
        |          d := CAST(i - 1 AS BIGINT),
        |          v := CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0
        |                          + 0.5) AS BIGINT)))) AS b
        |    FROM embeddings) u),
        |stats AS (
        |  SELECT dim, count(*) AS n,
        |    CAST(sum(qv) AS BIGINT) AS s1,
        |    CAST(sum(qv * qv) AS BIGINT) AS s2
        |  FROM flat GROUP BY 1),
        |derived AS (
        |  SELECT dim, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
        |         / CAST(n * n AS DOUBLE)) AS sigma
        |  FROM stats)
        |SELECT f.vec_id, f.dim, f.qv,
        |  CASE WHEN d.sigma > 0
        |    THEN (CAST(f.qv AS DOUBLE) - d.mu) / d.sigma END AS z
        |FROM flat f JOIN derived d USING (dim)
        |WHERE f.vec_id < 50""".stripMargin,

    "q106_winsorized_mean" ->
      """WITH f AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l.l_extendedprice < f.lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clamped_lo,
        |  CAST(sum(CASE WHEN l.l_extendedprice > f.hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clamped_hi,
        |  max(f.lo) AS lo, max(f.hi) AS hi,
        |  round(avg(least(greatest(l.l_extendedprice, f.lo), f.hi)), 2)
        |    AS winsorized_mean
        |FROM lineitem l JOIN f USING (l_returnflag)
        |GROUP BY 1""".stripMargin,

    // replace()'s leftmost-non-overlapping scan is the BPE merge order in
    // both engines; single-char symbols keep the "a b" pattern aligned
    "q107_bpe_merge" ->
      """WITH words AS (
        |  SELECT w, count(*) AS wcnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents WHERE length(trim(text)) > 0) u
        |  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
        |  GROUP BY 1),
        |spaced AS (
        |  SELECT wcnt, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sp
        |  FROM words),
        |pairs1 AS (
        |  SELECT (b).pa AS pa, (b).pb AS pb, wcnt FROM (
        |    SELECT wcnt, unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> struct_pack(pa := t[i], pb := t[i + 1]))) AS b
        |    FROM (SELECT wcnt, string_split(sp, ' ') AS t FROM spaced) s
        |    WHERE len(t) >= 2) u),
        |pc1 AS (
        |  SELECT pa, pb, CAST(sum(wcnt) AS BIGINT) AS total
        |  FROM pairs1 GROUP BY 1, 2),
        |best AS (
        |  SELECT pa AS best_a, pb AS best_b FROM pc1
        |  ORDER BY total DESC, pa, pb LIMIT 1),
        |merged AS (
        |  SELECT s.wcnt,
        |    replace(s.sp, b.best_a || ' ' || b.best_b,
        |            b.best_a || b.best_b) AS sp2
        |  FROM spaced s CROSS JOIN best b),
        |pairs2 AS (
        |  SELECT (b).pa AS pa, (b).pb AS pb, wcnt FROM (
        |    SELECT wcnt, unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> struct_pack(pa := t[i], pb := t[i + 1]))) AS b
        |    FROM (SELECT wcnt, string_split(sp2, ' ') AS t FROM merged) s
        |    WHERE len(t) >= 2) u),
        |pc2 AS (
        |  SELECT pa, pb, CAST(sum(wcnt) AS BIGINT) AS total
        |  FROM pairs2 GROUP BY 1, 2)
        |SELECT b.best_a AS merged_a, b.best_b AS merged_b,
        |  row_number() OVER (ORDER BY total DESC, pa, pb) AS "rank",
        |  pa, pb, total
        |FROM pc2 CROSS JOIN best b
        |QUALIFY "rank" <= 20""".stripMargin,

    // assignment replayed as a window argmin over the k-row cross join;
    // all distances/sums are exact ints, new_c is one IEEE division
    "q108_kmeans_step" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS centroid_id, q AS cq FROM q WHERE vec_id < 8),
        |dists AS (
        |  SELECT v.vec_id, c.centroid_id, v.q,
        |    list_sum(list_transform(generate_series(1, len(v.q)),
        |      i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS dist
        |  FROM q v CROSS JOIN cents c),
        |assigned AS (
        |  SELECT vec_id, centroid_id, q FROM dists
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |                             ORDER BY dist, centroid_id) = 1),
        |flat AS (
        |  SELECT centroid_id, (b).d AS dim, (b).v AS qv FROM (
        |    SELECT centroid_id,
        |      unnest(list_transform(generate_series(1, len(q)),
        |        i -> struct_pack(d := CAST(i - 1 AS BIGINT), v := q[i]))) AS b
        |    FROM assigned) u)
        |SELECT centroid_id, dim,
        |  CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(sum(qv) AS BIGINT) AS s_dim,
        |  CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS new_c
        |FROM flat GROUP BY 1, 2""".stripMargin,

    // cutpoints are the oracle-verified quantile_cont interpolation doubles
    // (i/8 fractions are exact dyadics — identical literals on both sides)
    "q109_equidepth" ->
      """WITH cuts AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cs
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  CAST(len(list_filter(c.cs, x -> l.l_extendedprice > x)) AS BIGINT)
        |    AS bin,
        |  count(*) AS n,
        |  min(l.l_extendedprice) AS min_v,
        |  max(l.l_extendedprice) AS max_v
        |FROM lineitem l JOIN cuts c USING (l_returnflag)
        |GROUP BY 1, 2""".stripMargin,

    // v1 in BIGINT (fits), v2 in HUGEINT ≡ Spark decimal(38,0); output
    // doubles are casts/divisions of exact integers — engine-neutral
    "q111_power_iteration" ->
      """WITH q AS (
        |  SELECT list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |ws AS (SELECT q, CAST(list_sum(q) AS BIGINT) AS s FROM q),
        |flat AS (
        |  SELECT (b).d AS dim, (b).v AS qv, s FROM (
        |    SELECT s, unnest(list_transform(generate_series(1, len(q)),
        |      i -> struct_pack(d := CAST(i - 1 AS BIGINT), v := q[i]))) AS b
        |    FROM ws) u),
        |v1 AS (SELECT dim, CAST(sum(qv * s) AS BIGINT) AS v1
        |       FROM flat GROUP BY 1),
        |v1arr AS (SELECT list(v1 ORDER BY dim) AS a FROM v1),
        |wt AS (
        |  SELECT w.q,
        |    list_sum(list_transform(generate_series(1, len(w.q)),
        |      i -> CAST(w.q[i] AS HUGEINT) * CAST(va.a[i] AS HUGEINT))) AS t
        |  FROM ws w CROSS JOIN v1arr va),
        |flat2 AS (
        |  SELECT (b).d AS dim, (b).v AS qv, t FROM (
        |    SELECT t, unnest(list_transform(generate_series(1, len(q)),
        |      i -> struct_pack(d := CAST(i - 1 AS BIGINT), v := q[i]))) AS b
        |    FROM wt) u),
        |v2 AS (SELECT dim, sum(CAST(qv AS HUGEINT) * t) AS v2dec
        |       FROM flat2 GROUP BY 1),
        |vmax AS (SELECT max(v2dec) AS m FROM v2)
        |SELECT v2.dim, v1.v1, CAST(v2.v2dec AS DOUBLE) AS v2,
        |  CAST(v2.v2dec AS DOUBLE) / CAST(vmax.m AS DOUBLE) AS v2_scaled
        |FROM v2 JOIN v1 USING (dim) CROSS JOIN vmax""".stripMargin,

    // q53's spine + a second (backward) frame; the interpolation expression
    // shape is shared verbatim with the Spark side
    // interior interpolation numerator is exact DECIMAL·INTEGER (vp/vn are
    // 2-dp decimals), one double division — `vp + (vn−vp)·t` on doubles is
    // the FMA-contractible multiply-into-add (the q77 driver-drift class)
    "q112_interpolate" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(sum(CASE WHEN event_type = 'purchase' THEN value
        |                   END), 2) AS DECIMAL(18,2)) AS revenue
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(mn, mx)) AS day
        |  FROM (SELECT user_id, min(day) AS mn, max(day) AS mx
        |        FROM daily GROUP BY 1) b),
        |j AS (
        |  SELECT s.user_id, s.day, d.revenue,
        |    CASE WHEN d.revenue IS NOT NULL THEN s.day END AS od
        |  FROM spine s
        |  LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day),
        |w AS (
        |  SELECT user_id, day, revenue,
        |    last_value(revenue IGNORE NULLS) OVER wp AS vp,
        |    last_value(od IGNORE NULLS) OVER wp AS dp,
        |    first_value(revenue IGNORE NULLS) OVER wn AS vn,
        |    first_value(od IGNORE NULLS) OVER wn AS dn
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  CAST(revenue * 100 AS BIGINT) AS revenue_cents,
        |  CASE WHEN revenue IS NOT NULL THEN CAST(revenue AS DOUBLE)
        |       WHEN vp IS NOT NULL AND vn IS NOT NULL THEN
        |         CAST(CAST(vp * (dn - day) + vn * (day - dp)
        |                   AS DECIMAL(38,2)) AS DOUBLE)
        |           / CAST(dn - dp AS DOUBLE)
        |       ELSE CAST(coalesce(vp, vn) AS DOUBLE) END AS interp,
        |  revenue IS NULL AS filled
        |FROM w""".stripMargin,

    // per-cell χ² contributions: sums of per-cell doubles would be
    // association-order-dependent; each cell alone is exact
    "q113_chi_square" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |ra AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ra
        |       FROM cells GROUP BY 1),
        |cb AS (SELECT source, CAST(sum(o) AS BIGINT) AS cb
        |       FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
        |SELECT c.lang, c.source, c.o, ra.ra, cb.cb, nn.n,
        |  CAST(ra.ra * cb.cb AS DOUBLE) / CAST(nn.n AS DOUBLE) AS expected,
        |  CAST((c.o * nn.n - ra.ra * cb.cb) * (c.o * nn.n - ra.ra * cb.cb)
        |       AS DOUBLE)
        |    / CAST(nn.n * ra.ra * cb.cb AS DOUBLE) AS chi2_cell
        |FROM cells c JOIN ra USING (lang) JOIN cb USING (source)
        |CROSS JOIN nn""".stripMargin,

    // q101's synthetic edge CTE + a per-node argmax over neighbor labels
    "q114_label_prop" ->
      s"""WITH $supplierGraphSql,
        |labels AS (
        |  SELECT s_suppkey AS node, s_suppkey % 3 AS label FROM supplier),
        |nbr AS (
        |  SELECT s.src AS node, l.label FROM sym s
        |  JOIN labels l ON l.node = s.dst),
        |cnt AS (SELECT node, label, count(*) AS cnt FROM nbr GROUP BY 1, 2),
        |newl AS (
        |  SELECT node, label AS new_label, cnt AS votes FROM cnt
        |  QUALIFY row_number() OVER (PARTITION BY node
        |                             ORDER BY cnt DESC, label) = 1)
        |SELECT l.node, l.label AS old_label,
        |  coalesce(n.new_label, l.label) AS new_label,
        |  coalesce(n.votes, 0) AS votes,
        |  coalesce(n.new_label, l.label) <> l.label AS changed
        |FROM labels l LEFT JOIN newl n USING (node)""".stripMargin,

    "q131_ltv_triangle" ->
      """WITH pum AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS ym,
        |    CAST(CAST(round(sum(CASE WHEN event_type = 'purchase'
        |                           THEN value ELSE 0.0 END), 2)
        |         AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |coh AS (SELECT user_id, min(ym) AS cohort_ym FROM pum GROUP BY 1),
        |sized AS (SELECT cohort_ym, count(*) AS cohort_users
        |          FROM coh GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort_ym, p.ym - c.cohort_ym AS age,
        |    CAST(sum(p.cents) AS BIGINT) AS rev_cents,
        |    count(DISTINCT p.user_id) AS active_users
        |  FROM pum p JOIN coh c USING (user_id)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_ym, age, rev_cents, active_users,
        |    CAST(sum(rev_cents) OVER (PARTITION BY cohort_ym ORDER BY age
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM cells)
        |SELECT CAST(c.cohort_ym AS BIGINT) AS cohort_wk,
        |  CAST(c.age AS BIGINT) AS age,
        |  s.cohort_users, c.active_users, c.rev_cents, c.cum_cents,
        |  CAST(c.cum_cents AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)
        |    AS ltv_per_user
        |FROM cum c JOIN sized s USING (cohort_ym)""".stripMargin,

    "q132_rfm" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, value
        |  FROM events WHERE event_type = 'purchase'),
        |pu AS (
        |  SELECT user_id, max(day) AS last_day, count(*) AS freq,
        |    CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS cents
        |  FROM p GROUP BY 1),
        |md AS (SELECT max(last_day) AS max_day FROM pu),
        |scored AS (
        |  SELECT cents,
        |    ntile(5) OVER (ORDER BY max_day - last_day, user_id) AS r_score,
        |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
        |    ntile(5) OVER (ORDER BY cents DESC, user_id) AS m_score
        |  FROM pu CROSS JOIN md)
        |SELECT CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  count(*) AS users, CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents
        |FROM scored GROUP BY 1, 2, 3""".stripMargin,

    "q133_assoc_rules" ->
      """WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM baskets),
        |ic AS (SELECT item, count(*) AS n_item FROM baskets GROUP BY 1),
        |pairs AS (
        |  SELECT x.item AS item_a, y.item AS item_b, count(*) AS n_ab
        |  FROM baskets x JOIN baskets y
        |    ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(a.n_item AS BIGINT) AS n_a, CAST(b.n_item AS BIGINT) AS n_b,
        |  CAST(n_baskets AS BIGINT) AS n_baskets,
        |  CAST(n_ab AS DOUBLE) / CAST(a.n_item AS DOUBLE) AS conf_ab,
        |  CAST(n_ab AS DOUBLE) / CAST(b.n_item AS DOUBLE) AS conf_ba,
        |  CAST(n_ab * n_baskets AS DOUBLE) /
        |    CAST(a.n_item * b.n_item AS DOUBLE) AS lift
        |FROM pairs CROSS JOIN nb
        |JOIN ic a ON a.item = pairs.item_a
        |JOIN ic b ON b.item = pairs.item_b
        |WHERE n_ab * 50 >= n_baskets""".stripMargin,

    "q134_link_predict" ->
      s"""WITH $supplierGraphSql,
        |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
        |wedges AS (
        |  SELECT x.dst AS a, y.dst AS b, count(*) AS common
        |  FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst
        |  GROUP BY 1, 2),
        |nonedge AS (
        |  SELECT w.* FROM wedges w
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM sym e WHERE e.src = w.a AND e.dst = w.b))
        |SELECT a, b, CAST(common AS BIGINT) AS common,
        |  CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
        |  CAST(common AS DOUBLE) /
        |    CAST(da.deg + db.deg - common AS DOUBLE) AS jaccard
        |FROM nonedge
        |JOIN deg da ON da.node = nonedge.a
        |JOIN deg db ON db.node = nonedge.b""".stripMargin,

    "q135_revenue_deciles" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT cents,
        |    ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
        |  FROM pc),
        |cells AS (
        |  SELECT decile, count(*) AS customers,
        |    CAST(sum(cents) AS BIGINT) AS rev_cents
        |  FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents
        |        FROM cells)
        |SELECT CAST(decile AS BIGINT) AS decile, customers, rev_cents,
        |  CAST(sum(rev_cents) OVER (ORDER BY decile
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        |  CAST(sum(rev_cents) OVER (ORDER BY decile
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(total_cents AS DOUBLE)
        |    AS cum_share
        |FROM cells CROSS JOIN tot""".stripMargin,

    "q136_hll_distinct" ->
      """WITH h0 AS (
        |  SELECT event_type, user_id,
        |    (user_id * 2654435761 + 1013904223) % 1099511627776 AS h1
        |  FROM events),
        |hx AS (SELECT event_type, user_id,
        |         xor(h1, h1 // 1048576) AS h2 FROM h0),
        |hy AS (SELECT event_type, user_id,
        |         ((h2 % 4294967296) * 1540483477 + 99991) % 1099511627776
        |           AS h3 FROM hx),
        |h AS (SELECT event_type, user_id,
        |        xor(h3, h3 // 131072) AS hv FROM hy),
        |reg AS (
        |  SELECT event_type, hv % 32 AS bucket,
        |    max(CASE WHEN hv // 32 = 0 THEN 36
        |        ELSE bit_count(((hv // 32) & -(hv // 32)) - 1) + 1
        |        END) AS rho_max
        |  FROM h GROUP BY 1, 2),
        |z AS (
        |  SELECT event_type,
        |    sum(CAST(1.0 AS DOUBLE) /
        |        CAST(CAST(1 AS BIGINT) << rho_max AS DOUBLE))
        |      + CAST(32 - count(*) AS DOUBLE) AS zsum,
        |    count(*) AS filled
        |  FROM reg GROUP BY 1),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        |       FROM events GROUP BY 1)
        |SELECT ex.event_type, ex.n_exact,
        |  CAST(z.filled AS BIGINT) AS filled,
        |  CAST(0.697 AS DOUBLE) * 32 * 32 / z.zsum AS hll_est,
        |  (CAST(0.697 AS DOUBLE) * 32 * 32 / z.zsum
        |    - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE)
        |    AS rel_err
        |FROM ex JOIN z USING (event_type)""".stripMargin,

    "q137_cross_sell" ->
      """WITH pur AS (
        |  SELECT DISTINCT o_custkey AS cust, o_orderdate AS odate,
        |    p_brand AS brand
        |  FROM orders
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN part ON l_partkey = p_partkey),
        |pairs AS (
        |  SELECT DISTINCT x.cust, x.brand AS brand_from, y.brand AS brand_to
        |  FROM pur x JOIN pur y ON x.cust = y.cust
        |    AND x.odate < y.odate AND x.brand <> y.brand),
        |fc AS (
        |  SELECT brand AS brand_from, count(*) AS n_from
        |  FROM (SELECT DISTINCT cust, brand FROM pur) GROUP BY 1),
        |nc AS (SELECT count(DISTINCT cust) AS n_cust FROM pur),
        |pc AS (
        |  SELECT brand_from, brand_to, count(*) AS n_seq
        |  FROM pairs GROUP BY 1, 2)
        |SELECT pc.brand_from, pc.brand_to, CAST(pc.n_seq AS BIGINT) AS n_seq,
        |  CAST(fc.n_from AS BIGINT) AS n_from,
        |  CAST(nc.n_cust AS BIGINT) AS n_cust,
        |  CAST(pc.n_seq AS DOUBLE) / CAST(fc.n_from AS DOUBLE) AS conf
        |FROM pc CROSS JOIN nc
        |JOIN fc ON fc.brand_from = pc.brand_from
        |WHERE pc.n_seq * 100 >= nc.n_cust * 43""".stripMargin,

    "q138_higher_moments" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS BIGINT)) AS s1,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS s2,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS s3,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS s4
        |  FROM lineitem GROUP BY 1),
        |e AS (
        |  SELECT l_returnflag, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS e1,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
        |  FROM s),
        |m AS (
        |  SELECT l_returnflag, n, e1,
        |    e2 - e1 * e1 AS m2,
        |    e3 - 3 * e1 * e2 + 2 * e1 * e1 * e1 AS m3,
        |    e4 - 4 * e1 * e3 + 6 * e1 * e1 * e2
        |      - 3 * e1 * e1 * e1 * e1 AS m4
        |  FROM e)
        |SELECT l_returnflag, n, e1 AS mean, m2 AS variance,
        |  CASE WHEN m2 = 0 THEN NULL
        |       ELSE m3 / (m2 * sqrt(m2)) END AS skewness,
        |  CASE WHEN m2 = 0 THEN NULL
        |       ELSE m4 / (m2 * m2) - 3 END AS kurtosis_excess
        |FROM m""".stripMargin,

    "q139_conversion_latency" ->
      """WITH su AS (
        |  SELECT user_id, min(epoch_us(ts)) AS signup_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |cv AS (
        |  SELECT e.user_id, su.signup_us, min(epoch_us(e.ts)) AS conv_us
        |  FROM events e JOIN su USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > su.signup_us
        |  GROUP BY 1, 2),
        |lat AS (
        |  SELECT signup_us // 604800000000 AS cohort_wk,
        |    conv_us - signup_us AS latency_us
        |  FROM cv)
        |SELECT cohort_wk, CAST(0.5 AS DOUBLE) AS p,
        |  quantile_cont(latency_us, 0.5) AS value
        |FROM lat GROUP BY 1
        |UNION ALL
        |SELECT cohort_wk, CAST(0.9 AS DOUBLE) AS p,
        |  quantile_cont(latency_us, 0.9) AS value
        |FROM lat GROUP BY 1""".stripMargin,

    "q140_max_concurrency" ->
      s"""WITH $sessionsSql,
        |sess AS (
        |  SELECT user_id, session_id, min(ts_us) AS start_us,
        |    max(ts_us) AS end_us
        |  FROM numbered GROUP BY 1, 2),
        |bounds AS (
        |  SELECT start_us AS ts, CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL
        |  SELECT end_us, CAST(-1 AS BIGINT) FROM sess),
        |swept AS (
        |  SELECT ts, delta,
        |    CAST(sum(delta) OVER (ORDER BY ts, delta
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
        |  FROM bounds)
        |SELECT ts // 86400000000 AS day,
        |  max(conc) AS peak_concurrency, count(*) AS n_boundaries
        |FROM swept GROUP BY 1""".stripMargin,

    "q141_largest_remainder" ->
      """WITH wts AS (
        |  SELECT c_nationkey AS key, count(*) AS w
        |  FROM customer GROUP BY 1),
        |ws AS (SELECT key, w, CAST(sum(w) OVER () AS BIGINT) AS wsum
        |       FROM wts),
        |based AS (
        |  SELECT key, w, wsum, (w * 1000000) // wsum AS base,
        |    (w * 1000000) % wsum AS remainder
        |  FROM ws),
        |lo AS (
        |  SELECT key, w, base, remainder,
        |    CAST(1000000 - sum(base) OVER () AS BIGINT) AS leftover,
        |    row_number() OVER (ORDER BY remainder DESC, key) AS rn
        |  FROM based)
        |SELECT key, CAST(w AS BIGINT) AS w, CAST(base AS BIGINT) AS base,
        |  CAST(remainder AS BIGINT) AS remainder,
        |  CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS extra,
        |  CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM lo""".stripMargin,

    "q143_dow_baseline" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |dowd AS (SELECT day, day % 7 AS dow, cents FROM daily),
        |base AS (
        |  SELECT dow, CAST(sum(cents) AS BIGINT) AS dow_cents,
        |    count(*) AS dow_days
        |  FROM dowd GROUP BY 1)
        |SELECT d.day, d.dow, d.cents, b.dow_cents, b.dow_days,
        |  CAST(d.cents * b.dow_days AS DOUBLE) / CAST(b.dow_cents AS DOUBLE)
        |    AS ratio_to_dow_mean
        |FROM dowd d JOIN base b USING (dow)""".stripMargin,

    "q144_ship_latency" ->
      """WITH lat AS (
        |  SELECT o_orderpriority,
        |    CAST(datediff('day', o_orderdate, l_shipdate) AS DOUBLE)
        |      AS lat_days
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, CAST(0.25 AS DOUBLE) AS p,
        |  quantile_cont(lat_days, 0.25) AS value
        |FROM lat GROUP BY 1
        |UNION ALL
        |SELECT o_orderpriority, CAST(0.5 AS DOUBLE),
        |  quantile_cont(lat_days, 0.5)
        |FROM lat GROUP BY 1
        |UNION ALL
        |SELECT o_orderpriority, CAST(0.9 AS DOUBLE),
        |  quantile_cont(lat_days, 0.9)
        |FROM lat GROUP BY 1""".stripMargin,

    "q145_rolling_corr" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |framed AS (
        |  SELECT day,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(x) OVER w AS BIGINT) AS sx,
        |    CAST(sum(y) OVER w AS BIGINT) AS sy,
        |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
        |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER w AS BIGINT) AS syy
        |  FROM daily
        |  WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING
        |               AND CURRENT ROW))
        |SELECT day, n, sx, sy,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |       THEN NULL
        |       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |            * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |  END AS rolling_corr
        |FROM framed""".stripMargin,

    "q146_ks_test" ->
      """WITH vc AS (
        |  SELECT n_chars AS v,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
        |      AS c2
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |               CAST(sum(c2) AS BIGINT) AS n2 FROM vc),
        |cum AS (
        |  SELECT v,
        |    CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cc1,
        |    CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cc2
        |  FROM vc)
        |SELECT n1, n2,
        |  CAST(max(abs(cc1 * n2 - cc2 * n1)) AS BIGINT) AS ks_num,
        |  CAST(max(abs(cc1 * n2 - cc2 * n1)) AS DOUBLE)
        |    / CAST(n1 * n2 AS DOUBLE) AS ks
        |FROM cum CROSS JOIN tot GROUP BY n1, n2""".stripMargin,

    "q147_langid_kappa" ->
      s"""WITH s AS (
        |  SELECT doc_id, lang AS actual,
        |    $langScoresSql
        |  FROM documents),
        |p AS (
        |  SELECT actual,
        |    CASE
        |      WHEN score_en > 0 AND score_en >= score_es
        |        AND score_en >= score_de AND score_en >= score_fr
        |        AND score_en >= score_zh THEN 'en'
        |      WHEN score_es > 0 AND score_es >= score_en
        |        AND score_es >= score_de AND score_es >= score_fr
        |        AND score_es >= score_zh THEN 'es'
        |      WHEN score_de > 0 AND score_de >= score_en
        |        AND score_de >= score_es AND score_de >= score_fr
        |        AND score_de >= score_zh THEN 'de'
        |      WHEN score_fr > 0 AND score_fr >= score_en
        |        AND score_fr >= score_es AND score_fr >= score_de
        |        AND score_fr >= score_zh THEN 'fr'
        |      WHEN score_zh > 0 AND score_zh >= score_en
        |        AND score_zh >= score_es AND score_zh >= score_de
        |        AND score_zh >= score_fr THEN 'zh'
        |      ELSE 'unknown' END AS pred
        |  FROM s),
        |cm AS (SELECT actual, pred, count(*) AS c FROM p GROUP BY 1, 2),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cm),
        |ag AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_agree
        |       FROM cm WHERE actual = pred),
        |r AS (SELECT actual AS label, sum(c) AS row_c FROM cm GROUP BY 1),
        |co AS (SELECT pred AS label, sum(c) AS col_c FROM cm GROUP BY 1),
        |rc AS (SELECT CAST(coalesce(sum(row_c * col_c), 0) AS BIGINT)
        |         AS sum_rc
        |       FROM r JOIN co USING (label))
        |SELECT n, n_agree, sum_rc,
        |  CASE WHEN n * n = sum_rc THEN NULL
        |       ELSE CAST(n_agree * n - sum_rc AS DOUBLE)
        |         / CAST(n * n - sum_rc AS DOUBLE) END AS kappa
        |FROM nn CROSS JOIN ag CROSS JOIN rc""".stripMargin,

    "q148_hhi" ->
      """WITH ps AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |nat AS (
        |  SELECT s_nationkey, CAST(sum(cents) AS BIGINT) AS nation_cents,
        |    count(*) AS n_suppliers
        |  FROM ps GROUP BY 1),
        |sh AS (
        |  SELECT ps.s_nationkey, nat.n_suppliers,
        |    CAST(ps.cents AS DOUBLE) / CAST(nat.nation_cents AS DOUBLE)
        |      AS share
        |  FROM ps JOIN nat USING (s_nationkey))
        |SELECT s_nationkey, n_suppliers,
        |  round(sum(share * share), 6) AS hhi,
        |  CAST(1.0 AS DOUBLE) / round(sum(share * share), 6)
        |    AS effective_suppliers
        |FROM sh GROUP BY 1, 2""".stripMargin,

    "q149_dispersion" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, event_type
        |  FROM events),
        |spine AS (
        |  SELECT d.day, t.event_type
        |  FROM (SELECT DISTINCT day FROM e) d
        |  CROSS JOIN (SELECT DISTINCT event_type FROM e) t),
        |daily AS (
        |  SELECT s.day, s.event_type,
        |    CAST(coalesce(c.x, 0) AS BIGINT) AS x
        |  FROM spine s LEFT JOIN (
        |    SELECT day, event_type, count(*) AS x
        |    FROM e GROUP BY 1, 2) c
        |  ON s.day = c.day AND s.event_type = c.event_type),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n, sx,
        |  CASE WHEN sx = 0 THEN NULL
        |       ELSE CAST(n * sxx - sx * sx AS DOUBLE)
        |         / CAST(n * sx AS DOUBLE) END AS dispersion
        |FROM m""".stripMargin,

    "q152_ndcg" -> ndcgOracle(10),
    "q157_mrr" -> mrrOracle(10),

    // q16's exact ground truth + q17's LSH replay, full-outer joined on
    // the pair key; recall/precision are single integer divisions
    "q158_lsh_quality" ->
      s"""WITH ${shinglesSql("sh", 3, "WHERE doc_id < 50")},
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |tp AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT p.doc_a, p.doc_b FROM tp p
        |  JOIN sizes sa ON sa.doc_id = p.doc_a
        |  JOIN sizes sb ON sb.doc_id = p.doc_b
        |  WHERE CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) >= 0.5),
        |${minhashSql("mh", "sh")},
        |${bandSigSql("bands", "mh")},
        |${bandCandidatesSql("cands", "bands", "band_sig")},
        |ci AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cands c
        |  JOIN sh a ON a.doc_id = c.doc_a
        |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |found AS (
        |  SELECT i.doc_a, i.doc_b FROM ci i
        |  JOIN sizes sa ON sa.doc_id = i.doc_a
        |  JOIN sizes sb ON sb.doc_id = i.doc_b
        |  WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.5),
        |j AS (
        |  SELECT t.doc_a AS ta, f.doc_a AS fa
        |  FROM truth t FULL OUTER JOIN found f
        |    ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b)
        |SELECT count(ta) AS n_truth, count(fa) AS n_found,
        |  count(CASE WHEN ta IS NOT NULL AND fa IS NOT NULL THEN 1 END)
        |    AS n_both,
        |  count(ta) - count(CASE WHEN ta IS NOT NULL AND fa IS NOT NULL
        |                    THEN 1 END) AS n_missed,
        |  CAST(count(CASE WHEN ta IS NOT NULL AND fa IS NOT NULL THEN 1
        |             END) AS DOUBLE) / count(ta) AS recall,
        |  CAST(count(CASE WHEN ta IS NOT NULL AND fa IS NOT NULL THEN 1
        |             END) AS DOUBLE) / count(fa) AS "precision"
        |FROM j""".stripMargin,

    // q22's synthetic-box replay + a LEFT-JOIN existence rollup; bins and
    // confidence sums ride the exact integer conf_pct (p_partkey % 100)
    "q160_calibration" ->
      s"""WITH $boxPairsSql,
        |scored AS (
        |  SELECT page, pred_line, gt_line,
        |    CASE WHEN area_p + area_g - inter > 0.0
        |         THEN inter / (area_p + area_g - inter) ELSE 0.0 END AS iou
        |  FROM cand),
        |best AS (
        |  SELECT page, pred_line,
        |    row_number() OVER (PARTITION BY page, pred_line
        |                       ORDER BY iou DESC, gt_line) AS rk
        |  FROM scored WHERE iou >= 0.3),
        |m AS (SELECT page, pred_line FROM best WHERE rk = 1),
        |pr AS (
        |  SELECT p_partkey // 25 AS page, p_partkey % 25 AS pred_line,
        |    p_partkey % 100 AS conf_pct
        |  FROM part)
        |SELECT pr.conf_pct // 10 AS bin, count(*) AS n_preds,
        |  CAST(sum(pr.conf_pct) AS BIGINT) AS sum_conf_pct,
        |  count(m.page) AS n_matched,
        |  CAST(sum(pr.conf_pct) AS DOUBLE) / (count(*) * 100) AS mean_conf,
        |  CAST(count(m.page) AS DOUBLE) / count(*) AS accuracy
        |FROM pr LEFT JOIN m USING (page, pred_line)
        |GROUP BY 1""".stripMargin,

    "q161_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |counts AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |totals AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
        |    count(*) AS vocab_size
        |  FROM counts),
        |top AS (
        |  SELECT term, c,
        |    CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT) AS rk,
        |    CAST(sum(c) OVER (ORDER BY c DESC, term
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM counts QUALIFY rk <= 20),
        |ks AS (SELECT CAST(unnest([5, 10, 20]) AS BIGINT) AS k)
        |SELECT ks.k, least(ks.k, t.vocab_size) AS k_eff, t.vocab_size,
        |  t.total_tokens, tp.cum AS covered_tokens,
        |  CAST(tp.cum AS DOUBLE) / t.total_tokens AS coverage
        |FROM ks CROSS JOIN totals t
        |JOIN top tp ON least(ks.k, t.vocab_size) = tp.rk""".stripMargin,

    // fixed-grid bucket arithmetic identical on both sides (q54 class);
    // the position is the integer rank floor(p·(n−1)); exact = the
    // quantile_cont parity contract (q37)
    "q162_hist_quantile" ->
      """WITH vals AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |ext AS (
        |  SELECT event_type, min(value) AS lo, max(value) AS hi,
        |    count(*) AS n,
        |    quantile_cont(value, 0.5) AS ex50,
        |    quantile_cont(value, 0.9) AS ex90
        |  FROM vals GROUP BY 1),
        |bucketed AS (
        |  SELECT v.event_type,
        |    CASE WHEN e.hi > e.lo THEN least(CAST(floor((v.value - e.lo)
        |      / ((e.hi - e.lo) / 64)) AS BIGINT), 63) ELSE 0 END AS b
        |  FROM vals v JOIN ext e USING (event_type)),
        |hist AS (
        |  SELECT event_type, b, count(*) AS cnt,
        |    CAST(coalesce(sum(count(*)) OVER (PARTITION BY event_type
        |      ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS below
        |  FROM bucketed GROUP BY 1, 2),
        |targets AS (
        |  SELECT event_type, lo, hi, n, u.p AS p,
        |    CASE WHEN u.p = 0.5 THEN ex50 ELSE ex90 END AS exact,
        |    CAST(floor(u.p * (n - 1)) AS BIGINT) AS rk
        |  FROM ext, (SELECT unnest([CAST(0.5 AS DOUBLE),
        |                            CAST(0.9 AS DOUBLE)]) AS p) u)
        |SELECT t.event_type, t.p, t.n, h.b AS bucket, h.below,
        |  h.cnt AS bucket_cnt,
        |  t.lo + h.b * ((t.hi - t.lo) / 64) AS bucket_lo,
        |  t.lo + (h.b + 1) * ((t.hi - t.lo) / 64) AS bucket_hi,
        |  t.exact,
        |  (t.lo + h.b * ((t.hi - t.lo) / 64) <= t.exact AND
        |   t.exact <= t.lo + (h.b + 1) * ((t.hi - t.lo) / 64))
        |    AS contained
        |FROM targets t JOIN hist h USING (event_type)
        |WHERE t.rk >= h.below AND t.rk < h.below + h.cnt""".stripMargin,

    "q159_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |v1 AS (SELECT o_orderkey, o_orderstatus, cents AS cents1
        |       FROM base WHERE o_orderkey % 10 <> 0),
        |v2 AS (SELECT o_orderkey, o_orderstatus AS status2,
        |         cents + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END
        |           AS cents2
        |       FROM base WHERE o_orderkey % 10 <> 9),
        |j AS (
        |  SELECT coalesce(v1.o_orderstatus, v2.status2) AS status,
        |    CASE WHEN cents1 IS NULL THEN 'added'
        |         WHEN cents2 IS NULL THEN 'removed'
        |         WHEN cents1 <> cents2 THEN 'changed'
        |         ELSE 'unchanged' END AS cls
        |  FROM v1 FULL OUTER JOIN v2 USING (o_orderkey))
        |SELECT status,
        |  CAST(sum(CASE WHEN cls = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(sum(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(sum(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unchanged,
        |  CAST(sum(CASE WHEN cls <> 'unchanged' THEN 1 ELSE 0 END)
        |       AS DOUBLE) / count(*) AS churn
        |FROM j GROUP BY 1""".stripMargin,

    // CUPED: sufficient statistics and centered numerators all HUGEINT
    // (the q74 discipline); the adjusted mean's closed form
    // (sy_v·varN·N − covN·(sx_v·N − SX·n_v)) / (n_v·varN·N) is one
    // division of exact integers — no θ·mean chain on doubles
    "q156_cuped" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, value
        |  FROM events WHERE event_type = 'purchase'),
        |span AS (
        |  SELECT min(day) + (max(day) - min(day) + 1) // 2 AS cut FROM p),
        |uxy AS (
        |  SELECT user_id,
        |    CAST(CAST(round(sum(CASE WHEN day < cut THEN value ELSE 0 END),
        |         2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(round(sum(CASE WHEN day >= cut THEN value ELSE 0 END),
        |         2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM p CROSS JOIN span GROUP BY 1),
        |pooled AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS nn,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM uxy),
        |m AS (
        |  SELECT nn, sx, nn * sxy - sx * sy AS covn,
        |    nn * sxx - sx * sx AS varn
        |  FROM pooled),
        |v AS (
        |  SELECT user_id % 2 AS variant, count(*) AS n_v,
        |    CAST(sum(x) AS BIGINT) AS sx_v, CAST(sum(y) AS BIGINT) AS sy_v
        |  FROM uxy GROUP BY 1)
        |SELECT v.variant, v.n_v, v.sx_v, v.sy_v,
        |  CAST(v.sy_v AS DOUBLE) / CAST(v.n_v AS DOUBLE) AS mean_post,
        |  CASE WHEN m.varn > 0
        |       THEN CAST(m.covn AS DOUBLE) / CAST(m.varn AS DOUBLE) END
        |    AS theta,
        |  CASE WHEN m.varn > 0 THEN
        |    CAST(v.sy_v * m.varn * m.nn
        |         - m.covn * (v.sx_v * m.nn - m.sx * v.n_v) AS DOUBLE)
        |      / CAST(v.n_v * m.varn * m.nn AS DOUBLE) END AS mean_adj
        |FROM v CROSS JOIN m""".stripMargin,

    "q153_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:3],
        |                    ' ') AS prefix
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT prefix, count(*) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  min(doc_id) AS first_doc
        |FROM t GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    // same spread() affine hash as q44/q72; bottom-k windows run on the
    // 8k·M/n pre-filter (Chernoff-safe), estimates are single integer-
    // ratio divisions
    "q154_kmv_set_algebra" ->
      """WITH hashes AS (
        |  SELECT DISTINCT event_type,
        |    (user_id * 2654435761 + 1013904223) % 2147483648 AS h
        |  FROM events),
        |counts AS (
        |  SELECT event_type, count(*) AS n_distinct FROM hashes GROUP BY 1),
        |bk AS (
        |  SELECT event_type, h FROM (
        |    SELECT hs.event_type, hs.h,
        |      row_number() OVER (PARTITION BY hs.event_type
        |                         ORDER BY hs.h) AS rk
        |    FROM hashes hs JOIN counts c USING (event_type)
        |    WHERE hs.h * c.n_distinct <= 512 * 2147483648) r
        |  WHERE rk <= 64),
        |pairs AS (
        |  SELECT a.event_type AS ta, a.n_distinct AS n_a,
        |         b.event_type AS tb, b.n_distinct AS n_b
        |  FROM counts a JOIN counts b ON a.event_type < b.event_type),
        |contrib AS (
        |  SELECT p.ta, p.tb, p.n_a, p.n_b, k.h,
        |    max(CASE WHEN k.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN k.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p
        |  JOIN bk k ON k.event_type = p.ta OR k.event_type = p.tb
        |  GROUP BY 1, 2, 3, 4, 5),
        |merged AS (
        |  SELECT ta, tb, n_a, n_b, count(*) AS k_used, max(h) AS kth,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS shared_k
        |  FROM (SELECT *, row_number() OVER (PARTITION BY ta, tb
        |                                     ORDER BY h) AS rk
        |        FROM contrib) x
        |  WHERE rk <= 64 GROUP BY 1, 2, 3, 4),
        |tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |ei AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb,
        |    count(*) AS exact_inter
        |  FROM tu x JOIN tu y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT m.ta, m.tb, m.n_a, m.n_b,
        |  m.n_a + m.n_b - coalesce(e.exact_inter, 0) AS exact_union,
        |  coalesce(e.exact_inter, 0) AS exact_inter,
        |  m.k_used, m.kth, m.shared_k,
        |  CAST(63 * 2147483648 AS DOUBLE) / m.kth AS union_est,
        |  CAST(m.shared_k * 63 * 2147483648 AS DOUBLE)
        |    / CAST(64 * m.kth AS DOUBLE) AS inter_est
        |FROM merged m LEFT JOIN ei e ON e.ta = m.ta AND e.tb = m.tb""".stripMargin,

    // q90's knuthMod split + q78's 3-byte shingle codes, self-joined at
    // the split level only (the corpus never joins itself)
    "q155_split_leakage" ->
      """WITH sh0 AS (
        |  SELECT CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |              WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, length(text) - 2),
        |      i -> ascii(substr(text, i, 1)) * 65536
        |         + ascii(substr(text, i + 1, 1)) * 256
        |         + ascii(substr(text, i + 2, 1))))) AS shingle
        |  FROM documents WHERE length(text) >= 3),
        |sh AS (SELECT DISTINCT split, CAST(shingle AS BIGINT) AS shingle
        |       FROM sh0),
        |vocab AS (SELECT split, count(*) AS n_shingles FROM sh GROUP BY 1),
        |shared AS (
        |  SELECT a.split AS split_a, b.split AS split_b,
        |    count(*) AS n_shared
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.split < b.split
        |  GROUP BY 1, 2)
        |SELECT s.split_a, s.split_b, va.n_shingles AS v_a,
        |  vb.n_shingles AS v_b, s.n_shared,
        |  CAST(s.n_shared AS DOUBLE)
        |    / CAST(least(va.n_shingles, vb.n_shingles) AS DOUBLE)
        |    AS containment
        |FROM shared s
        |JOIN vocab va ON va.split = s.split_a
        |JOIN vocab vb ON vb.split = s.split_b""".stripMargin,

    // collapse-then-blocking replayed verbatim (round 15: exact copies
    // group to one representative BEFORE blocking — blockCap counts
    // DISTINCT texts, within-group pairs are the distance-0 clique);
    // DuckDB's levenshtein is the same unit-cost DP as Spark's (exact
    // integer), the threshold arg is a pure Spark-side pruning
    "q151_edit_neardup" ->
      """WITH reps AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |members AS (
        |  SELECT d.doc_id, r.doc_id AS rep
        |  FROM documents d JOIN reps r ON r.text = d.text),
        |keyed0 AS (
        |  SELECT doc_id, text, length(text) // 32 AS lb,
        |    substr(text, 1, 6) AS pfx
        |  FROM reps),
        |flagged AS (
        |  SELECT doc_id, text, lb, pfx,
        |    count(*) OVER (PARTITION BY lb, pfx) > 64 AS ovf,
        |    row_number() OVER (PARTITION BY lb, pfx ORDER BY doc_id) AS rnk
        |  FROM keyed0),
        |keyed AS (
        |  SELECT doc_id, text, lb, pfx, ovf FROM flagged WHERE rnk <= 64),
        |probes AS (
        |  SELECT doc_id, text, pfx, ovf, lb + u.d AS lb
        |  FROM keyed, generate_series(-1, 1) u(d)),
        |rpairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    levenshtein(a.text, b.text) AS dist,
        |    (a.ovf OR b.ovf) AS truncated
        |  FROM probes a JOIN keyed b
        |    ON a.lb = b.lb AND a.pfx = b.pfx AND a.doc_id < b.doc_id),
        |expanded AS (
        |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
        |    greatest(ma.doc_id, mb.doc_id) AS doc_b, p.dist, p.truncated
        |  FROM rpairs p
        |  JOIN members ma ON ma.rep = p.doc_a
        |  JOIN members mb ON mb.rep = p.doc_b
        |  WHERE p.dist <= 12),
        |within AS (
        |  SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b,
        |    0 AS dist, f.ovf AS truncated
        |  FROM members ma
        |  JOIN members mb ON mb.rep = ma.rep AND ma.doc_id < mb.doc_id
        |  JOIN flagged f ON f.doc_id = ma.rep)
        |SELECT doc_a, doc_b, CAST(dist AS INTEGER) AS dist, truncated
        |FROM expanded
        |UNION ALL
        |SELECT doc_a, doc_b, CAST(dist AS INTEGER) AS dist, truncated
        |FROM within""".stripMargin,

    "q150_source_scorecard" ->
      """WITH toks AS (
        |  SELECT source, lang, n_chars, text,
        |    CAST(len(regexp_extract_all(text,
        |      '[a-z]+|[A-Z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS toks
        |  FROM documents),
        |base AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS nch
        |  FROM toks GROUP BY 1),
        |dups AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |      AS n_dup_docs
        |  FROM (SELECT source, text, count(*) AS c
        |        FROM toks GROUP BY 1, 2) g
        |  GROUP BY 1),
        |langs AS (
        |  SELECT source,
        |    CAST(sum(c) AS BIGINT) AS n, CAST(sum(c * c) AS BIGINT) AS sq
        |  FROM (SELECT source, lang, count(*) AS c
        |        FROM toks GROUP BY 1, 2) g
        |  GROUP BY 1)
        |SELECT b.source, b.n_docs, b.n_tokens, d.n_dup_docs,
        |  CAST(b.nch AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS mean_chars,
        |  CAST(l.n * l.n - l.sq AS DOUBLE) / CAST(l.n * l.n AS DOUBLE)
        |    AS lang_impurity
        |FROM base b JOIN dups d USING (source)
        |JOIN langs l USING (source)""".stripMargin,

    "q128_event_diversity" ->
      """WITH tc AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    count(*) AS n_types, CAST(sum(c * c) AS BIGINT) AS sum_sq
        |  FROM tc GROUP BY 1)
        |SELECT user_id, n, n_types,
        |  CAST(n * n - sum_sq AS DOUBLE) / CAST(n * n AS DOUBLE)
        |    AS gini_impurity
        |FROM u""".stripMargin,

    "q129_ref_integrity" ->
      """WITH lo AS (
        |  SELECT 'lineitem_orders' AS relationship,
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem)
        |      AS n_child_keys,
        |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem)
        |     c WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                         WHERE o.o_orderkey = c.l_orderkey))
        |      AS n_orphans,
        |    (SELECT count(DISTINCT o_orderkey) FROM orders)
        |      AS n_parent_keys,
        |    (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders)
        |     p WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                         WHERE l.l_orderkey = p.o_orderkey))
        |      AS n_childless),
        |oc AS (
        |  SELECT 'orders_customer' AS relationship,
        |    (SELECT count(DISTINCT o_custkey) FROM orders),
        |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders)
        |     c WHERE NOT EXISTS (SELECT 1 FROM customer p
        |                         WHERE p.c_custkey = c.o_custkey)),
        |    (SELECT count(DISTINCT c_custkey) FROM customer),
        |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer)
        |     p WHERE NOT EXISTS (SELECT 1 FROM orders c
        |                         WHERE c.o_custkey = p.c_custkey))),
        |cn AS (
        |  SELECT 'customer_nation' AS relationship,
        |    (SELECT count(DISTINCT c_nationkey) FROM customer),
        |    (SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer)
        |     c WHERE NOT EXISTS (SELECT 1 FROM nation p
        |                         WHERE p.n_nationkey = c.c_nationkey)),
        |    (SELECT count(DISTINCT n_nationkey) FROM nation),
        |    (SELECT count(*) FROM (SELECT DISTINCT n_nationkey FROM nation)
        |     p WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                         WHERE c.c_nationkey = p.n_nationkey)))
        |SELECT * FROM lo UNION ALL SELECT * FROM oc
        |UNION ALL SELECT * FROM cn""".stripMargin,

    "q130_longest_streak" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |grp AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS g
        |  FROM active),
        |runs AS (
        |  SELECT user_id, g, count(*) AS len, min(day) AS streak_start
        |  FROM grp GROUP BY 1, 2),
        |x AS (SELECT user_id, CAST(len AS BIGINT) AS streak_len,
        |        streak_start,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY len DESC, streak_start) AS rk
        |      FROM runs)
        |SELECT user_id, streak_len, streak_start FROM x WHERE rk = 1""".stripMargin,

    // the recursive CTE multiplies factors in the same sorted order as the
    // Spark fold — identical IEEE chains, so no rounding is needed
    "q127_kaplan_meier" ->
      """WITH RECURSIVE users AS (
        |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS f,
        |    max(epoch_us(ts) // 86400000000) AS l
        |  FROM events GROUP BY 1),
        |maxd AS (SELECT max(l) AS maxd FROM users),
        |spans AS (
        |  SELECT l - f AS t, l >= maxd - 2 AS censored
        |  FROM users CROSS JOIN maxd),
        |byt AS (
        |  SELECT t,
        |    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM spans GROUP BY 1),
        |risk AS (
        |  SELECT t, d, c,
        |    CAST(sum(d + c) OVER () AS BIGINT)
        |      - CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS n_risk,
        |    CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
        |  FROM byt),
        |km AS (
        |  SELECT t, d, c, n_risk, i,
        |    CAST(1 AS DOUBLE) *
        |      (CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS s
        |  FROM risk WHERE i = 1
        |  UNION ALL
        |  SELECT x.t, x.d, x.c, x.n_risk, x.i,
        |    k.s * (CAST(x.n_risk - x.d AS DOUBLE)
        |           / CAST(x.n_risk AS DOUBLE))
        |  FROM risk x JOIN km k ON x.i = k.i + 1)
        |SELECT t, d, c, n_risk, s AS survival FROM km""".stripMargin,

    // the weightedPercentiles rank-interval logic replayed over running
    // weight sums; ps cast to DOUBLE (bare 0.25 is DECIMAL in DuckDB)
    "q126_weighted_median" ->
      """WITH vc AS (
        |  SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |                  AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, v, w,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM vc),
        |wp AS (
        |  SELECT c.l_returnflag, c.v, c.cumw, c.cumw - c.w AS below, c.n,
        |    p.p, p.p * CAST(c.n - 1 AS DOUBLE) AS pos
        |  FROM cum c CROSS JOIN (SELECT unnest([CAST(0.25 AS DOUBLE),
        |    CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE)]) AS p) p),
        |sel AS (
        |  SELECT l_returnflag, p,
        |    max(CASE WHEN below <= CAST(floor(pos) AS BIGINT)
        |              AND CAST(floor(pos) AS BIGINT) < cumw THEN v END)
        |      AS vlo,
        |    max(CASE WHEN below <= CAST(ceil(pos) AS BIGINT)
        |              AND CAST(ceil(pos) AS BIGINT) < cumw THEN v END)
        |      AS vhi,
        |    max(pos) AS posx,
        |    max(CAST(floor(pos) AS BIGINT)) AS klo,
        |    max(CAST(ceil(pos) AS BIGINT)) AS khi
        |  FROM wp GROUP BY 1, 2)
        |SELECT l_returnflag, p,
        |  CASE WHEN klo = khi THEN vlo
        |       ELSE (khi - posx) * vlo + (posx - klo) * vhi END AS value
        |FROM sel""".stripMargin,

    // tie order inside equal cents is irrelevant: the rank-weight SUM over
    // a tied block is permutation-invariant, so both engines agree
    "q125_gini" ->
      """WITH cust AS (
        |  SELECT c_mktsegment,
        |    greatest(CAST(0 AS BIGINT),
        |      CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS cents,
        |    CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS clamped
        |  FROM customer),
        |ranked AS (
        |  SELECT c_mktsegment, cents, clamped,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY cents, clamped) AS BIGINT) AS i,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM cust)
        |SELECT c_mktsegment, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum((2 * i - n - 1) * cents) AS BIGINT) AS gini_num,
        |  CAST(sum(clamped) AS BIGINT) AS n_clamped,
        |  CASE WHEN sum(cents) > 0 THEN
        |    CAST(sum((2 * i - n - 1) * cents) AS DOUBLE)
        |      / CAST(max(n) * sum(cents) AS DOUBLE) END AS gini
        |FROM ranked GROUP BY 1""".stripMargin,

    // list_sort on (neg score, shard) structs replays the argmax; the LCG
    // mix stays positive so % ≡ pmod on both sides
    "q124_rendezvous" ->
      """WITH assigned AS (
        |  SELECT doc_id,
        |    list_sort(list_transform(generate_series(0, 7), s ->
        |      struct_pack(
        |        neg := -(((doc_id * 31 + s) * 2654435761 + 1013904223)
        |                 % 2147483648),
        |        shard := s)))[1].shard AS shard_old,
        |    list_sort(list_transform(generate_series(0, 8), s ->
        |      struct_pack(
        |        neg := -(((doc_id * 31 + s) * 2654435761 + 1013904223)
        |                 % 2147483648),
        |        shard := s)))[1].shard AS shard_new
        |  FROM documents)
        |SELECT CAST(shard_old AS BIGINT) AS shard_old,
        |  CAST(shard_new AS BIGINT) AS shard_new, count(*) AS n,
        |  shard_old <> shard_new AS moved
        |FROM assigned GROUP BY 1, 2, 4""".stripMargin,

    "q123_systematic_sample" ->
      """WITH weighted AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text,
        |    '[a-z]+|[A-Z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, w,
        |    CAST(sum(w) OVER (ORDER BY w, doc_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(sum(w) OVER () AS BIGINT) AS total
        |  FROM weighted WHERE w > 0)
        |SELECT doc_id, w, cum, n_picks FROM (
        |  SELECT doc_id, w, cum,
        |    ((cum * 100 + total - 1) // total)
        |      - (((cum - w) * 100 + total - 1) // total) AS n_picks
        |  FROM pos) x
        |WHERE n_picks > 0""".stripMargin,

    "q121_waterfill" ->
      """WITH counts AS (
        |  SELECT source, CAST(sum(len(regexp_extract_all(text,
        |    '[a-z]+|[A-Z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
        |    AS n_tokens
        |  FROM documents GROUP BY 1),
        |ranked AS (
        |  SELECT source, n_tokens,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    count(*) OVER () AS m,
        |    CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
        |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total
        |  FROM counts
        |  WINDOW w AS (ORDER BY n_tokens, source)),
        |flagged AS (
        |  SELECT *, (total * 3) // 5 AS budget,
        |    prefix - n_tokens + n_tokens * (m - i + 1)
        |      <= (total * 3) // 5 AS unconstrained
        |  FROM ranked),
        |kf AS (
        |  SELECT *,
        |    CAST(sum(CASE WHEN unconstrained THEN 1 ELSE 0 END) OVER ()
        |      AS BIGINT) AS k,
        |    CAST(coalesce(sum(CASE WHEN unconstrained THEN n_tokens END)
        |      OVER (), 0) AS BIGINT) AS s_k
        |  FROM flagged)
        |SELECT source, n_tokens, unconstrained,
        |  CASE WHEN unconstrained THEN CAST(n_tokens AS DOUBLE)
        |       WHEN k = m THEN CAST(n_tokens AS DOUBLE)
        |       ELSE CAST(budget - s_k AS DOUBLE) / CAST(m - k AS DOUBLE)
        |  END AS allocated
        |FROM kf""".stripMargin,

    "q122_distribution_drift" ->
      """WITH cells AS (
        |  SELECT source AS v,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS o1,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
        |      AS o2
        |  FROM documents GROUP BY 1),
        |marg AS (
        |  SELECT CAST(sum(o1) AS BIGINT) AS n1,
        |    CAST(sum(o2) AS BIGINT) AS n2 FROM cells)
        |SELECT m.n1, m.n2, count(*) AS n_values,
        |  CAST(sum(abs(c.o1 * m.n2 - c.o2 * m.n1)) AS BIGINT) AS tvd_num,
        |  CASE WHEN m.n1 > 0 AND m.n2 > 0 THEN
        |    CAST(sum(abs(c.o1 * m.n2 - c.o2 * m.n1)) AS DOUBLE)
        |      / CAST(2 * m.n1 * m.n2 AS DOUBLE) END AS tvd
        |FROM cells c CROSS JOIN marg m
        |GROUP BY m.n1, m.n2""".stripMargin,

    "q120_ab_test" ->
      """WITH uc AS (
        |  SELECT user_id,
        |    CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) * 100
        |         AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |v AS (
        |  SELECT user_id % 2 AS variant, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s1,
        |    CAST(sum(cents * cents) AS BIGINT) AS s2
        |  FROM uc GROUP BY 1),
        |wide AS (
        |  SELECT
        |    max(CASE WHEN variant = 0 THEN n END) AS n0,
        |    max(CASE WHEN variant = 1 THEN n END) AS n1,
        |    max(CASE WHEN variant = 0 THEN s1 END) AS s1_0,
        |    max(CASE WHEN variant = 1 THEN s1 END) AS s1_1,
        |    max(CASE WHEN variant = 0 THEN s2 END) AS s2_0,
        |    max(CASE WHEN variant = 1 THEN s2 END) AS s2_1
        |  FROM v),
        |m AS (
        |  SELECT n0, n1,
        |    CAST(s1_0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0,
        |    CAST(s1_1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
        |    CAST(n0 * s2_0 - s1_0 * s1_0 AS DOUBLE)
        |      / CAST(n0 * (n0 - 1) AS DOUBLE) AS var0,
        |    CAST(n1 * s2_1 - s1_1 * s1_1 AS DOUBLE)
        |      / CAST(n1 * (n1 - 1) AS DOUBLE) AS var1
        |  FROM wide)
        |SELECT n0, n1, mean0, mean1, var0, var1,
        |  (mean1 - mean0) / sqrt(var1 / CAST(n1 AS DOUBLE)
        |                         + var0 / CAST(n0 AS DOUBLE)) AS t_welch
        |FROM m""".stripMargin,

    // q86's recursive-CTE recurrence pattern with a per-step decimal clamp
    "q119_capped_balance" ->
      """WITH RECURSIVE daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(coalesce(round(sum(CASE WHEN event_type = 'purchase'
        |                               THEN value END), 2), 0.0)
        |         - coalesce(round(sum(CASE WHEN event_type = 'error'
        |                                 THEN value END), 2), 0.0)
        |      AS DECIMAL(18,2)) AS net
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT user_id, day, net,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS i
        |  FROM daily),
        |bal AS (
        |  SELECT user_id, day, net, i,
        |    CAST(greatest(CAST(0 AS DECIMAL(18,2)), net) AS DECIMAL(18,2))
        |      AS bal
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.user_id, x.day, x.net, x.i,
        |    CAST(greatest(CAST(0 AS DECIMAL(18,2)),
        |                  CAST(b.bal + x.net AS DECIMAL(18,2)))
        |         AS DECIMAL(18,2))
        |  FROM idx x JOIN bal b ON b.user_id = x.user_id AND x.i = b.i + 1)
        |SELECT user_id, day, CAST(net AS DOUBLE) AS net,
        |  CAST(bal AS DOUBLE) AS bal FROM bal""".stripMargin,

    "q118_growth_accounting" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |cls AS (
        |  SELECT user_id, day,
        |    lag(day) OVER w AS prev, lead(day) OVER w AS next,
        |    CASE WHEN lag(day) OVER w IS NULL THEN 'new'
        |         WHEN lag(day) OVER w = day - 1 THEN 'retained'
        |         ELSE 'resurrected' END AS status
        |  FROM active
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |ledger AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM cls GROUP BY 1),
        |churn AS (
        |  SELECT day + 1 AS day, count(*) AS n_churned FROM cls
        |  WHERE next IS NULL OR next > day + 1 GROUP BY 1)
        |SELECT coalesce(l.day, c.day) AS day,
        |  coalesce(l.n_new, 0) AS n_new,
        |  coalesce(l.n_retained, 0) AS n_retained,
        |  coalesce(l.n_resurrected, 0) AS n_resurrected,
        |  coalesce(c.n_churned, 0) AS n_churned
        |FROM ledger l FULL OUTER JOIN churn c USING (day)""".stripMargin,

    "q115_markov" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events),
        |pairs AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    count(*) AS cnt
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS total
        |        FROM pairs GROUP BY 1)
        |SELECT p.from_type, p.to_type, p.cnt, t.total,
        |  CAST(p.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS p
        |FROM pairs p JOIN tot t USING (from_type)""".stripMargin,

    // q104's sparse CTEs + q19's dense CTEs on the shared query set, then
    // the fixed two-term RRF expression (no aggregation → no fp drift)
    "q117_hybrid_rrf" ->
      raw"""WITH $retrievalOverlapSql,
        |sscored AS (
        |  SELECT o.query_id, o.doc_id,
        |    CAST(o.overlap AS DOUBLE)
        |      / CAST(ql.q_len + dl.d_len - o.overlap AS DOUBLE) AS score
        |  FROM ov o JOIN qlen ql USING (query_id)
        |  JOIN dlen dl USING (doc_id)),
        |sparse AS (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS sparse_rank
        |  FROM sscored
        |  QUALIFY sparse_rank <= 5),
        |$qvNormsSql,
        |dscored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    CAST(CAST(list_dot_product(q.q, c.q) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
        |      AS cos
        |  FROM nrm q
        |  JOIN nrm c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id % 97 = 3 AND q.vec_id < 2037
        |    AND q.n2 > 0 AND c.n2 > 0),
        |dense AS (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, doc_id) AS BIGINT) AS dense_rank
        |  FROM dscored
        |  QUALIFY dense_rank <= 5),
        |fused AS (
        |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
        |    coalesce(s.doc_id, d.doc_id) AS doc_id,
        |    s.sparse_rank, d.dense_rank,
        |    coalesce(CAST(1 AS DOUBLE) / CAST(60 + s.sparse_rank AS DOUBLE),
        |             CAST(0 AS DOUBLE)) +
        |    coalesce(CAST(1 AS DOUBLE) / CAST(60 + d.dense_rank AS DOUBLE),
        |             CAST(0 AS DOUBLE)) AS rrf
        |  FROM sparse s
        |  FULL OUTER JOIN dense d
        |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS final_rank,
        |  doc_id, sparse_rank, dense_rank, rrf
        |FROM fused""".stripMargin,

    // same quantized-moment derivation as q105, grouped by class label
    "q116_class_scatter" ->
      """WITH flat AS (
        |  SELECT CAST(label AS BIGINT) AS label, (b).d AS dim, (b).v AS qv
        |  FROM (
        |    SELECT label,
        |      unnest(list_transform(generate_series(1, len(embedding)),
        |        i -> struct_pack(
        |          d := CAST(i - 1 AS BIGINT),
        |          v := CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0
        |                          + 0.5) AS BIGINT)))) AS b
        |    FROM embeddings) u)
        |SELECT label, dim, count(*) AS n,
        |  CAST(sum(qv) AS BIGINT) AS s1,
        |  CAST(sum(qv * qv) AS BIGINT) AS s2,
        |  CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean,
        |  CAST(count(*) * sum(qv * qv) - sum(qv) * sum(qv) AS DOUBLE)
        |    / CAST(count(*) * count(*) AS DOUBLE) AS var_pop
        |FROM flat GROUP BY 1, 2""".stripMargin,

    // q11's session CTE + generate_series over the touched hour buckets
    "q94_occupancy" ->
      s"""WITH $sessionsSql,
        |sessions AS (
        |  SELECT user_id, session_id,
        |    min(ts_us) // 3600000000 AS b0, max(ts_us) // 3600000000 AS b1
        |  FROM numbered GROUP BY user_id, session_id)
        |SELECT u.bucket, count(*) AS n_sessions,
        |  count(DISTINCT user_id) AS n_users
        |FROM sessions, unnest(generate_series(b0, b1)) AS u(bucket)
        |GROUP BY u.bucket""".stripMargin,

    "q93_scd2_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |dim AS (
        |  SELECT user_id, ts_us AS valid_from_us,
        |    CAST(row_number() OVER w AS BIGINT) AS version,
        |    coalesce(lead(ts_us) OVER w, 9223372036854775807)
        |      AS valid_to_us
        |  FROM e WHERE event_type = 'signup'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT p.user_id, p.event_id AS purchase_id,
        |  p.ts_us AS purchase_us, d.version, d.valid_from_us, d.valid_to_us
        |FROM e p JOIN dim d ON d.user_id = p.user_id
        |WHERE p.event_type = 'purchase'
        |  AND p.ts_us >= d.valid_from_us AND p.ts_us < d.valid_to_us""".stripMargin,

    // the identical shift/mask interleave, generated per bit position
    "q91_zorder_key" -> {
      val terms = (0 until 16).map(i =>
        s"(((l_partkey & 65535) >> $i) & 1) * ${1L << (2 * i)}" +
          s" + (((l_suppkey & 65535) >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString(" + ")
      "SELECT l_orderkey, l_partkey, l_suppkey,\n" +
        s"  CAST($terms AS BIGINT) AS zval\n" +
        "FROM lineitem WHERE l_orderkey % 100 = 0"
    },

    // the oracle pins this corpus's one-file-per-table layout (TESTDATA.md):
    // the Spark side groups by the actual file, the oracle names it
    "q92_file_manifest" ->
      """SELECT 'lineitem.parquet' AS file, count(*) AS n_rows,
        |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey
        |FROM lineitem""".stripMargin,

    // ANSI subqueries run verbatim on both engines
    "q87_sql_exists" ->
      """SELECT c.c_custkey, c.c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 250000.0)""".stripMargin,

    "q88_sql_scalar_subquery" ->
      """SELECT l1.l_returnflag AS flag, count(*) AS n_small,
        |  sum(l1.l_quantity) AS sum_qty
        |FROM lineitem l1
        |WHERE l1.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
        |                       FROM lineitem l2
        |                       WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l1.l_returnflag""".stripMargin,

    // identical deterministic augmentation on both sides; DuckDB
    // regexp_replace needs the explicit 'g' flag (Spark replaces all
    // matches by default). Patterns are Safety.{EmailRe,PhoneRe,IpRe}
    // verbatim — the Java ∩ RE2 common subset, so spans agree.
    "q163_pii_redact" ->
      """WITH aug AS (
        |  SELECT source,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contact User.' || doc_id
        |            || '+tag@Mail' || (doc_id % 7) || '.org' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN
        |         CASE WHEN doc_id % 8 = 0 THEN ' call +1-555-'
        |              ELSE ' call (555) ' END
        |         || lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0')
        |         || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' from 192.168.'
        |            || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
        |       ELSE '' END AS t
        |  FROM documents),
        |sig AS (
        |  SELECT source,
        |    len(regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_e,
        |    len(regexp_extract_all(t,
        |      '(?:\+1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}')) AS n_p,
        |    len(regexp_extract_all(t, '(?:[0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_i,
        |    length(regexp_replace(regexp_replace(regexp_replace(t,
        |      '(?:[0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |      '(?:\+1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}',
        |      '<PHONE>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g')) AS rl
        |  FROM aug)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN n_e + n_p + n_i > 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS docs_with_pii,
        |  CAST(sum(n_e) AS BIGINT) AS n_emails,
        |  CAST(sum(n_p) AS BIGINT) AS n_phones,
        |  CAST(sum(n_i) AS BIGINT) AS n_ips,
        |  CAST(sum(rl) AS BIGINT) AS redacted_chars
        |FROM sig GROUP BY source""".stripMargin,

    // keep/drop is integer arithmetic — no fp ratio anywhere; the probe
    // normalizes each token (ASCII translate-fold + edge-punctuation
    // strip) exactly as the BlocklistCounts kernel does
    "q164_blocklist" ->
      """WITH toks AS (
        |  SELECT lang, source,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |sig AS (
        |  SELECT lang, source, len(t) AS n_tokens,
        |    len(list_filter(t, x -> list_contains(['slow','big','the'],
        |      regexp_replace(translate(x,
        |        'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |      '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')))) AS n_blocked
        |  FROM toks)
        |SELECT lang, source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN n_blocked * 100 <= 10 * n_tokens THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_kept,
        |  CAST(sum(n_blocked) AS BIGINT) AS blocked_tokens,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM sig GROUP BY lang, source""".stripMargin,

    // explicit modular bloom hashes (Sketches.BloomHashes) replayed
    // verbatim; list_has_all ≡ Spark's forall/array_contains test. The
    // mask width replays Sketches.bloomBitsFor over the same distinct
    // build-key count: max(1 word, ceil(10·n/64) words), capped 2^22 bits.
    "q165_bloom_semijoin" ->
      """WITH buyers AS (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k FROM orders
        |  WHERE o_totalprice > 480000.0),
        |bw AS (SELECT least(greatest((count(*) * 10 + 63) // 64, 1) * 64,
        |  4194304) AS m FROM buyers),
        |hs AS (SELECT * FROM (VALUES (1299721, 15485863),
        |  (2750161, 32452843), (4256233, 49979687)) t(a, b)),
        |pos AS (SELECT DISTINCT ((k * a + b) % 2147483647) % m AS p
        |  FROM buyers, hs, bw),
        |bitset AS (SELECT list(p) AS bits FROM pos),
        |probe AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |  [((CAST(c_custkey AS BIGINT) * 1299721 + 15485863) % 2147483647) % m,
        |   ((CAST(c_custkey AS BIGINT) * 2750161 + 32452843) % 2147483647) % m,
        |   ((CAST(c_custkey AS BIGINT) * 4256233 + 49979687) % 2147483647) % m]
        |    AS ps
        |  FROM customer, bw),
        |cls AS (SELECT p.k, list_has_all(bs.bits, p.ps) AS cand,
        |    (b.k IS NOT NULL) AS member
        |  FROM probe p CROSS JOIN bitset bs LEFT JOIN buyers b USING (k))
        |SELECT count(*)::BIGINT AS n_probed,
        |  sum(CASE WHEN cand THEN 1 ELSE 0 END)::BIGINT AS n_candidates,
        |  sum(CASE WHEN member THEN 1 ELSE 0 END)::BIGINT AS n_members,
        |  sum(CASE WHEN cand AND NOT member THEN 1 ELSE 0 END)::BIGINT
        |    AS n_false_pos,
        |  (SELECT count(*) FROM pos)::BIGINT AS bits_set
        |FROM cls""".stripMargin,

    // DISTINCT applied in a subquery AFTER the unnest (DISTINCT + unnest in
    // one select would dedup pre-expansion)
    "q166_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks) q),
        |fd AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY gram) AS first_doc
        |  FROM g),
        |pd AS (SELECT doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_novel
        |  FROM fd GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(CAST(pd.n_grams AS BIGINT), 0) AS n_grams,
        |  COALESCE(CAST(pd.n_novel AS BIGINT), 0) AS n_novel
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // the bloom prune is semantics-preserving (no false negatives; FPs
    // eliminated by the join), so the oracle is the plain join
    "q167_bloom_pruned_join" ->
      """SELECT c.c_mktsegment, count(*)::BIGINT AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |    AS revenue_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_acctbal > 9000.0
        |GROUP BY c.c_mktsegment""".stripMargin,

    // q15's fingerprint replay over the GROUP key; bucket → split
    "q168_group_split" ->
      """WITH fp AS (
        |  SELECT source, n_chars,
        |    CAST(coalesce(list_sum(list_transform(
        |      generate_series(1, length(source)),
        |      i -> CAST(ascii(substr(source, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |      AS BIGINT) % 10 AS b
        |  FROM documents),
        |s AS (SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |             ELSE 'test' END AS split, source, n_chars FROM fp)
        |SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_groups,
        |  count(*)::BIGINT AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM s GROUP BY split""".stripMargin,

    // q17's minhash replay with the band join restricted to NEW (>= 25) ×
    // CORPUS (< 25) — within-frame pairs never form
    "q169_incremental_dedup" ->
      bandIndexGateOracle,

    // √n weights fixed to ⌊√n·1e6+0.5⌋ longs (IEEE sqrt correctly rounded
    // ⇒ engine-identical), then q141's integer largest-remainder replay;
    // selection is the spread() priority with doc_id tie-break
    "q170_temperature_mixture" ->
      s"""WITH n AS (SELECT source, count(*) AS n_docs FROM documents
        |  GROUP BY source),
        |${quotaSql("n", 1, 2)},
        |pri AS (SELECT d.source, d.n_chars,
        |    row_number() OVER (PARTITION BY d.source ORDER BY
        |      (d.doc_id * 2654435761 + 1013904223) % 2147483648, d.doc_id)
        |      AS rk
        |  FROM documents d),
        |sel AS (SELECT p.source, count(*) AS sel_docs,
        |    sum(p.n_chars) AS sel_chars
        |  FROM pri p JOIN quota q USING (source)
        |  WHERE p.rk <= q.quota GROUP BY p.source)
        |SELECT q.source, CAST(q.n_docs AS BIGINT) AS n_docs,
        |  CAST(q.quota AS BIGINT) AS quota,
        |  COALESCE(CAST(s.sel_docs AS BIGINT), 0) AS sel_docs,
        |  COALESCE(CAST(s.sel_chars AS BIGINT), 0) AS sel_chars
        |FROM quota q LEFT JOIN sel s USING (source)""".stripMargin,

    // global (key, doc_id) rank cut into ⌈N/16⌉-doc shards; the oracle's
    // single window IS the spec the distributed grid-rank must match
    "q171_shuffle_shards" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |    (doc_id * 2654435761 + 1013904223) % 2147483648 AS key
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (ORDER BY key, doc_id) AS rank,
        |    count(*) OVER () AS n FROM k)
        |SELECT CAST((rank - 1) // ((n + 15) // 16) AS BIGINT) AS shard,
        |  count(*)::BIGINT AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(min(key) AS BIGINT) AS min_key,
        |  CAST(max(key) AS BIGINT) AS max_key
        |FROM r GROUP BY 1""".stripMargin,

    // distinct (source, 3-gram) sets, gram-keyed pair join (src_a < src_b),
    // containment = shared / min(|A|,|B|) — one terminal IEEE division
    "q172_source_overlap" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS s
        |  FROM documents),
        |g AS (SELECT DISTINCT source,
        |    unnest(list_transform(generate_series(1, len(s) - 2),
        |      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS gram
        |  FROM toks),
        |sz AS (SELECT source, count(*) AS n_grams FROM g GROUP BY source),
        |sh AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS shared_grams
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sh.src_a, sh.src_b,
        |  CAST(sh.shared_grams AS BIGINT) AS shared_grams,
        |  CAST(sh.shared_grams AS DOUBLE) /
        |    CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE) AS containment
        |FROM sh
        |JOIN sz sa ON sa.source = sh.src_a
        |JOIN sz sb ON sb.source = sh.src_b""".stripMargin,

    // per-coordinate quantize ⌊x·1e6+0.5⌋ (exact on the double image of
    // each float), integer norm² — the q19/q111 fixed-point discipline
    "q173_embedding_audit" ->
      """WITH v AS (SELECT label, len(embedding) AS d,
        |    len(list_filter(embedding,
        |      x -> isnan(x) OR isinf(x))) > 0 AS non_finite,
        |    len(list_filter(embedding,
        |      x -> CAST(x AS DOUBLE) <> 0.0)) = 0 AS all_zero,
        |    CASE WHEN len(list_filter(embedding,
        |        x -> isnan(x) OR isinf(x))) > 0 THEN NULL
        |      ELSE COALESCE(list_sum(list_transform(embedding, x ->
        |        CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) *
        |        CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))), 0)
        |      END AS n2
        |  FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label, count(*)::BIGINT AS n_vecs,
        |  sum(CASE WHEN d <> 64 THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
        |  sum(CASE WHEN non_finite THEN 1 ELSE 0 END)::BIGINT
        |    AS n_nonfinite,
        |  sum(CASE WHEN all_zero THEN 1 ELSE 0 END)::BIGINT AS n_zero,
        |  CAST(min(n2) AS BIGINT) AS min_norm2_q,
        |  CAST(max(n2) AS BIGINT) AS max_norm2_q,
        |  CAST(sum(n2) AS BIGINT) AS sum_norm2_q
        |FROM v GROUP BY label""".stripMargin,

    // same augmentation, then the canonicalizer replayed step-by-step in
    // split_part/strpos/list arithmetic (NO regex — byte parity with the
    // Spark substring_index/instr/filter chain)
    "q174_url_canonical" ->
      s"""WITH $urlShapesSql,
        |p1 AS (SELECT url,
        |    lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
        |    split_part(split_part(url, '#', 1), '://', 2) AS rest
        |  FROM u),
        |p2 AS (SELECT *,
        |    split_part(split_part(rest, '/', 1), '?', 1) AS hostport
        |  FROM p1),
        |p3 AS (SELECT *, lower(hostport) AS hostl,
        |    substr(rest, length(hostport) + 1) AS pathq
        |  FROM p2),
        |p4 AS (SELECT *,
        |    CASE WHEN scheme = 'http' AND hostl LIKE '%:80'
        |        THEN substr(hostl, 1, length(hostl) - 3)
        |      WHEN scheme = 'https' AND hostl LIKE '%:443'
        |        THEN substr(hostl, 1, length(hostl) - 4)
        |      ELSE hostl END AS host,
        |    split_part(pathq, '?', 1) AS path,
        |    CASE WHEN strpos(pathq, '?') > 0
        |      THEN substr(pathq, strpos(pathq, '?') + 1) ELSE '' END AS q
        |  FROM p3),
        |p45 AS (SELECT *,
        |    -- COALESCE: array_to_string([]) is NULL in DuckDB where
        |    -- Spark's concat_ws yields '' — same empty-query result
        |    COALESCE(array_to_string(list_filter(string_split(q, '&'),
        |      t -> NOT starts_with(t, 'utm_')), '&'), '') AS kept
        |  FROM p4),
        |p5 AS (SELECT url, host,
        |    scheme || '://' || host || path ||
        |      CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical
        |  FROM p45)
        |SELECT host, count(*)::BIGINT AS n_urls,
        |  count(DISTINCT canonical)::BIGINT AS n_canonical,
        |  sum(CASE WHEN url <> canonical THEN 1 ELSE 0 END)::BIGINT
        |    AS n_changed
        |FROM p5 GROUP BY host""".stripMargin,

    // SemDeDup replay: same quantization, exact-integer L2² centroid
    // argmin (ties to lowest centroid id), and the duplicate decision as
    // the exact inequality den²·dot² ≥ num²·n2a·n2b in HUGEINT — no fp in
    // any decision on either engine
    "q175_semantic_dedup" ->
      s"""WITH $qvNormsSql,
        |ok AS (SELECT * FROM nrm WHERE n2 > 0),
        |cent AS (SELECT vec_id AS centroid_id, q AS cq
        |         FROM ok WHERE vec_id < 8),
        |asg0 AS (SELECT o.vec_id, o.q, o.n2, c.centroid_id,
        |    (SELECT sum((o.q[t.i] - c.cq[t.i]) * (o.q[t.i] - c.cq[t.i]))
        |     FROM generate_series(1, 64) t(i)) AS dist
        |  FROM ok o, cent c),
        |asg AS (SELECT vec_id, q, n2, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist, centroid_id) AS rk
        |    FROM asg0) t WHERE rk = 1),
        |pd AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.n2 AS na,
        |    b.n2 AS nb,
        |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
        |  FROM asg a JOIN asg b
        |    ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id),
        |dup AS (SELECT va AS vec_id, min(vb) AS dup_of FROM pd
        |  WHERE dot >= 0
        |    AND CAST(100 AS HUGEINT) * dot * dot
        |        >= CAST(9 AS HUGEINT) * na * nb
        |  GROUP BY va)
        |SELECT a.vec_id, a.centroid_id, d.dup_of IS NOT NULL AS is_dup,
        |  d.dup_of
        |FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id""".stripMargin,

    // same synthetic 3-annotator panel, then majority fusion (lowest-label
    // tie-break) and per-annotator kappa vs consensus as exact integer
    // num/den + one raw IEEE division
    "q176_label_fusion" ->
      """WITH votes AS (
        |  SELECT doc_id AS item_id, 'a0' AS annotator,
        |    doc_id % 4 AS label FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'a1',
        |    CASE WHEN doc_id % 5 = 0 THEN (doc_id + 1) % 4
        |      ELSE doc_id % 4 END FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'a2',
        |    CASE WHEN doc_id % 3 = 0 THEN (doc_id + 2) % 4
        |      ELSE doc_id % 4 END FROM documents),
        |cnt AS (SELECT item_id, label, count(*) AS n_votes
        |        FROM votes GROUP BY 1, 2),
        |fused AS (SELECT item_id, label AS fused FROM (
        |    SELECT *, row_number() OVER (PARTITION BY item_id
        |      ORDER BY n_votes DESC, label) AS rk FROM cnt) t
        |  WHERE rk = 1),
        |j AS (SELECT v.annotator, v.label, f.fused
        |      FROM votes v JOIN fused f ON v.item_id = f.item_id),
        |per_ann AS (SELECT annotator, count(*)::BIGINT AS n_items,
        |    sum(CASE WHEN label = fused THEN 1 ELSE 0 END)::BIGINT
        |      AS n_agree
        |  FROM j GROUP BY 1),
        |ann_marg AS (SELECT annotator, label, count(*) AS n_a
        |             FROM votes GROUP BY 1, 2),
        |fused_marg AS (SELECT fused AS label, count(*) AS n_f
        |               FROM fused GROUP BY 1),
        |pe AS (SELECT annotator, sum(n_a * n_f)::BIGINT AS pe_num
        |  FROM ann_marg JOIN fused_marg USING (label) GROUP BY 1)
        |SELECT p.annotator, p.n_items, p.n_agree,
        |  (p.n_items * p.n_agree - pe.pe_num)::BIGINT AS kappa_num,
        |  (p.n_items * p.n_items - pe.pe_num)::BIGINT AS kappa_den,
        |  CASE WHEN p.n_items * p.n_items - pe.pe_num <> 0
        |    THEN CAST(p.n_items * p.n_agree - pe.pe_num AS DOUBLE)
        |       / CAST(p.n_items * p.n_items - pe.pe_num AS DOUBLE)
        |    END AS kappa
        |FROM per_ann p JOIN pe USING (annotator)""".stripMargin,

    // k-anonymity replay: ≥k groups intact, <k generalized to (nation, *),
    // still-<k suppressed into one null-keyed census row; all decisions
    // integer compares
    "q177_k_anonymity" ->
      """WITH rows0 AS (SELECT CAST(c_nationkey AS BIGINT) AS quasi1,
        |    CAST(c_mktsegment AS VARCHAR) AS quasi2, c_acctbal AS sens
        |  FROM customer),
        |g0 AS (SELECT quasi1, quasi2, count(*) AS n
        |       FROM rows0 GROUP BY 1, 2),
        |tagged AS (SELECT r.quasi1, r.quasi2, r.sens, g.n
        |           FROM rows0 r JOIN g0 g USING (quasi1, quasi2)),
        |lvl0 AS (SELECT quasi1, quasi2, count(*)::BIGINT AS n_records,
        |    count(DISTINCT sens)::BIGINT AS n_distinct_sensitive,
        |    0::BIGINT AS "level"
        |  FROM tagged WHERE n >= 10 GROUP BY 1, 2),
        |small AS (SELECT quasi1, quasi2, sens FROM tagged WHERE n < 10),
        |g1 AS (SELECT quasi1, count(*) AS n1 FROM small GROUP BY 1),
        |tagged1 AS (SELECT s.quasi1, s.sens, g.n1
        |            FROM small s JOIN g1 g USING (quasi1)),
        |lvl1 AS (SELECT quasi1, '*' AS quasi2, count(*)::BIGINT
        |      AS n_records,
        |    count(DISTINCT sens)::BIGINT AS n_distinct_sensitive,
        |    1::BIGINT AS "level"
        |  FROM tagged1 WHERE n1 >= 10 GROUP BY 1),
        |supp AS (SELECT CAST(NULL AS BIGINT) AS quasi1, '*' AS quasi2,
        |    count(*)::BIGINT AS n_records,
        |    count(DISTINCT sens)::BIGINT AS n_distinct_sensitive,
        |    2::BIGINT AS "level"
        |  FROM tagged1 WHERE n1 < 10 HAVING count(*) > 0)
        |SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1
        |UNION ALL SELECT * FROM supp""".stripMargin,

    // same augmentation, then Luhn over every 16-digit run: odd
    // left-positions doubled with digit-sum reduction, valid ⟺ sum ≡ 0
    // (mod 10) — exact integers end to end on both engines
    "q178_luhn_pan" ->
      """WITH aug AS (SELECT doc_id, source, text ||
        |    CASE WHEN doc_id % 3 < 2 THEN ' card '
        |      || lpad(CAST((doc_id * 7 + 1) % 100 AS VARCHAR), 2, '0')
        |      || lpad(CAST((doc_id * 13 + 2) % 100 AS VARCHAR), 2, '0')
        |      || lpad(CAST((doc_id * 17 + 3) % 100 AS VARCHAR), 2, '0')
        |      || lpad(CAST((doc_id * 19 + 4) % 100 AS VARCHAR), 2, '0')
        |      || lpad(CAST((doc_id * 23 + 5) % 100 AS VARCHAR), 2, '0')
        |      || lpad(CAST((doc_id * 29 + 6) % 100 AS VARCHAR), 2, '0')
        |      || lpad(CAST((doc_id * 31 + 7) % 100 AS VARCHAR), 2, '0')
        |      || lpad(CAST((doc_id * 37 + 8) % 100 AS VARCHAR), 2, '0')
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ref '
        |      || lpad(CAST((doc_id * 41) % 1000 AS VARCHAR), 15, '0')
        |      ELSE '' END AS t
        |  FROM documents),
        |cand AS (SELECT doc_id,
        |    unnest(regexp_extract_all(t, '[0-9]{16}')) AS c FROM aug),
        |ls AS (SELECT doc_id,
        |    (SELECT sum(CASE WHEN sq.i % 2 = 1
        |        THEN CASE WHEN 2 * (ascii(substr(c, sq.i, 1)) - 48) > 9
        |          THEN 2 * (ascii(substr(c, sq.i, 1)) - 48) - 9
        |          ELSE 2 * (ascii(substr(c, sq.i, 1)) - 48) END
        |        ELSE ascii(substr(c, sq.i, 1)) - 48 END)
        |     FROM generate_series(1, 16) sq(i)) AS s
        |  FROM cand),
        |pd AS (SELECT doc_id, count(*) AS n_pans,
        |    sum(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) AS n_valid
        |  FROM ls GROUP BY 1)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN COALESCE(n_valid, 0) > 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS docs_with_valid_pan,
        |  sum(COALESCE(n_pans, 0))::BIGINT AS n_pans,
        |  sum(COALESCE(n_valid, 0))::BIGINT AS n_valid_pans
        |FROM aug LEFT JOIN pd USING (doc_id) GROUP BY source""".stripMargin,

    // per-host top-5 by (n_chars DESC, doc_id) — kept/total rollup
    "q179_domain_cap" ->
      """WITH h AS (SELECT doc_id,
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
        |    n_chars FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY host
        |    ORDER BY n_chars DESC, doc_id) AS rk FROM h)
        |SELECT host, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN rk <= 5 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN rk <= 5 THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS kept_chars
        |FROM r GROUP BY host""".stripMargin,

    // conversation = user, order = (ts, event_id); same role mapping,
    // lag/cumsum/row_number over one window; prefix-truncation at 500
    "q180_dialogue_audit" ->
      s"""WITH $turnsSql,
        |w AS (SELECT *,
        |    lag(role) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS prev_role,
        |    sum(toks) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS cum_toks,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS rn
        |  FROM m)
        |SELECT user_id, count(*)::BIGINT AS n_msgs,
        |  sum(CASE WHEN prev_role = role THEN 1 ELSE 0 END)::BIGINT
        |    AS n_role_violations,
        |  min(CASE WHEN rn = 1 THEN role END) = 'user' AS starts_with_user,
        |  sum(CASE WHEN cum_toks <= 500 THEN 1 ELSE 0 END)::BIGINT
        |    AS kept_msgs,
        |  COALESCE(max(CASE WHEN cum_toks <= 500 THEN cum_toks END),
        |    0)::BIGINT AS kept_toks
        |FROM w GROUP BY user_id""".stripMargin,

    // q166's token/gram replay at the occurrence grain: per (doc, gram)
    // counts, cross-doc doc count as a window over the collapsed frame
    "q181_dup_mass" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |o AS (SELECT doc_id, gram, count(*) AS occ FROM (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks) q GROUP BY 1, 2),
        |d2 AS (SELECT doc_id, occ,
        |    count(*) OVER (PARTITION BY gram) AS ndocs FROM o),
        |pd AS (SELECT doc_id, sum(occ) AS n_occ,
        |    sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END) AS n_dup_occ
        |  FROM d2 GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(CAST(pd.n_occ AS BIGINT), 0) AS n_occ,
        |  COALESCE(CAST(pd.n_dup_occ AS BIGINT), 0) AS n_dup_occ
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // same planted-tail augmentation, halves at ⌊n/2⌋ tokens, q14's
    // marker-count argmax with the same tie order per half
    "q182_code_switch" ->
      """WITH aug AS (SELECT doc_id, lang, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN repeat(' le la et les des', 8)
        |      ELSE '' END AS t0
        |  FROM documents),
        |toks AS (SELECT doc_id, lang,
        |    CASE WHEN length(trim(t0)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(t0), '\s+') END AS t
        |  FROM aug),
        |hs AS (SELECT doc_id, lang,
        |    t[1:len(t)//2] AS fh, t[len(t)//2+1:len(t)] AS sh FROM toks),
        |sc AS (SELECT doc_id, lang,
        |    len(list_filter(fh, x -> x IN ('the','and','of','is','with')))
        |      AS f_en,
        |    len(list_filter(fh, x -> x IN ('el','la','de','que','los')))
        |      AS f_es,
        |    len(list_filter(fh, x -> x IN ('der','die','und','das','ist')))
        |      AS f_de,
        |    len(list_filter(fh, x -> x IN ('le','la','et','les','des')))
        |      AS f_fr,
        |    len(list_filter(fh, x -> x IN ('shi','bu','wo','de','ni')))
        |      AS f_zh,
        |    len(list_filter(sh, x -> x IN ('the','and','of','is','with')))
        |      AS s_en,
        |    len(list_filter(sh, x -> x IN ('el','la','de','que','los')))
        |      AS s_es,
        |    len(list_filter(sh, x -> x IN ('der','die','und','das','ist')))
        |      AS s_de,
        |    len(list_filter(sh, x -> x IN ('le','la','et','les','des')))
        |      AS s_fr,
        |    len(list_filter(sh, x -> x IN ('shi','bu','wo','de','ni')))
        |      AS s_zh
        |  FROM hs),
        |pred AS (SELECT doc_id, lang,
        |  CASE
        |    WHEN f_en > 0 AND f_en >= f_es AND f_en >= f_de
        |         AND f_en >= f_fr AND f_en >= f_zh THEN 'en'
        |    WHEN f_es > 0 AND f_es >= f_en AND f_es >= f_de
        |         AND f_es >= f_fr AND f_es >= f_zh THEN 'es'
        |    WHEN f_de > 0 AND f_de >= f_en AND f_de >= f_es
        |         AND f_de >= f_fr AND f_de >= f_zh THEN 'de'
        |    WHEN f_fr > 0 AND f_fr >= f_en AND f_fr >= f_es
        |         AND f_fr >= f_de AND f_fr >= f_zh THEN 'fr'
        |    WHEN f_zh > 0 AND f_zh >= f_en AND f_zh >= f_es
        |         AND f_zh >= f_de AND f_zh >= f_fr THEN 'zh'
        |    ELSE 'unknown' END AS lang_first,
        |  CASE
        |    WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de
        |         AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de
        |         AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es
        |         AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es
        |         AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        |    WHEN s_zh > 0 AND s_zh >= s_en AND s_zh >= s_es
        |         AND s_zh >= s_de AND s_zh >= s_fr THEN 'zh'
        |    ELSE 'unknown' END AS lang_second
        |  FROM sc)
        |SELECT doc_id, lang, lang_first, lang_second,
        |  lang_first <> 'unknown' AND lang_second <> 'unknown'
        |    AND lang_first <> lang_second AS is_mixed
        |FROM pred""".stripMargin,

    // per-source midpoint rank → pooled nearest-rank value; HUGEINT ≡
    // DECIMAL(38,0) product, `//` ≡ `div` on non-negative operands
    "q183_quantile_norm" ->
      """WITH r0 AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS s
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM r0),
        |grp AS (SELECT source, count(*) AS ns FROM r0 GROUP BY 1),
        |rk AS (SELECT doc_id, source, s,
        |    row_number() OVER (PARTITION BY source ORDER BY s, doc_id) AS r
        |  FROM r0),
        |pool AS (SELECT s AS sp,
        |    row_number() OVER (ORDER BY s, doc_id) AS pr FROM r0),
        |tgt AS (SELECT rk.doc_id, rk.source, rk.s,
        |    CAST(((2*rk.r - 1)::HUGEINT * tot.n + 2*g.ns - 1)
        |      // (2*g.ns) AS BIGINT) AS idx
        |  FROM rk JOIN grp g USING (source) CROSS JOIN tot)
        |SELECT t.doc_id, t.source, t.s AS score, p.sp AS norm_score
        |FROM tgt t JOIN pool p ON t.idx = p.pr""".stripMargin,

    // q180's role/toks mapping; pairs via lead over the same window;
    // latency in exact µs (the ns contract divides out bit-for-bit)
    "q184_turn_pairs" ->
      s"""WITH $turnsSql,
        |w AS (SELECT *,
        |    lead(role) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS next_role,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS next_ts,
        |    lead(toks) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS next_toks
        |  FROM m)
        |SELECT user_id, count(*)::BIGINT AS n_pairs,
        |  CAST(sum(next_ts - ts_us) AS BIGINT) AS total_latency_us,
        |  CAST(sum(next_toks) AS BIGINT) AS response_toks
        |FROM w WHERE role = 'user' AND next_role = 'assistant'
        |GROUP BY user_id""".stripMargin,

    // q15's fingerprint replay over the 80-char prefix, q164's normalized
    // blocklist replay, window dup count on fp, majority lang by
    // (count DESC, lang) — exact integer share
    "q185_source_datacard" ->
      """WITH fpt AS (SELECT doc_id, source, lang, n_chars,
        |    CAST(coalesce(list_sum(list_transform(
        |      generate_series(1, length(substr(text, 1, 80))),
        |      i -> CAST(ascii(substr(substr(text, 1, 80), i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |      AS BIGINT) AS fp,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |sig AS (SELECT doc_id, source, lang, n_chars, fp,
        |    len(t) AS n_tokens,
        |    len(list_filter(t, x -> list_contains(['slow','big','the'],
        |      regexp_replace(translate(x,
        |        'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |      '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')))) AS n_blocked
        |  FROM fpt),
        |dup AS (SELECT *, count(*) OVER (PARTITION BY fp) AS fp_n
        |        FROM sig),
        |per_src AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    sum(CASE WHEN fp_n >= 2 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_dup_docs,
        |    sum(CASE WHEN n_blocked * 100 <= 10 * n_tokens THEN 0 ELSE 1
        |      END)::BIGINT AS n_blocked_docs
        |  FROM dup GROUP BY 1),
        |lc AS (SELECT source, lang, count(*) AS c
        |       FROM documents GROUP BY 1, 2),
        |mj AS (SELECT source, lang AS majority_lang, c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY c DESC, lang) AS rk FROM lc) z WHERE rk = 1)
        |SELECT p.source, p.n_docs, p.total_chars, p.total_tokens,
        |  p.n_dup_docs, p.n_blocked_docs, m.majority_lang,
        |  CAST(m.c * 100 // p.n_docs AS BIGINT) AS majority_pct
        |FROM per_src p JOIN mj m USING (source)""".stripMargin,

    "q186_bpe_fertility" -> bpeApplyOracle(3),

    // hour bucket = epoch_us // 3.6e9 ≡ the ns contract's ts div 3.6e12
    "q187_fetch_rate" ->
      """WITH b AS (SELECT
        |    'site' || CAST(user_id % 7 AS VARCHAR) || '.com' AS host,
        |    epoch_us(ts) // 3600000000 AS bucket
        |  FROM events),
        |c AS (SELECT host, bucket, count(*) AS n FROM b GROUP BY 1, 2)
        |SELECT host, CAST(sum(n) AS BIGINT) AS n_fetches,
        |  count(*)::BIGINT AS n_active_buckets,
        |  CAST(max(n) AS BIGINT) AS peak_per_bucket,
        |  sum(CASE WHEN n > 5 THEN 1 ELSE 0 END)::BIGINT
        |    AS over_limit_buckets
        |FROM c GROUP BY host""".stripMargin,

    // pairwise TVD: common-bucket lattice term + closed-form missing-
    // bucket mass; numerator exact integer, one terminal IEEE division
    "q188_source_drift" ->
      """WITH t AS (SELECT source, n_chars // 64 AS b FROM documents),
        |c AS (SELECT source, b, count(*) AS c FROM t GROUP BY 1, 2),
        |n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |pairs AS (SELECT a.source AS src_a, b2.source AS src_b,
        |    a.n AS na, b2.n AS nb
        |  FROM n a JOIN n b2 ON a.source < b2.source),
        |common AS (SELECT ca.source AS src_a, cb.source AS src_b,
        |    sum(abs(ca.c * nb.n - cb.c * na.n)) AS term,
        |    sum(ca.c) AS ca_common, sum(cb.c) AS cb_common
        |  FROM c ca JOIN c cb ON ca.b = cb.b AND ca.source < cb.source
        |  JOIN n na ON na.source = ca.source
        |  JOIN n nb ON nb.source = cb.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b,
        |  CAST(COALESCE(term, 0) + p.nb * (p.na - COALESCE(ca_common, 0))
        |     + p.na * (p.nb - COALESCE(cb_common, 0)) AS BIGINT)
        |    AS tvd_num,
        |  CAST(p.na * p.nb * 2 AS BIGINT) AS tvd_den,
        |  CAST(COALESCE(term, 0) + p.nb * (p.na - COALESCE(ca_common, 0))
        |     + p.na * (p.nb - COALESCE(cb_common, 0)) AS DOUBLE)
        |    / CAST(p.na * p.nb * 2 AS DOUBLE) AS tvd
        |FROM pairs p LEFT JOIN common USING (src_a, src_b)""".stripMargin,

    // q19's brute chain + q31's IVF chain (CTEs renamed), compared by a
    // full-outer join on (query, neighbor) → one-row recall/precision
    "q189_ivf_quality" ->
      s"""WITH $qvNormsSql,
        |bscored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(CAST(list_dot_product(q.q, c.q) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
        |      AS cos
        |  FROM nrm q
        |  JOIN nrm c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id % 10 = 0 AND q.n2 > 0 AND c.n2 > 0),
        |branked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM bscored),
        |truth AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 5),
        |${ivfCentroidsSql("")},
        |${ivfAssignSql("cranked")},
        |iscored AS (
        |  SELECT p.query_id, ne.neighbor_id,
        |    CAST(CAST(list_dot_product(p.pqv, ne.nev) AS BIGINT) AS DOUBLE)
        |      / (p.qn * ne.nn) AS cos
        |  FROM probes p JOIN idx ne ON ne.centroid_id = p.centroid_id
        |  WHERE p.query_id <> ne.neighbor_id),
        |iranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM iscored),
        |ivf AS (SELECT query_id, neighbor_id FROM iranked WHERE rnk <= 5),
        |j AS (SELECT COALESCE(tt.query_id, ii.query_id) AS qid,
        |    tt.query_id IS NOT NULL AS t, ii.query_id IS NOT NULL AS f
        |  FROM truth tt FULL OUTER JOIN ivf ii
        |    ON tt.query_id = ii.query_id
        |    AND tt.neighbor_id = ii.neighbor_id),
        |agg AS (SELECT count(DISTINCT qid)::BIGINT AS n_queries,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n_truth,
        |    sum(CASE WHEN f THEN 1 ELSE 0 END)::BIGINT AS n_found,
        |    sum(CASE WHEN t AND f THEN 1 ELSE 0 END)::BIGINT AS n_both
        |  FROM j)
        |SELECT n_queries, n_truth, n_found, n_both,
        |  CAST(n_both AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall,
        |  CAST(n_both AS DOUBLE) / CAST(n_found AS DOUBLE) AS "precision"
        |FROM agg""".stripMargin,

    // ordered string_agg of the first 3 events per conversation
    "q190_entry_paths" ->
      """WITH m AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn)
        |        AS path
        |      FROM m WHERE rn <= 3 GROUP BY 1)
        |SELECT path, count(*)::BIGINT AS n_users FROM p GROUP BY path"""
        .stripMargin,

    // q175's exact-L2² assignment replay + label counts: majority by
    // (count DESC, label), Gini impurity (n² − Σc²)/n²
    "q191_cluster_purity" ->
      """WITH qv AS (SELECT vec_id, label,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
        |      AS q
        |  FROM embeddings),
        |nrm AS (SELECT vec_id, label, q,
        |    CAST(list_dot_product(q, q) AS BIGINT) AS n2
        |  FROM qv),
        |ok AS (SELECT * FROM nrm WHERE n2 > 0),
        |cent AS (SELECT vec_id AS centroid_id, q AS cq
        |         FROM ok WHERE vec_id < 8),
        |asg0 AS (SELECT o.vec_id, CAST(o.label AS BIGINT) AS label,
        |    c.centroid_id,
        |    (SELECT sum((o.q[t.i] - c.cq[t.i]) * (o.q[t.i] - c.cq[t.i]))
        |     FROM generate_series(1, 64) t(i)) AS dist
        |  FROM ok o, cent c),
        |asg AS (SELECT vec_id, label, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist, centroid_id) AS rk
        |    FROM asg0) t WHERE rk = 1),
        |cl AS (SELECT centroid_id, label, count(*) AS c
        |       FROM asg GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY centroid_id
        |    ORDER BY c DESC, label) AS rk FROM cl),
        |agg AS (SELECT centroid_id,
        |    CAST(sum(c) AS BIGINT) AS n_vecs,
        |    min(CASE WHEN rk = 1 THEN label END) AS majority_label,
        |    CAST(min(CASE WHEN rk = 1 THEN c END) AS BIGINT)
        |      AS majority_n,
        |    CAST(sum(c * c) AS BIGINT) AS sum_sq
        |  FROM rk GROUP BY 1)
        |SELECT centroid_id, n_vecs, majority_label, majority_n,
        |  CAST(majority_n * 100 // n_vecs AS BIGINT) AS majority_pct,
        |  CAST(n_vecs * n_vecs - sum_sq AS DOUBLE)
        |    / CAST(n_vecs * n_vecs AS DOUBLE) AS impurity
        |FROM agg""".stripMargin,

    // frozen vocab = top-20 by (count DESC, w); one broadcast-shaped
    // left join replay; oov_rate one terminal division
    "q192_oov_rate" ->
      """WITH occ AS (
        |  SELECT source, unnest(CASE WHEN length(trim(text)) = 0
        |      THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS w
        |  FROM documents),
        |vocab AS (SELECT w FROM (
        |    SELECT w, count(*) AS c FROM occ GROUP BY 1
        |    ORDER BY c DESC, w LIMIT 20) z)
        |SELECT o.source, count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM occ o LEFT JOIN vocab v ON o.w = v.w
        |GROUP BY o.source""".stripMargin,

    // q72's spread replay mod 2 over distinct users; chi² closed form
    "q193_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT ((user_id * 2654435761 + 1013904223) % 2147483648
        |        // 32768) % 2 AS arm FROM u),
        |g AS (SELECT count(*) AS n_users,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b
        |  FROM a)
        |SELECT CAST(n_users AS BIGINT) AS n_users,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST((n_a - n_b) * (n_a - n_b) AS BIGINT) AS chi2_num,
        |  CAST(n_users AS BIGINT) AS chi2_den,
        |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
        |    / CAST(n_users AS DOUBLE) AS chi2
        |FROM g""".stripMargin,

    // same frozen micro-unit weights over the same integer features;
    // mean logit one terminal division
    "q194_quality_gate" ->
      """WITH t AS (SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |f AS (SELECT source, len(tk) AS nt,
        |    len(list_filter(tk, x ->
        |      x IN ('the','of','and','a','to','in','is'))) AS sh,
        |    len(list_distinct(tk)) AS nd
        |  FROM t),
        |l AS (SELECT source,
        |    -60000000 + 500000 * nt + 2000000 * sh + 1000000 * nd
        |      AS logit_micro
        |  FROM f)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN logit_micro > 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_kept,
        |  CAST(sum(logit_micro) AS BIGINT) AS sum_logit_micro,
        |  CAST(sum(logit_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_logit_micro
        |FROM l GROUP BY source""".stripMargin,

    // same augmentation; identical regex chain (lazy quantifiers, entity
    // decode with &amp; last), DuckDB regexp_replace needs the 'g' flag
    "q195_html_extract" ->
      """WITH aug AS (SELECT doc_id, source,
        |    '<html><body><h1>T' || CAST(doc_id AS VARCHAR)
        |    || '</h1><script>var x = "a";</script><p>' || text || '</p>'
        |    || CASE WHEN doc_id % 3 = 0 THEN '<p>A &amp; B &lt;ok&gt;</p>'
        |         WHEN doc_id % 3 = 1
        |           THEN '<!-- hidden --><p>Tail &quot;q&quot; &#39;s</p>'
        |         ELSE '' END
        |    || '</body></html>' AS h
        |  FROM documents),
        |ex AS (SELECT doc_id, source, h,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(
        |                  regexp_replace(
        |                    regexp_replace(h,
        |                      '<script[^>]*>.*?</script>', ' ', 'g'),
        |                    '<style[^>]*>.*?</style>', ' ', 'g'),
        |                  '<!--.*?-->', ' ', 'g'),
        |                '<[^>]+>', ' ', 'g'),
        |              '&lt;', '<', 'g'),
        |            '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |        '&#39;', '''', 'g'),
        |      '&amp;', '&', 'g')) AS t0
        |  FROM aug),
        |fin AS (SELECT doc_id, source, h,
        |    regexp_replace(t0, '\s+', ' ', 'g') AS txt FROM ex)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  CAST(sum(length(h)) AS BIGINT) AS raw_chars,
        |  CAST(sum(length(txt)) AS BIGINT) AS text_chars,
        |  CAST(sum(len(regexp_extract_all(h, '<[^>]+>'))) AS BIGINT)
        |    AS n_tags,
        |  CAST(sum(len(regexp_extract_all(h, '&(amp|lt|gt|quot|#39);')))
        |    AS BIGINT) AS n_entities
        |FROM fin GROUP BY source""".stripMargin,

    // q174's canonicalization chain + literal-prefix rule probe
    "q196_robots_filter" ->
      s"""WITH $urlShapesSql,
        |p1 AS (SELECT doc_id, url,
        |    lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
        |    split_part(split_part(url, '#', 1), '://', 2) AS rest
        |  FROM u),
        |p2 AS (SELECT *,
        |    split_part(split_part(rest, '/', 1), '?', 1) AS hostport
        |  FROM p1),
        |p3 AS (SELECT *, lower(hostport) AS hostl,
        |    substr(rest, length(hostport) + 1) AS pathq
        |  FROM p2),
        |p4 AS (SELECT doc_id,
        |    CASE WHEN scheme = 'http' AND hostl LIKE '%:80'
        |        THEN substr(hostl, 1, length(hostl) - 3)
        |      WHEN scheme = 'https' AND hostl LIKE '%:443'
        |        THEN substr(hostl, 1, length(hostl) - 4)
        |      ELSE hostl END AS host,
        |    split_part(pathq, '?', 1) AS path
        |  FROM p3),
        |rules AS (SELECT * FROM (VALUES
        |    ('site0.com', '/search'), ('site2.com', '/a'),
        |    ('cdn.site1.net', '/img'), ('site3.com', '/clean'),
        |    ('blog.site4.org', '/post')) r(host, prefix)),
        |hit AS (SELECT p.host, p.doc_id,
        |    max(CASE WHEN r.prefix IS NOT NULL
        |      AND starts_with(p.path, r.prefix) THEN 1 ELSE 0 END)
        |      AS blocked
        |  FROM p4 p LEFT JOIN rules r ON p.host = r.host
        |  GROUP BY 1, 2)
        |SELECT host, count(*)::BIGINT AS n_urls,
        |  CAST(sum(blocked) AS BIGINT) AS n_blocked
        |FROM hit GROUP BY host""".stripMargin,

    // shifted quantization (+1e6 keeps sums non-negative so // ≡ div),
    // per-(label, dim) sums, floor-mean deltas, exact drift² rollup
    "q197_embedding_drift" ->
      """WITH qv AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
        |        + 1000000) AS q
        |  FROM embeddings),
        |cnt AS (SELECT label,
        |    sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS nb
        |  FROM qv GROUP BY 1
        |  HAVING sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) > 0
        |     AND sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) > 0),
        |ex AS (SELECT label, vec_id % 2 = 0 AS in_a, t.d AS d, q[t.d] AS v
        |  FROM qv, generate_series(1, 64) t(d)),
        |sums AS (SELECT label, d,
        |    sum(CASE WHEN in_a THEN v ELSE 0 END) AS sa,
        |    sum(CASE WHEN NOT in_a THEN v ELSE 0 END) AS sb
        |  FROM ex GROUP BY 1, 2),
        |md AS (SELECT s.label, c.na, c.nb,
        |    (sa // na) - (sb // nb) AS m
        |  FROM sums s JOIN cnt c USING (label))
        |SELECT label, CAST(max(na) AS BIGINT) AS n_a,
        |  CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(sum(m * m) AS BIGINT) AS drift_sq,
        |  CAST(max(abs(m)) AS BIGINT) AS max_dim_shift
        |FROM md GROUP BY label""".stripMargin,

    // two global ranks (length-sorted; spread permutation), batches of
    // 32, waste = n_b·max_b − Σlen_b — exact integers
    "q198_padding_efficiency" ->
      """WITH r0 AS (SELECT doc_id, (n_chars // 4) + 1 AS tok
        |  FROM documents),
        |s1 AS (SELECT tok,
        |    row_number() OVER (ORDER BY tok, doc_id) AS rk FROM r0),
        |w1 AS (SELECT sum(nb * mx - s) AS pad, sum(s) AS toks,
        |    sum(nb) AS n FROM (
        |  SELECT (rk - 1) // 32 AS batch, count(*) AS nb,
        |    max(tok) AS mx, sum(tok) AS s
        |  FROM s1 GROUP BY 1) z1),
        |s2 AS (SELECT tok, row_number() OVER (
        |    ORDER BY (doc_id * 2654435761 + 1013904223) % 2147483648,
        |      doc_id) AS rk FROM r0),
        |w2 AS (SELECT sum(nb * mx - s) AS pad FROM (
        |  SELECT (rk - 1) // 32 AS batch, count(*) AS nb,
        |    max(tok) AS mx, sum(tok) AS s
        |  FROM s2 GROUP BY 1) z2)
        |SELECT CAST(w1.n AS BIGINT) AS n_docs,
        |  CAST(w1.toks AS BIGINT) AS total_tokens,
        |  CAST(w1.pad AS BIGINT) AS padding_sorted,
        |  CAST(w2.pad AS BIGINT) AS padding_shuffled
        |FROM w1 CROSS JOIN w2""".stripMargin,

    // the composition replay: q195's extraction chain, q164's normalized
    // blocklist, q194's logit gate, q15's fingerprint, window-min dedup
    "q199_curation_funnel" ->
      (Q199_CHAIN + """
        |SELECT source, count(*)::BIGINT AS n_raw,
        |  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT
        |    AS n_pass_blocklist,
        |  sum(CASE WHEN kept_q THEN 1 ELSE 0 END)::BIGINT
        |    AS n_pass_quality,
        |  sum(CASE WHEN kept_q AND doc_id = min_id THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_unique,
        |  CAST(sum(CASE WHEN kept_q AND doc_id = min_id THEN length(txt)
        |    ELSE 0 END) AS BIGINT) AS final_chars
        |FROM mn GROUP BY source""").stripMargin,

    // q199's chain through the survivors, then q168's source-fingerprint
    // split replay and the per-split manifest rollup
    "q200_corpus_manifest" ->
      (Q199_CHAIN +
      """,
        |sv AS (SELECT source, txt FROM mn
        |       WHERE kept_q AND doc_id = min_id),
        |fps AS (SELECT source, length(txt) AS nc,
        |    CAST(coalesce(list_sum(list_transform(
        |      generate_series(1, length(source)),
        |      i -> CAST(ascii(substr(source, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |      AS BIGINT) % 10 AS b
        |  FROM sv),
        |sp AS (SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |              ELSE 'test' END AS split, source, nc FROM fps)
        |SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_groups,
        |  count(*)::BIGINT AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS total_chars
        |FROM sp GROUP BY split""").stripMargin,

    // same affine cuts mod (n+1); non-FIM docs keep (n, 0, 0) and
    // fingerprint the raw text; q15's fingerprint replay over the
    // rendered <PRE>p<SUF>s<MID>m string
    "q201_fim_transform" ->
      """WITH c AS (SELECT doc_id, text, length(text) AS n,
        |    (doc_id % 2 = 0) AS is_fim,
        |    (doc_id * 2654435761) % (length(text) + 1) AS h1,
        |    (doc_id * 1779033703 + 7) % (length(text) + 1) AS h2
        |  FROM documents),
        |cut AS (SELECT doc_id, text, n, is_fim,
        |    CASE WHEN is_fim THEN least(h1, h2) ELSE n END AS a,
        |    CASE WHEN is_fim THEN greatest(h1, h2) ELSE n END AS b
        |  FROM c),
        |r AS (SELECT doc_id, is_fim, a, b, n,
        |    CASE WHEN is_fim THEN '<PRE>' || substr(text, 1, a)
        |      || '<SUF>' || substr(text, b + 1)
        |      || '<MID>' || substr(text, a + 1, b - a)
        |    ELSE text END AS out
        |  FROM cut)
        |SELECT doc_id, is_fim,
        |  CAST(a AS BIGINT) AS p_chars,
        |  CAST(b - a AS BIGINT) AS m_chars,
        |  CAST(n - b AS BIGINT) AS s_chars,
        |  TRUE AS reassembly_ok,
        |  CAST(coalesce(list_sum(list_transform(
        |    generate_series(1, length(out)),
        |    i -> CAST(ascii(substr(out, i, 1)) AS BIGINT)
        |         * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |    AS BIGINT) AS out_fp
        |FROM r""".stripMargin,

    // q180's window replay; a span starts where an assistant message
    // follows a user message (or opens the conversation)
    "q202_loss_mask" ->
      s"""WITH $turnsSql,
        |w AS (SELECT *,
        |    lag(role) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS prev_role,
        |    sum(toks) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS cum_toks
        |  FROM m)
        |SELECT user_id,
        |  CAST(sum(toks) AS BIGINT) AS total_toks,
        |  CAST(sum(CASE WHEN role = 'assistant' THEN toks ELSE 0 END)
        |    AS BIGINT) AS trainable_toks,
        |  CAST(sum(CASE WHEN role = 'assistant'
        |      AND (prev_role IS NULL OR prev_role = 'user')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        |  CAST(coalesce(min(CASE WHEN role = 'assistant'
        |    THEN cum_toks - toks END), -1) AS BIGINT)
        |    AS first_trainable_off
        |FROM w GROUP BY user_id""".stripMargin,

    // bigram model on the even-id half; "w1 w2" join key is
    // collision-free under whitespace tokenization; occurrence-weighted
    // integer mass over KNOWN pairs only
    "q203_lm_score" ->
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |b0 AS (SELECT doc_id, t,
        |    unnest(generate_series(1, len(t) - 1)) AS i
        |  FROM toks WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS pair
        |  FROM b0),
        |ref AS (SELECT pair, count(*) AS c_pair FROM bg
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |ctx AS (SELECT w1, count(*) AS c_ctx FROM bg
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |dp AS (SELECT doc_id, w1, pair, count(*) AS occ FROM bg
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT dp.doc_id,
        |    sum(occ) AS n_bigrams,
        |    sum(CASE WHEN r.pair IS NOT NULL THEN occ ELSE 0 END)
        |      AS n_known,
        |    sum(CASE WHEN r.pair IS NOT NULL THEN occ * r.c_pair
        |      ELSE 0 END) AS known_num,
        |    sum(CASE WHEN r.pair IS NOT NULL THEN occ * c.c_ctx
        |      ELSE 0 END) AS known_den
        |  FROM dp LEFT JOIN ref r ON dp.pair = r.pair
        |          LEFT JOIN ctx c ON dp.w1 = c.w1
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(CAST(n_bigrams AS BIGINT), 0) AS n_bigrams,
        |  coalesce(CAST(n_known AS BIGINT), 0) AS n_known,
        |  coalesce(CAST(known_num AS BIGINT), 0) AS known_num,
        |  coalesce(CAST(known_den AS BIGINT), 0) AS known_den
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,

    // same ladder, same lcm-cleared integer distance key, ties to the
    // smaller ladder index; global row = unbucketed padding baseline
    "q204_aspect_buckets" ->
      """WITH img AS (SELECT doc_id,
        |    128 * ((doc_id * 7 + 3) % 8 + 1) AS w,
        |    128 * ((doc_id * 11 + 5) % 8 + 1) AS h
        |  FROM documents),
        |lad AS (SELECT * FROM (VALUES (0, 1, 1), (1, 4, 3), (2, 3, 4),
        |    (3, 16, 9), (4, 9, 16)) t(idx, wb, hb)),
        |a2 AS (SELECT doc_id, w, h, wb, hb,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY abs(w * hb - h * wb) * (144 // hb), idx) AS rk
        |  FROM img CROSS JOIN lad),
        |asg AS (SELECT w, h,
        |    CAST(wb AS VARCHAR) || ':' || CAST(hb AS VARCHAR) AS bucket
        |  FROM a2 WHERE rk = 1),
        |pb AS (SELECT bucket, count(*) AS n, sum(w * h) AS nat,
        |    max(w) AS mw, max(h) AS mh FROM asg GROUP BY 1
        |  UNION ALL
        |  SELECT 'global', count(*), sum(w * h), max(w), max(h) FROM asg)
        |SELECT bucket, CAST(n AS BIGINT) AS n_images,
        |  CAST(nat AS BIGINT) AS nat_pixels,
        |  CAST(mw AS BIGINT) AS max_w, CAST(mh AS BIGINT) AS max_h,
        |  CAST(n * mw * mh AS BIGINT) AS padded_pixels,
        |  CAST(n * mw * mh - nat AS BIGINT) AS waste_pixels
        |FROM pb""".stripMargin,

    // same augmentation; q163's RE2∩Java email pattern extracts, q15's
    // fingerprint replay keys the surrogate; entity grain first so
    // collisions are counted, not silently merged
    "q205_pseudonymize" ->
      s"""WITH ${entityMentionsSql("doc_id")},
        |pe AS (SELECT email, count(*) AS n_mentions,
        |    count(DISTINCT doc_id) AS n_docs FROM m GROUP BY 1),
        |sg AS (SELECT 'user_' || CAST(
        |    CAST(coalesce(list_sum(list_transform(
        |      generate_series(1, length(email)),
        |      i -> CAST(ascii(substr(email, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |      AS BIGINT) % 1000000 AS VARCHAR) AS surrogate,
        |    n_mentions, n_docs
        |  FROM pe)
        |SELECT surrogate, CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  count(*)::BIGINT AS n_entities
        |FROM sg GROUP BY surrogate""".stripMargin,

    // exact 20-char gram evidence; interval union as running-max-end →
    // group-open → running group id (positions are unique per doc, so
    // the window order is total)
    "q206_repeated_spans" ->
      """WITH g AS (SELECT doc_id, i AS pos, substr(text, i, 20) AS gram
        |  FROM (SELECT doc_id, text,
        |      unnest(generate_series(1, length(text) - 19)) AS i
        |    FROM documents WHERE length(text) >= 20)),
        |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos, pos + 19 AS e
        |  FROM g JOIN rep USING (gram)),
        |w AS (SELECT doc_id, pos, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS meb
        |  FROM dp),
        |w2 AS (SELECT *, CASE WHEN meb IS NULL OR pos > meb + 1
        |    THEN 1 ELSE 0 END AS opens FROM w),
        |w3 AS (SELECT *, sum(opens) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS grp FROM w2),
        |sp AS (SELECT doc_id, grp, min(pos) AS s, max(e) AS e2,
        |    count(*) AS n_pos FROM w3 GROUP BY 1, 2),
        |pd AS (SELECT doc_id, sum(n_pos) AS n_dup_positions,
        |    count(*) AS n_spans, sum(e2 - s + 1) AS dup_chars
        |  FROM sp GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(CAST(n_dup_positions AS BIGINT), 0) AS n_dup_positions,
        |  coalesce(CAST(n_spans AS BIGINT), 0) AS n_spans,
        |  coalesce(CAST(dup_chars AS BIGINT), 0) AS dup_chars
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // the oracle's global cumsum IS the definition; the Spark side must
    // produce identical offsets from the distributed grid form (q123
    // rule: starts are non-negative so div ≡ //)
    "q207_context_windows" ->
      """WITH r AS (SELECT doc_id, length(text) AS len,
        |    length(text) + 1 AS m FROM documents),
        |o AS (SELECT doc_id, len,
        |    CAST(sum(m) OVER (ORDER BY doc_id) - m AS BIGINT) AS strt
        |  FROM r),
        |wn AS (SELECT unnest(generate_series(strt // 512,
        |    (strt + len - 1) // 512)) AS w FROM o WHERE len > 0),
        |pw AS (SELECT w, count(*) AS docs_touched FROM wn GROUP BY 1)
        |SELECT CAST(docs_touched AS BIGINT) AS docs_touched,
        |  count(*)::BIGINT AS n_windows
        |FROM pw GROUP BY 1""".stripMargin,

    // q104's df-capped core with 5-token PREFIX queries (full-text
    // queries make the overlap join quadratic — scaladoc'd scale rule);
    // negatives re-joined to the FULL positive token set for the
    // false-negative safety check
    "q208_hard_negatives" ->
      s"""WITH $retrievalScoredSql,
        |negs AS (
        |  SELECT query_id, doc_id AS neg_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rk
        |  FROM scored QUALIFY rk <= 3),
        |inter AS (
        |  SELECT n.query_id, n.neg_id, count(*) AS pov
        |  FROM negs n JOIN dtok a ON a.doc_id = n.query_id
        |              JOIN dtok b ON b.doc_id = n.neg_id
        |                        AND b.term = a.term
        |  GROUP BY 1, 2)
        |SELECT n.query_id, CAST(n.rk AS BIGINT) AS "rank", n.neg_id,
        |  CAST(coalesce(i.pov, 0) AS BIGINT) AS pos_overlap,
        |  CAST(pl.d_len + nl.d_len - coalesce(i.pov, 0) AS BIGINT)
        |    AS pos_union,
        |  (coalesce(i.pov, 0) * 2 <
        |    pl.d_len + nl.d_len - coalesce(i.pov, 0)) AS is_safe
        |FROM negs n
        |LEFT JOIN inter i ON i.query_id = n.query_id
        |                 AND i.neg_id = n.neg_id
        |JOIN dlen pl ON pl.doc_id = n.query_id
        |JOIN dlen nl ON nl.doc_id = n.neg_id""".stripMargin,

    // q180/q184's window chain, three monotone stages over one
    // conversation-grain frame
    "q209_sft_manifest" ->
      s"""WITH $turnsSql,
        |w AS (SELECT *,
        |    lag(role) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS prev_role,
        |    lead(role) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS next_role,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS rn
        |  FROM m),
        |conv AS (SELECT user_id,
        |    sum(CASE WHEN prev_role = role THEN 1 ELSE 0 END) AS viol,
        |    min(CASE WHEN rn = 1 THEN role END) AS first_role,
        |    sum(CASE WHEN role = 'user' AND next_role = 'assistant'
        |      THEN 1 ELSE 0 END) AS n_pairs,
        |    sum(toks) AS total_toks,
        |    sum(CASE WHEN role = 'assistant' THEN toks ELSE 0 END)
        |      AS trainable_toks
        |  FROM w GROUP BY 1),
        |s AS (
        |  SELECT 'all' AS stage, count(*) AS n_convs,
        |    coalesce(sum(n_pairs), 0) AS n_pairs,
        |    coalesce(sum(total_toks), 0) AS total_toks,
        |    coalesce(sum(trainable_toks), 0) AS trainable_toks FROM conv
        |  UNION ALL
        |  SELECT 'clean', count(*), coalesce(sum(n_pairs), 0),
        |    coalesce(sum(total_toks), 0), coalesce(sum(trainable_toks), 0)
        |  FROM conv WHERE viol = 0 AND first_role = 'user'
        |  UNION ALL
        |  SELECT 'paired', count(*), coalesce(sum(n_pairs), 0),
        |    coalesce(sum(total_toks), 0), coalesce(sum(trainable_toks), 0)
        |  FROM conv WHERE viol = 0 AND first_role = 'user'
        |    AND n_pairs >= 1)
        |SELECT stage, CAST(n_convs AS BIGINT) AS n_convs,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(total_toks AS BIGINT) AS total_toks,
        |  CAST(trainable_toks AS BIGINT) AS trainable_toks
        |FROM s""".stripMargin,

    // descending global rank (len DESC, doc_id tiebreak) → snake
    // block/position arithmetic; worker-grain loads
    "q210_shard_balance" ->
      """WITH r AS (SELECT doc_id, length(text) AS len FROM documents),
        |rk AS (SELECT doc_id, len,
        |    row_number() OVER (ORDER BY len DESC, doc_id) - 1 AS r0
        |  FROM r),
        |a AS (SELECT len,
        |    CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
        |         ELSE 7 - (r0 % 8) END AS worker
        |  FROM rk)
        |SELECT CAST(worker AS BIGINT) AS worker,
        |  count(*)::BIGINT AS n_docs,
        |  CAST(sum(len) AS BIGINT) AS load_chars
        |FROM a GROUP BY 1""".stripMargin,

    // q164's normalized blocklist + q194's logit gate (per-row) and
    // q203's bigram chain (lm gate), cross-tabulated at the doc grain
    "q211_gate_agreement" ->
      """WITH toks AS (SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |f AS (SELECT doc_id, text, t, len(t) AS nt,
        |    len(list_filter(t, x -> list_contains(['slow','big','the'],
        |      regexp_replace(translate(x,
        |        'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |      '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')))) AS n_blocked,
        |    len(list_filter(t, x ->
        |      x IN ('the','of','and','a','to','in','is'))) AS sh,
        |    len(list_distinct(t)) AS nd
        |  FROM toks),
        |flags AS (SELECT doc_id, length(text) AS nc,
        |    n_blocked * 100 <= 10 * nt AS pass_blocklist,
        |    -60000000 + 500000 * nt + 2000000 * sh + 1000000 * nd > 0
        |      AS pass_model
        |  FROM f),
        |b0 AS (SELECT doc_id, t,
        |    unnest(generate_series(1, len(t) - 1)) AS i
        |  FROM toks WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS pair FROM b0),
        |ref AS (SELECT pair, count(*) AS c_pair FROM bg
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |dp AS (SELECT doc_id, pair, count(*) AS occ FROM bg GROUP BY 1, 2),
        |sc AS (SELECT dp.doc_id, sum(occ) AS nb,
        |    sum(CASE WHEN r.pair IS NOT NULL THEN occ ELSE 0 END) AS nk
        |  FROM dp LEFT JOIN ref r ON dp.pair = r.pair GROUP BY 1),
        |lm AS (SELECT fl.doc_id, fl.nc, fl.pass_blocklist, fl.pass_model,
        |    (coalesce(sc.nb, 0) > 0 AND
        |     2 * coalesce(sc.nk, 0) >= coalesce(sc.nb, 0)) AS pass_lm
        |  FROM flags fl LEFT JOIN sc ON fl.doc_id = sc.doc_id)
        |SELECT pass_blocklist, pass_model, pass_lm,
        |  count(*)::BIGINT AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS total_chars
        |FROM lm GROUP BY 1, 2, 3""".stripMargin,

    // running balance over (ts, event_id) order; orphans = deepest dip
    // below zero, unclosed = final balance re-based by the dip
    "q212_toolcall_audit" -> {
      val m = eventsUsSql("m", """,
        |    CASE WHEN event_type = 'click' THEN 1
        |         WHEN event_type = 'purchase' THEN -1 ELSE 0 END AS d"""
        .stripMargin)
      s"""WITH $m,
        |w AS (SELECT *, sum(d) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS bal FROM m),
        |c AS (SELECT user_id,
        |    sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS n_calls,
        |    sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS n_results,
        |    greatest(0, -min(bal)) AS orph
        |  FROM w GROUP BY 1)
        |SELECT user_id, CAST(n_calls AS BIGINT) AS n_calls,
        |  CAST(n_results AS BIGINT) AS n_results,
        |  CAST(orph AS BIGINT) AS n_orphan_results,
        |  CAST(n_calls - n_results + orph AS BIGINT) AS n_unclosed_calls,
        |  (orph = 0 AND n_calls = n_results) AS ok
        |FROM c""".stripMargin
    },

    // q205's augmentation + extraction; delete set = every 5th planted
    // entity; per-source blast radius via a doc-grain left join
    "q213_forget_audit" ->
      s"""WITH ${entityMentionsSql("doc_id, source")},
        |del AS (SELECT 'person' || CAST(i AS VARCHAR) || '@example'
        |      || CAST(i % 7 AS VARCHAR) || '.com' AS email
        |  FROM (SELECT unnest(generate_series(0, 39)) AS i) s
        |  WHERE i % 5 = 0),
        |dm AS (SELECT doc_id, count(*) AS ndm
        |  FROM m JOIN del USING (email) GROUP BY 1)
        |SELECT a.source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN dm.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_tombstoned,
        |  CAST(sum(CASE WHEN dm.doc_id IS NOT NULL THEN length(a.text)
        |    ELSE 0 END) AS BIGINT) AS chars_purged,
        |  CAST(coalesce(sum(ndm), 0) AS BIGINT) AS n_deleted_mentions
        |FROM aug a LEFT JOIN dm ON a.doc_id = dm.doc_id
        |GROUP BY 1""".stripMargin,

    // q170's apportionment fragment over digit-length bins, re-read as
    // repeat factors at a 3× budget; permille epochs via exact int div
    "q214_mixture_epochs" ->
      s"""WITH n AS (SELECT 'len' ||
        |    CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) AS source,
        |    count(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |${quotaSql("n", 3, 1)}
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(quota AS BIGINT) AS quota,
        |  CAST((quota * 1000) // n_docs AS BIGINT) AS epochs_x1000,
        |  ((quota * 1000) // n_docs) > 4000 AS oversampled
        |FROM quota""".stripMargin,

    // word 13-gram positions; q206's interval-union sweep on TOKEN
    // indices; eval side distinct-collapsed before the probe join
    "q215_decontam_spans" ->
      """WITH toks AS (SELECT doc_id, (doc_id % 20 = 0) AS is_eval,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |g AS (SELECT doc_id, is_eval, i AS pos,
        |    array_to_string(t[i:i+12], ' ') AS gram
        |  FROM (SELECT doc_id, is_eval, t,
        |      unnest(generate_series(1, len(t) - 12)) AS i
        |    FROM toks WHERE len(t) >= 13)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE is_eval),
        |hits AS (SELECT g.doc_id, g.pos, g.pos + 12 AS e
        |  FROM g JOIN ev USING (gram) WHERE NOT g.is_eval),
        |w AS (SELECT doc_id, pos, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS meb
        |  FROM hits),
        |w2 AS (SELECT *, CASE WHEN meb IS NULL OR pos > meb + 1
        |    THEN 1 ELSE 0 END AS opens FROM w),
        |w3 AS (SELECT *, sum(opens) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS grp FROM w2),
        |sp AS (SELECT doc_id, grp, min(pos) AS s, max(e) AS e2,
        |    count(*) AS n_pos FROM w3 GROUP BY 1, 2),
        |pd AS (SELECT doc_id, sum(n_pos) AS np, count(*) AS ns,
        |    sum(e2 - s + 1) AS ct FROM sp GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(CAST(np AS BIGINT), 0) AS n_contam_positions,
        |  coalesce(CAST(ns AS BIGINT), 0) AS n_spans,
        |  coalesce(CAST(ct AS BIGINT), 0) AS contam_tokens
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |WHERE d.doc_id % 20 <> 0""".stripMargin,

    // per-user argmax/argmin via deterministic row_number windows (the
    // struct max/min tie-break replayed); cents via the q120 route
    "q216_preference_pairs" ->
      """WITH c AS (SELECT user_id, event_id, event_type,
        |    CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM events),
        |ch AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY cents DESC, event_id) AS rk FROM c),
        |rj AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY cents, event_id) AS rk FROM c),
        |p AS (SELECT ch.event_type AS chosen_type,
        |    rj.event_type AS rejected_type,
        |    ch.cents - rj.cents AS margin
        |  FROM ch JOIN rj ON ch.user_id = rj.user_id
        |  WHERE ch.rk = 1 AND rj.rk = 1
        |    AND ch.event_id <> rj.event_id AND ch.cents - rj.cents >= 20000)
        |SELECT chosen_type, rejected_type,
        |  count(*) AS n_pairs,
        |  CAST(sum(margin) AS BIGINT) AS sum_margin_cents,
        |  CAST(min(margin) AS BIGINT) AS min_margin_cents,
        |  CAST(max(margin) AS BIGINT) AS max_margin_cents
        |FROM p GROUP BY 1, 2""".stripMargin,

    // the per-epoch permutation replayed as one global row_number (the
    // Spark side ranks the same key64 via the distributed grid); the key
    // is the q136 xorshift mix — a bare affine map is three-distance-
    // structured and measured 0 same-source pairs (degenerate)
    "q217_shuffle_quality" ->
      """WITH ep AS (SELECT unnest(generate_series(0, 2)) AS epoch),
        |h0 AS (SELECT d.doc_id, d.source, ep.epoch,
        |    (d.doc_id * 2654435761 + 1013904223 * (ep.epoch + 1))
        |      % 1099511627776 AS h1
        |  FROM documents d, ep),
        |hx AS (SELECT *, xor(h1, h1 // 1048576) AS h2 FROM h0),
        |hy AS (SELECT *, ((h2 % 4294967296) * 1540483477 + 99991)
        |    % 1099511627776 AS h3 FROM hx),
        |rows0 AS (SELECT doc_id, source, epoch,
        |    epoch * 1099511627776 + xor(h3, h3 // 131072) AS key64
        |  FROM hy),
        |r AS (SELECT epoch, source,
        |    row_number() OVER (ORDER BY key64, doc_id) AS rnk
        |  FROM rows0),
        |p AS (SELECT a.epoch, a.source AS sa, b.source AS sb
        |  FROM r a JOIN r b ON b.rnk = a.rnk + 1 AND b.epoch = a.epoch),
        |adj AS (SELECT epoch, count(*) AS n_pairs,
        |    sum(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS same_src
        |  FROM p GROUP BY 1),
        |s AS (SELECT source, count(*) AS ns FROM documents GROUP BY 1),
        |st AS (SELECT sum(ns) AS n, count(*) AS n_sources,
        |    sum(ns * (ns - 1)) AS spn FROM s)
        |SELECT adj.epoch, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(same_src AS BIGINT) AS same_src_pairs,
        |  CAST(1 + n_pairs - same_src AS BIGINT) AS n_runs,
        |  CAST(CAST(same_src AS HUGEINT) * 1000000
        |    // CAST(n_pairs AS HUGEINT) AS BIGINT) AS obs_rate_e6,
        |  CAST(CAST(spn AS HUGEINT) * 1000000
        |    // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS exp_rate_e6,
        |  CAST(n - n_sources AS BIGINT) AS sorted_same_pairs
        |FROM adj CROSS JOIN st""".stripMargin,

    // order-statistic E[max of 4]: per-source value-count CDF, HUGEINT
    // fourth powers, integer ×1e6 fixed-point readout
    "q218_best_of_n" ->
      """WITH c AS (SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, v, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY v) AS f FROM c),
        |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    sum(v * c) AS sv,
        |    sum(CAST(v AS HUGEINT) *
        |        (CAST(f AS HUGEINT) * f * f * f
        |         - CAST(f - c AS HUGEINT) * (f - c) * (f - c) * (f - c)))
        |      AS num
        |  FROM cum GROUP BY 1)
        |SELECT source, n_docs,
        |  CAST(CAST(sv AS HUGEINT) * 1000000 // CAST(n_docs AS HUGEINT)
        |    AS BIGINT) AS mean_e6,
        |  CAST(num * 1000000 // (CAST(n_docs AS HUGEINT) * n_docs * n_docs
        |    * n_docs) AS BIGINT) AS best_of_n_e6,
        |  CAST(num * 1000000 // (CAST(n_docs AS HUGEINT) * n_docs * n_docs
        |    * n_docs)
        |    - CAST(sv AS HUGEINT) * 1000000 // CAST(n_docs AS HUGEINT)
        |    AS BIGINT) AS uplift_e6
        |FROM a""".stripMargin,

    // the doc hash + position-stride draw replayed (q136 xorshift mix,
    // twice), q215's interval union, and the q15 ascii-fold fingerprint
    // over the ordered "s:e" span list
    "q219_span_corruption" ->
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS n_toks
        |  FROM documents),
        |d1 AS (SELECT doc_id, n_toks,
        |    (doc_id * 2654435761 + 1013904223) % 1099511627776 AS a1
        |  FROM toks),
        |d2 AS (SELECT *, xor(a1, a1 // 1048576) AS a2 FROM d1),
        |d3 AS (SELECT *, ((a2 % 4294967296) * 1540483477 + 99991)
        |    % 1099511627776 AS a3 FROM d2),
        |hd AS (SELECT doc_id, n_toks, xor(a3, a3 // 131072) AS hdv
        |  FROM d3),
        |p0 AS (SELECT doc_id, n_toks, hdv,
        |    unnest(generate_series(1, n_toks)) AS i
        |  FROM hd WHERE n_toks >= 1),
        |m1 AS (SELECT doc_id, n_toks, i,
        |    (((hdv + i * 7919) % 2147483648) * 2654435761 + 1013904223)
        |      % 1099511627776 AS h1
        |  FROM p0),
        |m2 AS (SELECT *, xor(h1, h1 // 1048576) AS h2 FROM m1),
        |m3 AS (SELECT *, ((h2 % 4294967296) * 1540483477 + 99991)
        |    % 1099511627776 AS h3 FROM m2),
        |mh AS (SELECT doc_id, n_toks, i, xor(h3, h3 // 131072) AS hv
        |  FROM m3),
        |st AS (SELECT doc_id, i AS s,
        |    least(i + (hv // 128) % 3, n_toks) AS e
        |  FROM mh WHERE hv % 13 = 0),
        |w AS (SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS meb
        |  FROM st),
        |w2 AS (SELECT *, CASE WHEN meb IS NULL OR s > meb + 1
        |    THEN 1 ELSE 0 END AS opens FROM w),
        |w3 AS (SELECT *, sum(opens) OVER (PARTITION BY doc_id
        |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS grp FROM w2),
        |sp AS (SELECT doc_id, grp, min(s) AS ms, max(e) AS me
        |  FROM w3 GROUP BY 1, 2),
        |pd AS (SELECT doc_id, count(*) AS n_spans,
        |    sum(me - ms + 1) AS ct,
        |    string_agg(CAST(ms AS VARCHAR) || ':' || CAST(me AS VARCHAR),
        |      ',' ORDER BY ms) AS mstr
        |  FROM sp GROUP BY 1),
        |fp AS (SELECT doc_id, n_spans, ct,
        |    coalesce(list_sum(list_transform(
        |      generate_series(1, length(mstr)),
        |      i -> CAST(ascii(substr(mstr, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |      AS mask_fp
        |  FROM pd)
        |SELECT t.doc_id, CAST(t.n_toks AS BIGINT) AS n_toks,
        |  coalesce(CAST(f.n_spans AS BIGINT), 0) AS n_spans,
        |  coalesce(CAST(f.ct AS BIGINT), 0) AS corrupted_toks,
        |  CAST(t.n_toks - coalesce(f.ct, 0) + coalesce(f.n_spans, 0)
        |    AS BIGINT) AS input_len,
        |  CAST(coalesce(f.ct, 0) + coalesce(f.n_spans, 0) AS BIGINT)
        |    AS target_len,
        |  CAST(coalesce(f.mask_fp, 0) AS BIGINT) AS mask_fp
        |FROM toks t LEFT JOIN fp f ON t.doc_id = f.doc_id""".stripMargin,

    // q199's prefix-fingerprint keeper replayed; shares via exact // on
    // broadcast totals
    "q220_dedup_impact" ->
      """WITH k AS (SELECT doc_id, source,
        |    coalesce(list_sum(list_transform(
        |      generate_series(1, length(substr(text, 1, 32))),
        |      i -> CAST(ascii(substr(substr(text, 1, 32), i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648 AS fp
        |  FROM documents),
        |m AS (SELECT fp, min(doc_id) AS keeper FROM k GROUP BY 1),
        |per AS (SELECT source, count(*) AS n_before,
        |    sum(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS n_kept
        |  FROM k JOIN m USING (fp) GROUP BY 1),
        |tot AS (SELECT sum(n_before) AS nb, sum(n_kept) AS nk FROM per)
        |SELECT source, CAST(n_before AS BIGINT) AS n_before,
        |  CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(n_before * 1000000 // nb AS BIGINT) AS share_before_ppm,
        |  CAST(n_kept * 1000000 // nk AS BIGINT) AS share_after_ppm,
        |  CAST(n_kept * 1000000 // nk - n_before * 1000000 // nb
        |    AS BIGINT) AS shift_ppm
        |FROM per CROSS JOIN tot""".stripMargin,

    // four already-oracled readouts (q50 / q171 / q214 / q164 fragments)
    // folded to the 4-row checklist; pass computed on the union
    "q221_train_preflight" ->
      raw"""SELECT "check", "value", threshold,
        |  "value" <= threshold AS pass FROM (
        |SELECT * FROM (
        |  WITH toks AS (
        |    SELECT doc_id, doc_id % 20 = 0 AS is_eval,
        |      CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |           ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |    FROM documents),
        |  grams AS (
        |    SELECT doc_id, is_eval,
        |      unnest(list_transform(generate_series(1,
        |        greatest(len(t) - 2, 0)),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |    FROM toks),
        |  ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
        |  tr AS (SELECT DISTINCT doc_id, gram FROM grams
        |    WHERE NOT is_eval),
        |  pd AS (SELECT tr.doc_id, count(*) AS n_ngrams,
        |      sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
        |        AS n_overlap
        |    FROM tr LEFT JOIN ev e USING (gram) GROUP BY tr.doc_id),
        |  fl AS (SELECT d.doc_id,
        |      CASE WHEN coalesce(n_ngrams, 0) = 0 THEN 0.0
        |           ELSE CAST(n_overlap AS DOUBLE) / n_ngrams END >= 0.5
        |        AS c
        |    FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
        |    WHERE d.doc_id % 20 <> 0)
        |  SELECT 'eval_contam_ppm' AS "check",
        |    CAST(CASE WHEN count(*) = 0 THEN 0
        |      ELSE sum(CASE WHEN c THEN 1 ELSE 0 END) * 1000000
        |        // count(*) END AS BIGINT) AS "value",
        |    CAST(20000 AS BIGINT) AS threshold FROM fl) a
        |UNION ALL
        |SELECT * FROM (
        |  WITH k AS (SELECT doc_id, n_chars,
        |      (doc_id * 2654435761 + 1013904223) % 2147483648 AS key
        |    FROM documents),
        |  r AS (SELECT *, row_number() OVER (ORDER BY key, doc_id)
        |      AS rank, count(*) OVER () AS n FROM k),
        |  sh AS (SELECT (rank - 1) // ((n + 15) // 16) AS shard,
        |      sum(n_chars) AS total_chars FROM r GROUP BY 1)
        |  SELECT 'shard_imbalance_ppm',
        |    CAST(CASE WHEN min(total_chars) = 0 THEN 0
        |      ELSE max(total_chars) * 1000000 // min(total_chars)
        |        - 1000000 END AS BIGINT),
        |    CAST(500000 AS BIGINT) FROM sh) b
        |UNION ALL
        |SELECT * FROM (
        |  WITH n AS (SELECT 'len' ||
        |      CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) AS source,
        |      count(*) AS n_docs
        |    FROM documents GROUP BY 1),
        |  ${quotaSql("n", 3, 1)}
        |  SELECT 'max_epochs_x1000',
        |    CAST(max((quota * 1000) // n_docs) AS BIGINT),
        |    CAST(4000 AS BIGINT) FROM quota) c
        |UNION ALL
        |SELECT * FROM (
        |  WITH toks AS (
        |    SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |    FROM documents),
        |  sig AS (
        |    SELECT len(t) AS n_tokens,
        |      len(list_filter(t, x -> list_contains(['slow','big','the'],
        |        regexp_replace(translate(x,
        |          'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |        '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')))) AS n_blocked
        |    FROM toks)
        |  SELECT 'blocked_rate_ppm',
        |    CAST(CASE WHEN count(*) = 0 THEN 0
        |      ELSE sum(CASE WHEN n_blocked * 100 > 10 * n_tokens
        |        THEN 1 ELSE 0 END) * 1000000 // count(*) END AS BIGINT),
        |    CAST(500000 AS BIGINT) FROM sig) d
        |) u""".stripMargin,

    // per-term xorshift mix of (ascii-fold fp + spread id), THEN the
    // commutative sum — an unmixed additive fold is blind to pairing
    // swaps (texts exchanged between two ids leave the sum unchanged)
    "q222_corpus_digest" ->
      """WITH f AS (SELECT doc_id, source, length(text) AS nc,
        |    (coalesce(list_sum(list_transform(generate_series(1,
        |      length(text)),
        |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |     + (doc_id * 2654435761 + 1013904223) % 2147483648)
        |      % 2147483648 AS inr
        |  FROM documents),
        |m1 AS (SELECT source, nc,
        |    (inr * 2654435761 + 1013904223) % 1099511627776 AS h1
        |  FROM f),
        |m2 AS (SELECT source, nc, xor(h1, h1 // 1048576) AS h2 FROM m1),
        |m3 AS (SELECT source, nc, ((h2 % 4294967296) * 1540483477
        |    + 99991) % 1099511627776 AS h3 FROM m2),
        |t AS (SELECT source, nc,
        |    xor(h3, h3 // 131072) % 2147483648 AS term FROM m3)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS total_chars,
        |  CAST(sum(term) % 2147483648 AS BIGINT) AS digest
        |FROM t GROUP BY source""".stripMargin,

    "q223_truncation_audit" ->
      """WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS n_toks
        |  FROM documents),
        |x AS (SELECT n_toks, c.context
        |  FROM t, (SELECT unnest([32, 64, 96]) AS context) c)
        |SELECT CAST(context AS BIGINT) AS context,
        |  count(*)::BIGINT AS n_docs,
        |  CAST(sum(CASE WHEN n_toks > context THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_truncated,
        |  CAST(sum(CASE WHEN n_toks > context THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS truncated_ppm,
        |  CAST(sum(n_toks) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN n_toks > context THEN n_toks - context
        |    ELSE 0 END) AS BIGINT) AS tokens_lost,
        |  CAST(CASE WHEN sum(n_toks) = 0 THEN 0
        |    ELSE sum(CASE WHEN n_toks > context THEN n_toks - context
        |      ELSE 0 END) * 1000000 // sum(n_toks) END AS BIGINT)
        |    AS lost_ppm
        |FROM x GROUP BY 1""".stripMargin,

    // tail periodicity via shifted-slice equality (the standard string
    // period test); CASE tries periods smallest-first
    "q224_generation_loops" ->
      """WITH aug AS (SELECT doc_id, source, text ||
        |    CASE WHEN doc_id % 17 = 0 THEN repeat(' spam', 24)
        |         WHEN doc_id % 23 = 0 THEN repeat(' foo bar', 12)
        |         ELSE '' END AS text
        |  FROM documents),
        |t AS (SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM aug),
        |tl AS (SELECT source, least(len(tk), 24) AS k,
        |    tk[greatest(len(tk) - 24 + 1, 1):len(tk)] AS tail FROM t),
        |p AS (SELECT source,
        |    CASE WHEN k >= 2 AND tail[1:k-1] = tail[2:k] THEN 1
        |         WHEN k >= 4 AND tail[1:k-2] = tail[3:k] THEN 2
        |         WHEN k >= 6 AND tail[1:k-3] = tail[4:k] THEN 3
        |         WHEN k >= 8 AND tail[1:k-4] = tail[5:k] THEN 4
        |         ELSE 0 END AS period FROM tl)
        |SELECT source, CAST(period AS BIGINT) AS period,
        |  count(*)::BIGINT AS n_docs
        |FROM p GROUP BY 1, 2""".stripMargin,

    // q214's quota chain + per-group spread-hash rank → doc exposure
    "q225_epoch_exposure" ->
      s"""WITH n AS (SELECT doc_id, 'len' ||
        |    CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) AS source
        |  FROM documents),
        |g AS (SELECT source, count(*) AS n_docs FROM n GROUP BY 1),
        |${quotaSql("g", 3, 1)},
        |dr AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761 + 1013904223) % 2147483648,
        |        doc_id) AS drk
        |  FROM n)
        |SELECT d.source,
        |  CAST(quota // n_docs
        |    + CASE WHEN drk <= quota % n_docs THEN 1 ELSE 0 END
        |    AS BIGINT) AS exposures,
        |  count(*)::BIGINT AS n_docs
        |FROM dr d JOIN quota USING (source) GROUP BY 1, 2""".stripMargin,

    // one global spread-permutation rank, constant batch-size explode,
    // (bsz, batch, fp) cells; global dup mass as the 1-row anchor
    "q226_batch_collisions" ->
      """WITH k AS (SELECT doc_id,
        |    coalesce(list_sum(list_transform(
        |      generate_series(1, length(substr(text, 1, 32))),
        |      i -> CAST(ascii(substr(substr(text, 1, 32), i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |      AS fp,
        |    (doc_id * 2654435761 + 1013904223) % 2147483648 AS key64
        |  FROM documents),
        |r AS (SELECT fp, row_number() OVER (ORDER BY key64, doc_id)
        |    AS rnk FROM k),
        |x AS (SELECT fp, rnk, b.bsz
        |  FROM r, (SELECT unnest([16, 64, 256]) AS bsz) b),
        |cells AS (SELECT bsz, (rnk - 1) // bsz AS batch, fp,
        |    count(*) AS c
        |  FROM x GROUP BY 1, 2, 3),
        |gd AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT)
        |      AS total_dup_pairs,
        |    CAST(sum(c) AS BIGINT) AS n
        |  FROM (SELECT fp, count(*) AS c FROM k GROUP BY 1) t)
        |SELECT CAST(bsz AS BIGINT) AS bsz,
        |  CAST((n + bsz - 1) // bsz AS BIGINT) AS n_batches,
        |  total_dup_pairs,
        |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS inbatch_dup_pairs,
        |  CAST(count(DISTINCT CASE WHEN c > 1 THEN batch END) AS BIGINT)
        |    AS batches_with_dup
        |FROM cells CROSS JOIN gd GROUP BY 1, 2, 3""".stripMargin,

    // both snapshot sides through ONE q222 digest chain (side-tagged
    // union), then a full join pivots a vs b; IS DISTINCT FROM is the
    // null-safe compare (Spark <=>)
    "q227_digest_delta" ->
      """WITH u AS (SELECT 'a' AS side, doc_id, source, text
        |  FROM documents
        |  UNION ALL
        |  SELECT 'b', doc_id, source,
        |    CASE WHEN doc_id % 20 < 3 THEN text || ' revised'
        |         ELSE text END
        |  FROM documents),
        |f AS (SELECT side, source,
        |    ((coalesce(list_sum(list_transform(generate_series(1,
        |      length(text)),
        |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648)
        |     + (doc_id * 2654435761 + 1013904223) % 2147483648)
        |      % 2147483648 AS inr
        |  FROM u),
        |m1 AS (SELECT side, source,
        |    (inr * 2654435761 + 1013904223) % 1099511627776 AS h1 FROM f),
        |m2 AS (SELECT side, source, xor(h1, h1 // 1048576) AS h2 FROM m1),
        |m3 AS (SELECT side, source, ((h2 % 4294967296) * 1540483477
        |    + 99991) % 1099511627776 AS h3 FROM m2),
        |t AS (SELECT side, source,
        |    xor(h3, h3 // 131072) % 2147483648 AS term FROM m3),
        |g AS (SELECT side, source, count(*) AS n_docs,
        |    sum(term) % 2147483648 AS digest FROM t GROUP BY 1, 2),
        |ga AS (SELECT source, n_docs, digest FROM g WHERE side = 'a'),
        |gb AS (SELECT source, n_docs, digest FROM g WHERE side = 'b')
        |SELECT coalesce(ga.source, gb.source) AS source,
        |  CAST(ga.n_docs AS BIGINT) AS n_docs_a,
        |  CAST(gb.n_docs AS BIGINT) AS n_docs_b,
        |  CAST(ga.digest AS BIGINT) AS digest_a,
        |  CAST(gb.digest AS BIGINT) AS digest_b,
        |  (ga.digest IS DISTINCT FROM gb.digest)
        |    OR (ga.n_docs IS DISTINCT FROM gb.n_docs) AS changed
        |FROM ga FULL JOIN gb ON ga.source = gb.source""".stripMargin,

    // two q141 largest-remainder chains (90k uniform / 10k quality-only)
    // + the uniform-baseline shift in exact ppm
    "q228_annealing_recipe" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS n_quality
        |  FROM documents GROUP BY 1),
        |w1 AS (SELECT source AS key, n_docs AS w,
        |    CAST(sum(n_docs) OVER () AS BIGINT) AS wsum FROM per),
        |b1 AS (SELECT key, (w * 90000) // wsum AS base,
        |    (w * 90000) % wsum AS remainder FROM w1),
        |l1 AS (SELECT key, base,
        |    CAST(90000 - sum(base) OVER () AS BIGINT) AS leftover,
        |    row_number() OVER (ORDER BY remainder DESC, key) AS rn
        |  FROM b1),
        |p1 AS (SELECT key AS source,
        |    base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS p1_quota
        |  FROM l1),
        |w2 AS (SELECT source AS key, n_quality AS w,
        |    CAST(sum(n_quality) OVER () AS BIGINT) AS wsum
        |  FROM per WHERE n_quality > 0),
        |b2 AS (SELECT key, (w * 10000) // wsum AS base,
        |    (w * 10000) % wsum AS remainder FROM w2),
        |l2 AS (SELECT key, base,
        |    CAST(10000 - sum(base) OVER () AS BIGINT) AS leftover,
        |    row_number() OVER (ORDER BY remainder DESC, key) AS rn
        |  FROM b2),
        |p2 AS (SELECT key AS source,
        |    base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS p2_quota
        |  FROM l2),
        |tot AS (SELECT sum(n_docs) AS n FROM per)
        |SELECT per.source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_quality AS BIGINT) AS n_quality,
        |  CAST(p1_quota AS BIGINT) AS p1_quota,
        |  CAST(coalesce(p2_quota, 0) AS BIGINT) AS p2_quota,
        |  CAST(p1_quota + coalesce(p2_quota, 0) AS BIGINT) AS total_quota,
        |  CAST((p1_quota + coalesce(p2_quota, 0)) * 1000000 // 100000
        |    - n_docs * 1000000 // n AS BIGINT) AS shift_ppm
        |FROM per JOIN p1 USING (source) LEFT JOIN p2 USING (source)
        |CROSS JOIN tot""".stripMargin,

    // digit-normalized 2-token template head; exact-ppm shares; the
    // cumulative window runs on the 15-row top-k only
    "q229_template_diversity" ->
      """WITH t AS (SELECT array_to_string(
        |    regexp_split_to_array(
        |      regexp_replace(lower(text), '[0-9]+', '0', 'g'), '\s+')[1:2],
        |    ' ') AS template, source
        |  FROM documents),
        |c AS (SELECT template, count(*) AS n_docs,
        |    count(DISTINCT source) AS n_sources FROM t GROUP BY 1),
        |tot AS (SELECT sum(n_docs) AS total FROM c),
        |top AS (SELECT * FROM c ORDER BY n_docs DESC, template LIMIT 15),
        |r AS (SELECT template, n_docs, n_sources,
        |    row_number() OVER (ORDER BY n_docs DESC, template) AS rank,
        |    sum(n_docs) OVER (ORDER BY n_docs DESC, template
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_docs
        |  FROM top)
        |SELECT CAST(rank AS BIGINT) AS rank, template,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_sources AS BIGINT) AS n_sources,
        |  CAST(n_docs * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(cum_docs * 1000000 // total AS BIGINT) AS cum_share_ppm
        |FROM r CROSS JOIN tot""".stripMargin,

    // (user, epoch-day%7) battle units on exact cents; triple assembly
    // joins the 10-row pair frame with itself
    "q230_tournament_audit" ->
      """WITH s AS (SELECT user_id,
        |    (epoch_us(ts) // 86400000000) % 7 AS dow, event_type,
        |    sum(CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2, 3),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    sum(CASE WHEN a.cents > b.cents THEN 1
        |             WHEN a.cents < b.cents THEN -1 ELSE 0 END) AS net
        |  FROM s a JOIN s b ON a.user_id = b.user_id AND a.dow = b.dow
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |tr AS (SELECT ab.ta AS type_a, ab.tb AS type_b, bc.tb AS type_c,
        |    ab.net AS net_ab, bc.net AS net_bc, ac.net AS net_ac
        |  FROM p ab JOIN p bc ON bc.ta = ab.tb
        |    JOIN p ac ON ac.ta = ab.ta AND ac.tb = bc.tb)
        |SELECT type_a, type_b, type_c,
        |  CAST(net_ab AS BIGINT) AS net_ab,
        |  CAST(net_bc AS BIGINT) AS net_bc,
        |  CAST(net_ac AS BIGINT) AS net_ac,
        |  CAST(least(abs(net_ab), abs(net_bc), abs(net_ac)) AS BIGINT)
        |    AS min_abs_net,
        |  (net_ab > 0 AND net_bc > 0 AND net_ac < 0) OR
        |    (net_ab < 0 AND net_bc < 0 AND net_ac > 0) AS is_cycle
        |FROM tr""".stripMargin,

    // Bradley–Terry MM unrolled 5 passes (chained CTEs, the q64
    // per-iteration round(…,9) discipline); wins/games exact integers
    "q231_bradley_terry" ->
      """WITH s AS (SELECT user_id,
        |    (epoch_us(ts) // 86400000000) % 7 AS dow, event_type,
        |    sum(CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2, 3),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    sum(CASE WHEN a.cents > b.cents THEN 1 ELSE 0 END) AS wins_a,
        |    sum(CASE WHEN a.cents < b.cents THEN 1 ELSE 0 END) AS wins_b
        |  FROM s a JOIN s b ON a.user_id = b.user_id AND a.dow = b.dow
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |g AS (SELECT ta AS i, tb AS j, wins_a AS wins_i,
        |    wins_a + wins_b AS n_ij FROM p WHERE wins_a + wins_b > 0
        |  UNION ALL
        |  SELECT tb, ta, wins_b, wins_a + wins_b FROM p
        |  WHERE wins_a + wins_b > 0),
        |wt AS (SELECT i, CAST(sum(wins_i) AS BIGINT) AS n_wins,
        |    CAST(sum(n_ij) AS BIGINT) AS n_games FROM g GROUP BY 1),
        |it0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS w FROM wt),
        |it1 AS (SELECT i, round(raw / sum(raw) OVER (), 9) AS w FROM (
        |  SELECT wt.i, CAST(wt.n_wins AS DOUBLE) / d.den AS raw FROM wt
        |  JOIN (SELECT g.i, sum(CAST(g.n_ij AS DOUBLE) / (wa.w + wb.w))
        |      AS den FROM g JOIN it0 wa ON g.i = wa.i
        |      JOIN it0 wb ON g.j = wb.i GROUP BY 1) d ON wt.i = d.i)),
        |it2 AS (SELECT i, round(raw / sum(raw) OVER (), 9) AS w FROM (
        |  SELECT wt.i, CAST(wt.n_wins AS DOUBLE) / d.den AS raw FROM wt
        |  JOIN (SELECT g.i, sum(CAST(g.n_ij AS DOUBLE) / (wa.w + wb.w))
        |      AS den FROM g JOIN it1 wa ON g.i = wa.i
        |      JOIN it1 wb ON g.j = wb.i GROUP BY 1) d ON wt.i = d.i)),
        |it3 AS (SELECT i, round(raw / sum(raw) OVER (), 9) AS w FROM (
        |  SELECT wt.i, CAST(wt.n_wins AS DOUBLE) / d.den AS raw FROM wt
        |  JOIN (SELECT g.i, sum(CAST(g.n_ij AS DOUBLE) / (wa.w + wb.w))
        |      AS den FROM g JOIN it2 wa ON g.i = wa.i
        |      JOIN it2 wb ON g.j = wb.i GROUP BY 1) d ON wt.i = d.i)),
        |it4 AS (SELECT i, round(raw / sum(raw) OVER (), 9) AS w FROM (
        |  SELECT wt.i, CAST(wt.n_wins AS DOUBLE) / d.den AS raw FROM wt
        |  JOIN (SELECT g.i, sum(CAST(g.n_ij AS DOUBLE) / (wa.w + wb.w))
        |      AS den FROM g JOIN it3 wa ON g.i = wa.i
        |      JOIN it3 wb ON g.j = wb.i GROUP BY 1) d ON wt.i = d.i)),
        |it5 AS (SELECT i, round(raw / sum(raw) OVER (), 9) AS w FROM (
        |  SELECT wt.i, CAST(wt.n_wins AS DOUBLE) / d.den AS raw FROM wt
        |  JOIN (SELECT g.i, sum(CAST(g.n_ij AS DOUBLE) / (wa.w + wb.w))
        |      AS den FROM g JOIN it4 wa ON g.i = wa.i
        |      JOIN it4 wb ON g.j = wb.i GROUP BY 1) d ON wt.i = d.i))
        |SELECT wt.i AS event_type, n_games, n_wins, it5.w AS strength,
        |  CAST(row_number() OVER (ORDER BY it5.w DESC, wt.i) AS BIGINT)
        |    AS rank
        |FROM wt JOIN it5 ON wt.i = it5.i""".stripMargin,

    // 16-bit LE PCM replayed on the pure-ASCII text bytes (char i IS
    // byte i); self-thresholded activity + gaps-and-islands runs
    "q232_audio_activity" ->
      """WITH f AS (
        |  SELECT d.doc_id AS media_id, g.fr,
        |    (SELECT sum(ascii(substr(d.text,
        |          CAST(g.fr * 32 + 2 * s.i + 1 AS BIGINT), 1))
        |        + 256 * ascii(substr(d.text,
        |          CAST(g.fr * 32 + 2 * s.i + 2 AS BIGINT), 1)))
        |     FROM generate_series(0, 15) s(i)) AS energy
        |  FROM documents d, LATERAL (SELECT
        |    unnest(generate_series(0,
        |      CAST(length(d.text) // 32 - 1 AS BIGINT))) AS fr) g),
        |m AS (SELECT media_id, count(*) AS nf, sum(energy) AS tot
        |  FROM f GROUP BY 1),
        |a AS (SELECT f.media_id, f.fr FROM f JOIN m USING (media_id)
        |  WHERE f.energy * m.nf > m.tot),
        |runs AS (SELECT media_id,
        |    fr - row_number() OVER (PARTITION BY media_id ORDER BY fr)
        |      AS grp
        |  FROM a),
        |rl AS (SELECT media_id, count(*) AS run_len FROM runs
        |  GROUP BY media_id, grp),
        |agg AS (SELECT media_id, sum(run_len) AS n_active,
        |    max(run_len) AS longest FROM rl GROUP BY 1)
        |SELECT d.doc_id AS media_id,
        |  CAST(coalesce(m.nf, 0) AS BIGINT) AS n_frames,
        |  CAST(coalesce(m.tot, 0) AS BIGINT) AS total_energy,
        |  CAST(coalesce(agg.n_active, 0) AS BIGINT) AS n_active,
        |  CAST(CASE WHEN coalesce(m.nf, 0) = 0 THEN 0
        |    ELSE coalesce(agg.n_active, 0) * 1000000 // m.nf END
        |    AS BIGINT) AS active_ppm,
        |  CAST(coalesce(agg.longest, 0) AS BIGINT) AS longest_run
        |FROM documents d LEFT JOIN m ON d.doc_id = m.media_id
        |LEFT JOIN agg ON d.doc_id = agg.media_id""".stripMargin,

    "q233_skew_playbook" ->
      """WITH fact AS (
        |  SELECT CASE WHEN user_id % 10 < 8 THEN 0
        |              ELSE user_id % 100 END AS hot_key,
        |    event_id,
        |    CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM events),
        |h0 AS (SELECT hot_key, cents,
        |  (event_id * 2654435761 + 1013904223) % 1099511627776 AS h1
        |  FROM fact),
        |hx AS (SELECT hot_key, cents, xor(h1, h1 // 1048576) AS h2
        |  FROM h0),
        |hy AS (SELECT hot_key, cents,
        |  ((h2 % 4294967296) * 1540483477 + 99991) % 1099511627776 AS h3
        |  FROM hx),
        |h AS (SELECT hot_key, cents, xor(h3, h3 // 131072) % 16 AS salt
        |  FROM hy),
        |pb AS (
        |  SELECT hot_key, salt, count(*) AS bn,
        |    CAST(sum(cents * (hot_key + 1)) AS BIGINT) AS wc
        |  FROM h GROUP BY 1, 2)
        |SELECT hot_key, CAST(sum(bn) AS BIGINT) AS n_rows,
        |  count(*) AS n_buckets_used,
        |  max(bn) AS bucket_max, min(bn) AS bucket_min,
        |  CAST(sum(wc) AS BIGINT) AS sum_weighted_cents
        |FROM pb GROUP BY 1""".stripMargin,

    // exact tie-corrected doubled rank-sum; auc is the single IEEE
    // division of the integer statistics (div1 class)
    "q234_group_auc" ->
      """WITH base AS (
        |  SELECT lang AS grp, n_chars AS score,
        |    CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bs AS (SELECT grp, score, CAST(sum(pos) AS BIGINT) AS pc,
        |    CAST(sum(1 - pos) AS BIGINT) AS nc
        |  FROM base GROUP BY 1, 2),
        |c AS (SELECT grp, pc, nc,
        |    CAST(coalesce(sum(nc) OVER (PARTITION BY grp ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below_neg
        |  FROM bs)
        |SELECT grp, CAST(sum(pc) AS BIGINT) AS n_pos,
        |  CAST(sum(nc) AS BIGINT) AS n_neg,
        |  CAST(sum(pc * (below_neg * 2 + nc)) AS BIGINT) AS u2,
        |  CASE WHEN sum(pc) = 0 OR sum(nc) = 0 THEN -1.0
        |    ELSE CAST(sum(pc * (below_neg * 2 + nc)) AS DOUBLE)
        |      / CAST(sum(pc) * sum(nc) * 2 AS DOUBLE) END AS auc
        |FROM c GROUP BY 1""".stripMargin,

    // lcm(1..10)=2520-cleared integer AP numerator; ap is the single
    // IEEE division (div1 class)
    "q235_avg_precision" ->
      """WITH base AS (
        |  SELECT lang AS grp, n_chars AS score,
        |    CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS rel,
        |    doc_id AS tb
        |  FROM documents),
        |r AS (SELECT grp, rel,
        |    CAST(row_number() OVER (PARTITION BY grp
        |      ORDER BY score DESC, tb) AS BIGINT) AS r,
        |    CAST(sum(rel) OVER (PARTITION BY grp ORDER BY score DESC, tb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_rel,
        |    CAST(sum(rel) OVER (PARTITION BY grp) AS BIGINT) AS n_pos
        |  FROM base)
        |SELECT grp, CAST(max(n_pos) AS BIGINT) AS n_pos,
        |  CAST(sum(rel) AS BIGINT) AS pos_at_k,
        |  CAST(sum(CASE WHEN rel = 1 THEN cum_rel * (2520 // r)
        |    ELSE 0 END) AS BIGINT) AS ap_num,
        |  CASE WHEN max(n_pos) = 0 THEN -1.0
        |    ELSE CAST(sum(CASE WHEN rel = 1 THEN cum_rel * (2520 // r)
        |        ELSE 0 END) AS DOUBLE)
        |      / CAST(least(max(n_pos), 10) * 2520 AS DOUBLE) END AS ap
        |FROM r WHERE r <= 10 GROUP BY 1""".stripMargin,

    "q236_join_fanout" ->
      """WITH p1 AS (SELECT o_orderkey AS k, count(*) AS pn
        |    FROM orders GROUP BY 1),
        |c1 AS (SELECT l_orderkey AS k, count(*) AS cn
        |    FROM lineitem GROUP BY 1),
        |j1 AS (SELECT pn, cn FROM p1 FULL OUTER JOIN c1 USING (k)),
        |p2 AS (SELECT c_custkey AS k, count(*) AS pn
        |    FROM customer GROUP BY 1),
        |c2 AS (SELECT o_custkey AS k, count(*) AS cn
        |    FROM orders GROUP BY 1),
        |j2 AS (SELECT pn, cn FROM p2 FULL OUTER JOIN c2 USING (k)),
        |a1 AS (SELECT 'orders->lineitem' AS relationship,
        |  CAST(sum(CASE WHEN pn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS parent_keys,
        |  CAST(coalesce(sum(cn), 0) AS BIGINT) AS child_rows,
        |  CAST(sum(CASE WHEN pn IS NOT NULL AND cn IS NOT NULL THEN 1
        |    ELSE 0 END) AS BIGINT) AS matched_keys,
        |  CAST(coalesce(sum(CASE WHEN pn IS NULL THEN cn END), 0)
        |    AS BIGINT) AS orphan_child_rows,
        |  CAST(coalesce(max(CASE WHEN pn IS NOT NULL
        |    THEN coalesce(cn, 0) END), 0) AS BIGINT) AS max_fanout,
        |  CASE WHEN sum(CASE WHEN pn IS NOT NULL AND cn IS NOT NULL
        |      THEN 1 ELSE 0 END) = 0 THEN -1.0
        |    ELSE CAST(coalesce(sum(CASE WHEN pn IS NOT NULL THEN cn END),
        |        0) AS DOUBLE)
        |      / CAST(sum(CASE WHEN pn IS NOT NULL AND cn IS NOT NULL
        |        THEN 1 ELSE 0 END) AS DOUBLE) END AS avg_fanout
        |  FROM j1),
        |a2 AS (SELECT 'customer->orders' AS relationship,
        |  CAST(sum(CASE WHEN pn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS parent_keys,
        |  CAST(coalesce(sum(cn), 0) AS BIGINT) AS child_rows,
        |  CAST(sum(CASE WHEN pn IS NOT NULL AND cn IS NOT NULL THEN 1
        |    ELSE 0 END) AS BIGINT) AS matched_keys,
        |  CAST(coalesce(sum(CASE WHEN pn IS NULL THEN cn END), 0)
        |    AS BIGINT) AS orphan_child_rows,
        |  CAST(coalesce(max(CASE WHEN pn IS NOT NULL
        |    THEN coalesce(cn, 0) END), 0) AS BIGINT) AS max_fanout,
        |  CASE WHEN sum(CASE WHEN pn IS NOT NULL AND cn IS NOT NULL
        |      THEN 1 ELSE 0 END) = 0 THEN -1.0
        |    ELSE CAST(coalesce(sum(CASE WHEN pn IS NOT NULL THEN cn END),
        |        0) AS DOUBLE)
        |      / CAST(sum(CASE WHEN pn IS NOT NULL AND cn IS NOT NULL
        |        THEN 1 ELSE 0 END) AS DOUBLE) END AS avg_fanout
        |  FROM j2)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2""".stripMargin,

    // ordered string_agg replays the render; fp is the q15 kernel over
    // the rendered string
    "q237_chat_template" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    '<|' || (CASE WHEN event_type IN ('click','purchase','signup')
        |      THEN 'user' ELSE 'assistant' END)
        |    || '|>' || event_type || ':' ||
        |    CAST(CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS VARCHAR) || chr(10) AS piece
        |  FROM events),
        |r AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
        |    '<|sys|>chat' || chr(10) ||
        |      string_agg(piece, '' ORDER BY ts, event_id) AS rendered
        |  FROM t GROUP BY 1)
        |SELECT user_id, n_turns,
        |  CAST(length(rendered) AS BIGINT) AS render_len,
        |  CAST(coalesce(list_sum(list_transform(
        |    generate_series(1, length(rendered)),
        |    i -> CAST(ascii(substr(rendered, i, 1)) AS BIGINT)
        |         * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |    AS BIGINT) AS fp
        |FROM r""".stripMargin,

    "q238_markdown_audit" ->
      """WITH m AS (
        |  SELECT source,
        |    (CASE WHEN doc_id % 2 = 0 THEN
        |      repeat('#', CAST(doc_id % 3 AS INT) + 1) || ' heading'
        |        || chr(10) ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN
        |      '- item a' || chr(10) || '- item b' || chr(10) ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN
        |      '```' || chr(10) || 'code ' || CAST(doc_id AS VARCHAR)
        |        || chr(10) || '```' || chr(10) ELSE '' END)
        |    || substr(text, 1, 50) || chr(10)
        |    || repeat('[t](u)', CAST(doc_id % 4 AS INT)) AS md
        |  FROM documents),
        |l AS (SELECT source, md, string_split(md, chr(10)) AS lines
        |  FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(md)) AS BIGINT) AS md_chars,
        |  CAST(sum(len(lines)) AS BIGINT) AS n_lines,
        |  CAST(sum(len(list_filter(lines,
        |    x -> regexp_matches(x, '^#{1,6} ')))) AS BIGINT)
        |    AS heading_lines,
        |  CAST(sum(len(list_filter(lines, x -> x = '```')) // 2)
        |    AS BIGINT) AS fenced_blocks,
        |  CAST(sum(len(list_filter(lines, x -> starts_with(x, '- '))))
        |    AS BIGINT) AS list_items,
        |  CAST(sum(len(regexp_extract_all(md,
        |    '\[[^\]]*\]\([^)]*\)'))) AS BIGINT) AS links
        |FROM l GROUP BY 1""".stripMargin,

    // independent analytic derivation: pieces are globally unique
    // (event_id suffix), so consecutive sliding windows share a prefix
    // only while they share their START (rk <= contextPieces within a
    // segment) — shared = rk-1 pieces / the cumulative char mass; any
    // slid or fresh-segment window shares nothing
    "q239_prefix_cache" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    event_type || ':' || CAST(event_id AS VARCHAR) AS piece,
        |    CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS rst
        |  FROM events),
        |s AS (SELECT *, sum(rst) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM e),
        |r AS (SELECT user_id, seg, length(piece) AS plen,
        |    CAST(row_number() OVER (PARTITION BY user_id, seg
        |      ORDER BY ts, event_id) AS BIGINT) AS rk,
        |    CAST(sum(length(piece)) OVER (PARTITION BY user_id, seg
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS win_chars,
        |    CAST(sum(length(piece)) OVER (PARTITION BY user_id, seg
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_chars
        |  FROM s),
        |p AS (SELECT user_id, seg, rk,
        |    least(rk, 8) AS prompt_pieces, win_chars AS prompt_chars,
        |    CASE WHEN rk = 1 THEN 0 WHEN rk <= 8 THEN rk - 1
        |      ELSE 0 END AS shared_pieces,
        |    CASE WHEN rk = 1 THEN 0 WHEN rk <= 8 THEN cum_chars - plen
        |      ELSE 0 END AS shared_chars
        |  FROM r)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_requests,
        |  CAST(count(DISTINCT seg) AS BIGINT) AS n_segments,
        |  CAST(sum(shared_pieces) AS BIGINT) AS shared_pieces,
        |  CAST(sum(prompt_pieces) AS BIGINT) AS prompt_pieces,
        |  CAST(sum(shared_chars) AS BIGINT) AS shared_chars,
        |  CAST(sum(prompt_chars) AS BIGINT) AS prompt_chars,
        |  CAST(sum(shared_chars) * 1000000 // sum(prompt_chars)
        |    AS BIGINT) AS reuse_ppm
        |FROM p GROUP BY 1""".stripMargin,

    // bigram fingerprint -> mix40 low bit (the q233 mix40 replay); z is
    // the chain class: one IEEE sqrt of an exact int + one division
    "q240_watermark_detect" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || repeat(' wm', 60)
        |      ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
        |pr AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(2, len(toks)),
        |      i -> toks[i-1] || '|' || toks[i])) AS pair
        |  FROM tk),
        |fp AS (SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(
        |      generate_series(1, length(pair)),
        |      i -> CAST(ascii(substr(pair, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |      AS BIGINT) AS f
        |  FROM pr),
        |mx AS (SELECT doc_id, xor(h3, h3 // 131072) % 2 AS par FROM (
        |    SELECT doc_id, ((h2 % 4294967296) * 1540483477 + 99991)
        |        % 1099511627776 AS h3 FROM (
        |      SELECT doc_id, xor(h1, h1 // 1048576) AS h2 FROM (
        |        SELECT doc_id, (f * 2654435761 + 1013904223)
        |            % 1099511627776 AS h1 FROM fp)))),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_green
        |  FROM mx GROUP BY 1)
        |SELECT a.doc_id, coalesce(g.n_pairs, 0) AS n_pairs,
        |  coalesce(g.n_green, 0) AS n_green,
        |  CASE WHEN coalesce(g.n_pairs, 0) = 0 THEN 0.0
        |    ELSE CAST(2 * g.n_green - g.n_pairs AS DOUBLE)
        |      / sqrt(CAST(g.n_pairs AS DOUBLE)) END AS z,
        |  (CASE WHEN coalesce(g.n_pairs, 0) = 0 THEN 0.0
        |    ELSE CAST(2 * g.n_green - g.n_pairs AS DOUBLE)
        |      / sqrt(CAST(g.n_pairs AS DOUBLE)) END) > 4.0 AS detected
        |FROM aug a LEFT JOIN g USING (doc_id)""".stripMargin,

    // independent analytic derivation: accepted = least(p - 1, T)
    "q241_spec_decode" ->
      """WITH t AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tt,
        |    (doc_id * 7 + 3) % 20 + 1 AS p
        |  FROM documents),
        |a AS (SELECT source, tt,
        |    CASE WHEN p <= tt THEN p - 1 ELSE tt END AS acc,
        |    CASE WHEN p > tt THEN 1 ELSE 0 END AS fl
        |  FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tt) AS BIGINT) AS target_toks,
        |  CAST(sum(acc) AS BIGINT) AS accept_toks,
        |  CAST(sum(fl) AS BIGINT) AS full_accept_docs,
        |  CAST(sum(acc) * 1000000 // sum(tt) AS BIGINT) AS accept_ppm
        |FROM a GROUP BY 1""".stripMargin,

    "q242_krippendorff" ->
      """WITH v AS (
        |  SELECT doc_id AS item_id, doc_id % 4 AS label FROM documents
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN (doc_id + 1) % 4
        |    ELSE doc_id % 4 END FROM documents
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN (doc_id + 2) % 4
        |    ELSE doc_id % 4 END FROM documents
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN (doc_id + 3) % 4
        |    ELSE doc_id % 4 END FROM documents WHERE doc_id % 2 = 0),
        |uc AS (SELECT item_id, label, count(*) AS n_uc FROM v
        |  GROUP BY 1, 2),
        |m AS (SELECT *, sum(n_uc) OVER (PARTITION BY item_id) AS m_u
        |  FROM uc),
        |k AS (SELECT * FROM m WHERE m_u >= 2),
        |a AS (SELECT count(DISTINCT item_id) AS n_units,
        |    sum(n_uc) AS n_votes,
        |    sum(n_uc * (m_u - n_uc) * (2520 // (m_u - 1))) AS do_scaled
        |  FROM k),
        |lm AS (SELECT label, sum(n_uc) AS n_c FROM k GROUP BY 1),
        |nn AS (SELECT sum(n_c) AS n FROM lm),
        |b AS (SELECT sum(n_c * (n - n_c)) AS de_scaled FROM lm, nn)
        |SELECT CAST(a.n_units AS BIGINT) AS n_units,
        |  CAST(a.n_votes AS BIGINT) AS n_votes,
        |  CAST(a.do_scaled AS BIGINT) AS do_scaled,
        |  CAST(b.de_scaled AS BIGINT) AS de_scaled,
        |  CASE WHEN b.de_scaled = 0 THEN -1.0
        |    ELSE CAST(b.de_scaled * 2520 - a.do_scaled * (a.n_votes - 1)
        |        AS DOUBLE)
        |      / CAST(b.de_scaled * 2520 AS DOUBLE) END AS alpha
        |FROM a, b""".stripMargin,

    // q194 tokenize/logit + the q74 HUGEINT moments shape; lambda var
    // deliberately NOT named x/y (would shadow the moment columns)
    "q243_reward_length_bias" ->
      """WITH t AS (SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |f AS (SELECT source, CAST(len(tk) AS HUGEINT) AS x,
        |    CAST(-60000000 + 500000 * len(tk)
        |      + 2000000 * len(list_filter(tk, q ->
        |          q IN ('the','of','and','a','to','in','is')))
        |      + 1000000 * len(list_distinct(tk)) AS HUGEINT) AS y
        |  FROM t),
        |a AS (SELECT source, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM f GROUP BY 1),
        |c AS (SELECT source, n, n * sxy - sx * sy AS covn,
        |    n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy, sx, sy
        |  FROM a)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  CASE WHEN vx > 0 AND vy > 0 THEN CAST(covn AS DOUBLE)
        |    / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) END AS corr,
        |  CASE WHEN vx > 0 THEN CAST(covn AS DOUBLE)
        |    / CAST(vx AS DOUBLE) END AS slope_micro_per_tok,
        |  CASE WHEN vx > 0 THEN CAST(vx * sy - covn * sx AS DOUBLE)
        |    / CAST(n * vx AS DOUBLE) END AS intercept,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    CAST(covn AS DOUBLE) * CAST(covn AS DOUBLE)
        |      / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) END AS r2
        |FROM c""".stripMargin,

    "q244_group_advantage" ->
      """WITH t AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 % 7 AS dow,
        |    CASE WHEN CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100
        |      AS BIGINT) > 1000 THEN 1 ELSE 0 END AS r
        |  FROM events),
        |g AS (SELECT user_id, dow, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS BIGINT) AS s, CAST(sum(r * r) AS BIGINT) AS s2,
        |    max(r) AS rmax, min(r) AS rmin
        |  FROM t GROUP BY 1, 2)
        |SELECT user_id, dow, n, s AS sum_r,
        |  n * s2 - s * s AS var_num,
        |  (n * s2 - s * s = 0) AS degenerate,
        |  CASE WHEN n * s2 - s * s = 0 THEN 0.0
        |    ELSE CAST(n * rmax - s AS DOUBLE)
        |      / sqrt(CAST(n * s2 - s * s AS DOUBLE)) END AS max_adv,
        |  CASE WHEN n * s2 - s * s = 0 THEN 0.0
        |    ELSE CAST(n * rmin - s AS DOUBLE)
        |      / sqrt(CAST(n * s2 - s * s AS DOUBLE)) END AS min_adv
        |FROM g""".stripMargin,

    // the q36 closure at threshold 0.55, plus singleton clusters and
    // the size histogram
    "q245_neardup_clusters" ->
      s"""WITH RECURSIVE ${docs50PairsSql(0.55)},
        |${closureSql("pairs", "doc")},
        |$compSql,
        |${clusterSizesSql("WHERE doc_id < 50")}""".stripMargin,

    // q194 logit -> fixed linear squash to [0,1e6]; per-decile exact
    // integer gaps; worst bin via the packed-BIGINT argmax
    "q246_ece_calibration" ->
      """WITH t AS (SELECT source, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |f AS (SELECT source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CAST(-60000000 + 500000 * len(tk)
        |      + 2000000 * len(list_filter(tk, q ->
        |          q IN ('the','of','and','a','to','in','is')))
        |      + 1000000 * len(list_distinct(tk)) AS BIGINT) AS logit
        |  FROM t),
        |c AS (SELECT source, pos,
        |    least(1000000, greatest(0, (logit + 60000000) // 120)) AS conf
        |  FROM f),
        |b AS (SELECT source, least(conf // 100000, 9) AS bin,
        |    CAST(count(*) AS BIGINT) AS nb, CAST(sum(pos) AS BIGINT) AS pb,
        |    CAST(sum(conf) AS BIGINT) AS sc
        |  FROM c GROUP BY 1, 2),
        |g AS (SELECT source, bin, nb, pb, sc,
        |    abs(pb * 1000000 - sc) AS gap_num FROM b)
        |SELECT source, CAST(sum(nb) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(gap_num) AS BIGINT) AS ece_num,
        |  CAST(sum(gap_num) AS DOUBLE)
        |    / CAST(sum(nb) * 1000000 AS DOUBLE) AS ece,
        |  CAST(max(gap_num * 16 + bin) % 16 AS BIGINT) AS worst_bin,
        |  CAST(max(gap_num * 16 + bin) // 16 AS BIGINT) AS worst_gap_num
        |FROM g GROUP BY 1""".stripMargin,

    // chat-template piece chars (q237 cents rendering), running context,
    // ceil-div 16-token pages; frag_ppm = one division of exact ints
    "q247_kv_cache_pager" ->
      """WITH t AS (SELECT user_id, ts, event_id,
        |    CAST(length(event_type) + 2 + length(CAST(
        |      CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS VARCHAR)) AS BIGINT) AS piece_len
        |  FROM events),
        |c AS (SELECT user_id,
        |    CAST(sum(piece_len) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS ctx
        |  FROM t),
        |p AS (SELECT user_id, ctx, (ctx + 15) // 16 AS pages FROM c)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
        |  max(ctx) AS peak_ctx, max(pages) AS peak_pages,
        |  CAST(sum(pages) AS BIGINT) AS page_turns,
        |  CAST(sum(pages * 16 - ctx) AS BIGINT) AS frag_tokens,
        |  CAST(sum(pages * 16 - ctx) * 1000000 AS DOUBLE)
        |    / CAST(sum(pages) * 16 AS DOUBLE) AS frag_ppm
        |FROM p GROUP BY 1""".stripMargin,

    // CUSUM closed form: prefix sum of 4N-scaled residuals, running min,
    // S = P - min(0, min P); alarm at h = mean (4T scaled) — all integers
    "q248_cusum_daily" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |s AS (SELECT day, x,
        |    CAST(count(*) OVER () AS BIGINT) AS n_days,
        |    CAST(sum(x) OVER () AS BIGINT) AS total
        |  FROM d),
        |p AS (SELECT day, x, n_days, total,
        |    CAST(sum(x * 4 * n_days - total * 5) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p_scaled
        |  FROM s),
        |m AS (SELECT day, x, n_days, total, p_scaled,
        |    p_scaled - least(CAST(0 AS BIGINT), min(p_scaled)
        |      OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS s_scaled
        |  FROM p)
        |SELECT day, x, n_days, total, p_scaled, s_scaled,
        |  s_scaled > total * 4 AS alarm
        |FROM m""".stripMargin,

    // exact corpus sums; the two scores in the same written form on both
    // engines (integer-fed per-row IEEE arithmetic, parity rule 1)
    "q249_readability" ->
      """WITH t AS (SELECT source,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
        |      AS BIGINT), 1) AS s,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS y
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(s) AS BIGINT) AS n_sentences,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(y) AS BIGINT) AS n_syllables,
        |  CASE WHEN sum(w) = 0 THEN NULL
        |    ELSE 206.835 - 1.015 * (CAST(sum(w) AS DOUBLE)
        |        / CAST(sum(s) AS DOUBLE))
        |      - 84.6 * (CAST(sum(y) AS DOUBLE) / CAST(sum(w) AS DOUBLE))
        |    END AS flesch,
        |  CASE WHEN sum(w) = 0 THEN NULL
        |    ELSE 0.39 * (CAST(sum(w) AS DOUBLE) / CAST(sum(s) AS DOUBLE))
        |      + 11.8 * (CAST(sum(y) AS DOUBLE) / CAST(sum(w) AS DOUBLE))
        |      - 15.59 END AS fk_grade
        |FROM t GROUP BY 1""".stripMargin,

    // the packed-BIGINT bucket fold replayed by list_reduce over the
    // same (ts, event_id)-sorted inter-arrival list: acc = adm*1e7+level
    "q250_token_bucket" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |d AS (SELECT user_id, ts_us, event_id,
        |    coalesce(ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id), 0) AS dt
        |  FROM e),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    list(dt ORDER BY ts_us, event_id) AS dts
        |  FROM d GROUP BY 1),
        |f AS (SELECT user_id, n_events,
        |    list_reduce(list_prepend(CAST(5000000 AS BIGINT),
        |      list_transform(dts, q -> CAST(q AS BIGINT))),
        |      (a, x) -> CASE
        |        WHEN least(CAST(5000000 AS BIGINT),
        |            a % 10000000 + x * 2) >= 1000000
        |        THEN (a // 10000000 + 1) * 10000000
        |          + least(CAST(5000000 AS BIGINT), a % 10000000 + x * 2)
        |          - 1000000
        |        ELSE (a // 10000000) * 10000000
        |          + least(CAST(5000000 AS BIGINT), a % 10000000 + x * 2)
        |        END) AS acc
        |  FROM g)
        |SELECT user_id, n_events,
        |  CAST(acc // 10000000 AS BIGINT) AS n_admitted,
        |  CAST(n_events - acc // 10000000 AS BIGINT) AS n_rejected,
        |  CAST(acc % 10000000 AS BIGINT) AS final_level_micro,
        |  CAST(acc // 10000000 * 1000000 // n_events AS BIGINT)
        |    AS admit_ppm
        |FROM f""".stripMargin,

    // exact cross-rate evidence per token occurrence, doc then source
    // rollup; empty docs never reach the readout (no occurrences)
    "q251_freq_ratio_select" ->
      """WITH occ AS (SELECT doc_id, source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
        |    unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, CAST(sum(is_t) AS BIGINT) AS ct,
        |    CAST(sum(1 - is_t) AS BIGINT) AS cr
        |  FROM occ GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
        |    CAST(sum(cr) AS BIGINT) AS nr FROM vocab),
        |ds AS (SELECT o.doc_id, o.source, o.is_t,
        |    CAST(sum(v.ct * t.nr - v.cr * t.nt) AS BIGINT) AS score
        |  FROM occ o JOIN vocab v ON v.tok = o.tok, tot t
        |  GROUP BY 1, 2, 3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(is_t) AS BIGINT) AS n_target_docs,
        |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS pos_docs,
        |  CAST(sum(score) AS BIGINT) AS sum_score,
        |  CAST(sum(score) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_score
        |FROM ds GROUP BY 1""".stripMargin,

    // dHash over the 9×8 text raster: bit (r,c) = luma(r,c) < luma(r,c+1),
    // kept as four 16-bit bands; band-equality join → exact Hamming ≤ 16
    "q252_dhash_neardup" ->
      s"""WITH ${dhashBandsSql("bands")},
        |${bandCandidatesSql("cand", "bands", "v")},
        |ham AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(sum(bit_count(xor(xa.v, ya.v))) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bands xa ON xa.doc_id = c.doc_a
        |  JOIN bands ya ON ya.doc_id = c.doc_b AND ya.band = xa.band
        |  GROUP BY c.doc_a, c.doc_b)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 16""".stripMargin,

    "q253_dhash_clusters" ->
      s"""$dhashClosureSql,
        |${clusterSizesSql("WHERE n_chars >= 72")}""".stripMargin,

    // q214 quota chain → q225 exposure pick → pass explode → q89 greedy
    // pack (recursive) → q222 digest with pass mixed per term
    "q254_train_run_prep" ->
      raw"""WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    'len' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |      AS source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS n_tokens,
        |    (coalesce(list_sum(list_transform(generate_series(1,
        |      length(text)),
        |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)
        |           * ((i * 2654435761) % 1000003))), 0) % 2147483648
        |     + (doc_id * 2654435761 + 1013904223) % 2147483648)
        |      % 2147483648 AS inr
        |  FROM documents),
        |n AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1),
        |${quotaSql("n", 3, 1)},
        |rkd AS (SELECT d.*, row_number() OVER (PARTITION BY d.source
        |    ORDER BY (d.doc_id * 2654435761 + 1013904223) % 2147483648,
        |      d.doc_id) AS rk
        |  FROM d),
        |exp AS (SELECT rkd.source, rkd.doc_id, rkd.n_tokens, rkd.inr,
        |    quota.quota // quota.n_docs
        |      + CASE WHEN rkd.rk <= quota.quota % quota.n_docs
        |             THEN 1 ELSE 0 END AS exposures
        |  FROM rkd JOIN quota ON quota.source = rkd.source),
        |stream AS (SELECT source, doc_id, n_tokens,
        |    (inr + p.pass * 1013904223) % 2147483648 AS inrp, p.pass
        |  FROM exp, LATERAL (SELECT
        |    unnest(generate_series(1, CAST(exposures AS BIGINT)))
        |      AS pass) p
        |  WHERE exposures > 0),
        |m1 AS (SELECT source, doc_id, n_tokens, pass,
        |    (inrp * 2654435761 + 1013904223) % 1099511627776 AS h1
        |  FROM stream),
        |m2 AS (SELECT source, doc_id, n_tokens, pass,
        |    xor(h1, h1 // 1048576) AS h2 FROM m1),
        |m3 AS (SELECT source, doc_id, n_tokens, pass,
        |    ((h2 % 4294967296) * 1540483477 + 99991) % 1099511627776 AS h3
        |  FROM m2),
        |t AS (SELECT source, doc_id, n_tokens, pass,
        |    xor(h3, h3 // 131072) % 2147483648 AS term FROM m3),
        |idx AS (SELECT source, doc_id, n_tokens, pass, term,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY pass, doc_id) AS i
        |  FROM t),
        |pack AS (
        |  SELECT source, doc_id, n_tokens, i,
        |    CAST(1 AS BIGINT) AS bin, n_tokens AS cum
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.source, x.doc_id, x.n_tokens, x.i,
        |    CASE WHEN p.cum + x.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.cum + x.n_tokens > 256 THEN x.n_tokens
        |         ELSE p.cum + x.n_tokens END
        |  FROM idx x JOIN pack p ON p.source = x.source AND x.i = p.i + 1),
        |roll AS (SELECT source, count(*) AS n_rows,
        |    CAST(sum(n_tokens) AS BIGINT) AS packed_tokens,
        |    CAST(sum(term) % 2147483648 AS BIGINT) AS digest
        |  FROM idx GROUP BY 1),
        |bins AS (SELECT source, max(bin) AS n_bins FROM pack GROUP BY 1)
        |SELECT quota.source, CAST(quota.n_docs AS BIGINT) AS n_docs,
        |  CAST(quota.quota AS BIGINT) AS quota,
        |  CAST((quota.quota * 1000) // quota.n_docs AS BIGINT)
        |    AS epochs_x1000,
        |  CAST(coalesce(roll.n_rows, 0) AS BIGINT) AS n_rows,
        |  CAST(coalesce(bins.n_bins, 0) AS BIGINT) AS n_bins,
        |  CAST(coalesce(roll.packed_tokens, 0) AS BIGINT) AS packed_tokens,
        |  CAST(coalesce(roll.digest, 0) AS BIGINT) AS digest
        |FROM quota LEFT JOIN roll ON roll.source = quota.source
        |LEFT JOIN bins ON bins.source = quota.source""".stripMargin,

    // q252's band/pair chain closed to components (q78's keeper policy:
    // longest text, min doc_id ties) — only docs in ≥1 pair appear
    "q255_dhash_keeper" ->
      s"""$dhashClosureSql,
        |$keeperSql
        |SELECT doc_id, comp, n_chars, group_size, keep_doc,
        |  doc_id = keep_doc AS is_kept
        |FROM sel""".stripMargin,

    // q24's projection/bucket/cosine chain → pairs → recursive CC →
    // cluster-size histogram over every embedding row
    "q256_embed_dedup_clusters" ->
      s"""WITH RECURSIVE $lshBucketsSql,
        |${lshPairsSql("pairs", "vec")},
        |${closureSql("pairs", "vec")},
        |$compSql,
        |assign AS (SELECT v.vec_id, coalesce(c.comp, v.vec_id) AS comp
        |  FROM (SELECT vec_id FROM embeddings) v
        |  LEFT JOIN comp c ON c.node = v.vec_id),
        |cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM assign GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_vecs,
        |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS vecs_removed
        |FROM cs GROUP BY 1""".stripMargin,

    "q257_greedy_coverage" -> greedyCoverageOracle(6),

    // exact per-bin χ² numerators; one division per row (div1 class)
    "q258_chi2_drift" ->
      """WITH a AS (SELECT n_chars // 100 AS bin, count(*) AS c1
        |  FROM documents GROUP BY 1),
        |b AS (SELECT n_chars // 100 AS bin, count(*) AS c2
        |  FROM documents
        |  WHERE NOT (n_chars > 300 AND doc_id % 3 = 0) GROUP BY 1),
        |h AS (SELECT coalesce(a.bin, b.bin) AS bin,
        |    CAST(coalesce(c1, 0) AS BIGINT) AS c1,
        |    CAST(coalesce(c2, 0) AS BIGINT) AS c2
        |  FROM a FULL OUTER JOIN b ON a.bin = b.bin),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM h)
        |SELECT h.bin, h.c1, h.c2,
        |  CAST((t.n2 * h.c1 - t.n1 * h.c2) * (t.n2 * h.c1 - t.n1 * h.c2)
        |    AS BIGINT) AS term_num,
        |  CAST(t.n1 * t.n2 * (h.c1 + h.c2) AS BIGINT) AS term_den,
        |  CAST((t.n2 * h.c1 - t.n1 * h.c2) * (t.n2 * h.c1 - t.n1 * h.c2)
        |    AS DOUBLE) / CAST(t.n1 * t.n2 * (h.c1 + h.c2) AS DOUBLE)
        |    AS term
        |FROM h, t""".stripMargin,

    // q252's band chain with the join restricted to NEW × CORPUS
    "q259_dhash_gate" -> dhashGateOracle,
    // round 18: the persisted-dhash-index form shares q259's oracle
    // verbatim — the versioned path must not move a hash
    "q275_dhash_index_versioned" -> dhashGateOracle,

    // cross-modal capstone: the q78 MinHash chain (full corpus, 0.55) +
    // q252's dHash chain + q256's LSH-cosine chain, pair graphs tagged
    // 1/2/4, unioned into ONE transitive closure and ONE keeper window;
    // modality_mask = Σ distinct tags per doc
    "q260_crossmodal_keeper" ->
      s"""WITH RECURSIVE ${shinglesSql("sh", 5, "")},
        |${minhashSql("mh", "sh")},
        |${bandSigSql("mbands", "mh")},
        |${bandCandidatesSql("mcand", "mbands", "band_sig")},
        |${jaccardPairsSql("tpairs", "mcand", 0.55)},
        |${dhashBandsSql("dbands")},
        |${bandCandidatesSql("dcand", "dbands", "v")},
        |${hammingPairsSql("dpairs", "dcand", "dbands")},
        |$lshBucketsSql,
        |${lshPairsSql("epairs", "doc")},
        |tagged AS (
        |  SELECT doc_a, doc_b, 1 AS m FROM tpairs
        |  UNION ALL SELECT doc_a, doc_b, 2 FROM dpairs
        |  UNION ALL SELECT doc_a, doc_b, 4 FROM epairs),
        |${closureSql("tagged", "doc")},
        |$compSql,
        |modal AS (
        |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS modality_mask FROM (
        |    SELECT DISTINCT doc_id, m FROM (
        |      SELECT doc_a AS doc_id, m FROM tagged
        |      UNION ALL SELECT doc_b AS doc_id, m FROM tagged) u) du
        |  GROUP BY 1),
        |$keeperSql
        |SELECT s.doc_id, s.comp, s.n_chars, s.group_size, s.keep_doc,
        |  s.doc_id = s.keep_doc AS is_kept, m.modality_mask
        |FROM sel s JOIN modal m ON m.doc_id = s.doc_id""".stripMargin,

    // real-image dHash: every band bit is predicted from text-derived
    // 2×2-block codepoint sums (the engine's PNG pixel rule), then the
    // q252 band-join + Hamming chain
    "q261_image_dhash_neardup" ->
      """WITH px AS (
        |  SELECT doc_id, text FROM documents WHERE n_chars >= 72),
        |cells AS (
        |  SELECT doc_id, r.r, c.c,
        |    (ascii(substr(text, CAST(((2*r.r)*18 + 2*c.c) % 72 + 1 AS INT), 1))
        |   + ascii(substr(text, CAST(((2*r.r)*18 + 2*c.c + 1) % 72 + 1 AS INT), 1))
        |   + ascii(substr(text, CAST(((2*r.r+1)*18 + 2*c.c) % 72 + 1 AS INT), 1))
        |   + ascii(substr(text, CAST(((2*r.r+1)*18 + 2*c.c + 1) % 72 + 1 AS INT), 1)))
        |      AS s
        |  FROM px, generate_series(0, 7) r(r), generate_series(0, 8) c(c)),
        |bits AS (
        |  SELECT a.doc_id, a.r, a.c,
        |    CASE WHEN a.s < b.s
        |      THEN CAST(1 AS BIGINT) << CAST((a.r % 2) * 8 + a.c AS INT)
        |      ELSE 0 END AS bit
        |  FROM cells a JOIN cells b
        |    ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |bands AS (
        |  SELECT doc_id, r // 2 AS band, CAST(sum(bit) AS BIGINT) AS v
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS media_a, y.doc_id AS media_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id),
        |ham AS (
        |  SELECT c.media_a, c.media_b,
        |    CAST(sum(bit_count(xor(xa.v, ya.v))) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bands xa ON xa.doc_id = c.media_a
        |  JOIN bands ya ON ya.doc_id = c.media_b AND ya.band = xa.band
        |  GROUP BY c.media_a, c.media_b)
        |SELECT media_a, media_b, hamming FROM ham
        |WHERE hamming <= 16""".stripMargin,

    // q20's connectivity form: rep-grain verified pairs + star edges per
    // identical-vector group (groups keyed on the quantized vector, rep =
    // min vec_id — CAST(q AS VARCHAR) is a deterministic group key for
    // the list column); the star gate evaluates the same selfCos
    // expression the engine members carry
    // round 18: per-pair dot = ONE list_dot_product (the q20 rewrite —
    // exact-fold argument there; rows bit-identical at both SFs)
    "q262_cosine_neardup_edges" ->
      s"""WITH $qvNormsSql,
        |grp AS (
        |  SELECT vec_id, q, n2,
        |    min(vec_id) OVER (PARTITION BY CAST(q AS VARCHAR)) AS rep
        |  FROM nrm WHERE n2 > 0),
        |reps AS (SELECT vec_id, q, n2 FROM grp WHERE vec_id = rep),
        |cp AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM reps a JOIN reps b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.q, b.q)
        |        / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
        |        >= 0.18),
        |st AS (
        |  SELECT rep AS vec_a, vec_id AS vec_b FROM grp
        |  WHERE vec_id <> rep
        |    AND CAST(n2 AS DOUBLE)
        |        / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))
        |        >= 0.18)
        |SELECT vec_a, vec_b FROM cp
        |UNION ALL SELECT vec_a, vec_b FROM st""".stripMargin,

    // streaming twin #17 batch replay: the stateless gate emits exactly
    // one row per (new, corpus) candidate pair (smallest-matching-band
    // dedup ≡ DISTINCT), verified with exact shingle Jaccard — the
    // minhashNewVsCorpus oracle pattern on a ≥50 / <50 doc split
    "q263_stream_dedup_gate" ->
      s"""WITH ${shinglesSql("shn", 3, "WHERE doc_id >= 50")},
        |${shinglesSql("shc", 3, "WHERE doc_id < 50")},
        |${minhashSql("mhn", "shn")},
        |${minhashSql("mhc", "shc")},
        |${bandSigSql("bn", "mhn")},
        |${bandSigSql("bc", "mhc")},
        |cands AS (
        |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM bn n JOIN bc c
        |    ON n.band = c.band AND n.band_sig = c.band_sig),
        |szn AS (SELECT doc_id, count(*) AS sz FROM shn GROUP BY doc_id),
        |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
        |inter AS (
        |  SELECT ca.new_id, ca.corpus_id, count(*) AS inter
        |  FROM cands ca
        |  JOIN shn a ON a.doc_id = ca.new_id
        |  JOIN shc b ON b.doc_id = ca.corpus_id AND b.shingle = a.shingle
        |  GROUP BY ca.new_id, ca.corpus_id)
        |SELECT i.new_id, i.corpus_id,
        |  CAST(i.inter AS DOUBLE)
        |    / CAST(sn.sz + sc.sz - i.inter AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN szn sn ON sn.doc_id = i.new_id
        |JOIN szc sc ON sc.doc_id = i.corpus_id
        |WHERE CAST(i.inter AS DOUBLE)
        |    / CAST(sn.sz + sc.sz - i.inter AS DOUBLE) >= 0.5""".stripMargin,

    // near-dup components (5-gram, uncollapsed replay — star vs clique
    // edge lists have identical connectivity) → cluster id = min node →
    // split = multiplicative hash of the CLUSTER id
    "q264_leakage_safe_split" -> leakageSafeSplitOracle,

    // same components; the audited split is the NAIVE per-doc hash —
    // a cluster spanning >1 split marks all its docs leaked
    "q265_split_leakage_audit" ->
      (nearDupClosureSql(0.5) +
        """,
          |assigned AS (
          |  SELECT d.doc_id,
          |    CASE WHEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 10 < 8
          |           THEN 'train'
          |         WHEN (((d.doc_id % 1000003) * 2654435761) % 1000003) % 10 = 8
          |           THEN 'val'
          |         ELSE 'test' END AS split,
          |    coalesce(c.comp, d.doc_id) AS cluster_id
          |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
          |span AS (
          |  SELECT cluster_id, count(DISTINCT split) AS n_splits
          |  FROM assigned GROUP BY cluster_id)
          |SELECT a.split, count(*)::BIGINT AS n_docs,
          |  CAST(count(CASE WHEN s.n_splits > 1 THEN 1 END) AS BIGINT)
          |    AS n_leaked_docs,
          |  CAST(count(DISTINCT CASE WHEN s.n_splits > 1
          |    THEN a.cluster_id END) AS BIGINT) AS n_leaked_clusters
          |FROM assigned a JOIN span s ON s.cluster_id = a.cluster_id
          |GROUP BY a.split""".stripMargin),

    // corpus-side closure (prefix, EVEN docs) + new-side (ODD) 5-gram
    // bands joined against the corpus bands — the q169 gate replay at
    // n=5 — then min matched corpus cluster per new doc
    "q266_incremental_split" ->
      incrementalSplitOracle,

    // the persisted-index seams as driver rows (round 17): each is the
    // recompute form's exact output contract, so the oracles are shared
    // verbatim — the index is an evaluation strategy, not a semantics
    // change (Round16/17OpsSpec prove bit-equality through real parquet)
    "q267_band_index_gate" -> bandIndexGateOracle,
    "q268_ivf_index_probe" -> ivfTopkOracle(""),
    // round 18 Assets seam: versioned forms share their unversioned
    // twins' oracles verbatim — the digest gate + parquet round-trip must
    // not move a hash
    "q271_band_index_versioned" -> bandIndexGateOracle,
    "q272_split_assets_versioned" -> incrementalSplitOracle,
    "q273_ivf_index_versioned" -> ivfTopkOracle(""),
    "q270_incremental_split_indexed" -> incrementalSplitOracle,

    // streaming twin #20 batch replay: one micro-batch carrying every doc
    // — per group the gate sorts by doc_id, so the running minimum equals
    // the group minimum on every row and is_first marks exactly the
    // min-id row (the withRep recurrence, q10's window form)
    "q269_stream_collapse_gate" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text) AS rep,
        |  doc_id = min(doc_id) OVER (PARTITION BY text) AS is_first
        |FROM documents""".stripMargin,

    // q274: the 2-batch replay is the RUNNING min/first over the replay
    // order (batch = parity, then id within a batch) — the closed form of
    // the state carry, one window per column
    "q274_collapse_gate_replay" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text ORDER BY doc_id % 2, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS rep,
        |  row_number() OVER (PARTITION BY text ORDER BY doc_id % 2, doc_id)
        |    = 1 AS is_first
        |FROM documents""".stripMargin,

    // Assets.advance family (round 19): the advanced asset must be
    // VALUE-IDENTICAL to the from-scratch build on the grown corpus, so
    // q276/q277/q279 share the full-rebuild oracles VERBATIM — advance is
    // an evaluation strategy, never a semantics change. q278 (IVF) keeps
    // the STANDING centroid geometry by contract (a rebuild would
    // resample centroids), so its oracle replays assign-to-standing-
    // centroids independently — the q31/q24 discipline for approximate
    // geometry.
    "q276_band_index_advance" -> bandIndexGateOracle,
    "q277_cluster_map_advance" -> leakageSafeSplitOracle,
    "q278_ivf_index_advance" -> ivfTopkOracle("WHERE vec_id % 4 <> 3"),
    "q279_dhash_index_advance" -> dhashGateOracle,
    "q280_ivf_sampled_build" -> ivfSampledOracle,

    // q281: the K = 3 skewed-batch collapse replay is the RUNNING
    // min/first over the replay order (batch = doc_id div 64 mod 3,
    // then id within a batch) — the q274 closed form under the
    // range-block key
    "q281_collapse_gate_skewed" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text
        |    ORDER BY (doc_id // 64) % 3, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS rep,
        |  row_number() OVER (PARTITION BY text
        |    ORDER BY (doc_id // 64) % 3, doc_id) = 1 AS is_first
        |FROM documents""".stripMargin,

    // q282: the 3-batch watermarked dedup replay unrolled — per batch b,
    // watermark = ms-floored max event time over batches < b minus the
    // 10-day delay (clamped at epoch, matching Spark's ms-grain
    // watermark tracking); rows at or below the watermark are late;
    // rank 1 per (user_id, event_type) by (ts_us, event_id) admits
    // unless the key is LIVE (a prior admission whose expiry =
    // admitted ts + delay still exceeds the watermark — strict, the
    // probed Spark eviction rule; dropped duplicates never extend it)
    "q282_dedup_watermark_replay" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    event_id % 3 AS batch
        |  FROM events),
        |w1 AS (SELECT coalesce(greatest(
        |         max(ts_us) - max(ts_us) % 1000 - 864000000000, 0), 0) AS w
        |       FROM e WHERE batch < 1),
        |w2 AS (SELECT coalesce(greatest(
        |         max(ts_us) - max(ts_us) % 1000 - 864000000000, 0), 0) AS w
        |       FROM e WHERE batch < 2),
        |a0 AS (
        |  SELECT event_id, user_id, event_type, ts_us FROM (
        |    SELECT event_id, user_id, event_type, ts_us,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts_us, event_id) AS rk
        |    FROM e WHERE batch = 0 AND ts_us > 0) r
        |  WHERE rk = 1),
        |s1 AS (
        |  SELECT user_id, event_type, ts_us + 864000000000 AS expiry
        |  FROM a0, w1 WHERE ts_us + 864000000000 > w1.w),
        |a1 AS (
        |  SELECT event_id, user_id, event_type, ts_us FROM (
        |    SELECT event_id, user_id, event_type, ts_us,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts_us, event_id) AS rk
        |    FROM e, w1 WHERE batch = 1 AND ts_us > w1.w) r
        |  WHERE rk = 1 AND NOT EXISTS (
        |    SELECT 1 FROM s1
        |    WHERE s1.user_id = r.user_id
        |      AND s1.event_type = r.event_type)),
        |s2 AS (
        |  SELECT s1.user_id, s1.event_type, s1.expiry
        |  FROM s1, w2 WHERE s1.expiry > w2.w
        |  UNION ALL
        |  SELECT a1.user_id, a1.event_type, a1.ts_us + 864000000000
        |  FROM a1, w2 WHERE a1.ts_us + 864000000000 > w2.w),
        |a2 AS (
        |  SELECT event_id, user_id, event_type, ts_us FROM (
        |    SELECT event_id, user_id, event_type, ts_us,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts_us, event_id) AS rk
        |    FROM e, w2 WHERE batch = 2 AND ts_us > w2.w) r
        |  WHERE rk = 1 AND NOT EXISTS (
        |    SELECT 1 FROM s2
        |    WHERE s2.user_id = r.user_id
        |      AND s2.event_type = r.event_type))
        |SELECT event_id, user_id, event_type, ts_us,
        |  CAST(0 AS BIGINT) AS batch FROM a0
        |UNION ALL
        |SELECT event_id, user_id, event_type, ts_us,
        |  CAST(1 AS BIGINT) AS batch FROM a1
        |UNION ALL
        |SELECT event_id, user_id, event_type, ts_us,
        |  CAST(2 AS BIGINT) AS batch FROM a2""".stripMargin
  )

  /** q280's oracle — the sampled (linear) IVF build replayed end-to-end:
    * knuth-order reservoir, 128 lowest-hash seeds, ONE Lloyd step on the
    * sample with per-position integer means (exact long sums, one IEEE
    * division, floor — bit-replayable), empty/degenerate cells keep
    * their seed, then one full assignment + the standard probe. The
    * embedding dim is a schema constant (64) like the sibling dot-product
    * oracles.
    */
  private val ivfSampledOracle: String =
    s"""WITH $qvNormsSql,
        |ok AS (SELECT vec_id, q, sqrt(CAST(n2 AS DOUBLE)) AS nv,
        |         row_number() OVER (
        |           ORDER BY ((vec_id + 17) * 2654435761) % 1000003,
        |             vec_id) AS sr
        |       FROM nrm WHERE n2 > 0),
        |init AS (SELECT vec_id AS centroid_id, q AS cv, nv AS cn
        |         FROM ok WHERE sr <= 128),
        |sasg AS (
        |  SELECT s.vec_id, s.q, c.centroid_id,
        |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
        |      CAST(CAST(list_dot_product(s.q, c.cv) AS BIGINT) AS DOUBLE)
        |        / (s.nv * c.cn) DESC, c.centroid_id) AS crk
        |  FROM ok s, init c WHERE s.sr <= 4096),
        |sm AS (
        |  SELECT a.centroid_id, t.i AS pos,
        |    CAST(floor(CAST(sum(a.q[t.i]) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
        |  FROM sasg a, generate_series(1, 64) t(i)
        |  WHERE a.crk = 1
        |  GROUP BY a.centroid_id, t.i),
        |mv AS (
        |  SELECT centroid_id, list(m ORDER BY pos) AS mv,
        |    CAST(list_dot_product(list(m ORDER BY pos),
        |      list(m ORDER BY pos)) AS BIGINT) AS mn2
        |  FROM sm GROUP BY centroid_id),
        |cent AS (
        |  SELECT i.centroid_id,
        |    CASE WHEN v.mn2 > 0 THEN v.mv ELSE i.cv END AS cv,
        |    CASE WHEN v.mn2 > 0 THEN sqrt(CAST(v.mn2 AS DOUBLE))
        |         ELSE i.cn END AS cn
        |  FROM init i LEFT JOIN mv v USING (centroid_id)),
        |${ivfAssignSql("ranked")},
        |$ivfTopkSql""".stripMargin

  /** q264's oracle (5-gram near-dup closure → cluster id = min node →
    * multiplicative split hash), shared verbatim by q277: a cluster map
    * ADVANCED from the even-doc standing assets plus the odd-doc delta
    * must equal the from-scratch map on the whole corpus — standing
    * cluster ids are min member ids, appended docs cannot change
    * corpus-internal edges, and edge existence is the same pure function
    * of the two texts on both paths, so min-over-supernodes =
    * min-over-members (Round19OpsSpec proves map equality through a real
    * parquet round-trip; this oracle holds the split readout to it).
    */
  private def leakageSafeSplitOracle: String =
    nearDupClosureSql(0.5) +
      """,
        |base AS (
        |  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN (((cluster_id % 1000003) * 2654435761) % 1000003) % 10 < 8
        |         THEN 'train'
        |       WHEN (((cluster_id % 1000003) * 2654435761) % 1000003) % 10 = 8
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM base""".stripMargin

  /** q31's oracle, shared verbatim by q268/q273 — ivfTopKIndexed probing
    * a just-built buildIvfIndex IS ivfTopK's one-plan form (the stored
    * is_centroid set equals the sampled centroid set by construction) —
    * and, with `standing = "WHERE vec_id % 4 <> 3"`, q278's: centroids
    * are sampled from (and sized by) the STANDING corpus, never the grown
    * one, because advance keeps the standing geometry by contract; every
    * vector (standing + delta) is then assigned to those centroids —
    * exactly the advanced index's content — and the probe replays on
    * top. Assignment of a standing vector to standing centroids is the
    * same arithmetic the old index stored, so the union-with-delta and
    * the all-vectors replay agree row for row.
    */
  private def ivfTopkOracle(standing: String): String =
    s"""WITH $qvNormsSql,
        |${ivfCentroidsSql(standing)},
        |${ivfAssignSql("ranked")},
        |$ivfTopkSql""".stripMargin

  /** q259's oracle, shared verbatim by q275 — the perceptual admission
    * gate fed from the PERSISTED dhash band index must hash-match the
    * full-recompute form.
    */
  private val dhashGateOracle: String =
    s"""WITH ${dhashBandsSql("bands")},
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.v = y.v
      |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0),
      |ham AS (
      |  SELECT c.new_id, c.corpus_id,
      |    CAST(sum(bit_count(xor(xa.v, ya.v))) AS BIGINT) AS hamming
      |  FROM cand c
      |  JOIN bands xa ON xa.doc_id = c.new_id
      |  JOIN bands ya ON ya.doc_id = c.corpus_id AND ya.band = xa.band
      |  GROUP BY c.new_id, c.corpus_id)
      |SELECT new_id, corpus_id, hamming FROM ham
      |WHERE hamming <= 16""".stripMargin

  /** q169's oracle, shared verbatim by q267 — minhashNewVsIndex against a
    * just-built buildBandIndex reproduces minhashNewVsCorpus's output
    * contract exactly (Round16OpsSpec proves bit-equality through a real
    * parquet round-trip; the driver row checks the in-plan form).
    */
  private val bandIndexGateOracle: String =
    s"""WITH ${shinglesSql("sh", 3, "WHERE doc_id < 50")},
        |${minhashSql("mh", "sh")},
        |${bandSigSql("bands", "mh")},
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_sig = y.band_sig
        |   AND x.doc_id >= 25 AND y.doc_id < 25),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.new_id, c.corpus_id, count(*) AS inter
        |  FROM cands c
        |  JOIN sh a ON a.doc_id = c.new_id
        |  JOIN sh b ON b.doc_id = c.corpus_id AND b.shingle = a.shingle
        |  GROUP BY c.new_id, c.corpus_id)
        |SELECT i.new_id, i.corpus_id,
        |  CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.new_id
        |JOIN sizes sb ON sb.doc_id = i.corpus_id
        |WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.5""".stripMargin

  /** q266's oracle, shared verbatim by q270 — the asset-fed admission
    * gate (band index + cluster map) is bit-equal to the one-shot
    * incrementalSplit on the same inputs (Round17OpsSpec).
    */
  private def incrementalSplitOracle: String =
    (nearDupClosureSql(0.5, "WHERE doc_id % 2 = 0") +
        s""",
          |ccl AS (
          |  SELECT d.doc_id AS corpus_id,
          |    coalesce(c.comp, d.doc_id) AS corpus_cluster
          |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
          |  WHERE d.doc_id % 2 = 0),
          |${shinglesSql("shx", 5, "WHERE doc_id % 2 = 1")},
          |${minhashSql("mhx", "shx")},
          |${bandSigSql("bx", "mhx")},
          |candx AS (
          |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
          |  FROM bx x JOIN mbands y
          |    ON x.band = y.band AND x.band_sig = y.band_sig),
          |szx AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY doc_id),
          |interx AS (
          |  SELECT c.new_id, c.corpus_id, count(*) AS inter
          |  FROM candx c
          |  JOIN shx a ON a.doc_id = c.new_id
          |  JOIN sh b ON b.doc_id = c.corpus_id AND b.shingle = a.shingle
          |  GROUP BY c.new_id, c.corpus_id),
          |gpairs AS (
          |  SELECT i.new_id, i.corpus_id
          |  FROM interx i
          |  JOIN szx sa ON sa.doc_id = i.new_id
          |  JOIN sizes sb ON sb.doc_id = i.corpus_id
          |  WHERE CAST(i.inter AS DOUBLE)
          |      / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= 0.5),
          |inh AS (
          |  SELECT g.new_id AS doc_id,
          |    min(c.corpus_cluster) AS inherited_cluster
          |  FROM gpairs g JOIN ccl c ON c.corpus_id = g.corpus_id
          |  GROUP BY 1),
          |base AS (
          |  SELECT d.doc_id,
          |    coalesce(i.inherited_cluster, d.doc_id) AS cluster_id,
          |    i.inherited_cluster IS NOT NULL AS inherited
          |  FROM documents d LEFT JOIN inh i ON i.doc_id = d.doc_id
          |  WHERE d.doc_id % 2 = 1)
          |SELECT doc_id, cluster_id,
          |  CASE WHEN (((cluster_id % 1000003) * 2654435761) % 1000003) % 10 < 8
          |         THEN 'train'
          |       WHEN (((cluster_id % 1000003) * 2654435761) % 1000003) % 10 = 8
          |         THEN 'val'
          |       ELSE 'test' END AS split,
          |  inherited
          |FROM base""".stripMargin)

  /** Shared oracle prefix for q264/q265/q266: 5-gram MinHash near-dup
    * pairs over `documents` (optionally `where`-filtered — q266's corpus
    * side) — the uncollapsed replay of
    * [[graft.ext.Dedup.minhashNearDupEdges]]; identical texts band
    * identically, so connectivity matches the engine's star-edge form —
    * plus the recursive min-label closure. Ends at CTE `comp(node,
    * comp)`; callers append their consumer CTEs.
    */
  private def nearDupClosureSql(minJaccard: Double,
                                where: String = ""): String =
    "WITH RECURSIVE " + Seq(
      shinglesSql("sh", 5, where),
      minhashSql("mh", "sh"),
      bandSigSql("mbands", "mh"),
      bandCandidatesSql("mcand", "mbands", "band_sig"),
      jaccardPairsSql("pairs", "mcand", minJaccard),
      closureSql("pairs", "doc"),
      compSql).mkString(",\n")

  /** q36's chain on the 50-doc slice (3-grams, 16 hashes in 4 bands): CTEs
    * `sh`, `mh`, `bands`, `cands`, `sizes`, `inter` and `pairs(doc_a,
    * doc_b)` at `minJaccard` — the uncollapsed replay of
    * [[graft.ext.Dedup.minhashNearDupEdges]] on `docs50`.
    */
  private def docs50PairsSql(minJaccard: Double): String =
    Seq(
      shinglesSql("sh", 3, "WHERE doc_id < 50"),
      minhashSql("mh", "sh"),
      bandSigSql("bands", "mh"),
      bandCandidatesSql("cands", "bands", "band_sig"),
      jaccardPairsSql("pairs", "cands", minJaccard)).mkString(",\n")

  /** q252's dHash chain closed to components (q253/q255): CTEs `g`,
    * `bands`, `cand`, `pairs` (Hamming ≤ 16), the closure and `comp`.
    */
  private def dhashClosureSql: String =
    "WITH RECURSIVE " + Seq(
      dhashBandsSql("bands"),
      bandCandidatesSql("cand", "bands", "v"),
      hammingPairsSql("pairs", "cand", "bands"),
      closureSql("pairs", "doc"),
      compSql).mkString(",\n")

  // ---- oracle kernels: one SQL fragment per engine kernel or shared
  // fixture. Each returns CTE definitions (no WITH, no trailing comma) or
  // select-list items. Callers splice them into `stripMargin` literals,
  // so no fragment line may start with `|` (`||` goes at line ends).

  /** `cte(doc_id, shingle)`: the distinct character `n`-grams of each
    * `documents` row that `rows` keeps, packed base 256 into one BIGINT —
    * the replay of [[graft.ext.Dedup.docShingles]].
    */
  private def shinglesSql(cte: String, n: Int, rows: String): String = {
    val packed = (0 until n).map { k =>
      val c = if (k == 0) "ascii(substr(text, i, 1))"
        else s"ascii(substr(text, i + $k, 1))"
      if (k == n - 1) c else s"$c * ${1L << (8 * (n - 1 - k))}"
    }.mkString("\n           + ")
    s"""$cte AS (
       |  SELECT DISTINCT doc_id, CAST(s AS BIGINT) AS shingle FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, length(text) - ${n - 1}),
       |        i -> $packed)) AS s
       |    FROM documents $rows) t)""".stripMargin
  }

  /** `cte(doc_id, j, mh)`: 16 MinHash values of each shingle set in `sh`,
    * h_j(x) = ((2j + 1)·x + 97 + 31j) mod (2³¹ − 1) — the replay of
    * [[graft.ext.Dedup.minhashSignatures]].
    */
  private def minhashSql(cte: String, sh: String): String =
    s"""$cte AS (
       |  SELECT doc_id, t.j,
       |    min(((2 * t.j + 1) * shingle + (97 + 31 * t.j)) % 2147483647) AS mh
       |  FROM $sh, generate_series(0, 15) t(j)
       |  GROUP BY doc_id, t.j)""".stripMargin

  /** `cte(doc_id, band, band_sig)`: `mh`'s signature cut into 4 bands of
    * 4 rows, each band one string key.
    */
  private def bandSigSql(cte: String, mh: String): String =
    s"""$cte AS (
       |  SELECT doc_id, j // 4 AS band,
       |    string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS band_sig
       |  FROM $mh GROUP BY doc_id, j // 4)""".stripMargin

  /** `cte(doc_a, doc_b)`: each pair doc_a < doc_b that agrees on at least
    * one band of `bands`, whose band key column is `sig` (MinHash
    * `band_sig`, dHash `v`) — the replay of a [[graft.ext.Dedup.bandPairs]]
    * self-join.
    */
  private def bandCandidatesSql(cte: String, bands: String,
                                sig: String): String =
    s"""$cte AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM $bands x JOIN $bands y
       |    ON x.band = y.band AND x.$sig = y.$sig AND x.doc_id < y.doc_id)"""
      .stripMargin

  /** `sizes(doc_id, sz)`, the shingle-set sizes of `sh`, and
    * `inter(doc_a, doc_b, inter)`, each `cands` pair's exact intersection.
    */
  private def jaccardOverlapSql(cands: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM $cands c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY c.doc_a, c.doc_b)""".stripMargin

  /** The exact-Jaccard verify: [[jaccardOverlapSql]], then `cte(doc_a,
    * doc_b)`, the `cands` pairs whose shingle Jaccard reaches `minJaccard`.
    */
  private def jaccardPairsSql(cte: String, cands: String,
                              minJaccard: Double): String =
    jaccardOverlapSql(cands) +
      s""",
         |$cte AS (
         |  SELECT i.doc_a, i.doc_b
         |  FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter)
         |    >= $minJaccard)""".stripMargin

  /** `edges(src, dst)`, the `pairs` (`<id>_a`, `<id>_b`) both ways, and
    * `reach(node, comp)`, the recursive min-label closure over them:
    * min(comp) per node is [[graft.ext.Components]]' fixpoint. Needs
    * `WITH RECURSIVE`.
    */
  private def closureSql(pairs: String, id: String): String =
    s"""edges AS (
       |  SELECT ${id}_a AS src, ${id}_b AS dst FROM $pairs
       |  UNION SELECT ${id}_b, ${id}_a FROM $pairs),
       |reach AS (
       |  SELECT src AS node, src AS comp FROM edges
       |  UNION
       |  SELECT e.src AS node, r.comp FROM edges e
       |  JOIN reach r ON e.dst = r.node)""".stripMargin

  /** `comp(node, comp)`: each node's component id off [[closureSql]]. */
  private def compSql: String =
    "comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)"

  /** `g(doc_id, px)`, the first 72 code points of each document of ≥ 72
    * chars as a 9×8 luma raster, and `cte(doc_id, band, v)`: its dHash
    * (bit (r, c) = px(r, c) < px(r, c + 1)) cut into four 16-bit bands —
    * the text-raster twin of the engine's dHash bands.
    */
  private def dhashBandsSql(cte: String): String =
    s"""g AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, 72),
       |      i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))
       |      AS px
       |  FROM documents WHERE n_chars >= 72),
       |$cte AS (
       |  SELECT doc_id, b.b AS band, CAST(
       |    (SELECT sum(CASE WHEN px[CAST(r*9+c+1 AS BIGINT)]
       |                        < px[CAST(r*9+c+2 AS BIGINT)]
       |       THEN CAST(1 AS BIGINT) << CAST((r % 2) * 8 + c AS INT)
       |       ELSE 0 END)
       |     FROM (SELECT unnest(generate_series(0, 7)) c) cs,
       |          (SELECT b.b * 2 AS r UNION ALL SELECT b.b * 2 + 1) rs)
       |    AS BIGINT) AS v
       |  FROM g, (SELECT unnest(generate_series(0, 3)) b) b)""".stripMargin

  /** `cte(doc_a, doc_b)`: the `cands` pairs whose full 64-bit dHashes in
    * `bands` lie within Hamming distance 16.
    */
  private def hammingPairsSql(cte: String, cands: String,
                              bands: String): String =
    s"""$cte AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM $cands c
       |  JOIN $bands xa ON xa.doc_id = c.doc_a
       |  JOIN $bands ya ON ya.doc_id = c.doc_b AND ya.band = xa.band
       |  GROUP BY c.doc_a, c.doc_b
       |  HAVING sum(bit_count(xor(xa.v, ya.v))) <= 16)""".stripMargin

  /** `qv(vec_id, q)`: each embedding in 1e-6 fixed point — the replay of
    * Similarity's quantized-vector prelude.
    */
  private def qvSql: String =
    """qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings)""".stripMargin

  /** [[qvSql]] plus `nrm(vec_id, q, n2)`, each vector's exact squared
    * norm.
    */
  private def qvNormsSql: String =
    qvSql + """,
      |nrm AS (
      |  SELECT vec_id, q,
      |    CAST(list_dot_product(q, q) AS BIGINT) AS n2
      |  FROM qv)""".stripMargin

  /** IVF centroids over `nrm`: `ok(vec_id, q, nv)`, the non-zero vectors
    * with their L2 norm; `nc(k)` = ⌈√N⌉; and `cent(centroid_id, cv, cn)`,
    * the k vectors of lowest knuth hash — N and the sample both over the
    * `embeddings` rows `standing` keeps.
    */
  private def ivfCentroidsSql(standing: String): String =
    s"""ok AS (SELECT vec_id, q, sqrt(CAST(n2 AS DOUBLE)) AS nv
       |       FROM nrm WHERE n2 > 0),
       |nc AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k
       |       FROM embeddings $standing),
       |crk0 AS (
       |  SELECT vec_id AS centroid_id, q AS cv, nv AS cn,
       |    row_number() OVER (
       |      ORDER BY ((vec_id + 17) * 2654435761) % 1000003, vec_id) AS cr
       |  FROM ok $standing),
       |cent AS (SELECT centroid_id, cv, cn FROM crk0, nc WHERE cr <= nc.k)"""
      .stripMargin

  /** IVF assignment of every `ok` vector to the `cent` cells: `asg`, then
    * `ranked(vec_id, q, nv, centroid_id, crk)` by cosine, `idx` (each
    * vector in its nearest cell) and `probes` (every 10th vector's 4
    * nearest cells).
    */
  private def ivfAssignSql(ranked: String): String =
    s"""asg AS (
       |  SELECT o.vec_id, o.q, o.nv, c.centroid_id,
       |    CAST(CAST(list_dot_product(o.q, c.cv) AS BIGINT) AS DOUBLE)
       |      / (o.nv * c.cn) AS ccos
       |  FROM ok o, cent c),
       |$ranked AS (
       |  SELECT vec_id, q, nv, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY ccos DESC, centroid_id) AS crk
       |  FROM asg),
       |idx AS (SELECT centroid_id, vec_id AS neighbor_id, q AS nev, nv AS nn
       |        FROM $ranked WHERE crk = 1),
       |probes AS (SELECT centroid_id, vec_id AS query_id, q AS pqv, nv AS qn
       |           FROM $ranked WHERE crk <= 4 AND vec_id % 10 = 0)"""
      .stripMargin

  /** The IVF probe readout: each probe's top 5 cell members by cosine. */
  private def ivfTopkSql: String =
    """scored AS (
      |  SELECT p.query_id, ne.neighbor_id,
      |    CAST(CAST(list_dot_product(p.pqv, ne.nev) AS BIGINT) AS DOUBLE)
      |      / (p.qn * ne.nn) AS cos
      |  FROM probes p JOIN idx ne ON ne.centroid_id = p.centroid_id
      |  WHERE p.query_id <> ne.neighbor_id),
      |rr AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
      |  FROM scored)
      |SELECT query_id, neighbor_id, rnk, cos FROM rr WHERE rnk <= 5""".stripMargin

  /** `proj`, `bkt(vec_id, bucket)` — 8 random-hyperplane sign bits per
    * embedding — then [[qvSql]] and `nrm(vec_id, bucket, q, n2)`: the
    * replay of [[graft.ext.Similarity.lshNearPairs]]' bucketing.
    */
  private def lshBucketsSql: String =
    s"""proj AS (
       |  SELECT e.vec_id, t.j,
       |    (SELECT sum(CAST(e.embedding[s.i] AS DOUBLE) *
       |       ((((CAST(t.j AS BIGINT) * 1103515245 + 12345) * s.i)
       |          + t.j * 2654435761) % 1000003
       |         / 1000003.0 - 0.5))
       |     FROM generate_series(1, 64) s(i)) AS pr
       |  FROM embeddings e, generate_series(0, 7) t(j)),
       |bkt AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pr > 0.0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
       |         AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |$qvSql,
       |nrm AS (
       |  SELECT v.vec_id, b.bucket, v.q,
       |    CAST(list_dot_product(v.q, v.q) AS BIGINT) AS n2
       |  FROM qv v JOIN bkt b ON b.vec_id = v.vec_id)""".stripMargin

  /** `cte(<id>_a, <id>_b)`: the same-bucket pairs of [[lshBucketsSql]]
    * with cosine ≥ 0.15.
    */
  private def lshPairsSql(cte: String, id: String): String =
    s"""$cte AS (
       |  SELECT a.vec_id AS ${id}_a, b.vec_id AS ${id}_b
       |  FROM nrm a JOIN nrm b ON a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id AND a.n2 > 0 AND b.n2 > 0
       |  WHERE CAST(CAST(list_dot_product(a.q, b.q) AS BIGINT) AS DOUBLE)
       |        / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
       |        >= 0.15)""".stripMargin

  /** q104's sparse retrieval core: `base(doc_id, t)`, the df-capped
    * (≤ 79% of docs) inverted index `postings`, 5-token prefix queries
    * of every 97th doc, and `ov(query_id, doc_id, overlap)` — the replay
    * of [[graft.ext.Retrieval]]'s inverted-index probe.
    */
  private def retrievalOverlapSql: String =
    """base AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0),
      |dtok AS (SELECT doc_id, unnest(list_distinct(t)) AS term FROM base),
      |dlen AS (SELECT doc_id,
      |           CAST(len(list_distinct(t)) AS BIGINT) AS d_len
      |         FROM base),
      |nn AS (SELECT count(*) AS n FROM base),
      |dfq AS (SELECT term, count(*) AS df FROM dtok GROUP BY 1),
      |postings AS (
      |  SELECT d.term, d.doc_id FROM dtok d JOIN dfq f USING (term), nn
      |  WHERE f.df * 100 <= 79 * nn.n),
      |queries AS (
      |  SELECT doc_id AS query_id, list_distinct(t[1:5]) AS qt
      |  FROM base WHERE doc_id % 97 = 3 AND doc_id < 2037),
      |qtok AS (SELECT query_id, unnest(qt) AS term FROM queries),
      |qlen AS (SELECT query_id, CAST(len(qt) AS BIGINT) AS q_len
      |         FROM queries),
      |ov AS (
      |  SELECT q.query_id, p.doc_id, count(*) AS overlap
      |  FROM qtok q JOIN postings p USING (term)
      |  WHERE p.doc_id <> q.query_id
      |  GROUP BY 1, 2)""".stripMargin

  /** [[retrievalOverlapSql]] plus `scored`, each candidate's token
    * Jaccard with its query.
    */
  private def retrievalScoredSql: String =
    retrievalOverlapSql + """,
      |scored AS (
      |  SELECT o.query_id, o.doc_id, o.overlap, ql.q_len, dl.d_len,
      |    CAST(o.overlap AS DOUBLE)
      |      / CAST(ql.q_len + dl.d_len - o.overlap AS DOUBLE) AS score
      |  FROM ov o JOIN qlen ql USING (query_id)
      |  JOIN dlen dl USING (doc_id))""".stripMargin

  /** The synthetic supplier graph: `nn(n)`, `e0(src, dst)` — three
    * out-edges per supplier — and `sym(src, dst)`, its distinct
    * undirected edges without self-loops.
    */
  private def supplierGraphSql: String =
    """nn AS (SELECT max(s_suppkey) AS n FROM supplier),
      |e0 AS (
      |  SELECT s_suppkey AS src, s_suppkey % n + 1 AS dst
      |  FROM supplier, nn
      |  UNION ALL
      |  SELECT s_suppkey, (s_suppkey + 1) % n + 1 FROM supplier, nn
      |  UNION ALL
      |  SELECT s_suppkey, (s_suppkey * 7 + 1) % n + 1 FROM supplier, nn),
      |sym AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT src, dst FROM e0 WHERE src <> dst
      |    UNION ALL
      |    SELECT dst, src FROM e0 WHERE src <> dst) u)""".stripMargin

  /** √-temperature quotas over `counts(source, n_docs)`: weights
    * ⌊√n·1e6 + 0.5⌋, a budget of `num`/`den` × the corpus, and the
    * integer largest-remainder split ending at `quota(source, n_docs,
    * quota)` — the replay of Curation's temperature quotas.
    */
  private def quotaSql(counts: String, num: Int, den: Int): String =
    s"""w AS (SELECT source, n_docs,
       |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      AS w FROM $counts),
       |q AS (SELECT source, n_docs, w,
       |    sum(w) OVER () AS wsum,
       |    (sum(n_docs) OVER () * $num) // $den AS budget FROM w),
       |l AS (SELECT *, (w * budget) // wsum AS base,
       |    (w * budget) % wsum AS remainder FROM q),
       |r AS (SELECT *, budget - sum(base) OVER () AS leftover,
       |    row_number() OVER (ORDER BY remainder DESC, source) AS rk
       |  FROM l),
       |quota AS (SELECT source, n_docs,
       |    base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
       |  FROM r)""".stripMargin

  /** q174/q196's `u(doc_id, url)`: the oracle twin of `syntheticUrl`. */
  private def urlShapesSql: String =
    """u AS (SELECT doc_id,
      |  CASE doc_id % 7
      |    WHEN 0 THEN 'https://WWW.Site' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.COM/path/page'
      |    WHEN 1 THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.com:80/a/b'
      |    WHEN 2 THEN 'https://site' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.com:443/x?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
      |    WHEN 3 THEN 'http://blog.site' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.org/post?id=' || CAST(doc_id AS VARCHAR) ||
      |      '&utm_campaign=x&ref=y'
      |    WHEN 4 THEN 'https://cdn.site' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.net/img/large.png#sec' || CAST(doc_id AS VARCHAR)
      |    WHEN 5 THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.com/search?utm_source=a&utm_medium=b'
      |    ELSE 'https://site' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.com/clean/' || CAST(doc_id AS VARCHAR)
      |  END AS url FROM documents)""".stripMargin

  /** q205/q213's `aug(<cols>, text)`, the oracle twin of
    * `entityAugmented`, and `m(doc_id, email)`, every email mention in
    * it.
    */
  private def entityMentionsSql(cols: String): String =
    s"""aug AS (SELECT $cols, text || ' contact person' ||
       |      CAST(doc_id % 40 AS VARCHAR) || '@example' ||
       |      CAST(doc_id % 40 % 7 AS VARCHAR) || '.com' ||
       |      CASE WHEN doc_id % 3 = 0 THEN ' cc person' ||
       |           CAST(doc_id % 40 AS VARCHAR) || '@example' ||
       |           CAST(doc_id % 40 % 7 AS VARCHAR) || '.com'
       |         ELSE '' END ||
       |      CASE WHEN doc_id % 5 = 0 THEN ' also person' ||
       |           CAST((doc_id * 3 + 1) % 40 AS VARCHAR) || '@example' ||
       |           CAST((doc_id * 3 + 1) % 40 % 7 AS VARCHAR) || '.com'
       |         ELSE '' END AS text
       |  FROM documents),
       |m AS (SELECT doc_id, unnest(regexp_extract_all(text,
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS email
       |  FROM aug)""".stripMargin

  /** The stopword language-ID scores `score_en` … `score_zh` (select
    * list items over `text`) — the replay of [[graft.ext.TextStats.langId]].
    */
  private def langScoresSql: String =
    """CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t IN ('el','la','de','que','los'))) AS BIGINT) AS score_es,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t IN ('der','die','und','das','ist'))) AS BIGINT) AS score_de,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t IN ('le','la','et','les','des'))) AS BIGINT) AS score_fr,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t IN ('shi','bu','wo','de','ni'))) AS BIGINT) AS score_zh"""
      .stripMargin

  /** `pred_lang`: the argmax of [[langScoresSql]], 'unknown' when no
    * stopword hits.
    */
  private def langPredSql: String =
    """CASE
      |    WHEN score_en > 0 AND score_en >= score_es AND score_en >= score_de
      |         AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
      |    WHEN score_es > 0 AND score_es >= score_en AND score_es >= score_de
      |         AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
      |    WHEN score_de > 0 AND score_de >= score_en AND score_de >= score_es
      |         AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
      |    WHEN score_fr > 0 AND score_fr >= score_en AND score_fr >= score_es
      |         AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
      |    WHEN score_zh > 0 AND score_zh >= score_en AND score_zh >= score_es
      |         AND score_zh >= score_de AND score_zh >= score_fr THEN 'zh'
      |    ELSE 'unknown' END AS pred_lang""".stripMargin

  /** The synthetic page boxes off `part` (`b`), clipped to the 1024×512
    * page (`c1`, `c2(page, line_no, class_id, cx, cy, cw, ch)`) — the
    * replay of SyntheticBoxes over the geometry clip.
    */
  private def clippedBoxesSql: String =
    """b AS (
      |  SELECT p_partkey // 25 AS page,
      |    p_partkey % 25 AS line_no,
      |    CAST(p_partkey % 6 AS INTEGER) AS class_id,
      |    CAST(p_partkey * 37 % 960 AS DOUBLE) AS x,
      |    CAST(p_partkey * 59 % 480 AS DOUBLE) AS y,
      |    CAST(64 + p_partkey * 13 % 128 AS DOUBLE) AS w,
      |    CAST(48 + p_partkey * 17 % 96 AS DOUBLE) AS h
      |  FROM part),
      |c1 AS (
      |  SELECT page, line_no, class_id,
      |    greatest(0.0, least(x, 1024.0)) AS cx,
      |    greatest(0.0, least(y, 512.0)) AS cy, w, h
      |  FROM b),
      |c2 AS (
      |  SELECT page, line_no, class_id, cx, cy,
      |    greatest(0.0, least(w, 1024.0 - cx)) AS cw,
      |    greatest(0.0, least(h, 512.0 - cy)) AS ch
      |  FROM c1)""".stripMargin

  /** The synthetic ground-truth (`g`) and jittered prediction (`p`)
    * boxes off `part`, and `cand(page, class_id, pred_line, gt_line,
    * inter, area_p, area_g)`: every same-page same-class pair's
    * intersection and areas.
    */
  private def boxPairsSql: String =
    """g AS (
      |  SELECT p_partkey // 25 AS page,
      |    p_partkey % 25 AS gt_line,
      |    CAST(p_partkey % 6 AS INTEGER) AS class_id,
      |    CAST(p_partkey * 37 % 960 AS DOUBLE) AS gx,
      |    CAST(p_partkey * 59 % 480 AS DOUBLE) AS gy,
      |    CAST(64 + p_partkey * 13 % 128 AS DOUBLE) AS gw,
      |    CAST(48 + p_partkey * 17 % 96 AS DOUBLE) AS gh
      |  FROM part),
      |p AS (
      |  SELECT p_partkey // 25 AS page,
      |    p_partkey % 25 AS pred_line,
      |    CAST(p_partkey % 6 AS INTEGER) AS class_id,
      |    CAST(p_partkey * 37 % 960 AS DOUBLE) + CAST(p_partkey % 7 AS DOUBLE) - 3.0 AS px,
      |    CAST(p_partkey * 59 % 480 AS DOUBLE) + CAST(p_partkey % 11 AS DOUBLE) - 5.0 AS py,
      |    CAST(64 + p_partkey * 13 % 128 AS DOUBLE) + CAST(p_partkey % 5 AS DOUBLE) - 2.0 AS pw,
      |    CAST(48 + p_partkey * 17 % 96 AS DOUBLE) + CAST(p_partkey % 9 AS DOUBLE) - 4.0 AS ph
      |  FROM part),
      |cand AS (
      |  SELECT p.page, p.class_id, p.pred_line, g.gt_line,
      |    greatest(0.0, least(px + pw, gx + gw) - greatest(px, gx))
      |      * greatest(0.0, least(py + ph, gy + gh) - greatest(py, gy)) AS inter,
      |    greatest(0.0, pw) * greatest(0.0, ph) AS area_p,
      |    greatest(0.0, gw) * greatest(0.0, gh) AS area_g
      |  FROM p JOIN g ON p.page = g.page AND p.class_id = g.class_id)""".stripMargin

  /** `cte(user_id, event_id, ts_us<cols>)`: the events at µs precision,
    * plus the caller's `cols`.
    */
  private def eventsUsSql(cte: String, cols: String): String =
    s"$cte AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us$cols FROM events)"

  /** q11's sessionization (30-minute gap): `e`, `flagged` and
    * `numbered(user_id, ts_us, session_id)`.
    */
  private def sessionsSql: String =
    eventsUsSql("e", "") + """,
      |flagged AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |              OR ts_us - lag(ts_us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |numbered AS (
      |  SELECT user_id, ts_us,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS session_id
      |  FROM flagged)""".stripMargin

  /** The dialogue family's message stream `m(user_id, event_id, ts_us,
    * role, toks)`: click/purchase/signup are user turns, the token proxy
    * is props.k + 1.
    */
  private def turnsSql: String =
    eventsUsSql("m", """,
      |    CASE WHEN event_type IN ('click', 'purchase', 'signup')
      |      THEN 'user' ELSE 'assistant' END AS role,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) + 1 AS toks"""
      .stripMargin)

  /** q78's keeper choice per component: `sel(doc_id, comp, n_chars,
    * group_size, keep_doc)`, longest text first, doc_id ties.
    */
  private def keeperSql: String =
    """sel AS (
      |  SELECT c.node AS doc_id, c.comp, d.n_chars,
      |    count(*) OVER (PARTITION BY c.comp) AS group_size,
      |    first_value(c.node) OVER (PARTITION BY c.comp
      |      ORDER BY d.n_chars DESC, c.node
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |      AS keep_doc
      |  FROM comp c JOIN documents d ON d.doc_id = c.node)""".stripMargin

  /** q245's cluster-size histogram over the `documents` rows `rows`
    * keeps: a doc outside every pair is a singleton cluster.
    */
  private def clusterSizesSql(rows: String): String =
    s"""assign AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
       |  FROM (SELECT doc_id FROM documents $rows) d
       |  LEFT JOIN comp c ON c.node = d.doc_id),
       |cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM assign GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS docs_removed
       |FROM cs GROUP BY 1""".stripMargin

  /** The q257 oracle: greedy max-coverage replayed as k UNROLLED rounds
    * of chained CTEs (the q231 fixed-iteration discipline — recursive
    * CTEs cannot carry the growing covered SET as value state, unrolling
    * can). Each round: gains over still-uncovered shingles for
    * still-unselected docs, 1-row argmax (g DESC, doc_id), covered set
    * extended by the winner's shingles. Generated, not hand-written —
    * the per-round SQL must stay in lockstep or the chain silently skews.
    */
  private def greedyCoverageOracle(k: Int): String = {
    val sh =
      s"""WITH ${shinglesSql("sh", 3, "WHERE doc_id < 50")},
         |c0 AS (SELECT CAST(NULL AS BIGINT) AS shingle WHERE 1 = 0)""".stripMargin
    val rounds = (1 to k).map { i =>
      val notSel =
        if (i == 1) ""
        else "    AND s.doc_id NOT IN (" +
          (1 until i).map(j => s"SELECT doc_id FROM w$j")
            .mkString(" UNION ALL ") + ")\n"
      s"""g$i AS (SELECT s.doc_id, count(*) AS g FROM sh s
         |  WHERE s.shingle NOT IN (SELECT shingle FROM c${i - 1})
         |$notSel  GROUP BY 1),
         |w$i AS (SELECT doc_id, g FROM g$i WHERE g > 0
         |  ORDER BY g DESC, doc_id LIMIT 1),
         |c$i AS (SELECT shingle FROM c${i - 1}
         |  UNION SELECT s.shingle FROM sh s, w$i
         |  WHERE s.doc_id = w$i.doc_id)""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to k).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round, doc_id,
         |  CAST(g AS BIGINT) AS gain,
         |  CAST((SELECT count(*) FROM c$i) AS BIGINT) AS covered_cum
         |FROM w$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$sh,\n$rounds\n$finalSel"
  }
}
