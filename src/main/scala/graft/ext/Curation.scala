package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond dedup/quality scoring (round 4):
  * benchmark-contamination detection, repetition-based quality signals, and
  * inter-document chunk-level exact dedup.
  *
  * These are the remaining operators a large-scale LLM-data pipeline runs
  * over a text corpus before training:
  *  - contamination: does a training document overlap an evaluation set's
  *    n-grams? (decontamination pass; cf. the n-gram overlap checks described
  *    in the GPT-3/PaLM appendices)
  *  - repetition signals: Gopher-style quality heuristics — documents
  *    dominated by repeated n-grams are low-quality (boilerplate, spam).
  *  - chunk dedup: exact dedup below document granularity (CCNet-style
  *    paragraph dedup) — removes boilerplate shared across documents while
  *    keeping the documents themselves.
  *
  * Scale notes: contamination joins the corpus against the DISTINCT eval
  * n-gram set — at 100 TB that set is broadcast (eval corpora are tiny next
  * to training corpora), so the pass is one scan + one broadcast semi-join +
  * one aggregation, no corpus shuffle. Repetition signals are pure per-row
  * expressions (zero shuffles). Chunk dedup shuffles (chunk-hash → first
  * occurrence), the same shape as exact document dedup; the shuffle key
  * would be an 8-byte `xxhash64(chunk)` at scale — here the chunk string
  * itself so the DuckDB oracle can replay it.
  */
object Curation {

  /** Word n-grams over a token ARRAY column, as space-joined strings.
    *
    * `toks` must be a materialized attribute (not an inline `tokens(text)`
    * expression): the transform lambda evaluates `toks` once per produced
    * n-gram, so an inline tokenizer would re-split the text O(n_grams) times
    * per row — a measured >100× slowdown. Callers select the token array
    * into a column first.
    *
    * Guard: Spark's `sequence(1, x)` DESCENDS for x < 1, so short documents
    * must be mapped to an empty array explicitly (DuckDB's generate_series
    * yields empty there).
    */
  def wordNgrams(toks: Column, n: Int): Column = {
    val grams = transform(sequence(lit(1), size(toks) - (n - 1)), i =>
      concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))
    when(size(toks) < n, array().cast("array<string>")).otherwise(grams)
  }

  /** Benchmark-contamination check: for every training document, the share
    * of its distinct word `n`-grams that appear anywhere in the evaluation
    * set (`evalPred` marks eval membership).
    *
    * @return (doc_id, n_ngrams, n_overlap, contamination, contaminated) for
    *         every non-eval document; documents shorter than n tokens have
    *         zero n-grams and contamination 0.0.
    */
  def contamination(docs: DataFrame, evalPred: Column, n: Int = 3,
                    flagAt: Double = 0.5): DataFrame = {
    val grams = docs
      .select(col("doc_id"), evalPred.as("__is_eval"),
        TextStats.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("__is_eval"),
        explode(wordNgrams(col("__toks"), n)).as("gram"))
    // the eval n-gram SET is what gets broadcast at scale — distinct first
    val evalGrams = grams.filter(col("__is_eval"))
      .select(col("gram")).distinct()
    val trainGrams = grams.filter(!col("__is_eval"))
      .select(col("doc_id"), col("gram")).distinct()
    val perDoc = trainGrams
      .join(broadcast(evalGrams.withColumn("__hit", lit(1L))),
        Seq("gram"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
    // left join back to the full train-doc set: documents with zero n-grams
    // (shorter than n tokens) must still appear, with contamination 0
    docs.filter(!evalPred).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contamination",
        when(col("n_ngrams") === 0L, 0.0)
          .otherwise(col("n_overlap").cast("double") / col("n_ngrams").cast("double")))
      .withColumn("contaminated", col("contamination") >= flagAt)
  }

  /** Gopher-style repetition signals, all per-row expressions (no shuffle):
    *  - dup_2gram_frac / dup_3gram_frac: fraction of word n-grams that are
    *    repeats of an earlier occurrence (1 − distinct/total);
    *  - top_2gram_share: occurrences of the most frequent 2-gram / total
    *    2-grams (the dominant-boilerplate signal).
    * Zero-gram documents get 0.0 for every signal (ANSI division guard).
    *
    * The gram arrays are MATERIALIZED into columns before any lambda touches
    * them: an expression used inside a higher-order-function lambda is
    * re-evaluated per array element, so an inline `wordNgrams(text)` there
    * would re-run the regex tokenizer O(n_grams) times per row — measured as
    * a >100× slowdown, one attribute-bound select step removes it entirely.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    def dupFrac(grams: Column): Column = {
      val total = size(grams).cast("double")
      when(total === 0.0, 0.0)
        .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double") / total)
    }
    // per-row mode count via sort + run-length fold: O(g log g) per row
    // instead of the naive O(distinct·total) per-element rescan (4× on this
    // corpus, unbounded on long boilerplate docs); never a shuffle
    def topShare(grams: Column): Column = {
      val best = aggregate(array_sort(grams),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc("prev"), acc("run") + 1L).otherwise(1L)
          struct(x.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best"))
      when(size(grams) === 0, 0.0)
        .otherwise(best.cast("double") / size(grams).cast("double"))
    }
    docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        wordNgrams(col("__toks"), 2).as("__g2"),
        wordNgrams(col("__toks"), 3).as("__g3"))
      .select(col("doc_id"),
        size(col("__g2")).cast("long").as("n_2grams"),
        dupFrac(col("__g2")).as("dup_2gram_frac"),
        dupFrac(col("__g3")).as("dup_3gram_frac"),
        topShare(col("__g2")).as("top_2gram_share"))
  }

  /** Fuzzy vocabulary matching: pairs of distinct corpus tokens within
    * `maxDist` edit distance (typo/variant detection — the normalization
    * step before exact-match dedup or term aggregation can work).
    *
    * The |len(a) − len(b)| ≤ maxDist predicate is LENGTH BLOCKING: edit
    * distance can never be under the length difference, so the band filter
    * is exact, cheap, and prunes the candidate pair space before any DP
    * matrix is computed. At 100 TB the same idea becomes a join on
    * (length band, prefix bucket) keys rather than a pair predicate —
    * the blocked-join shape, not the all-pairs shape.
    */
  def fuzzyVocabPairs(docs: DataFrame, maxDist: Int = 2): DataFrame = {
    val vocab = docs
      .select(explode(TextStats.tokens(col("text"))).as("term"))
      .distinct()
    vocab.as("a").join(vocab.as("b"),
        col("a.term") < col("b.term") &&
          abs(length(col("a.term")) - length(col("b.term"))) <= maxDist &&
          levenshtein(col("a.term"), col("b.term")) <= maxDist)
      .select(col("a.term").as("term_a"), col("b.term").as("term_b"),
        levenshtein(col("a.term"), col("b.term")).cast("long").as("dist"))
  }

  /** Inter-document exact chunk dedup (CCNet-style paragraph dedup, on
    * fixed-size token chunks since this corpus has no paragraph breaks):
    * split each document into consecutive `chunkTokens`-token chunks, keep
    * only the FIRST occurrence of every distinct chunk corpus-wide (first =
    * lowest (doc_id, chunk_idx)), and report per-document survival.
    *
    * @return (doc_id, n_chunks, n_kept, n_removed, keep_frac)
    */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 8): DataFrame = {
    // tokens materialized BEFORE the chunk lambda — slice(toks) inside the
    // transform would otherwise re-run the tokenizer once per chunk (see
    // repetitionSignals)
    val toks = col("__toks")
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1), c =>
      concat_ws(" ",
        slice(toks, c * chunkTokens + 1, lit(chunkTokens))))
    val exploded = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
      .filter(size(toks) > 0)
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
    val w = Window.partitionBy(col("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    val marked = exploded
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"))
    marked
      .withColumn("n_removed", col("n_chunks") - col("n_kept"))
      .withColumn("keep_frac",
        col("n_kept").cast("double") / col("n_chunks").cast("double"))
      .select("doc_id", "n_chunks", "n_kept", "n_removed", "keep_frac")
  }

  /** Overlapping sliding-window chunking (the RAG / context-window chunker,
    * complementing [[chunkDedup]]'s disjoint chunks): windows of
    * `chunkTokens` tokens starting every `stride` tokens (stride <
    * chunkTokens ⇒ consecutive chunks overlap by chunkTokens − stride
    * tokens). Chunk starts are 1, 1+stride, … ≤ n_tokens, so the final
    * chunk covers the document tail and may be shorter (and, when the tail
    * is shorter than the overlap, contained in its predecessor — the
    * standard fixed-stride contract).
    *
    * Scale shape: pure per-row expressions — tokenize once, explode the
    * start sequence, slice. Zero exchanges; the expansion factor is
    * ~1/stride tokens per token.
    *
    * @return (doc_id, chunk_idx, start, chunk_len, chunk_text) — start is
    *         the 1-based token offset; chunk_idx = start ordinal (0-based)
    */
  def slidingChunks(docs: DataFrame, chunkTokens: Int = 32,
                    stride: Int = 24): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      s"need 1 <= stride <= chunkTokens, got ($chunkTokens, $stride)")
    val toks = col("__toks")
    // sequence(1, n, stride) DESCENDS for n < 1 (empty doc) — guard to the
    // empty start list like wordNgrams does
    val starts = when(size(toks) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(1), size(toks), lit(stride)))
    docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), size(toks).as("__n"), col("__toks"),
        posexplode(starts).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("start"),
        least(col("__n") - col("start") + 1, lit(chunkTokens)).cast("long")
          .as("chunk_len"),
        concat_ws(" ", slice(col("__toks"), col("start"), lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Collocation mining: bigrams that co-occur far more than their parts'
    * frequencies predict, scored by LIFT = P(w1 w2) / (P(w1)·P(w2)) =
    * n_bigram · n_tokens² / (n_w1 · n_w2 · n_bigrams_total) — the exact-
    * rational cousin of PMI (PMI = log lift; the log is dropped because
    * libm transcendentals are not bit-reproducible across engines, and lift
    * orders identically).
    *
    * Shape: two hash aggregations over one tokenized scan (unigrams,
    * bigrams) + a broadcast-sized totals row; the final join keys on the
    * bigram's component words — vocabulary-sized, so both joins broadcast
    * at any corpus scale. minCount keeps noise bigrams out (and bounds the
    * output by the true collocation count, not the corpus).
    *
    * @return (w1, w2, n_pair, n_w1, n_w2, lift) for bigrams with n_pair ≥
    *         minCount
    */
  def collocations(docs: DataFrame, minCount: Long = 10L): DataFrame = {
    val toks = docs
      .select(TextStats.tokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) > 0)
    val uni = toks.select(explode(col("__toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nw"))
    val bi = toks.select(explode(wordNgrams(col("__toks"), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("n_pair"))
    val totals = toks.select(
      sum(size(col("__toks"))).cast("long").as("n_tokens"),
      sum(greatest(size(col("__toks")) - 1, lit(0))).cast("long")
        .as("n_bigrams"))
    // lift via exact long products, ONE double division (engine-identical);
    // n_pair·n_tokens² stays < 2^63 for corpora up to ~10^9 tokens at this
    // minCount/frequency profile — at true 100 TB scale the same expression
    // runs over decimal(38,0)
    bi.join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("nw", "n_w1")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("nw", "n_w2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        ((col("n_pair") * col("n_tokens") * col("n_tokens"))
          .cast("double") /
          (col("n_w1") * col("n_w2") * col("n_bigrams")).cast("double"))
          .as("lift"))
  }

  /** Greedy sequence packing: pack documents (in doc_id order, per source)
    * into token-budget bins — the context-window packing step of an LLM
    * training pipeline. A doc that would overflow the current bin opens the
    * next one; a doc longer than the budget gets a bin of its own. A true
    * order-dependent recurrence — pure INTEGER state, so no fp parity
    * concerns at all.
    *
    * Scale shape (round 10): repartition on the packing unit + sorted
    * STREAMING scan per partition — one shuffle, then a linear pass over
    * (id, token-count) metadata (never the text) with O(1) state and no
    * per-group materialization. This replaced the SQL `aggregate` array
    * fold, whose `concat(acc, element)` copies the accumulator each step:
    * O(group²) array copies — 13.5× wall at the r10 10×-scale point, and
    * a whole-group array per source besides. `mapPartitions` is the
    * documented last resort, and a per-row O(1)-state recurrence over
    * unbounded groups is exactly its case (contrast
    * [[Sessions.emaDaily]], whose fold groups are calendar-bounded). At
    * 100 TB the packing unit (here `source`) is whatever partition the
    * training shards need; each partition streams independently.
    *
    * @return (source, doc_id, n_tokens, bin, cum_tokens) — bin is 1-based
    *         per source, cum_tokens the bin's running total after this doc
    */
  def packSequences(docs: DataFrame, budget: Int = 256): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val counts = docs.select(col("source"), col("doc_id"),
      size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
    import docs.sparkSession.implicits._
    counts
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(String, Long, Long)]
      .mapPartitions { rows =>
        // hash partitioning puts every row of a source in ONE partition;
        // the sort makes groups contiguous — the scan resets on the
        // source boundary (null-safe: null sources are a real group)
        var src: String = null
        var started = false
        var bin = 0L
        var cum = 0L
        rows.map { case (s, id, n) =>
          if (!started || s != src) {
            started = true; src = s; bin = 1L; cum = n
          } else if (cum + n > budget) {
            bin += 1; cum = n
          } else cum += n
          (s, id, n, bin, cum)
        }
      }
      .toDF("source", "doc_id", "n_tokens", "bin", "cum_tokens")
  }

  /** Deterministic stratified train/val/test split report: every doc is
    * assigned 80/10/10 by the engine-neutral hash (reproducible anywhere —
    * the SURVEY §7.4.3 split contract extended to three ways), then per
    * (lang, split): counts, the within-language fraction, and for train
    * splits the inverse-frequency CLASS WEIGHT N_train/(k·n_train_lang) —
    * the imbalance correction a trainer consumes directly.
    *
    * Scale shape: one hash aggregation over the scan; everything after
    * operates on the O(langs·3) counts frame (the global windows are on
    * that tiny frame, not the corpus).
    */
  def stratifiedSplit(docs: DataFrame): DataFrame = {
    val h = graft.functions.Hashing.knuthMod(col("doc_id"), 100L)
    val split = when(h < 80, "train").when(h < 90, "val").otherwise("test")
    val wLang = Window.partitionBy(col("lang"))
    val wAll = Window.partitionBy(lit(1))
    docs
      .select(col("lang"), split.as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_lang", sum(col("n")).over(wLang))
      .withColumn("frac_of_lang",
        col("n").cast("double") / col("n_lang").cast("double"))
      .withColumn("__train_total",
        sum(when(col("split") === "train", col("n"))).over(wAll))
      .withColumn("__train_langs",
        count(when(col("split") === "train", lit(1))).over(wAll))
      .withColumn("class_weight",
        when(col("split") === "train",
          col("__train_total").cast("double") /
            (col("__train_langs") * col("n")).cast("double")))
      .select("lang", "split", "n", "n_lang", "frac_of_lang", "class_weight")
  }

  /** Corpus mixture rebalancing: downsample every language to the size of
    * the smallest one, keeping per language the `n_target` docs with the
    * smallest engine-neutral hash priority — the deterministic version of
    * the "rebalance the training mix" resampling step.
    *
    * Shape: one tiny aggregation (per-lang counts → global min, broadcast
    * back as a 1-row dimension) + one per-lang top-k window. The window
    * ranks each language in a single task; at 100 TB the same contract runs
    * by sampling a per-language priority THRESHOLD first and filtering
    * (exact size then restored with one bounded correction pass) — the
    * q56/TakeOrdered note applies.
    *
    * @return kept docs only: (doc_id, lang, rk, n_target), rk ∈ [1, n_target]
    */
  def languageRebalance(docs: DataFrame): DataFrame = {
    val target = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("n_target"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("pri"), col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        graft.functions.Hashing.spread(col("doc_id"), 1L << 31).as("pri"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(target))
      .filter(col("rk") <= col("n_target"))
      .select(col("doc_id"), col("lang"), col("rk"), col("n_target"))
  }

  /** Systematic probability-proportional-to-size sampling: lay the corpus
    * on the cumulative-weight line in deterministic (weight, id) order and
    * take `n` equally spaced points — every document with weight ≥ W/n is
    * guaranteed in, and expected inclusion is proportional to weight (the
    * survey-sampling / data-pruning design, deterministic end to end; the
    * hash-priority samplers cover the randomized designs).
    *
    * A document covering cumulative interval [cum−w, cum) is picked once
    * per sampling point j·W/n inside it — counted EXACTLY in integers:
    * `(cum−w)·n ≤ j·W < cum·n` inverts to a closed-form count
    * `ceil(cum·n/W) − ceil((cum−w)·n/W)` (integer ceil-div), so no
    * per-point explode and no fp grid anywhere.
    *
    * The weight line is DISTRIBUTED — no global window: docs are
    * bucketed by a fixed integer grid over w (value-range buckets,
    * monotone in the sort key, no fp), per-bucket weight totals form an
    * O(nBuckets) frame whose prefix gives each bucket's below-offset, and
    * within-bucket prefix sums run per-bucket in parallel — below-offset
    * + local prefix IS the global cumulative weight, bit-identical to the
    * one-window form [[systematicSampleWindow]] (integer sums, ties on w
    * never cross buckets). Same graceful degradation as
    * [[graft.ops.Percentiles]] on duplicate-heavy w.
    */
  def systematicSample(docs: DataFrame, n: Long = 100,
                       nBuckets: Int = 1024): DataFrame = {
    val weighted = sampleWeights(docs)
    // 1-row extent frame: bucket grid coordinates + grand total
    val ext = weighted.agg(min(col("w")).as("__lo"),
      max(col("w")).as("__hi"), sum(col("w")).as("__total"))
    val bucketed = weighted.crossJoin(broadcast(ext))
      .withColumn("__b", expr(
        s"(w - __lo) * $nBuckets div (__hi - __lo + 1)"))
    val boff = bucketed.groupBy(col("__b"))
      .agg(sum(col("w")).as("__bw"))
      .withColumn("__below", coalesce(
        sum(col("__bw")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__below"))
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(col("w"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    samplePicks(bucketed
      .withColumn("__loc", sum(col("w")).over(wIn))
      .join(broadcast(boff), "__b")
      .withColumn("cum", col("__below") + col("__loc"))
      .withColumn("total", col("__total")), n)
  }

  /** [[systematicSample]] with the prefix sum as one global window: the
    * reference its specs compare the distributed weight line against.
    */
  private[graft] def systematicSampleWindow(docs: DataFrame,
                                            n: Long = 100): DataFrame = {
    val wOrd = Window.orderBy(col("w"), col("doc_id"))
    samplePicks(sampleWeights(docs)
      .withColumn("cum", sum(col("w")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("w")).over(Window.partitionBy())), n)
  }

  private def sampleWeights(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(TextStats.bpeIshTokens(col("text"))).cast("long").as("w"))
      .filter(col("w") > 0)

  /** Pick counts of the `n` sampling points over a (w, cum, total) line. */
  private def samplePicks(lined: DataFrame, n: Long): DataFrame =
    lined
      // ceil(a/b) on positives as (a+b−1) div b: Spark `div` truncates and
      // DuckDB `//` floors — identical for non-negative operands only
      .withColumn("n_picks", expr(
        s"""((cum * $n + total - 1) div total)
           | - (((cum - w) * $n + total - 1) div total)""".stripMargin))
      .filter(col("n_picks") > 0)
      .select(col("doc_id"), col("w"), col("cum"), col("n_picks"))

  /** Per-source corpus-health scorecard — the one-row-per-source summary a
    * curation pipeline prints before a training run, composing the
    * engine's proven primitives into a single frame: doc/token volume,
    * exact-duplicate mass (text-identical docs), mean length (one exact
    * division), and language diversity as Gini impurity (the q128
    * log-free form, (n² − Σcᵢ²)/n²). Two narrow aggregations over the
    * corpus (one by (source, text) for dup mass, one by (source, lang))
    * plus a per-source rollup — every output is integers or a single
    * division of integers.
    */
  def sourceScorecard(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), col("lang"), col("n_chars"),
      size(TextStats.bpeIshTokens(col("text"))).cast("long").as("toks"),
      col("text"))
    val base = toks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
    val dups = toks.groupBy(col("source"), col("text"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L))
        .as("n_dup_docs"))
    val langs = toks.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("sq"))
      .select(col("source"),
        ((col("n") * col("n") - col("sq")).cast("double") /
          (col("n") * col("n")).cast("double")).as("lang_impurity"))
    base.join(dups, "source").join(langs, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_dup_docs"),
        (col("n_chars").cast("double") / col("n_docs").cast("double"))
          .as("mean_chars"),
        col("lang_impurity"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic: D = max |F₁(v) − F₂(v)|
    * over the merged value domain, computed ENTIRELY in integers —
    * |C₁(v)·n₂ − C₂(v)·n₁| with one final division by n₁·n₂ — so the
    * continuous-distribution drift test joins TVD (categorical, q122)
    * without a single engine-sensitive fp comparison inside the max. The
    * value-count frame is O(distinct values); its cumulative window is the
    * one ordered pass (range-partition at 100 TB with per-partition offsets,
    * the standard distributed prefix-sum shape).
    */
  def ksTest(docs: DataFrame, valueCol: String, pred: Column): DataFrame = {
    val flagged = docs.select(col(valueCol).as("v"),
      when(pred, 1L).otherwise(0L).as("in1"))
    val vc = flagged.groupBy(col("v"))
      .agg(sum(col("in1")).as("c1"), sum(lit(1L) - col("in1")).as("c2"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = vc.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    vc.select(col("v"), sum(col("c1")).over(w).as("cc1"),
        sum(col("c2")).over(w).as("cc2"))
      .crossJoin(broadcast(tot))
      .groupBy(col("n1"), col("n2"))
      .agg(max(abs(col("cc1") * col("n2") - col("cc2") * col("n1")))
        .as("ks_num"))
      .select(col("n1"), col("n2"), col("ks_num"),
        (col("ks_num").cast("double") /
          (col("n1") * col("n2")).cast("double")).as("ks"))
  }

  /** Largest-remainder (Hamilton) apportionment: distribute an integer
    * `total` across groups proportionally to integer weights so the
    * allocations are integers that sum EXACTLY to `total` — the other
    * budget-allocation primitive next to [[waterfillBudget]] (waterfill
    * caps heavy groups; largest-remainder rounds proportional shares
    * without drift). base_i = ⌊total·wᵢ/W⌋, and the `total − Σbase`
    * leftover goes one unit each to the largest remainders
    * `total·wᵢ mod W` (ties broken by key — deterministic). Every step is
    * integer arithmetic; `total·wᵢ` stays far under 2⁶³ for any realistic
    * budget. Scale shape: one aggregation to the group-cardinality frame,
    * then a window sort over groups (dashboard-sized at any scale).
    */
  def largestRemainder(weights: DataFrame, total: Long): DataFrame = {
    val wAll = Window.partitionBy()
    val wRank = Window.orderBy(col("remainder").desc, col("key"))
    weights
      .select(col("key"), col("w").cast("long").as("w"))
      .withColumn("wsum", sum(col("w")).over(wAll))
      .withColumn("base", expr(s"(w * $total) div wsum"))
      .withColumn("remainder", pmod(col("w") * total, col("wsum")))
      .withColumn("leftover",
        lit(total) - sum(col("base")).over(wAll))
      .withColumn("extra",
        when(row_number().over(wRank).cast("long") <= col("leftover"),
          lit(1L)).otherwise(lit(0L)))
      .select(col("key"), col("w"), col("base"), col("remainder"),
        col("extra"), (col("base") + col("extra")).as("alloc"))
  }

  /** Water-filling token-budget allocation across corpus sources — the
    * data-mixing primitive: given per-source token counts and a global
    * budget, small sources keep everything and large sources are capped at
    * the common water level `cap` chosen so allocations exactly exhaust
    * the budget. Source i (sorted ascending by count, S_i the prefix sum)
    * is UNCONSTRAINED iff `S_{i−1} + c_i·(m−i+1) ≤ budget` — an exact
    * integer predicate; the cap is one IEEE division of exact longs over
    * the constrained tail.
    *
    * Scale shape: the corpus collapses to per-source counts in one
    * aggregation; the waterfill itself is a window sort over the
    * SOURCE-cardinality frame (dashboard-sized at any corpus scale).
    * `budgetNum/budgetDen` express the budget as an exact fraction of the
    * total (integer arithmetic — a double fraction would put engine-
    * dependent rounding inside the boundary predicate).
    */
  def waterfillBudget(docs: DataFrame, budgetNum: Long = 3,
                      budgetDen: Long = 5): DataFrame = {
    val counts = docs
      .select(col("source"),
        size(TextStats.bpeIshTokens(col("text"))).cast("long").as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("n_tokens"))
    val w = Window.orderBy(col("n_tokens"), col("source"))
    val wAll = Window.partitionBy()
    val ranked = counts
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("prefix", sum(col("n_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("n_tokens")).over(wAll))
      // budget in tokens, exact integer floor of total·num/den (`div`,
      // not `/`: Spark's Column `/` is fp division even on longs)
      .withColumn("budget",
        expr(s"(total * $budgetNum) div $budgetDen"))
      .withColumn("unconstrained",
        col("prefix") - col("n_tokens") +
          col("n_tokens") * (col("m") - col("i") + 1) <= col("budget"))
    // k = #unconstrained sources; S_k = their token mass (0 when none)
    val kFrame = ranked
      .withColumn("k", sum(when(col("unconstrained"), 1L).otherwise(0L))
        .over(wAll))
      .withColumn("s_k", coalesce(sum(when(col("unconstrained"),
        col("n_tokens"))).over(wAll), lit(0L)))
    kFrame
      .withColumn("cap",
        when(col("k") === col("m"), col("n_tokens").cast("double"))
          .otherwise((col("budget") - col("s_k")).cast("double") /
            (col("m") - col("k")).cast("double")))
      .select(col("source"), col("n_tokens"),
        col("unconstrained"),
        when(col("unconstrained"), col("n_tokens").cast("double"))
          .otherwise(col("cap")).as("allocated"))
  }

  /** Distribution drift between two corpus slices as EXACT total-variation
    * distance: TVD = ½·Σ_v |p₁(v) − p₂(v)| over a categorical column.
    * Per-bucket |o₁/n₁ − o₂/n₂| = |o₁·n₂ − o₂·n₁| / (n₁·n₂), so the sum
    * runs entirely in integers and the single division at the end makes
    * the statistic itself engine-exact — unlike PSI/KL (which need logs,
    * banned from oracled outputs) or a sum of per-bucket doubles (fp
    * association order).
    *
    * One aggregation to the (value, slice) cells, marginals re-aggregated
    * from it, one-row output. The drift monitor a curation pipeline runs
    * between snapshots or between a slice and the corpus.
    */
  def distributionDrift(docs: DataFrame, valueCol: String,
                        slicePred: Column): DataFrame = {
    val cells = docs
      .select(col(valueCol).as("v"),
        when(slicePred, 1L).otherwise(0L).as("in_a"))
      .groupBy(col("v"))
      .agg(sum(col("in_a")).as("o1"),
        sum(lit(1L) - col("in_a")).as("o2"))
    val marginals = cells.agg(sum(col("o1")).as("n1"), sum(col("o2")).as("n2"))
    cells.crossJoin(broadcast(marginals))
      .groupBy(col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_values"),
        sum(abs(col("o1") * col("n2") - col("o2") * col("n1")))
          .as("tvd_num"))
      .select(col("n1"), col("n2"), col("n_values"), col("tvd_num"),
        // empty-slice guard: ANSI Spark throws DIVIDE_BY_ZERO even for
        // doubles; NULL is the honest answer (oracle carries the CASE)
        when(col("n1") > 0 && col("n2") > 0,
          col("tvd_num").cast("double") /
            (lit(2L) * col("n1") * col("n2")).cast("double")).as("tvd"))
  }

  /** Categorical-association profile (chi-square contingency cells) between
    * two corpus dimensions — is language independent of source? The
    * drift/bias check a curation pipeline runs on its metadata columns.
    * Emitted PER CELL (observed, expected, cell χ² contribution) rather
    * than as the summed statistic: the sum of per-cell doubles would be
    * aggregation-order-dependent, while each cell is exact — `(o·n −
    * ra·cb)² / (n·ra·cb)`, integer moments with ONE final division (the
    * caller can sum, or rank cells by contribution directly).
    *
    * Scale shape: one (a, b) aggregation over the corpus; marginals are
    * re-aggregations of the cell frame (cells ≪ corpus), broadcast back.
    */
  def chiSquareCells(docs: DataFrame, a: String = "lang",
                     b: String = "source"): DataFrame = {
    val cells = docs.groupBy(col(a), col(b)).agg(count(lit(1)).as("o"))
    val ra = cells.groupBy(col(a)).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col(b)).agg(sum(col("o")).as("cb"))
    val n = cells.agg(sum(col("o")).as("n"))
    val dev = col("o") * col("n") - col("ra") * col("cb")
    cells.join(broadcast(ra), a).join(broadcast(cb), b)
      .crossJoin(broadcast(n))
      .select(col(a), col(b), col("o"), col("ra"), col("cb"), col("n"),
        ((col("ra") * col("cb")).cast("double") / col("n").cast("double"))
          .as("expected"),
        ((dev * dev).cast("double") /
          (col("n") * col("ra") * col("cb")).cast("double")).as("chi2_cell"))
  }

  /** Boilerplate/template detection by shared leading-token prefix — the
    * C4-style curation pass that finds header templates, scraped
    * navigation chrome, and licence preambles: any prefix opening ≥
    * `minDocs` documents is a template family, and a family spanning
    * multiple sources is scraper chrome rather than an organic duplicate.
    *
    * Scale shape: a per-row prefix projection into ONE map-side-combined
    * hash aggregation (prefix cardinality ≤ corpus); no joins, no
    * windows. The prefix is exact token text — dedup families surface
    * here too, which is the point: the downstream decision (strip prefix
    * vs drop doc) differs by n_sources.
    *
    * @return (prefix, n_docs, n_sources, first_doc), n_docs ≥ minDocs
    */
  def boilerplatePrefixes(docs: DataFrame, nTokens: Int = 3,
                          minDocs: Long = 2): DataFrame =
    docs.select(col("doc_id"), col("source"),
        concat_ws(" ", slice(TextStats.tokens(col("text")), 1, nTokens))
          .as("prefix"))
      .filter(length(col("prefix")) > 0)
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)

  /** Cross-split contamination matrix: distinct n-gram (shingle) overlap
    * between every ordered pair of the seeded hash splits — the
    * train/val/test LEAKAGE detector run before any training job (a val
    * set sharing its n-grams with train measures memorization, not
    * generalization). Composes the engine's own split (G16 contract,
    * q90's `pmod(xxhash64…)`-free deterministic hash) with the
    * contamination shingle machinery.
    *
    * Scale shape: one explode to distinct (split, shingle) — shuffle
    * bounded by vocabulary, map-side combined — then a 3×3 self-join of
    * per-split vocabularies on shingle (the corpus never joins itself).
    * Output is the split-pair lattice: overlap counts + containment of
    * the SMALLER side (single integer division), the leakage readout.
    */
  def splitLeakage(docs: DataFrame, n: Int = 3): DataFrame = {
    val h = graft.functions.Hashing.knuthMod(col("doc_id"), 100L)
    val split = when(h < 80, "train").when(h < 90, "val").otherwise("test")
    // the distinct (split, shingle) vocabulary is referenced THREE times
    // (per-split sizes + both join sides) — pinned, so the corpus-scale
    // shingle explode runs once, not three times
    val sh = docs.select(split.as("split"),
        explode(Dedup.shingleCodes(col("text"), n)).as("shingle"))
      .distinct()
      .transform(graft.Pin.apply)
    val vocab = sh.groupBy(col("split")).agg(count(lit(1)).as("n_shingles"))
    val joined = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.split") < col("b.split"))
      .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"))
      .agg(count(lit(1)).as("n_shared"))
    joined
      .join(broadcast(vocab.select(col("split").as("split_a"),
        col("n_shingles").as("v_a"))), "split_a")
      .join(broadcast(vocab.select(col("split").as("split_b"),
        col("n_shingles").as("v_b"))), "split_b")
      .select(col("split_a"), col("split_b"), col("v_a"), col("v_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("v_a"), col("v_b")).cast("double"))
          .as("containment"))
  }

  /** Per-document n-gram NOVELTY against everything that came before it in
    * `doc_id` order: of a document's distinct word `n`-grams, how many
    * appear in NO earlier document. The corpus-freshness metric a data
    * curator reads when deciding whether the next crawl increment still
    * adds information (novelty trending to zero ⇒ the source is mined out).
    *
    * First-occurrence attribution is `min(doc_id)` per gram — ties are
    * impossible (grams are distinct per document before the window).
    *
    * Scale shape: one corpus scan → explode to distinct (doc_id, gram) →
    * ONE shuffle on gram (the window's partition key; min is computed
    * without a join-back) → re-aggregate by doc_id. At 100 TB the gram key
    * would be an 8-byte `xxhash64` instead of the string (the [[chunkDedup]]
    * trade, kept as strings here for the oracle); the second shuffle
    * (doc_id) is over the already-collapsed per-doc counts.
    *
    * @return (doc_id, n_grams, n_novel) for EVERY document — documents
    *         shorter than `n` tokens report (0, 0).
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val grams = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), explode(wordNgrams(col("__toks"), n)).as("gram"))
      .distinct()
    val firstDoc = Window.partitionBy(col("gram"))
    val perDoc = grams
      .withColumn("first_doc", min(col("doc_id")).over(firstDoc))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  /** GROUP-aware train/val/test split: every document of a group (source /
    * domain / site) lands in the same split, assigned by the deterministic
    * engine-neutral [[TextStats.fingerprint]] of the group key — the split
    * discipline that stops near-duplicate documents from one site leaking
    * across split boundaries (row-level splitting, cf. `ops.Convert.hashSplit`,
    * cannot give that guarantee).
    *
    * Buckets: fingerprint(group) mod 10 → <8 train, =8 val, else test
    * (80/10/10 in expectation over groups; actual shares depend on the
    * group-size distribution, which the readout reports). A null group key
    * buckets to 0 (train) — the same convention as the oracle's
    * `coalesce(fingerprint, 0)` replay.
    *
    * Scale shape: one per-row fingerprint projection (codegen'd, no join —
    * membership is a pure function of the group key) + one rollup shuffle.
    * Disjointness is structural: a group's split is a function of its key.
    *
    * @return one row per non-empty split: split, n_groups, n_docs,
    *         total_chars
    */
  def groupSplit(docs: DataFrame, group: Column,
                 nChars: Column): DataFrame = {
    val bucket = pmod(coalesce(TextStats.fingerprint(group), lit(0L)),
      lit(10L))
    val split = when(bucket < 8, "train")
      .when(bucket === 8, "val").otherwise("test")
    docs
      .withColumn("split", split)
      .groupBy(col("split"))
      .agg(
        count_distinct(group).as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum(nChars.cast("long")).as("total_chars"))
  }

  /** Temperature-scaled source mixture sampling — the pretraining mixture
    * step: per-source quotas ∝ n_s^τ with τ = 1/2 flatten the natural
    * source distribution (big crawls down-weighted, small curated sources
    * up-weighted — the mixture design described in the GPT-3/PaLM data
    * sections), then each source is hash-priority-sampled to its quota.
    *
    * Exactness contract: √n is the ONE transcendental-free concession —
    * IEEE-754 requires sqrt correctly rounded, so both engines produce the
    * same double from the same integer count (unlike pow(n, 0.7), whose
    * libm differs in the last ulp; τ is pinned to 1/2 for that reason).
    * The weight is immediately fixed to an integer w = ⌊√n·10⁶ + 0.5⌋ and
    * everything downstream — largest-remainder apportionment of the budget
    * ⌊N·num/den⌋, remainder ties broken by source — is exact integer
    * arithmetic (q141's discipline). Selection is the engine-neutral
    * `spread` priority with doc_id tie-break.
    *
    * Scale shape: one aggregation to the source-cardinality frame, the
    * apportionment window over that dashboard-sized frame, then one
    * per-source top-quota window (at 100 TB the same contract runs as a
    * sampled priority THRESHOLD + bounded correction — the
    * languageRebalance note). Quota can exceed n_s for tiny sources
    * (sampling is without replacement), so `sel_docs = min(quota, n_s)`
    * is reported alongside.
    *
    * @return one row per source: source, n_docs, quota, sel_docs, sel_chars
    */
  def temperatureMixture(docs: DataFrame, budgetNum: Long = 1,
                         budgetDen: Long = 2): DataFrame = {
    val quotas = sqrtQuotas(docs, budgetNum, budgetDen)
    val wSel = Window.partitionBy(col("source"))
      .orderBy(col("pri"), col("doc_id"))
    val selected = docs
      .select(col("source"), col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        graft.functions.Hashing.spread(col("doc_id"), 1L << 31).as("pri"))
      .withColumn("rk", row_number().over(wSel).cast("long"))
      .join(broadcast(quotas.select(col("source"), col("quota"))),
        Seq("source"))
      .filter(col("rk") <= col("quota"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("sel_docs"), sum(col("n_chars")).as("sel_chars"))
    quotas.join(selected, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("quota"),
        coalesce(col("sel_docs"), lit(0L)).as("sel_docs"),
        coalesce(col("sel_chars"), lit(0L)).as("sel_chars"))
  }

  /** Eval-set decontamination at the SPAN grain (the GPT-3 appendix-C
    * procedure, public literature): any train-doc token position whose
    * 13-word-gram appears verbatim in the eval split is contaminated;
    * contiguous contaminated positions merge into the removal spans a
    * decontamination pass cuts (vs [[contamination]], which only FLAGS
    * docs by overlap fraction — this produces the actual removal plan).
    * Span merging is [[graft.ext.Dedup.mergeSpans]], shared with the
    * repeated-substring masker.
    *
    * Scale shape: the eval gram set is DISTINCT-collapsed and broadcast
    * (eval benchmarks are bounded — thousands of docs — regardless of
    * corpus size); the train side streams its gram positions through the
    * broadcast probe with no shuffle until the per-doc sweep's doc-key
    * sort. Measured activity at sf0.01/n=13: 2 train docs, 92 positions
    * (the corpus's planted near-dups of eval docs) — thin by
    * construction, but exactly the docs the procedure exists to catch.
    *
    * @return per train doc: doc_id, n_contam_positions, n_spans,
    *         contam_tokens (token-count mass of the merged spans)
    */
  def decontamSpans(docs: DataFrame, evalPred: Column, n: Int = 13)
      : DataFrame = {
    require(n >= 2, "decontamSpans: gram length must be ≥ 2")
    val toks = docs.select(col("doc_id"), evalPred.as("is_eval"),
      TextStats.tokens(col("text")).as("t"))
    val grams = toks.filter(size(col("t")) >= n)
      .select(col("doc_id"), col("is_eval"), posexplode(expr(
        s"""transform(sequence(1, size(t) - ${n - 1}),
           |  i -> concat_ws(' ', slice(t, i, $n)))""".stripMargin))
        .as(Seq("p0", "gram")))
      .select(col("doc_id"), col("is_eval"),
        (col("p0") + 1).cast("long").as("pos"), col("gram"))
    val evalGrams = grams.filter(col("is_eval"))
      .select(col("gram")).distinct()
    val hits = grams.filter(!col("is_eval"))
      .join(broadcast(evalGrams), "gram")
      .select(col("doc_id"), col("pos"),
        (col("pos") + (n - 1)).cast("long").as("end"))
    docs.filter(!evalPred).select(col("doc_id"))
      .join(graft.ext.Dedup.mergeSpans(hits), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_positions"), lit(0L))
          .as("n_contam_positions"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("contam_tokens"))
  }

  /** Mixture EPOCHS readout — the data-recipe table (LLaMA-style
    * per-source sampling proportions, public literature) when the token
    * budget EXCEEDS the corpus: [[temperatureMixture]]'s √-temperature
    * largest-remainder quotas, re-read as per-source repeat factors.
    * `epochs_x1000 = quota·1000 div n_docs` (exact permille, no
    * floats); sources pushed past `maxEpochsX1000` are flagged — the
    * oversampling-risk list a recipe review reads first (small
    * high-weight sources repeat the most and memorize the fastest).
    *
    * Scale shape: source-cardinality end to end after one corpus-count
    * aggregate; the apportionment windows run on the source-grain frame
    * (≤ thousands of rows at any corpus size).
    *
    * @return source, n_docs, quota, epochs_x1000, oversampled
    */
  def mixtureEpochs(docs: DataFrame, budgetNum: Long = 3,
                    budgetDen: Long = 1, maxEpochsX1000: Long = 4000L)
      : DataFrame =
    sqrtQuotas(docs, budgetNum, budgetDen)
      .select(col("source"), col("n_docs"), col("quota"),
        expr("(quota * 1000) div n_docs").as("epochs_x1000"),
        (expr("(quota * 1000) div n_docs") > maxEpochsX1000)
          .as("oversampled"))

  /** √-temperature largest-remainder doc quotas per source — the ONE
    * apportionment definition shared by [[temperatureMixture]] (budget
    * below the corpus: subsampling) and [[mixtureEpochs]] (budget above
    * it: repeat factors). τ is pinned to 1/2 because IEEE sqrt is
    * correctly rounded where pow is not (the q170 parity note).
    */
  private def sqrtQuotas(docs: DataFrame, budgetNum: Long,
                         budgetDen: Long): DataFrame = {
    val wAll = Window.partitionBy()
    val wRank = Window.orderBy(col("remainder").desc, col("source"))
    docs
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w",
        floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5).cast("long"))
      .withColumn("wsum", sum(col("w")).over(wAll))
      .withColumn("budget",
        expr(s"(sum(n_docs) OVER () * $budgetNum) div $budgetDen"))
      .withColumn("base", expr("(w * budget) div wsum"))
      .withColumn("remainder", pmod(col("w") * col("budget"), col("wsum")))
      .withColumn("leftover", col("budget") - sum(col("base")).over(wAll))
      .withColumn("quota",
        col("base") + when(
          row_number().over(wRank).cast("long") <= col("leftover"),
          1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("quota"))
  }

  /** Deterministic corpus shuffle + fixed-size sharding — the final step
    * before training-shard writing: every document gets the engine-neutral
    * pseudo-random key `spread(doc_id)` (an affine bijection mod 2³¹, so
    * the order is a fixed permutation, reproducible by any engine), the
    * corpus is ranked in (key, doc_id) order, and rank is cut into
    * `nShards` contiguous shards of ⌈N/nShards⌉ documents.
    *
    * The global rank is DISTRIBUTED (q132's grid-rank discipline, never a
    * single-partition window): bucket = key div (2³¹/64) is monotone in
    * key, so per-bucket row_number plus the broadcast count-below offset
    * IS the global rank, bit-identically. At 100 TB the writer maps this
    * to `repartitionByRange(key)` + per-partition file writes; the shard
    * audit here (count / char mass / key range per shard) is the
    * verification a shard-writer runs before handing shards to a trainer.
    *
    * @return one row per shard: shard, n_docs, total_chars, min_key,
    *         max_key (key ranges of distinct shards never overlap)
    */
  def shuffleShards(docs: DataFrame, nShards: Int = 16): DataFrame = {
    val M = 1L << 31
    val nBuckets = 64L
    val keyed = docs.select(
      col("doc_id"), col("n_chars").cast("long").as("n_chars"),
      graft.functions.Hashing.spread(col("doc_id"), M).as("key"))
      .withColumn("bucket", expr(s"key div ${M / nBuckets}"))
    val offsets = keyed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("below",
        coalesce(sum(col("bn")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("bn")).over(Window.partitionBy()))
      .select(col("bucket"), col("below"), col("n"))
    val wB = Window.partitionBy(col("bucket"))
      .orderBy(col("key"), col("doc_id"))
    keyed
      .withColumn("rn", row_number().over(wB).cast("long"))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("rank", col("below") + col("rn"))
      .withColumn("shard",
        expr(s"(rank - 1) div ((n + ${nShards - 1}) div $nShards)"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("key")).as("min_key"), max(col("key")).as("max_key"))
  }

  /** Dedup impact on the source mixture — the readout that says the data
    * recipe must be re-derived AFTER deduplication: dedup never removes
    * uniformly (mirror-heavy and template-heavy sources lose most), so
    * per-source corpus shares SHIFT between the raw and deduplicated
    * corpus, and any mixture weights tuned on raw shares silently train a
    * different distribution. Keeper = smallest doc_id per text-prefix
    * fingerprint (the q185/q199 prefix discipline — full-text keys are
    * inactive on boilerplate-prefixed corpora), shares in exact ppm.
    *
    * Scale shape: one fingerprint-key shuffle for the keeper window
    * (fp-bounded partitions), one source-grain rollup, totals as a
    * broadcast 1-row frame. Envelope: n·10⁶ in longs holds to ~9·10¹²
    * docs per source.
    *
    * @return source, n_before, n_kept, share_before_ppm, share_after_ppm,
    *         shift_ppm (signed; positive = the source GAINS weight)
    */
  def dedupImpact(docs: DataFrame, prefixLen: Int = 32): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
      TextStats.fingerprint(substring(col("text"), 1, prefixLen)).as("fp"))
    val per = keyed
      .withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("doc_id") === col("min_id"), 1L).otherwise(0L))
          .as("n_kept"))
    val tot = per.agg(sum(col("n_before")).as("nb"),
      sum(col("n_kept")).as("nk"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_before"), col("n_kept"),
        expr("CAST(n_before * 1000000 div nb AS BIGINT)")
          .as("share_before_ppm"),
        expr("CAST(n_kept * 1000000 div nk AS BIGINT)")
          .as("share_after_ppm"))
      .withColumn("shift_ppm",
        col("share_after_ppm") - col("share_before_ppm"))
  }

  /** Train-readiness preflight (capstone composition): the checklist a
    * pipeline runs BEFORE handing a corpus to the trainer, four
    * already-oracled readouts folded to one (check, value, threshold,
    * pass) table:
    *
    *  - `eval_contam_ppm` — flagged-contaminated train docs per million
    *    ([[contamination]], the q50 gate);
    *  - `shard_imbalance_ppm` — max/min shard char-load spread of the
    *    naive count-cut shard plan ([[shuffleShards]]); a failure here
    *    says "use the snake planner" ([[shardBalance]], q210);
    *  - `max_epochs_x1000` — the largest per-group repeat factor of the
    *    √-temperature recipe ([[mixtureEpochs]], q214); a failure is a
    *    memorization-risk source that needs a cap or re-weighting;
    *  - `blocked_rate_ppm` — blocklist-dropped docs per million
    *    ([[graft.ext.Safety.blocklistScan]], the q164 gate).
    *
    * Thresholds are parameters with defaults tuned so both branches are
    * demonstrably ALIVE on the fixture (2 pass / 2 fail at sf0.01) — a
    * preflight whose checks cannot fail verifies nothing.
    *
    * Scale shape: four independent small-output DAGs (each documented at
    * its home operator) unioned at the 4-row grain; Catalyst schedules
    * the corpus scans independently — nothing is collected to the driver.
    */
  def trainPreflight(docs: DataFrame, evalPred: Column,
                     blockWords: Seq[String], maxPct: Int,
                     recipeGroup: Column, budgetNum: Long = 3L,
                     contamMaxPpm: Long = 20000L,
                     shardImbMaxPpm: Long = 500000L,
                     epochsMaxX1000: Long = 4000L,
                     blockedMaxPpm: Long = 500000L): DataFrame = {
    // degenerate denominators (every doc eval-held-out; a shard of only
    // 0-char docs) report 0, not DIVIDE_BY_ZERO — the check then passes
    // vacuously, which is the right read of "nothing to measure"
    val c1 = contamination(docs, evalPred)
      .agg(count(lit(1)).as("n"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("c"))
      .select(lit("eval_contam_ppm").as("check"),
        expr("CAST(CASE WHEN n = 0 THEN 0 " +
          "ELSE c * 1000000 div n END AS BIGINT)").as("value"),
        lit(contamMaxPpm).as("threshold"))
    val c2 = shuffleShards(docs, nShards = 16)
      .agg(min(col("total_chars")).as("mn"), max(col("total_chars")).as("mx"))
      .select(lit("shard_imbalance_ppm").as("check"),
        expr("CAST(CASE WHEN mn = 0 THEN 0 " +
          "ELSE mx * 1000000 div mn - 1000000 END AS BIGINT)").as("value"),
        lit(shardImbMaxPpm).as("threshold"))
    val c3 = mixtureEpochs(
        docs.select(col("doc_id"), recipeGroup.as("source")),
        budgetNum, 1L)
      .agg(max(col("epochs_x1000")).as("mx"))
      .select(lit("max_epochs_x1000").as("check"),
        col("mx").as("value"), lit(epochsMaxX1000).as("threshold"))
    val c4 = graft.ext.Safety
      .blocklistScan(docs, col("text"), blockWords, maxPct)
      .agg(count(lit(1)).as("n"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("b"))
      .select(lit("blocked_rate_ppm").as("check"),
        expr("CAST(CASE WHEN n = 0 THEN 0 " +
          "ELSE b * 1000000 div n END AS BIGINT)").as("value"),
        lit(blockedMaxPpm).as("threshold"))
    c1.unionByName(c2).unionByName(c3).unionByName(c4)
      .withColumn("pass", col("value") <= col("threshold"))
  }

  /** Per-source corpus digest — the dataset-version fingerprint a lineage
    * system stamps on every pipeline input/output: an ORDER-INVARIANT
    * content hash (sum of per-doc terms mod 2³¹ — addition commutes, so
    * file order, partitioning, and shuffle layout cannot change it) plus
    * doc/char masses. Two corpus versions with equal digests are
    * almost-surely identical per source; a cheap equality check gates
    * cache reuse and detects silent upstream drift (q158's snapshot
    * diff then says WHAT changed — the digest is the O(sources) "did
    * anything change" primitive that decides whether to run it).
    *
    * Each doc's term is the xorshift MIX of (content fingerprint +
    * spread doc_id) — the mix must be non-linear: a purely additive fold
    * of independent fp/id terms is BLIND to pairing swaps (swapping the
    * texts of two ids permutes addends, and addition commutes — the spec
    * caught exactly this on the first draft), so identity and content
    * are combined inside the mix, per term, before the commutative sum.
    *
    * Scale shape: one per-row fingerprint + one source-grain map-side-
    * combined aggregation — scan-bound. Envelope: the long sum holds to
    * ~4·10⁹ docs per source (terms < 2³¹); past that, re-reduce the sum
    * mod 2³¹ per partial.
    *
    * @return source, n_docs, total_chars, digest
    */
  def corpusDigest(docs: DataFrame): DataFrame =
    digestTerms(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("total_chars"),
        pmod(sum(col("term")), lit(1L << 31)).as("digest"))

  /** The per-doc (source, nc, term) projection under [[corpusDigest]] —
    * shared with the streaming twin (the term sum is commutative, so the
    * same projection feeds a complete-mode streaming aggregation).
    */
  private[graft] def digestTerms(docs: DataFrame): DataFrame =
    docs.select(col("source"), length(col("text")).cast("long").as("nc"),
      pmod(graft.functions.Hashing.mix40(
        pmod(TextStats.fingerprint(col("text")) +
          graft.functions.Hashing.spread(col("doc_id"), 1L << 31),
          lit(1L << 31))),
        lit(1L << 31)).as("term"))

  /** Two-phase annealing data recipe — the midtraining schedule modern
    * pretraining runs publish (a long uniform phase, then a short final
    * phase re-weighted toward high-quality data — the "anneal", e.g.
    * OLMo / MiniCPM decay-phase mixes, public literature): the token
    * budget splits `1000−annealPermille : annealPermille`; phase 1
    * allocates by corpus mass (uniform sampling), phase 2 ONLY by each
    * source's quality-passing mass — a source with no passing docs gets
    * zero anneal quota. Both phases are the exact integer
    * largest-remainder apportionment ([[largestRemainder]], one
    * definition with q141), so quotas sum to the budget exactly.
    *
    * `shift_ppm` is the recipe's effect: each source's total share minus
    * its uniform-baseline share — positive means the anneal promotes the
    * source. If NO source passes the gate, the anneal tranche is left
    * unallocated (Σ total_quota < budget) — visibly, rather than
    * silently falling back to uniform: an anneal with nothing worth
    * annealing on is a recipe error the reader must see.
    *
    * Scale shape: one corpus pass to (source, n_docs, n_quality), then
    * two source-cardinality apportionments (global windows on the tiny
    * group frame only) and a broadcast 1-row total.
    *
    * @return source, n_docs, n_quality, p1_quota, p2_quota, total_quota,
    *         shift_ppm
    */
  def annealingRecipe(docs: DataFrame, qualityPass: Column,
                      budget: Long = 100000L,
                      annealPermille: Long = 100L): DataFrame = {
    val p2Total = budget * annealPermille / 1000L
    val p1Total = budget - p2Total
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(qualityPass, 1L).otherwise(0L)).as("n_quality"))
    val p1 = largestRemainder(
      per.select(col("source").as("key"), col("n_docs").as("w")), p1Total)
      .select(col("key").as("source"), col("alloc").as("p1_quota"))
    val p2 = largestRemainder(
      per.filter(col("n_quality") > 0L)
        .select(col("source").as("key"), col("n_quality").as("w")),
      p2Total)
      .select(col("key").as("source"), col("alloc").as("p2_quota"))
    val tot = per.agg(sum(col("n_docs")).as("n"))
    per
      .join(p1, Seq("source"))
      .join(p2, Seq("source"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_quality"),
        col("p1_quota"), coalesce(col("p2_quota"), lit(0L)).as("p2_quota"),
        (col("p1_quota") + coalesce(col("p2_quota"), lit(0L)))
          .as("total_quota"),
        (expr(s"(p1_quota + coalesce(p2_quota, 0)) * 1000000 div $budget")
          - expr("n_docs * 1000000 div n")).as("shift_ppm"))
  }

  /** Snapshot change detection on the lineage digest — the two-corpus
    * form of [[corpusDigest]]: join the per-source stamps of two corpus
    * versions FULL OUTER (added and removed sources must surface, not
    * vanish) and flag every source whose digest or masses moved. The
    * output is the work list an incremental pipeline actually runs:
    * unchanged sources skip recompute entirely; changed ones go to
    * q158's row-level diff.
    *
    * Scale shape: two scan-bound digest passes + one source-grain join —
    * the whole comparison is O(sources) after the scans.
    *
    * @return source, n_docs_a, n_docs_b, digest_a, digest_b, changed
    *         (null-safe: a source present on one side only is changed)
    */
  def digestDelta(a: DataFrame, b: DataFrame): DataFrame =
    corpusDigest(a)
      .select(col("source"), col("n_docs").as("n_docs_a"),
        col("digest").as("digest_a"))
      .join(corpusDigest(b)
        .select(col("source"), col("n_docs").as("n_docs_b"),
          col("digest").as("digest_b")),
        Seq("source"), "full_outer")
      .select(col("source"), col("n_docs_a"), col("n_docs_b"),
        col("digest_a"), col("digest_b"),
        (!(col("digest_a") <=> col("digest_b")) ||
          !(col("n_docs_a") <=> col("n_docs_b"))).as("changed"))

  /** χ² HOMOGENEITY drift between two corpus snapshots' bin histograms —
    * the distributional member of the drift family ([[digestDelta]] asks
    * "did content change", `Sessions.cusumDaily` watches a metric over
    * time; this asks "did the SHAPE of the corpus shift", Pearson's
    * classic two-sample test, public literature). Per bin, with snapshot
    * totals n₁/n₂ and bin counts c₁/c₂, the χ² contribution is
    * (n₂·c₁ − n₁·c₂)² / (n₁·n₂·(c₁+c₂)) — numerator and denominator
    * EXACT integers, one IEEE division per bin (the div1 class: per-row
    * doubles are bit-stable, so the per-bin term is oracle-hashable
    * raw). No global sum is emitted — a Σ of raw doubles is
    * fp-order-sensitive (rule 2); the reader sums the exact numerators
    * or reads the dominant bins off `term` directly.
    *
    * Long envelope: (n₂·c₁ − n₁·c₂)² exact through n·c ≲ 3e9, i.e.
    * snapshots to ~50k×50k bins·rows at full skew; past that, bin counts
    * first (the histogram is the input grain, not the corpus).
    *
    * Scale shape: two bin-grain hash aggregations, one full-outer join
    * on bin (bins present in only one snapshot keep c=0 — appearing and
    * vanishing bins are exactly the drift signal), one broadcast 1-row
    * totals frame. Output = |bins|.
    *
    * @return bin, c1, c2, term_num (exact), term_den (exact), term
    *         (one division)
    */
  def chi2Drift(a: DataFrame, b: DataFrame, bin: Column): DataFrame = {
    def hist(df: DataFrame, cName: String): DataFrame = df
      .select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(cName))
    val h = hist(a, "c1").join(hist(b, "c2"), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val totals = h.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    h.crossJoin(broadcast(totals))
      .withColumn("term_num",
        (col("n2") * col("c1") - col("n1") * col("c2")) *
          (col("n2") * col("c1") - col("n1") * col("c2")))
      .withColumn("term_den",
        col("n1") * col("n2") * (col("c1") + col("c2")))
      .select(col("bin"), col("c1"), col("c2"), col("term_num"),
        col("term_den"),
        (col("term_num").cast("double") / col("term_den").cast("double"))
          .as("term"))
  }

  /** Context-length truncation audit: for each candidate context size,
    * how many documents would truncate and how much token mass the cut
    * discards — the measurement behind choosing a model's sequence
    * length (every size is a compute/coverage trade; this is the
    * coverage side, exact). Sizes are token counts; the readout is
    * per-size so the curve is directly comparable.
    *
    * Scale shape: one token-count projection, a constant ×|contexts|
    * posexplode, one size-grain rollup — scan-bound, output
    * |contexts| rows. The ×10⁶ rates use non-negative integral division
    * (the q123 parity rule).
    *
    * @return context, n_docs, n_truncated, truncated_ppm, tokens_total,
    *         tokens_lost, lost_ppm
    */
  def truncationAudit(docs: DataFrame,
                      contexts: Seq[Long] = Seq(32L, 64L, 96L))
      : DataFrame =
    docs
      .select(TextStats.tokenCount(col("text")).cast("long").as("n_toks"))
      .select(col("n_toks"),
        explode(array(contexts.map(lit): _*)).as("context"))
      .groupBy(col("context"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_toks") > col("context"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(col("n_toks")).as("tokens_total"),
        sum(when(col("n_toks") > col("context"),
          col("n_toks") - col("context")).otherwise(0L)).as("tokens_lost"))
      .select(col("context"), col("n_docs"), col("n_truncated"),
        expr("CAST(n_truncated * 1000000 div n_docs AS BIGINT)")
          .as("truncated_ppm"),
        col("tokens_total"), col("tokens_lost"),
        // all-empty corpus: 0 lost of 0 is a clean 0, not DIVIDE_BY_ZERO
        expr("CAST(CASE WHEN tokens_total = 0 THEN 0 " +
          "ELSE tokens_lost * 1000000 div tokens_total END AS BIGINT)")
          .as("lost_ppm"))

  /** Doc-grain epoch exposure under the √-temperature recipe — q214 says
    * each GROUP repeats `quota/n` times; this materializes the recipe at
    * document grain: every doc is seen `quota div n` times and the
    * `quota mod n` docs with the smallest spread-hash rank get one extra
    * pass (deterministic — re-runs pick the SAME extras, and the pick is
    * hash-spread, not doc_id-ordered, so the extra pass isn't biased to
    * old documents). The histogram per (group, exposures) is the
    * memorization-exposure readout: any cell at high exposures is the
    * set of docs the model will see most often.
    *
    * Scale shape: the quota frame is group-grain (broadcast); the rank
    * is one per-group window (group-bounded partitions — a mega-group
    * wants the gridRankBy form, the q121 note); output is
    * O(groups · distinct exposures) = O(2·groups).
    *
    * @return source, exposures, n_docs
    */
  def epochExposure(docs: DataFrame, budgetNum: Long = 3L,
                    budgetDen: Long = 1L): DataFrame = {
    val quotas = sqrtQuotas(docs.select(col("doc_id"), col("source")),
      budgetNum, budgetDen)
    val wG = Window.partitionBy(col("source"))
      .orderBy(graft.functions.Hashing.spread(col("doc_id"), 1L << 31),
        col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(wG).cast("long"))
      .join(broadcast(quotas), Seq("source"))
      .withColumn("exposures", expr("quota div n_docs") +
        when(col("rk") <= pmod(col("quota"), col("n_docs")), 1L)
          .otherwise(0L))
      .groupBy(col("source"), col("exposures"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Training-RUN preparation capstone: the q214 mixture recipe, the q89
    * context packing, and the q222 lineage digest composed in ONE DAG —
    * the training-side sibling of the q199 curation funnel, proving the
    * recipe operators compose without a materialization seam between
    * them. Per source:
    *
    *  1. RECIPE — √-temperature largest-remainder quota (the one shared
    *     apportionment, [[mixtureEpochs]]'s epochs_x1000 readout);
    *  2. EXPOSURE — the quota materialized at doc grain ([[epochExposure]]'s
    *     hash-spread extra-pass pick), then EXPLODED into the actual
    *     (doc, pass) training stream — Σ exposures = quota exactly, by
    *     the apportionment identity;
    *  3. PACKING — the exposed stream greedy-packed into `packBudget`
    *     token bins in (pass, doc_id) order ([[packSequences]]'s
    *     O(1)-state mapPartitions scan — never the O(group²) SQL fold);
    *  4. MANIFEST — per-source rollup: rows, bins, token mass, and the
    *     q222-style order-invariant digest over the exposed stream, with
    *     the pass folded into each term BEFORE the non-linear mix (the
    *     q222 pairing-swap lesson: identity mixes per term, never
    *     linearly into a commutative sum) — so two runs agree on the
    *     manifest iff they trained on the same (doc, pass) multiset.
    *
    * Scale shape: quota frame is source-cardinality (broadcast back);
    * the exposure rank window is the per-source grain [[epochExposure]]
    * documents; the explode is bounded by the recipe's epoch cap; packing
    * is one repartition + linear scan; the manifest is a hash
    * aggregation. No stage materializes outside the DAG.
    *
    * @return source, n_docs, quota, epochs_x1000, n_rows (= quota),
    *         n_bins, packed_tokens, digest
    */
  def trainRunPrep(docs: DataFrame, budgetNum: Long = 3L,
                   budgetDen: Long = 1L, packBudget: Int = 256)
      : DataFrame = {
    require(packBudget > 0, s"packBudget must be positive, got $packBudget")
    val M = 1L << 31
    val quotas = sqrtQuotas(docs.select(col("doc_id"), col("source")),
      budgetNum, budgetDen)
    val wG = Window.partitionBy(col("source"))
      .orderBy(graft.functions.Hashing.spread(col("doc_id"), M),
        col("doc_id"))
    // q222's per-doc identity (fingerprint + spread doc_id), pass folded
    // in before the non-linear mix
    val inr = pmod(TextStats.fingerprint(col("text")) +
      graft.functions.Hashing.spread(col("doc_id"), M), lit(M))
    val exposed = docs
      .select(col("doc_id"), col("source"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"),
        inr.as("inr"))
      .withColumn("rk", row_number().over(wG).cast("long"))
      .join(broadcast(quotas), Seq("source"))
      .withColumn("exposures", expr("quota div n_docs") +
        when(col("rk") <= pmod(col("quota"), col("n_docs")), 1L)
          .otherwise(0L))
      .filter(col("exposures") > 0)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("inr"),
        explode(sequence(lit(1L), col("exposures"))).as("pass"))
      .withColumn("term", pmod(graft.functions.Hashing.mix40(
        pmod(col("inr") + col("pass") * lit(1013904223L), lit(M))),
        lit(M)))
    import docs.sparkSession.implicits._
    val packed = exposed
      .select(col("source"), col("pass"), col("doc_id"), col("n_tokens"),
        col("term"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("pass"), col("doc_id"))
      .as[(String, Long, Long, Long, Long)]
      .mapPartitions { rows =>
        // the packSequences scan, over the (pass, doc_id)-ordered
        // exposed stream (null-safe source boundary as there)
        var src: String = null
        var started = false
        var bin = 0L
        var cum = 0L
        rows.map { case (s, pass, id, n, term) =>
          if (!started || s != src) {
            started = true; src = s; bin = 1L; cum = n
          } else if (cum + n > packBudget) {
            bin += 1; cum = n
          } else cum += n
          (s, pass, id, n, term, bin)
        }
      }
      .toDF("source", "pass", "doc_id", "n_tokens", "term", "bin")
    val rollup = packed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"), max(col("bin")).as("n_bins"),
        sum(col("n_tokens")).as("packed_tokens"),
        pmod(sum(col("term")), lit(M)).as("digest"))
    // LEFT join from the quota frame: a source whose largest-remainder
    // quota is 0 has no exposed rows, but the manifest is a per-source
    // contract — it must read "quota 0", never "source not in corpus"
    quotas.join(rollup, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("quota"),
        expr("(quota * 1000) div n_docs").as("epochs_x1000"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_bins"), lit(0L)).as("n_bins"),
        coalesce(col("packed_tokens"), lit(0L)).as("packed_tokens"),
        coalesce(col("digest"), lit(0L)).as("digest"))
  }

  /** In-batch duplicate-collision audit for contrastive training: with
    * in-batch negatives, two near-duplicate positives landing in the SAME
    * batch make each other false negatives (the model is told its own
    * paraphrase is wrong) — the standard large-batch contrastive
    * pathology. For each candidate batch size, this counts how many
    * near-dup pairs (same text-prefix fingerprint, the q220 key) the
    * deterministic loader permutation co-locates, against the corpus's
    * total dup-pair mass: the curve that says how much a bigger batch
    * costs in label noise (risk grows ~linearly with batch size).
    *
    * Scale shape: ONE distributed grid rank orders the corpus; the
    * constant ×|batchSizes| explode feeds (size, batch, fp)-grain
    * aggregation — even, key-rich shuffles; the global dup mass rides a
    * broadcast 1-row frame.
    *
    * @return bsz, n_batches, total_dup_pairs, inbatch_dup_pairs,
    *         batches_with_dup
    */
  def batchCollisions(docs: DataFrame,
                      batchSizes: Seq[Long] = Seq(16L, 64L, 256L),
                      prefixLen: Int = 32): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      TextStats.fingerprint(substring(col("text"), 1, prefixLen)).as("fp"),
      graft.functions.Hashing.spread(col("doc_id"), 1L << 31).as("key64"))
    val ranked = gridRankBy(keyed, "key64", "rank", "batchCollisions")
    val cells = ranked
      .select(col("fp"), col("rank"),
        explode(array(batchSizes.map(lit): _*)).as("bsz"))
      .withColumn("batch", expr("(rank - 1) div bsz"))
      .groupBy(col("bsz"), col("batch"), col("fp"))
      .agg(count(lit(1)).as("c"))
    val globalDups = keyed.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("total_dup_pairs"),
        sum(col("c")).as("n"))
    cells.groupBy(col("bsz"))
      .agg(sum(expr("c * (c - 1) div 2")).as("inbatch_dup_pairs"),
        count_distinct(when(col("c") > 1L, col("batch")))
          .as("batches_with_dup"))
      .crossJoin(broadcast(globalDups))
      .select(col("bsz"),
        expr("(n + bsz - 1) div bsz").as("n_batches"),
        col("total_dup_pairs"), col("inbatch_dup_pairs"),
        col("batches_with_dup"))
  }

  /** Data-loader shuffle-quality audit: how well the deterministic epoch
    * permutation interleaves sources. Each epoch `e` orders the corpus by
    * the engine-neutral affine key `(doc_id·2654435761 + 1013904223·(e+1))
    * mod 2³¹` (a different fixed permutation per epoch — the property a
    * multi-epoch loader needs: re-runs reproduce it, epochs differ). The
    * audit walks each epoch's order and measures same-source ADJACENCY —
    * long same-source runs are exactly the gradient-correlation pathology
    * a shuffled loader exists to prevent — against two closed-form
    * anchors: the expectation under a uniform random permutation
    * (Σ nₛ(nₛ−1) / (N(N−1)), exact rational ×10⁶) and the sorted-order
    * worst case (N − |sources|).
    *
    * The key is the q136 two-round xorshift mix, NOT a bare affine map:
    * a purely affine permutation has three-distance structure (sorted
    * adjacent keys differ by one of ~3 fixed doc_id gaps), so against a
    * modular source layout (this fixture: source = doc_id mod 20) it
    * measured EXACTLY 0 same-source pairs in every epoch — a degenerate
    * readout, the same linearity failure the HLL hash hit. The xorshift
    * rounds break the linearity; xor/shift replay engine-neutrally.
    *
    * Scale shape: the per-epoch global order is materialized as a
    * DISTRIBUTED rank (the q132 grid discipline — per-bucket row_number
    * plus broadcast below-offsets; never a single-partition window) with
    * the epoch folded into the key's high bits, so one grid pass ranks
    * every epoch. Adjacency is a self-join on rank±1 — an even,
    * rank-keyed shuffle — and the anchors come from a source-grain frame
    * joined as one broadcast row. Envelope: the affine key needs
    * doc_id ≤ ~3.4e9 (the bloom-hash long envelope); N(N−1) and the ×10⁶
    * scalings run in DECIMAL(38,0).
    *
    * @return one row per epoch: epoch, n_pairs (= N−1), same_src_pairs,
    *         n_runs, obs_rate_e6, exp_rate_e6, sorted_same_pairs
    */
  def shuffleQuality(docs: DataFrame, nEpochs: Int = 3): DataFrame = {
    val T = 1L << 40
    val rows = docs
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), lit((nEpochs - 1).toLong))).as("epoch"))
      // epoch-seeded first affine round, then the SHARED mix tail
      .withColumn("__h1", pmod(col("doc_id") * lit(2654435761L) +
        lit(1013904223L) * (col("epoch") + 1L), lit(T)))
      .withColumn("key64", col("epoch") * T +
        graft.functions.Hashing.mixTail40(col("__h1")))
    val ranked = gridRankBy(rows, "key64", "rank", "shuffleQuality")
      .select(col("epoch"), col("rank"), col("source"))
    val nxt = ranked.select(col("epoch").as("epoch_b"),
      (col("rank") - 1L).as("rank"), col("source").as("src_b"))
    val adj = ranked.join(nxt, Seq("rank"))
      .filter(col("epoch") === col("epoch_b"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("source") === col("src_b"), 1L).otherwise(0L))
          .as("same_src_pairs"))
    val anchors = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("ns"))
      .agg(sum(col("ns")).as("n"), count(lit(1)).as("n_sources"),
        sum(col("ns") * (col("ns") - 1L)).as("spn"))
    adj.crossJoin(broadcast(anchors))
      .select(col("epoch"), col("n_pairs"), col("same_src_pairs"),
        // a run BREAK is a different-source adjacent pair; runs = breaks+1
        (lit(1L) + col("n_pairs") - col("same_src_pairs")).as("n_runs"),
        expr("CAST((CAST(same_src_pairs AS DECIMAL(38,0)) * 1000000) " +
          "div (CAST(n_pairs AS DECIMAL(38,0))) AS BIGINT)")
          .as("obs_rate_e6"),
        expr("CAST((CAST(spn AS DECIMAL(38,0)) * 1000000) div " +
          "(CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)")
          .as("exp_rate_e6"),
        (col("n") - col("n_sources")).as("sorted_same_pairs"))
  }

  /** Cross-source duplication matrix — which sources copy from which:
    * for every source pair, the number of distinct word `n`-grams they
    * share and the containment `shared / min(|A|, |B|)` (the asymmetric-
    * size-robust overlap measure, same as q78's chunk containment). The
    * diagnostic a curation pipeline runs to find mirror sites, syndicated
    * feeds, and scraped-from-each-other source pairs before per-source
    * quality decisions.
    *
    * Scale shape: the corpus collapses to DISTINCT (source, gram) once;
    * each gram's source set (≤ the dashboard-sized source count) is
    * collected in ONE gram-keyed shuffle and its pairs exploded per row —
    * a gram self-JOIN would shuffle the same frame twice and rebuild the
    * pairs through a join for no semantic gain. Candidate pairs are
    * O(grams · sources²/2) worst-case, never corpus². The output matrix
    * is sources². At 100 TB the gram key is `xxhash64(gram)` (8 bytes);
    * the string is kept here so the DuckDB oracle can replay it — the
    * chunk-dedup note applies.
    *
    * @return (src_a, src_b, shared_grams, containment) for src_a < src_b
    *         pairs with at least one shared gram; containment is the one
    *         terminal IEEE division (div1 class)
    */
  def sourceOverlapMatrix(docs: DataFrame, n: Int = 3): DataFrame = {
    val grams = docs
      .select(col("source"), TextStats.tokens(col("text")).as("__toks"))
      .select(col("source"), explode(wordNgrams(col("__toks"), n)).as("gram"))
      .distinct()
    val sizes = grams.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"))
    // per gram: sorted source set → all (a < b) pairs, exploded in place
    val shared = grams.groupBy(col("gram"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + 2, size(col("srcs"))), b =>
          struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    shared
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n_grams").as("ga"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n_grams").as("gb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        (col("shared_grams").cast("double") /
          least(col("ga"), col("gb")).cast("double")).as("containment"))
  }

  /** Per-domain document cap — the crawl-curation policy that stops one
    * mega-site (a mirror farm, a forum dump) from dominating the corpus:
    * within each host, documents are ranked by quality priority (char
    * mass desc, doc_id tie-break) and only the top `k` survive. The
    * rollup reports kept vs total doc and char mass per host — the
    * numbers behind a per-domain crawl budget.
    *
    * Scale shape: one per-host window (the corpus shuffles once on host).
    * A pathological mega-host makes its partition large; the 100 TB
    * remedy is the same threshold-selection discipline as
    * [[temperatureMixture]] — compute the host's k-th priority via a
    * sampled threshold + bounded correction instead of materializing the
    * full per-host sort. The policy itself (an ABSOLUTE per-domain cap)
    * is scale-free.
    *
    * @return one row per host: host, n_docs, n_kept, total_chars,
    *         kept_chars
    */
  def domainCap(docs: DataFrame, host: Column, nChars: Column,
                k: Int): DataFrame =
    domainCapRanked(docs, host, nChars, k)
      .groupBy(col("__host").as("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("__chars")).as("total_chars"),
        sum(when(col("kept"), col("__chars")).otherwise(0L))
          .as("kept_chars"))

  private def domainCapRanked(docs: DataFrame, host: Column,
                              nChars: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("__host"))
      .orderBy(col("__chars").desc, col("doc_id"))
    docs
      .select(col("doc_id"), host.as("__host"),
        nChars.cast("long").as("__chars"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("kept", col("rk") <= k)
  }

  /** The mega-host scale path for [[domainCap]], promoted from scaladoc
    * to code: the window form sorts each host in ONE task — a
    * billion-doc mirror farm serializes on it. Here membership is
    * decided at (host, priority-grid-bucket) granularity: per-bucket
    * counts cumulate from the top, so buckets wholly above the
    * k-boundary keep every row and buckets wholly below drop every row
    * by pure count arithmetic; the in-bucket rank (computed per
    * (host, bucket) partition — nBuckets× smaller than a host, so no
    * single task owns a mega-host) only DECIDES in the one boundary
    * bucket. The grid is over the priority value (monotone), so ties
    * never cross buckets and the same (chars desc, doc_id) contract
    * yields bit-identical kept sets — spec-asserted against the window
    * form, ties included.
    *
    * @return same rollup as [[domainCap]]
    */
  def domainCapDistributed(docs: DataFrame, host: Column, nChars: Column,
                           k: Int, nBuckets: Int = 256): DataFrame = {
    val rows = docs.select(col("doc_id"), host.as("__host"),
      nChars.cast("long").as("__chars"))
    val ext0 = rows.agg(min(col("__chars")).as("lo"),
      max(col("__chars")).as("hi"))
    // bucket 0 holds the HIGHEST priorities (descending order contract)
    val bucketed = rows.crossJoin(broadcast(ext0))
      .withColumn("b",
        when(col("hi") - col("lo") <= Long.MaxValue / nBuckets,
          expr(s"(hi - __chars) * $nBuckets div (hi - lo + 1)"))
          .otherwise(raise_error(format_string(
            "domainCapDistributed char range [%d, %d] overflows the " +
              s"$nBuckets-bucket grid; rescale first",
            col("lo"), col("hi"))).cast("long")))
    val wCum = Window.partitionBy(col("__host")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff = bucketed.groupBy(col("__host"), col("b"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("above", coalesce(sum(col("bn")).over(wCum), lit(0L)))
    val tagged = bucketed.join(boff, Seq("__host", "b"))
    // whole-bucket decisions are count arithmetic; only the boundary
    // bucket (above < k < above + bn) ranks its occupants
    val wIn = Window.partitionBy(col("__host"), col("b"))
      .orderBy(col("__chars").desc, col("doc_id"))
    val kept = tagged.withColumn("kept",
      when(col("above") + col("bn") <= k, lit(true))
        .when(col("above") >= k, lit(false))
        .otherwise(row_number().over(wIn).cast("long") <= lit(k.toLong)
          - col("above")))
    kept
      .groupBy(col("__host").as("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("__chars")).as("total_chars"),
        sum(when(col("kept"), col("__chars")).otherwise(0L))
          .as("kept_chars"))
  }

  /** Cross-document duplication mass (the readout behind span-level exact
    * dedup, cf. Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): for every document, how many of its word
    * `n`-gram OCCURRENCES are of a gram that appears in ≥ 2 distinct
    * documents. Where [[ngramNovelty]] measures first-occurrence
    * freshness (a gram is "novel" in exactly one doc), this measures the
    * duplicated token mass a span-dedup pass would mask — a doc with
    * `n_dup_occ ≈ n_occ` is boilerplate already seen elsewhere.
    *
    * Scale shape: occurrence counts collapse to the (doc, gram) grain
    * first (the corpus's one big shuffle), the cross-doc count is a
    * window over the collapsed frame's gram key, and the re-agg runs on
    * counts, never re-touching text. No join back to the corpus.
    *
    * @return one row per doc: doc_id, n_occ, n_dup_occ
    */
  def duplicationMass(docs: DataFrame, n: Int = 3): DataFrame = {
    val occ = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), explode(wordNgrams(col("__toks"), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("occ"))
    // rows per gram in `occ` ARE the distinct docs carrying it
    val wg = Window.partitionBy(col("gram"))
    val perDoc = occ
      .withColumn("n_docs_with", count(lit(1)).over(wg))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_occ"),
        sum(when(col("n_docs_with") >= 2, col("occ")).otherwise(0L))
          .as("n_dup_occ"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"),
        coalesce(col("n_dup_occ"), lit(0L)).as("n_dup_occ"))
  }

  /** Quantile normalization of a per-document score across heterogeneous
    * sources (the cross-batch calibration standard from expression-array
    * analysis, applied to corpus quality scores): a score's meaning drifts
    * across sources — one crawl's "long doc" is another's median — so
    * per-source scores are replaced by the POOLED distribution's value at
    * the same quantile. The r-th of a source's n_s docs (ties broken by
    * doc_id) maps to pooled rank ⌈(2r−1)·N / (2n_s)⌉ — the midpoint
    * nearest-rank rule, exact ceil-div integers only (the q123 discipline:
    * `(a+b−1) div b` is the one ceil form Spark's truncating `div` and
    * DuckDB's flooring `//` agree on for non-negative operands; the
    * product rides DECIMAL(38,0) ≡ HUGEINT so rank·count never overflows
    * a long).
    *
    * Scale shape: the per-source rank is a per-source window (sources are
    * the parallel unit); the pooled rank is DISTRIBUTED (q132/q171
    * grid-rank discipline — value-grid buckets, per-bucket row_number,
    * broadcast below-offsets; never a single-partition global window);
    * the final remap is an equi-join on the rank key. Nothing global but
    * two 1-row stat frames and the O(buckets) offset map.
    *
    * @return doc_id, source, score, norm_score
    */
  /** Distributed global 1-based rank under `(keyCol asc, doc_id asc)`
    * without a single-task sort (the q132/q171 grid discipline, shared by
    * [[quantileNormalize]] and [[paddingEfficiency]]): monotone
    * value-grid buckets over the key range → per-bucket `row_number` +
    * broadcast count-below offsets. Input must carry `doc_id` and the
    * long column named by `keyName`; output appends `out`.
    */
  private def gridRankBy(rows: DataFrame, keyName: String, out: String,
                         op: String, nBuckets: Int = 1024): DataFrame = {
    val bucketed = gridBucketed(rows, keyName, op, nBuckets)
    val boff = gridBelow(bucketed, count(lit(1)))
    val wIn = Window.partitionBy(col("b"))
      .orderBy(col(keyName), col("doc_id"))
    bucketed
      .withColumn("loc", row_number().over(wIn).cast("long"))
      .join(broadcast(boff), "b")
      .withColumn(out, col("below") + col("loc"))
      .drop("lo", "hi", "b", "below", "loc")
  }

  /** Monotone value-grid bucketing with the overflow guard — the shared
    * scaffolding under [[gridRankBy]] and [[contextWindows]]'s prefix
    * sum (review catch: one bucket formula, one guard).
    */
  private def gridBucketed(rows: DataFrame, keyName: String, op: String,
                           nBuckets: Int): DataFrame = {
    val ext = rows.agg(min(col(keyName)).as("lo"),
      max(col(keyName)).as("hi"))
    rows.crossJoin(broadcast(ext))
      .withColumn("b",
        when(col("hi") - col("lo") <= Long.MaxValue / nBuckets,
          expr(s"($keyName - lo) * $nBuckets div (hi - lo + 1)"))
          .otherwise(raise_error(format_string(
            s"$op key range [%d, %d] overflows the " +
              s"$nBuckets-bucket grid; rescale the key first",
            col("lo"), col("hi"))).cast("long")))
  }

  /** Broadcast per-bucket mass-below offsets: the prefix aggregate of
    * `mass` over the O(nBuckets) bucket frame (the only global window in
    * the grid discipline — it runs on buckets, never on rows).
    */
  private def gridBelow(bucketed: DataFrame, mass: Column): DataFrame =
    bucketed.groupBy(col("b")).agg(mass.as("bm"))
      .withColumn("below", coalesce(
        sum(col("bm")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("b"), col("below"))

  def quantileNormalize(docs: DataFrame, score: Column,
                        group: Column, nBuckets: Int = 1024): DataFrame = {
    val rows = docs.select(col("doc_id"), group.as("source"),
      score.cast("long").as("s"))
    val grp = rows.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val tot = rows.agg(count(lit(1)).as("n"))
    // pooled rank without a global sort: monotone value-grid buckets →
    // per-bucket row_number + broadcast count-below offsets
    val pool = gridRankBy(rows, "s", "pr", "quantileNormalize", nBuckets)
      .select(col("pr"), col("s").as("norm_score"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("s"), col("doc_id"))
    val tgt = rows
      .withColumn("r", row_number().over(wSrc).cast("long"))
      .join(broadcast(grp), "source")
      .crossJoin(broadcast(tot))
      .withColumn("idx", expr(
        "cast(((2*r - 1) * cast(n as decimal(38,0)) + 2*ns - 1) " +
          "div (2*ns) as bigint)"))
    tgt.join(pool, col("idx") === col("pr"))
      .select(col("doc_id"), col("source"), col("s").as("score"),
        col("norm_score"))
  }

  /** Source drift matrix: pairwise total-variation distance between the
    * per-source distributions of a bucketed document score — the mixture
    * monitor that says WHICH sources disagree about what a "typical"
    * document looks like (q122's two-sample TVD lifted to the all-pairs
    * matrix; TVD because PSI/KL need the engine-unsafe logarithm).
    *
    * Exactness: TVD = Σ_b |c_a·n_b − c_b·n_a| / (2·n_a·n_b) — the
    * numerator is summed in exact integers (missing buckets contribute
    * their closed-form mass n_b·(n_a − Σcommon c_a) + symmetric, so the
    * sparse per-bucket lattice never materializes empty buckets), and
    * the distance is one terminal IEEE division. Envelope: count
    * products must fit a long (n ≤ ~3·10⁹ docs/source; past that the
    * numerator rides DECIMAL(38,0) — same q123 discipline).
    *
    * Scale shape: one (source, bucket) aggregation over the corpus, the
    * pair lattice explodes per BUCKET over present sources only (q172's
    * collect_set pattern — fan-out bounded by sources², never corpus²),
    * totals join as broadcasts, and the full pair grid is a
    * sources²-row broadcast cross of the totals frame.
    *
    * @return one row per source pair (src_a < src_b): src_a, src_b,
    *         tvd_num, tvd_den, tvd
    */
  def sourceDriftMatrix(docs: DataFrame, score: Column,
                        bucketWidth: Long): DataFrame = {
    val rows = docs.select(col("source"), score.cast("long").as("__s"))
      .select(col("source"), expr(s"__s div ${bucketWidth}L").as("b"))
    val counts = rows.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
    val totals = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // per bucket: sorted present-source (source, c) list → (a < b) pairs
    val lattice = counts.groupBy(col("b"))
      .agg(sort_array(collect_list(struct(col("source"), col("c"))))
        .as("sc"))
      .select(explode(flatten(transform(col("sc"), (a, i) =>
        transform(slice(col("sc"), i + 2, size(col("sc"))), bb =>
          struct(a.getField("source").as("src_a"),
            bb.getField("source").as("src_b"),
            a.getField("c").as("ca"), bb.getField("c").as("cb"))))))
        .as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"),
        col("p.ca").as("ca"), col("p.cb").as("cb"))
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n").as("na"))), Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("n").as("nb"))), Seq("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(abs(col("ca") * col("nb") - col("cb") * col("na")))
        .as("term"),
        sum(col("ca")).as("ca_common"), sum(col("cb")).as("cb_common"))
    val grid = totals.select(col("source").as("src_a"), col("n").as("na"))
      .crossJoin(totals.select(col("source").as("src_b"),
        col("n").as("nb")))
      .filter(col("src_a") < col("src_b"))
    broadcast(grid).join(lattice, Seq("src_a", "src_b"), "left_outer")
      .select(col("src_a"), col("src_b"),
        (coalesce(col("term"), lit(0L))
          + col("nb") * (col("na") - coalesce(col("ca_common"), lit(0L)))
          + col("na") * (col("nb") - coalesce(col("cb_common"), lit(0L))))
          .as("tvd_num"),
        (col("na") * col("nb") * 2).as("tvd_den"))
      .withColumn("tvd",
        col("tvd_num").cast("double") / col("tvd_den").cast("double"))
  }

  /** Padding-efficiency readout: tokens wasted to padding when documents
    * are batched `batchSize` at a time, under LENGTH-SORTED batching vs a
    * deterministic SHUFFLE order — the measurement behind length
    * bucketing (every sequence in a batch pads to the batch max, so
    * random batching wastes a large fraction of compute; sorting by
    * length makes batches homogeneous). Both orders are exact global
    * ranks via the shared grid-rank (never a single-task sort); the
    * shuffle order is the engine-neutral `spread` permutation. Waste per
    * batch is `n_b·max_b − Σlen_b` (partial last batch pads to its own
    * size) — exact integers end to end.
    *
    * @return one row: n_docs, total_tokens, padding_sorted,
    *         padding_shuffled
    */
  def paddingEfficiency(docs: DataFrame, len: Column,
                        batchSize: Int): DataFrame = {
    val rows = docs.select(col("doc_id"), len.cast("long").as("tok"))
    def waste(ranked: DataFrame): DataFrame = ranked
      .withColumn("batch", expr(s"(rk - 1) div $batchSize"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("nb"), max(col("tok")).as("mx"),
        sum(col("tok")).as("s"))
      .agg(sum(col("nb") * col("mx") - col("s")).as("padding"),
        sum(col("s")).as("toks"), sum(col("nb")).as("n"))
    val bySorted = waste(
      gridRankBy(rows.select(col("doc_id"), col("tok"),
        col("tok").as("k")), "k", "rk", "paddingEfficiency"))
    val byShuffle = waste(
      gridRankBy(rows.withColumn("k",
        graft.functions.Hashing.spread(col("doc_id"), 1L << 31)),
        "k", "rk", "paddingEfficiency"))
    bySorted.select(col("n").as("n_docs"), col("toks").as("total_tokens"),
      col("padding").as("padding_sorted"))
      .crossJoin(broadcast(byShuffle.select(
        col("padding").as("padding_shuffled"))))
  }

  /** The full curation funnel in ONE declarative DAG — extraction →
    * blocklist gate → model quality gate → corpus-wide exact dedup —
    * with per-source survival counts after every stage: the end-to-end
    * composition a pipeline owner actually monitors (each stage is an
    * already-verified operator; the value here is that the whole chain
    * is one lazily-planned DataFrame, so Catalyst sees every stage at
    * once and the corpus makes ONE pass until the dedup shuffle).
    *
    * Stage semantics: blocklist = [[graft.ext.Safety.blocklistScan]]'s
    * exact integer decision; quality = the
    * [[TextStats.linearQualityGate]] logit-domain gate (z > 0); dedup
    * keeps the LOWEST doc_id per BOILERPLATE-PREFIX fingerprint (first
    * `prefixLen` chars — full-text exact dup is measure-zero on organic
    * corpora while shared openings are common, the q185 discipline)
    * among quality survivors, corpus-wide (a duplicate's survivor can
    * sit in another source — that is the point of corpus-wide dedup).
    *
    * @return per source: source, n_raw, n_pass_blocklist,
    *         n_pass_quality, n_unique, final_chars
    */
  def curationFunnel(docs: DataFrame, text: Column,
                     blockWords: Seq[String], maxPct: Int,
                     bias: Long, wTokens: Long, wStop: Long,
                     wDistinct: Long, prefixLen: Int = 80): DataFrame =
    curationStages(docs, text, blockWords, maxPct, bias, wTokens, wStop,
      wDistinct, prefixLen)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_pass_blocklist"),
        sum(when(col("kept_q"), 1L).otherwise(0L)).as("n_pass_quality"),
        sum(when(col("survivor"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("survivor"), length(col("text")).cast("long"))
          .otherwise(0L)).as("final_chars"))

  /** The per-document stage frame behind [[curationFunnel]] /
    * [[corpusManifest]]: doc_id, source, text, kept (blocklist), kept_q
    * (quality), survivor (dedup).
    */
  private def curationStages(docs: DataFrame, text: Column,
                             blockWords: Seq[String], maxPct: Int,
                             bias: Long, wTokens: Long, wStop: Long,
                             wDistinct: Long, prefixLen: Int): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), text.as("text"))
    val bl = graft.ext.Safety.blocklistScan(base, col("text"), blockWords,
      maxPct)
    // __toks stays a materialized multi-ref column: inlining tokens()
    // into the 3-ref logit expression would re-run the regex splitter
    // three times per row (the q51 HOF-reevaluation lesson)
    val q = bl
      .withColumn("__toks", TextStats.tokens(col("text")))
      .withColumn("__z", TextStats.qualityLogitMicro(col("__toks"),
        bias, wTokens, wStop, wDistinct))
      .withColumn("kept_q", col("kept") && col("__z") > 0)
    val surv = q
      .withColumn("fp",
        TextStats.fingerprint(substring(col("text"), 1, prefixLen)))
      .withColumn("min_id",
        min(when(col("kept_q"), col("doc_id")))
          .over(Window.partitionBy(col("fp"))))
      .withColumn("survivor",
        col("kept_q") && col("doc_id") === col("min_id"))
    surv
  }

  /** The training-corpus manifest: [[curationFunnel]]'s survivors routed
    * through the group-aware split ([[groupSplit]]'s whole-source
    * fingerprint buckets — near-dup leakage cannot cross split
    * boundaries) and rolled up per split. This is the last readout
    * before shards are written: what actually ships, where.
    *
    * @return per non-empty split: split, n_groups, n_docs, total_chars
    */
  def corpusManifest(docs: DataFrame, text: Column,
                     blockWords: Seq[String], maxPct: Int,
                     bias: Long, wTokens: Long, wStop: Long,
                     wDistinct: Long, prefixLen: Int = 80): DataFrame =
    groupSplit(
      curationStages(docs, text, blockWords, maxPct, bias, wTokens,
        wStop, wDistinct, prefixLen).filter(col("survivor")),
      col("source"), length(col("text")))

  /** Per-source data card — the one-page summary a corpus steward reads
    * per source before admitting it to a mixture (composition capstone:
    * every column is an existing operator's signal at source grain):
    * doc/char/token mass, boilerplate-prefix duplicate count (exact
    * fingerprint of the first `prefixLen` chars occurring in ≥2 docs
    * corpus-wide — the q153 boilerplate signal at doc grain),
    * blocklist-dropped docs (the q164 decision), and the majority
    * language with its exact integer share.
    *
    * Scale shape: one corpus scan computes every per-doc signal
    * (fingerprint + blocklist kernel, both codegen'd); the prefix-dup
    * count is one window on the fingerprint key (the exact-dedup
    * shuffle); lang majority aggregates to the (source × lang) grid and
    * joins back as a broadcast. Output is source-cardinality.
    *
    * @return source, n_docs, total_chars, total_tokens, n_dup_docs,
    *         n_blocked_docs, majority_lang, majority_pct
    */
  def sourceDataCard(docs: DataFrame, blockWords: Seq[String],
                     maxPct: Int, prefixLen: Int = 80): DataFrame = {
    val scanned = graft.ext.Safety
      .blocklistScan(docs, col("text"), blockWords, maxPct)
      .withColumn("fp",
        TextStats.fingerprint(substring(col("text"), 1, prefixLen)))
      .withColumn("fp_n",
        count(lit(1)).over(Window.partitionBy(col("fp"))))
    val perSrc = scanned.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast("long")).as("total_chars"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(when(col("fp_n") >= 2, 1L).otherwise(0L)).as("n_dup_docs"),
      sum(when(!col("kept"), 1L).otherwise(0L)).as("n_blocked_docs"))
    val langCnt = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("lang"))
    val major = langCnt
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") === 1)
      .select(col("source"), col("lang").as("majority_lang"),
        col("c").as("mc"))
    perSrc.join(broadcast(major), "source")
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("total_tokens"), col("n_dup_docs"), col("n_blocked_docs"),
        col("majority_lang"), expr("mc * 100 div n_docs").as("majority_pct"))
  }

  /** Fixed-context training layout: the GPT-style "concatenate the whole
    * corpus with separators, cut every `c` chars" packing — the DEFAULT
    * pretraining example builder (vs the greedy per-example bin packing
    * q89 measures). Each document occupies the half-open stream range
    * `[start, start + len)` with one separator char after it, where
    * `start` is the exact prefix sum of `(len + 1)` in `doc_id` order;
    * window `w` covers `[w·c, (w+1)·c)`. The readout is the histogram of
    * documents-touched-per-window — how often a context mixes unrelated
    * documents, the fragmentation cost this layout trades for zero
    * padding (cf. the attention-mask cross-contamination discussion in
    * public pretraining writeups).
    *
    * Scale shape: the prefix sum is DISTRIBUTED (the grid discipline
    * shared with [[quantileNormalize]]/q123: monotone doc_id-range
    * buckets → per-bucket mass + broadcast below-offsets + in-bucket
    * window), never a single-partition global cumsum; window membership
    * explodes each doc to its ~len/c + 1 overlapped windows (constant
    * fan-out in `c`); two map-side-combined rollups end the job.
    *
    * @return docs_touched, n_windows (histogram rows)
    */
  def contextWindows(docs: DataFrame, c: Long = 2048,
                     nBuckets: Int = 1024): DataFrame = {
    require(c >= 2, "contextWindows: window size must be ≥ 2")
    val rows = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("len"),
      (length(col("text")) + 1).cast("long").as("m"))
    val bucketed = gridBucketed(rows, "doc_id", "contextWindows", nBuckets)
    val boff = gridBelow(bucketed, sum(col("m")))
    val wIn = Window.partitionBy(col("b")).orderBy(col("doc_id"))
    val offs = bucketed
      .withColumn("cum_in", sum(col("m")).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(boff), "b")
      .withColumn("start", col("below") + col("cum_in") - col("m"))
    offs.filter(col("len") > 0)
      .select(explode(expr(
        s"sequence(start div $c, (start + len - 1) div $c)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("docs_touched"))
      .groupBy(col("docs_touched"))
      .agg(count(lit(1)).as("n_windows"))
  }

  /** Data-parallel shard balance: assign documents to `nWorkers` workers
    * so per-worker token mass is even — the skewed-shard problem that
    * makes one data-parallel rank straggle every step. Greedy LPT is
    * inherently sequential; the distributed standard is SNAKE (zigzag)
    * assignment off a descending length sort: rank r → block r÷W, worker
    * = position within block, reversed in odd blocks — each block of W
    * docs has similar lengths, and the reversal cancels the within-block
    * monotonicity, bounding the max−min load gap by one block's spread.
    *
    * Scale shape: the descending rank is the DISTRIBUTED grid rank
    * (shared [[gridRankBy]] — never a single-task global sort); the
    * snake arithmetic is per-row integers; one worker-grain rollup ends
    * the job.
    *
    * @return worker, n_docs, load_chars
    */
  def shardBalance(docs: DataFrame, len: Column, nWorkers: Int = 8,
                   nBuckets: Int = 1024): DataFrame = {
    require(nWorkers >= 1, "shardBalance: need at least one worker")
    val rows = docs.select(col("doc_id"),
      (-len.cast("long")).as("negLen"))
    val ranked = gridRankBy(rows, "negLen", "r", "shardBalance", nBuckets)
      .withColumn("r0", col("r") - 1L)
      .withColumn("block", expr(s"r0 div $nWorkers"))
      .withColumn("pos", pmod(col("r0"), lit(nWorkers.toLong)))
      .withColumn("worker",
        when(pmod(col("block"), lit(2L)) === 0L, col("pos"))
          .otherwise(lit(nWorkers.toLong - 1L) - col("pos")))
    ranked.groupBy(col("worker"))
      .agg(count(lit(1)).as("n_docs"),
        sum(-col("negLen")).as("load_chars"))
  }

  /** Quality-gate agreement matrix: three INDEPENDENT keep/drop gates —
    * the cheap blocklist heuristic (q164's normalized kernel), the
    * frozen model gate in the logit domain (q194), and the
    * reference-LM fluency gate (q203's known-bigram majority) — voted
    * per document and cross-tabulated. The disagreement cells are the
    * actionable readout: documents the heuristics keep but the model
    * drops (or vice versa) are exactly the ones worth human review
    * before a gate is trusted corpus-wide; a gate that never disagrees
    * is redundant, one that always disagrees is broken.
    *
    * Scale shape: the heuristic + model gates are per-row expressions
    * over one corpus scan; the LM gate contributes its own bigram-grain
    * shuffles (q203's shape); the final join is doc-grain and the
    * output is ≤8 rows.
    *
    * @return pass_blocklist, pass_model, pass_lm, n_docs, total_chars
    */
  def gateAgreement(docs: DataFrame, blockWords: Seq[String], maxPct: Int,
                    bias: Long, wTokens: Long, wStop: Long,
                    wDistinct: Long, refPred: Column): DataFrame = {
    val bl = graft.ext.Safety.blocklistScan(
      docs.select(col("doc_id"), col("text")), col("text"), blockWords,
      maxPct)
    val flags = bl
      .withColumn("__toks", TextStats.tokens(col("text")))
      .withColumn("__z", TextStats.qualityLogitMicro(col("__toks"),
        bias, wTokens, wStop, wDistinct))
      .select(col("doc_id"), length(col("text")).cast("long").as("nc"),
        col("kept").as("pass_blocklist"), (col("__z") > 0).as("pass_model"))
    val lm = TextStats.lmScore(docs, refPred)
      .select(col("doc_id"),
        (col("n_bigrams") > 0 &&
          col("n_known") * 2 >= col("n_bigrams")).as("pass_lm"))
    flags.join(lm, "doc_id")
      .groupBy(col("pass_blocklist"), col("pass_model"), col("pass_lm"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("total_chars"))
  }
}
