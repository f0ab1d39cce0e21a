package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: tokenization, quality
  * scoring, language ID (marker-word heuristic), and document fingerprinting.
  *
  * Everything is a per-row codegen'd expression pipeline — no UDFs, no
  * shuffles except the final aggregations callers add. At 100 TB these scale
  * linearly with input and are bounded by parquet scan throughput; `text` is
  * the only wide column read (column pruning keeps the scan minimal).
  *
  * Parity notes (DuckDB oracle): token split is `\s+` on trimmed text; all
  * scores are exact integer arithmetic or single-expression double arithmetic
  * (IEEE-identical per row in both engines).
  */
object TextStats {

  /** Whitespace tokenization of trimmed text; empty string → empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Quality features: exact arithmetic only.
    *  - avg_token_len: non-space chars / tokens
    *  - type_token_ratio: vocabulary / tokens (lexical diversity)
    *  - stopword_ratio: fraction of tokens in a small fixed stopword set
    */
  val stopwords: Seq[String] = Seq("the", "of", "and", "a", "to", "in", "is")

  def qualityFeatures(doc: DataFrame): DataFrame =
    doc.select(col("doc_id") +: col("lang") +: col("source") +: featureCols: _*)

  /** The feature columns alone (appendable to any doc projection).
    * Zero-token guard: blank documents get 0.0 ratios — Spark 4's ANSI mode
    * throws DIVIDE_BY_ZERO even for doubles, so an unguarded ratio would
    * crash the whole query on one blank row (oracles carry the same CASE).
    */
  def featureCols: Seq[Column] = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    def ratio(num: Column): Column =
      when(nTok === 0.0, 0.0).otherwise(num / nTok)
    Seq(
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      ratio(length(regexp_replace(col("text"), "\\s", "")).cast("double"))
        .as("avg_token_len"),
      ratio(size(array_distinct(toks)).cast("double")).as("type_token_ratio"),
      ratio(size(filter(toks, t => array_contains(stopArr, t))).cast("double"))
        .as("stopword_ratio"))
  }

  /** Language-ID by marker-token counting: count hits per language's marker
    * set, predict the argmax with a deterministic preference order on ties
    * (en > es > de > fr > zh > unknown). A real system would use char-n-gram
    * profiles; the operator shape (per-row scoring → argmax) is the same.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("shi", "bu", "wo", "de", "ni"))

  /** Marker-hit counts over an already-materialized token array (the HOF
    * re-evaluation discipline: callers materialize `toks` as a column so
    * the filter runs once per language, not once per downstream
    * reference).
    */
  def langScoresOf(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (langName, markers) =>
      val arr = array(markers.map(lit): _*)
      langName -> size(filter(toks, t => array_contains(arr, t))).cast("long")
    }

  def langScores(text: Column): Seq[(String, Column)] =
    langScoresOf(tokens(text))

  /** Argmax over materialized `<prefix><lang>` score columns with the
    * deterministic first-wins tie order of `langMarkers`; all-zero scores
    * predict "unknown".
    */
  private def predFrom(prefix: String): Column =
    langMarkers.map(_._1).foldRight(lit("unknown")) { (l, acc) =>
      val isMax = langMarkers
        .map { case (o, _) => col(s"$prefix$l") >= col(s"$prefix$o") }
        .reduce(_ && _)
      when(col(s"$prefix$l") > 0 && isMax, lit(l)).otherwise(acc)
    }

  /** Append score_* and pred_lang columns, preserving everything present. */
  def withLangId(doc: DataFrame): DataFrame = {
    val scores = langScores(col("text"))
    val scored = scores.foldLeft(doc) { case (df, (l, c)) =>
      df.withColumn(s"score_$l", c)
    }
    scored.withColumn("pred_lang", predFrom("score_"))
  }

  def langId(doc: DataFrame): DataFrame =
    withLangId(doc).select(
      col("doc_id") +: col("lang").as("actual_lang") +:
        (langMarkers.map { case (l, _) => col(s"score_$l") } :+ col("pred_lang")): _*)

  /** Cohen's kappa for the language-ID heuristic against the labeled
    * `lang` column — chance-corrected agreement, the standard "is the
    * classifier better than the marginals" eval. Everything is integer
    * counts: observed agreement and the expected-agreement marginal
    * products stay ints, and κ = (n_agree·n − Σ row·col) / (n² − Σ
    * row·col) is ONE division (the q74 exact-moments discipline applied
    * to an eval metric); a degenerate pe = 1 (single class on both
    * margins) yields NULL on both engines rather than 0/0. The confusion
    * matrix is O(labels²) after one aggregation over the corpus.
    */
  def langIdKappa(doc: DataFrame): DataFrame = {
    val cm = withLangId(doc)
      .groupBy(col("lang").as("actual"), col("pred_lang").as("pred"))
      .agg(count(lit(1)).as("c"))
    val n = cm.agg(sum(col("c")).as("n"))
    val agree = cm.filter(col("actual") === col("pred"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_agree"))
    val rows = cm.groupBy(col("actual").as("label"))
      .agg(sum(col("c")).as("row_c"))
    val cols = cm.groupBy(col("pred").as("label"))
      .agg(sum(col("c")).as("col_c"))
    val rc = rows.join(cols, "label")
      .agg(coalesce(sum(col("row_c") * col("col_c")), lit(0L)).as("sum_rc"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(rc))
      .select(col("n"), col("n_agree"), col("sum_rc"),
        when(col("n") * col("n") === col("sum_rc"),
          lit(null).cast("double"))
          .otherwise((col("n_agree") * col("n") - col("sum_rc"))
            .cast("double") /
            (col("n") * col("n") - col("sum_rc")).cast("double"))
          .as("kappa"))
  }

  /** Code-switching / language-mix audit: language-ID the FIRST and SECOND
    * half of every document's token stream independently and flag documents
    * whose halves disagree (both with signal) — the segment-level
    * consistency check a multilingual-corpus pipeline runs before trusting
    * a single doc-level language label (mixed docs poison per-language
    * mixtures and mono-lingual tokenizer training).
    *
    * Halves split at ⌊n/2⌋ tokens; each half scores against the
    * [[langMarkers]] sets with the q14 argmax/tie contract. A half with no
    * marker hits predicts "unknown" and never flags (no signal ≠
    * disagreement).
    *
    * Scale shape: pure per-row expressions (tokenize once, slice twice,
    * ten materialized marker counts), zero shuffles — pipelines with any
    * corpus scan for free. A finer-grained audit (sliding windows) is the
    * same shape with more slices.
    *
    * @return doc_id, lang (labeled), lang_first, lang_second, is_mixed
    */
  def codeSwitchAudit(docs: DataFrame, text: Column): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("lang"), tokens(text).as("__toks"))
      .withColumn("__h", expr("size(__toks) div 2").cast("int"))
      .withColumn("__first", slice(col("__toks"), lit(1), col("__h")))
      .withColumn("__second", slice(col("__toks"), col("__h") + 1,
        size(col("__toks")) - col("__h")))
    val scored = langScoresOf(col("__first")).foldLeft(base) {
      case (df, (l, c)) => df.withColumn(s"__f_$l", c)
    }
    val scored2 = langScoresOf(col("__second")).foldLeft(scored) {
      case (df, (l, c)) => df.withColumn(s"__s_$l", c)
    }
    scored2
      .withColumn("lang_first", predFrom("__f_"))
      .withColumn("lang_second", predFrom("__s_"))
      .select(col("doc_id"), col("lang"), col("lang_first"),
        col("lang_second"),
        (col("lang_first") =!= "unknown" && col("lang_second") =!= "unknown"
          && col("lang_first") =!= col("lang_second")).as("is_mixed"))
  }

  /** BPE-ish sub-word tokenization: letter runs, digit runs, and single
    * non-alphanumeric marks as separate tokens (the pre-merge word-splitting
    * shape GPT-style tokenizers apply before BPE merges). Pattern kept to
    * constructs with identical Java/RE2 semantics for oracle parity.
    */
  // \s (not just space) in the negated class: tabs/newlines must never
  // count as tokens — a GPT-style pre-merge splitter emits no whitespace
  val bpeIshPattern = "[a-z]+|[A-Z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeIshTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeIshPattern), lit(0))

  /** Per-doc token accounting under both tokenizers — the cost model input
    * for training-data budgeting.
    */
  def tokenCounts(doc: DataFrame): DataFrame =
    doc.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(bpeIshTokens(col("text"))).cast("long").as("n_bpe_tokens"),
      size(array_distinct(bpeIshTokens(col("text")))).cast("long")
        .as("n_distinct_bpe_tokens"))

  /** Composed training-data curation pipeline (the flagship extension shape):
    * quality gate → exact dedup (keep max doc_id per identical text) →
    * language-ID → per-doc curation record. One scan, one dedup shuffle, one
    * langid projection — the whole thing stays a single lazy DAG.
    */
  def curationPipeline(docs: DataFrame,
                       minTokens: Long = 20,
                       maxStopwordRatio: Double = 0.6): DataFrame = {
    // one linear DAG: features and lang-ID are appended columns (no rejoin
    // of the corpus, no recomputation of the feature subtree), the dedup
    // window is the single shuffle
    val quality = docs.select(
        (docs.columns.map(col).toSeq ++ featureCols): _*)
      .filter(col("n_tokens") >= minTokens && col("stopword_ratio") < maxStopwordRatio)
    val kept = Dedup.exactKeepMax(quality, "text", "doc_id")
    withLangId(kept)
      .select(col("doc_id"), col("lang").as("actual_lang"), col("pred_lang"),
        col("n_tokens"), col("stopword_ratio"))
  }

  /** Term-relevance ranking (TF-IDF shape): top-3 terms per document scored
    * by `tf · (N − df + 0.5)/(df + 0.5)` — the BM25 idf numerator, chosen
    * over `ln(N/df)` because it is exact rational arithmetic: identical
    * bits in any engine, no transcendental-function parity risk.
    *
    * Shape at scale: one explode + two aggregations (tf per (doc, term), df
    * per term) + a broadcast-able doc-count scalar; the df side is O(vocab),
    * tiny next to the corpus, so the enriching join broadcasts.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = exploded.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = exploded.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("rk"), col("score"))
  }

  /** Exact heavy hitters: terms whose document frequency exceeds a corpus
    * share threshold. The exact form is a distinct + one aggregation; at
    * 100 TB the same contract is served by a count-min/ space-saving sketch
    * when the vocabulary itself cannot be shuffled.
    */
  def heavyHitters(docs: DataFrame, minShare: Double = 0.4): DataFrame = {
    val df = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    df.crossJoin(broadcast(n))
      .withColumn("share", col("df").cast("double") / col("n_docs"))
      .filter(col("share") >= minShare)
      .select(col("term"), col("df"), col("n_docs"), col("share"))
  }

  /** Document fingerprint: order-weighted sum of character codes — a
    * content+position sensitive 63-bit integer computed with exact integer
    * arithmetic (SQL-expressible in both engines; commutative sum so the
    * fold order doesn't matter).
    *
    * fp(doc) = Σ_i ascii(c_i) · ((i · 2654435761) mod 1000003)  mod 2^31
    *
    * Backed by the codegen'd [[graft.functions.StringFingerprint]] kernel —
    * bit-identical to the HOF formulation kept below as [[fingerprintHof]]
    * (FunctionsSpec asserts the equivalence), but a single primitive loop
    * instead of an interpreted lambda per character.
    */
  def fingerprint(text: Column): Column =
    graft.functions.StringFingerprint.fingerprintCol(text)

  /** Feature hashing (the hashing-trick vectorizer): every token is hashed
    * into one of `dim` buckets with the engine-neutral [[fingerprint]]
    * rolling hash, and per-document bucket counts form the fixed-width
    * sparse feature vector — the vocabulary-free featurization step of a
    * text-ML pipeline (collisions are the accepted trade, exactly as in
    * scikt/Vowpal feature hashing).
    *
    * Shape: explode → per-token codegen'd hash kernel → one (doc, bucket)
    * hash aggregation; output is ≤ dim rows per document regardless of
    * vocabulary. At 100 TB, dim and the doc key partition the shuffle
    * evenly — no vocabulary dictionary to build, broadcast, or skew.
    *
    * @return (doc_id, bucket, cnt) sparse entries, bucket ∈ [0, dim)
    */
  def featureHashing(docs: DataFrame, dim: Int = 32): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), pmod(fingerprint(col("w")), lit(dim.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Bigram language model: P(w2 | w1) as exact count ratios, top-`k` next
    * tokens for the `topPrev` most frequent contexts — the n-gram LM a
    * data-quality pipeline uses for repetition/perplexity proxies.
    *
    * Scale shape: bigram pairs come from an indexed `transform` over the
    * token array (no self-join on position); the (w1, w2) count is one
    * shuffle with map-side combine; context totals are a re-aggregation of
    * the pair frame (vocab-sized, NOT a second corpus scan). The only
    * single-task step is ranking the vocab-sized context list — O(vocab),
    * not O(corpus). Parity: counts exact; p is one IEEE division of exact
    * ints → raw double, no rounding.
    */
  def bigramNextToken(docs: DataFrame, topPrev: Int = 100,
                      k: Int = 3): DataFrame = {
    val pairs = docs
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"""
          .stripMargin)).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy(col("w1")).agg(sum(col("cnt")).as("total"))
    val topContexts = totals
      .withColumn("__rk", row_number()
        .over(Window.orderBy(col("total").desc, col("w1"))).cast("long"))
      .filter(col("__rk") <= topPrev)
      .drop("__rk")
    val wNext = Window.partitionBy(col("w1"))
      .orderBy(col("cnt").desc, col("w2"))
    pairs.join(broadcast(topContexts), "w1")
      .withColumn("rank", row_number().over(wNext).cast("long"))
      .filter(col("rank") <= k)
      .select(col("w1"), col("rank"), col("w2"), col("cnt"), col("total"),
        (col("cnt").cast("double") / col("total").cast("double")).as("p"))
  }

  /** One BPE training merge step from the character level (the inner loop of
    * GPT-style tokenizer training, cf. Sennrich et al. 2016): count adjacent
    * symbol pairs over the word vocabulary weighted by word frequency, pick
    * the most frequent pair, merge it greedily left-to-right in every word,
    * and report the winning pair plus the post-merge top-`k` pair counts —
    * the state the next merge iteration would consume.
    *
    * Scale shape: the corpus collapses to its word vocabulary in the first
    * aggregation (one shuffle with map-side combine); every later step is
    * vocab-sized, and the winning pair is a 1-row broadcast. Greedy
    * non-overlapping merge is `replace` on the space-joined symbol string:
    * with single-character symbols every symbol sits at an even offset, so
    * the `"a b"` pattern can only match symbol-aligned, and `replace`'s
    * leftmost-non-overlapping scan IS the BPE merge order (both engines
    * share that replace contract, so the step is oracle-exact).
    */
  def bpeMergeStep(docs: DataFrame, k: Int = 20): DataFrame = {
    // corpus → word vocabulary (lowercase alpha words only: the clean
    // charset standard BPE demos train on; single-letter words carry no pair)
    val words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
    // pin the vocab: argmax, merge rewrite, and post-merge counts all
    // branch from it — unpinned, each branch replays the corpus scan
    val spaced = words.withColumn(
      "sp", trim(regexp_replace(col("w"), "(.)", "$1 ")))
      .transform(graft.Pin.apply)
    def pairCounts(df: DataFrame, symCol: String): DataFrame = df
      .select(col("wcnt"), split(col(symCol), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("wcnt"), explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> struct(element_at(t, i) AS pa, element_at(t, i + 1) AS pb))"""
          .stripMargin)).as("b"))
      .groupBy(col("b.pa").as("pa"), col("b.pb").as("pb"))
      .agg(sum(col("wcnt")).as("total"))
    val best = pairCounts(spaced, "sp")
      .orderBy(col("total").desc, col("pa"), col("pb"))
      .limit(1)
      .select(col("pa").as("best_a"), col("pb").as("best_b"))
      .transform(graft.Pin.apply) // 1 row, read by the rewrite AND the output
    val merged = spaced.crossJoin(broadcast(best))
      .withColumn("sp2", expr(
        "replace(sp, concat(best_a, ' ', best_b), concat(best_a, best_b))"))
    pairCounts(merged, "sp2")
      .crossJoin(broadcast(best))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("total").desc, col("pa"), col("pb")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("best_a").as("merged_a"), col("best_b").as("merged_b"),
        col("rank"), col("pa"), col("pb"), col("total"))
  }

  /** Learn the first `nMerges` BPE merges — the iterated form of
    * [[bpeMergeStep]], emitting the merge TABLE (step, pair, count) a
    * tokenizer would persist. Each round: vocab-weighted pair counts →
    * 1-row argmax (pinned with localCheckpoint so the next round's rewrite
    * and the output row share it without replaying the aggregation
    * lineage) → greedy merge rewrite of the vocabulary.
    *
    * Multi-char symbols break bpeMergeStep's even-offset alignment
    * argument, so rounds ≥2 use a PIPED representation: every symbol is
    * wrapped as `|s|` ("abc" → `|a||b||c|`). The merge pattern `|a||b|`
    * must start and end at a real `|` and symbols contain no `|`, so a
    * match can only be the complete symbol pair — and because the
    * replacement `|ab|` keeps the wrapping, replace's leftmost-
    * non-overlapping scan remains exactly the greedy BPE merge order at
    * every step. Scale shape per round is bpeMergeStep's: one vocab-sized
    * aggregation + a 1-row broadcast; the corpus is scanned once total.
    */
  def bpeLearnMerges(docs: DataFrame, nMerges: Int = 3): DataFrame = {
    val words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
    // pin the initial piped vocab: every round's pair aggregation branches
    // from it, and without the pin round i replays the corpus scan i times
    var cur = words.select(col("wcnt"),
      regexp_replace(col("w"), "(.)", "|$1|").as("piped"))
      .transform(graft.Pin.apply)
    val steps = (1 to nMerges).map { step =>
      val pc = cur
        .select(col("wcnt"),
          split(expr("trim(BOTH '|' FROM piped)"), "\\|\\|").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("wcnt"), explode(expr(
          """transform(sequence(1, size(t) - 1),
            |  i -> struct(element_at(t, i) AS pa, element_at(t, i + 1) AS pb))"""
            .stripMargin)).as("b"))
        .groupBy(col("b.pa").as("pa"), col("b.pb").as("pb"))
        .agg(sum(col("wcnt")).as("total"))
      val best = pc.orderBy(col("total").desc, col("pa"), col("pb")).limit(1)
        .select(col("pa").as("best_a"), col("pb").as("best_b"), col("total"))
        .transform(graft.Pin.apply)
      cur = cur.crossJoin(broadcast(best.drop("total")))
        .withColumn("piped", expr(
          """replace(piped, concat('|', best_a, '||', best_b, '|'),
            |        concat('|', best_a, best_b, '|'))""".stripMargin))
        .select(col("wcnt"), col("piped"))
      best.select(lit(step).cast("long").as("step"),
        col("best_a").as("merged_a"), col("best_b").as("merged_b"),
        col("total"))
    }
    steps.reduce(_ unionByName _)
  }

  /** Frozen linear quality-classifier application — the model-based
    * filtering pass (fastText/logistic-style quality classifiers in the
    * C4/CCNet lineage) applied corpus-wide WITHOUT the engine-unsafe
    * sigmoid: the gate `σ(z) > 1/2` is exactly `z > 0`, so scoring stays
    * in the LOGIT domain — integer micro-unit weights times integer
    * features, an exact long per document, and a pure integer gate.
    * Training happens offline; this operator is the trained model's
    * production application shape.
    *
    * Features (all exact ints from one tokenize): token count, stopword
    * hits, distinct-token count. Scale shape: per-row expressions, one
    * source rollup; mean logit is the one terminal IEEE division
    * (micro-units).
    *
    * @return source, n_docs, n_kept, sum_logit_micro, mean_logit_micro
    */
  def linearQualityGate(docs: DataFrame, bias: Long, wTokens: Long,
                        wStop: Long, wDistinct: Long): DataFrame =
    docs.select(col("source"), tokens(col("text")).as("__toks"))
      .withColumn("logit_micro",
        qualityLogitMicro(col("__toks"), bias, wTokens, wStop, wDistinct))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("logit_micro") > 0, 1L).otherwise(0L)).as("n_kept"),
        sum(col("logit_micro")).as("sum_logit_micro"))
      .withColumn("mean_logit_micro",
        col("sum_logit_micro").cast("double") / col("n_docs").cast("double"))

  /** The frozen linear classifier's logit over a token array, in exact
    * integer micro-units — the ONE definition of the q194-family model
    * gate, shared by [[linearQualityGate]], the curation funnel
    * (q199/q200), and the gate-agreement matrix (q211) so the feature
    * set can never silently diverge between them (review catch).
    */
  private[graft] def qualityLogitMicro(toks: Column, bias: Long,
                                       wTokens: Long, wStop: Long,
                                       wDistinct: Long): Column = {
    val stopArr = array(stopwords.map(lit): _*)
    lit(bias) + lit(wTokens) * size(toks).cast("long") +
      lit(wStop) * size(filter(toks,
        t => array_contains(stopArr, t))).cast("long") +
      lit(wDistinct) * size(array_distinct(toks)).cast("long")
  }

  /** Per-source out-of-vocabulary rate under a FROZEN global vocabulary
    * (the top `vocabK` terms by corpus frequency, ties to the
    * lexicographically first term): which sources a fixed tokenizer
    * vocabulary serves worst. [[vocabCoverage]] answers "how big must the
    * vocab be" globally; this answers "who pays" once it is frozen — the
    * per-source fairness readout of the same sizing decision.
    *
    * Scale shape: the vocab is a TakeOrdered top-k (never a global sort)
    * broadcast as a k-row set; the corpus makes one pass with a
    * broadcast left join; output is source-cardinality. `oov_rate` is
    * the one terminal IEEE division.
    */
  def oovRate(docs: DataFrame, vocabK: Int): DataFrame = {
    val occ = docs.select(col("source"),
      explode(tokens(col("text"))).as("w"))
    val vocab = occ.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabK)
      .select(col("w"), lit(1L).as("inv"))
    occ.join(broadcast(vocab), Seq("w"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Apply the learned BPE merge table corpus-wide and report tokenizer
    * FERTILITY per source (symbols emitted per word occurrence) — the
    * train-tokenizer → encode-corpus pipeline in one DAG: a high-fertility
    * source costs proportionally more context budget per word, the number
    * a mixture designer weighs against the source's quota.
    *
    * The merge table comes from [[bpeLearnMerges]] (same greedy piped
    * rewrite); application PIVOTS the nMerges-row table into ONE broadcast
    * row and replays the merges as a replace chain over the DISTINCT
    * vocabulary only — the corpus-sized frame is touched once for (source,
    * word) counts, the merge rewrite is vocab-sized, and the two meet in a
    * word-key join. Totals are exact integers; fertility is the one
    * terminal IEEE division (div1 class).
    *
    * @return source, n_word_occ, total_word_chars, total_symbols,
    *         fertility
    */
  def bpeApplyFertility(docs: DataFrame, nMerges: Int = 3): DataFrame = {
    val merges = bpeLearnMerges(docs, nMerges)
    val mCols = (1 to nMerges).flatMap { i =>
      Seq(max(when(col("step") === i, col("merged_a"))).as(s"a$i"),
        max(when(col("step") === i, col("merged_b"))).as(s"b$i"))
    }
    val mRow = merges.agg(mCols.head, mCols.tail: _*)
    val wv = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    val vocab0 = wv.select(col("w")).distinct()
      .withColumn("piped", regexp_replace(col("w"), "(.)", "|$1|"))
      .crossJoin(broadcast(mRow))
    val applied = (1 to nMerges).foldLeft(vocab0) { (df, i) =>
      df.withColumn("piped", expr(
        s"replace(piped, concat('|', a$i, '||', b$i, '|'), " +
          s"concat('|', a$i, b$i, '|'))"))
    }
      .select(col("w"),
        size(split(expr("trim(BOTH '|' FROM piped)"), "\\|\\|"))
          .cast("long").as("n_sym"))
    wv.join(applied, "w")
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_word_occ"),
        sum(col("cnt") * length(col("w")).cast("long"))
          .as("total_word_chars"),
        sum(col("cnt") * col("n_sym")).as("total_symbols"))
      .withColumn("fertility",
        col("total_symbols").cast("double") / col("n_word_occ").cast("double"))
  }

  /** The declarative higher-order-function form of [[fingerprint]] — the
    * executable specification the native kernel is tested against.
    */
  def fingerprintHof(text: Column): Column =
    pmod(
      aggregate(
        // indexed transform over the char array: O(n), unlike per-position
        // substr which rescans the string per character (O(n²))
        transform(split(text, ""),
          (c, i0) => ascii(c).cast("long") *
            pmod((i0.cast("long") + 1L) * lit(2654435761L), lit(1000003L))),
        lit(0L), (acc, x) => acc + x),
      lit(2147483648L))

  /** Vocabulary coverage curve: what fraction of all token OCCURRENCES the
    * top-k most frequent terms cover, at each requested k — the readout
    * behind tokenizer-vocabulary sizing and OOV-rate budgeting (Zipf mass
    * concentrates fast; this measures exactly how fast, log-free).
    *
    * Scale shape: one token-count aggregation (map-side combined), then
    * `orderBy(count desc).limit(max k)` — TakeOrderedAndProject, per-
    * partition heaps, NEVER a global vocab sort — and the cumulative sum
    * runs on that ≤ max(k)-row frame. Coverage is one division of exact
    * longs; ties rank deterministically by term.
    *
    * @return one row per k: (k, k_eff, vocab_size, total_tokens,
    *         covered_tokens, coverage); k_eff = min(k, vocab_size)
    */
  def vocabCoverage(docs: DataFrame,
                    ks: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0))
    val counts = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    val wTop = Window.orderBy(col("c").desc, col("term"))
    val top = counts.orderBy(col("c").desc, col("term")).limit(ks.max)
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        wTop.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val kdf = docs.sparkSession.range(1).select(
      explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"))
    kdf.crossJoin(broadcast(totals))
      .withColumn("k_eff", least(col("k"), col("vocab_size")))
      .join(broadcast(top.select(col("rk"), col("cum"))),
        col("k_eff") === col("rk"))
      .select(col("k"), col("k_eff"), col("vocab_size"),
        col("total_tokens"), col("cum").as("covered_tokens"),
        (col("cum").cast("double") / col("total_tokens").cast("double"))
          .as("coverage"))
  }

  /** Reference-LM document scoring (the KenLM-filter shape, cf. CCNet /
    * LLaMA data prep — public literature): train bigram counts on a
    * REFERENCE slice of the corpus, then score every document by how
    * familiar its bigrams are to that model. A document full of bigrams
    * the reference has never seen is jargon, boilerplate, or noise; one
    * whose bigrams are all high-probability reference mass is fluent —
    * the fluency gate runs between the cheap per-row signals (q51) and
    * the expensive model gate (q194).
    *
    * No transcendentals (NOTES parity rule): instead of a per-bigram
    * log-probability sum, the readout keeps the exact integer sufficient
    * statistics — occurrence-weighted Σ c(w1 w2) and Σ c(w1 ·) over the
    * document's KNOWN bigrams — from which any downstream consumer can
    * form the rational mean probability; plus the unknown-bigram count,
    * the strongest single signal.
    *
    * Scale shape: the reference collapses to its bigram vocabulary in one
    * map-side-combined shuffle; documents collapse to (doc, bigram)
    * counts the same way; the score join is keyed on the bigram string
    * and the model side is vocabulary-bounded (≪ corpus at 100 TB, AQE
    * broadcasts it when it fits). Tokens are whitespace-split, so the
    * `"w1 w2"` join key is collision-free by construction.
    *
    * @param refPred rows where this predicate holds form the reference
    * @return doc_id, n_bigrams, n_known, known_num (Σ occ·c(pair)),
    *         known_den (Σ occ·c(context)) — all exact BIGINT
    */
  def lmScore(docs: DataFrame, refPred: Column): DataFrame = {
    val pairsOf = (df: DataFrame) => df
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> struct(element_at(t, i) AS w1,
          |              concat_ws(' ', element_at(t, i),
          |                        element_at(t, i + 1)) AS pair))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.pair"))
    val ref = pairsOf(docs.filter(refPred))
    val refPairs = ref.groupBy(col("pair"))
      .agg(count(lit(1)).as("c_pair"))
    val refCtx = ref.groupBy(col("w1"))
      .agg(count(lit(1)).as("c_ctx"))
    val docPairs = pairsOf(docs)
      .groupBy(col("doc_id"), col("w1"), col("pair"))
      .agg(count(lit(1)).as("occ"))
    val scored = docPairs
      .join(refPairs, Seq("pair"), "left")
      .join(refCtx, Seq("w1"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("occ")).as("n_bigrams"),
        sum(when(col("c_pair").isNotNull, col("occ")).otherwise(0L))
          .as("n_known"),
        sum(when(col("c_pair").isNotNull, col("occ") * col("c_pair"))
          .otherwise(0L)).as("known_num"),
        sum(when(col("c_pair").isNotNull, col("occ") * col("c_ctx"))
          .otherwise(0L)).as("known_den"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        coalesce(col("known_num"), lit(0L)).as("known_num"),
        coalesce(col("known_den"), lit(0L)).as("known_den"))
  }

  /** Generation-loop detector — the model-output QA pass that catches
    * degenerate repetition (greedy/low-temperature decoders collapsing
    * into `the the the…` or a cycling phrase; Holtzman et al. 2020, "The
    * Curious Case of Neural Text Degeneration", public literature): a
    * document's token TAIL (last `tailLen` tokens — loops live at the
    * end, where generation got stuck) is flagged with period `p` when
    * shifting it by p maps it onto itself (`tail[1..k−p] ==
    * tail[p+1..k]`, the standard string-periodicity test), for the
    * smallest p ≤ `maxPeriod`; a period needs k ≥ 2p so at least one
    * full repeat is observed. Rolled up per (source, period) — period 0
    * rows are the clean mass, the per-period split says WHAT kind of
    * loop (single-token stutter vs phrase cycle).
    *
    * Scale shape: pure per-row array expressions (slice + equality on a
    * bounded-length tail — O(tailLen·maxPeriod) per row regardless of
    * document size), one (source, period)-grain rollup. Scan-bound.
    *
    * @return source, period (0 = no loop), n_docs
    */
  def generationLoops(docs: DataFrame, text: Column, tailLen: Int = 24,
                      maxPeriod: Int = 4): DataFrame = {
    val t = tokens(text)
    val k = least(size(t), lit(tailLen))
    // start must not be 0 in Spark slice — the greatest() keeps the
    // empty-doc row legal (length 0 → empty tail, period 0)
    val tail = slice(t, -greatest(k, lit(1)), k)
    def periodic(p: Int): Column =
      (k >= 2 * p) &&
        (slice(tail, lit(1), k - p) === slice(tail, lit(p + 1), k - p))
    val period = (maxPeriod to 1 by -1).foldLeft(lit(0L)) { (acc, p) =>
      when(periodic(p), p.toLong).otherwise(acc)
    }
    docs
      .select(col("source"), period.as("period"))
      .groupBy(col("source"), col("period"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Instruction-template diversity audit: normalize each document (lowercase,
    * digit runs → `0` — so "Example 17" and "example 3" share a template),
    * key it by its first `nTokens` tokens, and report the top-k templates
    * with their corpus share and the cumulative share of the head — the
    * over-templated-synthetic-data readout. A generation pipeline stuck on
    * few prompt templates shows a steep cumulative curve; organic data shows
    * a flat one. (Template skew is the self-instruct failure mode the
    * dataset-diversity literature filters on, e.g. Wang et al. 2023's ROUGE
    * dedup of generated instructions.)
    *
    * Parity: shares are exact integer ppm (`x * 1000000 div total`); ranks
    * are a deterministic (n_docs desc, template asc) order. Counting is pure
    * integers.
    *
    * Scale shape: one hash aggregation to template grain (map-side partials
    * absorb the duplicates that matter — the head), then TakeOrdered top-k;
    * the cumulative window runs on the k-row result, never on the corpus.
    * The 1-row total joins by broadcast.
    *
    * @return rank (1-based), template, n_docs, n_sources, share_ppm,
    *         cum_share_ppm
    */
  def templateDiversity(docs: DataFrame, nTokens: Int = 2,
                        k: Int = 15): DataFrame = {
    require(nTokens > 0 && k > 0)
    val tmpl = concat_ws(" ",
      slice(split(regexp_replace(lower(col("text")), "[0-9]+", "0"),
        "\\s+"), 1, nTokens))
    val counts = docs.select(tmpl.as("template"), col("source"))
      .groupBy(col("template"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
    val tot = counts.agg(sum(col("n_docs")).as("total"))
    val top = counts.orderBy(col("n_docs").desc, col("template")).limit(k)
    // the window runs on the k-row TakeOrdered result — bounded, not global
    val w = Window.orderBy(col("n_docs").desc, col("template"))
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_docs",
        sum(col("n_docs")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("rank"), col("template"), col("n_docs"), col("n_sources"),
        expr("CAST(n_docs * 1000000 div total AS BIGINT)").as("share_ppm"),
        expr("CAST(cum_docs * 1000000 div total AS BIGINT)")
          .as("cum_share_ppm"))
  }

  /** Green-list watermark detector (the Kirchenbauer et al. 2023 scheme,
    * γ = ½): token i is "green" iff a deterministic hash of the bigram
    * (tokenᵢ₋₁, tokenᵢ) lands in the green half; watermarked generations
    * oversample green tokens, so the one-sided z statistic
    * `z = (2g − T)/√T` (exact under γ = ½: mean T/2, sd √T/2) separates
    * them from organic text. Detection threshold z > 4 ⇒ p < 3.2e-5.
    *
    * The hash must be NON-affine (the q136/q193 parity-trap family: the
    * low bit of an affine map is the input's parity) — the bigram string
    * goes through the q15 fingerprint then [[graft.functions.Hashing.mix40]],
    * and greenness is the mixed value's low bit. Measured on the fixture
    * vocab the green rate is 452/900 pair types — balanced.
    *
    * z is the "chain" audit class: one IEEE sqrt of an exact integer
    * (correctly rounded) and one division — bit-identical across engines.
    *
    * Scale shape: bigram explode → fingerprint/mix per row (codegen'd) →
    * one doc-grain hash aggregation. Linear in corpus tokens.
    *
    * @return doc_id, n_pairs, n_green, z, detected
    */
  def watermarkDetect(docs: DataFrame, text: Column): DataFrame = {
    val toks = split(text, " ")
    val pairs = docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode_outer(
        expr("zip_with(slice(toks, 1, size(toks) - 1), " +
          "slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, '|', b))"))
        .as("pair"))
    val green = (pmod(graft.functions.Hashing.mix40(
      graft.functions.StringFingerprint.fingerprintCol(col("pair"))),
      lit(2L)) === 0).cast("long")
    pairs
      .groupBy(col("doc_id"))
      .agg(count(col("pair")).as("n_pairs"),
        coalesce(sum(when(col("pair").isNotNull, green)), lit(0L))
          .as("n_green"))
      .select(col("doc_id"), col("n_pairs"), col("n_green"),
        when(col("n_pairs") === 0, lit(0.0))
          .otherwise((col("n_green") * 2 - col("n_pairs")).cast("double") /
            sqrt(col("n_pairs").cast("double"))).as("z"))
      .withColumn("detected", col("z") > 4.0)
  }

  /** Readability audit per source: Flesch reading-ease and
    * Flesch–Kincaid grade level (Kincaid et al. 1975, public literature)
    * over exact integer counts — sentences as `[.!?]+` runs (clamped to
    * ≥1 per doc so headline-style fragments count as one sentence),
    * words as whitespace tokens, syllables as the vowel-run proxy
    * `[aeiouy]+` on lowercased text (the standard dictionary-free
    * approximation).
    *
    * Parity: the three corpus sums are exact integers; the two scores
    * are evaluated at SOURCE grain from those integers in one fixed
    * written-form expression — per-row double arithmetic on
    * exact-integer inputs (parity rule 1), with the three divisions
    * (W/S, Y/W and the /1000 constant scalings) deterministic IEEE ops
    * identical on both engines. Zero-word sources emit NULL scores.
    *
    * Scale shape: per-doc regexp counting inside the scan projection,
    * one source-grain hash aggregation with partials — scan-bound.
    *
    * @return source, n_docs, n_sentences, n_words, n_syllables,
    *         flesch, fk_grade
    */
  def readability(docs: DataFrame, text: Column): DataFrame = {
    val sent = greatest(regexp_count(text, lit("[.!?]+")).cast("long"),
      lit(1L))
    val words = tokenCount(text).cast("long")
    val syll = regexp_count(lower(text), lit("[aeiouy]+")).cast("long")
    docs
      .select(col("source"), sent.as("s"), words.as("w"), syll.as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("s")).as("n_sentences"),
        sum(col("w")).as("n_words"), sum(col("y")).as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double"))))
      .withColumn("fk_grade",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(lit(0.39) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) +
            lit(11.8) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")) - lit(15.59)))
  }

  /** Frequency-ratio data-selection score — the hashed-feature
    * importance-sampling shape of DSIR (Xie et al. 2023, public
    * literature) with the log-ratio replaced by the EXACT cross-rate
    * difference so no transcendental enters the hash: for token w with
    * target/raw corpus counts c_t(w), c_r(w) and totals N_t, N_r, the
    * per-occurrence evidence is `c_t(w)·N_r − c_r(w)·N_t` (positive ⇔ w
    * is relatively more frequent in the target domain) and a document's
    * score is the sum over its token occurrences. The target domain
    * here is the `targetPred` slice of the same corpus (a
    * held-out-domain classifier built from counts alone — a linear
    * model in the q194 sense, not a fitted one).
    *
    * Docs in the target slice are scored too (self-selection is the
    * DSIR diagnostic: the score should separate the slices — measured
    * separation is part of the readout).
    *
    * Long envelope: |evidence| ≤ max(c)·N ≤ N² — exact through N ≈ 3e9
    * corpus tokens; beyond that lift the two products to
    * DECIMAL(38,0) (same plan shape).
    *
    * Scale shape: token explode → token-grain hash agg (the vocabulary
    * frame) → one shuffle join of occurrences against vocabulary stats
    * (both sides token-partitioned, AQE-skew-safe) → doc-grain then
    * source-grain hash aggs. Everything is linear in token
    * occurrences; nothing is quadratic in corpus size.
    *
    * @return source, n_docs, n_target_docs, pos_docs (score > 0),
    *         sum_score, mean_score (one IEEE division)
    */
  def freqRatioScore(docs: DataFrame, text: Column,
                     targetPred: Column): DataFrame = {
    val occ = docs
      .select(col("doc_id"), col("source"),
        when(targetPred, lit(1L)).otherwise(lit(0L)).as("is_t"),
        explode(tokens(text)).as("tok"))
    val vocab = occ.groupBy(col("tok"))
      .agg(sum(col("is_t")).as("ct"),
        sum(lit(1L) - col("is_t")).as("cr"))
    val totals = vocab.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val scored = occ
      .join(vocab, "tok")
      .crossJoin(broadcast(totals))
      .withColumn("evidence", col("ct") * col("nr") - col("cr") * col("nt"))
      .groupBy(col("doc_id"), col("source"), col("is_t"))
      .agg(sum(col("evidence")).as("score"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_t")).as("n_target_docs"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).as("pos_docs"),
        sum(col("score")).as("sum_score"))
      .withColumn("mean_score",
        col("sum_score").cast("double") / col("n_docs").cast("double"))
  }
}
