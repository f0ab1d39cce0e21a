package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weak-supervision label operators: fuse votes from multiple annotators
  * (or labeling functions, the Snorkel framing) into one label per item,
  * and grade each annotator against the fused consensus — the audit a
  * labeling pipeline runs before its labels are trusted for training.
  *
  * Reference tie-in: the reference's eval stage compares one prediction
  * source against one ground truth (`Test/accuracy.ipynb`); a production
  * annotation pipeline has MANY imperfect label sources first, and this is
  * the step that reconciles them.
  *
  * Parity discipline: majority fusion is pure integer counting with a
  * deterministic tie-break (most votes, then LOWEST label — no engine
  * ordering leaks); Cohen's kappa is emitted as its exact integer
  * numerator/denominator `(n·n_agree − Σₗ n_ann,ₗ·n_fused,ₗ,
  * n² − Σₗ n_ann,ₗ·n_fused,ₗ)` plus the one raw IEEE division — the q111
  * exact-fraction discipline, bit-identical on any engine.
  *
  * Scale shape: one hash aggregation per grain — (item, label) counts,
  * a per-item window argmax over the label-cardinality frame (partitioned
  * by item, never global), then annotator-grain rollups whose result
  * cardinality is |annotators|. Vote marginals × fused marginals join on
  * label (|labels| rows, broadcast). No data-path collects, no |items|²
  * anywhere. Kappa magnitude: n·n_agree and the marginal products are
  * ≤ n², long-safe through ~3e9 items per annotator.
  */
object Labeling {

  /** Majority-vote fusion: one row per item — the label with the most
    * votes, ties to the lowest label; n_votes = votes for the winner,
    * n_voters = total votes cast on the item.
    */
  def majorityVote(votes: DataFrame): DataFrame = {
    val cnt = votes.groupBy(col("item_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("n_votes").desc, col("label"))
    val tot = votes.groupBy(col("item_id"))
      .agg(count(lit(1)).as("n_voters"))
    cnt.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(tot, Seq("item_id"))
      .select(col("item_id"), col("label").as("fused"),
        col("n_votes"), col("n_voters"))
  }

  /** Per-annotator report vs the majority consensus: items voted, votes
    * agreeing with the fused label, and Cohen's kappa vs the consensus as
    * exact integer numerator/denominator plus the raw double — the
    * chance-corrected agreement that separates a lazy constant annotator
    * (high raw agreement on a skewed label set, kappa ≈ 0) from a real
    * one. kappa is null when the denominator is 0 (annotator and
    * consensus both constant on the same label — chance agreement is 1
    * and kappa is undefined). Assumes the complete-panel design (every
    * annotator votes on every item); an incomplete panel would restrict
    * the consensus marginal to each annotator's own item set before the
    * product.
    */
  def annotatorReport(votes: DataFrame): DataFrame = {
    val fused = majorityVote(votes)
      .select(col("item_id"), col("fused"))
    val joined = votes.join(fused, Seq("item_id"))
    val perAnn = joined.groupBy(col("annotator"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("label") === col("fused"), 1L).otherwise(0L))
          .as("n_agree"))
    // chance-agreement numerator Σₗ n_ann,ₗ·n_fused,ₗ via the |labels|-row
    // marginal join (broadcast-sized by construction)
    val annMarg = votes.groupBy(col("annotator"), col("label"))
      .agg(count(lit(1)).as("n_a"))
    val fusedMarg = fused.groupBy(col("fused").as("label"))
      .agg(count(lit(1)).as("n_f"))
    val pe = annMarg.join(broadcast(fusedMarg), Seq("label"))
      .groupBy(col("annotator"))
      .agg(sum(col("n_a") * col("n_f")).as("pe_num"))
    perAnn.join(pe, Seq("annotator"))
      .select(col("annotator"), col("n_items"), col("n_agree"),
        (col("n_items") * col("n_agree") - col("pe_num")).as("kappa_num"),
        (col("n_items") * col("n_items") - col("pe_num")).as("kappa_den"))
      .withColumn("kappa",
        when(col("kappa_den") =!= 0L,
          col("kappa_num").cast("double") / col("kappa_den").cast("double")))
  }

  /** Pairwise preference battles from the events stream: the battle unit is
    * (user, day-of-week) — each unit "judges" every pair of event types it
    * scored, the type with the larger exact-cents total winning. This is the
    * preference-aggregation input shape of an LLM eval arena (pairwise
    * battles from many judges, each judge seeing a different subset), built
    * here from the behavioral fixture.
    *
    * Parity: cents via the q120/q216 route (`round(value,2)` →
    * DECIMAL(18,2) → ×100 long); day-of-week is epoch-day mod 7 (the q143
    * convention — calendar-free, encoding-agnostic). Comparisons and win
    * counts are pure integers.
    *
    * Scale shape: one hash aggregation to (user, dow, type) grain, then a
    * self-join co-partitioned on (user, dow) — per-unit type fan-out is
    * |types|², bounded by the type vocabulary, never by |events|. The
    * result is |types|² rows.
    *
    * @return one row per unordered type pair (ta < tb): ta, tb,
    *         n_units (units scoring both), wins_a, wins_b,
    *         net (wins_a − wins_b; ties count to neither)
    */
  def preferenceBattles(events: DataFrame): DataFrame = {
    val DayUs = 86400000000L
    val cents = (round(col("value"), 2).cast("decimal(18,2)") * 100)
      .cast("long")
    val scored = Sessions.withTsUs(events)
      .withColumn("dow", pmod(Sessions.floorDiv(col("ts_us"), DayUs), lit(7L)))
      .groupBy(col("user_id"), col("dow"), col("event_type"))
      .agg(sum(cents).as("cents"))
    val a = scored.select(col("user_id"), col("dow"),
      col("event_type").as("ta"), col("cents").as("ca"))
    val b = scored.select(col("user_id"), col("dow"),
      col("event_type").as("tb"), col("cents").as("cb"))
    a.join(b, Seq("user_id", "dow")).filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("ca") > col("cb"), 1L).otherwise(0L)).as("wins_a"),
        sum(when(col("ca") < col("cb"), 1L).otherwise(0L)).as("wins_b"))
      .withColumn("net", col("wins_a") - col("wins_b"))
  }

  /** Tournament transitivity audit over the majority digraph of
    * [[preferenceBattles]]: every type triple (a < b < c) with its three
    * signed majority margins and whether the triple forms a Condorcet
    * cycle (a beats b beats c beats a, in either rotation). Per-pair
    * electorates differ (each unit only judges pairs it scored), which is
    * exactly how real preference aggregates go intransitive even though
    * every individual judge is consistent.
    *
    * `min_abs_net` is the robustness readout: the weakest margin in the
    * triple — how many flipped judgements away the triple is from
    * changing shape. On a corpus whose majority relation happens to be a
    * total order, `is_cycle` is uniformly false and the margins carry the
    * signal (the LabelingSpec fixture proves both branches on an actual
    * rock-paper-scissors panel).
    *
    * Tie edges (net = 0) break no cycle and are reported as 0 margins.
    *
    * Scale shape: battles aggregate distributed; the triple assembly
    * joins the |types|²-row pair frame with itself — broadcast-sized by
    * the type vocabulary, independent of |events|.
    *
    * @return type_a, type_b, type_c (lexicographic), net_ab, net_bc,
    *         net_ac (positive = lexicographically-first side wins),
    *         min_abs_net, is_cycle
    */
  def tournamentAudit(events: DataFrame): DataFrame = {
    val p = preferenceBattles(events)
    val ab = p.select(col("ta").as("type_a"), col("tb").as("type_b"),
      col("net").as("net_ab"))
    val bc = p.select(col("ta").as("type_b"), col("tb").as("type_c"),
      col("net").as("net_bc"))
    val ac = p.select(col("ta").as("type_a"), col("tb").as("type_c"),
      col("net").as("net_ac"))
    ab.join(bc, Seq("type_b"))
      .join(ac, Seq("type_a", "type_c"))
      .select(col("type_a"), col("type_b"), col("type_c"),
        col("net_ab"), col("net_bc"), col("net_ac"))
      .withColumn("min_abs_net",
        least(abs(col("net_ab")), abs(col("net_bc")), abs(col("net_ac"))))
      .withColumn("is_cycle",
        (col("net_ab") > 0 && col("net_bc") > 0 && col("net_ac") < 0) ||
          (col("net_ab") < 0 && col("net_bc") < 0 && col("net_ac") > 0))
  }

  /** Bradley–Terry strength ratings from [[preferenceBattles]] — the
    * model-leaderboard fit (chatbot-arena style, public literature: Bradley
    * & Terry 1952; the MM iteration is Hunter 2004). Strength wᵢ satisfies
    * P(i beats j) = wᵢ/(wᵢ+wⱼ); the minorization-maximization update is
    *   wᵢ ← Wᵢ / Σ_{j≠i} nᵢⱼ/(wᵢ+wⱼ)
    * (Wᵢ = total wins, nᵢⱼ = decided games between i and j), normalized to
    * Σw = 1 each pass. Fixed `iters` unrolled passes from w = 1.
    *
    * Parity: wins/games are exact integers; each pass performs the one
    * double division per node plus the normalization division, and the
    * iterate is rounded to 9 dp per pass (the q64 PageRank discipline —
    * keeps last-ulp association drift from compounding across passes).
    *
    * Scale shape: the distributed work is the battle aggregation; the MM
    * iteration runs on |types|-row frames (joins and 1-row normalization
    * stats, all broadcast-sized). |types| is a vocabulary, not a data
    * scale; a million-model arena would swap the per-pass frames to the
    * same grid discipline as q132 without touching the update rule.
    *
    * @return event_type, n_games (decided), n_wins, strength (9-dp
    *         double, Σ = 1), rank (1 = strongest; ties by type)
    */
  def bradleyTerry(events: DataFrame, iters: Int = 5): DataFrame = {
    val p = preferenceBattles(events)
    // Pin the fixed frames once and the iterate each pass (the q64
    // PageRank / Components loop discipline): every MM pass references
    // `w` twice (as wi and wj) and `raw` twice (normalization sum +
    // update), so an unpinned loop multiplies the logical plan ~5x per
    // iteration — Catalyst analysis alone becomes the bottleneck.
    val games = graft.Pin(p.select(col("ta").as("i"), col("tb").as("j"),
        col("wins_a").as("wins_i"),
        (col("wins_a") + col("wins_b")).as("n_ij"))
      .unionByName(p.select(col("tb").as("i"), col("ta").as("j"),
        col("wins_b").as("wins_i"),
        (col("wins_a") + col("wins_b")).as("n_ij")))
      .filter(col("n_ij") > 0L))
    val totals = graft.Pin(games.groupBy(col("i"))
      .agg(sum(col("wins_i")).as("n_wins"), sum(col("n_ij")).as("n_games")))
    // Below the cutover the MM loop runs on the DRIVER from one collect of
    // the pinned pair frame, instead of iters × (denom job + raw pin + sum
    // + w pin). Arithmetic is the distributed loop verbatim: same double
    // divisions, and the per-pass 9-dp round is Spark's own codegen formula
    // (BigDecimal.valueOf(x).setScale(9, HALF_UP), NaN/Inf pass through),
    // which makes the (i, j)-sorted summation order parity-safe.
    if (graft.Cutover.count(graft.Cutover.BradleyTerryLocal, games)) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      def round9(x: Double): Double =
        if (x.isNaN || x.isInfinite) x
        else java.math.BigDecimal.valueOf(x)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      val gRows = games.select(col("i"), col("j"), col("n_ij"))
        .orderBy(col("i"), col("j")).collect()
      val tRows = totals.select(col("i"), col("n_wins"))
        .orderBy(col("i")).collect()
      val wMap = scala.collection.mutable.LinkedHashMap[Any, Double](
        tRows.map(r => r.get(0) -> 1.0).toIndexedSeq: _*)
      for (_ <- 1 to iters) {
        val den = scala.collection.mutable.HashMap.empty[Any, Double]
        for (r <- gRows) {
          val (i, j) = (r.get(0), r.get(1))
          den(i) = den.getOrElse(i, 0.0) +
            r.getLong(2).toDouble / (wMap(i) + wMap(j))
        }
        val raw = tRows.map(r =>
          r.get(0) -> r.getLong(1).toDouble / den(r.get(0)))
        val s = raw.foldLeft(0.0)(_ + _._2)
        for ((i, rw) <- raw) wMap(i) = round9(rw / s)
      }
      val spark = events.sparkSession
      val wDf = spark.createDataFrame(
        java.util.Arrays.asList(
          tRows.map(r => Row(r.get(0), wMap(r.get(0)))): _*),
        StructType(Seq(totals.schema("i").copy(name = "i"),
          StructField("w", DoubleType))))
      return totals.join(broadcast(wDf), Seq("i"))
        .select(col("i").as("event_type"), col("n_games"), col("n_wins"),
          col("w").as("strength"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("strength").desc, col("event_type")))
          .cast("long"))
    }
    var w = totals.select(col("i"), lit(1.0).as("w"))
    for (_ <- 1 to iters) {
      val denom = games
        .join(w.select(col("i"), col("w").as("wi")), Seq("i"))
        .join(w.select(col("i").as("j"), col("w").as("wj")), Seq("j"))
        .groupBy(col("i"))
        .agg(sum(col("n_ij").cast("double") / (col("wi") + col("wj")))
          .as("den"))
      val raw = graft.Pin(totals.join(denom, Seq("i"))
        .select(col("i"),
          (col("n_wins").cast("double") / col("den")).as("raw")))
      val s = raw.agg(sum(col("raw")).as("s"))
      w = graft.Pin(raw.crossJoin(broadcast(s))
        .select(col("i"), round(col("raw") / col("s"), 9).as("w")))
    }
    totals.join(w, Seq("i"))
      .select(col("i").as("event_type"), col("n_games"), col("n_wins"),
        col("w").as("strength"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("strength").desc, col("event_type")))
        .cast("long"))
  }

  /** Krippendorff's alpha (nominal data) — the agreement coefficient
    * that, unlike pairwise Cohen's kappa ([[annotatorReport]]), handles
    * ANY number of annotators and missing votes: units with fewer than 2
    * votes are dropped (no pairable information), everything else
    * contributes through the coincidence-matrix form.
    *
    * Exactness: with m_u votes on unit u and n_uc of them for category
    * c, observed disagreement is D_o = (1/n)·Σ_u Σ_c n_uc(m_u−n_uc)/(m_u−1)
    * and expected D_e = Σ_c n_c(n−n_c)/(n(n−1)). Clearing the per-unit
    * denominators with lcm(1..8) = 2520 (panel sizes ≤ 9; a larger panel
    * nulls the factor and surfaces as a NULL alpha rather than a silent
    * approximation) gives exact integers
    * `do_scaled = Σ_u Σ_c n_uc(m_u−n_uc)·(2520/(m_u−1))` and
    * `de_scaled = Σ_c n_c(n−n_c)`, and
    * α = 1 − D_o/D_e = (2520·de − do·(n−1)) / (2520·de) is one IEEE
    * division of longs (div1 class). -1.0 when de = 0 (a single observed
    * category: chance-corrected agreement is undefined). Long envelope:
    * de ≤ n², so n ≲ 6e7 votes before 2520·de overflows — per-stratum
    * alphas above that.
    *
    * Scale shape: (item, label) hash counts, an item-grain window for
    * m_u, a |labels|-cardinality marginal frame (the global window runs
    * on that label-cardinality frame, never on data grain), one-row
    * output.
    *
    * @param votes item_id, annotator, label
    * @return n_units, n_votes, do_scaled, de_scaled, alpha
    */
  def krippendorffAlpha(votes: DataFrame): DataFrame = {
    val uc = votes.groupBy(col("item_id"), col("label"))
      .agg(count(lit(1)).as("n_uc"))
    val withM = uc
      .withColumn("m_u",
        sum(col("n_uc")).over(Window.partitionBy(col("item_id"))))
      .filter(col("m_u") >= 2)
    val contrib = withM.withColumn("do_c",
      col("n_uc") * (col("m_u") - col("n_uc")) * expr("2520 div (m_u - 1)"))
    val aFrame = contrib.agg(
      countDistinct(col("item_id")).as("n_units"),
      sum(col("n_uc")).as("n_votes"),
      sum(col("do_c")).as("do_raw"),
      max(col("m_u")).as("max_m"))
    val bFrame = contrib.groupBy(col("label"))
      .agg(sum(col("n_uc")).as("n_c"))
      .withColumn("n", sum(col("n_c")).over(Window.partitionBy()))
      .agg(sum(col("n_c") * (col("n") - col("n_c"))).as("de_scaled"))
    // a panel wider than 9 breaks the lcm(1..8) clearing — null the
    // affected outputs LOUDLY (Spark sum would otherwise silently skip
    // a per-row null factor and understate D_o)
    val tooWide = col("max_m") > 9
    aFrame.crossJoin(broadcast(bFrame))
      .select(col("n_units"), col("n_votes"),
        when(tooWide, lit(null).cast("long")).otherwise(col("do_raw"))
          .as("do_scaled"),
        col("de_scaled"),
        when(tooWide, lit(null).cast("double"))
          .otherwise(when(col("de_scaled") === 0, lit(-1.0))
            .otherwise((col("de_scaled") * 2520L -
              col("do_raw") * (col("n_votes") - 1)).cast("double") /
              (col("de_scaled") * 2520L).cast("double"))).as("alpha"))
  }
}
