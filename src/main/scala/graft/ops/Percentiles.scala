package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact percentiles per group, in several bit-identical strategies.
  *
  * `percentile()` (Spark) / `quantile_cont()` (DuckDB) are HOLISTIC
  * aggregates: every value of a group is buffered on one reducer. That is
  * optimal at bench scale (one pass, one shuffle) and fatal for a 100 TB
  * group. [[exactPercentiles]] is the scale plan instead, HISTOGRAM
  * PRUNING — exact order statistics without any per-group buffer:
  *  1. per-group count/min/max                    (partial agg, 1 shuffle)
  *  1. fixed-width histogram over nBuckets        (partial agg, 1 shuffle)
  *  1. locate each target rank's bucket from the cumulative histogram
  *     (histogram is O(groups · nBuckets) — tiny, broadcast back)
  *  1. re-scan ONLY the located buckets (~1/nBuckets of the data), rank
  *     within each by value, pick the order statistics, interpolate.
  *
  * Buckets partition the value range, so within-bucket rank + cumulative
  * count below the bucket IS the global rank: no global sort. One hot key
  * costs O(n_group/nBuckets) at the rank-resolution sort instead of
  * O(n_group); duplicate-heavy columns degrade gracefully.
  *
  * Every strategy uses the same interpolation, Spark's `Percentile` formula
  * `(hi − pos)·v_lo + (pos − lo)·v_hi` with `pos = p·(n−1)` — which also
  * bit-matches DuckDB's `quantile_cont` on doubles (oracle-verified);
  * AnalyticsSpec asserts histogram pruning is bit-identical to the
  * holistic aggregate ([[exactPercentilesHolistic]]) on real data.
  */
object Percentiles {

  /** Exact percentiles of `valueCol` per `groupCol` by histogram pruning
    * (see object doc).
    *
    * @param ps percentile fractions in [0, 1]
    * @return (groupCol, p, value) — one row per group × percentile; groups
    *         with only null values are absent (as with the aggregate form)
    */
  def exactPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                       ps: Seq[Double], nBuckets: Int = 1024): DataFrame =
    distributed(nonNull(df, groupCol, valueCol, ps), groupCol, ps, nBuckets)

  /** The built-in holistic aggregate, exploded to [[exactPercentiles]]'
    * (group, p, value) long format: the reference its specs compare the
    * scale plan against.
    */
  private[graft] def exactPercentilesHolistic(df: DataFrame, groupCol: String,
                                              valueCol: String,
                                              ps: Seq[Double]): DataFrame = {
    val rows = nonNull(df, groupCol, valueCol, ps)
    val psSql = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val pArr = array(ps.map(lit): _*)
    rows.groupBy(col("__g"))
      .agg(expr(s"percentile(__v, $psSql)").as("__vals"))
      .select(col("__g").as(groupCol),
        posexplode(col("__vals")).as(Seq("__i", "value")))
      .select(col(groupCol), element_at(pArr, col("__i") + 1).as("p"),
        col("value"))
  }

  private def nonNull(df: DataFrame, groupCol: String, valueCol: String,
                      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentile fractions must be in [0,1]: $ps")
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
  }

  /** VALUE-COUNT COMPRESSION strategy — exact percentiles for
    * bounded value domains (2-dp prices, integral quantities, codes, day
    * buckets). Pre-aggregate to (group, value, count) with map-side combine,
    * then every order statistic is a weighted-rank lookup over the D
    * distinct values instead of a holistic buffer over N rows: shuffle
    * volume drops N→D and the reducer work parallelizes over (group, value)
    * hash partitions rather than one task per group — the counting-sort
    * answer to what histogram pruning solves for continuous domains. At
    * 100 TB a price column has D ≈ 10⁵–10⁷ ≪ N, so the compressed frame is
    * dashboard-sized regardless of fact-table growth.
    *
    * Bit-identical to the holistic form: same `(hi−pos)·v_lo + (pos−lo)·v_hi`
    * interpolation on the same doubles (AnalyticsSpec asserts equality).
    */
  def valueCountPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                            ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentile fractions must be in [0,1]: $ps")
    val vc = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__cnt"))
    weightedPercentiles(vc, groupCol, valueCol, "__cnt", ps)
  }

  /** WINDOW-SORT strategy — exact percentiles for near-unique
    * continuous domains (prices, measurements) at small-to-moderate group
    * cardinality: rank raw rows by one per-group window sort and pick the
    * order statistics directly. No holistic buffer (the sort spills instead
    * of OOMing, and the shuffle is columnar), no pre-aggregation (which is
    * pure overhead when D ≈ N — measured on l_extendedprice, 99% unique).
    * A group still sorts in one task, so for truly huge single groups
    * [[exactPercentiles]]' histogram pruning remains the scale path; this
    * is the low-latency exact plan between the two.
    */
  def sortPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                      ps: Seq[Double]): DataFrame = {
    val rows = nonNull(df, groupCol, valueCol, ps)
    val wOrd = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val wAll = Window.partitionBy(col("__g"))
    // row_number (not a running sum) so duplicate values get distinct ranks
    // — every target rank then matches exactly one row; which duplicate wins
    // a tie is irrelevant because their __v is equal
    val ranked = rows
      .withColumn("__idx", row_number().over(wOrd).cast("long") - 1)
      .withColumn("__n", count(lit(1)).over(wAll))
    // a row matters only as the floor- or ceil-rank of SOME target
    // percentile — prune before the |ps|× fan-out (measured: the fan-out
    // over every raw row dominated, not the rank sort it rides on)
    val isTarget = ps.map { p =>
      val pos = lit(p) * (col("__n") - 1).cast("double")
      col("__idx") === floor(pos).cast("long") ||
        col("__idx") === ceil(pos).cast("long")
    }.reduce(_ || _)
    val withP = ranked.filter(isTarget)
      .select(col("__g"), col("__v"), col("__idx"), col("__n"),
        explode(array(ps.map(lit): _*)).as("__p"))
      .withColumn("__pos", col("__p") * (col("__n") - 1).cast("double"))
      .withColumn("__klo", floor(col("__pos")).cast("long"))
      .withColumn("__khi", ceil(col("__pos")).cast("long"))
    withP.groupBy(col("__g"), col("__p"))
      .agg(
        max(when(col("__idx") === col("__klo"), col("__v"))).as("__vlo"),
        max(when(col("__idx") === col("__khi"), col("__v"))).as("__vhi"),
        max(col("__pos")).as("__posx"),
        max(col("__klo")).as("__klox"),
        max(col("__khi")).as("__khix"))
      .select(col("__g").as(groupCol), col("__p").as("p"),
        when(col("__klox") === col("__khix"), col("__vlo"))
          .otherwise((col("__khix") - col("__posx")) * col("__vlo") +
            (col("__posx") - col("__klox")) * col("__vhi"))
          .as("value"))
  }

  /** The WINDOW-SORT strategy behind an adaptive scale gate (the q85
    * decision shape, shared by every near-unique-domain caller): the
    * low-latency window-sort plan when the caller's
    * [[graft.Cutover.PercentileSort]] decision says the input is small,
    * [[exactPercentiles]]' histogram-pruning plan otherwise. The window
    * sort runs ONE task per group however big the table (3 `l_returnflag`
    * groups = 3 tasks), while histogram pruning's rank resolution
    * parallelizes over located buckets regardless of group count; the
    * measured crossover is at [[graft.Cutover.SortMaxRows]]. Every
    * strategy emits the same bit-identical interpolation doubles
    * (AnalyticsSpec asserts it; the oracle hash is strategy-blind), so the
    * cutover can change the plan, never a value.
    *
    * @param sort the caller's decision, typically
    *        `Cutover.footer(Cutover.PercentileSort, …)` on the input table
    */
  def adaptivePercentiles(df: DataFrame, groupCol: String, valueCol: String,
                          ps: Seq[Double], sort: Boolean): DataFrame =
    if (sort) sortPercentiles(df, groupCol, valueCol, ps)
    else exactPercentiles(df, groupCol, valueCol, ps)

  /** Exact percentiles over pre-aggregated (group, value, weight) rows —
    * the rank-resolution core of [[valueCountPercentiles]], public because
    * callers that already maintain a value-count frame reuse it directly on
    * derived distributions. REQUIRES values distinct per group (what a
    * value-count frame guarantees): the running-sum rank interval assumes
    * one row per value; use [[sortPercentiles]] for raw rows.
    */
  def weightedPercentiles(vc: DataFrame, groupCol: String, valueCol: String,
                          weightCol: String, ps: Seq[Double]): DataFrame = {
    val rows = vc.select(col(groupCol).as("__g"),
      col(valueCol).cast("double").as("__v"),
      col(weightCol).cast("long").as("__w"))
    val wOrd = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val wAll = Window.partitionBy(col("__g"))
    // cumulative weight ranks each distinct value: [__below, __cum) is the
    // half-open global-rank interval its copies occupy
    val cum = rows
      .withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__n", sum(col("__w")).over(wAll))
      .withColumn("__below", col("__cum") - col("__w"))
    val withP = cum
      .select(col("__g"), col("__v"), col("__cum"), col("__below"), col("__n"),
        explode(array(ps.map(lit): _*)).as("__p"))
      .withColumn("__pos", col("__p") * (col("__n") - 1).cast("double"))
      .withColumn("__klo", floor(col("__pos")).cast("long"))
      .withColumn("__khi", ceil(col("__pos")).cast("long"))
    // each target rank lands in exactly one value's interval → conditional
    // aggregation collapses the distinct-value frame to one row per (g, p)
    withP.groupBy(col("__g"), col("__p"))
      .agg(
        max(when(col("__below") <= col("__klo") && col("__klo") < col("__cum"),
          col("__v"))).as("__vlo"),
        max(when(col("__below") <= col("__khi") && col("__khi") < col("__cum"),
          col("__v"))).as("__vhi"),
        max(col("__pos")).as("__posx"),
        max(col("__klo")).as("__klox"),
        max(col("__khi")).as("__khix"))
      .select(col("__g").as(groupCol), col("__p").as("p"),
        when(col("__klox") === col("__khix"), col("__vlo"))
          .otherwise((col("__khix") - col("__posx")) * col("__vlo") +
            (col("__posx") - col("__klox")) * col("__vhi"))
          .as("value"))
  }

  /** Scale plan: histogram pruning (see object doc). */
  private def distributed(rows: DataFrame, groupCol: String, ps: Seq[Double],
                          nBuckets: Int): DataFrame = {
    // 1. per-group extent — the histogram's coordinate system. PINNED
    // (round 20): `stats` feeds the bucketing broadcast, `targets` and
    // (through them) the rank locator — unpinned, each consumer re-ran
    // the full fact aggregation (StageAudit q66: two 3-task scan+agg
    // stages of ~1.7 s runMs each for ONE extent pass). The pin is
    // O(groups) rows.
    val stats = graft.Pin(rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), min(col("__v")).as("__lo"),
        max(col("__v")).as("__hi")))

    // 2. fixed-width bucket id; degenerate range (all values equal) → bucket 0
    def bucketOf(value: Column, lo: Column, hi: Column): Column =
      when(hi > lo,
        least(floor((value - lo) / ((hi - lo) / nBuckets)).cast("long"),
          lit(nBuckets - 1L)))
        .otherwise(0L)
    val bucketed = rows.join(broadcast(stats), "__g")
      .select(col("__g"), col("__v"),
        bucketOf(col("__v"), col("__lo"), col("__hi")).as("__b"))
    val hist = bucketed.groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__below", coalesce(
        sum(col("__cnt")).over(Window.partitionBy(col("__g")).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))

    // 3. target global ranks (0-based): floor and ceil of p·(n−1), located in
    // their buckets via the cumulative histogram. All histogram-small frames.
    val targets = stats
      .select(col("__g"), col("__n"),
        explode(array(ps.map(lit): _*)).as("__p"))
      .withColumn("__pos", col("__p") * (col("__n") - 1).cast("double"))
      .withColumn("__klo", floor(col("__pos")).cast("long"))
      .withColumn("__khi", ceil(col("__pos")).cast("long"))
    val neededRanks = targets
      .select(col("__g"), explode(array(col("__klo"), col("__khi"))).as("__r"))
      .distinct()
    // PINNED (round 20): `located` is consumed twice (the bucket prune
    // broadcast and the rank broadcast) — unpinned, each consumer re-ran
    // the whole histogram pass (a full fact scan) upstream of it. The pin
    // is O(groups · ranks) rows.
    val located = graft.Pin(neededRanks.join(hist, Seq("__g"))
      .filter(col("__r") >= col("__below") &&
        col("__r") < col("__below") + col("__cnt"))
      .select(col("__g"), col("__r"), col("__b"), col("__below")))

    // 4. rank resolution: only rows of located buckets are sorted, each
    // bucket in parallel. Within-bucket rank + __below = global rank because
    // buckets are value ranges. PINNED (round 20): the interpolation joins
    // it twice (floor- and ceil-rank) — unpinned, the located-bucket scan,
    // sort and rank ran twice. The pin is O(groups · ranks) rows.
    val neededBuckets = located.select(col("__g"), col("__b")).distinct()
    val wB = Window.partitionBy(col("__g"), col("__b")).orderBy(col("__v"))
    val rankValues = graft.Pin(bucketed
      .join(broadcast(neededBuckets), Seq("__g", "__b"))
      .withColumn("__idx", row_number().over(wB).cast("long") - 1)
      .join(broadcast(located.withColumn("__idx", col("__r") - col("__below"))),
        Seq("__g", "__b", "__idx"))
      .select(col("__g"), col("__r"), col("__v")))

    // interpolate between the two order statistics (Spark Percentile formula)
    targets
      .join(rankValues.withColumnRenamed("__r", "__klo")
        .withColumnRenamed("__v", "__vlo"), Seq("__g", "__klo"))
      .join(rankValues.withColumnRenamed("__r", "__khi")
        .withColumnRenamed("__v", "__vhi"), Seq("__g", "__khi"))
      .select(col("__g").as(groupCol), col("__p").as("p"),
        when(col("__klo") === col("__khi"), col("__vlo"))
          .otherwise((col("__khi") - col("__pos")) * col("__vlo") +
            (col("__pos") - col("__klo")) * col("__vhi"))
          .as("value"))
  }

  /** Equi-depth histogram: `bins` buckets per group holding (approximately)
    * equal row counts — the optimizer-statistics / drift-monitoring shape,
    * where equi-WIDTH histograms collapse under skew. Cutpoints are the
    * exact interior percentiles (i/bins) from [[adaptivePercentiles]]
    * under the caller's `sort` decision; rows then bin by how many cutpoints
    * they exceed and collapse to per-(group, bin) count/min/max.
    *
    * Scale shape: cutpoints are O(groups·bins) — a broadcast — so binning
    * is one map-side array expression over the fact scan and the final
    * rollup is an ordinary hash agg with map-side combine. Two fact scans
    * total (one inside the percentile pass, one to bin); no sort, no
    * holistic buffer on the scale path. Parity: cutpoints are the already-
    * oracle-verified interpolation doubles; bin assignment is exact double
    * comparison; min/max/count are order-free.
    */
  def equiDepthHistogram(df: DataFrame, groupCol: String, valueCol: String,
                         sort: Boolean, bins: Int = 8): DataFrame = {
    require(bins >= 2, s"need at least 2 bins: $bins")
    val ps = (1 until bins).map(_.toDouble / bins)
    val cuts = adaptivePercentiles(df, groupCol, valueCol, ps, sort)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("value"))).as("__cuts"))
    df.filter(col(valueCol).isNotNull)
      .join(broadcast(cuts), groupCol)
      .withColumn("bin", size(filter(col("__cuts"),
        c => col(valueCol).cast("double") > c)).cast("long"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol).cast("double")).as("min_v"),
        max(col(valueCol).cast("double")).as("max_v"))
  }
}
