package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's relational operator semantics (SURVEY §2) instantiated on
  * the driver testdata tables, one query per operator family. Each has a
  * DuckDB oracle in [[graft.SparkEntry.oracleSql]].
  *
  * Cross-engine parity rules used throughout (see also ext/ modules):
  *  - per-row double arithmetic is IEEE-identical → emitted raw;
  *  - double aggregates are order-sensitive in the last ulp → rounded to 2 dp;
  *  - counts are Spark longs ↔ DuckDB BIGINTs;
  *  - every nondeterministic choice (top-k ties, dedup keep) is given an
  *    explicit deterministic tie-break.
  *
  * Scale notes are per query; the common theme: group-by on parquet scans is
  * partial-agg + single shuffle, dimension joins broadcast, windows shuffle
  * once on their partition key.
  */
object Relational {

  /** A1/A5–A8 pattern — pricing summary (TPC-H Q1 shape): scan-filter →
    * hash aggregate. Map-side partial aggregation makes the shuffle O(groups),
    * not O(rows); the date filter prunes at the parquet scan.
    */
  def q01PricingRollup(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        count(lit(1)).as("n"))

  /** J1 pattern — left outer join with miss-aware aggregation: every customer
    * appears, customers without orders get n_orders=0 (the reference's
    * missing_json counter shape). Shuffle join on custkey; at scale the
    * aggregate-then-join form keeps the join input small.
    */
  def q02CustOrders(spark: SparkSession, d: String): DataFrame =
    customer(spark, d)
      .join(orders(spark, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))

  /** J3 + A7 — broadcast dimension enrichment + ROLLUP grouping sets: the
    * 6-row-taxonomy join shape on the nation/region dims (both broadcast —
    * no shuffle for the joins, one for the rollup aggregate).
    */
  def q03RegionRollup(spark: SparkSession, d: String): DataFrame =
    customer(spark, d)
      .join(broadcast(nation(spark, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
        col("n_customers"), col("sum_acctbal"))

  /** F4 + G8 — threshold filter + per-row arithmetic projection (the
    * confidence-filter shape). Predicates reach the parquet scan as
    * PushedFilters; only 6 of 11 columns are read.
    */
  def q04FilterProject(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .filter(col("l_discount") >= 0.05 && col("l_quantity") >= 30)
      // raw product, no rounding: per-row IEEE arithmetic is bit-identical
      // across engines, while 2-dp rounding of 2dp*2dp*2dp products hits
      // exact .xx5 ties where engines' rounding implementations differ
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("charge"))

  /** W1/O4 — windowed top-k per group with deterministic tie-break. One
    * shuffle on the window key; at 100 TB a pre-aggregation or
    * `max_by`-style partial top-k would cut the shuffled volume.
    */
  def q05TopOrders(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(spark, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
  }

  /** Anti join (§2.7's `except` analog): customers that never ordered. */
  def q06NoOrders(spark: SparkSession, d: String): DataFrame =
    customer(spark, d)
      .join(orders(spark, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** Semi join (F3 as set-membership): parts that appear in lineitem. */
  def q07ActiveParts(spark: SparkSession, d: String): DataFrame =
    part(spark, d)
      .join(lineitem(spark, d), col("p_partkey") === col("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))

  /** A4/W2 — order-preserving grouped collection: per-order quantity sequence
    * in line-number order via an explicit sort key (Spark guarantees no
    * intra-group order otherwise — SURVEY §7.4.4).
    */
  def q08OrderedQtySeq(spark: SparkSession, d: String): DataFrame =
    // Spread.ifNarrow (round 19): the struct-assembly map side otherwise
    // runs on the single-file scan's one partition (bench 0.76 -> 0.22 s)
    graft.Spread.ifNarrow(lineitem(spark, d), col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("l_linenumber").as("ln"),
              col("l_quantity").cast("int").as("q")))),
            e => e("q").cast("string")),
          " ").as("qty_seq"),
        count(lit(1)).as("n_lines"))

  /** W1/O4 — argmax per group (the reference's newest-weights max-by-mtime
    * shape): the top-balance customer per nation, deterministic tie-break.
    */
  def q28Argmax(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer(spark, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(broadcast(nation(spark, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  /** As-of join (extension op, SURVEY §2.3 note): each purchase event paired
    * with the same user's most recent signup at-or-before it — expressed as
    * a windowed carry-forward (one shuffle on user, no self-join; at scale
    * this beats a range self-join by never materializing candidate pairs).
    */
  def q29AsofSignup(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.ext.Sessions.withTsUs(events(spark, d))
      .withColumn("last_signup_us",
        max(when(col("event_type") === "signup", col("ts_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_signup_us"),
        (col("ts_us") - col("last_signup_us")).as("us_since_signup"))
  }

  /** §2.7 set operations (the reference's split-as-partition generalized):
    * nations with customers UNION/INTERSECT/EXCEPT nations with suppliers,
    * tagged per set op in one result.
    */
  def q32SetOps(spark: SparkSession, d: String): DataFrame = {
    val c = customer(spark, d).select(col("c_nationkey").as("nationkey")).distinct()
    val s = supplier(spark, d).select(col("s_nationkey").as("nationkey")).distinct()
    c.union(s).distinct().withColumn("op", lit("union"))
      .unionByName(c.intersect(s).withColumn("op", lit("intersect")))
      .unionByName(c.except(s).withColumn("op", lit("except")))
  }

  /** A7 taken further: CUBE over two keys — all four grouping-set levels in
    * one shuffle (per-flag, per-status, per-pair, grand total).
    */
  def q33Cube(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))

  /** Pivot: per-user event-type counts as columns (fixed value list keeps
    * the schema static — the scalable form; dynamic pivot needs a first
    * pass to enumerate values).
    */
  def q34Pivot(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      // scoped fill: an unscoped fill would rewrite a NULL user_id group
      // key to 0, conflating it with real user 0 (oracle keeps NULL keys)
      .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))

  /** The percentile-sort decision of the near-unique l_extendedprice
    * consumers (q37, q61, q85, q106), from lineitem's parquet footers with
    * zero jobs: the 3-group window sort is one task per group however big
    * the table, so past the cutover histogram pruning takes over,
    * bit-identically ([[Percentiles.adaptivePercentiles]]).
    */
  private def sortFits(spark: SparkSession, d: String): Boolean =
    graft.Cutover.footer(graft.Cutover.PercentileSort, spark, d, "lineitem")

  /** Exact interpolated percentiles per group — computed via VALUE-COUNT
    * compression ([[Percentiles.valueCountPercentiles]]): no per-group
    * holistic buffer, so the same plan survives a 100 TB group (and the
    * histogram-pruning plan remains for continuous domains, q66).
    * Bit-identical to Spark's `percentile` ≡ DuckDB's `quantile_cont`
    * (AnalyticsSpec asserts equality with the holistic aggregate).
    */
  def q37Percentiles(spark: SparkSession, d: String): DataFrame = {
    val li = lineitem(spark, d)
    // strategy picked per column domain: near-unique prices → the adaptive
    // window-sort gate ([[sortFits]]); 50-distinct quantities → value-count
    // compression (the counting-sort plan, shuffling D rows instead of
    // N, already group-count-free)
    val price = Percentiles
      .adaptivePercentiles(li, "l_returnflag", "l_extendedprice",
        Seq(0.5, 0.9), sortFits(spark, d))
      .groupBy(col("l_returnflag"))
      .agg(max(when(col("p") === 0.5, col("value"))).as("p50"),
        max(when(col("p") === 0.9, col("value"))).as("p90"))
    val qty = Percentiles
      .valueCountPercentiles(li, "l_returnflag", "l_quantity", Seq(0.25))
      .select(col("l_returnflag"), col("value").as("qty_p25"))
    // left join: a group whose l_quantity values are all NULL has no qty
    // percentile rows but must survive with NULL qty_p25 (matching the
    // holistic form, where the group row always exists)
    price.join(qty, Seq("l_returnflag"), "left_outer")
      .select(col("l_returnflag"), col("p50"), col("p90"), col("qty_p25"))
  }

  /** q37's percentile computation on the distributed histogram-pruning
    * plan ([[Percentiles.exactPercentiles]]): the 100 TB path itself —
    * per-group extent, fixed-width histogram, bucket location, rank
    * resolution, interpolation — is what the DuckDB oracle hash-checks.
    * Bit-identical output to the holistic form (AnalyticsSpec asserts it;
    * this query makes the driver assert it too).
    */
  def q66PercentilesDistributed(spark: SparkSession, d: String): DataFrame =
    Percentiles
      .exactPercentiles(lineitem(spark, d), "l_returnflag", "l_extendedprice",
        Seq(0.25, 0.5, 0.9))
      .select(col("l_returnflag"), col("p"), col("value"))

  /** Frame-spec window functions (beyond the reference's rank-only windows):
    * per-customer order history with lag, per-row delta, and a 3-row moving
    * average. One shuffle on the window key serves all three functions.
    * Parity: lag/delta are exact per-row copies/arithmetic; the frame AVG is
    * a short fp sum whose association differs across engines (Spark
    * re-evaluates the frame, DuckDB uses a segment tree) → rounded to 6 dp.
    */
  def q38WindowFrames(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val frame = w.rowsBetween(-2, Window.currentRow)
    orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("delta"),
        round(avg(col("o_totalprice")).over(frame), 6).as("ma3"))
  }

  /** Broadcast range (band) join: every part priced into a fixed band
    * dimension via a BETWEEN predicate — the standard bucketing shape for
    * histogram/feature-binning pipelines. The band table is literal and
    * broadcast, so the theta join is a broadcast nested loop over 10 rows,
    * never a shuffle; at 100 TB the same plan holds (dimension is O(1)).
    */
  def q39BandJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val bands = broadcast(
      (0 until 10).map(b => (b.toLong, 900.0 + 10.0 * b, 910.0 + 10.0 * b))
        .toDF("band", "lo", "hi"))
    part(spark, d)
      .join(bands, col("p_retailprice") >= col("lo") &&
        col("p_retailprice") < col("hi"))
      .groupBy(col("band"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("p_retailprice")), 2).as("sum_price"))
  }

  /** Per-group standardization (z-score): the feature-normalization shape of
    * an ML feature pipeline. Group statistics are computed once per segment
    * (partial-agg + one shuffle), broadcast back by the join, and the z-score
    * itself is per-row arithmetic. Parity: mean/stddev are order-sensitive fp
    * aggregates → rounded to 6 dp BEFORE the per-row division, which is then
    * bit-identical in both engines.
    */
  def q42Zscore(spark: SparkSession, d: String): DataFrame =
    zscore(customer(spark, d))

  /** The operator itself, callable on any (c_custkey, c_mktsegment,
    * c_acctbal) frame — the degenerate-group guard (std = 0 → z = 0, which
    * under ANSI mode would otherwise be a DIVIDE_BY_ZERO crash) is part of
    * THIS code path, so tests exercise the production guard, not a copy.
    *
    * Parity: balances are exact 2-dp values, so the per-segment moments are
    * accumulated as exact decimal CENTS (Σx, Σx² — association-free in both
    * engines); mean/std/z are then the identical double derivation on both
    * sides and emitted raw — bit-identical with no rounding, where the old
    * round(avg(double), 6) form depended on DuckDB's fp round behavior.
    */
  def zscore(customers: DataFrame): DataFrame = {
    val cents = round(col("c_acctbal") * 100, 0).cast("decimal(18,0)")
    val stats = customers
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(cents).cast("double").as("sx"),
        sum(cents * cents).cast("double").as("sxx"))
    val muC = col("sx") / col("n")
    val varC = col("sxx") / col("n") - muC * muC
    val resolved = stats.select(col("c_mktsegment"),
      (muC / 100.0).as("seg_mean"),
      (sqrt(when(varC > 0.0, varC).otherwise(0.0)) / 100.0).as("seg_std"))
    customers
      .join(broadcast(resolved), Seq("c_mktsegment"))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        col("seg_mean"), col("seg_std"),
        when(col("seg_std") > 0.0,
          (col("c_acctbal") - col("seg_mean")) / col("seg_std"))
          .otherwise(0.0).as("zscore"))
  }

  /** Deterministic stratified sampling: ~10% of customers per market segment
    * selected by an engine-neutral arithmetic hash of the key (reproducible
    * across engines, runs, and cluster layouts — the G16 split contract
    * generalized to sampling). Per-segment totals ride along via windows on
    * one shared shuffle; the sample predicate itself is a pushdown-able
    * per-row filter, so at scale the scan does the sampling.
    */
  def q43StratifiedSample(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
    customer(spark, d)
      .withColumn("n_total", count(lit(1)).over(w))
      .filter(graft.functions.Hashing.knuthMod(col("c_custkey"), 1000L) < 100)
      .withColumn("n_sampled", count(lit(1)).over(w))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        col("n_total"), col("n_sampled"))
  }

  /** Deterministic weighted sampling: top-`k` orders per priority class by
    * the priority key h(o_orderkey)/o_totalprice — heavier rows draw smaller
    * keys in expectation, the weighted-reservoir (A-Res) shape with the
    * random draw replaced by an engine-neutral arithmetic hash so the sample
    * is reproducible anywhere. One shuffle (the per-class top-k window); at
    * scale the same contract runs as a per-partition partial top-k before
    * the shuffle (Spark's TakeOrderedAndProject does this for global top-k).
    */
  def q56WeightedSample(spark: SparkSession, d: String, k: Int = 8): DataFrame = {
    val h = graft.functions.Hashing
      .knuthMod(col("o_orderkey"), 2147483648L).cast("double")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("priority_key"), col("o_orderkey"))
    orders(spark, d)
      .filter(col("o_totalprice") > 0.0)
      .withColumn("priority_key", h / col("o_totalprice"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
        col("o_totalprice"), col("priority_key"))
  }

  /** IQR outlier fences per group, built on the scale-safe percentile
    * operator ([[Percentiles.exactPercentiles]] — histogram pruning, no
    * holistic buffer): rows beyond p75 + k·IQR / below p25 − k·IQR are
    * counted per group. The per-group fence frame is tiny → broadcast back
    * over the fact scan, so the outlier pass is one scan + one broadcast
    * join, no second shuffle of the data.
    */
  def q61IqrOutliers(spark: SparkSession, d: String,
                     k: Double = 0.5): DataFrame = {
    val li = lineitem(spark, d)
    val fences = Percentiles
      .adaptivePercentiles(li, "l_returnflag", "l_extendedprice",
        Seq(0.25, 0.75), sortFits(spark, d))
      .groupBy(col("l_returnflag"))
      .agg(max(when(col("p") === 0.25, col("value"))).as("p25"),
        max(when(col("p") === 0.75, col("value"))).as("p75"))
    li.join(broadcast(fences), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") >
          col("p75") + lit(k) * (col("p75") - col("p25")), 1L).otherwise(0L))
          .as("n_high"),
        sum(when(col("l_extendedprice") <
          col("p25") - lit(k) * (col("p75") - col("p25")), 1L).otherwise(0L))
          .as("n_low"),
        max(col("p75") + lit(k) * (col("p75") - col("p25")))
          .as("high_fence"))
  }

  /** Robust outlier detection by MEDIAN ABSOLUTE DEVIATION (the
    * breakdown-resistant alternative to q42's z-score and q61's IQR): two
    * passes of the exact percentile operator — median of x, then median of
    * |x − med| — and rows with |x − med| > k·MAD are counted per group.
    *
    * Scale shape: each percentile pass is [[Percentiles.exactPercentiles]]
    * (window sort below the percentile cutover, histogram pruning past
    * it), and both tiny stat
    * frames broadcast back over the fact scan — three scans total, no
    * second shuffle of the data. Parity: med/MAD are bit-identical to
    * quantile_cont (q37-verified), |x−med| and the k·MAD compare are
    * per-row IEEE doubles; only the REPORTED stats round at 6 dp.
    */
  def q85MadOutliers(spark: SparkSession, d: String,
                     k: Double = 3.0): DataFrame = {
    val li = lineitem(spark, d)
    // prices are ~99% unique, so both medians use the WINDOW-SORT exact
    // strategy (one columnar sort shuffle each, no holistic buffer, no
    // wasted value-count pre-agg) — replacing three ObjectHashAggregate
    // percentile passes that each buffered all rows into one task per group
    // med is 3 rows — localCheckpoint pins the result so the dev lineage
    // (used by BOTH the MAD pass and the final rollup) doesn't re-run the
    // median sort per branch: exactly one sort per percentile, one final
    // aggregation pass
    //
    // l_returnflag has 3 values, so the window sort runs THREE tasks however
    // big the table (5.4× wall at 10× data, measured); past the cutover
    // both passes are histogram pruning, bit-identically. ONE footer
    // decision (zero jobs) serves both passes and the dev pin below
    val sort = sortFits(spark, d)
    def med50(df: DataFrame, valueCol: String): DataFrame =
      Percentiles.adaptivePercentiles(df, "l_returnflag", valueCol,
        Seq(0.5), sort)
    val med = med50(li, "l_extendedprice")
      .select(col("l_returnflag"), col("value").as("med"))
      .transform(graft.Pin.apply)
    val dev0 = li.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"), col("med"),
        abs(col("l_extendedprice") - col("med")).as("d"))
    // the histogram plan scans its input 3× (extent, histogram, rank
    // resolution) and the rollup a 4th time — pin the derived dev frame on
    // that branch so the join+abs runs once, not per scan; the sort branch
    // keeps the cheap 2-consumer lineage
    val dev = if (sort) dev0 else graft.Pin(dev0)
    val mad = med50(dev, "d")
      .select(col("l_returnflag"), col("value").as("mad"))
      .transform(graft.Pin.apply)
    dev.join(broadcast(mad), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("d") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Ratio-to-report (share-of-total) window: each customer's share of
    * their market segment's total balance, plus the running cumulative
    * share in descending-balance order — the Pareto/concentration report.
    * One shuffle on the segment key serves both windows.
    *
    * Parity: the segment total is an fp sum whose order differs across
    * engines in the last ulp, so the SHARES (not the raw columns) are
    * rounded to 6 dp; positive-balance filter keeps cumulative shares
    * monotone (and the denominator nonzero).
    */
  def q69ShareOfTotal(spark: SparkSession, d: String): DataFrame = {
    val bySeg = Window.partitionBy(col("c_mktsegment"))
    val cum = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cents = round(col("c_acctbal") * 100, 0).cast("decimal(18,0)")
    customer(spark, d)
      .filter(col("c_acctbal") > 0.0)
      .withColumn("__cents", cents)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        (col("__cents").cast("double") /
          sum(col("__cents")).over(bySeg).cast("double")).as("share"),
        (sum(col("__cents")).over(cum).cast("double") /
          sum(col("__cents")).over(bySeg).cast("double")).as("cum_share"))
  }

  /** Incremental aggregate maintenance: a BASE partition of the stream and
    * a DELTA batch are aggregated independently, then MERGED by combining
    * partial states (counts add, sums add, mins take min) — the algebraic-
    * aggregate property that makes incremental view maintenance, Lambda-
    * architecture merges, and Spark's own map-side partials work. The
    * oracle recomputes the aggregate over the full stream directly, so the
    * merge is verified equal to a from-scratch recompute.
    *
    * Parity: the merged sum associates (Σbase + Σdelta) while the oracle's
    * associates in scan order — both rounded at 2 dp per repo rule 2.
    */
  def q68IncrementalAgg(spark: SparkSession, d: String,
                        splitAt: Long = 5000L): DataFrame = {
    val e = graft.ext.Sessions.withTsUs(events(spark, d))
      .select(col("event_id"), col("event_type"), col("value"), col("ts_us"))
    def part(pred: Column, sfx: String): DataFrame =
      e.filter(pred).groupBy(col("event_type"))
        .agg(count(lit(1)).as(s"n$sfx"), sum(col("value")).as(s"s$sfx"),
          min(col("ts_us")).as(s"lo$sfx"))
    val base = part(col("event_id") < splitAt, "1")
    val delta = part(col("event_id") >= splitAt, "2")
    base.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n"),
        round(coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0)), 2)
          .as("sum_value"),
        least(coalesce(col("lo1"), col("lo2")), coalesce(col("lo2"), col("lo1")))
          .as("first_us"))
  }

  /** FULL OUTER join (completes the engine's join-type matrix: inner, left,
    * semi, anti, as-of, interval, band, theta, fuzzy — and outer-both):
    * per-nation deep-debt customers vs negative-balance suppliers, where
    * each side has nations the other lacks, so both null-extension
    * directions are actually exercised. Aggregate-then-join keeps the outer
    * join O(groups), not O(rows) — the scale form of any outer report.
    */
  def q65FullOuter(spark: SparkSession, d: String): DataFrame = {
    val c = customer(spark, d).filter(col("c_acctbal") < -700)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        round(sum(col("c_acctbal")), 2).as("cust_bal"))
    val s = supplier(spark, d).filter(col("s_acctbal") < 1000)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        col("cust_bal"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** Deterministic GLOBAL fixed-size sample: the k rows with the smallest
    * engine-neutral hash priority — the distributed replacement for
    * reservoir sampling (same marginal distribution, but reproducible and
    * mergeable). Spark executes orderBy+limit as TakeOrderedAndProject:
    * each partition keeps a local top-k heap and only k·partitions rows
    * reach the driver-side merge — no global sort, no full shuffle, which
    * is exactly the 100 TB shape (PlanSpec asserts the operator).
    *
    * Complements q43 (per-stratum rate sample) and q56 (weighted per-class
    * top-k): this one is a global exact-size draw.
    */
  def q72GlobalSample(spark: SparkSession, d: String, k: Int = 1000): DataFrame =
    lineitem(spark, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.Hashing.spread(
          col("l_orderkey") * 8 + col("l_linenumber"), 1L << 31).as("pri"))
      .orderBy(col("pri"), col("l_orderkey"), col("l_linenumber"))
      .limit(k)

  /** Per-group correlation + ordinary-least-squares fit (quantity vs price
    * per return flag) from EXACT integer sufficient statistics: quantity is
    * integral and price is exact cents in this corpus, so Σx, Σy, Σxy, Σx²,
    * Σy² are accumulated as decimals (exact in both engines, no fp
    * association), and corr/slope/intercept are derived in double from
    * identical inputs and emitted raw — no rounding anywhere (see the
    * parity note in [[corrRegression]]).
    *
    * The sufficient-statistics form is also the scale form: one map-side-
    * partial hash aggregation (moments are algebraic, merge by addition —
    * same property q68 exercises), never a second pass.
    */
  def q74CorrRegression(spark: SparkSession, d: String): DataFrame =
    corrRegression(
      graft.Spread.ifNarrow(lineitem(spark, d), col("l_orderkey")),
      col("l_returnflag"),
      col("l_quantity").cast("decimal(18,0)"),
      round(col("l_extendedprice") * 100, 0).cast("decimal(18,0)"))

  /** The general moments form behind [[q74CorrRegression]]: `x` and `y`
    * must be exact decimals (see the query's parity note); the group column
    * keeps its name in the output.
    */
  def corrRegression(df: DataFrame, group: Column, x: Column,
                     y: Column): DataFrame = {
    // all sufficient statistics AND the centered numerators stay exact
    // integers (DECIMAL(38,0) / DuckDB HUGEINT): n·sxy − sx·sy computed in
    // DOUBLE is the multiply-subtract shape a compiler may contract into an
    // FMA (the q77 driver-drift class) AND a catastrophic cancellation of
    // two huge near-equal terms — in integers both hazards vanish. Doubles
    // appear only downstream of the exact numerators, in shapes with no
    // contractible a·b±c (single divisions, div-by-product-of-sqrts).
    // Magnitude envelope: |num| ≤ n·Σ|xy| — for cents-scale y this crosses
    // the 38-digit ceiling around 10⁶× the sf0.1 corpus; past that, scale
    // x/y down first (the moments, not the inputs, are what overflow).
    val agg = df
      .select(group, x.as("x"), y.as("y"))
      .groupBy(group)
      .agg(count(lit(1)).cast("decimal(20,0)").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("y")).cast("decimal(38,0)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(38,0)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"),
        sum(col("y") * col("y")).cast("decimal(38,0)").as("syy"))
    val covN = (col("n") * col("sxy") - col("sx") * col("sy"))
      .cast("decimal(38,0)")
    val varXN = (col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("decimal(38,0)")
    val varYN = (col("n") * col("syy") - col("sy") * col("sy"))
      .cast("decimal(38,0)")
    // degenerate groups (constant x or y, incl. single-row) → NULL stats;
    // the guard is now an EXACT integer compare (no -0.0-ε edge at all)
    val bothVar = varXN > 0 && varYN > 0
    agg.select(group, col("n").cast("long").as("n"),
      when(bothVar, covN.cast("double") /
        sqrt(varXN.cast("double") * varYN.cast("double"))).as("corr"),
      // slope: ONE division of two exact integers
      when(varXN > 0, covN.cast("double") / varXN.cast("double"))
        .as("slope_cents_per_unit"),
      // intercept = (varXN·sy − covN·sx) / (n·varXN): exact integer
      // numerator and denominator, ONE division
      when(varXN > 0,
        (varXN * col("sy") - covN * col("sx")).cast("decimal(38,0)")
          .cast("double") /
          (col("n") * varXN).cast("decimal(38,0)").cast("double"))
        .as("intercept"),
      // r2 = covN²/(varXN·varYN) exceeds 38 digits → two muls + one div in
      // double (no additive term, nothing to contract)
      when(bothVar, covN.cast("double") * covN.cast("double") /
        (varXN.cast("double") * varYN.cast("double"))).as("r2"))
  }

  /** Arbitrary GROUPING SETS — the non-hierarchical case neither rollup nor
    * cube expresses: per-flag totals, per-status totals, and the grand
    * total (but NOT the (flag, status) cross level), all from one shuffle
    * via the same Expand operator that powers q33/q47.
    */
  def q75GroupingSets(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))

  /** Multiset INTERSECT ALL / EXCEPT ALL (bag semantics — q32 covers the
    * DISTINCT forms): nation-key multisets of customers vs suppliers,
    * multiplicity-aware. Spark plans both as a single aggregate computing
    * per-key counts on each side then replicating min(c1,c2) /
    * max(c1−c2,0) copies — one shuffle, O(distinct keys) state, the scale
    * form of bag set-ops. Output is aggregated to (op, key, multiplicity)
    * so the contract is order-free.
    */
  def q76MultisetOps(spark: SparkSession, d: String): DataFrame = {
    val c = customer(spark, d).select(col("c_nationkey").as("nationkey"))
    val s = supplier(spark, d).select(col("s_nationkey").as("nationkey"))
    def counted(df: DataFrame, op: String) =
      df.groupBy(col("nationkey"))
        .agg(count(lit(1)).as("multiplicity"))
        .withColumn("op", lit(op))
        .select(col("op"), col("nationkey"), col("multiplicity"))
    counted(c.intersectAll(s), "intersect_all")
      .unionByName(counted(c.exceptAll(s), "except_all"))
  }

  /** Incremental JOIN maintenance (q68's aggregate merge extended to a
    * two-sided join): with base/delta splits of BOTH orders (ΔA) and
    * customers (ΔB), the maintained segment rollup is the merge of the four
    * partial aggregates A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — the delta-join
    * identity every incremental view maintenance engine implements. The
    * oracle recomputes the whole join from scratch, proving the identity.
    *
    * Parity/exactness: revenue is summed as exact 2-dp decimals, so the
    * four-way partial merge is association-FREE — merging in any grouping
    * is bit-equal to the single-pass sum (the same exactness trick as
    * q74/q77; a double sum would differ from the oracle's association in
    * the last ulp here, because the partials systematically regroup it).
    *
    * Scale shape: each partial is an ordinary broadcast/shuffle join whose
    * smaller inputs are the deltas — the entire point of IVM: work is
    * O(Δ·join-fanout + groups), never a base×base recompute.
    */
  def q82DeltaJoin(spark: SparkSession, d: String): DataFrame = {
    val o = orders(spark, d).select(col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"),
      (col("o_orderkey") % 10 === 0).as("__delta"))
    val c = customer(spark, d).select(col("c_custkey"), col("c_mktsegment"),
      (col("c_custkey") % 7 === 0).as("__delta"))
    def part(os: DataFrame, cs: DataFrame) =
      os.join(cs, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("rev"))
    val partials =
      part(o.filter(!col("__delta")), c.filter(!col("__delta")))
        .unionByName(part(o.filter(col("__delta")), c.filter(!col("__delta"))))
        .unionByName(part(o.filter(!col("__delta")), c.filter(col("__delta"))))
        .unionByName(part(o.filter(col("__delta")), c.filter(col("__delta"))))
    partials.groupBy(col("c_mktsegment"))
      .agg(sum(col("n")).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  /** Semi-structured extraction: pull a typed field out of the JSON `props`
    * column and aggregate it per event type. One scan, one hash aggregation;
    * the JSON path evaluation is a codegen'd per-row expression (no UDF).
    * avg is emitted as an explicit sum/count division (exact ints, one
    * double division) rather than the engines' internal AVG accumulators.
    */
  def q58JsonRollup(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        count_distinct(col("k")).as("n_distinct_k"))
      .withColumn("avg_k",
        col("sum_k").cast("double") / col("n_with_k").cast("double"))

  /** Ranking-function family on one shuffle: ntile quartiles (tie-broken —
    * ntile assigns by row POSITION, so tied rows would be engine-dependent
    * without a unique sort key), plus dense_rank and percent_rank over the
    * value alone (well-defined under ties: equal values share a rank, and
    * percent_rank = (rank−1)/(n−1) is exact integer arithmetic).
    */
  def q49Ranking(spark: SparkSession, d: String): DataFrame = {
    val wTie = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val wVal = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc)
    customer(spark, d).select(
      col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      ntile(4).over(wTie).cast("long").as("quartile"),
      dense_rank().over(wVal).cast("long").as("drk"),
      percent_rank().over(wVal).as("prk"))
  }

  /** Time-hierarchy ROLLUP: order counts and revenue at (year, month),
    * per-year, and grand-total levels from ONE shuffle (grouping sets).
    * Calendar extraction is exact integer arithmetic under the session's
    * pinned UTC zone, so it is engine-parity-safe.
    */
  def q47TimeRollup(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        col("o_totalprice"))
      .rollup(col("yr"), col("mo"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))

  /** Per-group mode (most frequent value) with a deterministic tie-break —
    * count-then-argmax, two aggregations sharing one partitioning. Built
    * explicitly rather than via an engine `mode()` because tie behavior is
    * engine-defined there; here ties break on the value itself, so the
    * result is reproducible anywhere.
    */
  def q46Mode(spark: SparkSession, d: String): DataFrame = {
    val counts = events(spark, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_event"), col("n"))
  }

  /** Interval self-join (attribution): each purchase paired with the same
    * user's views in the preceding hour — the batch twin of
    * [[graft.streaming.StreamOps.attributionJoin]]. Physically an equi-join
    * on user with the time range as a residual predicate: one shuffle, and
    * per-user candidate volume stays bounded by the interval, which is what
    * keeps the join linear at 100 TB (a pure range join would need interval
    * bucketing instead).
    */
  def q45Attribution(spark: SparkSession, d: String): DataFrame = {
    val e = graft.ext.Sessions.withTsUs(events(spark, d))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts_us").as("view_us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_us"))
    p.join(v, Seq("user_id"))
      .filter(col("view_us") <= col("purchase_us") &&
        col("view_us") >= col("purchase_us") - lit(3600L * 1000000L))
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        col("purchase_us"), col("view_us"))
  }

  /** Ordered string aggregation (LISTAGG/string_agg): per region, the
    * nation names concatenated in a DETERMINISTIC order — via
    * sort_array(collect_list(...)) then join, because engines' native
    * string_agg input order is otherwise partition-dependent. One shuffle;
    * the per-group payload must be bounded (names, not documents) — the
    * same discipline as any collect_list.
    */
  def q95StringAgg(spark: SparkSession, d: String): DataFrame =
    nation(spark, d)
      .join(broadcast(region(spark, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        concat_ws(",", sort_array(collect_list(col("n_name"))))
          .as("nations"))

  /** Period-over-period growth: monthly revenue with the previous month's
    * value and the month-over-month delta ratio — the reporting staple.
    * Parity: monthly sums are exact 2-dp decimals (association-free), the
    * growth ratio is ONE double division of exact inputs rounded at 6 dp;
    * a first month (no predecessor) and a zero-revenue predecessor both
    * yield NULL growth on both engines.
    */
  def q96PeriodOverPeriod(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("yr"), col("mo"))
    val monthly = orders(spark, d)
      .groupBy(col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    monthly
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .select(col("o_orderpriority"), col("yr"), col("mo"),
        col("rev").cast("double").as("rev"),
        col("prev_rev").cast("double").as("prev_rev"),
        when(col("prev_rev") > 0,
          (col("rev") - col("prev_rev")).cast("double") /
            col("prev_rev").cast("double")).as("mom_growth"))
  }

  /** 2-D SKYLINE (Pareto frontier): parts not dominated on
    * (p_retailprice ↓, p_size ↓) within a two-brand segment — the
    * "no part is both cheaper and smaller" query.
    *
    * Scalable algorithm instead of the definitional quadratic: collapse to
    * per-price min size (exact agg; same-price larger sizes are dominated
    * by construction), then ONE ordered pass — a point survives iff its
    * size beats the running min over all strictly-cheaper prices. O(D log D)
    * on the distinct-price frame vs the oracle's O(n²) NOT-EXISTS (which is
    * the spec, runnable only at oracle scale). The single-task window runs
    * on the per-price frame (D ≈ distinct prices in the segment), not the
    * fact table; at 100 TB the pass parallelizes by price-range partitions
    * whose frontiers merge by the same running-min rule.
    */
  def q100Skyline(spark: SparkSession, d: String): DataFrame = {
    val perPrice = part(spark, d)
      .filter(col("p_brand").isin("Brand#1", "Brand#2"))
      .groupBy(col("p_retailprice").as("price"))
      .agg(min(col("p_size").cast("long")).as("size"))
    val w = Window.orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perPrice
      .withColumn("__best_prev", min(col("size")).over(w))
      .filter(col("__best_prev").isNull || col("size") < col("__best_prev"))
      .select(col("price"), col("size"))
  }

  /** WINSORIZED mean: clamp to the per-group [p05, p95] band, then average —
    * the outlier-robust location estimate that (unlike q85's MAD report)
    * still uses every row. Fences come from the window-sort exact percentile
    * strategy and broadcast back over one fact scan; the clamped average is
    * an fp-ordered aggregate → 2-dp round per the parity rules.
    */
  def q106WinsorizedMean(spark: SparkSession, d: String): DataFrame = {
    val li = lineitem(spark, d)
    val fences = Percentiles
      .adaptivePercentiles(li, "l_returnflag", "l_extendedprice",
        Seq(0.05, 0.95), sortFits(spark, d))
      .groupBy(col("l_returnflag"))
      .agg(max(when(col("p") === 0.05, col("value"))).as("lo"),
        max(when(col("p") === 0.95, col("value"))).as("hi"))
    li.join(broadcast(fences), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L))
          .as("n_clamped_lo"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
          .as("n_clamped_hi"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        round(avg(least(greatest(col("l_extendedprice"), col("lo")),
          col("hi"))), 2).as("winsorized_mean"))
  }

  /** Per-segment Gini concentration of customer account balances, by the
    * rank-weighted closed form `G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx)` over the
    * ascending sort — O(n log n) where the textbook pairwise |xᵢ−xⱼ| sum
    * is O(n²) (the same sorted-prefix trick as the skyline and systematic
    * sampler). Balances go through exact DECIMAL cents, so the weighted
    * sum and both divisors are exact longs and the Gini is one final
    * IEEE division; negative balances are floored at zero (Gini is
    * defined on non-negative support) with the clamp count reported.
    */
  def q125Gini(spark: SparkSession, d: String): DataFrame =
    q125GiniFrom(customer(spark, d))

  /** [[q125Gini]]'s core on any (c_mktsegment, c_acctbal) frame. */
  def q125GiniFrom(cust0: DataFrame): DataFrame = {
    val cust = cust0.select(col("c_mktsegment"),
      greatest(lit(0L), (col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")).as("cents"),
      (col("c_acctbal") < 0).cast("long").as("clamped"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("cents"), col("clamped"))
    val wAll = Window.partitionBy(col("c_mktsegment"))
    cust
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("term", (lit(2L) * col("i") - col("n") - 1L) * col("cents"))
      .groupBy(col("c_mktsegment"))
      .agg(max(col("n")).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("term")).as("gini_num"),
        sum(col("clamped")).as("n_clamped"))
      .select(col("c_mktsegment"), col("n"), col("sum_cents"),
        col("gini_num"), col("n_clamped"),
        when(col("sum_cents") > 0,
          col("gini_num").cast("double") /
            (col("n") * col("sum_cents")).cast("double")).as("gini"))
  }

  /** Cross-table referential-integrity audit — the data-quality check
    * q67's single-table expectations can't express: for each declared
    * FK relationship, distinct child keys, orphans (child keys with no
    * parent — broken integrity), parent keys, and childless parents
    * (reverse coverage). Anti-joins on distinct key frames: each
    * relationship costs two key-deduped anti-joins, never a fact-to-fact
    * row join.
    */
  /** Market-basket association rules over order baskets of part brands:
    * support / confidence / lift for every brand pair co-purchased in at
    * least 2% of baskets (threshold scales with the corpus — the q104
    * lesson; an absolute cutoff goes silently degenerate across SFs — and
    * 2% sits inside the observed support spread at every SF, so the floor
    * provably filters).
    * Shapes for scale: baskets are one distinct shuffle on (order, brand),
    * the pair expansion is a map-side double posexplode over per-basket
    * sorted item arrays (bounded by items-per-basket², ~7² here, NOT
    * data², and with no basket-keyed join shuffle), item counts broadcast,
    * and lift/confidence are single divisions of exact ints (n_ab·N and
    * n_a·n_b stay far under 2⁵³).
    */
  def q133AssocRules(spark: SparkSession, d: String): DataFrame =
    assocRulesFrom(lineitem(spark, d)
      .join(broadcast(part(spark, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item")))

  /** Core of [[q133AssocRules]] over a (basket, item) frame — duplicates
    * tolerated, the set aggregation dedups, so callers skip a distinct
    * shuffle; `supportPctHundredths` is the support floor in hundredths
    * of a percent (200 = 2%), applied as an exact integer predicate.
    */
  def assocRulesFrom(baskets: DataFrame,
                     supportPctHundredths: Long = 200L): DataFrame = {
    // ONE shuffle total on the basket key: collect_set dedups while
    // grouping, the pair lattice is generated MAP-SIDE by a double
    // posexplode (array sorted + distinct ⇒ ia < ib ⟺ item_a < item_b,
    // bounded by items-per-basket², never data²), and item/basket counts
    // re-derive from the checkpointed per-basket arrays
    val arrs = baskets.groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .transform(graft.Pin.apply)
    val itemCounts = arrs.select(explode(col("items")).as("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_item"))
    val nBaskets = arrs.agg(count(lit(1)).as("n_baskets"))
    val pairs = arrs
      .select(col("items"),
        posexplode(col("items")).as(Seq("ia", "item_a")))
      .select(col("ia"), col("item_a"),
        posexplode(col("items")).as(Seq("ib", "item_b")))
      .filter(col("ia") < col("ib"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs.crossJoin(broadcast(nBaskets))
      .filter(col("n_ab") * 10000L >= col("n_baskets") * supportPctHundredths)
      .join(broadcast(itemCounts.select(col("item").as("item_a"),
        col("n_item").as("n_a"))), "item_a")
      .join(broadcast(itemCounts.select(col("item").as("item_b"),
        col("n_item").as("n_b"))), "item_b")
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_baskets"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("conf_ab"),
        (col("n_ab").cast("double") / col("n_b").cast("double"))
          .as("conf_ba"),
        ((col("n_ab") * col("n_baskets")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Herfindahl–Hirschman concentration of supplier revenue per nation —
    * the antitrust-standard market-concentration scalar (q125's Gini
    * measures inequality of the distribution; HHI weights the TOP, which
    * is what "can one supplier hold the market hostage" asks). Revenue
    * collapses to exact cents per (nation, supplier); each share is one
    * exact-long division; HHI = Σ share² is a sum of doubles — fp-order-
    * sensitive in the last ulp, so it is rounded to 6 dp (parity rule #2,
    * margin-audited) rather than carried raw. n_sup·10000/HHI-equivalent
    * inverse ("effective competitor count") is 1/hhi, one more division.
    */
  def q148Hhi(spark: SparkSession, d: String): DataFrame = {
    val perSup = lineitem(spark, d)
      .join(broadcast(supplier(spark, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("cents"))
    val nation = perSup.groupBy(col("s_nationkey"))
      .agg(sum(col("cents")).as("nation_cents"),
        count(lit(1)).as("n_suppliers"))
    perSup.join(broadcast(nation), "s_nationkey")
      .withColumn("share",
        col("cents").cast("double") / col("nation_cents").cast("double"))
      .groupBy(col("s_nationkey"), col("n_suppliers"))
      .agg(round(sum(col("share") * col("share")), 6).as("hhi"))
      .select(col("s_nationkey"), col("n_suppliers"), col("hhi"),
        (lit(1.0) / col("hhi")).as("effective_suppliers"))
  }

  /** Distribution shape per group from exact power sums: mean, population
    * variance, skewness and excess kurtosis of l_quantity per return flag.
    * S₁..S₄ are EXACT integer sums (one map-side-combined shuffle); each
    * raw moment Eₖ = Sₖ/n is one division of exact ints (correctly
    * rounded), and the central-moment/standardization chain is a FIXED
    * expression — identical operation order on both engines, so the
    * doubles are bit-identical raw with no rounding (the q74/q127
    * discipline, extended to 3rd/4th moments). sqrt is IEEE-exact; no
    * libm transcendental appears. At 100 TB switch the power sums to
    * decimal(38,0) before Σq⁴ approaches 2⁵³ (value-domain-dependent;
    * l_quantity ≤ 50 keeps longs safe to ~10¹² rows per group).
    */
  def q138HigherMoments(spark: SparkSession, d: String): DataFrame =
    higherMomentsFrom(lineitem(spark, d)
      .select(col("l_returnflag"), col("l_quantity")))

  /** Core of [[q138HigherMoments]] over (l_returnflag, l_quantity) rows. */
  def higherMomentsFrom(df: DataFrame): DataFrame = {
    val q = col("l_quantity").cast("long")
    df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(q).as("s1"), sum(q * q).as("s2"),
        sum(q * q * q).as("s3"), sum(q * q * q * q).as("s4"))
      .withColumn("e1", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("e2", col("s2").cast("double") / col("n").cast("double"))
      .withColumn("e3", col("s3").cast("double") / col("n").cast("double"))
      .withColumn("e4", col("s4").cast("double") / col("n").cast("double"))
      .withColumn("m2", col("e2") - col("e1") * col("e1"))
      .withColumn("m3", col("e3") - lit(3) * col("e1") * col("e2")
        + lit(2) * col("e1") * col("e1") * col("e1"))
      .withColumn("m4", col("e4") - lit(4) * col("e1") * col("e3")
        + lit(6) * col("e1") * col("e1") * col("e2")
        - lit(3) * col("e1") * col("e1") * col("e1") * col("e1"))
      .select(col("l_returnflag"), col("n"), col("e1").as("mean"),
        col("m2").as("variance"),
        when(col("m2") === 0, lit(null).cast("double"))
          .otherwise(col("m3") / (col("m2") * sqrt(col("m2"))))
          .as("skewness"),
        when(col("m2") === 0, lit(null).cast("double"))
          .otherwise(col("m4") / (col("m2") * col("m2")) - lit(3))
          .as("kurtosis_excess"))
  }

  /** Order-to-ship fulfillment latency p25/p50/p90 per order priority —
    * the ops-latency readout over a JOINED fact: integer day latencies
    * have D ≈ thousands of distinct values ≪ N rows, exactly the
    * value-count percentile strategy's domain (counting-sort compression,
    * shuffle N→D — the q37 domain-measurement discipline). The join
    * shuffles on the order key; at scale co-partition/bucket both tables
    * on it and the join is exchange-free.
    */
  def q144ShipLatency(spark: SparkSession, d: String): DataFrame =
    Percentiles.valueCountPercentiles(
      orders(spark, d).join(lineitem(spark, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).as("lat_days")),
      "o_orderpriority", "lat_days", Seq(0.25, 0.5, 0.9))

  /** Sequential cross-sell affinity: "customers who bought brand A later
    * bought brand B" — the TEMPORAL complement of [[q133AssocRules]]'s
    * same-basket co-occurrence (and of q115's adjacent-step Markov
    * transitions): A→B counts a customer once if ANY A-purchase strictly
    * precedes ANY B-purchase — which reduces to min(A dates) < max(B
    * dates), so the expensive part runs on a per-(customer, brand) SPAN
    * frame, bounded by (brands per customer)², never orders² or data² —
    * one shuffle on the customer key, with the same super-hub cap remedy
    * as the wedge joins ([[graft.ext.Components.linkPrediction]]) if a
    * 100 TB customer is pathological. The 43% support floor sits inside
    * the observed spread
    * at every SF (the q104 active-threshold discipline); confidence is
    * one exact-int division.
    */
  def q137CrossSell(spark: SparkSession, d: String): DataFrame =
    crossSellFrom(orders(spark, d)
      .join(lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(part(spark, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey").as("cust"), col("o_orderdate").as("odate"),
        col("p_brand").as("brand"))
      .distinct())

  /** Core of [[q137CrossSell]] over a distinct (cust, odate, brand) frame;
    * `supportPct` is the customer-share floor in percent.
    */
  def crossSellFrom(purchases: DataFrame, supportPct: Long = 43L): DataFrame = {
    // "any A strictly before any B" ⟺ min(A dates) < max(B dates), so
    // collapse to one (cust, brand) span row first: the self-join then
    // runs on the O(brands/cust) frame, emits each (cust, pair) at most
    // once (no distinct pass), and the row-level purchase history never
    // crosses a second shuffle
    // explicit-count repartition before the pin (round 19, the
    // withRepPinned discipline): the span frame's exchange carries few
    // bytes, so AQE coalesced it to ~6 partitions and the pin froze that
    // layout — StageAudit measured the (brands/cust)² self-join below on
    // 8 of 32 cores. Partitioning by cust keeps the join key-local.
    val spans = purchases.groupBy(col("cust"), col("brand"))
      .agg(min(col("odate")).as("first_date"),
        max(col("odate")).as("last_date"))
      .repartition(purchases.sparkSession.sparkContext.defaultParallelism,
        col("cust"))
      .transform(graft.Pin.apply)
    val pairs = spans.as("x")
      .join(spans.as("y"), col("x.cust") === col("y.cust")
        && col("x.brand") =!= col("y.brand")
        && col("x.first_date") < col("y.last_date"))
      .select(col("x.brand").as("brand_from"), col("y.brand").as("brand_to"))
    val fromCounts = spans
      .groupBy(col("brand").as("brand_from"))
      .agg(count(lit(1)).as("n_from"))
    val nCust = spans.select(col("cust")).distinct()
      .agg(count(lit(1)).as("n_cust"))
    pairs.groupBy(col("brand_from"), col("brand_to"))
      .agg(count(lit(1)).as("n_seq"))
      .crossJoin(broadcast(nCust))
      .filter(col("n_seq") * 100 >= col("n_cust") * supportPct)
      .join(broadcast(fromCounts), "brand_from")
      .select(col("brand_from"), col("brand_to"), col("n_seq"),
        col("n_from"), col("n_cust"),
        (col("n_seq").cast("double") / col("n_from").cast("double"))
          .as("conf"))
  }

  /** Lorenz curve in deciles: customers ranked by exact-cents revenue
    * (descending, custkey tiebreak), bucketed by ntile(10), with each
    * decile's cumulative share of total revenue — the 80/20 concentration
    * readout that complements q125's Gini scalar. The customer-level rank
    * is the only global window (same caveat/remedy as [[graft.ext.Sessions
    * .rfmSegments]]); the decile rollup and running sum are O(10).
    */
  def q135RevenueDeciles(spark: SparkSession, d: String): DataFrame =
    revenueDecilesFrom(orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .select(col("o_custkey"), (col("rev") * 100).cast("long").as("cents")))

  /** Core of [[q135RevenueDeciles]] over a per-customer exact-cents frame. */
  def revenueDecilesFrom(perCust: DataFrame): DataFrame = {
    val bucketed = perCust.withColumn("decile", ntile(10).over(
      Window.orderBy(col("cents").desc, col("o_custkey"))).cast("long"))
    val cells = bucketed.groupBy(col("decile"))
      .agg(count(lit(1)).as("customers"), sum(col("cents")).as("rev_cents"))
    val total = cells.agg(sum(col("rev_cents")).as("total_cents"))
    cells.crossJoin(broadcast(total))
      .withColumn("cum_cents", sum(col("rev_cents")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("customers"), col("rev_cents"),
        col("cum_cents"),
        (col("cum_cents").cast("double") / col("total_cents").cast("double"))
          .as("cum_share"))
  }

  def q129RefIntegrity(spark: SparkSession, d: String): DataFrame = {
    // one full-outer join of the two deduped key sets per relationship
    // yields all four counts in a single aggregation (vs four separate
    // anti-join/agg jobs stitched by crossJoins — same results, 1/4 the
    // passes; the join shuffles each key set once)
    def rel(name: String, child: DataFrame, parent: DataFrame): DataFrame = {
      val c = child.distinct().select(col("k"), lit(1L).as("__c"))
      val p = parent.distinct().select(col("k"), lit(1L).as("__p"))
      c.join(p, Seq("k"), "full_outer")
        .agg(
          coalesce(sum(coalesce(col("__c"), lit(0L))), lit(0L))
            .as("n_child_keys"),
          coalesce(sum(when(col("__c").isNotNull && col("__p").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_orphans"),
          coalesce(sum(coalesce(col("__p"), lit(0L))), lit(0L))
            .as("n_parent_keys"),
          coalesce(sum(when(col("__p").isNotNull && col("__c").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_childless"))
        .select(lit(name).as("relationship"), col("n_child_keys"),
          col("n_orphans"), col("n_parent_keys"), col("n_childless"))
    }
    rel("lineitem_orders",
        lineitem(spark, d).select(col("l_orderkey").as("k")),
        orders(spark, d).select(col("o_orderkey").as("k")))
      .unionByName(rel("orders_customer",
        orders(spark, d).select(col("o_custkey").as("k")),
        customer(spark, d).select(col("c_custkey").as("k"))))
      .unionByName(rel("customer_nation",
        customer(spark, d).select(col("c_nationkey").as("k")),
        nation(spark, d).select(col("n_nationkey").as("k"))))
  }

  /** Multi-way join + aggregation: revenue per supplier nation (broadcast the
    * two small tables, single shuffle for the aggregate).
    */
  def q09NationRevenue(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .join(broadcast(supplier(spark, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Join-fanout audit for one parent→child relationship: the
    * pre-flight a pipeline runs before trusting a join not to amplify
    * (or silently drop) rows. A fanout distribution that surprises you
    * at 100 TB is a shuffle that kills you at 100 TB — this measures it
    * at key grain before the real join runs.
    *
    * Output (one row): relationship, parent_keys, child_rows,
    * matched_keys (parent keys with ≥1 child), orphan_child_rows
    * (children whose key has no parent — referential leaks),
    * max_fanout, matched_child_rows, avg_fanout (ONE IEEE division of
    * exact counts, div1 class; -1.0 when nothing matches).
    *
    * Scale shape: both sides collapse to key grain with partial
    * aggregation before the single full-outer key join; the audit's
    * shuffle is |distinct keys|, never |rows|. No row-grain join
    * happens at all.
    */
  def fanoutAudit(parent: DataFrame, parentKey: Column,
                  child: DataFrame, childKey: Column,
                  relationship: String): DataFrame = {
    val p = parent.select(parentKey.cast("long").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("pn"))
    val c = child.select(childKey.cast("long").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("cn"))
    p.join(c, Seq("k"), "full_outer")
      .agg(
        sum(when(col("pn").isNotNull, 1L).otherwise(0L)).as("parent_keys"),
        coalesce(sum(col("cn")), lit(0L)).as("child_rows"),
        sum(when(col("pn").isNotNull && col("cn").isNotNull, 1L)
          .otherwise(0L)).as("matched_keys"),
        coalesce(sum(when(col("pn").isNull, col("cn"))), lit(0L))
          .as("orphan_child_rows"),
        coalesce(max(when(col("pn").isNotNull, coalesce(col("cn"), lit(0L)))),
          lit(0L)).as("max_fanout"),
        coalesce(sum(when(col("pn").isNotNull, col("cn"))), lit(0L))
          .as("matched_child_rows"))
      .select(lit(relationship).as("relationship"), col("parent_keys"),
        col("child_rows"), col("matched_keys"), col("orphan_child_rows"),
        col("max_fanout"),
        when(col("matched_keys") === 0, lit(-1.0))
          .otherwise(col("matched_child_rows").cast("double") /
            col("matched_keys").cast("double")).as("avg_fanout"))
  }
}
