package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** The two standard runtime scale levers, demonstrated and measured:
  *
  *  - bloom-filter join pruning: the injected `bloom_filter_might_contain`
  *    must appear on the fact side, and the fact side's shuffle must write
  *    measurably fewer records than the unpruned plan — the point of the
  *    technique is shuffle-volume reduction, so that is what's asserted;
  *  - AQE skew-join split: `skew=true` on the shuffle join under a hot key,
  *    with rows identical to both the plain join and the manual
  *    [[graft.ext.Skew.saltedJoin]] alternative.
  *
  * Both are session confs that Spark's `InjectRuntimeFilter` rule and AQE's
  * `OptimizeSkewedJoin` rule read at optimization time. Each case sets its
  * bundle on its own `spark.newSession()`, so the shared session's confs
  * never change.
  */
class RuntimeFilterSpec extends SparkSuite {

  /** Lets `InjectRuntimeFilter` fire at test data sizes: the 10 GB
    * application-side gate is removed, and broadcast is disabled because a
    * broadcast join already prunes at the build side and Spark refuses to
    * double-filter it. The plan is non-adaptive, so metrics can be read off
    * the executed plan directly; the injection rule itself is not AQE's.
    */
  private val bloomPruneConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
      -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")

  /** Makes AQE's skew-join split observable on small data: partition-size
    * thresholds scaled from the 256 MB/64 MB defaults down to tens of KB,
    * and the join kept a shuffle join (the split targets SMJ/SHJ).
    */
  private val skewJoinConfs = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
      -> (32 * 1024).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  private def sessionWith(confs: Seq[(String, String)]): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Records written by all shuffles in the executed plan (AQE-aware). */
  private def shuffleRecords(plan: SparkPlan): Long = {
    val concrete = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    concrete.collect {
      case s: ShuffleExchangeLike =>
        s.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
    }.sum
  }

  test("bloom-filter pruning: filter injected on fact side, shuffle records drop") {
    /** fact ⋈ selectively-filtered dim on the order key. */
    def prunedJoin(s: SparkSession): DataFrame = {
      val li = Tables.lineitem(s, sf).select("l_orderkey", "l_quantity")
      val dim = Tables.orders(s, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      li.join(dim, Seq("l_orderkey"))
    }

    // unpruned baseline: same shuffle join, bloom injection off
    val off = {
      val j = prunedJoin(sessionWith(bloomPruneConfs :+
        ("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")))
      val rows = j.collect()
      (rows.length, shuffleRecords(j.queryExecution.executedPlan))
    }

    val (onCount, onRecords, planStr) = {
      val j = prunedJoin(sessionWith(bloomPruneConfs))
      val rows = j.collect()
      (rows.length, shuffleRecords(j.queryExecution.executedPlan),
        j.queryExecution.executedPlan.toString)
    }

    assert(planStr.contains("might_contain") &&
        planStr.contains("bloom_filter_agg"),
      s"no runtime bloom filter injected in:\n$planStr")
    assert(onCount === off._1, "pruning must not change results")
    assert(onRecords < off._2,
      s"bloom pruning wrote $onRecords shuffle records, unpruned ${off._2} — " +
        "expected a reduction")
    info(s"shuffle records: unpruned=${off._2} pruned=$onRecords " +
      f"(${100.0 * (off._2 - onRecords) / off._2}%.1f%% reduction)")
  }

  test("AQE skew join: hot key splits (skew=true), rows match salted join") {
    // one hot key carrying ~100k rows vs 1k singleton keys
    def sides(s: SparkSession): (DataFrame, DataFrame) = {
      val hot = s.range(0, 100000).select(lit(0L).as("key"), col("id").as("row_id"))
      val tail = s.range(1, 1001).select(col("id").as("key"), (col("id") + 1000000).as("row_id"))
      (hot.unionAll(tail),
        s.range(0, 1001).select(col("id").as("key"), (col("id") % 7).as("grp")))
    }

    val (rowsAqe, planStr) = {
      val (l, r) = sides(sessionWith(skewJoinConfs))
      val j = l.join(r, Seq("key"))
      val rows = j.collect()
      (rows.map(_.toSeq).toSet, j.queryExecution.executedPlan.toString)
    }
    assert(planStr.contains("skew=true"),
      s"AQE did not mark the join skewed:\n$planStr")

    val (left, right) = sides(spark)
    val rowsSalted = graft.ext.Skew
      .saltedJoin(left, right, "key", leftRowId = "row_id", buckets = 16)
      .select("key", "row_id", "grp")
      .collect().map(_.toSeq).toSet
    val rowsPlain = left.join(right, Seq("key"))
      .collect().map(_.toSeq).toSet
    assert(rowsAqe === rowsPlain, "AQE skew split changed results")
    assert(rowsSalted === rowsPlain, "salted join changed results")
  }
}
