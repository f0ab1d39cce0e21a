package graft

import graft.ext.TextStats
import graft.ops.Relational
import org.apache.spark.sql.functions._

/** Round-2 analytics extensions: frame-spec windows, band join, TF-IDF term
  * ranking, heavy hitters, z-score standardization, stratified sampling.
  */
class AnalyticsSpec extends SparkSuite {
  import spark.implicits._

  test("window frames: ma3 averages the current and up to 2 preceding rows") {
    // frame order is (o_orderdate, o_orderkey) — recover the date to replay
    val dates = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")))
      .as[(Long, Long)].collect().toMap
    val r = Relational.q38WindowFrames(spark, sf)
      .as[(Long, Long, Double, Option[Double], Option[Double], Double)]
      .collect()
    // recompute per customer with a plain scala fold, in window order
    r.groupBy(_._1).foreach { case (_, unordered) =>
      val rows = unordered.sortBy(row => (dates(row._2), row._2))
      val prices = rows.map(_._3)
      rows.zipWithIndex.foreach { case ((_, _, price, prev, delta, ma3), i) =>
        val frame = prices.slice(math.max(0, i - 2), i + 1)
        assert(math.abs(ma3 - frame.sum / frame.length) < 1e-6)
        if (i == 0) { assert(prev.isEmpty); assert(delta.isEmpty) }
        else {
          assert(prev.contains(prices(i - 1)))
          assert(delta.contains(price - prices(i - 1)))
        }
      }
    }
  }

  test("band join: partitions all parts, preserves the total count") {
    val parts = Tables.part(spark, sf)
    val bands = Relational.q39BandJoin(spark, sf)
    assert(bands.agg(sum("n_parts")).as[Long].head() === parts.count())
    // band bounds are half-open and disjoint: no double counting possible
    val b = bands.select("lo", "hi").as[(Double, Double)].collect().sortBy(_._1)
    b.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 === lo2)
      case _ =>
    }
  }

  test("tfidf: k terms per doc, each term actually occurs tf times in the doc") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    val top = TextStats.tfidfTopTerms(docs, k = 3)
    val perDoc = top.groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(perDoc.forall(_._2 <= 3))
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    top.select("doc_id", "term", "tf").as[(Long, String, Long)].collect()
      .foreach { case (id, term, tf) =>
        val toks = texts(id).trim.split("\\s+").toSeq
        assert(toks.count(_ == term) === tf, s"doc $id term $term")
      }
  }

  test("tfidf: rare terms outrank common ones at equal tf") {
    val docs = Seq(
      (0L, "alpha common"), (1L, "beta common"), (2L, "gamma common"))
      .toDF("doc_id", "text")
    val top = TextStats.tfidfTopTerms(docs, k = 2)
      .orderBy("doc_id", "rk")
      .select("doc_id", "term").as[(Long, String)].collect()
    // per doc: the unique term (df=1) must rank above 'common' (df=3)
    assert(top.toSeq === Seq((0L, "alpha"), (0L, "common"),
      (1L, "beta"), (1L, "common"), (2L, "gamma"), (2L, "common")))
  }

  test("heavy hitters: every hit clears the share threshold; share is df/N") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val hh = TextStats.heavyHitters(docs, minShare = 0.4)
      .as[(String, Long, Long, Double)].collect()
    assert(hh.nonEmpty)
    hh.foreach { case (_, df, nDocs, share) =>
      assert(nDocs === n)
      assert(share === df.toDouble / n)
      assert(share >= 0.4)
    }
  }

  test("zscore: per-segment standardized values have ~0 mean and ~1 std") {
    val z = Relational.q42Zscore(spark, sf)
      .groupBy("c_mktsegment")
      .agg(avg("zscore").as("m"), stddev_pop("zscore").as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Double, Long)].collect()
    z.foreach { case (seg, m, s, n) =>
      assert(math.abs(m) < 1e-4, s"segment $seg mean $m")
      if (n > 1) assert(math.abs(s - 1.0) < 1e-3, s"segment $seg std $s")
    }
  }

  test("mode: deterministic tie-break on the value itself") {
    import graft.ops.Relational
    val m = Relational.q46Mode(spark, sf)
      .as[(Option[Long], String, Long)].collect()
    assert(m.nonEmpty)
    // exactly one mode row per user (including a possible null-user group)
    assert(m.map(_._1).distinct.length === m.length)
    // cross-check one user against a direct computation
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .select("user_id", "event_type").as[(Long, String)].collect()
    val byUser = ev.groupBy(_._1).view.mapValues { xs =>
      val c = xs.groupBy(_._2).view.mapValues(_.size).toMap
      val mx = c.values.max
      c.filter(_._2 == mx).keys.min  // tie -> smallest value
    }.toMap
    m.filter(_._1.isDefined).foreach { case (Some(u), mode, _) =>
      assert(byUser(u) === mode, s"user $u")
    }
  }

  test("ranking: quartiles balanced within one row; ranks consistent with values") {
    import graft.ops.Relational
    val r = Relational.q49Ranking(spark, sf)
      .as[(Long, String, Double, Long, Long, Double)].collect()
    r.groupBy(_._2).foreach { case (seg, rows) =>
      val sizes = rows.groupBy(_._4).view.mapValues(_.size).toMap
      assert(sizes.keySet === Set(1L, 2L, 3L, 4L), s"$seg quartiles $sizes")
      assert(sizes.values.max - sizes.values.min <= 1, s"$seg sizes $sizes")
      // dense_rank strictly follows descending value; percent_rank ∈ [0,1]
      rows.sortBy(x => (-x._3, x._1)).toSeq.sliding(2).foreach {
        case Seq((_, _, v1, _, d1, p1), (_, _, v2, _, d2, p2)) =>
          if (v1 == v2) { assert(d1 == d2); assert(p1 == p2) }
          else { assert(d1 < d2); assert(p1 <= p2) }
        case _ =>
      }
    }
  }

  test("zscore guard: a single-member group gets zscore 0, not a crash") {
    // ANSI mode would throw on 0/0; the PRODUCTION operator's when-guard
    // must short-circuit it (this calls Relational.zscore, not a copy)
    val one = Seq((1L, "SOLO", 42.0), (2L, "DUO", 1.0), (3L, "DUO", 3.0))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    val z = Relational.zscore(one)
      .select("c_custkey", "zscore").as[(Long, Double)].collect().toMap
    assert(z(1L) === 0.0)      // degenerate group: std = 0 → guard
    assert(z(2L) === -1.0)     // DUO: mean 2, stddev_pop 1
    assert(z(3L) === 1.0)
  }

  test("kmv sketch: the SKETCH branch engages on the corpus and is accurate") {
    val docs = Tables.documents(spark, sf)
    val r = ext.Dedup.kmvDistinctTokens(docs, k = 16)
      .as[(String, Long, Option[Long], Double)].collect()
    assert(r.nonEmpty)
    // every lang must exceed sketch capacity — otherwise this test would
    // silently assert only the exact fallback and the estimator could rot
    assert(r.forall(_._3.isDefined), s"sketch branch not engaged: ${r.toSeq}")
    r.foreach { case (lang, exact, _, est) =>
      // KMV with k=16 has ~1/sqrt(14) ≈ 27% relative sd
      assert(math.abs(est - exact) / exact < 0.50,
        s"$lang exact=$exact est=$est")
      assert(est != exact.toDouble, s"$lang suspicious exact match")
    }
  }

  test("kmv sketch: groups below capacity fall back to the exact count") {
    val tiny = Seq(
      (1L, "aa", "alpha beta gamma"),
      (2L, "aa", "beta gamma delta"),
      (3L, "bb", "x y")).toDF("doc_id", "lang", "text")
    val r = ext.Dedup.kmvDistinctTokens(tiny, k = 16)
      .as[(String, Long, Option[Long], Double)].collect().toSeq.sortBy(_._1)
    assert(r.map(x => (x._1, x._2, x._3.isEmpty, x._4)) ===
      Seq(("aa", 4L, true, 4.0), ("bb", 2L, true, 2.0)))
  }

  /** (l_returnflag, p50, p90) of l_extendedprice by the holistic
    * aggregate — the reference every strategy must reproduce bit for bit.
    */
  private def holisticPrices(): Seq[(String, Double, Double)] = {
    val m = graft.ops.Percentiles.exactPercentilesHolistic(
        Tables.lineitem(spark, sf), "l_returnflag", "l_extendedprice",
        Seq(0.5, 0.9))
      .as[(String, Double, Double)].collect()
      .map { case (g, p, v) => (g, p) -> v }.toMap
    m.keys.map(_._1).toSeq.sorted.map(g => (g, m((g, 0.5)), m((g, 0.9))))
  }

  test("histogram-pruned percentiles are bit-identical to the holistic aggregate") {
    import graft.ops.Percentiles
    val li = Tables.lineitem(spark, sf)
    val dist = Percentiles
      .exactPercentiles(li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.9))
      .as[(String, Double, Double)].collect()
      .map { case (g, p, v) => (g, p) -> v }.toMap
    val hol = holisticPrices()
    assert(hol.nonEmpty)
    hol.foreach { case (g, p50, p90) =>
      assert(dist((g, 0.5)) === p50) // exact ==: same order stats, same lerp
      assert(dist((g, 0.9)) === p90)
    }
  }

  test("distributed percentiles: edge fractions, duplicates, tiny groups") {
    import graft.ops.Percentiles
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 9.0),
      ("b", 5.0), // single-element group
      ("c", 3.0), ("c", 3.0), ("c", 3.0)) // degenerate range (lo == hi)
      .toDF("g", "v")
    for (plan <- Seq( // both plans, same answers
      Percentiles.exactPercentiles(df, "g", "v", Seq(0.0, 0.5, 1.0),
        nBuckets = 4),
      Percentiles.exactPercentilesHolistic(df, "g", "v", Seq(0.0, 0.5, 1.0)))) {
      val r = plan.as[(String, Double, Double)].collect()
        .map { case (g, p, v) => (g, p) -> v }.toMap
      assert(r(("a", 0.0)) === 1.0 && r(("a", 1.0)) === 9.0)
      assert(r(("a", 0.5)) === 2.0) // pos=1.5 between the duplicate 2.0s
      assert(r(("b", 0.0)) === 5.0 && r(("b", 0.5)) === 5.0 && r(("b", 1.0)) === 5.0)
      assert(r(("c", 0.5)) === 3.0)
    }
    // the value-count (counting-sort) and window-sort strategies agree on
    // the same edges — duplicates land inside rank intervals in both
    for (strat <- Seq(Percentiles.valueCountPercentiles _,
      Percentiles.sortPercentiles _)) {
      val r = strat(df, "g", "v", Seq(0.0, 0.5, 1.0))
        .as[(String, Double, Double)].collect()
        .map { case (g, p, v) => (g, p) -> v }.toMap
      assert(r(("a", 0.0)) === 1.0 && r(("a", 0.5)) === 2.0 &&
        r(("a", 1.0)) === 9.0)
      assert(r(("b", 0.5)) === 5.0 && r(("c", 0.5)) === 3.0)
    }
  }

  test("window-sort percentiles are bit-identical to the holistic aggregate") {
    import graft.ops.Percentiles
    val li = Tables.lineitem(spark, sf)
    val srt = Percentiles
      .sortPercentiles(li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.9))
      .as[(String, Double, Double)].collect()
      .map { case (g, p, v) => (g, p) -> v }.toMap
    holisticPrices().foreach { case (g, p50, p90) =>
      assert(srt((g, 0.5)) === p50 && srt((g, 0.9)) === p90)
    }
  }

  test("value-count percentiles are bit-identical to the holistic aggregate") {
    import graft.ops.Percentiles
    val li = Tables.lineitem(spark, sf)
    val vcp = Percentiles
      .valueCountPercentiles(li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.9))
      .as[(String, Double, Double)].collect()
      .map { case (g, p, v) => (g, p) -> v }.toMap
    val hol = holisticPrices()
    assert(hol.nonEmpty)
    hol.foreach { case (g, p50, p90) =>
      assert(vcp((g, 0.5)) === p50) // exact ==: same order stats, same lerp
      assert(vcp((g, 0.9)) === p90)
    }
  }

  test("stratified sample: deterministic, ~10% per stratum, counts consistent") {
    val s1 = Relational.q43StratifiedSample(spark, sf)
    val s2 = Relational.q43StratifiedSample(spark, sf)
    val rows = s1.as[(Long, String, Double, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq ===
      s2.as[(Long, String, Double, Long, Long)].collect().map(_._1).sorted.toSeq)
    rows.groupBy(_._2).foreach { case (seg, rs) =>
      val (total, sampled) = (rs.head._4, rs.head._5)
      assert(rs.length === sampled)
      assert(sampled <= total)
      // hash sampling is ~binomial(total, 0.1): allow a wide band
      assert(sampled.toDouble / total > 0.02 && sampled.toDouble / total < 0.25,
        s"segment $seg ratio ${sampled.toDouble / total}")
    }
  }

  test("hopping windows: each event in exactly window/slide windows, aligned starts") {
    // 4 s windows hopping every 2 s; event at t=5 s → starts 4 s and 2 s
    val events = Seq(
      (1L, 5L, 7L, "e", 1.0),
      (2L, 5L, 8L, "e", 2.0),
      (3L, 11L, 7L, "f", 4.0)
    ).map { case (id, sec, u, t, v) => (id, sec * 1000000000L, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = ext.Sessions.hopping(events,
        windowUs = 4000000L, slideUs = 2000000L)
      .as[(Long, String, Long, Double)].collect()
      .map(x => (x._1 / 1000000L, x._2) -> (x._3, x._4)).toMap
    assert(r === Map(
      (4L, "e") -> (2L, 3.0), (2L, "e") -> (2L, 3.0),
      (10L, "f") -> (1L, 4.0), (8L, "f") -> (1L, 4.0)))
  }

  test("moving anomaly: constant series is calm, a spike trips the z flag") {
    val DayNs = 86400000000000L
    val base = (0 to 6).map(d =>
      (d.toLong, d * DayNs, 1L, "e", 10.0))
    val spike = Seq((7L, 7 * DayNs, 1L, "e", 100.0))
    val events = (base ++ spike)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = ext.Sessions.movingAnomaly(events)
      .orderBy("day")
      .as[(String, Long, Long, Long, Long, Long, Boolean)]
      .collect()
    // constant prefix: var_num_e4 = (n·s2 − s1²)·1e4 = 0, never anomalous;
    // mu_e6 = 10·1e6
    assert(r.take(7).forall(x => x._5 === 10000000L && x._6 === 0L && !x._7))
    assert(r.take(7).map(_._4).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // spike day: frame = 6×10 + 100, n = 7, s1 = 160, s2 = 10600;
    // var_num = 7·10600 − 160² = 48600 (e4 = 486000000); d = 7·100 − 160
    // = 540; d² = 291600 > 4·48600 = 194400 (z² = 6 > 4) → anomalous
    val s = r.last
    assert(s._4 === 7L && s._7, s.toString)
    assert(s._6 === 486000000L, s.toString)
    // μ = 160/7 half-up at 6 dp = 22.857143
    assert(s._5 === 22857143L, s.toString)
  }

  test("multiset ops: multiplicities are min(c,s) and max(c-s,0) per key") {
    val c = Tables.customer(spark, sf).groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n")).as[(Int, Long)].collect().toMap
    val s = Tables.supplier(spark, sf).groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n")).as[(Int, Long)].collect().toMap
    val r = Relational.q76MultisetOps(spark, sf)
      .as[(String, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(x => x._2 -> x._3).toMap).toMap
    val expInter = (c.keySet ++ s.keySet).flatMap { k =>
      val m = math.min(c.getOrElse(k, 0L), s.getOrElse(k, 0L))
      if (m > 0) Some(k -> m) else None
    }.toMap
    val expExcept = c.flatMap { case (k, n) =>
      val m = math.max(n - s.getOrElse(k, 0L), 0L)
      if (m > 0) Some(k -> m) else None
    }
    assert(r("intersect_all") === expInter)
    assert(r("except_all") === expExcept)
  }

  test("grouping sets: only the three requested levels, totals consistent") {
    val rows = Relational.q75GroupingSets(spark, sf)
      .as[(String, String, Long, Double)].collect()
    assert(!rows.exists(r => r._1 != "ALL" && r._2 != "ALL"),
      "cross (flag,status) level must be absent")
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.filter(r => r._1 == "ALL" && r._2 == "ALL").map(_._3).toSeq
      === Seq(total))
    assert(rows.filter(r => r._1 != "ALL").map(_._3).sum === total)
    assert(rows.filter(r => r._2 != "ALL").map(_._3).sum === total)
  }

  test("delta-join merge is bit-equal to the from-scratch join recompute") {
    val merged = Relational.q82DeltaJoin(spark, sf)
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    val scratch = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(merged === scratch)
  }

  test("corr/regression: degenerate groups yield NULL stats, not inf/NaN") {
    val df = Seq(
      ("lin", 1, 10), ("lin", 2, 20), ("lin", 3, 30),   // perfect line
      ("flatx", 5, 1), ("flatx", 5, 2),                  // x constant
      ("single", 7, 7)                                   // one row
    ).toDF("g", "xv", "yv")
    val r = Relational.corrRegression(df, col("g"),
        col("xv").cast("decimal(18,0)"), col("yv").cast("decimal(18,0)"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    assert(r("lin")._3 === Some(1.0) && r("lin")._4 === Some(10.0)
      && r("lin")._5 === Some(0.0) && r("lin")._6 === Some(1.0))
    for (g <- Seq("flatx", "single"); i <- 3 to 6)
      assert(r(g).productElement(i - 1) === None, s"$g field $i must be NULL")
  }

  test("corr/regression: r2 is corr², group counts cover the table") {
    val rows = Relational.q74CorrRegression(spark, sf)
      .as[(String, Long, Double, Double, Double, Double)].collect()
    assert(rows.map(_._2).sum === Tables.lineitem(spark, sf).count())
    rows.foreach { r =>
      assert(math.abs(r._3) <= 1.0, r.toString)
      assert(math.abs(r._6 - r._3 * r._3) < 2e-6, s"r2 != corr² in $r")
    }
  }

  test("assocRules: exact support/confidence/lift; floor provably filters") {
    // baskets: b1{A,B} b2{A,B} b3{A,C} b4{B} → n=4, A=3, B=3, C=1,
    // AB=2 (50%), AC=1 (25%)
    val baskets = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"), (4L, "B")).toDF("basket", "item")
    val r = Relational.assocRulesFrom(baskets)
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().map(x => (x._1, x._2) -> x).toMap
    assert(r(("A", "B")) ===
      (("A", "B", 2L, 3L, 3L, 4L, 2.0 / 3, 2.0 / 3, 8.0 / 9)))
    assert(r(("A", "C")) ===
      (("A", "C", 1L, 3L, 1L, 4L, 1.0 / 3, 1.0, 4.0 / 3)))
    // a 30% floor keeps AB (50%) and drops AC (25%)
    val hi = Relational.assocRulesFrom(baskets, supportPctHundredths = 3000L)
      .select(col("item_a"), col("item_b")).as[(String, String)].collect()
    assert(hi.toSeq === Seq(("A", "B")))
  }

  test("higherMoments: hand-checked moments; constant group yields NULL shape") {
    // a: {1,2,3,4} → mean 2.5, m2 1.25, symmetric → skew 0,
    // m4 2.5625 → kurtosis 2.5625/1.5625 − 3 = −1.36; b constant → NULLs
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("b", 5), ("b", 5))
      .toDF("l_returnflag", "l_quantity")
    val r = Relational.higherMomentsFrom(df)
      .as[(String, Long, Double, Double, Option[Double], Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    assert(r("a") === (("a", 4L, 2.5, 1.25, Some(0.0), Some(-1.36))))
    assert(r("b") === (("b", 2L, 5.0, 0.0, None, None)))
  }

  test("shipLatency: 5 priorities x 3 cutpoints, monotone, strategy-agreeing") {
    val r = Relational.q144ShipLatency(spark, sf)
      .as[(String, Double, Double)].collect()
    assert(r.length === 15)
    r.groupBy(_._1).foreach { case (g, rows) =>
      val Array(p25, p50, p90) = rows.sortBy(_._2).map(_._3)
      assert(p25 <= p50 && p50 <= p90, s"$g not monotone") }
    // value-count strategy must equal the window-sort strategy bit-for-bit
    val lat = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lat_days"))
    val viaSort = ops.Percentiles.sortPercentiles(lat, "o_orderpriority",
        "lat_days", Seq(0.25, 0.5, 0.9))
      .as[(String, Double, Double)].collect().toSet
    assert(viaSort === r.toSet)
  }

  test("hhi: bounded by 1/n..1, effective competitors within [1, n]") {
    val r = Relational.q148Hhi(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    // nations PRESENT = nations with ≥1 supplier (10 at sf0.001's
    // 10-supplier corpus, 25 at larger SFs)
    assert(r.length >= 10 && r.length <= 25)
    r.foreach { case (nk, n, hhi, eff) =>
      assert(hhi > 0.0 && hhi <= 1.0, s"nation $nk hhi $hhi")
      assert(hhi >= 1.0 / n - 1e-6, s"nation $nk below equal-share floor")
      assert(eff >= 1.0 - 1e-9 && eff <= n + 1e-6, s"nation $nk eff $eff") }
  }

  test("revenueDeciles: equal buckets, cumulative cents, final share 1.0") {
    // 20 customers, cents 2000, 1900, …, 100 → decile d = custkeys 2d-1, 2d
    val perCust = (1L to 20L).map(k => (k, 2100L - 100L * k))
      .toDF("o_custkey", "cents")
    val r = Relational.revenueDecilesFrom(perCust)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(r.length === 10 && r.forall(_._2 === 2L))
    assert(r.head === ((1L, 2L, 3900L, 3900L, 3900.0 / 21000)))
    assert(r.last._3 === 300L && r.last._4 === 21000L && r.last._5 === 1.0)
  }
}
