package graft

import graft.ext.{Dedup, Sessions, Similarity, TextStats}
import org.apache.spark.sql.functions._

/** LLM-pipeline extension operators: invariants and small hand-checked cases. */
class ExtSpec extends SparkSuite {
  import spark.implicits._

  // ---- dedup ----

  test("exactKeepMax keeps exactly one row per key, the max keeper") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "k")
    val r = Dedup.exactKeepMax(df, "k", "id").select("id").as[Long].collect().sorted
    assert(r.toSeq == Seq(2L, 3L))
  }

  test("shingleCodes: distinct 3-gram codes, exact encoding") {
    val df = Seq("abca").toDF("text")   // abc, bca — 2 distinct
    val Array(codes) = df.select(Dedup.shingleCodes(col("text"))).as[Seq[Long]].collect()
    val abc = 'a'.toLong * 65536 + 'b'.toLong * 256 + 'c'.toLong
    val bca = 'b'.toLong * 65536 + 'c'.toLong * 256 + 'a'.toLong
    assert(codes.toSet == Set(abc, bca))
  }

  test("ngramJaccard: identical docs → 1.0, disjoint docs absent") {
    val docs = Seq((1L, "hello world foo"), (2L, "hello world foo"),
      (3L, "zzzzqqqqxxxx")).toDF("doc_id", "text")
    val r = Dedup.ngramJaccardPairs(docs, 3, 0.0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(r.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("minhash LSH: exact duplicates always collide; verified pairs carry true jaccard") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with nothing shared whatsoever here"))
      .toDF("doc_id", "text")
    val r = Dedup.minhashNearDups(docs, k = 16, bands = 4, n = 3, minJaccard = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(r.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("simhash: identical docs get identical hashes; hash fits in `bits` bits") {
    val docs = Seq((1L, "some shared document body"), (2L, "some shared document body"),
      (3L, "other text")).toDF("doc_id", "text")
    val r = Dedup.simhash(docs, bits = 16).select("doc_id", "simhash")
      .as[(Long, Long)].collect().toMap
    assert(r(1L) == r(2L))
    assert(r.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  // ---- similarity ----

  test("cosine: orthogonal → 0, identical → 1, opposite → -1") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(1f, 0f), Array(-1f, 0f)))
      .toDF("a", "b", "c", "d")
    val Array((ab, ac, ad)) = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c")),
      Similarity.cosine(col("a"), col("d"))).as[(Double, Double, Double)].collect()
    assert(ab == 0.0 && ac == 1.0 && ad == -1.0)
  }

  test("cosineTopK: k results per query, ranked by similarity, no self-match") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.cosineTopK(emb, col("vec_id") < 5, k = 3).collect()
    val byQuery = r.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQuery.values.foreach { rows =>
      assert(rows.length == 3)
      val sorted = rows.sortBy(_.getLong(2))
      assert(sorted.map(_.getDouble(3)).sliding(2).forall(p => p(0) >= p(1)))
      assert(rows.forall(x => x.getLong(1) != x.getLong(0)))
    }
  }

  test("LSH bucketing: identical vectors share a bucket; near pairs found") {
    val emb = Tables.embeddings(spark, sf)
    val bucketed = emb.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 64, 8).as("b"))
    // deterministic: same vector → same bucket on re-evaluation
    val b1 = bucketed.as[(Long, Long)].collect().toMap
    val b2 = bucketed.as[(Long, Long)].collect().toMap
    assert(b1 == b2)
    assert(b1.values.forall(v => v >= 0 && v < 256))
  }

  // ---- text ----

  test("tokens/quality: counts on a known string") {
    val df = Seq((0L, "the cat sat on the mat", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val r = TextStats.qualityFeatures(df).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 6)
    assert(r.getAs[Long]("n_distinct_tokens") == 5)     // 'the' twice
    assert(r.getAs[Double]("stopword_ratio") == 2.0 / 6) // 'the' x2
    assert(r.getAs[Double]("avg_token_len") == 17.0 / 6)
  }

  test("langId picks the language with most marker hits") {
    val df = Seq(
      (0L, "the cat and the dog is here with us", "x", "s"),
      (1L, "el perro de la casa que los gatos", "x", "s"),
      (2L, "qqq www eee", "x", "s")).toDF("doc_id", "text", "lang", "source")
    val r = TextStats.langId(df).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(r == Map(0L -> "en", 1L -> "es", 2L -> "unknown"))
  }

  test("fingerprint: deterministic, order-sensitive, in [0, 2^31)") {
    val df = Seq((0L, "hello world"), (1L, "world hello"), (2L, "hello world"))
      .toDF("doc_id", "text")
    val r = df.select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(r(0L) == r(2L))
    assert(r(0L) != r(1L))
    assert(r.values.forall(v => v >= 0 && v < (1L << 31)))
  }

  // ---- sessions ----

  test("sessionize splits on gaps > threshold, ordered deterministically") {
    val us = 1000000L
    val df = Seq(
      (1L, 0L * us, 10L), (2L, 100L * us, 10L), (3L, 5000L * us, 10L),
      (4L, 0L * us, 20L))
      .toDF("event_id", "ts_ns_div", "user_id")
      .withColumn("ts", col("ts_ns_div") * 1000)  // ns
    val r = Sessions.sessionize(df, gapUs = 1800L * us)
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set((10L, 1L, 2L), (10L, 2L, 1L), (20L, 1L, 1L)))
  }

  test("tumbling buckets events by exact integer µs division") {
    val hourUs = 3600L * 1000000
    val df = Seq(
      (1L, 10L, 10L, "a", 1.0), (2L, hourUs - 1, 11L, "a", 2.0),
      (3L, hourUs + 1, 12L, "b", 3.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000)
    val r = Sessions.tumbling(df, hourUs)
      .select("bucket", "event_type", "n").as[(Long, String, Long)].collect().toSet
    assert(r == Set((0L, "a", 2L), (1L, "b", 1L)))
  }

  test("compact runs: consecutive same-type events collapse, boundaries split") {
    val events = Seq(
      (1L, 10L, 1L, "a", 0.0), (2L, 20L, 1L, "a", 0.0),
      (3L, 30L, 1L, "b", 0.0), (4L, 40L, 1L, "a", 0.0),
      (5L, 15L, 2L, "a", 0.0)
    ).map { case (id, us, u, t, v) => (id, us * 1000L, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = ext.Sessions.compactRuns(events)
      .orderBy("user_id", "run_id")
      .as[(Long, Long, String, Long, Long, Long)].collect().toSeq
    assert(r === Seq(
      (1L, 1L, "a", 1L, 10L, 2L),
      (1L, 2L, "b", 3L, 30L, 1L),
      (1L, 3L, "a", 4L, 40L, 1L),
      (2L, 1L, "a", 5L, 15L, 1L)))
  }

  test("feature hashing: buckets in range, counts conserve tokens, deterministic") {
    val docs = Seq((1L, "aa bb aa cc"), (2L, ""), (3L, "aa")).toDF("doc_id", "text")
    val r = TextStats.featureHashing(docs, dim = 8)
      .as[(Long, Long, Long)].collect()
    assert(r.forall(x => x._2 >= 0 && x._2 < 8))
    val perDoc = r.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(perDoc === Map(1L -> 4L, 3L -> 1L), "token mass conserved; blank absent")
    // same token → same bucket everywhere
    val d1aa = r.filter(x => x._1 == 1L && x._3 == 2L).map(_._2) // "aa" twice in doc 1
    val d3aa = r.filter(x => x._1 == 3L).map(_._2)
    assert(d1aa.toSeq === d3aa.toSeq)
  }

  test("containment: embedded doc hits 1.0 where jaccard stays low") {
    val long = (1 to 40).map(i => ('a' + i % 26).toChar).mkString
    val docs = Seq((1L, long.take(10)), (2L, long)).toDF("doc_id", "text")
    val r = ext.Dedup.containmentPairs(docs, n = 3, minContain = 0.8)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    // doc 1 (prefix) fully contained in doc 2
    assert(r(1L -> 2L)._6 === 1.0)
    assert(r(1L -> 2L)._3 === r(1L -> 2L)._4, "inter == |inner| at full containment")
    // the reverse direction is far below threshold (8/38) and absent
    assert(!r.contains(2L -> 1L))
    val jac = ext.Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.0)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(jac.forall(_._6 < 0.8), "jaccard must miss what containment catches")
  }

  test("occupancy: sessions count in every bucket their interval touches") {
    val HourNs = 3600L * 1000000000L
    val events = Seq(
      // user 1: one session spanning hours 0-2 (events 30 min apart)
      (1L, 0L, 1L, "e", 0.0), (2L, HourNs / 2, 1L, "e", 0.0),
      (3L, HourNs, 1L, "e", 0.0), (4L, 2 * HourNs, 1L, "e", 0.0),
      // user 2: short session inside hour 1
      (5L, HourNs + 1000L, 2L, "e", 0.0)
    ).map { case (id, ns, u, t, v) => (id, ns, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // gap 30 min: user 1's events 3→4 are 1 h apart → session SPLITS there
    val r = ext.Sessions.occupancy(events)
      .orderBy("bucket").as[(Long, Long, Long)].collect().toSeq
    assert(r === Seq((0L, 1L, 1L), (1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("scd2 join: purchases hit the version valid at their time, never later") {
    val events = Seq(
      (1L, 100L, 1L, "signup", 0.0),   // v1 valid [100, 300)
      (2L, 300L, 1L, "signup", 0.0),   // v2 valid [300, ∞)
      (3L, 50L, 1L, "purchase", 1.0),  // before v1 → dropped
      (4L, 200L, 1L, "purchase", 1.0), // → v1
      (5L, 300L, 1L, "purchase", 1.0), // boundary: valid_from inclusive → v2
      (6L, 400L, 1L, "purchase", 1.0)  // → v2
    ).map { case (id, us, u, t, v) => (id, us * 1000L, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = ext.Sessions.scd2Join(events)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._2 -> x._4).toMap
    assert(r === Map(4L -> 1L, 5L -> 2L, 6L -> 2L))
  }

  test("ema: recurrence folds in day order with per-step rounding") {
    val DayNs = 86400000000000L
    val events = Seq(
      (1L, 0L, 1L, "e", 10.0), (2L, 1L, 1L, "e", 20.0), (3L, 2L, 1L, "e", 30.0),
      (4L, 0L, 1L, "f", 4.0)
    ).map { case (id, d, u, t, v) => (id, d * DayNs, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = ext.Sessions.emaDaily(events)
      .as[(String, Long, Double, Double)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4)).toMap
    assert(r(("e", 0L)) === ((10.0, 10.0)))
    assert(r(("e", 1L)) === ((20.0, 12.5)))       // 0.25·20 + 0.75·10
    assert(r(("e", 2L)) === ((30.0, 16.875)))     // 0.25·30 + 0.75·12.5
    assert(r(("f", 0L)) === ((4.0, 4.0)))
  }

  test("count-min: never undercounts; exact at ample width, inflated when crowded") {
    val keys = (1 to 200).flatMap(k => Seq.fill(k % 7 + 1)(k.toLong))
      .toDF("k")
    val exact = keys.groupBy("k").count().as[(Long, Long)].collect().toMap
    // ample width: few of the 200 keys collide, probed estimates ≥ exact
    val wide = ext.Sketches.countMin(keys, "k", col("k") <= 50,
        depth = 3, width = 4096)
      .as[(Long, Long, Long, Long)].collect()
    assert(wide.length === 50)
    wide.foreach { case (k, nEx, nEst, over) =>
      assert(nEx === exact(k))
      assert(nEst >= nEx, s"undercount for $k")
      assert(over === nEst - nEx)
    }
    // crowded grid (width 4 ≪ 200 keys): collisions must inflate someone
    val narrow = ext.Sketches.countMin(keys, "k", col("k") <= 50,
        depth = 2, width = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(narrow.forall(r => r._3 >= r._2))
    assert(narrow.exists(_._4 > 0), "width 4 cannot be collision-free")
  }

  test("hllDistinct: bit-equal to a register replay; sane accuracy") {
    val keys = (1L to 200L).map(k => (k, "g")).toDF("k", "event_type")
    val Array(r) = ext.Sketches.hllDistinct(keys, "event_type", "k")
      .as[(String, Long, Long, Double, Double)].collect()
    // replay the exact integer register arithmetic in Scala
    val regs = (1L to 200L)
      .map { k =>
        val h1 = (k * 2654435761L + 1013904223L) % (1L << 40)
        val h2 = h1 ^ (h1 >> 20)
        val h3 = ((h2 % (1L << 32)) * 1540483477L + 99991L) % (1L << 40)
        val hv = h3 ^ (h3 >> 17)
        (hv % 32, if ((hv >> 5) == 0) 36
          else java.lang.Long.numberOfTrailingZeros(hv >> 5) + 1) }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).max }
    val z = regs.values.map(rho => 1.0 / (1L << rho)).sum +
      (32 - regs.size).toDouble
    val est = 0.697 * 32 * 32 / z
    assert(r._2 === 200L && r._3 === regs.size.toLong)
    assert(r._4 === est && r._5 === (est - 200.0) / 200.0)
    // raw HLL σ ≈ 1.04/√32 ≈ 18%; allow 3σ
    assert(math.abs(r._5) < 0.55, s"estimate off: $r")
  }

  test("crossSell: strict date order, per-customer dedup, active floor") {
    // c1: A then B → (A,B); c2: A,B same date → nothing; c3: B then A,
    // and A twice more (deduped) → (B,A)
    val pur = Seq((1L, 1L, "A"), (1L, 2L, "B"), (2L, 1L, "A"), (2L, 1L, "B"),
      (3L, 1L, "B"), (3L, 2L, "A"), (3L, 3L, "A"))
      .toDF("cust", "odate", "brand")
    val r = ops.Relational.crossSellFrom(pur, supportPct = 0L)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    assert(r.keySet === Set(("A", "B"), ("B", "A")))
    assert(r(("A", "B")) === (("A", "B", 1L, 3L, 3L, 1.0 / 3)))
    assert(r(("B", "A")) === (("B", "A", 1L, 3L, 3L, 1.0 / 3)))
    // 34% floor needs n_seq ≥ 2 of the 3 customers → both pairs drop
    assert(ops.Relational.crossSellFrom(pur, supportPct = 34L).count() === 0L)
  }

  test("canonical mapping: keeper is longest text, doc_id on ties, per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val docs = Seq(
      (1L, 100L), (2L, 300L), (3L, 300L), (10L, 50L), (11L, 40L), (99L, 1L))
      .toDF("doc_id", "n_chars")
    val r = ext.Dedup.canonicalMapping(pairs, docs)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(x => x._1 -> x).toMap
    assert(r.keySet === Set(1L, 2L, 3L, 10L, 11L), "only graph nodes mapped")
    // cluster {1,2,3}: 2 and 3 tie at 300 chars → keeper 2 (smaller id)
    assert(Seq(1L, 2L, 3L).forall(d => r(d)._5 === 2L && r(d)._2 === 1L))
    assert(r(2L)._6 && !r(1L)._6 && !r(3L)._6)
    assert(r(1L)._4 === 3L)
    // cluster {10,11}: keeper 10 (longer)
    assert(r(10L)._5 === 10L && r(11L)._5 === 10L && r(10L)._4 === 2L)
  }

  test("collocations: a fused pair outscores independent fillers") {
    // "aa bb" always adjacent; "xx"/"yy"/"zz" shuffled fillers
    val docs = (1 to 30).map { i =>
      val fill = Seq("xx", "yy", "zz").drop(i % 3) ++ Seq("xx", "yy", "zz").take(i % 3)
      (i.toLong, (Seq("aa", "bb") ++ fill).mkString(" "))
    }.toDF("doc_id", "text")
    val r = ext.Curation.collocations(docs, minCount = 10L)
      .as[(String, String, Long, Long, Long, Double)].collect()
    val byPair = r.map(x => (x._1, x._2) -> x).toMap
    assert(byPair.contains(("aa", "bb")))
    val fused = byPair(("aa", "bb"))
    assert(fused._3 === 30L && fused._4 === 30L && fused._5 === 30L)
    // P(aa bb) = 30/120 bigrams; P(aa)=P(bb)=30/150 tokens → lift = 6.25
    assert(math.abs(fused._6 - 6.25) < 1e-9, fused.toString)
    r.filter(x => (x._1, x._2) != ("aa", "bb")).foreach { o =>
      assert(o._6 < fused._6, s"filler pair $o outscored the fused pair")
    }
  }

  private def tinyEvents(rows: (Long, Long, Long)*) = {
    // (event_id, day, user_id) → events rows at day boundaries (ns ts)
    rows.map { case (id, day, u) =>
      (id, day * 86400000000000L, u, "view", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("cohortRetention: week-offset matrix with exact ratios") {
    // users 1,2 start day 0 (cohort 0); user 2 returns day 8 (week 1);
    // user 3 starts day 7 (cohort 7), never returns
    val ev = tinyEvents((1L, 0L, 1L), (2L, 0L, 2L), (3L, 8L, 2L), (4L, 7L, 3L))
    val r = ext.Sessions.cohortRetention(ev)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(r === Set(
      (0L, 0L, 2L, 2L, 1.0),
      (0L, 1L, 1L, 2L, 0.5),
      (7L, 0L, 1L, 1L, 1.0)))
  }

  test("trailingDistinctUsers: 7-day window counts on active days only") {
    // user 1 on days 0 and 10; user 2 on day 3
    val ev = tinyEvents((1L, 0L, 1L), (2L, 10L, 1L), (3L, 3L, 2L),
      (4L, 3L, 2L)) // duplicate user-day must not double-count
    val r = ext.Sessions.trailingDistinctUsers(ev)
      .as[(Long, Long, Long)].collect().toSet
    // day 0: {1}; day 3: {2} daily, {1,2} trailing (day0 within 7);
    // day 10: {1} both (day 3 is 7 days back — outside [4,10])
    assert(r === Set((0L, 1L, 1L), (3L, 1L, 2L), (10L, 1L, 1L)))
  }

  test("mergeInto: update/insert/delete/keep all fire with exact arithmetic") {
    import org.apache.spark.sql.functions.{col, lit}
    val target = Seq(
      (1L, "a", 10.0),   // matched, updated
      (2L, "b", -950.0), // matched + deleteWhen → dropped
      (3L, "c", 5.0),    // unmatched target → keep
      (4L, "d", -999.0)) // negative but NO source match → keep (MERGE rule)
      .toDF("k", "name", "bal")
    val source = Seq((1L, 7.0), (2L, 1.0), (9L, 3.0)).toDF("k", "delta")
    val r = ops.Merge.mergeInto(
      target, source, "k",
      updateSet = Seq("bal" -> (col("t.bal") + col("s.delta"))),
      insertRow = Seq("k" -> col("s.k"), "name" -> lit("new"),
        "bal" -> col("s.delta")),
      deleteWhen = col("t.bal") < -900)
      .as[(Long, String, Double, String)].collect().toSet
    assert(r === Set(
      (1L, "a", 17.0, "update"),
      (3L, "c", 5.0, "keep"),
      (4L, "d", -999.0, "keep"),
      (9L, "new", 3.0, "insert")))
  }

  test("retrieval: df cap drops stop-terms, Jaccard and rank are exact") {
    // doc 3 is the query (3 % 97 == 3); its first tokens overlap doc 1
    // heavily, doc 2 barely; 'the' appears everywhere → df-capped out
    val docs = Seq(
      (1L, "alpha beta gamma the"),
      (2L, "delta beta the the"),
      (3L, "alpha beta gamma the extra"),
      (4L, "zeta eta theta the"))
      .toDF("doc_id", "text")
    val r = ext.Retrieval.topKByTokenOverlap(docs, k = 5, maxDfPct = 79,
      queryEvery = 97, queryLen = 5)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .sortBy(_._2)
    // query terms: {alpha,beta,gamma,the,extra}; 'the' has df 4 = the whole
    // corpus, 400 > 79·4 → cut; beta's df 3 (300 ≤ 316) survives the cap
    // doc1 overlap {alpha,beta,gamma}=3, J=3/(5+4-3)=0.5
    // doc2 overlap {beta}=1, J=1/(5+3-1)≈0.1429; doc4 overlap 0 → absent
    assert(r.map(x => (x._1, x._2, x._3, x._4)).toSeq ===
      Seq((3L, 1L, 1L, 3L), (3L, 2L, 2L, 1L)))
    assert(r(0)._7 === 0.5)
    assert(r(1)._7 === 1.0 / 7.0)
  }

  test("hybridRRF: per-row RRF consistent with ranks, contiguous final ranks") {
    val r = SparkEntry.queries("q117_hybrid_rrf")(spark, sf)
      .as[(Long, Long, Long, Option[Long], Option[Long], Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (_, _, _, sr, dr, rrf) =>
      assert(sr.nonEmpty || dr.nonEmpty) // full-outer never fabricates rows
      val exp = sr.map(x => 1.0 / (60.0 + x)).getOrElse(0.0) +
        dr.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
      assert(rrf === exp)
    }
    // final ranks are a contiguous 1..n permutation within every query
    r.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq === (1 to g.size).map(_.toLong))
    }
  }

  test("bpeMergeStep: argmax pair, greedy left-to-right merge, exact counts") {
    // vocab: aaab ×3, ab ×1. Pair counts: (a,a)=6, (a,b)=4 → merge (a,a).
    // "a a a b" merges leftmost-first to "aa a b" (NOT "a aa b"); post-merge
    // pairs: (a,b)=3+1=4, (aa,a)=3.
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    val r = TextStats.bpeMergeStep(docs)
      .as[(String, String, Long, String, String, Long)].collect()
      .sortBy(_._3)
    assert(r.toSeq === Seq(
      ("a", "a", 1L, "a", "b", 4L),
      ("a", "a", 2L, "aa", "a", 3L)))
  }

  test("bpeLearnMerges: chained merges stay greedy at multi-char symbols") {
    // same vocab as the single-step spec: aaab ×3, ab ×1
    // step 1: (a,a)=6 → aaab = [aa,a,b]; step 2: (a,b)=3+1=4 →
    // aaab = [aa,ab], ab = [ab]; step 3: only (aa,ab)=3 remains
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    val r = TextStats.bpeLearnMerges(docs, nMerges = 3)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(r.toSeq === Seq(
      (1L, "a", "a", 6L), (2L, "a", "b", 4L), (3L, "aa", "ab", 3L)))
  }

  test("kmeansStep: integer argmin assignment with id tie-break, exact update") {
    // seeds: vec 0 = (0,0), vec 1 = (1,1); vec 2 joins c0, vec 3 joins c1,
    // vec 4 is equidistant → tie broken to the LOWER centroid id (c0)
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 1.0f)),
      (2L, Array(0.1f, 0.0f)), (3L, Array(0.9f, 1.0f)),
      (4L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val r = Similarity.kmeansStep(emb, k = 2)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4, x._5)).toMap
    // c0 members {0, 2, 4}: dim0 sums 0 + 100000 + 500000
    assert(r((0L, 0L)) === ((3L, 600000L, 200000.0)))
    assert(r((0L, 1L)) === ((3L, 500000L, 500000.0 / 3.0)))
    // c1 members {1, 3}: dim0 1000000 + 900000, dim1 exact 2e6
    assert(r((1L, 0L)) === ((2L, 1900000L, 950000.0)))
    assert(r((1L, 1L)) === ((2L, 2000000L, 1000000.0)))
  }

  test("interpolateDaily: interior gaps linear, edges one-sided, event-but-no-purchase days are gaps") {
    val Day = 86400L * 1000000
    // user 1: purchases day 0 (10) and day 4 (40), a purchase-less view on
    // day 1 → days 1-3 interpolate 17.5 / 25 / 32.5
    // user 2: view day 0, purchase day 1 (8) → leading edge backfills 8
    val events = Seq(
      (1L, 0L * Day, "purchase", 10.0), (1L, 1L * Day + 5, "view", 0.0),
      (1L, 4L * Day, "purchase", 40.0),
      (2L, 0L * Day, "view", 0.0), (2L, 1L * Day, "purchase", 8.0))
      .toDF("user_id", "ts_us", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.interpolateDaily(events)
      .as[(Long, Long, Option[Long], Double, Boolean)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4, x._5)).toMap
    assert(r((1L, 0L)) === ((Some(1000L), 10.0, false)))
    assert(r((1L, 1L)) === ((None, 17.5, true))) // events but no purchase
    assert(r((1L, 2L)) === ((None, 25.0, true)))
    assert(r((1L, 3L)) === ((None, 32.5, true)))
    assert(r((1L, 4L)) === ((Some(4000L), 40.0, false)))
    assert(r((2L, 0L)) === ((None, 8.0, true)))
    assert(r((2L, 1L)) === ((Some(800L), 8.0, false)))
  }

  test("waterfillBudget: small sources keep all, large ones split the rest") {
    // tokens per source: a=2, b=4, c=10 (bpe-ish = whitespace words here);
    // total 16, budget = 16·3/5 = 9. Sorted (a,b,c): a keeps 2
    // (2 + 2·3 = 8 ≤ 9); b constrained (2 + 4·2 = 10 > 9); cap = (9−2)/2
    val docs = Seq(
      (1L, "a", "x y"), (2L, "b", "p q r s"),
      (3L, "c", "t u v w t u v w t u")).toDF("doc_id", "source", "text")
    val r = ext.Curation.waterfillBudget(docs)
      .as[(String, Long, Boolean, Double)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    assert(r("a") === ((2L, true, 2.0)))
    assert(r("b") === ((4L, false, 3.5)))
    assert(r("c") === ((10L, false, 3.5)))
  }

  test("q125 gini: equality → 0, perfect concentration → (n−1)/n") {
    // all-equal segment: gini 0; one-holder segment of 4: (4−1)/4 = 0.75
    val cust = (Seq(("E", 10.0), ("E", 10.0), ("E", 10.0)) ++
      Seq(("C", 0.0), ("C", 0.0), ("C", 0.0), ("C", 40.0)))
      .toDF("c_mktsegment", "c_acctbal")
    // route through the registered query shape by writing a temp table?
    // no — call the op on a frame with the expected column names
    val r = ops.Relational.q125GiniFrom(cust)
      .as[(String, Long, Long, Long, Long, Option[Double])].collect()
      .map(x => x._1 -> x).toMap
    assert(r("E")._6 === Some(0.0))
    assert(r("C")._6 === Some(0.75))
    assert(r("C")._4 === (3L * 4000L)) // (2·4−4−1)·4000 cents
  }

  test("rendezvousMovement: minimal movement on resize — only new-shard keys move") {
    val keys = (0L until 1000L).toDF("k")
    val r = ext.Skew.rendezvousMovement(keys, "k")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(r.map(_._3).sum === 1000L)
    // the HRW property: every moved key lands on the NEW shard (id 8)
    r.filter(_._4).foreach { case (_, nw, _, _) => assert(nw === 8L) }
    val moved = r.filter(_._4).map(_._3).sum
    assert(moved > 0 && moved < 1000 / 4) // ≈ 1/9 of keys, never a reshuffle
  }

  test("systematicSample: pick counts exhaust n and follow the weight line") {
    // weights 1..8 words (total 36); n=100 points spaced total/100 apart —
    // every doc picked ≥ floor(w·100/36) times, total picks exactly 100
    val docs = (1 to 8).map(i => (i.toLong, ("w " * i).trim))
      .toDF("doc_id", "text")
    val r = ext.Curation.systematicSample(docs, n = 100)
      .as[(Long, Long, Long, Long)].collect()
    assert(r.map(_._4).sum === 100L)
    r.foreach { case (_, w, _, picks) =>
      assert(picks >= w * 100 / 36 && picks <= w * 100 / 36 + 1) }
  }

  test("systematicSample: distributed bucketed prefix sum ≡ global window form") {
    // duplicate-heavy weights + a few buckets force cross-bucket offsets
    // and within-bucket ties; both plans must agree to the bit
    val docs = (1 to 200).map(i => (i.toLong, ("w " * (1 + i % 7)).trim))
      .toDF("doc_id", "text")
    val window = ext.Curation.systematicSampleWindow(docs, n = 37)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val dist = ext.Curation.systematicSample(docs, n = 37, nBuckets = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dist === window)
  }

  test("distributionDrift: exact integer TVD numerator, one division") {
    // en: src a×2, b×1 (n1=3); rest: a×1, b×2 (n2=3)
    // numerator = |2·3−1·3| + |1·3−2·3| = 6; tvd = 6/(2·9) = 1/3
    val docs = Seq(
      (1L, "en", "a"), (2L, "en", "a"), (3L, "en", "b"),
      (4L, "zh", "a"), (5L, "zh", "b"), (6L, "es", "b"))
      .toDF("doc_id", "lang", "source")
    val Array(r) = ext.Curation
      .distributionDrift(docs, "source", col("lang") === "en")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
    assert(r === ((3L, 3L, 2L, 6L, Some(6.0 / 18.0))))
  }

  test("chiSquareCells: exact per-cell moments and contributions") {
    val docs = Seq((1L, "en", "a"), (2L, "en", "a"), (3L, "en", "b"),
      (4L, "fr", "a")).toDF("doc_id", "lang", "source")
    val r = ext.Curation.chiSquareCells(docs)
      .as[(String, String, Long, Long, Long, Long, Double, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    assert(r(("en", "a")) === (("en", "a", 2L, 3L, 3L, 4L, 2.25, 1.0 / 36.0)))
    assert(r(("en", "b")) === (("en", "b", 1L, 3L, 1L, 4L, 0.75, 1.0 / 12.0)))
    assert(r(("fr", "a")) === (("fr", "a", 1L, 1L, 3L, 4L, 0.75, 1.0 / 12.0)))
  }

  test("longestStreak: gaps-and-islands runs, earliest-streak tie-break") {
    val Day = 86400L * 1000000
    // u1: days 1,2,3 then 7,8 → longest 3 starting day 1
    // u2: days 1,2 and 5,6 → tie of 2s → earliest (day 1)
    val events = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 7L), (1L, 8L),
      (2L, 1L), (2L, 2L), (2L, 5L), (2L, 6L)).zipWithIndex
      .map { case ((u, day), i) => (i.toLong, u, day * Day) }
      .toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.longestStreak(events)
      .as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r(1L) === ((3L, 1L)))
    assert(r(2L) === ((2L, 1L)))
  }

  test("eventDiversity: exact rational impurity") {
    val Day = 86400L * 1000000
    // u1: 2×a + 2×b → 1 − (4+4)/16 = 0.5; u2: 3×a → 0
    val events = Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "b"),
      (2L, "a"), (2L, "a"), (2L, "a")).zipWithIndex
      .map { case ((u, t), i) => (i.toLong, u, Day, t) }
      .toDF("event_id", "user_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.eventDiversity(events)
      .as[(Long, Long, Long, Double)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    assert(r(1L) === ((4L, 2L, 0.5)))
    assert(r(2L) === ((3L, 1L, 0.0)))
  }

  test("ltvTriangle: weekly cohorts, exact cents, cumulative per-user LTV") {
    val Wk = 7L * 86400L * 1000000
    // cohort wk0 = {u1, u2}; u2 active-but-unpaying in wk1; u3 cohorts in wk1
    val events = Seq(
      (1L, "purchase", 0L, 10.00), (1L, "purchase", 1L, 5.50),
      (2L, "purchase", 0L, 2.00), (2L, "view", 1L, 99.0),
      (3L, "purchase", 1L, 4.00)).zipWithIndex
      .map { case ((u, t, wk, v), i) => (i.toLong, u, wk * Wk, t, v) }
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.ltvTriangle(events)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4, x._5, x._6, x._7)).toMap
    assert(r((0L, 0L)) === ((2L, 2L, 1200L, 1200L, 600.0)))
    assert(r((0L, 1L)) === ((2L, 2L, 550L, 1750L, 875.0)))
    assert(r((1L, 0L)) === ((1L, 1L, 400L, 400L, 400.0)))
  }

  test("conversionLatency: first purchase after first signup, interpolated cutpoints") {
    val Day = 86400L * 1000000
    // u1: signup d0, purchases d2 (and a pre-signup one ignored);
    // u2: signup d0, purchase d4; u3: only a pre-signup purchase → out
    val events = Seq(
      (1L, "signup", 0L), (1L, "purchase", -1L), (1L, "purchase", 2L),
      (2L, "signup", 0L), (2L, "purchase", 4L), (2L, "purchase", 6L),
      (3L, "purchase", 1L)).zipWithIndex
      .map { case ((u, t, day), i) => (i.toLong, u, day * Day + 10L * Day, t) }
      .toDF("event_id", "user_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.conversionLatency(events)
      .as[(Long, Double, Double)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    // latencies {2d, 4d}: p50 = 3d; p90 replays the implementation's
    // exact interpolation shape ((khi−pos)·vlo + (pos−klo)·vhi —
    // NOT 0.1·vlo + 0.9·vhi, which differs in the last ulp)
    assert(r((1L, 0.5)) === 3.0 * Day)
    assert(r((1L, 0.9)) === ((1.0 - 0.9) * (2 * Day) + (0.9 - 0.0) * (4 * Day)))
  }

  test("sourceScorecard: dup mass, mean length, impurity — hand-checked") {
    // s1: "a b" ×2 (dups) + "c" en/en/fr → impurity 1 − (4+1)/9 = 4/9,
    // tokens 2+2+1 = 5, chars 3+3+1 = 7; s2: one doc, pure
    val docs = Seq(
      (1L, "a b", "en", "s1", 3L), (2L, "a b", "en", "s1", 3L),
      (3L, "c", "fr", "s1", 1L), (4L, "d e f", "en", "s2", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = ext.Curation.sourceScorecard(docs)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r("s1") === (("s1", 3L, 5L, 2L, 7.0 / 3, 4.0 / 9)))
    assert(r("s2") === (("s2", 1L, 3L, 0L, 5.0, 0.0)))
  }

  test("dispersionIndex: zero-days on the spine; hand-checked Fano factors") {
    val Day = 86400L * 1000000
    // a: daily counts [2, 0] → D = (2·4 − 4)/(2·2) = 1.0
    // b: daily counts [1, 1] → D = (2·2 − 4)/(2·2) = 0.0 (perfectly regular)
    val events = Seq((0L, "a"), (0L, "a"), (0L, "b"), (1L, "b")).zipWithIndex
      .map { case ((day, t), i) => (i.toLong, 1L, day * Day, t) }
      .toDF("event_id", "user_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.dispersionIndex(events)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(x => x._1 -> x).toMap
    assert(r("a") === (("a", 2L, 2L, Some(1.0))))
    assert(r("b") === (("b", 2L, 2L, Some(0.0))))
  }

  test("ksTest: exact integer KS numerator, hand-checked D") {
    // en: {1,2}, rest: {2,3} → F diverges most at v=1: |0.5 − 0| = 0.5
    val docs = Seq((1L, "en"), (2L, "en"), (2L, "zh"), (3L, "zh"))
      .toDF("n_chars", "lang")
    val Array(r) = ext.Curation.ksTest(docs, "n_chars", col("lang") === "en")
      .as[(Long, Long, Long, Double)].collect()
    assert(r === ((2L, 2L, 2L, 0.5)))
  }

  test("langIdKappa: chance-corrected agreement from exact counts") {
    // en/es predicted right, fr text has no markers → unknown: n_agree 2,
    // marginal products: en 1·1 + es 1·1 = 2 → κ = (2·3−2)/(9−2) = 4/7
    val docs = Seq(
      (1L, "the and", "en"), (2L, "el que", "es"), (3L, "xyz", "fr"))
      .toDF("doc_id", "text", "lang")
    val Array(r) = TextStats.langIdKappa(docs)
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(r === ((3L, 2L, 2L, Some(4.0 / 7))))
    // degenerate: one class, perfectly predicted → pe = 1 → NULL κ
    val degen = Seq((1L, "the and", "en"), (2L, "the of", "en"))
      .toDF("doc_id", "text", "lang")
    val Array(d) = TextStats.langIdKappa(degen)
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(d === ((2L, 2L, 4L, None)))
  }

  test("rollingCorrelation: exact frame moments; perfect-linear week; n=1 NULL") {
    val Day = 86400L * 1000000
    // daily (x clicks, y purchases): (1,2), (2,4), (3,6) — y = 2x
    val events = Seq((0L, "click", 1), (0L, "purchase", 2),
      (1L, "click", 2), (1L, "purchase", 4),
      (2L, "click", 3), (2L, "purchase", 6))
      .flatMap { case (day, t, n) => Seq.fill(n)((day, t)) }.zipWithIndex
      .map { case ((day, t), i) => (i.toLong, 1L, day * Day, t) }
      .toDF("event_id", "user_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.rollingCorrelation(events)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(x => x._1 -> x).toMap
    assert(r(0L) === ((0L, 1L, 1L, 2L, None))) // single-point frame
    assert(r(1L) === ((1L, 2L, 3L, 6L, Some(1.0)))) // vx=1, vy=4: sqrts exact
    // day 2 replays the exact expression: 12 / (√6·√24)
    assert(r(2L)._5 === Some(12.0 / (math.sqrt(6.0) * math.sqrt(24.0))))
  }

  test("dowBaseline: ratio against the weekday-bucket mean, exact cents") {
    val Day = 86400L * 1000000
    // dow 0: days 0 and 7 with $1.00 and $3.00 → mean 200¢, ratios .5/1.5;
    // dow 1: day 1 alone → ratio 1.0
    val events = Seq((0L, 1.00), (7L, 3.00), (1L, 2.00)).zipWithIndex
      .map { case ((day, v), i) => (i.toLong, 1L, day * Day, "purchase", v) }
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.dowBaseline(events)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(0L) === ((0L, 0L, 100L, 400L, 2L, 0.5)))
    assert(r(7L) === ((7L, 0L, 300L, 400L, 2L, 1.5)))
    assert(r(1L) === ((1L, 1L, 200L, 200L, 1L, 1.0)))
  }

  test("maxConcurrency: sweep-line peak; end-meets-start never inflates") {
    val Min = 60L * 1000000
    // sessions (gap 30m): u1 [0,10m], u2 [5m,15m], u3 [20m,25m],
    // u4 [10m,12m] — u4 starts exactly at u1's end → peak stays 2
    val events = Seq(
      (1L, 0L), (1L, 10L), (2L, 5L), (2L, 15L),
      (3L, 20L), (3L, 25L), (4L, 10L), (4L, 12L)).zipWithIndex
      .map { case ((u, m), i) => (i.toLong, u, m * Min) }
      .toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val Array(r) = Sessions.maxConcurrency(events)
      .as[(Long, Long, Long)].collect()
    assert(r === ((0L, 2L, 8L)))
  }

  test("maxConcurrency: cross-midnight sessions carry into later days") {
    val DayUs = 86400000000L
    val Min = 60L * 1000000
    // u1 spans day0 23:50 → day1 00:10 (carry-in 1 for day1); u2 and u3
    // are day1-local overlapping u1's tail: day1 peak must count the
    // carried-in u1 → 3. u4 keeps day2 independent (no carry).
    val events = Seq(
      (1L, DayUs - 10 * Min), (1L, DayUs + 10 * Min),
      (2L, DayUs + 2 * Min), (2L, DayUs + 8 * Min),
      (3L, DayUs + 4 * Min), (3L, DayUs + 6 * Min),
      (4L, 2 * DayUs + 5 * Min), (4L, 2 * DayUs + 7 * Min)).zipWithIndex
      .map { case ((u, us), i) => (i.toLong, u, us) }
      .toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.maxConcurrency(events)
      .as[(Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(0L) === ((0L, 1L, 1L))) // day0: only u1's start boundary
    assert(r(1L) === ((1L, 3L, 5L))) // u1 end + u2/u3 starts+ends, carry 1
    assert(r(2L) === ((2L, 1L, 2L)))
  }

  test("largestRemainder: integer allocations sum exactly to the total") {
    // W=10, total=11: bases 3,3,4 (sum 10), leftover 1 → largest
    // remainder (c, 4) gets it; a/b tie on remainder 3 ranks after
    val weights = Seq(("a", 3L), ("b", 3L), ("c", 4L)).toDF("key", "w")
    val r = ext.Curation.largestRemainder(weights, total = 11L)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> x).toMap
    assert(r("a") === (("a", 3L, 3L, 3L, 0L, 3L)))
    assert(r("b") === (("b", 3L, 3L, 3L, 0L, 3L)))
    assert(r("c") === (("c", 4L, 4L, 4L, 1L, 5L)))
    assert(r.values.map(_._6).sum === 11L)
  }

  test("rfmSegments: ntile scores with deterministic tiebreaks, per-segment rollup") {
    val Day = 86400L * 1000000
    // 5 purchasing users, strictly ordered on all three axes: u_k buys k
    // times, $10 each, last on day 11-k → r=k, f=6-k, m=6-k
    val events = (1L to 5L).flatMap { u =>
      (1L to u).map(i => (u, (11 - u) * Day - i, 10.0))
    }.zipWithIndex.map { case ((u, tsUs, v), i) =>
      (i.toLong, u, tsUs, "purchase", v) }
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.rfmSegments(events)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(x => (x._1, x._2, x._3) -> (x._4, x._5, x._6)).toMap
    assert(r.keySet ===
      (1L to 5L).map(k => (k, 6L - k, 6L - k)).toSet)
    for (k <- 1L to 5L)
      assert(r((k, 6L - k, 6L - k)) ===
        ((1L, 1000L * k, 1000.0 * k)), s"user $k segment")
  }

  test("kaplanMeier: censored users hold the curve, deaths drop it") {
    val Day = 86400L * 1000000
    // lifespans: u1 t=2 (death), u2 t=0 (death), u3 t=9 / u4 t=8 censored
    // (last active within 3 days of maxday 9)
    val events = Seq(
      (1L, 1L, 0L), (2L, 1L, 2L), (3L, 2L, 0L),
      (4L, 3L, 0L), (5L, 3L, 9L), (6L, 4L, 0L), (7L, 4L, 8L))
      .map { case (id, u, day) => (id, u, day * Day) }
      .toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.kaplanMeier(events)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(r.toSeq === Seq(
      (0L, 1L, 0L, 4L, 0.75),              // 4 at risk, 1 death
      (2L, 1L, 0L, 3L, 0.75 * (2.0 / 3)),  // 3 at risk, 1 death
      (8L, 0L, 1L, 2L, 0.5),               // censored exit: S holds
      (9L, 0L, 1L, 1L, 0.5)))
  }

  test("abTestReadout: exact user-level moments and Welch t") {
    val Day = 86400L * 1000000
    val events = Seq( // variant = user_id % 2
      (1L, 1L, "purchase", 300.0), (2L, 2L, "purchase", 100.0),
      (3L, 3L, "purchase", 500.0), (4L, 4L, "purchase", 200.0),
      (5L, 1L, "view", 999.0)) // non-purchase ignored
      .map { case (id, u, t, v) => (id, u, 1L * Day, t, v) }
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val Array(r) = Sessions.abTestReadout(events)
      .as[(Long, Long, Double, Double, Double, Double, Double)].collect()
    // variant 0 = users {2, 4} cents {10000, 20000}; variant 1 = {1, 3}
    // cents {30000, 50000}
    assert(r._1 === 2L && r._2 === 2L)
    assert(r._3 === 15000.0 && r._4 === 40000.0)
    assert(r._5 === 5e7 && r._6 === 2e8)
    assert(r._7 === 25000.0 / math.sqrt(2e8 / 2.0 + 5e7 / 2.0))
  }

  test("cappedRunningBalance: non-associative clamp floors at zero exactly") {
    val Day = 86400L * 1000000
    val events = Seq(
      (1L, 1L, 1L * Day, "purchase", 10.0),
      (2L, 1L, 2L * Day, "error", 25.0),   // net -25 → clamped to 0
      (3L, 1L, 3L * Day, "purchase", 5.0)) // restarts from the floor
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.cappedRunningBalance(events)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._2)
    assert(r.toSeq === Seq(
      (1L, 1L, 10.0, 10.0), (1L, 2L, -25.0, 0.0), (1L, 3L, 5.0, 5.0)))
  }

  test("growthAccounting: new/retained/resurrected/churned ledger per day") {
    val Day = 86400L * 1000000
    // user 1 active days 1,2,4; user 2 active day 2 only
    val events = Seq(
      (1L, 1L, 1L * Day), (2L, 1L, 2L * Day), (3L, 1L, 4L * Day),
      (4L, 2L, 2L * Day))
      .toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.growthAccounting(events)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    assert(r(1L) === ((1L, 0L, 0L, 0L))) // u1 new
    assert(r(2L) === ((1L, 1L, 0L, 0L))) // u2 new, u1 retained
    assert(r(3L) === ((0L, 0L, 0L, 2L))) // both runs ended on day 2
    assert(r(4L) === ((0L, 0L, 1L, 0L))) // u1 resurrected after a gap
    assert(r(5L) === ((0L, 0L, 0L, 1L))) // u1's last run churns
    assert(r.size === 5)
  }

  test("markovTransitions: per-user sequences, exact conditional ratios") {
    val Day = 86400L * 1000000
    val events = Seq(
      (1L, 1L, 1L * Day, "a"), (2L, 1L, 2L * Day, "b"), (3L, 1L, 3L * Day, "a"),
      (4L, 2L, 1L * Day, "b"), (5L, 2L, 2L * Day, "a"))
      .toDF("event_id", "user_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000L).drop("ts_us")
    val r = Sessions.markovTransitions(events)
      .as[(String, String, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4, x._5)).toMap
    assert(r(("a", "b")) === ((1L, 1L, 1.0)))
    assert(r(("b", "a")) === ((2L, 2L, 1.0))) // cross-user counts pooled
    assert(r.size === 2)                      // no cross-user transition
  }

  test("classScatter: exact per-(label, dim) moments and variance") {
    val emb = Seq(
      (1L, Array(0.0f, 2.0f), 0), (2L, Array(2.0f, 2.0f), 0),
      (3L, Array(4.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.classScatter(emb)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4, x._5, x._6, x._7)).toMap
    assert(r((0L, 0L)) === ((2L, 2000000L, 4000000000000L, 1e6, 1e12)))
    assert(r((0L, 1L)) === ((2L, 4000000L, 8000000000000L, 2e6, 0.0)))
    assert(r((1L, 0L)) === ((1L, 4000000L, 16000000000000L, 4e6, 0.0)))
  }

  test("labelPropagationStep: neighbor majority, smallest-label ties, isolated keeps") {
    // path 1-2-3 with labels 0,1,1; node 4 isolated with label 2
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val labels = Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L))
      .toDF("node", "label")
    val r = ext.Components.labelPropagationStep(edges, labels)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    assert(r(1L) === ((0L, 1L, 1L, true)))  // sole neighbor 2 has label 1
    assert(r(2L) === ((1L, 0L, 1L, true)))  // tie {0:1, 1:1} → smallest 0
    assert(r(3L) === ((1L, 1L, 1L, false)))
    assert(r(4L) === ((2L, 2L, 0L, false))) // isolated: keeps, zero votes
  }

  test("gramPowerIteration: exact factored XᵀXv, never the Gram matrix") {
    // X = [[1,0],[1,1]] quantized ×1e6. s = (1e6, 2e6);
    // v1 = Xᵀ(X·1) = (1e6·1e6 + 1e6·2e6, 0 + 1e6·2e6) = (3e12, 2e12);
    // t = X·v1 = (3e18, 5e18); v2 = Xᵀt = (8e24, 5e24)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.gramPowerIteration(emb)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    val e8 = new java.math.BigDecimal("8000000000000000000000000").doubleValue
    val e5 = new java.math.BigDecimal("5000000000000000000000000").doubleValue
    assert(r.toSeq === Seq(
      (0L, 3000000000000L, e8, 1.0),
      (1L, 2000000000000L, e5, e5 / e8)))
  }

  test("equiDepthHistogram: near-equal bin mass, ordered extents, full cover") {
    val df = (1 to 64).map(v => ("g", v.toDouble)).toDF("g", "v")
    for (sort <- Seq(true, false)) { // window-sort and histogram cutpoints
      val r = ops.Percentiles.equiDepthHistogram(df, "g", "v", sort, bins = 4)
        .as[(String, Long, Long, Double, Double)].collect().sortBy(_._2)
      assert(r.map(_._2).toSeq === Seq(0L, 1L, 2L, 3L))
      assert(r.map(_._3).sum === 64L)
      // cutpoints at p∈{.25,.5,.75} of 1..64: 16.75, 32.5, 48.25 → bin
      // masses 16/16/16/16 and contiguous extents
      assert(r.map(_._3).toSeq === Seq(16L, 16L, 16L, 16L))
      assert(r(0)._4 === 1.0 && r(0)._5 === 16.0)
      assert(r(3)._4 === 49.0 && r(3)._5 === 64.0)
    }
  }

  test("standardizeDims: exact per-dimension z-scores; constant dim → null z") {
    import org.apache.spark.sql.functions.lit
    val emb = Seq(
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(2.0f, 1.0f)),
      (3L, Array(4.0f, 1.0f))).toDF("vec_id", "embedding")
    val r = ext.Similarity.standardizeDims(emb, lit(true))
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4)).toMap
    // dim 0 quantized: 0, 2e6, 4e6 → mu 2e6, sigma = sqrt(8/3)e6
    // (nΣx² − (Σx)²)/n² on exact ints: Σx = 6e6, Σx² = 20e12
    val sigma = math.sqrt((3.0 * 20e12 - 36e12) / 9.0)
    assert(r((1L, 0L))._1 == 0L && r((1L, 0L))._2.get === -2e6 / sigma)
    assert(r((2L, 0L))._2.get === 0.0)
    assert(r((3L, 0L))._2.get === 2e6 / sigma)
    // dim 1 is constant → sigma 0 → z null, not NaN/Inf
    assert(Seq(1L, 2L, 3L).forall(v => r((v, 1L))._2.isEmpty))
  }

  test("bigramNextToken: exact conditional probabilities and rank order") {
    val docs = Seq(
      (1L, "a b a b a c"),
      (2L, "a b x")).toDF("doc_id", "text")
    val r = ext.TextStats.bigramNextToken(docs, topPrev = 2, k = 2)
      .as[(String, Long, String, Long, Long, Double)].collect()
      .groupBy(_._1)
    // context 'a': 5 bigrams start elsewhere? bigrams: (a,b)x3,(b,a)x2,
    // (a,c),(a? ...) doc2: (a,b),(b,x) → a→b:3, a→c:1, b→a:2, b→x:1
    val a = r("a").sortBy(_._2)
    assert(a.map(x => (x._3, x._4, x._5)).toSeq === Seq(("b", 3L, 4L), ("c", 1L, 4L)))
    assert(a(0)._6 === 0.75 && a(1)._6 === 0.25)
    val b = r("b").sortBy(_._2)
    assert(b.map(x => (x._3, x._4, x._5)).toSeq === Seq(("a", 2L, 3L), ("x", 1L, 3L)))
  }
}
