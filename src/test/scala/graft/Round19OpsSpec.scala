package graft

import org.apache.spark.sql.functions._

/** Round-19 wave: incremental asset maintenance ([[ext.Assets.advance]])
  * and the lake-safe publication protocol. The invariants:
  * (1) an ADVANCED band/dhash/cluster asset is value-identical to the
  * from-scratch build on the grown corpus through a real parquet
  * round-trip — advance is an evaluation strategy, never a semantics
  * fork; (2) the IVF advance keeps the STANDING centroid geometry under
  * a loud drift guard and assigns the delta exactly as the builder
  * would; (3) the advance protocol prefers serve > advance > full-build
  * and never runs the arms it didn't take; (4) publication is atomic —
  * racing ensures on one path both serve a complete, digest-valid
  * asset; (5) a cached asset with a DRIFTED SCHEMA is a cache miss, not
  * an error (the round-18 ADVICE defect); (6) embeddingDigest is
  * position- and sign-sensitive (norm-preserving edits move it).
  */
class Round19OpsSpec extends SparkSuite {
  import spark.implicits._

  private def body(seed: Int): String =
    (0 until 160).map(i => ('a' + (i * (seed * 2 + 3) + i * i % 37) % 26)
      .toChar).mkString
  private def mk(rows: Seq[(Long, String)]) = rows
    .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  // standing corpus: a two-doc near-dup cluster {0,1}, an exact-copy
  // cluster {10,11}, and two singleton clusters {20}, {21} whose texts
  // share a chunk but sit BELOW the threshold (the bridge fixture)
  private val chunkP1 = body(31).take(110)
  private val chunkP2 = body(32).take(110)
  private val chunkS  = body(33).take(60)
  private def corpus0 = mk(Seq(
    (0L, body(1)), (1L, body(1) + "x"),
    (10L, body(2)), (11L, body(2)),
    (20L, chunkP1 + chunkS), (21L, chunkP2 + chunkS)))
  // delta: 100 = exact re-fetch of doc 0's text (joins cluster 0 at
  // guaranteed band identity), 102/103 = a novel exact-copy pair (new
  // cluster 102), 104 = the BRIDGE (shares most of its shingles with
  // both 20 and 21 — merges the two standing clusters), 105 = sub-5-char
  // (never shingles, fresh singleton)
  private def delta0 = mk(Seq(
    (100L, body(1)),
    (102L, body(9)), (103L, body(9)),
    (104L, chunkP1.take(55) + chunkP2.take(55) + chunkS),
    (105L, "abc")))
  private def grown = corpus0.unionByName(delta0)

  // bands = 8 (rows = 2) for the cluster tests: the bridge doc sits near
  // j ≈ 0.55 to each standing singleton, and two-hash bands make its
  // band-collision near-certain while leaving the 20↔21 pair (j ≈ 0.3)
  // below the verify threshold — the geometry knob a real pipeline tunes
  private val CK = 16; private val CB = 8; private val CN = 5
  private val CJ = 0.45

  test("advanceBandIndex: old ∪ delta rows == from-scratch build on the " +
    "grown corpus, through Assets.advance's parquet round-trip") {
    val d0 = ext.Assets.textDigest(corpus0)
    val d1 = ext.Assets.textDigest(grown)
    val name = assetName("bandadv")
    val fam = ext.Dedup.bandIndex(16, 4, 3)
    ext.Assets.ensure(spark, name, fam, d0)(
      ext.Dedup.buildBandIndex(corpus0, k = 16, bands = 4, n = 3))
    val advanced = ext.Assets.advance(spark, name, fam, d0, d1)(
      old => ext.Dedup.advanceBandIndex(old, delta0, k = 16, bands = 4,
        n = 3))(
      sys.error("old asset is fresh — advance must not full-build"))
    val scratch = ext.Dedup.buildBandIndex(grown, k = 16, bands = 4, n = 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("codes"), col("band_sigs"))
      .as[(Long, Seq[Long], Seq[String])].collect()
      .map(t => (t._1, t._2.toList, t._3.toList)).toSet
    assert(rows(advanced) == rows(scratch) && rows(scratch).size >= 10,
      "advanced band index must equal the from-scratch build")
    // stamped + geometry carried: the fresh gate accepts it as-is
    assert(ext.Dedup.minhashNewVsIndex(mk(Seq((900L, body(2)))),
      ext.Assets.requireFresh(advanced, fam, d1), k = 16, bands = 4, n = 3)
      .as[(Long, Long, Double)].collect()
      .exists { case (n, c, j) => n == 900L && c == 10L && j == 1.0 })
    // delta re-containing an indexed id: loud, names the id
    val eDup = intercept[IllegalArgumentException] {
      ext.Dedup.advanceBandIndex(
        ext.Dedup.buildBandIndex(corpus0, k = 16, bands = 4, n = 3),
        corpus0.limit(1), k = 16, bands = 4, n = 3).collect()
    }
    assert(eDup.getMessage.contains("re-contains"), eDup.getMessage)
    // geometry-mismatched advance: loud before any union
    val eGeom = intercept[IllegalArgumentException] {
      ext.Dedup.advanceBandIndex(
        ext.Dedup.buildBandIndex(corpus0, k = 16, bands = 4, n = 3),
        delta0, k = 16, bands = 8, n = 3)
    }
    assert(eGeom.getMessage.contains("bands"), eGeom.getMessage)
  }

  test("advanceDhashIndex: old ∪ delta rows == from-scratch build on the " +
    "grown corpus") {
    val advanced = ext.Dedup.advanceDhashIndex(
      ext.Dedup.buildDhashIndex(corpus0), delta0)
    val scratch = ext.Dedup.buildDhashIndex(grown)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(rows(advanced) == rows(scratch) && rows(scratch).nonEmpty,
      "advanced dhash index must equal the from-scratch build")
    // the sub-raster delta doc (3 chars < 72) is in NEITHER — same rule
    assert(!rows(advanced).exists(_._1 == 105L))
  }

  test("advanceClusterMap: super-node CC == from-scratch buildClusterMap " +
    "on the grown corpus; a delta doc MERGES two standing clusters") {
    val oldIdx = ext.Dedup.buildBandIndex(corpus0, CK, CB, CN)
    val oldMap = ext.Dedup.buildClusterMap(corpus0, CK, CB, CN, CJ)
    // fixture sanity: 20 and 21 are SEPARATE standing clusters
    val before = oldMap.as[(Long, Long)].collect().toMap
    assert(before(20L) != before(21L),
      s"fixture: 20/21 must start separate, got $before")
    val advanced = ext.Dedup.advanceClusterMap(oldMap, oldIdx, delta0,
      CK, CB, CN, CJ)
    val scratch = ext.Dedup.buildClusterMap(grown, CK, CB, CN, CJ)
    val a = advanced.as[(Long, Long)].collect().toMap
    val s = scratch.as[(Long, Long)].collect().toMap
    assert(a == s, s"advanced map must equal from-scratch:\n  adv: $a" +
      s"\n  new: $s")
    // the bridge fired: 20 and 21 now share a cluster, labeled by the
    // global min member id (20)
    assert(a(20L) == a(21L) && a(20L) == 20L && a(104L) == 20L,
      s"bridge must merge standing clusters 20/21: $a")
    // exact re-fetch inherits cluster 0; the novel exact-copy pair opens
    // cluster 102; the sub-shingle doc stays a fresh singleton
    assert(a(100L) == 0L && a(102L) == 102L && a(103L) == 102L &&
      a(105L) == 105L, s"admission rules must hold: $a")
    // untouched standing cluster keeps its id
    assert(a(10L) == before(10L) && a(11L) == before(11L))
    // mis-parameterized advance: loud (map carries its geometry)
    val eJ = intercept[IllegalArgumentException] {
      ext.Dedup.advanceClusterMap(oldMap, oldIdx, delta0, CK, CB, CN, 0.9)
    }
    assert(eJ.getMessage.contains("minJaccard"), eJ.getMessage)
  }

  test("advanceIvfIndex: standing rows untouched, delta assigned to the " +
    "STANDING centroids exactly; drift + duplicate guards are loud") {
    val rnd = new scala.util.Random(19)
    def vecs(ids: Range) = ids.map(i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f), s"l${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    val corpus = vecs(0 until 60)
    val delta = vecs(100 until 112)
    val old = ext.Similarity.buildIvfIndex(corpus)
    val advanced = ext.Similarity.advanceIvfIndex(old, delta)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("q"), col("vn"), col("centroid_id"),
        col("is_centroid"))
      .as[(Long, Seq[Long], Double, Long, Boolean)].collect()
      .map(t => t.copy(_2 = t._2.toList)).toSet
    val oldRows = rows(old)
    val advRows = rows(advanced)
    // standing rows ride through bit-identically; no delta centroids
    assert(advRows.filter(_._1 < 100L) == oldRows)
    assert(advRows.count(_._1 >= 100L) == 12 &&
      !advRows.exists(r => r._1 >= 100L && r._5))
    // independent replay of the delta assignment: brute argmax over the
    // standing centroid table with the builder's exact tie-break
    val cents = old.filter(col("is_centroid"))
      .select(col("vec_id"), col("q"), col("vn"))
      .as[(Long, Seq[Long], Double)].collect()
    for ((vid, q, vn, cid, _) <- advRows.toSeq.filter(_._1 >= 100L)) {
      val best = cents.map { case (cId, cv, cn) =>
        val dot = q.zip(cv).map { case (x, y) => x * y }.sum
        (dot.toDouble / (vn * cn), cId)
      }.minBy { case (ccos, cId) => (-ccos, cId) }
      assert(best._2 == cid, s"delta vec $vid must assign to ${best._2}")
    }
    // drift guard: a delta heavier than maxDeltaFrac × standing is loud
    val eDrift = intercept[IllegalArgumentException] {
      ext.Similarity.advanceIvfIndex(old, vecs(200 until 300),
        maxDeltaFrac = 0.5)
    }
    assert(eDrift.getMessage.contains("drift"), eDrift.getMessage)
    // duplicate vec_id: loud
    val eDup = intercept[IllegalArgumentException] {
      ext.Similarity.advanceIvfIndex(old, corpus.limit(1))
    }
    assert(eDup.getMessage.contains("re-contains"), eDup.getMessage)
  }

  test("Assets.advance protocol: serve > advance > full-build, and the " +
    "untaken arms never run") {
    val docs = corpus0
    val d0 = ext.Assets.textDigest(docs)
    val d1 = ext.Assets.textDigest(grown)
    val name = assetName("adv")
    val fam = ext.Dedup.bandIndex(16, 4, 3)
    ext.Assets.ensure(spark, name, fam, d0)(
      ext.Dedup.buildBandIndex(docs, k = 16, bands = 4, n = 3))
    // old asset fresh → advance arm; full-build arm poisoned
    val adv = ext.Assets.advance(spark, name, fam, d0, d1)(
      old => ext.Dedup.advanceBandIndex(old, delta0, k = 16, bands = 4,
        n = 3))(sys.error("must advance, not full-build"))
    assert(adv.schema("band_sigs").metadata
      .getLong(ext.Assets.DigestKey) == d1)
    // published → serve; BOTH arms poisoned
    val served = ext.Assets.advance(spark, name, fam, d0, d1)(
      _ => sys.error("must serve, not advance"))(
      sys.error("must serve, not full-build"))
    assert(served.count() == adv.count())
    // old asset STALE (stamped d0, found where d0 + 1 belongs) →
    // full-build; advance arm poisoned
    val name2 = assetName("adv2")
    copyTree(ext.Assets.path(name, fam, d0),
      ext.Assets.path(name2, fam, d0 + 1))
    val fb = ext.Assets.advance(spark, name2, fam, d0 + 1, d1)(
      _ => sys.error("stale base must not be advanced"))(
      ext.Dedup.buildBandIndex(grown, k = 16, bands = 4, n = 3))
    assert(fb.count() == adv.count(),
      "full-build fallback must produce the same index")
  }

  test("Assets.ensure: racing publishers on ONE path both serve a " +
    "complete digest-valid asset; a schema-drifted cached asset is a " +
    "cache miss, not an error") {
    val docs = corpus0
    val d0 = ext.Assets.textDigest(docs)
    val name = assetName("race")
    val fam = ext.Dedup.bandIndex(16, 4, 3)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def one() = Future {
      ext.Assets.ensure(spark, name, fam, d0) {
        builds.incrementAndGet()
        ext.Dedup.buildBandIndex(docs, k = 16, bands = 4, n = 3)
      }
    }
    val Seq(r1, r2) = Await.result(Future.sequence(Seq(one(), one())), 120.seconds)
    val want = ext.Dedup.buildBandIndex(docs, k = 16, bands = 4, n = 3)
      .count()
    assert(r1.count() == want && r2.count() == want,
      "both racers must serve the complete asset — no partial read")
    assert(r1.schema("band_sigs").metadata
      .getLong(ext.Assets.DigestKey) == d0)
    assert(builds.get() >= 1, "at least one build ran")
    // schema drift: a cached parquet at the path that LACKS the key
    // column (builder output-schema change under an unchanged key) must
    // REBUILD — the round-18 form threw IllegalArgumentException here
    val drifted = assetName("drift")
    spark.range(5).toDF("not_the_key").write
      .parquet(ext.Assets.path(drifted, fam, d0))
    val fixed = ext.Assets.ensure(spark, drifted, fam, d0)(
      ext.Dedup.buildBandIndex(docs, k = 16, bands = 4, n = 3))
    assert(fixed.count() == want && fixed.schema("band_sigs").metadata
      .getLong(ext.Assets.DigestKey) == d0)
    // an asset directory WITHOUT the committer's _SUCCESS marker (a
    // write in flight or a mid-commit kill) is invisible to readers
    val partial = assetName("partial")
    val partialPath = ext.Assets.path(partial, fam, d0)
    spark.range(3).toDF("x").write.parquet(partialPath)
    val fs = new org.apache.hadoop.fs.Path(partialPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(partialPath, "_SUCCESS"), false)
    val rebuilt = ext.Assets.ensure(spark, partial, fam, d0)(
      ext.Dedup.buildBandIndex(docs, k = 16, bands = 4, n = 3))
    assert(rebuilt.count() == want)
  }

  test("embeddingDigest: position- and sign-sensitive (norm-preserving " +
    "edits move it) while staying layout-invariant") {
    val rnd = new scala.util.Random(191)
    val emb = (0L until 40L).map(i =>
        (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f), s"l${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    val d = ext.Similarity.embeddingDigest(emb)
    assert(d == ext.Similarity.embeddingDigest(emb.repartition(5)))
    assert(d == ext.Similarity.embeddingDigest(
      emb.orderBy(col("vec_id").desc)))
    // component permutation preserves q·q — round 18's digest passed it
    val permuted = emb.withColumn("embedding",
      when(col("vec_id") === 7L, reverse(col("embedding")))
        .otherwise(col("embedding")))
    assert(d != ext.Similarity.embeddingDigest(permuted),
      "a permuted vector must move the digest")
    // sign flip preserves q·q too
    val flipped = emb.withColumn("embedding",
      when(col("vec_id") === 7L, transform(col("embedding"), v => -v))
        .otherwise(col("embedding")))
    assert(d != ext.Similarity.embeddingDigest(flipped),
      "a sign-flipped vector must move the digest")
  }

  test("q276–q279 registry: advance driver rows share the from-scratch " +
    "oracles verbatim (IVF excepted by contract)") {
    val o = SparkEntry.oracleSql
    assert(o("q276_band_index_advance") == o("q267_band_index_gate"))
    assert(o("q277_cluster_map_advance") == o("q264_leakage_safe_split"))
    assert(o("q279_dhash_index_advance") == o("q275_dhash_index_versioned"))
    // IVF advance keeps the standing geometry: its oracle samples
    // centroids from the standing corpus, NOT the grown one
    assert(o("q278_ivf_index_advance") != o("q268_ivf_index_probe"))
    assert(o("q278_ivf_index_advance").contains("vec_id % 4 <> 3"))
  }

  test("collapseGateReplayBy: K=3 skewed batches — state admitted in " +
    "batch 0 gates batch 2 across an interposed batch that never " +
    "touches the group; bit-equal to a real 3-batch streaming run") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the q281 key: batch = (doc_id div 64) mod 3 — id blocks, so
    // batch 0 = ids 192..255, batch 1 = 64..127, batch 2 = 128..191,
    // and batch order is NOT id order (the carry becomes observable)
    val rows = Seq(
      (200L, "zeta"), (130L, "zeta"),             // b0 → b2, no b1 touch
      (201L, "eta"), (66L, "eta"), (131L, "eta"), // all three batches
      (67L, "theta"), (132L, "theta"),            // b1 → b2
      (68L, "iota"))                              // singleton
    val docs = mk(rows.map { case (id, t) => (id, t + body(5)) })
    val key = pmod(expr("doc_id div 64"), lit(3L))
    val replay = streaming.StreamOps.collapseGateReplayBy(docs, key, 3)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(replay == Set(
      (200L, 200L, true), (201L, 201L, true),       // batch 0 admits
      (66L, 66L, false),                            // standing eta gate
      (67L, 67L, true), (68L, 68L, true),
      (130L, 130L, false), // ZETA: gated by the batch-0 rep across TWO
                           // boundaries — batch 1 never saw the group;
                           // rep drops to the new global min
      (131L, 66L, false), (132L, 67L, false)), s"replay: $replay")
    // the single-batch (global id order) shape differs: 130 < 200 wins
    val single = streaming.StreamOps.collapseGateStream(docs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(single != replay && single((130L, 130L, true)),
      s"the >=2-boundary carry must be observable: $single")
    // bit-equality to a REAL 3-micro-batch run through the state store
    val src = MemoryStream[(Long, String)]
    val q = streaming.StreamOps.collapseGateStream(
        src.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("cgskew19").start()
    val byBatch = rows.map { case (id, t) => (id, t + body(5)) }
      .groupBy { case (id, _) => (id / 64) % 3 }
    val streamed = try {
      (0L to 2L).foreach { b =>
        src.addData(byBatch.getOrElse(b, Nil): _*); q.processAllAvailable()
      }
      spark.table("cgskew19").as[(Long, Long, Boolean)].collect().toSet
    } finally q.stop()
    assert(streamed == replay,
      s"replay must match the state-store run:\n  stream: $streamed" +
        s"\n  replay: $replay")
  }

  test("dedupWithinWatermarkReplay: late drop, horizon gating across " +
    "two boundaries, expiry, re-admission — bit-equal to a real " +
    "3-batch dropDuplicatesWithinWatermark run") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val S = 1000000L // 1s in µs; delay = 10s
    // (event_id, user_id, event_type, ts_us, batch); <= 1 row per key
    // per batch (Spark leaves same-key same-batch winner choice to
    // partition order; the replay pins it — unobservable here)
    val rows = Seq(
      (1L, 1L, "a", 5 * S, 0L),   // admit; expiry 15s
      (2L, 2L, "b", 8 * S, 0L),   // admit; expiry 18s
      (3L, 9L, "z", 30 * S, 0L),  // admit; expiry 40s; wm after b0 = 20s
      (4L, 1L, "a", 6 * S, 1L),   // LATE: 6s <= wm 20s → dropped
      (5L, 3L, "c", 25 * S, 1L),  // admit; expiry 35s
      (6L, 2L, "b", 22 * S, 1L),  // RE-ADMIT: (2,b) expired at wm 20s
      (7L, 8L, "y", 40 * S, 1L),  // admit; wm after b1 = 30s
      (8L, 3L, "c", 33 * S, 2L),  // dup: (3,c) alive (35s > 30s) → drop
      (9L, 9L, "z", 31 * S, 2L),  // dup gated by BATCH-0 state across
                                  // two boundaries (b1 never saw (9,z))
      (10L, 1L, "a", 32 * S, 2L)) // re-admit: (1,a) expired long ago
    val events = rows.toDF("event_id", "user_id", "event_type", "ts_us",
      "batch")
    val replay = streaming.StreamOps.dedupWithinWatermarkReplay(
        events, col("batch"), batches = 3, delayMs = 10000L)
      .select("event_id").as[Long].collect().toSet
    assert(replay == Set(1L, 2L, 3L, 5L, 6L, 7L, 10L), s"replay: $replay")
    // drop batch 0 and the 2-boundary gate vanishes: event 9 admits —
    // the output DEPENDS on state carried across >= 2 boundaries
    val noB0 = streaming.StreamOps.dedupWithinWatermarkReplay(
        events.filter(col("batch") >= 1), col("batch") - 1, batches = 2,
        delayMs = 10000L)
      .select("event_id").as[Long].collect().toSet
    assert(noB0.contains(9L), s"without batch 0: $noB0")
    // bit-equality to a REAL 3-micro-batch dropDuplicatesWithinWatermark
    // run (the probed semantics: strict late rule, strict eviction, no
    // expiry extension by dropped duplicates)
    val src = MemoryStream[(Long, Long, String, Long)]
    val q = src.toDS()
      .toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "10 seconds")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .writeStream.outputMode("append").format("memory")
      .queryName("ddwm19").start()
    val streamed = try {
      (0L to 2L).foreach { b =>
        src.addData(rows.filter(_._5 == b)
          .map { case (e, u, t, ts, _) => (e, u, t, ts) }: _*)
        q.processAllAvailable()
      }
      spark.table("ddwm19").select("event_id").as[Long].collect().toSet
    } finally q.stop()
    assert(streamed == replay,
      s"replay must match the state-store run:\n  stream: $streamed" +
        s"\n  replay: $replay")
  }

  test("q282 with adaptive execution off returns the default session's " +
    "rows") {
    // batch 0's empty state once shared the batch's own lineage, and the
    // non-adaptive planner failed to resolve the anti-join's conflicting
    // references; the conf is set on a new session, never on the shared one
    val q282 = SparkEntry.queries("q282_dedup_watermark_replay")
    def rows(s: org.apache.spark.sql.SparkSession): Seq[String] =
      q282(s, sf).collect().map(_.mkString("|")).toSeq.sorted
    val expected = rows(spark)
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    assert(expected.nonEmpty)
    assert(rows(off) == expected)
  }
}
