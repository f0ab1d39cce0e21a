package graft

import org.apache.spark.sql.functions._

/** Round-18 wave: the Assets versioning seam — standing indexes persisted
  * once per (corpus digest, geometry), probed many times behind a LOUD
  * freshness gate. The invariants: (1) the versioned path is bit-equal to
  * the recompute form through a real parquet round-trip, (2) a stale or
  * unstamped asset throws before any plan runs, (3) [[ext.Assets.ensure]]
  * serves a fresh cached asset without rebuilding and rebuilds on
  * mismatch, (4) digests are order/layout-invariant but content- and
  * pairing-sensitive.
  */
class Round18OpsSpec extends SparkSuite {
  import spark.implicits._

  private def body(seed: Int): String =
    (0 until 160).map(i => ('a' + (i * (seed * 2 + 3) + i * i % 37) % 26)
      .toChar).mkString
  private def mk(rows: Seq[(Long, String)]) = rows
    .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    .toDF("doc_id", "text", "lang", "source", "n_chars")
  private def corpusFixture = mk(Seq(
    (0L, body(1)), (1L, body(1) + "x"),
    (10L, body(2)), (11L, body(2)), (12L, body(2)),
    (20L, body(3)), (21L, body(4))))
  private def freshFixture = mk(Seq(
    (100L, body(1)), (101L, body(2) + "zz"), (102L, body(9))))

  test("Assets.textDigest: layout-invariant (repartition/order can't move " +
    "it) but content- and pairing-sensitive") {
    val docs = corpusFixture
    val d = ext.Assets.textDigest(docs)
    assert(d == ext.Assets.textDigest(docs.repartition(7)))
    assert(d == ext.Assets.textDigest(docs.orderBy(col("doc_id").desc)))
    // content sensitivity: one flipped char moves the digest
    val edited = mk(Seq((0L, body(1) + "!"), (1L, body(1) + "x"),
      (10L, body(2)), (11L, body(2)), (12L, body(2)),
      (20L, body(3)), (21L, body(4))))
    assert(d != ext.Assets.textDigest(edited), "content edit must move it")
    // pairing sensitivity (the q222 non-linear-mix property): swapping
    // the texts of two ids keeps the addend MULTISET but not the digest
    val swapped = mk(Seq((0L, body(1) + "x"), (1L, body(1)),
      (10L, body(2)), (11L, body(2)), (12L, body(2)),
      (20L, body(3)), (21L, body(4))))
    assert(d != ext.Assets.textDigest(swapped), "pairing swap must move it")
    // empty corpus digests to the 0 sentinel, never NPEs
    assert(ext.Assets.textDigest(docs.filter(lit(false))) == 0L)
  }

  test("band index versioned: ensure persists once, probe is bit-equal " +
    "to the recompute gate, stale/unstamped probes fail loudly") {
    val corpus = corpusFixture
    val nd = freshFixture
    val digest = ext.Assets.textDigest(corpus)
    val name = assetName("bandidx")
    val fam = ext.Dedup.bandIndex(16, 4, 3)
    val idx = ext.Assets.ensure(spark, name, fam, digest)(
      ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 3))
    // the served frame is the PERSISTED parquet, stamped
    assert(idx.schema("band_sigs").metadata.getLong(
      ext.Assets.DigestKey) == digest)
    val viaAsset = ext.Dedup.minhashNewVsIndex(nd,
        ext.Assets.requireFresh(idx, fam, digest), k = 16, bands = 4, n = 3)
      .as[(Long, Long, Double)].collect().toSet
    val direct = ext.Dedup
      .minhashNewVsCorpus(nd, corpus, k = 16, bands = 4, n = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaAsset == direct && direct.nonEmpty,
      s"versioned gate must be bit-equal:\n  asset : $viaAsset" +
        s"\n  direct: $direct")
    // second ensure with the same digest REUSES the parquet (no rebuild):
    // serve it a poisoned builder — reuse means the builder never runs
    val idxCount = idx.count()
    val reused = ext.Assets.ensure(spark, name, fam, digest)(
      sys.error("ensure must not rebuild a fresh asset"))
    assert(reused.count() == idxCount)
    // STALE: corpus moved on (one new doc) → new digest, loud failure
    val digest2 = ext.Assets.textDigest(corpus.union(freshFixture.limit(1)))
    assert(digest2 != digest, "fixture digests must differ")
    val eStale = intercept[IllegalArgumentException] {
      ext.Assets.requireFresh(idx, fam, digest2)
    }
    assert(eStale.getMessage.contains("STALE"), eStale.getMessage)
    // UNSTAMPED: a plain (unversioned) index cannot be validated
    val eBare = intercept[IllegalArgumentException] {
      ext.Assets.requireFresh(
        ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 3), fam,
        digest)
    }
    assert(eBare.getMessage.contains(ext.Assets.DigestKey), eBare.getMessage)
    // and ensure() REBUILDS a stale asset: the old version's files sit at
    // the new digest's path, stamped with the old digest
    copyTree(ext.Assets.path(name, fam, digest),
      ext.Assets.path(name, fam, digest2))
    val rebuilt = ext.Assets.ensure(spark, name, fam, digest2)(
      ext.Dedup.buildBandIndex(corpus.union(freshFixture.limit(1)),
        k = 16, bands = 4, n = 3))
    assert(rebuilt.schema("band_sigs").metadata.getLong(
      ext.Assets.DigestKey) == digest2)
    assert(rebuilt.count() == idxCount + 1)
  }

  test("cluster map + split versioned: incrementalSplitFresh bit-equal to " +
    "incrementalSplit through persisted assets; stale map fails loudly") {
    val corpus = corpusFixture
    val nd = freshFixture
    val digest = ext.Assets.textDigest(corpus)
    val name = assetName("split18")
    val mapFam = ext.Dedup.clusterMap(16, 4, 5, 0.5)
    val idx = ext.Assets.requireFresh(
      ext.Assets.ensure(spark, name, ext.Dedup.bandIndex(16, 4, 5), digest)(
        ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 5)),
      ext.Dedup.bandIndex(16, 4, 5), digest)
    val cmap = ext.Assets.requireFresh(
      ext.Assets.ensure(spark, name, mapFam, digest)(
        ext.Dedup.buildClusterMap(corpus)), mapFam, digest)
    val viaAssets = ext.Dedup.incrementalSplitIndexed(nd, idx, cmap)
      .as[(Long, Long, String, Boolean)].collect().toSet
    val direct = ext.Dedup.incrementalSplit(nd, corpus)
      .as[(Long, Long, String, Boolean)].collect().toSet
    assert(viaAssets == direct && direct.exists(_._4),
      s"versioned split must be bit-equal and inherit:\n  asset : " +
        s"$viaAssets\n  direct: $direct")
    // geometry survives the stamp: the round-17 guard still fires on a
    // mis-parameterized probe of the STAMPED map
    val eGeom = intercept[IllegalArgumentException] {
      ext.Dedup.incrementalSplitIndexed(nd, idx, cmap, minJaccard = 0.9)
    }
    assert(eGeom.getMessage.contains("minJaccard"), eGeom.getMessage)
    // stale cluster map: loud (the split-drift failure mode)
    val eStale = intercept[IllegalArgumentException] {
      ext.Assets.requireFresh(cmap, mapFam, digest + 1)
    }
    assert(eStale.getMessage.contains("STALE"), eStale.getMessage)
  }

  test("IVF versioned: embeddingDigest layout-invariant/content-sensitive; " +
    "ivfTopKIndexedFresh bit-equal to ivfTopK; stale index fails loudly") {
    val rnd = new scala.util.Random(18)
    val emb = (0L until 60L).map(i =>
        (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f), s"l${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    val d = ext.Similarity.embeddingDigest(emb)
    assert(d == ext.Similarity.embeddingDigest(emb.repartition(5)))
    val bumped = emb.withColumn("embedding",
      when(col("vec_id") === 7L,
        transform(col("embedding"), v => v * 2f)).otherwise(col("embedding")))
    assert(d != ext.Similarity.embeddingDigest(bumped))
    val fam = ext.Similarity.ivfIndex(0)
    val idx = ext.Assets.ensure(spark, assetName("ivf18"), fam, d)(
      ext.Similarity.buildIvfIndex(emb))
    val pred = col("vec_id") % 10 === 0
    val viaAsset = ext.Similarity.ivfTopKIndexed(
        ext.Assets.requireFresh(idx, fam, d), pred)
      .as[(Long, Long, Long, Double)].collect().toSet
    val direct = ext.Similarity.ivfTopK(emb, pred)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaAsset == direct && direct.nonEmpty,
      s"versioned IVF probe must be bit-equal:\n  asset : $viaAsset" +
        s"\n  direct: $direct")
    val eStale = intercept[IllegalArgumentException] {
      ext.Assets.requireFresh(idx, fam, d + 1)
    }
    assert(eStale.getMessage.contains("STALE"), eStale.getMessage)
  }

  test("Assets.path: a geometry change moves the path, the same (name, " +
    "family, digest) reuses the warm asset") {
    val corpus = corpusFixture
    val digest = ext.Assets.textDigest(corpus)
    val name = assetName("path18")
    val b3 = ext.Dedup.bandIndex(16, 4, 3)
    val b5 = ext.Dedup.bandIndex(16, 4, 5)
    // two geometries of one family over one digest: two paths
    assert(ext.Assets.path(name, b3, digest) !=
      ext.Assets.path(name, b5, digest))
    assert(ext.Assets.path(name, ext.Dedup.clusterMap(16, 4, 5, 0.5), digest)
      != ext.Assets.path(name, ext.Dedup.clusterMap(16, 4, 5, 0.9), digest))
    // the same triple, declared afresh: one path, served warm
    assert(ext.Assets.path(name, b3, digest) ==
      ext.Assets.path(name, ext.Dedup.bandIndex(16, 4, 3), digest))
    val built = ext.Assets.ensure(spark, name, b3, digest)(
      ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 3))
    val warm = ext.Assets.ensure(spark, name, ext.Dedup.bandIndex(16, 4, 3),
      digest)(sys.error("a warm asset must be served, not rebuilt"))
    assert(warm.count() == built.count())
    // the other geometry is another asset: built, not served b3's rows
    var builds = 0
    val other = ext.Assets.ensure(spark, name, b5, digest) {
      builds += 1
      ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 5)
    }
    assert(builds == 1 && other.schema("band_sigs").metadata.getLong("n") == 5)
  }

  test("q271/q272/q273 registry: versioned driver rows share their " +
    "unversioned twins' oracle SQL verbatim") {
    val o = SparkEntry.oracleSql
    assert(o("q271_band_index_versioned") == o("q267_band_index_gate"))
    assert(o("q272_split_assets_versioned") ==
      o("q270_incremental_split_indexed"))
    assert(o("q273_ivf_index_versioned") == o("q268_ivf_index_probe"))
  }

  test("dhash index versioned: probe bit-equal to dhashNewVsCorpus " +
    "through a persisted asset; stale/unstamped/alien-raster fail loudly") {
    val corpus = corpusFixture
    val nd = freshFixture
    val digest = ext.Assets.textDigest(corpus)
    val fam = ext.Dedup.dhashIndex
    val idx = ext.Assets.ensure(spark, assetName("dh18"), fam, digest)(
      ext.Dedup.buildDhashIndex(corpus))
    val viaAsset = ext.Dedup.dhashNewVsIndex(nd,
        ext.Assets.requireFresh(idx, fam, digest))
      .as[(Long, Long, Long)].collect().toSet
    val direct = ext.Dedup.dhashNewVsCorpus(nd, corpus)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaAsset == direct && direct.nonEmpty,
      s"versioned dhash gate must be bit-equal:\n  asset : $viaAsset" +
        s"\n  direct: $direct")
    // the exact copy (100 ~ 0) gates at Hamming 0
    assert(direct.exists { case (n, c, h) => n == 100L && c == 0L && h == 0L },
      s"exact copy must gate at distance 0: $direct")
    val eStale = intercept[IllegalArgumentException] {
      ext.Assets.requireFresh(idx, fam, digest + 1)
    }
    assert(eStale.getMessage.contains("STALE"), eStale.getMessage)
    // unstamped plain band frame: no digest metadata
    val eBare = intercept[IllegalArgumentException] {
      ext.Assets.requireFresh(ext.Dedup.buildDhashIndex(corpus), fam, digest)
    }
    assert(eBare.getMessage.contains(ext.Assets.DigestKey), eBare.getMessage)
    // a frame with NO raster-geometry metadata at all (a foreign writer):
    // the geometry guard fires before any band value is compared
    val eGeom = intercept[IllegalArgumentException] {
      ext.Dedup.dhashNewVsIndex(nd, ext.Dedup.dhashTextBands(corpus))
    }
    assert(eGeom.getMessage.contains("raster-geometry"), eGeom.getMessage)
  }

  test("asset-fed gate plans are index-read-bound: the corpus parquet is " +
    "never scanned, only the persisted assets and the new batch") {
    // corpus lands as REAL parquet (so a text scan would be visible as a
    // FileScan of its path), assets are built once and persisted
    val corpusDir = java.nio.file.Files
      .createTempDirectory("gr18corpusXYZ").toString
    corpusFixture.write.mode("overwrite").parquet(s"$corpusDir/docs.parquet")
    val corpus = spark.read.parquet(s"$corpusDir/docs.parquet")
    val digest = ext.Assets.textDigest(corpus)
    val idx = ext.Assets.ensure(spark, assetName("gr18idxXYZ"),
      ext.Dedup.bandIndex(16, 4, 5), digest)(
      ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 5))
    val cmap = ext.Assets.ensure(spark, assetName("gr18mapXYZ"),
      ext.Dedup.clusterMap(16, 4, 5, 0.5), digest)(
      ext.Dedup.buildClusterMap(corpus))
    val gate = ext.Dedup.incrementalSplitIndexed(freshFixture, idx, cmap)
    gate.collect() // materialize so AQE settles the final plan
    // every FileScan in the gate plan reads an ASSET, never the corpus
    // (scan locations via the formatted explain — AQE nests the physical
    // scans inside query stages, so leaf-collection misses them)
    val p = gate.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Scan parquet"), s"expected parquet scans in:\n$p")
    assert(p.contains("gr18idxXYZ") && p.contains("gr18mapXYZ"),
      s"gate must read both persisted assets:\n$p")
    assert(!p.contains("gr18corpusXYZ"),
      s"gate must NEVER rescan corpus text — the index-read-bound " +
        s"contract:\n$p")
  }

  test("collapseGateReplay: bit-equal to a REAL 2-micro-batch streaming " +
    "run with the same batch assignment; result depends on the carry") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // duplicate groups SPANNING the parity boundary, both directions:
    // text A ids {2,3} (original in batch 0), text B ids {1,4} (the
    // GLOBALLY minimal id arrives in the LATER batch), singleton {6}
    val rows = Seq((2L, "alpha"), (3L, "alpha"), (1L, "beta"),
      (4L, "beta"), (6L, "gamma"))
    val docs = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val replay = streaming.StreamOps.collapseGateReplay(docs, batches = 2)
      .as[(Long, Long, Boolean)].collect().toSet
    // hand-computed: batch 0 = {2,4,6}, batch 1 = {1,3}
    assert(replay == Set(
      (2L, 2L, true),   // alpha admitted in batch 0
      (3L, 2L, false),  // later-batch copy → standing rep, never first
      (4L, 4L, true),   // beta admitted in batch 0 under the LARGER id
      (1L, 1L, false),  // smaller id arrives later: not first, rep drops
      (6L, 6L, true)), s"replay: $replay")
    // ...which is NOT the single-batch (global-order) q269 shape
    val single = streaming.StreamOps.collapseGateStream(docs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(single != replay && single((1L, 1L, true)),
      s"the carry must be observable: $single")
    // degenerate replay (one batch) IS the single-batch shape
    assert(streaming.StreamOps.collapseGateReplay(docs, batches = 1)
      .as[(Long, Long, Boolean)].collect().toSet == single)
    // and the replay equals a REAL streaming run fed the same two
    // micro-batches through the state store
    val src = MemoryStream[(Long, String)]
    val q = streaming.StreamOps.collapseGateStream(
        src.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("cgreplay18").start()
    val streamed = try {
      Seq(rows.filter(_._1 % 2 == 0), rows.filter(_._1 % 2 == 1))
        .foreach { b => src.addData(b: _*); q.processAllAvailable() }
      spark.table("cgreplay18").as[(Long, Long, Boolean)].collect().toSet
    } finally q.stop()
    assert(streamed == replay,
      s"replay must match the state-store run:\n  stream: $streamed" +
        s"\n  replay: $replay")
  }
}
