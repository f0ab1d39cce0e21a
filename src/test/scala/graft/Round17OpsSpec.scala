package graft

import org.apache.spark.sql.functions._

/** Round-17 wave: the split family fed from PERSISTED standing assets
  * (cluster map + band index), the cluster-map geometry guards, and the
  * Pin release lifecycle. Index-fed paths are proven bit-equal to the
  * recompute forms THROUGH real parquet round-trips — structural equality
  * in one plan would not catch a field (or its metadata) that doesn't
  * survive the writer.
  */
class Round17OpsSpec extends SparkSuite {
  import spark.implicits._

  // Fixture (the Round16OpsSpec family): near-dup groups with exact
  // multiplicity + singletons; long bodies so 5-gram Jaccard separates
  // groups cleanly.
  private def body(seed: Int): String =
    (0 until 160).map(i => ('a' + (i * (seed * 2 + 3) + i * i % 37) % 26)
      .toChar).mkString
  private def mk(rows: Seq[(Long, String)]) = rows
    .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    .toDF("doc_id", "text", "lang", "source", "n_chars")
  private def corpusFixture = mk(Seq(
    (0L, body(1)), (1L, body(1) + "x"),                    // group A
    (10L, body(2)), (11L, body(2)), (12L, body(2)),        // group B (exact ×3)
    (20L, body(3)), (21L, body(4))))                       // singletons
  private def freshFixture = mk(Seq(
    (100L, body(1)),        // exact copy of corpus doc 0 → inherits A
    (101L, body(2) + "zz"), // near-edit of group B → inherits B
    (102L, body(9))))       // stranger → own singleton cluster

  private def writeRead(df: org.apache.spark.sql.DataFrame,
                        tag: String): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    df.write.mode("overwrite").parquet(s"$dir/$tag.parquet")
    spark.read.parquet(s"$dir/$tag.parquet")
  }

  test("buildClusterMap + leakageSafeSplitIndexed: bit-equal to " +
    "leakageSafeSplit through a real parquet round-trip") {
    val docs = corpusFixture
    val direct = ext.Dedup.leakageSafeSplit(docs)
      .as[(Long, Long, String)].collect().toSet
    assert(direct.nonEmpty && direct.exists(_._2 != direct.head._2),
      s"fixture must form >1 cluster: $direct")
    val map = writeRead(ext.Dedup.buildClusterMap(docs), "clustermap")
    val viaIndex = ext.Dedup.leakageSafeSplitIndexed(map)
      .as[(Long, Long, String)].collect()
    assert(viaIndex.toSet == direct,
      s"index-fed split must be bit-equal:\n  direct: ${direct.toSeq.sorted}" +
        s"\n  index : ${viaIndex.toSeq.sorted}")
    assert(viaIndex.length == direct.size, "one row per doc")
    // the map covers EVERY doc (singletons incl.) — a standing asset that
    // silently dropped singletons would corrupt every later audit
    assert(map.count() == docs.count())
  }

  test("splitLeakageAuditIndexed: bit-equal to the recompute audit " +
    "through a real parquet round-trip; stale-map doc audits as singleton") {
    val docs = corpusFixture
    val naive = pmod(pmod(pmod(col("doc_id"), lit(1000003L)) *
      lit(2654435761L), lit(1000003L)), lit(10L))
    val splitOf = when(naive < 8, lit("train"))
      .when(naive === 8, lit("val")).otherwise(lit("test"))
    val direct = ext.Dedup.splitLeakageAudit(docs, splitOf)
      .as[(String, Long, Long, Long)].collect().toSeq
    val map = writeRead(ext.Dedup.buildClusterMap(docs), "auditmap")
    val viaIndex = ext.Dedup.splitLeakageAuditIndexed(docs, splitOf, map)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(viaIndex == direct,
      s"index-fed audit must be bit-equal:\n  direct: $direct\n  " +
        s"index : $viaIndex")
    // a doc the map has never seen (post-map arrival) audits as its own
    // singleton — the documented stale-map contract, not a dropped row
    val extra = docs.unionByName(mk(Seq((999L, body(8)))))
    val audited = ext.Dedup.splitLeakageAuditIndexed(extra, splitOf, map)
      .as[(String, Long, Long, Long)].collect()
    assert(audited.map(_._2).sum == extra.count(),
      s"stale-map audit must still cover every doc: ${audited.toSeq}")
  }

  test("incrementalSplitIndexed: band index + cluster map (both through " +
    "parquet) reproduce incrementalSplit bit-for-bit") {
    val corpus = corpusFixture
    val fresh = freshFixture
    val direct = ext.Dedup.incrementalSplit(fresh, corpus)
      .as[(Long, Long, String, Boolean)].collect().toSet
    // the fixture exercises all three admission outcomes
    val byDoc = direct.map(t => t._1 -> t).toMap
    assert(byDoc(100L)._4 && byDoc(100L)._2 == 0L,
      s"exact copy must inherit cluster A: ${byDoc(100L)}")
    assert(byDoc(101L)._4 && byDoc(101L)._2 == 10L,
      s"near-edit must inherit cluster B: ${byDoc(101L)}")
    assert(!byDoc(102L)._4 && byDoc(102L)._2 == 102L,
      s"stranger must open its own cluster: ${byDoc(102L)}")

    val bandIndex = writeRead(
      ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 5), "bandidx5")
    val clusterMap = writeRead(ext.Dedup.buildClusterMap(corpus), "incmap")
    val viaIndex = ext.Dedup.incrementalSplitIndexed(fresh, bandIndex,
      clusterMap).as[(Long, Long, String, Boolean)].collect()
    assert(viaIndex.toSet == direct,
      s"asset-fed gate must be bit-equal:\n  direct: ${direct.toSeq.sorted}" +
        s"\n  assets: ${viaIndex.toSeq.sorted}")
    assert(viaIndex.length == direct.size, "one row per new doc")
  }

  test("cluster-map geometry guards: mismatched params AND stripped " +
    "metadata both fail loudly") {
    val corpus = corpusFixture
    val fresh = freshFixture
    val bandIndex = ext.Dedup.buildBandIndex(corpus, k = 16, bands = 4, n = 5)
    val clusterMap = writeRead(ext.Dedup.buildClusterMap(corpus), "geommap")
    // threshold mismatch: a map clustered at 0.5 probed as if 0.8
    val eThr = intercept[IllegalArgumentException] {
      ext.Dedup.incrementalSplitIndexed(fresh, bandIndex, clusterMap,
        minJaccard = 0.8)
    }
    assert(eThr.getMessage.contains("minJaccard"), eThr.getMessage)
    // shingle-width mismatch (band index is checked by minhashNewVsIndex,
    // the map's own n is checked first here)
    val eN = intercept[IllegalArgumentException] {
      ext.Dedup.incrementalSplitIndexed(fresh, bandIndex, clusterMap, n = 3)
    }
    assert(eN.getMessage.contains("n="), eN.getMessage)
    // STRIPPED metadata (a select that rebuilds the column loses it) must
    // fail too — silently skipping the check is the failure mode the
    // round-17 hardening removed
    val stripped = clusterMap.select(col("doc_id"),
      (col("cluster_id") + 0L).as("cluster_id"))
    val eMeta = intercept[IllegalArgumentException] {
      ext.Dedup.incrementalSplitIndexed(fresh, bandIndex, stripped)
    }
    assert(eMeta.getMessage.contains("geometry metadata"), eMeta.getMessage)
    // and the band-index guard (round-17 hardening): stripped band_sigs
    // metadata is an error, not a skipped check
    val strippedIdx = writeRead(bandIndex, "bandidxgeom")
      .select(col("doc_id"), col("codes"),
        transform(col("band_sigs"), s => s).as("band_sigs"))
    val eIdx = intercept[IllegalArgumentException] {
      ext.Dedup.minhashNewVsIndex(fresh, strippedIdx, k = 16, bands = 4,
        n = 5)
    }
    assert(eIdx.getMessage.contains("geometry metadata"), eIdx.getMessage)
  }

  test("Pin lifecycle: release() unpersists exactly the pinned blocks, " +
    "and a fresh query re-pins cleanly") {
    val sc = spark.sparkContext
    Pin.release(sc) // drain pins left by earlier tests in this suite's JVM
    val before = sc.getPersistentRDDs.keySet
    // a pinned frame materializes blocks in the block manager…
    val pinned = Pin(corpusFixture.withColumn("l", length(col("text"))))
    assert(pinned.count() == 7L)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "Pin must register persistent blocks")
    // …and release drops them (the Bench/Verify per-query contract)
    Pin.release(sc)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"release must drop the pinned blocks: " +
        s"${sc.getPersistentRDDs.keySet -- before}")
    // a fresh query call re-derives and re-pins — nothing stale survives
    val again = Pin(corpusFixture.withColumn("l", length(col("text"))))
    assert(again.count() == 7L)
    Pin.release(sc)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    // a caller's .cache() taken before a two-leg Pin.parallel is not a
    // pin: release drops both legs' blocks and leaves the cache alone
    val cached = corpusFixture.withColumn("c", lit(1)).cache()
    assert(cached.count() == 7L)
    val cacheIds = sc.getPersistentRDDs.keySet -- before
    assert(cacheIds.nonEmpty, "the cache must register persistent blocks")
    val legs = Pin.parallel(Seq(
      () => corpusFixture.withColumn("l", length(col("text"))),
      () => corpusFixture.withColumn("u", upper(col("text")))))
    assert(legs.map(_.count()) == Seq(7L, 7L))
    assert((sc.getPersistentRDDs.keySet -- before -- cacheIds).size == 2,
      "each leg pins one RDD")
    Pin.release(sc)
    assert(sc.getPersistentRDDs.keySet -- before == cacheIds,
      "release must drop both pins and keep the cache")
    cached.unpersist(blocking = true)
  }
}
