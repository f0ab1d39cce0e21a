package graft

import org.apache.spark.sql.DataFrame

/** Round-20 optimization equivalences: every adaptive local-solve path must
  * be BIT-IDENTICAL to the distributed shape it replaces (the cutovers are
  * execution decisions, never semantic ones). Each gate runs at its
  * threshold n − 1, n and n + 1 around its fixture's evidence n.
  */
class Round20OpsSpec extends SparkSuite {

  private def rows(df: DataFrame): Set[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"cast(`$c` as string)"): _*)
      .collect().map(_.mkString("|")).toSet
  }

  /** The three frames of [[atBoundary]] are row-identical. */
  private def sameAcross(gate: Cutover.Gate, source: String, name: String)
                        (mk: => DataFrame): Seq[DataFrame] = {
    val runs = atBoundary(gate, source)(mk)
    val Seq(large, small, above) = runs.map(rows)
    assert(large == small && small == above, name)
    runs
  }

  test("bradleyTerry: driver MM loop ≡ distributed loop, bit-exact") {
    val events = Tables.events(spark, sf)
    // strings include the full double repr — any last-ulp divergence in
    // the 9-dp strengths (or a rank flip from one) fails here
    val Seq(dist, local, _) = sameAcross(Cutover.BradleyTerryLocal, "count",
      "bradleyTerry")(ext.Labeling.bradleyTerry(events))
    assert(local.count() == dist.count())
  }

  test("crossModalKeeper: fused local closure+mask ≡ distributed, bit-exact") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val Seq(dist, local, _) = sameAcross(Cutover.CrossModalLocal, "count",
      "crossModalKeeper")(ext.Dedup.crossModalKeeper(docs, emb))
    assert(local.count() == dist.count())
  }

  test("q85 MAD: distributed median gate ≡ window-sort path, bit-exact") {
    sameAcross(Cutover.PercentileSort, "footer", "q85")(
      ops.Relational.q85MadOutliers(spark, sf))
  }

  test("q37/q61/q106: adaptive percentile gate ≡ window-sort path, bit-exact") {
    for ((mk, name) <- Seq[(() => DataFrame, String)](
      (() => ops.Relational.q37Percentiles(spark, sf), "q37"),
      (() => ops.Relational.q61IqrOutliers(spark, sf), "q61"),
      (() => ops.Relational.q106WinsorizedMean(spark, sf), "q106")))
      sameAcross(Cutover.PercentileSort, "footer", name)(mk())
  }

  test("q109 equi-depth: adaptive cutpoints ≡ window-sort cutpoints, bit-exact") {
    sameAcross(Cutover.PercentileSort, "footer", "q109")(
      SparkEntry.queries("q109_equidepth")(spark, sf))
  }

  test("minhash size-ratio prune ≡ unpruned verify (necessary condition)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    for (minJ <- Seq(0.3, 0.5, 0.55)) {
      val pruned = ext.Dedup.minhashNearDupsDistinct(docs, 16, 4, 3, minJ)
      // the pre-round-20 shape, inline: candidates → codes joins →
      // intersect verify with NO size-ratio filter
      val codes = docs.filter(length(col("text")) >= 3)
        .select(col("doc_id"), ext.Dedup.shingleCodes(col("text"), 3)
          .as("codes"))
      val unpruned = ext.Dedup.minhashLshCandidates(docs, 16, 4, 3)
        .join(codes.select(col("doc_id").as("doc_a"),
          col("codes").as("codes_a")), "doc_a")
        .join(codes.select(col("doc_id").as("doc_b"),
          col("codes").as("codes_b")), "doc_b")
        .withColumn("inter",
          size(array_intersect(col("codes_a"), col("codes_b"))).cast("long"))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("codes_a")) + size(col("codes_b")) - col("inter"))
            .cast("double"))
        .filter(col("jaccard") >= minJ)
        .select("doc_a", "doc_b", "jaccard")
      assert(rows(pruned) == rows(unpruned), s"minJ=$minJ")
    }
  }
}
