package graft

import graft.ext.{Components, Dedup}
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSuite {
  import spark.implicits._

  test("connectedComponents merges chains and keeps islands apart") {
    // chain 1-2, 2-3, plus pair 10-11, plus triangle 20-21, 21-22, 20-22
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L)).toDF("a", "b")
    val r = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(r(1L) == 1L && r(2L) == 1L && r(3L) == 1L)
    assert(r(10L) == 10L && r(11L) == 10L)
    assert(r(20L) == 20L && r(21L) == 20L && r(22L) == 20L)
  }

  test("long path converges (diameter > 1 needs iteration)") {
    val edges = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a", "b")
    // threshold 0: the distributed join loop is what's under test
    val r = Cutover.forcing(Cutover.ComponentsLocal -> 0L)(
      Components.connectedComponents(edges))
      .as[(Long, Long)].collect()
    assert(r.forall(_._2 == 0L))
  }

  test("adaptive local union-find ≡ distributed loop on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a", "b")
    // threshold n − 1, n, n + 1 around the fixture's edge count n
    val Seq(dist, local, above) = atBoundary(Cutover.ComponentsLocal,
      "count")(Components.connectedComponents(edges))
      .map(_.as[(Long, Long)].collect().toMap)
    assert(local == dist)
    assert(above == local)
  }

  test("dedup groups from real near-dup pairs: canonical id is the group min") {
    val docs = Seq(
      (5L, "the quick brown fox jumps over everything"),
      (6L, "the quick brown fox jumps over everything"),
      (7L, "the quick brown fox jumps over everything"),
      (9L, "completely unrelated text body here today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.9).select("doc_a", "doc_b")
    val groups = Components.dedupGroups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("per-doc approx distinct shingles lands within the error bound of exact") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val approx = Dedup.approxDistinctShingles(docs)
      .as[(Long, Long)].collect().toMap
    val exact = Dedup.docShingles(docs).groupBy("doc_id")
      .agg(count_distinct(col("shingle")).as("e"))
      .as[(Long, Long)].collect().toMap
    assert(approx.keySet == exact.keySet)
    for ((id, a) <- approx) {
      val e = exact(id).toDouble
      assert(math.abs(a - e) / e < 0.2, s"doc $id approx=$a exact=$e")
    }
  }

  test("non-convergence raises instead of returning under-merged groups") {
    val edges = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a", "b")
    intercept[IllegalStateException] {
      Cutover.forcing(Cutover.ComponentsLocal -> 0L)(
        Components.connectedComponents(edges, maxIter = 3))
        .collect()
    }
  }

  test("pageRank replays the rounded power iteration exactly; mass conserved") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4 on node 3
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Components.pageRank(edges, iterations = 3)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    // exact scala replay of the operator's arithmetic (HALF_UP at 9 dp)
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L),
      3L -> Seq(1L, 2L, 4L), 4L -> Seq(3L))
    val deg = adj.view.mapValues(_.size).toMap
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    var rank = adj.keys.map(_ -> 1.0 / 4).toMap
    for (_ <- 1 to 3)
      rank = adj.keys.map { v =>
        val s = adj(v).map(u => rank(u) / deg(u)).sum
        v -> round9((1.0 - 0.85) / 4 + 0.85 * s)
      }.toMap
    adj.keys.foreach { v =>
      assert(got(v)._1 === deg(v).toLong)
      assert(got(v)._2 === rank(v), s"node $v")
    }
    // symmetric graph, no dangling mass: ranks stay a distribution
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-6)
    // the hub has the top rank, the pendant the bottom
    assert(got.maxBy(_._2._2)._1 === 3L)
    assert(got.minBy(_._2._2)._1 === 4L)
  }

  test("kHopDistances: min hop distance wins when multiple paths exist") {
    // path 1-2-3-4-5 plus shortcut 1-4: node 4 is 1 hop, node 5 is 2 hops
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("a", "b")
    val src = Seq(1L).toDF("node")
    val r = Components.kHopDistances(edges, src, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
    // hop cap respected: from node 5 on the bare path, node 1 is 4 hops
    val r2 = Components.kHopDistances(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b"),
      Seq(5L).toDF("node"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(!r2.contains(1L) && r2(2L) == 3L)
  }

  test("triangleCounts: K4 gives every node 3 triangles; path graph none") {
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toDF("a", "b")
    val r = Components.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Components.triangleCounts(path).count() === 0L)
  }

  test("linkPrediction: non-edges scored by overlap, edges excluded") {
    // square 1-2-3-4-1: diagonals (1,3) and (2,4) share 2 neighbors,
    // all degrees 2 → jaccard 2/(2+2-2) = 1.0; edges never appear
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val r = Components.linkPrediction(square)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    assert(r.keySet === Set((1L, 3L), (2L, 4L)))
    assert(r((1L, 3L)) === ((1L, 3L, 2L, 2L, 2L, 1.0)))
    // triangle: every pair is an edge → nothing to predict
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(Components.linkPrediction(k3).count() === 0L)
    // path 1-2-3: (1,3) common neighbor 2, degrees 1 and 1 → jaccard 1.0;
    // star center 2 with leaf degree 1 keeps the denominator honest
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = Components.linkPrediction(path)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(p.toSeq === Seq((1L, 3L, 1L, 1L, 1L, 1.0)))
  }

  test("supplierGraph is deterministic, self-loop-free, and in key range") {
    val sup = (1L to 40L).toDF("s_suppkey")
    val g = Components.supplierGraph(sup).as[(Long, Long)].collect().toSet
    assert(g.forall { case (s, t) => s >= 1 && s <= 40 && t >= 1 && t <= 40 && s != t })
    // ring (1%40+1=2), skip ((1+1)%40+1=3), long-range ((7+1)%40+1=9)
    assert(g.contains((1L, 2L)) && g.contains((1L, 3L)) && g.contains((1L, 9L)))
    val g2 = Components.supplierGraph(sup).as[(Long, Long)].collect().toSet
    assert(g === g2)
  }
}
