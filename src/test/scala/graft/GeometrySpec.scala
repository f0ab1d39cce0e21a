package graft

import graft.geo.Geometry
import graft.ops.Convert
import org.apache.spark.sql.functions._

/** Geometry column functions: golden parity with the reference converter on
  * real corpus rows, plus seeded property-style invariants (SURVEY §5.2).
  * (Raw ScalaCheck is cached but the scalatest bridge is not; a seeded
  * Random drives the case generation instead.)
  */
class GeometrySpec extends SparkSuite {
  import spark.implicits._

  private lazy val golden = spark.read.option("multiLine", true)
    .json(resource("/golden/convert_labels.json"))
    .cache()

  test("golden: label lines match the reference converter byte-for-byte") {
    val images = golden.select(col("file_name"), col("width"), col("height"))
    val anns = golden.select(col("file_name"), col("annotations"))
    val got = Convert.labelLines(images, anns)
      .select(col("file_name"), col("lines"))
      .as[(String, Seq[String])].collect().toMap
    val want = golden.select(col("file_name"), col("lines"))
      .as[(String, Seq[String])].collect().toMap
    assert(got.keySet == want.keySet)
    for ((fn, lines) <- want) assert(got(fn) == lines, s"doc $fn")
  }

  private def cases(n: Int)(mk: scala.util.Random => (Double, Double, Double, Double)) = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)(mk(rnd))
  }

  test("property: clip keeps boxes inside the image") {
    val df = cases(200) { r =>
      (r.between(-200.0, 1400.0), r.between(-200.0, 1400.0),
        r.between(0.0, 800.0), r.between(0.0, 800.0))
    }.toDF("x", "y", "w", "h")
    val (cx, cy, cw, ch) = Geometry.clipXYWH(
      col("x"), col("y"), col("w"), col("h"), lit(1000.0), lit(700.0))
    df.select(cx, cy, cw, ch).as[(Double, Double, Double, Double)].collect()
      .foreach { r =>
        assert(r._1 >= 0 && r._1 <= 1000.0)
        assert(r._2 >= 0 && r._2 <= 700.0)
        assert(r._3 >= 0 && r._1 + r._3 <= 1000.0 + 1e-9)
        assert(r._4 >= 0 && r._2 + r._4 <= 700.0 + 1e-9)
      }
  }

  test("property: norm→abs→norm round-trips within epsilon for in-bounds boxes") {
    val in = cases(200) { r =>
      (r.between(0.15, 0.85), r.between(0.15, 0.85),
        r.between(0.01, 0.2), r.between(0.01, 0.2))
    }
    val df = in.toDF("xc", "yc", "wn", "hn")
    val (ax, ay, aw, ah) = Geometry.normToAbsXYWH(
      col("xc"), col("yc"), col("wn"), col("hn"), lit(1024.0), lit(512.0))
    val (x2, y2, w2, h2) = Geometry.xywhToNorm(ax, ay, aw, ah, lit(1024.0), lit(512.0))
    val got = df.select(x2, y2, w2, h2).as[(Double, Double, Double, Double)].collect()
    in.zip(got).foreach { case ((xc, yc, wn, hn), r) =>
      assert(math.abs(r._1 - xc) < 1e-9 && math.abs(r._2 - yc) < 1e-9)
      assert(math.abs(r._3 - wn) < 1e-9 && math.abs(r._4 - hn) < 1e-9)
    }
  }

  test("property: IoU ∈ [0,1], symmetric, self-IoU = 1") {
    val df = cases(200) { r =>
      (r.between(0.0, 500.0), r.between(0.0, 500.0),
        r.between(1.0, 300.0), r.between(1.0, 300.0))
    }.zip(cases(200) { r =>
      (r.between(0.0, 500.0), r.between(0.0, 500.0),
        r.between(1.0, 300.0), r.between(1.0, 300.0))
    }).map { case ((ax, ay, aw, ah), (bx, by, bw, bh)) =>
      (ax, ay, ax + aw, ay + ah, bx, by, bx + bw, by + bh)
    }.toDF("ax1", "ay1", "ax2", "ay2", "bx1", "by1", "bx2", "by2")
    val a = Geometry.Box(col("ax1"), col("ay1"), col("ax2"), col("ay2"))
    val b = Geometry.Box(col("bx1"), col("by1"), col("bx2"), col("by2"))
    df.select(Geometry.iou(a, b), Geometry.iou(b, a), Geometry.iou(a, a))
      .as[(Double, Double, Double)].collect()
      .foreach { case (iab, iba, iaa) =>
        assert(iab >= 0.0 && iab <= 1.0)
        assert(iab == iba)
        assert(math.abs(iaa - 1.0) < 1e-12)
      }
  }

  test("IoU of disjoint boxes is exactly 0") {
    val df = Seq(1).toDF("x")
    val a = Geometry.Box(lit(0.0), lit(0.0), lit(10.0), lit(10.0))
    val b = Geometry.Box(lit(20.0), lit(20.0), lit(30.0), lit(30.0))
    assert(df.select(Geometry.iou(a, b)).as[Double].head() == 0.0)
  }

  test("golden: xyxy→xywh matches the reference server's w=x2−x1, h=y2−y1") {
    // expected values are the reference's Python float results, including
    // the last-ulp ones (0.3 − 0.1 and 0.7 − 0.2 are not 0.2 and 0.5)
    val df = Seq((10.5, 20.25, 110.75, 220.5), (0.1, 0.2, 0.3, 0.7))
      .toDF("x1", "y1", "x2", "y2")
    val (x, y, w, h) = Geometry.xyxyToXYWH(Geometry.Box(
      col("x1"), col("y1"), col("x2"), col("y2")))
    val r = df.select(x, y, w, h).as[(Double, Double, Double, Double)]
      .collect().toSeq
    assert(r == Seq((10.5, 20.25, 100.25, 200.25),
      (0.1, 0.2, 0.19999999999999998, 0.49999999999999994)))
  }

  test("pyRound is HALF_EVEN (banker's), matching Python round") {
    val df = Seq((0.125, 0.135, 2.5, 3.5)).toDF("a", "b", "c", "d")
    val Array(r) = df.select(
      Geometry.pyRound(col("a"), 2), Geometry.pyRound(col("b"), 2),
      Geometry.pyRound(col("c"), 0), Geometry.pyRound(col("d"), 0))
      .as[(Double, Double, Double, Double)].collect()
    assert(r == ((0.12, 0.14, 2.0, 4.0)))
  }

  test("pyRound works on the exact binary expansion, not the decimal repr") {
    // Python: round(2.675, 2) == 2.67 because 2.675 is stored as 2.67499…;
    // Spark's bround sees repr "2.675" and would give 2.68
    val Array((a, b)) = Seq((2.675, 0.5675)).toDF("a", "b")
      .select(Geometry.pyRound(col("a"), 2), Geometry.pyRound(col("b"), 3))
      .as[(Double, Double)].collect()
    assert(a == 2.67)
    assert(b == 0.568)   // 0.5675 stored as 0.56750000…0444 (above the tie)
  }

  test("zero-dimension image emits all-zero normalized coords (reference guard)") {
    val df = Seq((5.0, 5.0, 10.0, 10.0)).toDF("x", "y", "w", "h")
    val (xc, yc, wn, hn) = Geometry.xywhToNorm(
      col("x"), col("y"), col("w"), col("h"), lit(0.0), lit(0.0))
    val Array(r) = df.select(xc, yc, wn, hn).as[(Double, Double, Double, Double)].collect()
    assert(r == ((0.0, 0.0, 0.0, 0.0)))
  }
}
