package graft

import graft.ext.Dedup
import graft.functions.DhashBand
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one-walk [[graft.functions.DhashBand]] kernel must be bit-identical
  * to the column formulation it replaced in [[Dedup.dhashTextBands]] — per
  * band a sum of 16 `when(ascii(substring(text, i, 1)) < …, bit)` terms —
  * on every row of the sf0.01 corpus and on edge rows (null, empty, one
  * raster ±1 char, multi-byte and surrogate-pair text, an `n_chars` that
  * overstates the text), through both the generated and the interpreted
  * expression path.
  */
class DhashKernelSpec extends SparkSuite {
  import spark.implicits._

  /** The legacy formulation, verbatim. */
  private def legacyBands: Seq[Column] = {
    val DhashW = 9
    val DhashBands = 4
    def px(i: Int): Column = ascii(substring(col("text"), i, 1)).cast("long")
    (0 until DhashBands).map { b =>
      (for (r <- Seq(2 * b, 2 * b + 1); c <- 0 until DhashW - 1) yield
        when(px(r * DhashW + c + 1) < px(r * DhashW + c + 2),
          lit(1L << ((r % 2) * (DhashW - 1) + c))).otherwise(lit(0L))
      ).reduce(_ + _).as(s"b$b")
    }
  }

  /** Every band of every row equal (`<=>`), and the rewired
    * `dhashTextBands` equal to the legacy body behind the same filter.
    */
  private def assertParity(df: DataFrame): Unit = {
    val legacy = legacyBands
    val bad = df.filter((0 until Dedup.DhashBands).map(b =>
        !(DhashBand.bandCol(col("text"), b) <=> legacy(b))).reduce(_ || _))
      .select(col("doc_id")).limit(5).collect().map(_.getLong(0))
    assert(bad.isEmpty, s"kernel diverged from legacy on doc_id ${bad.mkString(",")}")
    val fast = Dedup.dhashTextBands(df)
    val slow = df.filter(col("n_chars") >= 72).select(col("doc_id") +: legacy: _*)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
      "dhashTextBands diverged from the legacy body")
  }

  /** `check` on a session that only generates code, then on one that only
    * interprets.
    */
  private def onBothPaths(check: SparkSession => Unit): Unit = {
    val gen = spark.newSession()
    gen.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    check(gen)
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    check(interp)
  }

  private def texture(n: Int, seed: Int): String =
    (0 until n).map(i => (33 + (i * 53 + (i * i + seed) % 41) % 90).toChar).mkString

  test("kernel == legacy on the sf0.01 documents corpus, both expression paths") {
    onBothPaths { s =>
      val docs = Tables.documents(s, "/root/testdata/sf0.01")
      assert(docs.count() > 0)
      assertParity(docs)
    }
  }

  test("kernel == legacy on edge rows, both expression paths") {
    val alphabet = "abcxyz ~é日本語𝕊𝕡ÿĀ".codePoints().toArray
    val rnd = new scala.util.Random(7)
    val mixed = (0 until 40).map { _ =>
      val n = 60 + rnd.nextInt(20)
      new String(Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))), 0, n)
    }
    val texts = Seq[Option[String]](
      None, Some(""), Some(texture(71, 1)), Some(texture(72, 2)), Some(texture(73, 3)),
      Some("z" * 72), Some("é" * 80), Some("日本語" * 30),
      Some(texture(17, 4) + "é" + texture(60, 5)), Some("𝕊" + texture(75, 6)),
      Some(texture(30, 8) + "𝕊𝕡" * 10 + texture(30, 9))) ++ mixed.map(Some(_))
    val rows = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, t.fold(0L)(x => x.codePointCount(0, x.length).toLong))
    } :+ ((texts.size.toLong, Some(texture(40, 10)), 80L)) // n_chars overstates
    val dir = java.nio.file.Files.createTempDirectory("dhash-kernel").toString
    // a parquet source, so neither path folds the projection on the driver
    rows.toDF("doc_id", "text", "n_chars").write.mode("overwrite").parquet(dir)
    onBothPaths { s =>
      val df = s.read.parquet(dir)
      assert(df.count() == rows.size)
      assertParity(df)
    }
  }
}
