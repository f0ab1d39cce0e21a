package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The banded admission join every new-×-corpus gate shares
  * ([[ext.Dedup.bandPairs]]): a pair matching in any number of bands comes
  * out EXACTLY once — on its smallest matching band — and a pair matching
  * in no band never does, in batch and on a stream alike. The gates'
  * parity specs compare row sets, so only an exact row list can see a
  * duplicate pair here. The self-join case (one frame on both sides, a <
  * b) is how the MinHash and dHash near-dup pair producers use it.
  */
class BandPairsSpec extends SparkSuite {
  import spark.implicits._

  private val Bands = 4

  // new doc i pairs with corpus doc 100 + i; `shared` lists the bands
  // whose keys the two sides have in common, every other key is unique
  private val planted: Seq[(Long, Set[Int])] = Seq(
    1L -> Set(0),             // first band only
    2L -> Set(Bands - 1),     // last band only
    3L -> Set(1, 3),          // two bands, neither the first
    4L -> (0 until Bands).toSet, // every band
    5L -> Set.empty[Int])     // no band: must never pair

  private def keys(id: Long, shared: Set[Int], side: String): Seq[String] =
    (0 until Bands).map(b => if (shared(b)) s"k${id}_$b" else s"$side${id}_$b")

  private val newRows = planted.map { case (id, sh) => (id, keys(id, sh, "n")) }
  private val corpus = planted.map { case (id, sh) =>
    (100L + id, keys(id, sh, "c")) }.toDF("corpus_id", "corpus_bands")

  private val expected = Seq((1L, 101L), (2L, 102L), (3L, 103L), (4L, 104L))

  private def pairs(newSide: DataFrame): DataFrame =
    ext.Dedup.bandPairs(newSide, corpus, Bands)
      .select(col("new_id"), col("corpus_id"))

  test("batch: every matching pair exactly once, the non-matching never") {
    val got = pairs(newRows.toDF("new_id", "new_bands"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == expected)
  }

  // the self-join case (the MinHash and dHash near-dup pair producers):
  // one frame on both sides. Every row matches itself in every band, and
  // 1–2 / 1–3 / 5–6 match in several bands
  private val selfRows: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("x0", "x1", "y2", "z3"),
    2L -> Seq("x0", "x1", "u2", "u3"),
    3L -> Seq("p0", "x1", "y2", "p3"),
    4L -> Seq("r0", "r1", "r2", "z3"),
    5L -> Seq("s0", "s1", "s2", "s3"),
    6L -> Seq("s0", "s1", "s2", "s3"),
    7L -> Seq("t0", "t1", "t2", "t3"))

  private def selfPairs(s: SparkSession): Seq[(Long, Long)] = {
    import s.implicits._
    val side = Pin(selfRows.toDF("id", "bands"))
    ext.Dedup.bandPairs(side.toDF("new_id", "new_bands"),
        side.toDF("corpus_id", "corpus_bands"), Bands)
      .filter(col("new_id") < col("corpus_id"))
      .select(col("new_id"), col("corpus_id"))
      .as[(Long, Long)].collect().toSeq.sorted
  }

  test("self-join: each unordered pair exactly once, never (a, a), with and without AQE") {
    val expected = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (5L, 6L))
    assert(selfPairs(spark) == expected)
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    assert(selfPairs(off) == expected)
  }

  test("stream: one trigger through a memory sink gives the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Seq[String])]
    val q = pairs(src.toDF().toDF("new_id", "new_bands"))
      .writeStream.outputMode("append").format("memory")
      .queryName("bandpairs").start()
    try {
      src.addData(newRows: _*)
      q.processAllAvailable()
      val got = spark.table("bandpairs").as[(Long, Long)]
        .collect().toSeq.sorted
      assert(got == expected)
    } finally q.stop()
  }
}
