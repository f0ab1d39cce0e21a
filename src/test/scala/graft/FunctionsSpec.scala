package graft

import graft.ext.Similarity
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** Native expression kernel: equivalence with the higher-order-function
  * formulation (bit-exact), null handling, SQL registration.
  */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("FloatVecDot is bit-identical to the zip_with/aggregate fold on the corpus") {
    val emb = Tables.embeddings(spark, sf)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")),
        col("a_id") < col("b_id"))
      .limit(5000)
    val diff = pairs
      .select(VectorFunctions.vecDot(col("a"), col("b")).as("fast"),
        hofDot(col("a"), col("b")).as("slow"))
      .filter(!(col("fast") <=> col("slow")))   // null-safe: a one-sided NULL must count as a diff
      .count()
    assert(diff == 0)
  }

  test("FloatVecDot: nulls propagate, empty arrays give 0.0") {
    val df = Seq(
      (Some(Array(1f, 2f)), Some(Array(3f, 4f))),
      (None, Some(Array(1f))),
      (Some(Array.empty[Float]), Some(Array.empty[Float])))
      .toDF("a", "b")
    val r = df.select(VectorFunctions.vecDot(col("a"), col("b"))).collect()
    assert(r(0).getDouble(0) == 11.0)
    assert(r(1).isNullAt(0))
    assert(r(2).getDouble(0) == 0.0)
  }

  test("float_vec_dot is SQL-callable after registration") {
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_t")
    val r = spark.sql(
      """SELECT float_vec_dot(a.embedding, a.embedding) AS d
        |FROM emb_t a WHERE a.vec_id = 0""".stripMargin).as[Double].head()
    assert(r > 0.0)
  }

  test("string_fingerprint is SQL-callable and matches the Column kernel") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_t")
    val viaSql = spark.sql(
      """SELECT string_fingerprint(text) AS fp FROM docs_t
        |WHERE doc_id = 0""".stripMargin).as[Long].head()
    val viaCol = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 0)
      .select(graft.ext.TextStats.fingerprint(
        org.apache.spark.sql.functions.col("text")).as("fp"))
      .as[Long].head()
    assert(viaSql === viaCol)
  }

  test("shingle_codes is SQL-callable and matches the HOF specification") {
    import org.apache.spark.sql.functions.{array_distinct, col, lit,
      sequence, transform, when, length, ascii, array}
    Tables.documents(spark, sf).createOrReplaceTempView("docs_t")
    val viaSql = spark.sql(
      """SELECT shingle_codes(text, 3) AS sh FROM docs_t
        |WHERE doc_id = 0""".stripMargin).as[Seq[Long]].head()
    // the pre-kernel HOF formulation, as the executable spec
    val t = col("text")
    val hof = when(length(t) < 3, array().cast("array<long>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), length(t) - 2), i =>
          (0 until 3).map(k => ascii(t.substr(i + k, lit(1))).cast("long") *
            lit(math.pow(256, 2 - k).toLong)).reduce(_ + _))))
    val viaHof = Tables.documents(spark, sf)
      .filter(col("doc_id") === 0).select(hof.as("sh"))
      .as[Seq[Long]].head()
    assert(viaSql === viaHof)
  }

  test("FloatVecDotConst ≡ zip_with/aggregate fold against a literal plane") {
    val weights = Array.tabulate(64)(i => (i * 7 % 13).toDouble / 13.0 - 0.5)
    val wLit = array(weights.map(lit): _*)
    val hof = (v: org.apache.spark.sql.Column) =>
      aggregate(zip_with(v, wLit, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
    val diff = Tables.embeddings(spark, sf)
      .select(VectorFunctions.vecDotConst(col("embedding"), weights).as("fast"),
        hof(col("embedding")).as("slow"))
      .filter(!(col("fast") <=> col("slow")))   // null-safe: a one-sided NULL must count as a diff
      .count()
    assert(diff == 0)
  }

  test("FloatVecDotConst: length mismatch and null elements give NULL") {
    val df = Seq(
      (1L, Some(Array(1f, 2f, 3f))),
      (2L, Some(Array(1f, 2f))),
      (3L, None)).toDF("id", "v")
    val r = df.orderBy("id")
      .select(VectorFunctions.vecDotConst(col("v"), Array(1.0, 1.0, 1.0)))
      .collect()
    assert(r(0).getDouble(0) == 6.0)
    assert(r(1).isNullAt(0))
    assert(r(2).isNullAt(0))
  }

  test("lshBucket (const-plane kernel) matches the interpreted HOF formulation") {
    // the old formulation, kept inline as the reference semantics
    def planeCol(j: Int, i: org.apache.spark.sql.Column) =
      (pmod(lit(j * 1103515245L + 12345L) * (i + 1L) + lit(j * 2654435761L),
        lit(1000003L)).cast("double") / 1000003.0) - 0.5
    def hofBucket(vec: org.apache.spark.sql.Column, dim: Int, bits: Int) =
      (0 until bits).map { j =>
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), lit(dim - 1)),
            (x, i) => x.cast("double") * planeCol(j, i.cast("long"))),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    val diff = Tables.embeddings(spark, sf)
      .select(Similarity.lshBucket(col("embedding"), 64, 8).as("fast"),
        hofBucket(col("embedding"), 64, 8).as("slow"))
      .filter(!(col("fast") <=> col("slow")))   // null-safe: a one-sided NULL must count as a diff
      .count()
    assert(diff == 0)
  }

  test("norm/cosine built on the kernel match direct computation") {
    val Array(r) = Seq((Array(3f, 4f), Array(4f, 3f))).toDF("a", "b")
      .select(Similarity.norm(col("a")), Similarity.cosine(col("a"), col("b")))
      .as[(Double, Double)].collect()
    assert(r._1 == 5.0)
    assert(r._2 == 24.0 / 25.0)
  }

  test("StringFingerprint kernel ≡ the HOF formulation on corpus + edge strings") {
    import graft.ext.TextStats
    val corpusDiff = Tables.documents(spark, sf)
      .select(TextStats.fingerprint(col("text")).as("fast"),
        TextStats.fingerprintHof(col("text")).as("slow"))
      .filter(!(col("fast") <=> col("slow")))
      .count()
    assert(corpusDiff == 0)

    val rnd = new scala.util.Random(9)
    val edge = Seq("", " ", "a", "é", "héllo wörld", "\t\n", "日本語テキスト") ++
      (1 to 200).map(_ => rnd.alphanumeric.take(rnd.nextInt(80)).mkString) ++
      (1 to 50).map(_ => (1 to rnd.nextInt(30))
        .map(_ => (rnd.nextInt(0x2FF) + 1).toChar).mkString)
    val edgeDiff = edge.toDF("text")
      .select(TextStats.fingerprint(col("text")).as("fast"),
        TextStats.fingerprintHof(col("text")).as("slow"))
      .filter(!(col("fast") <=> col("slow")))
      .count()
    assert(edgeDiff == 0)
    // NULL propagates
    val Array(n) = Seq(Option.empty[String]).toDF("text")
      .select(TextStats.fingerprint(col("text"))).as[Option[Long]].collect()
    assert(n.isEmpty)
  }

  test("BlocklistCounts kernel ≡ the HOF formulation on corpus + edge strings") {
    import graft.functions.BlocklistCounts
    val words = Seq("slow", "big", "the")
    val blockArr = array(words.map(lit): _*)
    val hofTokens = ext.TextStats.tokens(col("text"))
    // the probe-side normalization, HOF form: ASCII translate-fold +
    // edge-punctuation strip — exactly the kernel's normalize()
    def norm(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      regexp_replace(
      translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz"),
      "^[^a-z0-9]+|[^a-z0-9]+$", "")
    def hofCounts: org.apache.spark.sql.Column = array(
      size(hofTokens).cast("long"),
      size(filter(hofTokens, t => array_contains(blockArr, norm(t))))
        .cast("long"))
    // corpus-wide bit parity of [n_tokens, n_blocked] against the HOF spec
    val diff = Tables.documents(spark, sf)
      .select(
        BlocklistCounts.countsCol(col("text"), words).as("fast"),
        hofCounts.as("slow"))
      .filter(!(col("fast") <=> col("slow")))
      .count()
    assert(diff == 0)
    // edges: empty, blank, single blocked token, repeated blocked tokens,
    // case/punctuation normalization, and control-whitespace bounds
    // ("\tbig the\n": SQL trim strips only spaces, so \s+-split keeps one
    // empty token each side — 4 raw tokens, 2 blocked; Java String.trim
    // would have stripped the tabs and disagreed with the HOF/oracle)
    val edgeStrings = Seq("", "   ", "big", "big big the slow x", "nope",
      "Big. THE (slow)", "\"Bad\" bad. the", "\tbig the\n", "\t\n",
      " \t big \n ", "--- ... !!!")
    val edges = edgeStrings
      .toDF("text")
      .select(BlocklistCounts.countsCol(col("text"), words).as("c"))
      .as[Seq[Long]].collect()
    assert(edges.toSeq == Seq(Seq(0L, 0L), Seq(0L, 0L), Seq(1L, 1L),
      Seq(5L, 4L), Seq(1L, 0L), Seq(3L, 3L), Seq(3L, 1L), Seq(4L, 2L),
      Seq(2L, 0L), Seq(3L, 1L), Seq(3L, 0L)))
    // the same edges hold the HOF parity too (tab/newline bounds included)
    val edgeDiff = edgeStrings.toDF("text")
      .select(BlocklistCounts.countsCol(col("text"), words).as("fast"),
        hofCounts.as("slow"))
      .filter(!(col("fast") <=> col("slow")))
      .count()
    assert(edgeDiff == 0)
    // blocklist itself is case-folded at construction
    val cased = Seq("Big, the. x").toDF("text")
      .select(BlocklistCounts.countsCol(col("text"), Seq("BIG", "the"))
        .as("c"))
      .as[Seq[Long]].head()
    assert(cased == Seq(3L, 2L))
    // empty blocklist: everything counts as unblocked
    val none = Seq("a b c").toDF("text")
      .select(BlocklistCounts.countsCol(col("text"), Seq.empty).as("c"))
      .as[Seq[Long]].head()
    assert(none == Seq(3L, 0L))
    // SQL-callable with literal words, like the rest of the native family
    val viaSql = spark.sql(
      "SELECT blocklist_counts('big the x', 'big', 'the') AS c")
      .as[Seq[Long]].head()
    assert(viaSql == Seq(3L, 2L))
    // non-string / NULL word literals are rejected with an actionable
    // message instead of silent stringification or a raw NPE
    val badInt = intercept[Exception](spark.sql(
      "SELECT blocklist_counts('x', 7)").collect())
    assert(badInt.getMessage.contains("string literals"), badInt.getMessage)
    val badNull = intercept[Exception](spark.sql(
      "SELECT blocklist_counts('x', CAST(NULL AS STRING))").collect())
    assert(badNull.getMessage.contains("non-null"), badNull.getMessage)
  }

  test("PyJson.pyFloatRepr matches CPython repr on the positional envelope") {
    // expected strings are CPython 3 repr() outputs, recorded verbatim —
    // shortest decimal that round-trips, at least one fractional digit
    val cases = Seq(
      0.1 -> "0.1",
      (0.1 + 0.2) -> "0.30000000000000004",
      56.28 -> "56.28",
      640.0 -> "640.0",
      (1.0 / 3.0) -> "0.3333333333333333",
      2.675 -> "2.675",
      0.0001 -> "0.0001",
      9999999999999998.0 -> "9999999999999998.0",
      1234.5678 -> "1234.5678",
      0.01 -> "0.01",
      0.0 -> "0.0",
      -56.28 -> "-56.28")
    cases.foreach { case (v, want) =>
      assert(graft.functions.PyJson.pyFloatRepr(v) == want, s"repr($v)")
      // and every emitted string round-trips to the exact double
      assert(graft.functions.PyJson.pyFloatRepr(v).toDouble == v)
    }
    assert(graft.functions.PyJson.pyFloatRepr(-0.0) == "-0.0")
    intercept[IllegalArgumentException] {
      graft.functions.PyJson.pyFloatRepr(1e16) // scientific in Python
    }
    intercept[IllegalArgumentException] {
      graft.functions.PyJson.pyFloatRepr(Double.NaN)
    }
  }

  test("PyJson.dumps replicates json.dumps(indent=2) layout and escaping") {
    import graft.functions.PyJson._
    // verified against: json.dumps({"a": [], "b": {}, "c": [1, "x\"y"],
    //   "d": {"e": 0.5}}, ensure_ascii=False, indent=2)
    val j = JObj(Seq(
      "a" -> JArr(Nil), "b" -> JObj(Nil),
      "c" -> JArr(Seq(JInt(1), JStr("x\"y"))),
      "d" -> JObj(Seq("e" -> JFloat(0.5)))))
    val want =
      "{\n  \"a\": [],\n  \"b\": {},\n  \"c\": [\n    1,\n    \"x\\\"y\"" +
        "\n  ],\n  \"d\": {\n    \"e\": 0.5\n  }\n}"
    assert(dumps(j) == want)
    assert(escape("tab\there\nnl\u0001ctl") ==
      "\"tab\\there\\nnl\\u0001ctl\"")
  }
}
