package graft

import java.nio.file.{Files, Paths}

/** The shared query-driving path of the mains: pin hygiene of
  * [[Runner.execute]], loud failures from [[Verify.dump]], and a query that
  * must not change its answer when the tables are hot.
  */
class RunnerSpec extends SparkSuite {
  test("execute releases every pin the query took (q102_triangles)") {
    val sc = spark.sparkContext
    Pin.release(sc) // drain pins left by earlier tests in this suite's JVM
    // the registry holds its RDDs weakly; keeping this snapshot keeps them
    // alive, so nothing in it can vanish while the query runs
    val before = sc.getPersistentRDDs
    var pinnedInSink = Set.empty[Int]
    Runner.execute(spark, "q102_triangles", sf) { df =>
      pinnedInSink = sc.getPersistentRDDs.keySet.toSet -- before.keySet
      Runner.noop(df)
    }
    assert(pinnedInSink.nonEmpty, "q102_triangles must take pins")
    assert(sc.getPersistentRDDs.keySet == before.keySet)
  }

  test("Verify.dump returns a failed query and still writes oracle_sql.json") {
    val out = Files.createTempDirectory("graft-verify-").toString
    val failed = Verify.dump(spark, s"$out/no-such-sf", out,
      Seq("q92_file_manifest"))
    assert(failed == Seq("q92_file_manifest"))
    val oracle = Files.readString(Paths.get(s"$out/oracle_sql.json"))
    assert(oracle.contains("\"q92_file_manifest\""))
  }

  test("q92_file_manifest names the file when lineitem is cached") {
    val lineitem = Tables.lineitem(spark, sf)
    lineitem.cache().count()
    try {
      val rows = SparkEntry.queries("q92_file_manifest")(spark, sf).collect()
      assert(rows.map(_.getAs[String]("file")).toSeq == Seq("lineitem.parquet"))
      assert(rows.head.getAs[Long]("n_rows") == lineitem.count())
    } finally lineitem.unpersist()
  }
}
