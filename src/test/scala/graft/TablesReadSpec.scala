package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.ext.Assets

/** [[Tables.parquet]], the one parquet read: it resolves the schema from a
  * footer on the driver, so building a frame runs no Spark job, and the
  * schema, the column metadata, the table cache and the TIMESTAMP(NANOS)
  * refusal are the ones `spark.read.parquet` inference gives.
  */
class TablesReadSpec extends SparkSuite {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      GraftBridge.drainListeners(sc)
      (a, started.get)
    } finally sc.removeSparkListener(l)
  }

  private val family =
    Assets.Family("test asset", "doc_id", Seq("k" -> 16, "minJaccard" -> 0.5))

  private def asset(name: String): DataFrame =
    Assets.ensure(spark, name, family, 7L)(
      Assets.withGeometry(spark.range(5).toDF("doc_id"), family))

  test("building every Tables frame and a warm Assets.ensure runs no job") {
    val builders: Seq[(String, () => DataFrame)] = Seq(
      "region" -> (() => Tables.region(spark, sf)),
      "nation" -> (() => Tables.nation(spark, sf)),
      "customer" -> (() => Tables.customer(spark, sf)),
      "supplier" -> (() => Tables.supplier(spark, sf)),
      "part" -> (() => Tables.part(spark, sf)),
      "orders" -> (() => Tables.orders(spark, sf)),
      "lineitem" -> (() => Tables.lineitem(spark, sf)),
      "documents" -> (() => Tables.documents(spark, sf)),
      "embeddings" -> (() => Tables.embeddings(spark, sf)),
      "events" -> (() => Tables.events(spark, sf)))
    for ((name, build) <- builders) {
      val (_, jobs) = jobsDuring(build())
      assert(jobs == 0, s"Tables.$name ran $jobs job(s)")
    }
    val name = assetName("graft-read")
    asset(name).count() // cold: builds and publishes
    val (warm, jobs) = jobsDuring(asset(name))
    assert(jobs == 0, s"a warm Assets.ensure ran $jobs job(s)")
    assert(warm.count() == 5)
  }

  test("the footer schema equals spark.read.parquet's, metadata included") {
    for (name <- tables) {
      val p = s"$sf/$name.parquet"
      assert(
        Tables.parquet(spark, Seq(p)).schema == spark.read.parquet(p).schema,
        name)
    }
    val name = assetName("graft-read")
    val schema = asset(name).schema
    assert(schema == spark.read.parquet(Assets.path(name, family, 7L)).schema)
    val meta = schema("doc_id").metadata
    assert(meta.getLong(Assets.DigestKey) == 7L)
    assert(meta.getLong("k") == 16L && meta.getDouble("minJaccard") == 0.5)
  }

  test("reads of documents and events hit the hot-table cache") {
    Runner.withHotTables(spark, sf) {
      for (df <- Seq(Tables.documents(spark, sf), Tables.events(spark, sf)))
        assert(df.queryExecution.withCachedData.collectFirst {
          case r: InMemoryRelation => r
        }.nonEmpty, df.queryExecution.withCachedData.treeString)
    }
  }

  test("TIMESTAMP(NANOS) events: long ns with nanosAsLong, the hint without") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val root = Files.createTempDirectory("graft-nanos-").toString
    val conf = new Configuration()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$root/events.parquet"), conf)).withType(schema)
      .withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000000000001L))
    finally w.close()

    val ts = Tables.events(spark, root).select("ts").head().getLong(0)
    assert(ts == 1700000000000000001L)
    val strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalArgumentException](Tables.events(strict, root))
    assert(e.getMessage.contains("spark.sql.legacy.parquet.nanosAsLong"))
  }
}
