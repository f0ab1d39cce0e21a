package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every runner of queries shares — the `Bench`, `Verify` and
  * `Inspect` mains and the test suites: one session configuration, the
  * hot-table set, the `SPARK_GRAFT_ONLY` subset and the one way a query is
  * executed.
  */
object Runner {
  /** Worker threads and shuffle partitions of a main's session. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)
  /** Scale-factor directory of the mains that do not take it as an argument. */
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  // SPARK_GRAFT_COLD=1: skip the in-memory table cache so executions pay the
  // parquet scan — the leg that makes I/O work (pushdown, pruning, split
  // sizing) measurable at all. Unset keeps the historical hot-table
  // methodology, so Bench's round-over-round comparison stays like-for-like.
  private val cold = sys.env.get("SPARK_GRAFT_COLD").exists(_.nonEmpty)

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .withExtensions(new GraftExtensions)
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // events.parquet carries TIMESTAMP(NANOS); read as ns longs (see Tables)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def session(): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Registered query names, sorted, cut to the comma-separated
    * `SPARK_GRAFT_ONLY` subset when it is set (local iteration; the full
    * suite when unset).
    */
  def selected: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    SparkEntry.queries.keys.toSeq.sorted.filter(n => only.isEmpty || only(n))
  }

  /** Runs `body` with every input table at `dir` cached in memory (unless
    * SPARK_GRAFT_COLD is set), uncaching them afterwards. CacheManager
    * matches any query reading the same parquet path by canonicalized plan,
    * so executions measure operator compute, not repeated file scans — the
    * hot-table pattern of a real cluster (cache / Delta caching / alluxio).
    * Cached inputs change InMemoryRelation stats and can flip join
    * strategies, so an inspection of a Bench regression runs under the same
    * setting as the Bench run.
    */
  def withHotTables[A](spark: SparkSession, dir: String)(body: => A): A = {
    val tables = if (cold) Nil else Seq(
      Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.customer(spark, dir), Tables.part(spark, dir),
      Tables.supplier(spark, dir), Tables.nation(spark, dir),
      Tables.region(spark, dir), Tables.documents(spark, dir),
      Tables.embeddings(spark, dir), Tables.events(spark, dir))
    tables.foreach(_.cache().count())
    try body finally tables.foreach(_.unpersist())
  }

  /** Constructs query `name` at `dir`, hands it to `sink`, then releases
    * every pinned localCheckpoint block it took — also when construction or
    * the sink throws. Without the release the pins of every execution
    * accumulate in the block manager for the life of the JVM (round 16
    * measured the fallout as a contiguous 5–17× regression band in Bench's
    * second leg, q68–q83, incl. queries whose code hadn't changed). The
    * sink must fully materialize the frame: released pins cannot be
    * recomputed.
    */
  def execute(spark: SparkSession, name: String, dir: String)
             (sink: DataFrame => Unit): Unit =
    try sink(SparkEntry.queries(name)(spark, dir))
    finally Pin.release(spark.sparkContext)

  /** Full materialization with nothing kept (a bare `count()` would let
    * Catalyst prune most of the plan and time nothing).
    */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}
