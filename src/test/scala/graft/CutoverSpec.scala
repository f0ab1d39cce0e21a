package graft

/** The one adaptive gate: scoped overrides, decision records, and the
  * zero-job footer evidence of the percentile gate.
  */
class CutoverSpec extends SparkSuite {

  test("forcing reaches Pin.parallel threads, no other thread, and leaves " +
    "the session conf alone") {
    val df = spark.range(5).toDF("a")
    def decide() = { Cutover.count(Cutover.ComponentsLocal, df); df }
    val conf = spark.conf.getAll
    // a thread that exists before the scope keeps the constants
    val outside = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      outside.submit(new Runnable { def run(): Unit = () }).get()
      val (there, ds) = Cutover.recorded(
        Cutover.forcing(Cutover.ComponentsLocal -> 4L) {
          Pin.parallel(Seq(() => decide(), () => decide()))
          outside.submit(
            new java.util.concurrent.Callable[Seq[Cutover.Decision]] {
              def call(): Seq[Cutover.Decision] =
                Cutover.recorded(decide())._2
            }).get()
        })
      assert(ds.map(_.toString) == Seq.fill(2)(
        "cc_local evidence=5 (count) threshold=4 branch=distributed"))
      assert(there.map(_.threshold) == Seq(Cutover.LocalSolveMaxEdges))
    } finally outside.shutdown()
    assert(spark.conf.getAll == conf)
    val (_, after) = Cutover.recorded(decide())
    assert(after.map(d => (d.threshold, d.branch)) ==
      Seq((Cutover.LocalSolveMaxEdges, "local")))
  }

  test("decisions outside recorded are kept nowhere") {
    val df = spark.range(3).toDF("a")
    Cutover.count(Cutover.BradleyTerryLocal, df)
    val (_, ds) = Cutover.recorded(())
    assert(ds.isEmpty)
  }

  test("the percentile gate decides from footer evidence with no job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (sort, ds) = Cutover.recorded(
        Cutover.footer(Cutover.PercentileSort, spark, sf, "lineitem"))
      org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
      assert(jobs.get == 0)
      assert(sort)
      assert(ds.map(d => (d.gate, d.source, d.branch)) ==
        Seq(("percentile_sort", "footer", "sort")))
      assert(ds.head.evidence == Tables.lineitem(spark, sf).count())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
