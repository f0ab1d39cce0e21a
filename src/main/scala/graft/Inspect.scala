package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-query inspection main — the feedback loop for plan tuning that
  * Bench (one number per query) can't give. For each query, in one warmed
  * JVM:
  *
  *  1. writes the FORMATTED plan, captured before execution (the
  *     AdaptiveSparkPlan initial plan: Exchange count, join strategy,
  *     PushedFilters, ReadSchema), to `<outDir>/<query>_<suffix>.txt` — the
  *     structural evidence under `plans/` — and after it, under one
  *     `== Construction execution <id> ==` header each, the formatted
  *     plans of the SQL executions whose jobs ran before the sink (pins,
  *     collected inputs), so operators that never reach the sink plan
  *     still show;
  *  1. during that first execution prints one `[stage]` line per completed
  *     stage (construction jobs included) with task count, executor run
  *     time and CPU, shuffle read/write and spill — attributing super-linear
  *     scaling to a concrete exchange instead of guessing from wall clock;
  *  1. prints one `[cutover] <query> <gate> evidence=<n> (<source>)
  *     threshold=<t> branch=<b>` line per [[Cutover]] decision that first
  *     execution took;
  *  1. times three more noop-sink executions and prints them as one
  *     `[inspect]` line, which also carries the first execution's Spark
  *     job count (`jobs=`) and how many of those started before the sink
  *     was entered (`construct=`: eager pins, collects, counts).
  *
  * Usage: runMain graft.Inspect <outDir> <suffix> <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS and SPARK_GRAFT_COLD, as for
  * Bench (hot tables unless SPARK_GRAFT_COLD is set).
  */
object Inspect {
  // local property naming the query whose first execution is audited; jobs
  // inherit it, including those on Pin.parallel's and broadcast threads
  private val Audited = "graft.inspect.query"
  // set when the audited execution enters its sink: jobs started without
  // it are construction jobs
  private val Sinking = "graft.inspect.sink"

  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args.take(2)
    val sfDir = Runner.sfDir
    val spark = Runner.session()
    val sc = spark.sparkContext
    val lines = new StageLines
    sc.addSparkListener(lines)
    new java.io.File(outDir).mkdirs()
    Runner.withHotTables(spark, sfDir) {
      for (name <- args.drop(2)) {
        sc.setLocalProperty(Audited, name)
        val (_, decisions) = try Cutover.recorded {
          Runner.execute(spark, name, sfDir) { df =>
            sc.setLocalProperty(Sinking, "1")
            val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
            try w.write(df.queryExecution.explainString(
              ExplainMode.fromString("formatted")))
            finally w.close()
            Runner.noop(df)
          }
        } finally {
          sc.setLocalProperty(Audited, null)
          sc.setLocalProperty(Sinking, null)
        }
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          Runner.execute(spark, name, sfDir)(Runner.noop)
          (System.nanoTime() - t0) / 1e9
        }
        org.apache.spark.sql.GraftBridge.drainListeners(sc)
        val (jobs, construct) = lines.jobs(name)
        val built = lines.constructionPlans(name)
        if (built.nonEmpty) {
          val w = new java.io.FileWriter(s"$outDir/${name}_$suffix.txt", true)
          try built.foreach { case (id, plan) =>
            w.write(s"\n== Construction execution $id ==\n$plan")
          } finally w.close()
        }
        decisions.foreach(d => println(s"[cutover] $name $d"))
        println(f"[inspect] $name%-28s jobs=$jobs construct=$construct " +
          times.map(t => f"$t%.2f").mkString(" "))
      }
    }
    spark.stop()
  }

  /** One line per completed stage of a job started under [[Audited]], and
    * per query the count of such jobs and of those among them started
    * before [[Sinking]] was set. The job-start event carries the local
    * properties and its stage ids; events reach a listener in posting
    * order, so the start precedes its stages. A construction job's
    * `spark.sql.execution.id` names the SQL execution it ran for, whose
    * start event carried the formatted plan.
    */
  private class StageLines extends SparkListener {
    private val queryOf = scala.collection.mutable.Map.empty[Int, String]
    private val counts = scala.collection.mutable.Map.empty[String, (Int, Int)]
    private val built =
      scala.collection.mutable.Map.empty[String, Set[Long]]
    private val plans = scala.collection.mutable.Map.empty[Long, String]

    /** (jobs, construction jobs) of `q`'s audited execution, once all its
      * events were delivered.
      */
    def jobs(q: String): (Int, Int) =
      synchronized(counts.remove(q).getOrElse((0, 0)))

    /** (execution id, formatted plan) of each SQL execution that ran a
      * construction job of `q`'s audited execution, in execution order.
      * Forgets every plan seen so far.
      */
    def constructionPlans(q: String): Seq[(Long, String)] = synchronized {
      val out = built.remove(q).getOrElse(Set.empty).toSeq.sorted
        .flatMap(id => plans.get(id).map(id -> _))
      plans.clear()
      out
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(plans(s.executionId) = s.physicalPlanDescription)
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(Audited)))
        .foreach { q =>
          j.stageIds.foreach(queryOf(_) = q)
          val construct =
            if (j.properties.getProperty(Sinking) == null) 1 else 0
          val execution = Option(
            j.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
          synchronized {
            val (n, c) = counts.getOrElse(q, (0, 0))
            counts(q) = (n + 1, c + construct)
            if (construct == 1) execution.foreach { id =>
              built(q) = built.getOrElse(q, Set.empty[Long]) + id.toLong
            }
          }
        }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      queryOf.remove(s.stageInfo.stageId).foreach { q =>
        val m = s.stageInfo.taskMetrics
        val shufR = (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1048576
        // runMs = task run (wall) time summed over tasks; cpuMs = actual
        // executor CPU (executorCpuTime is ns) — a stage with high runMs
        // but low cpuMs is waiting (IO/scheduler), not computing
        println(f"[stage] $q ${s.stageInfo.stageId}%4d " +
          f"tasks=${s.stageInfo.numTasks}%4d " +
          f"runMs=${m.executorRunTime}%8d cpuMs=${m.executorCpuTime / 1000000}%8d " +
          f"shufWriteMB=${m.shuffleWriteMetrics.bytesWritten / 1048576}%5d " +
          f"shufReadMB=$shufR%5d spillMB=${m.diskBytesSpilled / 1048576}%5d " +
          s"| ${s.stageInfo.name.linesIterator.next().take(80)}")
      }
  }
}
