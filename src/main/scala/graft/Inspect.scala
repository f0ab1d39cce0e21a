package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

/** Per-query inspection main — the feedback loop for plan tuning that
  * Bench (one number per query) can't give. For each query, in one warmed
  * JVM:
  *
  *  1. writes the FORMATTED plan, captured before execution (the
  *     AdaptiveSparkPlan initial plan: Exchange count, join strategy,
  *     PushedFilters, ReadSchema), to `<outDir>/<query>_<suffix>.txt` — the
  *     structural evidence under `plans/`;
  *  1. during that first execution prints one `[stage]` line per completed
  *     stage (construction jobs included) with task count, executor run
  *     time and CPU, shuffle read/write and spill — attributing super-linear
  *     scaling to a concrete exchange instead of guessing from wall clock;
  *  1. times three more noop-sink executions and prints them as one
  *     `[inspect]` line.
  *
  * Usage: runMain graft.Inspect <outDir> <suffix> <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS and SPARK_GRAFT_COLD, as for
  * Bench (hot tables unless SPARK_GRAFT_COLD is set).
  */
object Inspect {
  // local property naming the query whose first execution is audited; jobs
  // inherit it, including those on Pin.parallel's and broadcast threads
  private val Audited = "graft.inspect.query"

  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args.take(2)
    val sfDir = Runner.sfDir
    val spark = Runner.session()
    val sc = spark.sparkContext
    sc.addSparkListener(new StageLines)
    new java.io.File(outDir).mkdirs()
    Runner.withHotTables(spark, sfDir) {
      for (name <- args.drop(2)) {
        sc.setLocalProperty(Audited, name)
        try Runner.execute(spark, name, sfDir) { df =>
          val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
          try w.write(df.queryExecution.explainString(
            ExplainMode.fromString("formatted")))
          finally w.close()
          Runner.noop(df)
        } finally sc.setLocalProperty(Audited, null)
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          Runner.execute(spark, name, sfDir)(Runner.noop)
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[inspect] $name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
      }
    }
    spark.stop()
  }

  /** One line per completed stage of a job started under [[Audited]]. The
    * job-start event carries the local property and its stage ids; events
    * reach a listener in posting order, so the start precedes its stages.
    */
  private class StageLines extends SparkListener {
    private val queryOf = scala.collection.mutable.Map.empty[Int, String]

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(Audited)))
        .foreach(q => j.stageIds.foreach(queryOf(_) = q))

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
