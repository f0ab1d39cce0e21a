package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one adaptive small-input/large-input gate. An operator with
  * two bit-identical plans asks here which one to build, with the evidence
  * it has: [[footer]], a zero-job bound from the parquet footers of a bare
  * input table, or [[count]], a `count()` job for a derived frame no footer
  * describes (a pinned edge or pair list, whose count reads cached blocks).
  * The small plan runs when `evidence <= threshold`.
  *
  * The thresholds are the constants below. Only a spec changes one, through
  * [[forcing]]. Decisions are kept only inside [[recorded]] (the audited
  * execution of `Inspect`), so any other execution keeps and writes nothing.
  */
object Cutover {
  /** Rows up to which a percentile pass runs its window sort (one task per
    * group) rather than histogram pruning: measured on the lineitem
    * consumers at local[32], the sort wins at 600k rows and loses ~2× at 6M.
    */
  val SortMaxRows = 2000000L
  /** Raw edges up to which a connected-components closure is union-find on
    * the driver from one collect rather than the iterative join loop.
    */
  val LocalSolveMaxEdges = 100000L
  /** Game pairs up to which the Bradley–Terry MM iteration runs on the
    * driver from one collect rather than as per-pass jobs.
    */
  val LocalSolveMaxPairs = 100000L

  /** A gate: its name, its threshold and the names of its two branches. */
  final case class Gate(name: String, threshold: Long, small: String,
                        large: String)

  val PercentileSort = Gate("percentile_sort", SortMaxRows, "sort", "histogram")
  val ComponentsLocal = Gate("cc_local", LocalSolveMaxEdges, "local", "distributed")
  val CrossModalLocal =
    Gate("crossmodal_local", LocalSolveMaxEdges, "local", "distributed")
  val BradleyTerryLocal =
    Gate("bradley_terry_local", LocalSolveMaxPairs, "local", "distributed")

  /** What one decision saw and chose; `source` is `footer` or `count`. */
  final case class Decision(gate: String, evidence: Long, source: String,
                            threshold: Long, branch: String) {
    override def toString: String =
      s"$gate evidence=$evidence ($source) threshold=$threshold branch=$branch"
  }

  // inheritable: the threads Pin.parallel starts for an execution see the
  // override and the record of the thread that started them
  private val overrides = new InheritableThreadLocal[Map[Gate, Long]] {
    override def initialValue(): Map[Gate, Long] = Map.empty
  }
  private val records =
    new InheritableThreadLocal[scala.collection.mutable.ArrayBuffer[Decision]]

  /** Decides `gate` from the footer row count of table `name` at `sfDir`. */
  def footer(gate: Gate, spark: SparkSession, sfDir: String,
             name: String): Boolean =
    decide(gate, Tables.footerRowCount(spark, sfDir, name), "footer")

  /** Decides `gate` from `df.count()`. */
  def count(gate: Gate, df: DataFrame): Boolean =
    decide(gate, df.count(), "count")

  /** True when the small branch runs. */
  private def decide(gate: Gate, evidence: Long, source: String): Boolean = {
    val threshold = overrides.get.getOrElse(gate, gate.threshold)
    val small = evidence <= threshold
    val rec = records.get
    if (rec != null) rec.synchronized {
      rec += Decision(gate.name, evidence, source, threshold,
        if (small) gate.small else gate.large)
    }
    small
  }

  /** Runs `body` with the given gates' thresholds replaced, on this thread
    * and the threads it starts; the session's conf is not touched.
    */
  def forcing[A](thresholds: (Gate, Long)*)(body: => A): A = {
    val before = overrides.get
    overrides.set(before ++ thresholds)
    try body finally overrides.set(before)
  }

  /** Runs `body`; returns its result and the decisions taken during it. */
  def recorded[A](body: => A): (A, Seq[Decision]) = {
    val before = records.get
    val rec = scala.collection.mutable.ArrayBuffer.empty[Decision]
    records.set(rec)
    val out = try body finally records.set(before)
    (out, rec.synchronized(rec.toList))
  }
}
