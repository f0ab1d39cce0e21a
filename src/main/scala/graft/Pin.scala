package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Lineage-truncating materialization for iterative operators (CC label
  * propagation, PageRank, BFS, BPE rounds, MMR rounds, pinned stat frames).
  *
  * Default is `localCheckpoint()`: executor-memory blocks, no I/O — the
  * right latency profile for bench scale, but NOT fault-tolerant (an
  * executor loss kills the blocks and, lineage being truncated, the job).
  * On a real cluster run, set a RELIABLE checkpoint directory first:
  *
  * {{{ spark.sparkContext.setCheckpointDir("hdfs://…/ckpt") }}}
  *
  * and every pin in the engine switches to `checkpoint()` — blocks written
  * to the (replicated) checkpoint store, surviving executor loss. One
  * opt-in, zero per-operator plumbing; results are bit-identical either
  * way (PinSpec asserts this on the iterative operators).
  *
  * LIFECYCLE (round 17): pinned blocks are tracked by RDD id and freed by
  * [[release]]. A localCheckpoint persists its blocks for the LIFE OF THE
  * JVM — there is no automatic unpersist, because the engine cannot know
  * when the last consumer of a pinned frame has materialized. Left alone,
  * a long-lived session (Bench: 266 queries × 4 executions × 2 scale legs)
  * accumulates every pin ever taken in the block manager; round 16
  * measured the fallout as a contiguous 5–17× wall regression band in the
  * second bench leg (q68–q83, queries whose code hadn't changed). The
  * harness contract is therefore: the RUNNER of a query (the mains, through
  * [[Runner.execute]]; a long-running service loop) calls `Pin.release(sc)`
  * once the query's sink has materialized. Releasing is safe exactly then —
  * each fresh query call re-derives and re-pins its own frames — and
  * unsafe earlier (lineage is truncated, so a released pin cannot be
  * recomputed).
  */
object Pin {
  /** RDD ids persisted by [[apply]] since the last [[release]], scoped PER
    * SparkContext: RDD ids restart at 0 for every new context, so a flat
    * global set would let ids pinned before a context stop/restart
    * unpersist unrelated RDDs of the next context — and a `release(sc)`
    * from one session's driver loop would drop pins belonging to a
    * different concurrent context. Weak keys: a stopped context's entry
    * is GC-collectable, never replayed against a successor.
    */
  private val tracked =
    new java.util.WeakHashMap[SparkContext, scala.collection.mutable.Set[Int]]

  def apply(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined)
      df.checkpoint()
    else {
      // localCheckpoint (eager) registers its block-backed RDD in the
      // context's persistent-RDD registry inside the call — the id diff
      // identifies the pin's blocks, never a caller's .cache(). The
      // materialization itself runs OUTSIDE the lock (round 19) so that
      // independent pins taken from [[parallel]]'s driver threads overlap
      // instead of serializing on this object's monitor; concurrent diffs
      // can only OVER-attribute an id to more than one window (harmless —
      // `tracked` is one per-context set and [[release]] drops it whole),
      // never miss one (every pin's own id lands inside its own window).
      val before = synchronized { sc.getPersistentRDDs.keySet }
      val out = df.localCheckpoint()
      synchronized {
        val ids = tracked.computeIfAbsent(
          sc, _ => scala.collection.mutable.Set.empty[Int])
        ids ++= (sc.getPersistentRDDs.keySet -- before)
      }
      out
    }
  }

  /** Construct and pin several INDEPENDENT frames concurrently — the
    * guide-§2.6 "overlap independent jobs" pattern for multi-leg operators
    * (q260's three edge producers): each builder runs on its own driver
    * thread, so one leg's stage tail back-fills cores the others freed,
    * instead of the legs' eager pin jobs running strictly one after
    * another. Results are positionally aligned with `builders` and
    * bit-identical to sequential construction (the scheduler interleaves
    * TASKS, never changes them); a failed builder rethrows its cause.
    */
  def parallel(builders: Seq[() => DataFrame]): Seq[DataFrame] = {
    if (builders.sizeIs <= 1) return builders.map(b => apply(b()))
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(builders.size)
    try {
      val futs = builders.map(b => pool.submit(
        new java.util.concurrent.Callable[DataFrame] {
          override def call(): DataFrame = Pin(b())
        }))
      futs.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    } finally pool.shutdown()
  }

  /** Unpersist every pinned block taken ON THIS CONTEXT since its last
    * release (pins of other live contexts are untouched). Call only
    * after the consuming query has fully materialized: pins truncate
    * lineage, so a released frame cannot be recomputed — re-run the query
    * (which re-pins) instead of touching a released DataFrame.
    */
  def release(sc: SparkContext): Unit = synchronized {
    val ids = tracked.remove(sc)
    if (ids != null)
      for (id <- ids; rdd <- sc.getPersistentRDDs.get(id))
        rdd.unpersist(blocking = false)
  }
}
