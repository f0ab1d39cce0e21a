package graft

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is fully materialized through the `noop`
  * sink (a bare `count()` would let Catalyst prune most of the plan and time
  * nothing). One untimed warmup query first so JIT/codegen/session init cost
  * isn't attributed to the first query. Per-query numbers are the MEDIAN of
  * 3 timed runs (this container shows 2× run-to-run noise on identical
  * code); the suite's raw wall-clock is reported separately as `wall`.
  *
  * A SECOND scale point is timed when available — `SPARK_GRAFT_SF_DIR2`, or
  * the sibling sf0.01 directory when the primary is sf0.1 — and reported in
  * the same JSON line under `sf2`/`queries2`/`value2`. Two points separate
  * the fixed JVM/plan floor from data-dependent cost: a query whose time
  * doesn't move 10× the data is floor-bound; one that scales super-linearly
  * is the regression to chase.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Runner.sfDir
    val spark = Runner.session()
    val names = Runner.selected

    // A suite pass returns (per-query medians, warmup wall, timed wall):
    // `warmup_wall` = table caching + the untimed warm-up execution of
    // every query; `timed_wall` = the 3 timed runs. Round 17's driver
    // record grew the sf0.01-leg WALL 667→1134 s while the same leg's
    // per-query medians fell 3.3× — the growth was un-attributable
    // because wall was a single opaque number. Splitting it makes the
    // record self-explaining: warm-up cost (JIT/codegen, paid once per
    // plan, amortized to nothing on a long-running cluster) is reported
    // apart from the steady-state cost capacity planning reads.
    // Cold (SPARK_GRAFT_COLD, see Runner) and hot runs differ only in the
    // table cache; warm-up and median-of-3 are identical in both modes.
    def run(name: String, dir: String): Unit =
      Runner.execute(spark, name, dir)(Runner.noop)
    def suite(dir: String): (Seq[(String, Double)], Double, Double) = {
      val warm0 = System.nanoTime()
      Runner.withHotTables(spark, dir) {
        // one untimed warm-up execution of EVERY query: the first run of a
        // plan pays whole-stage-codegen compilation + JIT tiers (2-3× steady
        // state — measured, not guessed). The timed MEDIAN-OF-3 below then
        // reads steady-state operator compute with one-off stalls (GC, this
        // container's measured 2× run-to-run noise — r6: q72 timed 0.09 s
        // and 2.34 s on identical code) voted out, which is the number that
        // projects to a long-running cluster where plans are compiled once
        // and run for hours.
        for (w <- names)
          // name printed BEFORE the run so a hung/killed bench (rc=124) has
          // an attributable tail — the round-10 q231 timeout was only
          // root-caused by bisection because nothing named the query in flight
          try { System.err.println(s"[bench] warmup $w"); run(w, dir) } catch {
            // logged, not rethrown: a deterministically-failing query still
            // gets its timed runs below (which report -1), but the warm-up
            // failure must not be invisible in the bench tail
            case e: Throwable => System.err.println(
              s"[bench] warmup $w failed: ${e.getClass.getName}: ${e.getMessage}")
          }
        val timed0 = System.nanoTime()
        val warmupWall = (timed0 - warm0) / 1e9
        val results = names.map { name =>
          System.err.println(s"[bench] timing $name")
          val times = (1 to 3).flatMap { _ =>
            val t0 = System.nanoTime()
            try { run(name, dir); Some((System.nanoTime() - t0) / 1e9) } catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
            }
          }
          // median of the successful runs (middle of 3, lower-middle of 2)
          name -> (if (times.nonEmpty) times.sorted.apply((times.size - 1) / 2)
                   else -1.0)
        }
        (results, warmupWall, (System.nanoTime() - timed0) / 1e9)
      }
    }

    def json(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def total(rs: Seq[(String, Double)]): Double =
      rs.map(_._2).filter(_ >= 0).sum

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // `value`/`queries` are per-query MEDIANS (noise-voted); `wall` stays
    // the raw wall-clock of the whole suite pass (warm-up + 3 timed runs,
    // the historical field), now attributed by its `warmup_wall` (table
    // caching + one untimed execution per query — one-off JIT/codegen
    // cost) and `timed_wall` (the 3 timed runs) components. Regression
    // reads use medians; capacity planning reads timed_wall.
    val (primary, wall1) = timed(suite(sfDir))
    // second scale point: explicit env var, else the sibling sf0.01 dir
    val sfDir2 = sys.env.get("SPARK_GRAFT_SF_DIR2")
      .orElse(Option(sfDir.replace("sf0.1", "sf0.01"))
        .filter(d => d != sfDir && new java.io.File(d).isDirectory))
    val secondary = sfDir2.map(d => { val (rs, w) = timed(suite(d)); (d, rs, w) })
    val extra = secondary.map { case (d, (rs, ww, tw), w) =>
      s""","value2":${total(rs)},"queries2":${json(rs)},"sf2":"$d","wall2":$w""" +
        s""","warmup_wall2":$ww,"timed_wall2":$tw"""
    }.getOrElse("")
    val (rs1, ww1, tw1) = primary
    println(s"""{"metric":"total","value":${total(rs1)},"unit":"sec","queries":${json(rs1)},"sf":"$sfDir","wall":$wall1,"warmup_wall":$ww1,"timed_wall":$tw1$extra}""")
    spark.stop()
  }
}
