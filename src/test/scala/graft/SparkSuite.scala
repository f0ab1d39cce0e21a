package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local session per suite, UTC, small shuffle
  * fan-out, ns-as-long parquet (events table).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Runner.builder(4)
    .appName(getClass.getSimpleName)
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft-warehouse-${sys.props.getOrElse("user.name", "x")}")
    .getOrCreate()

  def resource(name: String): String =
    getClass.getResource(name).getPath

  val sf: String = "/root/testdata/sf0.001"

  /** Builds `mk` with `gate`'s threshold at n − 1, n and n + 1, where n is
    * the evidence its decisions see (all from `source`), and asserts that
    * the branch flips exactly between n − 1 and n. Returns the three
    * frames, for the caller to compare.
    */
  def atBoundary(gate: Cutover.Gate, source: String)
                (mk: => DataFrame): Seq[DataFrame] = {
    def decisions(ds: Seq[Cutover.Decision]) = {
      val own = ds.filter(_.gate == gate.name)
      assert(own.nonEmpty, s"${gate.name} took no decision")
      assert(own.forall(_.source == source), own)
      own
    }
    val n = decisions(Cutover.recorded(mk)._2).head.evidence
    val runs = Seq(n - 1, n, n + 1).map { t =>
      val (df, ds) = Cutover.forcing(gate -> t)(Cutover.recorded(mk))
      val own = decisions(ds)
      assert(own.forall(d => d.evidence == n && d.threshold == t), own)
      (own.map(_.branch).distinct, df)
    }
    assert(runs.map(_._1) ==
      Seq(Seq(gate.large), Seq(gate.small), Seq(gate.small)),
      s"${gate.name} at n=$n")
    runs.map(_._2)
  }

  /** An asset name no earlier run used, so a test's assets start cold in
    * the shared store under `java.io.tmpdir`.
    */
  def assetName(tag: String): String =
    s"$tag-${java.util.UUID.randomUUID()}"

  /** Copies the directory tree at `from` to `to` — e.g. to plant an asset
    * stamped with one digest at the store path of another.
    */
  def copyTree(from: String, to: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(from)
    val fs = src.getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new org.apache.hadoop.fs.Path(to), false, conf))
  }
}
