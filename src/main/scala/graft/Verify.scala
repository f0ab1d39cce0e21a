package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Any failed query makes the run exit non-zero, naming the failed queries
  * on stderr — after every other query's dump and oracle_sql.json are
  * written.
  *
  * `graft.Verify --oracle-only <outDir>` writes JUST oracle_sql.json (no
  * SparkSession, instant) — for re-checking an existing result dump after
  * an oracle-SQL-only edit, instead of re-running every query.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--oracle-only") {
      writeOracleJson(args(1)); return
    }
    val Array(sfDir, outDir) = args
    val spark = Runner.session()
    val failed = try dump(spark, sfDir, outDir, Runner.selected)
      finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** Writes each named query's result to `<outDir>/<name>` and then
    * oracle_sql.json; a failing query is logged and skipped. Returns the
    * names of the queries that failed.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Seq[String] = {
    val failed = names.filterNot { name =>
      try {
        Runner.execute(spark, name, sfDir)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
    }
    writeOracleJson(outDir)
    failed
  }

  private def writeOracleJson(outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
