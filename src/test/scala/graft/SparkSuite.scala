package graft

import org.apache.spark.sql.SparkSession
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
}
