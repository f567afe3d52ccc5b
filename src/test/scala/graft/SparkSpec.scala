package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val), with
  * the SQL kernel table registered: specs call kernels by name outside
  * `Q`, which registers it for registry queries.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
      .getOrCreate()
    graft.plans.GraftExtensions.register(s)
    s
  }

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
