package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
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

  /** The Spark jobs `body` submits, counted from the listener bus. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftSqlBridge.drainListenerBus(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
