package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.plans.SmallInputs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val), with
  * the SQL kernel table and the small-input rule registered, as `Q`
  * registers them for registry queries: specs call kernels by name
  * outside `Q`. Every fixture is below the rule's gate, so a plan made
  * here is the single-stage one unless it is made inside
  * [[withoutSmallInputs]].
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

  /** whbench's eight HiveQL queries, one per kind of operator. */
  val hiveQl: Seq[String] = Seq(
    "q02_filter_predicates", "q03_join_orders_customers",
    "q06_full_outer_nation_counts", "q08_anti_join_idle_customers",
    "q15_grouping_sets_customer", "q21_window_rank_top_customers",
    "q26_topk_parts_per_brand", "q31_conditional_buckets")

  /** Run `body` with [[SmallInputs]] taken out of the session, so the
    * plans it makes are the ones the same query makes above the rule's
    * gate. Build registry queries inside with `Q.build`: `Q.fn`
    * registers the rule again, which fails the call.
    */
  def withoutSmallInputs[T](body: => T): T = {
    val exp = spark.experimental
    val saved = exp.extraOptimizations
    exp.extraOptimizations = saved.filterNot(_ == SmallInputs)
    try {
      val r = body
      assert(!exp.extraOptimizations.contains(SmallInputs),
        "the rule was registered again inside withoutSmallInputs: build with Q.build")
      r
    } finally exp.extraOptimizations = saved
  }

  /** A test whose plans are made with the rule out ([[withoutSmallInputs]]):
    * a pin of the shape a query takes above the small-input gate.
    */
  def scaleTest(name: String)(body: => Any): Unit =
    test(name)(withoutSmallInputs(body))

  /** A plan's text with expression ids removed, so two builds of one
    * query compare equal when their plans are.
    */
  def planText(plan: Any): String = plan.toString.replaceAll("#\\d+L?", "#")

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
