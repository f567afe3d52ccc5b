package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import graft.plans.{GraftExtensions, SmallInputs}
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one SQL kernel table (`GraftExtensions.kernels`), the one
  * planner rule ([[SmallInputs]]) and their two consumers: a session
  * built with `withExtensions(new GraftExtensions)` gets both by
  * injection, any other session gets them from `Q`, which registers
  * them on the session a query runs on. A source guard keeps the table
  * the only place a kernel is declared.
  */
class ExtensionsSpec extends SparkSpec {

  private val names = Set(
    "md5long60", "vecdot", "vecdist2", "jl_project", "sorted_intersect_count",
    "tokens_ws", "token_set_ws", "minhash_bands", "minhash_sig", "simhash32",
    "ahash32", "symbol_pairs", "md5_sorted", "bigram_hashes", "bigram_strings",
    "distinct_bigram_count", "char_shingle_hashes", "shingle_fingerprint",
    "anchor_shingle_hashes", "anchor_shingle_pos", "interleave_bits")

  /** Every kernel of the table, called once through SQL. */
  private val everyKernel =
    """SELECT
      |  md5long60('abc') AS h,
      |  size(tokens_ws('a b a')) AS nt,
      |  size(token_set_ws('a b a')) AS ns,
      |  size(minhash_bands(array('x','y'), 2, 8)) AS nb,
      |  simhash32(array('x','y')) AS sh,
      |  size(md5_sorted(array('x','y'))) AS nms,
      |  size(bigram_hashes(array('a','b','a','b'))) AS nbg,
      |  distinct_bigram_count(array('a','b','a','b')) AS dbc,
      |  size(char_shingle_hashes('abcdefghij', 8)) AS ncs,
      |  shingle_fingerprint('abcdefghij', 8).n_shingles AS nsf,
      |  interleave_bits(array(2, 1), 2) AS z,
      |  round(vecdot(array(1.0D, 2.0D), array(3.0D, 4.0D)), 6) AS vd,
      |  round(vecdist2(array(1.0D, 2.0D), array(3.0D, 5.0D)), 6) AS vd2,
      |  jl_project(array(1.0D, 2.0D, 3.0D), 4) AS jl,
      |  sorted_intersect_count(array(1L, 3L, 5L), array(3L, 5L, 7L)) AS sic,
      |  minhash_sig(array('x','y'), 4) AS sig,
      |  ahash32(unhex(repeat('7f', 64))) AS ah,
      |  symbol_pairs(' a b c ') AS sp,
      |  bigram_strings(array('a','b','a')) AS bs,
      |  anchor_shingle_hashes('abcdefghijklmnop', 8, 1) AS ash,
      |  anchor_shingle_pos('abcdefghijklmnop', 8, 1) AS asp
      |""".stripMargin

  test("the table declares the 21 kernels once each") {
    val declared = GraftExtensions.kernels.map(_.name)
    assert(declared.distinct == declared, declared)
    assert(declared.toSet == names)
  }

  test("injected functions resolve and compute through SQL") {
    // the suites' session first, so create() reuses its context
    val registered = spark.sql(everyKernel).head()
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    assert(ext ne spark)
    assert(SparkSession.getDefaultSession.contains(spark), "create() leaves the default session")
    names.foreach(n =>
      assert(ext.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)), n))
    val row = ext.sql(everyKernel).head()
    assert(row == registered)
    assert(row.getLong(0) == graft.functions.Md5Long60.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    assert(row.getInt(1) == 3 && row.getInt(2) == 2)
    assert(row.getInt(3) == 2)
    assert(row.getInt(5) == 2)
    // bigrams of a,b,a,b: "a b","b a","a b" -> 2 distinct
    assert(row.getInt(6) == 2 && row.getInt(7) == 2)
    // 10 chars, window 8 -> 3 distinct windows
    assert(row.getInt(8) == 3 && row.getLong(9) == 3L)
    assert(row.getLong(10) == 6L) // (x=0b10, y=0b01) -> 0b0110
    assert(row.getDouble(11) == 11.0)
    assert(row.getDouble(12) == 13.0)
    assert(row.getSeq[Double](13).size == 4)
    assert(row.getInt(14) == 2)
    assert(row.getSeq[Long](15).size == 4)
    assert(row.getSeq[String](17) == Seq("a b", "b c"))
    assert(row.getSeq[String](18) == Seq("a b", "b a"))
    // 16 chars, window 8, every window an anchor (mod 1) -> 9 windows
    assert(row.getSeq[Long](19).size == 9 && row.getSeq[Row](20).size == 9)
  }

  test("registry queries run on a fresh session with no kernel registered") {
    val fresh = spark.newSession()
    intercept[AnalysisException](fresh.sql("SELECT simhash32(array('x'))").collect())
    Seq("q42_dedup_simhash", "q194_jl_projection_recall", "q291_span_excision")
      .foreach(n => assert(Q.byName(n).fn(fresh, sf()).collect().nonEmpty, n))
  }

  test("registering from four threads at once installs the rule once") {
    val fresh = spark.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    val pool = Executors.newFixedThreadPool(4)
    try {
      (1 to 4).map(_ => pool.submit(new Callable[Unit] {
        def call(): Unit = (1 to 25).foreach(_ =>
          Q.byName("q03_join_orders_customers").fn(fresh, sf()))
      })).foreach(_.get())
    } finally pool.shutdown()
    assert(fresh.experimental.extraOptimizations == Seq(SmallInputs))
  }

  test("the injected rule and the registered one make the same plans") {
    // the injected rule runs before the late batches (distinct
    // rewrite, subquery rewrite), extraOptimizations after all of
    // them: on the HiveQL queries the two must agree
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    val reg = spark.newSession()
    hiveQl.foreach { n =>
      def plan(s: SparkSession) = planText(Q.byName(n).fn(s, sf()).queryExecution.optimizedPlan)
      val injected = plan(ext)
      assert(injected.contains("Repartition 1, false"), s"$n:\n$injected")
      assert(injected == plan(reg), n)
    }
    assert(ext.experimental.extraOptimizations.isEmpty, "an injected session registers no copy")
  }

  test("kernels are declared and registered only through the table") {
    def sources(root: String): Vector[(String, String)] = {
      val dir = new File(root)
      assert(dir.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
      Files.walk(dir.toPath).iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> Files.readString(p)).toVector
    }
    val main = sources("src/main/scala")
    val test = sources("src/test/scala")
    def filesWith(srcs: Vector[(String, String)], re: String): Set[String] =
      srcs.collect { case (p, s) if re.r.findFirstIn(s).isDefined => p }.toSet
    val table = "src/main/scala/graft/plans/GraftExtensions.scala"
    assert(filesWith(main,
      """\b(createOrReplaceTempFunction|registerFunctions?|injectFunction)\(""") == Set(table))
    assert(filesWith(main, """GraftExtensions\.register\(""") ==
      Set("src/main/scala/graft/Q.scala"))
    assert(filesWith(test, """GraftExtensions\.register\(""") ==
      Set("src/test/scala/graft/SparkSpec.scala"))
    // no other object's register(...) but Spark's udf and listener registries
    val other = """(\w+)\.register\(""".r
    val calls = (main ++ test).flatMap { case (p, s) =>
      other.findAllMatchIn(s).map(_.group(1))
        .filterNot(Set("udf", "listenerManager", "GraftExtensions")).map(p -> _)
    }
    assert(calls.isEmpty, calls)
  }
}
