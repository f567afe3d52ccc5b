package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.collection.mutable

/** The profiling CLI: time named registry queries (all if no names)
  * with Bench's warm-up and timer, on Bench's session settings. The
  * last timed run of each query prints its per-job breakdown — wall,
  * driver-side gap before the job, tasks and stage names — so an
  * iterative operator (CC loop, peel, MMR rounds) decomposes into
  * per-action costs.
  * `--explain` then runs the query once more, untimed, and prints its
  * AQE-final executed plan.
  *
  *   sbt "runMain graft.Profile q43_ngram_jaccard --explain --runs=6"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq, sfDir) finally Session.stop(spark)
  }

  /** Profile on a caller's session. Every run goes through [[Q.run]],
    * so each leaves the session as it found it.
    */
  def run(spark: SparkSession, args: Seq[String], sfDir: String): Unit = {
    val explain = args.contains("--explain")
    // a bad or non-positive --runs would otherwise time ZERO runs per
    // query and print an empty profile with no hint why
    val runs = args.collectFirst { case a if a.startsWith("--runs=") =>
      a.stripPrefix("--runs=").toIntOption.filter(_ >= 1).getOrElse {
        System.err.println(s"[prof] ignoring invalid $a (need --runs=N, N>=1); using 2")
        2
      }
    }.getOrElse(2)
    val names0 = args.filterNot(_.startsWith("--"))
    val names = if (names0.nonEmpty) names0 else Q.registry.map(_.name).sorted
    Bench.warmUp(spark, sfDir)
    def timed(name: String): Double = Bench.timed(spark, sfDir, name)

    names.foreach { name =>
      val jobs = new JobLog
      val ts = (1 to runs).map { i =>
        val t = if (i < runs) timed(name) else jobs.during(spark.sparkContext)(timed(name))
        println(f"[prof] $name run$i: $t%.2f s")
        t
      }
      jobs.print(name, ts.last)
      if (runs > 2)
        println(f"[prof] $name best(after-warm)=${ts.drop(1).min}%.3f s")
      if (explain) Q.byName(name).run(spark, sfDir) { df =>
        val qe = df.queryExecution
        SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))
        println(s"==== $name AQE-final plan @ $sfDir ====")
        println(qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p                        => p.toString
        })
      }
    }
  }

  /** Job-level attribution for one run: every job's wall time, task
    * count and stage names, recorded by a listener attached for that
    * run only.
    */
  private final class JobLog extends SparkListener {
    private case class J(id: Int, t0: Long, t1: Long, site: String, tasks: Int)
    private val starts = mutable.Map[Int, (Long, String, Int)]()
    private val done = mutable.ArrayBuffer[J]()

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val site = js.stageInfos
        .map(si => s"${si.name.takeWhile(_ != '(').trim}:${si.numTasks}").mkString(" | ")
      starts(js.jobId) = (js.time, site, js.stageInfos.map(_.numTasks).sum)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(je.jobId).foreach { case (t0, site, n) =>
        done += J(je.jobId, t0, je.time, site, n)
      }
    }

    def during[T](sc: SparkContext)(body: => T): T = {
      sc.addSparkListener(this)
      try body
      finally {
        GraftSqlBridge.drainListenerBus(sc)
        sc.removeSparkListener(this)
      }
    }

    def print(name: String, wallS: Double): Unit = {
      val jobs = synchronized(done.sortBy(_.t0).toVector)
      val wall = (wallS * 1000).toLong
      println(s"==== $name wall=${f"$wallS%.3f"} s jobs=${jobs.size} ====")
      // jobs can overlap (broadcasts run beside the main job), so the
      // driver-side gaps are the wall minus the UNION of job intervals
      var prevEnd = jobs.headOption.map(_.t0).getOrElse(0L)
      var busy = 0L
      jobs.foreach { j =>
        val gap = math.max(0L, j.t0 - prevEnd) // driver-side think time before this job
        busy += math.max(0L, j.t1 - math.max(j.t0, prevEnd))
        prevEnd = math.max(prevEnd, j.t1)
        println(f"[job ${j.id}%4d] ${j.t1 - j.t0}%6d ms  gap=$gap%5d ms  tasks=${j.tasks}%4d  ${j.site}")
      }
      val jobMs = jobs.map(j => j.t1 - j.t0).sum
      println(s"[sum] jobs=$jobMs ms, busy=$busy ms, wall=$wall ms, driver-gaps=${wall - busy} ms")
    }
  }
}
