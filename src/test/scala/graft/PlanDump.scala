package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan texts of every registry query and baseline, for proving that a
  * refactor changed no plan:
  *
  *   sbt "Test/runMain graft.PlanDump <sfDir> <outDir>"
  *
  * Each query is built inside [[Q.run]] on a [[Session]] session and
  * writes three files to `outDir`: `<name>.optimized.txt` (the
  * optimized logical plan), `<name>.physical.txt` (the AQE-initial
  * physical plan) and `<name>.oracle.sql`. A query that fails to build
  * writes `<name>.error.txt` instead of the plans. Run it on two trees
  * with the same `SPARK_GRAFT_CPUS` and compare with `diff -r`.
  *
  * Queries are built in name order, not registry order, so both trees
  * build them in the same sequence whatever their module layout. The
  * group numbers of a rewritten distinct aggregate (q79, q99, q292)
  * still follow expression-id hashes, and the ids drift from run to run
  * with AQE's re-planning of the eager jobs before them, so those plans
  * can differ by a permutation of the groups between two runs of one
  * tree: hold such a diff against a second run of the parent.
  *
  * Ids that differ from run to run are stripped: expression ids
  * (`#123`), plan and RDD ids, lambda and object identities, UUIDs,
  * the process id (in temp paths) and the working directory. So is the query module enclosing a class the
  * plan names (`graft.queries.Events$SessEvent` reads
  * `graft.queries.SessEvent`): moving a query between modules renames
  * the class, not the plan. Eager build jobs (pins, observed counts) do
  * not show in a plan; `JobCountSpec` and `Profile` count them.
  */
object PlanDump {

  private val cwd = Paths.get("").toAbsolutePath.toString

  private val ids = Seq(
    """#\d+L?""" -> "#",
    """\[plan_id=\d+\]""" -> "[plan_id]",
    """(\w*RDD)\[\d+\]""" -> "$1[]",
    """[\w.$]*\$\$Lambda[\w$/]*@[0-9a-f]+""" -> "<lambda>",
    """graft\.queries\.\w+\$(\w)""" -> "graft.queries.$1",
    """@[0-9a-f]{5,}\b""" -> "@",
    """[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""" -> "<uuid>",
    // last, so that no id left in the text can match it
    s"(?<!\\d)${ProcessHandle.current().pid()}(?!\\d)" -> "<pid>")

  def strip(plan: String): String =
    ids.foldLeft(plan.replace(cwd, "<cwd>")) { case (s, (re, to)) =>
      s.replaceAll(re, to)
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // untruncated scan metadata: a truncated filter list cuts at a
    // length that the stripped ids no longer show
    val spark = Session.builder(sfDir)
      .config("spark.sql.maxMetadataStringLength", Int.MaxValue.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    def write(file: String, text: String): Unit =
      Files.write(Paths.get(outDir, file), (text + "\n").getBytes(UTF_8))
    try (Q.registry ++ Q.baselines).sortBy(_.name).foreach { q =>
      try q.run(spark, sfDir) { df =>
        val qe = df.queryExecution
        val physical = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p                        => p
        }
        write(s"${q.name}.optimized.txt", strip(qe.optimizedPlan.toString))
        write(s"${q.name}.physical.txt", strip(physical.toString))
      } catch { case e: Throwable =>
        write(s"${q.name}.error.txt", strip(String.valueOf(e.getMessage)))
      }
      write(s"${q.name}.oracle.sql", q.oracle.getOrElse(""))
    } finally Session.stop(spark)
  }
}
