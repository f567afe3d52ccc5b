package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registry query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query
  * runs through [[Q.run]], so its pins are gone before the next starts.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing args: query names to dump; with none, every
    // registry query is dumped
    val only = args.drop(2).toSet
    val spark = Session.builder(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Q.registry.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      try q.run(spark, sfDir)(_.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
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
    Session.stop(spark)
  }
}
