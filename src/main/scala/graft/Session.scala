package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main in this project starts Spark
  * here, on the settings `Bench` measures with — `local[cpus]`,
  * shuffle partitions = cpus, UTC, AQE on with the input-size-derived
  * coalescing floor ([[Bench.coalesceFloor]]). It returns a builder so
  * a caller can add what only it needs (Hive support, extensions, a
  * warehouse dir) before `getOrCreate()`.
  *
  * A harness that runs registry queries one after another on one
  * session runs each through [[Q.run]], which releases the query's pins
  * when it ends: nothing here, or in the harness, clears the session.
  */
object Session {

  /** Worker threads: SPARK_GRAFT_CPUS, else this host's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ >= 1).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `inputDir` is what the session will read; it sizes the floor. */
  def builder(inputDir: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        Bench.coalesceFloor(inputDir))
      .config("spark.ui.enabled", "false")

  /** Stop `spark` as every main ends. Active streams stop first, then
    * the state-store coordinator while SparkEnv is still alive (its
    * maintenance thread outlives the queries and would otherwise throw
    * "SparkEnv not active" at shutdown), then the session.
    */
  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }
}
