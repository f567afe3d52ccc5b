package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the private[sql] Column↔Expression converters (Spark
  * 4 removed the public `new Column(expr)` constructor). Lives in the
  * org.apache.spark.sql package — the standard pattern for libraries
  * that define custom Catalyst expressions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached every
    * SparkListener, so a listener read right after an action sees that
    * action's job-end events.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Run `body` with `spark` active and its SQL conf copied into the
    * local properties of every job `body` submits, as a Dataset action
    * does: driver code that reads `SQLConf.get`, and RDD jobs over a
    * plan's `toRdd`, then see this session's settings.
    */
  def withSqlConf[T](spark: SparkSession)(body: => T): T =
    spark.withActive(execution.SQLExecution.withSQLConfPropagated(
      spark.asInstanceOf[classic.SparkSession])(body))

  /** SQL `text`, parsed by the session's parser, with `bind` applied to
    * the parsed plan before analysis: how [[graft.Tables.sql]] puts
    * tables into a plan without registering them on the session.
    */
  def sql(spark: SparkSession, text: String)(
      bind: catalyst.plans.logical.LogicalPlan => catalyst.plans.logical.LogicalPlan): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.withActive(classic.Dataset.ofRows(s, bind(s.sessionState.sqlParser.parsePlan(text))))
  }

  /** The session's Hadoop configuration, as its file sources build it. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Whether Spark's file listing skips an entry of this name (`_SUCCESS`,
    * `.crc` side files, `._COPYING_` partials; not `_metadata` summaries).
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema Spark's parquet inference takes from one footer: the Spark
    * schema a Spark writer stored in the file's metadata, else the parquet
    * schema converted under the session's current conf.
    */
  def parquetSchema(
      spark: SparkSession, footer: org.apache.parquet.hadoop.Footer): types.StructType = {
    import execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
      spark.asInstanceOf[classic.SparkSession].sessionState.conf))
  }

  /** `df` as a leaf over `rows`, the RDD of `df`'s executed plan, with
    * `df`'s statistics. A query over the result reads `rows` whole: no
    * column pruning or filter pushdown reaches the plan underneath.
    * Nothing is persisted; every action recomputes `rows`.
    */
  def overRdd(
      df: Dataset[_], rows: org.apache.spark.rdd.RDD[catalyst.InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }

  /** Free the storage behind an eagerly `localCheckpoint(true)`'d
    * Dataset. `Dataset.unpersist` only consults the CacheManager, so
    * a checkpoint's MEMORY_AND_DISK blocks otherwise live until the
    * ContextCleaner eventually collects the RDD — in an iterative
    * operator that re-checkpoints a corpus-sized frame every round,
    * that leaves r live copies in executor storage. The checkpointed
    * plan is a `LogicalRDD` leaf over the persisted RDD; unpersist
    * that RDD directly. Safe only once nothing will read `df` again
    * (a localCheckpoint cannot recompute its blocks).
    */
  def unpersistCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case r: execution.LogicalRDD => r.rdd.unpersist(blocking)
      case _ => ()
    }

  /** A fresh-attribute copy of an eagerly checkpointed frame, sharing
    * its pinned RDD. Iterative operators that reference one pinned
    * frame from several places in one plan (edge table per round,
    * pointer-halving self-join) MUST use a fresh instance per
    * reference: a LogicalRDD pinned with preserved outputPartitioning
    * carries attribute expressions in the leaf, and the analyzer's
    * DeduplicateRelations re-instancing of a repeated leaf breaks
    * canonical `sameResult` for every enclosing subtree — measured in
    * r14 as silent full-lineage recomputation (cache substitution and
    * exchange reuse both dead, 481-task exponential replays in the CC
    * loop). Distinct leaves per reference mean the dedup rule never
    * fires. No-op passthrough for non-checkpoint plans.
    */
  def freshInstance(df: Dataset[_]): DataFrame = df.queryExecution.analyzed match {
    case r: execution.LogicalRDD =>
      classic.Dataset.ofRows(
        df.sparkSession.asInstanceOf[classic.SparkSession], r.newInstance())
    case _ => df.toDF()
  }

  /** A copy of an eagerly checkpointed frame with NO partitioning /
    * ordering metadata in the leaf. Unlike [[freshInstance]] copies, a
    * plain leaf survives DeduplicateRelations with `sameResult`
    * intact, so ONE frame referenced from several places in a plan
    * (e.g. both joins of a propagate+compress round) keeps canonical
    * equality and exchange/broadcast REUSE — one build instead of one
    * per reference. Use when reuse matters more than the preserved
    * partitioning (broadcast-side inputs don't benefit from it).
    */
  def plainInstance(df: Dataset[_]): DataFrame = df.queryExecution.analyzed match {
    case r: execution.LogicalRDD =>
      classic.Dataset.ofRows(
        df.sparkSession.asInstanceOf[classic.SparkSession],
        execution.LogicalRDD(r.output.map(_.newInstance()), r.rdd)(
          df.sparkSession.asInstanceOf[classic.SparkSession]))
    case _ => df.toDF()
  }
}
