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

  /** Apply a SparkSessionExtensions' injected functions to a live
    * session's registry (the hook sessions run at creation; exposed
    * so specs can exercise the injection path without a fresh JVM).
    */
  def registerInjectedFunctions(
      ext: SparkSessionExtensions, spark: SparkSession): Unit =
    ext.registerFunctions(
      spark.sessionState.functionRegistry.asInstanceOf[
        org.apache.spark.sql.catalyst.analysis.FunctionRegistry])

  /** Block until every event posted so far has reached every
    * SparkListener, so a listener read right after an action sees that
    * action's job-end events.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

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
