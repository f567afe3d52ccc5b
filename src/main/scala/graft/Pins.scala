package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, GraftSqlBridge, SparkSession}

/** The engine's one way to pin a frame, and the scope that owns pins.
  *
  * [[pin]] is an eager `localCheckpoint`: the frame is computed once and
  * its blocks held in executor storage, so later reads start from them.
  * A pin cannot recompute its blocks, so it must outlive every reader.
  * A query's readers end when its result has been consumed: [[scoped]]
  * (which [[Q.run]] opens around build and consume) unpersists exactly
  * the pins made inside it when it exits, also when the body throws.
  * Iterative operators may still free a pin earlier
  * (`GraftSqlBridge.unpersistCheckpoint`, [[graft.graph.Rotate]]).
  *
  * The scope is keyed by a Spark local property, which `SparkContext`
  * copies into threads created while it is set: the threads of
  * [[graft.functions.Overlap.par]] and the streaming `foreachBatch`
  * thread record into the scope of the query that started them. The
  * scope's pins live in a map that the scope removes on exit, so a
  * thread still holding an old id records nothing and keeps nothing
  * alive. Outside a scope a pin is recorded nowhere and lives until the
  * caller unpersists it or the ContextCleaner collects it.
  */
object Pins {

  private val ScopeKey = "graft.pins.scope"
  private val nextScope = new AtomicLong
  private val held = new ConcurrentHashMap[String, List[Dataset[_]]]()

  /** `ds`, computed now and pinned; recorded in the current scope. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val pinned = ds.localCheckpoint(true)
    val scope = ds.sparkSession.sparkContext.getLocalProperty(ScopeKey)
    if (scope != null) held.computeIfPresent(scope, (_, pins) => pinned :: pins)
    pinned
  }

  /** Run `body`, then unpersist every pin made inside it. */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(ScopeKey)
    val scope = nextScope.incrementAndGet().toString
    held.put(scope, Nil)
    sc.setLocalProperty(ScopeKey, scope)
    try body
    finally {
      sc.setLocalProperty(ScopeKey, outer)
      held.remove(scope).foreach(GraftSqlBridge.unpersistCheckpoint(_))
    }
  }
}
