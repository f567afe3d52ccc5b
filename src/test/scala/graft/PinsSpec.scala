package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.functions.Overlap
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions.{col, expr}

/** Pins the pin scope ([[Pins]]): a scope releases exactly the pins made
  * inside it, on its own thread and on the threads it starts, also when
  * its body throws; and the source rules that keep `pin` the only pin
  * and the engine free of global clears.
  */
class PinsSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame(n: Int): DataFrame = spark.range(0, n).toDF("id")

  test("a scope unpersists the pins made inside it, on every thread it starts, and no others") {
    val before = persisted
    val outside = Pins.pin(frame(10))
    val kept = persisted -- before
    assert(kept.size == 1)
    var inner: Seq[DataFrame] = Nil
    Pins.scoped(spark) {
      inner = Pins.pin(frame(20)) +:
        Overlap.par(spark)(() => Pins.pin(frame(30)), () => Pins.pin(frame(40)))
      assert((persisted -- before -- kept).size == 3)
      assert(inner.map(_.count()) == Seq(20L, 30L, 40L))
    }
    assert(persisted == before ++ kept)
    assert(outside.count() == 10)
    GraftSqlBridge.unpersistCheckpoint(outside)
    assert(persisted == before)
  }

  test("a scope releases its pins when its body throws") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      Pins.scoped(spark) {
        Pins.pin(frame(10))
        assert(persisted != before)
        throw new IllegalStateException("query failed")
      }
    }
    assert(e.getMessage == "query failed")
    assert(persisted == before)
  }

  test("a thread that outlives its scope records into no later scope") {
    val before = persisted
    val pool = Pins.scoped(spark) {
      // the pool's thread is created here, so it holds this scope's id
      val p = java.util.concurrent.Executors.newFixedThreadPool(1)
      p.submit(new Runnable { def run(): Unit = () }).get()
      p
    }
    try {
      var stale: DataFrame = null
      Pins.scoped(spark) {
        stale = pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = Pins.pin(frame(10))
        }).get()
      }
      val left = persisted -- before
      assert(left.size == 1, "the later scope must not take the stale thread's pin")
      GraftSqlBridge.unpersistCheckpoint(stale)
      assert(persisted == before)
    } finally pool.shutdown()
  }

  test("pins made on the foreachBatch thread belong to the scope that started the stream") {
    val dir = Files.createTempDirectory("graft-pins-stream").toString
    Tables.events(spark, sf())
      .select(col("event_type").as("k"), col("user_id").cast("string").as("v"))
      .repartition(3).write.parquet(s"$dir/ev")
    val stream = spark.readStream.schema(spark.read.parquet(s"$dir/ev").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/ev")
    val before = persisted
    val keys = Pins.scoped(spark) {
      val (view, batches) = EventStreams.hllViewMaintenance(stream)
      assert(batches >= 3)
      assert(persisted != before, "the stored view is pinned until the scope ends")
      view.select(col("k"), expr("hll_sketch_estimate(sk)")).count()
    }
    assert(keys > 0)
    assert(persisted == before)
  }

  private lazy val mainSources: Vector[(String, String)] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> Files.readString(p)).toVector
  }

  test("src/main pins only through Pins.pin") {
    val sites = mainSources.collect {
      case (p, src) if src.contains(".localCheckpoint(") => p
    }
    assert(sites == Vector("src/main/scala/graft/Pins.scala"), sites)
  }

  test("no registry query registers a view, and src/main clears no global state") {
    val viewing = mainSources.collect {
      case (p, src) if p.contains("/queries/") &&
        (src.contains("createOrReplaceTempView") || src.contains("registerAll")) => p
    }
    assert(viewing.isEmpty, viewing)
    val clearing = mainSources.collect {
      case (p, src) if src.contains("releasePins") || src.contains("clearCache") ||
        """getPersistentRDDs[\s\S]{0,120}unpersist""".r.findFirstIn(src).isDefined => p
    }
    assert(clearing.isEmpty, clearing)
  }
}
