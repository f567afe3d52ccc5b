package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the one session factory (`Session`), the coalescing floor it
  * applies, the profiling CLI that runs on it, and the source rule that
  * keeps both the only ones of their kind.
  */
class SessionSpec extends SparkSpec {

  test("factory session: shuffle partitions = cpus, UTC, AQE on") {
    // the suites' session first, so it stays the default one; then
    // create(), not getOrCreate(): a fresh session over the shared
    // context, so the suites' session keeps its own conf
    val shared = spark.conf.getAll
    val s = Session.builder(sf("sf0.01")).create()
    assert(s ne spark)
    assert(s.conf.get("spark.sql.shuffle.partitions") == Session.cpus.toString)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") ==
      Bench.coalesceFloor(sf("sf0.01")))
    assert(spark.conf.getAll == shared)
  }

  test("coalesce floor is clamp(input bytes / 64, 64k, 1m); 1m for a missing dir") {
    val bytes = Files.walk(Paths.get(sf("sf0.01"))).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    assert(Bench.coalesceFloor(sf("sf0.01")) ==
      math.min(math.max(bytes / 64, 65536L), 1048576L).toString)
    assert(Bench.coalesceFloor(sf("no_such_scale")) == "1048576")
  }

  test("Profile.run prints the per-job breakdown and the AQE-final plan, releasing its pins") {
    // compared with the state before, not with an empty context: nothing
    // clears the session between tests
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf) {
      // q106 pins a frame, in the timed run and in the --explain run
      Profile.run(spark,
        Seq("--explain", "--runs=1", "q01_pricing_summary", "q106_global_spend_rank"), sf())
    }
    val out = buf.toString("UTF-8")
    assert(out.linesIterator.exists(_.startsWith("[job")), out)
    assert(out.contains("AQE-final plan") && out.contains("HashAggregate"), out)
    assert(!spark.sparkContext.isStopped)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == persisted)
  }

  test("src/main has one SparkSession.builder and no Profile* main but Profile") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    val sources = Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(p => p -> Files.readString(p)).toVector
    val builders = sources.flatMap { case (p, src) =>
      "SparkSession\\.builder\\(".r.findAllIn(src).map(_ => p.toString)
    }
    assert(builders == Vector("src/main/scala/graft/Session.scala"), builders)
    val profileMains = sources.flatMap { case (_, src) =>
      "object\\s+(Profile\\w*)".r.findAllMatchIn(src).map(_.group(1))
    }
    assert(profileMains == Vector("Profile"), profileMains)
  }
}
