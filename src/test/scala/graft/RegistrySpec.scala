package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

class RegistrySpec extends SparkSpec {

  test("registry names are unique and oracle keys are a subset") {
    val names = Q.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every query module is listed in Q.registry once and every query it declares is registered") {
    // a query lost in a move between modules would otherwise vanish
    // from Verify, Bench and the oracle gate without failing anything
    val sources = Files.list(Paths.get("src/main/scala/graft/queries")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString(_)).toVector
    val modules = sources.flatMap("""(?m)^object (\w+)""".r.findAllMatchIn(_).map(_.group(1)))
    assert(modules.nonEmpty)
    val registrySrc = Files.readString(Paths.get("src/main/scala/graft/Q.scala"))
    val listings = modules.map(m => m -> s"""\\bqueries\\.$m\\.all\\b""".r.findAllIn(registrySrc).size)
    assert(listings.forall(_._2 == 1),
      s"modules not listed exactly once in Q.registry: ${listings.filter(_._2 != 1)}")
    // the Q-typed vals of each module object, private ones included
    val declared = modules.flatMap { m =>
      val cls = Class.forName(s"graft.queries.$m$$")
      val module = cls.getField("MODULE$").get(null)
      cls.getDeclaredMethods.toVector
        .filter(f => f.getParameterCount == 0 && f.getReturnType == classOf[Q])
        .map { f => f.setAccessible(true); f.invoke(module).asInstanceOf[Q].name }
    }
    val known = (Q.registry ++ Q.baselines).map(_.name)
    assert(declared.filterNot(known.toSet).isEmpty,
      s"queries in neither Q.registry nor Q.baselines: ${declared.filterNot(known.toSet)}")
    assert(declared.sorted == known.sorted, "a registered query is declared twice or not at all")
  }

  test("the frozen headline-68 envelope set stays resolvable in the registry") {
    // BASELINE.md's 2x envelope is held against Bench.totalHeadline;
    // a registry rename that silently shrinks the denominator would
    // make the envelope metric lie — fail loudly instead
    assert(Bench.headline.size == 68)
    val names = Q.registry.map(_.name).toSet
    val missing = Bench.headline -- names
    assert(missing.isEmpty, s"headline queries missing from registry: $missing")
  }

  test("README query counts match the registry (doc drift fails here)") {
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = """(\d+) queries total; (\d+) are DuckDB-oracle-checked""".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README.md is missing the query-count sentence"))
    assert(m.group(1).toInt == Q.registry.size,
      s"README says ${m.group(1)} total, registry has ${Q.registry.size}")
    val oracled = Q.registry.count(_.oracle.isDefined)
    assert(m.group(2).toInt == oracled,
      s"README says ${m.group(2)} oracle-checked, registry has $oracled")
  }

  test("COVERAGE.md names every registry query (doc drift fails here)") {
    // README counts are pinned above; COVERAGE rows were unguarded
    // and drifted in r7 (VERDICT r8 #7). Every registry query's qNN
    // id must appear somewhere in COVERAGE.md.
    val coverage = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("COVERAGE.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val ids = """q\d+[a-z]?""".r.findAllIn(coverage).toSet
    val missing = Q.registry.map(_.name.split("_")(0)).filterNot(ids)
    assert(missing.isEmpty,
      s"registry queries missing from COVERAGE.md: ${missing.mkString(", ")}")
  }

  test("SF10_EVERGREEN.json has a 100x-green row for every registry query") {
    // VERDICT r9 #5: the evergreen manifest was complete the day it
    // was written, but nothing forced it to STAY complete — a new
    // registry query without an sf10-green (date, commit) row would
    // silently erode the scale proof. Same pin pattern as the
    // COVERAGE/README guards above.
    val manifest = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("SF10_EVERGREEN.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val keys = """"(q\d+[a-z]?_[a-z0-9_]+)"\s*:""".r
      .findAllMatchIn(manifest).map(_.group(1)).toSet
    val missing = Q.registry.map(_.name).filterNot(keys)
    assert(missing.isEmpty,
      s"registry queries with no sf10 evergreen row: ${missing.mkString(", ")}")
  }

  test("entry flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and is non-degenerate on sf0.001") {
    // each query runs as a harness runs it, through Q.run, and must
    // leave the session as it found it: no persisted RDD, temp view,
    // conf change or running stream of its own
    val sc = spark.sparkContext
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val failures = Q.registry.flatMap { q =>
      val (rdds, vs, conf) = (sc.getPersistentRDDs.keySet.toSet, views, spark.conf.getAll)
      try {
        q.run(spark, sf())(_.count())
        val left = Seq(
          "persisted RDDs" -> (sc.getPersistentRDDs.keySet.toSet -- rdds),
          "temp views" -> (views -- vs),
          "conf" -> { val now = spark.conf.getAll.toSet; (now -- conf) ++ (conf.toSet -- now) },
          "streams" -> spark.streams.active.map(_.name).toSet)
          .collect { case (what, extra) if extra.nonEmpty => s"$what ${extra.mkString(",")}" }
        if (left.isEmpty) None else Some(s"${q.name} left ${left.mkString("; ")}")
      } catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
