package graft

/** Pins the Spark job counts of whbench's queries, each built and
  * consumed through [[Q.run]] at sf0.01 on the suites' session. A plan
  * dump does not show eager build jobs (pins, observed counts) but this
  * count does, so a refactor that adds or drops a pass over the data
  * fails here.
  *
  * The eight HiveQL queries read well under the small-input gate, so
  * each is one job ([[graft.plans.SmallInputs]]). The curation queries'
  * jobs are their pins and explicit repartitions.
  */
class JobCountSpec extends SparkSpec {

  private val expected = hiveQl.map(_ -> 1) ++ Seq(
    "q42_dedup_simhash" -> 6,
    "q180_semdedup_scaled" -> 15,
    "q142_pagerank_purchases" -> 11)

  expected.foreach { case (name, n) =>
    test(s"$name runs $n Spark jobs at sf0.01") {
      val jobs = jobsOf(Q.byName(name).run(spark, sf("sf0.01"))(
        _.write.format("noop").mode("overwrite").save()))
      assert(jobs == n, s"$name ran $jobs jobs")
    }
  }
}
