package graft

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.Row

/** Four clients on one session, as the reference's API workers share
  * one HiveServer2: two read sf0.001 and two sf0.01, each running the
  * interactive benchmark's queries plus a streaming and a SQL-text
  * query through [[Q.run]], in an order of its own. Every client must
  * get the serial result for its directory, and the session must end
  * as it began: the same persisted RDDs, temp views and conf.
  */
class ConcurrentClientsSpec extends SparkSpec {

  private val names = Seq(
    "q02_filter_predicates", "q03_join_orders_customers",
    "q06_full_outer_nation_counts", "q08_anti_join_idle_customers",
    "q15_grouping_sets_customer", "q21_window_rank_top_customers",
    "q26_topk_parts_per_brand", "q31_conditional_buckets",
    "q42_dedup_simhash", "q180_semdedup_scaled", "q142_pagerank_purchases",
    "q56_stream_tumbling_counts", "q64_correlated_subquery")

  private def rows(name: String, dir: String): Seq[Row] =
    Q.byName(name).run(spark, dir)(_.collect().toSeq)

  test("four clients on one session get their serial results and leave no state") {
    val dirs = Seq(sf(), sf("sf0.01"), sf(), sf("sf0.01"))
    val serial = dirs.distinct.map(d => d -> names.map(n => n -> rows(n, d)).toMap).toMap
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val (rdds, vs, conf) =
      (spark.sparkContext.getPersistentRDDs.keySet.toSet, views, spark.conf.getAll)

    val pool = Executors.newFixedThreadPool(dirs.size)
    val clients = try {
      dirs.zipWithIndex.map { case (dir, i) =>
        val order = names.drop(i * 3) ++ names.take(i * 3)
        pool.submit(new Callable[Seq[(String, Seq[Row])]] {
          def call(): Seq[(String, Seq[Row])] = order.map(n => n -> rows(n, dir))
        })
      }.map(_.get())
    } finally pool.shutdown()

    dirs.zip(clients).foreach { case (dir, got) =>
      got.foreach { case (n, r) =>
        assert(r == serial(dir)(n), s"$n on $dir differs from its serial result")
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == rdds)
    assert(views == vs)
    assert(spark.conf.getAll == conf)
  }
}
