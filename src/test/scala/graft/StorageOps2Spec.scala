package graft

class StorageOps2Spec extends SparkSpec {

  test("q270: bloom bits prune where zone maps cannot, with zero false negatives") {
    val rows = queries.Storage.q270.fn(spark, sf()).collect()
    assert(rows.length == 20)
    val zone = rows.map(_.getLong(1))
    val bloom = rows.map(_.getLong(2))
    // the content hash is uncorrelated with the doc_id layout, so the
    // per-shard (min, max) envelope keeps nearly every shard ...
    assert(zone.sum.toDouble / zone.length >= 12.0,
      s"zone maps should be near-useless here, kept avg ${zone.sum / 20.0}")
    // ... while the 4096-bit shard signature collapses to the true
    // shard plus a ~shardDocs/4096 false-positive tail
    assert(bloom.sum.toDouble / bloom.length <= 6.0,
      s"bloom index must prune point lookups, kept avg ${bloom.sum / 20.0}")
    assert(bloom.sum < zone.sum, "bloom must beat zone maps on point lookups")
    // structural: every stored hash set its bit -> the probe's own
    // shard is ALWAYS kept
    assert(rows.forall(_.getBoolean(3)), "false negative detected")
    assert(bloom.forall(_ >= 1L))
  }
}
