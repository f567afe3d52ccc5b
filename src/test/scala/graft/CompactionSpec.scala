package graft

import graft.layout.Compaction

class CompactionSpec extends SparkSpec {

  private def parquetFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  test("compaction collapses small files to the byte-target count, losslessly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    spark.range(0, 10000).toDF("id")
      .repartition(64)
      .write.mode("overwrite").parquet(dir)
    val before = parquetFiles(dir)
    // non-degenerate setup (the ZOrder lesson: assert the baseline is
    // actually bad before asserting the fix improved it)
    assert(before >= 32, s"expected many small files, got $before")

    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = totalBytes / 4 // aim for ~4 files
    val (b, a) = Compaction.compact(spark, dir, targetBytes = target)

    assert(b == before)
    assert(parquetFiles(dir) == a)
    assert(a <= 5 && a < before, s"after=$a before=$before")
    val out = spark.read.parquet(dir)
    assert(out.count() == 10000)
    assert(out.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == 10000L * 9999 / 2)
  }

  test("a swap that cannot rename the rewrite in throws and leaves the table readable") {
    val local = java.nio.file.Files.createTempDirectory("graft-compact-fail").toString + "/t"
    val dir = s"failmv://$local"
    spark.sparkContext.hadoopConfiguration.set("fs.failmv.impl", classOf[FailingRenameFs].getName)
    spark.range(0, 10000).toDF("id").repartition(16).write.parquet(dir)
    val before = parquetFiles(local)
    FailingRenameFs.failNextRenameTo = local
    intercept[java.io.IOException](Compaction.compact(spark, dir, targetBytes = 1L << 30))
    assert(FailingRenameFs.failNextRenameTo == null, "the rewrite's rename was never tried")
    assert(parquetFiles(local) == before)
    assert(!new java.io.File(local + "_compact_old").exists)
    val out = spark.read.parquet(dir)
    assert(out.count() == 10000)
    assert(out.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
      == 10000L * 9999 / 2)
  }
}

/** The local file system under the `failmv:` scheme, whose next rename
  * onto the path [[FailingRenameFs.failNextRenameTo]] returns false.
  */
class FailingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failmv"
  override def getUri: java.net.URI = java.net.URI.create("failmv:///")
  override def rename(
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (FailingRenameFs.take(dst.toUri.getPath)) false else super.rename(src, dst)
}

object FailingRenameFs {
  @volatile var failNextRenameTo: String = null

  private def take(path: String): Boolean = synchronized {
    val hit = path == failNextRenameTo
    if (hit) failNextRenameTo = null
    hit
  }
}
