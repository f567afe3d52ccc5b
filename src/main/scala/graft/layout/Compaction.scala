package graft.layout

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction: rewrite a parquet directory into files of
  * ~`targetBytes` each.
  *
  * Why this matters at 100 TB: streaming sinks, frequent small batch
  * appends, and over-parallel writers leave tables as millions of
  * KB-sized files. Every query then pays file-listing latency, one
  * scan task per tiny file, and footer-read overhead that dwarfs the
  * data read — the classic small-files problem. Periodic compaction
  * (Delta/Iceberg `OPTIMIZE`, Hive concatenate) restores scan
  * efficiency; this is that operation for plain parquet directories.
  *
  * The rewrite is one `repartition(n)` — a full shuffle, which is
  * deliberate: compaction runs rarely and off the query path, and the
  * shuffle yields evenly sized output files where `coalesce` would
  * merely glue together whatever co-located partitions it found. It
  * submits 2 Spark jobs, the shuffle's map stage and the write; the
  * read resolves its schema from one footer on the driver
  * ([[graft.Tables.parquet]]), where `spark.read.parquet` added a third,
  * an inference job.
  * The swap is write-to-temp + delete + rename, the same recipe the
  * reference uses to normalize upload layouts (csv_processor.py:43-71);
  * a transactional table format would replace the rename with a
  * metadata commit.
  */
object Compaction {

  /** @return (file count before, file count after) */
  def compact(
      spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(path)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new Path(dir.stripSuffix("/") + "_compact_tmp")
    graft.Tables.parquet(spark, dir)
      .repartition(n)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.delete(path, true))
      throw new java.io.IOException(s"could not remove $path for swap")
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"rename $tmp -> $path failed")
    (files.length, n)
  }
}
