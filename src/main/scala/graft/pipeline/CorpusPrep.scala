package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Dist, MinHashBands, Portable}
import graft.graph.BandCluster
import graft.Pins

/** The end-to-end corpus-preparation pipeline a training-data run
  * actually executes, composed from this engine's operators:
  *
  *   gate (token floor) → exact dedup (content hash, keep min id)
  *   → near-dup dedup (MinHash-LSH buckets → connected components
  *     → keep min id per cluster) → GPT-style sequence packing.
  *
  * Each stage is the same construction its standalone query proves
  * against the DuckDB oracle (q44/q39/q100+q75/q101), and the whole
  * composition is oracle-checked end-to-end by
  * q107_corpus_prep_pack. Everything stays a lazy DataFrame; the
  * only materializations are the (doc_id, nt, b0, b1) signature
  * table and its band-multiplicity-marked derivative — a handful of
  * longs per doc, never the text — pinned before the component loop
  * and the pack cumsum reuse them.
  */
object CorpusPrep {

  /** Gate + exact dedup + near-dup cluster dedup. Returns the kept
    * documents as (doc_id, text, nt) where nt is the whitespace
    * token count.
    */
  /** The survivors' (doc_id, nt) sizing frame — everything
    * [[prepare]] computes EXCEPT the text join-back. The pack path
    * only consumes sizes, and while column pruning narrows the
    * join-back to a doc_id scan, the join itself (one more shuffle +
    * scan per pack) is work the optimizer cannot remove because it
    * cannot prove survivors ⊆ docs. Callers that need text use
    * [[prepare]]; callers that need sizes use this (r14, guide §2.4).
    */
  def prepareSizes(docs: DataFrame, minTokens: Int = 5): DataFrame =
    kept(docs, minTokens)

  def prepare(docs: DataFrame, minTokens: Int = 5): DataFrame = {
    // Text is joined back from the RAW input, not re-derived through
    // the gate/dedup windows: survivors are a subset of unique
    // doc_ids, so an equi-join on the key reproduces (doc_id, text,
    // nt) exactly.
    kept(docs, minTokens)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("text"), col("nt"))
  }

  private def kept(docs: DataFrame, minTokens: Int): DataFrame = {
    // the LSH stage needs >= 1 token per doc (q100's guard): a
    // token-free doc would hash to the constant empty-signature
    // buckets and merge every such doc into one bogus cluster
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    val gated = docs
      .select(col("doc_id"), col("text"),
        size(Portable.tokens(col("text"))).cast("long").as("nt"))
      .filter(col("nt") >= minTokens)
    // exact dedup: one shuffle by content hash, min doc_id survives
    val exact = gated
      .withColumn("__th", Portable.md5Long(col("text")))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__th").orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__th", "__rn")
    // near-dup: LSH band buckets (q41's signatures) → components →
    // min doc_id per cluster. Only (doc_id, nt, b0, b1) — four longs
    // per doc, never the text — is checkpointed. Carrying nt here is
    // what lets the pack path run WITHOUT a second tokenize+hash+
    // window pass over the text: every downstream stage that needs
    // sizes reads them from this pinned frame.
    val sigs = Pins.pin(exact
      .select(col("doc_id"), col("nt"),
        org.apache.spark.sql.GraftSqlBridge.column(MinHashBands(
          org.apache.spark.sql.GraftSqlBridge.expression(
            Portable.tokenSet(col("text"))), 2, 8)).as("bs"))
      .select(col("doc_id"), col("nt"),
        col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1")))
    // near-dup clusters via the shared band-graph construction
    // ([[graft.graph.BandCluster]] — candidate bypass + connected
    // components); the cluster head (min doc_id) survives, exactly
    // the standalone q100's semantics
    BandCluster.assign(sigs)
      .filter(col("doc_id") === col("cluster"))
      .select("doc_id", "nt")
  }

  /** Pack the prepared corpus into fixed-length training sequences:
    * documents concatenate in deterministic hash order, cut every
    * `seqLen` tokens (docs straddle cuts). One row per sequence with
    * its doc count, token count, and first/last contributing doc.
    * The global offset is [[Dist.globalCumsum]] — hash-range
    * bucketing, never a single-partition window.
    */
  def pack(prepared: DataFrame, seqLen: Int = 512): DataFrame = {
    val spark = prepared.sparkSession
    // Pin the sizing frame before the cumsum: globalCumsum consumes
    // its input TWICE (the per-bucket-totals action, then the
    // windowed pass), and `prepared` hangs the whole gate → exact
    // dedup → LSH → connected-components subtree above this select.
    // Unpinned, that subtree executes twice per pack() — measured as
    // ~2× the whole q107. Three longs per kept doc (24 B/doc — even
    // 10¹⁰ docs pin ~240 GB across a 1000-executor cluster, a
    // fraction of block-manager memory), vs re-running the dedup
    // pipeline; on a multi-hour run swap localCheckpoint for
    // reliable checkpoint.
    val sized = Pins.pin(prepared
      .select(col("doc_id"), col("nt"))
      .filter(col("nt") >= 1)
      .withColumn("hk",
        Portable.md5Long(concat(lit("pack:"), col("doc_id").cast("string")))))
    Dist.globalCumsum(sized, "hk", Seq("doc_id"), "nt", "cum",
      spark.sparkContext.defaultParallelism)
      .withColumn("st", col("cum") - col("nt"))
      .withColumn("en", col("cum") - 1)
      .withColumn("seq_id",
        explode(sequence(expr(s"st div $seqLen"), expr(s"en div $seqLen"))))
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(col("en"), col("seq_id") * seqLen + (seqLen - 1)) -
          greatest(col("st"), col("seq_id") * seqLen) + 1).cast("long").as("n_tokens"),
        min_by(col("doc_id"), col("st")).as("first_doc"),
        max_by(col("doc_id"), col("en")).as("last_doc"))
      .orderBy("seq_id")
  }
}
