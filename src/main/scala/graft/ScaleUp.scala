package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up: blow the sf0.1 tables up `copies`×
  * into a DuckDB-oracle-able sf1 set, so the "designed for 100×"
  * claims become measurements (VERDICT r3 #1).
  *
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 fixtures/sf1 10"
  *
  * Construction: each copy is a key-shifted shard — every key domain
  * gets `copy × (max_key+1)` added, consistently across fact and
  * dimension FKs, so join structure, group cardinalities per shard,
  * and value distributions are EXACTLY those of sf0.1; region/nation
  * stay fixed (they are fixed at every TPC-H scale). Document tokens
  * get a per-copy suffix (n_chars recomputed — the fixture invariant
  * n_chars = length(text) holds at sf0.1) and embeddings are
  * circularly shifted per copy, so cross-copy similarity vanishes
  * and near-dup DENSITY stays constant — see the inline comment at
  * the documents/embeddings blow-up. events.ts is written as µs timestamps
  * (Spark cannot write parquet TIMESTAMP(NANOS); the source values
  * are µs-aligned, so nothing is truncated).
  *
  * Everything is derived from the driver's fixtures with column
  * functions only — no RNG, no timestamps-of-now — so regenerating
  * yields byte-identical content and DuckDB can oracle every query
  * over the result.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("fixtures/sf1")
    val copies = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    // Copy 128 would repeat copy 64's negated-identity rotation and
    // re-inflate cross-copy dup density past the constant-density
    // contract the embedding transform guarantees (see the transform
    // comment below) — refuse rather than silently produce it.
    require(copies >= 1 && copies <= 128,
      s"copies must be in [1, 128] (got $copies): the embedding " +
        "decorrelation scheme is only valid to 128 copies")
    val spark = Session.builder(src).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // events goes through Tables.events so all three fixture ts
    // layouts (ns-as-long, µs-NTZ, µs-UTC) normalize to TIMESTAMP
    // before the copy shift; everything else is a raw scan
    def read(n: String) =
      if (n == "events") Tables.events(spark, src)
      else spark.read.parquet(s"$src/$n.parquet")
    val c = col("__copy")

    def blow(
        name: String, offsets: Map[String, Long],
        post: DataFrame => DataFrame = identity): Unit = {
      val rep = read(name).crossJoin(
        spark.range(copies).select(col("id").cast("int").as("__copy")))
      val shifted = offsets.foldLeft(rep) { case (df, (k, off)) =>
        df.withColumn(k, col(k) + c.cast("long") * off)
      }
      val outDf = post(shifted).drop("__copy")
      outDf.repartition(Session.cpus)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name -> ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // fixed-size dims: copied verbatim (their keys are referenced by
    // every copy — nationkey/regionkey columns are never offset)
    Seq("region", "nation").foreach { n =>
      read(n).write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"[scaleup] $n -> copied verbatim")
    }

    // offsets are max_key+1 per domain (FIXTURES.md sf0.1 ranges), so
    // the scaled key space stays contiguous and density-preserving
    // supplier/customer names encode the key ("Supplier#%09d") and
    // every query may treat them as unique-per-key, like real TPC-H at
    // any SF — regenerate them from the shifted key or a group-by-name
    // oracle silently merges the 10 shard clones
    blow("supplier", Map("s_suppkey" -> 1000L),
      post = df => df.withColumn("s_name",
        format_string("Supplier#%09d", col("s_suppkey"))))
    blow("customer", Map("c_custkey" -> 15000L),
      post = df => df.withColumn("c_name",
        format_string("Customer#%09d", col("c_custkey"))))
    blow("part", Map("p_partkey" -> 20000L))
    blow("orders", Map("o_orderkey" -> 150000L, "o_custkey" -> 15000L))
    blow("lineitem",
      Map("l_orderkey" -> 150000L, "l_partkey" -> 20000L, "l_suppkey" -> 1000L))
    blow("events", Map("event_id" -> 100000L, "user_id" -> 1500L))
    // documents.doc_id and embeddings.vec_id share one offset so the
    // doc_id = vec_id multimodal join keeps exactly its per-shard pairs.
    //
    // Copies must NOT be near-dups of each other: a single appended
    // token leaves cross-copy Jaccard ≈ 0.95, so every dup cluster
    // grows 10x and every pair-generating query (LSH, blocked
    // Jaccard, SemDeDup) does 100x the work per cluster — measured as
    // a 24-33x bench blow-up, a property of the corpus, not the
    // plans. Real 10x corpora add new content; so: every token gets a
    // per-copy suffix (cross-copy Jaccard = 0, per-shard dup
    // structure bit-identical to sf0.1 → constant dup density), and
    // each embedding is circularly shifted by `copy` positions — a
    // permutation is orthogonal, so within-copy dots/norms/distances
    // are EXACTLY sf0.1's while cross-copy cosines sit at the ~0
    // noise floor of unrelated 64-dim vectors.
    blow("documents", Map("doc_id" -> 10000L),
      post = df => df
        .withColumn("text",
          when(c === 0, col("text"))
            .otherwise(array_join(
              transform(split(col("text"), " "),
                t => concat(t, lit("_c"), c.cast("string"))), " ")))
        .withColumn("n_chars", length(col("text")).cast("long")))
    // Shift amount wraps at the 64-dim boundary, and every wrap
    // flips the sign: negation keeps all within-copy dots, norms and
    // distances EXACT (dot(-a,-b) = dot(a,b)) while a copy pair that
    // lands on the same rotation (Δcopy = 64) meets at cosine -1
    // instead of +1 — below every dup threshold. Valid to 128 copies.
    val sh = pmod(c, lit(64))
    val rotated = when(sh === 0, col("embedding"))
      .otherwise(concat(
        slice(col("embedding"), sh + 1, lit(64) - sh),
        slice(col("embedding"), lit(1), sh)))
    blow("embeddings", Map("vec_id" -> 10000L),
      post = df => df.withColumn("embedding",
        when(c < 64, rotated)
          .otherwise(transform(rotated, x => -x))))

    spark.stop()
  }
}
