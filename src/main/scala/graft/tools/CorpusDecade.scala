package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decade-scale synthetic corpus generator for the data-dominated
  * bench tier (BENCH_NOTES (x)). The driver fixtures stop at sf0.1
  * (5 000 documents), where the corpus-prep queries are still
  * fixed-overhead-dominated; this tool extends the documents table by
  * an integer factor so the scaling exponents of c2/c15/c16/x_minhash
  * can be measured where DATA dominates.
  *
  * Construction — `factor` replicas of the sf0.1 corpus, where replica
  * r > 0 suffixes every whitespace token with `~r`:
  *
  *   - doc_id' = doc_id + r * (max_id + 1): ids stay unique BIGINTs.
  *   - Replica 0 is byte-identical to the source corpus.
  *   - Within a replica, token sequences are a bijective renaming of
  *     the originals, so every shingle set, Jaccard value, near-dup
  *     pair and cluster mirrors the source exactly (shingles are
  *     3-token xxhash64 — a token bijection is a shingle bijection).
  *   - Across replicas, NO shingle is shared (`~r` differs in every
  *     token), so replicas generate zero cross pairs.
  *
  * Net: the c2 pair list at factor F is exactly F shifted copies of
  * the sf0.1 pair list — the workload grows PERFECTLY linearly in
  * documents, shingles, candidate pairs and clusters, which is the
  * property a scaling measurement needs (a naive F× duplication would
  * instead add F-cliques of exact near-dups per document and measure a
  * quadratically different workload, not the same one scaled).
  * DecadeSpec pins this replica-linearity at factor 3 on sf0.001.
  *
  * `region.parquet` is copied through so graft.Bench's warm-up read
  * works against the generated dir.
  *
  * Usage: runMain graft.tools.CorpusDecade <factor> [srcDir] [outDir]
  */
object CorpusDecade {

  /** The replicated documents frame (lazy; caller writes or verifies). */
  def replicate(spark: SparkSession, srcDir: String, factor: Int) = {
    val docs = graft.ops.Tables.documents(spark, srcDir)
    val stride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    docs.crossJoin(spark.range(factor).toDF("r"))
      .select(
        (col("doc_id") + col("r") * stride).as("doc_id"),
        // null text stays null in EVERY replica (concat_ws would fold a
        // null token array to "", silently differing from replica 0)
        when(col("r") === 0 || col("text").isNull, col("text"))
          .otherwise(concat_ws(" ",
            expr("transform(split(text, ' '), t -> concat(t, '~', CAST(r AS STRING)))")))
          .as("text"),
        // n_chars passes through unchanged: FIXTURES.md documents it as
        // an independent synthetic value, NOT length(text), so replica 0
        // stays byte-identical and the column's distribution is
        // preserved in every replica
        col("lang"), col("source"), col("n_chars"))
  }

  /** The replicated events frame — the event-log analog of [[replicate]]
    * for the streaming/range tiers (s5/s6, c19's term stream rides
    * documents instead). Replica r > 0 shifts `event_id` and `user_id`
    * into disjoint id spaces; `ts`, `event_type`, `value`, and every
    * other column pass through unchanged. Consequences, mirroring the
    * corpus construction:
    *
    *   - s5's purchase⋈view interval join matches ONLY within a replica
    *     (user spaces are disjoint), so the factor-F join output is
    *     exactly F shifted copies of the source output — linear workload
    *     growth, and per-replica event-TIME distribution identical, so
    *     watermark state eviction timing is the same shape, just F× the
    *     keys per horizon.
    *   - s6's dedup state is keyed on the full record incl. event_id:
    *     replicas never collide, state grows exactly F×.
    *   - Replica 0 is byte-identical to the source log.
    *
    * Null user_id/event_id rows pass through null in EVERY replica (the
    * shift would turn them non-null and change validation semantics).
    */
  def replicateEvents(spark: SparkSession, srcDir: String, factor: Int) = {
    val ev = graft.ops.Tables.events(spark, srcDir)
    val ids = ev.agg(max(col("event_id")), max(col("user_id"))).head()
    val eidStride = ids.getLong(0) + 1
    val uidStride = ids.getLong(1) + 1
    // preserve the source column ORDER (replica 0 must be byte-equal,
    // and positional set ops compare column-by-column)
    val cols = ev.columns.map {
      case "event_id" => (col("event_id") + col("r") * eidStride).as("event_id")
      case "user_id"  => (col("user_id") + col("r") * uidStride).as("user_id")
      case c          => col(c)
    }
    ev.crossJoin(spark.range(factor).toDF("r")).select(cols.toIndexedSeq: _*)
  }

  /** The replicated embeddings frame — the vector-corpus analog for the
    * ANN/quantization tier (c3/c21/x_ann_*). Replica r > 0 shifts
    * `vec_id` into a disjoint id space; `embedding` and `label` pass
    * through UNCHANGED. Consequences:
    *
    *   - probes stay exactly the source's (vec_id < 20 selects replica 0
    *     only), so every ladder step searches the same 20 queries
    *     against an F× corpus — the axis a search-scaling measurement
    *     wants;
    *   - every IVF cell, LSH bucket, and per-dim census group holds
    *     exactly F× the vectors (values unchanged ⇒ assignments
    *     unchanged), so candidate-bounding behavior scales cleanly;
    *   - replica 0 is byte-identical to the source table.
    */
  def replicateEmbeddings(spark: SparkSession, srcDir: String, factor: Int) = {
    val emb = graft.ops.Tables.embeddings(spark, srcDir)
    val stride = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val cols = emb.columns.map {
      case "vec_id" => (col("vec_id") + col("r") * stride).as("vec_id")
      case c        => col(c)
    }
    emb.crossJoin(spark.range(factor).toDF("r")).select(cols.toIndexedSeq: _*)
  }

  /** A TPC-H-ish table with its KEY columns shifted into per-replica
    * disjoint id spaces (strides shared across tables, so FK joins
    * match only within a replica — the factor-F join output is exactly
    * F shifted copies of the source output, the linear-workload
    * property every replicate* body here preserves). Null keys pass
    * through null in every replica (null + x = null). Non-key columns
    * (dates, prices, flags, names) pass through unchanged, so every
    * filter selectivity and aggregate group structure is preserved.
    */
  private def shiftKeys(spark: SparkSession, srcDir: String, name: String,
      strides: Map[String, Long], factor: Int) = {
    val t = graft.ops.Tables.t(spark, srcDir, name)
    val cols = t.columns.map(c => strides.get(c)
      .map(s => (col(c) + col("r") * s).as(c)).getOrElse(col(c)))
    t.crossJoin(spark.range(factor).toDF("r")).select(cols.toIndexedSeq: _*)
  }

  /** Replicate the full TPC-H-ish star (customer/orders/lineitem/
    * supplier/part) with consistent key strides; nation and region are
    * fixed dimensions and copy through unchanged — dim joins stay
    * shared across replicas (each nation simply holds F× the
    * customers), which is exactly how a bigger SF would look.
    * Needed so the REGISTRY-WIDE decade bench ([[BenchDecade]]) can
    * run the b-tier (TPC-H-shaped) queries at x8, not only the
    * documents/events/embeddings tiers.
    */
  def replicateTpch(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    def stride(name: String, key: String): Long =
      graft.ops.Tables.t(spark, srcDir, name)
        .agg(max(col(key))).head.getLong(0) + 1
    val sC = stride("customer", "c_custkey")
    val sO = stride("orders", "o_orderkey")
    val sS = stride("supplier", "s_suppkey")
    val sP = stride("part", "p_partkey")
    val shifts = Map(
      "customer" -> Map("c_custkey" -> sC),
      "orders"   -> Map("o_orderkey" -> sO, "o_custkey" -> sC),
      "lineitem" -> Map("l_orderkey" -> sO, "l_partkey" -> sP, "l_suppkey" -> sS),
      "supplier" -> Map("s_suppkey" -> sS),
      "part"     -> Map("p_partkey" -> sP))
    for ((name, st) <- shifts)
      shiftKeys(spark, srcDir, name, st, factor)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    for (dim <- Seq("nation"))
      graft.ops.Tables.parquet(spark, s"$srcDir/$dim.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$dim.parquet")
  }

  def main(args: Array[String]): Unit = {
    val factor = args(0).toInt
    val srcDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2)
                 else s"/root/repo/target/decade/x$factor"
    val spark = ToolSession.session()
    graft.ops.Tables.rmrf(outDir)
    // repartition so the written table has cluster-shaped parallelism
    // (the source is a single small file; F small files would serialize
    // the downstream scans' first stage on one task per replica)
    replicate(spark, srcDir, factor)
      .repartition(32, col("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    replicateEvents(spark, srcDir, factor)
      .repartition(32, col("event_id"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    replicateEmbeddings(spark, srcDir, factor)
      .repartition(32, col("vec_id"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    graft.ops.Tables.parquet(spark, s"$srcDir/region.parquet")
      .write.mode("overwrite").parquet(s"$outDir/region.parquet")
    replicateTpch(spark, srcDir, outDir, factor)
    val n = graft.ops.Tables.parquet(spark, s"$outDir/documents.parquet").count()
    val ne = graft.ops.Tables.parquet(spark, s"$outDir/events.parquet").count()
    val nv = graft.ops.Tables.parquet(spark, s"$outDir/embeddings.parquet").count()
    println(s"[corpus-decade] wrote $n documents + $ne events + $nv vectors (factor $factor of $srcDir) -> $outDir")
    spark.stop()
  }
}
