package graft.tools

import org.apache.spark.sql.functions._

/** s19 stage decomposition — where does the arrival pipeline's cost
  * over the batch pipeline (c16) actually sit? Three timed components
  * on the same dataset (cf. ProfileS14Stages, BENCH_NOTES (bl)):
  *
  *   floor — an AvailableNow drain of the SAME staged document stream
  *     whose foreachBatch does no per-row work (a zero-row noop write):
  *     trigger scheduling + checkpoint commits + source listing, the
  *     cost ANY drain pays.
  *   drain — s19's actual extraction drain (corpusArrivalState → one
  *     bid-keyed sink); drain − floor = the real per-row extraction +
  *     state-write cost.
  *   cut   — the close-time manifest cut over the arrived state
  *     (shingleRows → capBand → jaccardPairsOf → clustersOf →
  *     manifestFrom), materialized through a noop write.
  *
  * The profile re-drives the pieces s19At composes (same bodies, run
  * through the same `StreamOps.drain` — the timings cite the registered
  * query's own stages, not a re-model).
  *
  * Usage: runMain graft.tools.ProfileS19 <dir>
  */
object ProfileS19 {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileS19 <dir>")
    val d = args(0)
    val spark = ToolSession.session()
    import graft.ops.{CorpusOps, Tables, TextOps}
    import graft.streaming.StreamOps

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // untimed warm pass: codegen + parquet reader + shuffle paths (a
    // cold first run is JIT-dominated and swamps every stage — the
    // Bench warmup lesson)
    CorpusOps.c16_corpusPipeline(spark, d)
      .write.mode("overwrite").format("noop").save()

    val (_, tC16) = timed(
      CorpusOps.c16_corpusPipeline(spark, d)
        .write.mode("overwrite").format("noop").save())

    // floor: same source, no per-row work
    val floorBase = Tables.scratchDir("s19prof_floor", d)
    val (_, tFloor) = timed {
      StreamOps.drain(spark, "s19prof_floor", s"$floorBase/chk",
        StreamOps.stagedFileStream(spark, d, "documents").writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.limit(0).write.mode("overwrite").format("noop").save()
          })
    }

    // drain: s19's extraction into the bid-keyed state sink
    val drainBase = Tables.scratchDir("s19prof_drain", d)
    val state = s"$drainBase/state"
    val (_, tDrain) = timed {
      StreamOps.drain(spark, "s19prof_drain", s"$drainBase/chk",
        StreamOps.stagedFileStream(spark, d, "documents").writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
            CorpusOps.corpusArrivalState(b)
              .write.mode("overwrite").parquet(s"$state/bid=$bid")
          })
    }

    // cut: the close-time manifest over the arrived state
    val stateSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, source STRING, n_tok BIGINT, order_key STRING, " +
        "digest STRING, hs ARRAY<BIGINT>")
    val arrived = spark.read.schema(stateSchema).parquet(state)
      .select(stateSchema.fieldNames.map(col).toIndexedSeq: _*)
    val (_, tCut) = timed {
      val sized = arrived.select(col("doc_id"), col("source"), col("n_tok"),
        col("order_key"), col("digest"))
      val sh = TextOps.shingleRows(arrived.select(col("doc_id"), col("hs")))
      val clusters = TextOps.clustersOf(
        TextOps.jaccardPairsOf(TextOps.capBand(sh)))
      CorpusOps.manifestFrom(sized, clusters)
        .write.mode("overwrite").format("noop").save()
    }

    println(f"[s19] dir=$d c16=$tC16%.2f floor=$tFloor%.2f " +
      f"drain=$tDrain%.2f (extract=${tDrain - tFloor}%.2f) cut=$tCut%.2f " +
      f"s19_sum=${tDrain + tCut}%.2f overhead_vs_c16=${tDrain + tCut - tC16}%.2f")
    spark.stop()
  }
}
