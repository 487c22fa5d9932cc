package graft.tools

import org.apache.spark.sql.functions._

/** Design probe for the x_semantic_incremental candidate net (the
  * BENCH_NOTES (bs) evidence generator): at the fixture
  * scales, does cell-candidate generation with STANDING base-trained
  * codebooks cover every exact delta-touching pair (cos ≥ 0.4e6)?
  * Compares (a) home-cell index × nprobe delta probes and (b) the
  * symmetric nprobe × nprobe intersection, at several nprobe values.
  *
  * Usage: runMain graft.tools.ProbeSemInc <sfDir>...
  */
object ProbeSemInc {
  def main(args: Array[String]): Unit = {
    val spark = ToolSession.session()
    import graft.ops.{Extras, Tables, VectorOps}
    for (d <- args) {
      val emb = Tables.embeddings(spark, d)
      val r = emb.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi")).head()
      if (r.isNullAt(0)) {
        // empty / all-null vec_id table: nothing to probe — skip with a
        // message instead of throwing on getLong (the registered-query
        // isNullAt guard convention; round-18 ADVICE)
        println(s"[seminc] d=$d skipped: embeddings has no non-null vec_id rows")
      } else {
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val mid = lo + (hi - lo) / 2
      val n = emb.count()
      val nBase = emb.filter(col("vec_id") <= mid).count()
      val k = math.max(VectorOps.SemAnnMinCells, math.min(VectorOps.SemAnnMaxCells,
        (VectorOps.SemAnnCellsPerSqrtN * math.sqrt(nBase.toDouble)).toLong)).toInt
      // standing codebooks: trained on BASE only (the production artifact)
      val cents = Extras.ivfCentroidsK(spark, emb.filter(col("vec_id") <= mid),
        k, seedByLabel = false, trainCap = math.max(1024, 16 * k),
        lloydIters = VectorOps.SemAnnLloydIters)
      // exact delta-touching pairs via c7's blocked scorer
      val exact = VectorOps.c7_cosineNeardup(spark, d)
        .filter(col("b_id") > mid)
        .select(col("a_id"), col("b_id")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      def assigned(np: Int) = emb.select(col("vec_id"),
          explode(Extras.topCellsCol(cents, np)).as("cell"))
      for (np <- Seq(4, 8, 12, 16)) {
        val home = assigned(1).select(col("cell"), col("vec_id").as("a_id"))
        val probe = assigned(np).select(col("cell"), col("vec_id").as("b_id"))
        // (a) home × probe, either orientation
        val capA = home.join(probe, Seq("cell"))
          .filter(col("a_id") =!= col("b_id"))
          .select(least(col("a_id"), col("b_id")).as("a"),
            greatest(col("a_id"), col("b_id")).as("b"))
          .distinct().collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        // (b) symmetric probe × probe
        val pa = assigned(np).select(col("cell"), col("vec_id").as("a_id"))
        val pb = assigned(np).select(col("cell"), col("vec_id").as("b_id"))
        val capB = pa.join(pb, Seq("cell"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id").as("a"), col("b_id").as("b"))
          .distinct().collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        val missA = exact -- capA
        val missB = exact -- capB
        println(s"[seminc] d=$d n=$n base=$nBase k=$k np=$np exact=${exact.size} " +
          s"missHome=${missA.size} missSym=${missB.size}" +
          (if (missA.nonEmpty && missA.size <= 5) s" missA=$missA" else "") +
          (if (missB.nonEmpty && missB.size <= 5) s" missB=$missB" else ""))
      }
      }
    }
    spark.stop()
  }
}
