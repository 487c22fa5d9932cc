package graft.tools

/** REGISTRY-WIDE decade bench — the round-19 scale-evidence rung: run
  * every SparkEntry query at sf0.1 AND at the x`factor` decade layout
  * (one JVM, same box, back-to-back) and report each query's measured
  * growth exponent ln(tBig/tSmall)/ln(factor) against its family's
  * ledger claim (SURVEY §8). The per-family decade profiles
  * (BENCH_NOTES (aq), (bf), (bl), (bm)) measured chosen stages
  * deeply; this rung is the BREADTH check — no query in
  * the registry may grow faster than its family's documented exponent
  * without being flagged.
  *
  * Method notes:
  *  - two samples per (query, scale), MIN taken: the box's additive
  *    2-30 s scheduler stalls hit ~30% of samples (BENCH_NOTES), and
  *    one stalled sample at either scale would corrupt the exponent in
  *    either direction; min-of-2 also makes memoized standing state
  *    (semantic/ANN/LM memos, built in sample 1, reused in sample 2)
  *    measure its RECURRING cost, the committed Bench convention.
  *  - fixed-overhead-dominated queries read exponents far BELOW 1 —
  *    that is signal (the overhead amortizes at scale), so only
  *    exponents ABOVE the ceiling flag.
  *  - ceilings: 1.30 default (linear work + n log n sorts, with
  *    headroom for noise); 2.15 for the exact-pair families that are
  *    quadratic BY DESIGN (c7's all-pairs verify and everything that
  *    carries its backfill — SURVEY §8 says so explicitly); 1.70 for
  *    x_semantic_ann (the n^1.5 path, measured 1.51 in BENCH_NOTES
  *    (bf)).
  *
  * Usage: runMain graft.tools.BenchDecade [factor]   (default 8;
  * requires target/decade/x<factor> from CorpusDecade — which now
  * replicates the TPC-H star too, so the b-tier runs at scale).
  * Writes target/decade_bench_x<factor>.json and prints a markdown
  * table ready for BENCH_NOTES.
  */
object BenchDecade {

  val DefaultCeiling = 1.30
  val Ceilings: Map[String, Double] = {
    // quadratic by design: c7's exact all-pairs verify, and every
    // query that pays it as backfill/one-shot (the semantic family's
    // exact forms — their standing-state memo builds c7 over base)
    val quad = Seq("c7_cosine_neardup", "x_semantic_dedup",
      "x_semantic_incremental", "x_semantic_bucketed", "x_semantic_delete",
      "x_semantic_compact", "x_semantic_rebuild", "s21_stream_semantic_ingest",
      "s23_stream_semantic_retention").map(_ -> 2.15)
    // the n^1.5 path (measured 1.51 over 32x, BENCH_NOTES (bf))
    val sesqui = Seq("x_semantic_ann" -> 1.70)
    // drain-floor ceiling: s14 drains with maxFilesPerTrigger=1, and
    // sf0.1 is ONE parquet file while every decade layout is 32 — so
    // the sf0.1→x8 ratio carries a 1→32 BATCH-COUNT step whose
    // all-floor bound is ln(32)/ln(8) = 1.67 of exponent on top of
    // data growth. The multi-point fit (DecadeFit, BENCH_NOTES (by))
    // measured s14 FLAT across x2→x8 (constant 32 batches, 4× data:
    // slope −0.12), so the data exponent is ~0 and the ceiling below
    // flags only a genuine data-growth regression beyond even the
    // all-floor explanation. s18 drains the same way but its close
    // work amortizes the floor (measured 0.87); it keeps the default.
    val drainFloor = Seq("s14_stream_neardup" -> 1.70)
    (quad ++ sesqui ++ drainFloor).toMap
  }

  def main(args: Array[String]): Unit = {
    // first arg: factor; remaining args (optional) restrict to named
    // queries — the dev loop for measuring a new rung's exponent
    // without re-running the whole registry
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    val only = args.drop(1).toSet
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = s"/root/repo/target/decade/x$factor"
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(big)),
      s"generate the decade layout first: runMain graft.tools.CorpusDecade $factor")
    val spark = ToolSession.session(
      Map("spark.sql.extensions" -> "graft.GraftExtensions"))
    // the Bench warm-ups: executors, codegen, parquet reader paths
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (d <- Seq(small, big))
      graft.ops.Tables.parquet(spark, s"$d/region.parquet").count()
    // the Bench materialization convention: noop sink consumes every
    // output column, so the timed plan is the judged plan
    def once(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, d: String): Double = {
      val t0 = System.nanoTime()
      try fn(spark, d).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => return Double.PositiveInfinity }
      (System.nanoTime() - t0) / 1e9
    }
    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val rows = for ((name, fn) <- names) yield {
      val tS = math.min(once(fn, small), once(fn, small))
      val tB = math.min(once(fn, big), once(fn, big))
      val exp =
        if (!java.lang.Double.isFinite(tS) || !java.lang.Double.isFinite(tB)) Double.NaN
        else math.log(tB / tS) / math.log(factor.toDouble)
      val ceil = Ceilings.getOrElse(name, DefaultCeiling)
      // a crashed/OOMed sample is the WORST scale regression, not a
      // skippable one: NaN > ceil is false, so without the explicit
      // finiteness check a query that dies at x8 would read unflagged
      // and the breadth check would pass vacuously (round-19 ADVICE)
      val flag = !java.lang.Double.isFinite(tS) ||
        !java.lang.Double.isFinite(tB) || exp > ceil
      println(f"[decade-bench] $name%-28s t$small=$tS%8.2f tX$factor=$tB%8.2f exp=$exp%6.2f ceil=$ceil%4.2f ${if (flag) "FLAG" else ""}")
      (name, tS, tB, exp, ceil, flag)
    }
    def j(x: Double) =
      if (java.lang.Double.isFinite(x)) "%.4f".formatLocal(java.util.Locale.ROOT, x) else "null"
    val json = rows.map { case (n, tS, tB, e, c, f) =>
      // failure-mode marker: a null timing means both samples at that
      // scale threw — the flag above already fires for it
      val failed = !java.lang.Double.isFinite(tS) || !java.lang.Double.isFinite(tB)
      s"""  "$n": {"t_sf01": ${j(tS)}, "t_x$factor": ${j(tB)}, "exp": ${j(e)}, "ceil": $c, "flag": $f, "failed": $failed}"""
    }.mkString("{\n", ",\n", "\n}")
    val artifact = if (only.isEmpty) s"decade_bench_x$factor.json"
                   else s"decade_bench_x${factor}_subset.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"/root/repo/target/$artifact"), json)
    // markdown digest for BENCH_NOTES: the flagged set (should be
    // empty) + the ten largest exponents for the audit trail
    println("#decade-md | query | t(sf0.1) s | t(x" + factor + ") s | exponent | ceiling |")
    println("#decade-md |---|---|---|---|---|")
    for ((n, tS, tB, e, c, f) <- rows.sortBy(-_._4).take(12))
      println(f"#decade-md | $n | $tS%.2f | $tB%.2f | $e%.2f | $c%.2f |")
    val flagged = rows.filter(_._6)
    println(s"#decade-flagged ${flagged.size}: ${flagged.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
