package graft.tools

/** Multi-point decade-exponent FIT — the round-19 brief's №4
  * measurement-hardening rung: [[BenchDecade]] estimates each query's
  * growth exponent from ONE doubling (sf0.1 → x8) with min-of-2 reps,
  * which left s14 (exp 1.26 vs ceil 1.30) and s18 (1.24) inside the
  * box's ±20% same-code drift band — the margin thinner than the
  * noise. For queries within ~0.15 of their ceiling, this tool runs
  * the full scale LADDER (sf0.1, x2, x4, x8), min-of-3 reps per
  * point, and fits the exponent as the least-squares slope of
  * ln(t) vs ln(scale) over all ≥3 points, reporting the fit residual
  * spread alongside — a stalled sample at one scale shifts a 4-point
  * slope far less than it shifts a 2-point ratio.
  *
  * Usage: runMain graft.tools.DecadeFit <query> [query ...]
  * (requires target/decade/x{2,4,8} from CorpusDecade). Writes
  * target/decade_fit.json and prints a BENCH_NOTES-ready table.
  */
object DecadeFit {

  val Reps = 3
  val Scales: Seq[(Double, String)] = Seq(
    1.0 -> "/root/testdata/sf0.1",
    2.0 -> s"${graft.ops.Tables.target}/decade/x2",
    4.0 -> s"${graft.ops.Tables.target}/decade/x4",
    8.0 -> s"${graft.ops.Tables.target}/decade/x8")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass the query names to fit")
    for ((_, d) <- Scales)
      require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)),
        s"missing scale dir $d — run CorpusDecade first")
    val spark = ToolSession.session(
      Map("spark.sql.extensions" -> "graft.GraftExtensions"))
    spark.range(1000000).selectExpr("sum(id)").collect()
    for ((_, d) <- Scales)
      graft.ops.Tables.parquet(spark, s"$d/region.parquet").count()
    def once(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, d: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, d).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    val rows = for (name <- args.toSeq) yield {
      val fn = graft.SparkEntry.queries(name)
      // min-of-Reps per point: the box's additive scheduler stalls hit
      // ~30% of samples; min estimates true cost (BENCH_NOTES)
      val pts = for ((s, d) <- Scales) yield {
        val t = (1 to Reps).map(_ => once(fn, d)).min
        println(f"[decade-fit] $name%-24s x$s%.0f  t=$t%8.2f s")
        (math.log(s), math.log(t), s, t)
      }
      // least-squares slope of ln t vs ln scale
      val n = pts.size.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val icept = (sy - slope * sx) / n
      // residual spread in exponent units: max |ln t − fit| / ln 8 —
      // how far any single point pulls from the fitted line, expressed
      // on the same scale as the exponent itself
      val resid = pts.map(p => math.abs(p._2 - (icept + slope * p._1)))
        .max / math.log(8.0)
      val ceil = BenchDecade.Ceilings.getOrElse(name, BenchDecade.DefaultCeiling)
      println(f"[decade-fit] $name%-24s FIT exp=$slope%5.3f ±$resid%5.3f (resid) ceil=$ceil%4.2f ${if (slope > ceil) "FLAG" else "ok"}")
      (name, pts, slope, resid, ceil)
    }
    def jd(x: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, x)
    val json = rows.map { case (n, pts, slope, resid, ceil) =>
      val ts = pts.map { case (_, _, s, t) => s""""x${s.toInt}": ${jd(t)}""" }
        .mkString("{", ", ", "}")
      s"""  "$n": {"t": $ts, "exp_fit": ${jd(slope)}, "resid": ${jd(resid)}, "ceil": $ceil, "flag": ${slope > ceil}, "reps": $Reps}"""
    }.mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(graft.ops.Tables.target, "decade_fit.json"), json)
    println("#decade-fit-md | query | t(sf0.1) | t(x2) | t(x4) | t(x8) | fitted exp | resid | ceil |")
    println("#decade-fit-md |---|---|---|---|---|---|---|---|")
    for ((n, pts, slope, resid, ceil) <- rows)
      println(f"#decade-fit-md | $n | ${pts(0)._4}%.2f | ${pts(1)._4}%.2f | ${pts(2)._4}%.2f | ${pts(3)._4}%.2f | $slope%.3f | ±$resid%.3f | $ceil%.2f |")
    spark.stop()
  }
}
