package graft.tools

/** A/B a registered query under the default session vs a non-adaptive
  * child session with a small fixed shuffle-partition count — the s14
  * micro-session shape, applied to the WHOLE query. Measures the upper
  * bound of moving a composite's maintenance plans onto such a session
  * (opt guide §1: measure before changing).
  *
  * Usage: runMain graft.tools.AbMicro <dir> <parts> <query> [query...]
  */
object AbMicro {
  def main(args: Array[String]): Unit = {
    val reg = graft.SparkEntry.queries
    // checked before a session exists, so a typo costs no Spark start-up
    // and names the bad argument instead of failing as a conf error or
    // a bare NoSuchElementException mid-run
    val parts = args.lift(1).flatMap(_.toIntOption).filter(_ > 0)
    val unknown = args.drop(2).filterNot(reg.contains)
    if (args.length < 3 || parts.isEmpty || unknown.nonEmpty) {
      System.err.println("usage: AbMicro <dir> <parts> <query>...  (parts: a positive integer)")
      if (args.length >= 2 && parts.isEmpty) System.err.println(s"bad <parts>: ${args(1)}")
      if (unknown.nonEmpty) System.err.println(
        s"unknown queries: ${unknown.mkString(" ")}\nknown: ${reg.keys.toSeq.sorted.mkString(" ")}")
      sys.exit(2)
    }
    val d = args(0)
    val names = args.drop(2)
    val spark = ToolSession.session()
    val sp = spark.newSession()
    if (sys.env.get("AB_KEEP_AQE").isEmpty)
      sp.conf.set("spark.sql.adaptive.enabled", "false")
    sp.conf.set("spark.sql.shuffle.partitions", parts.get.toLong)
    def run(s: org.apache.spark.sql.SparkSession, n: String): Double = {
      val t0 = System.nanoTime()
      reg(n)(s, d).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (n <- names) {
      run(spark, n); run(sp, n) // warm both (memo/standing state, codegen)
      // interleaved samples + second-smallest: Bench's estimator — this
      // box randomly stalls task sets, so uninterleaved small medians
      // are routinely contaminated (BENCH_NOTES)
      val as = scala.collection.mutable.ListBuffer.empty[Double]
      val bs = scala.collection.mutable.ListBuffer.empty[Double]
      for (_ <- 1 to 5) { as += run(spark, n); bs += run(sp, n) }
      val a = as.sorted.apply(1)
      val b = bs.sorted.apply(1)
      println(f"[ab] $n%-30s base=$a%7.3f micro=$b%7.3f  (${b / a * 100}%.0f%%)")
    }
    spark.stop()
  }
}
