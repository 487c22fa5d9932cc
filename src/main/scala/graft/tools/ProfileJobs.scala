package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Per-job wall-clock decomposition of a registered query — where do a
  * multi-action composite's seconds actually sit? Runs the query once
  * untimed (JIT/codegen warm-up, standing-memo build) and once timed
  * with a listener recording every Spark job's (duration, description,
  * callsite), then prints the jobs in submission order plus the gaps
  * BETWEEN jobs (driver-side work: planning, checkpoint commits, file
  * moves) — the number the stage-level UI never shows.
  *
  * Usage: runMain graft.tools.ProfileJobs <dir> <query> [query ...]
  */
object ProfileJobs {
  private val BusDrainTimeoutMs = 5L * 60 * 1000

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileJobs <dir> <query> [query...]")
    val d = args(0)
    val names = args.drop(1)
    val spark = ToolSession.session()
    val reg = graft.SparkEntry.queries

    final case class Rec(id: Int, t0: Long, var t1: Long, desc: String)
    val recs = mutable.ArrayBuffer.empty[Rec]
    val byId = mutable.Map.empty[Int, Rec]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        val r = Rec(js.jobId, js.time, -1L, desc)
        recs += r; byId(js.jobId) = r
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        byId.get(je.jobId).foreach(_.t1 = je.time)
      }
    }

    for (name <- names) {
      val fn = reg(name)
      // warm pass: codegen + memoized standing state
      fn(spark, d).write.mode("overwrite").format("noop").save()
      recs.clear(); byId.clear()
      spark.sparkContext.addSparkListener(listener)
      val w0 = System.nanoTime()
      fn(spark, d).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - w0) / 1e9
      // drain the listener bus properly (a fixed sleep can under-drain
      // and silently drop trailing job-end events); listenerBus is
      // private[spark], so go through reflection — a profiling tool is
      // the one place that's acceptable. The timeout is explicit (the
      // no-arg overload hides a 10 s one), and a bus that still does not
      // drain fails with Spark's own TimeoutException, unwrapped
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      try bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(BusDrainTimeoutMs))
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      spark.sparkContext.removeSparkListener(listener)
      println(s"=== $name wall=${"%.3f".format(wall)}s jobs=${recs.size}")
      val ordered = recs.sortBy(_.t0).toSeq
      var prevEnd = -1L
      var jobSum = 0.0
      for (r <- ordered) {
        val dur = if (r.t1 > 0) (r.t1 - r.t0) / 1e3 else -1.0
        val gap = if (prevEnd > 0) (r.t0 - prevEnd) / 1e3 else 0.0
        jobSum += math.max(0, dur)
        val gapStr = if (gap > 0.05) f" [gap ${gap}%.2fs]" else ""
        println(f"  job ${r.id}%4d ${dur}%7.3fs$gapStr  ${r.desc.take(110)}")
        prevEnd = math.max(prevEnd, if (r.t1 > 0) r.t1 else r.t0)
      }
      // NOTE: gap/jobSum accounting assumes SERIAL jobs. For queries
      // that submit concurrent jobs (x_retention_audit's probe pool)
      // jobSum double-counts overlap — a negative wall-jobSum means
      // exactly that — and per-job gaps are not meaningful there.
      println(f"  jobSum=${jobSum}%.2fs  wall-jobSum=${wall - jobSum}%.2fs (driver/planning/gaps; serial-job assumption)")
    }
    spark.stop()
  }
}
