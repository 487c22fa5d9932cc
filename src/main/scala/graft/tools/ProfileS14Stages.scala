package graft.tools

import org.apache.spark.sql.DataFrame

/** Stage-by-stage cost breakdown of the s14 arrival drain — which part
  * of the ~2 s/batch fixed overhead is streaming machinery (trigger +
  * checkpoint), which is the epoch write, and which is the pair join?
  * Each mode drains the same 32-file corpus with a foreachBatch doing
  * progressively more of s14's work:
  *
  *   floor — foreachBatch is a no-op count (trigger+checkpoint floor)
  *   write — epoch write only (floor + fingerprint + parquet sink)
  *   full  — the real s14 (write + census semi-joins + pair tail)
  *
  * Usage: runMain graft.tools.ProfileS14Stages <dir>
  */
object ProfileS14Stages {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileS14Stages <dir>")
    val spark = ToolSession.session()
    val d = args(0)
    import graft.ops.{Tables, TextOps}

    def drain(tag: String)(body: (DataFrame, Long, String) => Unit): Double = {
      val base = Tables.scratchDir(s"p14_$tag", d)
      // through stagedFileStream, not a raw path: the file source
      // needs a DIRECTORY, and a single-file fixture streamed raw
      // would silently drain zero rows here while the s14-based
      // "full" stage processes everything (round-16 review)
      val fps = TextOps.winnowFps(
        graft.streaming.StreamOps.stagedFileStream(spark, d, "documents",
          maxFilesPerTrigger = Some(1)))
      val t0 = System.nanoTime()
      // through StreamOps.drain, like s14 itself: a bare start() would
      // time the recompiling path the registered query no longer takes
      graft.streaming.StreamOps.drain(spark, s"p14_$tag", s"$base/chk",
        fps.writeStream
          .foreachBatch { (b: DataFrame, bid: Long) => body(b, bid, base) })
      (System.nanoTime() - t0) / 1e9
    }

    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    def counted(tag: String)(f: => Double): Unit = {
      val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
      val sec = f
      println(f"[s14stages] $tag sec=$sec%.1f jobs=${jobs.get - j0} " +
        s"stages=${stages.get - s0} tasks=${tasks.get - t0}")
    }
    counted("floor") { drain("floor") { (b, _, _) => b.count(); () } }
    counted("write") { drain("write") { (b, bid, base) =>
      b.write.mode("overwrite").parquet(s"$base/epochs/bid=$bid")
    } }
    // per-batch trigger durations (flatness across the drain): the
    // round-15 form did O(B) index-census work at batch B, so late
    // batches were slower than early ones — the listener shows whether
    // that slope is gone
    val durs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        Option(e.progress.durationMs.get("triggerExecution")).foreach(d => durs.add(d.toLong))
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    // materialize the memoized standing index BEFORE the counted run:
    // the first s14 invocation in a fresh JVM triggers the per-dataset
    // index build inside Tables.memoDir, and counting that here would
    // attribute build cost to the arrival path — the exact
    // double-counting the memoization exists to remove (round-16
    // review). The warm-up drain also absorbs first-use JIT, making
    // "full" comparable to the floor/write drains that ran before it.
    graft.streaming.StreamOps.s14_streamNeardup(spark, d).count()
    // listener events arrive async — let the warm-up drain's queued
    // QueryProgress events land BEFORE clearing, or they contaminate
    // the counted run's per-batch trace (round-16 review)
    Thread.sleep(2000)
    durs.clear()
    counted("full") { ToolSession.timed(
      graft.streaming.StreamOps.s14_streamNeardup(spark, d).count())._2 }
    Thread.sleep(2000) // listener events are async
    import scala.jdk.CollectionConverters._
    println(s"[s14stages] per-batch ms: ${durs.asScala.mkString(",")}")
    spark.stop()
  }
}
