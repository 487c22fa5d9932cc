package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.jdk.CollectionConverters._

/** Profile registered queries. For each query it writes the formatted
  * consumer plan to `<outDir>/<query>_<tag>.txt`, followed by the last
  * micro-batch plan of every streaming query the call started (a
  * drain's own work runs there, not in the read-back frame). Then it
  * makes one untimed warm call and one timed call through the `noop`
  * sink, and prints where the timed call's seconds went: its Spark jobs
  * with the driver gaps between them, their busy time as an interval
  * union (so a thread pool's concurrent jobs count once), each
  * streaming query's batches and trigger phases, and the operating
  * system processes the call started, by program. Without Hadoop's
  * native library, the local filesystem forks a `chmod` for every file
  * or directory it creates, and a FileContext rename forks `readlink`s:
  * the processes line counts them.
  *
  * Usage: runMain graft.tools.Profile <dir> <outDir> <tag> <query>...
  */
object Profile {

  private val Phases = Seq("latestOffset", "addBatch", "walCommit", "commitOffsets", "triggerExecution")

  /** One streaming query of a timed call: its batches and summed phase ms. */
  final case class StreamRun(name: String, batches: Int, phasesMs: Map[String, Long])

  /** One timed call: its jobs, its streaming queries, and the processes
    * it started, counted per program (the command's first word, without
    * its directory).
    */
  final case class Record(query: String, wallS: Double, jobs: Seq[Jobs.Job],
      streams: Seq[StreamRun], processes: Map[String, Int]) {
    def busyS: Double = Jobs.busySeconds(jobs)

    override def toString: String = {
      val out = new StringBuilder(
        f"=== $query wall_s=$wallS%.3f jobs=${jobs.size} busy_s=$busyS%.3f\n")
      var prevEnd = -1L
      for (j <- jobs) {
        val gap = if (prevEnd >= 0) (j.start - prevEnd) / 1e3 else 0.0
        val gapStr = if (gap > 0.05) f" [gap $gap%.2fs]" else ""
        val dur = if (j.end < 0) "unfinished" else f"${j.seconds}%7.3fs"
        out ++= f"  job ${j.id}%4d $dur$gapStr  ${j.description.take(110)}\n"
        prevEnd = math.max(prevEnd, if (j.end < 0) j.start else j.end)
      }
      for (s <- streams)
        out ++= s"  stream ${s.name} batches=${s.batches} " +
          Phases.map(p => s"$p=${s.phasesMs(p)}ms").mkString(" ") + "\n"
      out ++= "  processes " + (if (processes.isEmpty) "none" else
        processes.toSeq.sortBy { case (c, n) => (-n, c) }.map { case (c, n) => s"$c=$n" }
          .mkString(" ")) + "\n"
      out.result()
    }
  }

  /** Streaming queries `body` starts on this session, with its result. */
  private def withStreams[A](spark: SparkSession)(body: => A): (A, Seq[StreamingQuery]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    // onQueryStarted runs before start() returns, while the query is
    // still registered with the session's manager
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(started.add)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try (body, started.asScala.toSeq)
    finally spark.streams.removeListener(listener)
  }

  /** The processes `body` starts in this JVM, counted per program: a
    * JFR recording with only `jdk.ProcessStart` enabled, dumped to a
    * temp file and read back.
    */
  private[graft] def processesDuring[A](body: => A): (A, Map[String, Int]) = {
    val rec = new jdk.jfr.Recording()
    val file = java.nio.file.Files.createTempFile("profile-processes", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(file)
      val programs = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .map(e => Option(e.getString("command")).getOrElse("").trim.split("\\s+")(0).split('/').last)
      (out, programs.groupBy(identity).map { case (c, es) => c -> es.size })
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }

  /** Write `query`'s plan file, then warm it, time it and profile it. */
  def record(spark: SparkSession, dir: String, outDir: String, tag: String, query: String): Record = {
    val fn = graft.SparkEntry.queries(query)
    val (df, planned) = withStreams(spark)(fn(spark, dir))
    val streamPlans = planned.zipWithIndex.flatMap { case (q, i) =>
      Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution).map(e =>
        s"\n== Streaming query ${i + 1}, last micro-batch ==\n" + e.explainString(FormattedMode))
    }
    val out = java.nio.file.Paths.get(outDir, s"${query}_$tag.txt")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out,
      df.queryExecution.explainString(FormattedMode) + streamPlans.mkString)
    def call(): Unit = fn(spark, dir).write.mode("overwrite").format("noop").save()
    call()
    var wall = 0.0
    val ((jobs, timed), processes) = processesDuring(withStreams(spark)(Jobs.during(spark) {
      val t0 = System.nanoTime()
      call()
      wall = (System.nanoTime() - t0) / 1e9
    }))
    val streams = timed.zipWithIndex.map { case (q, i) =>
      val progress = q.recentProgress
      StreamRun(Option(q.name).getOrElse(s"${i + 1}"), progress.length,
        Phases.map(p => p -> progress.map(_.durationMs.asScala.get(p).fold(0L)(_.longValue)).sum).toMap)
    }
    Record(query, wall, jobs, streams, processes)
  }

  def main(args: Array[String]): Unit = {
    val reg = graft.SparkEntry.queries
    // checked before a session exists, so a typo costs no Spark start-up
    val unknown = args.drop(3).filterNot(reg.contains)
    if (args.length < 4 || unknown.nonEmpty) {
      System.err.println("usage: Profile <dir> <outDir> <tag> <query>...")
      if (unknown.nonEmpty) System.err.println(
        s"unknown queries: ${unknown.mkString(" ")}\nknown: ${reg.keys.toSeq.sorted.mkString(" ")}")
      sys.exit(2)
    }
    val Array(dir, outDir, tag) = args.take(3)
    val spark = ToolSession.session()
    for (q <- args.drop(3)) print(record(spark, dir, outDir, tag, q))
    spark.stop()
  }
}
