package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval, in epoch milliseconds (the listener bus's clock).
  * `parent` names the span that caused it: pass -> op -> sql -> job -> stage. */
final case class Span(id: String, var parent: String, kind: String, name: String,
    var t0: Long, var t1: Long)

/** Spans and counters of the traced passes, recorded from outside the
  * program through Spark's three listener interfaces. The harness opens
  * pass and op spans; the listeners add SQL executions, jobs and stages,
  * and tag each job with its op through the [[Trace.OpKey]] local
  * property, which streaming threads inherit from the op that starts them.
  * Every callback runs on a listener-bus thread, so all state is guarded
  * by `this`. */
final class Trace(spark: SparkSession, cpus: Int) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[String, Span]
  private val opSpans = mutable.ArrayBuffer.empty[Span]
  private val passSpans = mutable.ArrayBuffer.empty[Span]
  private val jobOp = mutable.HashMap.empty[Int, String]
  private val stageTaskRun = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val sum = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val streamState = mutable.HashMap.empty[String, (Long, Long)]
  private var drainTimeouts = 0

  private def add(s: Span): Span = { spans += s; byId(s.id) = s; s }
  private def count(k: String, v: Double): Unit = sum(k) += v

  def openPass(i: Int): Span = synchronized {
    val s = add(Span(s"pass:$i", "", "pass", s"pass $i", now, -1)); passSpans += s; s
  }
  def openOp(pass: Int, op: String): Span = synchronized {
    val s = add(Span(s"op:$pass:$op", s"pass:$pass", "op", op, now, -1)); opSpans += s; s
  }
  def close(s: Span): Unit = synchronized { s.t1 = now }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobOp(e.jobId) = op
      val parent = exec.map(x => s"sql:$x").filter(byId.contains).getOrElse(op)
      add(Span(s"job:${e.jobId}", parent, "job", s"job ${e.jobId}", e.time, -1))
      exec.flatMap(x => byId.get(s"sql:$x")).filter(_.parent.isEmpty).foreach(_.parent = op)
      e.stageIds.foreach(id => add(Span(s"stage:$id", s"job:${e.jobId}", "stage", s"stage $id", -1, -1)))
      count("jobs.count", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      byId.get(s"job:${e.jobId}").foreach(_.t1 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      val s = byId.getOrElse(s"stage:${info.stageId}",
        add(Span(s"stage:${info.stageId}", "", "stage", s"stage ${info.stageId}", -1, -1)))
      s.t0 = info.submissionTime.getOrElse(-1L)
      s.t1 = info.completionTime.getOrElse(-1L)
      count("stages.count", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      count("tasks.count", 1)
      if (m != null) {
        stageTaskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        count("tasks.run_s", m.executorRunTime / 1e3)
        count("tasks.cpu_s", m.executorCpuTime / 1e9)
        count("tasks.gc_s", m.jvmGCTime / 1e3)
        count("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        count("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        count("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        count("spill.mb", m.diskBytesSpilled / MB)
        count("input.rows", m.inputMetrics.recordsRead.toDouble)
        count("input.mb", m.inputMetrics.bytesRead / MB)
        count("output.rows", m.outputMetrics.recordsWritten.toDouble)
        count("output.mb", m.outputMetrics.bytesWritten / MB)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          add(Span(s"sql:${s.executionId}", "", "sql", s.description.take(80), s.time, -1))
        case s: SparkListenerSQLExecutionEnd =>
          byId.get(s"sql:${s.executionId}").foreach(_.t1 = s.time)
        case _ =>
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      count("plan.executions", 1)
      for ((phase, summary) <- qe.tracker.phases)
        count(s"plan.${phase}_s", summary.durationMs / 1e3)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.withDefaultValue(0.0)
        count("stream.batches", 1)
        count("stream.trigger_s", d("triggerExecution"))
        count("stream.add_batch_s", d("addBatch"))
        count("stream.latest_offset_s", d("latestOffset"))
        count("stream.wal_commit_s", d("walCommit"))
        count("stream.commit_offsets_s", d("commitOffsets"))
        // state is a level, not a flow: keep each run's latest reading
        streamState(p.runId.toString) =
          (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  /** Attaches the three listeners for one traced pass. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the bus before detaching, so no event of the traced pass is
    * dropped with its listener. A drain that times out is counted and
    * reported, not thrown. */
  def detach(): Unit = {
    if (!org.apache.spark.perfbench.Bus.drain(spark.sparkContext, DrainTimeoutMs))
      synchronized { drainTimeouts += 1 }
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Per-layer metrics of the traced passes, whose walls the harness
    * measured on its own clock: the span-derived sum of op self time, job
    * busy time and the harness's gaps between ops must reconcile with them. */
  def metrics(passWallsS: Seq[Double]): Map[String, Double] = synchronized {
    val jobs = spans.filter(s => s.kind == "job" && s.t1 >= s.t0 && s.t0 > 0)
    val busyS = unionMs(jobs.map(j => (j.t0, j.t1)).toSeq) / 1e3
    // an op's self time is its span minus the part its own jobs cover
    val jobsByOp = jobs.groupBy(j => jobOp.getOrElse(j.id.stripPrefix("job:").toInt, ""))
    val selfS = opSpans.map { op =>
      val covered = unionMs(jobsByOp.getOrElse(op.id, Nil).map(j =>
        (math.max(j.t0, op.t0), math.min(j.t1, op.t1))).filter(i => i._2 > i._1).toSeq)
      (op.t1 - op.t0 - covered) / 1e3
    }.sum
    val passS = passWallsS.sum
    val gapS = passSpans.map(p => (p.t1 - p.t0) / 1e3).sum - opSpans.map(o => (o.t1 - o.t0) / 1e3).sum
    val skew = stageTaskRun.values.filter(_.size >= 2).map { ts =>
      val sorted = ts.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }.maxOption.getOrElse(1.0)
    // flows and state levels are per traced pass, so runs that fit a
    // different number of passes compare
    val n = passSpans.size.max(1).toDouble
    val perPass = Map(
      "op.driver_s" -> selfS,
      "jobs.busy_s" -> busyS,
      "stream.floor_s" -> (sum("stream.trigger_s") - sum("stream.add_batch_s")),
      "stream.state_rows" -> streamState.values.map(_._1).sum.toDouble,
      "stream.state_mb" -> streamState.values.map(_._2).sum / MB
    ) ++ CounterNames.map(k => k -> sum(k))
    perPass.map { case (k, v) => k -> v / n } ++ Map(
      "tasks.cpu_util" -> sum("tasks.cpu_s") / math.max(1e-9, passS * cpus),
      "tasks.skew" -> skew,
      "trace.recon_err_frac" -> math.abs(selfS + busyS + gapS - passS) / math.max(1e-9, passS),
      "trace.drain_timeouts" -> drainTimeouts.toDouble,
      "trace.jobs_unfinished" -> spans.count(s => s.kind == "job" && s.t1 < 0).toDouble)
  }

  /** Every span as one JSON array, written when the run ends. */
  def spansJson: String = synchronized {
    // an execution that ran no job is placed by time in the op around it
    for (s <- spans if s.kind == "sql" && s.parent.isEmpty)
      opSpans.find(o => o.t0 <= s.t0 && s.t0 <= o.t1).foreach(o => s.parent = o.id)
    spans.map(s =>
      s"""{"id":"${s.id}","parent":"${s.parent}","kind":"${s.kind}","name":${Json.str(s.name)},"t0":${s.t0},"t1":${s.t1}}""")
      .mkString("[\n", ",\n", "\n]")
  }
}

object Trace {
  /** Local property carrying the id of the op span a job belongs to. */
  val OpKey = "perfbench.op"
  val DrainTimeoutMs = 30000L
  /** Reconciliation tolerance for trace.recon_err_frac, stated in the output. */
  val ReconTolerance = 0.03
  private val MB = 1024.0 * 1024.0
  private val CounterNames = Seq("plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "plan.executions", "jobs.count", "stages.count", "tasks.count", "tasks.run_s", "tasks.cpu_s",
    "tasks.gc_s", "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb",
    "input.rows", "input.mb", "output.rows", "output.mb", "stream.batches", "stream.trigger_s",
    "stream.add_batch_s", "stream.latest_offset_s", "stream.wal_commit_s",
    "stream.commit_offsets_s")

  private def now: Long = System.currentTimeMillis()

  /** Length of the union of [start, end) intervals, in ms: overlapping
    * jobs count once. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a > hi) { if (hi > lo) total += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) total += hi - lo
    total
  }
}
