package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The one Spark-job counter of the profiling tools and the specs: the
  * jobs a body starts, on its own thread or on any thread it creates
  * (pool threads inherit Spark's local properties), with their times.
  */
object Jobs {

  /** One job; `end` is -1 when its end event never arrived. */
  final case class Job(id: Int, start: Long, end: Long, description: String) {
    def seconds: Double = if (end < 0) 0.0 else (end - start) / 1e3
  }

  private val TagKey = "graft.jobs.tag"
  private val BusDrainTimeoutMs = 5L * 60 * 1000

  /** Jobs started while `body` runs, in start order. A listener keyed by
    * a unique local property sees them, and the listener bus is drained
    * before the answer is read, so no trailing event is missed.
    */
  def during(spark: SparkSession)(body: => Any): Seq[Job] = {
    val tag = java.util.UUID.randomUUID().toString
    val started = new ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(TagKey) == tag)) {
          // the job's description if it has one, else its call site
          val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("?")
          started.put(e.jobId, Job(e.jobId, e.time, -1L, desc.replace('\n', ' ')))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        started.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val outer = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, tag)
      try body
      finally sc.setLocalProperty(TagKey, outer)
      // listenerBus is private[spark]: reach it by reflection, with an
      // explicit timeout (the no-argument overload hides a 10 s one)
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      try bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(BusDrainTimeoutMs))
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      started.values.asScala.toSeq.sortBy(j => (j.start, j.id))
    } finally sc.removeSparkListener(listener)
  }

  /** Seconds during which at least one of `jobs` ran: the union of their
    * intervals, so concurrent jobs count once. */
  def busySeconds(jobs: Seq[Job]): Double = {
    var (total, lo, hi) = (0L, Long.MinValue, Long.MinValue)
    for (j <- jobs.filter(_.end >= 0).sortBy(_.start)) {
      if (j.start > hi) { total += hi - lo; lo = j.start; hi = j.end }
      else hi = math.max(hi, j.end)
    }
    (total + hi - lo) / 1e3
  }
}
