package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.jdk.CollectionConverters._

/** Dump `.explain("formatted")` for registered queries into files —
  * the plans/rNN/<query>_{before,after}.txt evidence the optimization
  * rounds commit. Composite queries run their side-effecting build
  * steps while planning the returned frame; the dumped plan is the
  * final consumer plan, exactly what `df.explain("formatted")` prints.
  * A streaming drain's own work (its state exchanges and stateful
  * operators) runs in the streaming query, not in the read-back frame,
  * so the plan of every streaming query the call ran — its last
  * micro-batch — follows the consumer plan.
  *
  * Usage: runMain graft.tools.DumpPlans <dir> <outDir> <suffix> <query>...
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: DumpPlans <dir> <outDir> <suffix> <query>...")
    val d = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = ToolSession.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // onQueryStarted runs before start() returns, while the query is
    // still registered with the session's manager
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(started.add)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    val reg = graft.SparkEntry.queries
    for (n <- names) {
      started.clear()
      val df = reg(n)(spark, d)
      val streams = started.asScala.toSeq.zipWithIndex.flatMap { case (q, i) =>
        Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution).map(
          e => s"\n== Streaming query ${i + 1}, last micro-batch ==\n" +
            e.explainString(FormattedMode))
      }
      val plan = df.queryExecution.explainString(FormattedMode) + streams.mkString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      println(s"[plans] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
