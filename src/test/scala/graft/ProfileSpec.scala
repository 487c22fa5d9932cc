package graft

import graft.tools.{Jobs, Profile}

/** `graft.tools.Profile`'s record on the three shapes a query's time
  * takes: serial jobs (b1), concurrent jobs from a thread pool
  * (x_retention_audit) and a streaming drain (s6).
  */
class ProfileSpec extends SparkSpec {

  private val queries = Seq("b1_agg_user_features", "x_retention_audit", "s6_stream_dedup")
  private lazy val outDir = graft.ops.Tables.scratchDir("profile_spec", sf0001)
  private lazy val records =
    queries.map(q => q -> Profile.record(spark, sf0001, outDir, "spec", q)).toMap

  test("busy time is the union of the job intervals: at most the wall time, at least the longest job") {
    for ((q, r) <- records) {
      assert(r.jobs.nonEmpty, q)
      assert(r.busyS <= r.wallS, s"busy over wall:\n$r")
      assert(r.busyS >= r.jobs.map(_.seconds).max, s"busy under the longest job:\n$r")
    }
  }

  test("x_retention_audit's record counts the jobs its pool threads start") {
    val r = records("x_retention_audit")
    val direct = Jobs.during(spark) {
      SparkEntry.queries("x_retention_audit")(spark, sf0001)
        .write.mode("overwrite").format("noop").save()
    }
    assert(r.jobs.nonEmpty)
    assert(r.jobs.size === direct.size, s"record:\n$r")
  }

  test("s6's record names its drain: one streaming query, batches and addBatch time") {
    val r = records("s6_stream_dedup")
    assert(r.streams.size === 1, s"record:\n$r")
    val s = r.streams.head
    assert(s.batches >= 1 && s.phasesMs("addBatch") > 0, s"record:\n$r")
  }

  test("the process census counts each program a call starts") {
    val (_, processes) = Profile.processesDuring {
      (1 to 2).foreach(_ => new ProcessBuilder("/bin/true").start().waitFor())
    }
    assert(processes.get("true") === Some(2), s"processes: $processes")
  }

  test("s6's drain commits its checkpoints without forking readlink") {
    // FileContext's local rename forks readlink when Hadoop's native
    // library is absent (120 per call at perfbench scale); drain's
    // checkpoint manager renames through the FileSystem API instead.
    // Where libhadoop is installed nothing forks either way: StreamingSpec
    // checks which manager a drain's micro-batches resolve
    val r = records("s6_stream_dedup")
    assert(!r.processes.contains("readlink"), s"record:\n$r")
  }

  test("s6's plan file carries the drain's last micro-batch plan") {
    records // the plan files are written while the records are built
    val plan = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outDir, "s6_stream_dedup_spec.txt")), "UTF-8")
    assert(plan.contains("== Physical Plan =="))
    assert(plan.contains("== Streaming query 1, last micro-batch =="))
  }

  test("source guard: no onJobStart override under src/ outside the shared counter") {
    import scala.jdk.CollectionConverters._
    val hook = """override\s+def\s+onJobStart""".r
    val counter = java.nio.file.Paths.get("src/main/scala/graft/tools/Jobs.scala")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val offenders = try {
      files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != counter)
        .filter(p => hook.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).nonEmpty)
        .toList
    } finally files.close()
    assert(offenders.isEmpty, s"count jobs through graft.tools.Jobs: ${offenders.mkString(", ")}")
  }
}
