package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one closed-loop client on a `local[N]`
  * session runs a workload's ops, each a call of a registered query
  * materialized through the `noop` sink as graft.Bench does. It writes raw
  * samples and per-layer counters as JSON; perfbench/run.py turns them into
  * metrics and checks the dumped outputs.
  *
  * Phases, in order:
  *  1. set-up (timed as a whole into `setup_s`): session start, warm-up, and
  *     the first call of every op, whose output is written as parquet for
  *     the correctness check; the first call also builds the per-JVM
  *     standing-state memos and pays JIT compilation;
  *  2. timed passes until `--seconds` have elapsed, at least two; each pass
  *     runs every op once in a seeded order after the calibration probes.
  *     With `--trace 1` there are at least four, untraced and traced;
  *  3. retained heap after a full GC that follows the second pass, and
  *     the bytes left in the scratch and warehouse areas after the last;
  *  4. with `--trace 1`, the probe ops once on a `local[1]` and once on a
  *     `local[N]` session, for the single-core speed-up.
  */
object Harness {

  final case class Op(name: String, cls: String, fn: (SparkSession, String) => DataFrame) {
    /** `<Module>.<query>`, from the registering object of the query's lambda. */
    val module: String = fn.getClass.getName.split("\\$\\$")(0).split('.').last.stripSuffix("$")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val data = args("data")
    val work = args("work")
    val cpus = args("cpus").toInt
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val rng = new scala.util.Random(args("seed").toLong)
    val registry = graft.SparkEntry.queries
    def ops(key: String): Seq[Op] = args(key).split(',').toSeq.map { s =>
      val Array(name, cls) = s.split(':')
      Op(name, cls, registry(name))
    }
    val workload = ops("ops")

    val t0 = System.nanoTime()
    Scratch.redirect(s"$work/scratch")
    var spark = session(work, cpus, cpus)
    calibOnce(spark)  // warms the probe's plan too
    spark.read.parquet(s"$data/region.parquet").count()
    val setupErrors = mutable.LinkedHashMap.empty[String, String]
    val firstCall = mutable.LinkedHashMap.empty[String, Double]
    for (op <- workload) {
      val o0 = System.nanoTime()
      try op.fn(spark, data).write.mode("overwrite").parquet(s"$work/out/${op.name}")
      catch { case e: Throwable => setupErrors(op.name) = message(e) }
      firstCall(op.name) = (System.nanoTime() - o0) / 1e9
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    val tr = new Trace(spark, cpus)
    val samples = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val calib = mutable.ArrayBuffer.empty[Double]
    val tracedOps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var (stateMb, stateFiles, gcS, heapMb) = (0.0, 0L, 0.0, 0.0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var (pass, tracedPasses) = (0, 0)
    // At least two passes: every op then runs three times in the run, so
    // disk_mb sees the scratch reaper's steady state (it keeps the last
    // three generations of an op's scratch) whatever the program's speed.
    // A traced run orders its passes untraced, traced, traced, untraced, so
    // both kinds get an early and a late pass and the overhead estimate is
    // not the JIT still warming up
    val minPasses = if (trace) 4 else 2
    while (pass < minPasses || System.nanoTime() < deadline) {
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      // the first probe after a pass runs slow, so it only warms
      calibOnce(spark)
      for (_ <- 1 to CalibPerPass) calib += calibOnce(spark)
      val gc0 = gcSeconds()
      if (traced) tr.attach()
      val passSpan = if (traced) Some(tr.openPass(pass)) else None
      val p0 = System.nanoTime()
      for (op <- rng.shuffle(workload)) {
        val span = if (traced) Some(tr.openOp(pass, op.name)) else None
        spark.sparkContext.setLocalProperty(Trace.OpKey, span.map(_.id).orNull)
        val o0 = System.nanoTime()
        val err = try { noop(op.fn(spark, data)); "" } catch { case e: Throwable => message(e) }
        val s = (System.nanoTime() - o0) / 1e9
        spark.sparkContext.setLocalProperty(Trace.OpKey, null)
        samples += s"""{"op":"${op.name}","cls":"${op.cls}","pass":$pass,"s":$s,"traced":$traced,"err":${Json.str(err)}}"""
        span.foreach { sp =>
          tr.close(sp)
          tracedOps.getOrElseUpdate(s"${op.module}.${op.name}_s", mutable.ArrayBuffer.empty) += s
          val (mb, files) = treeSize(s"$work/scratch")
          stateMb = math.max(stateMb, mb); stateFiles = math.max(stateFiles, files)
        }
      }
      passes += (((System.nanoTime() - p0) / 1e9, traced))
      passSpan.foreach(tr.close)
      if (traced) { tr.detach(); gcS += gcSeconds() - gc0; tracedPasses += 1 }
      // Spark's status store keeps every job it ran, so retained heap
      // grows with the pass count; it is read after the second pass, the
      // same amount of work in every run, outside any pass wall. The last
      // query's plan and data stay referenced until the next one runs, so
      // the fixed probe runs first: otherwise the reading depends on which
      // op the seed put last.
      if (pass == 1) {
        calibOnce(spark)
        heapMb = retainedHeapMb()
      }
      pass += 1
    }

    val diskMb = treeSize(s"$work/scratch")._1 + treeSize(s"$work/warehouse")._1

    val layers = mutable.LinkedHashMap.empty[String, Double]
    var speedup = Seq.empty[(Int, Double)]
    if (trace) {
      layers ++= tr.metrics(passes.filter(_._2).map(_._1).toSeq)
      layers("Tables.state_mb") = stateMb
      layers("Tables.files") = stateFiles.toDouble
      layers("jvm.gc_s") = gcS / tracedPasses
      layers("box.calib_s") = med(calib)
      layers("trace.overhead_frac") =
        med(passes.filter(_._2).map(_._1)) / med(passes.filterNot(_._2).map(_._1)) - 1
      Files.writeString(Paths.get(s"$work/spans.json"), tr.spansJson)
      // the single-core baseline: the same probe ops on a fresh local[1]
      // and a fresh local[N] session, shuffle partitions fixed at N so the
      // plans are identical and only the core count differs
      val probe = ops("probe")
      speedup = Seq(1, cpus).map { cores =>
        spark.stop()
        spark = session(work, cores, cpus)
        val p0 = System.nanoTime()
        probe.foreach(op => noop(op.fn(spark, data)))
        cores -> (System.nanoTime() - p0) / 1e9
      }
      layers("tasks.speedup_vs_1") = speedup.head._2 / speedup.last._2
    }
    spark.stop()

    def obj(kv: Iterable[(String, Any)]) = kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    // c3_sim_topk is the exact search the ANN ops' recall is measured against
    val oracles = graft.SparkEntry.oracleSql
      .filter { case (k, _) => k == "c3_sim_topk" || workload.exists(_.name == k) }
    val out = obj(Seq(
      "setup_s" -> setupS,
      "setup_errors" -> obj(setupErrors.map { case (k, v) => k -> Json.str(v) }),
      "first_call_s" -> obj(firstCall),
      "passes" -> passes.map { case (s, t) => s"""{"s":$s,"traced":$t}""" }.mkString("[", ",", "]"),
      "samples" -> samples.mkString("[", ",", "]"),
      "heap_retained_mb" -> heapMb,
      "disk_mb" -> diskMb,
      "calib_s" -> calib.mkString("[", ",", "]"),
      "speedup_pass_s" -> obj(speedup.map { case (c, s) => s"local[$c]" -> s }),
      "recon_tolerance" -> Trace.ReconTolerance,
      "layers" -> obj(layers),
      "op_s" -> obj(tracedOps.map { case (k, v) => k -> med(v) }),
      "oracle_sql" -> obj(oracles.map { case (k, v) => k -> Json.str(v) })))
    Files.writeString(Paths.get(args("out")), out)
  }

  private val MB = 1024.0 * 1024.0
  /** Calibration probes timed before each pass. */
  private val CalibPerPass = 3

  private def med(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private def session(work: String, cores: Int, partitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** graft.Bench's calibration probe shape: a fixed, data-independent
    * shuffle + aggregate + sort into the noop sink. */
  private def calibOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    noop(spark.range(8L * 1000 * 1000).selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s")).orderBy("k"))
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use right after a full collection. */
  private def retainedHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    // the first collection queues Spark's weakly held broadcasts and
    // shuffles for its context cleaner; the second frees what it removed
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / MB
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** (MiB, regular files) under `dir`; 0 when absent. Files can vanish
    * while a walk runs, which counts them as gone. */
  private def treeSize(dir: String): (Double, Long) = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return (0.0, 0L)
    var (bytes, files) = (0L, 0L)
    val walk = Files.walk(p)
    try walk.forEach { (f: Path) =>
      if (Files.isRegularFile(f)) {
        files += 1
        bytes += scala.util.Try(Files.size(f)).getOrElse(0L)
      }
    } catch { case _: java.io.UncheckedIOException => }
    finally walk.close()
    (bytes / MB, files)
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** Points graft.ops.Tables.scratch at the run's own area. The program keeps
  * that path as a constant inside the source tree it was developed in; the
  * benchmark must read and write only inside its checkout and start each
  * run from an empty scratch area, and must not patch the program, so it
  * replaces the constant when the object is first loaded, before any
  * query reads it. */
object Scratch {
  def redirect(dir: String): Unit = {
    val cls = graft.ops.Tables.getClass
    val field = cls.getDeclaredField("scratch")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObjectVolatile(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field), dir)
    require(graft.ops.Tables.scratch == dir, s"scratch redirect failed: ${graft.ops.Tables.scratch}")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
