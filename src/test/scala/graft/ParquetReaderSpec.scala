package graft

import graft.ops.{Ingest, Tables, VectorOps}
import graft.streaming.StreamOps
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col

/** `Tables.parquet`, the engine's one parquet reader: the schema comes
  * from one footer read on the driver instead of Spark's one-task
  * inference job, and everything else about the read stays Spark's.
  */
class ParquetReaderSpec extends SparkSpec {

  private def sameSchemaAsSpark(path: String): Unit = {
    val ours = Tables.parquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema === theirs.schema, s"schema differs at $path")
    assert(ours.count() === theirs.count(), s"row count differs at $path")
  }

  /** Newest generation of a [[Tables.scratchDir]] prefix. */
  private def newestScratch(tag: String): String = {
    import scala.jdk.CollectionConverters._
    val prefix = s"${tag}_${Tables.sanitize(sf0001)}_g"
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(Tables.scratch))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && n.substring(prefix.length).forall(_.isDigit))
      .maxBy(_.substring(prefix.length).toLong)
    finally s.close()
  }

  test("Tables.parquet resolves Spark's own schema: files, directories, sinks, state") {
    for (t <- Seq("documents", "embeddings", "lineitem", "region"))
      sameSchemaAsSpark(s"$sf0001/$t.parquet")
    // events under nanosAsLong, the conf Tables.t sets for old fixtures
    Tables.events(spark, sf0001)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    sameSchemaAsSpark(s"$sf0001/events.parquet")
    // a directory table of several part files
    val dirTable = s"${Tables.scratchDir("reader_dir", sf0001)}/documents.parquet"
    Tables.documents(spark, sf0001).repartition(3).write.parquet(dirTable)
    sameSchemaAsSpark(dirTable)
    // the partitioned sinks: a12's EventTypePath= layout and s1's
    // bid=/EventTypePath= layout (the supplied schema carries only the
    // data columns; partition discovery stays Spark's)
    Ingest.a12_sinkDwd(spark, sf0001).count()
    sameSchemaAsSpark(s"${Tables.scratch}/dwd_${Tables.sanitize(sf0001)}")
    StreamOps.s1_streamPipeline(spark, sf0001).count()
    val s1Out = s"${Tables.scratch}/${newestScratch("s1_sink")}/out"
    sameSchemaAsSpark(s1Out)
    assert(Tables.parquet(spark, s1Out).columns.takeRight(2).toSeq === Seq("bid", "EventTypePath"))
    // codes.parquet after an append: two write jobs' footers in one dir
    val emb = Tables.embeddings(spark, sf0001)
    val ids = emb.agg(org.apache.spark.sql.functions.min("vec_id"),
      org.apache.spark.sql.functions.max("vec_id")).head()
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val dir = VectorOps.buildAnnIndexOf(spark, emb.filter(col("vec_id") <= mid),
      Tables.scratchDir("reader_ann", sf0001)).get
    VectorOps.annIndexAppend(spark, emb.filter(col("vec_id") > mid), dir)
    sameSchemaAsSpark(s"$dir/codes.parquet")
    // a bucketed table's directory
    val tbl = Tables.saveBucketed(spark, "reader_bkt", sf0001, 4, "doc_id", Seq("doc_id"))(
      Tables.documents(spark, sf0001))
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
    sameSchemaAsSpark(loc.getPath)
  }

  test("resolving Tables.parquet starts no Spark job") {
    Tables.documents(spark, sf0001) // warm the read path
    val tag = s"reader-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.reader.test") == tag))
          jobs.incrementAndGet()
    }
    def jobsOf(read: => DataFrame): Int = {
      jobs.set(0)
      spark.sparkContext.setLocalProperty("graft.reader.test", tag)
      try read.schema
      finally spark.sparkContext.setLocalProperty("graft.reader.test", null)
      // drain the bus so every job this thread started has been seen
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      try bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the counter sees Spark's inference job ...
      assert(jobsOf(spark.read.parquet(s"$sf0001/documents.parquet")) >= 1)
      // ... and none from the reader, on a file, a fixture and a
      // partitioned directory
      assert(jobsOf(Tables.parquet(spark, s"$sf0001/documents.parquet")) === 0)
      assert(jobsOf(Tables.documents(spark, sf0001)) === 0)
      Ingest.a12_sinkDwd(spark, sf0001).count()
      assert(jobsOf(Tables.parquet(spark, s"${Tables.scratch}/dwd_${Tables.sanitize(sf0001)}")) === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("no data file: Tables.parquet fails with Spark's own error condition") {
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read.schema).getCondition
    val empty = Tables.scratchDir("reader_empty", sf0001)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$empty/_SUCCESS"))
    val missing = s"$empty/no_such_table.parquet"
    for (p <- Seq(empty, missing))
      assert(condition(Tables.parquet(spark, p)) === condition(spark.read.parquet(p)))
    assert(condition(Tables.parquet(spark, empty)) === "UNABLE_TO_INFER_SCHEMA")
    assert(condition(Tables.parquet(spark, missing)) === "PATH_NOT_FOUND")
  }

  test("source guard: every parquet read in src/main goes through Tables.parquet") {
    import scala.jdk.CollectionConverters._
    val bare = """\.read\s*\.parquet\(""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft"))
    val offenders = try {
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        // the reader itself, and the judged bench harness (kept as is)
        .filterNot(p => Set("Tables.scala", "Bench.scala")(p.getFileName.toString))
        .flatMap { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          bare.findAllMatchIn(src).map { m =>
            s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
          }
        }.toList
    } finally files.close()
    assert(offenders.isEmpty,
      "bare read.parquet (use Tables.parquet):\n  " + offenders.mkString("\n  "))
  }
}
