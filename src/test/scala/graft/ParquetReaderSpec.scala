package graft

import graft.ops.{Ingest, Tables, VectorOps}
import graft.streaming.StreamOps
import graft.tools.Jobs
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

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
    // events, whose read sets no session conf
    Tables.events(spark, sf0001)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") !== "true")
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
    VectorOps.annIndexAppend(emb.filter(col("vec_id") > mid), dir,
      VectorOps.readAnnModel(spark, dir))
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
    // the counter sees Spark's inference job ...
    assert(Jobs.during(spark)(spark.read.parquet(s"$sf0001/documents.parquet").schema).size >= 1)
    // ... and none from the reader, on a file, a fixture and a
    // partitioned directory
    assert(Jobs.during(spark)(Tables.parquet(spark, s"$sf0001/documents.parquet").schema).size === 0)
    assert(Jobs.during(spark)(Tables.documents(spark, sf0001).schema).size === 0)
    Ingest.a12_sinkDwd(spark, sf0001).count()
    assert(Jobs.during(spark)(Tables.parquet(spark,
      s"${Tables.scratch}/dwd_${Tables.sanitize(sf0001)}").schema).size === 0)
  }

  /** Spark's answer to [[Tables.idRange]]: count, min, max. */
  private def sparkRange(df: DataFrame, column: String): Tables.IdRange = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val r = df.agg(count(lit(1)), min(col(column)), max(col(column))).head()
    Tables.IdRange(r.getLong(0),
      if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
  }

  test("Tables.idRange equals Spark's count/min/max, from the footers, with no job") {
    val fixtures = Seq(sf0001, "/root/testdata/sf0.01", "perfbench/fixture")
    for (d <- fixtures; (t, c) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val got = Tables.idRange(spark, d, t, c)
      assert(got === Some(sparkRange(Tables.t(spark, d, t), c)), s"$d/$t.$c")
      assert(Tables.idBounds(spark, d, t, c) === got.get.bounds)
    }
    // a directory table of several part files, one of them holding
    // only nulls of the column
    val dir = Tables.scratchDir("idrange_dir", sf0001)
    val docs = Tables.documents(spark, sf0001)
    docs.repartition(3).write.parquet(s"$dir/documents.parquet")
    docs.limit(7).withColumn("doc_id", lit(null).cast("long"))
      .write.mode("append").parquet(s"$dir/documents.parquet")
    val multi = Tables.idRange(spark, dir, "documents", "doc_id")
    assert(multi === Some(sparkRange(Tables.documents(spark, dir), "doc_id")))
    assert(multi.get.rows === 507L)
    assert(Jobs.during(spark)(Tables.idRange(spark, dir, "documents", "doc_id")).size === 0)
    assert(Jobs.during(spark)(Tables.idBounds(spark, sf0001, "embeddings", "vec_id")).size === 0)
  }

  test("Tables.idRange: all-null is the empty answer; no statistics or a partition key is None") {
    val dir = Tables.scratchDir("idrange_edge", sf0001)
    val docs = Tables.documents(spark, sf0001)
    // an all-null column: the rows, no bounds — the empty-corpus answer
    docs.withColumn("doc_id", lit(null).cast("long"))
      .write.parquet(s"$dir/nulls.parquet")
    assert(Tables.idRange(spark, dir, "nulls", "doc_id") ===
      Some(Tables.IdRange(500L, None)))
    assert(Tables.idBounds(spark, dir, "nulls", "doc_id") === None)
    // written without column statistics: no footer answer, and
    // idBounds falls back to Spark's aggregate
    docs.write.option("parquet.column.statistics.enabled", "false")
      .parquet(s"$dir/nostats.parquet")
    assert(Tables.idRange(spark, dir, "nostats", "doc_id") === None)
    val bounds = sparkRange(docs, "doc_id").bounds
    assert(Jobs.during(spark)(assert(Tables.idBounds(spark, dir, "nostats", "doc_id") === bounds)).size >= 1)
    // a partition key's values live in directory names, not footers
    docs.withColumn("part", col("doc_id") % 2)
      .write.partitionBy("part").parquet(s"$dir/parted.parquet")
    assert(Tables.idRange(spark, dir, "parted", "part") === None)
    assert(Tables.idRange(spark, dir, "parted", "doc_id") ===
      Some(sparkRange(docs, "doc_id")))
    // not a plain BIGINT, or no such column: None
    assert(Tables.idRange(spark, sf0001, "documents", "text") === None)
    assert(Tables.idRange(spark, sf0001, "documents", "no_such_column") === None)
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
