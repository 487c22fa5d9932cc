package graft

import org.apache.spark.sql.functions._

/** Catalyst extension machinery: the native extract_numeric expression
  * (eval + codegen), the optimizer substitution rule, and the typed
  * centroid Aggregator.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("extract_numeric native expression matches the portable idiom") {
    val df = Seq("Purchased 4.99 USD", "dur 300s", "none", "v2 is 10.50").toDF("s")
      .select(
        expr("extract_numeric(s)").as("native"),
        regexp_extract(col("s"), graft.ops.Ingest.NumRegex, 1).try_cast("float").as("portable"))
    val rows = df.collect()
    rows.foreach(r => assert(r.get(0) === r.get(1)))
    assert(rows.map(_.get(0)).toSeq === Seq(4.99f, 300f, null, 2f))
  }

  test("two extract_numeric calls codegen in one projection without local collisions") {
    // spark.range source so ConvertToLocalRelation cannot pre-evaluate
    // the projection interpreted — the point is to execute GENERATED code
    val df = spark.range(3)
      .select(format_string("a %d.5 b", col("id")).as("s1"),
        format_string("c %d d", col("id") * 2).as("s2"))
      .select(expr("extract_numeric(s1)").as("x1"), expr("extract_numeric(s2)").as("x2"))
    // WholeStageCodegen must survive both calls in one projection (a
    // fixed local name in doGenCode could collide if Spark inlines both
    // into one method scope and silently fall back to interpreted eval)
    // the "*(n)" prefix is the whole-stage-codegen stage marker
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
    val rows = df.collect().map(r => (r.get(0), r.get(1)))
    assert(rows.toSeq === Seq((0.5f, 0f), (1.5f, 2f), (2.5f, 4f)))
  }

  test("optimizer rule rewrites the regexp_extract+cast idiom to the native expression") {
    val df = graft.ops.Ingest.envelope(spark, sf0001)
      .select(regexp_extract(col("EventDetails"), graft.ops.Ingest.NumRegex, 1)
        .try_cast("float").as("x"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("extract_numeric"),
      s"expected native substitution in plan:\n$optimized")
    assert(df.filter(col("x").isNotNull).count() > 0)
  }

  test("optimizer rule leaves the ANSI-mode cast untouched (round-7 ADVICE gate)") {
    // ANSI cast of the idiom THROWS on the no-match empty string where
    // the native expression returns null, so the rule must not touch it.
    // The session runs with Spark 4's ANSI default, so a plain .cast IS
    // the ANSI form — a rewrite here would change user-visible errors.
    assume(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = graft.ops.Ingest.envelope(spark, sf0001)
      .select(regexp_extract(col("EventDetails"), graft.ops.Ingest.NumRegex, 1)
        .cast("float").as("x"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("extract_numeric"),
      s"ANSI cast must not be rewritten:\n$optimized")
  }

  test("a6 results are unchanged under the extension rewrite") {
    val out = graft.ops.Ingest.a6_regexpExtract(spark, sf0001)
      .filter(col("extracted").isNotNull).count()
    assert(out > 0)
  }

  test("dot_f32 matches the portable zip_with fold — including ragged and null-element arrays") {
    // rows: equal-length, ragged (shorter right / shorter left), a null
    // element on either side, and a wholly-null side. The portable form
    // is the CONTRACT: zip_with null-pads ragged arrays and a null
    // product nulls the sum — dot_f32 must agree on every row, not
    // silently truncate to min(length).
    val df = spark.sql(
      """SELECT a, b FROM VALUES
        |  (array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(NULL AS FLOAT), CAST(2.0 AS FLOAT))),
        |  (CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))
        |AS t(a, b)""".stripMargin)
      .selectExpr(
        "dot_f32(a, b) AS native",
        "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS portable")
    def check(): Unit =
      df.collect().foreach { r =>
        assert(r.isNullAt(0) === r.isNullAt(1), s"null disagreement: $r")
        if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1), s"value disagreement: $r")
      }
    check() // whole-stage codegen path (doGenCode)
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try check() // interpreted path (nullSafeEval)
    finally spark.conf.set(key, prev)
  }

  test("VectorCentroid aggregator matches a driver-side mean") {
    // x_label_centroids serializes the centroid at 1e-3 resolution so the
    // rows-only harness can sort scalar columns; compare at that grain.
    val rows = graft.ops.VectorOps.labelCentroids(spark, sf0001).collect()
    val emb = graft.ops.Tables.embeddings(spark, sf0001).collect()
      .map(r => (r.getAs[Int]("label"), r.getSeq[Float](1)))
    val byLabel = emb.groupBy(_._1)
    rows.foreach { r =>
      val label = r.getAs[Int]("label")
      assert(r.getAs[Long]("dim") === 64L)
      val centroid = r.getAs[String]("centroid_csv").split(",").map(_.toDouble)
      val vs = byLabel(label).map(_._2)
      assert(r.getAs[Long]("n") === vs.length)
      val expected = (0 until 64).map(i => vs.map(_(i).toDouble).sum / vs.length)
      centroid.zip(expected).foreach { case (a, b) => assert(math.abs(a - b) <= 5.01e-4) }
    }
    assert(rows.length === 10)
  }

  test("source guard: src/main registers no function and names no kernel in SQL") {
    import scala.jdk.CollectionConverters._
    // any write to the session's function registry, direct or through spark.udf
    val registration = """functionRegistry|udf\s*\.\s*register""".r
    // A stray expr("dot_f32(…)") passes every spec here (this session
    // has the extension) and fails on a session without it.
    val kernelCall =
      """\b(dot_f32|bpe_count|bpe_count_simple|shingle_fold|gram_census|encoding_census)\s*\(""".r
    val literal = "\"\"\"[\\s\\S]*?\"\"\"|\"(?:[^\"\\\\\n]|\\\\.)*\"".r
    // the literal-SQL cell-ranking oracle behind Extras.assignExprSql/probeCellsSql
    val allowed = Set("Extras.scala" -> "\"dot_f32(embedding, ${unitTo(c)})\"")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val offenders = try {
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          def at(i: Int) = s"$p:${src.substring(0, i).count(_ == '\n') + 1}"
          val registry = registration.findAllMatchIn(src).map(m => s"${at(m.start)} ${m.matched}")
          val sql = literal.findAllMatchIn(src)
            .filter(m => kernelCall.findFirstIn(m.matched).isDefined)
            .filterNot(m => allowed(p.getFileName.toString -> m.matched))
            .map(m => s"${at(m.start)} ${m.matched}")
          registry ++ sql
        }.toList
    } finally files.close()
    assert(offenders.isEmpty,
      "call kernels through graft.functions.Kernels:\n  " + offenders.mkString("\n  "))
  }
}
