package graft

import org.apache.spark.sql.functions._
import graft.ops.Ingest

/** A6/A7/A8 semantics mirroring the reference's worked examples
  * (/root/reference/README.md:115-116: "Purchased 4.99 USD" → 4.99,
  * session-duration text → numeric; ConsumerMultiThread.java:121-132).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def extract(s: String): Option[Float] = {
    val df = Seq(s).toDF("EventDetails")
      .select(regexp_extract(col("EventDetails"), Ingest.NumRegex, 1)
        .try_cast("float").as("x"))
    Option(df.collect()(0).getAs[java.lang.Float]("x")).map(_.floatValue)
  }

  test("A6 extracts the first numeric, decimals preferred") {
    assert(extract("Purchased 4.99 USD") === Some(4.99f))
    assert(extract("Session lasted 300 seconds") === Some(300f))
    assert(extract("no digits here") === None)
    assert(extract("v2 costs 10.50") === Some(2f)) // first match wins, as in the reference
  }

  test("A7 drops rows missing any required field") {
    val env = Ingest.envelope(spark, sf0001)
    val validated = Ingest.dwdFrame(spark, sf0001)
    val nullLoc = env.filter(col("Location").isNull).count()
    assert(nullLoc > 0, "fixture must exercise the null branch")
    assert(validated.count() === env.count() - nullLoc)
    assert(validated.filter(col("Location").isNull).count() === 0)
  }

  test("A8 projects the 7 envelope fields in fixed order") {
    assert(Ingest.dwdFrame(spark, sf0001).columns.toSeq === Ingest.EventFields)
  }

  test("A12 JDBC parity: dwd rows round-trip through an embedded Derby table") {
    // the reference's sink is a transactional JDBC batch insert
    // (ConsumerMultiThread.java:163-201); Spark's jdbc writer issues the
    // same batched inserts per partition. Derby (bundled with Spark)
    // stands in for the reference's SQLite file target (no sqlite-jdbc
    // in this image); a12's parquet form remains the oracled query.
    val dwd = Ingest.dwdFrame(spark, sf0001)
    val dbDir = s"${graft.ops.Tables.scratch}/derby_a12"
    graft.ops.Tables.rmrf(dbDir)
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    dwd.coalesce(2).write.mode("overwrite").jdbc(url, "dwd_events", props)
    val back = spark.read.jdbc(url, "dwd_events", props)
    assert(back.count() === dwd.count())
    val key = col("EventID").cast("long")
    val a = dwd.orderBy(key).collect().map(_.mkString("|"))
    val b = back.select(dwd.columns.map(col): _*).orderBy(key)
      .collect().map(_.mkString("|"))
    assert(a.sameElements(b), "JDBC round-trip must preserve every row bit-for-bit")
  }

  test("A13 boot-failure gate: XSDB6 vetoes the wipe, next-exception chains are walked") {
    import java.sql.SQLException
    def sql(state: String) = new SQLException("msg", state)
    // Derby's primary nesting: XJ040 wrapper with the real error as the
    // NEXT exception, not the cause — both directions must be seen
    val bootViaNext = sql("XJ040"); bootViaNext.setNextException(sql("XBM0A"))
    assert(Ingest.isDerbyBootFailure(bootViaNext),
      "stale-file boot failure nested via getNextException must be recoverable")
    assert(Ingest.isDerbyBootFailure(new RuntimeException("w", sql("XJ040"))),
      "boot wrapper nested via getCause must be recoverable")
    // dual boot: another engine HOLDS the db — Derby still wraps it in
    // XJ040, so the presence of XSDB6 anywhere must VETO the wipe
    val dualBoot = sql("XJ040"); dualBoot.setNextException(sql("XSDB6"))
    assert(!Ingest.isDerbyBootFailure(dualBoot),
      "dual-boot (XSDB6) under the XJ040 wrapper must never wipe the db")
    assert(!Ingest.isDerbyBootFailure(sql("42X05")),
      "a plain SQL error against a live engine must propagate, not wipe")
    assert(!Ingest.isDerbyBootFailure(new RuntimeException("no sql at all")))
  }

  test("A18 quarantine is the exact disjoint complement of A7") {
    val all = Ingest.a1_scan(spark, sf0001).count()
    val valid = Ingest.a7_validate(spark, sf0001).count()
    val q = Ingest.a18_quarantine(spark, sf0001)
    assert(q.count() + valid === all, "a7 ∪ a18 must partition a1")
    // the fixture's only invalid shape is the every-97th null Location,
    // so every reject carries exactly that reason and id % 97 == 0
    val bad = q.filter(col("reject_reason") =!= "Location" ||
      col("EventID").cast("long") % 97 =!= 0)
    assert(bad.count() === 0)
    assert(q.count() > 0, "the census fixture must actually exercise quarantine")
  }

  test("EnvelopeNulls: each envelope field is null exactly where its raw-column entry holds") {
    import org.apache.spark.sql.Row
    // every null pattern of the five raw columns the envelope reads, each
    // with an event_id that is and is not a multiple of 97 (Location's
    // null branch), negative ids included
    val rows = for {
      mask <- 0 until 32
      id <- Seq(97L, 5L, -194L, -5L)
    } yield {
      def v[A](bit: Int, a: A): Any = if ((mask & (1 << bit)) != 0) null else a
      Row(v(0, id), v(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")), v(2, 12L),
        v(3, "purchase"), v(4, 4.99), "{}")
    }
    val raw = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, props STRING"))
    val env = Ingest.envelopeOf(raw,
      Ingest.EnvelopeNulls.map { case (f, isNull) => isNull.as(s"null_$f") } :+
        Ingest.rejectReason.as("reason"): _*).cache()
    assert(Ingest.EnvelopeNulls.map(_._1) === Ingest.EventFields)
    for (f <- Ingest.EventFields)
      assert(env.filter(col(f).isNull =!= col(s"null_$f")).count() === 0,
        s"$f's null test disagrees with its envelope column")
    // the reason and the validation built from the map agree with the
    // same built on the envelope's own columns
    val onEnvelope = concat_ws(",", Ingest.EventFields.map(f => when(col(f).isNull, lit(f))): _*)
    assert(env.filter(col("reason") =!= onEnvelope).count() === 0)
    val valid = env.na.drop("any", Ingest.EventFields).select(Ingest.EventFields.map(col): _*)
    assert(valid.count() > 0 && valid.count() < env.count())
    assert(Ingest.dwdOf(raw).count() === valid.count())
    assert(Ingest.dwdOf(raw).select("EventID").exceptAll(valid.select("EventID")).count() === 0)
    env.unpersist()
  }

  test("a null value is a missing EventDetails: dwd drops the event, a18 quarantines it") {
    import org.apache.spark.sql.Row
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val raw = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, ts, 12L, "purchase", 4.99, "{}"),
        Row(2L, ts, 12L, "purchase", null, "{}")),
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, props STRING"))
    assert(Ingest.dwdOf(raw).select("EventID").as[String].collect().toSeq === Seq("1"))
    val d = graft.ops.Tables.scratchDir("null_value_events", "IngestSpec")
    raw.write.parquet(s"$d/events.parquet")
    val q = Ingest.a18_quarantine(spark, d)
      .select("EventID", "EventDetails", "reject_reason").collect().map(_.toSeq).toSeq
    assert(q === Seq(Seq("2", null, "EventDetails")))
  }

  test("A6 rewrite only applies to gated event types") {
    val dwd = Ingest.dwdFrame(spark, sf0001)
    val gated = dwd.filter(col("EventType").isin(Ingest.GatedTypes: _*))
    val passthrough = dwd.filter(!col("EventType").isin(Ingest.GatedTypes: _*))
    assert(gated.filter(!col("EventDetails").rlike("^\\d+\\.?\\d*$")).count() === 0)
    assert(passthrough.filter(!col("EventDetails").startsWith("amount ")).count() === 0)
  }
}
