package graft

import org.apache.spark.sql.functions._

/** Streaming-adjacent semantics that stay out of the t2 oracle gate:
  * batch session_window (the engine behind streaming session windows)
  * agrees with the hand-rolled b6 sessionization.
  */
class StreamingSpec extends SparkSpec {

  test("session_window(30 min) session count matches b6 sessionize") {
    val ev = graft.ops.Tables.events(spark, sf0001)
    val viaSessionWindow = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .count()
    val viaB6 = graft.ops.Features.b6_sessionize(spark, sf0001).count()
    assert(viaSessionWindow === viaB6)
  }

  test("s2 emits exactly the watermark-closed windows (append mode)") {
    val ev = graft.ops.Tables.events(spark, sf0001)
    // final watermark, Spark's arithmetic: max event time ms-truncated
    // minus the 10-minute delay; closed = window end <= watermark
    val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - 600000L) * 1000
    val closedEvents = ev
      .filter((floor(unix_micros(col("ts")) / 3600000000L) + 1) * 3600000000L <= wmUs)
      .count()
    assert(closedEvents < ev.count(), "fixture should leave the last window open")
    val total = graft.streaming.StreamOps.s2_streamWindow(spark, sf0001)
      .agg(sum(col("cnt"))).collect()(0).getLong(0)
    assert(total === closedEvents)
  }

  test("kafka source seam: reader options carry the reference consumer's wiring") {
    val k = graft.streaming.StreamOps.KafkaEvents("broker-1:9092,broker-2:9092", "game-events")
    val o = graft.streaming.StreamOps.kafkaOptions(k)
    // subscribe-from-offset-0 semantics of the reference consumer
    assert(o("kafka.bootstrap.servers") === "broker-1:9092,broker-2:9092")
    assert(o("subscribe") === "game-events")
    assert(o("startingOffsets") === "earliest")
  }

  test("kafka value decode: JSON envelope bytes become raw event rows") {
    import spark.implicits._
    // same column shape a kafka source batch has (value: binary)
    val json =
      """{"event_id":7,"ts":1704067200123456789,"user_id":42,
        |"event_type":"purchase","value":9.99,"props":"{\"k\":1}"}""".stripMargin
    val records = Seq(json.getBytes("UTF-8")).toDF("value")
    val r = graft.streaming.StreamOps.decodeKafkaValue(records).collect()(0)
    assert(r.getAs[Long]("event_id") === 7L)
    assert(r.getAs[Long]("ts") === 1704067200123456789L) // still raw nanos
    assert(r.getAs[Long]("user_id") === 42L)
    assert(r.getAs[String]("event_type") === "purchase")
    assert(r.getAs[Double]("value") === 9.99)
    assert(r.getAs[String]("props") === """{"k":1}""")
  }

  test("kafka value decode is total over garbage records (poison-pill topic)") {
    import spark.implicits._
    // a real topic carries these: truncated JSON, non-JSON bytes, empty
    // payloads, tombstone nulls, wrong-typed fields, binary junk. The
    // reference would throw in JSON.parseObject and stall the consumer
    // on the poison record; the Spark decode degrades each to an
    // all-null (or partially-null) envelope row and the A7 validation
    // stage drops it downstream — one bad record never stops the drain.
    val junk: Seq[Array[Byte]] = Seq(
      """{"event_id":1,"ts":1,"user_id":1,"event_type":"ok","value":1.0,"props":"{}"}""".getBytes("UTF-8"),
      """{"event_id":2,"ts":""".getBytes("UTF-8"), // truncated mid-object
      "not json at all".getBytes("UTF-8"),
      Array[Byte](), // empty payload
      null, // tombstone
      """{"event_id":"seven","ts":"later","value":"much"}""".getBytes("UTF-8"),
      Array[Byte](0x00, -0x01, 0x13, 0x37)) // binary junk
    val rows = graft.streaming.StreamOps.decodeKafkaValue(junk.toDF("value")).collect()
    assert(rows.length === junk.length, "every record yields a row — none aborts the batch")
    val ok = rows.filter(r => !r.isNullAt(r.fieldIndex("event_id")))
    assert(ok.length === 1 && ok.head.getAs[Long]("event_id") === 1L,
      "only the well-formed record carries a usable envelope")
  }

  test("s3 GroupState: a session straddling micro-batches continues, not restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.streaming.StreamOps.{sessionize, SessEv}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val min = 60000000L // one minute in us
    val input = MemoryStream[SessEv]
    val q = input.toDS().groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionize)
      .writeStream.outputMode("append").format("memory").queryName("s3_multi").start()
    try {
      // batch 1: two events 10 min apart -> one open session
      input.addData(SessEv(1, 0L, 1), SessEv(1, 10 * min, 2))
      q.processAllAvailable()
      // batch 2: +20 min (within the 30-min gap: session 1 CONTINUES),
      // then +2 h (gap: session 2 opens)
      input.addData(SessEv(1, 30 * min, 3), SessEv(1, 150 * min, 4))
      q.processAllAvailable()
    } finally q.stop()
    // last-snapshot-wins per (user, sess) — same resolution s3 applies
    val last = spark.table("s3_multi").collect()
      .map(r => (r.getAs[Long]("sess"), (r.getAs[Long]("n_events"),
        r.getAs[Long]("start_us"), r.getAs[Long]("end_us"))))
      .groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).maxBy(v => (v._3, v._1)) }
    // session 1 spans both batches: 3 events, 0 .. 30 min
    assert(last(1L) === ((3L, 0L, 30 * min)))
    // session 2 is the post-gap event
    assert(last(2L) === ((1L, 150 * min, 150 * min)))
    assert(last.size === 2)
  }

  test("s3 GroupState: an out-of-order event merges into the open session, bounds stay monotonic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.streaming.StreamOps.{sessionize, SessEv}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val min = 60000000L
    val input = MemoryStream[SessEv]
    val q = input.toDS().groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionize)
      .writeStream.outputMode("append").format("memory").queryName("s3_late").start()
    try {
      // batch 1: session open at [10, 20] min
      input.addData(SessEv(1, 10 * min, 1), SessEv(1, 20 * min, 2))
      q.processAllAvailable()
      // batch 2: an event OLDER than the session's end (no watermark →
      // arrival order is not time order). It must merge: n grows, end
      // stays 20 min — never a snapshot with start > end / negative dur
      input.addData(SessEv(1, 5 * min, 3))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("s3_late").collect()
      .map(r => (r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("dur_us")))
    assert(rows.forall { case (_, s, e, d) => e >= s && d == e - s },
      s"no snapshot may have inverted bounds: ${rows.mkString(", ")}")
    // last-snapshot-wins resolution sees the merged session
    val fin = rows.maxBy(v => (v._3, v._1))
    assert(fin === ((3L, 5 * min, 20 * min, 15 * min)))
  }

  test("s1 shape: checkpoint restart is exactly-once — a new drain processes only new files") {
    val scratch = graft.ops.Tables.scratch
    val (src, out, chk) = (s"$scratch/resume_src", s"$scratch/resume_out", s"$scratch/resume_chk")
    Seq(src, out, chk).foreach(graft.ops.Tables.rmrf)
    val ev = graft.ops.Tables.events(spark, sf0001)
    // the dwd pipeline over a file-source stream, same stages as s1;
    // append mode + append sink means any reprocessing DUPLICATES rows,
    // so row counts alone prove exactly-once across the restart
    // StreamOps.drain adds the trigger and the checkpoint, so the test
    // commits through the same checkpoint file manager as the drains
    def drain(): Unit = {
      val stream = spark.readStream.schema(ev.schema).parquet(src)
      graft.streaming.StreamOps.drain(spark, "resume", chk, graft.ops.Ingest.dwdOf(stream)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        })
    }
    val half = ev.agg(expr("percentile(event_id, 0.5)")).collect()(0).getDouble(0).toLong
    ev.filter(col("event_id") <= half).write.mode("append").parquet(src)
    drain() // run 1: sees only the first file drop
    val afterFirst = spark.read.parquet(out).count()
    val expectFirst = graft.ops.Ingest.dwdOf(
      ev.filter(col("event_id") <= half)).count()
    assert(afterFirst === expectFirst)
    ev.filter(col("event_id") > half).write.mode("append").parquet(src)
    drain() // run 2: NEW query, SAME checkpoint — must resume, not replay
    val total = spark.read.parquet(out)
    val expectAll = graft.ops.Ingest.dwdOf(ev)
    assert(total.count() === expectAll.count(),
      "restart must process exactly the new file drop on top of the first drain")
    assert(total.select("EventID").distinct().count() === total.count(),
      "no EventID may be delivered twice across the restart")
    drain() // run 3: no new data — the drain must be a no-op
    assert(spark.read.parquet(out).count() === expectAll.count(),
      "an empty drain must not re-emit anything")
  }

  test("s1 crash recovery: a batch killed after its sink write replays idempotently on restart") {
    import org.apache.spark.sql.DataFrame
    val scratch = graft.ops.Tables.scratch
    val (src, out, outRef, chk, chkRef) =
      (s"$scratch/crash_src", s"$scratch/crash_out", s"$scratch/crash_ref",
        s"$scratch/crash_chk", s"$scratch/crash_chk_ref")
    Seq(src, out, outRef, chk, chkRef).foreach(graft.ops.Tables.rmrf)
    val ev = graft.ops.Tables.events(spark, sf0001)
    // four single-file drops + maxFilesPerTrigger=1 → a four-batch drain,
    // so there IS a "between micro-batches" to die in
    (0L until 4L).foreach(g =>
      ev.filter(col("event_id") % 4 === g).coalesce(1)
        .write.mode("append").parquet(src))

    // the s1 pipeline + bid-keyed overwrite sink; optionally crash AFTER
    // batch `crashAt`'s sink write lands but BEFORE its offset commits —
    // the worst-case crash point: data on disk, checkpoint unaware
    def run(sink: String, ckpt: String, crashAt: Option[Long]): Boolean = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val writer = graft.ops.Ingest.dwdOf(stream)
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.write.mode("overwrite").parquet(s"$sink/bid=$bid")
          if (crashAt.contains(bid))
            throw new RuntimeException("injected crash after sink write")
        }
      try { graft.streaming.StreamOps.drain(spark, "crash", ckpt, writer); true }
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => false
      }
    }

    assert(run(outRef, chkRef, None), "reference drain must complete")
    assert(!run(out, chk, Some(1L)), "the injected crash must abort the query")
    // the crash landed mid-drain: batch 1's data is on disk, unacknowledged
    val bidsAfterCrash = new java.io.File(out).list().count(_.startsWith("bid="))
    assert(bidsAfterCrash === 2, s"expected bids 0,1 on disk, saw $bidsAfterCrash")
    // restart from the SAME checkpoint: batch 1 REPLAYS (overwriting its
    // own bid dir — the idempotent-sink half of exactly-once), 2..3 resume
    assert(run(out, chk, None), "the resumed drain must complete")

    def slurp(dir: String) = spark.read.parquet(dir)
      .select(graft.ops.Ingest.EventFields.map(col): _*)
      .collect().map(_.toSeq).sortBy(_.toString)
    val got = slurp(out)
    val ref = slurp(outRef)
    assert(got.length === ref.length, "restart lost or duplicated rows")
    assert(got === ref, "recovered sink differs from the uninterrupted run")
  }

  test("s6 semantics: dropDuplicatesWithinWatermark drops a cross-batch redelivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    // full-record identity, as shipped: redeliveries are byte-identical
    // and collapse; id-colliding DISTINCT records both survive
    val once = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id", "ts")
    val q = once.writeStream.outputMode("append")
      .format("memory").queryName("s6_redelivery").start()
    try {
      // batch 1: event 1 twice in the same batch (producer retry)
      input.addData((1L, ts(10, 0)), (1L, ts(10, 0)), (2L, ts(10, 1)))
      q.processAllAvailable()
      // batch 2: event 1 AGAIN (redelivery in a later batch, still
      // inside the watermark horizon), a genuinely new event, and a
      // DISTINCT record colliding with id 2 (dirty-log id reuse)
      input.addData((1L, ts(10, 0)), (3L, ts(10, 2)), (2L, ts(10, 3)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("s6_redelivery").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 2L, 3L),
      "redeliveries collapse across batches; id-colliding distinct records survive")
  }

  test("s5 semantics: interval join matches views in the preceding hour, inclusive bounds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val pIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val vIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val p = pIn.toDF().toDF("p_user", "p_ts", "p_id").withWatermark("p_ts", "10 minutes")
    val v = vIn.toDF().toDF("v_user", "v_ts", "v_id").withWatermark("v_ts", "10 minutes")
    val joined = p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("s5_bounds").start()
    try {
      // purchase at 12:00; views at 11:00 (boundary: in), 10:59 (out),
      // 12:00 (same instant: in), 12:01 (future: out), other user (out)
      pIn.addData((1L, ts(12, 0), 100L))
      vIn.addData((1L, ts(11, 0), 1L), (1L, ts(10, 59), 2L),
        (1L, ts(12, 0), 3L), (1L, ts(12, 1), 4L), (2L, ts(11, 30), 5L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("s5_bounds").select("v_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 3L),
      "exactly the same-user views in [purchase - 1h, purchase] join")
  }

  test("s7 semantics: the streamed split partitions the log — valid side equals a7") {
    // running the query populates BOTH sink sides; the registered query
    // returns dead letters (oracled against a18), so pin the valid side
    val dead = graft.streaming.StreamOps.s7_streamQuarantine(spark, sf0001)
    val valid = graft.streaming.StreamOps.s7ValidSide(spark, sf0001)
    val batchValid = graft.ops.Ingest.a7_validate(spark, sf0001)
    assert(valid.count() === batchValid.count())
    assert(valid.unionByName(batchValid).distinct().count() === batchValid.count(),
      "streamed valid side must carry exactly the a7 rows")
    assert(dead.count() + valid.count() ===
      graft.ops.Ingest.a1_scan(spark, sf0001).count(), "the split must partition a1")
  }

  test("s8 semantics: streamed sketch rollup ≡ the batch x_hll_rollup, exactly") {
    // HLL merge is a per-register max — associative, commutative,
    // idempotent — so merging the per-micro-batch daily sketches must
    // land on REGISTER-identical state to the batch job's per-day
    // sketches, and the rounded estimates must be equal row-for-row
    // (not merely close): any cut of the log into batches is invisible
    // to the rollup. This equality is s8's correctness pin; the driver
    // gate runs it rows-only (sketch binaries are engine-specific).
    val streamed = graft.streaming.StreamOps.s8_streamHllRollup(spark, sf0001)
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("approx_users")))
    val batch = graft.ops.Features.x_hllRollup(spark, sf0001)
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("approx_users")))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "per-batch sketch merge must equal the batch rollup exactly")
  }

  test("s9 semantics: streamed language ID ≡ the batch c23, row-for-row") {
    // the classifier is stateless per-row work, so however the file
    // source cuts the corpus into micro-batches, the union of sunk
    // batches must be EXACTLY the batch classification — same rows,
    // same values, same presentation order. This is the stream/batch
    // parity the shared langIdOf transform + the shared c23 oracle
    // promise; a dropped or duplicated micro-batch breaks it.
    val streamed = graft.streaming.StreamOps.s9_streamLangId(spark, sf0001).collect()
    val batch = graft.ops.TextOps.c23_langId(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed classification must equal the batch query exactly")
  }

  test("s11 semantics: streamed quality gate ≡ the batch c30, row-for-row") {
    // stateless pure per-row ladder: every verdict is complete within
    // its own micro-batch, so the union of sunk batches IS the batch
    // gate however the file source cuts the corpus (the s9 contract)
    val streamed = graft.streaming.StreamOps
      .s11_streamQualityGate(spark, sf0001).collect()
    val batch = graft.ops.TextQuality.c30_qualityGate(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed gate must equal the batch query exactly")
  }

  test("s13 semantics: merged funnel partials ≡ the batch c32, row-for-row") {
    // every doc lands in exactly one micro-batch and BIGINT count/sum
    // partials merge exactly, so the read-back re-agg IS the batch
    // census however the file source cuts the corpus
    val streamed = graft.streaming.StreamOps
      .s13_streamFunnel(spark, sf0001).collect()
    val batch = graft.ops.TextQuality.c32_domainStats(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "merged partials must equal the batch census exactly")
  }

  test("s12 semantics: streamed PII scrub ≡ the batch c31, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s12_streamPii(spark, sf0001).collect()
    val batch = graft.ops.TextQuality.c31_piiRedact(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed scrub must equal the batch query exactly")
  }

  test("s10 semantics: streamed contamination audit ≡ the batch c27, row-for-row") {
    // per-row fingerprinting + a per-batch broadcast probe against the
    // standing index: every (eval, train) pair is complete within the
    // micro-batch carrying the train doc, and the eval/keep censuses
    // come from the full-corpus index — so however the file source
    // cuts the corpus, the union of sunk batches IS the batch audit
    // (the s9 parity contract for the stateful-looking operator)
    val streamed = graft.streaming.StreamOps
      .s10_streamContamination(spark, sf0001).collect()
    val batch = graft.ops.TextOps.c27_contamination(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed audit must equal the batch query exactly")
  }

  test("s14 semantics: streamed near-dup ingest ≡ the one-shot x_neardup_incremental") {
    val streamed = graft.streaming.StreamOps
      .s14_streamNeardup(spark, sf0001).collect()
    val batch = graft.ops.TextOps.x_neardupIncremental(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed ingest must equal the one-shot batch ingest exactly")
  }

  test("s14 tiling: a multi-file delta arriving batch-by-batch still tiles the one-shot ingest") {
    // a directory-layout corpus split over several part files: with
    // maxFilesPerTrigger=1 the delta arrives in SEVERAL micro-batches,
    // so this exercises the per-batch index fold (base ∪ prior epochs)
    // — the property the single-file fixture cannot reach. The union
    // of per-batch outputs must equal the one-shot ingest (the tiling
    // lemma: every pair lands in the batch of its later-arriving doc).
    val dir = s"${graft.ops.Tables.scratch}/s14_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.documents(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val streamed = graft.streaming.StreamOps.s14_streamNeardup(spark, dir).collect()
    val oneShot = graft.ops.TextOps.x_neardupIncremental(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === oneShot.toSeq,
      "multi-batch arrival must tile the one-shot ingest exactly")
  }

  test("s14 stop list: an over-cap-heavy corpus exercises the anti-join path and still matches the batch ingest") {
    import spark.implicits._
    // a boilerplate-heavy corpus: 70 identical base docs push their
    // fps past WinnowDfCap (=64), so the standing stop list is
    // NON-empty and the per-batch anti-join branch actually runs —
    // the single-file fixture never reaches it (max base df ≪ cap).
    // 70 more identical arrivals land in the delta: their postings
    // must be stop-dropped per batch (they could never pair anyway —
    // df 140 is far over the band), while the genuine near-dup
    // arrivals (copies of unique base docs, df 2) still pair. The
    // drain must tile the one-shot batch ingest exactly.
    val dir = s"${graft.ops.Tables.scratch}/s14_overcap"
    graft.ops.Tables.rmrf(dir)
    val boiler = ((1 to 16).map(i => s"boiler$i")).mkString(" ")
    def uniq(i: Int) = (1 to 16).map(j => s"w${i}x$j").mkString(" ")
    val rows =
      (1 to 70).map(i => (i.toLong, boiler, "en", "src0")) ++
      (71 to 100).map(i => (i.toLong, uniq(i), "en", "src0")) ++
      (101 to 130).map(i => (i.toLong, uniq(i - 30), "en", "src1")) ++
      (131 to 200).map(i => (i.toLong, boiler, "en", "src1"))
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the path's precondition, asserted not assumed: the base half
    // (doc_id ≤ mid = 100) must hold an over-cap fingerprint
    val maxBaseDf = graft.ops.TextOps
      .winnowFps(graft.ops.Tables.documents(spark, dir).filter(col("doc_id") <= 100))
      .groupBy(col("fp")).count().agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxBaseDf > graft.ops.TextOps.WinnowDfCap,
      "fixture must push a base fingerprint over the df cap")
    val streamed = graft.streaming.StreamOps.s14_streamNeardup(spark, dir).collect()
    val batch = graft.ops.TextOps.x_neardupIncremental(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "the stop-listed drain must still tile the one-shot ingest exactly")
  }

  test("s15 semantics: streamed fingerprinting ≡ the batch c24, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s15_streamFingerprint(spark, sf0001).collect()
    val batch = graft.ops.TextOps.c24_winnowFingerprint(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed fingerprints must equal the batch query exactly")
  }

  test("s16 semantics: streamed LM scoring ≡ the batch c35, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s16_streamLmScore(spark, sf0001).collect()
    val batch = graft.ops.CorpusOps.c35_lmScore(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed LM scores must equal the batch query exactly")
  }

  test("s18 semantics: the fold-on-arrival LM scores ≡ the batch c35, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s18_streamLmUpdate(spark, sf0001).collect()
    val batch = graft.ops.CorpusOps.c35_lmScore(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "the folded LM must score identically to the retrain (additivity)")
  }

  test("s18 tiling: a multi-file arrival folds partials that still equal the retrain") {
    // several part files → several micro-batches → several census
    // partials; base ⊕ Σ partials must equal the one-shot censuses
    // EXACTLY (additivity over any batch tiling), so the scores match
    // c35 over the same corpus
    val dir = s"${graft.ops.Tables.scratch}/s18_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.documents(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val streamed = graft.streaming.StreamOps.s18_streamLmUpdate(spark, dir).collect()
    val oneShot = graft.ops.CorpusOps.c35_lmScore(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === oneShot.toSeq,
      "multi-batch census partials must fold to the one-shot LM exactly")
  }

  test("s19 semantics: the corpus build on arrival ≡ the batch c16, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s19_streamCorpusPipeline(spark, sf0001).collect()
    val batch = graft.ops.CorpusOps.c16_corpusPipeline(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "the arrival-extracted manifest must equal the batch pipeline exactly")
  }

  test("s19's cut consumes arrived state only — no digest/shingle/order-key derivation in the final plan") {
    // the composition's point: text is touched once, in the drain; the
    // close-time cut must read the state columns, never recompute them
    // (a regression that re-derived sha2/md5/xxhash64 over text would
    // still hash-match — this pins the SCALE property)
    val df = graft.streaming.StreamOps.s19_streamCorpusPipeline(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    for (fn <- Seq("sha2", "xxhash64", "md5", "winnow_fps"))
      assert(!p.toLowerCase.contains(fn),
        s"cut plan re-derives $fn over text:\n${p.take(2000)}")
  }

  test("s19 tiling: a multi-file corpus arriving batch-by-batch still cuts the batch manifest") {
    // several part files → several micro-batches → per-batch sized +
    // shingle state partitions; the close-time cut over their union
    // must equal the one-shot pipeline EXACTLY (per-doc rows land
    // whole in one batch; keeps/pairs/packing are reduces over the
    // union) — the composition property the single-file fixture
    // cannot reach. This is also where stage INTERACTIONS would break:
    // a drop list derived from partial pair state, or packing offsets
    // computed per batch, would both diverge here.
    val dir = s"${graft.ops.Tables.scratch}/s19_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.documents(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // maxFilesPerTrigger=1 forces one batch per part file — the
    // registered query drains with natural batching (the extraction
    // is stateless, so the cadence is semantics-free; this pins it)
    val streamed = graft.streaming.StreamOps
      .s19At(spark, dir, maxFilesPerTrigger = Some(1)).collect()
    val oneShot = graft.ops.CorpusOps.c16_corpusPipeline(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === oneShot.toSeq,
      "multi-batch arrival state must cut the one-shot manifest exactly")
  }

  test("s27 semantics: the mixture on arrival ≡ the batch c36, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s27_streamMixture(spark, sf0001).collect()
    val batch = graft.ops.CorpusOps.c36_mixtureSample(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "the arrival-sized mixture must equal the batch sample exactly")
  }

  test("s27 tiling: batch-by-batch arrival still cuts the batch mixture (retroactive prefix)") {
    // several part files → several micro-batches → per-batch sized
    // state; budgets derive from the FULL masses and the md5 prefix is
    // retroactive, so only a close-time cut over the union can match —
    // a per-batch cut would ship since-invalidated manifests (the
    // property this pin would catch if the cut ever moved into the
    // foreachBatch body)
    val dir = s"${graft.ops.Tables.scratch}/s27_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.documents(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val streamed = graft.streaming.StreamOps
      .s27At(spark, dir, maxFilesPerTrigger = Some(1)).collect()
    val oneShot = graft.ops.CorpusOps.c36_mixtureSample(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === oneShot.toSeq,
      "multi-batch sized state must cut the one-shot mixture exactly")
  }

  test("s22 semantics: retention on arrival ≡ the batch x_neardup_delete, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s22_streamRetention(spark, sf0001).collect()
    val batch = graft.ops.TextOps.x_neardupDelete(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "the close-time audit must equal the batch delete exactly")
  }

  test("s22 tiling: requests arriving batch-by-batch apply as one close-time delete") {
    // several part files → several request batches in the durable log;
    // the ONE close-time rewrite over their union must equal the batch
    // delete exactly (deletion is order-free idempotent set removal —
    // the union of the logged batches IS the request set)
    val dir = s"${graft.ops.Tables.scratch}/s22_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.documents(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val streamed = graft.streaming.StreamOps
      .s22At(spark, dir, maxFilesPerTrigger = Some(1)).collect()
    val oneShot = graft.ops.TextOps.x_neardupDelete(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === oneShot.map(_.toSeq).toSeq,
      "multi-batch request logs must apply to the one-shot delete exactly")
  }

  test("s23 semantics: semantic retention on arrival ≡ the batch x_semantic_delete, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s23_streamSemanticRetention(spark, sf0001).collect()
    val batch = graft.ops.VectorOps.x_semanticDelete(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "the close-time cluster state must equal the batch delete exactly")
  }

  test("s23 tiling: requests arriving batch-by-batch apply as one close-time semantic delete") {
    // several part files → several request batches in the durable log;
    // the close-time postings+pairs rewrites over their union must
    // equal the batch delete exactly (the s22 argument at the
    // embedding level: deletion is order-free idempotent set removal)
    val dir = s"${graft.ops.Tables.scratch}/s23_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.embeddings(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val streamed = graft.streaming.StreamOps
      .s23At(spark, dir, maxFilesPerTrigger = Some(1)).collect()
    val oneShot = graft.ops.VectorOps.x_semanticDelete(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === oneShot.map(_.toSeq).toSeq,
      "multi-batch request logs must apply to the one-shot delete exactly")
  }

  test("s24 semantics: LM retention on arrival ≡ the batch x_lm_delete, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s24_streamLmRetention(spark, sf0001).collect()
    val batch = graft.ops.CorpusOps.x_lmDelete(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "the close-time decrement + scoring must equal the batch delete exactly")
  }

  test("s24 tiling: requests arriving batch-by-batch decrement as one close-time delete") {
    val dir = s"${graft.ops.Tables.scratch}/s24_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.documents(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val streamed = graft.streaming.StreamOps
      .s24At(spark, dir, maxFilesPerTrigger = Some(1)).collect()
    val oneShot = graft.ops.CorpusOps.x_lmDelete(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === oneShot.map(_.toSeq).toSeq,
      "multi-batch request logs must decrement to the one-shot delete exactly")
  }

  test("s25 semantics: corpus retention on arrival ≡ the batch x_corpus_retention, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s25_streamCorpusRetention(spark, sf0001).collect()
    val batch = graft.ops.CorpusOps.x_corpusRetention(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "the close-time rewrite + re-cut must equal the batch rung exactly")
  }

  test("s25 tiling: requests arriving batch-by-batch re-cut as one close-time manifest") {
    val dir = s"${graft.ops.Tables.scratch}/s25_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.documents(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val streamed = graft.streaming.StreamOps
      .s25At(spark, dir, maxFilesPerTrigger = Some(1)).collect()
    val oneShot = graft.ops.CorpusOps.x_corpusRetention(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === oneShot.map(_.toSeq).toSeq,
      "multi-batch request logs must re-cut to the one-shot manifest exactly")
  }

  test("s26 semantics: ANN retention on arrival ≡ the batch x_ann_delete, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s26_streamAnnRetention(spark, sf0001).collect()
    val batch = graft.ops.VectorOps.x_annDelete(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "the close-time code delete + search must equal the batch delete exactly")
  }

  test("s26 tiling: requests arriving batch-by-batch apply as one close-time code delete") {
    val dir = s"${graft.ops.Tables.scratch}/s26_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.embeddings(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val streamed = graft.streaming.StreamOps
      .s26At(spark, dir, maxFilesPerTrigger = Some(1)).collect()
    val oneShot = graft.ops.VectorOps.x_annDelete(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === oneShot.map(_.toSeq).toSeq,
      "multi-batch request logs must apply to the one-shot delete exactly")
  }

  test("s21 semantics: semantic ingest on arrival ≡ the batch x_semantic_dedup, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s21_streamSemanticIngest(spark, sf0001).collect()
    val batch = graft.ops.VectorOps.x_semanticDedup(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "the close-time cluster state must equal the batch dedup exactly")
  }

  test("s21 tiling: a multi-file delta arriving batch-by-batch still cuts the batch clusters") {
    // several part files → several micro-batches → per-batch slim state
    // partitions; the close-time pair cut + CC over their union must
    // equal the one-shot batch dedup EXACTLY (per-vector state lands
    // whole in one batch; pairs and labels are reduces over the union).
    // This is where cross-batch interactions would break: a pair whose
    // two vectors arrived in DIFFERENT batches only exists because the
    // cut runs at close over all arrived state.
    val dir = s"${graft.ops.Tables.scratch}/s21_multifile"
    graft.ops.Tables.rmrf(dir)
    graft.ops.Tables.embeddings(spark, sf0001)
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val streamed = graft.streaming.StreamOps
      .s21At(spark, dir, maxFilesPerTrigger = Some(1)).collect()
    val oneShot = graft.ops.VectorOps.x_semanticDedup(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === oneShot.map(_.toSeq).toSeq,
      "multi-batch arrival state must cut the one-shot clusters exactly")
  }

  test("x_corpus_epochs: a later drain's arrivals displace keepers and merge clusters retroactively") {
    import spark.implicits._
    // epoch 1: two 2-doc near-dup clusters {10,11} and {20,21} (shared
    // 5-token prefix keeps their cross-Jaccard at 3/9 < 0.5 — separate
    // components) + unique doc 30. epoch 2 ARRIVES LATER WITH SMALLER
    // IDS (the case the registered id split cannot produce): doc 5 is
    // an exact duplicate of 30's text (displaces the digest keeper),
    // doc 7 is the concatenation of 10's and 20's texts — J(7,10) =
    // J(7,20) = 6/11 ≥ 0.5, so it BRIDGES the two standing clusters
    // into one component AND, as the new min id, un-canonicalizes both
    // former canonicals.
    val t = "t1 t2 t3 t4 t5 t6"
    val d10 = "c1 c2 c3 c4 c5 x1 x2 x3"
    val d20 = "c1 c2 c3 c4 c5 y1 y2 y3"
    val e1: Seq[(Long, String, String, String, Long)] = Seq(
      (10L, d10, "en", "web", d10.length.toLong),
      (11L, "c1 c2 c3 c4 c5 x1 x2 zz", "en", "web", 24L),
      (20L, d20, "en", "web", d20.length.toLong),
      (21L, "c1 c2 c3 c4 c5 y1 y2 ww", "en", "web", 24L),
      (30L, t, "en", "web", t.length.toLong))
    val e2: Seq[(Long, String, String, String, Long)] = Seq(
      (5L, t, "en", "web", t.length.toLong),
      (7L, s"$d10 $d20", "en", "web", (d10.length + d20.length + 1).toLong))
    val dir = s"${graft.ops.Tables.scratch}/xce_retro"
    graft.ops.Tables.rmrf(dir)
    // the union corpus on disk: the batch oracle's input AND the schema
    // source for the stream reader
    (e1 ++ e2).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def frame(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val (base, finalCut) = graft.streaming.StreamOps
      .corpusEpochsOf(spark, dir, Seq(frame(e1), frame(e2)))
    // drain 1's shipped manifest: both canonicals + the unique doc kept
    val m1 = spark.read.parquet(s"$base/manifest_e0.parquet").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(m1 === Set(10L, 20L, 30L), s"epoch-1 manifest: $m1")
    // drain 2's re-cut: 5 displaces 30 (smaller-id exact duplicate), 7
    // bridges and canonicalizes the merged cluster — every epoch-1
    // keeper is SUPERSEDED, none survives
    val m2 = finalCut.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(m2 === Set(5L, 7L), s"epoch-2 manifest: $m2")
    // the final close ≡ the batch pipeline over the union (the oracle
    // identity the registered query carries)
    val batch = graft.ops.CorpusOps.c16_corpusPipeline(spark, dir).collect()
    assert(finalCut.collect().map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    // and the state genuinely spans BOTH drains (≥ 2 bid partitions)
    val bids = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/state"))
      try s.filter(_.getFileName.toString.startsWith("bid=")).count()
      finally s.close()
    }
    assert(bids >= 2, s"state must span both drains, saw $bids bid partitions")
  }

  test("x_corpus_epochs machinery: THREE drains over thirds still cut the batch manifest") {
    // the registered query splits at the midpoint (two drains); the
    // machinery is N-epoch — pin that a third drain extends the same
    // state and the final close still equals batch c16 over the union
    val dir = s"${graft.ops.Tables.scratch}/xce_three"
    graft.ops.Tables.rmrf(dir)
    val docs = graft.ops.Tables.documents(spark, sf0001)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = docs.agg(org.apache.spark.sql.functions.min("doc_id"),
      org.apache.spark.sql.functions.max("doc_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val b1 = lo + (hi - lo) / 3
    val b2 = lo + (hi - lo) * 2 / 3
    val (_, finalCut) = graft.streaming.StreamOps.corpusEpochsOf(spark, dir, Seq(
      docs.filter(col("doc_id").isNull || col("doc_id") <= b1),
      docs.filter(col("doc_id") > b1 && col("doc_id") <= b2),
      docs.filter(col("doc_id") > b2)))
    val batch = graft.ops.CorpusOps.c16_corpusPipeline(spark, dir).collect()
    assert(batch.nonEmpty)
    assert(finalCut.collect().map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "three-epoch close must equal the batch pipeline over the union")
  }

  test("s17 semantics: streamed held-out scoring ≡ the batch x_lm_heldout, row-for-row") {
    val streamed = graft.streaming.StreamOps
      .s17_streamLmHeldout(spark, sf0001).collect()
    val batch = graft.ops.CorpusOps.x_lmHeldout(spark, sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed held-out scores must equal the batch query exactly")
    // the held-out contract: the fixture must actually take the OOV
    // branch (this is the arm the query exists for)
    assert(streamed.count(_.getAs[Long]("n_oov") > 0) > 0,
      "fixture must exercise the OOV fallback")
  }

  test("s2 semantics: a row later than the watermark is dropped; closed state is evicted once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("s2_late").start()
    try {
      // batch 1: two rows in [10:00, 11:00) + one at 12:00 that pushes
      // the watermark to 11:50, past the first window's end
      input.addData((ts(10, 0), "a"), (ts(10, 5), "a"), (ts(12, 0), "a"))
      q.processAllAvailable()
      // batch 2: 10:30 is behind the 11:50 watermark -> must be dropped
      input.addData((ts(10, 30), "a"))
      q.processAllAvailable()
      // batch 3: 14:00 advances the watermark to 13:50, closing [12, 13)
      input.addData((ts(14, 0), "a"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("s2_late")
      .select(col("window.start").cast("string").as("ws"), col("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // late row dropped: the closed 10:00 window counts 2, not 3 — and
    // its state was evicted at emission, so it appears exactly once
    assert(rows("2024-01-01 10:00:00") === 2L)
    assert(rows("2024-01-01 12:00:00") === 1L)
    assert(spark.table("s2_late").count() === 2L)
  }

  test("file source streams a DIRECTORY-layout events table completely (decade/lake layout)") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    // a Spark-written events table is a directory of part files — the
    // lake layout, and what CorpusDecade generates. The staged-symlink
    // path only covers the single-file fixture layout; a symlink to a
    // DIRECTORY is skipped by the stream source's listing and silently
    // streamed zero rows (caught by the x3 ladder: s5/s6 "sped up" 10×).
    // s6 over a directory table must see every row — here: 2 copies of
    // each event collapse to exactly one output row per event.
    val dir = s"${graft.ops.Tables.scratch}/dir_layout_events"
    graft.ops.Tables.rmrf(dir)
    (1L to 100L).map(i =>
      (i, new java.sql.Timestamp(i * 1000), i % 7, "click", Some(i / 10.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4) // multi-part directory, the shape under test
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.streaming.StreamOps.s6_streamDedup(spark, dir)
    assert(out.count() === 100L)
  }

  test("a repeated drain reuses compiled code: s1's and s14's second drains compile no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.streaming.StreamOps
    // every streaming query runs on a cloned session; a drain whose
    // clone isolates artifacts runs its tasks under a class loader of
    // its own, misses the codegen cache and recompiles every stage.
    // s14's pair plans run on spark.newSession(), which inherits no
    // runtime conf, so its session needs the same flag
    for ((tag, op) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "s1" -> (() => StreamOps.s1_streamPipeline(spark, sf0001)),
        "s14" -> (() => StreamOps.s14_streamNeardup(spark, sf0001)))) {
      def drainOnce(): Unit = op().write.mode("overwrite").format("noop").save()
      drainOnce()
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      drainOnce()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0L,
        s"classes compiled by a repeated $tag drain")
    }
  }

  test("s6 shuffles its dedup state at the fixed state width, not the session's") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    // a session whose shuffle width is neither the state width nor the
    // old pin, so the width seen can only come from the constant
    val sp = spark.newSession()
    sp.conf.set("spark.sql.shuffle.partitions", "6")
    sp.conf.set("spark.sql.session.timeZone", "UTC")
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val stateful = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach { o =>
          stateful.add(e.progress.id)
          widths.add(o.numShufflePartitions.toInt)
        }
      // the bus delivers a query's progress events before its end
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (stateful.contains(e.id)) terminated.countDown()
    }
    sp.streams.addListener(listener)
    try {
      graft.streaming.StreamOps.s6_streamDedup(sp, sf0001)
        .write.mode("overwrite").format("noop").save()
      assert(terminated.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "s6's end never reached the listener")
    } finally sp.streams.removeListener(listener)
    // StreamOps.StateWidth, pinned as a literal: the width is a
    // measured constant, not the session's core count
    assert(!widths.isEmpty)
    assert(widths.asScala.toSet === Set(4))
  }

  /** Progress events per streaming query `body` starts on `sp`, keyed
    * by run id, read once every such query's end reached the listener
    * (the bus delivers a query's progress events before its end).
    */
  private def progressPerQuery(sp: org.apache.spark.sql.SparkSession)(
      body: => Unit): Map[java.util.UUID, Int] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val progress = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.merge(e.progress.runId, 1, Integer.sum)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    sp.streams.addListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!ended.containsAll(started) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(ended.containsAll(started), "a drain's end never reached the listener")
    } finally sp.streams.removeListener(listener)
    started.asScala.map(id => id -> progress.getOrDefault(id, 0)).toMap
  }

  test("s5 and s6 drain in one micro-batch; s2 keeps the no-data batch that emits its windows") {
    import graft.streaming.StreamOps
    // s5's inner join and s6's dedup emit on arrival, so their drains
    // skip Spark's trailing eviction-only batch
    for ((tag, op) <- Seq[(String, () => Unit)](
        "s5" -> (() => StreamOps.s5_streamStreamJoin(spark, sf0001)),
        "s6" -> (() => StreamOps.s6_streamDedup(spark, sf0001)))) {
      val batches = progressPerQuery(spark)(op())
      assert(batches.size === 1, s"$tag started ${batches.size} streaming queries")
      assert(batches.values.toSet === Set(1), s"$tag's micro-batches per drain")
    }
    // s2's closed windows are emitted by the no-data batch after its data
    val s2 = progressPerQuery(spark)(StreamOps.s2_streamWindow(spark, sf0001))
    assert(s2.size === 1)
    assert(s2.values.forall(_ >= 2), s"s2's micro-batches per drain: ${s2.values}")
  }

  test("drains leave the caller's session conf as they found it") {
    import graft.streaming.StreamOps
    // a session no drain has run on: every key a drain sets would be new
    val sp = spark.newSession()
    val before = sp.conf.getAll
    Seq[() => org.apache.spark.sql.DataFrame](
      () => StreamOps.s1_streamPipeline(sp, sf0001),
      () => StreamOps.s2_streamWindow(sp, sf0001),
      () => StreamOps.s6_streamDedup(sp, sf0001))
      .foreach(op => op().write.mode("overwrite").format("noop").save())
    val after = sp.conf.getAll
    assert((after.toSet -- before.toSet, before.toSet -- after.toSet) === ((Set.empty, Set.empty)),
      "(set, unset or replaced) by the drains")
  }

  test("drains commit through the FileSystem-based checkpoint manager") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
      FileSystemBasedCheckpointFileManager}
    import spark.implicits._
    val scratch = graft.ops.Tables.scratch
    val (src, chk) = (s"$scratch/manager_src", s"$scratch/manager_chk")
    Seq(src, chk).foreach(graft.ops.Tables.rmrf)
    (1L to 3L).toDF("id").write.parquet(src)
    // Spark resolves the manager from the session a micro-batch runs on,
    // so a renamed or dropped conf key falls back to FileContext here,
    // whether or not Hadoop's native library makes its renames fork
    var chosen = Option.empty[String]
    val stream = spark.readStream.schema("id BIGINT").parquet(src)
    graft.streaming.StreamOps.drain(spark, "manager", chk, stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        chosen = Some(CheckpointFileManager.create(new Path(chk),
          batch.sparkSession.sessionState.newHadoopConf()).getClass.getName)
      })
    assert(chosen === Some(classOf[FileSystemBasedCheckpointFileManager].getName))
  }

  test("readSink reads a sink named by a file: URI") {
    import spark.implicits._
    val dir = s"${graft.ops.Tables.scratch}/readsink_uri"
    graft.ops.Tables.rmrf(dir)
    val rows = (1L to 5L).toDF("id")
    rows.write.parquet(s"$dir/bid=0")
    val uri = new java.io.File(dir).toURI.toString
    assert(uri.startsWith("file:"))
    val back = graft.streaming.StreamOps.readSink(spark, uri, rows.schema)
    assert(back.select("id").as[Long].collect().sorted.toSeq === (1L to 5L))
  }

  test("arrivalLog: a drain that commits no batch reads back zero rows in perBatch's schema") {
    import spark.implicits._
    val dir = s"${graft.ops.Tables.scratch}/arrival_log_empty"
    graft.ops.Tables.rmrf(dir)
    // an empty source directory: the file source lists no file, so the
    // drain commits no batch and the log directory never exists
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/src"))
    val rows = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
    val perBatch: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
    val back = graft.streaming.StreamOps.arrivalLog(spark, "spec_empty", dir,
      spark.readStream.schema(rows.schema).parquet(s"$dir/src"))(perBatch)
    assert(back.count() === 0L)
    // the names and types a real batch gets from perBatch
    def fields(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(fields(back) === fields(perBatch(rows)))
  }

  test("arrivalLog: a two-batch log reads back every row and no bid column") {
    val dir = s"${graft.ops.Tables.scratch}/arrival_log_bid"
    graft.ops.Tables.rmrf(dir)
    val docs = graft.ops.Tables.documents(spark, sf0001).select(col("doc_id"), col("source"))
    docs.repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    var back: org.apache.spark.sql.DataFrame = null
    // maxFilesPerTrigger 1 over two part files: two batches, bid=0 and bid=1
    val batches = progressPerQuery(spark) {
      back = graft.streaming.StreamOps.arrivalLog(spark, "spec_bid", dir,
        graft.streaming.StreamOps.stagedFileStream(spark, dir, "documents", Some(1))
          .select(col("doc_id"), col("source")))()
    }
    assert(batches.values.toSeq === Seq(2))
    assert(back.columns.toSeq === Seq("doc_id", "source"))
    assert(back.count() === docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("source guard: StreamOps writes no read-back schema by hand and sinks through arrivalLog") {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/StreamOps.scala")), "UTF-8")
    // the member a source offset sits in: the last definition before it
    def enclosing(at: Int, kinds: String): String =
      s"""\\b(?:$kinds)\\s+(\\w+)""".r.findAllMatchIn(src.substring(0, at)).toList.last.group(1)
    // the one DDL schema is the raw event envelope's: a source schema,
    // not a read-back
    val ddl = """StructType\.fromDDL\(""".r.findAllMatchIn(src).map(_.start).toList
    assert(ddl.map(enclosing(_, "def|val")) === List("rawEventSchema"))
    // every other log-and-read-back drain goes through arrivalLog
    val sinks = """\.foreachBatch\b""".r.findAllMatchIn(src)
      .map(m => enclosing(m.start, "def")).toList
    assert(sinks.sorted === List("arrivalLog", "corpusEpochsOf", "s14_streamNeardup",
      "s1_streamPipeline", "s4_streamJoin", "s7_streamQuarantine").sorted)
  }
}
