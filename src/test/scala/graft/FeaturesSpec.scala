package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.ops.Features

/** Property-style invariants for the two genuinely tricky part-B
  * semantics (SURVEY.md §5 item 3): sessionization gaps and the
  * point-in-time join's no-future guarantee + tie-breaks.
  */
class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("b6 sessionize: intra-session gaps <= 30 min, inter-session gaps > 30 min") {
    val sessions = Features.b6_sessionize(spark, sf0001).collect()
    val byUser = sessions.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("sess"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val gap = b.getAs[Long]("start_us") - a.getAs[Long]("end_us")
          assert(gap > 1800000000L, s"adjacent sessions closer than 30min: $gap us")
        case _ =>
      }
    }
    assert(sessions.length > 0)
  }

  test("b7 as-of join never reads the future and picks the latest feature") {
    // hand-built case: probe at 10:00 must pick the 09:59 view (eid 2),
    // not the 08:00 view (eid 1) nor the 10:01 view (eid 3); equal-ts
    // tie (eid 4 vs 5 at 07:00 for user 2) resolves to the larger eid.
    // Rows without a user or a clock never pair: user 3's null-ts view 6
    // would sort before probe 12, and view 7 and probe 13 share only a
    // null user.
    val ev = Seq[(Long, Option[Long], Option[Timestamp], String, Double)](
      (1L, Some(1L), Some(ts("2024-01-01 08:00:00")), "view", 1.0),
      (2L, Some(1L), Some(ts("2024-01-01 09:59:00")), "view", 2.0),
      (3L, Some(1L), Some(ts("2024-01-01 10:01:00")), "view", 3.0),
      (10L, Some(1L), Some(ts("2024-01-01 10:00:00")), "purchase", 9.0),
      (4L, Some(2L), Some(ts("2024-01-01 07:00:00")), "view", 4.0),
      (5L, Some(2L), Some(ts("2024-01-01 07:00:00")), "view", 5.0),
      (11L, Some(2L), Some(ts("2024-01-01 07:00:00")), "purchase", 9.0),
      (12L, Some(3L), Some(ts("2024-01-01 06:00:00")), "purchase", 9.0), // no prior view → dropped
      (6L, Some(3L), None, "view", 6.0),
      (7L, None, Some(ts("2024-01-01 07:00:00")), "view", 7.0),
      (13L, None, Some(ts("2024-01-01 08:00:00")), "purchase", 9.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    ev.createOrReplaceTempView("asof_case")

    // run the real single-scan kind-flag merge against the literal frame
    // by writing it to scratch as events.parquet
    val dir = s"${graft.ops.Tables.scratch}/asof_case"
    // Tables.events expects the fixture's on-disk shape: ts as int64 nanos
    ev.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Features.b7_asofJoin(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_eid"), r.getAs[Long]("feat_eid"))).toMap
    assert(out === Map(10L -> 2L, 11L -> 5L))
  }

  test("b21 decayed counter: halves per day, horizon excludes, null metric counts but adds 0") {
    // user 1 purchases: 1.00 on the as-of day (t0 = 2024-02-01) and
    // 2.00 the day before — the halving makes them contribute EQUALLY
    // (100·2^20 == 200·2^19); a 4.00 purchase 25 days back is past the
    // 20-day horizon and must vanish from the counter AND n_recent.
    // user 2's single view has a null metric: counted, sum stays null.
    val ev = Seq(
      (1L, 1L, ts("2024-02-01 12:00:00"), "purchase", Some(1.0)),
      (2L, 1L, ts("2024-01-31 12:00:00"), "purchase", Some(2.0)),
      (3L, 1L, ts("2024-01-07 12:00:00"), "purchase", Some(4.0)),
      (4L, 2L, ts("2024-02-01 08:00:00"), "view", None: Option[Double])
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = s"${graft.ops.Tables.scratch}/b21_case"
    ev.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Features.b21_decayedFeatures(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        (Option(r.getAs[Any]("decayed_e20")), r.getAs[Long]("n_recent"))).toMap
    assert(out === Map(
      (1L, "purchase") -> ((Some(100L * (1L << 20) + 200L * (1L << 19)), 2L)),
      (2L, "view") -> ((None, 1L))))
  }

  test("b22 drift: fully-shifted type scores 2e6 per moved bucket pair, stable type scores 0") {
    // log spans 10:00..11:00 → t_mid = 10:30 (rows AT the midpoint are
    // early). Type p moves entirely: two early rows in bucket 0
    // ($1.00), two late rows in bucket 1 ($10.00) → per-bucket terms
    // (2-0)²·1e6/2 = 2e6 twice → drift 4e6. Type q is identical on
    // both sides of the split → drift 0.
    val ev = Seq(
      (1L, 1L, ts("2024-03-01 10:00:00"), "p", 1.0),
      (2L, 1L, ts("2024-03-01 10:10:00"), "p", 1.0),
      (3L, 1L, ts("2024-03-01 10:50:00"), "p", 10.0),
      (4L, 1L, ts("2024-03-01 11:00:00"), "p", 10.0),
      (5L, 2L, ts("2024-03-01 10:00:00"), "q", 1.0),
      (6L, 2L, ts("2024-03-01 11:00:00"), "q", 1.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = s"${graft.ops.Tables.scratch}/b22_case"
    ev.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Features.b22_featureDrift(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_early"), r.getAs[Long]("n_late"), r.getAs[Long]("drift_e6")))).toMap
    assert(out === Map("p" -> ((2L, 2L, 4000000L)), "q" -> ((1L, 1L, 0L))))
  }

  test("b23 funnel: stages are ordered — pre-signup views and pre-view purchases don't count") {
    // user 1: the 09:00 view precedes signup (ignored), the 10:15
    // purchase precedes the first qualifying view (ignored) — the
    // funnel resolves signup 10:00 → view 10:30 → purchase 11:00.
    // user 2 never signs up: strict funnel → stage 0 despite activity.
    // user 3 signs up and stops → stage 1.
    val ev = Seq(
      (1L, 1L, ts("2024-04-01 09:00:00"), "view", 1.0),
      (2L, 1L, ts("2024-04-01 10:00:00"), "signup", 1.0),
      (3L, 1L, ts("2024-04-01 10:15:00"), "purchase", 1.0),
      (4L, 1L, ts("2024-04-01 10:30:00"), "view", 1.0),
      (5L, 1L, ts("2024-04-01 11:00:00"), "purchase", 1.0),
      (6L, 2L, ts("2024-04-01 10:00:00"), "view", 1.0),
      (7L, 2L, ts("2024-04-01 10:30:00"), "purchase", 1.0),
      (8L, 3L, ts("2024-04-01 10:00:00"), "signup", 1.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = s"${graft.ops.Tables.scratch}/b23_case"
    ev.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def us(s: String) = ts(s).getTime * 1000L
    val out = Features.b23_funnel(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((Option(r.getAs[Any]("signup_us")), Option(r.getAs[Any]("view_us")),
          Option(r.getAs[Any]("purchase_us")), r.getAs[Long]("stage")))).toMap
    assert(out === Map(
      1L -> ((Some(us("2024-04-01 10:00:00")), Some(us("2024-04-01 10:30:00")),
        Some(us("2024-04-01 11:00:00")), 3L)),
      2L -> ((None, None, None, 0L)),
      3L -> ((Some(us("2024-04-01 10:00:00")), None, None, 1L))))
  }

  test("b24 retention: D1/D7 flags anchor to each user's first-seen day") {
    // user 1: days 0,1,8 → D1 yes, D7 no (day 8 is not day 7);
    // user 2: days 0,7 → D7 yes; user 3: day 2 alone → its own cohort.
    val base = java.time.LocalDate.of(2024, 5, 1)
    def at(day: Int) = Timestamp.valueOf(base.plusDays(day).atTime(12, 0))
    val ev = Seq(
      (1L, 1L, at(0), "click", 1.0), (2L, 1L, at(1), "click", 1.0),
      (3L, 1L, at(8), "click", 1.0),
      (4L, 2L, at(0), "click", 1.0), (5L, 2L, at(7), "click", 1.0),
      (6L, 3L, at(2), "click", 1.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = s"${graft.ops.Tables.scratch}/b24_case"
    ev.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val day0 = base.toEpochDay
    val out = Features.b24_retention(spark, dir).collect()
      .map(r => r.getAs[Long]("cohort_day") ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("n_d1"), r.getAs[Long]("n_d7")))).toMap
    assert(out === Map(
      day0 -> ((2L, 1L, 1L)),
      (day0 + 2) -> ((1L, 0L, 0L))))
  }

  test("b23/b24 on fixture: funnel stages are monotone, retention flags bounded") {
    val f = Features.b23_funnel(spark, sf0001)
    // wherever two adjacent stages resolved, their times are ordered,
    // and the stage number matches the nullness pattern exactly
    assert(f.filter(col("view_us") < col("signup_us")).count() === 0)
    assert(f.filter(col("purchase_us") < col("view_us")).count() === 0)
    assert(f.filter(
      (col("stage") === 3 && col("purchase_us").isNull) ||
      (col("stage") === 2 && (col("view_us").isNull || col("purchase_us").isNotNull)) ||
      (col("stage") === 1 && (col("signup_us").isNull || col("view_us").isNotNull)) ||
      (col("stage") === 0 && col("signup_us").isNotNull)).count() === 0)
    val r = Features.b24_retention(spark, sf0001)
    assert(r.filter(col("n_d1") > col("n_users") || col("n_d7") > col("n_users")).count() === 0)
    assert(r.agg(sum(col("n_users"))).head.getLong(0) ===
      graft.ops.Tables.events(spark, sf0001)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id")).distinct().count(),
      "every active user belongs to exactly one cohort")
  }

  test("b25 LTV: cohort anchors to first activity, curve accumulates, null metric counts") {
    // user 1 first appears via a CLICK on day 0 (lifetime starts at
    // first sight, not first spend): purchases 10.00 on day 0, then on
    // day 1 a 5.00 purchase AND a null-metric purchase (counted, adds
    // nothing) → curve (0,0): 1 purchase 1000 cum 1000; (0,1): 2
    // purchases 500 cum 1500. user 2's first event is day 3, purchase
    // day 10 → its own cohort at age 7.
    val base = java.time.LocalDate.of(2024, 6, 1)
    def at(day: Int) = Timestamp.valueOf(base.plusDays(day).atTime(12, 0))
    val ev = Seq(
      (1L, 1L, at(0), "click", Some(9.99)),
      (2L, 1L, at(0), "purchase", Some(10.0)),
      (3L, 1L, at(1), "purchase", Some(5.0)),
      (4L, 1L, at(1), "purchase", None: Option[Double]),
      (5L, 2L, at(3), "view", Some(1.0)),
      (6L, 2L, at(10), "purchase", Some(2.5))
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = s"${graft.ops.Tables.scratch}/b25_case"
    ev.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val day0 = base.toEpochDay
    val out = Features.b25_ltvCurve(spark, dir).collect()
      .map(r => (r.getAs[Long]("cohort_day"), r.getAs[Long]("age")) ->
        ((r.getAs[Long]("n_purchases"), r.getAs[Long]("rev_cents"),
          r.getAs[Long]("cum_rev_cents")))).toMap
    assert(out === Map(
      (day0, 0L) -> ((1L, 1000L, 1000L)),
      (day0, 1L) -> ((2L, 500L, 1500L)),
      (day0 + 3, 7L) -> ((1L, 250L, 250L))))
  }

  test("b7 on fixture: every matched feature is at or before its probe") {
    val ev = graft.ops.Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"))
    val res = Features.b7_asofJoin(spark, sf0001)
    val bad = res
      .join(ev.withColumnsRenamed(Map("event_id" -> "probe_eid", "ts" -> "pts")), "probe_eid")
      .join(ev.withColumnsRenamed(Map("event_id" -> "feat_eid", "ts" -> "fts")), "feat_eid")
      .filter(col("fts") > col("pts"))
    assert(bad.count() === 0)
  }

  test("x_asof_bucketed: byte-equal to b7 at both fixture scales") {
    // the bucketed layout is a physical-plan change only — the as-of
    // resolution must be row-for-row identical to the shuffled form
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val got = Features.x_asofBucketed(spark, d).collect().map(_.toSeq).toSeq
      val exp = Features.b7_asofJoin(spark, d).collect().map(_.toSeq).toSeq
      assert(got === exp, s"bucketed as-of diverged from b7 at $d")
    }
  }
}
