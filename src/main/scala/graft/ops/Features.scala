package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Part-B feature-store operators (SURVEY.md §2B): per-user feature
  * vectors, distinct counts, rollups, window functions, sessionization,
  * and the point-in-time (as-of) join.
  *
  * Determinism: window orderings always include event_id as the final
  * tie-break (unique), time arithmetic is integer microseconds
  * (unix_micros ≡ DuckDB epoch_us), sums of doubles go through
  * DECIMAL(18,2). All value→decimal/cents conversions are try_cast
  * (Spark) ≡ TRY_CAST (oracle): a NaN/Inf/out-of-range metric in one
  * event degrades to NULL in both engines instead of aborting a
  * lake-wide aggregate under ANSI mode (EdgeCaseEventsSpec).
  *
  * Scale notes (100 TB): every operator here is one shuffle on its
  * natural key (user_id / event_type); window functions sort within
  * partitions only. The as-of join uses the union-merge formulation —
  * features and probes are co-shuffled once on user_id and resolved by
  * a single ordered window pass (no range-join blowup, no driver
  * collection); with a bucketed/sorted lake layout on user_id the
  * shuffle disappears entirely.
  */
object Features {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** b1: per-user feature vector via conditional aggregation (the
    * shuffle-once, map-side-combinable form of pivot).
    */
  def b1_userFeatures(spark: SparkSession, d: String): DataFrame = {
    val aggs = EventTypes.flatMap { t =>
      Seq(
        count(when(col("event_type") === t, 1)).as(s"${t}_cnt"),
        sum(when(col("event_type") === t, col("value").try_cast("decimal(18,2)")))
          .cast("double").as(s"${t}_sum"))
    } :+ count(lit(1)).as("total_cnt")
    Tables.events(spark, d).groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("user_id"))
  }

  /** b2: exact distinct counts per event type (the approx variant is
    * x_approx_distinct, oracled rows-only because HLL sketches differ
    * across engines).
    */
  def b2_aggDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d).groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"))
      .orderBy(col("event_type"))

  /** approx_count_distinct (HLL++) — no cross-engine oracle by design. */
  def approxDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d).groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy(col("event_type"))

  /** b3: rollup over (event_type, day). */
  def b3_rollup(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").try_cast("decimal(18,2)").as("v"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).cast("double").as("vsum"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  /** b3b: cube over (event_type, device bucket) — the remaining
    * grouping-sets flavor (rollup is b3).
    */
  def b3b_cube(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("event_type"), (col("user_id") % 3).cast("long").as("cohort"),
        col("value").try_cast("decimal(18,2)").as("v"))
      .cube(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).cast("double").as("vsum"))
      .orderBy(col("event_type").asc_nulls_first, col("cohort").asc_nulls_first)

  /** b15: two-phase salted aggregation — the skew-mitigation shape for
    * hot keys at 100 TB: partial aggregate on (key, salt) spreads a hot
    * key over 16 reducers, then a cheap 16-row-per-key merge. Results
    * are identical to the plain groupBy, which is exactly what the
    * oracle asserts.
    */
  def b15_saltedAgg(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .withColumn("salt", (col("event_id") % 16).cast("int"))
      .withColumn("cents", Tables.cents)
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("pc"), sum(col("cents")).as("ps"))
      .groupBy(col("user_id"))
      .agg(sum(col("pc")).as("n_events"), (sum(col("ps")) / 100.0).as("vsum"))
      .orderBy(col("user_id"))

  /** b16: exact percentiles of integer cents. Only binary-exact quantile
    * fractions (¼, ½, ¾) are used so the linear interpolation lands on
    * the same double in Spark's percentile() and DuckDB's
    * quantile_cont().
    */
  def b16_percentiles(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .withColumn("cents", Tables.cents)
      .groupBy(col("event_type"))
      .agg(
        (expr("percentile(cents, 0.25D)") / 100.0).as("p25"),
        (expr("percentile(cents, 0.5D)") / 100.0).as("p50"),
        (expr("percentile(cents, 0.75D)") / 100.0).as("p75"),
        (min(col("cents")) / 100.0).as("vmin"),
        (max(col("cents")) / 100.0).as("vmax"))
      .orderBy(col("event_type"))

  /** b4: ranking window functions. row_number/ntile order by the unique
    * (ts, event_id); rank/dense_rank order by ts alone (tie-stable).
    */
  def b4_windowRank(spark: SparkSession, d: String): DataFrame = {
    val unique = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, d).select(
      col("event_id"), col("user_id"),
      row_number().over(unique).cast("long").as("rn"),
      rank().over(byTs).cast("long").as("rnk"),
      dense_rank().over(byTs).cast("long").as("drnk"),
      ntile(4).over(unique).cast("long").as("nt"))
      .orderBy(col("event_id"))
  }

  /** b5: analytic frames — rolling count/sum over the last 4 rows,
    * lag/lead, first_value in frame.
    */
  def b5_windowFrame(spark: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val frame = ord.rowsBetween(-3, Window.currentRow)
    Tables.events(spark, d)
      .withColumn("cents", Tables.cents)
      .select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(frame).as("roll_cnt"),
        (sum(col("cents")).over(frame) / 100.0).as("roll_sum"),
        lag(col("value"), 1).over(ord).as("prev_value"),
        lead(col("value"), 1).over(ord).as("next_value"),
        first(col("event_id")).over(frame).as("first_eid"))
      .orderBy(col("event_id"))
  }

  /** b6: 30-minute-gap sessionization; one row per session with
    * microsecond-exact bounds.
    */
  def b6_sessionize(spark: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(ord))
      .withColumn("flag",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("sess", sum(col("flag")).over(run).cast("long"))
      .groupBy(col("user_id"), col("sess"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        (max(col("us")) - min(col("us"))).as("dur_us"))
      .orderBy(col("user_id"), col("sess"))
  }

  /** Decay horizon for b21: events older than this many days (relative
    * to the corpus' latest event date) fall out of the counter
    * entirely, so the scan is bounded by the horizon, not the log.
    */
  val DecayHorizonDays = 20

  /** b21: time-decayed feature counters — the serving-store "recent
    * activity" primitive: each event contributes its cents weighted by
    * 2^-(age_days), so yesterday's dollar counts half of today's and
    * the horizon (>[[DecayHorizonDays]] days) contributes nothing.
    *
    * Determinism: the weight is held as the exact integer
    * 2^(horizon - age) — numerator of the weight at fixed denominator
    * 2^horizon — so every product and the whole sum stay BIGINT:
    * bit-identical across engines, executor counts, and reruns, where
    * a float pow()/exp() sum would drift by libm ulps and summation
    * order. `decayed_e20` is the counter scaled by 2^20; metrics
    * beyond ~9e12 cents fall outside the fixed-point domain (try_cast
    * already nulls anything past BIGINT on both engines).
    *
    * Scale (100 TB): one tiny max-date census broadcasts (like c12's
    * N), the horizon filter cuts the scan to the trailing window — on
    * a date-partitioned lake with the as-of date passed as a parameter
    * instead of derived, that filter is static partition pruning (read
    * 21 days, not 10 years) — and the counter itself is ONE map-side-
    * combinable groupBy(user, type) shuffle of 24-byte rows.
    */
  def b21_decayedFeatures(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    val t0 = ev.agg(max(to_date(col("ts"))).as("t0"))
    ev.crossJoin(broadcast(t0))
      .withColumn("age", datediff(col("t0"), to_date(col("ts"))))
      .filter(col("age").between(0, DecayHorizonDays))
      .withColumn("cents", Tables.cents)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        sum(col("cents") *
          expr(s"shiftleft(CAST(1 AS BIGINT), $DecayHorizonDays - age)"))
          .as("decayed_e20"),
        count(lit(1)).as("n_recent"),
        max(unix_micros(col("ts"))).as("last_us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** b22: feature drift monitoring — the data-quality check every
    * production feature store runs: has the distribution of a feature
    * (here `value`, bucketed to $10 cells capped at $190+) shifted
    * between the early and late halves of the log? The statistic is
    * the two-sample chi-square Σ (a-b)²/(a+b) over buckets, scaled by
    * 1e6 and floored per bucket so every term and the sum stay BIGINT.
    *
    * Determinism traps avoided by construction: the window split is
    * the integer midpoint min + (max−min) DIV 2 of event-time micros
    * (no float percentile interpolation; the DIV operand is
    * non-negative so truncate ≡ floor), and bucketing clamps to
    * non-negative BEFORE dividing — Spark's DIV truncates toward zero
    * while DuckDB's // floors, which diverges exactly on negatives.
    *
    * Scale (100 TB): the min/max census is a tiny broadcast (b21's
    * pattern), bucket counts are ONE map-side-combinable shuffle of
    * (type, bucket) rows, and the per-type reduce that follows runs
    * over ≤ types×20 rows — nothing downstream of the first aggregate
    * is data-sized. The e6 scaling keeps the per-bucket term exact up
    * to |a-b| ≈ 3e6; normalize counts first past that.
    */
  def b22_featureDrift(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .filter(col("ts").isNotNull)
      .withColumn("cents", Tables.cents)
      .filter(col("cents").isNotNull)
      .withColumn("us", unix_micros(col("ts")))
    // midpoint as mn + (mx-mn) DIV 2 — b32's floor-consistent form:
    // the operand of DIV is non-negative, so Spark's truncate and
    // DuckDB's floor agree even on a pre-epoch (negative-µs) log
    val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("mn + (mx - mn) DIV 2").as("t_mid"))
    ev.crossJoin(broadcast(mid))
      .withColumn("bucket", expr("least(greatest(cents, 0L) DIV 1000, 19L)"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        count(when(col("us") <= col("t_mid"), 1)).as("n_a"),
        count(when(col("us") > col("t_mid"), 1)).as("n_b"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("n_a")).as("n_early"),
        sum(col("n_b")).as("n_late"),
        sum(expr("((n_a - n_b) * (n_a - n_b) * 1000000) DIV (n_a + n_b)"))
          .as("drift_e6"))
      .orderBy(col("event_type"))
  }

  /** b23: funnel analysis — the game-analytics staple over the
    * reference's own event domain: per user, the ORDERED progression
    * signup → first view at-or-after the signup → first purchase
    * at-or-after that view, with the reached stage (0-3). A view
    * before signup does not count; stages are anchored to microsecond
    * event time, so the funnel is ordered, not just present.
    *
    * Shape: three sequential whole-partition window aggregates over
    * the SAME user_id partitioning (each stage min conditions on the
    * previous stage's column) followed by a groupBy(user_id) that
    * collapses the per-user constants — all four passes ride ONE hash
    * exchange (the b6 reuse pattern, PlanSpec-pinned). At 100 TB this
    * is a single shuffle of (user, type, us) triples; no joins, no
    * second scan.
    */
  def b23_funnel(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("s_us", min(when(col("event_type") === "signup", col("us"))).over(w))
      .withColumn("v_us", min(when(col("event_type") === "view" &&
        col("us") >= col("s_us"), col("us"))).over(w))
      .withColumn("p_us", min(when(col("event_type") === "purchase" &&
        col("us") >= col("v_us"), col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("s_us")).as("signup_us"), min(col("v_us")).as("view_us"),
        min(col("p_us")).as("purchase_us"),
        max(when(col("p_us").isNotNull, 3L).when(col("v_us").isNotNull, 2L)
          .when(col("s_us").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy(col("user_id"))
  }

  /** b24: retention cohorts — the other game-analytics staple: group
    * users by their first-seen day (the cohort), report how many came
    * back exactly one day and exactly seven days later. All date
    * arithmetic is integer day indices (unix epoch days), so the
    * cohort assignment and retention flags are bit-identical across
    * engines — no timezone or interval semantics in the hot path.
    *
    * Shape: a whole-partition window min (first day) + groupBy(user)
    * over the SAME user_id exchange (the b23/b6 reuse pattern), then a
    * tiny groupBy(cohort_day) whose input is one row per user. At
    * 100 TB: one shuffle of (user, day) pairs, one user-sized reduce —
    * the cohort table is days×1 rows, never data-sized.
    */
  def b24_retention(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), expr("unix_date(to_date(ts))").cast("long").as("day"))
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("user_id"))
      .agg(
        min(col("cohort_day")).as("cohort_day"),
        max(when(col("day") === col("cohort_day") + 1, 1L).otherwise(0L)).as("d1"),
        max(when(col("day") === col("cohort_day") + 7, 1L).otherwise(0L)).as("d7"))
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("d1")).as("n_d1"), sum(col("d7")).as("n_d7"))
      .orderBy(col("cohort_day"))
  }

  /** b25: LTV curve — cumulative purchase revenue per cohort by days
    * since first activity: the monetization view that joins b24's
    * cohorts with revenue. The cohort anchors to ANY first event (a
    * user's lifetime starts at first sight, not first spend); revenue
    * counts purchases only. Integer cents + integer epoch days + a
    * running-sum window, so the whole curve is engine- and
    * order-exact; a null/NaN metric purchase still counts as a
    * purchase but adds nothing (try_cast + SUM's null-skip, both
    * engines).
    *
    * Shape: user_id window (cohort) → (cohort, age) aggregate →
    * cohort-partitioned running sum. Three exchanges, but only the
    * first moves data-sized rows — the second carries one row per
    * (cohort, age) pair and the third one row per curve point.
    */
  def b25_ltvCurve(spark: SparkSession, d: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val wCum = Window.partitionBy(col("cohort_day")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_date(to_date(ts))").cast("long").as("day"),
        Tables.cents.as("cents"))
      .withColumn("cohort_day", min(col("day")).over(wUser))
      .filter(col("event_type") === "purchase")
      .withColumn("age", col("day") - col("cohort_day"))
      .groupBy(col("cohort_day"), col("age"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("rev_cents"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wCum))
      .orderBy(col("cohort_day"), col("age"))
  }

  /** b28: unpivot (melt) — the wide per-user feature matrix flattened
    * back to long (user_id, feature, n) rows, the layout feature
    * registries and training-example stores consume. Wide side is b1's
    * conditional-aggregate shape (one groupBy shuffle, map-side
    * combined); the melt itself is Spark's native `unpivot` — a
    * narrow Expand (rows × features) with NO additional shuffle, the
    * exact inverse of pivot. All melted measures share one BIGINT
    * type, which is what makes the single value column well-typed —
    * heterogeneous measures would force the lossy cast unpivot
    * correctly refuses.
    *
    * Scale (100 TB): Expand multiplies rows by the fixed feature
    * count without materializing anything wider than one row at a
    * time, so the melt adds zero shuffle mass beyond the (already
    * reduced) wide matrix; the output exchange is the cosmetic sort.
    */
  def b28_unpivot(spark: SparkSession, d: String): DataFrame = {
    val measures = EventTypes.map(t => s"n_$t") :+ "sum_cents"
    val aggs =
      EventTypes.map(t => count(when(col("event_type") === t, 1)).as(s"n_$t")) :+
        coalesce(sum(Tables.cents), lit(0L)).as("sum_cents")
    Tables.events(spark, d)
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .unpivot(Array(col("user_id")), measures.map(col).toArray, "feature", "n")
      .orderBy(col("user_id"), col("feature"))
  }

  /** b29: anomaly flags — events whose value deviates more than 1.5
    * population-σ from their event-type mean, the feature-store
    * data-quality sibling of b22's drift check. The σ test is done
    * ENTIRELY in exact integer arithmetic: with per-type n = count,
    * s = Σcents, q = Σcents², the condition |x − s/n| > 1.5·σ_pop is
    * algebraically 4·(n·x − s)² > 9·(n·q − s²) — no square root, no
    * division, no float, so the flag is bit-identical across engines
    * and executor counts (a double sqrt/stddev would drift on the
    * reduction order). Operands are cast to DECIMAL(38,0) (Spark) /
    * HUGEINT (oracle): the products reach ~10²¹, past BIGINT but far
    * inside both 38-digit domains, exact in each.
    *
    * Scale (100 TB): the per-type (n, s, q) census is a tiny
    * map-side-combined aggregate broadcast back onto the stream (b21's
    * census pattern) — the corpus itself is never shuffled; the flag
    * is a pure codegen'd filter.
    */
  def b29_anomalyZscore(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"),
        Tables.cents.as("cents"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("cents")).as("s"),
      sum(col("cents") * col("cents")).as("q"))
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(expr(
        """4 * (CAST(n AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0)))
          |  * (CAST(n AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0)))
          |> 9 * (CAST(n AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))
          |       - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))""".stripMargin))
      .select(col("event_id"), col("event_type"), col("cents"))
      .orderBy(col("event_id"))
  }

  /** b30: SCD2 (slowly-changing-dimension type 2) feature history — the
    * other half of the serving-store pair: b17 keeps the CURRENT value
    * per (user, event_type), this builds the full validity timeline
    * ([valid_from_us, valid_to_us) intervals, open-ended for the
    * current row) that point-in-time training joins and audits read.
    * Each event's value version is valid from its own timestamp until
    * the next event of the same (user, type); `is_current` marks the
    * open interval. All integer µs — engine-exact.
    *
    * Scale (100 TB): ONE shuffle on the (user_id, event_type) grain and
    * one ordered window pass (lead(1) is O(1) state over the spillable
    * sort) — the same b4-b6 window family; no join, no second scan. On
    * the b19-style bucketed layout the exchange disappears like
    * x_asof_bucketed's.
    */
  def b30_scd2History(spark: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("valid_from_us"), col("event_id"))
    Tables.events(spark, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("valid_from_us"), Tables.cents.as("cents"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(ord))
      .withColumn("is_current",
        when(col("valid_to_us").isNull, 1L).otherwise(0L))
      .orderBy(col("user_id"), col("event_type"), col("valid_from_us"),
        col("event_id"))
  }

  /** x: t-digest approximate percentiles — b16's sketch twin, completing
    * the sketch family (HLL distinct, Bloom membership, count-min
    * frequency, quantile sketch here). `percentile_approx` keeps a
    * bounded-size quantile summary with map-side combine, so the exact
    * per-group sort b16 pays becomes a fixed-memory mergeable sketch —
    * the form that survives a 100 TB group. Rows-only by declared
    * design (the sketch picks an actual data value; engines' summaries
    * differ); the rank-error bound vs exact b16 is pinned in scalatest.
    */
  def x_approxPercentiles(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .withColumn("cents", Tables.cents)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("cents"), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(10000)).as("pa"))
      .select(col("event_type"),
        element_at(col("pa"), 1).as("p25_cents"),
        element_at(col("pa"), 2).as("p50_cents"),
        element_at(col("pa"), 3).as("p75_cents"))
      .orderBy(col("event_type"))

  /** x: mergeable HLL sketch ROLLUP — the pre-aggregation pattern a
    * lake actually runs: per-(event_type, day) HLL sketches of the user
    * set materialized once (the daily job), then any coarser grain —
    * here per-type totals — answered by MERGING sketches instead of
    * rescanning the log. HLL merge is a per-register max, so the merged
    * registers are IDENTICAL to a direct whole-log sketch regardless of
    * how the input was partitioned — that equality (merge ≡ direct) and
    * the estimate-vs-exact error bound are pinned in scalatest.
    * Rows-only: DuckDB's HLL implementation differs.
    *
    * Scale (100 TB): the daily sketch table is days×types rows of
    * KB-sized binaries; every downstream rollup reads THAT, not the
    * log — the whole point of mergeable sketches.
    */
  def x_hllRollup(spark: SparkSession, d: String): DataFrame =
    dailyUserSketches(spark, d)
      .groupBy(col("event_type"))
      .agg(round(hll_sketch_estimate(hll_union_agg(col("sk")))).cast("long")
        .as("approx_users"))
      .orderBy(col("event_type"))

  /** The materialized daily-sketch grain x_hllRollup rolls up (exposed
    * for the scalatest merge≡direct pin).
    */
  private[graft] def dailyUserSketches(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))

  /** b32: snapshot MERGE (upsert) — the feature-store write-path
    * primitive Spark SQL has no native MERGE INTO for: fold the newer
    * half of the log (the "delta" epoch) onto the older half (the
    * "base" snapshot), latest-wins per (user, event_type), and label
    * every key `insert` (delta only), `update` (both epochs — the
    * delta's value replaces the base's, EVEN when the newer value is
    * NULL: key-presence decides, not value-coalesce), or `carry` (base
    * only). The epoch split is the b22 midpoint census — integer µs,
    * engine-exact.
    *
    * Scale (100 TB): the tiny (min,max) census broadcasts back (b21's
    * pattern); then BOTH per-epoch latest-structs resolve as
    * conditional window maxes over ONE (user, type) exchange and the
    * final one-row-per-key reduce runs on that same partitioning
    * (b23's ride-one-exchange shape, PlanSpec-pinned) — no self-join,
    * no second scan, no shuffle of the log beyond the one it already
    * pays. max(struct(us, event_id, …)) is the deterministic
    * latest-wins: lexicographic on (us, unique event_id).
    */
  def b32_snapshotMerge(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), Tables.cents.as("cents"))
    val census = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
    val wFull = Window.partitionBy(col("user_id"), col("event_type"))
    ev.crossJoin(broadcast(census))
      // midpoint as lo + (hi-lo) DIV 2: hi-lo is non-negative, where
      // Spark's DIV (truncate toward zero) and DuckDB's // (floor)
      // agree — the naive (lo+hi) DIV 2 diverges by 1µs when lo+hi < 0
      // (a mostly pre-epoch log; the edge fixture has a 1964 timestamp)
      .withColumn("is_delta", col("us") >= expr("lo + (hi - lo) DIV 2"))
      .withColumn("b", max(when(!col("is_delta"),
        struct(col("us"), col("event_id"), col("cents")))).over(wFull))
      .withColumn("dl", max(when(col("is_delta"),
        struct(col("us"), col("event_id"), col("cents")))).over(wFull))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("b")).as("b"), max(col("dl")).as("dl"))
      .select(col("user_id"), col("event_type"),
        when(col("dl").isNotNull && col("b").isNotNull, "update")
          .when(col("dl").isNotNull, "insert").otherwise("carry").as("action"),
        when(col("dl").isNotNull, col("dl.cents")).otherwise(col("b.cents")).as("cents"),
        col("b.event_id").as("base_eid"), col("dl.event_id").as("delta_eid"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** b7: point-in-time (as-of) join — for each purchase event, the
    * latest 'view' event of the same user at or before the purchase
    * timestamp (ties: largest event_id; purchases with no prior view
    * are dropped, i.e. inner as-of).
    *
    * Implementation is the merge form over ONE scan: a kind flag
    * (feature=0 / probe=1) replaces the union of two filtered scans,
    * and BOTH the feature id and its value resolve as last(ignoreNulls)
    * over the same ordered window — so the whole as-of is one scan, one
    * shuffle on user_id, one window pass: no range-join explosion, no
    * back-join to fetch the feature payload, no per-key collects. The
    * shape that survives 100 TB; on a lake bucketed+sorted by
    * (user_id, ts) even that one exchange disappears.
    */
  def b7_asofJoin(spark: SparkSession, d: String): DataFrame =
    asofOf(asofInput(spark, d))

  /** b7's input projection: view/purchase events with the merge-form
    * kind flag (feature=0 / probe=1) — also what [[x_asofBucketed]]
    * writes to its bucketed layout. Rows without a user or a clock are
    * dropped, as the oracle's equi-join and `f.ts <= p.ts` drop them:
    * otherwise null users would pair with each other in one window
    * partition, and a null-ts view would sort before every probe of its
    * user and resolve as the feature of a probe with no earlier view, a
    * point-in-time leak.
    */
  private[ops] def asofInput(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .filter(col("event_type").isin("view", "purchase") &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "view", 0).otherwise(1).as("kind"))

  /** b7's window stage over any (user_id, ts, event_id, value, kind)
    * frame — the merge-form as-of resolution itself.
    */
  private[ops] def asofOf(ev: DataFrame): DataFrame = {
    // features sort before probes at equal ts (kind 0 < 1); among equal-ts
    // features the largest event_id wins because last() takes the latest.
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the feature resolves as ONE struct so id and value always come
    // from the SAME view row: per-column last(ignoreNulls) would skip
    // a view whose value is NULL for the value column but not for the
    // id column, pairing an id with an older row's payload. The struct
    // is non-null for every view row (null payload included), so
    // ignoreNulls only ever skips probe rows.
    val lastFeat =
      last(when(col("kind") === 0, struct(col("event_id"), col("value"))),
        ignoreNulls = true).over(ord)
    ev
      .withColumn("feat", lastFeat)
      .filter(col("kind") === 1 && col("feat").isNotNull)
      .select(col("event_id").as("probe_eid"), col("user_id"),
        col("feat.event_id").as("feat_eid"), col("feat.value").as("feat_value"))
      .orderBy(col("probe_eid"))
  }

  /** x: b7 on the bucketed+sorted lake layout its scaladoc promises —
    * the as-of input written `bucketBy(8, user_id)` / sorted
    * (user_id, ts, kind, event_id), then the SAME window stage over the
    * bucketed table. The bucketed scan already satisfies the window's
    * ClusteredDistribution(user_id), so the one hash exchange b7 pays
    * disappears (PlanSpec pins the contrast); only the presentation
    * sort remains. Rows-only by declared design: output is byte-equal
    * to b7 (pinned in FeatureSpec), whose oracle covers the semantics.
    *
    * Scale (100 TB): this is THE feature-store as-of layout — events
    * land bucketed by user once at ingest, and every subsequent
    * point-in-time training-set build windows in place with zero
    * shuffle of the fact table.
    */
  def x_asofBucketed(spark: SparkSession, d: String): DataFrame = {
    val wh = s"${Tables.scratch}/asof_bucketed_${Tables.sanitize(d)}"
    spark.sql("DROP TABLE IF EXISTS events_asof_b")
    Tables.rmrf(wh)
    asofInput(spark, d).write
      .bucketBy(8, "user_id").sortBy("user_id", "ts", "kind", "event_id")
      .option("path", s"$wh/events_asof_b").saveAsTable("events_asof_b")
    asofOf(spark.table("events_asof_b"))
  }

  val oracles: Map[String, String] = Map(
    "b29_anomaly_zscore" ->
      s"""WITH e AS (
        |  SELECT event_id, event_type, ${Tables.CentsSql} AS cents
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(cents) AS HUGEINT) AS s,
        |    CAST(sum(cents * cents) AS HUGEINT) AS q
        |  FROM e GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.cents
        |FROM e JOIN st USING (event_type)
        |WHERE 4 * (st.n * e.cents - st.s) * (st.n * e.cents - st.s)
        |    > 9 * (st.n * st.q - st.s * st.s)
        |ORDER BY e.event_id""".stripMargin,
    "b28_unpivot" -> {
      val filters = EventTypes.map(t =>
        s"    count(*) FILTER (WHERE event_type = '$t') AS n_$t,").mkString("\n")
      val branches = (EventTypes.map(t => s"n_$t") :+ "sum_cents").map(m =>
        s"  SELECT user_id, '$m' AS feature, $m AS n FROM wide").mkString(" UNION ALL\n")
      s"""WITH wide AS (
         |  SELECT user_id,
         |$filters
         |    CAST(coalesce(sum(${Tables.CentsSql}), 0) AS BIGINT) AS sum_cents
         |  FROM events GROUP BY user_id)
         |SELECT user_id, feature, n FROM (
         |$branches)
         |ORDER BY user_id, feature""".stripMargin
    },
    "b1_agg_user_features" -> {
      val cols = EventTypes.flatMap { t =>
        Seq(
          s"COUNT(*) FILTER (WHERE event_type = '$t') AS ${t}_cnt",
          s"CAST(SUM(TRY_CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = '$t') AS DOUBLE) AS ${t}_sum")
      }.mkString(",\n  ")
      s"""SELECT user_id,
         |  $cols,
         |  COUNT(*) AS total_cnt
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "b2_agg_distinct" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "b3_groupsets_rollup" ->
      """SELECT event_type, day, COUNT(*) AS cnt,
        |  CAST(SUM(TRY_CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum
        |FROM (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
        |GROUP BY ROLLUP(event_type, day)
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "b3b_cube" ->
      """SELECT event_type, cohort, COUNT(*) AS cnt,
        |  CAST(SUM(TRY_CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum
        |FROM (SELECT event_type, CAST(user_id % 3 AS BIGINT) AS cohort, value FROM events)
        |GROUP BY CUBE(event_type, cohort)
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin,
    "b15_salted_agg" ->
      s"""WITH c AS (SELECT user_id, ${Tables.CentsSql} AS cents FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) / 100.0 AS vsum
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    "b16_percentiles" ->
      s"""WITH c AS (SELECT event_type, ${Tables.CentsSql} AS cents FROM events)
        |SELECT event_type,
        |  quantile_cont(cents, 0.25) / 100.0 AS p25,
        |  quantile_cont(cents, 0.5) / 100.0 AS p50,
        |  quantile_cont(cents, 0.75) / 100.0 AS p75,
        |  MIN(cents) / 100.0 AS vmin,
        |  MAX(cents) / 100.0 AS vmax
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "b4_window_rank" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
        |  CAST(rank() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS nt
        |FROM events ORDER BY event_id""".stripMargin,
    "b5_window_frame" ->
      s"""WITH c AS (SELECT *, ${Tables.CentsSql} AS cents FROM events)
        |SELECT event_id, user_id,
        |  COUNT(*) OVER w4 AS roll_cnt,
        |  CAST(SUM(cents) OVER w4 AS BIGINT) / 100.0 AS roll_sum,
        |  lag(value, 1) OVER wo AS prev_value,
        |  lead(value, 1) OVER wo AS next_value,
        |  first_value(event_id) OVER w4 AS first_eid
        |FROM c
        |WINDOW
        |  wo AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  w4 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "b6_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS flag FROM o),
        |s AS (SELECT *, CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM f)
        |SELECT user_id, sess, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us, MAX(us) - MIN(us) AS dur_us
        |FROM s GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin,
    "b21_decayed_features" ->
      s"""WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |t AS (SELECT MAX(CAST(ts AS DATE)) AS t0 FROM ev),
         |e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
         |        date_diff('day', CAST(ts AS DATE), t.t0) AS age,
         |        ${Tables.CentsSql} AS cents
         |      FROM ev, t)
         |SELECT user_id, event_type,
         |  CAST(SUM(cents * (CAST(1 AS BIGINT) << ($DecayHorizonDays - age))) AS BIGINT) AS decayed_e20,
         |  COUNT(*) AS n_recent,
         |  MAX(us) AS last_us
         |FROM e WHERE age BETWEEN 0 AND $DecayHorizonDays
         |GROUP BY user_id, event_type
         |ORDER BY user_id, event_type""".stripMargin,
    "b22_feature_drift" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS us,
        |            ${Tables.CentsSql} AS cents
        |          FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT * FROM e WHERE cents IS NOT NULL),
        |m AS (SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS t_mid FROM f),
        |b AS (SELECT event_type, LEAST(GREATEST(cents, 0) // 1000, 19) AS bucket,
        |        CASE WHEN us <= t_mid THEN 1 ELSE 0 END AS ea
        |      FROM f, m),
        |c AS (SELECT event_type, bucket,
        |        CAST(SUM(ea) AS BIGINT) AS n_a,
        |        CAST(COUNT(*) - SUM(ea) AS BIGINT) AS n_b
        |      FROM b GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(SUM(n_a) AS BIGINT) AS n_early,
        |  CAST(SUM(n_b) AS BIGINT) AS n_late,
        |  CAST(SUM(((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b)) AS BIGINT) AS drift_e6
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "b25_ltv_curve" ->
      s"""WITH e AS (SELECT user_id, event_type,
        |            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |            ${Tables.CentsSql} AS cents
        |          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT *, MIN(day) OVER (PARTITION BY user_id) AS cohort_day FROM e),
        |p AS (SELECT cohort_day, day - cohort_day AS age, cents FROM c
        |      WHERE event_type = 'purchase'),
        |g AS (SELECT cohort_day, age, COUNT(*) AS n_purchases,
        |        CAST(SUM(cents) AS BIGINT) AS rev_cents
        |      FROM p GROUP BY 1, 2)
        |SELECT cohort_day, age, n_purchases, rev_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort_day ORDER BY age
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        |FROM g ORDER BY cohort_day, age""".stripMargin,
    "b24_retention" ->
      """WITH e AS (SELECT user_id,
        |            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT *, MIN(day) OVER (PARTITION BY user_id) AS cohort_day FROM e),
        |u AS (SELECT user_id, MIN(cohort_day) AS cohort_day,
        |        MAX(CASE WHEN day = cohort_day + 1 THEN 1 ELSE 0 END) AS d1,
        |        MAX(CASE WHEN day = cohort_day + 7 THEN 1 ELSE 0 END) AS d7
        |      FROM c GROUP BY user_id)
        |SELECT cohort_day, COUNT(*) AS n_users,
        |  CAST(SUM(d1) AS BIGINT) AS n_d1, CAST(SUM(d7) AS BIGINT) AS n_d7
        |FROM u GROUP BY cohort_day ORDER BY cohort_day""".stripMargin,
    "b23_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN us END)
        |         OVER (PARTITION BY user_id) AS s_us FROM e),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'view' AND us >= s_us THEN us END)
        |         OVER (PARTITION BY user_id) AS v_us FROM s1),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= v_us THEN us END)
        |         OVER (PARTITION BY user_id) AS p_us FROM s2)
        |SELECT user_id, MIN(s_us) AS signup_us, MIN(v_us) AS view_us,
        |  MIN(p_us) AS purchase_us,
        |  CAST(MAX(CASE WHEN p_us IS NOT NULL THEN 3 WHEN v_us IS NOT NULL THEN 2
        |           WHEN s_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "b32_snapshot_merge" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
         |    ${Tables.CentsSql} AS cents
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
         |m AS (SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS mid FROM e),
         |base AS (
         |  SELECT user_id, event_type, event_id, cents FROM e, m
         |  WHERE us < mid
         |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type
         |                             ORDER BY us DESC, event_id DESC) = 1),
         |delta AS (
         |  SELECT user_id, event_type, event_id, cents FROM e, m
         |  WHERE us >= mid
         |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type
         |                             ORDER BY us DESC, event_id DESC) = 1)
         |SELECT
         |  coalesce(b.user_id, d.user_id) AS user_id,
         |  coalesce(b.event_type, d.event_type) AS event_type,
         |  CASE WHEN d.event_id IS NOT NULL AND b.event_id IS NOT NULL THEN 'update'
         |       WHEN d.event_id IS NOT NULL THEN 'insert' ELSE 'carry' END AS action,
         |  CASE WHEN d.event_id IS NOT NULL THEN d.cents ELSE b.cents END AS cents,
         |  b.event_id AS base_eid, d.event_id AS delta_eid
         |FROM base b FULL JOIN delta d
         |  ON b.user_id = d.user_id AND b.event_type = d.event_type
         |ORDER BY user_id, event_type""".stripMargin,
    "b30_scd2_history" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, event_id, epoch_us(ts) AS valid_from_us,
         |    ${Tables.CentsSql} AS cents
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL)
         |SELECT user_id, event_type, event_id, valid_from_us, cents,
         |  lead(valid_from_us) OVER w AS valid_to_us,
         |  CAST(CASE WHEN lead(valid_from_us) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
         |FROM e
         |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY valid_from_us, event_id)
         |ORDER BY user_id, event_type NULLS FIRST, valid_from_us, event_id""".stripMargin,
    "b7_asof_join" -> B7Sql,
    // x_asof_bucketed is byte-equal to b7 (FeaturesSpec pin) — it runs
    // the SAME window stage over the bucketed layout — so it shares
    // b7's oracle string verbatim: one definition, no drift.
    "x_asof_bucketed" -> B7Sql,
  )

  private lazy val B7Sql =
    """SELECT p.event_id AS probe_eid, p.user_id, f.event_id AS feat_eid, f.value AS feat_value
      |FROM events p JOIN events f
      |  ON f.user_id = p.user_id AND f.event_type = 'view' AND f.ts <= p.ts
      |WHERE p.event_type = 'purchase'
      |QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY f.ts DESC, f.event_id DESC) = 1
      |ORDER BY probe_eid""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b1_agg_user_features" -> b1_userFeatures _,
    "b2_agg_distinct"      -> b2_aggDistinct _,
    "x_approx_distinct"    -> approxDistinct _,
    "b3_groupsets_rollup"  -> b3_rollup _,
    "b3b_cube"             -> b3b_cube _,
    "b4_window_rank"       -> b4_windowRank _,
    "b5_window_frame"      -> b5_windowFrame _,
    "b6_sessionize"        -> b6_sessionize _,
    "b7_asof_join"         -> b7_asofJoin _,
    "b30_scd2_history"     -> b30_scd2History _,
    "b32_snapshot_merge"   -> b32_snapshotMerge _,
    "x_approx_percentiles" -> x_approxPercentiles _,
    "x_hll_rollup"         -> x_hllRollup _,
    "x_asof_bucketed"      -> x_asofBucketed _,
    "b15_salted_agg"       -> b15_saltedAgg _,
    "b21_decayed_features" -> b21_decayedFeatures _,
    "b22_feature_drift"    -> b22_featureDrift _,
    "b23_funnel"           -> b23_funnel _,
    "b24_retention"        -> b24_retention _,
    "b25_ltv_curve"        -> b25_ltvCurve _,
    "b16_percentiles"      -> b16_percentiles _,
    "b28_unpivot"          -> b28_unpivot _,
    "b29_anomaly_zscore"   -> b29_anomalyZscore _,
  )
}
