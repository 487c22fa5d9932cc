package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Part-A operators: the reference's entire dataflow re-expressed as a
  * declarative Spark pipeline (SURVEY.md §2A).
  *
  * Reference behavior being reproduced (file:line into /root/reference/):
  *  - 7-field event envelope + required-field validation:
  *    ConsumerMultiThread.java:27-34,130-132
  *  - EVENT_TYPES-gated regex numeric extraction ("(\d+\.\d+|\d+)"):
  *    ConsumerMultiThread.java:26,117-127
  *  - fixed-order projection: ConsumerMultiThread.java:135-138
  *  - per-event-type routing + partitioned sink:
  *    ConsumerMultiThread.java:140,163-201 (intent: one dwd_<type> table
  *    per event type — we use write.partitionBy, the columnar upgrade)
  *
  * The Kafka topic is modeled by the driver fixture events.parquet
  * (FIXTURES.md §2); the envelope below maps fixture columns onto the
  * reference's 7 TEXT fields deterministically so a DuckDB oracle can
  * reproduce every value bit-for-bit:
  *  - numeric→string renderings avoid raw double→varchar casts (engine
  *    formatting differs); EventDetails uses printf-style "%.2f" which
  *    is identical in java.util.Formatter and DuckDB printf for
  *    2-decimal fixture values (ties at x.xx5 cannot arise).
  *  - timestamps render via an explicit microsecond pattern on both
  *    sides (Spark date_format SSSSSS ≡ DuckDB strftime %f).
  *  - DeviceType/Location don't exist in the fixture; they are derived
  *    with integer modulo so both engines agree, and Location is null
  *    for every 97th event so A7 validation really drops rows.
  *
  * Scale notes (100 TB): the whole pipeline is a single narrow stage —
  * no shuffle at all until the partitioned sink, which shuffles once on
  * event_type (low cardinality → AQE coalesces). Filters and the
  * 7-column projection are pushed into the parquet scan by Catalyst.
  */
object Ingest {

  /** Fixture analog of EVENT_TYPES = {InAppPurchase, SessionEnd}
    * (ConsumerMultiThread.java:26): gates the A6 numeric rewrite only,
    * NOT persistence (see SURVEY.md §1.1).
    */
  val GatedTypes: Seq[String] = Seq("purchase", "view")

  val EventFields: Seq[String] = Seq(
    "EventID", "PlayerID", "EventTimestamp", "EventType",
    "EventDetails", "DeviceType", "Location")

  /** First numeric in the free-text details — reference's extraction
    * regex, ConsumerMultiThread.java:121.
    */
  val NumRegex = "(\\d+\\.\\d+|\\d+)"

  /** A1: bounded scan of the event log mapped onto the 7-field envelope. */
  def envelope(spark: SparkSession, sfDir: String): DataFrame =
    envelopeOf(Tables.events(spark, sfDir))

  /** Envelope mapping as a pure DataFrame→DataFrame stage (shared by the
    * batch queries and the Structured Streaming twins s1 and s7), with
    * any `extra` columns over the raw events appended after the 7 fields.
    */
  def envelopeOf(events: DataFrame, extra: Column*): DataFrame =
    events.select(Seq(
      col("event_id").cast("string").as("EventID"),
      col("user_id").cast("string").as("PlayerID"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("EventTimestamp"),
      col("event_type").as("EventType"),
      // Spark formats a null value as "amount nu usd" (%.2f's precision
      // cuts the string "null"); the reference drops an event missing
      // its details, so a null value is a null field (DuckDB's printf)
      when(col("value").isNotNull, format_string("amount %.2f usd", col("value")))
        .as("EventDetails"),
      when(col("event_id") % 3 === 0, "ios")
        .when(col("event_id") % 3 === 1, "android")
        .otherwise("web").as("DeviceType"),
      when(col("event_id") % 97 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("geo_"), (col("user_id") % 7).cast("string")))
        .as("Location")) ++ extra: _*)

  /** Each envelope field's null test on the raw event columns, in
    * [[EventFields]] order: [[envelopeOf]]'s field is null exactly where
    * its entry holds (IngestSpec pins this row for row over every null
    * pattern of the raw columns). Validation filters and reject reasons
    * are built from this map, below the envelope projection. Written on
    * the envelope's own columns, Catalyst pushes such a filter below the
    * projection by substituting the field expressions, and `date_format`,
    * `format_string` and the casts then run twice per row.
    * `DeviceType` is never null: the device branch falls through to
    * "web".
    */
  val EnvelopeNulls: Seq[(String, Column)] = Seq(
    "EventID" -> col("event_id").isNull,
    "PlayerID" -> col("user_id").isNull,
    "EventTimestamp" -> col("ts").isNull,
    "EventType" -> col("event_type").isNull,
    "EventDetails" -> col("value").isNull,
    "DeviceType" -> lit(false),
    "Location" -> (coalesce(col("event_id") % 97 === 0, lit(false)) ||
      col("user_id").isNull))

  /** True on raw events whose envelope misses a required field. */
  private def missingField: Column = EnvelopeNulls.map(_._2).reduce(_ || _)

  /** The comma-joined names of an envelope's missing fields, in field
    * order, from the raw event columns ("" for a valid envelope).
    */
  def rejectReason: Column =
    concat_ws(",", EnvelopeNulls.map { case (f, isNull) => when(isNull, lit(f)) }: _*)

  private def eid: Column = col("EventID").cast("long")

  def a1_scan(spark: SparkSession, d: String): DataFrame =
    envelope(spark, d).orderBy(eid)

  /** A3: JSON payload parse — both the schema-full (from_json) and the
    * path-extraction (get_json_object) forms over the props column
    * (reference: JSON.parseObject, ConsumerMultiThread.java:114).
    */
  def a3_parseJson(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d).select(
      col("event_id"),
      // k BIGINT, not INT: an int32 schema would silently null values
      // over 2^31 while the path form keeps them — the two columns must
      // agree on the full BIGINT domain
      from_json(col("props"), lit("k BIGINT")).getField("k").as("k"),
      // try_cast, NOT cast: a payload whose k is a non-numeric string
      // ("{\"k\": \"oops\"}") must parse to NULL like the schema-full
      // form's PERMISSIVE mode does — an ANSI cast would abort the
      // whole ingest on one malformed Kafka record
      get_json_object(col("props"), "$.k").try_cast("long").as("k_path"))
      .orderBy(col("event_id"))

  /** A5: membership gate (ConsumerMultiThread.java:117). */
  def a5_filterIsin(spark: SparkSession, d: String): DataFrame =
    envelope(spark, d).filter(col("EventType").isin(GatedTypes: _*)).orderBy(eid)

  /** A6: gated regex numeric extraction (ConsumerMultiThread.java:121-126). */
  def a6_regexpExtract(spark: SparkSession, d: String): DataFrame =
    envelope(spark, d).select(
      col("EventID"), col("EventType"), col("EventDetails"),
      when(col("EventType").isin(GatedTypes: _*),
        regexp_extract(col("EventDetails"), NumRegex, 1).try_cast("float"))
        .as("extracted"))
      .orderBy(eid)

  /** A7: required-field validation — drop rows missing any of the 7
    * envelope fields (ConsumerMultiThread.java:130-132).
    */
  def a7_validate(spark: SparkSession, d: String): DataFrame =
    envelopeOf(Tables.events(spark, d).filter(!missingField)).orderBy(eid)

  /** A18 (engine addition): dead-letter quarantine — the complement of
    * A7 and the production upgrade of the reference's silent discard
    * (the "Invalid Events → Discard" edge, doc/数据流图.png; the
    * `continue` at ConsumerMultiThread.java:130-132 loses the row
    * forever). Invalid envelopes are KEPT, each labeled with the
    * comma-joined list of its missing required fields, so a lake job
    * can `write.partitionBy("reject_reason")` a dead-letter area and
    * replay repaired records later instead of destroying evidence.
    * a7 ∪ a18 = a1, disjointly (pinned in IngestSpec).
    *
    * Cross-engine exactness: concat_ws skips NULL arguments in BOTH
    * Spark and DuckDB, so the reason string is the same ordered subset
    * of field names on both sides. Narrow map + filter — no shuffle.
    */
  def a18_quarantine(spark: SparkSession, d: String): DataFrame =
    envelopeOf(Tables.events(spark, d).filter(missingField),
      rejectReason.as("reject_reason"))
      .orderBy(eid)

  /** The validated + rewritten + projected frame (A6∘A7∘A8): the
    * reference overwrites EventDetails with the extracted numeric for
    * gated types (ConsumerMultiThread.java:125) then projects the 7
    * fields in fixed order (:135-138). The rewrite keeps the matched
    * substring (a string) rather than round-tripping through float
    * formatting, so both engines agree bit-for-bit.
    */
  def dwdFrame(spark: SparkSession, d: String): DataFrame =
    dwdOf(Tables.events(spark, d))

  /** Validation + envelope + gated rewrite + fixed-order projection as a
    * pure stage over raw events. Validation runs first, on the raw
    * columns ([[EnvelopeNulls]]); the rewrite keeps EventDetails' null
    * test, since `regexp_extract` of a non-null string is never null.
    */
  def dwdOf(events: DataFrame): DataFrame =
    envelopeOf(events.filter(!missingField))
      .withColumn("EventDetails",
        when(col("EventType").isin(GatedTypes: _*),
          regexp_extract(col("EventDetails"), NumRegex, 1))
          .otherwise(col("EventDetails")))
      .select(EventFields.map(col): _*)

  def a8_project(spark: SparkSession, d: String): DataFrame =
    dwdFrame(spark, d).orderBy(eid)

  /** A9: per-type routing — the groupable check of the partition-by-key
    * buffering (ConsumerMultiThread.java:36,140).
    */
  def a9_partitionByType(spark: SparkSession, d: String): DataFrame =
    dwdFrame(spark, d).groupBy(col("EventType"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("EventType"))

  /** A12: partitioned dwd sink + read-back (ConsumerMultiThread.java:
    * 163-201 — transactional batch insert into dwd_<type>; here the
    * parquet commit protocol provides the atomicity and partitionBy
    * provides the table-per-type layout).
    */
  def a12_sinkDwd(spark: SparkSession, d: String): DataFrame = {
    // per-sf namespacing (like b19): Verify and Bench run in separate
    // JVMs on different fixture dirs — a shared path would let one
    // overwrite the other's sink mid-read-back
    val out = s"${Tables.scratch}/dwd_${Tables.sanitize(d)}"
    // The partition key is a PATH-SAFE copy of EventType, not EventType
    // itself: the type string is attacker-controlled ingest input, and a
    // value outside printable ASCII becomes a directory name some
    // filesystems cannot even create (locally, any char the JVM's
    // sun.jnu.encoding can't map aborts the write task; object stores
    // have their own key charsets). Spark's Hive-escaping covers the
    // printable specials (/, :, %…), the replacement covers the rest.
    // The RAW EventType rides inside the files, so data is preserved
    // verbatim and a path collision ("a🙂" and "a😡" both land in
    // EventTypePath=a_) merely co-locates files. For clean types path
    // == type, so the per-type layout and pruning are unchanged.
    val frame = dwdFrame(spark, d)
    frame
      .withColumn("EventTypePath",
        regexp_replace(col("EventType"), "[^\\x20-\\x7E]", "_"))
      .write.mode("overwrite")
      .partitionBy("EventTypePath").parquet(out)
    // read back with the writer's schema, not inference: a fully-empty
    // input (first run, quiet day) commits a sink with zero data files,
    // and schema inference over it would abort the read-back
    spark.read.schema(frame.schema).parquet(out)
      .select(EventFields.map(col): _*).orderBy(eid)
  }

  /** Derby reads `derby.stream.error.file` once at engine boot, so it
    * must be a process-wide one-time setting, NOT per-query state: set
    * inside a query function it silently does nothing whenever some
    * earlier test/bench rep already booted the engine (and derby.log
    * then lands in cwd). Referenced by [[a13_sinkJdbc]] before the
    * first connection; `lazy val` guarantees exactly-once.
    */
  private lazy val derbyLogRedirect: Unit =
    System.setProperty("derby.stream.error.file", s"${Tables.scratch}/derby.log")

  /** All SQLStates reachable from `e` through BOTH chaining mechanisms:
    * `getCause` (standard) and `getNextException` (how Derby primarily
    * nests the real boot error under its XJ040 wrapper). Bounded + a
    * seen-set, since the two chains can alias or cycle.
    */
  private def sqlStatesOf(e: Throwable): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    val states = scala.collection.mutable.Set.empty[String]
    def walk(t: Throwable): Unit =
      if (t != null && seen.size < 20 && seen.add(t)) {
        t match {
          case sql: java.sql.SQLException =>
            if (sql.getSQLState != null) states += sql.getSQLState
            walk(sql.getNextException)
          case _ => ()
        }
        walk(t.getCause)
      }
    walk(e)
    states.toSet
  }

  /** True iff the exception chain carries a Derby BOOT failure — the
    * engine could not start the database at all (stale files from a
    * killed JVM). SQLStates: XJ040 ("Failed to start database", the
    * boot wrapper) and XBM0A ("service directory exists but the service
    * could not be started"). Anything else — SQL errors, disk full,
    * interrupts — happened against a LIVE engine, whose files must not
    * be touched. XSDB6 (dual boot) anywhere in the chain VETOES the
    * match even though Derby wraps it in XJ040: there another engine —
    * possibly in another JVM — HOLDS the db, and wiping would corrupt
    * it. Both `getCause` and Derby's `getNextException` chains are
    * walked; the veto would be invisible to a cause-only walk.
    */
  private[graft] def isDerbyBootFailure(e: Throwable): Boolean = {
    val states = sqlStatesOf(e)
    !states.contains("XSDB6") && (states.contains("XJ040") || states.contains("XBM0A"))
  }

  /** A13: JDBC sink parity — the reference's REAL sink is a transactional
    * JDBC batch insert (`INSERT INTO dwd_… VALUES (?,…)` via
    * PreparedStatement.addBatch/executeBatch inside an explicit txn,
    * ConsumerMultiThread.java:163-201). Spark's jdbc writer issues the
    * same shape: per-partition connections, batched prepared inserts
    * (default batchsize 1000 = the reference's BATCH_SIZE), one commit
    * per partition. Embedded Derby stands in for the reference's SQLite
    * file (no sqlite-jdbc in this image); the dwd frame is written,
    * read back through JDBC, and oracled by the same dwd SQL as a12 —
    * so the round-trip is value-exact, not just row-counted.
    *
    * coalesce(1) on the WRITE only: embedded Derby serializes on a
    * single file anyway (as SQLite does), so one writer connection
    * avoids lock contention; the frame computed upstream stays
    * parallel. At lake scale the sink would be a server-side RDBMS and
    * the coalesce would be dropped — per-partition txn writers are the
    * scalable path, which IngestSpec exercises with 2 writers.
    */
  def a13_sinkJdbc(spark: SparkSession, d: String): DataFrame = {
    derbyLogRedirect
    // per-sf namespacing also keeps a concurrent second JVM off this
    // db entirely (Derby embedded is single-process; a shared path
    // would XSDB6 the latecomer)
    val dbDir = s"${Tables.scratch}/derby_dwd_${Tables.sanitize(d)}"
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // no rmrf on the happy path: Derby keeps a booted db open JVM-wide,
    // so deleting its files between repetitions would corrupt it —
    // overwrite drops and recreates the TABLE, which is the reference's
    // create-if-not-exists + insert lifecycle
    // (ConsumerMultiThread.java:66-85). But a JVM killed mid-write can
    // leave db files that FAIL the next boot, and that failure would be
    // sticky across every later run (nothing else ever cleans the dir) —
    // so on a BOOT failure (SQLState-verified: the engine never started
    // this db, so no live engine holds its files), wipe and retry once.
    // Any other failure happened against a live engine — propagate.
    def writeReadBack(): DataFrame = {
      dwdFrame(spark, d).coalesce(1).write.mode("overwrite")
        .jdbc(url, "dwd_events", props)
      spark.read.jdbc(url, "dwd_events", props)
        .select(EventFields.map(col): _*).orderBy(eid)
    }
    try writeReadBack()
    catch {
      case scala.util.control.NonFatal(e) if isDerbyBootFailure(e) =>
        // belt-and-braces: ask the engine to release the db before the
        // wipe, in case some component did get it booted. Shutdown
        // SIGNALS SUCCESS with SQLState 08006 — swallow it either way.
        try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true")
        catch { case scala.util.control.NonFatal(_) => () }
        Tables.rmrf(dbDir)
        writeReadBack()
    }
  }

  /** A14: the whole reference program as one declarative chain. */
  def a14_pipeline(spark: SparkSession, d: String): DataFrame =
    a8_project(spark, d)

  // ---------------------------------------------------------------- oracle SQL

  /** DuckDB twin of [[envelope]] — used as a CTE by every part-A oracle. */
  val envSql: String =
    """WITH env AS (
      |  SELECT
      |    CAST(event_id AS VARCHAR) AS EventID,
      |    CAST(user_id AS VARCHAR) AS PlayerID,
      |    strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS EventTimestamp,
      |    event_type AS EventType,
      |    printf('amount %.2f usd', value) AS EventDetails,
      |    CASE WHEN event_id % 3 = 0 THEN 'ios'
      |         WHEN event_id % 3 = 1 THEN 'android'
      |         ELSE 'web' END AS DeviceType,
      |    CASE WHEN event_id % 97 = 0 THEN NULL
      |         ELSE 'geo_' || CAST(user_id % 7 AS VARCHAR) END AS Location
      |  FROM events)
      |""".stripMargin

  private val dwdSql: String =
    envSql +
      """, dwd AS (
        |  SELECT EventID, PlayerID, EventTimestamp, EventType,
        |    CASE WHEN EventType IN ('purchase','view')
        |         THEN regexp_extract(EventDetails, '(\d+\.\d+|\d+)', 1)
        |         ELSE EventDetails END AS EventDetails,
        |    DeviceType, Location
        |  FROM env
        |  WHERE EventID IS NOT NULL AND PlayerID IS NOT NULL
        |    AND EventTimestamp IS NOT NULL AND EventType IS NOT NULL
        |    AND EventDetails IS NOT NULL AND DeviceType IS NOT NULL
        |    AND Location IS NOT NULL)
        |""".stripMargin

  val oracles: Map[String, String] = Map(
    "a1_scan_events" ->
      (envSql + "SELECT * FROM env ORDER BY CAST(EventID AS BIGINT)"),
    "a3_parse_json" ->
      // real json extraction (a digits-only regex would mis-extract
      // negative k and match nested keys); json_valid mirrors Spark's
      // null-on-malformed where DuckDB would otherwise throw
      // TRY_CAST mirrors Spark's null-on-unparseable k (PERMISSIVE
      // from_json / try_cast path form) for non-numeric string payloads
      """SELECT event_id,
        |  CASE WHEN json_valid(props) THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k,
        |  CASE WHEN json_valid(props) THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_path
        |FROM events ORDER BY event_id""".stripMargin,
    "a5_filter_isin" ->
      (envSql + """SELECT * FROM env WHERE EventType IN ('purchase','view')
        |ORDER BY CAST(EventID AS BIGINT)""".stripMargin),
    "a6_regexp_extract" ->
      (envSql + """SELECT EventID, EventType, EventDetails,
        |  CASE WHEN EventType IN ('purchase','view')
        |       THEN TRY_CAST(regexp_extract(EventDetails, '(\d+\.\d+|\d+)', 1) AS REAL)
        |       END AS extracted
        |FROM env ORDER BY CAST(EventID AS BIGINT)""".stripMargin),
    "a7_validate_notnull" ->
      (envSql + """SELECT * FROM env
        |WHERE EventID IS NOT NULL AND PlayerID IS NOT NULL
        |  AND EventTimestamp IS NOT NULL AND EventType IS NOT NULL
        |  AND EventDetails IS NOT NULL AND DeviceType IS NOT NULL
        |  AND Location IS NOT NULL
        |ORDER BY CAST(EventID AS BIGINT)""".stripMargin),
    "a18_quarantine" ->
      (envSql + """SELECT *, concat_ws(',',
        |    CASE WHEN EventID IS NULL THEN 'EventID' END,
        |    CASE WHEN PlayerID IS NULL THEN 'PlayerID' END,
        |    CASE WHEN EventTimestamp IS NULL THEN 'EventTimestamp' END,
        |    CASE WHEN EventType IS NULL THEN 'EventType' END,
        |    CASE WHEN EventDetails IS NULL THEN 'EventDetails' END,
        |    CASE WHEN DeviceType IS NULL THEN 'DeviceType' END,
        |    CASE WHEN Location IS NULL THEN 'Location' END) AS reject_reason
        |FROM env
        |WHERE EventID IS NULL OR PlayerID IS NULL OR EventTimestamp IS NULL
        |   OR EventType IS NULL OR EventDetails IS NULL OR DeviceType IS NULL
        |   OR Location IS NULL
        |ORDER BY CAST(EventID AS BIGINT)""".stripMargin),
    "a8_project" ->
      (dwdSql + "SELECT * FROM dwd ORDER BY CAST(EventID AS BIGINT)"),
    "a9_partition_by_type" ->
      (dwdSql + """SELECT EventType, COUNT(*) AS cnt FROM dwd
        |GROUP BY EventType ORDER BY EventType""".stripMargin),
    "a12_sink_dwd" ->
      (dwdSql + "SELECT * FROM dwd ORDER BY CAST(EventID AS BIGINT)"),
    "a13_sink_jdbc" ->
      (dwdSql + "SELECT * FROM dwd ORDER BY CAST(EventID AS BIGINT)"),
    "a14_pipeline_e2e" ->
      (dwdSql + "SELECT * FROM dwd ORDER BY CAST(EventID AS BIGINT)"),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_scan_events"       -> a1_scan _,
    "a3_parse_json"        -> a3_parseJson _,
    "a5_filter_isin"       -> a5_filterIsin _,
    "a6_regexp_extract"    -> a6_regexpExtract _,
    "a7_validate_notnull"  -> a7_validate _,
    "a18_quarantine"       -> a18_quarantine _,
    "a8_project"           -> a8_project _,
    "a9_partition_by_type" -> a9_partitionByType _,
    "a12_sink_dwd"         -> a12_sinkDwd _,
    "a13_sink_jdbc"        -> a13_sinkJdbc _,
    "a14_pipeline_e2e"     -> a14_pipeline _,
  )
}
