package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ops.{Ingest, Tables}

/** Structured Streaming twins of the batch pipeline (SURVEY.md §2B
  * s1/s2). The reference is itself a bounded stream job — consume the
  * Kafka log from offset 0, stop on empty poll
  * (ConsumerMultiThread.java:89-110) — whose exact Spark analog is a
  * file/Kafka stream drained with Trigger.AvailableNow.
  *
  * Both queries run the stream to completion inside the call and return
  * the materialized result, so the driver's batch-oracle gate applies:
  * each streaming query's oracle is its batch twin's SQL.
  *
  * Scale notes: s1 is stateless (pure map/filter per micro-batch +
  * partitioned append). s2 keeps windowed-aggregation state keyed by
  * (window, event_type) with a 10-minute watermark bounding state for
  * unbounded sources; AvailableNow drains bounded input exactly once.
  */
object StreamOps {

  /** Sink + checkpoint dirs for one streaming query: one
    * generation-suffixed parent per INVOCATION via [[Tables.scratchDir]]
    * (round-14 ADVICE: the previous dataset-keyed-but-fixed names meant
    * two CONCURRENT invocations of the same query over the same fixture
    * — the parallel-suite scenario — shared one sink/checkpoint pair
    * and rmrf'd each other mid-drain; a fresh generation removes the
    * race, and scratchDir's lagged reaping bounds disk). The parent is
    * recorded per (tag, dataset) so post-drain inspectors
    * ([[s7ValidSide]]) can find the run they just completed.
    */
  private val lastSink =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def sinkDirs(tag: String, d: String): (String, String) = {
    val (out, chk, _) = sinkDirsWithBase(tag, d)
    (out, chk)
  }
  /** The 3-tuple form for queries with a post-drain inspector: the
    * base rides back explicitly so [[recordDrain]] stores the real
    * allocation instead of reverse-engineering it from the out path.
    */
  private def sinkDirsWithBase(tag: String, d: String): (String, String, String) = {
    val base = Tables.scratchDir(s"${tag}_sink", d)
    (s"$base/out", s"$base/chk", base)
  }
  /** Record a COMPLETED drain's sink for post-drain inspectors — called
    * after awaitTermination, so a concurrent/crashed run that merely
    * STARTED later cannot shadow a finished one's sink (round-15
    * review finding).
    */
  private def recordDrain(tag: String, d: String, base: String): Unit =
    lastSink.put((tag, Tables.sanitize(d)), base)

  /** Wall-time bound on one drain: generous (a decade-scale drain runs
    * for minutes) but finite, so a wedged source or sink fails loud and
    * names the drain instead of hanging its caller forever.
    */
  private val DrainTimeoutMs = 30L * 60 * 1000

  /** State shuffle width of every stateful drain (s2–s6): one constant,
    * not the core count. Each state partition carries its own store
    * instance and delta files per micro-batch, so the width should track
    * state volume, which is small at every scale this program drains.
    * Measured (BENCH_NOTES (cb)): at local[4], 4 partitions instead of 8
    * cut s6 by a fifth; at local[32] on a 4-vCPU box, tying the width to
    * the session's 32 shuffle partitions made s2–s6 twice as slow as 8.
    */
  private[graft] val StateWidth = 4

  /** Serializes [[drain]]'s conf scope across the JVM: held from the
    * first conf set to the last restore, so no other drain's `start()`
    * clones a session, or its sources read a session, carrying this
    * drain's values.
    */
  private val drainScope = new Object

  /** Runs one streaming query to completion: the single way every drain
    * in this module, and every profiling tool that re-drives one, starts
    * (Trigger.AvailableNow, the given checkpoint) and waits. A query's
    * own failure surfaces as the StreamingQueryException
    * `awaitInitialization` or `awaitTermination` throws; a drain that
    * outlives [[DrainTimeoutMs]] is stopped and fails with a
    * TimeoutException naming its tag and checkpoint. No `queryName`:
    * two concurrent invocations of one query would collide on it.
    *
    * Conf scope. The query's confs are set on the caller's session only
    * from just before `start()` until the query has initialized, and
    * each key is then restored to its prior value (or unset, if the
    * caller had not set it), so a drain leaves the caller's
    * `spark.conf.getAll` as it found it. Spark (4.1.2) clones the
    * session in `StreamExecution`'s constructor, on the caller's thread
    * inside `start()`, and the query reads most confs from that clone
    * for its whole life. Its file sources are the exception: each
    * builds its `sources/N` log in the stream thread, after `start()`
    * has returned, from the session that made the `readStream`, and
    * reads the checkpoint file manager from that session then. So the
    * scope stays open through `awaitInitialization`, which returns once
    * the stream thread has created every source; restoring right after
    * `start()` left the source logs racing the restore. One JVM-wide
    * lock ([[drainScope]]) covers set, `start()`, initialization and
    * restore: without it a concurrent s2 drain could clone s6's
    * temporary `noDataMicroBatches=false` and never emit its closed
    * windows. `awaitTermination` runs outside the lock. A query started
    * on the same session outside `drain` during the scope would still
    * see the drain's values.
    *
    * Not a fresh `newSession()` per drain: every new session that starts
    * a stream builds a StreamingQueryManager whose listener bus joins the
    * LiveListenerBus and is never removed (one leaked listener per
    * drain), and the caller's StreamingQueryListeners would no longer
    * see the drain.
    *
    * The scoped confs:
    *  - Artifact isolation off. An isolated clone's tasks run under an
    *    executor class loader of their own; the codegen cache is keyed
    *    by (class loader, code), so every drain recompiled every stage
    *    and ran it on a cold JIT. The clone reads the flag when it first
    *    runs work, so the clone `start()` makes runs under the
    *    executor's default loader and reuses compiled code. This relies
    *    on the program adding no session artifacts (there is no
    *    `addArtifact` or `addJar` in src/): there is nothing to isolate.
    *  - State width [[StateWidth]] for stateful operators. The key is
    *    the one Spark itself stamps into a stateful query's offset log
    *    (taken from `spark.sql.shuffle.partitions` when unset); batch
    *    shuffles and stateless drains keep the session width. Spark
    *    marks the key internal; a Spark that drops it falls back to the
    *    session width, which StreamingSpec's width test catches. Every
    *    drain starts from a fresh checkpoint, so no stored width
    *    constrains it.
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` = `noDataBatches`.
    *    On (Spark's default), a drain ends with a batch that reads no
    *    data and only advances the watermark: append-mode windows (s2)
    *    are emitted by it. A drain whose operators emit on arrival and
    *    only evict state on the watermark (an inner stream-stream join,
    *    `dropDuplicatesWithinWatermark`) passes `false` and skips that
    *    batch: a planning round, a state-store pass, two checkpoint
    *    commits and a state delta on disk.
    *  - The checkpoint file manager: Spark's FileSystem-based manager
    *    instead of its FileContext default. Without Hadoop's native
    *    library, FileContext's local rename forks eight `readlink`
    *    processes per file it renames into place, and a drain commits
    *    every offset, commit, source log entry and state delta (with its
    *    checksum) that way: s6 forked 120 per call at perfbench scale,
    *    none with this manager (BENCH_NOTES (cj)). Both managers write a
    *    temp file and rename it, and both keep the `.crc` sidecars. Every
    *    drain checkpoints under the local [[Tables.scratch]]; a drain
    *    that took an HDFS or object-store checkpoint would want the
    *    default back, for FileContext's atomic rename-with-overwrite.
    */
  private[graft] def drain[T](spark: SparkSession, tag: String, chk: String,
      writer: DataStreamWriter[T], noDataBatches: Boolean = true): Unit = {
    val scoped = Seq(
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.streaming.internal.stateStore.partitions" -> StateWidth.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileSystemBasedCheckpointFileManager].getName)
    val q = drainScope.synchronized {
      // getAll holds only the keys the caller set; getOption would also
      // answer defaults, and restoring one would set a key never set
      val prior = spark.conf.getAll
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val q = writer
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", chk)
          .start()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.awaitInitialization(DrainTimeoutMs)
        q
      } finally scoped.foreach { case (k, _) =>
        prior.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    if (!q.awaitTermination(DrainTimeoutMs)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"streaming drain $tag did not finish within ${DrainTimeoutMs / 1000} s " +
          s"and was stopped (checkpoint $chk)")
    }
  }

  /** Read a foreachBatch sink back — or, when the drained stream wrote
    * no batch at all (an empty-but-valid source: a quiet topic, a
    * fully-compacted log), an empty frame with the writer's schema. The
    * sink directory only exists once a batch commits, and a bare
    * `read.parquet` on the missing path would abort the read-back of a
    * perfectly healthy pipeline. The test asks the path's own Hadoop
    * FileSystem, so a `file:`, `hdfs:` or `s3a:` sink reads back like a
    * bare local path.
    */
  private[graft] def readSink(spark: SparkSession, out: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(out)
    if (path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path))
      // writer's schema, not inference: an EMPTY micro-batch commits the
      // directory with zero data files, which inference cannot read.
      // (The `bid=`/`EventTypePath=` partition columns are absent from
      // the schema and therefore dropped — no read-back selects them.)
      spark.read.schema(schema).parquet(out)
    else
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  /** The schema `f` gives a frame of schema `in`: `f` applied to an
    * empty static frame, so only analysis runs, never a Spark job.
    */
  private def schemaOf(spark: SparkSession, in: org.apache.spark.sql.types.StructType)(
      f: DataFrame => DataFrame): org.apache.spark.sql.types.StructType =
    f(spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), in)).schema

  /** The arrival log: drains `stream` and writes each micro-batch's
    * `perBatch(batch)` to its own `bid=N` directory, then reads the log
    * back. This is the sink of every drain that logs its batches and
    * reads them back (s2, s3, s5, s6, s8–s13 and s15–s27).
    *
    * The write is an overwrite keyed by the batch id, not a flat
    * append. A micro-batch that is REPLAYED (task retry, or a restart
    * after the sink committed but before the checkpoint's offset did)
    * rewrites its own directory instead of appending duplicates: the
    * idempotent-sink half of Structured Streaming's exactly-once
    * contract, and the Spark form of the reference's one batch INSERT
    * per poll (ConsumerMultiThread.java:163-201).
    *
    * The read-back schema is `perBatch`'s own, taken by analysis
    * ([[schemaOf]]), so it cannot drift from what the batch writes. The
    * result is projected to those columns: the `bid` partition column
    * never leaks. When no batch committed, [[readSink]] answers an empty
    * frame of that schema. `noDataBatches` goes to [[drain]].
    */
  private[graft] def arrivalLog(spark: SparkSession, tag: String, d: String,
      stream: DataFrame, noDataBatches: Boolean = true)(
      perBatch: DataFrame => DataFrame = identity): DataFrame = {
    val (log, chk) = sinkDirs(tag, d)
    drain(spark, tag, chk, stream.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        perBatch(batch).write.mode("overwrite").parquet(s"$log/bid=$bid")
      }, noDataBatches)
    val schema = schemaOf(spark, stream.schema)(perBatch)
    readSink(spark, log, schema).select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Source descriptor for the event stream. The reference's real
    * source is a Kafka consumer — subscribe a topic, poll from offset 0,
    * drain until the log is exhausted (ConsumerMultiThread.java:
    * 46-57,89-102). [[KafkaEvents]] carries exactly that wiring for
    * `readStream.format("kafka")`; [[FileEvents]] is the in-container
    * execution path (this image ships no spark-sql-kafka jar, so the
    * Kafka branch is cluster-ready code whose option construction and
    * value decode are unit-tested, not executed here).
    */
  sealed trait EventSource
  final case class FileEvents(dir: String) extends EventSource
  final case class KafkaEvents(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest") extends EventSource

  /** The reader options the Kafka branch passes to `readStream` —
    * factored out so the wiring is testable without a broker/jar.
    */
  def kafkaOptions(k: KafkaEvents): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> k.bootstrapServers,
    "subscribe" -> k.topic,
    "startingOffsets" -> k.startingOffsets)

  /** Raw event-log schema as it leaves the source: the JSON envelope the
    * reference consumes (ts still int64 nanos, exactly like the parquet
    * fixture before [[Tables.events]]' conversion).
    */
  val rawEventSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")

  /** Kafka record batch → raw event rows: the message value is the JSON
    * event envelope (reference: JSON.parseObject on the record value,
    * ConsumerMultiThread.java:112-114). Pure column transform, shared
    * verbatim between the streaming branch and the unit test.
    */
  def decodeKafkaValue(records: DataFrame): DataFrame =
    records
      .select(from_json(col("value").cast("string"), rawEventSchema).as("e"))
      .select(col("e.*"))

  private def eventStream(spark: SparkSession, src: EventSource): DataFrame = {
    val raw = src match {
      case FileEvents(d) => stagedFileStream(spark, d, "events")
      case k: KafkaEvents =>
        decodeKafkaValue(
          kafkaOptions(k).foldLeft(spark.readStream.format("kafka")) {
            case (r, (key, v)) => r.option(key, v)
          }.load())
    }
    Tables.withTsMicros(raw)
  }

  /** File-source stream over any single-table fixture — shared by the
    * event tier (s1-s8) and the document tier (s9).
    */
  private[graft] def stagedFileStream(spark: SparkSession, d: String, table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = Tables.t(spark, d, table).schema
    def reader = maxFilesPerTrigger.foldLeft(spark.readStream.schema(schema)) {
      (rd, n) => rd.option("maxFilesPerTrigger", n)
    }
    val src = Paths.get(s"$d/$table.parquet")
    // a DIRECTORY table (Spark-written, e.g. the decade-scale generated
    // logs) is already the layout the file source wants — stream it in
    // place. The staging below exists only for the single-FILE fixture
    // layout; a symlink-to-directory inside the stage dir is NOT
    // equivalent (the stream source's top-level listing skips it and
    // silently streams zero rows — caught by the x3 ladder run).
    if (Files.isDirectory(src))
      return reader.parquet(src.toString)
    // the file source requires a directory: stage a per-sf dir holding a
    // symlink to the fixture file (falls back to a copy if unsupported)
    val stageDir = Paths.get(s"${Tables.scratch}/${table}_src_${Tables.sanitize(d)}")
    Files.createDirectories(stageDir)
    val link = stageDir.resolve(s"$table.parquet")
    // self-healing: a DANGLING symlink (fixture dir moved) fails the
    // follow-check but still occupies the name, and a stale COPY
    // (fallback path, fixture regenerated) would stream old data
    // forever — detect both and re-stage instead of throwing/ignoring
    val entryPresent = Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)
    val healthy = entryPresent && Files.exists(link) &&
      (Files.isSymbolicLink(link) ||
        (Files.size(link) == Files.size(src) &&
          Files.getLastModifiedTime(link).compareTo(Files.getLastModifiedTime(src)) >= 0))
    if (!healthy) {
      Files.deleteIfExists(link)
      try Files.createSymbolicLink(link, src)
      catch { case _: Exception =>
        Files.copy(src, link, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    reader.parquet(stageDir.toString)
  }

  private def eventStream(spark: SparkSession, d: String): DataFrame =
    eventStream(spark, FileEvents(d))

  /** s1: the A14 pipeline as a stream — envelope → gated rewrite →
    * validation → projection, foreachBatch partitioned sink, drained
    * with AvailableNow, then read back.
    */
  def s1_streamPipeline(spark: SparkSession, d: String): DataFrame = {
    val (out, chk) = sinkDirs("s1", d)
    val dwd = Ingest.dwdOf(eventStream(spark, d))
    drain(spark, "s1", chk, dwd.writeStream
      // batchId-keyed overwrite, not a flat append: if a micro-batch is
      // REPLAYED (task retry, or restart after the sink committed but
      // before the checkpoint offset did), it overwrites its own
      // directory instead of appending duplicates — the idempotent-sink
      // half of Structured Streaming's exactly-once contract. `bid=`
      // reads back as a partition column the projection drops.
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // partition on the path-safe type copy, exactly like the batch
        // a12 sink (see Ingest.a12_sinkDwd): a non-ASCII type string
        // must not become an uncreatable directory name mid-stream
        batch
          .withColumn("EventTypePath",
            regexp_replace(col("EventType"), "[^\\x20-\\x7E]", "_"))
          .write.mode("overwrite").partitionBy("EventTypePath")
          .parquet(s"$out/bid=$bid")
      })
    readSink(spark, out, dwd.schema)
      .select(Ingest.EventFields.map(col): _*)
      .orderBy(col("EventID").cast("long"))
  }

  /** s2: event-time tumbling windows (1 h) per event type with a
    * 10-minute watermark, APPEND-mode aggregate drained with
    * AvailableNow.
    *
    * Append mode is the mode where the watermark actually does its job:
    * a window's state is finalized + emitted only once the watermark
    * passes its end, then evicted — so state is bounded on an unbounded
    * source, and rows later than the watermark are dropped (both
    * properties pinned in StreamingSpec). Consequence the oracle
    * mirrors: windows the final watermark (max event time − 10 min,
    * ms-truncated) has not closed are still open state and do NOT
    * appear in the output. The windows that final watermark closes are
    * emitted by Spark's trailing no-data batch, so s2 keeps [[drain]]'s
    * default `noDataBatches`.
    */
  def s2_streamWindow(spark: SparkSession, d: String): DataFrame = {
    val agg = eventStream(spark, d)
      .withColumn("cents", graft.ops.Tables.cents)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("cents_sum"))
    arrivalLog(spark, "s2", d, agg)().select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
      date_format(col("window.end"), "yyyy-MM-dd HH:mm").as("win_end"),
      col("event_type"),
      col("cnt"),
      (col("cents_sum") / 100.0).as("vsum"))
      .orderBy(col("win_start"), col("event_type"))
  }

  // public: Catalyst-generated encoder code must access these
  case class SessEv(user_id: Long, us: Long, event_id: Long)
  /** The OPEN session carried across micro-batches: ordinal + bounds +
    * count. Carrying the whole open session (not just "next ordinal")
    * is what makes continuation correct — a batch whose first event
    * falls within the gap must EXTEND this session, not open a new one.
    */
  case class SessState(sess: Long, startUs: Long, endUs: Long, n: Long)
  case class SessOut(user_id: Long, sess: Long, n_events: Long,
      start_us: Long, end_us: Long, dur_us: Long)

  val SessionGapUs = 1800000000L // 30 minutes

  /** Per-group sessionization step (b6 semantics: new session when the
    * gap exceeds 30 minutes, ties broken by event_id; ordinals start at
    * 1 like b6's running flag sum). Emits one SNAPSHOT row per session
    * touched in this batch; a session that continues into a later batch
    * is re-emitted with updated bounds, so downstream resolves
    * last-snapshot-wins per (user, sess) — the same upsert convention
    * as b17. On a bounded AvailableNow drain each session is touched by
    * exactly one batch, so snapshots are final and match the batch SQL.
    */
  def sessionize(key: Long, it: Iterator[SessEv],
      state: org.apache.spark.sql.streaming.GroupState[SessState]): Iterator[SessOut] = {
    val sorted = it.toArray.sortBy(e => (e.us, e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    // resume the open session when the batch's first event is within the
    // gap of its end; otherwise that session is already final (its last
    // snapshot stands) and the next ordinal begins. The resume branch
    // also catches events OLDER than the state's end (negative gap):
    // s3 runs without a watermark, so a later micro-batch may deliver
    // an out-of-order event — it is MERGED into the open session via
    // the min/max clamp below rather than dragging its bounds backward
    // (bounds stay monotonic, so last-snapshot-wins stays correct; a
    // bounded AvailableNow drain never takes this path).
    var sess = 1L; var curStart = -1L; var curEnd = -1L; var curN = 0L
    state.getOption.foreach { s =>
      if (sorted.head.us - s.endUs <= SessionGapUs) {
        sess = s.sess; curStart = s.startUs; curEnd = s.endUs; curN = s.n
      } else sess = s.sess + 1
    }
    val res = scala.collection.mutable.ArrayBuffer.empty[SessOut]
    sorted.foreach { e =>
      if (curN == 0L) {
        curStart = e.us; curEnd = e.us; curN = 1L
      } else if (e.us - curEnd > SessionGapUs) {
        res += SessOut(key, sess, curN, curStart, curEnd, curEnd - curStart)
        sess += 1
        curStart = e.us; curEnd = e.us; curN = 1L
      } else {
        curStart = math.min(curStart, e.us)
        curEnd = math.max(curEnd, e.us)
        curN += 1
      }
    }
    res += SessOut(key, sess, curN, curStart, curEnd, curEnd - curStart)
    state.update(SessState(sess, curStart, curEnd, curN))
    res.iterator
  }

  /** s3: sessionization via flatMapGroupsWithState — the custom-state
    * streaming surface (KeyValueGroupedDataset, GroupState). Session
    * rows are per-batch snapshots resolved last-wins (see
    * [[sessionize]]); the read-back view applies that resolution, which
    * is the identity on a single-batch drain. Oracle = the b6 batch SQL.
    * Cross-batch continuation (a session straddling micro-batches) is
    * pinned in StreamingSpec with a two-batch MemoryStream.
    */
  def s3_streamSessionize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val evs = eventStream(spark, d)
      // a record without a user or a clock cannot belong to any session;
      // dropping it here is the semantic choice — and the mechanical
      // necessity: SessEv's primitive Long fields NPE on encode otherwise
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .as[SessEv]
    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionize)
      .toDF()
    // last-snapshot-wins per (user, sess): a continued session's latest
    // snapshot supersedes earlier ones (identity on a one-batch drain).
    // max(struct(end_us, n_events, ...)) is the lexicographic latest —
    // a map-side-combining aggregate, cheaper than a row_number window
    // (no per-partition sort of all snapshots).
    arrivalLog(spark, "s3", d, sessions)()
      .groupBy(col("user_id"), col("sess"))
      .agg(max(struct(col("end_us"), col("n_events"), col("start_us"))).as("s"))
      .select(col("user_id"), col("sess"), col("s.n_events").as("n_events"),
        col("s.start_us").as("start_us"), col("s.end_us").as("end_us"),
        (col("s.end_us") - col("s.start_us")).as("dur_us"))
      .orderBy(col("user_id"), col("sess"))
  }

  /** s4: stream-static join — the streaming feature-enrichment shape:
    * the event stream joins the static customer dimension (broadcast per
    * micro-batch, no stream state for the join itself) and feeds a
    * running per-segment aggregate, drained with AvailableNow.
    *
    * Complete output mode is correct HERE because the group key is the
    * market segment — a small, bounded domain, so both the aggregation
    * state and the per-batch rewritten output are O(segments). For an
    * unbounded key (per-user running features) the same query would
    * use update mode + a sink upsert, like s2's append/watermark
    * pattern.
    */
  def s4_streamJoin(spark: SparkSession, d: String): DataFrame = {
    val (out, chk) = sinkDirs("s4", d)
    val cust = Tables.customer(spark, d).select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(spark, d)
      .withColumn("cents", graft.ops.Tables.cents)
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("cents_sum"))
    drain(spark, "s4", chk, agg.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      })
    readSink(spark, out, agg.schema).select(
      col("c_mktsegment"), col("cnt"),
      (col("cents_sum") / 100.0).as("vsum"))
      .orderBy(col("c_mktsegment"))
  }

  /** s5: stream-stream interval join — the streaming attribution shape:
    * the purchase stream joins the view stream of the SAME user within
    * the preceding hour (watermarks on both sides + an event-time range
    * condition), append mode, AvailableNow drain.
    *
    * This is the one join kind where BOTH inputs are unbounded, so the
    * state story is the whole design: each side buffers rows only until
    * the other side's watermark passes the end of the join window
    * (here: a view can stop waiting for purchases one hour + delay
    * after its event time) — state is O(rows per watermark horizon),
    * never O(stream). The range condition is written on the event-time
    * columns themselves so Spark derives that state-eviction bound; a
    * condition on derived epoch integers would join identically but
    * buffer forever. Oracle = the batch interval join (all µs-domain
    * comparisons: both engines truncate the fixture's ns clock to µs
    * identically).
    *
    * An inner join emits a pair when its second row arrives; the
    * watermark only evicts buffered rows. So the drain runs without
    * Spark's trailing no-data batch ([[drain]]'s `noDataBatches`): one
    * micro-batch per drain. Eviction happens in the next data batch
    * instead, so a finished drain's checkpoint still holds its last
    * batch's rows, which a one-shot drain never reads again.
    */
  def s5_streamStreamJoin(spark: SparkSession, d: String): DataFrame = {
    // a row without a key or a clock can never satisfy the equi+range
    // condition; dropping it at the source keeps the watermark total
    // over dirty logs (a null event time would abort the stateful op)
    def side(tag: String, typ: String) =
      eventStream(spark, d)
        .filter(col("event_type") === typ && col("user_id").isNotNull &&
          col("ts").isNotNull && col("event_id").isNotNull)
        .select(col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"),
          col("event_id").as(s"${tag}_id"))
        .withWatermark(s"${tag}_ts", "10 minutes")
    val joined = side("p", "purchase").join(side("v", "view"),
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"),
        col("p_id").as("purchase_id"), col("v_id").as("view_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
    arrivalLog(spark, "s5", d, joined, noDataBatches = false)()
      .orderBy(col("purchase_id"), col("view_id"))
  }

  /** s6: streaming dedup within the watermark horizon — the
    * exactly-once-from-at-least-once operator every 100 TB ingest needs
    * in front of it (Kafka redelivery, producer retries, replayed
    * batches). The at-least-once source is modeled honestly: TWO
    * streams over the same log unioned, so every event arrives twice;
    * `dropDuplicatesWithinWatermark` keeps one arrival per record and
    * evicts each key's state once the watermark passes it — state is
    * O(keys per horizon), never O(stream), which is the whole
    * difference from a batch `dropDuplicates` at this scale.
    *
    * Identity is the FULL projected record, not event_id alone: a
    * redelivery is byte-identical, so it still collapses, while two
    * DISTINCT records that happen to collide on event_id (a dirty-log
    * shape the gate fixtures don't contain but real logs do) both
    * survive — under an id-only key the winner would be whichever
    * copy arrived first, i.e. nondeterministic and oracle-divergent.
    * Oracle: SELECT DISTINCT of the same projection.
    *
    * A record's first arrival is emitted at once; the watermark only
    * evicts its key. So the drain runs without Spark's trailing no-data
    * batch ([[drain]]'s `noDataBatches`): one micro-batch per drain.
    * Keys are evicted by the next data batch instead, so a finished
    * drain's checkpoint still holds its last batch's keys, which a
    * one-shot drain never reads again.
    */
  def s6_streamDedup(spark: SparkSession, d: String): DataFrame = {
    val once = eventStream(spark, d).unionByName(eventStream(spark, d))
      // state is evicted by event time and the id anchors the record:
      // a record carrying neither can't be deduplicated, only dropped
      .filter(col("event_id").isNotNull && col("ts").isNotNull)
      .select(col("ts"), col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        graft.ops.Tables.cents.as("cents"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(
        "event_id", "user_id", "event_type", "us", "cents")
      .drop("ts")
    arrivalLog(spark, "s6", d, once, noDataBatches = false)()
      .orderBy(col("event_id"))
  }

  /** s7: streaming dead-letter split — the a18 quarantine as a side
    * output of the live pipeline: every micro-batch is written ONCE to
    * two sinks (valid envelopes to the dwd area, rejects labeled with
    * their missing-field reason to the dead-letter area), the
    * production shape where invalid records are not lost mid-stream
    * but parked for replay. The micro-batch is persisted so the two
    * filtered writes share one pass, and both sinks are batchId-keyed
    * overwrites — replay-idempotent like s1.
    *
    * Returns the dead-letter side (that's the query under test; the
    * valid side equals a7 and is pinned in StreamingSpec). Oracle: the
    * batch a18 SQL.
    */
  def s7_streamQuarantine(spark: SparkSession, d: String): DataFrame = {
    val (out, chk, base) = sinkDirsWithBase("s7", d)
    val labeled = Ingest.envelopeOf(eventStream(spark, d),
      Ingest.rejectReason.as("reject_reason"))
    drain(spark, "s7", chk, labeled.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        batch.persist()
        try {
          batch.filter(col("reject_reason") === "").drop("reject_reason")
            .write.mode("overwrite").parquet(s"$out/valid/bid=$bid")
          batch.filter(col("reject_reason") =!= "")
            .write.mode("overwrite").parquet(s"$out/dead/bid=$bid")
        } finally batch.unpersist()
      })
    recordDrain("s7", d, base)
    // explicit projection drops the sink's `bid=` partition column
    readSink(spark, s"$out/dead", labeled.schema)
      .select(labeled.schema.fieldNames.map(col): _*)
      .orderBy(col("EventID").cast("long"))
  }

  /** s8: STREAMING sketch rollup — x_hll_rollup's streaming twin, the
    * daily-sketch job a lake actually schedules: each micro-batch
    * reduces to per-(event_type, day) HLL sketches of its user ids
    * (`hll_sketch_agg` inside foreachBatch — KB-sized binaries, the
    * only thing the sink ever stores), and the final estimate merges
    * ALL materialized sketches with `hll_union_agg`. HLL merge is a
    * per-register max — associative, commutative, idempotent — so the
    * merged registers are IDENTICAL to the batch job's no matter how
    * the log was cut into micro-batches; `merge ≡ batch x_hll_rollup`
    * is pinned EXACTLY in StreamingSpec (rows-only in the driver gate,
    * like its batch twin: sketch binaries are engine-specific).
    *
    * Scale (100 TB): this is the incremental form of the
    * pre-aggregation argument (Features.scala x_hllRollup) — the
    * stream pays one map-side-combinable shuffle of sketch buffers per
    * micro-batch, the sketch table grows by KB rows per (type, day,
    * batch), and every later rollup reads THAT, never the log. A
    * replayed batch overwrites its own `bid=` directory
    * ([[arrivalLog]]), and re-unioning a replayed sketch would be
    * absorbed by idempotent register max anyway.
    */
  def s8_streamHllRollup(spark: SparkSession, d: String): DataFrame = {
    // same projection + null posture as the batch twin's daily grain
    // (Features.dailyUserSketches): only a missing user id drops a row
    val ev = eventStream(spark, d)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    arrivalLog(spark, "s8", d, ev)(_.groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk")))
      .groupBy(col("event_type"))
      .agg(round(hll_sketch_estimate(hll_union_agg(col("sk")))).cast("long")
        .as("approx_users"))
      .orderBy(col("event_type"))
  }

  /** s9: c23's language classifier as a streaming job — the
    * classify-on-arrival shape of corpus curation: documents stream in
    * from the file source, every micro-batch is scored by the SAME
    * per-row marker machinery as the batch query
    * ([[graft.ops.TextOps.langIdOf]] — stateless pure maps, so append
    * mode needs no watermark and holds no state), sunk
    * replay-idempotently ([[arrivalLog]]), and read back ordered.
    * Stream ≡ batch exactly — shared transform, deterministic per-row
    * work, no aggregation to re-order — so s9 carries c23's DuckDB
    * oracle VERBATIM and is driver-hash-checked:
    * the stream/batch parity contract, the property that lets a lake
    * run ONE classifier implementation in both its backfill and its
    * arrival paths.
    */
  def s9_streamLangId(spark: SparkSession, d: String): DataFrame =
    arrivalLog(spark, "s9", d,
        graft.ops.TextOps.langIdOf(stagedFileStream(spark, d, "documents")))()
      .orderBy(col("doc_id"))

  /** s11: the quality gate ON ARRIVAL — c30's streaming twin, the
    * gate-on-ingest shape of corpus curation: documents stream in from
    * the file source, every micro-batch walks the SAME verdict ladder
    * as the batch query ([[graft.ops.TextQuality.gateRows]] — stateless
    * pure per-row maps, so append mode needs no watermark and holds no
    * state), is sunk replay-idempotently ([[arrivalLog]]), and read
    * back ordered. Stream ≡ batch exactly — shared
    * transform, deterministic per-row work, no aggregation to re-order
    * — so s11 carries c30's DuckDB oracle VERBATIM and is
    * driver-hash-checked (the s9/s10 stream/batch-parity contract): a
    * lake runs ONE gate implementation in both its backfill and its
    * arrival paths, and a doc's verdict cannot depend on which path
    * scored it.
    */
  def s11_streamQualityGate(spark: SparkSession, d: String): DataFrame =
    arrivalLog(spark, "s11", d,
        graft.ops.TextQuality.gateRows(stagedFileStream(spark, d, "documents")))()
      .orderBy(col("doc_id"))

  /** s13: the curation funnel as a LIVE rollup — c32's streaming twin,
    * and the exact-counter strengthening of s8's sketch pattern: every
    * micro-batch reduces its documents to (source, reason) partial
    * censuses (counts + token/char sums — KB per batch, never
    * documents), sinks them batchId-keyed, and the read-back re-agg
    * merges the partials. BIGINT count/sum partials merge EXACTLY and
    * every document lands in exactly one micro-batch, so
    * merge-of-partials ≡ the batch census however the file source cuts
    * the corpus — unlike s8 (whose HLL merge is only
    * estimator-identical, rows-only), s13 carries c32's DuckDB oracle
    * VERBATIM and is driver-hash-checked. This is the monitoring shape
    * of curation: the funnel an operator watches DURING ingest, not
    * after the backfill.
    */
  def s13_streamFunnel(spark: SparkSession, d: String): DataFrame = {
    val verdicts = graft.ops.TextQuality
      .gateVerdictOf(stagedFileStream(spark, d, "documents"))
    arrivalLog(spark, "s13", d, verdicts)(_.groupBy(col("source"), col("reason"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tok_sum"),
          sum(col("n_char")).as("char_sum")))
      .groupBy(col("source"), col("reason"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("tok_sum")).as("tok_sum"),
        sum(col("char_sum")).as("char_sum"))
      .orderBy(col("source"), col("reason"))
  }

  /** s12: the PII scrub ON ARRIVAL — c31's streaming twin, completing
    * the arrival-path ladder (classify s9, audit s10, gate s11, scrub
    * s12: every per-row curation stage this engine ships now has an
    * ingest form): documents stream in and every micro-batch runs the
    * SAME four-pattern count + chained-redact projection as the batch
    * query ([[graft.ops.TextQuality.piiOf]] — stateless pure regexp
    * maps, no watermark, no state), sunk replay-idempotently and read
    * back ordered. Stream ≡ batch exactly, so s12 carries c31's DuckDB
    * oracle VERBATIM and is driver-hash-checked — a document's
    * redaction cannot depend on which path scrubbed it.
    */
  def s12_streamPii(spark: SparkSession, d: String): DataFrame =
    arrivalLog(spark, "s12", d,
        graft.ops.TextQuality.piiOf(stagedFileStream(spark, d, "documents")))()
      .orderBy(col("doc_id"))

  /** s10: the contamination audit ON ARRIVAL — c27's streaming twin,
    * and the reference's whole program shape (classify each record as
    * it is consumed, ConsumerMultiThread.java:101-155) applied to the
    * north-star decontamination operator: training documents stream
    * in, every micro-batch is fingerprinted by the SAME winnow kernel
    * as the batch audit and probed against the BROADCAST eval posting
    * list, flagged containments are sunk replay-idempotently
    * ([[arrivalLog]]).
    *
    * The eval probe set, the per-eval-doc cardinality census, and the
    * train-df keep census all come from the MATERIALIZED posting
    * index (x_contain_from_postings' machinery) built before the
    * stream starts — in production that is the standing index the
    * daily ingest maintains anyway (x_neardup_incremental), so the
    * stream holds NO state of its own: per-row fingerprinting plus a
    * per-batch broadcast join, and since a document's fingerprints
    * all live in its one row, each (eval, train) pair is complete
    * within the batch that carries the train doc. Stream ≡ batch
    * exactly — s10 carries c27's DuckDB oracle VERBATIM and is
    * driver-hash-checked (the s9 stream/batch-parity contract, row
    * for row in StreamingSpec).
    *
    * Scale (100 TB): the arrival path pays per-document map work plus
    * a broadcast probe — no shuffle of train fingerprints at all
    * (c27's broadcast argument, per micro-batch); state is zero, so
    * an unbounded source needs no watermark for this audit.
    */
  def s10_streamContamination(spark: SparkSession, d: String): DataFrame = {
    import graft.ops.TextOps
    // the standing index: built once, consumed by every audit
    val dir = Tables.scratchDir("s10_postings", d)
    TextOps.winnowFps(Tables.documents(spark, d), keep = Seq("source"))
      .write.mode("overwrite").parquet(s"$dir/postings.parquet")
    val fps = Tables.parquet(spark, s"$dir/postings.parquet")
    val ev = fps.filter(col("source") === TextOps.EvalSource)
      .select(col("doc_id").as("eval_id"), col("fp"))
    val card = ev.groupBy(col("eval_id").as("c_id"))
      .agg(count(lit(1)).as("n_eval_fp"))
    val keepFp = fps
      .filter(col("source").isNotNull && col("source") =!= TextOps.EvalSource)
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= TextOps.WinnowDfCap).select(col("fp"))
    // classify-on-arrival: the winnow kernel runs IN the streaming
    // plan, per arriving train document (pure per-row work)
    val trainFps = TextOps.winnowFps(
      stagedFileStream(spark, d, "documents")
        .filter(col("source").isNotNull && col("source") =!= TextOps.EvalSource))
      .select(col("doc_id").as("train_id"), col("fp"))
    arrivalLog(spark, "s10", d, trainFps)(_
        .join(keepFp, "fp")
        .join(broadcast(ev), Seq("fp"))
        .groupBy(col("eval_id"), col("train_id")).agg(count(lit(1)).as("n_shared"))
        .join(broadcast(card), col("c_id") === col("eval_id"))
        .withColumn("frac_e6", expr("n_shared * 1000000 DIV n_eval_fp"))
        .filter(col("frac_e6") >= TextOps.ContainFracE6)
        .select(col("eval_id"), col("train_id"), col("n_shared"),
          col("n_eval_fp"), col("frac_e6")))
      .orderBy(col("eval_id"), col("train_id"))
  }

  /** s14: near-dup dedup ON ARRIVAL — x_neardup_incremental's
    * streaming twin, the last batch lifecycle without an arrival form:
    * delta documents stream in (the `doc_id > mid` shard, same
    * epoch-boundary census as the batch op), every micro-batch is
    * fingerprinted by the SAME winnow kernel in the streaming plan
    * (s10's shape — pure per-row work, no state held by the stream
    * itself), paired against the standing index AS OF its arrival
    * (base postings ∪ previously-arrived epochs, through
    * [[graft.ops.TextOps.neardupPairTail]], the batch op's own tail),
    * and sunk batchId-keyed. Its sink is its own, not [[arrivalLog]]:
    * each batch writes its epoch and reads it back before it pairs.
    *
    * The index fold is REPLAY-IDEMPOTENT by construction: each batch's
    * postings land in their own `epochs/bid=N` partition (overwrite),
    * and the standing-index view a batch pairs against is `base ∪
    * epochs[bid < N]` — a replayed batch rewrites its own partition
    * and recomputes against exactly the same prior state, unlike a
    * mutable append (the production analog: table-format transactional
    * appends keyed by epoch). `maxFilesPerTrigger = 1` makes a
    * multi-file corpus arrive file-by-file, so the per-batch fold is
    * exercised for real — and the union of per-batch outputs TILES the
    * one-shot ingest exactly (neardupIndexAppend's tiling lemma: every
    * pair lands in the batch of its later-arriving doc, df censuses
    * only grow), so s14 carries x_neardup_incremental's restricted-c25
    * oracle VERBATIM and is driver-hash-checked; StreamingSpec pins
    * the multi-batch tiling against the one-shot output row for row.
    *
    * Per-batch cost is DELTA-proportional (round-15 verdict №1: the
    * first form of this query full_outer-joined the WHOLE standing df
    * census and re-aggregated ALL prior epochs every micro-batch —
    * O(B·index + B²·delta) census work per drain, 86 s for a 32-batch
    * drain whose one-shot twin took 4.5 s). The pair stage only ever
    * consumes index rows whose fp appears in the CURRENT batch, so the
    * standing scan is semi-joined against the batch's broadcastable fp
    * set and everything downstream is the group-local pair tail every
    * near-dup ingest shares: one pair job per trigger, two delta-sized
    * exchanges, no census table read. (Its first form, a join cascade
    * through the df censuses, paid a nested broadcast chain per batch —
    * 86 s for a 32-batch drain in round 15. Folding a merged census
    * forward per batch was rejected too: it would WRITE an index-sized
    * table every micro-batch — the periodic fold belongs to
    * compaction.)
    *
    * Scale (100 TB): the arrival path pays delta fingerprinting (pure
    * map) + the delta-proportional pair join (Bloom-gated index scan,
    * the batch op's economics) per batch; epoch state is slim posting
    * rows, never text. A day's worth of micro-batches leaves exactly
    * the posting layout the next day's batch ingest consumes. The
    * standing index itself is memoized per dataset ([[Tables.memoDir]]
    * — in production it exists from past ingests; rebuilding it per
    * invocation double-counted build cost in BENCH, verdict №6), while
    * epochs live under the per-invocation sink allocation, so drains
    * never see a previous drain's arrivals.
    */
  def s14_streamNeardup(spark: SparkSession, d: String): DataFrame = {
    import graft.ops.TextOps
    // empty corpus: no boundary, no pairs — first-run totality
    val (lo, hi) = Tables.idBounds(spark, d, "documents", "doc_id")
      .getOrElse(return TextOps.noPairs(spark))
    val mid = lo + (hi - lo) / 2
    val (out, chk, base) = sinkDirsWithBase("s14", d)
    // the standing index: built once per dataset (memoized), consumed
    // by every drain — the production precondition, not per-drain work
    val dir = Tables.memoDir("s14_index", d) { p =>
      TextOps.neardupIndexBuild(spark, d, p, mid)
    }
    val epochs = s"$base/epochs"
    val deltaFps = TextOps.winnowFps(
      stagedFileStream(spark, d, "documents", maxFilesPerTrigger = Some(1))
        .filter(col("doc_id") > mid))
    // the pair plans run in their OWN session, ONE per drain (isolated
    // conf — no races with concurrent queries on the shared session;
    // reused across triggers so file-listing caches stay warm): AQE's
    // stage-per-exchange re-planning is a driver round-trip per
    // exchange, which for a micro-batch-sized plan is pure fixed
    // overhead (measured: ~16 jobs/batch, the bulk of the round-15
    // 86 s drain); a micro-batch's exchanges are delta-sized by the
    // semi-join construction, so a small fixed partition count
    // replaces what AQE's coalescing would compute — production sizes
    // this once per stream from expected batch volume.
    val sp = spark.newSession()
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    sp.conf.set("spark.sql.shuffle.partitions", "8")
    // a new session does not inherit runtime confs: without this its
    // pair plans would recompile on every drain (see [[drain]])
    sp.conf.set("spark.sql.artifact.isolation.enabled", "false")
    // the standing STOP LIST (TextOps.neardupStopList), materialized
    // once per drain — none when the census footer proves no fp over
    // the cap. This is the skip-list a production index ships next to
    // its census. Applied as a broadcast ANTI-join against the census
    // slice, NOT a collected `isin` literal: the literal compiled an
    // In expression tree linear in the list size into EVERY per-batch
    // plan, and nothing enforced the KB-scale assumption on a
    // boilerplate-heavy corpus (round-16 ADVICE). localCheckpoint pins
    // the slice to RDD blocks so per-batch plans re-broadcast KB of
    // driver-free state instead of re-scanning the census parquet
    // each trigger.
    val stop = TextOps.neardupStopList(sp, dir).map(_.localCheckpoint()).filterNot(_.isEmpty)
    drain(spark, "s14", chk, deltaFps.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // 1. epoch-keyed postings write (overwrite ⇒ replay-idempotent)
        batch.write.mode("overwrite").parquet(s"$epochs/bid=$bid")
        val batchFps0 = Tables.parquet(sp, s"$epochs/bid=$bid")
        val batchFps = stop.fold(batchFps0)(st =>
          batchFps0.join(broadcast(st), Seq("fp"), "left_anti"))
        // the batch's fingerprint set: delta-sized by construction,
        // broadcast — the semi-join that keeps the standing-index scan
        // delta-matched (round-15 verdict: the unpruned form did
        // O(B·index + B²·delta) census work per drain).
        // NOT distinct'd: a semi-join ignores right-side duplicates, and
        // the distinct would cost an extra exchange inside every
        // broadcast build — pure per-batch overhead
        val fps = broadcast(batchFps.select(col("fp")))
        // 2. the standing index as of this batch: base ∪ prior epochs
        //    (partition discovery yields the bid column; a replayed
        //    batch's own partition is excluded by the strict <),
        //    pruned to the batch's fps ONCE — the pair tail
        //    derives each fp's df_old from this scan's row counts, so
        //    the standing df census is never read per batch at all
        val prior = Tables.parquet(sp, epochs).filter(col("bid") < bid)
          .select(col("doc_id"), col("fp"))
        val oldPruned = Tables.parquet(sp, s"$dir/postings.parquet")
          .unionByName(prior)
          .join(fps, Seq("fp"), "left_semi")
        // 3. the group-local pair tail (one job, two delta-sized
        //    exchanges — see its scaladoc), batchId-keyed sink
        TextOps.neardupPairTail(batchFps, oldPruned)
          .write.mode("overwrite").parquet(s"$out/bid=$bid")
      })
    val schema = TextOps.noPairs(spark).schema
    readSink(spark, out, schema)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** s15: the posting-index BUILD on arrival — c24's streaming twin,
    * and s14's other half: s14 audits an arriving shard against the
    * standing index; s15 is how the standing index comes to exist in
    * an arrival-only deployment (fingerprint every document as it
    * lands, sink the posting rows). Pure per-row work — the winnow
    * kernel in the streaming plan, no state, no watermark — so stream
    * ≡ batch exactly and s15 carries c24's DuckDB oracle VERBATIM
    * (the s9 parity contract); the sink is [[arrivalLog]]. At 100 TB
    * the sink IS the posting index: slim (doc_id, fp) rows, appendable
    * by epoch, consumed by x_neardup_bucketed / x_contain_from_postings
    * / s14 without ever re-reading text.
    */
  def s15_streamFingerprint(spark: SparkSession, d: String): DataFrame =
    arrivalLog(spark, "s15", d,
        graft.ops.TextOps.winnowFps(stagedFileStream(spark, d, "documents")))()
      .orderBy(col("doc_id"), col("fp"))

  /** s16: bigram-LM fluency scoring ON ARRIVAL — c35's streaming twin,
    * completing the arrival ladder's quality stage (classify s9, audit
    * s10, gate s11, scrub s12, funnel s13, dedup s14, fingerprint s15,
    * score s16): the LM — c35's (w1,w2)→n12 and w1→n1 censuses — is
    * materialized ONCE before the stream starts (in production the
    * standing model a training run ships), and every arriving document
    * explodes its bigrams, equi-joins the standing tables, and reduces
    * to its own (n_bi, bits_sum, avg_bits_e6) row inside its
    * micro-batch — a document's score depends only on its row + the
    * standing LM, so stream ≡ batch exactly and s16 carries c35's
    * DuckDB oracle VERBATIM (the s9 parity contract); the sink is
    * [[arrivalLog]].
    *
    * Scale (100 TB): per batch, map work + two equi-joins against the
    * slim standing tables (bucket sizes bounded by bigram
    * frequencies); the stream holds NO state — the LM lives in the
    * tables, exactly where the batch path keeps it.
    */
  def s16_streamLmScore(spark: SparkSession, d: String): DataFrame = {
    import graft.ops.CorpusOps
    // the standing LM: c35's censuses (the SAME bigramsOf projection —
    // the twin carries c35's oracle, so the shapes share one body),
    // materialized ONCE per dataset (memoized — in production it is
    // the model a training run ships, not per-drain work; rebuilding
    // it per invocation double-counted build cost in BENCH, round-15
    // verdict №6)
    val dir = Tables.memoDir("s16_lm", d) { p =>
      CorpusOps.bigramCensusOf(Tables.documents(spark, d))
        .write.mode("overwrite").parquet(s"$p/counts.parquet")
      Tables.parquet(spark, s"$p/counts.parquet")
        .groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
        .write.mode("overwrite").parquet(s"$p/heads.parquet")
    }
    val counts = Tables.parquet(spark, s"$dir/counts.parquet")
    val heads = Tables.parquet(spark, s"$dir/heads.parquet")
    // score-on-arrival: per-row bigram explode in the streaming plan
    val arriving = CorpusOps.bigramsOf(stagedFileStream(spark, d, "documents"))
    arrivalLog(spark, "s16", d, arriving)(CorpusOps.lmScoreOf(_, counts, heads))
      .orderBy(col("doc_id"))
  }

  /** s17: HELD-OUT LM scoring on arrival — x_lm_heldout's streaming
    * twin, and the arrival ladder's most production-shaped rung: the
    * standing LM was trained on a PAST epoch (the
    * [[graft.ops.CorpusOps.LmTrainSource]] shard), and every arriving
    * document — which the model has never seen — scores against it
    * through the left-join + OOV-fallback tail, unseen transitions
    * costing `length(bin(n_tot))` bits. This is where s16's
    * self-score contract becomes the real gate: s16 scores the corpus
    * the LM trained on (no OOV by construction); s17 scores novel
    * text, and the fixture takes the fallback branch on ~every doc. A
    * document's score depends only on its row + the standing tables,
    * so stream ≡ batch exactly and s17 carries x_lm_heldout's DuckDB
    * oracle VERBATIM (the s9 parity contract); the sink is
    * [[arrivalLog]].
    *
    * Scale (100 TB): per batch, map work + two equi-joins against the
    * slim standing LM + the 1-row total broadcast; the stream holds NO
    * state. The LM is the one memoized train-shard model
    * ([[graft.ops.CorpusOps.standingTrainLmDir]]) that s18 and the batch
    * LM rungs also read — in production, the artifact a past training
    * run shipped.
    */
  def s17_streamLmHeldout(spark: SparkSession, d: String): DataFrame = {
    import graft.ops.CorpusOps
    val dir = CorpusOps.standingTrainLmDir(spark, d)
    val counts = Tables.parquet(spark, s"$dir/counts.parquet")
    val heads = Tables.parquet(spark, s"$dir/heads.parquet")
    // the model's total mass, collected once per drain (the s14
    // stop-list pattern), not re-aggregated in every micro-batch plan
    val tot = CorpusOps.lmTotalOf(heads, "n1")
    // score-on-arrival: only the post-epoch shards stream in
    val arriving = CorpusOps.bigramsOf(
      stagedFileStream(spark, d, "documents")
        .filter(!(col("source") <=> lit(CorpusOps.LmTrainSource))))
    arrivalLog(spark, "s17", d, arriving)(CorpusOps.lmHeldoutScoreOf(_, counts, heads, tot))
      .orderBy(col("doc_id"))
  }

  /** s18: the LM UPDATE fold on arrival — x_lm_update's streaming twin
    * and the arrival ladder's maintenance rung (build s15, audit s14,
    * score s16/s17, now FOLD s18): the standing LM was trained on a
    * past epoch; as new epochs arrive, each micro-batch's bigram
    * census lands in its own `bid=N` overwrite partition
    * ([[arrivalLog]] — a replayed batch rewrites exactly its own
    * partial), and the current LM at any point is
    * `base ⊕ Σ epochs`. Census ADDITIVITY is the tiling lemma here:
    * however the file source cuts the arriving shards into batches,
    * the folded counts equal the one-shot retrain's EXACTLY — so
    * scoring the corpus through the post-drain LM is byte-equal to
    * c35 and s18 carries c35's DuckDB oracle VERBATIM
    * (driver-hash-checked; StreamingSpec pins a forced multi-batch
    * arrival row-for-row).
    *
    * Scale (100 TB): per batch, a map + one map-side-combinable reduce
    * over the DELTA — the stream holds NO state and never re-reads the
    * base corpus or the standing artifact; the consume-time merge
    * aggregates vocabulary-sized partials. Epoch partials accumulate
    * like s14's posting epochs and fold away on the same maintenance
    * cadence (compact partials into the base artifact every K epochs —
    * x_lm_update's fold IS that compaction).
    */
  def s18_streamLmUpdate(spark: SparkSession, d: String): DataFrame = {
    import graft.ops.CorpusOps
    val lmDir = CorpusOps.standingTrainLmDir(spark, d)
    // arrival: the post-epoch shards, bigram-exploded IN the stream
    // plan; maxFilesPerTrigger=1 makes a multi-file corpus arrive
    // file-by-file (the s14 convention) so the per-batch census fold
    // and the bid=N replay layout are exercised for real — without it
    // AvailableNow would swallow every file into one batch and the
    // multi-partial merge would never run under test
    val arriving = CorpusOps.bigramsOf(
      stagedFileStream(spark, d, "documents", maxFilesPerTrigger = Some(1))
        .filter(!(col("source") <=> lit(CorpusOps.LmTrainSource))))
    // the post-drain LM: base artifact ⊕ arrived partials (additivity);
    // the checkpoint keeps the scoring plan at c35's census shape
    val merged = Tables.parquet(spark, s"$lmDir/counts.parquet")
      .unionByName(arrivalLog(spark, "s18", d, arriving)(
        _.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))))
    val counts = merged.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n12")).as("n12")).localCheckpoint()
    val heads = counts.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    CorpusOps.lmScoreOf(
        CorpusOps.bigramsOf(Tables.documents(spark, d)), counts, heads)
      .orderBy(col("doc_id"))
  }

  /** s19: the COMPOSED corpus build ON ARRIVAL — c16's streaming twin,
    * the query a production ingest actually runs per batch (every
    * STAGE of curation had an arrival form, s9-s18; this is the
    * composition: exact dedup → near-dup drop → quality gate →
    * packing). The arrival path extracts the slim per-document state
    * each stage needs, touching document TEXT exactly once, in the
    * micro-batch that delivered it:
    *
    *   - the sized+digest columns ([[graft.ops.CorpusOps.sizedDigest]]
    *     — the dedup keep key, the token gate's count, the packer's
    *     order key), and
    *   - the doc's distinct shingle-hash array with its cardinality
    *     ([[graft.ops.TextOps.docShinglesCol]] — c2's state, computed
    *     ROW-LOCALLY so the streaming plan holds no exchange at all),
    *
    * together in ONE projection ([[graft.ops.CorpusOps
    * .corpusArrivalState]] — one row per doc, one write job per
    * trigger) sunk into a `bid=N` overwrite partition
    * ([[arrivalLog]]). The manifest CUT then runs at
    * drain close over arrived state only — and that placement is
    * SEMANTIC, not convenience: under c16's contract every resolution
    * is retroactive under late arrivals (a later doc with a smaller
    * id displaces its digest group's keeper; a later pair can merge
    * two clusters and un-canonicalize a doc; a later doc's md5 order
    * key can insert it BEFORE already-packed docs and shift every
    * downstream offset), so no per-batch final manifest exists — the
    * production cadence is exactly this: extract on arrival, cut the
    * manifest at epoch close. Both stages share c16's own bodies
    * (capBand → jaccardPairsOf → clustersOf → manifestFrom), so the
    * drain output is byte-equal to the batch pipeline however the
    * file source tiles the corpus into batches (per-doc rows land
    * whole in one batch; every downstream reduce is over the union),
    * and s19 carries c16's DuckDB oracle VERBATIM
    * (driver-hash-checked; StreamingSpec pins a forced multi-batch
    * arrival row-for-row).
    *
    * Scale (100 TB): per batch, ONE pure per-row projection over the
    * delta — no joins, no aggs, no caching, no state in the stream;
    * the close-time cut consumes slim state rows (sized columns + the
    * shingle array), never text, with c16's own economics
    * (map-side-combined digest agg, df-banded pair join, label-state
    * CC, one pack shuffle).
    */
  def s19_streamCorpusPipeline(spark: SparkSession, d: String): DataFrame =
    s19At(spark, d, maxFilesPerTrigger = None)

  /** s27: the MIXTURE's arrival form — the s19 cadence for the
    * temperature-balanced sample: each arriving batch is sized ONCE
    * (doc_id, source, n_tok, order_key — one text-touch per document,
    * the same per-row projection c36 starts from) into its
    * [[arrivalLog]], and the cut runs at drain close
    * over the union through [[graft.ops.CorpusOps.mixtureCut]] — c36's
    * own body. Close placement is semantic, not just cheap: budgets
    * derive from the FULL per-source masses, and the md5 prefix is
    * retroactive (a later-arriving smaller-key doc displaces the
    * boundary), so a per-batch cut would ship manifests the next batch
    * invalidates. Sizing is a pure per-row function, so the union of
    * batch states ≡ sizing the whole corpus — s27 is byte-equal to
    * c36 however batches tile and carries its oracle VERBATIM,
    * hash-checked (StreamingSpec pins single- and forced multi-batch
    * drains row-for-row).
    *
    * Scale (100 TB): per batch one slim sized-projection write (text
    * read once, on arrival); at close one mass census + one windowed
    * cut over ~50 B/doc state — text is never re-read at close.
    */
  def s27_streamMixture(spark: SparkSession, d: String): DataFrame =
    s27At(spark, d, maxFilesPerTrigger = None)

  private[graft] def s27At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.CorpusOps
    val arriving = stagedFileStream(spark, d, "documents", maxFilesPerTrigger)
    CorpusOps.mixtureManifest(CorpusOps.mixtureCut(spark,
      arrivalLog(spark, "s27", d, arriving)(
        CorpusOps.sizeDocs(_).filter(col("source").isNotNull))))
  }

  /** The trigger-cadence-parameterized form: the registered query
    * drains with AvailableNow's natural batching — the extraction is
    * STATELESS per row, so batch size is semantics-free and forcing
    * 1-file triggers would only multiply the per-trigger floor (32×
    * at the decade layout's file count) for no semantic coverage; the
    * tiling spec passes Some(1) HERE to force a genuinely multi-batch
    * drain and pin that the cut is batch-tiling-invariant.
    */
  private[graft] def s19At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.CorpusOps
    val arriving = stagedFileStream(spark, d, "documents", maxFilesPerTrigger)
    // ONE projection computes the whole per-document state, so the
    // batch's text is read once and the trigger pays one write job
    CorpusOps.corpusCutFrame(
      arrivalLog(spark, "s19", d, arriving)(CorpusOps.corpusArrivalState))
  }

  /** x_corpus_epochs: the MULTI-EPOCH corpus lifecycle — s19's state
    * sink extended ACROSS drains, the production cadence s19's
    * scaladoc argues about but exercises within one drain only
    * (round-17 verdict): epoch 1 arrives, drains, and its manifest is
    * CUT AND SHIPPED; epoch 2 arrives into the SAME source dir under
    * the SAME checkpoint (the file source processes only the new
    * files; batch ids continue — replay idempotence unchanged), and
    * the close of drain 2 RE-CUTS the manifest over the UNION of all
    * arrived state. The re-cut is the whole point: c16's resolutions
    * are retroactive (a later-arriving smaller-id duplicate displaces
    * its digest group's keeper; a later pair merges two standing
    * clusters and un-canonicalizes docs; a later order key inserts
    * BEFORE already-packed docs and shifts every downstream offset),
    * so the epoch-1 manifest is a consumable artifact that the
    * epoch-2 cut SUPERSEDES, never patches. Both cuts run through
    * [[graft.ops.CorpusOps.corpusCutFrame]] — c16's own bodies, as
    * s19's does — so the final manifest is
    * byte-equal to the batch pipeline over the full corpus and the
    * query carries c16's DuckDB oracle VERBATIM, hash-checked.
    * StreamingSpec pins the retroactivity with an out-of-ID-order
    * arrival fixture (keeper displacement + cluster merge across the
    * epoch boundary) and pins that BOTH drains extracted (state spans
    * multiple bids).
    *
    * Scale (100 TB): each epoch pays its own delta extraction (one
    * text-touch per doc, in its arrival drain) plus a cut over SLIM
    * state rows — text is never re-scanned at any close; what grows
    * across epochs is only the state the cut must reduce, exactly the
    * batch pipeline's own input scale.
    */
  def x_corpusEpochs(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    // the epoch split: the b32 floor-consistent boundary (null-id rows
    // ride epoch 1, the x_neardup_incremental convention)
    val epochs: Seq[DataFrame] =
      Tables.idBounds(spark, d, "documents", "doc_id").fold(Seq(docs)) { case (lo, hi) =>
        val mid = lo + (hi - lo) / 2
        Seq(docs.filter(col("doc_id").isNull || col("doc_id") <= mid),
          docs.filter(col("doc_id") > mid))
      }
    corpusEpochsOf(spark, d, epochs)._2
  }

  /** The arrival-ordered machinery behind [[x_corpusEpochs]] — epochs
    * given as FRAMES so the retroactivity spec can arrive documents
    * out of id order (a later epoch carrying a smaller-id duplicate /
    * a cluster-merging bridge, the case the id split cannot produce).
    * Returns (sink base, final cut) — the base exposes the per-epoch
    * shipped manifests and the state partitions to tests. Its sink is
    * its own, not [[arrivalLog]]: every drain shares one checkpoint and
    * one state log.
    */
  private[graft] def corpusEpochsOf(spark: SparkSession, d: String,
      epochs: Seq[DataFrame]): (String, DataFrame) = {
    import graft.ops.CorpusOps
    val (_, chk, base) = sinkDirsWithBase("xce", d)
    val state = s"$base/state"
    val arrivals = s"$base/arrivals"
    val schema = Tables.documents(spark, d).schema
    val stateSchema = schemaOf(spark, schema)(CorpusOps.corpusArrivalState)
    epochs.zipWithIndex.foreach { case (ep, i) =>
      // the epoch ARRIVES: new part files land in the watched dir; the
      // checkpoint is shared across drains, so drain i processes only
      // the files that arrived since drain i-1 (bids keep counting —
      // the replay-idempotent bid=N overwrite layout is unchanged)
      ep.write.mode("append").parquet(arrivals)
      drain(spark, "xce", chk, spark.readStream.schema(schema).parquet(arrivals)
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          CorpusOps.corpusArrivalState(batch)
            .write.mode("overwrite").parquet(s"$state/bid=$bid")
        })
      // the epoch CLOSES: cut and ship this epoch's manifest — the
      // artifact consumers read until the next close supersedes it
      CorpusOps.corpusCutFrame(readSink(spark, state, stateSchema)
          .select(stateSchema.fieldNames.map(col).toIndexedSeq: _*))
        .write.mode("overwrite").parquet(s"$base/manifest_e$i.parquet")
    }
    // the registered output is the LAST close's shipped manifest (its
    // pack ordering re-applied — parquet read-back order is free)
    (base, Tables.parquet(spark, s"$base/manifest_e${epochs.size - 1}.parquet")
      .orderBy(col("source"), col("seq_id"), col("offset"), col("doc_id")))
  }

  /** s20: vector-index INGEST on arrival — x_ann_append's streaming
    * twin, giving the vector index the same arrival rung the posting
    * index has in s15/s14 (and completing the family this round's
    * batch work closed: build / append / compact / drift / ARRIVAL):
    * delta vectors stream in (the `vec_id > mid` epoch, the
    * x_neardup_incremental boundary convention), and every micro-batch
    * is assigned cells + PQ codes with the STANDING codebooks — one
    * TopCells + PqAssign map in the batch plan, the model read ONCE
    * per drain as KB driver state (the s17 standing-state lesson), no
    * Lloyd anywhere — each batch's code rows landing in its
    * [[arrivalLog]]. Post-drain, search runs over base ∪ arrived epochs
    * through the SAME ivfPqSearch tail as every batch consumer.
    *
    * Assignment is a deterministic per-row function of (vector,
    * model), so the arrived code rows equal [[graft.ops.VectorOps
    * .annIndexAppend]]'s however the source tiles the delta into
    * batches — s20's search is byte-equal to x_ann_append's (pinned
    * in scalatest, single- and forced multi-batch). Rows-only in the
    * driver gate like the rest of the ANN family.
    *
    * Scale (100 TB): per batch, one pure-map assignment over the
    * delta + one slim write (1 B cell + M B codes per vector — the
    * stream never holds state, never re-reads the base corpus or its
    * codes); the standing index is memoized per dataset and consumed
    * READ-ONLY (epochs live under the drain's own allocation, so no
    * clone is needed — unlike the mutating batch lifecycles).
    */
  def s20_streamAnnIngest(spark: SparkSession, d: String): DataFrame =
    s20At(spark, d, maxFilesPerTrigger = None)

  /** Trigger-cadence-parameterized form (the s19At convention): the
    * assignment is stateless per row, so the registered query drains
    * with natural batching; the tiling spec passes Some(1).
    */
  private[graft] def s20At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.VectorOps
    val empty = spark.range(0).select(col("id").as("probe_id"),
      col("id").as("neighbor_id"), col("id").as("sim_e6"), col("id").as("rnk"))
    val (memo, mid) = VectorOps.standingAnnIndex(spark, d).getOrElse(return empty)
    // the standing model, read once per drain (KB driver state)
    val (cents, cbs) = VectorOps.readAnnModel(spark, memo)
    val arriving = stagedFileStream(spark, d, "embeddings", maxFilesPerTrigger)
      .filter(col("vec_id") > mid)
    val arrived = arrivalLog(spark, "s20", d, arriving)(
      _.select(VectorOps.annAssignCols(cents, cbs): _*))
    VectorOps.annSearchCodes(spark, d,
      Tables.parquet(spark, s"$memo/codes.parquet").unionByName(arrived), cents, cbs)
  }

  /** s22: RETENTION requests on arrival — x_neardup_delete's streaming
    * twin, the erasure rung of the arrival ladder: takedown/GDPR
    * requests arrive as a STREAM (in production they do — a privacy
    * queue, not a batch file), and every micro-batch logs its request
    * ids durably into its [[arrivalLog]] (the s19 extract-on-arrival
    * pattern — the durable log IS the audit trail an erasure process
    * must keep). The index rewrite runs ONCE at
    * drain close over the union of arrived requests: deletion is
    * order-free and idempotent set removal (anti-join + additive
    * census decrement), so per-batch rewrites would pay O(index) per
    * trigger for the same final state — the close-time placement is
    * the rewrite-cost argument where s19's was a semantic one, and it
    * matches the compliance reality (requests are logged immediately,
    * applied on a batch cadence inside the deadline). After the
    * delete, the arriving epoch ingests against the post-delete index
    * through [[graft.ops.TextOps.neardupIngest]] — the audit equals
    * [[graft.ops.TextOps.x_neardupDelete]]'s however the source tiles
    * the requests (union of batches = the request set), so s22
    * carries x_neardup_delete's DuckDB oracle VERBATIM, hash-checked;
    * StreamingSpec pins a forced multi-batch drain row-for-row.
    *
    * Scale (100 TB): per batch, one slim id write (the request log);
    * at close, ONE posting-table rewrite + census merge (broadcast
    * request list) + the day's delta-proportional ingest.
    */
  def s22_streamRetention(spark: SparkSession, d: String): DataFrame =
    s22At(spark, d, maxFilesPerTrigger = None)

  /** Trigger-cadence-parameterized form (the s19At convention): the
    * request log is stateless per row, so the registered query drains
    * with natural batching; the tiling spec passes Some(1).
    */
  private[graft] def s22At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.{Tables, TextOps}
    val docs = Tables.documents(spark, d)
    val (memo, mid) = TextOps.standingNeardupIndex(spark, d)
      .getOrElse(return TextOps.noPairs(spark))
    // the request stream: the standing slice's ids (the x_neardup_delete
    // request convention — id-addressed, so null ids can never match)
    val arriving = stagedFileStream(spark, d, "documents", maxFilesPerTrigger)
      .filter(col("doc_id") <= mid &&
        pmod(col("doc_id"), lit(TextOps.NdDeleteMod)) === TextOps.NdDeleteRes)
      .select(col("doc_id"))
    // the durable per-batch request log is the erasure audit trail
    val requests = arrivalLog(spark, "s22", d, arriving)().distinct()
    // apply ONCE at close, on the invocation's clone of the standing
    // index (the memo stays immutable)
    val dir = Tables.scratchDir("s22_idx", d)
    Tables.linkTree(s"$memo/postings.parquet", s"$dir/postings.parquet")
    Tables.linkTree(s"$memo/df.parquet", s"$dir/df.parquet")
    TextOps.neardupIndexDelete(spark, dir, requests)
    TextOps.neardupIngest(spark, d, dir, mid)
  }

  /** s23: SEMANTIC retention requests on arrival — x_semantic_delete's
    * streaming twin, completing the retention-arrival pair the way s22
    * did for the lexical index (round-19 closed the batch erasure
    * ladder at every level; the ARRIVAL form existed only for posting
    * rows): erasure requests for standing-epoch vec_ids stream in (a
    * privacy queue), every micro-batch logs its ids durably into its
    * [[arrivalLog]] (the durable log IS the compliance audit trail),
    * and the TWO index rewrites (postings + pair state,
    * [[graft.ops.VectorOps.semanticIndexDelete]]) run ONCE at drain
    * close over the union of arrived requests — the s22 rewrite-cost
    * placement: deletion is order-free idempotent set removal, so
    * per-batch rewrites would pay O(index) per trigger for the same
    * final state. After the delete, the day's ingest runs against the
    * post-delete state through the batch twin's own bodies
    * (semanticIncPairs + clustersOf). The union of request batches is
    * the request set, so s23 is byte-equal to x_semantic_delete
    * however the source tiles the requests — it carries that
    * kept-vectors oracle VERBATIM, hash-checked; StreamingSpec pins a
    * forced multi-batch drain row-for-row.
    *
    * Scale (100 TB): per batch, one slim id write; at close, two slim
    * broadcast anti-join rewrites (embeddings never read) + the
    * delta-proportional ingest.
    */
  def s23_streamSemanticRetention(spark: SparkSession, d: String): DataFrame =
    s23At(spark, d, maxFilesPerTrigger = None)

  /** Trigger-cadence-parameterized form (the s19At convention): the
    * request log is stateless per row, so the registered query drains
    * with natural batching; the tiling spec passes Some(1).
    */
  private[graft] def s23At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.VectorOps
    val empty = spark.range(0).select(col("id").as("vec_id"),
      col("id").as("cluster_id"), lit(true).as("is_canonical"))
    val (memo, mid) = VectorOps.semanticIndexDir(spark, d).getOrElse(return empty)
    // the request stream: the standing slice's ids (the
    // x_semantic_delete request convention — id-addressed, so null ids
    // can never match)
    val arriving = stagedFileStream(spark, d, "embeddings", maxFilesPerTrigger)
      .filter(col("vec_id") <= mid &&
        pmod(col("vec_id"), lit(VectorOps.SemDeleteMod)) === VectorOps.SemDeleteRes)
      .select(col("vec_id"))
    // the durable per-batch request log is the erasure audit trail
    val requests = arrivalLog(spark, "s23", d, arriving)().distinct()
    // apply ONCE at close, on the invocation's clone of the standing
    // state (the memo stays immutable)
    val dir = Tables.scratchDir("s23_idx", d)
    Tables.linkTree(s"$memo/postings.parquet", s"$dir/postings.parquet")
    Tables.linkTree(s"$memo/pairs.parquet", s"$dir/pairs.parquet")
    VectorOps.semanticIndexDelete(spark, dir, requests)
    // the day's ingest against the post-delete state — the batch
    // twin's own bodies (model always reads from the memo: erasure
    // never retrains)
    val cents = Tables.parquet(spark, s"$memo/model.parquet").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("cents")
      .map(_.toArray).toArray
    val deltaPost = VectorOps.semPostingsOf(
      Tables.embeddings(spark, d).filter(col("vec_id") > mid), cents)
    val newPairs = VectorOps.semanticIncPairs(spark,
      Tables.parquet(spark, s"$dir/postings.parquet"), deltaPost)
    graft.ops.TextOps.clustersOf(
        Tables.parquet(spark, s"$dir/pairs.parquet").unionByName(newPairs))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_canonical"))
  }

  /** s24: LM retention requests on arrival — x_lm_delete's streaming
    * twin (the s22/s23 log-then-apply cadence at the LM level,
    * completing the retention-arrival ladder for every oracled erasure
    * rung): requests for train-shard doc_ids stream in, every
    * micro-batch logs its ids durably into its [[arrivalLog]], and the
    * DECREMENT runs ONCE at drain close — the
    * logged ids join back to the document store (broadcast — a request
    * list is KB against a lake), their bigram census subtracts from
    * the standing pair table, marginals re-derive, held-out text
    * scores through the post-delete model, all through the batch
    * twin's own body ([[graft.ops.CorpusOps.lmDeleteRun]]). Close-time
    * placement is the rewrite-cost argument: the decrement is one
    * vocabulary-sized merge however many requests arrived, and census
    * additivity makes the union-of-batches decrement ≡ the batch
    * delete exactly — s24 carries x_lm_delete's kept-train-docs oracle
    * VERBATIM, hash-checked; StreamingSpec pins a forced multi-batch
    * drain row-for-row.
    *
    * Scale (100 TB): per batch one slim id write; at close one
    * deleted-docs scan (ids broadcast into the store join) + the
    * vocabulary-sized decrement + x_lm_heldout's scoring economics.
    */
  def s24_streamLmRetention(spark: SparkSession, d: String): DataFrame =
    s24At(spark, d, maxFilesPerTrigger = None)

  /** Trigger-cadence-parameterized form (the s19At convention). */
  private[graft] def s24At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.CorpusOps
    val arriving = stagedFileStream(spark, d, "documents", maxFilesPerTrigger)
      .filter(col("source") === CorpusOps.LmTrainSource &&
        pmod(col("doc_id"), lit(CorpusOps.LmDeleteMod)) === CorpusOps.LmDeleteRes)
      .select(col("doc_id"))
    val requests = arrivalLog(spark, "s24", d, arriving)().distinct()
    CorpusOps.lmDeleteRun(spark, d, "s24_lm")(
      Tables.documents(spark, d).join(broadcast(requests), Seq("doc_id")))
  }

  /** s25: CORPUS retention requests on arrival — x_corpus_retention's
    * streaming twin, the last oracled erasure rung without an arrival
    * form: requests stream in, logged durably per batch, and the ONE
    * state rewrite + manifest re-cut run at drain close over the union
    * through the batch twin's own body ([[graft.ops.CorpusOps
    * .corpusRetentionRun]] — clone, broadcast anti-join, swap,
    * corpusCutFrame). The close placement is both arguments at once:
    * the s22 rewrite-cost one (one O(state) rewrite + ONE re-cut per
    * drain, not per trigger) and s19's semantic one (the cut is
    * retroactive — keeper promotion and offset un-packing must see the
    * full request set). Union of batches = the request set, so s25 is
    * byte-equal to the batch rung and carries its kept-docs c16 oracle
    * VERBATIM, hash-checked; StreamingSpec pins a forced multi-batch
    * drain row-for-row.
    *
    * Scale (100 TB): per batch one slim id write; at close one ~72 B/
    * row state rewrite + a cut over slim state — text never read.
    */
  def s25_streamCorpusRetention(spark: SparkSession, d: String): DataFrame =
    s25At(spark, d, maxFilesPerTrigger = None)

  /** Trigger-cadence-parameterized form (the s19At convention). */
  private[graft] def s25At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.CorpusOps
    val arriving = stagedFileStream(spark, d, "documents", maxFilesPerTrigger)
      .filter(pmod(col("doc_id"), lit(CorpusOps.CorpusDeleteMod)) ===
        CorpusOps.CorpusDeleteRes)
      .select(col("doc_id"))
    val requests = arrivalLog(spark, "s25", d, arriving)().distinct()
    CorpusOps.corpusRetentionRun(spark, d, "s25_ret")(requests)
  }

  /** s26: ANN retention requests on arrival — x_ann_delete's streaming
    * twin, the last delete rung without an arrival form (after s22-s25
    * every erasure path is reachable from a privacy queue): requests
    * for indexed vec_ids stream in, logged durably per batch, and the
    * ONE code-table rewrite runs at drain close over the union inside
    * the shared ingest lifecycle ([[graft.ops.VectorOps.annIngest]]:
    * memoized base → append-delta → DELETE the drained set → search) —
    * deletion is order-free idempotent set removal on per-vector code
    * rows, so the union of logged batches applies as the batch delete
    * exactly and the search is byte-equal to [[graft.ops.VectorOps
    * .x_annDelete]] however the source tiles the requests (pinned in
    * StreamingSpec, single- and forced multi-batch). Rows-only in the
    * driver gate (the ANN-family contract).
    *
    * Scale (100 TB): per batch one slim id write; at close one slim
    * codes rewrite (broadcast anti-join — no embedding reads, no
    * shuffle) inside the lifecycle's usual append + search economics.
    */
  def s26_streamAnnRetention(spark: SparkSession, d: String): DataFrame =
    s26At(spark, d, maxFilesPerTrigger = None)

  /** Trigger-cadence-parameterized form (the s19At convention). */
  private[graft] def s26At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.VectorOps
    val arriving = stagedFileStream(spark, d, "embeddings", maxFilesPerTrigger)
      .filter(pmod(col("vec_id"), lit(VectorOps.AnnDeleteMod)) ===
        VectorOps.AnnDeleteRes)
      .select(col("vec_id"))
    val requests = arrivalLog(spark, "s26", d, arriving)().distinct()
    VectorOps.annIngest(spark, d, "s26_idx") { (_, dir) =>
      VectorOps.annIndexDelete(spark, dir, requests)
      None
    }
  }

  /** s21: SEMANTIC-dedup ingest on arrival — x_semantic_incremental's
    * streaming twin, the arrival rung the embedding dedup family was
    * missing (lexical: s14; LM: s16-s18; corpus: s19; vector index:
    * s20): delta vectors stream in (vec_id > mid), and every
    * micro-batch extracts its slim per-vector state — norm + the
    * probe-cell ARRAY under the STANDING codebooks (one TopCells map
    * in the batch plan; the model a KB driver read once per drain; the
    * ×nprobe fan-out happens at the close's explode, never on disk —
    * the s19 slim-state argument) — into its [[arrivalLog]].
    * The pair cut runs at drain close, and that placement is SEMANTIC:
    * cluster labels are retroactive (a later batch's vector can pair
    * with an earlier batch's, merge standing components, or displace a
    * canonical), so no per-batch final clustering exists — extract on
    * arrival, resolve at close, exactly s19's contract at the
    * embedding level. The close pairs arrived state against the
    * standing posting table + itself through [[graft.ops.VectorOps
    * .semanticIncPairs]] (the batch twin's own body), folds with the
    * standing backfill pairs, and re-cuts the full cluster state —
    * byte-equal to [[graft.ops.VectorOps.x_semanticDedup]] however
    * the source tiles the delta (per-vector state lands whole in one
    * batch; the pair/label reduces run over the union), so s21 carries
    * x_semantic_dedup's DuckDB oracle VERBATIM; StreamingSpec pins a
    * forced multi-batch drain row-for-row.
    *
    * Scale (100 TB): per batch, one pure-map assignment + one slim
    * write; the stream holds no state; the close's join work is the
    * batch twin's (delta-sized frames against the standing postings).
    */
  def s21_streamSemanticIngest(spark: SparkSession, d: String): DataFrame =
    s21At(spark, d, maxFilesPerTrigger = None)

  /** Trigger-cadence-parameterized form (the s19At convention): the
    * extraction is stateless per row, so the registered query drains
    * with natural batching; the tiling spec passes Some(1).
    */
  private[graft] def s21At(spark: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    import graft.ops.VectorOps
    val empty = spark.range(0).select(col("id").as("vec_id"),
      col("id").as("cluster_id"), lit(true).as("is_canonical"))
    val (memo, mid) = VectorOps.semanticIndexDir(spark, d).getOrElse(return empty)
    // the standing model, read once per drain (KB driver state)
    val cents = Tables.parquet(spark, s"$memo/model.parquet").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("cents")
      .map(_.toArray).toArray
    val arriving = stagedFileStream(spark, d, "embeddings", maxFilesPerTrigger)
      .filter(col("vec_id") > mid)
    val arrived = arrivalLog(spark, "s21", d, arriving)(VectorOps.semArrivalState(_, cents))
    val newPairs = VectorOps.semanticIncPairs(spark,
      Tables.parquet(spark, s"$memo/postings.parquet"),
      VectorOps.semPostingRows(arrived))
    graft.ops.TextOps.clustersOf(
        Tables.parquet(spark, s"$memo/pairs.parquet").unionByName(newPairs))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_canonical"))
  }

  /** The valid-side read-back of the s7 split (test hook, not a
    * registered query): must equal the a7 validation output. Reads the
    * LAST completed s7 drain for this dataset in this JVM (the
    * generation-suffixed sink recorded by [[recordDrain]] AFTER the
    * drain finishes). Fails loudly if that generation has since been
    * reaped by the scratch sweep (enough newer allocations passed
    * ScratchLag) — a silently-empty read here would turn the caller's
    * equality check into a confusing empty-vs-expected diff.
    */
  private[graft] def s7ValidSide(spark: SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      Ingest.EventFields.map(f =>
        org.apache.spark.sql.types.StructField(f,
          org.apache.spark.sql.types.StringType)))
    val base = lastSink.get(("s7", Tables.sanitize(d)))
    require(base != null, s"s7ValidSide: no s7 drain has run for $d in this JVM")
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/out/valid")),
      s"s7ValidSide: the last completed drain's sink ($base) was reaped " +
        "by the scratch sweep — rerun s7 before inspecting it")
    readSink(spark, s"$base/out/valid", schema)
      .select(schema.fieldNames.map(col): _*)
  }

  val oracles: Map[String, String] = Map(
    "s7_stream_quarantine" -> Ingest.oracles("a18_quarantine"),
    "s4_stream_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS cnt,
        |  CAST(SUM(${graft.ops.Tables.CentsSql}) AS BIGINT) / 100.0 AS vsum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // batch twin of the streamed A14 pipeline (same rows, same sink layout)
    "s1_stream_pipeline" -> (Ingest.oracles("a14_pipeline_e2e")),
    // stream ≡ batch for the stateless classifier: c23's oracle verbatim
    "s9_stream_lang_id" -> graft.ops.TextOps.oracles("c23_lang_id"),
    // stream ≡ batch for the stateless audit: c27's oracle verbatim
    "s10_stream_contamination" -> graft.ops.TextOps.oracles("c27_contamination"),
    // stream ≡ batch for the stateless gate: c30's oracle verbatim
    "s11_stream_quality_gate" -> graft.ops.TextQuality.oracles("c30_quality_gate"),
    // stream ≡ batch for the stateless scrub: c31's oracle verbatim
    "s12_stream_pii" -> graft.ops.TextQuality.oracles("c31_pii_redact"),
    // merge-of-exact-partials ≡ the batch funnel: c32's oracle verbatim
    "s13_stream_funnel" -> graft.ops.TextQuality.oracles("c32_domain_stats"),
    // per-batch ingests tile the one-shot ingest (the tiling lemma):
    // x_neardup_incremental's restricted-c25 oracle verbatim
    "s14_stream_neardup" -> graft.ops.TextOps.oracles("x_neardup_incremental"),
    // stream ≡ batch for the stateless fingerprint map: c24's oracle
    "s15_stream_fingerprint" -> graft.ops.TextOps.oracles("c24_winnow_fingerprint"),
    // score-on-arrival vs the standing LM ≡ batch: c35's oracle verbatim
    "s16_stream_lm_score" -> graft.ops.CorpusOps.oracles("c35_lm_score"),
    // held-out score-on-arrival ≡ batch (per-row vs standing tables):
    // x_lm_heldout's oracle verbatim
    "s17_stream_lm_heldout" -> graft.ops.CorpusOps.oracles("x_lm_heldout"),
    // fold-on-arrival ≡ retrain (census additivity): c35's oracle verbatim
    "s18_stream_lm_update" -> graft.ops.CorpusOps.oracles("c35_lm_score"),
    // extract-on-arrival + cut-at-close ≡ the batch pipeline (per-doc
    // state lands whole in one batch; every reduce is over the union):
    // c16's oracle verbatim
    "s19_stream_corpus_pipeline" -> graft.ops.CorpusOps.oracles("c16_corpus_pipeline"),
    // size-on-arrival + cut-at-close ≡ the batch sample (sizing is
    // per-row; the cut is retroactive over the union) — c36's oracle
    // string BY REFERENCE
    "s27_stream_mixture" -> graft.ops.CorpusOps.oracles("c36_mixture_sample"),
    // x_corpus_epochs: the final close's manifest is the batch pipeline
    // over the full corpus (state extends across drains, the cut is
    // retroactive) — c16's oracle verbatim, by reference
    "x_corpus_epochs" -> graft.ops.CorpusOps.oracles("c16_corpus_pipeline"),
    // s21: the close's cluster state ≡ the batch x_semantic_dedup
    // (extract-on-arrival + resolve-at-close, the s19 contract at the
    // embedding level) — the twin's oracle verbatim, by reference
    "s21_stream_semantic_ingest" -> graft.ops.VectorOps.oracles("x_semantic_dedup"),
    // s22: log-on-arrival + apply-at-close ≡ the batch delete (the
    // request set is the union of its batches; deletion is order-free
    // idempotent set removal) — the twin's oracle verbatim
    "s22_stream_retention" -> graft.ops.TextOps.oracles("x_neardup_delete"),
    // s23: the same log/apply cadence against the SEMANTIC standing
    // state — x_semantic_delete's kept-vectors oracle verbatim
    "s23_stream_semantic_retention" -> graft.ops.VectorOps.oracles("x_semantic_delete"),
    // s24: the decrement over the union of logged requests ≡ the batch
    // delete (census additivity) — x_lm_delete's oracle verbatim
    "s24_stream_lm_retention" -> graft.ops.CorpusOps.oracles("x_lm_delete"),
    // s25: one close-time state rewrite + re-cut over the union ≡ the
    // batch rung — x_corpus_retention's kept-docs oracle verbatim
    "s25_stream_corpus_retention" -> graft.ops.CorpusOps.oracles("x_corpus_retention"),
    "s3_stream_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS flag FROM o),
        |s AS (SELECT *, CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM f)
        |SELECT user_id, sess, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us, MAX(us) - MIN(us) AS dur_us
        |FROM s GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin,
    // append-mode twin: only windows the FINAL watermark closed are in
    // the output; still-open windows are retained state, not results.
    // Watermark reproduced with Spark's exact arithmetic: max event
    // time truncated to ms, minus the 10-minute delay (nothing is late
    // under AvailableNow's single drain, so no rows are dropped here —
    // the late-drop semantics is pinned in StreamingSpec instead).
    "s2_stream_window" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start,
        |  strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M') AS win_end,
        |  event_type, COUNT(*) AS cnt,
        |  CAST(SUM(${graft.ops.Tables.CentsSql}) AS BIGINT) / 100.0 AS vsum
        |FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <=
        |  (SELECT make_timestamp((epoch_us(max(ts)) // 1000 - 600000) * 1000) FROM events)
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY win_start, event_type""".stripMargin,
    // batch twin of the watermarked interval join: nothing is late under
    // AvailableNow's drain, so the streamed matches are exactly the
    // batch interval join. All comparisons in the µs domain (epoch_us
    // truncates DuckDB's ns clock exactly like the Spark reader's
    // `ts div 1000`).
    "s5_stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND epoch_us(v.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND p.event_id IS NOT NULL AND v.event_id IS NOT NULL
        |ORDER BY purchase_id, view_id""".stripMargin,
    // the duplicated delivery is invisible downstream: each DISTINCT
    // record once (full-record identity — see the s6 scaladoc)
    "s6_stream_dedup" ->
      s"""SELECT DISTINCT event_id, user_id, event_type, epoch_us(ts) AS us,
        |  ${graft.ops.Tables.CentsSql} AS cents
        |FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |ORDER BY event_id""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_stream_pipeline" -> s1_streamPipeline _,
    "s2_stream_window"   -> s2_streamWindow _,
    "s3_stream_sessionize" -> s3_streamSessionize _,
    "s4_stream_join"     -> s4_streamJoin _,
    "s5_stream_stream_join" -> s5_streamStreamJoin _,
    "s6_stream_dedup"    -> s6_streamDedup _,
    "s7_stream_quarantine" -> s7_streamQuarantine _,
    "s8_stream_hll_rollup" -> s8_streamHllRollup _,
    "s9_stream_lang_id"  -> s9_streamLangId _,
    "s10_stream_contamination" -> s10_streamContamination _,
    "s11_stream_quality_gate" -> s11_streamQualityGate _,
    "s12_stream_pii" -> s12_streamPii _,
    "s13_stream_funnel" -> s13_streamFunnel _,
    "s14_stream_neardup" -> s14_streamNeardup _,
    "s15_stream_fingerprint" -> s15_streamFingerprint _,
    "s16_stream_lm_score" -> s16_streamLmScore _,
    "s17_stream_lm_heldout" -> s17_streamLmHeldout _,
    "s18_stream_lm_update"  -> s18_streamLmUpdate _,
    "s19_stream_corpus_pipeline" -> s19_streamCorpusPipeline _,
    "s27_stream_mixture" -> s27_streamMixture _,
    "x_corpus_epochs" -> x_corpusEpochs _,
    "s20_stream_ann_ingest" -> s20_streamAnnIngest _,
    "s21_stream_semantic_ingest" -> s21_streamSemanticIngest _,
    "s22_stream_retention" -> s22_streamRetention _,
    "s23_stream_semantic_retention" -> s23_streamSemanticRetention _,
    "s24_stream_lm_retention" -> s24_streamLmRetention _,
    "s25_stream_corpus_retention" -> s25_streamCorpusRetention _,
    "s26_stream_ann_retention" -> s26_streamAnnRetention _,
  )
}
