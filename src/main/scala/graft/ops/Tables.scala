package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table readers shared by every operator (TESTDATA.md /
  * FIXTURES.md), and [[parquet]], the one way the engine reads a
  * parquet table — fixture, sink read-back or standing state alike.
  * All inputs are the driver-generated parquet tables. At lake scale a
  * table format (Iceberg, Delta) keeps the schema in its own metadata
  * and no reader infers one; a plain parquet directory has no such
  * metadata, and one footer read on the driver is the same I/O Spark's
  * inference job does, minus the job. Nothing here assumes local files.
  */
object Tables {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` with the schema resolved on the
    * driver. Spark infers a parquet schema with a one-task Spark job
    * even for one footer (`ParquetUtils.inferSchema` →
    * `mergeSchemasInParallel`), ~70–85 ms of wall per read on a 4-vCPU
    * box against 7–17 ms for the read itself. This lists the leaf files
    * as Spark's file index does, reads the footer of the one file that
    * inference would read, and resolves it with Spark's own
    * `readSchemaFromFooter` under the session's parquet confs — the
    * same rows, schema and plan, one job fewer. Where there is no data
    * file (empty or missing path), or Spark would not read just one
    * footer, it is Spark's own read, so errors stay Spark's
    * (`UNABLE_TO_INFER_SCHEMA`, `PATH_NOT_FOUND`).
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  /** The data files Spark's file index lists under `paths`, in path
    * order, each with the partition-style dir names between its root
    * and it — or None when a path is missing (Spark's read reports that).
    */
  private def leafFiles(spark: SparkSession,
      paths: Seq[String]): Option[Seq[(org.apache.hadoop.fs.FileStatus, List[String])]] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val hadoopConf = spark.sessionState.newHadoopConf()
    // InMemoryFileIndex's leaf filter: hidden and in-flight names out,
    // the parquet summary files in
    def hidden(n: String) =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")) &&
        !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
    def leaves(st: FileStatus, parts: List[String]): Seq[(FileStatus, List[String])] =
      if (hidden(st.getPath.getName)) Nil
      else if (!st.isDirectory) Seq(st -> parts)
      else st.getPath.getFileSystem(hadoopConf).listStatus(st.getPath).toSeq
        .flatMap(c => leaves(c, if (c.isDirectory) c.getPath.getName :: parts else parts))
    val roots = paths.map { p =>
      val path = new Path(p)
      scala.util.Try(path.getFileSystem(hadoopConf).getFileStatus(path)).toOption
    }
    if (roots.exists(_.isEmpty)) None
    else Some(roots.flatten.flatMap(leaves(_, Nil)).sortBy(_._1.getPath.toString))
  }

  private val summaryFiles = Seq("_common_metadata", "_metadata")

  /** Partition keys named by the dir names between a root and a file. */
  private def partitionKeys(parts: List[String]): List[String] =
    parts.filter(_.contains("=")).map(_.takeWhile(_ != '='))

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    // a merged schema reads every footer: that is Spark's job to run
    if (conf.isParquetSchemaMergingEnabled) return None
    val files = leafFiles(spark, paths).getOrElse(return None)
    // ParquetUtils.inferSchema's pick without mergeSchema: a summary
    // file first, else the first data file in path order
    summaryFiles.flatMap(n => files.find(_._1.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaryFiles.contains(f._1.getPath.getName)))
      .flatMap { case (f, parts) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS)
        // the converter inference builds: these five session confs,
        // the rest at their defaults
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
        // a data column that is also a partition key sits at its data
        // position when inferred but at the end when supplied: Spark's read
        val keys = partitionKeys(parts)
        if (schema.fieldNames.exists(c => keys.exists(_.equalsIgnoreCase(c)))) None
        else Some(schema)
      }
  }

  /** A table's row count and one BIGINT column's (min, max) — None
    * when the column holds no non-null value, which is also the answer
    * for an empty table.
    */
  final case class IdRange(rows: Long, bounds: Option[(Long, Long)])

  /** [[IdRange]] of `column` in the table `d/table.parquet`, read from
    * the footers [[parquet]] lists, on the driver: no Spark job, where
    * Spark's `agg(min, max).head()` is two. Exact or None — None when a
    * row group carries no statistics for the column, the column is not
    * a plain INT64 in every file or is a partition key, or there is no
    * data file; the caller then runs Spark's aggregate ([[idBounds]]).
    */
  def idRange(spark: SparkSession, d: String, table: String, column: String): Option[IdRange] =
    footerRange(spark, Seq(s"$d/$table.parquet"), column)

  /** [[idRange]] over any set of parquet paths (a table split across
    * directories, like an index's base and its epoch partitions).
    */
  private[graft] def footerRange(spark: SparkSession, paths: Seq[String],
      column: String): Option[IdRange] =
    // a footer that does not read is Spark's to report
    scala.util.Try(rangeFromFooters(spark, paths, column)).toOption.flatten

  private def rangeFromFooters(spark: SparkSession, paths: Seq[String],
      column: String): Option[IdRange] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
    val files = leafFiles(spark, paths).getOrElse(return None)
      .filterNot(f => summaryFiles.contains(f._1.getPath.getName))
    if (files.isEmpty || files.exists(f => partitionKeys(f._2).exists(_.equalsIgnoreCase(column))))
      return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    var rows = 0L
    var bounds = Option.empty[(Long, Long)]
    for ((f, _) <- files) {
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf), NO_FILTER)
      val field = meta.getFileMetaData.getSchema.getFields.asScala
        .find(_.getName == column).getOrElse(return None)
      if (!field.isPrimitive || field.asPrimitiveType.getPrimitiveTypeName !=
          PrimitiveType.PrimitiveTypeName.INT64 ||
          !(field.getLogicalTypeAnnotation == null ||
            field.getLogicalTypeAnnotation == LogicalTypeAnnotation.intType(64, true)))
        return None
      for (block <- meta.getBlocks.asScala if block.getRowCount > 0) {
        val chunk = block.getColumns.asScala
          .find(_.getPath.toDotString == column).getOrElse(return None)
        val st = chunk.getStatistics
        rows += block.getRowCount
        if (st != null && st.hasNonNullValue) {
          val (lo, hi) = (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
          bounds = Some(bounds.fold((lo, hi)) { case (l, h) => (l min lo, h max hi) })
        } else if (st == null || !st.isNumNullsSet || st.getNumNulls != block.getRowCount)
          // no min/max, and not provably all null: no statistics
          return None
      }
    }
    Some(IdRange(rows, bounds))
  }

  /** (min, max) of a BIGINT column of `d/table.parquet`, None when it
    * holds no non-null value (an empty corpus): the footers'
    * [[idRange]] where it answers, else Spark's aggregate.
    */
  def idBounds(spark: SparkSession, d: String, table: String,
      column: String): Option[(Long, Long)] =
    idRange(spark, d, table, column).map(_.bounds).getOrElse {
      import org.apache.spark.sql.functions.{col, max, min}
      val r = t(spark, d, table).agg(min(col(column)), max(col(column))).head()
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    }

  /** events with ts as a proper TimestampType (µs). The fixtures store
    * ts as TIMESTAMP(MICROS) without UTC adjustment, which arrives as
    * NTZ and casts losslessly (session TZ is pinned UTC everywhere, so
    * the wall-clock reading IS the instant).
    */
  def events(spark: SparkSession, d: String): DataFrame =
    withTsMicros(t(spark, d, "events"))

  /** Normalize a raw events frame's `ts` to TimestampType µs (see
    * events()); shared with the streaming sources. The file source reads
    * the fixture schema; the Kafka envelope carries ts as BIGINT
    * nanoseconds ([[graft.streaming.StreamOps.rawEventSchema]]), which
    * converts by integer division — truncating exactly like DuckDB's
    * ns→µs cast.
    */
  def withTsMicros(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def lineitem(spark: SparkSession, d: String): DataFrame  = t(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame    = t(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame  = t(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = t(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = t(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame    = t(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame    = t(spark, d, "region")
  def documents(spark: SparkSession, d: String): DataFrame = t(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = t(spark, d, "embeddings")

  /** The exact-cents idiom: `value` (dollars, DOUBLE) → integer cents
    * (BIGINT, NULL on non-finite/overflow via try_cast). Integer cents
    * make every downstream sum bit-identical across engines and
    * executor counts — the b21/b22/b25/b26 money domain. ONE definition
    * here and ONE SQL twin ([[CentsSql]]) below, because the round-10
    * hash failures were exactly this idiom drifting between a Spark
    * body and its oracle; a query that needs a different source column
    * passes it explicitly.
    */
  def cents(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.round
    round(value * 100).try_cast("long")
  }

  /** events.value in cents — the common case of [[cents]]. */
  def cents: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    cents(col("value"))
  }

  /** [[cents]]'s DuckDB twin for an arbitrary source column. */
  def centsSqlOf(column: String): String =
    s"TRY_CAST(round($column * 100) AS BIGINT)"

  /** [[cents]]'s DuckDB twin for `events.value`, verbatim for splicing
    * into oracle SQL. TRY_CAST matches try_cast's NULL-on-overflow;
    * both engines round halves away from zero (HALF_UP) on DOUBLEs —
    * Spark's round() and DuckDB's round(DOUBLE) alike (neither is
    * half-even).
    */
  val CentsSql: String = centsSqlOf("value")

  /** The checkout's build area, `<user.dir>/target`: the tools' decade
    * layouts and reports go here.
    */
  val target: String = java.nio.file.Paths.get(sys.props("user.dir"), "target").toString

  /** Scratch dir for sink/streaming outputs and standing-state memos,
    * resolved once: the `graft.scratch` system property, else the
    * checkout's own `target/scratch`, so two checkouts never share
    * standing state. A plain `val`, and every path under it is derived
    * on use: a harness may replace this one field when the object loads.
    */
  val scratch: String = sys.props.getOrElse("graft.scratch", s"$target/scratch")

  /** Fixture-dir string → filesystem-safe scratch-path fragment. One
    * definition so every per-sf scratch namer agrees on the rule.
    */
  def sanitize(d: String): String = d.replaceAll("[^A-Za-z0-9.]", "_")

  /** How many newer generations of a [[scratchDir]] prefix must exist
    * before an older one is reaped. Concurrency bound: up to this many
    * SIMULTANEOUS invocations of the same (tag, dataset) can hold live
    * lazy readers without any of their directories being deleted under
    * them (the parallel-suite case — scalatest runs specs concurrently
    * in the one JVM).
    */
  val ScratchLag = 3

  private val scratchGens =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Scratch namer for queries that MATERIALIZE an artifact (postings
    * index, cluster labels) and then consume it LAZILY: dataset-keyed
    * AND generation-suffixed. The old fixed-per-dataset name raced —
    * invocation B's `rmrf` could delete invocation A's files between
    * A's write and A's deferred read (round-13 ADVICE). A fresh
    * generation per invocation removes the race; generations older
    * than [[ScratchLag]] behind the newest (per prefix) are reaped
    * here, so a bench loop's disk stays bounded without ever touching
    * a directory a concurrent invocation could still be reading.
    * (A production deployment writes such indices to governed lake
    * paths with real lifecycle management; this namer is the
    * single-JVM test/bench analog.)
    */
  def scratchDir(tag: String, d: String): String = {
    val prefix = s"${tag}_${sanitize(d)}_g"
    val g = scratchGens
      .computeIfAbsent(prefix, _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .incrementAndGet()
    import java.nio.file.{Files, Paths}
    val base = Paths.get(scratch)
    if (Files.isDirectory(base)) {
      val s = Files.list(base)
      try s.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(prefix)) {
          val gen = n.substring(prefix.length)
          // toLongOption: an all-digit stray suffix beyond Long range
          // must be skipped, not crash the namer (round-16 review's
          // TextOps sweep finding, applied here too)
          if (gen.toLongOption.exists(_ <= g - ScratchLag))
            rmrf(p.toString)
        }
      } finally s.close()
    }
    // the chosen generation dir itself may survive from a PREVIOUS JVM
    // (counters are per-process) — it is dead there, and no live reader
    // in THIS JVM can hold it (g is fresh here), so clearing it is
    // race-free
    rmrf(s"$scratch/$prefix$g")
    s"$scratch/$prefix$g"
  }

  private val memoDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-JVM memo over [[scratchDir]] for STANDING artifacts — the
    * state a production deployment materializes once and consumes many
    * times (s14's near-dup index, s16's bigram LM): the first caller
    * per (tag, dataset) builds into a fresh generation dir, every
    * later caller reuses it. Without this, every registered-query
    * invocation re-paid the standing-state build, which double-counts
    * build cost in BENCH and hides the arrival path's marginal cost
    * (round-15 verdict №6). Safe with the reaper: the memo holds
    * generation 1 of its own tag forever — reaping needs ScratchLag
    * NEWER generations of the SAME prefix, which a memoized tag never
    * creates. Fixtures are immutable within a JVM, so staleness cannot
    * arise; a failed build leaves no mapping (computeIfAbsent unwinds)
    * AND no partial dir (the catch below rmrf's it before rethrowing —
    * without that, the advanced generation counter would orphan the
    * half-written artifact for the JVM's life, since the reaper only
    * fires ScratchLag generations later and a memoized tag essentially
    * never allocates more).
    */
  def memoDir(tag: String, d: String)(build: String => Unit): String =
    // keyed on the RAW dataset path, not sanitize(d): sanitize is lossy
    // ('corpus-v2' and 'corpus_v2' collide), which was benign when every
    // invocation rebuilt a fresh generation but would make memoization
    // silently serve dataset A's standing index/LM to dataset B for the
    // JVM's life (round-16 review). The raw path's hash is folded into
    // the scratch PREFIX too: colliding sanitized names must never
    // share a generation sequence, because each colliding raw path
    // allocates one more generation of the shared prefix and after
    // ScratchLag+1 of them the reaper would delete generation 1 while
    // this memo still serves its path for the JVM's life (round-16
    // ADVICE). The fold is the first 16 hex chars of the raw path's
    // SHA-256 — deterministic across JVMs like the old 32-bit
    // String.hashCode, but wide enough (64 bits) that two raw paths
    // colliding on BOTH sanitize(d) and the digest — the double
    // collision that would share a generation sequence and re-create
    // the reaper-deletes-live-memo bug — is out of reach rather than
    // merely unlikely (round-17 ADVICE).
    memoDirs.computeIfAbsent(s"$tag $d", _ => {
      val dir = scratchDir(s"${tag}_${pathDigest(d)}", d)
      try build(dir)
      catch { case e: Throwable => scala.util.Try(rmrf(dir)); throw e }
      // freeze the artifact: every consumer convention here treats data
      // files as immutable (mutations are unlink + rename at the
      // DIRECTORY level, which POSIX permits on read-only files), so an
      // in-place write — the one access pattern that would silently
      // corrupt the shared memo AND every hard-link clone of it for the
      // JVM's life — now fails fast with AccessDenied instead of
      // corrupting (round-17 ADVICE).
      freezeFiles(dir)
      dir
    })

  /** First 16 hex chars of the raw path's SHA-256 — [[memoDir]]'s
    * prefix disambiguator.
    */
  private def pathDigest(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** Set every regular file under `dir` read-only ([[memoDir]]'s
    * freeze). Directories stay writable — epoch appends and the
    * unlink+rename swaps are DIRECTORY mutations and must keep working
    * in hard-link clones of a frozen memo.
    */
  private def freezeFiles(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(dir)
    if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).forEach { f =>
        scala.util.Try(f.toFile.setWritable(false, false))
      } finally s.close()
    }
  }

  /** Bucketed-CTAS helper: materialize `df` as a generation-suffixed
    * catalog table `bucketBy(buckets, bucketCol)` / `sortBy(sortCols)`
    * under a [[scratchDir]] allocation, sweep dead sibling catalog
    * entries, and return the table name. Extracted from the posting
    * index's build (round-14/15/16 hardening history preserved below)
    * so every bucketed standing layout — lexical postings, the
    * semantic cell index — shares ONE sweep implementation.
    */
  def saveBucketed(spark: org.apache.spark.sql.SparkSession, tag: String,
      d: String, buckets: Int, bucketCol: String, sortCols: Seq[String])(
      df: org.apache.spark.sql.DataFrame): String = {
    val dir = scratchDir(tag, d)
    // catalog table names must be unique per invocation too (the same
    // race as scratch paths, in the metastore): derive from the
    // generation-suffixed dir; dots (sf0.001) are not legal in names
    val tbl = dir.substring(dir.lastIndexOf('/') + 1).replace('.', '_')
    // catalog sweep (round-14 ADVICE): scratchDir reaps old generation
    // DIRS, but their catalog entries lingered, pointing at deleted
    // paths — as do entries left by previous JVMs (whose generation
    // numbers can even sit ABOVE this process's fresh counter). Any
    // sibling `<tag>_*_g<N>` table whose backing location no longer
    // exists is dead by construction (a live generation's dir is
    // protected by ScratchLag), so drop exactly those.
    val prefix = tbl.substring(0, tbl.lastIndexOf("_g") + 2)
    val myGen = tbl.substring(prefix.length).toLong
    spark.catalog.listTables().collect()
      .map(_.name)
      .filter(n => n != tbl && n.startsWith(prefix) &&
        n.substring(prefix.length).forall(_.isDigit) &&
        // sweep only generations the lag rule already guarantees no
        // CONCURRENT invocation can hold (round-15 ADVICE: a sibling
        // whose catalog entry exists a beat before its dir would
        // otherwise be judged dead in that window). Strays from dead
        // JVMs with higher numbers are picked up once this counter
        // advances past them — the sweep is eventually complete either
        // way, just never early.
        // toLongOption, not toLong: an all-digit stray suffix longer
        // than Long range (foreign tool, corrupted run) must be
        // skipped, not crash the query (round-16 review)
        n.substring(prefix.length).toLongOption
          .exists(_ <= myGen - ScratchLag))
      .foreach { n =>
        // the metadata lookup races a CONCURRENT invocation's sweep
        // (both can list the same dead sibling; the loser's lookup
        // lands after the winner's drop) — a vanished table is simply
        // already-swept, not an error. The existence probe sits INSIDE
        // the Try too (round-15 ADVICE): a non-file location URI would
        // throw in Paths.get and fail the whole query, and only
        // file-scheme locations are ours to judge dead
        scala.util.Try {
          val loc = spark.sessionState.catalog
            .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(n)).location
          // Paths.get(URI) REQUIRES a scheme — a scheme-less location
          // must go through its raw path, or the null arm is dead (the
          // IllegalArgumentException would be swallowed by the Try and
          // the dead entry would survive every sweep)
          (loc.getScheme == null || loc.getScheme == "file") && {
            val p = if (loc.getScheme == null) java.nio.file.Paths.get(loc.getPath)
              else java.nio.file.Paths.get(loc)
            !java.nio.file.Files.exists(p)
          }
        }.toOption
          .filter(identity)
          .foreach(_ => spark.sql(s"DROP TABLE IF EXISTS $n"))
      }
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // repartition by the bucket column into exactly `buckets` partitions
    // BEFORE the bucketed write: DataFrame hash partitioning and bucket
    // id use the same Murmur3 pmod, so each write task then holds
    // exactly one bucket and emits ONE file. Without it each input
    // partition writes a file per bucket it touches — up to
    // inputPartitions × buckets small files at lake scale (the fixture
    // inputs are 1-partition scans, which HID the blow-up locally; opt
    // guide §6, small files hurt twice). One slim exchange of the
    // posting rows, paid at index build where it amortizes.
    df.repartition(buckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.bucketBy(buckets, bucketCol).sortBy(sortCols.head, sortCols.tail: _*)
      .option("path", s"$dir/${tag}_b").saveAsTable(tbl)
    tbl
  }

  /** Hard-link clone of a memoized artifact directory into a
    * per-invocation scratch area (falls back to copy where links are
    * unsupported). The lifecycle queries MUTATE their index in place
    * (append epochs, compaction's rm+rename swap), which a shared
    * memoized base must never see — but every mutation in this repo
    * is directory-level (new files in, whole tables unlinked +
    * renamed; parquet data files are immutable once written), so a
    * link-clone gives each invocation its own mutable NAMESPACE over
    * the same immutable bytes: build cost once per JVM, clone cost a
    * few syscalls per file, and unlinking in the clone never touches
    * the memo's data. The production analog is a table-format
    * snapshot/branch over shared immutable data files.
    *
    * Commit MARKER files (`_SUCCESS`, `.crc` sidecars) are COPIED
    * writable, never linked: Spark's append-mode commit rewrites
    * `_SUCCESS` in place in the clone dir, and through a hard link
    * that write would reach the frozen memo's shared inode — failing
    * with AccessDenied for a non-root user, or (as root, where
    * permission bits don't bind) silently chmod-ing and mutating the
    * memo the freeze exists to protect (round-18 ADVICE). Data files
    * stay hard-linked and read-only — they are the bytes that matter
    * and every mutation convention for them is directory-level.
    */
  def linkTree(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths}
    val s = Paths.get(src)
    val t = Paths.get(dst)
    rmrf(dst)
    val walk = Files.walk(s)
    try walk.forEach { p =>
      val q = t.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else {
        Files.createDirectories(q.getParent)
        val name = p.getFileName.toString
        if (name == "_SUCCESS" || name.endsWith(".crc")) {
          Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          q.toFile.setWritable(true, true)
        } else
          try Files.createLink(q, p)
          catch { case _: Exception =>
            Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
      }
    } finally walk.close()
  }

  /** Recursive delete of a scratch path (no-op if absent). The walk
    * stream holds open directory handles until closed — leak one per
    * call (b19 calls this every bench rep) and fd pressure eventually
    * surfaces as "Too many open files" far from the cause.
    */
  def rmrf(dir: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}
