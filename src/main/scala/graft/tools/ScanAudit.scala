package graft.tools

import org.apache.spark.sql.DataFrame

/** Per-query scan census. Executes a query and reports how many
  * FileScans the FINAL adaptive plan ran, how many exchanges were
  * reused, and which tables the scans hit — the quick way to spot a
  * query that reads a table twice where a ReusedExchange or a per-row
  * rewrite (e.g. round 8's c8 fingerprint fold) could make it one pass.
  * Both round-8 double-scan bugs (c8's join-back, c12's pruning-broken
  * exchange reuse) were caught by exactly this census, so ScanCensusSpec
  * pins the expected counts per query in `sbt test`; this main stays as
  * the interactive form. Usage: runMain graft.tools.ScanAudit <sfDir> [name ...]
  */
object ScanAudit {

  final case class Census(scans: Int, reused: Int, tables: Map[String, Int]) {
    def tablesStr: String =
      tables.toSeq.sorted.map { case (t, n) => s"$t×$n" }.mkString(" ")
  }

  private val tablePat = "([a-z_]+)\\.parquet".r

  /** Materialize the frame (so AQE reuse shows in the final plan) and
    * census it. The split drops the pre-adaptive "Initial Plan" section,
    * which double-counts every node.
    */
  def census(df: DataFrame): Census = {
    // default maxMetadataStringLength (100) truncates FileScan location
    // strings, silently dropping long paths' `<table>.parquet` leaf from
    // the census — raise it so the table breakdown is parse-complete.
    // BEFORE the collect, not after: a FileScan's metadata string is a
    // lazy val that AQE's plan-description events materialize DURING
    // execution, so a post-collect raise is too late in a session where
    // no earlier census already set it (the truncation then surfaced
    // only under single-test -z runs — order-dependent flakiness).
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2048")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    Census(
      "FileScan".r.findAllIn(p).size,
      "ReusedExchange".r.findAllIn(p).size,
      tablePat.findAllMatchIn(p).map(_.group(1)).toSeq
        .groupBy(identity).map { case (t, xs) => t -> xs.size })
  }

  def main(args: Array[String]): Unit = {
    // --scala: emit the census as ready-to-paste ScanCensusSpec map
    // entries — the committed expectations deliberately pin
    // Spark-version- and AQE-dependent plan shapes (they're a tripwire),
    // so a Spark upgrade reds many at once by design; this mode makes
    // the audited update a one-commit paste instead of N hand edits.
    // Flags are position-independent; positionals are sfDir [name ...].
    val asScala = args.contains("--scala")
    val positional = args.filterNot(_.startsWith("--"))
    val sfDir = positional(0)
    val only = positional.drop(1).toSet
    val spark = ToolSession.session(
      Map("spark.sql.extensions" -> "graft.GraftExtensions"))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val c = census(fn(spark, sfDir))
          if (asScala) println(s"""    "$name" -> ((${c.scans}, ${c.reused})),""")
          else println(f"[scan-audit] $name%-22s scans=${c.scans} reused=${c.reused}  ${c.tablesStr}")
        } catch {
          case e: Throwable =>
            // in --scala mode a failure must still be a comment INSIDE
            // the pasteable block (never a silently-missing map key —
            // the spec's coverage assertion would only catch it later)
            if (asScala) println(s"""    // "$name" -> FAILED: ${e.getMessage}""")
            else println(s"[scan-audit] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
