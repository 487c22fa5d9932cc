package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kernels

/** c8: training-data text analysis per document — language-ID heuristic,
  * quality scoring, BPE-ish regex token counting, and rolling-hash
  * document fingerprinting (SURVEY.md §2B extension; the four text ops
  * a 100 TB pretraining pipeline filters with).
  *
  * Every feature is built from integer counts, exact divisions, or
  * md5-derived 60-bit hashes, so the DuckDB oracle matches bit-for-bit.
  */
object TextQuality {

  /** stopword list for the language-ID vote + stop-ratio quality signal */
  private val Stops = Seq("the", "a", "of", "and", "is")
  private val stopsSql = Stops.map(s => s"'$s'").mkString(", ")

  /** BPE-ish tokenizer: letter runs, digit runs, single non-space symbols */
  private val BpePat = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def c8_textQuality(spark: SparkSession, d: String): DataFrame = {
    Tables.documents(spark, d).select(
      col("doc_id"), col("lang"),
      split(col("text"), " ").as("t"),
      length(col("text")).cast("long").as("n_char"),
      // fused kernels replace the two allocation-bound HOF pipelines —
      // bit-identical to the portable twin below (pinned in scalatest;
      // the DuckDB oracle keeps mirroring the portable form):
      // bpe_count_simple = size(regexp_extract_all(text, BpePat)),
      // shingle_fold = [array_min, xor-fold] of the 60-bit md5 hashes
      // of all 3-token shingles (BENCH_NOTES (bb))
      Kernels.bpeCountSimple(col("text")).as("n_tok_bpe"),
      Kernels.shingleFold(col("text")).as("sf"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("stop_hits",
        size(expr(s"filter(t, x -> x IN ($stopsSql))")).cast("long"))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tok"))
      .withColumn("mean_tok_len",
        (col("n_char") - (col("n_tok") - 1)).cast("double") / col("n_tok"))
      .withColumn("lang_guess",
        when(col("stop_ratio") >= 0.02, "en").otherwise("unk"))
      .withColumn("quality",
        when(col("n_tok").between(5, 1000) && col("mean_tok_len").between(2.0, 12.0), 0.5)
          .otherwise(0.0) + col("stop_ratio"))
      .withColumn("fp_min", expr("sf[0]"))
      .withColumn("fp_xor", expr("sf[1]"))
      .select(col("doc_id"), col("lang"), col("lang_guess"), col("n_tok"),
        col("n_tok_bpe"), col("n_char"), col("stop_hits"), col("stop_ratio"),
        col("mean_tok_len"), col("quality"), col("fp_min"), col("fp_xor"))
      .orderBy(col("doc_id"))
  }

  /** the portable HOF/regex form of c8 — the cross-check twin for the
    * two fused kernels (equality pinned in scalatest; the DuckDB
    * oracle mirrors THIS form)
    */
  private[graft] def c8_textQualityPortable(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d).select(
      col("doc_id"), col("lang"),
      split(col("text"), " ").as("t"),
      length(col("text")).cast("long").as("n_char"),
      size(regexp_extract_all(col("text"), lit(BpePat), lit(0))).cast("long").as("n_tok_bpe"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("stop_hits",
        size(expr(s"filter(t, x -> x IN ($stopsSql))")).cast("long"))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tok"))
      .withColumn("mean_tok_len",
        (col("n_char") - (col("n_tok") - 1)).cast("double") / col("n_tok"))
      .withColumn("lang_guess",
        when(col("stop_ratio") >= 0.02, "en").otherwise("unk"))
      .withColumn("quality",
        when(col("n_tok").between(5, 1000) && col("mean_tok_len").between(2.0, 12.0), 0.5)
          .otherwise(0.0) + col("stop_ratio"))
      // rolling-hash fingerprint over 3-token shingles: min-hash
      // (winnowing with a whole-document window) + order-independent
      // xor-fold. Both folds stay INSIDE the row via higher-order
      // functions — the fingerprint needs no explode, no shuffle, and
      // no join-back, so the whole query is one scan + one pure map
      // (the only exchange left is the presentation sort). xor's
      // identity is 0, so the fold seeds with 0L; a document with
      // fewer than 3 tokens has no shingles → null array → both
      // fingerprints null, exactly the old left-join's miss behavior.
      .withColumn("sh", expr(
        "CASE WHEN size(t) >= 3 THEN transform(sequence(0, size(t)-3)," +
          " i -> cast(conv(substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 15), 16, 10) as bigint)) END"))
      .withColumn("fp_min", expr("array_min(sh)"))
      .withColumn("fp_xor", expr("aggregate(sh, 0L, (a, x) -> a ^ x)"))
      .select(col("doc_id"), col("lang"), col("lang_guess"), col("n_tok"),
        col("n_tok_bpe"), col("n_char"), col("stop_hits"), col("stop_ratio"),
        col("mean_tok_len"), col("quality"), col("fp_min"), col("fp_xor"))
      .orderBy(col("doc_id"))

  /** c29 repetition flags — count-fraction adaptations of the Gopher
    * duplicate-n-gram quality rules (Rae et al. 2021 §A1.1 use
    * character fractions; the count form keeps the whole query in
    * exact integers). A document whose duplicate 2/3/4-gram fraction
    * exceeds its bound is boilerplate/looping text a pretraining
    * pipeline drops.
    */
  val Dup2MaxE6 = 200000L
  val Dup3MaxE6 = 180000L
  val Dup4MaxE6 = 160000L

  /** c29: repetition statistics — the duplicate-n-gram quality gate
    * (Gopher-style) next to c8's length/stopword signals: per
    * document, the fraction of duplicate 2-, 3- and 4-grams as exact
    * e6 rationals (BIGINT arithmetic end to end — no float division,
    * engines agree bit-for-bit) and the repetitive flag against
    * [[Dup2MaxE6]]/[[Dup3MaxE6]]/[[Dup4MaxE6]]. Null/short text
    * yields zero fractions and a false flag (c23's null posture —
    * totality, not abortion).
    *
    * Scale (100 TB): pure per-row work, c23's shape — the n-gram
    * arrays live and die inside the projection (size +
    * array_distinct are linear in document length; no per-doc
    * explode, no shuffle, no join; the only exchange is the
    * presentation orderBy a lake job drops).
    */
  /** null-total whitespace tokenization (shared by c29/c30) */
  private def tokCol = when(col("text").isNull, array().cast("array<string>"))
    .otherwise(split(col("text"), " "))

  /** the n-gram array over `t`, empty (not null) when too short */
  private def grams(n: Int) = {
    val parts = (0 until n).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(", ")
    expr(s"CASE WHEN size(t) >= $n THEN transform(sequence(0, size(t)-$n), " +
      s"i -> concat_ws(' ', $parts)) ELSE array() END")
  }

  // BIGINT before the ×1e6: an int count would overflow past ~2k grams
  private def dupE6(n: Int) = expr(
    s"CASE WHEN size(g$n) = 0 THEN CAST(0 AS BIGINT) ELSE " +
      s"CAST(size(g$n) - size(array_distinct(g$n)) AS BIGINT) * 1000000 " +
      s"DIV CAST(size(g$n) AS BIGINT) END").as(s"dup${n}_e6")

  /** dup fraction from the fused [[graft.functions.GramCensus]] array
    * ([n_tok, g2, d2, g3, d3, g4, d4]) — same exact BIGINT rational as
    * [[dupE6]] over the portable gram arrays
    */
  private def dupE6K(n: Int) = {
    val tot = s"gc[${1 + (n - 2) * 2}]"
    val dis = s"gc[${2 + (n - 2) * 2}]"
    expr(s"CASE WHEN $tot = 0 THEN CAST(0 AS BIGINT) ELSE " +
      s"($tot - $dis) * 1000000 DIV $tot END").as(s"dup${n}_e6")
  }

  def c29_repetitionStats(spark: SparkSession, d: String): DataFrame = {
    // the fused census kernel: one byte walk, exact slice-compare
    // distinct — bit-identical to the portable twin below (pinned in
    // scalatest; the DuckDB oracle keeps mirroring the portable form)
    Tables.documents(spark, d)
      .select(col("doc_id"), Kernels.gramCensus(col("text")).as("gc"))
      .select(col("doc_id"), expr("gc[0]").as("n_tok"),
        dupE6K(2), dupE6K(3), dupE6K(4))
      .withColumn("is_repetitive",
        col("dup2_e6") > Dup2MaxE6 || col("dup3_e6") > Dup3MaxE6 ||
          col("dup4_e6") > Dup4MaxE6)
      .orderBy(col("doc_id"))
  }

  /** the portable HOF form of c29 — the cross-check twin for
    * [[graft.functions.GramCensus]] (equality pinned in scalatest)
    */
  private[graft] def c29_repetitionStatsPortable(spark: SparkSession, d: String): DataFrame = {
    Tables.documents(spark, d)
      .select(col("doc_id"), tokCol.as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("g2", grams(2)).withColumn("g3", grams(3)).withColumn("g4", grams(4))
      .select(col("doc_id"), col("n_tok"), dupE6(2), dupE6(3), dupE6(4))
      .withColumn("is_repetitive",
        col("dup2_e6") > Dup2MaxE6 || col("dup3_e6") > Dup3MaxE6 ||
          col("dup4_e6") > Dup4MaxE6)
      .orderBy(col("doc_id"))
  }

  /** c30 keep/drop thresholds — the gate ladder's named constants.
    * Length band and token-length band are c8's quality bands; the
    * stop-ratio floor is c8's lang-guess threshold (2%); the
    * repetition bounds are c29's. All comparisons run in the exact
    * cross-multiplied integer form (`50·stop_hits ≥ n_tok` ⇔
    * `stop_ratio ≥ 0.02`), so the verdict is a pure BIGINT decision —
    * no float rounding can flip a boundary document between engines.
    */
  val MinTok = 5L
  val MaxTok = 1000L
  val MinMeanTokLenX = 2L  // mean_tok_len ≥ 2  ⇔  n_char−n_tok+1 ≥ 2·n_tok
  val MaxMeanTokLenX = 12L // mean_tok_len ≤ 12 ⇔  n_char−n_tok+1 ≤ 12·n_tok
  val StopDenom = 50L      // stop_ratio ≥ 1/50

  /** c30: the composed quality gate — the single keep/drop decision a
    * curation pipeline derives from the per-doc signals (the
    * FineWeb/Gopher pattern: individual filters c8/c29 compute scores;
    * THIS row-level verdict with a reason code is what the corpus
    * writer consumes and what the curation report audits). The ladder
    * is ordered — the FIRST failing gate names the reason — so
    * per-reason drop counts partition the corpus exactly:
    * `too_short` → `too_long` → `bad_tok_len` → `low_stop` →
    * `repetitive` → `keep`.
    *
    * Scale (100 TB): every signal and every comparison is per-row
    * integer work in ONE projection over ONE corpus scan — no join
    * against c8/c29 outputs (recomputing a column is cheaper than
    * shuffling 100 TB twice), no hash exchange (PlanSpec-pinned), and
    * the verdict column is exactly what a writer's partition-by-reason
    * sink consumes. Null/short text falls out of the ladder at
    * `too_short` (c23's totality posture).
    */
  /** the per-doc signal+verdict frame shared by c30 (row grain), c32
    * (per-source census grain) and s11 (the same transform over a
    * STREAMING documents frame — stateless pure maps, so append mode
    * needs no watermark) — carries `source` through
    */
  def gateVerdictOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), col("source"), tokCol.as("t"),
        coalesce(length(col("text")).cast("long"), lit(0L)).as("n_char"),
        // the fused census replaces the three gram+distinct HOF
        // pipelines (c29's kernel; pinned bit-identical in scalatest)
        Kernels.gramCensus(col("text")).as("gc"))
      .withColumn("n_tok", expr("gc[0]"))
      .withColumn("stop_hits",
        size(expr(s"filter(t, x -> x IN ($stopsSql))")).cast("long"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("n_char"),
        col("stop_hits"), dupE6K(2), dupE6K(3), dupE6K(4))
      .withColumn("reason",
        when(col("n_tok") < MinTok, "too_short")
          .when(col("n_tok") > MaxTok, "too_long")
          .when(col("n_char") - col("n_tok") + 1 < lit(MinMeanTokLenX) * col("n_tok") ||
            col("n_char") - col("n_tok") + 1 > lit(MaxMeanTokLenX) * col("n_tok"),
            "bad_tok_len")
          .when(col("stop_hits") * StopDenom < col("n_tok"), "low_stop")
          .when(col("dup2_e6") > Dup2MaxE6 || col("dup3_e6") > Dup3MaxE6 ||
            col("dup4_e6") > Dup4MaxE6, "repetitive")
          .otherwise("keep"))
      .withColumn("kept", col("reason") === "keep")
  }

  /** c30's output projection over the verdict frame (shared with s11) */
  def gateRows(docs: DataFrame): DataFrame =
    gateVerdictOf(docs)
      .select(col("doc_id"), col("n_tok"), col("n_char"), col("stop_hits"),
        col("dup2_e6"), col("dup3_e6"), col("dup4_e6"), col("reason"), col("kept"))

  def c30_qualityGate(spark: SparkSession, d: String): DataFrame =
    gateRows(Tables.documents(spark, d)).orderBy(col("doc_id"))

  /** c32: the per-source curation funnel — c30's verdict rolled up to
    * (source, reason) grain: document counts and token/char mass per
    * rung, per corpus slice. This is the census a curation report
    * publishes (RefinedWeb/FineWeb-style per-domain funnels) and what
    * an operator watches to see WHICH feed is losing documents to
    * WHICH gate.
    *
    * Scale (100 TB): the per-doc verdict is the same single-scan
    * projection as c30; the rollup is ONE map-side-combined groupBy
    * whose key space is |sources| × 6 reasons — KB-sized partials, one
    * hash exchange total (PlanSpec-pinned). The n-gram arrays reduce
    * to three BIGINTs before the shuffle, so no document bytes move.
    */
  def c32_domainStats(spark: SparkSession, d: String): DataFrame =
    gateVerdictOf(Tables.documents(spark, d))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_sum"),
        sum(col("n_char")).as("char_sum"))
      .orderBy(col("source"), col("reason"))

  /** c31 PII patterns — deliberately restricted to the Java-regex ∩ RE2
    * common subset (no lookaround, no backrefs, ASCII `\d`/`\b`), so
    * Spark's codegen'd regexp kernels and the DuckDB oracle match
    * byte-for-byte. Redaction applies the four replaces in this fixed
    * order (each global), which makes the output deterministic even
    * where patterns could overlap.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnPat = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhonePat = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** c31: PII detection + redaction — the scrub stage a pretraining
    * pipeline runs before the corpus writer (emails / SSNs / phone
    * numbers / IPv4 addresses → typed placeholder tokens, the
    * CCNet/RefinedWeb/Dolma pattern). Counts are measured per pattern
    * on the ORIGINAL text (so the census is order-independent);
    * redaction applies the four global replaces in the fixed
    * email → ssn → phone → ip order. Null text stays null with zero
    * counts (totality).
    *
    * Scale (100 TB): pure per-row regexp work in one projection over
    * one corpus scan — the patterns compile once per task and run in
    * Spark's codegen'd regexp kernels; no shuffle, no join
    * (PlanSpec-pinned). The corpus's synthetic text carries no PII, so
    * the fixture oracle exercises the zero-hit passthrough; the
    * semantics are pinned on crafted PII fixtures in scalatest.
    */
  def c31_piiRedact(spark: SparkSession, d: String): DataFrame =
    piiOf(Tables.documents(spark, d)).orderBy(col("doc_id"))

  /** c31's scrub as a frame transform (shared with the s12 stream —
    * stateless pure per-row regexp maps, so append mode needs no
    * watermark), unordered
    */
  def piiOf(docs: DataFrame): DataFrame = {
    def cnt(pat: String) = regexp_count(col("text"), lit(pat)).cast("long")
    docs
      .select(col("doc_id"),
        coalesce(cnt(EmailPat), lit(0L)).as("n_email"),
        coalesce(cnt(SsnPat), lit(0L)).as("n_ssn"),
        coalesce(cnt(PhonePat), lit(0L)).as("n_phone"),
        coalesce(cnt(Ipv4Pat), lit(0L)).as("n_ip"),
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), lit(EmailPat), lit("<EMAIL>")),
              lit(SsnPat), lit("<SSN>")),
            lit(PhonePat), lit("<PHONE>")),
          lit(Ipv4Pat), lit("<IP>")).as("text_redacted"))
      .withColumn("n_pii",
        col("n_email") + col("n_ssn") + col("n_phone") + col("n_ip"))
      .withColumn("has_pii", col("n_pii") > 0L)
  }

  /** c34 patterns — Java-regex ∩ RE2 subset; both engines count CODE
    * POINTS (Java character classes iterate code points, RE2 decodes
    * UTF-8), so astral symbols count once everywhere.
    */
  val NonAsciiPat = "[^\\x00-\\x7F]"
  val CtrlPat = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
  val ReplacementPat = "�"
  /** mojibake flag: below this many ASCII chars per million, or ANY
    * replacement character, the decode step upstream went wrong
    */
  val AsciiMinE6 = 650000L

  /** c34: encoding-health statistics — the decode-sanity gate a web
    * pipeline runs before any text analysis (CCNet/RefinedWeb drop
    * mojibake and transcode failures at ingest): per document, code
    * point counts of non-ASCII, C0-control (excluding tab/LF/CR) and
    * U+FFFD replacement characters, the exact-rational ASCII fraction,
    * and the mojibake flag (ASCII fraction under [[AsciiMinE6]] per
    * million OR any replacement char — a U+FFFD is definitionally a
    * decoder failure). Null/empty text: zero counts, e6 fraction 0,
    * flag false (totality).
    *
    * Scale (100 TB): pure per-row regexp counting in one projection
    * over one corpus scan — no join, zero hash exchanges
    * (PlanSpec-pinned); all-BIGINT arithmetic so both engines agree
    * bit-for-bit. The fixture corpus is pure ASCII, so the driver
    * oracle pins the clean-pass path; mojibake semantics are pinned on
    * crafted unicode fixtures in scalatest (and the dirty-corpus sweep
    * feeds it real unicode).
    */
  def c34_encodingStats(spark: SparkSession, d: String): DataFrame = {
    Tables.documents(spark, d)
      // the fused kernel: ONE UTF-8 byte walk for all four counts
      // (BENCH_NOTES (ay): the portable form's character-class regexes
      // pay three full sweeps; bit-identity pinned in WinnowLangSpec)
      .select(col("doc_id"), Kernels.encodingCensus(col("text")).as("ec"))
      .select(col("doc_id"),
        coalesce(expr("ec[0]"), lit(0L)).as("n_char"),
        coalesce(expr("ec[1]"), lit(0L)).as("n_nonascii"),
        coalesce(expr("ec[2]"), lit(0L)).as("n_ctrl"),
        coalesce(expr("ec[3]"), lit(0L)).as("n_replacement"))
      .withColumn("ascii_e6",
        when(col("n_char") === 0L, 0L)
          .otherwise(expr("(n_char - n_nonascii) * 1000000L DIV n_char")))
      .withColumn("is_mojibake",
        col("n_replacement") > 0L ||
          (col("n_char") > 0L && col("ascii_e6") < AsciiMinE6))
      .orderBy(col("doc_id"))
  }

  /** the portable four-pass form of c34's counting — kept as the
    * cross-check twin for the fused kernel (the WinnowFps pattern:
    * equality pinned in scalatest; the DuckDB oracle mirrors THIS form)
    */
  private[graft] def c34_encodingStatsPortable(spark: SparkSession, d: String): DataFrame = {
    def cnt(pat: String) = coalesce(
      regexp_count(col("text"), lit(pat)).cast("long"), lit(0L))
    Tables.documents(spark, d)
      .select(col("doc_id"),
        coalesce(length(col("text")).cast("long"), lit(0L)).as("n_char"),
        cnt(NonAsciiPat).as("n_nonascii"),
        cnt(CtrlPat).as("n_ctrl"),
        cnt(ReplacementPat).as("n_replacement"))
      .withColumn("ascii_e6",
        when(col("n_char") === 0L, 0L)
          .otherwise(expr("(n_char - n_nonascii) * 1000000L DIV n_char")))
      .withColumn("is_mojibake",
        col("n_replacement") > 0L ||
          (col("n_char") > 0L && col("ascii_e6") < AsciiMinE6))
      .orderBy(col("doc_id"))
  }

  val oracles: Map[String, String] = Map(
    "c34_encoding_stats" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(COALESCE(length(text), 0) AS BIGINT) AS n_char,
         |  CAST(COALESCE(len(regexp_extract_all(text, '$NonAsciiPat')), 0) AS BIGINT) AS n_nonascii,
         |  CAST(COALESCE(len(regexp_extract_all(text, '$CtrlPat')), 0) AS BIGINT) AS n_ctrl,
         |  CAST(COALESCE(len(regexp_extract_all(text, '$ReplacementPat')), 0) AS BIGINT) AS n_replacement
         |  FROM documents)
         |SELECT doc_id, n_char, n_nonascii, n_ctrl, n_replacement,
         |  CAST(CASE WHEN n_char = 0 THEN 0
         |       ELSE (n_char - n_nonascii) * 1000000 // n_char END AS BIGINT) AS ascii_e6,
         |  (n_replacement > 0 OR (n_char > 0 AND
         |    CASE WHEN n_char = 0 THEN 0
         |         ELSE (n_char - n_nonascii) * 1000000 // n_char END < $AsciiMinE6))
         |    AS is_mojibake
         |FROM c ORDER BY doc_id""".stripMargin,
    "c29_repetition_stats" ->
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN [] ELSE str_split(text, ' ') END AS t
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
         |  CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) ELSE [] END AS g2,
         |  CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3,
         |  CASE WHEN len(t) >= 4 THEN list_transform(range(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) ELSE [] END AS g4
         |  FROM t),
         |s AS (SELECT doc_id, n_tok,
         |  CAST(CASE WHEN len(g2) = 0 THEN 0 ELSE (len(g2) - len(list_distinct(g2))) * 1000000 // len(g2) END AS BIGINT) AS dup2_e6,
         |  CAST(CASE WHEN len(g3) = 0 THEN 0 ELSE (len(g3) - len(list_distinct(g3))) * 1000000 // len(g3) END AS BIGINT) AS dup3_e6,
         |  CAST(CASE WHEN len(g4) = 0 THEN 0 ELSE (len(g4) - len(list_distinct(g4))) * 1000000 // len(g4) END AS BIGINT) AS dup4_e6
         |  FROM g)
         |SELECT doc_id, n_tok, dup2_e6, dup3_e6, dup4_e6,
         |  (dup2_e6 > $Dup2MaxE6 OR dup3_e6 > $Dup3MaxE6 OR dup4_e6 > $Dup4MaxE6) AS is_repetitive
         |FROM s ORDER BY doc_id""".stripMargin,
    "c31_pii_redact" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(COALESCE(len(regexp_extract_all(text, '$EmailPat')), 0) AS BIGINT) AS n_email,
         |  CAST(COALESCE(len(regexp_extract_all(text, '$SsnPat')), 0) AS BIGINT) AS n_ssn,
         |  CAST(COALESCE(len(regexp_extract_all(text, '$PhonePat')), 0) AS BIGINT) AS n_phone,
         |  CAST(COALESCE(len(regexp_extract_all(text, '$Ipv4Pat')), 0) AS BIGINT) AS n_ip,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(text, '$EmailPat', '<EMAIL>', 'g'),
         |        '$SsnPat', '<SSN>', 'g'),
         |      '$PhonePat', '<PHONE>', 'g'),
         |    '$Ipv4Pat', '<IP>', 'g') AS text_redacted
         |  FROM documents)
         |SELECT doc_id, n_email, n_ssn, n_phone, n_ip, text_redacted,
         |  n_email + n_ssn + n_phone + n_ip AS n_pii,
         |  n_email + n_ssn + n_phone + n_ip > 0 AS has_pii
         |FROM c ORDER BY doc_id""".stripMargin,
    "c32_domain_stats" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CASE WHEN text IS NULL THEN [] ELSE str_split(text, ' ') END AS t,
         |  CAST(COALESCE(length(text), 0) AS BIGINT) AS n_char
         |  FROM documents),
         |g AS (SELECT doc_id, source, n_char, CAST(len(t) AS BIGINT) AS n_tok,
         |  CAST(len(list_filter(t, x -> x IN ($stopsSql))) AS BIGINT) AS stop_hits,
         |  CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) ELSE [] END AS g2,
         |  CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3,
         |  CASE WHEN len(t) >= 4 THEN list_transform(range(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) ELSE [] END AS g4
         |  FROM t),
         |s AS (SELECT doc_id, source, n_tok, n_char, stop_hits,
         |  CAST(CASE WHEN len(g2) = 0 THEN 0 ELSE (len(g2) - len(list_distinct(g2))) * 1000000 // len(g2) END AS BIGINT) AS dup2_e6,
         |  CAST(CASE WHEN len(g3) = 0 THEN 0 ELSE (len(g3) - len(list_distinct(g3))) * 1000000 // len(g3) END AS BIGINT) AS dup3_e6,
         |  CAST(CASE WHEN len(g4) = 0 THEN 0 ELSE (len(g4) - len(list_distinct(g4))) * 1000000 // len(g4) END AS BIGINT) AS dup4_e6
         |  FROM g),
         |v AS (SELECT *,
         |  CASE WHEN n_tok < $MinTok THEN 'too_short'
         |       WHEN n_tok > $MaxTok THEN 'too_long'
         |       WHEN n_char - n_tok + 1 < $MinMeanTokLenX * n_tok
         |         OR n_char - n_tok + 1 > $MaxMeanTokLenX * n_tok THEN 'bad_tok_len'
         |       WHEN stop_hits * $StopDenom < n_tok THEN 'low_stop'
         |       WHEN dup2_e6 > $Dup2MaxE6 OR dup3_e6 > $Dup3MaxE6
         |         OR dup4_e6 > $Dup4MaxE6 THEN 'repetitive'
         |       ELSE 'keep' END AS reason
         |  FROM s)
         |SELECT source, reason, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_sum,
         |  CAST(sum(n_char) AS BIGINT) AS char_sum
         |FROM v GROUP BY source, reason
         |ORDER BY source NULLS FIRST, reason""".stripMargin,
    "c30_quality_gate" ->
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN [] ELSE str_split(text, ' ') END AS t,
         |  CAST(COALESCE(length(text), 0) AS BIGINT) AS n_char
         |  FROM documents),
         |g AS (SELECT doc_id, n_char, CAST(len(t) AS BIGINT) AS n_tok,
         |  CAST(len(list_filter(t, x -> x IN ($stopsSql))) AS BIGINT) AS stop_hits,
         |  CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) ELSE [] END AS g2,
         |  CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3,
         |  CASE WHEN len(t) >= 4 THEN list_transform(range(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) ELSE [] END AS g4
         |  FROM t),
         |s AS (SELECT doc_id, n_tok, n_char, stop_hits,
         |  CAST(CASE WHEN len(g2) = 0 THEN 0 ELSE (len(g2) - len(list_distinct(g2))) * 1000000 // len(g2) END AS BIGINT) AS dup2_e6,
         |  CAST(CASE WHEN len(g3) = 0 THEN 0 ELSE (len(g3) - len(list_distinct(g3))) * 1000000 // len(g3) END AS BIGINT) AS dup3_e6,
         |  CAST(CASE WHEN len(g4) = 0 THEN 0 ELSE (len(g4) - len(list_distinct(g4))) * 1000000 // len(g4) END AS BIGINT) AS dup4_e6
         |  FROM g),
         |v AS (SELECT *,
         |  CASE WHEN n_tok < $MinTok THEN 'too_short'
         |       WHEN n_tok > $MaxTok THEN 'too_long'
         |       WHEN n_char - n_tok + 1 < $MinMeanTokLenX * n_tok
         |         OR n_char - n_tok + 1 > $MaxMeanTokLenX * n_tok THEN 'bad_tok_len'
         |       WHEN stop_hits * $StopDenom < n_tok THEN 'low_stop'
         |       WHEN dup2_e6 > $Dup2MaxE6 OR dup3_e6 > $Dup3MaxE6
         |         OR dup4_e6 > $Dup4MaxE6 THEN 'repetitive'
         |       ELSE 'keep' END AS reason
         |  FROM s)
         |SELECT doc_id, n_tok, n_char, stop_hits, dup2_e6, dup3_e6, dup4_e6,
         |  reason, reason = 'keep' AS kept
         |FROM v ORDER BY doc_id""".stripMargin,
    "c8_text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |    str_split(text, ' ') AS t,
         |    CAST(length(text) AS BIGINT) AS n_char,
         |    CAST(len(regexp_extract_all(text, '$BpePat')) AS BIGINT) AS n_tok_bpe
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, lang, n_char, n_tok_bpe,
         |    CAST(len(t) AS BIGINT) AS n_tok,
         |    CAST(len(list_filter(t, x -> x IN ($stopsSql))) AS BIGINT) AS stop_hits
         |  FROM base),
         |sh AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15) AS BIGINT) AS h
         |  FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents
         |        WHERE len(str_split(text, ' ')) >= 3), unnest(range(1, len(t) - 1)) AS r(i)),
         |fp AS (SELECT doc_id, MIN(h) AS fp_min, bit_xor(h) AS fp_xor FROM sh GROUP BY doc_id)
         |SELECT f.doc_id, f.lang,
         |  CASE WHEN CAST(stop_hits AS DOUBLE) / n_tok >= 0.02 THEN 'en' ELSE 'unk' END AS lang_guess,
         |  n_tok, n_tok_bpe, n_char, stop_hits,
         |  CAST(stop_hits AS DOUBLE) / n_tok AS stop_ratio,
         |  CAST(n_char - (n_tok - 1) AS DOUBLE) / n_tok AS mean_tok_len,
         |  (CASE WHEN n_tok BETWEEN 5 AND 1000
         |        AND CAST(n_char - (n_tok - 1) AS DOUBLE) / n_tok BETWEEN 2.0 AND 12.0
         |        THEN 0.5 ELSE 0.0 END) + CAST(stop_hits AS DOUBLE) / n_tok AS quality,
         |  fp.fp_min, CAST(fp.fp_xor AS BIGINT) AS fp_xor
         |FROM feats f LEFT JOIN fp ON fp.doc_id = f.doc_id
         |ORDER BY f.doc_id""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c8_text_quality" -> c8_textQuality _,
    "c29_repetition_stats" -> c29_repetitionStats _,
    "c30_quality_gate" -> c30_qualityGate _,
    "c31_pii_redact" -> c31_piiRedact _,
    "c32_domain_stats" -> c32_domainStats _,
    "c34_encoding_stats" -> c34_encodingStats _,
  )
}
