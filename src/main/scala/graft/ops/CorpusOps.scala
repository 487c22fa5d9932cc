package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Kernels

/** Corpus-preparation operators for the LLM-training-data pipeline
  * (BASELINE.json north star): normalization, deterministic splits,
  * and term weighting — the steps between raw documents and a
  * training-ready corpus.
  *
  * Scale notes (100 TB): c10 is a pure per-row map (no shuffle). c11 is
  * a per-row hash — THE way to split a petabyte corpus into train/val/
  * test (stable under reruns and insertions, no global sort, no RNG
  * state). c12 is two hash aggregations plus a broadcast of the tiny
  * per-term document-frequency table; the only data-sized shuffle is
  * the (doc, term) term-frequency reduce.
  *
  * Determinism notes: c12 deliberately scores with the RATIONAL idf
  * (N/df) instead of ln(N/df) — tf·N is an exact integer and one IEEE
  * division is bit-identical across engines, while ln() may differ in
  * the last ulp between Java's and DuckDB's libm and flip a FLOOR.
  */
object CorpusOps {

  /** Stopwords for c10 — tokens present in the fixture vocabulary. */
  val Stopwords = Seq("the", "a")

  /** c10: text normalization — drop stopwords, keep original/kept token
    * counts and the cleaned text. Pure map, no shuffle.
    */
  def c10_stopwordFilter(spark: SparkSession, d: String): DataFrame = {
    val stop = Stopwords.map(s => s"'$s'").mkString(", ")
    Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_orig"),
        expr(s"CAST(size(filter(t, x -> x NOT IN ($stop))) AS BIGINT)").as("n_kept"),
        expr(s"concat_ws(' ', filter(t, x -> x NOT IN ($stop)))").as("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** c11: deterministic hash split — md5 of the document key buckets
    * each row into train/val/test (8/1/1). Stable across reruns and
    * engines (md5 is engine-independent), no RNG, no shuffle.
    */
  def c11_hashSample(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"),
        expr("pmod(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10), 10)")
          .cast("long").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 8, "train").when(col("bucket") === 8, "val").otherwise("test"))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  /** c12: per-document top-3 terms by tf·(N/df) — tf-idf-shaped term
    * weighting with the rational idf (see object doc). Two reduces; the
    * df table joins UN-hinted: it is vocabulary-sized, which an open
    * vocabulary makes unbounded at lake scale, so forcing a broadcast
    * would be the wrong contract — the planner/AQE broadcasts it while
    * it is small and falls back to the shuffle equi-join when it is
    * not. Only the single-row corpus count N is broadcast by fiat.
    */
  def c12_tfidfTopTerms(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // The filter is a tautology (a group's count(*) is always ≥ 1) but
    // it REFERENCES the tf column, which keeps the df branch's partial
    // aggregate identical to the join side's (column pruning would
    // otherwise drop the count from this copy, the two subtrees would
    // no longer canonicalize equal, and ReuseExchange could not fire —
    // the corpus would be scanned+exploded twice). With it, both sides
    // read the ONE shuffled tf stage: one corpus scan, not two.
    val df = tf.filter(col("tf") >= 1).groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val score = col("tf").cast("double") * col("n") / col("df")
    val w = Window.partitionBy(col("doc_id")).orderBy(score.desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"),
        floor(score * 1e6).cast("long").as("score_e6"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Per-stratum cap for c13 — sized so the dominant `en` stratum is
    * downsampled while the minority languages pass through whole at the
    * fixture scales (en ≈ 200/stratum at sf0.01, others 60-80).
    */
  val StratumCap = 100L

  /** c13: stratified downsampling — cap each language stratum at
    * [[StratumCap]] documents, chosen by md5 rank so the selection is
    * deterministic, engine-independent, and stable under reruns (the
    * same property c11 gives splits, lifted to per-group selection).
    * This is the "cap the dominant language" step of corpus balancing.
    *
    * Scale (100 TB): one shuffle on `lang`, then a sort-based running
    * row_number — WindowExec streams the sorted partition with O(1)
    * state, and the sort itself spills, so a dominant stratum costs
    * disk, not memory. If one stratum out-sizes a single task's spill
    * budget, pre-filter with an approximate hash threshold
    * (rate ≈ cap/count, broadcast per-stratum counts) before the exact
    * window — the census-then-filter pattern; not needed at any tested
    * scale, so the shipped plan stays the exact one-shuffle form.
    */
  def c13_stratifiedSample(spark: SparkSession, d: String): DataFrame =
    capStrata(Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), stratumKey.as("rank_key")))

  /** The deterministic per-stratum rank key. ONE definition shared by
    * c13 and x_stratified_prefilter: the variant's whole contract is
    * bit-equality with c13, so the key must be impossible to
    * desynchronize.
    */
  private[ops] def stratumKey =
    md5(concat(coalesce(col("lang"), lit("")), lit("|"),
      col("doc_id").cast("string")))

  /** Exact cap stage shared by c13 (whole corpus) and
    * x_stratified_prefilter (pre-cut survivors): rank within stratum by
    * (rank_key, doc_id), keep the top [[StratumCap]].
    */
  private[ops] def capStrata(ranked: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("rank_key"), col("doc_id"))
    ranked
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= StratumCap)
      .select(col("doc_id"), col("lang"), col("rnk"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** Pre-filter safety factor for the x_stratified_prefilter scale
    * path: the hash threshold keeps ~Safety×cap of each stratum, so the
    * probability that a true top-cap row is cut (which would diverge
    * from c13) is Chernoff-negligible at cap=100, Safety=4.
    */
  val PrefilterSafety = 4.0

  /** The 100 TB path c13's scaladoc names: census-then-filter. A
    * stratum bigger than one task's spill budget would make c13's
    * exact per-stratum sort the bottleneck, so first broadcast the
    * per-stratum counts (one tiny map-side-combined aggregate), keep
    * only rows whose uniform md5 fraction falls inside
    * Safety×cap/count, THEN run the exact window on the ~Safety×cap
    * survivors per stratum — sort input is bounded by a constant,
    * independent of stratum size. Output equals c13 whenever the
    * pre-filter retains every true top-cap row (always, at the tested
    * scales — pinned by the equality test); rows-only in the driver
    * gate, like the other x_* scale variants.
    */
  def x_stratifiedPrefilter(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), stratumKey.as("rank_key"))
    val counts = docs.groupBy(col("lang").as("lang_c"))
      .agg(count(lit(1)).as("n_stratum"))
    val frac = conv(substring(col("rank_key"), 1, 8), 16, 10)
      .cast("double") / lit(4294967295.0)
    val rate = least(lit(1.0),
      lit(PrefilterSafety * StratumCap) / col("n_stratum").cast("double"))
    val pre = docs
      .join(broadcast(counts), col("lang") <=> col("lang_c"), "left")
      .filter(frac <= rate)
    capStrata(guardStrata(pre))
  }

  /** Runtime guard on x_stratified_prefilter's probabilistic cut: each
    * stratum must keep at least min(cap, n_stratum) survivors, or the
    * exact window downstream would silently return fewer than c13's
    * rows — the one way the variant can diverge. Chernoff-negligible at
    * Safety=4, but at an untested scale "negligible" deserves a
    * tripwire, not trust. The count window rides the same lang
    * partitioning as capStrata's rank window, and its buffered input is
    * the post-cut ~Safety×cap rows per stratum, so the guard costs no
    * exchange and bounded memory. assert_true is NULL when satisfied
    * (the filter then keeps every row unchanged); an undersized stratum
    * fails the job with the stratum named, instead of shipping a
    * silently-short sample (firing pinned in NewOpsSpec).
    */
  private[graft] def guardStrata(pre: DataFrame): DataFrame = pre
    .withColumn("n_surv", count(lit(1)).over(Window.partitionBy(col("lang"))))
    .filter(assert_true(
      col("n_surv") >= least(lit(StratumCap), col("n_stratum")),
      concat(lit("stratified prefilter cut below the cap in stratum "),
        coalesce(col("lang"), lit("<null>")))).isNull)
    .drop("n_surv")

  /** Token budget per packed training sequence for c14. */
  val SeqBudget = 256L

  /** c14: sequence packing — the concatenate-then-chunk step that turns
    * a document corpus into fixed-budget training sequences. Documents
    * are ordered deterministically (md5) within their `source` shard,
    * token counts are cumulated, and each document is assigned the
    * sequence its first token lands in (`seq_id`) plus its offset
    * there. All integer arithmetic (DIV / %), so the assignment is
    * bit-identical across engines — no float cumsum drift.
    *
    * Scale (100 TB): one shuffle on the shard key, one spillable sort,
    * then a running sum with O(1) state per row — the same
    * shuffle-sort-scan shape every production packer uses. Sequences
    * never span shards, so shards parallelize perfectly and a re-run
    * with more executors yields byte-identical packing.
    */
  def c14_packSequences(spark: SparkSession, d: String): DataFrame =
    packSized(sizeDocs(Tables.documents(spark, d)))

  /** Stage 1 of packing: (doc_id, source, n_tok, order_key) — token
    * count (null text packs as 0 tokens) and the deterministic md5
    * shard order key.
    */
  private[graft] def sizeDocs(docs: DataFrame): DataFrame = {
    val ntok = when(col("text").isNull, lit(0L))
      .otherwise(size(split(col("text"), " ")).cast("long"))
    docs.select(col("doc_id"), col("source"), ntok.as("n_tok"),
      md5(col("doc_id").cast("string")).as("order_key"))
  }

  /** Stage 2 of packing: running token sum per shard → (seq_id, offset)
    * by all-integer DIV/%.
    */
  private[ops] def packSized(sized: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("order_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized
      .withColumn("tok_end", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(s"(tok_end - n_tok) DIV $SeqBudget").as("seq_id"),
        expr(s"(tok_end - n_tok) % $SeqBudget").as("offset"))
      .orderBy(col("source"), col("seq_id"), col("offset"), col("doc_id"))
  }

  /** Quality-gate bounds for c16: survivors must carry between
    * [[MinTok]] and [[MaxTok]] whitespace tokens — the cheap
    * length-based cut every corpus prep applies before packing.
    */
  val MinTok = 5L
  val MaxTok = 5000L

  /** Mixture denominator for [[c36_mixtureSample]]: the manifest
    * targets 1/[[MixTotalDen]] of the corpus's total token mass,
    * redistributed across sources by the temperature rule.
    */
  val MixTotalDen = 2L

  /** c36: token-budget-weighted SOURCE MIXING — the curation stage
    * between selection (x_select_by_rarity) and packing (c14/c28)
    * that every production pretraining pipeline runs (the Pile/Dolma
    * mixing recipe): re-weight the corpus's sources to target
    * proportions and emit the per-source manifest that samples each
    * source to its token budget deterministically.
    *
    * Weights are the α = 0.5 TEMPERATURE rule (the multilingual
    * standard since mBERT/XLM-R: budget_s ∝ √mass_s, which upsamples
    * small sources relative to their share and flattens the head).
    * All budget arithmetic is EXACT-INTEGER so both engines agree to
    * the row: w_s = floor(√m_s) (an integer from a correctly-rounded
    * double sqrt — identical in Spark and DuckDB), W = Σ w_s,
    * T = Σ m_s / [[MixTotalDen]], and
    *   budget_s = floor(T·w_s / W)
    *            = w_s·(T div W) + (w_s·(T mod W)) div W
    * — the right-hand form never materializes T·w_s, which could
    * overflow int64 at lake scale (T ~ 10¹³ tokens × w ~ 10⁶).
    *
    * Within a source, docs are taken in md5-rank order (c14's
    * order_key — deterministic, engine-independent, rerun-stable) while
    * the RUNNING SUM BEFORE the doc is under budget, so each source's
    * sampled token mass lands within one document of its budget
    * (NewOpsSpec pins exactly that). Null-source docs are excluded up
    * front in both engines — an unattributed document cannot obey a
    * per-source weight.
    *
    * Scale (100 TB): the mass census is one map-side-combined agg to
    * ≤ #sources rows (broadcast back as the budget table); the sample
    * is ONE shuffle on source + one streaming window sort (sum +
    * row_number share the partition/order, so WindowExec runs once) —
    * c13's census-then-filter economics at token grain. Skew note: a
    * dominant source's window sorts spill, and the same c13 escalation
    * (hash pre-filter at ~Safety×budget/mass) bounds the sort input if
    * one source out-sizes a task's spill budget.
    */
  def c36_mixtureSample(spark: SparkSession, d: String): DataFrame =
    mixtureManifest(mixtureSampled(spark, d))

  /** The sampled-manifest FRAME behind [[c36_mixtureSample]] (and
    * [[c37_mixturePack]], which packs it): kept rows carrying
    * (doc_id, source, n_tok, order_key, rnk) — the order key rides
    * along so downstream packing chunks in the SAME md5 order the
    * sample was drawn in.
    */
  private[ops] def mixtureSampled(spark: SparkSession, d: String): DataFrame =
    mixtureCut(spark, sizeDocs(Tables.documents(spark, d))
      .filter(col("source").isNotNull))

  /** The temperature cut over ANY sized frame (doc_id, source, n_tok,
    * order_key; null sources already excluded) — the close-time tail
    * shared by the batch sample and its arrival twin (s27, which reads
    * the frame back from its per-batch state sink): ONE body so the
    * twins cannot drift. The cut is retroactive by construction — a
    * later-arriving smaller-key doc enters the prefix and displaces
    * the budget boundary — which is exactly why the arrival form cuts
    * at close, never per batch.
    */
  private[graft] def mixtureCut(spark: SparkSession, sized: DataFrame): DataFrame = {
    val (tm, tw, mass) = mixtureMass(sized)
    if (tw == 0L)
      return spark.range(0).select(col("id").as("doc_id"),
        lit("").as("source"), col("id").as("n_tok"),
        lit("").as("order_key"), col("id").as("rnk"))
    val ord = Window.partitionBy(col("source")).orderBy(col("order_key"), col("doc_id"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized
      .withColumn("tok_end", sum(col("n_tok")).over(cum))
      .withColumn("rnk", row_number().over(ord).cast("long"))
      .join(mixtureBudgets(mass, tm, tw), Seq("source"))
      .filter(col("tok_end") - col("n_tok") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("order_key"), col("rnk"))
  }

  /** c36's output projection — shared with s27 so the manifest shape
    * has one home.
    */
  private[graft] def mixtureManifest(cut: DataFrame): DataFrame =
    cut.select(col("doc_id"), col("source"), col("n_tok"), col("rnk"))
      .orderBy(col("source"), col("rnk"))

  /** The per-source mass census + the two scalar controls (corpus
    * mass, weight norm) — shared by the exact sample and the
    * prefilter scale path so the budget arithmetic has one home.
    */
  private[ops] def mixtureMass(sized: DataFrame): (Long, Long, DataFrame) = {
    val mass = sized.groupBy(col("source")).agg(sum(col("n_tok")).as("m"))
      .withColumn("w", floor(sqrt(col("m").cast("double"))).cast("long"))
    val r = mass.agg(coalesce(sum(col("m")), lit(0L)),
      coalesce(sum(col("w")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), mass)
  }

  /** The broadcast per-source budget table under the exact-integer
    * temperature rule — see [[c36_mixtureSample]]'s scaladoc for the
    * overflow-free form.
    */
  private[ops] def mixtureBudgets(mass: DataFrame, tm: Long, tw: Long): DataFrame = {
    val t = tm / MixTotalDen
    broadcast(mass.select(col("source"), col("m"),
      expr(s"w * ${t / tw} + (w * ${t % tw}) DIV $tw").as("budget")))
  }

  /** c37: the MIXED-AND-PACKED manifest — [[c36_mixtureSample]]'s
    * sampled set fed straight through [[packSized]] (c14's per-source
    * running-sum chunker, same [[SeqBudget]], same md5 order): the
    * actual end product a pretraining run consumes — "give me a
    * temperature-balanced mix at token budget T, packed into
    * fixed-length sequences" as ONE registered query. The sample's
    * order key rides into the packer, so sequences chunk in the exact
    * order the sample was drawn — deterministic end to end.
    *
    * Scale (100 TB): the sample's window and the packer's window share
    * the source partitioning AND the (order_key, doc_id) sort order,
    * so the composition costs ONE shuffle + one sort, with the pack
    * cum-sum streaming over the sample's survivors. Hash-checked: the
    * oracle composes the c36 CTEs with c14's pack CTE over the kept
    * set.
    */
  def c37_mixturePack(spark: SparkSession, d: String): DataFrame =
    packSized(mixtureSampled(spark, d)
      .select(col("doc_id"), col("source"), col("n_tok"), col("order_key")))

  /** Pre-filter safety factor for [[x_mixturePrefilter]] — the rate
    * keeps ~Safety× the budget's token mass per source, and the
    * PREFIX-EXACT guard (see below) makes the cut provably lossless
    * rather than probabilistically so.
    */
  val MixPrefilterSafety = 4.0

  /** x: c36's 100 TB path — census-then-filter, the
    * [[x_stratifiedPrefilter]] pattern at token grain: a source whose
    * corpus out-sizes one task's spill budget makes the exact window
    * sort the bottleneck, so first keep only rows whose uniform md5
    * fraction falls inside Safety × budget/mass, THEN run the exact
    * cum-sum window on the survivors — sort input bounded by
    * ~Safety× the budget's mass, independent of source size.
    *
    * Sharper than c13's variant, the cut here is PREFIX-EXACT, not
    * just Chernoff-safe: a key threshold keeps exactly a PREFIX of the
    * md5 order, and the mixture's kept set is itself a prefix (docs
    * while cum < budget), so the variant equals c36 IFF the surviving
    * prefix carries the full budget — a condition the runtime guard
    * asserts per source (survivor mass ≥ budget, or the source kept
    * whole). A failed guard aborts loudly with the source named
    * instead of shipping a silently-short mix (assert_true, the
    * guardStrata convention; firing pinned in NewOpsSpec). Because the
    * row_number of a prefix row equals its row_number in the full
    * source, ranks survive the cut unchanged — byte-equal to c36,
    * sharing its oracle string by reference.
    */
  def x_mixturePrefilter(spark: SparkSession, d: String): DataFrame = {
    val sized = sizeDocs(Tables.documents(spark, d))
      .filter(col("source").isNotNull)
    val (tm, tw, mass) = mixtureMass(sized)
    if (tw == 0L)
      return spark.range(0).select(col("id").as("doc_id"),
        lit("").as("source"), col("id").as("n_tok"), col("id").as("rnk"))
    // uniform [0,1] fraction from the leading 8 hex digits of the md5
    // order key (the x_stratifiedPrefilter machinery)
    val frac = conv(substring(col("order_key"), 1, 8), 16, 10)
      .cast("double") / lit(4294967295.0)
    val rate = least(lit(1.0),
      lit(MixPrefilterSafety) * col("budget").cast("double") /
        greatest(col("m").cast("double"), lit(1.0)))
    val pre = sized.join(mixtureBudgets(mass, tm, tw), Seq("source"))
      .filter(frac <= rate)
    // the prefix-exactness guard: survivors carry the budget, or the
    // source survived whole (n_kept = its doc count, broadcast back)
    val nDocs = broadcast(sized.groupBy(col("source").as("source_n"))
      .agg(count(lit(1)).as("n_docs")))
    val guarded = guardMixture(pre
        .join(nDocs, col("source") <=> col("source_n"), "left"))
      .drop("n_docs", "source_n")
    val ord = Window.partitionBy(col("source")).orderBy(col("order_key"), col("doc_id"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    guarded
      .withColumn("tok_end", sum(col("n_tok")).over(cum))
      .withColumn("rnk", row_number().over(ord).cast("long"))
      .filter(col("tok_end") - col("n_tok") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("rnk"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Runtime guard on [[x_mixturePrefilter]]'s key-threshold cut —
    * the [[guardStrata]] convention at token grain, but EXACT rather
    * than probabilistic: the cut keeps a PREFIX of the md5 order, so
    * the variant equals c36 iff each source's surviving prefix carries
    * its full budget (or the source survived whole). assert_true is
    * NULL when satisfied; an undersized source fails the job with the
    * source named instead of shipping a silently-short mix (firing
    * pinned in NewOpsSpec). Expects (source, n_tok, budget, n_docs)
    * columns; both windows ride the source partitioning the exact
    * window downstream needs anyway.
    */
  private[graft] def guardMixture(pre: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
    pre
      .withColumn("surv_mass", sum(col("n_tok")).over(w))
      .withColumn("surv_n", count(lit(1)).over(w))
      .filter(assert_true(
        col("surv_mass") >= col("budget") || col("surv_n") === col("n_docs"),
        concat(lit("mixture prefilter cut below the budget in source "),
          col("source"))).isNull)
      .drop("surv_mass", "surv_n")
  }

  /** c16: the corpus-prep pipeline END-TO-END — what a user of this
    * library actually runs to turn a raw document lake into a training
    * manifest: exact dedup (keep the min-id doc per sha256 digest,
    * c1's rule), near-dup cluster resolution (drop every non-canonical
    * member of a c15 cluster), a token-count quality gate
    * ([[MinTok]]..[[MaxTok]]), then token-budget sequence packing
    * (c14). The C-tier twin of a14_pipeline_e2e.
    *
    * Scale (100 TB): document BYTES never shuffle — the digest
    * aggregation map-side-combines to (digest, min-id) pairs before its
    * exchange, the joins move only the ~40-byte sized projection
    * (doc_id, source, n_tok, order_key), and the drop list is c15's
    * label state (16 B/node, near-dup members only — broadcastable long
    * after the corpus itself is not); packing adds its one shard-key
    * shuffle over the same slim rows.
    */
  def c16_corpusPipeline(spark: SparkSession, d: String): DataFrame =
    corpusFromClusters(spark, d, TextOps.c15_dedupClusters(spark, d))

  /** The pipeline STAGES of c16, parameterized on the cluster table —
    * the composable form a real deployment runs: pair generation and
    * cluster resolution are paid once, written to the lake, and every
    * downstream corpus build consumes the materialized
    * (doc_id, cluster_id, is_canonical) table instead of re-deriving
    * it. c16 passes the inline c15 frame here; x_corpus_from_clusters
    * passes a parquet read of the same frame.
    */
  private[ops] def corpusFromClusters(spark: SparkSession, d: String,
      clusters: DataFrame): DataFrame =
    manifestFrom(sizedDigest(Tables.documents(spark, d)), clusters)

  /** The per-document corpus-build state: c14's sized projection
    * ([[sizeDocs]]) plus the exact-dedup digest — one row per document,
    * ~72 slim bytes, everything the manifest cut needs without ever
    * re-reading text. ONE definition shared by the batch pipeline
    * (c16 / x_corpus_from_clusters) and the arrival form (s19 sinks
    * exactly these rows per micro-batch), so the keep rule cannot
    * drift between the twins. Pure per-row work.
    */
  /** The sized+digest column set — ONE definition under both
    * [[sizedDigest]] and [[corpusArrivalState]] so the batch pipeline
    * and the arrival sink cannot drift.
    */
  private def sizedDigestCols: Seq[org.apache.spark.sql.Column] = {
    val ntok = when(col("text").isNull, lit(0L))
      .otherwise(size(split(col("text"), " ")).cast("long"))
    Seq(col("doc_id"), col("source"), ntok.as("n_tok"),
      md5(col("doc_id").cast("string")).as("order_key"),
      sha2(lower(col("text")), 256).as("digest"))
  }

  private[graft] def sizedDigest(docs: DataFrame): DataFrame =
    docs.select(sizedDigestCols: _*)

  /** The WHOLE per-document arrival state in ONE projection —
    * [[sizedDigest]]'s columns plus the doc's distinct shingle-hash
    * array ([[graft.ops.TextOps.docShinglesCol]]; null for docs that
    * emit no shingles). s19 sinks exactly these rows per micro-batch:
    * one pass over the text, ONE write job, no caching — a
    * two-sink/persist form would pay a second write job per trigger
    * and hold the batch's TEXT in executor memory, pure per-trigger
    * overhead at arrival scale. The cut re-derives each stage's view
    * by column pruning (sized columns; explode(hs) for the pair
    * machinery).
    */
  private[graft] def corpusArrivalState(docs: DataFrame): DataFrame =
    docs.select(sizedDigestCols :+ TextOps.docShinglesCol.as("hs"): _*)


  /** The manifest CUT over an arrived-state FRAME — the close-time
    * tail shared by s19/x_corpus_epochs (which read it back from their
    * bid-partitioned sinks) and [[x_corpusRetention]] (which reads the
    * post-erasure standing state): explode the per-doc state back into
    * the rows c16's own stages consume (capBand → jaccardPairsOf →
    * clustersOf → manifestFrom — byte-equal to the batch pipeline over
    * whatever state is passed). ONE body so the arrival twins and the
    * retention rung cannot drift from the batch pipeline.
    */
  private[graft] def corpusCutFrame(arrived: DataFrame): DataFrame = {
    val sized = arrived.select(col("doc_id"), col("source"), col("n_tok"),
      col("order_key"), col("digest"))
    // the shingle view: explode the per-doc array back into the
    // (doc_id, h, n) rows the band + pair machinery consumes — through
    // the SAME body as the batch row form (TextOps.shingleRows), so
    // the array-to-rows convention cannot drift between the twins
    val sh = TextOps.shingleRows(arrived.select(col("doc_id"), col("hs")))
    val clusters = TextOps.clustersOf(
      TextOps.jaccardPairsOf(TextOps.capBand(sh)))
    manifestFrom(sized, clusters)
  }

  /** The manifest CUT — c16's resolution + gate + packing over the
    * slim per-document state and the resolved cluster table: exact
    * dedup keeps the min-id doc per digest, near-dup resolution drops
    * every non-canonical cluster member, the token gate bounds
    * survivors to [[MinTok]]..[[MaxTok]], and c14's packer assigns
    * (seq_id, offset). Shared verbatim by the batch pipeline and the
    * s19 arrival form's post-drain cut — document BYTES never appear
    * here: the digest aggregation moves (digest, id) pairs, the joins
    * move the sized projection, the drop list is label state.
    */
  private[graft] def manifestFrom(sized: DataFrame,
      clusters: DataFrame): DataFrame = {
    val keeps = sized
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val drops = clusters
      .filter(!col("is_canonical")).select(col("doc_id"))
    val survivors = sized
      .select(col("doc_id"), col("source"), col("n_tok"), col("order_key"))
      .join(keeps, Seq("doc_id"), "left_semi")
      .join(drops, Seq("doc_id"), "left_anti")
      .filter(col("n_tok").between(MinTok, MaxTok))
    packSized(survivors)
  }

  /** Modulus / residue selecting [[x_corpusRetention]]'s erasure slice
    * — the fixture stand-in for an id-addressed retention request list
    * over the corpus (the [[TextOps.NdDeleteMod]] convention; null-id
    * docs can never match an id-addressed request).
    */
  val CorpusDeleteMod = 7L
  val CorpusDeleteRes = 3L

  /** The MEMOIZED standing corpus-build state for a dataset — the slim
    * per-document rows ([[corpusArrivalState]]: sized + digest +
    * shingle array, ~72 B/doc) that s19-style arrival extraction
    * accumulates and every manifest cut consumes. In production this
    * is the state the ingest drains materialized over past epochs;
    * rebuilding it per invocation would double-count the one
    * text-touch per document in BENCH (the standing-state convention).
    * Consumers read it strictly READ-ONLY; the retention rung works on
    * a link-clone.
    */
  private[graft] def corpusStateDir(spark: SparkSession, d: String): String =
    Tables.memoDir("corpus_state", d) { p =>
      corpusArrivalState(Tables.documents(spark, d))
        .write.mode("overwrite").parquet(s"$p/state.parquet")
    }

  /** x_corpus_retention: ERASURE from the corpus lifecycle's standing
    * state — the request path the manifest machinery was missing:
    * s22 erases from the posting index only, while the slim state the
    * corpus cut consumes (s19/x_corpus_epochs partitions, or this
    * memo's batch equivalent) kept a deleted document's row forever —
    * and with it the doc's digest keepership, its cluster membership,
    * its packed offsets. The rung deletes the requested docs' state
    * rows (ONE broadcast anti-join rewrite of ~72 B rows — text is
    * never read; write-new → rm-old → rename) and RE-CUTS the
    * manifest over the survivors through [[corpusCutFrame]] — c16's
    * own bodies, where every resolution is already retroactive:
    * a deleted digest-group keeper PROMOTES the group's next min-id
    * doc, a deleted canonical re-resolves its cluster, and a deleted
    * doc's packed tokens vanish, un-packing every downstream offset in
    * its source shard (the NewOpsSpec keeper-displacement pin).
    *
    * By construction the post-delete state is exactly
    * [[corpusArrivalState]] over the kept docs (state rows are pure
    * per-row projections), so the re-cut manifest EQUALS
    * [[c16_corpusPipeline]] over the corpus without the deleted docs —
    * that restriction IS the oracle (the x_neardup_delete kept-docs
    * pattern), hash-checked end-to-end: a state row the delete left
    * behind would surface as a phantom manifest row, a wrong keeper,
    * or a shifted offset.
    *
    * Scale (100 TB): the rewrite touches slim state rows only
    * (broadcast request list, no shuffle); the cut has c16's own
    * economics over state that never includes text. The one full-cut
    * cost per erasure batch is the compliance cadence s22 documents —
    * log requests immediately, apply at close.
    */
  def x_corpusRetention(spark: SparkSession, d: String): DataFrame =
    corpusRetentionRun(spark, d, "corpus_ret")(
      Tables.documents(spark, d)
        .filter(pmod(col("doc_id"), lit(CorpusDeleteMod)) === CorpusDeleteRes)
        .select(col("doc_id")))

  /** The erasure body behind [[x_corpusRetention]] and its arrival
    * twin (s25) — the variants differ ONLY in the request frame (batch
    * slice vs the drained request log): clone, the state rewrite, the
    * swap and the re-cut are one body so the twins cannot drift.
    */
  private[graft] def corpusRetentionRun(spark: SparkSession, d: String,
      tag: String)(req: DataFrame): DataFrame = {
    val dir = Tables.scratchDir(tag, d)
    val memo = corpusStateDir(spark, d)
    Tables.linkTree(s"$memo/state.parquet", s"$dir/state.parquet")
    corpusStateDelete(spark, dir, req)
    corpusCutFrame(Tables.parquet(spark, s"$dir/state.parquet"))
  }

  /** The state-rewrite half of [[corpusRetentionRun]] — split out so
    * the compliance sweep ([[RetentionAudit]]) erases through the SAME
    * body the retention rung ships: one broadcast anti-join over the
    * slim state rows, write-new → rm-old → rename.
    */
  private[graft] def corpusStateDelete(spark: SparkSession, dir: String,
      req: DataFrame): Unit = {
    Tables.parquet(spark, s"$dir/state.parquet")
      .join(broadcast(req.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$dir/state_next.parquet")
    Tables.rmrf(s"$dir/state.parquet")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/state_next.parquet"),
      java.nio.file.Paths.get(s"$dir/state.parquet"))
  }

  /** x: c16 with the cluster table MATERIALIZED — writes c15's labels
    * to parquet once, then builds the manifest from the written table.
    * Byte-equal to c16_corpusPipeline (pinned in NewOpsSpec at two
    * scales); its census proves the point of the composition: the
    * consumer's plan holds NO shingle/minhash stages, only the
    * documents scans and one slim cluster-table scan, so N downstream
    * corpus builds pay the near-dup resolution exactly once. Rows-only
    * by declared design: the c16 oracle covers the identical output.
    */
  def x_corpusFromClusters(spark: SparkSession, d: String): DataFrame = {
    // generation-suffixed scratch (see Tables.scratchDir): a fixed name
    // raced concurrent invocations over the same fixture
    val dir = Tables.scratchDir("x_clusters", d)
    TextOps.c15_dedupClusters(spark, d)
      .write.mode("overwrite").parquet(s"$dir/clusters.parquet")
    corpusFromClusters(spark, d,
      Tables.parquet(spark, s"$dir/clusters.parquet"))
  }

  /** Subshard fan-out for [[packSizedTwoPhase]]: the first hex digit of
    * the md5 order key — a PREFIX of the sort key, so subshard
    * boundaries respect the global (order_key, doc_id) order within a
    * source and the concatenation of subshard-local running sums is the
    * source-global running sum.
    */
  private val SubshardDigits = 1 // 16 subshards per source

  /** Stage 2 of packing as a TWO-PHASE distributed prefix sum — the
    * 100 TB form of [[packSized]], byte-identical output.
    *
    * [[packSized]]'s running sum is a window over `partitionBy(source)`:
    * exact and simple, but its parallelism is BOUNDED BY THE NUMBER OF
    * SOURCES — the fixture has 20, a real lake maybe hundreds, and each
    * one is a single task scanning its whole shard serially. The decade
    * measurement (BENCH_NOTES (x)) names this the first stage to go
    * super-linear: data per source grows linearly while the task count
    * stays flat.
    *
    * The fix is the classic scalable prefix sum: (1) a local running
    * sum per (source, subshard) — parallelism sources×16, each task a
    * fraction of a shard; (2) per-subshard token totals, aggregated ON
    * the window's existing partitioning (no new exchange — max 16 rows
    * per source survive the partial agg); (3) a prefix-offset window
    * over that tiny totals relation (sources×16 rows on one task —
    * milliseconds); (4) a broadcast join adding each subshard's prefix
    * to its local sums. Because the subshard key is a PREFIX of the
    * sort key, local-sum + earlier-subshard-totals IS the global
    * running sum — same tok_end, same seq_id/offset, bit for bit
    * (NewOpsSpec pins byte-equality with c14; DecadeSpec at 3× scale).
    * Deeper fan-out (2+ digit prefixes) nests the same construction.
    */
  private[ops] def packSizedTwoPhase(sized: DataFrame): DataFrame = {
    val withSub = sized.withColumn("sub",
      substring(col("order_key"), 1, SubshardDigits))
    val local = Window.partitionBy(col("source"), col("sub"))
      .orderBy(col("order_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localCum = withSub.withColumn("local_end", sum(col("n_tok")).over(local))
    // subshard totals come from max(local_end), NOT sum(n_tok): n_tok is
    // non-negative (null text counts 0, split size >= 1), so the running
    // sum is non-decreasing and its max IS the subshard total. The point
    // is plan shape, not arithmetic — an agg over raw n_tok lets column
    // pruning delete the window from this branch, the pruned subtree no
    // longer matches the join branch, ReuseExchange fails and the corpus
    // (text included, for the token recount) is SCANNED TWICE — the
    // c12 pruning-divergence class from round 8. Referencing local_end
    // keeps both subtrees byte-identical through the window: one scan,
    // one data-sized exchange, and the agg itself runs exchange-free on
    // the window's existing (source, sub) partitioning.
    val totals = localCum.groupBy(col("source").as("src_t"), col("sub").as("sub_t"))
      .agg(max(col("local_end")).as("tot"))
    val prefW = Window.partitionBy(col("src_t")).orderBy(col("sub_t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = totals
      .withColumn("prefix", coalesce(sum(col("tot")).over(prefW), lit(0L)))
      .select(col("src_t"), col("sub_t"), col("prefix"))
    localCum
      .join(broadcast(prefixes),
        col("source") <=> col("src_t") && col("sub") <=> col("sub_t"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(s"(local_end + prefix - n_tok) DIV $SeqBudget").as("seq_id"),
        expr(s"(local_end + prefix - n_tok) % $SeqBudget").as("offset"))
      .orderBy(col("source"), col("seq_id"), col("offset"), col("doc_id"))
  }

  /** x: c14's packing via the two-phase prefix sum — rows-only (the c14
    * oracle covers the identical output; equality pinned in scalatest).
    */
  def x_packTwophase(spark: SparkSession, d: String): DataFrame =
    packSizedTwoPhase(sizeDocs(Tables.documents(spark, d)))

  /** Stage 1 of BPE-unit packing: [[sizeDocs]] with the size taken in
    * BPE-ish PIECES (c26's regex pre-tokenizer, [[TextOps.BpePattern]])
    * instead of whitespace tokens. Null text packs as 0 pieces, like
    * c14's null-as-0 convention. Emitted under c14's `n_tok` column
    * name so [[packSized]] stays one shared stage; c28 renames it to
    * `n_bpe` at the surface.
    */
  private[ops] def sizeDocsBpe(docs: DataFrame): DataFrame = {
    // the fused native counter (one byte walk) replaces the regex
    // count — bit-identical (BpeCount scaladoc; pinned vs the regex
    // form in scalatest), and the measured floor of c28's decade cost
    // (BENCH_NOTES (at)/(ba))
    val npieces = when(col("text").isNull, lit(0L))
      .otherwise(Kernels.bpeCount(col("text")))
    docs.select(col("doc_id"), col("source"), npieces.as("n_tok"),
      md5(col("doc_id").cast("string")).as("order_key"))
  }

  /** c28: sequence packing in the unit the trainer BILLS — c14's
    * shard/order/running-sum machinery with document length measured
    * in c26's BPE-ish pieces instead of whitespace tokens. A packer
    * that budgets whitespace tokens overfills every sequence by the
    * pieces-per-token blowup (c26's `blowup_e6` column measures it at
    * ~1.1-1.5× on real text); this is the composition c26's scaladoc
    * promises, closing the loop between the cost ESTIMATE and the
    * actual packing.
    *
    * Scale (100 TB): identical to c14 — the regex piece count is pure
    * per-row map work fused into the sizing projection (the regex
    * compiles once per task, c26's argument), then one shuffle on the
    * shard key and a spillable O(1)-state running sum. All integer
    * arithmetic, bit-identical across engines; the two-phase prefix
    * sum (x_pack_twophase) composes here unchanged when source-level
    * parallelism becomes the bottleneck.
    */
  def c28_packBpe(spark: SparkSession, d: String): DataFrame = {
    packSized(sizeDocsBpe(Tables.documents(spark, d)))
      .withColumnRenamed("n_tok", "n_bpe")
  }

  /** Minimum bigram count for c20's report — keeps the published table
    * to the statistically meaningful rows (the full count table still
    * exists upstream of the filter; n1 is computed BEFORE it so the
    * conditional probabilities are over the whole corpus).
    */
  val BigramMinCount = 3L

  /** c20: bigram language-model statistics — corpus-wide bigram counts
    * and exact conditional probabilities p(w2|w1), the n-gram-LM /
    * data-mixture fingerprint a corpus report publishes. Probability is
    * the RATIONAL e6 form `n12 * 1e6 DIV n1` (c12's idf trick): all
    * integer, so the table is bit-identical across engines and executor
    * counts — no float division anywhere.
    *
    * Scale (100 TB): one corpus explode feeding ONE map-side-combinable
    * (w1, w2) reduce — the only data-sized shuffle; the n1 denominator
    * is a window over the REDUCED vocabulary² table (re-using nothing
    * corpus-sized), and the min-count filter runs after it so
    * probabilities stay corpus-true. Vocabulary skew ("the" as w1) is
    * bounded by vocabulary size per reducer, not corpus size.
    */
  def c20_bigramStats(spark: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(spark, d)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val bi = toks.select(explode(expr(
      "transform(sequence(1, size(t) - 1), " +
        "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val counts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    counts
      .withColumn("n1", sum(col("n12")).over(Window.partitionBy(col("w1"))))
      .withColumn("p_e6", expr("n12 * 1000000L DIV n1"))
      .filter(col("n12") >= BigramMinCount)
      .orderBy(col("w1"), col("w2"))
  }

  /** c35: per-document bigram-LM fluency scoring — the CCNet/KenLM
    * perplexity filter in the engine's exact-integer idiom: c20 builds
    * the corpus bigram LM; this APPLIES it to every document. Per
    * adjacent bigram (w1, w2), the surprise is measured in whole BITS
    * as `length(bin(n1)) − length(bin(n12))` — the binary-length form
    * of ⌈−log₂ p(w2|w1)⌉ (c33's no-float-log trick, so both engines
    * agree bit-for-bit; n12 ≤ n1 keeps it ≥ 0) — and the document
    * scores its mean surprise as a rational-e6 BIGINT. High score =
    * improbable word transitions = the junk a perplexity gate drops;
    * templated/repetitive docs score near zero. Scoring the training
    * corpus itself means every bigram is in-vocabulary by
    * construction; an unseen-bigram path (scoring NEW text against a
    * materialized LM) would ride the same join with a smoothed
    * fallback, exactly like x_bpe_coverage's OOV arm.
    *
    * Scale (100 TB): one corpus explode feeds ONE map-side-combinable
    * bigram reduce (c20's only data-sized shuffle) + a vocabulary-
    * bounded head reduce; scoring re-joins the bigram stream to those
    * counts on (w1, w2) — a shuffled equi-join whose bucket sizes are
    * bigram frequencies, never all-pairs — then one per-doc aggregate.
    * No window over corpus-sized data, no driver-sized state.
    */
  /** (doc_id, w1, w2) per adjacent bigram — ONE definition shared by
    * c35's batch path and s16's LM build + arrival stream, so the
    * byte-equal twin cannot drift from its oracle (the trainMerges/
    * pieceTable lesson applied here).
    */
  private[graft] def bigramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The (w1, w2) → n12 census over a document set — the LM's training
    * reduce, ONE definition for every trainer/fold site (c35,
    * x_lm_heldout, x_lm_update, the streaming standing-LM build, the
    * maintenance profiler): a column rename applied to one copy but
    * not another would silently break the fold ≡ retrain identities.
    */
  private[graft] def bigramCensusOf(docs: DataFrame): DataFrame =
    bigramsOf(docs).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))

  /** The binary-length-surprise scoring tail over ANY (doc_id, w1, w2)
    * stream + the two LM censuses — shared verbatim by c35 and s16's
    * per-batch scorer. Unordered: each caller appends its own
    * presentation sort/sink.
    */
  private[graft] def lmScoreOf(bi: DataFrame, counts: DataFrame,
      heads: DataFrame): DataFrame =
    bi.join(counts, Seq("w1", "w2"))
      .join(heads, Seq("w1"))
      .select(col("doc_id"),
        (length(bin(col("n1"))) - length(bin(col("n12")))).cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"), sum(col("s")).as("bits_sum"))
      .withColumn("avg_bits_e6", expr("bits_sum * 1000000L DIV n_bi"))

  def c35_lmScore(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val bi = bigramsOf(docs)
    // the LM table materializes ONCE (localCheckpoint — the c15 idiom
    // for reused reduced state): it feeds both the head census and the
    // scoring join, and without the checkpoint each consumer re-scans
    // the corpus and re-runs the bigram reduce (measured: 3 documents
    // scans → 1). Vocabulary-sized, never corpus-sized — exactly what
    // a production run persists as "the LM". Built through
    // [[bigramCensusOf]] like every other trainer site — the identical
    // plan (bigramsOf(docs) is the same subtree), and the helper's
    // anti-drift guarantee now actually covers the primary trainer
    // (round-16 ADVICE: this site inlined its own copy of the reduce).
    val counts = bigramCensusOf(docs).localCheckpoint()
    val heads = counts.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    lmScoreOf(bi, counts, heads).orderBy(col("doc_id"))
  }

  /** The held-out scoring tail — [[lmScoreOf]]'s left-join form for
    * text the LM has NEVER seen: a bigram present in the model costs
    * its usual binary-length surprise; an unseen transition costs
    * `length(bin(n_tot))` bits, the exact-integer form of
    * ⌈log₂ N⌉-ish "the model's full mass was surprised" (the
    * x_bpe_coverage OOV-arm idiom: a deterministic integer fallback
    * both engines compute identically, no float smoothing). The
    * fallback strictly dominates every seen cost — n1 ≤ n_tot and
    * n12 ≥ 1 give len(bin(n1)) − len(bin(n12)) ≤ len(bin(n_tot)) − 1
    * — so OOV is always the most expensive transition, the monotone
    * property a perplexity gate needs. `n_oov` rides along so the
    * gate can separate "fluent but novel" from "out of domain".
    */
  private[graft] def lmHeldoutScoreOf(bi: DataFrame, counts: DataFrame,
      heads: DataFrame, tot: DataFrame): DataFrame =
    bi.join(counts, Seq("w1", "w2"), "left")
      .join(heads, Seq("w1"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("n12").isNotNull,
            length(bin(col("n1"))) - length(bin(col("n12"))))
          .otherwise(length(bin(col("n_tot")))).cast("long").as("s"),
        when(col("n12").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"), sum(col("oov")).as("n_oov"),
        sum(col("s")).as("bits_sum"))
      .withColumn("avg_bits_e6", expr("bits_sum * 1000000L DIV n_bi"))

  /** The shard the held-out LM trains on — the "standing epoch" whose
    * model scores everything that arrives after it (the c27 source-
    * shard split, with the ROLES inverted: training on 19 of 20
    * homogeneous fixture shards leaves literally zero unseen eval
    * bigrams, so the OOV fallback — the entire point of the held-out
    * arm — would never execute under the driver's hash gate; training
    * on ONE shard scores 19 novel shards and takes both branches on
    * ~every doc). Configuration, like [[TextOps.EvalSource]].
    */
  val LmTrainSource = "src0"

  /** x_lm_heldout: held-out LM scoring — the unseen-bigram arm c35's
    * scaladoc promises: the bigram LM trains on the
    * [[LmTrainSource]] shard (the standing epoch), and every OTHER
    * document — later shards, null-source strays — is scored against
    * that model through [[lmHeldoutScoreOf]]'s left-join + OOV
    * fallback. This is the form a production gate actually runs —
    * score ARRIVING text against the standing LM — where c35 is the
    * training-corpus self-score (every bigram in-vocabulary by
    * construction). Hash-checked end-to-end: the whole
    * train/score/fallback pipeline has an exact DuckDB twin, and the
    * fixture exercises BOTH branches (thousands of OOV transitions —
    * measured, not assumed).
    *
    * The LM is standing state: it scores against the memoized
    * train-shard model ([[standingTrainLmDir]], trained once per
    * dataset and JVM, as s17 and the LM maintenance rungs do), so a
    * call's time excludes the train, and the first call of a JVM pays
    * it (perfbench counts that in `setup_s`).
    *
    * Scale (100 TB): one scored-shard explode through two equi-joins
    * against the slim LM tables, a 1-row total broadcast (the b21
    * pattern, one collected scalar), one per-doc aggregate; the
    * train-shard reduce ran once, when the model was built.
    */
  def x_lmHeldout(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val lm = standingTrainLmDir(spark, d)
    val heads = Tables.parquet(spark, s"$lm/heads.parquet")
    lmHeldoutScoreOf(
        bigramsOf(docs.filter(!(col("source") <=> lit(LmTrainSource)))),
        Tables.parquet(spark, s"$lm/counts.parquet"), heads, lmTotalOf(heads, "n1"))
      .orderBy(col("doc_id"))
  }

  /** An LM's total mass `n_tot` — the sum of `column` over `table`
    * (n12 over counts, or equally n1 over heads) — as a one-row local
    * frame. It is ONE collected scalar of model state: left as an
    * un-materialized agg it would re-scan the table and rebuild the
    * broadcast inside every scoring plan (and every micro-batch plan
    * of s17).
    */
  private[graft] def lmTotalOf(table: DataFrame, column: String): DataFrame = {
    val nTot = table.agg(coalesce(sum(col(column)), lit(0L))).head().getLong(0)
    val spark = table.sparkSession
    import spark.implicits._
    Seq(nTot).toDF("n_tot")
  }

  /** The LM-update fold: the standing artifact's (w1,w2)→n12 census
    * full_outer-summed with the DELTA epoch's census. Bigram counts
    * are ADDITIVE over any row partition of the corpus, so
    * fold(train(base), census(delta)) ≡ train(base ∪ delta) exactly —
    * the identity that lets the update path carry the full-retrain
    * oracle verbatim. Split out so tests can pin its plan (one delta
    * scan + one artifact scan, never the base documents) and the
    * additivity against an independent retrain.
    */
  private[graft] def lmUpdateCounts(base: DataFrame, delta: DataFrame): DataFrame =
    base.join(
        delta.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12d")),
        Seq("w1", "w2"), "full_outer")
      .select(col("w1"), col("w2"),
        (coalesce(col("n12"), lit(0L)) + coalesce(col("n12d"), lit(0L))).as("n12"))

  /** x_lm_update: the LM lifecycle's UPDATE path — the missing rung
    * that the posting index (neardupIndexAppend) and the vector index
    * (x_ann_append) already have: the standing bigram LM was trained
    * on a PAST epoch and persisted ([[LmTrainSource]], the artifact
    * s16/s17 consume); when a new epoch arrives, production does NOT
    * re-scan the lake — it censuses the DELTA alone and folds the
    * counts into the standing table ([[lmUpdateCounts]]), then
    * persists the fold as the next LM generation. Registered as
    * train-base → fold-delta → persist → score the corpus through the
    * UPDATED artifact, which by count additivity is byte-equal to
    * c35's retrain-from-scratch scoring — so the whole update cycle
    * carries c35's DuckDB oracle VERBATIM and is driver-hash-checked.
    *
    * Scale (100 TB): the daily cost is one scan of the DELTA (its
    * bigram reduce is map-side combinable) + a vocabulary-sized
    * full_outer merge + a vocabulary-sized artifact write — never a
    * corpus re-scan; heads re-derive from the merged table (they are
    * not independently foldable state one would ship). The same drift
    * caveat as every append path: the VOCABULARY only grows, so a
    * production cadence interleaves folds with occasional pruning
    * (min-count cut) exactly as the posting index interleaves ingest
    * with compaction.
    */
  /** The STANDING train-shard LM artifact — counts (w1, w2, n12) +
    * heads (w1, n1) parquet, trained on the [[LmTrainSource]] shard —
    * memoized per dataset ([[Tables.memoDir]]): in production it is
    * the model a PAST training run shipped, and rebuilding it inside
    * every fold/prune/score invocation double-counts the base train
    * in BENCH and hides the maintenance step's marginal cost (the
    * round-15 №6 lesson the lifecycles already apply; extended to the
    * LM family per round-17 ADVICE). Consumers read it strictly
    * READ-ONLY — folds and prunes write their next generation into
    * their own scratch area — so no link-clone is needed.
    */
  private[graft] def standingTrainLmDir(spark: SparkSession, d: String): String =
    Tables.memoDir("lm_train", d) { p =>
      bigramCensusOf(Tables.documents(spark, d)
          .filter(col("source") === LmTrainSource))
        .write.mode("overwrite").parquet(s"$p/counts.parquet")
      Tables.parquet(spark, s"$p/counts.parquet")
        .groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
        .write.mode("overwrite").parquet(s"$p/heads.parquet")
    }

  def x_lmUpdate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val dir = Tables.scratchDir("lm_update", d)
    // the standing artifact: trained on a past epoch, memoized
    val lmDir = standingTrainLmDir(spark, d)
    // the fold: delta census ⊕ standing table → the NEXT generation,
    // persisted (what production ships to s16/s17-style consumers)
    lmUpdateCounts(
        Tables.parquet(spark, s"$lmDir/counts.parquet"),
        bigramsOf(docs.filter(!(col("source") <=> lit(LmTrainSource)))))
      .write.mode("overwrite").parquet(s"$dir/counts_v2.parquet")
    // score through the UPDATED artifact — c35's exact tail; the
    // checkpoint keeps the final plan at c35's census (one documents
    // scan; the artifact becomes driver-free RDD state)
    val counts = Tables.parquet(spark, s"$dir/counts_v2.parquet").localCheckpoint()
    val heads = counts.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    lmScoreOf(bigramsOf(docs), counts, heads).orderBy(col("doc_id"))
  }

  /** Modulus / residue selecting [[x_lmDelete]]'s erasure slice — the
    * fixture stand-in for an id-addressed retention request list over
    * the train shard (the [[TextOps.NdDeleteMod]] convention at the LM
    * level; null-id docs can never match an id-addressed request).
    */
  val LmDeleteMod = 7L
  val LmDeleteRes = 3L

  /** The LM-delete DECREMENT: the standing artifact's (w1,w2)→n12
    * census minus the deleted documents' own census, zero rows
    * dropped — [[lmUpdateCounts]]' fold run BACKWARDS. Bigram counts
    * are additive over any row partition of the corpus, so
    * delete(train(base), census(deleted)) ≡ train(base ∖ deleted)
    * EXACTLY — erasure is never-ingested semantics, not a tombstone
    * (the identity NewOpsSpec pins both ways: decrement ≡ retrain on
    * survivors, and fold(decrement) round-trips to the standing
    * census). A left join suffices — the deleted docs were ingested,
    * so their bigrams are a subset of the standing vocabulary — and
    * the deleted census BROADCASTS (a request slice's vocabulary
    * against the full artifact, the neardupIndexDelete convention).
    */
  private[graft] def lmDeleteCounts(base: DataFrame, deleted: DataFrame): DataFrame =
    base.join(
        broadcast(deleted.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12d"))),
        Seq("w1", "w2"), "left")
      .select(col("w1"), col("w2"),
        (col("n12") - coalesce(col("n12d"), lit(0L))).as("n12"))
      .filter(col("n12") > 0)

  /** x_lm_delete: the LM artifact's ERASURE rung — the decrement the
    * round-18 retention ladder was missing at the LM level: the
    * posting index ([[TextOps.neardupIndexDelete]]) and the vector
    * index ([[VectorOps.annIndexDelete]]) both erase with
    * never-existed semantics, but the standing bigram LM only had
    * fold ([[x_lmUpdate]]) and prune ([[x_lmPrune]]) — a deleted
    * document's bigram counts survived erasure forever. Here a
    * retention request (train-shard docs with doc_id ≡ [[LmDeleteRes]]
    * mod [[LmDeleteMod]] — id-addressed, so null-id docs never match)
    * is erased by ONE delta scan + a vocabulary-sized decrement merge
    * ([[lmDeleteCounts]]): census the deleted docs' bigrams, subtract
    * from the standing pair table, drop zeros, persist as the next
    * artifact generation.
    *
    * Erasure REPRICES scoring (the x_lm_prune lesson — a maintenance
    * step that changes scores ships as its own oracled query): unlike
    * the prune, which keeps pre-prune marginals by backoff semantics,
    * the delete re-derives heads (w1→n1) and the total mass from the
    * DECREMENTED table — never-ingested means the marginals too are
    * as if the docs never arrived. Held-out text then scores through
    * the post-delete model via [[lmHeldoutScoreOf]] — and the DuckDB
    * twin trains on the surviving train docs directly, so the
    * hash-check verifies the ERASURE itself against an independent
    * engine: any count the decrement left behind (or over-subtracted)
    * shifts a score through n12/n1/n_tot and breaks the hash.
    *
    * Scale (100 TB): the request slice's census is one scan of the
    * DELETED docs only (map-side combined); the decrement is a
    * vocabulary-sized broadcast merge + artifact write; scoring has
    * x_lm_heldout's economics. The corpus is never re-scanned — the
    * x_lm_update argument run backwards, which is exactly why the
    * census-additive LM design pays off at erasure time.
    */
  def x_lmDelete(spark: SparkSession, d: String): DataFrame =
    lmDeleteRun(spark, d, "lm_delete")(
      Tables.documents(spark, d).filter(col("source") === LmTrainSource &&
        pmod(col("doc_id"), lit(LmDeleteMod)) === LmDeleteRes))

  /** The erasure body behind [[x_lmDelete]] and its arrival twin
    * (s24) — the variants differ ONLY in how the deleted-docs frame is
    * derived (batch slice filter vs the close-time join of the durable
    * request log back to the store): the decrement, the generation
    * write, the never-ingested marginals and the scoring tail are one
    * body so the twins cannot drift.
    */
  private[graft] def lmDeleteRun(spark: SparkSession, d: String, tag: String)(
      deleted: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, d)
    val dir = Tables.scratchDir(tag, d)
    // the standing artifact: trained on a past epoch, memoized
    val lmDir = standingTrainLmDir(spark, d)
    // the DECREMENT: standing census ⊖ deleted census → the next
    // generation, persisted (the memo stays immutable — read-only
    // consumers; the write-new convention of every delete rung)
    lmDeleteCounts(Tables.parquet(spark, s"$lmDir/counts.parquet"), bigramsOf(deleted))
      .write.mode("overwrite").parquet(s"$dir/counts_v2.parquet")
    val counts = Tables.parquet(spark, s"$dir/counts_v2.parquet").localCheckpoint()
    // never-ingested marginals: heads + total from the DECREMENTED
    // table (deliberate contrast with x_lmPrune's pre-prune marginals)
    val heads = counts.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    lmHeldoutScoreOf(
        bigramsOf(docs.filter(!(col("source") <=> lit(LmTrainSource)))),
        counts, heads, lmTotalOf(counts, "n12"))
      .orderBy(col("doc_id"))
  }

  /** Minimum surviving pair count for [[x_lmPrune]]'s cut — bigrams
    * seen fewer times than this leave the pair table. 2 is the
    * classic singleton cut; on the fixture it prunes ~40% of the
    * train shard's pairs while eval text still hits both branches
    * thousands of times (measured at both driver scales).
    */
  val LmPruneMin = 2L

  /** x_lm_prune: the LM artifact's MAINTENANCE cut — the rung
    * [[x_lmUpdate]]'s scaladoc names: the fold's vocabulary only
    * grows, so a production cadence interleaves folds with a
    * min-count prune exactly as the posting index interleaves ingest
    * with compaction. Unlike compaction, pruning CHANGES scores —
    * a pruned transition takes the OOV arm — so it is registered as
    * its own oracled query, not folded silently into the update path:
    * train on the standing shard, persist, prune the pair table at
    * [[LmPruneMin]] into the next artifact generation, then score
    * held-out text through the PRUNED model via the
    * [[lmHeldoutScoreOf]] tail.
    *
    * Pruning semantics are the backoff-LM ones: the cut drops PAIR
    * rows only, while the head census (w1 → n1) and the total mass
    * stay the TRUE pre-prune marginals the artifact also ships — so a
    * surviving transition costs exactly what it cost before the prune,
    * a pruned transition costs exactly the OOV fallback, and
    * pruned-vs-unpruned scoring differs ONLY on pruned-bigram
    * transitions (the invariant NewOpsSpec pins row-for-row; pruning
    * marginals too would silently re-price every sibling transition).
    * The OOV arm's domination property is untouched: n1 ≤ n_tot and
    * n12 ≥ 1 exactly as in [[x_lmHeldout]].
    *
    * Scale (100 TB): the prune is one vocabulary-sized filter + write
    * — never a corpus re-scan; scoring has x_lm_heldout's economics
    * (one scored-shard explode, two slim equi-joins, a 1-row total
    * broadcast). Hash-checked end-to-end: the DuckDB twin applies the
    * identical cut, so the whole train/prune/score cycle is verified
    * against an independent engine.
    */
  def x_lmPrune(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val dir = Tables.scratchDir("lm_prune", d)
    // the standing artifact: trained on a past epoch, memoized
    // ([[standingTrainLmDir]] — per round-17 ADVICE the base train is
    // standing state, not per-invocation work; BENCH now measures the
    // prune + scoring, the maintenance job's real recurring cost). The
    // memo already ships the pre-prune head census, which IS the
    // marginal the pruned artifact keeps.
    val lmDir = standingTrainLmDir(spark, d)
    val full = Tables.parquet(spark, s"$lmDir/counts.parquet")
    // the PRUNE: min-count cut over the pair table, persisted as the
    // next generation; heads + total stay the pre-prune marginals
    full.filter(col("n12") >= LmPruneMin)
      .write.mode("overwrite").parquet(s"$dir/counts_v2.parquet")
    // scoring consumes the persisted generation as checkpointed slim
    // state (the x_lm_update idiom — one documents scan in the final
    // plan) and the 1-scalar total as a collected broadcast (the s17
    // pattern: an un-materialized agg would re-scan the census inside
    // the scoring plan)
    val counts = Tables.parquet(spark, s"$dir/counts_v2.parquet").localCheckpoint()
    val heads = Tables.parquet(spark, s"$lmDir/heads.parquet").localCheckpoint()
    lmHeldoutScoreOf(
        bigramsOf(docs.filter(!(col("source") <=> lit(LmTrainSource)))),
        counts, heads, lmTotalOf(full, "n12"))
      .orderBy(col("doc_id"))
  }

  /** Rows published by c22's coverage report. */
  val VocabTopK = 100L

  /** c22: vocabulary coverage curve — for the top-[[VocabTopK]] terms by
    * occurrence count, the cumulative fraction of ALL token occurrences
    * they cover (rational e6 integers — engine-exact). The corpus report
    * that answers "how big a vocabulary do I need": tokenizer sizing,
    * OOV-rate estimation, and the long-tail health check next to c19's
    * heavy hitters.
    *
    * Scale (100 TB): one corpus explode → ONE map-side-combinable term
    * reduce (the only data-sized shuffle; c20's shape). The cumulative
    * window is GLOBAL-ordered, but it runs on the REDUCED vocabulary
    * table pre-cut to the top-K by a TakeOrdered-style limit — the
    * single-task sort sees K rows, never the vocabulary (let alone the
    * corpus). The total-occurrences denominator rides a tiny census
    * broadcast (b21's pattern).
    */
  def c22_vocabCoverage(spark: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val top = counts.orderBy(col("n").desc, col("term")).limit(VocabTopK.toInt)
    val wOrd = Window.orderBy(col("n").desc, col("term"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(wOrd).cast("long"))
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .select(col("rnk"), col("term"), col("n"), col("cum_n"),
        expr("cum_n * 1000000L DIV total").as("coverage_e6"))
      .orderBy(col("rnk"))
  }

  /** c33 vocab size — the rarity model's driver state is exactly this
    * many (term, bits) pairs, collected once (the IVF-codebook
    * pattern: model size is a CONSTANT, decoupled from corpus size)
    */
  val RarityV = 256L

  /** c33: per-document rarity score — the quality-based data-SELECTION
    * signal (the exact-integer stand-in for CCNet/DSIR-style LM
    * scoring): train a document-frequency model over the corpus, then
    * score each document by the summed rarity of its tokens. The
    * rarity unit is `length(bin(N / df))` = floor(log2(N/df)) + 1 —
    * an IDF in whole bits computed by BINARY-STRING LENGTH, never a
    * float log, so Spark and DuckDB agree exactly. Tokens outside the
    * top-[[RarityV]] vocabulary score the out-of-vocabulary maximum
    * `length(bin(N))`. Null text scores zero (totality).
    *
    * Scale (100 TB): training is one map-side-combined df reduce (the
    * per-doc array_distinct collapses inside the scan; only
    * (term, count) longs shuffle) of which just the top-V rows — KB of
    * driver state, size-pinned like the IVF/PQ codebooks — are
    * collected and compiled into a single map literal. The scoring
    * pass is then pure per-row work over ONE corpus scan: the lookup
    * map rides the plan as one broadcast literal, the token fold runs
    * inside the projection, and the only exchange left is the
    * presentation sort (PlanSpec pins no-Join / zero hash exchanges).
    */
  def c33_rarityScore(spark: SparkSession, d: String): DataFrame =
    rarityScored(spark, d)
      .select(col("doc_id"), col("n_tok"), col("rarity_sum"), col("rarity_mean_e6"))
      .orderBy(col("doc_id"))

  /** c33's scoring frame with `source` carried through (shared by c33
    * and x_select_by_rarity), unordered
    */
  private def rarityScored(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val nDocs = math.max(docs.count(), 1L)
    val vocab = docs
      .select(explode(expr(
        "array_distinct(CASE WHEN text IS NULL THEN array() ELSE split(text, ' ') END)")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(RarityV.toInt)
      .collect()
    val bits: Map[String, Long] = vocab.map { r =>
      r.getString(0) -> java.lang.Long.toBinaryString(nDocs / r.getLong(1)).length.toLong
    }.toMap
    val oovBits = java.lang.Long.toBinaryString(nDocs).length.toLong
    val bmap = typedLit(bits)
    docs
      .select(col("doc_id"), col("source"), expr(
        "CASE WHEN text IS NULL THEN array() ELSE split(text, ' ') END").as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("rarity_sum", aggregate(col("t"), lit(0L),
        (acc, x) => acc + coalesce(element_at(bmap, x), lit(oovBits))))
      .withColumn("rarity_mean_e6",
        when(col("n_tok") === 0L, 0L)
          .otherwise(expr("rarity_sum * 1000000L DIV n_tok")))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("rarity_sum"), col("rarity_mean_e6"))
  }

  /** x_select_by_rarity keeps this many docs per source slice */
  val RaritySelectK = 32L

  /** x_select_by_rarity: the data-SELECTION action c33's score exists
    * for — keep the top-[[RaritySelectK]] most-informative documents
    * per source slice (the per-domain quota form of rarity/importance
    * sampling a mixing recipe applies): rank within source by
    * (rarity_mean_e6 desc, doc_id) — a total order, so the cut is
    * deterministic — and keep rank ≤ K.
    *
    * Scale (100 TB): scoring is c33's zero-exchange projection; the
    * rank is ONE window shuffle on source where the rank≤K filter
    * pushes INTO the sort as WindowGroupLimit (b17's pattern,
    * PlanSpec-pinned) — each partition retains a K-row heap instead of
    * sorting its slice, so a skewed source costs O(K) state, not a
    * full sort spill.
    */
  def x_selectByRarity(spark: SparkSession, d: String): DataFrame = {
    // doc_id rides asc_nulls_LAST: the tie-break is only a total order
    // when doc_ids are unique, and on a dirty corpus with NULL ids the
    // engines' default null sort diverges (Spark asc = nulls first,
    // DuckDB = nulls last) — which would flip WHICH doc survives the
    // K-cut (round-14 ADVICE). Pinning nulls-last on both sides keeps
    // the cut engine-agreed; duplicate non-null ids remain the caller's
    // documented precondition (rank among exact (score, id) ties is
    // arbitrary in ANY engine).
    val w = Window.partitionBy(col("source"))
      .orderBy(col("rarity_mean_e6").desc, col("doc_id").asc_nulls_last)
    rarityScored(spark, d)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= RaritySelectK)
      .select(col("source"), col("rnk"), col("doc_id"),
        col("n_tok"), col("rarity_mean_e6"))
      .orderBy(col("source"), col("rnk"))
  }

  val oracles: Map[String, String] = Map(
    "x_select_by_rarity" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CASE WHEN text IS NULL THEN [] ELSE str_split(text, ' ') END AS t
         |  FROM documents),
         |n AS (SELECT CAST(GREATEST(count(*), 1) AS BIGINT) AS n FROM documents),
         |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM t)
         |  GROUP BY term),
         |vocab AS (SELECT term,
         |  CAST(length(bin((SELECT n FROM n) // df)) AS BIGINT) AS bits
         |  FROM dfc ORDER BY df DESC, term LIMIT $RarityV),
         |oov AS (SELECT CAST(length(bin(n)) AS BIGINT) AS bits FROM n),
         |tok AS (SELECT doc_id, unnest(t) AS term FROM t),
         |sc AS (SELECT tok.doc_id,
         |  CAST(SUM(COALESCE(v.bits, (SELECT bits FROM oov))) AS BIGINT) AS rarity_sum
         |  FROM tok LEFT JOIN vocab v USING (term) GROUP BY tok.doc_id),
         |scored AS (SELECT t.doc_id, t.source, CAST(len(t.t) AS BIGINT) AS n_tok,
         |  CAST(CASE WHEN len(t.t) = 0 THEN 0
         |       ELSE COALESCE(sc.rarity_sum, 0) * 1000000 // len(t.t) END AS BIGINT)
         |    AS rarity_mean_e6
         |  FROM t LEFT JOIN sc ON sc.doc_id = t.doc_id),
         |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY rarity_mean_e6 DESC, doc_id NULLS LAST) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT source, rnk, doc_id, n_tok, rarity_mean_e6
         |FROM ranked WHERE rnk <= $RaritySelectK
         |ORDER BY source NULLS FIRST, rnk""".stripMargin,
    "c33_rarity_score" ->
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN [] ELSE str_split(text, ' ') END AS t
         |  FROM documents),
         |n AS (SELECT CAST(GREATEST(count(*), 1) AS BIGINT) AS n FROM documents),
         |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM t)
         |  GROUP BY term),
         |vocab AS (SELECT term,
         |  CAST(length(bin((SELECT n FROM n) // df)) AS BIGINT) AS bits
         |  FROM dfc ORDER BY df DESC, term LIMIT $RarityV),
         |oov AS (SELECT CAST(length(bin(n)) AS BIGINT) AS bits FROM n),
         |tok AS (SELECT doc_id, unnest(t) AS term FROM t),
         |sc AS (SELECT tok.doc_id,
         |  CAST(SUM(COALESCE(v.bits, (SELECT bits FROM oov))) AS BIGINT) AS rarity_sum
         |  FROM tok LEFT JOIN vocab v USING (term) GROUP BY tok.doc_id)
         |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tok,
         |  COALESCE(sc.rarity_sum, 0) AS rarity_sum,
         |  CAST(CASE WHEN len(t.t) = 0 THEN 0
         |       ELSE COALESCE(sc.rarity_sum, 0) * 1000000 // len(t.t) END AS BIGINT)
         |    AS rarity_mean_e6
         |FROM t LEFT JOIN sc ON sc.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "c22_vocab_coverage" ->
      s"""WITH counts AS (
         |  SELECT unnest(str_split(text, ' ')) AS term FROM documents),
         |c AS (SELECT term, COUNT(*) AS n FROM counts GROUP BY term),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
         |top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT $VocabTopK)
         |SELECT
         |  CAST(row_number() OVER w AS BIGINT) AS rnk,
         |  term, n,
         |  CAST(SUM(n) OVER (ORDER BY n DESC, term
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
         |  CAST(CAST(SUM(n) OVER (ORDER BY n DESC, term
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000 // t.total AS BIGINT) AS coverage_e6
         |FROM top, t
         |WINDOW w AS (ORDER BY n DESC, term)
         |ORDER BY rnk""".stripMargin,
    // c35: the same bigram/head censuses as c20 (no min-count cut —
    // scoring wants the true counts), binary-length surprise, exact
    // rational mean
    "c35_lm_score" -> C35Sql,
    // x_lm_update: fold-then-score ≡ retrain-then-score (census
    // additivity), so the update path carries c35's oracle VERBATIM
    "x_lm_update" -> C35Sql,
    // x_lm_heldout: standing-shard LM, every other doc scored via left
    // join; unseen transition costs length(bin(n_tot)) — see
    // lmHeldoutScoreOf / LmTrainSource
    "x_lm_heldout" -> LmHeldoutSql,
    // x_lm_prune: the identical min-count cut in SQL — pair table
    // pruned, heads/total stay the pre-prune marginals (see x_lmPrune)
    "x_lm_prune" -> LmPruneSql,
    // x_lm_delete: decrement ≡ retrain on survivors (census
    // additivity run backwards), so the twin trains on the kept train
    // docs directly — never-ingested marginals included (see x_lmDelete)
    "x_lm_delete" -> LmDeleteSql,
    "c20_bigram_stats" ->
      s"""WITH toks AS (
         |  SELECT str_split(text, ' ') AS t FROM documents
         |  WHERE len(str_split(text, ' ')) >= 2),
         |bi AS (
         |  SELECT t[i] AS w1, t[i + 1] AS w2
         |  FROM toks, unnest(range(1, len(t))) r(i)),
         |c AS (SELECT w1, w2, COUNT(*) AS n12 FROM bi GROUP BY 1, 2),
         |w AS (SELECT w1, w2, n12,
         |        CAST(SUM(n12) OVER (PARTITION BY w1) AS BIGINT) AS n1
         |      FROM c)
         |SELECT w1, w2, n12, n1,
         |  CAST(n12 * 1000000 // n1 AS BIGINT) AS p_e6
         |FROM w WHERE n12 >= $BigramMinCount
         |ORDER BY w1, w2""".stripMargin,
    "c10_stopword_filter" ->
      """SELECT doc_id,
        |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_orig,
        |  CAST(len(list_filter(str_split(text, ' '), x -> x NOT IN ('the', 'a'))) AS BIGINT) AS n_kept,
        |  array_to_string(list_filter(str_split(text, ' '), x -> x NOT IN ('the', 'a')), ' ') AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,
    "c11_hash_sample" ->
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) % 10 AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) % 10 < 8 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) % 10 = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "c12_tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT doc_id, term,
        |  CAST(FLOOR(CAST(tf AS DOUBLE) * n / df * 1e6) AS BIGINT) AS score_e6,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY CAST(tf AS DOUBLE) * n / df DESC, term) AS BIGINT) AS rnk
        |FROM tf JOIN df USING (term), n
        |QUALIFY rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "c13_stratified_sample" -> C13Sql,
    "c28_pack_bpe" -> C28Sql,
    // x_stratified_prefilter / x_pack_twophase / x_corpus_from_clusters
    // are byte-equal to their twins (scalatest-pinned), so they share
    // the twin's oracle string VERBATIM — one definition, no drift.
    "x_stratified_prefilter" -> C13Sql,
    "c14_pack_sequences" -> C14Sql,
    "x_pack_twophase" -> C14Sql,
    "c16_corpus_pipeline" -> C16Sql,
    // c36: temperature source mixing — exact-integer budgets both sides
    "c36_mixture_sample" -> C36Sql,
    // the prefix-exact census-then-filter scale path is byte-equal to
    // c36 (guard-enforced), so it shares the oracle STRING by reference
    "x_mixture_prefilter" -> C36Sql,
    // c37: the mixed-and-packed manifest — c36 ∘ c14 composed
    "c37_mixture_pack" -> C37Sql,
    "x_corpus_from_clusters" -> C16Sql,
    // x_corpus_retention: the identical pipeline over the kept docs —
    // the restriction IS the oracle (the x_neardup_delete pattern)
    "x_corpus_retention" -> C16RetentionSql,
  )

  // c35's DuckDB twin — shared by c35, its streaming twin s16, and the
  // LM-update path x_lm_update (one string, no drift)
  private[graft] lazy val C35Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, str_split(text, ' ') AS t FROM documents
       |  WHERE len(str_split(text, ' ')) >= 2),
       |bi AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, unnest(range(1, len(t))) r(i)),
       |c AS (SELECT w1, w2, COUNT(*) AS n12 FROM bi GROUP BY 1, 2),
       |h AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c GROUP BY 1),
       |s AS (SELECT bi.doc_id,
       |        CAST(length(bin(h.n1)) - length(bin(c.n12)) AS BIGINT) AS s
       |      FROM bi JOIN c USING (w1, w2) JOIN h USING (w1)),
       |a AS (SELECT doc_id, COUNT(*) AS n_bi, CAST(SUM(s) AS BIGINT) AS bits_sum
       |      FROM s GROUP BY doc_id)
       |SELECT doc_id, n_bi, bits_sum,
       |  CAST(bits_sum * 1000000 // n_bi AS BIGINT) AS avg_bits_e6
       |FROM a ORDER BY doc_id""".stripMargin

  // x_lm_prune's DuckDB twin — LmHeldoutSql's shape with the pair
  // table cut at LmPruneMin (c := c0 filtered); heads and total stay
  // the PRE-prune marginals (h from c0, tot from tb), the backoff-LM
  // semantics x_lmPrune documents
  private[graft] lazy val LmPruneSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, str_split(text, ' ') AS t FROM documents
       |  WHERE len(str_split(text, ' ')) >= 2),
       |bi AS (
       |  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, unnest(range(1, len(t))) r(i)),
       |tb AS (SELECT w1, w2 FROM bi WHERE source = '$LmTrainSource'),
       |c0 AS (SELECT w1, w2, COUNT(*) AS n12 FROM tb GROUP BY 1, 2),
       |c AS (SELECT * FROM c0 WHERE n12 >= $LmPruneMin),
       |h AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c0 GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM tb),
       |eb AS (SELECT doc_id, w1, w2 FROM bi WHERE source IS DISTINCT FROM '$LmTrainSource'),
       |s AS (SELECT eb.doc_id,
       |        CASE WHEN c.n12 IS NOT NULL
       |             THEN CAST(length(bin(h.n1)) - length(bin(c.n12)) AS BIGINT)
       |             ELSE CAST(length(bin(tot.n_tot)) AS BIGINT) END AS s,
       |        CASE WHEN c.n12 IS NULL THEN 1 ELSE 0 END AS oov
       |      FROM eb LEFT JOIN c USING (w1, w2) LEFT JOIN h USING (w1), tot)
       |SELECT doc_id, COUNT(*) AS n_bi, CAST(SUM(oov) AS BIGINT) AS n_oov,
       |  CAST(SUM(s) AS BIGINT) AS bits_sum,
       |  CAST(SUM(s) * 1000000 // COUNT(*) AS BIGINT) AS avg_bits_e6
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // x_lm_delete's DuckDB twin — LmHeldoutSql's shape with the train
  // census built over the SURVIVING train docs only (never-ingested
  // semantics: c, h, and tot all derive from the kept set; null-id
  // docs are kept — an id-addressed request cannot match them)
  private[graft] lazy val LmDeleteSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, str_split(text, ' ') AS t FROM documents
       |  WHERE len(str_split(text, ' ')) >= 2),
       |bi AS (
       |  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, unnest(range(1, len(t))) r(i)),
       |tb AS (SELECT w1, w2 FROM bi
       |       WHERE source = '$LmTrainSource'
       |         AND (doc_id IS NULL OR NOT (((doc_id % $LmDeleteMod) + $LmDeleteMod) % $LmDeleteMod = $LmDeleteRes))),
       |c AS (SELECT w1, w2, COUNT(*) AS n12 FROM tb GROUP BY 1, 2),
       |h AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM tb),
       |eb AS (SELECT doc_id, w1, w2 FROM bi WHERE source IS DISTINCT FROM '$LmTrainSource'),
       |s AS (SELECT eb.doc_id,
       |        CASE WHEN c.n12 IS NOT NULL
       |             THEN CAST(length(bin(h.n1)) - length(bin(c.n12)) AS BIGINT)
       |             ELSE CAST(length(bin(tot.n_tot)) AS BIGINT) END AS s,
       |        CASE WHEN c.n12 IS NULL THEN 1 ELSE 0 END AS oov
       |      FROM eb LEFT JOIN c USING (w1, w2) LEFT JOIN h USING (w1), tot)
       |SELECT doc_id, COUNT(*) AS n_bi, CAST(SUM(oov) AS BIGINT) AS n_oov,
       |  CAST(SUM(s) AS BIGINT) AS bits_sum,
       |  CAST(SUM(s) * 1000000 // COUNT(*) AS BIGINT) AS avg_bits_e6
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // the held-out scorer's DuckDB twin — shared by x_lm_heldout and its
  // streaming twin s17 (one string, no drift)
  private[graft] lazy val LmHeldoutSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, str_split(text, ' ') AS t FROM documents
       |  WHERE len(str_split(text, ' ')) >= 2),
       |bi AS (
       |  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, unnest(range(1, len(t))) r(i)),
       |tb AS (SELECT w1, w2 FROM bi WHERE source = '$LmTrainSource'),
       |c AS (SELECT w1, w2, COUNT(*) AS n12 FROM tb GROUP BY 1, 2),
       |h AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM tb),
       |eb AS (SELECT doc_id, w1, w2 FROM bi WHERE source IS DISTINCT FROM '$LmTrainSource'),
       |s AS (SELECT eb.doc_id,
       |        CASE WHEN c.n12 IS NOT NULL
       |             THEN CAST(length(bin(h.n1)) - length(bin(c.n12)) AS BIGINT)
       |             ELSE CAST(length(bin(tot.n_tot)) AS BIGINT) END AS s,
       |        CASE WHEN c.n12 IS NULL THEN 1 ELSE 0 END AS oov
       |      FROM eb LEFT JOIN c USING (w1, w2) LEFT JOIN h USING (w1), tot)
       |SELECT doc_id, COUNT(*) AS n_bi, CAST(SUM(oov) AS BIGINT) AS n_oov,
       |  CAST(SUM(s) AS BIGINT) AS bits_sum,
       |  CAST(SUM(s) * 1000000 // COUNT(*) AS BIGINT) AS avg_bits_e6
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private lazy val C13Sql =
      """SELECT doc_id, lang, rnk FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(coalesce(lang, '') || '|' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS rnk
        |  FROM documents)
        |WHERE rnk <= 100 ORDER BY lang, rnk""".stripMargin

  /** c36's twin: the identical exact-integer temperature-budget
    * arithmetic (w = floor(sqrt(mass)), the overflow-free
    * w·(T div W) + (w·(T mod W)) div W budget form) over the same
    * md5-rank order. DuckDB's SUM promotes to HUGEINT, which the
    * integer div/mod identities survive unchanged.
    */
  private lazy val C36Sql =
      s"""WITH sized AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL THEN 0
        |         ELSE CAST(len(str_split(text, ' ')) AS BIGINT) END AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS order_key
        |  FROM documents WHERE source IS NOT NULL),
        |mass AS (
        |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS m,
        |    CAST(FLOOR(SQRT(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS w
        |  FROM sized GROUP BY source),
        |tot AS (SELECT CAST(SUM(m) // $MixTotalDen AS BIGINT) AS t,
        |               CAST(SUM(w) AS BIGINT) AS tw FROM mass),
        |budgets AS (
        |  SELECT source, w * (t // tw) + (w * (t % tw)) // tw AS budget
        |  FROM mass, tot WHERE tw > 0),
        |cum AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY order_key, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY order_key, doc_id) AS BIGINT) AS rnk
        |  FROM sized)
        |SELECT c.doc_id, c.source, c.n_tok, c.rnk
        |FROM cum c JOIN budgets b ON c.source = b.source
        |WHERE c.tok_end - c.n_tok < b.budget
        |ORDER BY c.source, c.rnk""".stripMargin

  /** c37's twin: the c36 CTEs composed with c14's pack arithmetic over
    * the kept set — the same order key carries from sample to pack.
    */
  private lazy val C37Sql =
      s"""WITH sized AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL THEN 0
        |         ELSE CAST(len(str_split(text, ' ')) AS BIGINT) END AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS order_key
        |  FROM documents WHERE source IS NOT NULL),
        |mass AS (
        |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS m,
        |    CAST(FLOOR(SQRT(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS w
        |  FROM sized GROUP BY source),
        |tot AS (SELECT CAST(SUM(m) // $MixTotalDen AS BIGINT) AS t,
        |               CAST(SUM(w) AS BIGINT) AS tw FROM mass),
        |budgets AS (
        |  SELECT source, w * (t // tw) + (w * (t % tw)) // tw AS budget
        |  FROM mass, tot WHERE tw > 0),
        |cum AS (
        |  SELECT doc_id, source, n_tok, order_key,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY order_key, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        |  FROM sized),
        |kept AS (
        |  SELECT c.doc_id, c.source, c.n_tok, c.order_key
        |  FROM cum c JOIN budgets b ON c.source = b.source
        |  WHERE c.tok_end - c.n_tok < b.budget),
        |pcum AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY order_key, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        |  FROM kept)
        |SELECT doc_id, source, n_tok,
        |  CAST((tok_end - n_tok) // $SeqBudget AS BIGINT) AS seq_id,
        |  CAST((tok_end - n_tok) % $SeqBudget AS BIGINT) AS offset
        |FROM pcum ORDER BY source, seq_id, "offset", doc_id""".stripMargin

  private lazy val C14Sql =
      """WITH sized AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL THEN 0
        |         ELSE CAST(len(str_split(text, ' ')) AS BIGINT) END AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS order_key
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY order_key, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS tok_end
        |  FROM sized)
        |SELECT doc_id, source, n_tok,
        |  CAST((tok_end - n_tok) // 256 AS BIGINT) AS seq_id,
        |  CAST((tok_end - n_tok) % 256 AS BIGINT) AS offset
        |FROM cum ORDER BY source, seq_id, "offset", doc_id""".stripMargin

  /** c14's oracle with the sizing CTE swapped to c26's regex piece
    * count — the same pattern string both engines run (Java∩RE2
    * subset, see [[TextOps.BpePattern]]), the same integer DIV/%
    * chunking.
    */
  private lazy val C28Sql =
      s"""WITH sized AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL THEN 0
        |         ELSE CAST(len(regexp_extract_all(text, '${TextOps.BpePattern.replace("'", "''")}')) AS BIGINT) END AS n_bpe,
        |    md5(CAST(doc_id AS VARCHAR)) AS order_key
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_bpe,
        |    SUM(n_bpe) OVER (PARTITION BY source ORDER BY order_key, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS tok_end
        |  FROM sized)
        |SELECT doc_id, source, n_bpe,
        |  CAST((tok_end - n_bpe) // $SeqBudget AS BIGINT) AS seq_id,
        |  CAST((tok_end - n_bpe) % $SeqBudget AS BIGINT) AS offset
        |FROM cum ORDER BY source, seq_id, "offset", doc_id""".stripMargin

  /** c16's oracle body over a parameterized docs relation — one string
    * for the batch pipeline / its arrival twins (over `documents`) and
    * the retention rung (over a kept-docs CTE), so the pipeline SQL
    * cannot drift between them.
    */
  private def c16SqlOver(docs: String): String =
      s"""toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM $docs WHERE len(str_split(text, ' ')) >= 3),
        |sh0 AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM toks, unnest(range(1, len(t) - 1)) AS r(i)),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |freq AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) BETWEEN 2 AND 1000),
        |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN freq USING (s)),
        |pairs0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |           FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |verified AS (SELECT p.a_id, p.b_id FROM pairs0 p
        |  JOIN card ca ON ca.doc_id = p.a_id JOIN card cb ON cb.doc_id = p.b_id
        |  WHERE CAST(p.inter AS DOUBLE) / (ca.n + cb.n - p.inter) >= 0.5),
        |e AS (SELECT a_id, b_id FROM verified UNION SELECT b_id AS a_id, a_id AS b_id FROM verified),
        |reach(id, r) AS (
        |  SELECT a_id, b_id FROM e
        |  UNION
        |  SELECT reach.id, e.b_id FROM reach JOIN e ON reach.r = e.a_id),
        |drops AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id <> MIN(r)),
        |keeps AS (SELECT MIN(doc_id) AS doc_id FROM $docs GROUP BY sha256(lower(text))),
        |surv AS (SELECT d.doc_id, d.source,
        |    CASE WHEN d.text IS NULL THEN 0
        |         ELSE CAST(len(str_split(d.text, ' ')) AS BIGINT) END AS n_tok,
        |    md5(CAST(d.doc_id AS VARCHAR)) AS order_key
        |  FROM $docs d
        |  JOIN keeps USING (doc_id)
        |  LEFT JOIN drops ON drops.doc_id = d.doc_id
        |  WHERE drops.doc_id IS NULL),
        |q AS (SELECT * FROM surv WHERE n_tok BETWEEN 5 AND 5000),
        |cum AS (SELECT doc_id, source, n_tok,
        |  SUM(n_tok) OVER (PARTITION BY source ORDER BY order_key, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS tok_end FROM q)
        |SELECT doc_id, source, n_tok,
        |  CAST((tok_end - n_tok) // 256 AS BIGINT) AS seq_id,
        |  CAST((tok_end - n_tok) % 256 AS BIGINT) AS offset
        |FROM cum ORDER BY source, seq_id, "offset", doc_id""".stripMargin

  private lazy val C16Sql = "WITH RECURSIVE " + c16SqlOver("documents")

  // x_corpus_retention's twin: the identical pipeline over the
  // kept-docs CTE — never-existed semantics verified end-to-end (a
  // leftover state row would surface as a phantom manifest row, a
  // wrong keeper, or a shifted offset)
  private lazy val C16RetentionSql =
    s"""WITH RECURSIVE docs_kept AS (
       |  SELECT * FROM documents
       |  WHERE doc_id IS NULL OR NOT (((doc_id % $CorpusDeleteMod) + $CorpusDeleteMod) % $CorpusDeleteMod = $CorpusDeleteRes)),
       |""".stripMargin + c16SqlOver("docs_kept")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c10_stopword_filter" -> c10_stopwordFilter _,
    "c11_hash_sample"     -> c11_hashSample _,
    "c12_tfidf_top_terms" -> c12_tfidfTopTerms _,
    "c13_stratified_sample" -> c13_stratifiedSample _,
    "c14_pack_sequences"  -> c14_packSequences _,
    "c28_pack_bpe"        -> c28_packBpe _,
    "c16_corpus_pipeline" -> c16_corpusPipeline _,
    "c36_mixture_sample"  -> c36_mixtureSample _,
    "c37_mixture_pack"    -> c37_mixturePack _,
    "x_mixture_prefilter" -> x_mixturePrefilter _,
    "x_stratified_prefilter" -> x_stratifiedPrefilter _,
    "x_corpus_from_clusters" -> x_corpusFromClusters _,
    "x_corpus_retention"  -> x_corpusRetention _,
    "x_pack_twophase"     -> x_packTwophase _,
    "c20_bigram_stats"    -> c20_bigramStats _,
    "c35_lm_score"        -> c35_lmScore _,
    "x_lm_heldout"        -> x_lmHeldout _,
    "x_lm_update"         -> x_lmUpdate _,
    "x_lm_prune"          -> x_lmPrune _,
    "x_lm_delete"         -> x_lmDelete _,
    "c22_vocab_coverage"  -> c22_vocabCoverage _,
    "c33_rarity_score"    -> c33_rarityScore _,
    "x_select_by_rarity"  -> x_selectByRarity _,
  )
}
