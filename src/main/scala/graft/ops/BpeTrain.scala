package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer INDUCTION — the step every LLM data pipeline runs before
  * any token-budget decision is meaningful: train a BPE merge table on
  * the corpus itself (Sennrich et al. 2016, the word-frequency
  * formulation every production trainer uses), then measure what the
  * learned vocabulary costs per document. c26 counts pieces under a
  * FIXED pre-tokenizer regex; this family learns the merges.
  *
  * Spark-first decomposition:
  *
  *  1. `wordCensus` (distributed): one groupBy-count over the corpus's
  *     whitespace words, capped to the [[WordCap]] most frequent via
  *     TakeOrderedAndProject — the classic trick that makes BPE
  *     training corpus-size-independent: merges depend on the WORD
  *     FREQUENCY table, not on raw text, and the capped table is
  *     bounded MODEL STATE (the IVF-codebook / c33-vocab pattern, at
  *     most WordCap (word, freq) rows to the driver).
  *  2. `trainMerges` (driver, pure deterministic Scala): greedy pair
  *     merging over the census — per round, count adjacent symbol
  *     pairs weighted by word frequency, merge the (count desc, pair
  *     lexicographic) argmax everywhere, emit the rule. Ties break
  *     lexicographically so the table is bit-stable across reruns,
  *     partitionings, and engines.
  *  3. coverage (distributed): the trained pieces-per-word table
  *     (≤ WordCap rows) broadcast-joins the corpus's exploded words —
  *     census-resident words cost their trained piece count, OOV words
  *     degrade to their character count (the untrained-tokenizer
  *     fallback) — and one per-doc aggregate yields the
  *     tokens/pieces/OOV budget numbers packing (c14/c28) consumes.
  *
  * Both queries are rows-only in the driver gate (the merge table is
  * the output of an iterative trainer no SQL engine reproduces); the
  * trainer is pinned in scalatest against the hand-computable classic
  * low/lower/newest example plus structural invariants (monotone
  * non-increasing merge counts within a frequency-stable corpus are
  * NOT guaranteed by BPE, so the pins are exactness, determinism, and
  * piece-count reconstruction).
  *
  * Scale (100 TB): the corpus is touched by exactly two one-shuffle
  * passes (census + coverage); training cost depends on WordCap and
  * [[BpeMerges]] only. Nothing data-sized meets the driver.
  */
object BpeTrain {

  /** Word-census cap: the trainer sees the WordCap most frequent
    * words. Zipf mass makes this near-lossless for merge selection
    * (the tail's pair counts are noise next to the head's), and it is
    * what bounds driver model state.
    */
  val WordCap = 65536
  /** Number of merge rules to learn. 256 keeps the fixture trainer
    * sub-second; a production run sets vocab-size-minus-bytes.
    */
  val BpeMerges = 256

  /** The DISTRIBUTED word-frequency census of a document frame —
    * (w, c) rows, one shuffle, map-side combined. This is the foldable
    * quantity the whole family stands on: word counts are additive
    * over any row partition of the corpus (the exact
    * [[CorpusOps.lmUpdateCounts]] lemma, one word at a time instead of
    * a bigram), so census(base) ⊕ census(delta) ≡ census(base ∪ delta)
    * EXACTLY — which is what gives the trainer an update and an
    * erasure path that never re-scan the lake.
    */
  private[graft] def wordCountsOf(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** The TRAIN-TIME cap over a full census: the trainer sees the
    * [[WordCap]] most frequent words, cut deterministically under ties
    * via the word tie-break (TakeOrderedAndProject — bounded driver
    * model state). The cap is deliberately NOT part of the standing
    * artifact: a capped census is not additive (a word cut by the base
    * cap could re-enter the top-WordCap after a delta), so the
    * artifact stores the FULL census — vocabulary-sized, the LM pair
    * table's scale posture — and every trainer invocation caps the
    * CURRENT generation. cap ∘ fold ≡ cap ∘ census(union), because the
    * cap is a pure deterministic function of the census.
    */
  private[graft] def cappedCensus(census: DataFrame): Array[(String, Long)] =
    census.orderBy(col("c").desc, col("w"))
      .limit(WordCap)
      .collect() // model state: ≤ WordCap (word, freq) rows
      .map(r => (r.getString(0), r.getLong(1)))

  /** The bounded one-shot census [[x_bpeTrain]]/[[x_bpeCoverage]]
    * consume: full distributed census, train-time cap.
    */
  private[graft] def wordCensus(spark: SparkSession, d: String): Array[(String, Long)] =
    cappedCensus(wordCountsOf(Tables.documents(spark, d)))

  /** One learned rule: merge (left, right) → left+right, with the
    * weighted pair count at selection time.
    */
  private[graft] final case class MergeRule(rank: Int, left: String,
      right: String, count: Long)

  /** One word as its initial symbol sequence: one symbol per CODE
    * POINT (not per UTF-16 char — a surrogate pair is one symbol), so
    * the trainer's unit matches Spark's `length()` and the coverage
    * query's OOV char-count fallback charges exactly what an untrained
    * census word would cost (round-15 review finding).
    */
  private def symbolsOf(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Greedy BPE over the census — pure deterministic driver Scala.
    * Stops early when no pair occurs twice (weighted). Returns the
    * rules AND the final symbol sequences (index-aligned with the
    * census) so [[pieceTable]] reads the trainer's own end state
    * instead of re-deriving it — one application loop, no drift.
    */
  private[graft] def trainMerges(census: Array[(String, Long)]): Seq[MergeRule] =
    trainWithSeqs(census)._1

  private def trainWithSeqs(
      census: Array[(String, Long)]): (Seq[MergeRule], Array[Array[String]]) = {
    if (census.isEmpty) return (Nil, Array.empty)
    // word → current symbol sequence; frequencies never change
    val freqs = census.map(_._2)
    val seqs = census.map { case (w, _) => symbolsOf(w) }
    val rules = Vector.newBuilder[MergeRule]
    var rank = 0
    var continue = true
    while (rank < BpeMerges && continue) {
      // weighted adjacent-pair census over the current sequences
      val counts = new java.util.HashMap[(String, String), Long]()
      var i = 0
      while (i < seqs.length) {
        val s = seqs(i)
        var j = 0
        while (j + 1 < s.length) {
          val k = (s(j), s(j + 1))
          counts.put(k, counts.getOrDefault(k, 0L) + freqs(i))
          j += 1
        }
        i += 1
      }
      // argmax with a total deterministic order: count desc, then the
      // pair lexicographically — the table is bit-stable by design
      var best: (String, String) = null
      var bestC = 1L // a pair must occur at least twice (weighted)
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        val k = e.getKey
        if (c > bestC || (c == bestC && best != null &&
            (k._1 < best._1 || (k._1 == best._1 && k._2 < best._2)))) {
          best = k; bestC = c
        }
      }
      if (best == null) continue = false
      else {
        rules += MergeRule(rank, best._1, best._2, bestC)
        val merged = best._1 + best._2
        i = 0
        while (i < seqs.length) {
          val s = seqs(i)
          // in-place single pass: standard leftmost, non-overlapping
          // application order (a b a b with best (a,b) → ab ab)
          var r = 0; var w = 0
          while (r < s.length) {
            if (r + 1 < s.length && s(r) == best._1 && s(r + 1) == best._2) {
              s(w) = merged; r += 2
            } else { s(w) = s(r); r += 1 }
            w += 1
          }
          if (w < s.length) seqs(i) = java.util.Arrays.copyOf(s, w)
          i += 1
        }
        rank += 1
      }
    }
    (rules.result(), seqs)
  }

  /** Pieces-per-word under the trained merges, for every census word —
    * read straight off the trainer's final sequences so the coverage
    * join cannot drift from the merges (one application loop exists,
    * inside the trainer).
    */
  private[graft] def pieceTable(census: Array[(String, Long)]): Array[(String, Int)] = {
    val (_, seqs) = trainWithSeqs(census)
    census.map(_._1).zip(seqs.map(_.length))
  }

  /** x_bpe_train: the learned merge table — (rank, left, right,
    * merged, pair_count), rank-ordered. Deterministic bit-for-bit
    * across reruns; rows-only in the driver gate (no SQL engine
    * reproduces an iterative trainer), exactness pinned in scalatest
    * on hand-computable corpora.
    */
  def x_bpeTrain(spark: SparkSession, d: String): DataFrame =
    mergeTableDf(spark, wordCensus(spark, d))

  /** The merge table as a DataFrame — ONE rendering shared by the
    * one-shot trainer and the update/erasure rungs, so the three
    * cannot drift in schema or ordering.
    */
  private[graft] def mergeTableDf(spark: SparkSession,
      census: Array[(String, Long)]): DataFrame = {
    import spark.implicits._
    trainMerges(census)
      .map(r => (r.rank.toLong, r.left, r.right, r.left + r.right, r.count))
      .toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  /** The MEMOIZED standing word-census artifact for a dataset — the
    * full (w, c) table over the [[CorpusOps.LmTrainSource]] shard (the
    * same past-epoch convention as [[CorpusOps]]' standing LM: in
    * production this is the census the tokenizer's LAST training run
    * persisted; rebuilding it inside every fold/erasure invocation
    * would double-count the base text-touch in BENCH and hide the
    * maintenance step's marginal cost). Consumers read it strictly
    * READ-ONLY — folds and decrements write their next generation into
    * their own scratch area.
    */
  private[graft] def standingCensusDir(spark: SparkSession, d: String): String =
    Tables.memoDir("bpe_census", d) { p =>
      wordCountsOf(Tables.documents(spark, d)
          .filter(col("source") === CorpusOps.LmTrainSource))
        .write.mode("overwrite").parquet(s"$p/census.parquet")
    }

  /** The census FOLD: standing (w, c) table ⊕ the delta documents' own
    * census → the next artifact generation — [[CorpusOps
    * .lmUpdateCounts]]' shape at word grain (full_outer merge, both
    * sides vocabulary-sized; the delta census is map-side combined
    * before it reaches the join).
    */
  private[graft] def bpeFoldCounts(base: DataFrame, deltaDocs: DataFrame): DataFrame =
    base.join(wordCountsOf(deltaDocs).withColumnRenamed("c", "cd"),
        Seq("w"), "full_outer")
      .select(col("w"),
        (coalesce(col("c"), lit(0L)) + coalesce(col("cd"), lit(0L))).as("c"))

  /** The census DECREMENT: standing table ⊖ the deleted documents' own
    * census, zero rows dropped — [[bpeFoldCounts]] run BACKWARDS (the
    * [[CorpusOps.lmDeleteCounts]] precedent at word grain). A left
    * join suffices (the deleted docs were ingested, so their words are
    * a subset of the standing vocabulary), and the deleted census
    * BROADCASTS — a request slice's vocabulary against the full
    * artifact.
    */
  private[graft] def bpeDeleteCounts(base: DataFrame, deletedDocs: DataFrame): DataFrame =
    base.join(broadcast(wordCountsOf(deletedDocs).withColumnRenamed("c", "cd")),
        Seq("w"), "left")
      .select(col("w"), (col("c") - coalesce(col("cd"), lit(0L))).as("c"))
      .filter(col("c") > 0)

  /** x_bpe_update: the tokenizer lifecycle's FOLD rung — the update
    * path the BPE family was the last standing artifact without
    * (round-19 verdict): a new corpus epoch previously forced a full
    * re-census to refresh the tokenizer. Word counts are additive over
    * any row partition ([[wordCountsOf]]'s lemma), so the rung
    * censuses the DELTA alone (every non-[[CorpusOps.LmTrainSource]]
    * doc — the x_lm_update epoch convention), folds it into the
    * standing artifact ([[bpeFoldCounts]]), persists the next
    * generation, and retrains the merges from the folded census's
    * train-time cap. Because fold ≡ census(union) exactly and the
    * trainer is a deterministic function of the capped census, the
    * output merge table is BYTE-EQUAL to [[x_bpeTrain]]'s from-scratch
    * run over the full corpus — the fold-≡-retrain identity BpeSpec
    * pins (rows-only in the driver gate, the trainer-family contract).
    *
    * Scale (100 TB): the daily cost is one scan of the DELTA (its word
    * census map-side combined) + a vocabulary-sized full_outer merge +
    * a vocabulary-sized artifact write + the WordCap-bounded trainer —
    * never a corpus re-scan. The same growth caveat as the LM fold:
    * the standing vocabulary only grows, so a production cadence
    * interleaves folds with the erasure/prune cut.
    */
  def x_bpeUpdate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val dir = Tables.scratchDir("bpe_update", d)
    val memo = standingCensusDir(spark, d)
    bpeFoldCounts(Tables.parquet(spark, s"$memo/census.parquet"),
        docs.filter(!(col("source") <=> lit(CorpusOps.LmTrainSource))))
      .write.mode("overwrite").parquet(s"$dir/census_v2.parquet")
    mergeTableDf(spark, cappedCensus(Tables.parquet(spark, s"$dir/census_v2.parquet")))
  }

  /** x_bpe_delete: the tokenizer's ERASURE rung — [[x_bpeUpdate]]'s
    * lemma run backwards (the [[CorpusOps.x_lmDelete]] precedent): a
    * retention request (train-shard docs with doc_id ≡
    * [[CorpusOps.LmDeleteRes]] mod [[CorpusOps.LmDeleteMod]] —
    * id-addressed, so null-id docs never match) is erased by ONE scan
    * of the deleted docs + a vocabulary-sized decrement merge
    * ([[bpeDeleteCounts]]): census the deleted docs' words, subtract
    * from the standing table, drop zeros, persist the next generation,
    * retrain the merges from its cap. By count additivity the
    * decremented census IS the census over the surviving train docs,
    * so the output merge table equals a from-scratch train on the
    * survivors — never-ingested semantics for the tokenizer itself
    * (the merges a deleted document's words induced are gone, not
    * tombstoned), pinned in BpeSpec both ways (decrement ≡ retrain on
    * survivors; fold ∘ delete round-trips to the standing census).
    * Rows-only in the driver gate (trainer-family contract).
    *
    * Scale (100 TB): the deleted-docs census is one scan of the
    * REQUEST SLICE only (map-side combined, broadcast into the
    * decrement); the merge is vocabulary-sized; the corpus is never
    * re-scanned — the census-additive design paying off at erasure
    * time, exactly as it does for the LM.
    */
  def x_bpeDelete(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val dir = Tables.scratchDir("bpe_delete", d)
    val memo = standingCensusDir(spark, d)
    bpeDeleteCounts(Tables.parquet(spark, s"$memo/census.parquet"),
        docs.filter(col("source") === CorpusOps.LmTrainSource &&
          pmod(col("doc_id"), lit(CorpusOps.LmDeleteMod)) === CorpusOps.LmDeleteRes))
      .write.mode("overwrite").parquet(s"$dir/census_v2.parquet")
    mergeTableDf(spark, cappedCensus(Tables.parquet(spark, s"$dir/census_v2.parquet")))
  }

  /** x_bpe_coverage: per-document budget under the TRAINED vocabulary —
    * n_tok whitespace words, n_pieces after the learned merges
    * (census-resident words cost their trained piece count; OOV words
    * their char count — the untrained fallback), n_oov. The numbers
    * token-budget packing actually needs, under the corpus's own
    * tokenizer rather than c26's fixed regex.
    *
    * Scale: the piece table is ≤ WordCap slim rows, broadcast; the
    * corpus streams once through explode + broadcast-join + one
    * map-side-combined per-doc aggregate.
    */
  def x_bpeCoverage(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pieces = pieceTable(wordCensus(spark, d))
      .toSeq.toDF("w", "n_pieces_w")
    val words = Tables.documents(spark, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    words.join(broadcast(pieces), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        sum(coalesce(col("n_pieces_w").cast("long"), length(col("w")).cast("long")))
          .as("n_pieces"),
        sum(when(col("n_pieces_w").isNull, 1L).otherwise(0L)).as("n_oov"))
      .orderBy(col("doc_id"))
  }

  val oracles: Map[String, String] = Map.empty

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_bpe_train"    -> x_bpeTrain _,
    "x_bpe_coverage" -> x_bpeCoverage _,
    "x_bpe_update"   -> x_bpeUpdate _,
    "x_bpe_delete"   -> x_bpeDelete _,
  )
}
