package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x_retention_audit: the COMPLIANCE SWEEP over every standing
  * artifact — the round-19 verdict's missing capstone on the retention
  * ladder: five erasure rungs exist (posting index, vector index,
  * semantic index, LM, corpus state), each proving ITS OWN erasure,
  * but no single query proved TOTAL erasure — what a DPO actually
  * signs: "given this request set, no standing artifact holds a trace
  * of the requested ids". This rung runs every family's own delete
  * body against a clone of its memoized standing state (the request
  * slices are each family's established Mod/Res convention), then
  * PROBES every post-erasure artifact and reports, per artifact,
  *
  *   (artifact, n_rows, n_surviving)
  *
  * where n_surviving counts surviving traces of the requested ids —
  * expected 0 everywhere — and n_rows is the kept-state census the
  * DuckDB oracle recomputes INDEPENDENTLY from the raw tables under
  * never-ingested semantics (winnow CTE over kept docs for the posting
  * index, bigram census over kept train docs for the LM, the exact
  * pair CTE over kept base vectors for the semantic state, plain kept
  * counts for code/state rows). Any leftover row on the Spark side
  * surfaces as n_surviving > 0, and any erasure that dropped or kept
  * the WRONG rows shifts an n_rows — both hash-mismatch against the
  * oracle. The probes:
  *
  *  - `nd_postings`: posting rows whose doc_id is in the request set.
  *  - `nd_df`: census rows that disagree with an exact posting recount
  *    (full-outer compare — catches a missed decrement, an
  *    over-subtraction, an orphan fp in either table).
  *  - `ann_codes` / `sem_postings` / `corpus_state`: rows keyed by a
  *    requested id (sem_postings' n_rows counts INDEXED VECTORS —
  *    distinct vec_id — because rows-per-vector is min(nprobe, k),
  *    an engine-specific model property the oracle cannot see).
  *  - `sem_pairs`: pair rows touching a requested id on either side.
  *  - `lm_counts` / `bpe_census`: nonpositive count rows, plus
  *    deleted-census bigrams (words)
  *    where post ≠ pre − deleted (the decrement verified bigram by
  *    bigram against the deleted docs' own census — one request-slice
  *    scan, the delete's own economics).
  *
  * Scalatest adds the negative control: the same probes pointed at the
  * PRE-delete standing state (a deliberately non-erased artifact)
  * report n_surviving > 0 — the audit provably bites.
  *
  * Oracle caveat (documented design): on a corpus whose embeddings are
  * too small to train the vector families' models, the Spark side
  * reports those artifacts as (0, 0) while the oracle still counts
  * kept vectors — the driver-gate fixtures train (pinned by the
  * families' own green gates), and the scalatest fixtures cover the
  * untrainable arm Spark-side.
  *
  * Scale (100 TB): every standing state is memoized (shared tags with
  * the families' own rungs — in production these artifacts exist from
  * past ingests); the recurring cost is the deletes (broadcast
  * anti-join rewrites of slim tables) + the probes (one slim scan per
  * artifact, request lists broadcast — KB against lake-sized state).
  * Text and embeddings are read only for the request slices' own
  * censuses; the corpus is never re-scanned.
  */
object RetentionAudit {

  /** One (artifact, n_rows, n_surviving) row: kept-state row count +
    * surviving rows keyed by a requested id. The request list
    * broadcasts; duplicates are collapsed so the left join cannot
    * multiply state rows.
    */
  private[graft] def idProbe(name: String, state: DataFrame, key: String,
      req: DataFrame): DataFrame = {
    val hits = broadcast(req.select(col(key)).distinct().withColumn("_hit", lit(1L)))
    state.join(hits, Seq(key), "left")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_surviving"))
      .select(lit(name).as("artifact"), col("n_rows"), col("n_surviving"))
  }

  /** The df-census cross-check: every census row must equal an exact
    * recount of the post-delete postings (full-outer — an orphan on
    * either side, or a count drift, is a surviving trace of a botched
    * decrement).
    */
  private[graft] def dfProbe(name: String, dfTab: DataFrame,
      postings: DataFrame): DataFrame = {
    val recount = postings.groupBy(col("fp")).agg(count(lit(1)).as("n_re"))
    dfTab.join(recount, Seq("fp"), "full_outer")
      .agg(
        coalesce(sum(when(col("df_old").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_rows"),
        coalesce(sum(when(col("df_old").isNull || col("n_re").isNull ||
          col("df_old") =!= col("n_re"), 1L).otherwise(0L)), lit(0L))
          .as("n_surviving"))
      .select(lit(name).as("artifact"), col("n_rows"), col("n_surviving"))
  }

  /** The semantic pair probe: pairs touching a requested id on either
    * side survive erasure — expected none.
    */
  private[graft] def pairProbe(name: String, pairs: DataFrame,
      req: DataFrame): DataFrame = {
    val ids = req.select(col("vec_id")).distinct()
    val ra = broadcast(ids.select(col("vec_id").as("a_id")).withColumn("_ha", lit(1L)))
    val rb = broadcast(ids.select(col("vec_id").as("b_id")).withColumn("_hb", lit(1L)))
    pairs.join(ra, Seq("a_id"), "left").join(rb, Seq("b_id"), "left")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("_ha").isNotNull || col("_hb").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_surviving"))
      .select(lit(name).as("artifact"), col("n_rows"), col("n_surviving"))
  }

  /** The semantic posting probe — n_rows counts indexed VECTORS
    * (distinct vec_id: rows-per-vector is the engine-specific
    * min(nprobe, k)), n_surviving counts surviving posting ROWS.
    */
  private[graft] def semPostProbe(name: String, postings: DataFrame,
      req: DataFrame): DataFrame = {
    val hits = broadcast(req.select(col("vec_id")).distinct()
      .withColumn("_hit", lit(1L)))
    postings.join(hits, Seq("vec_id"), "left")
      .agg(countDistinct(col("vec_id")).as("n_rows"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_surviving"))
      .select(lit(name).as("artifact"), col("n_rows"), col("n_surviving"))
  }

  /** The LM decrement probe: post ≡ pre − deleted-census for every
    * bigram the deleted docs carried, and no nonpositive survivor.
    * One scan of the request slice (its census broadcastable), two
    * vocabulary-sized merges.
    */
  private[graft] def lmProbe(name: String, pre: DataFrame, post: DataFrame,
      deleted: DataFrame): DataFrame = {
    val delCensus = CorpusOps.bigramsOf(deleted)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nd"))
    val bad = delCensus
      .join(pre.select(col("w1"), col("w2"), col("n12").as("n_pre")),
        Seq("w1", "w2"), "left")
      .join(post.select(col("w1"), col("w2"), col("n12").as("n_post")),
        Seq("w1", "w2"), "left")
      .agg(coalesce(sum(when(coalesce(col("n_post"), lit(0L)) =!=
          coalesce(col("n_pre"), lit(0L)) - col("nd"), 1L).otherwise(0L)),
        lit(0L)).as("n_bad"))
    post.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("n12") <= 0L, 1L).otherwise(0L)), lit(0L))
          .as("n_nonpos"))
      .crossJoin(broadcast(bad))
      .select(lit(name).as("artifact"), col("n_rows"),
        (col("n_nonpos") + col("n_bad")).as("n_surviving"))
  }

  /** The BPE-census decrement probe — [[lmProbe]]'s shape at word
    * grain: post ≡ pre − deleted-census for every word the deleted
    * docs carried, and no nonpositive survivor.
    */
  private[graft] def bpeProbe(name: String, pre: DataFrame, post: DataFrame,
      deleted: DataFrame): DataFrame = {
    val delCensus = BpeTrain.wordCountsOf(deleted)
      .groupBy(col("w")).agg(sum(col("c")).as("nd"))
    val bad = delCensus
      .join(pre.select(col("w"), col("c").as("c_pre")), Seq("w"), "left")
      .join(post.select(col("w"), col("c").as("c_post")), Seq("w"), "left")
      .agg(coalesce(sum(when(coalesce(col("c_post"), lit(0L)) =!=
          coalesce(col("c_pre"), lit(0L)) - col("nd"), 1L).otherwise(0L)),
        lit(0L)).as("n_bad"))
    post.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("c") <= 0L, 1L).otherwise(0L)), lit(0L))
          .as("n_nonpos"))
      .crossJoin(broadcast(bad))
      .select(lit(name).as("artifact"), col("n_rows"),
        (col("n_nonpos") + col("n_bad")).as("n_surviving"))
  }

  def x_retentionAudit(spark: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    def zero(name: String): DataFrame =
      Seq((name, 0L, 0L)).toDF("artifact", "n_rows", "n_surviving")

    // The six families' erase-then-probe preludes are INDEPENDENT: each
    // clones its own standing memo into its own scratch dir and mutates
    // only that clone. Run serially they left the box idle between each
    // family's small maintenance jobs (the driver-side gaps dominate —
    // measured jobSum ≈ 2× wall headroom); overlapping them from a
    // small thread pool back-fills those gaps (opt guide §2.6 —
    // independent jobs from driver threads; job groups are thread-local
    // so the UI stays readable). Futures return each family's probe
    // frames; the union below keeps the original fixed order, and the
    // final orderBy makes output order independent of completion order.
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def probed(body: => Seq[DataFrame]): Future[Seq[DataFrame]] = Future(body)

    // ---- posting index + df census (x_neardup_delete's slice) ----
    val dr = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head()
    val ndPartsF: Future[Seq[DataFrame]] = probed {
      if (dr.isNullAt(0)) Seq(zero("nd_postings"), zero("nd_df"))
      else {
        val mid = dr.getLong(0) + (dr.getLong(1) - dr.getLong(0)) / 2
        // the SAME memo tag as x_neardup_delete: one standing index
        val memo = Tables.memoDir("nd_del_base", d) { p =>
          TextOps.neardupIndexBuild(spark, d, p, mid)
        }
        val dir = Tables.scratchDir("audit_nd", d)
        Tables.linkTree(s"$memo/postings.parquet", s"$dir/postings.parquet")
        Tables.linkTree(s"$memo/df.parquet", s"$dir/df.parquet")
        val req = docs.filter(col("doc_id") <= mid &&
            pmod(col("doc_id"), lit(TextOps.NdDeleteMod)) === TextOps.NdDeleteRes)
          .select(col("doc_id"))
        TextOps.neardupIndexDelete(spark, dir, req)
        val postings = spark.read.parquet(s"$dir/postings.parquet")
        Seq(idProbe("nd_postings", postings, "doc_id", req),
          dfProbe("nd_df", spark.read.parquet(s"$dir/df.parquet"), postings))
      }
    }

    // ---- vector index codes (x_ann_delete's slice, base ∪ delta) ----
    val er = emb.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi")).head()
    val emid = if (er.isNullAt(0)) 0L
               else er.getLong(0) + (er.getLong(1) - er.getLong(0)) / 2
    val annPartF: Future[Seq[DataFrame]] = probed { Seq(
      if (er.isNullAt(0)) zero("ann_codes")
      else VectorOps.standingAnnIndex(spark, d, emb, emid) match {
        case None => zero("ann_codes")
        case Some(memo) =>
          val dir = Tables.scratchDir("audit_ann", d)
          Tables.linkTree(s"$memo/codes.parquet", s"$dir/codes.parquet")
          Tables.linkTree(s"$memo/model.parquet", s"$dir/model.parquet")
          VectorOps.annIndexAppend(spark, emb.filter(col("vec_id") > emid), dir)
          val req = emb.filter(pmod(col("vec_id"),
              lit(VectorOps.AnnDeleteMod)) === VectorOps.AnnDeleteRes)
            .select(col("vec_id"))
          VectorOps.annIndexDelete(spark, dir, req)
          idProbe("ann_codes", spark.read.parquet(s"$dir/codes.parquet"),
            "vec_id", req)
      })
    }

    // ---- semantic postings + pairs (x_semantic_delete's slice) ----
    val semPartsF: Future[Seq[DataFrame]] = probed {
      if (er.isNullAt(0)) Seq(zero("sem_postings"), zero("sem_pairs"))
      else VectorOps.semanticIndexDir(spark, d, emb, emid) match {
        case None => Seq(zero("sem_postings"), zero("sem_pairs"))
        case Some(memo) =>
          val dir = Tables.scratchDir("audit_sem", d)
          Tables.linkTree(s"$memo/postings.parquet", s"$dir/postings.parquet")
          Tables.linkTree(s"$memo/pairs.parquet", s"$dir/pairs.parquet")
          val req = emb.filter(col("vec_id") <= emid &&
              pmod(col("vec_id"),
                lit(VectorOps.SemDeleteMod)) === VectorOps.SemDeleteRes)
            .select(col("vec_id"))
          VectorOps.semanticIndexDelete(spark, dir, req)
          Seq(
            semPostProbe("sem_postings",
              spark.read.parquet(s"$dir/postings.parquet"), req),
            pairProbe("sem_pairs",
              spark.read.parquet(s"$dir/pairs.parquet"), req))
      }
    }

    // ---- standing LM pair table (x_lm_delete's slice) ----
    val lmPartF: Future[Seq[DataFrame]] = probed { Seq({
      val lmDir = CorpusOps.standingTrainLmDir(spark, d)
      val dir = Tables.scratchDir("audit_lm", d)
      val deleted = docs.filter(col("source") === CorpusOps.LmTrainSource &&
        pmod(col("doc_id"), lit(CorpusOps.LmDeleteMod)) === CorpusOps.LmDeleteRes)
      val pre = spark.read.parquet(s"$lmDir/counts.parquet")
      CorpusOps.lmDeleteCounts(pre, CorpusOps.bigramsOf(deleted))
        .write.mode("overwrite").parquet(s"$dir/counts_v2.parquet")
      lmProbe("lm_counts", pre,
        spark.read.parquet(s"$dir/counts_v2.parquet"), deleted)
    }) }

    // ---- standing BPE word census (x_bpe_delete's slice) ----
    val bpePartF: Future[Seq[DataFrame]] = probed { Seq({
      val memo = BpeTrain.standingCensusDir(spark, d)
      val dir = Tables.scratchDir("audit_bpe", d)
      val deleted = docs.filter(col("source") === CorpusOps.LmTrainSource &&
        pmod(col("doc_id"), lit(CorpusOps.LmDeleteMod)) === CorpusOps.LmDeleteRes)
      val pre = spark.read.parquet(s"$memo/census.parquet")
      BpeTrain.bpeDeleteCounts(pre, deleted)
        .write.mode("overwrite").parquet(s"$dir/census_v2.parquet")
      bpeProbe("bpe_census", pre,
        spark.read.parquet(s"$dir/census_v2.parquet"), deleted)
    }) }

    // ---- corpus build state (x_corpus_retention's slice) ----
    val corpPartF: Future[Seq[DataFrame]] = probed { Seq({
      val memo = CorpusOps.corpusStateDir(spark, d)
      val dir = Tables.scratchDir("audit_corpus", d)
      Tables.linkTree(s"$memo/state.parquet", s"$dir/state.parquet")
      val req = docs.filter(pmod(col("doc_id"),
          lit(CorpusOps.CorpusDeleteMod)) === CorpusOps.CorpusDeleteRes)
        .select(col("doc_id"))
      CorpusOps.corpusStateDelete(spark, dir, req)
      idProbe("corpus_state", spark.read.parquet(s"$dir/state.parquet"),
        "doc_id", req)
    }) }

    // await in the original fixed order against one shared, generous
    // deadline: a stuck prelude fails loud, naming its family, instead
    // of wedging the audit, and a failed one interrupts the rest
    // (shutdownNow) rather than letting them keep writing while the
    // failure unwinds
    val deadline = PreludeTimeout.fromNow
    val parts =
      try Seq("neardup" -> ndPartsF, "ann" -> annPartF, "semantic" -> semPartsF,
          "lm" -> lmPartF, "bpe" -> bpePartF, "corpus" -> corpPartF).flatMap {
        case (family, f) =>
          try Await.result(f, deadline.timeLeft)
          catch { case _: java.util.concurrent.TimeoutException =>
            throw new java.util.concurrent.TimeoutException(
              s"x_retention_audit: the $family prelude did not finish within $PreludeTimeout")
          }
      } catch { case e: Throwable => pool.shutdownNow(); throw e }
      finally pool.shutdown()
    parts.reduce(_ unionByName _)
      .orderBy(col("artifact"))
  }

  /** Bound on the six preludes together (each takes seconds at sf0.1). */
  private val PreludeTimeout = scala.concurrent.duration.Duration(30, "min")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_retention_audit" -> x_retentionAudit _)

  val oracles: Map[String, String] = Map(
    "x_retention_audit" -> TextOps.RetentionAuditOracle)
}
