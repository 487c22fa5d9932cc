package graft

import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** c23/c24/c25 semantics, pinned against independent Scala models on a
  * literal fixture (FIXTURES.md §3: unit tests build tiny DataFrames,
  * the oracle gate owns the driver fixtures):
  *  - c23: marker scoring ≡ a Scala reimplementation; the 'und' floor,
  *    the alphabetical tie-break, and the rational-e6 margin.
  *  - c24: winnow fingerprints ≡ a Scala winnowing model (same 60-bit
  *    md5 contract), including the short-document degenerates.
  *  - c25: the paper's guarantee — two documents sharing a run of
  *    ≥ W+K−1 tokens share a fingerprint — plus pair orientation and
  *    the exact n_shared count vs the model.
  */
class WinnowLangSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(sub: String, docs: Seq[(Long, String, String, String, java.lang.Long)]): String = {
    val d = s"${graft.ops.Tables.scratch}/winnowlang_$sub"
    graft.ops.Tables.rmrf(d)
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  // ---- c23 ------------------------------------------------------------

  /** Scala model of c23's scoring: hits-per-million as floor-div
    * BIGINT, argmax alphabetical-first, 'und' when best == 0.
    */
  private def langModel(text: String): (Long, String, Long, Long) = {
    val toks = if (text == null) Array.empty[String] else text.split(" ", -1)
    val n = toks.length.toLong
    val scores = TextOps.LangProfiles.map { case (code, markers) =>
      val hits = toks.count(markers.contains).toLong
      code -> (if (n == 0) 0L else hits * 1000000L / n)
    }
    val best = scores.map(_._2).max
    val second = scores.map(_._2).sorted.apply(scores.size - 2)
    val pred = if (best == 0) "und" else scores.find(_._2 == best).get._1
    (n, pred, best, best - second)
  }

  private val langDocs: Seq[(Long, String, String, String, java.lang.Long)] = Seq(
    (0L, null, null, null, null),                                   // null text -> und
    (1L, "", "en", "w", 0L: java.lang.Long),                        // empty-string token, no hits -> und
    (2L, "zzz yyy xxx", "en", "w", 11L: java.lang.Long),            // out-of-domain -> und
    (3L, "the a row table scan noise", "en", "w", 26L: java.lang.Long),
    (4L, "window batch data sort", "de", "w", 22L: java.lang.Long), // de/es tie (2 hits each) -> de (alphabetical)
    (5L, "join small hash key key key", "zh", "w", 27L: java.lang.Long),
    (6L, "query value the a order line", "fr", "w", 28L: java.lang.Long),
    (7L, "data stream sort column the", "es", "w", 27L: java.lang.Long))

  test("c23 ≡ the Scala scoring model — und floor, alphabetical tie-break, e6 margin") {
    val dir = writeDocs("c23", langDocs)
    val got = TextOps.c23_langId(spark, dir).collect()
    assert(got.length === langDocs.length, "one classification per document, nulls included")
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n, pred, best, margin) = langModel(langDocs.find(_._1 == id).get._2)
      assert(r.getAs[Long]("n_tok") === n, s"doc $id n_tok")
      assert(r.getAs[String]("pred_lang") === pred, s"doc $id pred")
      assert(r.getAs[Long]("best_e6") === best, s"doc $id best")
      assert(r.getAs[Long]("margin_e6") === margin, s"doc $id margin")
    }
    // the fixture exercises every outcome the operator defines
    val preds = got.map(_.getAs[String]("pred_lang")).toSet
    assert(Set("und", "de", "en", "es", "fr", "zh").subsetOf(preds))
    // doc 4 is a genuine de/es tie — the alphabetical rule, not chance
    val (_, _, b4, m4) = langModel(langDocs(4)._2)
    assert(m4 === 0L && b4 > 0L, "tie fixture must stay a tie")
  }

  test("c23 profiles are pairwise disjoint (a marker in two profiles would double-count)") {
    val all = TextOps.LangProfiles.flatMap(_._2)
    assert(all.distinct.length === all.length)
  }

  // ---- c24 ------------------------------------------------------------

  /** Scala winnowing model — shared with PropertySpec's randomized
    * kernel check (one model body, two consumers).
    */
  private def winnowModel(text: String): Set[Long] = WinnowLangSpec.winnowModel(text)

  private val winnowDocs: Seq[(Long, String, String, String, java.lang.Long)] = Seq(
    (0L, null, null, null, null),                       // no grams
    (1L, "one two", "en", "w", 7L: java.lang.Long),     // < K tokens: no grams
    (2L, "one two three", "en", "w", 13L: java.lang.Long),          // exactly 1 gram -> 1 fp
    (3L, "a b c d e f", "en", "w", 11L: java.lang.Long),            // 4 grams = exactly 1 window
    (4L, "the quick brown fox jumps over the lazy dog today", "en", "w", 49L: java.lang.Long),
    (5L, "x x x x x x x x", "en", "w", 15L: java.lang.Long),        // all grams equal -> 1 distinct fp
    (6L, (0 until 60).map(i => s"t${i % 17}").mkString(" "), "en", "w", 200L: java.lang.Long),
    // consecutive spaces: split(" ") yields EMPTY tokens that join back
    // into the gram byte-slices — the kernel's byte-scan must agree
    // with the regex split + concat_ws semantics exactly
    (7L, "gap  here   and a  tail", "en", "w", 23L: java.lang.Long),
    // multi-byte UTF-8 inside grams: 0x20 never occurs inside a
    // multi-byte sequence, so byte-scanning for spaces is the
    // codepoint split — pinned with CJK + emoji + accents
    (8L, "héllo wörld 日本語 🙂 mixed ünïcode done", "ja", "w", 40L: java.lang.Long))

  test("c24 ≡ the Scala winnowing model, incl. short-document degenerates") {
    val dir = writeDocs("c24", winnowDocs)
    val got = TextOps.c24_winnowFingerprint(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("fp")).toSet }
    winnowDocs.foreach { case (id, text, _, _, _) =>
      val want = winnowModel(text)
      assert(got.getOrElse(id, Set.empty[Long]) === want, s"doc $id fingerprints")
    }
    assert(!got.contains(0L) && !got.contains(1L), "sub-K docs emit nothing")
    assert(got(2L).size === 1 && got(3L).size === 1 && got(5L).size === 1)
    // density bound sanity: a doc never emits more fps than windows
    assert(got(6L).size <= 60 - TextOps.WinnowK - TextOps.WinnowW + 2)
  }

  // ---- c25 ------------------------------------------------------------

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
  private val pairDocs: Seq[(Long, String, String, String, java.lang.Long)] = Seq(
    (1L, s"intro words here $base tail one", "en", "w", 1L: java.lang.Long),
    (2L, s"completely different opening $base closing run two", "en", "w", 1L: java.lang.Long),
    (3L, "unrelated content entirely separate vocabulary nothing shared at all here", "en", "w", 1L: java.lang.Long),
    (4L, s"intro words here $base tail one", "en", "w", 1L: java.lang.Long)) // exact dup of 1

  test("c25: the winnowing guarantee — a shared ≥ W+K−1-token run yields a reported pair") {
    val dir = writeDocs("c25", pairDocs)
    val got = TextOps.c25_winnowNeardup(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Long]("n_shared")).toMap
    // model: pairwise fingerprint-set intersections above the threshold
    val fps = pairDocs.map { case (id, t, _, _, _) => id -> winnowModel(t) }.toMap
    val want = (for {
      a <- pairDocs.map(_._1); b <- pairDocs.map(_._1) if a < b
      shared = (fps(a) intersect fps(b)).size if shared >= TextOps.WinnowShared
    } yield (a, b) -> shared.toLong).toMap
    assert(got === want, "pair set + n_shared must match the set-intersection model")
    // the guarantee itself: docs 1/2 share a 16-token run ≫ W+K−1
    assert(got.contains((1L, 2L)), "shared run must produce a pair")
    assert(got((1L, 4L)) === fps(1L).size.toLong, "exact dup shares every fingerprint")
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L }, "unrelated doc pairs with nothing")
    got.keys.foreach { case (a, b) => assert(a < b, "pairs oriented a < b") }
  }

  // ---- c27 ------------------------------------------------------------

  private val contDocs: Seq[(Long, String, String, String, java.lang.Long)] = Seq(
    (1L, base, "en", "src0", 1L: java.lang.Long),                       // eval doc
    (2L, s"intro filler words $base trailing context here", "en", "crawl", 1L: java.lang.Long), // contains it
    (3L, "unrelated training content with entirely separate vocabulary throughout the document", "en", "crawl", 1L: java.lang.Long),
    (4L, s"short prefix $base", "en", "src0", 1L: java.lang.Long),      // second eval; eval-eval never reported
    (5L, base, "en", null, 1L: java.lang.Long),                         // NULL source: neither side
    // shares exactly the minimum guaranteed run (W+K−1 = 6 tokens) with
    // the eval doc — ≥1 shared fp by the paper, but far below the
    // containment threshold
    (6L, "alpha beta gamma delta epsilon zeta completely different tail content words here now", "en", "crawl", 1L: java.lang.Long))

  test("c27 ≡ the asymmetric-containment model — threshold, sides, null source") {
    val dir = writeDocs("c27", contDocs)
    val got = TextOps.c27_contamination(spark, dir).collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("train_id")) ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("n_eval_fp"), r.getAs[Long]("frac_e6"))).toMap
    val fps = contDocs.map { case (id, t, _, _, _) => id -> winnowModel(t) }.toMap
    val evalIds = contDocs.filter(d => d._4 == "src0").map(_._1)
    val trainIds = contDocs.filter(d => d._4 != null && d._4 != "src0").map(_._1)
    val want = (for {
      e <- evalIds; t <- trainIds
      shared = (fps(e) intersect fps(t)).size.toLong if fps(e).nonEmpty
      frac = shared * 1000000L / fps(e).size if frac >= TextOps.ContainFracE6
    } yield (e, t) -> ((shared, fps(e).size.toLong, frac))).toMap
    assert(got === want, "flagged pairs + counts must match the set model")
    // the true containment is caught — for BOTH eval docs — and the
    // asymmetry is the point: jaccard-style symmetric overlap of (1,2)
    // is low (train doc is much larger), containment is high
    assert(got.contains((1L, 2L)) && got.contains((4L, 2L)))
    // a minimum-guarantee run (6 tokens) shares ≥1 fp but stays below
    // the threshold; the null-source twin of the eval doc is invisible
    assert((fps(1L) intersect fps(6L)).nonEmpty, "paper guarantee on the 6-token run")
    assert(!got.contains((1L, 6L)), "short shared run must stay below the containment bar")
    assert(!got.keys.exists { case (_, t) => t == 5L }, "null-source docs join neither side")
  }

  test("x_contain_from_postings is byte-equal to c27 on both fixtures") {
    val litDir = writeDocs("c27x", contDocs)
    Seq(litDir, sf0001).foreach { d =>
      val direct = TextOps.c27_contamination(spark, d).collect().toSeq
      val viaIndex = TextOps.x_containFromPostings(spark, d).collect().toSeq
      assert(viaIndex === direct, s"materialized-postings path must equal c27 on $d")
    }
  }

  test("x_neardup_incremental equals c25 restricted to pairs touching the delta") {
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val r = graft.ops.Tables.documents(spark, d)
        .agg(org.apache.spark.sql.functions.min(col("doc_id")),
          org.apache.spark.sql.functions.max(col("doc_id"))).head()
      val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
      val exp = TextOps.c25_winnowNeardup(spark, d)
        .filter(col("b_id") > mid).collect().map(_.toSeq).toSeq
      val got = TextOps.x_neardupIncremental(spark, d).collect().map(_.toSeq).toSeq
      assert(got === exp, s"incremental dedup diverged from restricted c25 at $d")
      assert(got.nonEmpty, s"fixture $d should have cross-epoch or delta pairs")
    }
  }

  test("x_neardup_incremental: null-id docs weigh in the df census but never pair (c25's posture)") {
    // two delta docs share a 6-token run (pair expected); a third COPY
    // of that run lives in a null-id doc — under c25's census it still
    // counts toward the shared fingerprints' df, and under c25's
    // comparison residual it can never appear in a pair itself
    // long enough that the winnowing density bound (~1 fp per W/2
    // grams) clears the ≥ WinnowShared pair threshold with margin
    val run = (1 to 24).map(i => s"tok$i").mkString(" ")
    val docs: Seq[(java.lang.Long, String, String, String, java.lang.Long)] = Seq(
      (1L: java.lang.Long, s"$run old filler words here", "en", "web", 0L: java.lang.Long),
      (null, s"$run anonymous copy", "en", "web", 0L: java.lang.Long),
      (10L: java.lang.Long, s"$run fresh shard one", "en", "web", 0L: java.lang.Long),
      (11L: java.lang.Long, s"$run fresh shard two", "en", "web", 0L: java.lang.Long))
    val d = s"${graft.ops.Tables.scratch}/winnowlang_incnull"
    graft.ops.Tables.rmrf(d)
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextOps.neardupIncrementalAt(spark, d, 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // pairs touch the delta only; the null-id doc appears in none
    assert(got.sorted === Seq((1L, 10L), (1L, 11L), (10L, 11L)))
    // …and its census weight is real: the shared run's fps have df 4,
    // inside the [2, cap] band — dropping the null-id doc from the
    // census would only show at the cap edge, so pin the band is
    // computed over ALL four copies via the cap itself
    val fps = TextOps.winnowFps(graft.ops.Tables.documents(spark, d)).collect()
    assert(fps.count(_.isNullAt(0)) > 0, "the null-id doc must fingerprint")
  }

  test("incremental small-delta path: the Bloom-pruned index side is bit-identical") {
    import graft.ops.Tables
    val d = sf0001
    val r = Tables.documents(spark, d)
      .agg(org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    // delta = the top ~8% of ids — far under the 1/NeardupBloomGate
    // threshold, so the sketch-pruned branch is the one under test
    val mid = lo + ((hi - lo) * 23) / 25
    val got = TextOps.neardupIncrementalAt(spark, d, mid)
      .collect().map(_.toSeq).toSeq
    val exp = TextOps.c25_winnowNeardup(spark, d)
      .filter(col("b_id") > mid).collect().map(_.toSeq).toSeq
    assert(got === exp, "Bloom-pruned incremental diverged from restricted c25")
    assert(got.nonEmpty, "the small delta should still find pairs")
  }

  test("the memoized midpoint index never serves another boundary's caller, in either order") {
    import graft.ops.Tables
    // sf0.001's documents under a path no other call has memoized, so
    // the first call in this test is the one that fills the memo
    def fresh(tag: String): String = {
      val d = Tables.scratchDir(tag, sf0001)
      Tables.documents(spark, sf0001).write.parquet(s"$d/documents.parquet")
      d
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def c25After(mid: Long) =
      rows(TextOps.c25_winnowNeardup(spark, sf0001).filter(col("b_id") > mid))
    val (lo, hi) = Tables.idBounds(spark, sf0001, "documents", "doc_id").get
    val (half, late) = (lo + (hi - lo) / 2, lo + ((hi - lo) * 23) / 25)
    // the registered query's midpoint memo first, then the 23/25 boundary
    val d1 = fresh("boundary_docs_a")
    assert(rows(TextOps.x_neardupIncremental(spark, d1)) === c25After(half))
    assert(rows(TextOps.neardupIncrementalAt(spark, d1, late)) === c25After(late),
      "the 23/25 boundary read the midpoint index")
    // the 23/25 boundary first, then the registered query
    val d2 = fresh("boundary_docs_b")
    assert(rows(TextOps.neardupIncrementalAt(spark, d2, late)) === c25After(late))
    assert(rows(TextOps.x_neardupIncremental(spark, d2)) === c25After(half),
      "the registered query read the 23/25 index")
  }

  test("tiling precondition holds at BOTH driver-gate scales: no fp df above the cap") {
    // x_neardup_lifecycle and s14_stream_neardup register the tiling
    // union as an UNCONDITIONAL hash oracle, but the tiling lemma is
    // exact only while no fingerprint's df crosses WinnowDfCap between
    // epochs (a fp under the cap in a prefix but over it corpus-wide
    // would pair in an early epoch yet be banded out of the oracle).
    // A global max-df ≤ cap implies no prefix can cross — assert it on
    // the exact fixtures the driver gate hashes, so a regenerated
    // fixture that breaks the precondition fails HERE with a message,
    // not as an opaque hash mismatch.
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val maxDf = TextOps.winnowFps(graft.ops.Tables.documents(spark, d))
        .groupBy(col("fp")).count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      assert(maxDf <= TextOps.WinnowDfCap,
        s"$d breaks the tiling precondition (max df $maxDf > cap " +
          s"${TextOps.WinnowDfCap}) — the x_neardup_lifecycle/s14 oracles " +
          "are only exact below the cap; re-derive their oracle or band the epochs")
    }
  }

  test("incremental lifecycle: successive ingest+append days tile the batch c25 exactly") {
    import graft.ops.Tables
    val d = sf0001
    // tiling precondition: no fp may cross the df cap between a day's
    // view and the full corpus (df only grows; the ≥2 lower bound
    // self-corrects — see neardupIndexAppend's scaladoc)
    val maxDf = TextOps.winnowFps(Tables.documents(spark, d))
      .groupBy(col("fp")).count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxDf <= TextOps.WinnowDfCap,
      s"fixture breaks the tiling precondition (max df $maxDf > cap) — pick another split")
    val r = Tables.documents(spark, d)
      .agg(org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val m1 = lo + (hi - lo) / 3
    val m2 = lo + 2 * (hi - lo) / 3
    val dir = Tables.scratchDir("inc_lifecycle", d)
    // day 0: the standing corpus is everything ≤ m1
    TextOps.neardupIndexBuild(spark, d, dir, m1)
    // day 1: (m1, m2] arrives — audit, then fold into the index
    val p1 = TextOps.neardupIngest(spark, d, dir, m1, Some(m2))
      .collect().map(_.toSeq).toSet
    TextOps.neardupIndexAppend(spark, dir)
    // day 2: (m2, hi] arrives against the GROWN index
    val p2 = TextOps.neardupIngest(spark, d, dir, m2)
      .collect().map(_.toSeq).toSet
    // base pairs internal to day 0's corpus + the two days' outputs
    // must tile the batch c25 exactly — disjointly
    val full = TextOps.c25_winnowNeardup(spark, d).collect().map(_.toSeq).toSet
    val p0 = full.filter(r => r(1).asInstanceOf[Long] <= m1)
    assert(p0.intersect(p1).isEmpty && p0.intersect(p2).isEmpty &&
      p1.intersect(p2).isEmpty, "day outputs must be disjoint")
    assert((p0 ++ p1 ++ p2) === full,
      "incremental days must tile the batch near-dup pairs exactly")
    assert(p1.nonEmpty && p2.nonEmpty, "both days should contribute pairs")
  }

  test("pair tail on the fixture delta ≡ restricted c25, index pruned or whole") {
    // every near-dup ingest pairs through neardupPairTail — pin it on
    // the same (delta, index) split the one-shot incremental query
    // uses, with the index side semi-joined to the delta's fps (s14's
    // form) and whole (the batch form without a Bloom prune)
    import graft.ops.Tables
    val d = sf0001
    val r = Tables.documents(spark, d)
      .agg(org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id")).head()
    val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    val dir = Tables.scratchDir("micro_tail", d)
    TextOps.neardupIndexBuild(spark, d, dir, mid)
    val delta = TextOps.winnowFps(
      Tables.documents(spark, d).filter(col("doc_id") > mid))
      .localCheckpoint()
    val old = spark.read.parquet(s"$dir/postings.parquet")
    val exp = TextOps.c25_winnowNeardup(spark, d)
      .filter(col("b_id") > mid).collect().map(_.toSeq).toSeq
    val oldPruned = old.join(broadcast(delta.select(col("fp"))), Seq("fp"), "left_semi")
    for (index <- Seq(oldPruned, old)) {
      val got = TextOps.neardupPairTail(delta, index)
        .orderBy(col("a_id"), col("b_id")).collect().map(_.toSeq).toSeq
      assert(got === exp, "pair tail must emit exactly c25's pairs touching the delta")
    }
    assert(exp.nonEmpty)
  }

  test("pair tail multiset semantics: duplicates, nulls, cap, old-only fps") {
    // hand-built postings exercising every multiplicity rule c25's
    // self-join defines: duplicate (doc, fp) rows multiply counts, null
    // doc_ids count toward df but never pair, over-cap fps drop, and
    // old-only / new-only fps pair (or not) as c25 restricted to pairs
    // touching a new doc does
    import spark.implicits._
    def df(rows: Seq[(java.lang.Long, Long)]) =
      rows.toDF("doc_id", "fp")
    // fps 1-3: old doc 10 + delta doc 20 → pair (10,20) shared 3 ✓
    // fp 4: old null + delta 20 → df 2, null never pairs
    // fp 5: old 10 ×65 + delta 20 → df over cap, dropped entirely
    // fp 6: delta-only docs 30,40 — new-new pair, needs 3 fps → 6,7,8
    // fp 9: old-only docs 10,11 — no new side, no pair
    // fp 10: delta doc 20 TWICE + old 10 → (10,20) multiplicity 2
    val old = df(Seq[(java.lang.Long, Long)]((10L, 1L), (10L, 2L), (10L, 3L),
      (null, 4L), (10L, 9L), (11L, 9L), (10L, 10L)) ++
      (1 to 65).map(_ => (java.lang.Long.valueOf(10L), 5L)))
    val delta = df(Seq[(java.lang.Long, Long)]((20L, 1L), (20L, 2L), (20L, 3L),
      (20L, 4L), (20L, 5L), (30L, 6L), (40L, 6L), (30L, 7L), (40L, 7L),
      (30L, 8L), (40L, 8L), (20L, 10L), (20L, 10L)))
    val oldPruned = old.join(broadcast(delta.select(col("fp"))), Seq("fp"), "left_semi")
    for (index <- Seq(oldPruned, old)) {
      val got = TextOps.neardupPairTail(delta, index)
        .orderBy(col("a_id"), col("b_id")).collect().map(_.toSeq).toSeq
      assert(got === Seq(Seq(10L, 20L, 5L), Seq(30L, 40L, 3L)),
        "must count (10,20) over fps 1,2,3 + twice at fp 10 (not at over-cap fp 5), " +
          "and (30,40) over 6,7,8")
    }
  }

  test("compaction identity: post-compaction ingest is byte-equal, epochs folded exactly") {
    import graft.ops.Tables
    val d = sf0001
    val r = Tables.documents(spark, d)
      .agg(org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val bounds = (0 to TextOps.LifecycleDays)
      .map(i => lo + (hi - lo) * i / (TextOps.LifecycleDays + 1))
    def runDays(dir: String, compactAfterDay2: Boolean): Seq[Seq[Seq[Any]]] = {
      TextOps.neardupIndexBuild(spark, d, dir, bounds(1))
      (1 to TextOps.LifecycleDays).map { day =>
        val upper = if (day == TextOps.LifecycleDays) None else Some(bounds(day + 1))
        val audit = TextOps.neardupEpochIngest(spark, d, dir, bounds(day), upper, day)
          .collect().map(_.toSeq).toSeq
        if (compactAfterDay2 && day == TextOps.LifecycleDays - 1)
          TextOps.neardupCompact(spark, dir)
        audit
      }
    }
    val dirA = Tables.scratchDir("compact_a", d)
    val dirB = Tables.scratchDir("compact_b", d)
    // snapshot what A's index views hold at the moment B compacts:
    // run A fully first, then B with the mid-stream compaction
    val auditsA = runDays(dirA, compactAfterDay2 = false)
    val auditsB = runDays(dirB, compactAfterDay2 = true)
    (auditsA, auditsB).zipped.zipWithIndex.foreach { case ((a, b), i) =>
      assert(b === a, s"day ${i + 1} audit must be byte-equal under compaction")
    }
    assert(auditsA.last.nonEmpty, "day 3 should find pairs")
    // layout assertions on B: epochs are gone, the compacted base holds
    // exactly base ∪ (day-1, day-2) epochs, and the stored census is
    // the recount of the compacted postings
    val epochsOk = !java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$dirB/epochs")) ||
      scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(s"$dirB/epochs"))) {
        _.filter(p => p.getFileName.toString.startsWith("bid="))
          .allMatch(p => p.getFileName.toString == s"bid=${TextOps.LifecycleDays}")
      }
    assert(epochsOk, "compaction must drop the folded epoch partitions")
    val postingsB = spark.read.parquet(s"$dirB/postings.parquet")
      .select(col("doc_id"), col("fp"))
    val expected = spark.read.parquet(s"$dirA/postings.parquet")
      .select(col("doc_id"), col("fp"))
      .unionByName(spark.read.parquet(s"$dirA/epochs")
        .filter(col("bid") < TextOps.LifecycleDays)
        .select(col("doc_id"), col("fp")))
    def ms(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(ms(postingsB) === ms(expected),
      "compacted postings must be exactly base ∪ folded epochs")
    val censusB = spark.read.parquet(s"$dirB/df.parquet")
      .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
    val recount = postingsB.groupBy(col("fp")).count()
      .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
    assert(censusB === recount,
      "merged census must equal a from-scratch recount of the compacted postings")
  }

  test("x_neardup_compact ≡ x_neardup_lifecycle (the registered end-to-end identity)") {
    val viaCompact = TextOps.x_neardupCompact(spark, sf0001).collect().map(_.toSeq).toSeq
    val viaLifecycle = TextOps.x_neardupLifecycle(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(viaCompact.nonEmpty)
    assert(viaCompact === viaLifecycle,
      "compact-mid-lifecycle must emit the lifecycle's exact rows")
  }

  test("index delete: never-existed semantics — audit ≡ the incremental over the physically-removed corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val docs = graft.ops.Tables.documents(spark, sf0001)
    val r = docs.agg(fmin(col("doc_id")), fmax(col("doc_id"))).head()
    val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    // the ground truth: a corpus from which the deleted slice is
    // PHYSICALLY absent, audited with the same epoch boundary (the
    // boundary predates the deletion, so it comes from the full table)
    val kept = s"${graft.ops.Tables.scratch}/nd_del_kept"
    graft.ops.Tables.rmrf(kept)
    docs.filter(col("doc_id").isNull ||
        !(col("doc_id") <= mid &&
          org.apache.spark.sql.functions.pmod(col("doc_id"),
            org.apache.spark.sql.functions.lit(TextOps.NdDeleteMod)) === TextOps.NdDeleteRes))
      .write.mode("overwrite").parquet(s"$kept/documents.parquet")
    val viaDelete = TextOps.x_neardupDelete(spark, sf0001).collect().map(_.toSeq).toSeq
    val groundTruth = TextOps.neardupIncrementalAt(spark, kept, mid)
      .collect().map(_.toSeq).toSeq
    assert(viaDelete === groundTruth,
      "post-delete audit must equal the never-ingested corpus's audit exactly")
    // and the deletion BITES on the fixture: some standing doc in the
    // slice was a pair member, so the no-delete audit differs
    val noDelete = TextOps.neardupIncrementalAt(spark, sf0001, mid)
      .collect().map(_.toSeq).toSeq
    assert(viaDelete !== noDelete,
      "fixture must contain a deleted standing doc that was a pair member")
    assert(viaDelete.nonEmpty)
  }

  test("posting prune: over-cap rows leave the table, the census survives, audits stay byte-identical") {
    import spark.implicits._
    // a boilerplate-heavy corpus where the prune BITES (the driver
    // fixture's max df sits far under the cap, so there the prune is
    // plumbing-only): 70 identical docs across base + day 1 push
    // their fps over WinnowDfCap before the day-1 fold, unique day-1
    // docs gain day-2 near-dup copies, day 3 is more boilerplate
    val dir = s"${graft.ops.Tables.scratch}/prune_overcap"
    graft.ops.Tables.rmrf(dir)
    val boiler = (1 to 16).map(i => s"boiler$i").mkString(" ")
    def uniq(i: Int) = (1 to 16).map(j => s"w${i}x$j").mkString(" ")
    val rows =
      (1 to 70).map(i => (i.toLong, boiler, "en", "src0")) ++
      (71 to 100).map(i => (i.toLong, uniq(i), "en", "src0")) ++
      (101 to 130).map(i => (i.toLong, uniq(i - 30), "en", "src1")) ++
      (131 to 200).map(i => (i.toLong, boiler, "en", "src1"))
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the registered lifecycles agree row-for-row where the prune bites
    val viaPrune = TextOps.x_neardupPrune(spark, dir).collect().map(_.toSeq).toSeq
    val viaLifecycle = TextOps.x_neardupLifecycle(spark, dir).collect().map(_.toSeq).toSeq
    assert(viaPrune.nonEmpty)
    assert(viaPrune === viaLifecycle,
      "the pruned lifecycle must emit the unpruned lifecycle's exact rows")
    // ...and on the driver fixture (no-op prune) too
    val fixPrune = TextOps.x_neardupPrune(spark, sf0001).collect().map(_.toSeq).toSeq
    val fixLife = TextOps.x_neardupLifecycle(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(fixPrune === fixLife && fixPrune.nonEmpty)
    // the machinery probe: the prune drops exactly the over-cap rows
    // while the census keeps proving the fp is over-cap
    val idir = graft.ops.Tables.scratchDir("prune_probe", dir)
    TextOps.neardupIndexBuild(spark, dir, idir, 100L)
    val hotFps = spark.read.parquet(s"$idir/df.parquet")
      .filter(col("df_old") > TextOps.WinnowDfCap).select(col("fp"))
      .collect().map(_.getLong(0)).toSet
    assert(hotFps.nonEmpty, "the base must hold over-cap fingerprints")
    val pre = spark.read.parquet(s"$idir/postings.parquet").count()
    TextOps.neardupPrunePostings(spark, idir)
    val postings = spark.read.parquet(s"$idir/postings.parquet")
    assert(postings.count() < pre, "the prune must drop rows")
    assert(postings.filter(col("fp").isin(hotFps.toSeq: _*)).count() === 0L,
      "no over-cap posting survives the prune")
    val censusHot = spark.read.parquet(s"$idir/df.parquet")
      .filter(col("df_old") > TextOps.WinnowDfCap).count()
    assert(censusHot === hotFps.size.toLong,
      "the census must keep the over-cap counts (it proves the cap)")
  }

  test("x_neardup_bucketed is byte-equal to c25 on both fixture scales") {
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val direct = TextOps.c25_winnowNeardup(spark, d).collect().map(_.toSeq).toSeq
      val viaIndex = TextOps.x_neardupBucketed(spark, d).collect().map(_.toSeq).toSeq
      assert(viaIndex === direct, s"bucketed-index path must equal c25 on $d")
    }
    // the consumer plan is index-only: no documents rescan anywhere
    val c = graft.tools.ScanAudit.census(TextOps.x_neardupBucketed(spark, sf0001))
    assert(!c.tables.contains("documents"),
      s"consumer must read the bucketed index, not the corpus: ${c.tablesStr}")
  }

  test("c29 ≡ the duplicate-n-gram model — looping, clean, short and null docs") {
    val looping = Seq.fill(30)("spam eggs").mkString(" ") // 60 toks, 2 distinct bigrams
    val clean = (1 to 40).map(i => s"w$i").mkString(" ")  // all n-grams distinct
    val d = writeDocs("c29", Seq(
      (0L, null, null, null, null),
      (1L, "one two three", "en", "web", 13L: java.lang.Long),
      (2L, looping, "en", "web", looping.length.toLong: java.lang.Long),
      (3L, clean, "en", "web", clean.length.toLong: java.lang.Long)))
    val got = graft.ops.TextQuality.c29_repetitionStats(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // null text: zero everything, flag false — totality
    assert(got(0L).getAs[Long]("n_tok") === 0L)
    assert(!got(0L).getAs[Boolean]("is_repetitive"))
    // 3 tokens: no 4-grams exist → dup4 is 0, not an error
    assert(got(1L).getAs[Long]("dup4_e6") === 0L)
    assert(!got(1L).getAs[Boolean]("is_repetitive"))
    // the looping doc: 59 bigrams, 2 distinct — exact e6 rational
    assert(got(2L).getAs[Long]("dup2_e6") === (59L - 2L) * 1000000L / 59L)
    assert(got(2L).getAs[Boolean]("is_repetitive"))
    // the all-distinct doc: zero duplicate fraction at every n
    assert(got(3L).getAs[Long]("dup2_e6") === 0L)
    assert(got(3L).getAs[Long]("dup3_e6") === 0L)
    assert(got(3L).getAs[Long]("dup4_e6") === 0L)
    assert(!got(3L).getAs[Boolean]("is_repetitive"))
  }

  test("c30 ladder — one crafted doc per rung, first failing gate names the reason") {
    // each doc is built to PASS every gate above its target rung
    val keepDoc = "the cat sat on a mat and the dog ran to the " +
      (1 to 20).map(i => s"word$i").mkString(" ") // stops 5/32 ≥ 1/50, all bigrams distinct
    val looping = ("the of " * 30).trim            // stop-rich but 59 bigrams / 2 distinct
    val longTok = Seq.fill(10)("extraordinarily").mkString(" ") // mean len 15 > 12
    val noStops = (1 to 100).map(i => s"w$i").mkString(" ")     // 0 stop hits
    val tooLong = Seq.fill(1001)("the").mkString(" ")
    val d = writeDocs("c30", Seq(
      (0L, null, null, null, null),
      (1L, "one two three", "en", "web", 13L: java.lang.Long),
      (2L, tooLong, "en", "web", tooLong.length.toLong: java.lang.Long),
      (3L, longTok, "en", "web", longTok.length.toLong: java.lang.Long),
      (4L, noStops, "en", "web", noStops.length.toLong: java.lang.Long),
      (5L, looping, "en", "web", looping.length.toLong: java.lang.Long),
      (6L, keepDoc, "en", "web", keepDoc.length.toLong: java.lang.Long)))
    val got = graft.ops.TextQuality.c30_qualityGate(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val want = Map(0L -> "too_short", 1L -> "too_short", 2L -> "too_long",
      3L -> "bad_tok_len", 4L -> "low_stop", 5L -> "repetitive", 6L -> "keep")
    for ((id, reason) <- want) {
      assert(got(id).getAs[String]("reason") === reason, s"doc $id")
      assert(got(id).getAs[Boolean]("kept") === (reason == "keep"), s"doc $id kept")
    }
    // the ladder is ordered: the looping doc would ALSO fail low_stop?
    // no — it is stop-rich by construction, so repetitive is the first
    // failing rung; the no-stop doc has distinct unigram text so
    // low_stop is its first failure. Signals agree with c29's model:
    assert(got(5L).getAs[Long]("dup2_e6") === (59L - 2L) * 1000000L / 59L)
    // exact integer boundary: stop_hits·50 ≥ n_tok keeps doc 6 (5·50=250 ≥ 32)
    assert(got(6L).getAs[Long]("stop_hits") === 5L)
    assert(got(6L).getAs[Long]("n_tok") === 32L)
  }

  /** Scala model of c33: top-V df vocab, rarity = length of the binary
    * form of N/df, OOV = length of bin(N); ASCII terms so Scala string
    * order ≡ Spark's binary sort.
    */
  private def rarityModel(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
    val n = math.max(docs.size.toLong, 1L)
    val toks = docs.map { case (id, t) =>
      id -> (if (t == null) Array[String]() else t.split(" ", -1))
    }
    val df = toks.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val vocab = df.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(graft.ops.CorpusOps.RarityV.toInt)
      .map { case (t, c) => t -> java.lang.Long.toBinaryString(n / c).length.toLong }
      .toMap
    val oov = java.lang.Long.toBinaryString(n).length.toLong
    toks.map { case (id, ts) =>
      val s = ts.map(t => vocab.getOrElse(t, oov)).sum
      id -> ((ts.length.toLong, s, if (ts.isEmpty) 0L else s * 1000000L / ts.length))
    }.toMap
  }

  test("c33 ≡ the top-V df model — hand corpus, null doc, and an OOV tail") {
    // 300 distinct singleton terms force a tail past V=256: the 44
    // lexicographically-last df=1 terms are OOV and score bin(N) bits
    val wide = (1 to 300).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, null: String), (1L, "a a b"), (2L, "a c"), (3L, "b d"), (4L, wide))
    val d = writeDocs("c33", docs.map { case (id, t) =>
      (id, t, "en", "web", if (t == null) null
      else (t.length.toLong: java.lang.Long)) })
    val want = rarityModel(docs)
    val got = graft.ops.CorpusOps.c33_rarityScore(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("rarity_sum"),
          r.getAs[Long]("rarity_mean_e6")))).toMap
    assert(got === want)
    // spot-check the hand math: N=5, df(a)=2 → bin(2)='10' → 2 bits
    assert(got(1L)._2 === 2L + 2L + 2L) // a + a + b, df(b)=2 as well
    assert(got(0L) === ((0L, 0L, 0L)))  // null text: zero, totality
  }

  test("x_select_by_rarity keeps exactly the per-source top-K in model order") {
    // 40 docs in s0 whose rarity climbs with their singleton count
    // (forces a real cut at K=32), 2 docs in s1 (kept whole)
    val s0docs: Seq[(Long, String, String)] = (1 to 40).map { i =>
      (i.toLong, ("common " * 5).trim + " " +
        (1 to i).map(j => s"u${i}_$j").mkString(" "), "s0")
    }
    val docs = s0docs ++ Seq((100L, "common common common", "s1"),
      (101L, "common zebra", "s1"))
    val d = writeDocs("xsel", docs.map { case (id, t, src) =>
      (id, t, "en", src, t.length.toLong: java.lang.Long) })
    val model = rarityModel(docs.map { case (id, t, _) => (id, t) })
    val srcOf = docs.map { case (id, _, src) => id -> src }.toMap
    val want = docs.groupBy(_._3).toSeq.flatMap { case (src, ds) =>
      ds.map(_._1).sortBy(id => (-model(id)._3, id))
        .take(graft.ops.CorpusOps.RaritySelectK.toInt)
        .zipWithIndex.map { case (id, i) => (src, i + 1L, id) }
    }.sortBy(x => (x._1, x._2))
    val got = graft.ops.CorpusOps.x_selectByRarity(spark, d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"))).toSeq
    assert(got === want)
    assert(got.count(_._1 == "s0") === 32) // the cut is real
    assert(got.count(_._1 == "s1") === 2)
  }

  test("c32 census tiles c30's per-doc verdicts exactly — two sources, all rungs") {
    val looping = ("the of " * 30).trim
    val longDoc = "the cat sat on a mat and the dog ran to the " +
      (1 to 20).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (0L, null: String, null: String, "feedA", null: java.lang.Long),
      (1L, "one two three", "en", "feedA", 13L: java.lang.Long),
      (2L, looping, "en", "feedB", looping.length.toLong: java.lang.Long),
      (3L, longDoc, "en", "feedB", longDoc.length.toLong: java.lang.Long),
      (4L, longDoc, "en", "feedA", longDoc.length.toLong: java.lang.Long))
    val d = writeDocs("c32", docs)
    val srcOf = docs.map(x => x._1 -> x._4).toMap
    val verdicts = graft.ops.TextQuality.c30_qualityGate(spark, d).collect()
      .map(r => (srcOf(r.getAs[Long]("doc_id")), r.getAs[String]("reason"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("n_char")))
    val want = verdicts.groupBy(v => (v._1, v._2)).map { case ((s, r), vs) =>
      (s, r) -> ((vs.length.toLong, vs.map(_._3).sum, vs.map(_._4).sum))
    }
    val got = graft.ops.TextQuality.c32_domainStats(spark, d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("reason")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("tok_sum"), r.getAs[Long]("char_sum"))))
      .toMap
    assert(got === want)
    // the census partitions the corpus: totals add back to 5 docs
    assert(got.values.map(_._1).sum === 5L)
  }

  test("c34 counts code points — mojibake, control chars, astral symbols") {
    val mojibake = "�té déjà vu ñoño здравствуйте"    // replacement + heavy non-ASCII
    val accented = "caf" + "é" + " " + ("x" * 60)      // 1 non-ASCII in 65 chars: clean
    val ctrl = "ok\u0001\u0002 fine\ttab"              // 2 C0 controls; tab excluded
    val astral = "hi 🙂 there"               // astral symbol = ONE code point
    val d = writeDocs("c34", Seq(
      (0L, null, null, null, null),
      (1L, mojibake, "ru", "web", mojibake.length.toLong: java.lang.Long),
      (2L, accented, "fr", "web", accented.length.toLong: java.lang.Long),
      (3L, ctrl, "en", "web", ctrl.length.toLong: java.lang.Long),
      (4L, astral, "en", "web", astral.length.toLong: java.lang.Long)))
    val got = graft.ops.TextQuality.c34_encodingStats(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(0L).getAs[Long]("n_char") === 0L)
    assert(!got(0L).getAs[Boolean]("is_mojibake"))
    // any U+FFFD flags regardless of ratio
    assert(got(1L).getAs[Long]("n_replacement") === 1L)
    assert(got(1L).getAs[Boolean]("is_mojibake"))
    // one accent in 65 chars: ascii_e6 = 64e6/65, comfortably clean
    assert(got(2L).getAs[Long]("n_nonascii") === 1L)
    assert(got(2L).getAs[Long]("ascii_e6") === 64L * 1000000L / 65L)
    assert(!got(2L).getAs[Boolean]("is_mojibake"))
    // C0 controls counted, tab/LF/CR excluded
    assert(got(3L).getAs[Long]("n_ctrl") === 2L)
    assert(!got(3L).getAs[Boolean]("is_mojibake"))
    // the astral symbol is one code point in n_char AND n_nonascii
    assert(got(4L).getAs[Long]("n_char") === 10L)
    assert(got(4L).getAs[Long]("n_nonascii") === 1L)
  }

  test("c23 fused marker kernel ≡ the portable HOF form on randomized docs") {
    val rnd = new scala.util.Random(23L)
    val words = Vector("the", "a", "row", "window", "batch", "join", "key",
      "data", "query", "zzz", "héllo", "🙂", "", "the")
    val docs: Seq[(Long, String, String, String, java.lang.Long)] =
      (0 until 80).map { i =>
        val t =
          if (i % 11 == 0) null
          else (0 until rnd.nextInt(30)).map(_ => words(rnd.nextInt(words.size)))
            .mkString(" ")
        (i.toLong, t, "en", "w",
          if (t == null) null else (t.length.toLong: java.lang.Long))
      }
    val d = writeDocs("c23k", docs)
    val fused = TextOps.c23_langId(spark, d).collect().map(_.toSeq).toSeq
    val portable = TextOps.langIdOfPortable(
      graft.ops.Tables.documents(spark, d)).orderBy(col("doc_id"))
      .collect().map(_.toSeq).toSeq
    assert(fused === portable,
      "lang_hits must equal the filter/isInCollection pipelines")
  }

  test("c29 fused gram census ≡ the portable HOF form on randomized docs") {
    val rnd = new scala.util.Random(29L)
    val words = Vector("spam", "eggs", "the", "a", "héllo", "日本", "🙂", "x", "")
    val docs: Seq[(Long, String, String, String, java.lang.Long)] =
      (0 until 80).map { i =>
        val t =
          if (i % 11 == 0) null
          else (0 until rnd.nextInt(30)).map(_ => words(rnd.nextInt(words.size)))
            .mkString(" ") // "" entries yield double spaces → empty tokens
        (i.toLong, t, "en", "w",
          if (t == null) null else (t.length.toLong: java.lang.Long))
      }
    val d = writeDocs("c29k", docs)
    val fused = graft.ops.TextQuality.c29_repetitionStats(spark, d)
      .collect().map(_.toSeq).toSeq
    val portable = graft.ops.TextQuality.c29_repetitionStatsPortable(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(fused === portable,
      "gram_census must equal the transform/array_distinct pipelines")
  }

  test("c8 fused kernels ≡ the portable HOF/regex form on crafted + randomized docs") {
    val rnd = new scala.util.Random(8L)
    val pieces = Vector("the", "a", "cat", "UPPER", "42", "it's", "héllo",
      "日本", "🙂", ";;", "x", "of")
    val docs: Seq[(Long, String, String, String, java.lang.Long)] =
      (0 until 80).map { i =>
        val t =
          if (i % 13 == 0) null
          else if (i % 13 == 1) "" // empty string ≠ null: its own branch
          // every 5th doc joins with DOUBLE spaces: empty tokens enter
          // the shingles, the byte-scan and split must still agree
          else (0 until rnd.nextInt(25)).map(_ => pieces(rnd.nextInt(pieces.size)))
            .mkString(if (i % 5 == 0) "  " else " ")
        (i.toLong, t, "en", "w",
          if (t == null) null else (t.length.toLong: java.lang.Long))
      }
    val d = writeDocs("c8k", docs)
    val fused = graft.ops.TextQuality.c8_textQuality(spark, d)
      .collect().map(_.toSeq).toSeq
    val portable = graft.ops.TextQuality.c8_textQualityPortable(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(fused === portable,
      "shingle_fold + bpe_count_simple must equal the HOF/regex pipelines")
  }

  test("c34 fused kernel ≡ the portable regex form on randomized unicode") {
    // code-point pieces spanning every branch of the byte walk: ASCII,
    // C0 controls (and the excluded tab/LF/CR), 2- and 3-byte BMP,
    // 4-byte astral, and U+FFFD itself
    val pieces = Vector("a", "Zz", " ", "€", "ñ", "é", "日", "語", "🙂", "𝄞",
      "�", "\u0001", "\u0008", "\u000B", "\u001F", "\t", "\n", "\r", "0", ".")
    val rnd = new scala.util.Random(20260814L)
    val docs: Seq[(Long, String, String, String, java.lang.Long)] =
      (0 until 120).map { i =>
        val t = if (i % 17 == 0) null
        else (0 until rnd.nextInt(40)).map(_ => pieces(rnd.nextInt(pieces.size))).mkString
        (i.toLong, t, "xx", "w",
          if (t == null) null else (t.length.toLong: java.lang.Long))
      }
    val d = writeDocs("c34k", docs)
    val fused = graft.ops.TextQuality.c34_encodingStats(spark, d)
      .collect().map(_.toSeq).toSeq
    val portable = graft.ops.TextQuality.c34_encodingStatsPortable(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(fused === portable, "one byte walk must equal the four regex passes")
  }

  test("c31 scrubs all four PII families; counts measure the original text") {
    val pii = "mail bob.smith+x@ex-ample.co.uk now, ssn 123-45-6789, " +
      "call 555.123.4567 or 555-123-4567, host 10.0.255.1 end"
    val clean = "no pii here just words and 12.3 numbers 1234-5678"
    val d = writeDocs("c31", Seq(
      (0L, null, null, null, null),
      (1L, pii, "en", "web", pii.length.toLong: java.lang.Long),
      (2L, clean, "en", "web", clean.length.toLong: java.lang.Long)))
    val got = graft.ops.TextQuality.c31_piiRedact(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // null text: zero counts, null passthrough — totality
    assert(got(0L).getAs[Long]("n_pii") === 0L)
    assert(got(0L).getAs[String]("text_redacted") === null)
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_email") === 1L)   // multi-label domain backtracks to .uk
    assert(r1.getAs[Long]("n_ssn") === 1L)
    assert(r1.getAs[Long]("n_phone") === 2L)   // dot- and dash-separated forms
    assert(r1.getAs[Long]("n_ip") === 1L)
    assert(r1.getAs[Long]("n_pii") === 5L && r1.getAs[Boolean]("has_pii"))
    // the SSN pattern must NOT fire inside a phone number (3-3-4 vs 3-2-4),
    // so the ordered replace chain leaves exactly this:
    assert(r1.getAs[String]("text_redacted") ===
      "mail <EMAIL> now, ssn <SSN>, call <PHONE> or <PHONE>, host <IP> end")
    // near-miss shapes (2-octet version string, 4-4 digit code) stay put
    val r2 = got(2L)
    assert(r2.getAs[Long]("n_pii") === 0L && !r2.getAs[Boolean]("has_pii"))
    assert(r2.getAs[String]("text_redacted") === clean)
  }

  // ---- c26 ------------------------------------------------------------

  /** Scala model of c26 via java.util.regex over the same pattern —
    * pins the counting logic and the null/empty/degenerate handling.
    */
  private def bpeModel(text: String): (Long, Long, Long, Long, Long) = {
    if (text == null) return (0L, 0L, 0L, 0L, 0L)
    val ws = text.split(" ", -1)
    val m = java.util.regex.Pattern.compile(TextOps.BpePattern).matcher(text)
    val pieces = Iterator.continually(m).takeWhile(_.find()).map(_.group()).toVector
    val nWs = ws.length.toLong
    val blowup = if (nWs == 0) 0L else pieces.length * 1000000L / nWs
    (nWs, pieces.length.toLong, pieces.distinct.length.toLong,
      if (pieces.isEmpty) 0L else pieces.map(_.length).max.toLong, blowup)
  }

  private val bpeDocs: Seq[(Long, String, String, String, java.lang.Long)] = Seq(
    (0L, null, null, null, null),
    (1L, "plain words only here", "en", "w", 1L: java.lang.Long),
    (2L, "it's can't won't", "en", "w", 1L: java.lang.Long),          // contractions split
    (3L, "version 42 build 7x rc1", "en", "w", 1L: java.lang.Long),   // digit runs split
    (4L, "semi;colon, dash-dash \"quoted\"", "en", "w", 1L: java.lang.Long),
    (5L, "double  space   runs", "en", "w", 1L: java.lang.Long),      // bare spaces match nothing
    (6L, "héllo 日本語 mixed", "xx", "w", 1L: java.lang.Long))          // non-ascii → punct-run branch

  test("c26 ≡ the java.util.regex model — contractions, digits, punct, gaps, unicode") {
    val dir = writeDocs("c26", bpeDocs)
    val got = TextOps.c26_bpeTokenStats(spark, dir).collect()
    assert(got.length === bpeDocs.length)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (nWs, nBpe, nUniq, maxLen, blowup) = bpeModel(bpeDocs.find(_._1 == id).get._2)
      assert(r.getAs[Long]("n_ws") === nWs, s"doc $id n_ws")
      assert(r.getAs[Long]("n_bpe") === nBpe, s"doc $id n_bpe")
      assert(r.getAs[Long]("n_uniq_bpe") === nUniq, s"doc $id n_uniq_bpe")
      assert(r.getAs[Long]("max_piece_len") === maxLen, s"doc $id max_piece_len")
      assert(r.getAs[Long]("blowup_e6") === blowup, s"doc $id blowup")
    }
    val byId = got.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // pure single-spaced words: the pre-tokenizer is exactly whitespace
    assert(byId(1L).getAs[Long]("n_bpe") === byId(1L).getAs[Long]("n_ws"))
    assert(byId(1L).getAs[Long]("blowup_e6") === 1000000L)
    // contractions split into stem + 'suffix: strictly more pieces
    assert(byId(2L).getAs[Long]("n_bpe") > byId(2L).getAs[Long]("n_ws"))
  }
}

object WinnowLangSpec {
  /** Independent Scala reimplementation of the winnowing pipeline: the
    * same K-gram / 60-bit md5 / W-window-min / distinct contract,
    * written over plain collections (strings and hex parsing — none of
    * the kernel's byte-slice shortcuts, which is the point).
    */
  def winnowModel(text: String): Set[Long] = {
    if (text == null) return Set.empty
    val toks = text.split(" ", -1)
    if (toks.length < graft.ops.TextOps.WinnowK) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val hashes = toks.sliding(graft.ops.TextOps.WinnowK)
      .map(g => h60(g.mkString(" "))).toVector
    val nWin = math.max(hashes.length - graft.ops.TextOps.WinnowW + 1, 1)
    (0 until nWin).map(j => hashes.slice(j, j + graft.ops.TextOps.WinnowW).min).toSet
  }
}
