package graft.tools

import org.apache.spark.sql.functions._

/** Decade evidence for the round-16 index-maintenance paths:
  *
  * 1. neardup epoch COMPACTION (x_neardup_compact's machinery) — a
  *    standing index that has accumulated E arrival epochs pays
  *    listing + census-merge over all E partitions on EVERY ingest
  *    (O(history) recurring cost); after one fold, the same probe
  *    ingest reads base only. Timed: probe-day ingest with E standing
  *    epochs vs the identical ingest post-compaction, rows asserted
  *    equal (the fold identity, end-to-end).
  *
  * 2. ANN index APPEND (x_ann_append's machinery) — absorbing a new
  *    vector epoch with the EXISTING codebooks is one assignment map
  *    over the delta; the alternative a build-only index forces is a
  *    full retrain + re-assignment over base ∪ delta. Timed side by
  *    side on the same delta.
  *
  * 3. LM UPDATE fold (x_lm_update's machinery) — folding the delta's
  *    bigram census into the standing counts table vs retraining the
  *    LM over the whole corpus, result-identical by additivity
  *    (asserted via a content hash).
  *
  * Usage: runMain graft.tools.ProfileMaintenance <decadeDir> [epochs]
  */
object ProfileMaintenance {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileMaintenance <dir> [epochs]")
    val d = args(0)
    val epochs = if (args.length > 1) args(1).toInt else 16
    val spark = ToolSession.session()
    import graft.ops.{Tables, TextOps, VectorOps}

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- 1. neardup compaction ----
    val docs = Tables.documents(spark, d)
    val r = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head()
    if (r.isNullAt(0)) { println("[maint] empty documents table, nothing to profile"); spark.stop(); return }
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    // base = first half; E small epochs over the third quarter; the
    // probe day = the last quarter, ingested twice (pre/post fold)
    val mid = lo + (hi - lo) / 2
    val probeFrom = lo + (hi - lo) * 3 / 4
    val dir = Tables.scratchDir("maint_nd", d)
    val (_, tBuild) = timed(TextOps.neardupIndexBuild(spark, d, dir, mid))
    val step = math.max(1L, (probeFrom - mid) / epochs)
    var accum = 0.0
    for (k <- 1 to epochs) {
      val from = mid + step * (k - 1)
      val until = if (k == epochs) probeFrom else from + step
      val (_, t) = timed(
        TextOps.neardupEpochIngest(spark, d, dir, from, Some(until), k).count())
      accum += t
    }
    val probeBid = epochs + 1
    val (rowsPre, tPre) = timed(
      TextOps.neardupEpochIngest(spark, d, dir, probeFrom, None, probeBid).count())
    // drop the probe's own epoch before folding, then compact and
    // re-run the identical probe against the folded base
    Tables.rmrf(s"$dir/epochs/bid=$probeBid")
    val (_, tCompact) = timed(TextOps.neardupCompact(spark, dir))
    val (rowsPost, tPost) = timed(
      TextOps.neardupEpochIngest(spark, d, dir, probeFrom, None, probeBid).count())
    require(rowsPre == rowsPost,
      s"compaction identity broken: $rowsPre pre vs $rowsPost post")
    println(f"[maint] neardup dir=$d epochs=$epochs build=$tBuild%.1f " +
      f"epoch_ingests_total=$accum%.1f probe_pre=$tPre%.2f " +
      f"compact=$tCompact%.2f probe_post=$tPost%.2f rows=$rowsPre")

    // ---- 1b. posting prune ----
    // identity over the decade corpus first: its replicas PERTURB every
    // token (CorpusDecade preserves the df distribution by design), so
    // no fp crosses the cap and the prune must be a no-op — the probe
    // re-run is byte-identical either way
    val postingsPre = Tables.parquet(spark, s"$dir/postings.parquet").count()
    val (_, tPrune) = timed(TextOps.neardupPrunePostings(spark, dir))
    val postingsPost = Tables.parquet(spark, s"$dir/postings.parquet").count()
    val (rowsPruned, tProbePruned) = timed(
      TextOps.neardupEpochIngest(spark, d, dir, probeFrom, None, probeBid).count())
    Tables.rmrf(s"$dir/epochs/bid=$probeBid")
    require(rowsPruned == rowsPre,
      s"prune identity broken: $rowsPre pre vs $rowsPruned post")
    println(f"[maint] neardup-prune dir=$d postings_pre=$postingsPre " +
      f"postings_post=$postingsPost prune=$tPrune%.2f " +
      f"probe_pruned=$tProbePruned%.2f rows=$rowsPruned")
    // ...then the corpus the prune EXISTS for: a boilerplate-heavy lake
    // shard (30% of base docs share one template → their fps' df ≫
    // cap). Measures the shrink and what the lean table buys the SAME
    // delta-day ingest.
    locally {
      import spark.implicits._
      val nBoiler = 15000L * epochs / 8
      val nUniq = 35000L * epochs / 8
      // generation-suffixed + dataset-keyed (the scratch-path lint's
      // rule): two concurrent profiles must not overwrite each other's
      // synthetic corpus mid-run
      val bdir = Tables.scratchDir("maint_boiler_corpus", d)
      val boiler = (1 to 24).map(i => s"tmpl$i").mkString(" ")
      val n = nBoiler + nUniq
      val bmid = n / 2
      // delta docs past bmid re-use base-unique seeds, so the probe
      // ingest emits real near-dup pairs (a vacuous 0-pair identity
      // would prove nothing)
      spark.range(n)
        .select(col("id").as("doc_id"),
          when(col("id") < nBoiler, lit(boiler))
            .otherwise(expr(
              s"concat_ws(' ', transform(sequence(1, 24), i -> concat('u', " +
                s"CAST(CASE WHEN id >= $bmid THEN id - $bmid + $nBoiler ELSE id END AS STRING), " +
                "'x', CAST(i AS STRING))))"))
            .as("text"),
          lit("en").as("lang"), lit("src0").as("source"),
          lit(100L).as("n_chars"))
        .write.mode("overwrite").parquet(s"$bdir/documents.parquet")
      val idirA = Tables.scratchDir("maint_prune_a", bdir)
      TextOps.neardupIndexBuild(spark, bdir, idirA, bmid)
      val pPre = Tables.parquet(spark, s"$idirA/postings.parquet").count()
      val (ingPreRows, tIngPre) = timed(
        TextOps.neardupIngest(spark, bdir, idirA, bmid).count())
      val (_, tPruneB) = timed(TextOps.neardupPrunePostings(spark, idirA))
      val pPost = Tables.parquet(spark, s"$idirA/postings.parquet").count()
      val (ingPostRows, tIngPost) = timed(
        TextOps.neardupIngest(spark, bdir, idirA, bmid).count())
      require(ingPreRows == ingPostRows,
        s"boiler prune identity broken: $ingPreRows vs $ingPostRows")
      println(f"[maint] neardup-prune-boiler docs=$n postings_pre=$pPre " +
        f"postings_post=$pPost prune=$tPruneB%.2f " +
        f"ingest_pre=$tIngPre%.2f ingest_post=$tIngPost%.2f rows=$ingPreRows")
    }

    // ---- 2. ANN append vs rebuild ----
    // skipped (not returned from) when embeddings are empty: the LM
    // section below needs only documents, and a documents-only dataset
    // must still get it (round-16 review — a `return` here silently
    // unreached section 3)
    val emb = Tables.embeddings(spark, d)
    val er = emb.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi")).head()
    if (er.isNullAt(0)) println("[maint] empty embeddings table, ann section skipped")
    else {
      val emid = er.getLong(0) + (er.getLong(1) - er.getLong(0)) / 2
      val base = emb.filter(col("vec_id").isNull || col("vec_id") <= emid)
      val delta = emb.filter(col("vec_id") > emid)
      val adir = Tables.scratchDir("maint_ann", d)
      val (built, tAnnBuild) = timed(VectorOps.buildAnnIndexOf(spark, base, adir))
      built match {
        case None => println("[maint] ann: untrainable base, skipped")
        case Some(p) =>
          // the append write is EAGER (parquet save is an action) — no
          // read-back needed, and counting the grown table here would
          // charge an O(base) scan to the append side only, inflating
          // the headline ratio against it (round-16 review)
          val (_, tAppend) = timed(VectorOps.annIndexAppend(spark, delta, p))
          val rdir = Tables.scratchDir("maint_ann_rb", d)
          val (_, tRebuild) = timed(VectorOps.buildAnnIndexOf(spark, emb, rdir))
          println(f"[maint] ann dir=$d base_build=$tAnnBuild%.1f " +
            f"append=$tAppend%.2f rebuild=$tRebuild%.1f " +
            f"ratio=${tAppend / tRebuild}%.3f")
          // ---- 2b. ANN small-file compaction ----
          // the grown index holds base + one file-set per append; the
          // fold must be byte-invisible to search and collapse the sets
          def codeFiles(): Long = {
            val s = java.nio.file.Files.list(
              java.nio.file.Paths.get(s"$p/codes.parquet"))
            try s.filter(_.getFileName.toString.startsWith("part-")).count()
            finally s.close()
          }
          val (preRows, tSearchPre) = timed(
            VectorOps.annFromIndex(spark, d, p).collect().toSeq)
          val fPre = codeFiles()
          val (_, tAnnCompact) = timed(VectorOps.annCompact(spark, p))
          val (postRows, tSearchPost) = timed(
            VectorOps.annFromIndex(spark, d, p).collect().toSeq)
          require(preRows == postRows,
            "ann compaction identity broken: search rows differ")
          println(f"[maint] ann-compact dir=$d files_pre=$fPre " +
            f"files_post=${codeFiles()} compact=$tAnnCompact%.2f " +
            f"search_pre=$tSearchPre%.2f search_post=$tSearchPost%.2f")
          // ---- 2c. in-place REBUILD (x_ann_rebuild's swap) ----
          // the drift-triggered retrain on the LIVE index: retrain both
          // quantizers over base ∪ delta, reassign every vector in one
          // map pass, swap both generations. Identity: the swapped-in
          // index must search byte-equal to the from-scratch build in
          // rdir (same deterministic trainers, same corpus). The
          // rebuild-vs-append crossover: an append costs tAppend every
          // day at quantization quality frozen at the base; a rebuild
          // costs tAnnRebuild once per drift alert — the ratio says how
          // many drift-free days one rebuild buys.
          val (_, tAnnRebuild) = timed(VectorOps.annRebuild(spark, emb, p))
          val rebuilt = VectorOps.annFromIndex(spark, d, p).collect().toSeq
          val scratchRows = VectorOps.annFromIndex(spark, d, rdir).collect().toSeq
          require(rebuilt == scratchRows,
            "ann rebuild identity broken: swapped index differs from from-scratch")
          println(f"[maint] ann-rebuild dir=$d rebuild_inplace=$tAnnRebuild%.1f " +
            f"append=$tAppend%.2f scratch_build=$tRebuild%.1f " +
            f"append_per_rebuild=${tAnnRebuild / math.max(tAppend, 1e-9)}%.1f")
      }
    }

    // ---- 3. LM fold vs retrain ----
    // the production shape: a standing LM over ~97% of the corpus, one
    // arriving day (~3%, the 1/32 tail — the s14 batch-size analog).
    // Both sides PERSIST their result (production ships the artifact
    // either way), so the comparison is write-symmetric.
    import graft.ops.CorpusOps
    def censusHash(c: org.apache.spark.sql.DataFrame): (Long, Long) = {
      // bit_xor, not sum: summing uniform 64-bit hashes overflows under
      // ANSI; XOR is order-free and closed, and census rows are unique
      // per (w1, w2) so no pair can cancel
      val h = c.select(count(lit(1)),
        expr("bit_xor(xxhash64(w1, w2, n12))")).head()
      (h.getLong(0), h.getLong(1))
    }
    val dayFrom = lo + (hi - lo) * 31 / 32
    val ldir = Tables.scratchDir("maint_lm", d)
    val (_, tLmBase) = timed {
      CorpusOps.bigramCensusOf(docs.filter(col("doc_id") <= dayFrom))
        .write.mode("overwrite").parquet(s"$ldir/counts.parquet")
    }
    val (_, tFold) = timed {
      CorpusOps.lmUpdateCounts(
          Tables.parquet(spark, s"$ldir/counts.parquet"),
          CorpusOps.bigramsOf(docs.filter(col("doc_id") > dayFrom)))
        .write.mode("overwrite").parquet(s"$ldir/counts_v2.parquet")
    }
    val (_, tRetrain) = timed {
      CorpusOps.bigramCensusOf(docs)
        .write.mode("overwrite").parquet(s"$ldir/counts_rt.parquet")
    }
    val foldHash = censusHash(Tables.parquet(spark, s"$ldir/counts_v2.parquet"))
    val retrainHash = censusHash(Tables.parquet(spark, s"$ldir/counts_rt.parquet"))
    require(foldHash == retrainHash,
      s"LM additivity broken: $foldHash vs $retrainHash")
    println(f"[maint] lm dir=$d base_train=$tLmBase%.2f fold=$tFold%.2f " +
      f"retrain=$tRetrain%.2f ratio=${tFold / tRetrain}%.3f rows=${foldHash._1}")
    spark.stop()
  }
}
