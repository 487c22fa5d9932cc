package graft

import graft.tools.{Jobs, ScanAudit}

/** Committed-expectation scan census over the whole inventory.
  *
  * Both round-8 double-scan bugs — c8 re-reading `documents` for its
  * fingerprint join-back, and c12's pruning-divergent tf subtrees
  * breaking ReuseExchange — were caught by running ScanAudit by hand.
  * This spec commits the expected (FileScan, ReusedExchange) counts of
  * every query's FINAL adaptive plan, so the next regression of the
  * same class is a red test instead of a manual audit: a query that
  * starts reading a table twice (or loses an exchange reuse) changes
  * its census even when its results stay correct.
  *
  * The counts are structural plan properties at any SF for 62 of 63
  * queries (BENCH_NOTES (l)/(q): full ScanAudit cross-checked at
  * sf0.1), so the cheap fixture is authoritative. Known exception:
  * b10_setops censuses 6 at sf0.001 but 8 at sf0.1 — AQE's
  * size-dependent join strategy reuses one (orders, customer) scan
  * pair across the intersect/except legs only while the build side is
  * broadcast-small; both shapes are correct, and the committed value
  * pins the fixture scale this spec runs at. A deliberate plan change
  * updates the committed pair in the same commit — that's the point:
  * scan-count changes must be intentional.
  *
  * These pins are also Spark-version-dependent (AQE strategy changes
  * move them), so an engine upgrade is EXPECTED to red many rows at
  * once. Regenerate the whole table as a ready-to-paste block with
  *   runMain graft.tools.ScanAudit /root/testdata/sf0.001 --scala
  * then audit the diff line-by-line before pasting: every changed pair
  * must be explainable by the upgrade, not by an accidental plan
  * regression the upgrade is masking.
  */
class ScanCensusSpec extends SparkSpec {

  /** query -> (FileScans in the final plan, ReusedExchange nodes).
    * Notes on the non-obvious rows:
    * - a13 reads back through JDBC (Derby), not files: 0 FileScans.
    * - b8/b10 are multi-join exemplar BUNDLES (union of join kinds):
    *   their scan counts are the sum over the bundled shapes.
    * - c2/c6/x_minhash: the reuse counts ARE the one-corpus-scan
    *   design (PlanSpec pins the shapes; this pins the multiplicity).
    * - c3/c7/x_ann_*: probe+corpus pairs read `embeddings` twice by
    *   design (the probe side is a tiny filtered subset).
    * - s1-s6 census the sink READ-BACK (the streamed run has its own
    *   plans per micro-batch): exactly one scan of the sink, ever.
    */
  private val expected: Map[String, (Int, Int)] = Map(
    "a1_scan_events" -> ((1, 0)),
    "a3_parse_json" -> ((1, 0)),
    "a5_filter_isin" -> ((1, 0)),
    "a6_regexp_extract" -> ((1, 0)),
    "a7_validate_notnull" -> ((1, 0)),
    "a8_project" -> ((1, 0)),
    "a9_partition_by_type" -> ((1, 0)),
    "a12_sink_dwd" -> ((1, 0)),
    "a13_sink_jdbc" -> ((0, 0)),
    "a18_quarantine" -> ((1, 0)),
    "a14_pipeline_e2e" -> ((1, 0)),
    "a15_json_roundtrip" -> ((1, 0)),
    "a16_csv_roundtrip" -> ((1, 0)),
    "a17_orc_roundtrip" -> ((1, 0)),
    "b1_agg_user_features" -> ((1, 0)),
    "b2_agg_distinct" -> ((1, 0)),
    "b3_groupsets_rollup" -> ((1, 0)),
    "b3b_cube" -> ((1, 0)),
    "b4_window_rank" -> ((1, 0)),
    "b5_window_frame" -> ((1, 0)),
    "b6_sessionize" -> ((1, 0)),
    "b7_asof_join" -> ((1, 0)),
    "b8_join_suite" -> ((17, 1)),
    "b9_sort_topk" -> ((1, 0)),
    "b10_setops" -> ((6, 0)),
    "b11_scalar_suite" -> ((1, 0)),
    "b12_tpch_q1like" -> ((1, 0)),
    "b13_q5like" -> ((5, 0)),
    "b14_sql_cte" -> ((2, 0)),
    "b15_salted_agg" -> ((1, 0)),
    // two scans by design: the tiny max-date census + the horizon scan
    "b21_decayed_features" -> ((2, 0)),
    // two scans by design: the tiny min/max census + the bucket scan
    "b22_feature_drift" -> ((2, 0)),
    "b23_funnel" -> ((1, 0)),
    "b24_retention" -> ((1, 0)),
    "b25_ltv_curve" -> ((1, 0)),
    "b16_percentiles" -> ((1, 0)),
    // two scans by design: slim signup + purchase projections of the one
    // log (LEFT bucket join folds the zero-match recovery into the agg)
    "b26_range_join" -> ((2, 0)),
    // b26b: the same two slim projections, each collapsed to hour grain
    // BEFORE the attribution join (which moves hour rows only)
    "b26b_attribution_counters" -> ((2, 0)),
    // customer (dim) + nation + orders; the sketch build is its own
    // eagerly-run job, not part of the final plan
    "b27_bloom_join" -> ((3, 0)),
    "b28_unpivot" -> ((1, 0)),
    // two scans by design: the tiny (n,s,q) census + the flag scan
    "b29_anomaly_zscore" -> ((2, 0)),
    // b30: one events scan into the window; the lead() needs no join-back
    "b30_scd2_history" -> ((1, 0)),
    // b32: census branch + merge branch each scan events (b29's shape)
    "b32_snapshot_merge" -> ((2, 0)),
    // sketch rollups: one events scan each (map-side-combined sketches)
    "x_approx_percentiles" -> ((1, 0)),
    "x_hll_rollup" -> ((1, 0)),
    // b31: orders + customer, one scan each (the salt explode is narrow)
    "b31_salted_join" -> ((2, 0)),
    // b33: the decorrelated form's two orders scans — the fact side and
    // the per-customer aggregate's input; a per-row subquery plan would
    // multiply these (the PlanSpec decorrelation pin's census twin)
    "b33_decorrelate" -> ((2, 0)),
    "b17_latest_features" -> ((1, 0)),
    "b18_q3like" -> ((3, 0)),
    "b19_bucketed_join" -> ((2, 0)),
    "b20_q14like" -> ((2, 0)),
    "c1_dedup_exact" -> ((1, 0)),
    "c2_dedup_minhash" -> ((1, 3)),
    "c3_sim_topk" -> ((2, 0)),
    "c4_text_stats" -> ((1, 0)),
    "c4b_top_terms" -> ((1, 0)),
    "c5_multimodal_cols" -> ((2, 0)),
    "c6_simhash" -> ((1, 1)),
    "c7_cosine_neardup" -> ((2, 0)),
    "c8_text_quality" -> ((1, 0)),
    // c29: pure per-row map like c8/c23 — the n-gram arrays never
    // leave the projection
    "c29_repetition_stats" -> ((1, 0)),
    // c30: the composed verdict recomputes every signal inside the one
    // projection — no join-back against c8/c29 outputs
    "c30_quality_gate" -> ((1, 0)),
    // c31: four pattern counts + the chained redaction, all in one
    // per-row regexp projection
    "c31_pii_redact" -> ((1, 0)),
    "c34_encoding_stats" -> ((1, 0)),
    // c32: c30's verdict reduced to (source, reason) — the n-gram
    // arrays collapse to three BIGINTs before the one rollup exchange
    // (PlanSpec pins hashEx==1; no exchange is re-read, so reused=0)
    "c32_domain_stats" -> ((1, 0)),
    // c33: the df model trains in its own eager job; the SCORING plan
    // is one scan + the broadcast map literal — no join, no exchange
    "c33_rarity_score" -> ((1, 0)),
    "x_select_by_rarity" -> ((1, 0)),
    "c9_multimodal_decode" -> ((1, 0)),
    "c10_stopword_filter" -> ((1, 0)),
    "c17_multimodal_resize" -> ((1, 0)),
    "c18_frame_sample" -> ((1, 0)),
    // the sketch pass is its own eagerly-run job; the final plan is the
    // candidate filter + exact count over one corpus scan
    "c19_heavy_hitters" -> ((1, 0)),
    // c20: ONE corpus explode feeds the (w1,w2) reduce; the n1 window
    // rides the reduced table, never a second scan
    "c20_bigram_stats" -> ((1, 0)),
    // c35: the LM table is checkpointed reduced state (the c15 idiom),
    // so the head census and the scoring join share it — one corpus
    // scan total (was 3 before the checkpoint)
    "c35_lm_score" -> ((1, 0)),
    // c22: one corpus explode; the total census REUSES the term-count
    // exchange (the reused-exchange ride is the point of the shape)
    "c22_vocab_coverage" -> ((1, 1)),
    // c21: census branch + quantize branch each scan embeddings (their
    // projections differ, so no reuse — the census reads no vec_id)
    "c21_embedding_quantize" -> ((2, 0)),
    // c23/c24 are pure per-row maps over one documents scan; c25's pair
    // join reuses the fingerprint exchange on BOTH consumers (the df-cap
    // census and the second join side) — 2 scans, 2 ReusedExchanges IS
    // the one-fingerprinting-pass design.
    "c23_lang_id" -> ((1, 0)),
    "c24_winnow_fingerprint" -> ((1, 0)),
    "c25_winnow_neardup" -> ((2, 2)),
    // x_neardup_incremental: the group-local pair tail reads the delta
    // and the standing postings once each (the df census only names
    // the stop list, which the fixture's footer proves empty) — and NO
    // documents scan (PlanSpec pins the kernel-free property)
    "x_neardup_incremental" -> ((2, 0)),
    // x_neardup_bucketed: the consumer reads ONLY the bucketed posting
    // index (3 slim scans — df census + both join sides; one folds
    // into a reused exchange) and never re-fingerprints documents —
    // the b19 tradeoff: rescans of a 16-byte-row index instead of a
    // full fp shuffle per run
    "x_neardup_bucketed" -> ((3, 1)),
    "c26_bpe_token_stats" -> ((1, 0)),
    // c27: eval side ×2 (broadcast fp probe + cardinality census, both
    // source-filter-pruned at the scan) and train side ×2 (df-cap
    // census + probe consumer — the c25 df-band pattern, which costs a
    // rescan instead of shuffling the lake-sized posting list; the
    // census agg moves slim (fp, count) pairs only)
    "c27_contamination" -> ((4, 0)),
    // x_contain: same 4-consumer shape as c27, but every scan is the
    // SLIM materialized postings table (postings×4, zero documents
    // scans in the consumer — the index-consumer property PlanSpec
    // pins by the absence of the winnow kernel)
    "x_contain_from_postings" -> ((4, 0)),
    // x_ann_quantized: probe + corpus branches of the reconstructed
    // frame (c3's shape); the per-dim census is collected eagerly at
    // plan-build time as driver model state, outside the final plan
    "x_ann_quantized" -> ((2, 0)),
    // x_ann_pq: float-probe + code-reconstructed-corpus branches (c3's
    // shape); training runs eagerly on the bounded sample at plan-build
    // time — the codebook is a plan reference object, not a scan
    "x_ann_pq" -> ((2, 0)),
    // x_ann_ivfpq: same two branches (cell-assign + decode are pure
    // maps on the corpus scan; both codebooks are reference objects)
    "x_ann_ivfpq" -> ((2, 0)),
    // x_ann_append: the returned search plan is x_ann_from_index's
    // (codes + probe scans); build + append ran as earlier jobs
    "x_ann_append" -> ((2, 0)),
    // x_ann_compact: same search plan; the fold ran as earlier jobs
    "x_ann_compact" -> ((2, 0)),
    // x_ann_rebuild: same search plan over the swapped-in generation;
    // the retrain + reassignment ran as earlier jobs
    "x_ann_rebuild" -> ((2, 0)),
    // x_ann_delete: same search plan over the post-delete rewrite
    "x_ann_delete" -> ((2, 0)),
    // x_ann_drift: ONE pure-map corpus scan into the four-row census;
    // codebook training ran eagerly on the bounded sample
    "x_ann_drift" -> ((1, 0)),
    // x_semantic_drift: the same one-scan census shape (TopCells +
    // broadcast k-row centroid join); cell training ran eagerly
    "x_semantic_drift" -> ((1, 0)),
    // x_ann_from_index: the consumer plan reads codes.parquet + the
    // probe slice of embeddings — training/build ran as earlier jobs
    "x_ann_from_index" -> ((2, 0)),
    "c11_hash_sample" -> ((1, 0)),
    "c12_tfidf_top_terms" -> ((2, 1)),
    "c13_stratified_sample" -> ((1, 0)),
    // c15 localCheckpoints the edge list and every sweep's labels (the
    // iterative-algorithm idiom), so its FINAL plan reads RDD blocks,
    // not files — 0 FileScans is the designed shape, and a reappearing
    // FileScan would mean an un-truncated lineage re-deriving minhash.
    "c15_dedup_clusters" -> ((0, 0)),
    // x_semantic_dedup: like c15, the final plan reads checkpointed
    // label RDDs — the embeddings scans live in the sweep jobs
    "x_semantic_dedup" -> ((0, 0)),
    // x_semantic_incremental: same checkpointed cluster tail — the
    // standing-state build, delta assignment, pair fold and CC sweeps
    // all ran as earlier jobs
    "x_semantic_incremental" -> ((0, 0)),
    // s21: same checkpointed cluster tail (the drain, the pair cut's
    // inputs and the CC sweeps all ran as earlier jobs)
    "s21_stream_semantic_ingest" -> ((0, 0)),
    // x_semantic_bucketed: same checkpointed cluster tail (the CTAS,
    // pair legs and fold all ran as earlier jobs)
    "x_semantic_bucketed" -> ((0, 0)),
    // x_semantic_delete: same checkpointed cluster tail (the clone,
    // the two erasure rewrites, the day's pairs and the fold all ran
    // as earlier jobs)
    "x_semantic_delete" -> ((0, 0)),
    // x_semantic_compact: same checkpointed cluster tail (both days'
    // ingests, the pair folds and the mid-stream posting fold all ran
    // as earlier jobs)
    "x_semantic_compact" -> ((0, 0)),
    // x_semantic_rebuild: same checkpointed cluster tail (both days,
    // the retrain and the posting rewrite all ran as earlier jobs)
    "x_semantic_rebuild" -> ((0, 0)),
    // x_semantic_ann: same cluster tail — training, assignment and the
    // pair join all run before the checkpointed label state
    "x_semantic_ann" -> ((0, 0)),
    // c16's drop list is c15 label state (checkpointed RDD, no file
    // read); the corpus scan and the digest-keeps scan are the two.
    "c16_corpus_pipeline" -> ((2, 0)),
    "c14_pack_sequences" -> ((1, 0)),
    // c28: same one-scan shape as c14 — the piece count is fused into
    // the sizing projection, not a second pass
    "c28_pack_bpe" -> ((1, 0)),
    "s1_stream_pipeline" -> ((1, 0)),
    "s2_stream_window" -> ((1, 0)),
    "s3_stream_sessionize" -> ((1, 0)),
    "s4_stream_join" -> ((1, 0)),
    "s5_stream_stream_join" -> ((1, 0)),
    "s6_stream_dedup" -> ((1, 0)),
    "s7_stream_quarantine" -> ((1, 0)),
    // s8 censuses the sketch-table read-back + rollup (the streamed run
    // has its own per-micro-batch plans): one scan of the sink, ever
    "s8_stream_hll_rollup" -> ((1, 0)),
    "s9_stream_lang_id" -> ((1, 0)),
    // s14: the read-back plan scans the batchId-keyed pair sink; the
    // index build and per-batch folds ran as earlier jobs
    "s14_stream_neardup" -> ((1, 0)),
    "s15_stream_fingerprint" -> ((1, 0)),
    "s16_stream_lm_score" -> ((1, 0)),
    "s17_stream_lm_heldout" -> ((1, 0)),
    // s18: per-batch census partials ran inside the drain; the returned
    // scoring plan is c35's shape (merged LM checkpointed to RDD state)
    "s18_stream_lm_update" -> ((1, 0)),
    // s20: the search plan reads the memoized base codes + the arrived
    // epoch sink + the pushed-filter probe slice of embeddings
    "s20_stream_ann_ingest" -> ((3, 0)),
    // s19: the close-time cut reads the sized-state sink twice (the
    // digest-keeps census + the survivor projection — c16's two-scan
    // shape over the slim sink instead of the corpus); the drop list
    // is checkpointed label state, the shingle sink was consumed by
    // the cluster jobs before the final plan
    "s19_stream_corpus_pipeline" -> ((2, 0)),
    // x_corpus_retention: the same cut shape over the post-delete
    // standing state — two slim state reads (digest-keeps agg +
    // survivors join), labels checkpointed, the erasure rewrite ran
    // as an earlier job
    "x_corpus_retention" -> ((2, 0)),
    // x_corpus_epochs: the registered output is the final close's
    // SHIPPED manifest read back (one slim scan); the drains and both
    // cuts ran as earlier jobs
    "x_corpus_epochs" -> ((1, 0)),
    // x_lm_heldout: one scored-shard scan; the train-shard reduce is
    // checkpointed LM state (the c35 localCheckpoint idiom)
    "x_lm_heldout" -> ((1, 0)),
    // x_lm_prune: train/prune/persist ran as earlier jobs; the scoring
    // plan is x_lm_heldout's shape — one documents scan, the pruned
    // artifact checkpointed to RDD state, the total a collected scalar
    "x_lm_prune" -> ((1, 0)),
    // x_lm_update: the train/fold/persist stages ran as earlier jobs;
    // the returned scoring plan is c35's shape — one documents scan,
    // the updated artifact checkpointed to RDD state
    "x_lm_update" -> ((1, 0)),
    // x_lm_delete: the decrement/persist ran as earlier jobs; the
    // scoring plan is x_lm_heldout's shape — one scored-shard scan,
    // the decremented artifact checkpointed, the total collected
    "x_lm_delete" -> ((1, 0)),
    // x_neardup_lifecycle: the final plan unions the three days'
    // materialized audits — one scan each; ingest/append ran earlier
    "x_neardup_lifecycle" -> ((3, 0)),
    // x_neardup_compact: same three-audit union; the compaction fold
    // ran as earlier jobs
    "x_neardup_compact" -> ((3, 0)),
    // x_neardup_prune: same three-audit union; the prune rewrite ran
    // as earlier jobs
    "x_neardup_prune" -> ((3, 0)),
    // x_neardup_delete: the post-delete audit is the incremental
    // consumer plan verbatim (the same pair tail over the rewritten
    // clone)
    "x_neardup_delete" -> ((2, 0)),
    // s22: the close-time audit is the same incremental consumer plan
    // over the post-delete clone
    "s22_stream_retention" -> ((2, 0)),
    // s23: the semantic retention twin ends in the checkpointed
    // cluster tail (drain, erasure rewrites, pair cut and fold all
    // ran as earlier jobs — the x_semantic_delete census shape)
    "s23_stream_semantic_retention" -> ((0, 0)),
    // s24: x_lm_delete's census shape — one scored-shard scan; drain,
    // request join, decrement and persist ran as earlier jobs
    "s24_stream_lm_retention" -> ((1, 0)),
    // s25: x_corpus_retention's cut shape over the post-delete state;
    // drain and the erasure rewrite ran as earlier jobs
    "s25_stream_corpus_retention" -> ((2, 0)),
    // s26: x_ann_delete's search shape — probe + codes reads; drain,
    // append and the close-time delete rewrite ran as earlier jobs
    "s26_stream_ann_retention" -> ((2, 0)),
    // x_bpe_train: the merge table is driver model state parallelized
    // back out — the census scan ran as an earlier job
    "x_bpe_train" -> ((0, 0)),
    // x_bpe_coverage: one corpus scan through explode + the broadcast
    // piece-table join (the piece table is parallelized model state)
    "x_bpe_coverage" -> ((1, 0)),
    // c36: the census-then-filter pattern — one documents scan for the
    // broadcast per-source budget table, one for the windowed sample
    "c36_mixture_sample" -> ((2, 0)),
    // c37: the sample's window and the packer's share one shuffle+sort,
    // so the composition adds no scan over c36
    "c37_mixture_pack" -> ((2, 0)),
    // x_mixture_prefilter: budget census + n_docs census + the guarded
    // windowed sample
    "x_mixture_prefilter" -> ((3, 0)),
    // s27: the close-time cut reads the sized-state sink (mass census +
    // windowed sample, like c36's two documents scans but over state)
    "s27_stream_mixture" -> ((2, 0)),
    // x_retention_audit: the union of per-artifact probes — slim scans
    // of the post-erasure artifact tables (postings ×2 for the df
    // recount, pre+post LM counts, pre+post BPE census) plus the
    // broadcast request slices (documents ×4, embeddings ×2) and the
    // deleted-docs censuses; the reuses are shared request exchanges
    "x_retention_audit" -> ((19, 2)),
    // x_bpe_update / x_bpe_delete: the fold/decrement write their next
    // census generation eagerly; the returned merge table is driver
    // model state parallelized, like x_bpe_train
    "x_bpe_update" -> ((0, 0)),
    "x_bpe_delete" -> ((0, 0)),
    // s10 censuses the flagged-containment sink read-back (the streamed
    // audit has its own per-micro-batch plans): one scan of the sink
    "s10_stream_contamination" -> ((1, 0)),
    "s11_stream_quality_gate" -> ((1, 0)),
    "s12_stream_pii" -> ((1, 0)),
    "s13_stream_funnel" -> ((1, 0)),
    "x_approx_distinct" -> ((1, 0)),
    "x_ann_lsh" -> ((2, 0)),
    "x_ann_ivf" -> ((2, 0)),
    "x_label_centroids" -> ((1, 0)),
    "x_minhash_lsh" -> ((2, 6)),
    "x_stratified_prefilter" -> ((2, 0)),
    // the composed form's POINT: documents×2 (sized + digest-keeps) +
    // the materialized cluster table×1 — no shingle/minhash stages, no
    // checkpointed-RDD scan; NewOpsSpec asserts the table breakdown
    "x_corpus_from_clusters" -> ((3, 0)),
    // one bucketed scan; PlanSpec pins the vanished hash exchange
    "x_asof_bucketed" -> ((1, 0)),
    // one corpus scan: the totals branch reuses the window exchange
    // (max(local_end) keeps the subtrees identical — see the scaladoc);
    // a 2 here means pruning divergence re-split the scan
    "x_pack_twophase" -> ((1, 1)))

  /** Upper bounds on the Spark jobs one warm call of a query starts at
    * sf0.001, result collected — the standing-state memos already built
    * by the census call before it, as in a bench loop. These are the
    * queries whose id-range probes, pair tail, Bloom gate or ANN model
    * read resolve on the driver; a change may lower a bound, and
    * raising one is a regression to explain.
    */
  private val jobBudget: Map[String, Int] = Map(
    "x_neardup_incremental" -> 9,
    "x_neardup_delete" -> 12,
    "x_neardup_lifecycle" -> 29,
    "x_neardup_compact" -> 25,
    "x_neardup_prune" -> 31,
    "s14_stream_neardup" -> 6,
    "s22_stream_retention" -> 15,
    "x_ann_append" -> 7,
    "x_ann_compact" -> 8,
    "x_ann_delete" -> 9,
    "x_ann_rebuild" -> 21,
    "x_ann_drift" -> 9,
    "s20_stream_ann_ingest" -> 7,
    "s26_stream_ann_retention" -> 11,
    "x_semantic_incremental" -> 14,
    "x_semantic_bucketed" -> 17,
    "x_semantic_delete" -> 18,
    "x_semantic_compact" -> 20,
    "x_semantic_drift" -> 6,
    "x_semantic_rebuild" -> 29,
    "s21_stream_semantic_ingest" -> 14,
    "s23_stream_semantic_retention" -> 20,
    "x_corpus_epochs" -> 43,
    "x_retention_audit" -> 53)

  /** What a query must leave the function registry as: the built-ins
    * plus the extension's SQL names, as a fresh session holds them. */
  private lazy val cleanFunctions =
    spark.newSession().sessionState.functionRegistry.listFunction().toSet

  test("the census table covers exactly the query inventory") {
    assert(expected.keySet === SparkEntry.queries.keySet)
    assert(jobBudget.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    val (scans, reused) = expected.getOrElse(name, (-1, -1))
    test(s"$name final plan: scans=$scans reused=$reused") {
      val confBefore = spark.conf.getAll.toSet
      val df = fn(spark, sf0001)
      // taken before the census, which raises maxMetadataStringLength itself
      val confAfter = spark.conf.getAll.toSet
      val c = ScanAudit.census(df)
      val functions = spark.sessionState.functionRegistry.listFunction().toSet
      assert((functions -- cleanFunctions, cleanFunctions -- functions) === ((Set.empty, Set.empty)),
        "query changed the function registry: (added, removed)")
      assert((confAfter -- confBefore, confBefore -- confAfter) === ((Set.empty, Set.empty)),
        "query changed the session conf: (set, unset or replaced)")
      assert((c.scans, c.reused) === ((scans, reused)),
        s"census drifted — actual scans=${c.scans} reused=${c.reused} tables=[${c.tablesStr}]")
      jobBudget.get(name).foreach { budget =>
        val n = Jobs.during(spark)(fn(spark, sf0001).collect()).size
        assert(n <= budget, s"a warm call started $n Spark jobs, over its budget of $budget")
      }
    }
  }
}
