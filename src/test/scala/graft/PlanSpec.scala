package graft

import graft.ops._

/** Physical-plan shape assertions — the 100 TB safety properties the
  * scaladocs promise, pinned so a refactor can't silently regress them:
  * filters/projections reach the parquet scan, small dims broadcast,
  * top-k never global-sorts, and nothing cartesian-joins by accident.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("b12: shipdate filter and column pruning reach the parquet scan") {
    val p = plan(Relational.b12_tpchQ1(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // only the 7 needed columns are read, not all 11
    assert(!p.contains("l_orderkey"), "scan should prune unused lineitem columns")
  }

  test("b8: dimension joins broadcast; no shuffle join for small dims") {
    val p = plan(Relational.b8_joinSuite(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("b9: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.b9_sortTopk(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("b18: top-10 plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Extras.b18_q3like(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("c4b: top-50 terms plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(TextOps.c4b_topTerms(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("c3: probe side is broadcast — corpus never shuffles for the cross score") {
    val p = plan(VectorOps.c3_simTopk(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n$p")
  }

  test("c7: pair scan is a block equi-join — never a nested loop over corpus×corpus") {
    val p = plan(VectorOps.c7_cosineNeardup(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"c7 must not nested-loop the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"c7 must not cartesian-join:\n$p")
  }

  test("x_bpe_coverage: the piece table broadcasts — the corpus never shuffles for the join") {
    val df = graft.ops.BpeTrain.x_bpeCoverage(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤65536-row piece table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must not shuffle for the model join:\n$p")
  }

  test("x_semantic_ann: pair stage is an equi-join on the cell id — no nested loop") {
    val p = plan(VectorOps.semanticAnnPairs(spark, sf0001).get)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"semantic-ANN candidates must come from the cell equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"must not cartesian-join:\n$p")
    assert(p.contains("top_cells"), s"cell assignment must be the native TopCells map:\n$p")
  }

  test("x_semantic_ann: the self-join reuses ONE assignment pass at the shuffle-join scale") {
    // at lake scale both sides exceed the broadcast threshold and the
    // join shuffles on the cell id — the two sides must then share one
    // corpus scan + one TopCells pass through ReusedExchange (the c25
    // fk pattern); independently-built sides re-scan and re-assign.
    // Disable auto-broadcast so the test sees the lake-scale shape.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = VectorOps.semanticAnnPairs(spark, sf0001).get
      df.collect() // ReusedExchange only appears in the FINAL adaptive plan
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(p.contains("ReusedExchange"), s"sides must share one exchange:\n$p")
      val scans = "FileScan".r.findAllIn(p).size
      assert(scans == 1, s"expected exactly one embeddings scan, saw $scans:\n$p")
      assert("top_cells".r.findAllIn(p).size == 1,
        s"expected exactly one assignment pass:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x_neardup_prune: the rewrite anti-join broadcasts the over-cap slice — postings never shuffle") {
    // the prune's whole point is dropping dead posting rows CHEAPLY;
    // an unhinted anti-join against the filtered df census (whose size
    // estimate is the unfiltered file) can pick sort-merge at lake
    // scale and shuffle the ENTIRE posting table for a maintenance job
    // (round-17 verdict). Build a tiny real index and pin the rewrite
    // plan: broadcast join, zero posting-side hash exchanges.
    import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
    val docs = graft.ops.Tables.documents(spark, sf0001)
    val r = docs.agg(fmin(col("doc_id")), fmax(col("doc_id"))).head()
    val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    val dir = graft.ops.Tables.scratchDir("prune_plan", sf0001)
    TextOps.neardupIndexBuild(spark, sf0001, dir, mid)
    val p = plan(TextOps.neardupPruneFrame(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the over-cap slice must broadcast into the anti-join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
      s"the posting table must not shuffle for its own prune:\n$p")
  }

  test("x_semantic_delete: both rewrite frames broadcast the request — standing tables never shuffle") {
    // the erasure's whole point is cost: two slim rewrites against a
    // KB request list. An unhinted anti-join could sort-merge and
    // shuffle the corpus-sized posting/pair tables for a maintenance
    // delete (the neardupPruneFrame lesson at the embedding level).
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.ops.{Tables, VectorOps}
    val emb = Tables.embeddings(spark, sf0001)
    val (memo, mid) = VectorOps.semanticIndexDir(spark, sf0001).get
    val dir = Tables.scratchDir("semdel_plan", sf0001)
    Tables.linkTree(s"$memo/postings.parquet", s"$dir/postings.parquet")
    Tables.linkTree(s"$memo/pairs.parquet", s"$dir/pairs.parquet")
    val req = emb.filter(col("vec_id") <= mid &&
        pmod(col("vec_id"), lit(VectorOps.SemDeleteMod)) === VectorOps.SemDeleteRes)
      .select(col("vec_id"))
    val (postings, pairs) = VectorOps.semDeleteFrames(spark, dir, req)
    for ((name, f) <- Seq("postings" -> postings, "pairs" -> pairs)) {
      val p = plan(f)
      assert(p.contains("BroadcastHashJoin"),
        s"$name rewrite: the request list must broadcast into the anti-join:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
        s"$name rewrite: the standing table must not shuffle for its own erasure:\n$p")
    }
  }

  test("x_semantic_bucketed: the standing↔delta leg reads the bucketed side shuffle-free") {
    // disable auto-broadcast so the join must rely on bucketing, not on
    // the delta being tiny at test scale (the b19 pin's discipline)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions.col
      val emb = graft.ops.Tables.embeddings(spark, sf0001)
      val (memo, mid) = VectorOps.semanticIndexDir(spark, sf0001).get
      val cents = spark.read.parquet(s"$memo/model.parquet").head()
        .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("cents")
        .map(_.toArray).toArray
      val nb = math.max(32, spark.sparkContext.defaultParallelism)
      val tbl = graft.ops.Tables.saveBucketed(spark, "sem_bkt_pin", sf0001,
        nb, "cell", Seq("cell"))(spark.read.parquet(s"$memo/postings.parquet"))
      val pairs = VectorOps.semanticBucketedPairs(spark.table(tbl),
        VectorOps.semPostingsOf(emb.filter(col("vec_id") > mid), cents))
      val p = plan(pairs)
      // the standing side arrives through the bucketed scan: exchanges
      // may move only the DELTA (into the bucketing, twice — one per
      // leg side) and the final slim-pair distinct. The standing table
      // itself never hash-exchanges: with it, the count would grow by
      // one corpus-sized exchange.
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx <= 4,
        s"bucketed pair legs must not shuffle the standing table, saw $hashEx exchanges:\n$p")
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"the standing side must read through the bucketed scan:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("c2: candidate generation is an equi-join on the shingle hash, no nested loop") {
    val p = plan(TextOps.c2_dedupJaccard(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"c2 must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"c2 must not cartesian-join:\n$p")
  }

  test("c2: executed plan reuses the shingle exchange — one corpus scan, not four") {
    val df = TextOps.c2_dedupJaccard(spark, sf0001)
    df.collect() // ReusedExchange only appears in the FINAL adaptive plan
    // toString appends the pre-AQE "== Initial Plan ==" — count only the
    // final executed section
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"), s"self-join sides must share one exchange:\n$p")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly one documents scan, saw $scans:\n$p")
  }

  test("x_minhash: executed plan reuses the shingle exchange — one corpus scan") {
    val df = TextOps.minhashLsh(spark, sf0001)
    df.collect() // ReusedExchange only appears in the FINAL adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"signature agg, band join and verification must share exchanges:\n$p")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans <= 2, s"expected at most two documents scans, saw $scans:\n$p")
  }

  test("c8: quality + fingerprint is one scan and a pure map — no join, no agg shuffle") {
    val p = plan(TextQuality.c8_textQuality(spark, sf0001))
    // round 8 folded the shingle fingerprint into per-row higher-order
    // functions: the explode→groupBy→join-back (two scans + a hash
    // shuffle) must not come back
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly one documents scan, saw $scans:\n$p")
    assert(!p.contains("Join"), s"fingerprint must not join back:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"only the presentation sort's range exchange is allowed:\n$p")
  }

  test("TopCells assignment projects inside whole-stage codegen (k-independent source)") {
    val cents = Array.tabulate(10)(i => Array.tabulate(8)(j => (i * 8 + j + 1).toFloat))
    val p = plan(Tables.embeddings(spark, sf0001)
      .select(Extras.topCellsCol(cents, 3).as("cells")))
    assert(p.contains("top_cells"), s"expected the native expression in the plan:\n$p")
    val line = p.linesIterator.find(_.contains("top_cells")).get
    assert(line.trim.startsWith("*("),
      s"top_cells project fell out of whole-stage codegen:\n$p")
  }

  test("x_ann_ivf: training sample is one TakeOrderedAndProject pass — no corpus pre-action") {
    val p = plan(Extras.ivfTrainSample(Tables.embeddings(spark, sf0001)))
    assert(p.contains("TakeOrderedAndProject"),
      s"training sample must be a bounded top-k pass:\n$p")
    // round 6 removed a full-corpus count() used for stride sampling;
    // this keeps any aggregate/count pre-action from sneaking back in
    assert(!p.contains("Aggregate"), s"no full-corpus aggregate before sampling:\n$p")
    assert(!p.contains("Exchange"), s"sampling must not shuffle the corpus:\n$p")
  }

  test("c6: signature is one typed aggregate; candidate join is equi, no nested loop") {
    val p = plan(Simhash.c6_simhash(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"c6 must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"c6 must not cartesian-join:\n$p")
    // the SimHashAgg buffer aggregates through ObjectHashAggregate —
    // NOT a 60-column codegen'd HashAggregate (whose generated class
    // took ~10s of Janino per [re]compile)
    assert(p.contains("ObjectHashAggregate"), s"expected typed simhash aggregate:\n$p")
  }

  test("b20: part dim broadcasts; shipdate range filter pushed to the lineitem scan") {
    val p = plan(Extras.b20_q14like(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"part dim must broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate filter not pushed:\n$p")
  }

  test("b13: star join broadcasts the dims and pushes the date filter") {
    val p = plan(Relational.b13_q5like(spark, sf0001))
    // customer/nation/region carry explicit broadcast hints; the
    // lineitem⋈orders fact join is left to the planner (at lake scale
    // it is a shuffle join, at test scale AQE may broadcast orders —
    // both fine; what must never appear is a cartesian/nested loop)
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"all three dims must broadcast, saw $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), s"b13 must not cartesian-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"b13 must keep equi-joins:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"orderdate filter not pushed to the orders scan:\n$p")
  }

  test("c12: df joins as an equi-join (planner's choice of strategy); N attaches via broadcast") {
    val p = plan(CorpusOps.c12_tfidfTopTerms(spark, sf0001))
    // the df table is deliberately UN-hinted (vocabulary-sized — see
    // the c12 scaladoc), so the pin is strategy-agnostic: any equi-join
    // is fine, a cartesian product is not. The single-row N side rides
    // a broadcast nested loop by design — a 1-row broadcast is the
    // cheap way to attach a global scalar.
    assert(!p.contains("CartesianProduct"), s"N must attach via broadcast, not cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected the broadcast single-row N:\n$p")
  }

  test("c12: df branch reuses the tf shuffle — corpus exploded once, not twice") {
    val df = CorpusOps.c12_tfidfTopTerms(spark, sf0001)
    df.collect() // ReusedExchange only appears in the FINAL adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // round 8: the tautological tf >= 1 filter keeps the df branch's
    // partial aggregate identical to the join side's, so both read one
    // shuffled tf stage. 2 scans = corpus + the column-pruned N count.
    assert(p.contains("ReusedExchange"), s"df must reuse the tf exchange:\n$p")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans <= 2, s"expected corpus scan + N count only, saw $scans:\n$p")
  }

  test("x_ann_lsh: probes broadcast into a bucket equi-join — no nested loop over the corpus") {
    val p = plan(VectorOps.annLsh(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"probes must broadcast on the bucket key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"ANN must stay a bucket equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"ANN must not cartesian-join:\n$p")
  }

  test("b6: session aggregate reuses the window's user_id shuffle — one hash exchange") {
    val p = plan(Features.b6_sessionize(spark, sf0001))
    // hashpartitioning(user_id) satisfies the groupBy(user_id, sess)
    // clustering requirement (subset rule), so the window shuffle is
    // the ONLY hash exchange; a second one means the reuse broke
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected one shared user_id exchange, saw $hashEx:\n$p")
  }

  test("b1: conditional aggregation is ONE shuffle — never pivot's two-pass shape") {
    // b1 exists in this form because groupBy().pivot() runs a separate
    // distinct-values job first; the conditional-agg form must stay a
    // single partial+final hash aggregate over one user_id exchange
    val p = plan(Features.b1_userFeatures(spark, sf0001))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected one user_id exchange, saw $hashEx:\n$p")
  }

  test("b21: as-of census broadcasts; the decayed counter is one hash exchange") {
    val p = plan(Features.b21_decayedFeatures(spark, sf0001))
    // the single-row max-date census must attach via broadcast (like
    // c12's N) — re-shuffling the event scan against it would be wrong
    assert(p.contains("BroadcastExchange"), s"expected broadcast t0 census:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected one (user_id, event_type) exchange, saw $hashEx:\n$p")
  }

  test("b22: drift census broadcasts; bucket counts + type reduce are two exchanges") {
    val p = plan(Features.b22_featureDrift(spark, sf0001))
    assert(p.contains("BroadcastExchange"), s"expected broadcast t_mid census:\n$p")
    // (type, bucket) counts then the ≤types×20-row per-type reduce —
    // the second exchange moves almost nothing and must stay that way
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected bucket + type exchanges, saw $hashEx:\n$p")
  }

  test("b23/b24: stage windows and the user collapse ride one user_id exchange") {
    // b23's three sequential whole-partition windows + groupBy(user)
    // must all reuse ONE hashpartitioning(user_id) exchange (the b6
    // pattern); b24 adds only the tiny cohort reduce on top
    val p23 = plan(Features.b23_funnel(spark, sf0001))
    val ex23 = "Exchange hashpartitioning".r.findAllIn(p23).size
    assert(ex23 == 1, s"b23: expected one shared user_id exchange, saw $ex23:\n$p23")
    val p24 = plan(Features.b24_retention(spark, sf0001))
    val ex24 = "Exchange hashpartitioning".r.findAllIn(p24).size
    assert(ex24 == 2, s"b24: expected user + cohort exchanges, saw $ex24:\n$p24")
    // b25 adds the curve's running-sum window: user + (cohort, age)
    // + cohort exchanges — only the first is data-sized
    val p25 = plan(Features.b25_ltvCurve(spark, sf0001))
    val ex25 = "Exchange hashpartitioning".r.findAllIn(p25).size
    assert(ex25 == 3, s"b25: expected user + curve-point + cohort exchanges, saw $ex25:\n$p25")
  }

  test("b16: exact percentiles are one typed aggregate over one exchange") {
    val p = plan(Features.b16_percentiles(spark, sf0001))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected one event_type exchange, saw $hashEx:\n$p")
    // percentile() buffers per group imperatively → ObjectHashAggregate
    assert(p.contains("ObjectHashAggregate"), s"expected typed percentile aggregate:\n$p")
  }

  test("b4/b5: ranking and frame windows are one shuffle + one in-partition sort each") {
    Seq(Features.b4_windowRank(spark, sf0001) -> "b4",
        Features.b5_windowFrame(spark, sf0001) -> "b5").foreach { case (df, n) =>
      val p = plan(df)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx == 1, s"$n: expected one user_id window exchange, saw $hashEx:\n$p")
    }
  }

  test("b15: salted aggregation is two aggregate stages, not a collapsed single groupBy") {
    val p = plan(Features.b15_saltedAgg(spark, sf0001))
    // (user_id, salt) partial stage then user_id merge stage — two hash
    // exchanges; Catalyst must not fold them into one (that would undo
    // the skew spread the query exists to demonstrate)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected salted partial + final exchanges, saw $hashEx:\n$p")
  }

  test("a14: single narrow stage — no shuffle before the sort") {
    val p = plan(Ingest.dwdFrame(spark, sf0001))
    assert(!p.contains("Exchange"), s"ingest pipeline must not shuffle:\n$p")
  }

  test("a12: partition pruning — reading one EventType touches one partition") {
    Ingest.a12_sinkDwd(spark, sf0001).count() // materialize the partitioned sink
    // the layout partitions on the path-safe EventTypePath (== EventType
    // for every clean type); per-type reads filter the partition column
    val one = spark.read.parquet(s"${Tables.scratch}/dwd_${Tables.sanitize(sf0001)}")
      .filter(org.apache.spark.sql.functions.col("EventTypePath") === "purchase")
    val p = plan(one)
    assert(p.contains("PartitionFilters: [isnotnull(EventTypePath"), s"no partition pruning:\n$p")
  }

  test("b19: bucketed join reads shuffle-free — no Exchange below the join") {
    // disable auto-broadcast so the join must rely on bucketing, not on
    // the dim being tiny at test scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Extras.b19_bucketedJoin(spark, sf0001).count() // create bucketed tables
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"expected sort-merge over buckets:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle either side:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"scan should be bucket-aware:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("b7: as-of join is one scan + one window — no join operator, no second scan") {
    val p = plan(Features.b7_asofJoin(spark, sf0001))
    assert(!p.contains("Join"), s"as-of must resolve in the window, not a join:\n$p")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected one events scan, saw $scans:\n$p")
  }

  test("AQE splits a skewed sort-merge join at runtime — join skew needs no manual salt") {
    // the runtime half of the skew story next to b15: a hot join key
    // concentrates one shuffle partition; AQE's OptimizeSkewedJoin
    // splits it into advisory-sized slices (skew=true on the SMJ) with
    // no code change. The thresholds are lowered to make fixture-scale
    // bytes "skewed" — at lake scale the defaults (256 MB, 5× median)
    // fire on real hot keys. Aggregation skew is the half AQE does NOT
    // handle: a skewed groupBy still funnels the hot key into one task,
    // which is exactly why b15's manual two-phase salt exists
    // (BENCH_NOTES (w) adjudicates the split of labor).
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      // hot key 0 carries ~100k rows; 19 cold keys carry ~100 each
      val fact = spark.range(100000L)
        .select(org.apache.spark.sql.functions.lit(0L).as("k"),
          org.apache.spark.sql.functions.col("id").as("v"))
        .union(spark.range(1900L)
          .select((org.apache.spark.sql.functions.col("id") % 19 + 1).as("k"),
            org.apache.spark.sql.functions.col("id").as("v")))
      val dim = spark.range(20L)
        .select(org.apache.spark.sql.functions.col("id").as("k"),
          (org.apache.spark.sql.functions.col("id") * 10).as("w"))
      val joined = fact.join(dim, "k")
      joined.collect() // AQE decides at runtime: materialize first
      val p = plan(joined)
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not mark the hot partition:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("x_asof_bucketed: the user_id hash exchange disappears on the bucketed layout") {
    // SURVEY §8's claim made executable: b7's one shuffle is the window's
    // ClusteredDistribution(user_id), and a scan bucketed on user_id
    // already provides it — only the presentation range sort remains
    val p = plan(Features.x_asofBucketed(spark, sf0001))
    assert(!p.contains("hashpartitioning"),
      s"bucketed as-of must not hash-shuffle the fact table:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan should be bucket-aware:\n$p")
    assert(!p.contains("Join"), s"still the merge form — no join operator:\n$p")
    // …while b7 over the unbucketed fixture DOES pay that exchange: the
    // contrast is what makes the vanished shuffle a property, not luck
    val pb = plan(Features.b7_asofJoin(spark, sf0001))
    assert(pb.contains("hashpartitioning"),
      "b7's plan lost its window exchange — update this contrast pin")
  }

  test("b17: latest-wins upsert plans one shuffle on the feature key") {
    val p = plan(Extras.b17_latestFeatures(spark, sf0001))
    // WindowGroupLimit pushes the rank filter below the full window sort
    assert(p.contains("WindowGroupLimit"), s"expected rank-limit pushdown:\n$p")
  }

  test("a1/a8: envelope projection prunes the events scan to used columns") {
    val p = plan(Ingest.envelope(spark, sf0001))
    assert(p.contains("ReadSchema"), p)
    assert(!p.toLowerCase.contains("props"), "props must be pruned from the envelope scan")
  }

  test("c16: no exchange carries document text — only slim rows shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = CorpusOps.c16_corpusPipeline(spark, sf0001)
    df.collect() // resolve AQE to the final plan
    // AQE wraps materialized stages in leaf QueryStageExec nodes (the
    // root itself is a ResultQueryStageExec), so plain collect() never
    // reaches the exchanges — expand every wrapper explicitly
    def exchanges(p: SparkPlan): Seq[Seq[String]] = {
      val here = p match {
        case e: Exchange => Seq(e.output.map(_.name))
        case _ => Seq.empty
      }
      val deeper = p match {
        case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case q: QueryStageExec => exchanges(q.plan)
        case _ => p.children.flatMap(exchanges)
      }
      here ++ deeper
    }
    val exchanged = exchanges(df.queryExecution.executedPlan)
    assert(exchanged.nonEmpty, "expected at least the digest and pack exchanges")
    exchanged.foreach { out =>
      assert(!out.contains("text"),
        s"document text crossed an exchange: ${out.mkString(",")}")
    }
  }

  test("c13/c14/c28: corpus-prep windows are ONE hash shuffle each — no join, no extra exchange") {
    Seq(CorpusOps.c13_stratifiedSample(spark, sf0001) -> "c13",
        CorpusOps.c14_packSequences(spark, sf0001) -> "c14",
        // c28 carries c14's plan contract: the regex piece count fuses
        // into the sizing projection, adding NO stage of its own
        CorpusOps.c28_packBpe(spark, sf0001) -> "c28").foreach { case (df, n) =>
      val p = plan(df)
      // the stratum/shard window shuffle is the only hashpartitioning
      // exchange (the cosmetic output orderBy is rangepartitioning)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx == 1, s"$n: expected one window exchange, saw $hashEx:\n$p")
      assert(!p.contains("Join"), s"$n must not join:\n$p")
      assert(p.contains("Window"), s"$n should rank/sum in a window:\n$p")
    }
  }

  test("x_stratified_prefilter: the stratum census joins BROADCAST — the corpus is never shuffled for it") {
    val p = plan(CorpusOps.x_stratifiedPrefilter(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"expected a broadcast census join:\n$p")
    // exactly two hash exchanges: the tiny (lang, count) census agg and
    // the post-filter window — the full corpus shuffles ONCE, as in c13
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected census-agg + window exchanges only, saw $hashEx:\n$p")
  }

  test("b26: the range join is a bucket EQUI-join — no nested loop anywhere") {
    val p = plan(RangeJoin.b26_rangeJoin(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"b26 must not nested-loop:\n$p")
    // the naive formulation DOES nested-loop — the contrast b26 exists for
    val pn = plan(RangeJoin.naiveRangeJoin(spark, sf0001))
    assert(pn.contains("BroadcastNestedLoopJoin"),
      s"naive form should show the BNLJ b26 avoids:\n$pn")
  }

  test("b28: the melt is a narrow Expand over ONE aggregation shuffle") {
    val p = plan(Features.b28_unpivot(spark, sf0001))
    assert(p.contains("Expand"), s"unpivot should plan as Expand:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected only the groupBy exchange, saw $hashEx:\n$p")
    assert(!p.contains("Join"), s"melt must not join:\n$p")
  }

  test("b29: the stats census broadcasts — the event stream never shuffles for it") {
    val p = plan(Features.b29_anomalyZscore(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"expected a broadcast census join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"only the tiny census agg should hash-shuffle, saw $hashEx:\n$p")
  }

  test("c19: the cms estimate prunes tokens BELOW the exact-count exchange") {
    val p = plan(TextOps.c19_heavyHitters(spark, sf0001))
    assert(p.contains("cms_estimate"), s"sketch filter missing from the plan:\n$p")
    // the map-side estimate filter must sit under the groupBy exchange:
    // deeper operators print later in the tree string
    val filterIdx = p.indexOf("cms_estimate")
    val exIdx = p.indexOf("Exchange hashpartitioning")
    assert(exIdx >= 0 && filterIdx > exIdx,
      "estimate filter should prune before the count shuffle")
    assert(!p.contains("Join"), s"c19 must not join:\n$p")
  }

  test("b30: the SCD2 timeline is ONE window shuffle — no join, no second scan") {
    val p = plan(Features.b30_scd2History(spark, sf0001))
    assert(p.contains("Window"), s"lead() should plan as Window:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected only the (user, type) window exchange, saw $hashEx:\n$p")
    assert(!p.contains("Join"), s"b30 must not join:\n$p")
  }

  test("b32: both epoch-latest windows and the final reduce ride ONE (user, type) exchange") {
    val p = plan(Features.b32_snapshotMerge(spark, sf0001))
    assert(p.contains("Window"), s"epoch-latest should plan as Window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"b32 must not self-join the log:\n$p")
    // one hash exchange: the (user, type) window; the census is a
    // single-partition agg + broadcast, and the groupBy reuses the
    // window's partitioning
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected only the (user, type) exchange, saw $hashEx:\n$p")
  }

  test("b31: the salted join is SORT-MERGE on (custkey, salt) — the dim is never broadcast") {
    val p = plan(Relational.b31_saltedJoin(spark, sf0001))
    assert(p.contains("SortMergeJoin"), s"expected the hinted SMJ:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"the dim must shuffle (broadcast would make the salt vacuous):\n$p")
    // the salt is part of the join keys — the spread is in the PLAN, not
    // just the data
    val smjLine = p.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
    assert(smjLine.contains("salt"), s"salt missing from the join keys: $smjLine")
  }

  test("c20: one corpus-sized reduce; the n1 window rides the REDUCED bigram table") {
    val p = plan(CorpusOps.c20_bigramStats(spark, sf0001))
    assert(p.contains("Window"), s"n1 should plan as a window:\n$p")
    assert(!p.contains("Join"), s"c20 must not join:\n$p")
    // two hash exchanges: the (w1, w2) reduce of the exploded corpus and
    // the w1 re-partition for the window — the second moves vocabulary²
    // rows, never the corpus
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected reduce + vocab-window exchanges only, saw $hashEx:\n$p")
  }

  test("c23: language ID is pure per-row work — no join, no hash shuffle, one scan") {
    val p = plan(TextOps.c23_langId(spark, sf0001))
    assert(!p.contains("Join"), s"the profiles must compile into the projection, not join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"classification must not shuffle (only the presentation sort), saw $hashEx:\n$p")
  }

  test("c29: repetition stats are pure per-row work — no join, no hash shuffle") {
    val p = plan(TextQuality.c29_repetitionStats(spark, sf0001))
    assert(!p.contains("Join"), s"repetition stats must not join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"repetition stats must not shuffle, saw $hashEx:\n$p")
  }

  test("c30: the quality verdict is one per-row projection — no join against c8/c29") {
    val p = plan(TextQuality.c30_qualityGate(spark, sf0001))
    assert(!p.contains("Join"), s"the gate must recompute signals in-row, not join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"the verdict must not shuffle, saw $hashEx:\n$p")
  }

  test("c31: PII scrub is one per-row regexp projection — no join, no hash shuffle") {
    val p = plan(TextQuality.c31_piiRedact(spark, sf0001))
    assert(!p.contains("Join"), s"the scrub must not join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"the scrub must not shuffle, saw $hashEx:\n$p")
  }

  test("c32: the funnel census pays ONE rollup exchange over slim partials") {
    val p = plan(TextQuality.c32_domainStats(spark, sf0001))
    assert(!p.contains("Join"), s"the census must not join:\n$p")
    // partial HashAggregate before the exchange: document bytes and the
    // n-gram arrays must reduce map-side, leaving a KB-sized shuffle
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"exactly the rollup exchange, saw $hashEx:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"rollup must be partial+final (map-side combine):\n$p")
  }

  test("c33: scoring is one per-row projection — the df model rides as a literal") {
    val p = plan(CorpusOps.c33_rarityScore(spark, sf0001))
    assert(!p.contains("Join"), s"the lookup must be a map literal, not a join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"scoring must not shuffle, saw $hashEx:\n$p")
  }

  test("x_select_by_rarity: the per-source cut is a WindowGroupLimit, not a full sort") {
    val p = plan(CorpusOps.x_selectByRarity(spark, sf0001))
    assert(!p.contains("Join"), s"selection must not join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the rank<=K filter must push into the window sort (O(K) state per source):\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"exactly the source window exchange, saw $hashEx:\n$p")
  }

  test("c34: encoding stats are one per-row regexp projection — no join, no shuffle") {
    val p = plan(TextQuality.c34_encodingStats(spark, sf0001))
    assert(!p.contains("Join"), s"the encoding census must not join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"the encoding census must not shuffle, saw $hashEx:\n$p")
  }

  test("c26: token counting is pure per-row work — no join, no hash shuffle") {
    val p = plan(TextOps.c26_bpeTokenStats(spark, sf0001))
    assert(!p.contains("Join"), s"piece counting must not join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"token counting must not shuffle, saw $hashEx:\n$p")
  }

  test("c24: fingerprinting is one per-row projection — no window shuffle, no join") {
    val p = plan(TextOps.c24_winnowFingerprint(spark, sf0001))
    assert(!p.contains("Join"), s"winnowing must not join:\n$p")
    // the paper's window-min runs INSIDE the higher-order projection,
    // not as a per-doc Window operator (which would shuffle on doc_id)
    assert(!p.contains("Window"), s"window-min must stay in the projection:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"fingerprinting must not hash-shuffle, saw $hashEx:\n$p")
  }

  test("c27: the eval side broadcasts — train fingerprints meet it without a join shuffle") {
    val p = plan(TextOps.c27_contamination(spark, sf0001))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"containment must probe via the fp equi-join:\n$p")
    // both eval-side frames (the fp posting list and the per-doc
    // cardinality census) are benchmark-suite-sized — broadcast by
    // construction, so the lake-sized train side never shuffles for
    // the probe (only the train-df cap census exchanges)
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"expected broadcast eval probe + census joins, saw $bhj:\n$p")
  }

  test("x_contain_from_postings: the consumer plan reads the index — no winnow kernel anywhere") {
    // default metadata truncation (100 chars) cuts the scan location
    // before the postings leaf — widen so the path assertion can see
    // it, and RESTORE after (round-13 ADVICE: the widened value leaked
    // into every later test's plan strings)
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "2048")
    try {
      val p = plan(TextOps.x_containFromPostings(spark, sf0001))
      // the point of materializing the posting list: a re-audit must not
      // re-hash the corpus — every scan is the slim postings table
      assert(!p.contains("winnow_fps"), s"consumer must read postings, not re-fingerprint:\n$p")
      assert(!p.contains("md5"), s"no hashing in the consumer plan:\n$p")
      assert(p.contains("postings.parquet"), s"expected postings scans:\n$p")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("c25: candidates come from the fp equi-join over ONE fingerprinting pass") {
    val df = TextOps.c25_winnowNeardup(spark, sf0001)
    df.collect() // reuse only shows in the FINAL adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"pair generation must be the fp equi-join, never all-pairs:\n$p")
    // the fingerprint exchange is computed once and REUSED by both the
    // df-cap census and the second join side (ScanCensus pins 2,2)
    assert(p.contains("ReusedExchange"), s"expected the fps exchange to be reused:\n$p")
  }

  test("x_neardup_bucketed: the pair join consumes the bucketed layout — no fp hash exchange") {
    // disable auto-broadcast so the df-band semi-join must rely on the
    // bucketing too: the zero-exchange property belongs to the LAYOUT,
    // not to the census being broadcast-small at fixture scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = TextOps.x_neardupBucketed(spark, sf0001)
      df.collect() // bucket-aware reuse only shows in the FINAL adaptive plan
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(p.contains("SelectedBucketsCount"), s"scan should be bucket-aware:\n$p")
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"pair generation must stay the fp equi-join:\n$p")
      // the ONLY hash exchange is the final (a_id, b_id) pair reduce:
      // the df census, the band semi-join and the pair self-join all
      // ride the scan's fp bucket partitioning
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx == 1, s"expected only the pair-reduce exchange, saw $hashEx:\n$p")
      // …while inline c25 DOES pay the fp exchange for the same tail —
      // the contrast is what makes the vanished shuffle a property
      val c = TextOps.c25_winnowNeardup(spark, sf0001)
      c.collect()
      val pc = c.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert("Exchange hashpartitioning\\(fp".r.findAllIn(pc).nonEmpty,
        "c25's plan lost its fp exchange — update this contrast pin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x_neardup_incremental: the consumer plan reads posting tables — no kernel, no corpus") {
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "2048")
    try {
      val df = TextOps.x_neardupIncremental(spark, sf0001)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      // the incremental contract: fingerprinting ran at ingest time
      // (delta only) — the PAIR plan itself re-hashes nothing and
      // never rescans document text, old epoch or new
      assert(!p.contains("winnow_fps"), s"consumer must read postings, not fingerprint:\n$p")
      assert(!p.contains("md5"), s"no hashing in the consumer plan:\n$p")
      assert(!p.contains("documents.parquet"), s"no corpus scan in the consumer plan:\n$p")
      assert(p.contains("delta.parquet") && p.contains("postings.parquet"),
        s"expected delta + standing-index scans:\n$p")
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"pairing must stay the fp equi-join:\n$p")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("c21: the per-dim census broadcasts — the exploded stream never shuffles") {
    val p = plan(VectorOps.c21_embeddingQuantize(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"expected a broadcast census join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"only the tiny census agg should hash-shuffle, saw $hashEx:\n$p")
  }

  test("x_ann_pq: codebook rides the plan as model state — corpus is one pure-map scan + probe broadcast") {
    val p = plan(VectorOps.x_annPq(spark, sf0001))
    // the search plan must look exactly like c3's: probes broadcast,
    // corpus streamed once through the decode map — the M×k×subDim
    // codebook is a plan reference object, NEVER a joined/broadcast
    // table, and training (already executed eagerly) leaves no trace
    assert(p.contains("pq_reconstruct"), s"native decode missing from the plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"PQ search must not cartesian:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected probe + corpus scans only, saw $scans:\n$p")
    // one hash exchange: the per-probe top-k window (same as c3)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"decode must stay a pure map — saw $hashEx hash exchanges:\n$p")
  }

  test("x_ann_ivfpq: cell equi-join + pure-map decode — both codebooks are reference objects") {
    val p = plan(VectorOps.x_annIvfPq(spark, sf0001))
    assert(p.contains("pq_reconstruct") && p.contains("top_cells"),
      s"both index halves must appear as native maps:\n$p")
    // candidates come from an EQUI-join on the cell id (probes
    // broadcast) — never a nested loop over the corpus
    assert(p.contains("BroadcastHashJoin"), s"expected the cell equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IVF-PQ search must stay a bucket equi-join:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected probe + corpus scans only, saw $scans:\n$p")
  }

  test("b33: Catalyst DECORRELATES the scalar subquery — one aggregate + equi-join, no per-row loop") {
    val p = plan(Relational.b33_decorrelate(spark, sf0001))
    // the correlated form must plan as ONE per-customer avg joined back
    // on the correlation key — never a nested loop / per-row re-scan
    assert(p.contains("HashAggregate") && p.contains("avg(cents"),
      s"expected the decorrelated per-customer aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the correlation key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decorrelation failed — per-row subquery execution:\n$p")
    // exactly two scans: the fact side and the aggregate's input — a
    // per-row re-scan plan would multiply these
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 orders scans (fact + aggregate input), saw $scans:\n$p")
  }

  test("b26b: attribution counters — both streams collapse to hour grain BEFORE the join") {
    val p = plan(RangeJoin.b26b_attributionCounters(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the attribution join must stay an equi-join:\n$p")
    // the join sits ABOVE both hour-grain exchanges (deeper operators
    // print later): the only two hash exchanges are the grain reduces,
    // and both are below the join — the join moves hour rows, not
    // events, and the final reduce RIDES the signup-hour partitioning
    val joinIdx = p.indexOf("Join")
    val exIdxs = "Exchange hashpartitioning".r.findAllIn(p).matchData.map(_.start).toList
    assert(joinIdx >= 0 && exIdxs.size == 2 && exIdxs.forall(_ > joinIdx),
      s"expected exactly the two hour-grain exchanges, both under the join:\n$p")
  }

  test("x_retention_audit: the id probes broadcast the request — state never shuffles for its own audit") {
    // the sweep's cost contract: a probe is ONE slim scan of the
    // artifact with the KB request list broadcast in. An unhinted
    // join could sort-merge the lake-sized posting table just to
    // count survivors (the semDeleteFrames lesson, at audit time).
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.ops.{Tables, TextOps, RetentionAudit}
    val docs = Tables.documents(spark, sf0001)
    val (memo, mid) = TextOps.standingNeardupIndex(spark, sf0001).get
    val req = docs.filter(col("doc_id") <= mid &&
        pmod(col("doc_id"), lit(TextOps.NdDeleteMod)) === TextOps.NdDeleteRes)
      .select(col("doc_id"))
    val p = plan(RetentionAudit.idProbe("nd_postings",
      spark.read.parquet(s"$memo/postings.parquet"), "doc_id", req))
    assert(p.contains("BroadcastHashJoin"),
      s"the request list must broadcast into the probe join:\n$p")
    // the only permitted hash exchange is the request slice's own
    // dedup INSIDE the broadcast branch (a KB list); the state branch
    // (printed before BroadcastExchange) must hold none
    val bx = p.indexOf("BroadcastExchange")
    val firstHashEx = p.indexOf("Exchange hashpartitioning")
    assert(!p.contains("SortMergeJoin") &&
      (firstHashEx == -1 || (bx >= 0 && firstHashEx > bx)),
      s"the audited state must not shuffle for its own probe:\n$p")
  }

  test("c37: the pack composition adds no exchange over the sample — one shuffle, shared sort") {
    import graft.ops.CorpusOps
    val p = plan(CorpusOps.c37_mixturePack(spark, sf0001))
    // hashpartitioning exchanges in the composed plan: the mass census's
    // partial-agg exchange + the ONE source-partition window exchange
    // that the sample cum-sum, rank and pack cum-sum all ride
    val n = "Exchange hashpartitioning".r.findAllIn(p).matchData.size
    assert(n <= 2, s"expected ≤ 2 hash exchanges (census + one shared window), got $n:\n$p")
    val sorts = "\\bSort\\b".r.findAllIn(p).matchData.size
    assert(sorts <= 3, s"window sorts should be shared/minimal, got $sorts:\n$p")
  }

  test("b27: the bloom probe filters the orders scan inside codegen") {
    val p = plan(BloomJoin.b27_bloomJoin(spark, sf0001))
    assert(p.contains("bloom_might_contain"), s"probe missing from the plan:\n$p")
    // the probe must sit on the orders side BELOW the join: the Filter
    // carrying it appears before (deeper than) any join operator when
    // reading the fact branch — cheap proxy: the plan still shows the
    // usual broadcast join AND the probe, and the probe is not above it
    val probeIdx = p.indexOf("bloom_might_contain")
    val joinIdx = p.indexOf("HashJoin")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      "probe should be in the fact branch underneath the join")
  }
}
