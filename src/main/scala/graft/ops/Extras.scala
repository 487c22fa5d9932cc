package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.Kernels

/** Round-3 widening of the operator surface (SURVEY.md §2B spirit):
  * the remaining feature-store primitives a reference user would reach
  * for next, plus the IVF flavor of approximate nearest-neighbor.
  *
  * Scale notes (100 TB):
  *  - b17 (latest-wins upsert) is one shuffle on the feature key — the
  *    serving-store "current value" materialization; at scale the same
  *    plan runs per partition-of-day with the window inside each key
  *    group, no global sort.
  *  - b18 (Q3-shaped top-k agg) broadcasts the filtered customer dim,
  *    keeps lineitem as the only fact scan, and top-10 is
  *    TakeOrderedAndProject (k-row driver merge, no global sort).
  *  - b19 (bucketed co-located join) is THE co-location primitive: both
  *    sides pre-bucketed on the join key means zero Exchange at read
  *    time — at 100 TB that's the difference between joining in place
  *    and reshuffling the lake. The write cost is paid once, amortized
  *    over every downstream join (verified shuffle-free in PlanSpec).
  *  - x_ann_ivf is the IVF ANN shape: a tiny k-means codebook (k×dim
  *    floats of model state) compiles into a map-only assignment over
  *    the corpus; probes search their nprobe nearest cells — linear
  *    scan cost drops to nprobe/k of the corpus, the classic
  *    recall/cost dial.
  */
object Extras {

  /** b17: latest-wins upsert — the feature-store "current feature value"
    * per (user, event_type): the most recent event by ts, ties broken by
    * event_id. One window, one shuffle.
    */
  def b17_latestFeatures(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"),
        unix_micros(col("ts")).as("last_us"),
        col("value").as("last_value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** b18: TPC-H Q3-shaped — top-10 open-order revenue: filtered customer
    * dim broadcast into the orders⋈lineitem fact join, decimal-exact
    * revenue, TakeOrderedAndProject top-k.
    */
  def b18_q3like(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_shipdate") > lit("1995-03-15 00:00:00").cast("timestamp"))
      .join(Tables.orders(spark, d)
        .filter(col("o_orderdate") < lit("1995-03-15 00:00:00").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, d)
        .filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(expr("""CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)""")
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /** b19: bucketed co-located join — orders and customer both written
    * bucketed (8 buckets) on the customer key, then joined with no
    * Exchange on either side (PlanSpec asserts it). The aggregation
    * after the join is the only shuffle in the read plan.
    */
  def b19_bucketedJoin(spark: SparkSession, d: String): DataFrame = {
    val wh = s"${Tables.scratch}/bucketed_${Tables.sanitize(d)}"
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    graft.ops.Tables.rmrf(wh)
    Tables.orders(spark, d).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    Tables.customer(spark, d).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")
    spark.table("orders_b")
      .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        expr("CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("total"))
      .orderBy(col("c_mktsegment"))
  }

  /** b20: TPC-H Q14-shaped promo revenue — one shipdate month of
    * lineitem joined to the part dim (broadcast: the dim is tiny next
    * to the fact), promo share of revenue as a single scalar. Revenue
    * terms are summed as exact decimals and only the final ratio is
    * computed in double (one IEEE division — deterministic across
    * engines given identical operands), matching the oracle bit-for-bit.
    */
  def b20_q14like(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1996-03-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
      .join(broadcast(Tables.part(spark, d)), col("l_partkey") === col("p_partkey"))
      // NULLIF on the denominator: a month whose revenue nets to exactly
      // zero (degenerate but reachable — all-zero prices, or discounts
      // of 1.00) yields NULL, not an ANSI DIVIDE_BY_ZERO job abort
      // (Spark 4 ANSI throws even for double division). Same NULLIF in
      // the DuckDB oracle so both engines agree on the degenerate case.
      .agg(expr(
        """CAST(100 AS DOUBLE) * CAST(SUM(CASE WHEN p_type = 'PROMO'
          |  THEN TRY_CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(l_discount AS DECIMAL(4,2)))
          |  ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE) /
          |NULLIF(CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 0.0D)"""
          .stripMargin).as("promo_revenue"))

  /** x_ann_ivf: IVF ANN — coarse quantizer trained by spherical k-means
    * (Lloyd iterations, label-seeded), every vector assigned to its
    * nearest cell, probes search their nprobe nearest cells only.
    * Rows-only check (centroid doubles are partition-order dependent);
    * recall vs the exact c3 top-k is asserted in scalatest.
    */
  /** IVF cell count and probe fan-out. */
  val IvfCells = 10
  val IvfNprobe = 3
  private val IvfTrainIters = 4
  private val IvfTrainCap = 1024

  /** The bounded IVF training set: the [[IvfTrainCap]] hash-smallest
    * vectors by xxhash64(vec_id) — hash order is pseudorandom, so this
    * is a uniform sample that is exactly capped with a built-in keep
    * floor (a corpus under the cap trains whole), and needs NO
    * pre-action over the corpus. vec_id rides as the tie-breaker sort
    * key so the cut is strictly deterministic even if hash ties (dup
    * ids, 64-bit collisions) straddle the limit boundary — same
    * TakeOrderedAndProject plan, one pass, no global sort. Exposed for
    * the PlanSpec pin: the plan must stay TakeOrderedAndProject over
    * the scan with no Aggregate/count pre-action (round 6 removed a
    * full-corpus `count()` here; the pin keeps it out).
    */
  private[graft] def ivfTrainSample(emb: DataFrame, cap: Int = IvfTrainCap): DataFrame =
    emb.select(col("vec_id"), col("label"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(cap)

  /** Driver-side prep of one codebook row: unit-normalize (cosine
    * ranking then reduces to a plain dot — 1/|c| folds in here, no
    * per-row sqrt) and degrade non-finite components to 0, so one
    * corrupt training vector cannot poison assignment. ONE shared
    * definition feeds both the native path and the literal-SQL oracle
    * below, so the two formulations score with bit-identical floats.
    */
  private[graft] def unitArr(c: Array[Float]): Array[Float] = {
    val n = math.sqrt(c.map(x => x.toDouble * x).sum) max 1e-30
    c.map { f =>
      val v = (f / n).toFloat
      if (java.lang.Float.isFinite(v)) v else 0f
    }
  }

  // ---- the portable literal-SQL formulation of cell ranking --------
  // x_ann_ivf EXECUTED this form through round 9; it is kept as the
  // executable oracle of the assignment semantics (TextVectorSpec pins
  // the native TopCells path equal to it on clean AND degenerate
  // vectors). Its cost model is why it was replaced: the codebook is
  // inlined as k array literals, so the generated source grows
  // O(k·dim) and Janino recompiles it on EVERY Lloyd iteration (each
  // new codebook is new source text).
  private def unitTo(c: Array[Float]): String =
    unitArr(c).map(v => s"CAST($v AS FLOAT)").mkString("array(", ",", ")")
  private def cellScore(c: Array[Float]): String = s"dot_f32(embedding, ${unitTo(c)})"
  private def cellStructs(cents: Array[Array[Float]]): String =
    cents.zipWithIndex
      .map { case (c, i) => s"struct(${cellScore(c)} AS s, $i AS cell)" }
      .mkString(",")
  /** cell = argmax over (score, cell) structs — ties to the higher cell. */
  private[graft] def assignExprSql(cents: Array[Array[Float]]): Column =
    expr(s"array_max(array(${cellStructs(cents)})).cell")
  /** nprobe nearest cell ids, best first. */
  private[graft] def probeCellsSql(cents: Array[Array[Float]], nprobe: Int): Column =
    expr(s"transform(slice(reverse(array_sort(array(${cellStructs(cents)}))), 1, $nprobe)," +
      " p -> p.cell)")

  /** Native cell ranking over the `embedding` column: the codebook
    * rides as ONE plan reference object inside
    * [[graft.functions.TopCells]], so the generated code is a fixed
    * ~40-line loop compiled once (codegen-cache-stable across Lloyd
    * iterations — only the reference array changes) and k=4096 at
    * dim=1024 costs the same source text as k=10. Result-identical to
    * [[probeCellsSql]] by the TopCells contract.
    */
  private[graft] def topCellsCol(cents: Array[Array[Float]], nprobe: Int): Column =
    ColumnBridge.column(graft.functions.TopCells(
      UnresolvedAttribute("embedding"), cents.map(unitArr), nprobe))
  private def assignCol(cents: Array[Array[Float]]): Column =
    topCellsCol(cents, 1).getItem(0)

  /** The trained IVF coarse quantizer — extracted so [[annIvf]] and
    * [[graft.ops.VectorOps.x_annIvfPq]] (the composed IVF-PQ index)
    * share ONE trainer. Returns empty for an empty/all-null corpus.
    */
  private[graft] def ivfCentroids(spark: SparkSession, emb: DataFrame): Array[Array[Float]] =
    ivfCentroidsK(spark, emb, IvfCells, seedByLabel = true)

  /** The trainer with a PARAMETERIZED cell count — the search-ladder
    * queries keep the fixed [[IvfCells]]/label-seeded codebook above
    * (bit-stable vs their pinned history), while
    * [[graft.ops.VectorOps.x_semanticAnn]] sizes k to the CORPUS
    * (k ≈ n/target-cell-size — the SemDeDup regime, where candidate
    * work per cell is constant and total work is linear). Seeding must
    * not depend on the label alphabet once k exceeds it, so k ≠
    * IvfCells seeds cells by vec_id hash (uniform, deterministic).
    * `trainCap` scales the bounded sample with k (k-means needs
    * several representatives per cell) — still corpus-size-decoupled.
    */
  private[graft] def ivfCentroidsK(spark: SparkSession, emb: DataFrame,
      cells: Int, seedByLabel: Boolean,
      trainCap: Int = IvfTrainCap,
      lloydIters: Int = IvfTrainIters): Array[Array[Float]] = {

    // ---- codebook training: spherical k-means, Lloyd iterations ----
    // The codebook (k×dim floats) is MODEL STATE, not data: like MLlib's
    // KMeans, each iteration reduces per-cell means in the cluster and
    // collects only the k centroid vectors to the driver, which ride
    // into the next iteration's assignment expression as a plan
    // reference object (TopCells) — so assignment itself is a pure map
    // over the corpus with ZERO shuffle (no crossJoin, no window). The per-cell mean is ONE
    // map-side-combining typed aggregate (VectorCentroid) — one shuffle
    // of k 64-double buffers per iteration, vs the posexplode + double
    // groupBy formulation's two wide shuffles.
    val centroid = graft.functions.VectorCentroidUdaf.column
    def centroidsOf(assigned: DataFrame, prev: Array[Array[Float]]): Array[Array[Float]] = {
      // null cells (e.g. null seed labels) carry no assignment — drop
      // them rather than NPE on the id cast below
      val got = assigned.filter(col("cell").isNotNull).groupBy(col("cell"))
        .agg(centroid(col("embedding")).as("cvec"))
        .collect()
        .map(r => r.get(0).asInstanceOf[Number].intValue ->
          r.getSeq[Double](1).map(_.toFloat).toArray)
        .toMap
      if (got.isEmpty) {
        // empty/all-null training input: keep the previous codebook if
        // one exists; a FIRST pass with nothing to train on is a real
        // input error, said plainly instead of a NoSuchElementException
        require(prev.nonEmpty,
          "IVF training set is empty — embeddings table has no rows with non-null labels")
        return prev
      }
      // a cell that captured no vectors keeps its previous centroid
      // (positional collect would silently shift every later cell id)
      val dim = got.head._2.length
      (0 until cells).map(i =>
        got.getOrElse(i, if (prev.isEmpty) new Array[Float](dim) else prev(i))).toArray
    }

    // Ranking cells by cos(v, c_i) = dot(v, c_i)/(|v||c_i|): |v| is
    // constant across cells, so argmax/top-nprobe are unchanged by
    // dropping it, and 1/|c_i| folds into the pre-normalized codebook
    // ([[unitArr]]). Assignment executes the native [[topCellsCol]]
    // reference-object expression — generated code compiled ONCE for
    // all Lloyd iterations and independent of k — with the round-9
    // literal-SQL form retained above as its pinned oracle.

    // 100 TB shape: Lloyd runs on a BOUNDED training set, not the
    // corpus — k-means needs O(cells) representatives (~100 per cell
    // here), so training cost must be decoupled from corpus size (5
    // full-lake scans would be the real cluster bill otherwise). See
    // [[ivfTrainSample]] for the sample's determinism + no-pre-action
    // properties (pinned in PlanSpec). ASSIGNMENT below still covers
    // every vector exactly once.
    // The bounded training set fits in memory BY DESIGN (<= IvfTrainCap
    // vectors) — cache it so the 1+IvfTrainIters Lloyd passes reduce a
    // cached relation instead of re-scanning the lake each iteration
    val trainAll = ivfTrainSample(emb, trainCap).cache()
    // One codebook has ONE dimensionality: train on the sample's modal
    // vector dim so a stray ragged/null vector (corrupt row in a lake
    // table) cannot crash the per-cell mean with a mixed-dim group.
    // The modal-dim aggregate runs over the CACHED bounded sample
    // (≤ IvfTrainCap rows), never the corpus, so the no-pre-action
    // property of ivfTrainSample (PlanSpec pin) is untouched.
    // Assignment below still covers every corpus vector: dot_f32 scores
    // ragged vectors over the shared prefix.
    val modalDim = trainAll
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .groupBy(size(col("embedding")).as("d")).count()
      .orderBy(col("count").desc, col("d")).limit(1)
      .collect().headOption.map(_.getAs[Int]("d"))
    if (modalDim.isEmpty) {
      // empty corpus (or a pathological all-null training sample):
      // nothing to train on and nothing meaningful to search. A
      // scheduled job over an empty partition returns the empty result,
      // it does not die in the trainer.
      trainAll.unpersist(blocking = false)
      return Array.empty
    }
    val train = trainAll.filter(size(col("embedding")) === modalDim.get)
    // seed: labels for the fixed search-ladder codebook; a vec_id hash
    // once k outgrows (or just differs from) the label alphabet
    val seed = if (seedByLabel) col("label")
      else pmod(xxhash64(col("vec_id")), lit(cells)).cast("int")
    var cents = centroidsOf(train.withColumn("cell", seed), Array.empty)
    for (_ <- 1 to lloydIters)
      cents = centroidsOf(train.withColumn("cell", assignCol(cents)), cents)
    trainAll.unpersist(blocking = false)
    cents
  }

  def annIvf(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val cents = ivfCentroids(spark, emb)
    if (cents.isEmpty)
      return emb.select(col("vec_id").as("probe_id"),
        col("vec_id").as("neighbor_id"), lit(0L).as("sim_e6")).limit(0)

    // ---- index + search ----
    // norms projected per ROW before the join (c7's side() pattern) —
    // the corpus row meets up to nprobe probes, so a per-pair norm
    // would rerun the 64-element kernel per match on the hot scan
    val corpus = emb.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      assignCol(cents).as("cell"),
      sqrt(Kernels.dotF32(col("embedding"), col("embedding"))).as("c_norm"))
      .filter(VectorOps.finiteNorm(col("c_norm"))) // similarity domain
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        explode(topCellsCol(cents, IvfNprobe)).as("cell"),
        sqrt(Kernels.dotF32(col("embedding"), col("embedding"))).as("p_norm"))
      .select(col("probe_id"), col("pe"), col("cell"), col("p_norm"))
      .filter(VectorOps.finiteNorm(col("p_norm"))) // similarity domain
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("sim_e6",
        floor(Kernels.dotF32(col("pe"), col("ce")) / (col("p_norm") * col("c_norm")) * 1e6).cast("long"))
      .select(col("probe_id"), col("neighbor_id"), col("sim_e6"))
      .orderBy(col("probe_id"), col("sim_e6").desc, col("neighbor_id"))
  }

  val oracles: Map[String, String] = Map(
    "b17_latest_features" ->
      """SELECT user_id, event_type, event_id AS last_event_id,
        |  epoch_us(ts) AS last_us, value AS last_value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "b18_q3like" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "b19_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "b20_q14like" ->
      """SELECT CAST(100 AS DOUBLE) * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |  THEN TRY_CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(l_discount AS DECIMAL(4,2)))
        |  ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE) /
        |NULLIF(CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 0.0)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b17_latest_features" -> b17_latestFeatures _,
    "b18_q3like"          -> b18_q3like _,
    "b19_bucketed_join"   -> b19_bucketedJoin _,
    "b20_q14like"         -> b20_q14like _,
    "x_ann_ivf"           -> annIvf _,
  )
}
