package graft

import org.apache.spark.sql.functions._
import graft.ops.{TextOps, VectorOps}

/** LLM-pipeline operator invariants: dedup idempotence, LSH recall vs
  * the exact computation, ANN precision vs brute force.
  */
class TextVectorSpec extends SparkSpec {

  test("c1 exact dedup is idempotent and keeps the smallest doc_id") {
    val once = TextOps.c1_dedupExact(spark, sf0001)
    assert(once.count() === once.select("h").distinct().count())
    val bad = once.filter(col("keep_id") < 0).count()
    assert(bad === 0)
  }

  test("c2 exact pairs are symmetric-free and above threshold") {
    val pairs = TextOps.c2_dedupJaccard(spark, sf0001).collect()
    assert(pairs.nonEmpty, "fixture must contain near-dups")
    pairs.foreach { r =>
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
  }

  test("x_semantic_dedup: cosine components resolve with min-id canonicals") {
    import spark.implicits._
    // {1,2,4} coincide up to small perturbations (pairwise cos ≈ 0.99),
    // 3 is orthogonal to everything (singleton → absent, like c15),
    // {5,6} form a second component
    val vecs: Seq[(Long, Seq[Float], String)] = Seq(
      (1L, Seq(1f, 0f, 0f, 0f), "a"),
      (2L, Seq(0.9f, 0.1f, 0f, 0f), "a"),
      (3L, Seq(0f, 1f, 0f, 0f), "b"),
      (4L, Seq(1f, 0.05f, 0f, 0f), "a"),
      (5L, Seq(0f, 0f, 1f, 0f), "b"),
      (6L, Seq(0f, 0f, 0.99f, 0.14f), "b"))
    val d = s"${graft.ops.Tables.scratch}/semdedup"
    graft.ops.Tables.rmrf(d)
    vecs.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = VectorOps.x_semanticDedup(spark, d).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("is_canonical"))).toSeq
    assert(got === Seq((1L, 1L, true), (2L, 1L, false), (4L, 1L, false),
      (5L, 5L, true), (6L, 5L, false)))
    // dedup rate: keep one canonical per component + untouched singletons
    val kept = got.count(_._3) + (vecs.size - got.size)
    assert(kept === 3) // 1, 5, and the singleton 3
  }

  test("x_semantic_incremental: a delta arrival merges base clusters and extends state retroactively") {
    import spark.implicits._
    // base (id ≤ mid=6): {1,2} along e1 (cluster A), {4,5} along e2
    // (cluster B), 6 along e3 (singleton → absent). delta (> mid):
    // 11 = the A↔B BRIDGE (cos ≈ 0.7 to both axes — two base clusters
    // merge RETROACTIVELY), 12 pairs with base-singleton 6 (a standing
    // non-member gains membership), 13 along e4 (still a singleton —
    // stays absent)
    val vecs: Seq[(Long, Seq[Float], String)] = Seq(
      (1L, Seq(1f, 0f, 0f, 0f), "a"),
      (2L, Seq(0.95f, 0.05f, 0f, 0f), "a"),
      (4L, Seq(0f, 1f, 0f, 0f), "b"),
      (5L, Seq(0.05f, 0.95f, 0f, 0f), "b"),
      (6L, Seq(0f, 0f, 1f, 0f), "c"),
      (11L, Seq(0.7f, 0.7f, 0f, 0f), "a"),
      (12L, Seq(0f, 0.05f, 0.95f, 0f), "c"),
      (13L, Seq(0f, 0f, 0f, 1f), "d"))
    val d = s"${graft.ops.Tables.scratch}/seminc_tile"
    graft.ops.Tables.rmrf(d)
    vecs.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = VectorOps.x_semanticIncremental(spark, d).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("is_canonical"))).toSeq.sortBy(x => (x._2, x._1))
    // the bridge merges A and B under A's min id; 6 gains cluster {6,12}
    assert(got === Seq((1L, 1L, true), (2L, 1L, false), (4L, 1L, false),
      (5L, 1L, false), (11L, 1L, false), (6L, 6L, true), (12L, 6L, false))
      .sortBy(x => (x._2, x._1)))
    // and the full post-fold state equals the batch operator's — the
    // twin identity the shared oracle rides on
    val batch = VectorOps.x_semanticDedup(spark, d).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("is_canonical"))).toSeq.sortBy(x => (x._2, x._1))
    assert(got === batch)
  }

  test("x_semantic_bucketed ≡ x_semantic_incremental (same candidate set through the bucketed legs)") {
    val bkt = VectorOps.x_semanticBucketed(spark, sf0001).collect().map(_.toSeq).toSeq
    val inc = VectorOps.x_semanticIncremental(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(bkt === inc, "the bucketed layout must be result-invisible")
    assert(bkt.nonEmpty)
  }

  test("x_semantic_incremental: the daily pair stage holds no Lloyd and reads only the delta + standing tables") {
    import graft.ops.{Tables, VectorOps}
    val emb = Tables.embeddings(spark, sf0001)
    val (memo, mid) = VectorOps.semanticIndexDir(spark, sf0001).get
    val cents = spark.read.parquet(s"$memo/model.parquet").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("cents")
      .map(_.toArray).toArray
    val frame = VectorOps.semanticIncPairs(spark,
      spark.read.parquet(s"$memo/postings.parquet"),
      VectorOps.semPostingsOf(emb.filter(col("vec_id") > mid), cents))
    val p = frame.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("vectorcentroid"),
      s"the daily path must hold no Lloyd aggregate:\n$p")
    // delta-proportionality: every embeddings scan carries the pushed
    // delta bound — the day never re-reads the base corpus's vectors
    // (the standing side arrives through the posting table)
    assert(p.contains("GreaterThan(vec_id"),
      s"the delta bound must push to the embeddings scan:\n$p")
    // exactly 3 scans: the standing posting table + the delta's two
    // branch reads (union arm + join side) — nothing else
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans === 3,
      s"the day reads postings + delta branches only, saw $scans scans:\n$p")
    // the delta side broadcasts: the standing posting table is SCANNED,
    // never hash-shuffled for the daily join — the only hash exchange
    // in the pair plan is the final slim-pair distinct
    assert(p.contains("BroadcastHashJoin"),
      s"the delta side must broadcast into the cell join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the standing posting table must not shuffle for the daily join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1,
      s"only the slim-pair distinct may hash-exchange, saw $hashEx:\n$p")
  }

  test("x_semantic_delete: never-existed — post-delete state ≡ state built without the vectors") {
    import graft.ops.{Tables, VectorOps}
    val emb = Tables.embeddings(spark, sf0001)
    val (memo, mid) = VectorOps.semanticIndexDir(spark, sf0001).get
    val cents = spark.read.parquet(s"$memo/model.parquet").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("cents")
      .map(_.toArray).toArray
    val req = emb.filter(col("vec_id") <= mid &&
        pmod(col("vec_id"), lit(VectorOps.SemDeleteMod)) === VectorOps.SemDeleteRes)
      .select(col("vec_id"))
    assert(req.count() > 0, "fixture must exercise the erasure slice")
    val dir = Tables.scratchDir("semdel_spec", sf0001)
    Tables.linkTree(s"$memo/postings.parquet", s"$dir/postings.parquet")
    Tables.linkTree(s"$memo/pairs.parquet", s"$dir/pairs.parquet")
    VectorOps.semanticIndexDelete(spark, dir, req)
    // the surviving base under the SAME standing model (x_ann_delete's
    // contract scope: erasure never retrains)
    val keptBase = emb.filter(col("vec_id").isNull || (col("vec_id") <= mid &&
      pmod(col("vec_id"), lit(VectorOps.SemDeleteMod)) =!= VectorOps.SemDeleteRes))
    // postings: row set ≡ a from-scratch posting build over the kept base
    def postSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell")).collect()
      .map(x => (x.getAs[Any](0), x.getAs[Any](1))).toSet
    assert(postSet(spark.read.parquet(s"$dir/postings.parquet"))
      === postSet(VectorOps.semPostingsOf(keptBase, cents)))
    // pair state: ≡ the exact backfill over the kept base (pairs are
    // pairwise facts — erasure removes exactly the pairs touching the
    // deleted vectors, nothing more, nothing less)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("a_id"), col("b_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val standing = pairSet(spark.read.parquet(s"$dir/pairs.parquet"))
    assert(standing === pairSet(VectorOps.cosineNeardupPairsOf(spark, keptBase)))
    // the delete actually bit: the full-base backfill had more pairs
    assert(pairSet(VectorOps.cosineNeardupPairsOf(spark,
      emb.filter(col("vec_id").isNull || col("vec_id") <= mid))) !== standing,
      "fixture's deleted slice must touch at least one standing pair")
  }

  test("x_semantic_compact: the fold preserves the base ∪ explode(epochs) view and collapses the layout") {
    import graft.ops.{Tables, VectorOps}
    val emb = Tables.embeddings(spark, sf0001)
    val r = emb.agg(org.apache.spark.sql.functions.min("vec_id"),
      org.apache.spark.sql.functions.max("vec_id")).head()
    val (memo, mid) = VectorOps.semanticIndexDir(spark, sf0001).get
    val q3 = mid + (r.getLong(1) - mid) / 2
    val cents = spark.read.parquet(s"$memo/model.parquet").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("cents")
      .map(_.toArray).toArray
    val dir = Tables.scratchDir("semcpt_spec", sf0001)
    Tables.linkTree(s"$memo/postings.parquet", s"$dir/postings.parquet")
    // day-1 epoch lands as slim state (vector once, cells as array)
    VectorOps.semArrivalState(
        emb.filter(col("vec_id") > mid && col("vec_id") <= q3), cents)
      .write.mode("overwrite").parquet(s"$dir/epochs/day=1")
    def postSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell")).collect()
      .map(x => (x.getAs[Any](0), x.getAs[Any](1))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap // multiset — replicas count
    val viewed = postSet(spark.read.parquet(s"$dir/postings.parquet")
      .unionByName(VectorOps.semPostingRows(
        spark.read.parquet(s"$dir/epochs")
          .select(col("vec_id"), col("embedding"), col("norm"), col("cells")))))
    VectorOps.semanticCompact(spark, dir)
    assert(postSet(spark.read.parquet(s"$dir/postings.parquet")) === viewed,
      "the folded table must hold exactly the rows the epoch view reconstructed")
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$dir/epochs")), "epoch partitions must be dropped")
    // and the registered lifecycle is byte-equal to the one-shot dedup
    // — the twin identity the shared oracle rides on
    val cpt = VectorOps.x_semanticCompact(spark, sf0001).collect().map(_.toSeq).toSeq
    val one = VectorOps.x_semanticDedup(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(cpt === one)
    assert(cpt.nonEmpty)
  }

  test("x_semantic_ann: refines the exact components (precision 1) with recall >= 0.9") {
    // the exact answer: x_semantic_dedup's components over c7's pairs
    val exact = VectorOps.x_semanticDedup(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(exact.nonEmpty, "fixture must contain semantic near-dups")
    val ann = VectorOps.x_semanticAnn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    // precision 1: every ANN pair is exact-verified at the same
    // threshold, so ANN components REFINE the exact ones — every ANN
    // member is an exact member, and two vecs the ANN groups together
    // are grouped together exactly
    ann.keySet.foreach { v =>
      assert(exact.contains(v), s"ANN clustered $v which the exact op does not")
    }
    ann.groupBy(_._2).values.foreach { comp =>
      val exactLabels = comp.keySet.map(exact)
      assert(exactLabels.size === 1,
        s"ANN merged vectors from different exact components: $comp")
    }
    // recall: the cell-bucketed candidates must recover >= 0.9 of the
    // vectors the exact op clusters (the x_ann_ivf pin's contract
    // applied to dedup membership)
    val recall = ann.size.toDouble / exact.size
    assert(recall >= 0.9, s"semantic-ANN recall $recall too low (${ann.size}/${exact.size})")
  }

  test("x_minhash_lsh: perfect precision, bounded recall vs exact c2") {
    val exact = TextOps.c2_dedupJaccard(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val lsh = TextOps.minhashLsh(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(lsh.subsetOf(exact), "LSH output is exact-verified, so precision must be 1")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    // 16 bands × 4 rows: collision prob at J=0.5 is 1-(1-0.5^4)^16 ≈ 0.645,
    // rising steeply with J; fixture near-dups are mostly well above τ.
    assert(recall >= 0.5, s"LSH recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("c3 matches a brute-force driver-side check for one probe") {
    val emb = graft.ops.Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = emb(0L)
    val expected = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, math.floor(cos(probe, v) * 1e6).toLong) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1)
    val got = VectorOps.c3_simTopk(spark, sf0001)
      .filter(col("probe_id") === 0).orderBy(col("rnk"))
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(got === expected)
  }

  test("x_ann_lsh similarities are exact for every candidate it returns") {
    val emb = graft.ops.Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def simE6(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6).toLong
    }
    val ann = VectorOps.annLsh(spark, sf0001).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val p = r.getAs[Long]("probe_id"); val n = r.getAs[Long]("neighbor_id")
      assert(r.getAs[Long]("sim_e6") === simE6(emb(p), emb(n)), s"sim mismatch for ($p,$n)")
      assert(p < 20 && p != n)
    }
    // bucketing really restricts candidates: far fewer than probes × corpus
    assert(ann.length < 20 * emb.size / 2)
  }

  test("x_ann_ivf: candidate sims exact; top-1 recall vs exact c3 is high") {
    val emb = graft.ops.Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def simE6(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6).toLong
    }
    val ivf = graft.ops.Extras.annIvf(spark, sf0001).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val p = r.getAs[Long]("probe_id"); val n = r.getAs[Long]("neighbor_id")
      assert(r.getAs[Long]("sim_e6") === simE6(emb(p), emb(n)), s"sim mismatch for ($p,$n)")
      assert(p < 20 && p != n)
    }
    // cells really restrict candidates: far fewer than probes × corpus
    assert(ivf.length < 20 * emb.size / 2)
    // recall check: the exact nearest neighbor (c3 rank 1) should be in
    // the IVF candidate set for most probes. The fixture embeddings are
    // nearly uniform on the sphere (NN shares the synthetic label only
    // ~7% of the time), so this hinges on the k-means training, not the
    // label seed; trained codebook + nprobe=3 measures ~16/20 here.
    val exactTop1 = VectorOps.c3_simTopk(spark, sf0001)
      .filter(col("rnk") === 1).collect()
      .map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("neighbor_id")).toMap
    val cands = ivf.groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val hit = exactTop1.count { case (p, n) => cands.getOrElse(p, Set.empty).contains(n) }
    assert(hit >= exactTop1.size * 6 / 10,
      s"IVF top-1 recall too low: $hit/${exactTop1.size}")
  }

  test("x_ann_quantized: recall@10 vs exact c3 is high; sims within quantization error") {
    val exact = VectorOps.c3_simTopk(spark, sf0001).collect()
    val quant = VectorOps.x_annQuantized(spark, sf0001).collect()
    def pairs(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val e = pairs(exact); val q = pairs(quant)
    assert(e.nonEmpty && q.nonEmpty)
    // same probes, same k, same schema
    assert(quant.map(_.getAs[Long]("probe_id")).toSet === exact.map(_.getAs[Long]("probe_id")).toSet)
    // int8 codes on 64 dims lose very little ranking fidelity — require
    // recall@10 ≥ 0.9 (measured ~0.99 on the fixture; a real regression
    // in reconstruction drops it far below this)
    val recall = (e intersect q).size.toDouble / e.size
    assert(recall >= 0.9, s"quantized recall@10 too low: $recall")
    // per-pair sims agree within the quantization error bound: each
    // element moves < step ≤ range/255, so sim_e6 moves by at most a few
    // thousand on unit-ish vectors — 10000 (1% of the e6 scale) is a
    // loose, regression-catching bound
    val eSim = exact.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")) ->
      r.getAs[Long]("sim_e6")).toMap
    quant.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      eSim.get(k).foreach { es =>
        assert(math.abs(es - r.getAs[Long]("sim_e6")) <= 10000L,
          s"sim drifted past quantization error for $k")
      }
    }
  }

  test("x_ann_pq: recall@10 vs exact c3; ADC sims within reconstruction error") {
    val exact = VectorOps.c3_simTopk(spark, sf0001).collect()
    val pq = VectorOps.x_annPq(spark, sf0001).collect()
    def pairs(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val e = pairs(exact); val q = pairs(pq)
    assert(e.nonEmpty && q.nonEmpty)
    // same probes, same k, same schema as every other ANN variant
    assert(pq.map(_.getAs[Long]("probe_id")).toSet === exact.map(_.getAs[Long]("probe_id")).toSet)
    // 8-byte PQ codes on the fixture's iid-RANDOM vectors — PQ's
    // adversarial case (top-10 sims pack tightly, so code-level error
    // reorders the tail; real embedding manifolds cluster and fare
    // far better). Measured 0.585 at sf0.001 / 0.595 at sf0.01; pin a
    // floor that catches a broken codebook or decode (those collapse
    // recall toward the ~0.02 random-overlap baseline), not fixture
    // noise.
    val recall = (e intersect q).size.toDouble / e.size
    assert(recall >= 0.4, s"PQ recall@10 too low: $recall")
    // asymmetric-distance sims must stay within reconstruction error
    // of the exact sims on shared pairs (measured max drift ~0.11 e6;
    // a decode bug produces drifts at the 1e6 scale)
    val eSim = exact.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")) ->
      r.getAs[Long]("sim_e6")).toMap
    pq.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      eSim.get(k).foreach { es =>
        assert(math.abs(es - r.getAs[Long]("sim_e6")) <= 250000L,
          s"ADC sim drifted past reconstruction error for $k")
      }
    }
  }

  test("x_ann_from_index: the materialized-index consumer is byte-equal to the inline IVF-PQ") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("sim_e6"), r.getAs[Long]("rnk"))).toSeq
    // the trainers are hash-deterministic and decode∘codes ≡
    // reconstruct (the PqDecode contract), so searching the persisted
    // codes must reproduce the inline query row for row — including
    // the sim values, not just the id sets
    assert(rows(VectorOps.x_annFromIndex(spark, sf0001)) ===
      rows(VectorOps.x_annIvfPq(spark, sf0001)))
  }

  test("x_ann_from_index: search reuses the index — no retraining, no float-corpus decode") {
    val dir = VectorOps.buildAnnIndex(spark, sf0001).get
    val search = VectorOps.annFromIndex(spark, sf0001, dir)
    val p = search.queryExecution.executedPlan.toString
    assert(p.contains("pq_decode"), s"corpus must decode stored codes:\n$p")
    assert(!p.contains("pq_codes") && !p.contains("pq_reconstruct"),
      s"search must not re-run assignment over the float corpus:\n$p")
    assert(!p.toLowerCase.contains("vectorcentroid"),
      s"search must hold no Lloyd aggregate:\n$p")
    // the corpus side scans codes.parquet; the only embeddings read is
    // the vec_id<20 probe scan (pushed filter)
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans === 2, s"expected codes + probe scans only, saw $scans:\n$p")
    // and searching the same persisted index twice is stable
    assert(search.collect().toSeq === VectorOps.annFromIndex(spark, sf0001, dir).collect().toSeq)
  }

  test("x_ann_append: appended index ≡ from-scratch assignment under the base model") {
    import graft.ops.{Tables, VectorOps}
    val emb = Tables.embeddings(spark, sf0001)
    val r = emb.agg(org.apache.spark.sql.functions.min("vec_id"),
      org.apache.spark.sql.functions.max("vec_id")).head()
    val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    val base = emb.filter(col("vec_id").isNull || col("vec_id") <= mid)
    val delta = emb.filter(col("vec_id") > mid)
    // index A: base build + append; index B: the SAME base model
    // assigning base ∪ delta in one pass — append must be invisible
    val dirA = VectorOps.buildAnnIndexOf(spark, base,
      Tables.scratchDir("annapp_a", sf0001)).get
    VectorOps.annIndexAppend(delta, dirA,
      VectorOps.readAnnModel(spark, dirA))
    val dirB = Tables.scratchDir("annapp_b", sf0001)
    VectorOps.annAppendFrame(emb, VectorOps.readAnnModel(spark, dirA))
      .write.mode("overwrite").parquet(s"$dirB/codes.parquet")
    val codesA = spark.read.parquet(s"$dirA/codes.parquet")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val codesB = spark.read.parquet(s"$dirB/codes.parquet")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(codesA === codesB,
      "append must store exactly the codes a one-pass assignment would")
    // and the registered query's search over the grown index returns a
    // sane, probe-complete result
    val got = VectorOps.x_annAppend(spark, sf0001).collect()
    assert(got.nonEmpty)
    assert(got.map(_.getAs[Long]("neighbor_id")).exists(_ > mid),
      "appended vectors must be searchable")
  }

  test("s20: assignment-on-arrival search ≡ x_ann_append, single- and multi-batch") {
    import graft.ops.{Tables, VectorOps}
    import graft.streaming.StreamOps
    // single-batch (the fixture is one file)
    val streamed = StreamOps.s20_streamAnnIngest(spark, sf0001).collect().map(_.toSeq).toSeq
    val batch = VectorOps.x_annAppend(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "arrival assignment must search byte-equal to the batch append")
    // forced multi-batch: a 3-file delta arriving file-by-file still
    // assigns the same codes (deterministic per-row function of
    // (vector, model)) — the union searches identically
    val dir = s"${Tables.scratch}/s20_multifile"
    Tables.rmrf(dir)
    Tables.embeddings(spark, sf0001).repartition(3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val streamedMulti = StreamOps.s20At(spark, dir, maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    val batchMulti = VectorOps.x_annAppend(spark, dir).collect().map(_.toSeq).toSeq
    assert(streamedMulti.nonEmpty)
    assert(streamedMulti === batchMulti,
      "multi-batch arrival must tile the one-shot append exactly")
  }

  test("x_ann_compact: the fold is invisible to search and collapses the appended file sets") {
    import graft.ops.{Tables, VectorOps}
    val emb = Tables.embeddings(spark, sf0001)
    val r = emb.agg(org.apache.spark.sql.functions.min("vec_id"),
      org.apache.spark.sql.functions.max("vec_id")).head()
    val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    val dir = VectorOps.buildAnnIndexOf(spark,
      emb.filter(col("vec_id").isNull || col("vec_id") <= mid),
      Tables.scratchDir("anncomp_t", sf0001)).get
    VectorOps.annIndexAppend(emb.filter(col("vec_id") > mid), dir,
      VectorOps.readAnnModel(spark, dir))
    def partFiles(): Int = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/codes.parquet"))
      try s.filter(p => p.getFileName.toString.startsWith("part-")).count().toInt
      finally s.close()
    }
    val pre = VectorOps.annFromIndex(spark, sf0001, dir).collect().map(_.toSeq).toSeq
    val filesPre = partFiles()
    VectorOps.annCompact(spark, dir)
    val post = VectorOps.annFromIndex(spark, sf0001, dir).collect().map(_.toSeq).toSeq
    assert(post === pre, "compaction must be byte-invisible to search")
    assert(partFiles() < filesPre,
      s"the fold must collapse the appended file sets (pre=$filesPre)")
    // the registered lifecycle twins agree end-to-end
    val viaCompact = VectorOps.x_annCompact(spark, sf0001).collect().map(_.toSeq).toSeq
    val viaAppend = VectorOps.x_annAppend(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(viaCompact === viaAppend)
    assert(viaCompact.nonEmpty)
  }

  test("x_ann_drift: a shifted arrival epoch shows the error jump; an unshifted control stays flat") {
    import graft.ops.{Tables, VectorOps}
    import spark.implicits._
    // deterministic pseudo-random 64-dim vectors in [0,1); the shifted
    // corpus displaces its LAST epoch (vec_id > 95 of 0..127) by +4 —
    // far outside the base-trained codebooks' domain, the
    // distribution-shift case the census exists to expose
    def vec(id: Long, shift: Float): Seq[Float] =
      Seq.tabulate(64)(i => (((id * 64 + i) * 2654435761L % 1000) / 1000.0f) + shift)
    def corpus(dir: String, shiftLast: Boolean): String = {
      Tables.rmrf(dir)
      (0L to 127L).map(id =>
          (id, vec(id, if (shiftLast && id > 95) 4.0f else 0.0f), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val shifted = corpus(s"${Tables.scratch}/ann_drift_shift", shiftLast = true)
    val control = corpus(s"${Tables.scratch}/ann_drift_ctl", shiftLast = false)
    val ds = VectorOps.x_annDrift(spark, shifted).collect()
    assert(ds.length === 4, "four epoch rows")
    assert(ds.map(_.getAs[Long]("n_vecs")).sum === 128L)
    val errS = ds.map(r => r.getAs[Long]("epoch") -> r.getAs[Long]("mean_err_e6")).toMap
    val errC = VectorOps.x_annDrift(spark, control).collect()
      .map(r => r.getAs[Long]("epoch") -> r.getAs[Long]("mean_err_e6")).toMap
    // the two corpora differ ONLY in the last epoch and the codebooks
    // train on the (identical) base — so drift is the SAME-epoch
    // counterfactual: epochs 0-2 census byte-equal, the shifted
    // arrival epoch's mean error pulls far away from its unshifted
    // twin's. (Comparing epochs of ONE corpus would conflate drift
    // with the train/held-out generalization gap — with 256 codewords
    // over a 32-vector base the codebooks memorize the base, so even
    // an unshifted later epoch reads higher than epoch 0.)
    for (e <- 0L to 2L)
      assert(errS(e) === errC(e), s"epoch $e must be shift-invariant")
    assert(errS(3L) > 2L * math.max(errC(3L), 1L),
      s"shifted epoch must pull away from its unshifted twin: S=$errS C=$errC")
  }

  test("semantic incremental candidate net covers every exact delta-touching pair at the gate fixture") {
    // round-18 ADVICE: the incremental/arrival semantic forms carry the
    // EXACT oracle while candidate generation is nprobe-bounded — their
    // hash-greenness rests on candidate completeness at the gate
    // fixtures, previously re-measured only by hand (BENCH_NOTES
    // (bs)). This makes the requirement CI: any future fixture,
    // trainer, or cell-sizing change that opens a recall hole fails
    // here with the missing pairs named, before the oracle check turns
    // it into an opaque hash mismatch.
    import graft.ops.{Tables, VectorOps}
    val emb = Tables.embeddings(spark, sf0001)
    val (memo, mid) = VectorOps.semanticIndexDir(spark, sf0001).get
    val cents = spark.read.parquet(s"$memo/model.parquet").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("cents")
      .map(_.toArray).toArray
    // exact delta-touching pairs: c7's blocked scorer, later id > mid
    val exact = VectorOps.c7_cosineNeardup(spark, sf0001)
      .filter(col("b_id") > mid)
      .select(col("a_id"), col("b_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(exact.nonEmpty, "gate fixture must contain delta-touching pairs")
    // the incremental net: standing postings ∪ delta vs delta in a cell
    val deltaPost = VectorOps.semPostingsOf(emb.filter(col("vec_id") > mid), cents)
    val got = VectorOps.semanticIncPairs(spark,
        spark.read.parquet(s"$memo/postings.parquet"), deltaPost)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val missed = exact -- got
    assert(missed.isEmpty,
      s"candidate net missed ${missed.size} exact pair(s) at SemIncNprobe=" +
        s"${VectorOps.SemIncNprobe}: ${missed.take(5)} — widen nprobe or " +
        "retrain; the driver hash gate would fail opaquely on this")
  }

  test("x_semantic_drift: a shifted epoch's cosine gap pulls away; a full retrain restores it") {
    import graft.ops.{Tables, VectorOps, Extras}
    import spark.implicits._
    // direction-shift fixture (an additive shift would move every
    // vector toward the positive diagonal — a COSINE census needs a
    // support change): base epochs live on dims 0-31, the shifted
    // corpus displaces its LAST epoch (vec_id > 95 of 0..127) onto
    // dims 32-63 — orthogonal to every base-trained cell direction
    def vec(id: Long, hiDims: Boolean): Seq[Float] =
      Seq.tabulate(64) { i =>
        val r = (((id * 64 + i) * 2654435761L % 1000) / 1000.0f) + 0.05f
        if (hiDims == (i >= 32)) r else 0.001f * r
      }
    def corpus(dir: String, shiftLast: Boolean): String = {
      Tables.rmrf(dir)
      (0L to 127L).map(id =>
          (id, vec(id, hiDims = shiftLast && id > 95), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val shifted = corpus(s"${Tables.scratch}/sem_drift_shift", shiftLast = true)
    val control = corpus(s"${Tables.scratch}/sem_drift_ctl", shiftLast = false)
    def censusOf(d: String): Map[Long, Long] =
      VectorOps.x_semanticDrift(spark, d).collect()
        .map(r => r.getAs[Long]("epoch") -> r.getAs[Long]("mean_gap_e6")).toMap
    val gapS = censusOf(shifted)
    val gapC = censusOf(control)
    // same-epoch counterfactual (the x_ann_drift discipline): the two
    // corpora differ only in the last epoch; cells train on the
    // (identical) base, so epochs 0-2 are shift-invariant and the
    // shifted arrival epoch pulls far away from its unshifted twin
    for (e <- 0L to 2L)
      assert(gapS(e) === gapC(e), s"epoch $e must be shift-invariant")
    assert(gapS(3L) > 2L * math.max(gapC(3L), 1L),
      s"shifted epoch must pull away: S=$gapS C=$gapC")
    // the retrain counterfactual: cells trained on the FULL shifted
    // corpus (the x_ann_rebuild action at the semantic level) cover
    // the new region, collapsing the epoch's gap back toward the band
    val emb = Tables.embeddings(spark, shifted)
    val n = emb.count()
    val k = math.max(VectorOps.SemAnnMinCells, math.min(VectorOps.SemAnnMaxCells,
      (VectorOps.SemAnnCellsPerSqrtN * math.sqrt(n.toDouble)).toLong)).toInt
    val retrained = Extras.ivfCentroidsK(spark, emb, k, seedByLabel = false,
      trainCap = math.max(1024, 16 * k), lloydIters = VectorOps.SemAnnLloydIters)
    val post = VectorOps.semDriftCensus(spark, emb, retrained, Seq(31L, 63L, 95L))
      .collect().map(r => r.getAs[Long]("epoch") -> r.getAs[Long]("mean_gap_e6")).toMap
    info(s"gap census base-trained: $gapS; retrained: $post")
    assert(post(3L) < gapS(3L) / 2L,
      s"retrain must collapse the shifted epoch's gap: pre=$gapS post=$post")
  }

  test("x_semantic_rebuild: model generation swaps, lifecycle ≡ one-shot, and the retrain clears the drift alert") {
    import graft.ops.{Tables, VectorOps}
    import spark.implicits._
    // lifecycle ≡ one-shot on the fixture (the twin identity the
    // shared oracle rides on), with the model provably retrained
    assert(VectorOps.semanticIndexDir(spark, sf0001).isDefined)
    def centsOf(dir: String) = spark.read.parquet(s"$dir/model.parquet").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("cents")
      .map(_.toSeq).toSeq
    val rb = VectorOps.x_semanticRebuild(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(rb === VectorOps.x_semanticDedup(spark, sf0001).collect().map(_.toSeq).toSeq)
    assert(rb.nonEmpty)
    // the drift-clearing identity, on the forced direction-shift
    // fixture (the x_semantic_drift corpus): rebuild over the full
    // corpus collapses the shifted epoch's gap back toward the band
    def vec(id: Long, hiDims: Boolean): Seq[Float] =
      Seq.tabulate(64) { i =>
        val rr = (((id * 64 + i) * 2654435761L % 1000) / 1000.0f) + 0.05f
        if (hiDims == (i >= 32)) rr else 0.001f * rr
      }
    val cdir = s"${Tables.scratch}/sem_rebuild_shift"
    Tables.rmrf(cdir)
    (0L to 127L).map(id => (id, vec(id, hiDims = id > 95), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$cdir/embeddings.parquet")
    val emb = Tables.embeddings(spark, cdir)
    // the memo's boundary is the vec_id midpoint of 0..127, the
    // census's middle bound below
    val (shiftMemo, shiftMid) = VectorOps.semanticIndexDir(spark, cdir).get
    assert(shiftMid === 63L)
    val dir = Tables.scratchDir("semrb_spec", cdir)
    for (t <- Seq("postings", "pairs", "model"))
      Tables.linkTree(s"$shiftMemo/$t.parquet", s"$dir/$t.parquet")
    val stale = centsOf(dir)
    def census(cents: Seq[Seq[Float]]) =
      VectorOps.semDriftCensus(spark, emb,
          cents.map(_.toArray).toArray, Seq(31L, 63L, 95L))
        .collect().map(x => x.getAs[Long]("epoch") -> x.getAs[Long]("mean_gap_e6")).toMap
    val pre = census(stale)
    assert(pre(3L) > 2L * (0L to 2L).map(e => math.max(pre(e), 1L)).max,
      s"fixture must show the drift alert pre-rebuild: $pre")
    VectorOps.semanticRebuild(spark, dir, emb)
    val retrained = centsOf(dir)
    assert(retrained !== stale, "the model generation must actually swap")
    val post = census(retrained)
    info(s"drift census pre-rebuild: $pre post-rebuild: $post")
    assert(post(3L) < pre(3L) / 2L,
      s"rebuild must collapse the shifted epoch's gap: pre=$pre post=$post")
  }

  test("x_ann_delete: erasure is exact — search ≡ survivors-only assignment; no deleted neighbor") {
    import graft.ops.{Tables, VectorOps}
    import org.apache.spark.sql.functions.{pmod, lit}
    val got = VectorOps.x_annDelete(spark, sf0001).collect()
    assert(got.nonEmpty)
    // no deleted id ever surfaces as a neighbor
    val deleted = got.map(_.getAs[Long]("neighbor_id"))
      .filter(id => id % VectorOps.AnnDeleteMod == VectorOps.AnnDeleteRes)
    assert(deleted.isEmpty, s"deleted ids returned as neighbors: ${deleted.take(5).toSeq}")
    // byte-equal to an index holding ONLY the survivors under the same
    // standing model: assignment is per-row, so dropping code rows ≡
    // never having indexed those vectors
    val emb = Tables.embeddings(spark, sf0001)
    val (memo, mid) = VectorOps.standingAnnIndex(spark, sf0001).get
    val (cents, cbs) = VectorOps.readAnnModel(spark, memo)
    // null-id rows survive: the delete list is id-addressed, so a null
    // id can never match a request (and the broadcast anti-join keeps
    // null-key rows on the left side too — the semantics agree)
    val survivors = emb.filter(col("vec_id").isNull ||
      !(pmod(col("vec_id"), lit(VectorOps.AnnDeleteMod)) === VectorOps.AnnDeleteRes))
    val expect = VectorOps.annSearchCodes(spark, sf0001,
      survivors.select(VectorOps.annAssignCols(cents, cbs): _*), cents, cbs)
      .collect()
    assert(got.map(_.toSeq).toSeq === expect.map(_.toSeq).toSeq,
      "post-delete search must equal the survivors-only index exactly")
  }

  test("x_ann_rebuild: the retrained index is byte-equal to a from-scratch build") {
    import graft.ops.VectorOps
    // both trainers are bounded-sample + hash-seeded (deterministic per
    // corpus) and assignment is a pure function of (vector, model), so
    // rebuilding an appended index over base ∪ delta must restore
    // EXACTLY the index a from-scratch build over the full corpus
    // produces — x_ann_from_index's. Search output pinned byte-equal.
    val viaRebuild = VectorOps.x_annRebuild(spark, sf0001).collect().map(_.toSeq).toSeq
    val fromScratch = VectorOps.x_annFromIndex(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(viaRebuild === fromScratch,
      "rebuild must restore the from-scratch full-corpus index")
    assert(viaRebuild.nonEmpty)
  }

  test("x_ann_rebuild: the forced-shift epoch's drift census returns to the base band") {
    import graft.ops.{Tables, VectorOps}
    import spark.implicits._
    // the x_ann_drift fixture: epochs 0-2 in [0,1), the arrival epoch
    // (id > 95) displaced by +4 — the distribution shift the monitor
    // alerts on; the rebuild is the action that clears the alert
    def vec(id: Long, shift: Float): Seq[Float] =
      Seq.tabulate(64)(i => (((id * 64 + i) * 2654435761L % 1000) / 1000.0f) + shift)
    val cdir = s"${Tables.scratch}/ann_rebuild_shift"
    Tables.rmrf(cdir)
    (0L to 127L).map(id => (id, vec(id, if (id > 95) 4.0f else 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$cdir/embeddings.parquet")
    val emb = Tables.embeddings(spark, cdir)
    val bounds = Seq(31L, 63L, 95L)
    // the appended deployment: codebooks trained on the pre-shift base,
    // the shifted epoch absorbed with them (x_ann_append's path)
    val dir = VectorOps.buildAnnIndexOf(spark, emb.filter(col("vec_id") <= 95),
      Tables.scratchDir("annrb_t", cdir)).get
    VectorOps.annIndexAppend(emb.filter(col("vec_id") > 95), dir,
      VectorOps.readAnnModel(spark, dir))
    val cbsPre = VectorOps.readAnnModel(spark, dir)._2
    def census(cbs: Array[Array[Array[Float]]]): Map[Long, Long] =
      VectorOps.annDriftCensus(emb, cbs, bounds).collect()
        .map(r => r.getAs[Long]("epoch") -> r.getAs[Long]("mean_err_e6")).toMap
    val pre = census(cbsPre)
    // the alert fires: the shifted epoch pulls away from the base band
    assert(pre(3L) > 2L * (0L to 2L).map(e => math.max(pre(e), 1L)).max,
      s"fixture must show the drift alert pre-rebuild: $pre")
    VectorOps.annRebuild(spark, emb, dir)
    val cbsPost = VectorOps.readAnnModel(spark, dir)._2
    assert(cbsPost.map(_.map(_.toSeq).toSeq).toSeq !==
        cbsPre.map(_.map(_.toSeq).toSeq).toSeq,
      "the model generation must actually swap")
    val post = census(cbsPost)
    info(s"drift census pre-rebuild: $pre")
    info(s"drift census post-rebuild: $post")
    // ...and clears: retrained codebooks cover the shifted region, so
    // the epoch's mean error collapses by orders of magnitude, back to
    // the same order as the base epochs (it stays a few × higher — the
    // 2-iteration Lloyd leaves the 32-vector far cloud slightly
    // underserved — which is exactly the from-scratch build's own
    // quality on this corpus, pinned below: a rebuild can never beat
    // the build it restores)
    assert(post(3L) < pre(3L) / 100L,
      s"rebuild must collapse the shifted epoch's error: pre=$pre post=$post")
    assert(post(3L) <= 16L * (0L to 2L).map(e => math.max(post(e), 1L)).max,
      s"post-rebuild the shifted epoch must return to the base band's order: $post")
    // the rebuilt model IS the from-scratch model (deterministic
    // trainers), so its census equals the best this trainer can do
    val scratch = VectorOps.buildAnnIndexOf(spark, emb,
      Tables.scratchDir("annrb_fs", cdir)).get
    assert(census(VectorOps.readAnnModel(spark, scratch)._2) === post,
      "rebuild must restore exactly the from-scratch census")
  }

  test("x_ann_append: the append plan holds no Lloyd and never re-scans the base") {
    import graft.ops.{Tables, VectorOps}
    val emb = Tables.embeddings(spark, sf0001)
    val r = emb.agg(org.apache.spark.sql.functions.min("vec_id"),
      org.apache.spark.sql.functions.max("vec_id")).head()
    val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    val dir = VectorOps.buildAnnIndexOf(spark,
      emb.filter(col("vec_id").isNull || col("vec_id") <= mid),
      Tables.scratchDir("annapp_plan", sf0001)).get
    val frame = VectorOps.annAppendFrame(emb.filter(col("vec_id") > mid),
      VectorOps.readAnnModel(spark, dir))
    val p = frame.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("vectorcentroid"),
      s"append must hold no Lloyd aggregate:\n$p")
    assert(p.contains("pq_codes"), s"append must assign codes with the stored model:\n$p")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans === 1, s"append must scan ONLY the delta, saw $scans scans:\n$p")
  }

  test("x_ann_ivfpq: the composed index still finds the neighborhood — recall floor vs c3") {
    val exact = VectorOps.c3_simTopk(spark, sf0001).collect()
    val ivfpq = VectorOps.x_annIvfPq(spark, sf0001).collect()
    def pairs(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val e = pairs(exact); val q = pairs(ivfpq)
    assert(e.nonEmpty && q.nonEmpty)
    assert(ivfpq.map(_.getAs[Long]("probe_id")).toSet ===
      exact.map(_.getAs[Long]("probe_id")).toSet)
    // per-probe ranks are 1..n (candidate sets can run short of 10 in
    // small cells; they don't on the fixture — pinned by the count)
    assert(ivfpq.length === exact.length, "every probe should fill its top-10 here")
    // multiplicative recall trade on iid-RANDOM fixture vectors (both
    // stages' adversarial case): IVF nprobe-3-of-10 coverage × PQ code
    // reorder — measured 0.42 at sf0.001 / 0.44 at sf0.01. The floor
    // catches a broken compose (wrong cells or wrong codes collapse
    // overlap toward the ~0.02 random baseline), not fixture noise.
    val recall = (e intersect q).size.toDouble / e.size
    assert(recall >= 0.25, s"IVF-PQ recall@10 too low: $recall")
  }

  test("x_ann_pq: the codebook is M×k MODEL STATE — geometry exact, collects bounded") {
    // the only driver collects on the PQ path are the modal-dim probe
    // and the per-(m, code) centroid reduces — each bounded by M×k,
    // never by corpus rows. The trained codebook's geometry pins that:
    // 64-d fixture vectors → 8 subspaces × 256 codewords × 8 dims.
    val cbs = VectorOps.pqCodebooks(spark,
      graft.ops.Tables.embeddings(spark, sf0001))
    assert(cbs.length === VectorOps.PqSubspaces)
    assert(cbs.forall(_.length === VectorOps.PqCodebookSize))
    assert(cbs.forall(_.forall(_.length === 64 / VectorOps.PqSubspaces)))
    // trained state must not be degenerate: most codewords captured
    // training vectors (non-zero) on the dense fixture
    val nonZero = cbs.flatten.count(_.exists(_ != 0f))
    assert(nonZero > VectorOps.PqCodebookSize,
      s"codebook mostly zeros — training collapsed: $nonZero")
  }

  test("PqAssign kernel ≡ a Scala model, incl. degenerate vectors") {
    import spark.implicits._
    // tiny geometry: 2 subspaces × 2 dims, 3 codewords each
    val cbs: Array[Array[Array[Float]]] = Array(
      Array(Array(0f, 0f), Array(1f, 1f), Array(2f, 0f)),
      Array(Array(0f, 1f), Array(5f, 5f), Array(-1f, -1f)))
    def model(v: Seq[Float]): Option[(Seq[Int], Seq[Float])] = {
      if (v == null || v.length != 4) return None
      val codes = (0 until 2).map { m =>
        val sub = v.slice(m * 2, m * 2 + 2)
        (0 until 3).minBy { c =>
          sub.zip(cbs(m)(c)).map { case (x, y) => val d = (x - y).toDouble; d * d }.sum
        }
      }
      Some((codes, codes.zipWithIndex.flatMap { case (c, m) => cbs(m)(c) }))
    }
    val vecs: Seq[(Long, Seq[java.lang.Float])] = Seq(
      1L -> Seq[java.lang.Float](0.1f, 0.2f, 0.1f, 0.9f),
      2L -> Seq[java.lang.Float](1.2f, 0.8f, 4f, 6f),
      3L -> Seq[java.lang.Float](2f, 0f, -1f, -1f),
      4L -> Seq[java.lang.Float](0.5f, 0.5f, 0f, 0f), // ties → lower code
      5L -> Seq[java.lang.Float](1f, 2f, 3f),          // ragged → NULL
      6L -> Seq[java.lang.Float](1f, null, 1f, 1f),    // null slot → NULL
      7L -> null)                                       // null vector → NULL
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val got = df.select(col("vec_id"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.PqAssign(UnresolvedAttribute("embedding"), cbs, emitCodes = true)).as("codes"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.PqAssign(UnresolvedAttribute("embedding"), cbs, emitCodes = false)).as("recon"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (Option(r.getAs[Seq[Int]]("codes")), Option(r.getAs[Seq[Float]]("recon")))).toMap
    vecs.foreach { case (id, v) =>
      val exp = model(if (v == null) null else v.map(x => if (x == null) Float.NaN else x.floatValue))
      // null-slot vectors are invalid for the EXPRESSION (null ≠ NaN):
      // ids 5/6/7 must be NULL on both outputs
      if (v == null || v.length != 4 || v.contains(null)) {
        assert(got(id)._1.isEmpty && got(id)._2.isEmpty, s"row $id should be NULL")
      } else {
        assert(got(id)._1.contains(exp.get._1), s"codes diverged for $id")
        assert(got(id)._2.contains(exp.get._2), s"reconstruction diverged for $id")
      }
    }
  }

  test("x_ann_quantized: the census collect is DIMENSIONALITY-sized, never corpus-sized") {
    // the only driver collect on this path is the per-dim (mn, mx)
    // census — model state, like the IVF codebook. The fixture corpus
    // has 64-dim vectors and thousands of rows; a refactor that grouped
    // the census by anything row-sized (vec_id, a bucket of it, …)
    // would collect the corpus to the driver and fail here.
    val census = VectorOps.quantizeCensusRows(
      graft.ops.Tables.embeddings(spark, sf0001))
    assert(census.length <= 64,
      s"quantize census must be ≤ dims rows, got ${census.length}")
    assert(census.nonEmpty)
  }

  test("TopCells native ranking ≡ the literal-SQL oracle, incl. degenerate vectors") {
    import spark.implicits._
    // Codebook chosen to exercise every ordering path: an exact
    // duplicate row (every vector ties cells 2 vs 3 — must resolve to
    // the HIGHER cell) and an all-zero row (unit-degrades to zeros).
    val cents: Array[Array[Float]] = Array(
      Array(1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f),
      Array(0.5f, 0.5f, 0.5f, 0.5f),
      Array(0.5f, 0.5f, 0.5f, 0.5f),
      Array(0f, 0f, 0f, 0f),
      Array(-1f, 2f, -3f, 4f))
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select(
        graft.ops.Extras.topCellsCol(cents, 3).as("native3"),
        graft.ops.Extras.probeCellsSql(cents, 3).as("oracle3"),
        graft.ops.Extras.topCellsCol(cents, 1).getItem(0).as("native1"),
        graft.ops.Extras.assignExprSql(cents).as("oracle1")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Int](0) === r.getSeq[Int](1), s"nprobe=3 diverged: $r")
        assert(r.getInt(2) === r.getInt(3), s"assignment diverged: $r")
      }
    }
    // Degenerate vectors: the paths dot_f32 nulls (NULL vector, ragged
    // length, null slot, empty array) must land on the same cells as
    // the SQL null-score ordering; NaN slots must order NaN-greatest;
    // the zero vector ties EVERY cell at score 0.
    check(spark.sql(
      """SELECT embedding FROM VALUES
        |  (array(CAST(0.1 AS FLOAT), CAST(-0.2 AS FLOAT), CAST(0.3 AS FLOAT), CAST(0.4 AS FLOAT))),
        |  (array(CAST(1 AS FLOAT), CAST(1 AS FLOAT), CAST(1 AS FLOAT), CAST(1 AS FLOAT))),
        |  (array(CAST(-1 AS FLOAT), CAST(0 AS FLOAT), CAST(0 AS FLOAT), CAST(0 AS FLOAT))),
        |  (array(CAST(0 AS FLOAT), CAST(0 AS FLOAT), CAST(0 AS FLOAT), CAST(0 AS FLOAT))),
        |  (array(CAST('NaN' AS FLOAT), CAST(1 AS FLOAT), CAST(1 AS FLOAT), CAST(1 AS FLOAT))),
        |  (array(CAST(3.4e38 AS FLOAT), CAST(3.4e38 AS FLOAT), CAST(-3.4e38 AS FLOAT), CAST(1 AS FLOAT))),
        |  (array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT), CAST(1 AS FLOAT), CAST(1 AS FLOAT))),
        |  (array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))),
        |  (CAST(NULL AS ARRAY<FLOAT>)),
        |  (CAST(array() AS ARRAY<FLOAT>))
        |AS t(embedding)""".stripMargin))
    // Bulk: generated vectors sweep the generic comparison path.
    val rnd = new scala.util.Random(7)
    check(Seq.fill(300)(Array.fill(4)((rnd.nextFloat() - 0.5f) * 4f)).toDF("embedding"))
  }

  test("TopCells executes at k=512 — the scale the literal form could not reach") {
    import spark.implicits._
    // The literal-SQL form at k=512 would inline ~8k float literals of
    // generated source; TopCells' source text is k-independent, so the
    // large-codebook claim is executable, not just asserted. Checked
    // against a driver-side model sharing unitArr and the dot fold.
    val rnd = new scala.util.Random(11)
    val k = 512
    val dim = 16
    val cents = Array.fill(k)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f))
    val unit = cents.map(graft.ops.Extras.unitArr)
    val vecs = Seq.tabulate(50)(i => (i, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f)))
    val got = vecs.toDF("id", "embedding")
      .select(col("id"), graft.ops.Extras.topCellsCol(cents, 3).as("cells"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      def score(c: Array[Float]): Double = {
        var acc = 0.0; var j = 0
        while (j < dim) { acc += v(j).toDouble * c(j).toDouble; j += 1 }
        acc
      }
      val expected = unit.zipWithIndex.map { case (c, i) => (score(c), i) }
        .sortBy { case (s, i) => (-s, -i) }.take(3).map(_._2).toSeq
      assert(got(id) === expected, s"k=512 ranking diverged for row $id")
    }
  }
}
