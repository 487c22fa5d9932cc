package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5 item 3) — scalacheck
  * generators drive randomized inputs through the same Spark operators
  * the queries use. Sampling is hand-rolled (fixed seeds, pureApply)
  * because only scalacheck-core is vendored, not the scalatest bridge.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private val detailGen: Gen[List[String]] = Gen.listOfN(40, for {
    pre <- Gen.alphaStr.map(_.take(8))
    num <- Gen.oneOf(
      Gen.choose(0, 99999).map(_.toString),
      Gen.choose(0.0, 9999.0).map(d => f"$d%.2f"))
    post <- Gen.alphaStr.map(_.take(8))
  } yield s"$pre $num $post")

  test("A6 extraction equals a regex reference model on generated strings") {
    val model = "(\\d+\\.\\d+|\\d+)".r
    samples(detailGen, 10).foreach { strs =>
      val got = strs.toDF("EventDetails")
        .select(regexp_extract(col("EventDetails"), graft.ops.Ingest.NumRegex, 1)
          .try_cast("float").as("x"))
        .collect().map(r => Option(r.getAs[java.lang.Float]("x")).map(_.floatValue))
      val expected = strs.map(s => model.findFirstIn(s).map(_.toFloat))
      assert(got.toSeq === expected)
    }
  }

  private val eventsGen: Gen[List[(Long, Long)]] = Gen.listOfN(60, for {
    user <- Gen.choose(0L, 3L)
    offsetSec <- Gen.choose(0L, 86400L * 3)
  } yield (user, offsetSec))

  test("sessionize invariants hold on generated event sets") {
    samples(eventsGen, 6).foreach { evs =>
      val df = evs.zipWithIndex.map { case ((u, off), i) =>
        (i.toLong, u, 1704067200000L + off * 1000) // 2024-01-01 UTC + offset
      }.toDF("event_id", "user_id", "ms")
        .select(col("event_id"), col("user_id"), expr("timestamp_millis(ms)").as("ts"))
      val ord = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Long.MinValue, 0)
      val sess = df
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(ord))
        .withColumn("flag",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("sess", sum(col("flag")).over(run))
      // intra-session gaps never exceed 30 min…
      val intraBad = sess
        .withColumn("prev_sess", lag(col("sess"), 1).over(ord))
        .filter(col("prev_sess") === col("sess") &&
          col("us") - col("prev_us") > 1800000000L)
      assert(intraBad.count() === 0)
      // …and a session only starts across a real >30 min gap
      val startBad = sess.filter(col("flag") === 1 && col("prev_us").isNotNull &&
        col("us") - col("prev_us") <= 1800000000L)
      assert(startBad.count() === 0)
    }
  }

  // corpora with forced near-dups: a small vocabulary plus documents
  // derived from each other by token edits, so Jaccard >= 0.5 pairs
  // actually occur (uniform random docs almost never overlap)
  private val corpusGen: Gen[List[String]] = for {
    bases <- Gen.listOfN(8, Gen.listOfN(12, Gen.choose(0, 20).map(i => s"w$i")))
    edited = bases.map(b => b.updated(3, "w99"))
  } yield (bases ++ edited).map(_.mkString(" "))

  test("c2 equals a brute-force Jaccard model on generated corpora") {
    samples(corpusGen, 5).zipWithIndex.foreach { case (docs, round) =>
      val dir = s"${graft.ops.Tables.scratch}/c2_prop_$round"
      docs.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "gen", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // model: 3-shingle sets, all-pairs exact Jaccard at tau = 0.5
      def shingles(t: String): Set[Seq[String]] = {
        val w = t.split(" ").toSeq
        if (w.size < 3) Set.empty else w.sliding(3).map(_.toSeq).toSet
      }
      val sets = docs.zipWithIndex.map { case (t, i) => i.toLong -> shingles(t) }
      val expected = (for {
        (a, sa) <- sets; (b, sb) <- sets
        if a < b && sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= 0.5
      } yield (a, b, inter.toLong, j)).toSet
      val got = graft.ops.TextOps.c2_dedupJaccard(spark, dir).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Long]("inter"), r.getAs[Double]("jaccard"))).toSet
      assert(got === expected, s"corpus round $round")
    }
  }

  // small-dim vectors with forced near-parallel pairs (scaled copies)
  // so sim >= 0.4 pairs actually occur, plus sign flips for negatives
  private val vecGen: Gen[List[Seq[Float]]] = for {
    bases <- Gen.listOfN(10, Gen.listOfN(6, Gen.choose(-5, 5).map(_.toFloat)))
    scaled = bases.map(v => v.map(x => x * 2.5f + 0.01f))
    flipped = bases.map(v => v.map(x => -x))
  } yield bases ++ scaled ++ flipped

  test("c7 equals a brute-force cosine model on generated vectors") {
    samples(vecGen, 4).zipWithIndex.foreach { case (vecs, round) =>
      val dir = s"${graft.ops.Tables.scratch}/c7_prop_$round"
      vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 3) }
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // model mirrors the engine's arithmetic exactly: float products
      // accumulated left-to-right in double (dot_f32's fold), floor at 1e6
      def dot(a: Seq[Float], b: Seq[Float]): Double =
        a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
      val norms = vecs.map(v => math.sqrt(dot(v, v)))
      val expected = (for {
        i <- vecs.indices; j <- vecs.indices
        if i < j && norms(i) > 0 && norms(j) > 0
        e6 = math.floor(dot(vecs(i), vecs(j)) / (norms(i) * norms(j)) * 1e6).toLong
        if e6 >= 400000
      } yield (i.toLong, j.toLong, e6)).toSet
      val got = graft.ops.VectorOps.c7_cosineNeardup(spark, dir).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Long]("sim_e6"))).toSet
      assert(got === expected, s"vector round $round")
    }
  }

  private val asofGen: Gen[(List[Long], List[Long])] = for {
    feats <- Gen.listOfN(20, Gen.choose(0L, 100000L))
    probes <- Gen.listOfN(10, Gen.choose(0L, 100000L))
  } yield (feats, probes)

  test("as-of join: never the future, always the latest eligible feature") {
    samples(asofGen, 4).foreach { case (feats, probes) =>
      val rows =
        feats.zipWithIndex.map { case (s, i) => (i.toLong, 1L, s, "view", 1.0) } ++
          probes.zipWithIndex.map { case (s, i) => (1000L + i, 1L, s, "purchase", 2.0) }
      val dir = s"${graft.ops.Tables.scratch}/asof_prop"
      rows.toDF("event_id", "user_id", "sec", "event_type", "value")
        .select(col("event_id"), col("user_id"),
          (col("sec") * 1000000000L).as("ts"),
          col("event_type"), col("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = graft.ops.Features.b7_asofJoin(spark, dir).collect()
      val featBySec = feats.zipWithIndex.map { case (s, i) => i.toLong -> s }.toMap
      val probeBySec = probes.zipWithIndex.map { case (s, i) => (1000L + i) -> s }.toMap
      out.foreach { r =>
        val ps = probeBySec(r.getAs[Long]("probe_eid"))
        val fs = featBySec(r.getAs[Long]("feat_eid"))
        assert(fs <= ps, s"feature at $fs read for probe at $ps")
        val bestSec = feats.filter(_ <= ps).max
        assert(fs === bestSec, s"not the latest eligible feature for probe at $ps")
      }
      val matched = out.map(_.getAs[Long]("probe_eid")).toSet
      probes.zipWithIndex.foreach { case (ps, i) =>
        if (feats.exists(_ <= ps)) assert(matched.contains(1000L + i))
      }
    }
  }

  /** Corpora that straddle the c13 cap and carry null text/lang/source. */
  private val prepCorpusGen: Gen[List[(String, String, String)]] =
    Gen.listOfN(260, for {
      text <- Gen.frequency(
        1 -> Gen.const(null: String),
        9 -> Gen.listOfN(8, Gen.oneOf("a", "b", "c", "dd")).map(_.mkString(" ")))
      lang <- Gen.oneOf("en", "en", "en", "de", null) // en-heavy: cap bites
      source <- Gen.oneOf("s0", "s1", null)
    } yield (text, lang, source))

  test("c13/c14 invariants hold on generated corpora with nulls") {
    samples(prepCorpusGen, 3).foreach { docs =>
      val dir = s"${graft.ops.Tables.scratch}/corpus_prop"
      docs.zipWithIndex.map { case ((t, l, s), i) =>
        (i.toLong, t, l, s, Option(t).map(_.length.toLong).getOrElse(0L))
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      // c13: each stratum yields exactly min(cap, size) rows, ranks dense
      val cap = graft.ops.CorpusOps.StratumCap
      val strata = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val got13 = graft.ops.CorpusOps.c13_stratifiedSample(spark, dir).collect()
        .groupBy(r => Option(r.getAs[String]("lang")).getOrElse("\u0000null"))
      strata.foreach { case (lang, n) =>
        val key = Option(lang).getOrElse("\u0000null")
        val rows = got13.getOrElse(key, Array.empty)
        assert(rows.length.toLong === math.min(cap, n), s"stratum $lang")
        assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ===
          (1L to math.min(cap, n)).toSeq, s"ranks not dense in $lang")
      }

      // c14: per shard, token mass is conserved and starts chain exactly
      val b = graft.ops.CorpusOps.SeqBudget
      val got14 = graft.ops.CorpusOps.c14_packSequences(spark, dir).collect()
        .map(r => (Option(r.getAs[String]("source")), r.getAs[Long]("n_tok"),
          r.getAs[Long]("seq_id"), r.getAs[Long]("offset")))
      got14.groupBy(_._1).foreach { case (src, rows) =>
        // zero-token docs share their successor's start; n-asc tiebreak
        // reproduces the only order the chain invariant admits
        val starts = rows.map { case (_, n, sq, off) => (sq * b + off, n) }
          .sortBy(x => (x._1, x._2))
        var cum = 0L
        starts.foreach { case (start, n) =>
          assert(start === cum, s"shard $src: gap or overlap at $start")
          cum += n
        }
      }
      assert(got14.length === docs.length, "every doc packs, null text included")

      // x_pack_twophase: byte-equal to the one-window form on every
      // generated corpus — the prefix-of-sort-key argument must survive
      // null sources, null text, and arbitrary shard shapes, not just
      // the fixtures
      val tp = graft.ops.CorpusOps.x_packTwophase(spark, dir)
        .collect().map(_.toSeq).toSeq
      val ow = graft.ops.CorpusOps.c14_packSequences(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(tp === ow, "two-phase packing diverged on a generated corpus")
    }
  }

  test("c28 equals the java.util.regex cumulative model on generated punctuated corpora") {
    // tokens that exercise every BpePattern branch: contractions,
    // digit runs, decimals, punctuation runs, unicode (falls into the
    // punct class), plus plain words — the piece/token divergence the
    // all-lowercase fixtures cannot show
    val tokGen: Gen[String] = Gen.oneOf(
      Gen.alphaLowerStr.map(s => if (s.isEmpty) "x" else s.take(6)),
      Gen.choose(0, 99999).map(_.toString),
      Gen.oneOf("it's", "don't", "a.b", "x,y;z", "(p)", "12.50", "q—r", "末字"))
    val docGen: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(Option.empty[String]),
      9 -> (for {
        n <- Gen.choose(1, 40)
        ts <- Gen.listOfN(n, tokGen)
      } yield Some(ts.mkString(" "))))
    val pat = java.util.regex.Pattern.compile(graft.ops.TextOps.BpePattern)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def pieces(t: String): Long =
      if (t == null) 0L
      else { val m = pat.matcher(t); var c = 0L; while (m.find()) c += 1; c }
    val b = graft.ops.CorpusOps.SeqBudget
    val dir = s"${graft.ops.Tables.scratch}/prop_c28"
    samples(Gen.listOfN(60, docGen), 4).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t.orNull, "en", s"src${i % 4}",
          Option(t.orNull).map(_.length.toLong).getOrElse(0L))
      }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val want = docs.groupBy(_._4).toSeq.flatMap { case (_, rows) =>
        var cum = 0L
        rows.sortBy { case (id, _, _, _, _) => (md5hex(id.toString), id) }
          .map { case (id, t, _, src, _) =>
            val n = pieces(t)
            val start = cum; cum += n
            (id, src, n, start / b, start % b)
          }
      }.toSet
      val got = graft.ops.CorpusOps.c28_packBpe(spark, dir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
          r.getAs[Long]("n_bpe"), r.getAs[Long]("seq_id"), r.getAs[Long]("offset")))
        .toSet
      assert(got === want, "c28 diverged from the regex cumulative model")
    }
  }

  /** Random sparse graphs on 16 nodes: multi-component, bridges, and
    * isolated pairs — shapes the clique-ish fixture clusters never
    * produce. 16 nodes bound the diameter under the sweep valve.
    */
  private val graphGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(14, for {
      a <- Gen.choose(0L, 15L)
      b <- Gen.choose(0L, 15L) if a != b
    } yield (math.min(a, b), math.max(a, b)))

  test("clustersOf and its star fallback equal union-find on generated graphs") {
    samples(graphGen, 6).foreach { edges =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        parent.getOrElseUpdate(x, x)
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => (x, find(x), x == find(x))).toSet
      val got = graft.ops.TextOps.clustersOf(edges.toDF("a_id", "b_id")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
          r.getAs[Boolean]("is_canonical"))).toSet
      assert(got === expected, s"edges: $edges")
      // the O(log n) alternating-star fallback (a zero round budget)
      // resolves the same graphs to the same labels — both algorithms
      // are exact, so they must agree on every generated shape, not
      // just the chain that forces the strategy switch
      val star = graft.ops.TextOps.clustersOf(edges.toDF("a_id", "b_id"), maxIters = 0)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
          r.getAs[Boolean]("is_canonical"))).toSet
      assert(star === expected, s"star fallback diverged, edges: $edges")
    }
  }

  /** Generated event logs for the b21/b22 model checks: nullable users
    * and metrics, 31-day span (so b21's 20-day horizon bites), exact
    * 2-decimal metrics incl. negatives (so b22's clamp-before-divide
    * bites). Cents are generated and divided by 100 so the value→cents
    * round-trip is the same HALF_UP round both the query and the model
    * apply.
    */
  private val logGen: Gen[List[(Option[Long], String, Long, Long, Option[Long])]] =
    Gen.listOfN(80, for {
      user <- Gen.option(Gen.choose(0L, 2L))
      // the funnel types, so the b23 model check sees real progressions
      // (b21/b22 treat the type as opaque — any alphabet works there)
      typ <- Gen.oneOf("signup", "view", "purchase")
      day <- Gen.choose(0L, 30L)
      sec <- Gen.choose(0L, 86399L)
      cents <- Gen.option(Gen.choose(-5000L, 50000L))
    } yield (user, typ, day, sec, cents))

  private def writeLog(rows: Seq[(Option[Long], String, Long, Long, Option[Long])],
      dir: String): Unit =
    rows.zipWithIndex.map { case ((u, t, day, sec, c), i) =>
      (i.toLong, u, 1704067200000000L + (day * 86400L + sec) * 1000000L, t,
        c.map(_ / 100.0))
    }.toDF("event_id", "user_id", "us", "event_type", "value")
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  /** Dense 4-hour burst with exact hour marks, so 1-hour windows
    * overlap richly AND the (t, t+W] boundaries are actually hit.
    */
  private val burstGen: Gen[List[(Option[Long], String, Long, Long, Option[Long])]] =
    Gen.listOfN(80, for {
      user <- Gen.option(Gen.choose(0L, 2L))
      typ <- Gen.oneOf("signup", "purchase", "view")
      sec <- Gen.oneOf(Gen.choose(0L, 14400L), Gen.choose(0L, 4L).map(_ * 3600L))
      cents <- Gen.option(Gen.choose(-5000L, 50000L))
    } yield (user, typ, 0L, sec, cents))

  test("b26 bucketed range join equals the naive form and a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b26"
    val W = graft.ops.RangeJoin.WindowUs
    samples(burstGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val evs = rows.zipWithIndex.map { case ((u, t, day, sec, c), i) =>
        (i.toLong, u, 1704067200000000L + (day * 86400L + sec) * 1000000L, t, c)
      }
      val purch = evs.filter(_._4 == "purchase")
      val expected = evs.filter(_._4 == "signup").map { case (id, u, su, _, _) =>
        val win = purch.filter { case (_, _, pu, _, _) => pu > su && pu <= su + W }
        (id, u) -> ((win.size.toLong, win.flatMap(_._5).sum))
      }.toMap
      val fast = graft.ops.RangeJoin.b26_rangeJoin(spark, dir).collect()
      val gotF = fast.map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[Any]("user_id")).map(_.asInstanceOf[Long])) ->
        ((r.getAs[Long]("n_purchases"), r.getAs[Long]("cents_1h")))).toMap
      assert(gotF === expected)
      val naive = graft.ops.RangeJoin.naiveRangeJoin(spark, dir).collect()
      assert(fast.toSeq === naive.toSeq)
    }
  }

  test("b26b attribution counters equal a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b26b"
    val W = graft.ops.RangeJoin.WindowUs
    val K = graft.ops.RangeJoin.AttribHours
    samples(burstGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val evs = rows.map { case (_, t, day, sec, c) =>
        (t, 1704067200000000L + (day * 86400L + sec) * 1000000L, c)
      }
      def hourOf(us: Long) = us - java.lang.Math.floorMod(us, W)
      val sHours = evs.filter(_._1 == "signup").groupBy(e => hourOf(e._2))
        .map { case (h, rs) => h -> rs.size.toLong }
      val pHours = evs.filter(_._1 == "purchase").groupBy(e => hourOf(e._2))
        .map { case (h, rs) => h -> ((rs.size.toLong, rs.flatMap(_._3).sum)) }
      val expected = sHours.map { case (h, n) =>
        val terms = (0 until K).flatMap { a =>
          pHours.get(h + a * W).map { case (np, cp) =>
            val w = 1L << (K - 1 - a); (np * w, cp * w)
          }
        }
        h -> ((n, terms.map(_._1).sum, terms.map(_._2).sum))
      }
      val got = graft.ops.RangeJoin.b26b_attributionCounters(spark, dir).collect()
        .map(r => r.getAs[Long]("hour_us") -> ((r.getAs[Long]("n_signups"),
          r.getAs[Long]("decayed_purchases_x32"),
          r.getAs[Long]("decayed_cents_x32")))).toMap
      assert(got === expected)
    }
  }

  test("b26b aligns pre-epoch hours by FLOOR — a 1963 signup attributes its own hour") {
    // pmod keeps bucket starts at-or-below the timestamp for negative
    // µs too; a truncate-toward-zero alignment would report an hour_us
    // ABOVE the events. The scaladoc's whole-long-domain claim, pinned.
    val dir = s"${graft.ops.Tables.scratch}/prop_b26b_preepoch"
    val W = graft.ops.RangeJoin.WindowUs
    val base = -200000000000000L // ≈ 1963-08-27, negative µs
    val hour = base - java.lang.Math.floorMod(base, W)
    Seq(
      (1L, 1L, hour + 600L * 1000000, "signup", 10.00),
      (2L, 1L, hour + 1800L * 1000000, "purchase", 25.00))
      .toDF("event_id", "user_id", "us", "event_type", "value")
      .select(col("event_id"), col("user_id"),
        (col("us") * 1000).as("ts"), col("event_type"), col("value"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.ops.RangeJoin.b26b_attributionCounters(spark, dir).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("hour_us") === hour, "bucket start must FLOOR below the event")
    assert(got(0).getAs[Long]("n_signups") === 1L)
    assert(got(0).getAs[Long]("decayed_purchases_x32") === 32L) // same hour: weight 2^5
    assert(got(0).getAs[Long]("decayed_cents_x32") === 2500L * 32)
  }

  test("b21 decayed counters equal a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b21"
    samples(logGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val kept = rows.zipWithIndex.flatMap { case ((u, t, day, sec, c), i) =>
        u.map(user => (user, t, day, sec, c, i))
      }
      val t0 = kept.map(_._3).max
      val recent = kept.filter { case (_, _, day, _, _, _) => t0 - day <= 20 }
      val expected = recent.groupBy { case (u, t, _, _, _, _) => (u, t) }
        .map { case ((u, t), rs) =>
          val terms = rs.collect { case (_, _, day, _, Some(c), _) =>
            c * (1L << (20 - (t0 - day))) }
          (u, t) -> ((
            if (terms.isEmpty) None else Some(terms.sum),
            rs.size.toLong,
            rs.map { case (_, _, day, sec, _, _) =>
              1704067200000000L + (day * 86400L + sec) * 1000000L }.max))
        }
      val got = graft.ops.Features.b21_decayedFeatures(spark, dir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
          ((Option(r.getAs[Any]("decayed_e20")).map(_.asInstanceOf[Long]),
            r.getAs[Long]("n_recent"), r.getAs[Long]("last_us")))).toMap
      assert(got === expected)
    }
  }

  test("b23 funnel equals a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b23"
    samples(logGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val kept = rows.collect { case (Some(u), t, day, sec, _) =>
        (u, t, 1704067200000000L + (day * 86400L + sec) * 1000000L)
      }
      val expected = kept.groupBy(_._1).map { case (u, rs) =>
        val s = rs.collect { case (_, "signup", us) => us }.minOption
        val v = s.flatMap(su =>
          rs.collect { case (_, "view", us) if us >= su => us }.minOption)
        val p = v.flatMap(vu =>
          rs.collect { case (_, "purchase", us) if us >= vu => us }.minOption)
        val stage = if (p.isDefined) 3L else if (v.isDefined) 2L
          else if (s.isDefined) 1L else 0L
        u -> ((s, v, p, stage))
      }
      val got = graft.ops.Features.b23_funnel(spark, dir).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((Option(r.getAs[Any]("signup_us")).map(_.asInstanceOf[Long]),
            Option(r.getAs[Any]("view_us")).map(_.asInstanceOf[Long]),
            Option(r.getAs[Any]("purchase_us")).map(_.asInstanceOf[Long]),
            r.getAs[Long]("stage")))).toMap
      assert(got === expected)
    }
  }

  test("b24 retention equals a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b24"
    samples(logGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val kept = rows.collect { case (Some(u), _, day, _, _) => (u, 19723L + day) }
      val expected = kept.groupBy(_._1).map { case (_, rs) =>
        val days = rs.map(_._2).toSet
        val cohort = days.min
        (cohort, days.contains(cohort + 1), days.contains(cohort + 7))
      }.groupBy(_._1).map { case (c, us) =>
        c -> ((us.size.toLong, us.count(_._2).toLong, us.count(_._3).toLong))
      }
      val got = graft.ops.Features.b24_retention(spark, dir).collect()
        .map(r => r.getAs[Long]("cohort_day") ->
          ((r.getAs[Long]("n_users"), r.getAs[Long]("n_d1"),
            r.getAs[Long]("n_d7")))).toMap
      assert(got === expected)
    }
  }

  test("b25 LTV equals a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b25"
    samples(logGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val kept = rows.collect { case (Some(u), t, day, _, c) => (u, t, 19723L + day, c) }
      val cohort = kept.groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
      val purchases = kept.collect { case (u, "purchase", day, c) =>
        (cohort(u), day - cohort(u), c)
      }
      val byPoint = purchases.groupBy(p => (p._1, p._2)).view.mapValues { ps =>
        val cs = ps.flatMap(_._3)
        (ps.size.toLong, if (cs.isEmpty) None else Some(cs.sum))
      }.toMap
      val expected = byPoint.keys.toSeq.sorted.map { case (c, a) =>
        val (n, rev) = byPoint((c, a))
        val cum = byPoint.collect {
          case ((`c`, a2), (_, Some(r))) if a2 <= a => r
        }.toSeq
        (c, a) -> ((n, rev, if (cum.isEmpty) None else Some(cum.sum)))
      }.toMap
      val got = graft.ops.Features.b25_ltvCurve(spark, dir).collect()
        .map(r => (r.getAs[Long]("cohort_day"), r.getAs[Long]("age")) ->
          ((r.getAs[Long]("n_purchases"),
            Option(r.getAs[Any]("rev_cents")).map(_.asInstanceOf[Long]),
            Option(r.getAs[Any]("cum_rev_cents")).map(_.asInstanceOf[Long])))).toMap
      assert(got === expected)
    }
  }

  test("b22 drift equals a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b22"
    samples(logGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val f = rows.collect { case (_, t, day, sec, Some(c)) =>
        (t, 1704067200000000L + (day * 86400L + sec) * 1000000L, c)
      }
      if (f.nonEmpty) {
        val tMid = (f.map(_._2).min + f.map(_._2).max) / 2
        val buckets = f.groupBy { case (t, us, c) =>
          (t, math.min(math.max(c, 0L) / 1000L, 19L))
        }.map { case (k, rs) =>
          k -> ((rs.count(_._2 <= tMid).toLong, rs.count(_._2 > tMid).toLong))
        }
        val expected = buckets.groupBy(_._1._1).map { case (t, bs) =>
          val ab = bs.values.toSeq
          t -> ((ab.map(_._1).sum, ab.map(_._2).sum,
            ab.map { case (a, b) => (a - b) * (a - b) * 1000000L / (a + b) }.sum))
        }
        val got = graft.ops.Features.b22_featureDrift(spark, dir).collect()
          .map(r => r.getAs[String]("event_type") ->
            ((r.getAs[Long]("n_early"), r.getAs[Long]("n_late"),
              r.getAs[Long]("drift_e6")))).toMap
        assert(got === expected)
      }
    }
  }

  test("b30 SCD2 timeline equals a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b30"
    samples(logGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val evs = rows.zipWithIndex.collect {
        case ((Some(u), t, day, sec, c), i) =>
          (i.toLong, u, t, 1704067200000000L + (day * 86400L + sec) * 1000000L, c)
      }
      val expected = evs.groupBy(e => (e._2, e._3)).toSeq.flatMap {
        case ((u, t), group) =>
          val ordered = group.sortBy(e => (e._4, e._1))
          ordered.zipWithIndex.map { case ((id, _, _, us, _), k) =>
            val next = if (k + 1 < ordered.size) Some(ordered(k + 1)._4) else None
            (u, t, id, us) -> ((next, if (next.isEmpty) 1L else 0L))
          }
      }.toMap
      val got = graft.ops.Features.b30_scd2History(spark, dir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[Long]("event_id"), r.getAs[Long]("valid_from_us")) ->
          ((Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
            r.getAs[Long]("is_current")))).toMap
      assert(got === expected)
    }
  }

  test("b32 snapshot merge equals a Scala model on generated logs") {
    val dir = s"${graft.ops.Tables.scratch}/prop_b32"
    samples(logGen, 5).foreach { rows =>
      writeLog(rows, dir)
      val evs = rows.zipWithIndex.collect {
        case ((Some(u), t, day, sec, c), i) if t != null =>
          (i.toLong, u, t, 1704067200000000L + (day * 86400L + sec) * 1000000L, c)
      }
      if (evs.nonEmpty) {
        // lo + (hi-lo)/2: the query's floor-consistent midpoint form
        // (exact for negative-µs logs too, not just this all-positive gen)
        val (lo, hi) = (evs.map(_._4).min, evs.map(_._4).max)
        val mid = lo + (hi - lo) / 2
        val expected = evs.groupBy(e => (e._2, e._3)).map { case ((u, t), g) =>
          val base = g.filter(_._4 < mid).sortBy(e => (e._4, e._1)).lastOption
          val delta = g.filter(_._4 >= mid).sortBy(e => (e._4, e._1)).lastOption
          val action = (base, delta) match {
            case (Some(_), Some(_)) => "update"
            case (None, Some(_))    => "insert"
            case _                  => "carry"
          }
          val cents = delta.orElse(base).flatMap(_._5)
          (u, t) -> ((action, cents, base.map(_._1), delta.map(_._1)))
        }
        val got = graft.ops.Features.b32_snapshotMerge(spark, dir).collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
            ((r.getAs[String]("action"),
              Option(r.getAs[java.lang.Long]("cents")).map(_.toLong),
              Option(r.getAs[java.lang.Long]("base_eid")).map(_.toLong),
              Option(r.getAs[java.lang.Long]("delta_eid")).map(_.toLong)))).toMap
        assert(got === expected)
      }
    }
  }

  /** Vector sets with the full hostile-element alphabet: finite values,
    * NaN, ±Inf, null elements, ragged lengths, null vectors.
    */
  private val vecSetGen: Gen[List[Option[List[Option[Float]]]]] =
    Gen.listOfN(30, Gen.frequency(
      9 -> (for {
        dim <- Gen.choose(1, 6)
        elems <- Gen.listOfN(dim, Gen.frequency(
          12 -> Gen.choose(-8.0, 8.0).map(d => Some(d.toFloat)),
          1 -> Gen.const(Some(Float.NaN)),
          1 -> Gen.const(Some(Float.PositiveInfinity)),
          1 -> Gen.const(Some(Float.NegativeInfinity)),
          1 -> Gen.const(Option.empty[Float])))
      } yield Some(elems)),
      1 -> Gen.const(Option.empty[List[Option[Float]]])))

  test("c21 quantization equals a Scala model on generated hostile vectors") {
    val dir = s"${graft.ops.Tables.scratch}/prop_c21"
    samples(vecSetGen, 5).foreach { vecs =>
      vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 3) }
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val pts = vecs.zipWithIndex.flatMap {
        case (Some(v), id) => v.zipWithIndex.collect {
          case (Some(x0), i0) if !x0.isNaN && !x0.isInfinite =>
            (id.toLong, (i0 + 1).toLong, x0.toDouble)
        }
        case _ => Nil
      }
      val expected = pts.groupBy(_._2).toSeq.flatMap { case (i, ps) =>
        val mn = ps.map(_._3).min
        val mx = ps.map(_._3).max
        ps.map { case (id, _, x) =>
          (id, i) -> (if (mx > mn) math.floor((x - mn) * 255.0 / (mx - mn)).toLong else 0L)
        }
      }.toMap
      val got = graft.ops.VectorOps.c21_embeddingQuantize(spark, dir).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("i")) -> r.getAs[Long]("q")).toMap
      assert(got === expected)
      assert(got.values.forall(q => q >= 0L && q <= 255L))
    }
  }

  /** Token soup for the winnow-kernel check: real words, empty tokens
    * (consecutive spaces after joining), and multi-byte UTF-8 — the
    * inputs where the kernel's byte-scan/byte-slice shortcuts could
    * diverge from the split+concat semantics the model implements.
    */
  private val winnowDocGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(Option.empty[String]),
    1 -> Gen.const(Some("")),
    10 -> (for {
      n <- Gen.choose(1, 40)
      toks <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "x", "yy"),
        1 -> Gen.const(""),
        1 -> Gen.oneOf("日本語", "héllo", "🙂", "ünï")))
    } yield Some(toks.mkString(" "))))

  test("winnow kernel equals the Scala model on generated corpora") {
    val corpusGen = Gen.listOfN(25, winnowDocGen)
    samples(corpusGen, 6).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
        .toDF("doc_id", "text")
      val got = graft.ops.TextOps.winnowFps(df).collect()
        .groupBy(_.getAs[Long]("doc_id"))
        .map { case (id, rs) => id -> rs.map(_.getAs[Long]("fp")).toSet }
      docs.zipWithIndex.foreach { case (t, i) =>
        assert(got.getOrElse(i.toLong, Set.empty[Long]) === WinnowLangSpec.winnowModel(t.orNull),
          s"doc $i: ${t.orNull}")
      }
    }
  }

  test("c25 equals a brute-force winnow-pair model on generated boilerplate-heavy corpora") {
    // 80-doc corpora where ~90% of docs share a boilerplate header —
    // the header's fingerprints exceed the df cap (WinnowDfCap = 64),
    // so this exercises the band the crafted fixtures cannot: the
    // model must REPLICATE the cap to agree, proving the query drops
    // exactly the boilerplate postings and nothing else.
    val docGen: Gen[String] = for {
      hasHeader <- Gen.frequency(9 -> Gen.const(true), 1 -> Gen.const(false))
      n <- Gen.choose(3, 12)
      toks <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
    } yield (if (hasHeader) "standard license header text applies here " else "") +
      toks.mkString(" ")
    val dir = s"${graft.ops.Tables.scratch}/prop_c25"
    samples(Gen.listOfN(80, docGen), 3).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", s"src${i % 3}", t.length.toLong)
      }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val fps = docs.map { case (id, t, _, _, _) => id -> WinnowLangSpec.winnowModel(t) }.toMap
      val df = fps.values.toSeq.flatten.groupBy(identity).map { case (fp, xs) => fp -> xs.size }
      val kept = df.collect { case (fp, n) if n >= 2 && n <= graft.ops.TextOps.WinnowDfCap => fp }.toSet
      assert(df.values.max > graft.ops.TextOps.WinnowDfCap,
        "generator must produce an over-cap boilerplate fingerprint for this test to bite")
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        shared = (fps(a) intersect fps(b) intersect kept).size.toLong
        if shared >= graft.ops.TextOps.WinnowShared
      } yield (a, b) -> shared).toMap
      val got = graft.ops.TextOps.c25_winnowNeardup(spark, dir).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Long]("n_shared")).toMap
      assert(got === want)
    }
  }

  test("c23 scoring equals the Scala model on generated marker documents") {
    val markers = graft.ops.TextOps.LangProfiles.flatMap(_._2)
    val docGen: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(Option.empty[String]),
      8 -> (for {
        n <- Gen.choose(1, 30)
        toks <- Gen.listOfN(n, Gen.frequency(
          5 -> Gen.oneOf(markers),
          4 -> Gen.oneOf("noise", "filler", "pad", "zzz")))
      } yield Some(toks.mkString(" "))))
    def model(text: String): (String, Long, Long) = {
      val toks = if (text == null) Array.empty[String] else text.split(" ", -1)
      val n = toks.length.toLong
      val scores = graft.ops.TextOps.LangProfiles.map { case (code, ms) =>
        code -> (if (n == 0) 0L else toks.count(ms.contains).toLong * 1000000L / n)
      }
      val best = scores.map(_._2).max
      val second = scores.map(_._2).sorted.apply(scores.size - 2)
      (if (best == 0) "und" else scores.find(_._2 == best).get._1, best, best - second)
    }
    samples(Gen.listOfN(30, docGen), 6).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
        .toDF("doc_id", "text")
      val got = graft.ops.TextOps.langIdOf(df).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("pred_lang"), r.getAs[Long]("best_e6"), r.getAs[Long]("margin_e6")))).toMap
      docs.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) === model(t.orNull), s"doc $i: ${t.orNull}")
      }
    }
  }

  /** Scala reference model of c30's ladder (same integer forms) */
  private def gateModel(text: String): String = {
    val t = if (text == null) Array[String]() else text.split(" ", -1)
    val nTok = t.length.toLong
    val nChar = if (text == null) 0L else text.length.toLong
    val stops = Set("the", "a", "of", "and", "is")
    val stopHits = t.count(stops).toLong
    def dupE6(n: Int): Long =
      if (t.length < n) 0L
      else {
        val grams = t.sliding(n).map(_.mkString(" ")).toVector
        (grams.length - grams.distinct.length).toLong * 1000000L / grams.length
      }
    import graft.ops.TextQuality._
    if (nTok < MinTok) "too_short"
    else if (nTok > MaxTok) "too_long"
    else if (nChar - nTok + 1 < MinMeanTokLenX * nTok ||
      nChar - nTok + 1 > MaxMeanTokLenX * nTok) "bad_tok_len"
    else if (stopHits * StopDenom < nTok) "low_stop"
    else if (dupE6(2) > Dup2MaxE6 || dupE6(3) > Dup3MaxE6 ||
      dupE6(4) > Dup4MaxE6) "repetitive"
    else "keep"
  }

  /** word-soup docs engineered to reach every rung with real frequency:
    * stops, short/long words, loops, and degenerate lengths all mix
    */
  private val gateDocGen: Gen[String] = Gen.oneOf[Gen[String]](
    Gen.const(null: String),
    Gen.choose(0, 4).map(n => Seq.fill(n)("w").mkString(" ")),
    Gen.choose(2, 30).map(n => (("spam eggs " * n).trim)),
    Gen.listOfN(30, Gen.oneOf("the", "a", "of", "cat", "dog", "run",
      "extraordinarily", "w1", "w2", "w3")).map(_.mkString(" ")),
    Gen.choose(6, 40).map(n =>
      (1 to n).map(i => s"tok$i").mkString(" "))).flatMap(identity)

  test("c30's verdict equals the ladder model on generated corpora") {
    samples(Gen.listOfN(40, gateDocGen), 5).foreach { texts =>
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "s0") }
        .toDF("doc_id", "text", "source")
      val got = graft.ops.TextQuality.gateRows(df).orderBy(col("doc_id"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason"))
      val expected = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> gateModel(t) }
      assert(got.toSeq === expected)
    }
  }

  /** text assembled from inert alpha words + typed PII insertions, so
    * the exact match count and the redacted string are both known
    */
  private val piiPartGen: Gen[(String, String)] = {
    val word = Gen.listOfN(5, Gen.alphaLowerChar).map(_.mkString)
    val email = for {
      l <- Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
      d <- Gen.listOfN(5, Gen.alphaLowerChar).map(_.mkString)
      t <- Gen.oneOf("com", "org", "net")
    } yield s"$l@$d.$t"
    val ssn = for {
      a <- Gen.choose(100, 999); b <- Gen.choose(10, 99); c <- Gen.choose(1000, 9999)
    } yield f"$a%03d-$b%02d-$c%04d"
    val phone = for {
      a <- Gen.choose(200, 999); b <- Gen.choose(100, 999)
      c <- Gen.choose(1000, 9999); sep <- Gen.oneOf("-", ".")
    } yield s"$a$sep$b$sep$c"
    val ip = Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
    Gen.frequency(
      6 -> word.map(w => (w, w)),
      1 -> email.map(e => (e, "<EMAIL>")),
      1 -> ssn.map(s => (s, "<SSN>")),
      1 -> phone.map(p => (p, "<PHONE>")),
      1 -> ip.map(i => (i, "<IP>")))
  }

  test("c31 scrubs generated PII exactly — counts and the redacted string") {
    samples(Gen.listOfN(25, Gen.listOfN(30, piiPartGen)), 5).foreach { docs =>
      val rows = docs.zipWithIndex.map { case (parts, i) =>
        (i.toLong, parts.map(_._1).mkString(" "), "en", "s0",
          parts.map(_._1).mkString(" ").length.toLong: java.lang.Long)
      }
      val d = s"${graft.ops.Tables.scratch}/prop_c31"
      graft.ops.Tables.rmrf(d)
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      val got = graft.ops.TextQuality.c31_piiRedact(spark, d).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_pii"), r.getAs[String]("text_redacted")))).toMap
      docs.zipWithIndex.foreach { case (parts, i) =>
        val expN = parts.count(_._2.startsWith("<")).toLong
        val expText = parts.map(_._2).mkString(" ")
        assert(got(i.toLong) === ((expN, expText)), s"doc $i")
      }
    }
  }

  test("bpe_count kernel ≡ the regex piece count on generated strings") {
    // pieces chosen to hit every alternation branch and bump path:
    // apostrophe-runs, space fusion, double spaces, stranded quotes,
    // uppercase/punctuation runs, digits, multi-byte runs, edges
    val pieceGen = Gen.listOfN(14, Gen.oneOf(
      "word", "UPPER", "it's", "'", "''", "'a", " '", "42", "3x7", ";;",
      "--", "\"q\"", "héllo", "日本語", "🙂", " ", "  ", "a1b2", "x'y", "12'"))
      .map(_.mkString(""))
    samples(Gen.listOfN(30, pieceGen), 8).foreach { strs =>
      val rows = (null +: strs).toDF("text")
        .select(graft.functions.Kernels.bpeCount(col("text")).as("k"),
          size(regexp_extract_all(col("text"),
            lit(graft.ops.TextOps.BpePattern), lit(0))).cast("long").as("r"))
        .collect()
      rows.foreach { r =>
        val k = Option(r.get(0)).map(_.asInstanceOf[Long])
        val re = Option(r.get(1)).map(_.asInstanceOf[Long])
        // regex path maps null text → size(null) = -1 by Spark
        // convention; the kernel keeps NULL — compare only non-nulls
        if (k.isDefined) assert(k === re, s"kernel vs regex on ${r}")
      }
    }
  }

  test("the BPE-ish pre-tokenizer regex equals java.util.regex on generated strings") {
    val pieceGen = Gen.listOfN(12, Gen.oneOf(
      "word", "UPPER", "it's", "42", "3x7", ";;", "--", "\"q\"", "héllo", "🙂", " ", "  "))
      .map(_.mkString(" "))
    val pat = java.util.regex.Pattern.compile(graft.ops.TextOps.BpePattern)
    samples(Gen.listOfN(20, pieceGen), 6).foreach { strs =>
      val got = strs.toDF("text")
        .select(regexp_extract_all(col("text"),
          lit(graft.ops.TextOps.BpePattern), lit(0)).as("pc"))
        .collect().map(_.getSeq[String](0).toList)
      val expected = strs.map { s =>
        val m = pat.matcher(s)
        Iterator.continually(m).takeWhile(_.find()).map(_.group()).toList
      }
      assert(got.toSeq === expected, "piece sequences must match the JVM regex")
    }
  }
  // ---- BPE trainer vs an independent naive model ----------------------

  /** Naive reference BPE: immutable lists, from-scratch pair recount
    * per round, recursive leftmost application — deliberately a
    * different coding of the same contract as BpeTrain.trainMerges
    * (which mutates arrays in place with a single-pass merge), so a
    * divergence on overlaps/ties/stop conditions turns this red.
    */
  private def naiveBpe(census: Seq[(String, Long)]): Seq[(Int, String, String, Long)] = {
    def applyMerge(s: List[String], l: String, r: String): List[String] = s match {
      case a :: b :: rest if a == l && b == r => (l + r) :: applyMerge(rest, l, r)
      case a :: rest => a :: applyMerge(rest, l, r)
      case Nil => Nil
    }
    var seqs = census.map { case (w, f) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toList, f)
    }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var go = true
    while (rank < graft.ops.BpeTrain.BpeMerges && go) {
      val counts = seqs.flatMap { case (s, f) =>
        s.zip(s.drop(1)).map(p => p -> f)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val eligible = counts.filter(_._2 >= 2L)
      if (eligible.isEmpty) go = false
      else {
        val (bp, bc) = eligible.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((rank, bp._1, bp._2, bc))
        seqs = seqs.map { case (s, f) => (applyMerge(s, bp._1, bp._2), f) }
        rank += 1
      }
    }
    out.result()
  }

  private val bpeCensusGen: Gen[List[(String, Long)]] = for {
    n <- Gen.choose(1, 8)
    ws <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 6)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      f <- Gen.choose(1L, 5L)
    } yield (cs.mkString, f))
  } yield ws.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toList
    .sortBy { case (w, f) => (-f, w) }

  test("BPE trainer equals the naive reference model on generated censuses") {
    samples(bpeCensusGen, 60).foreach { census =>
      val got = graft.ops.BpeTrain.trainMerges(census.toArray)
        .map(r => (r.rank, r.left, r.right, r.count))
      assert(got === naiveBpe(census),
        s"trainer diverged from the naive model on census $census")
    }
  }
}
