package graft

import org.apache.spark.sql.functions._

import graft.operators.{RankEval, Resample, Spectral, TextAnalysis}

/** Hand-computed fixtures for the round-8 operators: power-iteration
  * spectral projection, truncated RBO, stepped time-decay sums,
  * cross-doc duplicate-n-gram fraction, and vocabulary Jaccard.
  */
class AnalyticsOpsSpec extends SparkTestBase {

  // ---- Spectral ----

  test("principalComponent is unit-norm and finds the dominant axis") {
    import spark.implicits._
    // variance concentrated on axis 0: component must align with e0
    val vecs = Seq(
      (1L, Array(10.0f, 0.1f, 0.0f)),
      (2L, Array(-9.0f, 0.2f, 0.1f)),
      (3L, Array(8.0f, -0.1f, 0.0f)),
      (4L, Array(-11.0f, 0.0f, -0.1f)),
    ).toDF("vec_id", "embedding")
    val c = Spectral.principalComponent(vecs, "vec_id", "embedding", iters = 5)
    val norm = math.sqrt(c.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"unit norm, got $norm")
    assert(math.abs(c.head.abs - 1.0) < 0.01,
      s"dominant direction is axis 0, got $c")
  }

  test("principalProjection preserves rows and bounds |proj| by |x|") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(3.0f, 4.0f)), // |x| = 5
      (2L, Array(0.0f, 0.5f)),
      (3L, Array(-1.0f, 2.0f)),
    ).toDF("vec_id", "embedding")
    val out = Spectral.principalProjection(vecs, "vec_id", "embedding", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size == 3)
    // Cauchy-Schwarz against the unit component (rounding slack)
    assert(math.abs(out(1L)) <= 5.0 + 1e-3)
    assert(math.abs(out(2L)) <= 0.5 + 1e-3)
  }

  test("principalComponent rejects zero corpora loudly") {
    import spark.implicits._
    val vecs = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Spectral.principalComponent(vecs, "vec_id", "embedding", iters = 1)
    }
    assert(e.getMessage.contains("zero matvec"))
  }

  // ---- RankEval ----

  test("rbo: identical lists score the full truncated mass, disjoint score 0") {
    import spark.implicits._
    val k = 5; val p = 0.9
    val a = (1 to k).map(r => ("q1", s"item$r", r)).toDF("q", "item", "rnk")
    val b = (1 to k).map(r => ("q1", s"item$r", r)).toDF("q", "item", "rnk")
    val full = RankEval.rbo(a, b, "q", "item", "rnk", k, p)
      .collect()(0).getDouble(1)
    // identical lists: every depth overlaps fully -> Σ (1-p) p^(d-1)
    val expect = (1 to k).map(d => (1 - p) * math.pow(p, d - 1)).sum
    assert(math.abs(full - expect) < 1e-6, s"got $full want $expect")

    val c = (1 to k).map(r => ("q1", s"other$r", r)).toDF("q", "item", "rnk")
    val zero = RankEval.rbo(a, c, "q", "item", "rnk", k, p)
      .collect()(0).getDouble(1)
    assert(zero == 0.0)
  }

  test("rbo weights top ranks heavier: a swap at depth 1 costs more than at depth k") {
    import spark.implicits._
    val k = 4; val p = 0.8
    val base = (1 to k).map(r => ("q", s"i$r", r))
    def score(other: Seq[(String, String, Int)]): Double =
      RankEval.rbo(base.toDF("q", "item", "rnk"),
        other.toDF("q", "item", "rnk"), "q", "item", "rnk", k, p)
        .collect()(0).getDouble(1)
    // replace rank-1 item vs replace rank-k item with a foreign item
    val swapTop = Seq(("q", "xx", 1)) ++ base.tail
    val swapBot = base.init ++ Seq(("q", "yy", k))
    assert(score(swapTop.map(t => (t._1, t._2, t._3))) <
      score(swapBot.map(t => (t._1, t._2, t._3))))
  }

  test("rboWeights: contribution decreases with first-overlap depth") {
    val w = RankEval.rboWeights(10, 0.9)
    assert(w.size == 10)
    assert(w == w.sorted.reverse, "monotone decreasing")
    assert(w.last > 0.0)
  }

  // ---- decayedSum ----

  test("decayedSum: stepped dyadic weights, age clamping, null values") {
    import spark.implicits._
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-31 00:00:00"), Some(8.0)),  // age 1d  -> k=0, w=1
      ("a", java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), Some(8.0)),  // age 12d -> k=1, w=1/2
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Some(8.0)),  // age 31d -> k=4, w=1/16
      ("a", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), Some(8.0)),  // future  -> k=0, w=1
      ("a", java.sql.Timestamp.valueOf("2024-01-31 00:00:00"), None),       // null value
    ).toDF("k", "ts", "value")
    val r = Resample.decayedSum(df, Seq("k"), "ts", "value",
      asOf = "2024-02-01", halfLifeDays = 7).collect()(0)
    assert(r.getDouble(r.fieldIndex("decayed_sum")) == 8.0 + 4.0 + 0.5 + 8.0)
    assert(r.getDouble(r.fieldIndex("raw_sum")) == 32.0)
    assert(r.getLong(r.fieldIndex("n_rows")) == 5L)
  }

  // ---- duplicateNgramFraction ----

  test("duplicateNgramFraction: shared spans counted positionally, short docs NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),   // spans: "a b c d e", "b c d e f"
      (2L, "a b c d e zz"),  // spans: "a b c d e", "b c d e zz"
      (3L, "x y"),           // too short: 0 spans
    ).toDF("doc_id", "text")
    val out = TextAnalysis.duplicateNgramFraction(df, "doc_id", "text",
      n = 5, minDocs = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2L && out(1L).getLong(2) == 1L)
    assert(out(1L).getDouble(3) == 0.5)
    assert(out(2L).getLong(2) == 1L)
    assert(out(3L).getLong(1) == 0L && out(3L).isNullAt(3),
      "short doc: 0 spans, NULL fraction")
  }

  // ---- vocabJaccard ----

  test("vocabJaccard: exact set overlap over the full pair grid") {
    import spark.implicits._
    val df = Seq(
      ("s1", "a b c"),
      ("s2", "b c d"),
      ("s3", "x y"),
    ).toDF("source", "text")
    val out = TextAnalysis.vocabJaccard(df, "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.size == 3, "3 unordered pairs")
    assert(out(("s1", "s2")) == ((2L, 4L, 0.5)))
    assert(out(("s1", "s3"))._1 == 0L, "zero-overlap pair still present")
    assert(out(("s1", "s3"))._3 == 0.0)
  }

  // ---- aucRank ----

  test("aucRank: perfect separation 1, reversed 0, all-ties 0.5") {
    import spark.implicits._
    val df = Seq(
      // g1: every positive outscores every negative
      ("g1", 0.9, 1), ("g1", 0.8, 1), ("g1", 0.3, 0), ("g1", 0.1, 0),
      // g2: reversed
      ("g2", 0.9, 0), ("g2", 0.8, 0), ("g2", 0.3, 1), ("g2", 0.1, 1),
      // g3: one shared score for everything -> chance
      ("g3", 0.5, 1), ("g3", 0.5, 0), ("g3", 0.5, 1), ("g3", 0.5, 0),
    ).toDF("g", "score", "lbl")
    val out = RankEval.aucRank(df, "g", "score", col("lbl") === 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("g1") == 1.0)
    assert(out("g2") == 0.0)
    assert(out("g3") == 0.5, "tie-averaged ranks give exactly chance")
  }

  test("aucRank: hand value with a tie straddling the classes") {
    import spark.implicits._
    // scores asc: 0.1(neg) 0.5(pos) 0.5(neg) 0.9(pos)
    // avgranks: 1, 2.5, 2.5, 4; rsum+ = 6.5; auc = (6.5-3)/4 = 0.875
    val df = Seq(("g", 0.1, 0), ("g", 0.5, 1), ("g", 0.5, 0), ("g", 0.9, 1))
      .toDF("g", "score", "lbl")
    val r = RankEval.aucRank(df, "g", "score", col("lbl") === 1)
      .collect().head
    assert(r.getDouble(1) == 0.875)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L)
  }

  test("aucRank: degenerate single-class group reports NULL auc") {
    import spark.implicits._
    val df = Seq(("g", 0.1, 1), ("g", 0.5, 1)).toDF("g", "score", "lbl")
    val r = RankEval.aucRank(df, "g", "score", col("lbl") === 1)
      .collect().head
    assert(r.isNullAt(1), "no negatives -> NULL, not a blow-up")
  }

  // ---- cohensKappa ----

  test("cohensKappa: perfect agreement 1, checkerboard independence 0") {
    import spark.implicits._
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x"), ("y", "y"))
      .toDF("a", "b")
    val p = RankEval.cohensKappa(perfect, col("a"), col("b")).collect().head
    assert(p.getDouble(3) == 1.0)
    // uniform independent raters: p_o = p_e = 0.5 -> kappa 0
    val indep = Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y"))
      .toDF("a", "b")
    val i = RankEval.cohensKappa(indep, col("a"), col("b")).collect().head
    assert(i.getDouble(1) == 0.5 && i.getDouble(2) == 0.5)
    assert(i.getDouble(3) == 0.0)
  }

  test("cohensKappa: constant equal raters -> NULL (p_e = 1)") {
    import spark.implicits._
    val df = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    val r = RankEval.cohensKappa(df, col("a"), col("b")).collect().head
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 1.0)
    assert(r.isNullAt(3))
  }

  test("cohensKappa: disjoint category sets -> zero chance mass") {
    import spark.implicits._
    val df = Seq(("x", "p"), ("y", "q")).toDF("a", "b")
    val r = RankEval.cohensKappa(df, col("a"), col("b")).collect().head
    assert(r.getDouble(1) == 0.0, "never agree")
    assert(r.getDouble(2) == 0.0, "no shared categories")
    assert(r.getDouble(3) == 0.0, "(0-0)/(1-0)")
  }

  // ---- calibrationBins / eceFromBins ----

  test("calibrationBins: hand reliability table and ECE") {
    import spark.implicits._
    // bin 0: confs .05/.05, one of two correct -> acc .5, conf .05
    // bin 9: confs .95/1.0 (1.0 clamps into bin 9), both correct
    val df = Seq((0.05, 1), (0.05, 0), (0.95, 1), (1.0, 1))
      .toDF("conf", "lbl")
    val bins = RankEval.calibrationBins(df, col("conf"), col("lbl") === 1, 10)
    val m = bins.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(m.keySet == Set(0L, 9L), "only occupied bins emit")
    assert(m(0) == ((2L, 0.5, 0.05)))
    assert(m(9) == ((2L, 1.0, 0.975)))
    val ece = RankEval.eceFromBins(bins).collect().head
    // 2/4*|0.5-0.05| + 2/4*|1-0.975| = 0.225 + 0.0125
    assert(ece.getDouble(0) == 0.2375)
    assert(ece.getLong(1) == 4L)
  }

  // ---- brierScore ----

  test("brierScore: perfect predictions 0, coin-flip 0.25, exact thirds") {
    import spark.implicits._
    val perfect = Seq((1.0, true), (0.0, false)).toDF("c", "y")
    assert(RankEval.brierScore(perfect, col("c"), col("y"))
      .collect().head.getDouble(0) == 0.0)
    val coin = Seq((0.5, true), (0.5, false)).toDF("c", "y")
    assert(RankEval.brierScore(coin, col("c"), col("y"))
      .collect().head.getDouble(0) == 0.25)
    // (0.9-1)² + (0.4-0)² + (0.2-0)² over 3 = (0.01+0.16+0.04)/3 = 0.07
    val mixed = Seq((0.9, true), (0.4, false), (0.2, false)).toDF("c", "y")
    val r = RankEval.brierScore(mixed, col("c"), col("y")).collect().head
    assert(r.getDouble(0) == 0.07 && r.getLong(1) == 3L, r.toString)
  }

  // ---- psi ----

  test("psi: identical halves score exactly 0, a shift scores > 0") {
    import graft.operators.Profiling
    import spark.implicits._
    val ref = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 10.0))
      .toDF("g", "v")
    val same = Profiling.psi(ref, ref, Seq("g"), "v", bins = 4)
      .collect().head
    assert(same.getDouble(1) == 0.0, "p == q per bin")
    assert(same.getLong(2) == 4L && same.getLong(3) == 4L)
    val shifted = Seq(("g", 9.0), ("g", 9.5), ("g", 10.0), ("g", 8.0))
      .toDF("g", "v")
    val drift = Profiling.psi(ref, shifted, Seq("g"), "v", bins = 4)
      .collect().head
    assert(drift.getDouble(1) > 0.1, s"mass moved to the top bin: $drift")
  }

  test("psi: degenerate single-value reference puts everything in bin 0") {
    import graft.operators.Profiling
    import spark.implicits._
    val ref = Seq(("g", 5.0), ("g", 5.0)).toDF("g", "v")
    val cur = Seq(("g", 7.0), ("g", 3.0)).toDF("g", "v")
    val r = Profiling.psi(ref, cur, Seq("g"), "v", bins = 4).collect().head
    assert(r.getDouble(1) == 0.0,
      "hi == lo routes all mass of both sides to bin 0 -> p == q")
  }

  test("psi: current-only group still reports (ref side all-smoothed)") {
    import graft.operators.Profiling
    import spark.implicits._
    val ref = Seq(("g1", 1.0), ("g1", 2.0)).toDF("g", "v")
    val cur = Seq(("g2", 1.5)).toDF("g", "v")
    val out = Profiling.psi(ref, cur, Seq("g"), "v", bins = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set("g1", "g2"), "grid covers union of groups")
  }

  // ---- recallAtK ----

  test("recallAtK: identical 1, disjoint 0, partial counted exactly") {
    import spark.implicits._
    def ranking(rows: (String, String, Int)*) =
      rows.toSeq.toDF("q", "item", "rnk")
    val ex = ranking(("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
      ("q2", "x", 1), ("q2", "y", 2), ("q2", "z", 3))
    val same = RankEval.recallAtK(ex, ex, "q", "item", "rnk", 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(same == Map("q1" -> 1.0, "q2" -> 1.0))
    // q1 approx shares {a, c} reordered; q2 shares nothing
    val ap = ranking(("q1", "c", 1), ("q1", "d", 2), ("q1", "a", 3),
      ("q2", "p", 1), ("q2", "q", 2), ("q2", "r", 3))
    val out = RankEval.recallAtK(ap, ex, "q", "item", "rnk", 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out("q1") == ((2L, 0.666667)))
    assert(out("q2") == ((0L, 0.0)))
  }

  test("recallAtK: exact-side queries absent from approx surface as 0") {
    import spark.implicits._
    val ex = Seq(("q1", "a", 1), ("q9", "b", 1)).toDF("q", "item", "rnk")
    val ap = Seq(("q1", "a", 1)).toDF("q", "item", "rnk")
    val out = RankEval.recallAtK(ap, ex, "q", "item", "rnk", 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out == Map("q1" -> 1.0, "q9" -> 0.0),
      "a dropped query is a visible zero, not a missing row")
  }

  test("recallAtK: ranks beyond k are ignored on both sides") {
    import spark.implicits._
    val ex = Seq(("q", "a", 1), ("q", "b", 2), ("q", "c", 9))
      .toDF("q", "item", "rnk")
    val ap = Seq(("q", "c", 1), ("q", "a", 5)).toDF("q", "item", "rnk")
    val out = RankEval.recallAtK(ap, ex, "q", "item", "rnk", 2)
      .collect().head
    assert(out.getLong(1) == 0L,
      "c is beyond exact@2, a beyond approx@2 -> no hits")
  }

  // ---- rrfFuse ----

  test("rrfFuse: consensus at depth beats a single-list front-runner") {
    import spark.implicits._
    def ranking(rows: (String, String, Int)*) =
      rows.toSeq.toDF("q", "item", "rnk")
    // x sits at rank 2 in BOTH lists: 2/62 > 1/61 from y's single top spot
    val a = ranking(("q", "y", 1), ("q", "x", 2), ("q", "z", 3))
    val b = ranking(("q", "w", 1), ("q", "x", 2), ("q", "v", 3))
    val out = RankEval.rrfFuse(Seq(a, b), "q", "item", "rnk",
        depth = 3, k = 5, c = 60)
      .collect().map(r => r.getString(1) -> ((r.getLong(3), r.getDouble(2),
        r.getLong(4)))).toMap
    assert(out("x")._1 == 1L, s"consensus wins: $out")
    assert(out("x")._3 == 2L && out("y")._3 == 1L)
    assert(math.abs(out("x")._2 - 2.0 / 62) < 1e-6)
    // single-list items tie at 1/61 -> item-order tiebreak
    assert(out("w")._1 < out("y")._1, "tie broken by item ascending")
  }

  test("rrfFuse: depth filter drops deep ranks; k caps the output") {
    import spark.implicits._
    val a = (1 to 10).map(i => ("q", s"i$i", i)).toDF("q", "item", "rnk")
    val out = RankEval.rrfFuse(Seq(a), "q", "item", "rnk",
      depth = 4, k = 2, c = 60).collect()
    assert(out.length == 2)
    assert(out.map(_.getString(1)).toSet == Set("i1", "i2"),
      "single list at depth 4, top-2 kept in input order")
  }

  // ---- ndcgAtK ----

  test("ndcgAtK: identical ranking 1, disjoint 0, displacement in between") {
    import spark.implicits._
    def ranking(ids: Seq[String]) = ids.zipWithIndex
      .map { case (id, i) => ("q", id, i + 1) }.toDF("q", "item", "rnk")
    val ex = ranking(Seq("a", "b", "c", "d", "e"))
    val same = RankEval.ndcgAtK(ex, ex, "q", "item", "rnk", 5)
      .collect().head.getDouble(1)
    assert(same == 1.0, "ideal order achieves IDCG exactly (post-round)")
    val disjoint = RankEval.ndcgAtK(ranking(Seq("v", "w", "x", "y", "z")),
      ex, "q", "item", "rnk", 5).collect().head.getDouble(1)
    assert(disjoint == 0.0)
    // best item pushed to the end: strictly between 0 and 1, and worse
    // than swapping the two WORST items
    val demoted = RankEval.ndcgAtK(ranking(Seq("b", "c", "d", "e", "a")),
      ex, "q", "item", "rnk", 5).collect().head.getDouble(1)
    val tailSwap = RankEval.ndcgAtK(ranking(Seq("a", "b", "c", "e", "d")),
      ex, "q", "item", "rnk", 5).collect().head.getDouble(1)
    assert(demoted > 0.0 && demoted < 1.0)
    assert(tailSwap > demoted, "top-heavy: demoting rank 1 costs more")
  }

  test("idcgAtK is the exact closed-form constant") {
    val k = 3
    val byHand = (1 to 3).map(i =>
      (math.pow(2.0, 4 - i) - 1) / (math.log(i + 1) / math.log(2.0))).sum
    assert(RankEval.idcgAtK(k) == byHand)
    assert(RankEval.idcgAtK(5) > RankEval.idcgAtK(3), "monotone in k")
  }

  // ---- gini ----

  test("gini: uniform 0, concentrated hand value, tie-order invariant") {
    import graft.operators.Profiling
    import spark.implicits._
    val even = Seq(("g", 5L), ("g", 5L), ("g", 5L), ("g", 5L)).toDF("g", "v")
    assert(Profiling.gini(even, Seq("g"), "v").collect().head.getDouble(1)
      == 0.0)
    // [0,0,0,10]: G = (2*40 - 5*10) / (4*10) = 0.75
    val conc = Seq(("g", 0L), ("g", 0L), ("g", 0L), ("g", 10L)).toDF("g", "v")
    assert(Profiling.gini(conc, Seq("g"), "v").collect().head.getDouble(1)
      == 0.75)
    // shuffled tied input: identical result (rank identity is
    // invariant to tie assignment)
    val shuffled = Seq(("g", 10L), ("g", 0L), ("g", 0L), ("g", 0L)).toDF("g", "v")
    assert(Profiling.gini(shuffled, Seq("g"), "v").collect().head.getDouble(1)
      == 0.75)
  }

  test("gini: all-zero mass reports NULL, nulls filtered, n counted") {
    import graft.operators.Profiling
    import spark.implicits._
    val zeros = Seq(("g", Some(0L)), ("g", Some(0L)), ("g", None))
      .toDF("g", "v")
    val r = Profiling.gini(zeros, Seq("g"), "v").collect().head
    assert(r.isNullAt(1), "sx = 0 -> NULL, not a division blow-up")
    assert(r.getLong(2) == 2L, "null row filtered before counting")
  }

  // ---- chiSquare ----

  test("chiSquare: independence 0, perfect 2x2 association chi2=n V=1") {
    import graft.operators.Profiling
    import spark.implicits._
    // balanced checkerboard: O == E everywhere
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Profiling.chiSquare(indep, "a", "b").collect().head
    assert(i.getDouble(0) == 0.0)
    assert(i.getLong(1) == 1L, "dof (2-1)(2-1)")
    assert(i.getDouble(2) == 0.0)
    // diagonal-only: chi2 = n, V = 1
    val perfect = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val p = Profiling.chiSquare(perfect, "a", "b").collect().head
    assert(p.getDouble(0) == 4.0)
    assert(p.getDouble(2) == 1.0)
  }

  test("chiSquare: empty cells contribute their expected mass") {
    import graft.operators.Profiling
    import spark.implicits._
    // 2x2 with one empty cell: O = [[2,0],[1,1]]
    // E = [[1.5,0.5],[1.5,0.5]]; chi2 = 1/6+1/2+1/6+1/2 = 4/3
    val df = Seq(("x", "p"), ("x", "p"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val r = Profiling.chiSquare(df, "a", "b").collect().head
    assert(math.abs(r.getDouble(0) - 4.0 / 3) < 1e-6)
  }

  test("chiSquare: constant column -> dof 0, NULL V") {
    import graft.operators.Profiling
    import spark.implicits._
    val df = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    val r = Profiling.chiSquare(df, "a", "b").collect().head
    assert(r.getDouble(0) == 0.0 && r.getLong(1) == 0L)
    assert(r.isNullAt(2), "min(r,c)-1 = 0 -> no effect size")
  }

  // ---- bootstrapMeanCI ----

  test("bootstrapMeanCI: point mass collapses the interval exactly") {
    import graft.operators.Sampling
    import spark.implicits._
    val df = (1L to 50L).map(i => ("g", i, 7L)).toDF("g", "id", "v")
    val r = Sampling.bootstrapMeanCI(df, Seq("g"), "v", "id",
      replicas = 20, loRank = 2, hiRank = 19).collect().head
    assert(r.getDouble(1) == 7.0)
    assert(r.getDouble(2) == 7.0 && r.getDouble(3) == 7.0,
      "every replica mean of a constant is the constant")
    assert(r.getLong(4) == 50L)
  }

  test("bootstrapMeanCI: interval brackets the mean and is ordered") {
    import graft.operators.Sampling
    import spark.implicits._
    val df = (1L to 200L).map(i => ("g", i, i % 17)).toDF("g", "id", "v")
    val r = Sampling.bootstrapMeanCI(df, Seq("g"), "v", "id").collect().head
    val (mean, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(lo <= hi)
    assert(lo <= mean && mean <= hi,
      s"3rd/38th order stats bracket the sample mean: $lo $mean $hi")
    assert(lo < hi, "a non-degenerate sample has real width")
  }

  test("bootstrapMeanCI: deterministic across runs, ranks validated") {
    import graft.operators.Sampling
    import spark.implicits._
    val df = (1L to 40L).map(i => ("g", i, i)).toDF("g", "id", "v")
    def run() = Sampling.bootstrapMeanCI(df, Seq("g"), "v", "id",
      replicas = 16, loRank = 1, hiRank = 16).collect().head.toSeq
    assert(run() == run(), "md5 draws are seedless and stable")
    intercept[IllegalArgumentException] {
      Sampling.bootstrapMeanCI(df, Seq("g"), "v", "id",
        replicas = 10, loRank = 0, hiRank = 10)
    }
    intercept[IllegalArgumentException] {
      Sampling.bootstrapMeanCI(df, Seq("g"), "v", "id",
        replicas = 10, loRank = 5, hiRank = 11)
    }
  }

  test("PoissonCdf: monotone thresholds matching exp(-1) mass") {
    import graft.operators.Sampling
    val c = Sampling.PoissonCdf
    assert(c.size == 6)
    assert(math.abs(c.head - math.exp(-1.0)) < 1e-15)
    assert(c.sliding(2).forall(p => p(0) < p(1)))
    assert(c.last < 1.0 && c.last > 0.999)
  }

  // ---- confusionPanel ----

  test("confusionPanel: perfect, inverted, and boundary-inclusive") {
    import spark.implicits._
    val df = Seq(
      ("a", 0.9, 1), ("a", 0.8, 1), ("a", 0.7, 0), ("a", 0.6, 0),
      ("b", 0.9, 0), ("b", 0.8, 0), ("b", 0.7, 1), ("b", 0.6, 1),
    ).toDF("g", "score", "lbl")
    val out = RankEval.confusionPanel(df, "g", "score",
        col("lbl") === 1, threshold = 0.75)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getLong(1) == 2 && a.getLong(4) == 2, "a: tp=2 tn=2")
    assert(a.getDouble(5) == 1.0 && a.getDouble(6) == 1.0
      && a.getDouble(7) == 1.0 && a.getDouble(8) == 1.0
      && a.getDouble(9) == 1.0, "a: all metrics 1")
    val b = out("b")
    assert(b.getLong(2) == 2 && b.getLong(3) == 2, "b: fp=2 fn=2")
    assert(b.getDouble(9) == -1.0, "b: mcc -1")
    // score == threshold predicts POSITIVE (>= contract)
    val edge = Seq(("g", 0.75, 0)).toDF("g", "score", "lbl")
    assert(RankEval.confusionPanel(edge, "g", "score", col("lbl") === 1,
      0.75).collect().head.getLong(2) == 1, "boundary row is fp")
  }

  test("confusionPanel: single-class group NULLs mcc, keeps rates") {
    import spark.implicits._
    val df = Seq(("g", 0.9, 1), ("g", 0.1, 1)).toDF("g", "score", "lbl")
    val r = RankEval.confusionPanel(df, "g", "score", col("lbl") === 1,
      0.5).collect().head
    assert(r.getDouble(7) == 0.5, "recall tp/(tp+fn) = 1/2")
    assert(r.isNullAt(9), "tn+fp = 0 -> NULL mcc")
    assert(r.getDouble(5) == 0.5, "accuracy 1/2")
  }

  // ---- logLoss ----

  test("logLoss: coin-flip 0.693147, near-perfect ~0, NULLs excluded") {
    import spark.implicits._
    val half = Seq(("g", 0.5, 1), ("g", 0.5, 0)).toDF("g", "conf", "y")
    assert(RankEval.logLoss(half, "g", col("conf"), col("y") === 1)
      .collect().head.getDouble(2) == 0.693147)
    val perfect = Seq(("g", 1.0, 1), ("g", 0.0, 0)).toDF("g", "conf", "y")
    val p = RankEval.logLoss(perfect, "g", col("conf"), col("y") === 1)
      .collect().head
    assert(p.getDouble(2) < 1e-5, s"clamped-perfect ~0, got ${p.getDouble(2)}")
    val withNull = Seq(("g", Some(0.5), 1), ("g", None, 0))
      .toDF("g", "conf", "y")
    assert(RankEval.logLoss(withNull, "g", col("conf"), col("y") === 1)
      .collect().head.getLong(1) == 1, "NULL conf excluded from n")
  }

  test("logLoss: confident-wrong costs ~13.8 nats (clamp floor)") {
    import spark.implicits._
    val wrong = Seq(("g", 1.0, 0)).toDF("g", "conf", "y")
    val v = RankEval.logLoss(wrong, "g", col("conf"), col("y") === 1)
      .collect().head.getDouble(2)
    assert(math.abs(v - (-math.log(1e-6))) < 1e-3, s"got $v")
  }

  // ---- averagePrecision ----

  test("averagePrecision: hand value, all-negative NULL, id tiebreak") {
    import spark.implicits._
    val df = Seq(
      ("g", 0.9, 1L, 1), ("g", 0.8, 2L, 0), ("g", 0.7, 3L, 1),
      ("g", 0.6, 4L, 0),
    ).toDF("g", "score", "id", "y")
    val r = RankEval.averagePrecision(df, "g", "score", "id",
      col("y") === 1).collect().head
    // positives at ranks 1 (prec 1) and 3 (prec 2/3): AP = 5/6
    assert(r.getDouble(3) == 0.833333, s"got ${r.getDouble(3)}")
    val neg = Seq(("g", 0.9, 1L, 0)).toDF("g", "score", "id", "y")
    assert(RankEval.averagePrecision(neg, "g", "score", "id",
      col("y") === 1).collect().head.isNullAt(3))
    // tie on score: id ASC wins — positive at id 1 ranks FIRST
    val tie = Seq(("g", 0.5, 1L, 1), ("g", 0.5, 2L, 0))
      .toDF("g", "score", "id", "y")
    assert(RankEval.averagePrecision(tie, "g", "score", "id",
      col("y") === 1).collect().head.getDouble(3) == 1.0)
  }

  // ---- hosmerLemeshow ----

  test("hosmerLemeshow: perfect calibration scores 0, degenerate bins drop") {
    import spark.implicits._
    val df = Seq((0.5, 1), (0.5, 1), (0.5, 0), (0.5, 0),
      (0.0, 0), (0.0, 0)).toDF("conf", "y")
    val r = RankEval.hosmerLemeshow(df, col("conf"), col("y") === 1,
      bins = 10).collect().head
    assert(r.getLong(0) == 6 && r.getLong(1) == 1,
      s"pi = 0 bin excluded from k: $r")
    assert(r.getDouble(3) == 0.0, "O == E -> zero statistic")
    // miscalibrated: conf 0.9 but half positive -> big term
    val bad = Seq.fill(10)((0.9, 1)) ++ Seq.fill(10)((0.9, 0))
    val rb = RankEval.hosmerLemeshow(bad.toDF("conf", "y"), col("conf"),
      col("y") === 1, bins = 10).collect().head
    // O = 10, E = 18, n = 20, pi = .9: (8^2)/(20*.9*.1) = 35.555556
    assert(rb.getDouble(3) == 35.555556, rb.toString)
  }

  // ---- reciprocalRank ----

  test("reciprocalRank: first hit, no-hit zero, depth cut") {
    import spark.implicits._
    val ranked = Seq(
      ("q1", "a", 1L), ("q1", "b", 2L), ("q1", "c", 3L),
      ("q2", "x", 1L), ("q2", "y", 11L),
    ).toDF("q", "item", "rnk")
    val rel = Seq(("q1", "b"), ("q1", "c"), ("q2", "y"), ("q3", "z"))
      .toDF("q", "item")
    val out = RankEval.reciprocalRank(ranked, rel, "q", "item", "rnk",
        depth = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("q1").getLong(1) == 2 && out("q1").getDouble(2) == 0.5,
      "first relevant at rank 2")
    assert(out("q2").isNullAt(1) && out("q2").getDouble(2) == 0.0,
      "only relevant item is past depth")
    assert(out("q3").isNullAt(1) && out("q3").getDouble(2) == 0.0,
      "relevance-only query emits 0")
  }

  // ---- round-13 additions ----

  test("brierDecomposition: perfectly calibrated 0/1 confidences -> REL 0, identity holds") {
    import spark.implicits._
    val df = (Seq.fill(6)((1.0, true)) ++ Seq.fill(4)((0.0, false)))
      .toDF("conf", "y")
    val r = RankEval.brierDecomposition(df, col("conf"), col("y"), bins = 10)
      .collect().head
    val (rel, res, unc, brier) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(rel == 0.0, s"perfect calibration: $rel")
    assert(math.abs(brier - (rel - res + unc)) < 1e-9, "Murphy identity")
    assert(math.abs(unc - 0.6 * 0.4) < 1e-9)
    assert(math.abs(res - unc) < 1e-9,
      "perfectly separated bins resolve ALL the uncertainty")
    assert(brier == 0.0, "binned Brier of a perfect forecaster is 0")
  }

  test("brierDecomposition: constant base-rate forecaster has RES 0, brier = UNC") {
    import spark.implicits._
    val df = (Seq.fill(3)((0.5, true)) ++ Seq.fill(3)((0.5, false)))
      .toDF("conf", "y")
    val r = RankEval.brierDecomposition(df, col("conf"), col("y"), bins = 10)
      .collect().head
    assert(r.getDouble(3) == 0.0, "one bin at the base rate: no resolution")
    assert(r.getDouble(2) == 0.0, "0.5 vs 0.5 accuracy: no reliability gap")
    assert(r.getDouble(5) == 0.25, "brier = UNC = 0.25")
  }

  test("classReport: per-class cells, pred-only class, zero-denominator NULLs") {
    import spark.implicits._
    val df = Seq(
      ("a", "a"), ("a", "a"), ("a", "b"),   // a: tp 2 of 3 actual
      ("b", "a"), ("b", "b"),               // b: tp 1 of 2 actual
      ("c", "x"), ("c", "x")                // c never predicted; x never actual
    ).toDF("act", "pred")
    val rows = RankEval.classReport(df, "act", "pred").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("a").getLong(1) == 3 && rows("a").getLong(2) == 3
      && rows("a").getLong(3) == 2)
    assert(rows("a").getDouble(4) == 0.666667 && rows("a").getDouble(5) == 0.666667)
    assert(rows("c").getLong(3) == 0 && rows("c").isNullAt(4),
      "never-predicted class: precision NULL (0 predictions)")
    assert(rows("c").getDouble(5) == 0.0, "recall 0 of 2")
    assert(rows("c").isNullAt(6), "P NULL -> F1 NULL")
    assert(rows("x").getLong(1) == 0 && rows("x").getLong(2) == 2
      && rows("x").isNullAt(5), "pred-only class keeps its row, recall NULL")
  }

  test("positionAttribution: hand paths — U 40/20/40, linear 1/k, direct") {
    import spark.implicits._
    // u1: a,b,c -> CONV ; u2: a -> CONV ; u3: CONV with no touches ;
    // u4: touches but never converts (no credit)
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "CONV"),
      (2L, 1L, "a"), (2L, 2L, "CONV"),
      (3L, 1L, "CONV"),
      (4L, 1L, "a"), (4L, 2L, "b")
    ).toDF("user", "ts", "ch")
    val out = graft.operators.EventWindows.positionAttribution(
        ev, "user", "ts", "ts", "ch", col("ch") === "CONV")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out("a") == ((2L, 1.333333, 1.4)),
      s"a: 1/3 + 1 linear, 0.4 + 1.0 U: ${out("a")}")
    assert(out("b") == ((1L, 0.333333, 0.2)), out("b").toString)
    assert(out("c") == ((1L, 0.333333, 0.4)), out("c").toString)
    assert(out("direct") == ((1L, 1.0, 1.0)), "u3 converts with no touches")
    assert(!out.contains("CONV"), "conversions are not channels")
    // u4's touches earn nothing: totals conserve conversions
    assert(math.abs(out.values.map(_._2).sum - 3.0) < 1e-6,
      "sum of linear credit == number of conversions")
    assert(math.abs(out.values.map(_._3).sum - 3.0) < 1e-6,
      "sum of U credit == number of conversions")
  }

  test("decayAttribution: half-life halves the weight; credits conserve") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // u1: a two hours out, b one hour out, conversion at 12:00 —
    // with a 1 h half-life: w_a = 2^-2 = 0.25, w_b = 2^-1 = 0.5 →
    // credits 1/3 and 2/3. u2: direct. u3: touch, never converts.
    val ev = Seq(
      (1L, t("2024-03-01 10:00:00"), 1L, "a"),
      (1L, t("2024-03-01 11:00:00"), 2L, "b"),
      (1L, t("2024-03-01 12:00:00"), 3L, "CONV"),
      (2L, t("2024-03-01 09:00:00"), 4L, "CONV"),
      (3L, t("2024-03-01 09:30:00"), 5L, "a")
    ).toDF("user", "ts", "eid", "ch")
    val out = graft.operators.EventWindows.decayAttribution(
        ev, "user", "ts", "eid", "ch", col("ch") === "CONV",
        halfLifeSeconds = 3600L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("a") == ((1L, 0.333333)), out.toString)
    assert(out("b") == ((1L, 0.666667)), out.toString)
    assert(out("direct") == ((1L, 1.0)), out.toString)
    assert(!out.contains("CONV"))
    assert(math.abs(out.values.map(_._2).sum - 2.0) < 1e-5,
      "credit conserves conversions")
    // recency dial: a longer half-life flattens toward equal credit
    val flat = graft.operators.EventWindows.decayAttribution(
        ev, "user", "ts", "eid", "ch", col("ch") === "CONV",
        halfLifeSeconds = 360000L)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(flat("b") - flat("a") < 0.1 && flat("b") > flat("a"),
      s"long half-life flattens but keeps recency order: $flat")
    intercept[IllegalArgumentException](
      graft.operators.EventWindows.decayAttribution(
        ev, "user", "ts", "eid", "ch", col("ch") === "CONV", 0L))
  }

  test("decayAttribution: all-stale path still credits exactly one unit") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // every touch predates the conversion by >> 40 half-lives (1 s
    // half-life, hours-old touches): every weight freezes to 0 at
    // 12 dp, so the per-path normalizer is 0 — the r15 ADVICE fix
    // falls back to crediting the LAST touch with 1.0 instead of
    // NULLing the credits and dropping the conversion's unit
    val ev = Seq(
      (1L, t("2024-03-01 06:00:00"), 1L, "a"),
      (1L, t("2024-03-01 07:00:00"), 2L, "b"),
      (1L, t("2024-03-01 12:00:00"), 3L, "CONV")
    ).toDF("user", "ts", "eid", "ch")
    val out = graft.operators.EventWindows.decayAttribution(
        ev, "user", "ts", "eid", "ch", col("ch") === "CONV",
        halfLifeSeconds = 1L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("b") == ((1L, 1.0)),
      s"last (most recent) touch takes the whole unit: $out")
    assert(out("a") == ((1L, 0.0)), out.toString)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9,
      s"credit conserves the conversion even when all weights freeze to 0: $out")
  }

  test("expectedReciprocalRank: hand cascade values and grade clamping") {
    import spark.implicits._
    val df = Seq(
      // group a: grades 4,2,0 by score order -> R = 1, 3/16, 0
      ("a", 10.0, 1L, 4L), ("a", 9.0, 2L, 2L), ("a", 8.0, 3L, 0L),
      // group b: grades 2,2 -> R = 3/16 each
      ("b", 5.0, 4L, 2L), ("b", 4.0, 5L, 2L),
      // group c: grade clamps (7 -> 4, -2 -> 0)
      ("c", 2.0, 6L, 7L), ("c", 1.0, 7L, -2L)
    ).toDF("g", "s", "t", "gr")
    val out = graft.operators.RankEval.expectedReciprocalRank(
        df, "g", "s", "t", "gr", maxGrade = 4, k = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // standard mapping: R = (2^g − 1)/2^gmax, so R(gmax) = 15/16 — a
    // near-certain (not certain) stop, per Chapelle et al.
    val rMax = 15.0 / 16.0
    val r = 3.0 / 16.0
    // a: 15/16 + (1/2)(3/16)(1 − 15/16) + 0
    assert(math.abs(out("a") - (rMax + r * (1 - rMax) / 2.0)) < 1e-6,
      out("a").toString)
    // b: 3/16 + (1/2)(3/16)(13/16)
    assert(math.abs(out("b") - (r + r * (1 - r) / 2.0)) < 1e-6, out("b").toString)
    // c: clamp 7 -> 4 gives R = 15/16; rank-2 grade clamps -2 -> 0
    assert(math.abs(out("c") - rMax) < 1e-6, out("c").toString)
  }

  test("markovAttribution: hand chain removal effects and shares") {
    import spark.implicits._
    // START->a (2/3), START->b (1/3); a->CONV .5, a->NULL .5; b->CONV 1
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "CONV"),
      (2L, 1L, "a"),                 // never converts -> a->NULL
      (3L, 1L, "b"), (3L, 2L, "CONV")
    ).toDF("user", "ts", "ch")
    val out = graft.operators.EventWindows.markovAttribution(
        ev, "user", "ts", "ts", "ch", col("ch") === "CONV")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    // base: 2/3*1/2 + 1/3*1 = 2/3
    assert(out("__base__")._1 == 0.666667, out.toString)
    // remove a: only b's third converts -> p 1/3, effect 1 - .5 = .5
    assert(out("a") == ((0.333333, 0.5, 0.5)), out("a").toString)
    // remove b: p = 2/3 * 1/2 = 1/3, effect .5, share .5
    assert(out("b") == ((0.333333, 0.5, 0.5)), out("b").toString)
    assert(!out.contains("CONV") && !out.contains("START"))
    // driver fast path ≡ distributed loop, bit-identical
    val dist = withDriverPathMaxRows(-1L)(
      graft.operators.EventWindows.markovAttribution(
        ev, "user", "ts", "ts", "ch", col("ch") === "CONV"))
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    val fast = graft.operators.EventWindows.markovAttribution(
        ev, "user", "ts", "ts", "ch", col("ch") === "CONV")
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    assert(fast == dist, s"paths diverged:\n$fast\n$dist")
  }

  test("qiniCurve: perfect uplift model front-loads qini; counts conserve") {
    import spark.implicits._
    // score separates persuadables (convert IFF treated) from duds
    val rows = (1 to 40).map { i =>
      val persuadable = i <= 20
      val t = i % 2 == 0
      (i.toLong, if (persuadable) 1.0 else 0.0, t,
        if (persuadable) t else false)
    }.toDF("id", "s", "t", "y")
    val out = graft.operators.RankEval.qiniCurve(rows, "id", "s",
        col("t"), col("y"), buckets = 4)
      .collect().sortBy(_.getLong(0))
    assert(out.length == 4)
    // first half (buckets 1-2) holds all persuadables: uplift 1.0
    assert(out(0).getDouble(5) == 1.0 && out(1).getDouble(5) == 1.0,
      out.mkString(","))
    // last buckets add nothing: qini flat after bucket 2
    assert(out(2).getDouble(6) == out(1).getDouble(6)
      && out(3).getDouble(6) == out(1).getDouble(6), out.mkString(","))
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum == 40)
    // qini at full depth = total incremental conversions (10 - 0*1)
    assert(out(3).getDouble(6) == 10.0, out(3).toString)
  }

  test("itemKnnRecommend: hand cosines, owned items never recommended, " +
      "rank total order holds") {
    import spark.implicits._
    // users 1,2 own {A,B}; user 3 owns {A,C}:
    // cos(A,B) = 2/sqrt(3*2) = .816497, cos(A,C) = 1/sqrt(3) = .57735
    val hist = Seq((1, "A"), (1, "B"), (2, "A"), (2, "B"),
      (3, "A"), (3, "C")).toDF("u", "i")
    val rec = graft.operators.Scoring
      .itemKnnRecommend(hist, "u", "i", topN = 2)
      .collect().map(r => (r.getInt(0), r.getString(1),
        r.getDouble(2), r.getInt(3)))
    val byUser = rec.groupBy(_._1)
    assert(byUser(1).map(x => (x._2, x._3)).toSet === Set(("C", 0.57735)),
      rec.mkString(","))
    assert(byUser(2).map(x => (x._2, x._3)).toSet === Set(("C", 0.57735)),
      rec.mkString(","))
    assert(byUser(3).map(x => (x._2, x._3)).toSet === Set(("B", 0.816497)),
      rec.mkString(","))
    // nothing owned comes back; ranks start at 1
    assert(rec.forall(_._4 >= 1) &&
      !rec.exists { case (u, i, _, _) =>
        hist.collect().exists(h => h.getInt(0) == u && h.getString(1) == i)
      })
  }

  test("itemKnnRecommend: maxHistory caps the pair stage on the " +
      "deterministic smallest-item survivor set; anti-join still sees " +
      "the FULL history; cap >= history is a no-op") {
    import spark.implicits._
    // hub user 1 owns {A,B,C,D}; users 2,3 share small baskets.
    val hist = Seq((1, "A"), (1, "B"), (1, "C"), (1, "D"),
      (2, "A"), (2, "B"), (3, "C"), (3, "D")).toDF("u", "i")
    def run(cap: Int) = graft.operators.Scoring
      .itemKnnRecommend(hist, "u", "i", topN = 3, maxNeighbors = 10,
        maxHistory = cap)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // cap 2 on user 1 keeps {A,B} (smallest items — the deterministic
    // survivor set), so the capped run equals the run on the manually
    // capped history
    val manual = Seq((1, "A"), (1, "B"),
      (2, "A"), (2, "B"), (3, "C"), (3, "D")).toDF("u", "i")
    val manualOut = graft.operators.Scoring
      .itemKnnRecommend(manual, "u", "i", topN = 3, maxNeighbors = 10)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(run(2) === manualOut)
    // a big cap changes nothing
    assert(run(1000) === run(4))
    // owned items NEVER come back even when the cap hid them from the
    // expansion (user 1 owns C,D beyond cap 2 — they must not appear)
    assert(!run(2).contains((1, "C")) && !run(2).contains((1, "D")))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Scoring.itemKnnRecommend(hist, "u", "i",
        topN = 1, maxHistory = 0)
    }
    assert(e.getMessage.contains("maxHistory"))
  }

  test("recommendationEval: hand coverage/novelty/diversity; no-pair " +
      "rec lists report NULL diversity") {
    import spark.implicits._
    val hist = Seq((1, "A"), (1, "B"), (2, "A"), (2, "B"),
      (3, "A"), (3, "C")).toDF("u", "i")
    val recs = Seq((1, "C"), (2, "C"), (3, "B"), (3, "C")).toDF("u", "i")
    val r = graft.operators.Scoring
      .recommendationEval(hist, "u", "i", recs, "u", "i").collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 4L
      && r.getLong(2) === 3L, r.toString)
    assert(r.getDouble(3) === 0.666667, r.toString)
    // novelty = mean of -ln(pop): C x3 (-ln(1/3)), B x1 (-ln(2/3))
    assert(r.getDouble(4) === 0.925325, r.toString)
    // the only pair (B, C) never co-occurs -> full diversity
    assert(r.getDouble(5) === 1.0, r.toString)
    val single = Seq((1, "C"), (2, "C")).toDF("u", "i")
    val s = graft.operators.Scoring
      .recommendationEval(hist, "u", "i", single, "u", "i").collect().head
    assert(s.isNullAt(5), s.toString)
  }

  test("ipsEvaluate: hand fixture matches the textbook estimator; " +
      "replaying the logging policy SNIPS to the plain mean reward; " +
      "bad propensity on a matched row is loud") {
    import spark.implicits._
    // uniform logging (p = .5 each), target always A:
    // w = 2 on the two A rows; IPS = (2*1 + 2*3)/4 = 2.0,
    // SNIPS = (2+6)/4 = 2.0, ESS = (4)^2/8 = 2 (the matched count)
    val logged = Seq(("A", 1.0, 0.5, "A"), ("B", 9.0, 0.5, "A"),
      ("A", 3.0, 0.5, "A"), ("B", 7.0, 0.5, "A"))
      .toDF("a", "r", "p", "tgt")
    val one = graft.operators.Scoring
      .ipsEvaluate(logged, "a", "r", "p", "tgt").collect().head
    assert(one.getLong(0) === 4L && one.getLong(1) === 2L, one.toString)
    assert(one.getDouble(2) === 2.0 && one.getDouble(3) === 2.0
      && one.getDouble(4) === 2.0, one.toString)
    // target == logged action: SNIPS returns exactly the mean reward
    val self = logged.withColumn("tgt", col("a"))
    val r = graft.operators.Scoring
      .ipsEvaluate(self, "a", "r", "p", "tgt").collect().head
    assert(r.getDouble(3) === 5.0, s"SNIPS(logging policy) = mean r: $r")
    val bad = Seq(("A", 1.0, 0.0, "A")).toDF("a", "r", "p", "tgt")
    val e = intercept[Exception] {
      graft.operators.Scoring.ipsEvaluate(bad, "a", "r", "p", "tgt")
        .collect()
    }
    assert(e.getMessage.contains("propensity")
      || Option(e.getCause).exists(_.getMessage.contains("propensity")),
      e.getMessage)
  }

  test("bradleyTerry: transitive tournament orders the strengths; " +
      "zero-win item scores 0; undefeated item stays finite at 1") {
    import spark.implicits._
    // a beats b 3x, b beats c 3x, a beats c 3x; d loses every game
    val games = (Seq.fill(3)(("a", "b")) ++ Seq.fill(3)(("b", "c")) ++
      Seq.fill(3)(("a", "c")) ++ Seq.fill(2)(("a", "d")) ++
      Seq.fill(2)(("b", "d")) ++ Seq.fill(2)(("c", "d")))
      .toDF("w", "l")
    val out = graft.operators.RankEval.bradleyTerry(games, "w", "l")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val (aG, aW, aS) = out("a"); val (_, _, bS) = out("b")
    val (_, _, cS) = out("c"); val (dG, dW, dS) = out("d")
    assert(aG === 8L && aW === 8L, out.toString) // undefeated
    assert(aS === 1.0, s"sup-normalized undefeated leader: $out")
    assert(aS > bS && bS > cS && cS > dS, out.toString)
    assert(dG === 6L && dW === 0L && dS === 0.0,
      s"all-losses item must score exactly 0: $out")
    intercept[IllegalArgumentException] {
      graft.operators.RankEval.bradleyTerry(games, "w", "l", maxItems = 2)
    }
  }
  test("weightedKappa: perfect agreement 1, chance-level squared " +
      "disagreement 0, all-integer cells") {
    import spark.implicits._
    val perfect = Seq((0L, 0L), (1L, 1L)).toDF("a", "b")
    val p = graft.operators.RankEval.weightedKappa(perfect,
      col("a"), col("b")).collect().head
    assert(p.getLong(0) == 2L && p.getDouble(1) == 1.0, p.toString)
    // cells (0,0)x2 and (0,2)x2: num = 8, den = 32 -> kappa_w = 0
    val chance = Seq((0L, 0L), (0L, 0L), (0L, 2L), (0L, 2L))
      .toDF("a", "b")
    val c = graft.operators.RankEval.weightedKappa(chance,
      col("a"), col("b")).collect().head
    assert(c.getDouble(1) == 0.0, c.toString)
    // zero chance disagreement (one category both sides) -> NULL
    val degen = Seq((1L, 1L), (1L, 1L)).toDF("a", "b")
    val d = graft.operators.RankEval.weightedKappa(degen,
      col("a"), col("b")).collect().head
    assert(d.isNullAt(1), d.toString)
  }
  test("ksStatistic: a clean separator peaks where the classes " +
      "split; ties take the lowest edge") {
    import spark.implicits._
    // scores 1..20, positives are the top half: KS peaks at the split
    val df = (1 to 20).map(i => (i.toDouble, i > 10)).toDF("s", "y")
    val r = graft.operators.RankEval.ksStatistic(df, "s", col("y"),
      bins = 10).collect().head
    assert(r.getDouble(0) == 1.0, r.toString) // perfect separation
    // the earliest threshold achieving the peak wins
    assert(r.getLong(1) == 5L, r.toString)
  }

  test("frequentTriples: planted triple surfaces with exact support; " +
      "anti-monotonicity holds; a capped-out pair kills its triples") {
    import spark.implicits._
    // 30 baskets {p,q,r}, 25 baskets {p,q,s}, 40 baskets {p,q} only,
    // 100 singleton-noise baskets: with minSupport 20 the planted
    // triples are exactly {p,q,r} (30) and {p,q,s} (25)
    val rows =
      (0 until 30).flatMap(i => Seq("p", "q", "r").map((s"t$i", _))) ++
      (0 until 25).flatMap(i => Seq("p", "q", "s").map((s"u$i", _))) ++
      (0 until 40).flatMap(i => Seq("p", "q").map((s"v$i", _))) ++
      (0 until 100).map(i => (s"w$i", s"z${i % 50}"))
    val df = rows.toDF("basket", "item")
    val out = graft.operators.Baskets.frequentTriples(df, "basket",
        "item", minSupport = 20L, topKPairs = 50)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(out == Map(("p", "q", "r") -> 30L, ("p", "q", "s") -> 25L),
      out.toString)
    // anti-monotonicity: triple support never exceeds any pair's.
    // pair supports here: pq = 95, pr = qr = 30, ps = qs = 25
    assert(out(("p", "q", "r")) <= 30L && out(("p", "q", "s")) <= 25L)
    // cap the pair level to ONE pair: a triple needs all THREE of
    // its pairs in the capped set, so nothing can survive
    val capped = graft.operators.Baskets.frequentTriples(df, "basket",
      "item", minSupport = 20L, topKPairs = 1).collect()
    assert(capped.isEmpty, capped.toSeq.toString)
    intercept[IllegalArgumentException] {
      graft.operators.Baskets.frequentTriples(df, "basket", "item",
        0L, 10)
    }
  }

  test("frequentTriples: the r18 driver fast path equals the " +
      "distributed apriori row-for-row (cap binding and not, " +
      "support/lift doubles included)") {
    import spark.implicits._
    // richer co-occurrence so several triples survive and the cap's
    // (count DESC, a, b) order matters
    val rows =
      (0 until 30).flatMap(i => Seq("p", "q", "r").map((s"t$i", _))) ++
      (0 until 25).flatMap(i => Seq("p", "q", "s").map((s"u$i", _))) ++
      (0 until 22).flatMap(i => Seq("q", "r", "s").map((s"x$i", _))) ++
      (0 until 40).flatMap(i => Seq("p", "q").map((s"v$i", _))) ++
      (0 until 100).map(i => (s"w$i", s"z${i % 50}"))
    val df = rows.toDF("basket", "item")
    for (cap <- Seq(2, 4, 50)) {
      val fast = graft.operators.Baskets.frequentTriples(df, "basket",
        "item", minSupport = 20L, topKPairs = cap)
        .collect().map(_.toSeq).toSet
      val dist = withDriverPathMaxRows(0)(
        graft.operators.Baskets.frequentTriples(df, "basket",
          "item", minSupport = 20L, topKPairs = cap))
        .collect().map(_.toSeq).toSet
      assert(fast === dist, s"cap=$cap")
    }
  }
}
