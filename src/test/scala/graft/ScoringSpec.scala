package graft

import org.apache.spark.sql.functions._

import graft.operators.{EventWindows, Scoring, TextAnalysis}

/** Hand-computed fixtures for the customer-scoring, attribution, and
  * inverted-index operators (round 9).
  */
class ScoringSpec extends SparkTestBase {

  // ---- rfm ----

  test("rfm hand fixture: ranks, tiles, and exact decimal monetary") {
    import spark.implicits._
    // anchor = 2024-01-10. recency: A 0d, C 2d, B 5d, D 9d.
    // frequency: A 3, C 2, B 1, D 1. monetary: C 500, A 300, B 50, D 10.
    val orders = Seq(
      ("A", "2024-01-10", 100.0), ("A", "2024-01-05", 100.0),
      ("A", "2024-01-01", 100.0),
      ("B", "2024-01-05", 50.0),
      ("C", "2024-01-08", 250.0), ("C", "2024-01-02", 250.0),
      ("D", "2024-01-01", 10.0))
      .toDF("cust", "d", "amt")
      .select(col("cust"), col("d").cast("date").as("d"), col("amt"))
    val out = Scoring.rfm(orders, "cust", "d", "amt", nTiles = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    // tile of rank r (N=4, n=2): score = 2 - (r-1)*2/4 -> r1,r2 => 2; r3,r4 => 1
    assert(out("A") == ((0L, 3L, 300.0, 2L, 2L, 2L, 222L)), out("A").toString)
    assert(out("C") == ((2L, 2L, 500.0, 2L, 2L, 2L, 222L)), out("C").toString)
    assert(out("B") == ((5L, 1L, 50.0, 1L, 1L, 1L, 111L)), out("B").toString)
    assert(out("D") == ((9L, 1L, 10.0, 1L, 1L, 1L, 111L)), out("D").toString)
  }

  test("rfm tiles are balanced: each score bucket holds N/n ± 1 customers") {
    import spark.implicits._
    val orders = (1 to 23).map(i =>
      (f"c$i%02d", f"2024-01-${(i % 9) + 1}%02d", i * 7.0))
      .toDF("cust", "d", "amt")
      .select(col("cust"), col("d").cast("date").as("d"), col("amt"))
    val out = Scoring.rfm(orders, "cust", "d", "amt", nTiles = 5)
    val sizes = out.groupBy("m_score").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // 23 customers over 5 closed-form tiles: sizes 5,5,5,4,4
    assert(sizes.values.toSeq.sorted == Seq(4L, 4L, 5L, 5L, 5L), sizes.toString)
  }

  // ---- revenueConcentration ----

  test("revenueConcentration hand fixture: top bucket holds the whales") {
    import spark.implicits._
    val orders = Seq(("A", 300.0), ("B", 50.0), ("C", 500.0), ("D", 10.0))
      .toDF("cust", "amt")
    val rows = Scoring.revenueConcentration(orders, "cust", "amt", buckets = 2)
      .orderBy("bucket").collect()
    assert(rows.length == 2)
    // bucket 1 = {C 500, A 300} = 800 of 860; bucket 2 = {B, D} = 60
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 2L
      && rows(0).getDouble(2) == 800.0)
    assert(rows(0).getDouble(3) == math.rint(800.0 / 860.0 * 1e6) / 1e6)
    assert(rows(0).getDouble(4) == rows(0).getDouble(3), "cum = share for bucket 1")
    assert(rows(1).getDouble(2) == 60.0 && rows(1).getDouble(4) == 1.0)
  }

  // ---- touchAttribution ----

  test("touchAttribution hand fixture: first/last credits and direct") {
    import spark.implicits._
    val ev = Seq(
      ("u1", 1L, 1L, "view"), ("u1", 2L, 2L, "click"),
      ("u1", 3L, 3L, "purchase"), ("u1", 4L, 4L, "purchase"),
      ("u2", 1L, 5L, "purchase"))
      .toDF("user", "t", "eid", "etype")
    val out = EventWindows.touchAttribution(ev, "user", "t", "eid", "etype",
        col("etype") === "purchase")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // u1's two purchases: first touch = view both times; last touch =
    // click both times (the t3 purchase is not a touch candidate).
    // u2's purchase has no prior event -> direct/direct.
    assert(out == Map("view" -> ((2L, 0L)), "click" -> ((0L, 2L)),
      "direct" -> ((1L, 1L))), out.toString)
  }

  // ---- liftCurve ----

  test("liftCurve hand fixture: perfect ranker concentrates capture") {
    import spark.implicits._
    // scores 8..1, positives at the 4 highest scores: bucket 1 (top
    // half) holds all positives -> capture 1.0, lift = (4/4)/(4/8) = 2
    val df = (1 to 8).map(i => (i.toLong, i.toDouble, i >= 5))
      .toDF("id", "s", "y")
    val rows = graft.operators.RankEval
      .liftCurve(df, "id", "s", col("y"), buckets = 2)
      .orderBy("bucket").collect()
    assert(rows(0).getLong(1) == 4L && rows(0).getLong(2) == 4L)
    assert(rows(0).getDouble(3) == 1.0 && rows(0).getDouble(4) == 1.0
      && rows(0).getDouble(5) == 2.0, rows(0).toString)
    assert(rows(1).getLong(2) == 0L && rows(1).getDouble(4) == 1.0
      && rows(1).getDouble(5) == 1.0, rows(1).toString)
  }

  test("liftCurve: random-uniform labels give lift ~1 in every bucket; " +
      "all-negative reports NULL capture/lift") {
    import spark.implicits._
    val allNeg = (1 to 6).map(i => (i.toLong, i.toDouble, false))
      .toDF("id", "s", "y")
    val rows = graft.operators.RankEval
      .liftCurve(allNeg, "id", "s", col("y"), buckets = 3)
      .collect()
    rows.foreach(r => assert(r.isNullAt(4) && r.isNullAt(5), r.toString))
  }

  // ---- windowedConversions ----

  test("windowedConversions: inside-window converts, outside doesn't") {
    import java.sql.Timestamp
    import spark.implicits._
    val ev = Seq(
      // u1: click at :00, purchase at :30 -> converts (gap 30 min)
      ("u1", Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click"),
      ("u1", Timestamp.valueOf("2024-01-01 10:30:00"), 2L, "purchase"),
      // u2: click at :00, purchase 2h later -> no conversion
      ("u2", Timestamp.valueOf("2024-01-01 10:00:00"), 3L, "click"),
      ("u2", Timestamp.valueOf("2024-01-01 12:00:00"), 4L, "purchase"),
      // u3: purchase BEFORE the click only -> no conversion
      ("u3", Timestamp.valueOf("2024-01-01 09:00:00"), 5L, "purchase"),
      ("u3", Timestamp.valueOf("2024-01-01 10:00:00"), 6L, "click"))
      .toDF("u", "ts", "eid", "t")
    val r = EventWindows.windowedConversions(ev, "u", "ts", "eid", "t",
      "click", "purchase", windowSeconds = 3600).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L, r.toString)
    assert(r.getDouble(2) == math.rint(1.0 / 3.0 * 1e6) / 1e6, r.toString)
  }

  // ---- booleanRetrieve ----

  test("booleanRetrieve: AND semantics, set matching, tf grades") {
    import spark.implicits._
    val docs = Seq((1L, "spark query spark"), (2L, "spark alone"),
      (3L, "query and spark and query")).toDF("doc_id", "text")
    val and2 = TextAnalysis.booleanRetrieve(docs, "doc_id", "text",
      Seq("spark", "query"), minMatch = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(and2 == Map(1L -> ((2L, 3L)), 3L -> ((2L, 3L))), and2.toString)
    val or1 = TextAnalysis.booleanRetrieve(docs, "doc_id", "text",
      Seq("spark", "query"), minMatch = 1).collect()
    assert(or1.length == 3, "OR semantics matches every doc here")
  }

  // ---- postingLists ----

  test("postingLists hand fixture: dedup, df gates, cap, serialization") {
    import spark.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "b c"), (3L, "c d"))
      .toDF("doc_id", "text")
    // df: a 1, b 2, c 3, d 1. gates [2,2] keep only b.
    val only = TextAnalysis.postingLists(docs, "doc_id", "text",
      minDf = 2, maxDf = 2, maxPostings = 5).collect()
    assert(only.length == 1)
    assert(only(0).getString(0) == "b" && only(0).getLong(1) == 2L
      && only(0).getString(2) == "1,2", only(0).toString)
    // cap below df: postings truncate, df stays the TRUE count
    val capped = TextAnalysis.postingLists(docs, "doc_id", "text",
      minDf = 2, maxDf = 10, maxPostings = 1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(capped == Map("b" -> ((2L, "1")), "c" -> ((3L, "1"))), capped.toString)
  }

  // ---- ALS matrix factorization ----

  test("alsPredict: planted rank-2 structure recovers — every observed " +
      "cell reconstructs within tolerance; deterministic re-run") {
    import spark.implicits._
    // planted factors: users uᵤ = (u%3+1, (u%2)+0.5)/2-ish, items
    // v_i = (i%4+1, i%3+1)·0.3 — ratings are EXACT dot products, so a
    // rank-2 model can fit them; with a light λ=0.01 damping, 4
    // alternations land every prediction within a tight band of the
    // truth (verified against an independent numpy ALS: max |err|
    // 0.046, rmse 0.012 at this exact init/λ/iteration count)
    val cells = for {
      u <- 1L to 30L
      i <- 101L to 112L
      if (u + i) % 3 != 0 // ~2/3 observed — not a full matrix
    } yield {
      val (u1, u2) = ((u % 3 + 1).toDouble * 0.5, (u % 5 + 1).toDouble * 0.3)
      val (v1, v2) = ((i % 4 + 1).toDouble * 0.4, (i % 3 + 1).toDouble * 0.6)
      (u, i, u1 * v1 + u2 * v2)
    }
    val df = cells.toDF("u", "i", "r")
    val out = Scoring.alsPredict(df, "u", "i", "r", iters = 4,
      lambda = 0.01)
    val rows = out.select("rating", "pred").as[(Double, Double)].collect()
    assert(rows.length == cells.length)
    val maxAbs = rows.map { case (r, p) => math.abs(r - p) }.max
    assert(maxAbs < 0.05, s"planted low-rank recovery: max |err| $maxAbs")
    val rmse = math.sqrt(rows.map { case (r, p) =>
      (r - p) * (r - p) }.sum / rows.length)
    assert(rmse < 0.02, s"planted low-rank recovery: rmse $rmse")
    // deterministic: bit-identical on re-run (frozen-decimal folds)
    val again = Scoring.alsPredict(df, "u", "i", "r", iters = 4,
      lambda = 0.01).select("rating", "pred").as[(Double, Double)].collect()
    assert(again.sortBy(_._2).toSeq == rows.sortBy(_._2).toSeq)
  }

  test("alsFactors: the r18 driver fast path equals the distributed " +
      "half-passes row-for-row (both factor sides, negative keys, " +
      "iters 1 and 3)") {
    import spark.implicits._
    val df = ((1 to 60).map(i =>
      ((i % 7).toLong, (i % 9).toLong, 1.0 + (i % 5) * 0.7))
      ++ Seq((-3L, -8L, 2.5), (-3L, 4L, 0.1))) // negative-key % path
      .toDF("u", "i", "r")
    for (it <- Seq(1, 3)) {
      val (fu, fi) = Scoring.alsFactors(df, "u", "i", "r", iters = it)
      val (du, di) = withDriverPathMaxRows(0)(
        Scoring.alsFactors(df, "u", "i", "r", iters = it))
      assert(fu.collect().map(_.toSeq).toSet ===
        du.collect().map(_.toSeq).toSet, s"userF iters=$it")
      assert(fi.collect().map(_.toSeq).toSet ===
        di.collect().map(_.toSeq).toSet, s"itemF iters=$it")
    }
  }

  test("alsRecommend: owned cells never recommended, exactly topN per " +
      "user under the (score DESC, item) order; catalog bound is loud") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 4.0), (2L, 10L, 3.0),
      (2L, 12L, 2.0), (3L, 11L, 1.0)).toDF("u", "i", "r")
    val recs = Scoring.alsRecommend(df, "u", "i", "r", topN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val owned = Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 11L))
    assert(recs.forall { case (u, i, _) => !owned((u, i)) },
      s"an owned cell was recommended: ${recs.mkString(",")}")
    // catalog {10,11,12}: each user owns some, is recommended the rest
    // (≤ topN of them), ranks are 1-based and dense per user
    recs.groupBy(_._1).foreach { case (u, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length),
        s"user $u ranks ${rs.map(_._3).mkString(",")}")
      assert(rs.length <= 2)
    }
    // degenerate single-item catalog: the solve stays finite and the
    // only unseen recommendation set is empty for its owner
    val one = Seq((1L, 10L, 2.0), (2L, 10L, 3.0)).toDF("u", "i", "r")
    assert(Scoring.alsRecommend(one, "u", "i", "r", topN = 3).count() === 0L)
    // the broadcast fan-out guard is loud past maxCatalogItems
    val e = intercept[IllegalArgumentException] {
      Scoring.alsRecommend(df, "u", "i", "r", topN = 1,
        maxCatalogItems = 2).count()
    }
    assert(e.getMessage.contains("catalog"), e.getMessage)
  }
  // ---- shapleyAttribution ----

  test("shapleyAttribution: two symmetric channels split the credit, " +
      "null players get zero, touchless conversions cancel; " +
      "efficiency axiom holds; guards loud") {
    import java.sql.Timestamp
    import spark.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      ("u1", ts(1), "click"), ("u1", ts(2), "purchase"),
      ("u2", ts(1), "view"), ("u2", ts(2), "click"),
      ("u2", ts(3), "purchase"),
      ("u3", ts(1), "purchase"), // touchless conversion
      ("u4", ts(1), "view"), ("u4", ts(2), "purchase"),
      ("u5", ts(1), "click"), ("u5", ts(2), "view")) // no conversion
      .toDF("u", "ts", "t")
    val chans = Seq("click", "error", "signup", "view")
    val out = EventWindows.shapleyAttribution(ev, "u", "ts", "t",
        chans, "purchase")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    // effective 2-player game: v(∅)=1, v(c)=2, v(v)=2, v(cv)=4 ->
    // φ_click = φ_view = 1.5; error/signup are null players
    assert(out("click") == ((1.5, 4L)) && out("view") == ((1.5, 4L)),
      out.toString)
    assert(out("error") == ((0.0, 4L)) && out("signup") == ((0.0, 4L)))
    // efficiency: Σφ = v(N) − v(∅) = 4 − 1
    assert(out.values.map(_._1).sum == 3.0)
    intercept[IllegalArgumentException] {
      EventWindows.shapleyAttribution(ev, "u", "ts", "t",
        Seq("view", "click"), "purchase") // unsorted
    }
    intercept[IllegalArgumentException] {
      EventWindows.shapleyAttribution(ev, "u", "ts", "t",
        Seq("click", "purchase"), "purchase") // conversion as channel
    }
  }
  // ---- burnRateAlerts ----

  test("burnRateAlerts: exact window burns, both-window gating, " +
      "incomplete frames never alert") {
    import java.sql.Timestamp
    import spark.implicits._
    def day(d: Int, bad: Int, total: Int) = (1 to total).map { i =>
      (Timestamp.valueOf(f"2024-02-$d%02d 10:00:00"), i <= bad)
    }
    val ev = (day(1, 0, 10) ++ day(2, 5, 10) ++ day(3, 10, 10) ++
      day(4, 10, 10)).toDF("ts", "bad")
    val out = EventWindows.burnRateAlerts(ev, "ts", col("bad"),
        budget = 0.5, shortDays = 2, longDays = 3,
        shortThreshold = 1.2, longThreshold = 0.9)
      .collect().map(r => r.getDate(0).toString ->
        ((r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    // d3: short (5+10)/20/0.5 = 1.5, long (0+5+10)/30/0.5 = 1.0
    assert(out("2024-02-03") == ((1.5, 1.0, true)), out.toString)
    // d4: short 2.0, long (5+10+10)/30/0.5
    assert(out("2024-02-04") == ((2.0, 1.666667, true)))
    // frames incomplete on days 1-2 -> never alert
    assert(!out("2024-02-01")._3 && !out("2024-02-02")._3)
  }
  // ---- abcClassify ----

  test("abcClassify: Pareto cuts on frozen running shares; rank-1 " +
      "always A; catalog guard loud") {
    import spark.implicits._
    val rows = Seq(("a", 800.0), ("b", 150.0), ("c", 30.0),
      ("d", 20.0)).toDF("i", "v")
    val out = Scoring.abcClassify(rows, "i", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    assert(out("a") == ((1L, 0.8, "A")) && out("b") == ((2L, 0.95, "B")))
    assert(out("c") == ((3L, 0.98, "C")) && out("d") == ((4L, 1.0, "C")),
      out.toString)
    // a dominant single item stays A past the cut (rank-1 rule)
    val dom = Seq(("x", 99.0), ("y", 1.0)).toDF("i", "v")
    val d2 = Scoring.abcClassify(dom, "i", "v")
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    assert(d2("x") == "A" && d2("y") == "C", d2.toString)
    intercept[Exception] {
      Scoring.abcClassify(rows, "i", "v", maxItems = 2).collect()
    }
  }
  // ---- growthAccounting ----

  test("growthAccounting: DAU decomposes exactly into new/retained/" +
      "resurrected; churn is the prev-day identity") {
    import java.sql.Timestamp
    import spark.implicits._
    def t(d: Int) = Timestamp.valueOf(f"2024-04-$d%02d 10:00:00")
    // d1: a,b  d2: a,c  d3: b,c  (b resurrects on d3, a churns)
    val ev = Seq(("a", t(1)), ("b", t(1)), ("a", t(2)), ("c", t(2)),
      ("b", t(3)), ("c", t(3))).toDF("u", "ts")
    val out = EventWindows.growthAccounting(ev, "u", "ts")
      .collect().map(r => r.getDate(0).toString -> r).toMap
    val d1 = out("2024-04-01")
    assert(d1.getLong(1) == 2L && d1.getLong(2) == 2L
      && d1.getLong(3) == 0L && d1.isNullAt(5), d1.toString)
    val d2 = out("2024-04-02")
    // a retained, c new; b churned (2 prev - 1 retained)
    assert(d2.getLong(2) == 1L && d2.getLong(3) == 1L
      && d2.getLong(4) == 0L && d2.getLong(5) == 1L, d2.toString)
    val d3 = out("2024-04-03")
    // c retained, b resurrected, a churned; quick = (0+1)/1 = 1
    assert(d3.getLong(2) == 0L && d3.getLong(3) == 1L
      && d3.getLong(4) == 1L && d3.getLong(5) == 1L
      && d3.getDouble(6) == 1.0, d3.toString)
    // the decomposition identity holds on every day
    out.values.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        r.toString)
    }
  }
}
