package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int): Map[String, Double] =
    Graph.pageRank(edges.toDF("s", "t"), "s", "t", iters)
      .as[(String, Double)].collect().toMap

  test("rank mass is conserved (sums to 1 up to rounding)") {
    val sym = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b", "c" -> "d", "d" -> "c")
    val r = ranks(sym, iters = 5)
    assert(math.abs(r.values.sum - 1.0) < 1e-9, r)
  }

  test("star center outranks leaves; leaves tie exactly") {
    val star = Seq("l1", "l2", "l3", "l4").flatMap(l => Seq("hub" -> l, l -> "hub"))
    val r = ranks(star, iters = 4)
    assert(r("hub") > r("l1"), r)
    assert(Seq("l1", "l2", "l3", "l4").map(r).distinct.size === 1, r)
  }

  test("regular graph (cycle) stays at the uniform fixed point") {
    val cycle = Seq("a" -> "b", "b" -> "c", "c" -> "a")
    val r = ranks(cycle, iters = 3)
    // uniform 1/3 is PageRank's fixed point on any out-regular cycle
    assert(r.values.forall(v => math.abs(v - 1.0 / 3) < 1e-9), r)
  }

  test("dangling vertex redistributes its mass (hand-computed 2-node)") {
    // a -> b, b dangling. p0 = (.5, .5); one step:
    //   a: .15/2 + .85*(0 + .5/2)  = .2875
    //   b: .15/2 + .85*(.5 + .5/2) = .7125
    val r = ranks(Seq("a" -> "b"), iters = 1)
    assert(r === Map("a" -> 0.2875, "b" -> 0.7125))
  }

  test("duplicate and null edges do not skew degrees or ranks") {
    val base = Seq("a" -> "b", "b" -> "a")
    val noisy = base ++ base ++ base // duplicates collapse via distinct
    val withNull = noisy.toDF("s", "t")
      .unionByName(Seq((null.asInstanceOf[String], "a")).toDF("s", "t"))
    val clean = ranks(base, iters = 3)
    val got = Graph.pageRank(withNull, "s", "t", iters = 3)
      .as[(String, Double)].collect().toMap
    assert(got === clean)
  }

  test("deterministic across runs") {
    val sym = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b")
    assert(ranks(sym, 3) === ranks(sym, 3))
  }

  test("invalid parameters fail loudly") {
    val e = Seq("a" -> "b").toDF("s", "t")
    intercept[IllegalArgumentException](Graph.pageRank(e, "s", "t", iters = 0))
    intercept[IllegalArgumentException](Graph.pageRank(e, "s", "t", 1, damping = 1.0))
    intercept[IllegalArgumentException](Graph.hits(e, "s", "t", iters = 0))
  }

  // --- hits ---

  test("hits on a directed star: center is the sole authority") {
    // h1 -> hub, h2 -> hub, h3 -> hub: 'hub' soaks ALL authority mass,
    // the pointers split hub mass evenly; dead columns are exactly 0
    val es = Seq("h1" -> "c", "h2" -> "c", "h3" -> "c")
    val r = Graph.hits(es.toDF("s", "t"), "s", "t", iters = 2)
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r("c") === ((0.0, 1.0)))
    Seq("h1", "h2", "h3").foreach { h =>
      assert(math.abs(r(h)._1 - 1.0 / 3) < 1e-9 && r(h)._2 === 0.0, r)
    }
  }

  test("hits mass: hub and auth scores each sum to 1 after normalization") {
    val es = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    val r = Graph.hits(es.toDF("s", "t"), "s", "t", iters = 3)
      .as[(String, Double, Double)].collect()
    assert(math.abs(r.map(_._2).sum - 1.0) < 1e-9)
    assert(math.abs(r.map(_._3).sum - 1.0) < 1e-9)
  }

  // --- triangleCounts ---

  test("triangle counts on a hand-built graph") {
    // K4 on {a,b,c,d}: every vertex sits in C(3,2)=3 triangles; the
    // pendant edge d-e adds none for e
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d", "d" -> "e")
    val got = Graph.triangleCounts(k4.toDF("s", "t"), "s", "t")
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("triangle counts ignore direction, duplicates, and self-loops") {
    val messy = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "a",
      "a" -> "b", "a" -> "a")
    val got = Graph.triangleCounts(messy.toDF("s", "t"), "s", "t")
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangle-free graph yields no rows") {
    val square = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
    assert(Graph.triangleCounts(square.toDF("s", "t"), "s", "t").isEmpty)
  }

  test("orientByDegree: planted hub mints zero wedges, not deg²") {
    // Star with the hub id in the MIDDLE of the id order: under the
    // old low-id-first orientation the hub had 40 in-edges and 40
    // out-edges, so the ab.hi = bc.lo wedge join minted 40·40 = 1600
    // candidates. Degree ordering points every edge leaf→hub (leaves
    // have degree 1 < 80), hub out-degree 0 → exactly zero wedges.
    val star = (Seq.tabulate(40)(i => (f"a$i%02d", "mm")) ++
      Seq.tabulate(40)(i => ("mm", f"z$i%02d"))).toDF("s", "t")
    val (oriented, degs) =
      Graph.orientByDegree(Graph.canonicalEdges(star, "s", "t"))
    val e = oriented.cache()
    assert(e.filter(col("hi") =!= "mm").count() == 0,
      "every star edge must orient leaf -> hub")
    val wedges = e.as("ab")
      .join(e.as("bc"), col("ab.hi") === col("bc.lo")).count()
    assert(wedges == 0L, s"hub guard: expected 0 wedge candidates, got $wedges")
    assert(degs.filter(col("vertex") === "mm").head.getLong(1) == 80L)
    assert(Graph.triangleCounts(star, "s", "t").isEmpty)
    e.unpersist()
  }

  test("orientByDegree: triangle counts invariant on a skewed graph") {
    // hub h in K4 {h,a,b,c} plus 30 pendant leaves on h: counts must
    // match the unoriented ground truth (each K4 vertex in 3 triangles)
    val k4 = Seq("h" -> "a", "h" -> "b", "h" -> "c", "a" -> "b",
      "a" -> "c", "b" -> "c")
    val skewed = (k4 ++ Seq.tabulate(30)(i => "h" -> f"p$i%02d"))
      .toDF("s", "t")
    val got = Graph.triangleCounts(skewed, "s", "t")
      .as[(String, Long)].collect().toMap
    assert(got === Map("h" -> 3L, "a" -> 3L, "b" -> 3L, "c" -> 3L))
  }

  // ---- pageRankWeighted ----

  test("pageRankWeighted: mass conserved; contributions split by weight") {
    // a -> b (w=3), a -> c (w=1), b -> a (w=1), c -> a (w=1)
    val e = Seq(("a", "b", 3.0), ("a", "c", 1.0),
      ("b", "a", 1.0), ("c", "a", 1.0)).toDF("s", "t", "w")
    val r = Graph.pageRankWeighted(e, "s", "t", "w", iters = 1)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9, "rank mass conserved")
    // after one round from uniform 1/3: b receives 3x c's share of a's
    // rank: b = (1-d)/3 + d*(1/3)*(3/4), c = (1-d)/3 + d*(1/3)*(1/4)
    val d = 0.85
    assert(math.abs(r("b") - ((1 - d) / 3 + d / 3 * 0.75)) < 1e-9)
    assert(math.abs(r("c") - ((1 - d) / 3 + d / 3 * 0.25)) < 1e-9)
  }

  test("pageRankWeighted: uniform weights match unweighted pageRank") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "b" -> "a")
    val unw = ranks(edges, 2)
    val wdf = edges.map { case (s, t) => (s, t, 5.0) }.toDF("s", "t", "w")
    val w = Graph.pageRankWeighted(wdf, "s", "t", "w", iters = 2)
      .as[(String, Double)].collect().toMap
    assert(unw.keySet == w.keySet)
    unw.foreach { case (v, rk) =>
      assert(math.abs(w(v) - rk) < 1e-9, s"vertex $v: $rk vs ${w(v)}")
    }
  }

  test("pageRankWeighted: non-positive and null weights are dropped loudly as dangling") {
    // b's only out-edge has weight 0 -> b is dangling and redistributes
    val e = Seq(("a", "b", 2.0), ("b", "a", 0.0)).toDF("s", "t", "w")
    val r = Graph.pageRankWeighted(e, "s", "t", "w", iters = 1)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      "dangling mass redistributed, not lost")
  }

  // ---- labelPropagation ----

  private def propagate(edges: Seq[(String, String)],
      seeds: Seq[(String, String)], iters: Int)
      : Map[String, (Option[String], Boolean)] =
    Graph.labelPropagation(edges.toDF("s", "t"), "s", "t",
        seeds.toDF("v", "l"), "v", "l", iters)
      .collect()
      .map(r => r.getString(0) ->
        ((Option(r.getString(1)), r.getBoolean(2)))).toMap

  test("labelPropagation: a path reaches one hop per iteration") {
    val path = Seq("1" -> "2", "2" -> "3", "3" -> "4")
    val seeds = Seq("1" -> "A")
    val one = propagate(path, seeds, 1)
    assert(one("2")._1.contains("A"))
    assert(one("3")._1.isEmpty, "two hops away after one round")
    val two = propagate(path, seeds, 2)
    assert(two("3")._1.contains("A"))
    assert(two("4")._1.isEmpty)
    assert(two("1") == ((Some("A"), true)), "seed clamped and flagged")
    assert(!two("2")._2)
  }

  test("labelPropagation: majority wins, ties break to the smallest label") {
    // center c has neighbors: two B-seeds, one A-seed -> majority B
    val star = Seq("c" -> "n1", "c" -> "n2", "c" -> "n3")
    val maj = propagate(star, Seq("n1" -> "B", "n2" -> "B", "n3" -> "A"), 1)
    assert(maj("c")._1.contains("B"))
    // one A, one B -> tie -> A
    val tie = propagate(Seq("c" -> "n1", "c" -> "n2"),
      Seq("n1" -> "B", "n2" -> "A"), 1)
    assert(tie("c")._1.contains("A"))
  }

  test("labelPropagation: seeds never flip even when outvoted") {
    val star = Seq("c" -> "n1", "c" -> "n2")
    val out = propagate(star,
      Seq("c" -> "A", "n1" -> "B", "n2" -> "B"), 3)
    assert(out("c") == ((Some("A"), true)), "clamped")
    assert(out("n1")._1.contains("B"), "seed n1 keeps B")
  }

  test("labelPropagation r19 path equality: driver fast path == " +
      "distributed loop (ties, clamping, unreached, dup seeds, " +
      "graph-less seeds)") {
    // majority + tie + a 2-hop chain + a seed vertex absent from the
    // graph (z) + a duplicate seed row for n1 (min label wins)
    val edges = Seq("c" -> "n1", "c" -> "n2", "c" -> "n3",
      "n3" -> "m", "m" -> "q", "q" -> "r").toDF("s", "t")
    val seeds = Seq("n1" -> "B", "n1" -> "C", "n2" -> "B",
      "n3" -> "A", "z" -> "Z").toDF("v", "l")
    def run(maxE: Long) = withDriverPathMaxRows(maxE)(
      Graph.labelPropagation(edges, "s", "t",
        seeds, "v", "l", iters = 2))
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1),
        r.getBoolean(2))).toSet
    val fast = run(2000000L)
    val slow = run(0L)
    assert(fast === slow, s"paths diverge:\n$fast\n$slow")
    assert(fast.contains(("z", null, false)) === false, "graph-less seed dropped")
    assert(fast.exists(t => t._1 == "n1" && t._2 == "B" && t._3),
      s"dup seed must keep the min label: $fast")
  }

  // ---- kcore ----

  private def core(edges: Seq[(String, String)], k: Int, rounds: Int)
      : Map[String, Long] =
    Graph.kcore(edges.toDF("s", "t"), "s", "t", k, rounds)
      .as[(String, Long)].collect().toMap

  test("kcore: K4 survives k=3, pendant and triangle die") {
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d",
      "b" -> "c", "b" -> "d", "c" -> "d")
    val pendant = Seq("a" -> "p")
    val out = core(k4 ++ pendant, k = 3, rounds = 2)
    assert(out.keySet == Set("a", "b", "c", "d"))
    assert(out.values.toSet == Set(3L),
      "degrees measured in the surviving subgraph")
    // a triangle has min degree 2: gone at k=3 in one round
    val tri = Seq("x" -> "y", "y" -> "z", "z" -> "x")
    assert(core(tri, k = 3, rounds = 1).isEmpty)
  }

  test("kcore: cascading peel needs its rounds (chain into a K4)") {
    // chain p1-p2-p3 hangs off K4 vertex a: each round peels one link
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d",
      "b" -> "c", "b" -> "d", "c" -> "d")
    val chain = Seq("a" -> "p1", "p1" -> "p2", "p2" -> "p3")
    val r1 = core(k4 ++ chain, k = 2, rounds = 1)
    assert(r1.contains("p2"), "p2 still held by p3's edge after round 1")
    assert(!r1.contains("p3"), "leaf degree 1 < 2 peels immediately")
    val r3 = core(k4 ++ chain, k = 2, rounds = 3)
    assert(r3.keySet == Set("a", "b", "c", "d"),
      "fixpoint reached: only the 2-core remains")
  }

  test("clusteringCoefficient: clique 1.0, star center 0.0, leaves NULL") {
    import spark.implicits._
    // triangle abc (all coef 1) + star center s with leaves x,y
    // (s deg 2, no edge x-y -> coef 0; leaves deg 1 -> NULL)
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("s", "x"), ("s", "y")).toDF("u", "v")
    val out = graft.operators.Graph
      .clusteringCoefficient(edges, "u", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    Seq("a", "b", "c").foreach(v =>
      assert(out(v) == ((2L, 1L, Some(1.0))), s"clique corner $v: $out"))
    assert(out(("s")) == ((2L, 0L, Some(0.0))), s"open wedge center: $out")
    assert(out(("x"))._3.isEmpty && out(("y"))._3.isEmpty,
      s"degree-1 leaves undefined: $out")
  }

  test("clusteringCoefficient: partial closure gives the exact fraction") {
    import spark.implicits._
    // v adjacent to a,b,c; only a-b closed: coef(v) = 2*1/(3*2) = 1/3
    val edges = Seq(("v", "a"), ("v", "b"), ("v", "c"), ("a", "b"))
      .toDF("u", "w")
    val r = graft.operators.Graph.clusteringCoefficient(edges, "u", "w")
      .filter(col("vertex") === "v").collect().head
    assert(r.getLong(1) == 3 && r.getLong(2) == 1)
    assert(r.getDouble(3) == 0.333333, s"1/3 rounded: $r")
  }

  test("harmonicCentrality: path and clique hand fixtures at 2 hops") {
    import spark.implicits._
    // path a-b-c-d: a sees b at 1, c at 2 -> 1 + 0.5 = 1.5;
    // b sees {a, c} at 1, {d} at 2 -> 2 + 0.5 = 2.5
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("s", "d")
    val h = graft.operators.Graph.harmonicCentrality(path, "s", "d")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(h("a") == ((1L, 1L, 1.5)) && h("b") == ((2L, 1L, 2.5)), h.toString)
    assert(h("c") == ((2L, 1L, 2.5)) && h("d") == ((1L, 1L, 1.5)), h.toString)
    // triangle: every vertex reaches both others at hop 1, empty shell
    val k3 = Seq(("x", "y"), ("y", "z"), ("x", "z")).toDF("s", "d")
    val hk = graft.operators.Graph.harmonicCentrality(k3, "s", "d")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(hk.values.forall(_ == 2.0), hk.toString)
    // maxHops 1 degenerates to plain degree
    val h1 = graft.operators.Graph.harmonicCentrality(path, "s", "d",
        maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(h1 == Map("a" -> 1.0, "b" -> 2.0, "c" -> 2.0, "d" -> 1.0))
  }

  test("harmonic family: driver fast path ≡ distributed closure, bit-identical") {
    import spark.implicits._
    // deterministic pseudo-random graph with hubs, triangles, and a
    // pendant chain — enough structure that any shell-count or
    // estimator drift between the two paths would show
    val edges = ((0 until 160).map(i => (s"v${i % 40}", s"v${(i * 7 + 3) % 40}"))
      ++ Seq(("v40", "v41"), ("v41", "v42"))).toDF("s", "d")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.toList).sortBy(_.toString).toList
    // and the empty edge list: both paths return no rows
    for ((g, gn) <- Seq((edges, "graph"), (edges.limit(0), "empty"));
        hops <- Seq(1, 2, 3, 4, 6)) {
      if (hops <= 4) {
        val fast = graft.operators.Graph.harmonicCentrality(
          g, "s", "d", maxHops = hops)
        val dist = withDriverPathMaxRows(-1L)(
          graft.operators.Graph.harmonicCentrality(
            g, "s", "d", maxHops = hops))
        assert(canon(fast) == canon(dist),
          s"exact twin diverged at hops=$hops on $gn")
      }
      val fastA = graft.operators.Graph.harmonicCentralityApprox(
        g, "s", "d", maxHops = hops, p = 7)
      val distA = withDriverPathMaxRows(-1L)(
        graft.operators.Graph.harmonicCentralityApprox(
          g, "s", "d", maxHops = hops, p = 7))
      assert(canon(fastA) == canon(distA),
        s"approx twin diverged at hops=$hops on $gn")
    }
  }

  // ---- pageRankPersonalized ----

  test("pageRankPersonalized: one step from the seed, hand values") {
    import spark.implicits._
    // symmetric star a-b, a-c; seed a, one iteration:
    // r(a) = 0.15*1 + 0.85*(r(b)/1 + r(c)/1) = 0.15
    // r(b) = r(c) = 0.85 * (1/2) = 0.425
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("s", "t")
    val got = graft.operators.Graph.pageRankPersonalized(
        edges, "s", "t", sources = Seq("a"), iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 0.15, "b" -> 0.425, "c" -> 0.425), got.toString)
  }

  test("pageRankPersonalized: unreached stays 0, mass conserved") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
      ("x", "y"), ("y", "x")).toDF("s", "t")
    val got = graft.operators.Graph.pageRankPersonalized(
        edges, "s", "t", sources = Seq("a"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("x") == 0.0 && got("y") == 0.0,
      "disconnected component never earns seed mass")
    val mass = got.values.sum
    assert(math.abs(mass - 1.0) < 1e-9,
      s"no dangling, so total mass stays 1: $mass")
    // star mass oscillates seed <-> leaves: after 3 passes the hand
    // recursion gives a = .15 + .85*2*.06375, b = .85*(.8725/2)
    assert(got("a") == 0.258375 && got("b") == 0.3708125
      && got("b") == got("c"), got.toString)
  }

  private def betMap(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.select("vertex", "betweenness").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("betweennessExact: star center brokers every leaf pair; path P5 " +
      "matches the textbook 0,3,4,3,0") {
    val star = (1 to 5).map(i => ("hub", s"l$i")).toDF("s", "t")
    val bs = betMap(Graph.betweennessExact(star, "s", "t"))
    assert(bs("hub") === 10.0, s"C(5,2) leaf pairs: $bs") // 5*4/2
    assert((1 to 5).forall(i => bs(s"l$i") === 0.0), bs.toString)
    val p5 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("s", "t")
    val bp = betMap(Graph.betweennessExact(p5, "s", "t"))
    assert(bp === Map("a" -> 0.0, "b" -> 3.0, "c" -> 4.0, "d" -> 3.0,
      "e" -> 0.0), bp.toString)
  }

  test("betweennessExact: split shortest paths share credit (C4 + chord-free " +
      "square: opposite corners route half through each middle)") {
    val c4 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")).toDF("s", "t")
    val b = betMap(Graph.betweennessExact(c4, "s", "t"))
    // each vertex is the middle of exactly one opposite pair, sharing
    // with the other route: 1/2
    assert(b.values.forall(_ === 0.5), b.toString)
  }

  test("betweenness2 (distributed) == betweennessExact(maxHops=2) on a " +
      "mixed fixture and on the co-order graph") {
    val fx = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a"),
      ("b", "f"), ("f", "g"), ("c", "g"), ("a", "g"), ("d", "f"))
      .toDF("s", "t")
    val dist = betMap(Graph.betweenness2(fx, "s", "t"))
    val drv = betMap(Graph.betweennessExact(fx, "s", "t", maxHops = 2))
    assert(dist.keySet === drv.keySet)
    dist.foreach { case (v, x) =>
      assert(math.abs(x - drv(v)) <= 1e-6, s"$v: dist $x vs driver ${drv(v)}")
    }
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") % 7 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val co = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").cast("string").as("a"),
        col("y.pk").cast("string").as("b")).distinct()
    val dist2 = betMap(Graph.betweenness2(co, "a", "b"))
    val drv2 = betMap(Graph.betweennessExact(co, "a", "b", maxHops = 2))
    assert(dist2.keySet === drv2.keySet && dist2.nonEmpty)
    dist2.foreach { case (v, x) =>
      assert(math.abs(x - drv2(v)) <= 1e-6, s"$v: dist $x vs driver ${drv2(v)}")
    }
  }

  test("triangleCounts/transitivity: the r18 driver fast paths equal " +
      "the distributed plans row-for-row (triangle-free vertices " +
      "dropped, wedge-free graph NULL)") {
    import spark.implicits._
    // pseudo-random graph + a K4 (guarantees triangles) + a pendant
    val es = ((0 until 80).map { t =>
      val a = (t * 37 + 11) % 25; val b = (t * 53 + 29) % 25
      (a.toString, b.toString)
    }.filter(e => e._1 != e._2)
      ++ Seq(("k1", "k2"), ("k1", "k3"), ("k1", "k4"), ("k2", "k3"),
        ("k2", "k4"), ("k3", "k4"), ("x", "y"))).toDF("s", "t")
    val fT = Graph.triangleCounts(es, "s", "t")
      .collect().map(_.toSeq).toSet
    val dT = withDriverPathMaxRows(0)(Graph.triangleCounts(es, "s", "t"))
      .collect().map(_.toSeq).toSet
    assert(fT === dT, "triangleCounts")
    val fX = Graph.transitivity(es, "s", "t").collect().map(_.toSeq)
    val dX = withDriverPathMaxRows(0)(Graph.transitivity(es, "s", "t"))
      .collect().map(_.toSeq)
    assert(fX.toSeq === dX.toSeq, "transitivity")
    // wedge-free: a single edge — NULL transitivity on both paths
    val one = Seq(("a", "b")).toDF("s", "t")
    assert(Graph.transitivity(one, "s", "t").collect().map(_.toSeq)
      .toSeq ===
      withDriverPathMaxRows(0)(Graph.transitivity(one, "s", "t"))
        .collect().map(_.toSeq).toSeq, "wedge-free")
  }

  test("linkPrediction/linkPredictionJaccard: the r18 driver fast " +
      "paths equal the distributed plans row-for-row (degree cap " +
      "binding, score ties, string-order candidates, k clipping)") {
    import spark.implicits._
    // pseudo-random graph over string vertices whose NUMERIC and
    // UTF8 orders disagree ("10" < "9"), with a hub over the cap
    val es = ((0 until 120).map { t =>
      val a = (t * 37 + 11) % 30; val b = (t * 53 + 29) % 30
      (a.toString, b.toString)
    }.filter(e => e._1 != e._2)
      ++ (1 to 25).map(i => ("hub", i.toString))) // degree-25 hub
      .toDF("s", "t")
    // plus the empty graph and a single edge (no candidate pair)
    val inputs = Seq("graph" -> es, "empty" -> es.limit(0),
      "one edge" -> Seq(("a", "b")).toDF("s", "t"))
    for ((name, in) <- inputs; cap <- Seq(3, 10, 50); kk <- Seq(5, 1000)) {
      val fa = Graph.linkPrediction(in, "s", "t", cap, kk)
        .collect().map(_.toSeq)
      val da = withDriverPathMaxRows(0)(
        Graph.linkPrediction(in, "s", "t", cap, kk))
        .collect().map(_.toSeq)
      assert(fa.toSeq === da.toSeq, s"AA $name cap=$cap k=$kk")
      val fj = Graph.linkPredictionJaccard(in, "s", "t", cap, kk)
        .collect().map(_.toSeq)
      val dj = withDriverPathMaxRows(0)(
        Graph.linkPredictionJaccard(in, "s", "t", cap, kk))
        .collect().map(_.toSeq)
      assert(fj.toSeq === dj.toSeq, s"jaccard $name cap=$cap k=$kk")
    }
  }

  test("ktruss: K4 survives 4-truss entirely; a pendant triangle peels " +
      "out and takes its wedge casualties with it") {
    // K4 on a,b,c,d (every edge in 2 triangles) + triangle (d,e,f)
    // glued at d (each of its edges in exactly 1 triangle) + pendant g
    val g = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e"), ("d", "f"), ("e", "f"), ("f", "g"))
      .toDF("s", "t")
    val out = Graph.ktruss(g, "s", "t", k = 4, rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out.keySet === Set(("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d")), out.toString)
    assert(out.values.forall(_ === 2L),
      s"every K4 edge sits in exactly 2 surviving triangles: $out")
    // k=3 keeps both triangle structures, drops only the pendant edge
    val t3 = Graph.ktruss(g, "s", "t", k = 3, rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(t3.size === 9 && !t3.contains(("f", "g")), t3.toString)
    intercept[IllegalArgumentException] {
      Graph.ktruss(g, "s", "t", k = 2, rounds = 1)
    }
    // r18 driver fast path == distributed peel, row-for-row, across
    // k and peel depths (including a non-converged 1-round peel whose
    // leftover sub-threshold supports must match too)
    for (kk <- Seq(3, 4, 5); rr <- Seq(1, 2, 4)) {
      val fast = Graph.ktruss(g, "s", "t", k = kk, rounds = rr)
        .collect().map(_.toSeq).toSet
      val dist = withDriverPathMaxRows(0)(
        Graph.ktruss(g, "s", "t", k = kk, rounds = rr))
        .collect().map(_.toSeq).toSet
      assert(fast === dist, s"k=$kk rounds=$rr")
    }
  }

  test("closenessCentrality: P3 hand values over the shared 2-hop shells") {
    val p3 = Seq(("a", "b"), ("b", "c")).toDF("s", "t")
    val got = Graph.closenessCentrality(p3, "s", "t", maxHops = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("b") === ((2L, 0L, 1.0)), got.toString)
    assert(got("a") === ((1L, 1L, 0.666667)), got.toString)
    assert(got("c") === ((1L, 1L, 0.666667)), got.toString)
  }

  test("eigenvectorCentrality: triangle+pendant hand values at 3 iters; " +
      "star reports the bipartite odd-iteration state deterministically") {
    // C3 (a,b,c) + pendant d-a: after 3 sup-normalized passes
    // a = 1, b = c = 2/2.6 = .769231, d = 1/2.6 = .384615
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("s", "t")
    val got = Graph.eigenvectorCentrality(g, "s", "t", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("a") === 1.0 && got("b") === 0.769231
      && got("c") === 0.769231 && got("d") === 0.384615, got.toString)
    // star K1,5 is bipartite: odd iterations report center 1, leaves
    // 1/5 (period-2 oscillation is the documented fixed-iter contract)
    val star = (1 to 5).map(i => ("hub", s"l$i")).toDF("s", "t")
    val s3 = Graph.eigenvectorCentrality(star, "s", "t", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s3("hub") === 1.0 && (1 to 5).forall(i => s3(s"l$i") === 0.2),
      s3.toString)
    intercept[IllegalArgumentException] {
      Graph.eigenvectorCentrality(star, "s", "t", iters = 0)
    }
  }

  test("betweennessExact: sampleEvery=1 equals the full pass; sampling is " +
      "deterministic and unbiased-by-stratum on a vertex-transitive graph") {
    val c6 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
      ("f", "a")).toDF("s", "t")
    val full = betMap(Graph.betweennessExact(c6, "s", "t"))
    // C6: every vertex brokers the same mass
    assert(full.values.toSet.size === 1, full.toString)
    val s2a = betMap(Graph.betweennessExact(c6, "s", "t", sampleEvery = 2))
    val s2b = betMap(Graph.betweennessExact(c6, "s", "t", sampleEvery = 2))
    assert(s2a === s2b, "sampling must be deterministic")
    // the k-scaled estimator sums to the full total on a transitive graph
    assert(math.abs(s2a.values.sum - full.values.sum) <= 1e-6,
      s"${s2a.values.sum} vs ${full.values.sum}")
    // loud guards
    intercept[IllegalArgumentException] {
      Graph.betweennessExact(c6, "s", "t", sampleEvery = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.betweennessExact(c6, "s", "t", maxEdges = 2)
    }
  }

  test("louvainMove: two bridged triangles resolve to the two triangle " +
      "communities with the known modularity") {
    val tri = Seq("a" -> "b", "a" -> "c", "b" -> "c",
      "d" -> "e", "d" -> "f", "e" -> "f", "c" -> "d")
    val out = Graph.louvainMove(tri.toDF("s", "t"), "s", "t", passes = 4)
      .as[(String, String, Long)].collect()
    val comms = out.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).values.toSet
    assert(comms === Set(Set("a", "b", "c"), Set("d", "e", "f")), out.toSeq)
    assert(out.forall(_._3 === 3L), out.toSeq)
    // Q of the found partition via the judged L130 scorer: 70/196
    val labels = Graph.louvainMove(tri.toDF("s", "t"), "s", "t", 4)
      .select(col("vertex"), col("community"))
    val q = Graph.modularity(tri.toDF("s", "t"), "s", "t",
        labels, "vertex", "community")
      .select("modularity").as[Double].head()
    assert(q === 0.357143, s"Q = $q")
  }

  test("louvainMove/louvainMoveWeighted: the r18 driver fast path equals " +
      "the distributed loop row-for-row, self-loops and ties included") {
    import org.apache.spark.sql.functions.lit
    // the multilevel hierarchy fixture: 4 blocks of 3 chained triangles
    val tris = for {
      blk <- 0 until 4; t <- 0 until 3
    } yield {
      val v = (0 until 3).map(i => s"b${blk}t${t}v$i")
      Seq(v(0) -> v(1), v(0) -> v(2), v(1) -> v(2))
    }
    val chains = for (blk <- 0 until 4; t <- 0 until 2)
      yield Seq(s"b${blk}t${t}v0" -> s"b${blk}t${t + 1}v0")
    val between = (0 until 3).map(b => Seq(s"b${b}t2v2" -> s"b${b + 1}t0v2"))
    val edges = (tris ++ chains ++ between).flatten.toDF("s", "t")
    // plus the empty graph and a single edge
    val inputs = Seq("graph" -> edges, "empty" -> edges.limit(0),
      "one edge" -> Seq("a" -> "b").toDF("s", "t"))
    for ((name, in) <- inputs; p <- Seq(1, 2, 4)) {
      val fast = Graph.louvainMove(in, "s", "t", p)
        .as[(String, String, Long)].collect().toSet
      val dist = withDriverPathMaxRows(0)(
        Graph.louvainMove(in, "s", "t", p))
        .as[(String, String, Long)].collect().toSet
      assert(fast === dist, s"unweighted $name passes=$p")
    }
    // weighted + self-loops: the contracted-super-graph shape the
    // multilevel ladder feeds in (weights > 1, self-loop mass, and a
    // symmetric-tie pair to exercise the UTF8-order tiebreak)
    val wEdges = (Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "d", 3L),
      ("a", "a", 2L), ("d", "d", 2L), ("e", "f", 1L)))
      .toDF("s", "t", "w")
    val wInputs = Seq("graph" -> wEdges, "empty" -> wEdges.limit(0),
      "one edge" -> Seq(("a", "b", 2L)).toDF("s", "t", "w"))
    for ((name, in) <- wInputs; p <- Seq(1, 3)) {
      val fast = Graph.louvainMoveWeighted(in, "s", "t", "w", p)
        .as[(String, String, Long)].collect().toSet
      val dist = withDriverPathMaxRows(0)(
        Graph.louvainMoveWeighted(in, "s", "t", "w", p))
        .as[(String, String, Long)].collect().toSet
      assert(fast === dist, s"weighted $name passes=$p")
    }
    // the driver path fires the same positive-integer weight guard
    intercept[Exception] {
      Graph.louvainMoveWeighted(wEdges.withColumn("w", lit(0L)),
        "s", "t", "w", 2).collect()
    }
  }

  test("pageRank family + katz/eigenvector: the r18 driver fast paths " +
      "equal the distributed loops row-for-row (dangling, weights, " +
      "dropped-weight vertices, ties included)") {
    // directed graph with a dangling sink (d), a cycle, a hub, and a
    // vertex reachable only via a to-be-dropped edge in the weighted run
    val dEdges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c",
      "c" -> "d", "e" -> "a", "e" -> "b", "b" -> "e").toDF("s", "t")
    for (it <- Seq(1, 3)) {
      // the empty graph reaches the replica on one path only
      for (in <- Seq(dEdges, dEdges.limit(0))) {
        val fast = Graph.pageRank(in, "s", "t", iters = it)
          .as[(String, Double)].collect().toSet
        val dist = withDriverPathMaxRows(0)(
          Graph.pageRank(in, "s", "t", iters = it))
          .as[(String, Double)].collect().toSet
        assert(fast === dist, s"pageRank iters=$it")
      }
      // plus the empty graph and a single edge
      for (in <- Seq(dEdges, dEdges.limit(0),
          Seq("a" -> "b").toDF("s", "t"))) {
        val fastP = Graph.pageRankPersonalized(in, "s", "t",
            sources = Seq("a", "e"), iters = it)
          .as[(String, Double)].collect().toSet
        val distP = withDriverPathMaxRows(0)(
          Graph.pageRankPersonalized(in, "s", "t",
            sources = Seq("a", "e"), iters = it))
          .as[(String, Double)].collect().toSet
        assert(fastP === distP, s"ppr iters=$it")
      }
      val fastH = Graph.hits(dEdges, "s", "t", iters = it)
        .as[(String, Double, Double)].collect().toSet
      val distH = withDriverPathMaxRows(0)(
        Graph.hits(dEdges, "s", "t", iters = it))
        .as[(String, Double, Double)].collect().toSet
      assert(fastH === distH, s"hits iters=$it")
    }
    // weighted: parallel edges (both count), a dropped zero-weight edge
    // whose endpoint must still rank (as dangling), integer-count and
    // fractional weights
    val wEdges = Seq(("a", "b", 3.0), ("a", "b", 2.0), ("b", "c", 1.5),
      ("c", "a", 4.0), ("c", "d", 1.0), ("x", "a", 0.0), ("b", "x", -1.0))
      .toDF("s", "t", "w")
    for (it <- Seq(1, 2)) {
      val fast = Graph.pageRankWeighted(wEdges, "s", "t", "w", iters = it)
        .as[(String, Double)].collect().toSet
      val dist = withDriverPathMaxRows(0)(
        Graph.pageRankWeighted(wEdges, "s", "t", "w", iters = it))
        .as[(String, Double)].collect().toSet
      assert(fast === dist, s"pageRankWeighted iters=$it")
      assert(fast.map(_._1) === Set("a", "b", "c", "d", "x"),
        "dropped-weight endpoint x must still rank")
      // the empty graph and a single edge
      for (in <- Seq(wEdges.limit(0), Seq(("a", "b", 2.0)).toDF("s", "t", "w"))) {
        val fastW = Graph.pageRankWeighted(in, "s", "t", "w", iters = it)
          .as[(String, Double)].collect().toSet
        val distW = withDriverPathMaxRows(0)(
          Graph.pageRankWeighted(in, "s", "t", "w", iters = it))
          .as[(String, Double)].collect().toSet
        assert(fastW === distW, s"pageRankWeighted iters=$it")
      }
    }
    // undirected decimal-fold kernels: triangle + pendant + an isolated
    // tie pair (exercises the sup-normalizer and the α·sum+1 base)
    val uEdges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "p",
      "x" -> "y").toDF("s", "t")
    // plus the empty graph (no vertex, so no max to normalize by) and
    // a single edge
    for (it <- Seq(1, 3, 5); in <- Seq(uEdges, uEdges.limit(0),
        Seq("a" -> "b").toDF("s", "t"))) {
      val fastE = Graph.eigenvectorCentrality(in, "s", "t", iters = it)
        .as[(String, Double)].collect().toSet
      val distE = withDriverPathMaxRows(0)(
        Graph.eigenvectorCentrality(in, "s", "t", iters = it))
        .as[(String, Double)].collect().toSet
      assert(fastE === distE, s"eigenvector iters=$it")
      val fastK = Graph.katzCentrality(in, "s", "t", alpha = 0.1,
          iters = it)
        .as[(String, Double)].collect().toSet
      val distK = withDriverPathMaxRows(0)(
        Graph.katzCentrality(in, "s", "t", alpha = 0.1,
          iters = it))
        .as[(String, Double)].collect().toSet
      assert(fastK === distK, s"katz iters=$it")
    }
  }

  test("louvainMoveWeighted: weight-1 graph equals the unweighted kernel; " +
      "contraction preserves total weight incl self-loops; multilevel " +
      "merges the hierarchy the single level leaves split") {
    import org.apache.spark.sql.functions.lit
    // hierarchy: 4 super-blocks, each 3 triangles chained; sparse
    // links between consecutive blocks
    val tris = for {
      blk <- 0 until 4; t <- 0 until 3
    } yield {
      val v = (0 until 3).map(i => s"b${blk}t${t}v$i")
      Seq(v(0) -> v(1), v(0) -> v(2), v(1) -> v(2))
    }
    val chains = for (blk <- 0 until 4; t <- 0 until 2)
      yield Seq(s"b${blk}t${t}v0" -> s"b${blk}t${t + 1}v0")
    val between = (0 until 3).map(b => Seq(s"b${b}t2v2" -> s"b${b + 1}t0v2"))
    val edges = (tris ++ chains ++ between).flatten.toDF("s", "t")
    // weight-1 weighted kernel == unweighted kernel, bit-for-bit
    val unw = Graph.louvainMove(edges, "s", "t", 3)
      .as[(String, String, Long)].collect().toSet
    val w1 = Graph.louvainMoveWeighted(edges.withColumn("w", lit(1L)),
        "s", "t", "w", 3)
      .as[(String, String, Long)].collect().toSet
    assert(w1 === unw)
    // contraction conserves total edge weight (self-loops included)
    val labels = Graph.louvainMove(edges, "s", "t", 3)
      .select(col("vertex"), col("community"))
    val contracted = Graph.contractCommunities(edges, "s", "t",
      labels, "vertex", "community")
    val totalW = contracted.agg(org.apache.spark.sql.functions.sum("weight"))
      .as[Long].collect().head
    assert(totalW === edges.count(), s"weight conserved: $totalW")
    // multilevel Q >= single-level Q, and both beat label-prop chance
    def q(lab: org.apache.spark.sql.DataFrame): Double =
      Graph.modularity(edges, "s", "t", lab, "vertex", "community")
        .select("modularity").as[Double].head()
    val q1 = q(labels)
    val multi = Graph.louvainMultilevel(edges, "s", "t", passes = 3,
      levels = 3)
    val q2 = q(multi.select(col("vertex"), col("community")))
    assert(q2 >= q1, s"multilevel must not lose modularity: $q2 < $q1")
    // every original vertex appears exactly once
    assert(multi.count() === 36L &&
      multi.select("vertex").distinct().count() === 36L)
    intercept[Exception] {
      Graph.louvainMoveWeighted(edges.withColumn("w", lit(0L)),
        "s", "t", "w", 2).collect()
    }
  }

  test("shortestPaths: fixed-round Bellman–Ford — R rounds exact for " +
      "<= R-edge paths, later rounds improve through cheaper detours, " +
      "multi-seed min, unreached absent, non-positive weights loud") {
    import org.apache.spark.sql.functions.lit
    // a -1- b -2- c -5- d, plus a direct a-c shortcut costing 10 and
    // an isolated edge x-y (never reached from a)
    val edges = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "d", 5L),
      ("a", "c", 10L), ("x", "y", 7L)).toDF("s", "t", "w")
    val seedsA = Seq("a").toDF("v")
    def run(rounds: Int, seeds: org.apache.spark.sql.DataFrame) =
      Graph.shortestPaths(edges, "s", "t", "w", seeds, "v", rounds)
        .as[(String, Long)].collect().toMap
    assert(run(1, seedsA) === Map("a" -> 0L, "b" -> 1L, "c" -> 10L))
    // round 2: the 2-edge detour a-b-c (3) beats the 1-edge shortcut
    assert(run(2, seedsA) === Map("a" -> 0L, "b" -> 1L, "c" -> 3L,
      "d" -> 15L))
    assert(run(3, seedsA) === Map("a" -> 0L, "b" -> 1L, "c" -> 3L,
      "d" -> 8L), "x/y must stay absent")
    // multi-source: every vertex takes its NEAREST seed
    val both = run(2, Seq("a", "d").toDF("v"))
    assert(both === Map("a" -> 0L, "b" -> 1L, "c" -> 3L, "d" -> 0L),
      both.toString)
    // weights must be positive integers
    intercept[Exception] {
      Graph.shortestPaths(edges.withColumn("w", lit(0L)), "s", "t", "w",
        seedsA, "v", 2).collect()
    }
  }

  test("refineConnected: a disconnected community splits into its " +
      "connected min-labeled subcommunities; a vertex with no " +
      "intra-community edge becomes its own singleton") {
    // the Louvain defect shape by hand: community X = {a,b} ∪ {d,e}
    // with NO path between the halves INSIDE X (their only link runs
    // through c, which is in Y); Y = {c} has no intra edge at all
    val edges = Seq("a" -> "b", "d" -> "e", "a" -> "c", "c" -> "d")
      .toDF("s", "t")
    val labels = Seq(("a", "X"), ("b", "X"), ("d", "X"), ("e", "X"),
      ("c", "Y")).toDF("v", "comm")
    val out = Graph.refineConnected(edges, "s", "t", labels, "v", "comm")
      .as[(String, String)].collect().toMap
    assert(out === Map("a" -> "a", "b" -> "a", "d" -> "d", "e" -> "d",
      "c" -> "c"), out.toString)
    // an already-connected partition is a fixpoint (labels re-keyed to
    // min members, partition structure identical)
    val conn = Seq(("a", "P"), ("b", "P"), ("c", "P"), ("d", "Q"),
      ("e", "Q")).toDF("v", "comm")
    val ref2 = Graph.refineConnected(edges, "s", "t", conn, "v", "comm")
      .as[(String, String)].collect()
    val parts = ref2.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
      .values.toSet
    assert(parts === Set(Set("a", "b", "c"), Set("d", "e")), ref2.toSeq)
  }

  test("leidenMultilevel: every output community is internally " +
      "connected (the Leiden guarantee Louvain lacks); coverage and " +
      "modularity stay in the louvain class") {
    // the louvainMultilevel hierarchy fixture verbatim
    val tris = for {
      blk <- 0 until 4; t <- 0 until 3
    } yield {
      val v = (0 until 3).map(i => s"b${blk}t${t}v$i")
      Seq(v(0) -> v(1), v(0) -> v(2), v(1) -> v(2))
    }
    val chains = for (blk <- 0 until 4; t <- 0 until 2)
      yield Seq(s"b${blk}t${t}v0" -> s"b${blk}t${t + 1}v0")
    val between = (0 until 3).map(b => Seq(s"b${b}t2v2" -> s"b${b + 1}t0v2"))
    val edges = (tris ++ chains ++ between).flatten.toDF("s", "t")
    val out = Graph.leidenMultilevel(edges, "s", "t", passes = 3,
      levels = 3)
    // every original vertex appears exactly once
    assert(out.count() === 36L &&
      out.select("vertex").distinct().count() === 36L)
    // the connectivity LAW: each community's induced subgraph reaches
    // every member from its first (driver BFS — fixture-sized)
    val lab = out.select(col("vertex"), col("community"))
      .as[(String, String)].collect()
    val es = edges.as[(String, String)].collect()
    def connected(members: Set[String]): Boolean =
      if (members.size <= 1) true
      else {
        val adj = es.filter { case (s, t) => members(s) && members(t) }
        var reach = Set(members.head)
        var grew = true
        while (grew) {
          val next = reach ++
            adj.collect { case (s, t) if reach(s) => t } ++
            adj.collect { case (s, t) if reach(t) => s }
          grew = next.size > reach.size
          reach = next
        }
        reach == members
      }
    lab.groupBy(_._2).foreach { case (c, ms) =>
      val members = ms.map(_._1).toSet
      assert(connected(members), s"community $c is disconnected: $members")
    }
    // still a modularity optimizer: clears the singleton baseline
    val q = Graph.modularity(edges, "s", "t",
        out.select(col("vertex"), col("community")), "vertex", "community")
      .select("modularity").as[Double].head()
    assert(q > 0.0, s"Q = $q")
  }

  test("louvainMove: modularity is non-decreasing over passes on a ring " +
      "of cliques and beats the singleton baseline") {
    // 4 triangle-cliques in a ring: x0-x1-x2 cliques, ring bridges
    val cliques = (0 until 4).flatMap { c =>
      val v = (0 until 3).map(i => s"c${c}v$i")
      Seq(v(0) -> v(1), v(0) -> v(2), v(1) -> v(2))
    }
    val bridges = (0 until 4).map(c => s"c${c}v0" -> s"c${(c + 1) % 4}v0")
    val edges = (cliques ++ bridges).toDF("s", "t")
    def q(passes: Int): Double = {
      val labels = Graph.louvainMove(edges, "s", "t", passes)
        .select(col("vertex"), col("community"))
      Graph.modularity(edges, "s", "t", labels, "vertex", "community")
        .select("modularity").as[Double].head()
    }
    val qs = (1 to 4).map(q)
    assert(qs.zip(qs.tail).forall { case (a, b) => b >= a },
      s"modularity must not decrease over passes: $qs")
    // singleton partition scores negative (= the pass-0 baseline);
    // the optimizer must clear it and find the 4 cliques' Q
    assert(qs.last > 0.0, qs.toString)
    val comms = Graph.louvainMove(edges, "s", "t", 4)
      .as[(String, String, Long)].collect().groupBy(_._2).view
      .mapValues(_.map(_._1.take(2)).toSet).values.toSet
    assert(comms === (0 until 4).map(c => Set(s"c$c")).toSet,
      s"expected the 4 cliques: $comms")
    intercept[IllegalArgumentException] {
      Graph.louvainMove(edges, "s", "t", passes = 0)
    }
  }
  test("linkPredictionJaccard: path-graph hand fixture — overlap over " +
      "union, existing edges excluded") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d").toDF("s", "t")
    val out = Graph.linkPredictionJaccard(edges, "s", "t",
        maxMiddleDegree = 50, k = 10)
      .as[(String, String, Long, Double)].collect().toSet
    // candidates (a,c) via b and (b,d) via c: common 1, degs (1,2)/(2,1)
    assert(out === Set(("a", "c", 1L, 0.5), ("b", "d", 1L, 0.5)),
      out.toString)
  }
  test("katzCentrality: hand path-graph recursion — attenuated sums " +
      "plus the base credit, leaves distinguishable") {
    val edges = Seq("a" -> "b", "b" -> "c").toDF("s", "t")
    val out = Graph.katzCentrality(edges, "s", "t", alpha = 0.1,
        iters = 3)
      .as[(String, Double)].collect().toMap
    // x1 = (1.1, 1.2, 1.1); x2 = (1.12, 1.22, 1.12);
    // x3 = (1.122, 1.224, 1.122)
    assert(out === Map("a" -> 1.122, "b" -> 1.224, "c" -> 1.122),
      out.toString)
  }

  test("richClub: a K4 core with pendant leaves is a perfect club at " +
      "every threshold below the hub degree; empty thresholds report " +
      "zero, not a dropped row") {
    import spark.implicits._
    // K4 on a..d plus 3 leaves per hub: hub degree 6, leaf degree 1
    val k4 = for (i <- Seq("a", "b", "c", "d").indices;
      j <- i + 1 until 4)
      yield (Seq("a", "b", "c", "d")(i), Seq("a", "b", "c", "d")(j))
    val leaves = for (h <- Seq("a", "b", "c", "d"); i <- 1 to 3)
      yield (h, s"$h$i")
    val edges = (k4 ++ leaves).toDF("s", "t")
    val out = Graph.richClub(edges, "s", "t", ks = Seq(1, 5, 6))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    // k=1 and k=5: exactly the 4 hubs, all 6 club edges -> phi = 1
    assert(out(1) == ((4L, 6L, Some(1.0))), out.toString)
    assert(out(5) == ((4L, 6L, Some(1.0))), out.toString)
    // k=6: nobody exceeds degree 6 -> explicit zero row, NULL phi
    assert(out(6) == ((0L, 0L, None)), out.toString)
    intercept[IllegalArgumentException] {
      Graph.richClub(edges, "s", "t", ks = Seq(1, 1))
    }
  }

  test("knnDegree: star-plus-rung hand curve — leaves see the hub, " +
      "the hub sees the leaf mix; exact class means") {
    import spark.implicits._
    // c-l1, c-l2, c-l3, l1-l2: deg c=3, l1=l2=2, l3=1
    val edges = Seq(("c", "l1"), ("c", "l2"), ("c", "l3"), ("l1", "l2"))
      .toDF("s", "t")
    val out = Graph.knnDegree(edges, "s", "t").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((1L, 3.0)), out.toString)       // l3 -> c
    assert(out(2L) == ((2L, 2.5)), out.toString)       // (3+2+3+2)/4
    assert(out(3L) == ((1L, 1.666667)), out.toString)  // (2+2+1)/3
  }

  test("reciprocity: two of three directed edges reciprocate; " +
      "self-loops and duplicates are dropped before counting") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "c"),
      ("a", "b")).toDF("s", "t")
    val r = Graph.reciprocity(edges, "s", "t").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L, r.toString)
    assert(r.getDouble(2) == 0.666667, r.toString)
  }

  test("transitivity: triangle-plus-pendant — 3 corners over 5 " +
      "wedges is 0.6; the pendant dilutes closure the mean local " +
      "coefficient would hide") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("s", "t")
    val r = Graph.transitivity(edges, "s", "t").collect().head
    assert(r.getLong(0) == 4L && r.getDouble(1) == 5.0
      && r.getLong(2) == 3L, r.toString)
    assert(r.getDouble(3) == 0.6, r.toString)
  }

  test("r19 path equality: contractCommunities / refineConnected " +
      "driver fast paths == distributed plans, including unlabeled " +
      "endpoints, null labels, duplicate edges, self-loops, null " +
      "weights, and the duplicate-label-vertex fallback") {
    import spark.implicits._
    // z is UNLABELED (inner joins drop its edges); d-d is a self-loop
    // (contract keeps it as intra weight; refine drops it); a-b is a
    // DUPLICATE edge (weights sum); e carries a NULL community
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "d"),
      ("d", "d"), ("d", "e"), ("a", "z")).toDF("s", "t")
    val labels = Seq(("a", "X"), ("b", "X"), ("c", "Y"), ("d", "Y"),
      ("e", null)).toDF("v", "comm")
    def cSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("src"), col("dst"), col("weight"))
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    val cFast = cSet(Graph.contractCommunities(edges, "s", "t",
      labels, "v", "comm"))
    val cSlow = cSet(withDriverPathMaxRows(0L)(
      Graph.contractCommunities(edges, "s", "t",
        labels, "v", "comm", None)))
    assert(cFast === cSlow, s"contract paths diverge:\n$cFast\n$cSlow")
    // null community on e: least/greatest skip the null, so d-e
    // lands on (Y, Y) — with c-d and the d-d self-loop, weight 3
    assert(cFast === Set(("X", "X", 2L), ("X", "Y", 1L), ("Y", "Y", 3L)),
      cFast.toString)
    // weighted + a NULL weight: sum skips it; an all-null group is NULL
    val wEdges = Seq(("a", "b", java.lang.Long.valueOf(3L)),
      ("a", "b", null.asInstanceOf[java.lang.Long]),
      ("c", "d", null.asInstanceOf[java.lang.Long])).toDF("s", "t", "w")
    val wFast = cSet(Graph.contractCommunities(wEdges, "s", "t",
      labels, "v", "comm", Some("w")))
    val wSlow = cSet(withDriverPathMaxRows(0L)(
      Graph.contractCommunities(wEdges, "s", "t",
        labels, "v", "comm", Some("w"))))
    assert(wFast === wSlow && wFast === Set(("X", "X", 3L),
      ("Y", "Y", null)), s"$wFast vs $wSlow")
    def rSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSet
    val rFast = rSet(Graph.refineConnected(edges, "s", "t",
      labels, "v", "comm"))
    val rSlow = rSet(withDriverPathMaxRows(0L)(
      Graph.refineConnected(edges, "s", "t",
        labels, "v", "comm")))
    assert(rFast === rSlow, s"refine paths diverge:\n$rFast\n$rSlow")
    // X = {a,b} connected (dup edge is one link); Y = {c,d} connected
    // (self-loop ignored); e's null community matches nothing -> its
    // own singleton
    assert(rFast === Set(("a", "a"), ("b", "a"), ("c", "c"),
      ("d", "c"), ("e", "e")), rFast.toString)
    // duplicate vertex in labels: the driver path must FALL BACK (the
    // joins multiply edges) and still equal the distributed result
    val dup = Seq(("a", "X"), ("a", "X"), ("b", "X"), ("c", "Y"),
      ("d", "Y")).toDF("v", "comm")
    assert(cSet(Graph.contractCommunities(edges, "s", "t", dup,
        "v", "comm"))
      === cSet(withDriverPathMaxRows(0L)(
        Graph.contractCommunities(edges, "s", "t", dup,
          "v", "comm", None))))
    val rd = Graph.refineConnected(edges, "s", "t", dup, "v", "comm")
    val rds = withDriverPathMaxRows(0L)(
      Graph.refineConnected(edges, "s", "t", dup, "v", "comm"))
    assert(rd.collect().map(_.toSeq).toSeq.sortBy(_.toString)
      === rds.collect().map(_.toSeq).toSeq.sortBy(_.toString))
  }

  test("contract/refine over the edge bound: one gate job per gated " +
      "frame and no edge-list count") {
    // RDD-backed single-partition frames, so every gate is a real job
    // (a local Seq would be answered on the driver without one)
    def frame(rows: Seq[(String, String)], cols: String*) =
      spark.sparkContext.parallelize(rows, 1).toDF(cols: _*)
    val edges = frame(Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "d"),
      ("d", "d"), ("d", "e"), ("a", "z"), ("e", "c")), "s", "t")
    val labels = frame(Seq(("a", "X"), ("b", "X"), ("c", "Y"),
      ("d", "Y"), ("e", "Y")), "v", "comm")
    // 8 edges over a bound of 3; 5 labels under the 2x vertex bound, so
    // both gates run and the edge gate is the one that says no
    withDriverPathMaxRows(3) {
      val (cJobs, contracted) = jobsDuring(Graph.contractCommunities(
        edges, "s", "t", labels, "v", "comm"))
      assert(cJobs.size == 2, s"contract gate jobs: $cJobs")
      assert(!cJobs.exists(_.startsWith("count")), cJobs.toString)
      val (rJobs, refined) = jobsDuring(Graph.refineConnected(
        edges, "s", "t", labels, "v", "comm"))
      // refine's own two gates, then the distributed path's
      // connectedComponents gate on the intra-community edges
      assert(!rJobs.exists(_.startsWith("count at Graph")), rJobs.toString)
      assert(rJobs.count(_.contains("DriverPath")) == 3, rJobs.toString)
      val dist = withDriverPathMaxRows(0)((
        Graph.contractCommunities(edges, "s", "t", labels, "v", "comm"),
        Graph.refineConnected(edges, "s", "t", labels, "v", "comm")))
      assert(contracted.collect().toSet === dist._1.collect().toSet)
      assert(refined.collect().toSet === dist._2.collect().toSet)
    }
  }
}
