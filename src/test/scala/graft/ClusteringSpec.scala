package graft

import graft.operators.Clustering
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkTestBase {
  import spark.implicits._

  test("two components resolve to their minimum ids") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val got = Clustering.connectedComponents(edges, "i", "j")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("long chain converges beyond one propagation pass") {
    // path graph 10-9-...-1: label 1 must walk the full diameter
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("i", "j")
    val got = Clustering.connectedComponents(edges, "i", "j")
      .as[(Long, Long)].collect().toMap
    assert(got.size === 10 && got.values.forall(_ == 1L))
  }

  test("edge direction does not matter") {
    val fwd = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("i", "j")
    val rev = fwd.select(col("j").as("i"), col("i").as("j"))
    val a = Clustering.connectedComponents(fwd, "i", "j")
      .as[(Long, Long)].collect().toSet
    val b = Clustering.connectedComponents(rev, "i", "j")
      .as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  test("maxIters too small fails loudly, not with partial labels") {
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("i", "j")
    val ex = intercept[IllegalStateException] {
      // driver path off: this pins the DISTRIBUTED loop's contract
      withDriverPathMaxRows(0L)(
        Clustering.connectedComponents(edges, "i", "j", maxIters = 2))
        .collect()
    }
    assert(ex.getMessage.contains("not converged"))
  }

  test("driver fast path and distributed loop agree exactly") {
    // chain + clique + isolated pair, both vertex-type classes
    val edges = ((1L until 40L).map(i => (i, i + 1))
      ++ Seq((100L, 101L), (101L, 102L), (100L, 102L), (500L, 501L)))
      .toDF("i", "j")
    val fast = Clustering.connectedComponents(edges, "i", "j")
      .as[(Long, Long)].collect().toMap
    val dist = withDriverPathMaxRows(0L)(
      Clustering.connectedComponents(edges, "i", "j",
        shortcut = true))
      .as[(Long, Long)].collect().toMap
    assert(fast == dist, "identical min-id fixpoint on either path")
    val sEdges = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("i", "j")
    val sFast = Clustering.connectedComponents(sEdges, "i", "j")
      .as[(String, String)].collect().toMap
    val sDist = withDriverPathMaxRows(0L)(
      Clustering.connectedComponents(sEdges, "i", "j"))
      .as[(String, String)].collect().toMap
    assert(sFast == sDist && sFast("c") == "a" && sFast("y") == "x")
  }

  test("null edge endpoints are dropped, not propagated into labels") {
    val edges = Seq((Some(1L), Some(2L)), (Some(3L), None), (None, Some(4L)))
      .toDF("i", "j")
    val got = Clustering.connectedComponents(edges, "i", "j")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L))
  }

  test("keepCanonical keeps cluster minima and untouched docs") {
    val docs = (1L to 8L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val kept = Clustering.keepCanonical(docs, "doc_id", pairs, "i", "j")
      .select("doc_id").as[Long].collect().toSet
    // losers 2,3 (cluster 1) and 6 (cluster 5); 4,7,8 never in a pair
    assert(kept === Set(1L, 4L, 5L, 7L, 8L))
  }

  test("cluster ids agree with a brute-force union-find") {
    // deterministic pseudo-random sparse graph over 40 vertices
    val es = (0 until 60).map { k =>
      val a = (k * 37 + 11) % 40; val b = (k * 53 + 29) % 40
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter { case (a, b) => a != b }
    val parent = Array.tabulate(40)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> {
        // component min = min vertex with same root
        val r = find(v.toInt)
        es.flatMap(e => Seq(e._1, e._2)).distinct.filter(u => find(u.toInt) == r).min
      }).toMap
    val got = Clustering.connectedComponents(es.toDF("i", "j"), "i", "j")
      .as[(Long, Long)].collect().toMap
    assert(got === expect)
  }

  // --- kmeansPortable ---

  private def blobs = Seq(
    // two well-separated 2-D blobs; ids chosen so the two smallest md5
    // draws (6, then 4) land one per blob — Lloyd is a LOCAL optimizer
    // and can only separate blobs its seeds straddle
    (6L, Seq(0.0f, 0.1f)), (5L, Seq(0.1f, 0.0f)), (3L, Seq(0.05f, 0.05f)),
    (4L, Seq(9.0f, 9.1f)), (1L, Seq(9.1f, 9.0f)), (2L, Seq(9.05f, 9.05f)),
  ).toDF("id", "vec")

  test("simplifiedSilhouette: tight blobs near 1, degenerate ties 0") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0, 0.1)), (2L, Array(0.1, 0.0)), (3L, Array(0.0, 0.0)),
      (4L, Array(10.0, 10.1)), (5L, Array(10.1, 10.0)),
      (6L, Array(10.0, 10.0)),
    ).toDF("vec_id", "embedding")
    val rows = Clustering.simplifiedSilhouette(vecs, "vec_id",
      "embedding", k = 2, iters = 2).orderBy("cluster").collect()
    assert(rows.length == 2 && rows.map(_.getLong(1)).sum == 6)
    assert(rows.forall(_.getDouble(2) > 0.9),
      s"well-separated blobs score near 1: ${rows.toSeq}")
    // identical vectors: every centroid coincides -> a = b -> s = 0
    val same = (1L to 4L).map(i => (i, Array(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val flat = Clustering.simplifiedSilhouette(same, "vec_id",
      "embedding", k = 2, iters = 1).collect()
    assert(flat.forall(_.getDouble(2) == 0.0), flat.toSeq.toString)
  }

  test("daviesBouldin: separated blobs score low, duplicate centroids drop") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0, 0.1)), (2L, Array(0.1, 0.0)), (3L, Array(0.0, 0.0)),
      (4L, Array(10.0, 10.1)), (5L, Array(10.1, 10.0)),
      (6L, Array(10.0, 10.0)),
    ).toDF("vec_id", "embedding")
    val rows = Clustering.daviesBouldin(vecs, "vec_id", "embedding",
      k = 2, iters = 2).orderBy("cluster").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getDouble(4) < 0.1),
      s"tight separated blobs -> small DB: ${rows.toSeq}")
    assert(rows.forall(r => r.getDouble(2) >= 0.0), "sigma nonnegative")
    // identical vectors: duplicate centroids, every pair drops
    val same = (1L to 4L).map(i => (i, Array(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val flat = Clustering.daviesBouldin(same, "vec_id", "embedding",
      k = 2, iters = 1).collect()
    assert(flat.forall(_.isNullAt(3)), "d = 0 pairs dropped -> NULL r_max")
  }

  test("kmeans separates two obvious blobs, preserving every row") {
    val got = Clustering.kmeansPortable(blobs, "id", "vec", k = 2, iters = 2)
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(got.length === 6)
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.values.toSet === Set(Set(6L, 5L, 3L), Set(4L, 1L, 2L)))
    assert(got.forall { case (_, c, d) => c >= 0 && c < 2 && d >= 0.0 })
  }

  test("kmeans is deterministic across runs") {
    val a = Clustering.kmeansPortable(blobs, "id", "vec", 2, 2).collect().toSeq
    val b = Clustering.kmeansPortable(blobs, "id", "vec", 2, 2).collect().toSeq
    assert(a === b)
  }

  test("kmeans iters=0 assigns against the raw seed centroids") {
    // seeds are data points, so at least the seed rows sit at dist 0
    val got = Clustering.kmeansPortable(blobs, "id", "vec", 2, iters = 0)
      .as[(Long, Int, Double)].collect()
    assert(got.count(_._3 == 0.0) >= 2)
  }

  test("kmeans with k greater than the row count fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      Clustering.kmeansPortable(blobs, "id", "vec", k = 7, iters = 1)
    }
    assert(ex.getMessage.contains("needs >= 7 rows"))
  }

  // --- semDedup ---

  test("semDedup drops higher-id exact duplicates, keeps distinct vectors") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),   // dup pair -> keep 1
      (3L, Seq(0.0f, 1.0f)),                          // orthogonal: survives
      (4L, Seq(-1.0f, 0.0f)),                         // anti-parallel: survives
    ).toDF("id", "vec")
    val kept = Clustering.semDedup(vecs, "id", "vec", k = 1, iters = 1,
        minCosine = 0.95)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L))
  }

  test("semDedup with an unreachable threshold keeps everything") {
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("id", "vec")
    val kept = Clustering.semDedup(vecs, "id", "vec", 1, 1, minCosine = 1.5)
    assert(kept.count() === 2)
  }

  test("shortcut CC equals plain CC and converges inside a log-sized budget") {
    import spark.implicits._
    // a 120-hop path graph (worst case for plain propagation) plus a
    // disjoint triangle; min label must flow the whole chain
    val chain = (0 until 120).map(i => (i.toLong + 500L, i.toLong + 501L))
    val tri = Seq((10000L, 10001L), (10001L, 10002L), (10002L, 10000L))
    val edges = (chain ++ tri).toDF("src", "dst")

    val plain = Clustering
      .connectedComponents(edges, "src", "dst", maxIters = 130)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 120 hops, pointer jumping: label distance doubles per pass, so
    // ~log2(120) + slack passes MUST be enough — 12 would throw if
    // jumping regressed to linear propagation
    val jumped = Clustering
      .connectedComponents(edges, "src", "dst", maxIters = 12,
        shortcut = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(jumped == plain, "identical labels under either schedule")
    assert((500L to 620L).forall(v => jumped(v) == 500L),
      "chain collapses to its min id")
    assert(Seq(10000L, 10001L, 10002L).forall(v => jumped(v) == 10000L))
  }

  test("gmmPortable: two planted blobs recover with near-certain " +
      "responsibilities; k=1 is the total degenerate component; " +
      "deterministic re-run") {
    import spark.implicits._
    // two tight 4-D blobs around 0 and 10, deterministic jitter
    val vecs = (0 until 24).map { i =>
      val base = if (i < 12) 0.0 else 10.0
      (i.toLong, Seq(base + (i % 5) * 0.02, base - (i % 3) * 0.03,
        base + (i % 7) * 0.01, base - (i % 4) * 0.02))
    }.toDF("id", "vec")
    val out = Clustering.gmmPortable(vecs, "id", "vec", k = 2, passes = 2)
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    // blob membership is EXACTLY the cluster split
    val byCluster = out.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.values.toSet ===
      Set((0L until 12L).toSet, (12L until 24L).toSet), out.toSeq)
    // separation >> spread: the soft assignment is near-certain
    assert(out.forall(_._3 > 0.999),
      s"responsibilities must saturate: ${out.map(_._3).min}")
    // k = 1: everything in component 0 with responsibility exactly 1
    val one = Clustering.gmmPortable(vecs, "id", "vec", k = 1, passes = 2)
      .as[(Long, Int, Double)].collect()
    assert(one.forall(r => r._2 == 0 && r._3 == 1.0), one.toSeq)
    // frozen-decimal EM: bit-identical on re-run
    val again = Clustering.gmmPortable(vecs, "id", "vec", k = 2,
      passes = 2).as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(again.toSeq == out.toSeq)
  }

  test("spectralClustering: planted two-block graph recovers the " +
      "blocks; e2 signs separate them; deterministic re-run") {
    import spark.implicits._
    // two 4-cliques {a..d} and {e..h} joined by ONE bridge edge d-e:
    // the normalized cut is the bridge, so the Fiedler coordinate
    // must split the cliques and k-means must recover them exactly
    def clique(vs: Seq[String]) =
      for (i <- vs.indices; j <- i + 1 until vs.size) yield (vs(i), vs(j))
    val edges = (clique(Seq("a", "b", "c", "d"))
      ++ clique(Seq("e", "f", "g", "h")) :+ (("d", "e")))
      .toDF("s", "t")
    val out = Clustering.spectralClustering(edges, "s", "t",
        k = 2, powerIters = 8)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getInt(3)))).toMap
    val left = Set("a", "b", "c", "d")
    val byCluster = out.groupBy(_._2._3).view
      .mapValues(_.keys.toSet).toMap
    assert(byCluster.values.toSet ===
      Set(left, Set("e", "f", "g", "h")), out.toString)
    // the Fiedler coordinate alone separates the blocks by sign
    val signs = out.view.mapValues(v => v._1 > 0.0).toMap
    assert(left.map(signs).size == 1
      && Set("e", "f", "g", "h").map(signs).size == 1
      && signs("a") != signs("h"), out.toString)
    // frozen-decimal passes: bit-identical on re-run
    val again = Clustering.spectralClustering(edges, "s", "t",
        k = 2, powerIters = 8)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(again == out)
  }

  test("kmeansPortable/gmmPortable: the r18 driver fast paths equal " +
      "the distributed loops row-for-row (string and long ids, " +
      "iters/passes swept, empty-cluster keep rule)") {
    import spark.implicits._
    val ptsS = (1 to 60).map(i =>
      (s"v$i", Seq((i % 5).toDouble, (i % 9) / 3.0, i / 20.0)))
      .toDF("id", "vec")
    val ptsL = (1 to 60).map(i =>
      (i.toLong * 7 % 61, Seq((i % 5).toDouble, (i % 9) / 3.0)))
      .toDF("id", "vec")
    for (pts <- Seq(ptsS, ptsL); it <- Seq(0, 1, 3)) {
      val fast = Clustering.kmeansPortable(pts, "id", "vec", k = 3,
        iters = it).collect().map(_.toSeq).toSet
      val dist = withDriverPathMaxRows(0)(
        Clustering.kmeansPortable(pts, "id", "vec", k = 3,
          iters = it)).collect().map(_.toSeq).toSet
      assert(fast === dist, s"kmeans iters=$it ${pts.schema("id").dataType}")
    }
    for (pts <- Seq(ptsS, ptsL); ps <- Seq(1, 3)) {
      val fast = Clustering.gmmPortable(pts, "id", "vec", k = 3,
        passes = ps).collect().map(_.toSeq).toSet
      val dist = withDriverPathMaxRows(0)(
        Clustering.gmmPortable(pts, "id", "vec", k = 3,
          passes = ps)).collect().map(_.toSeq).toSet
      assert(fast === dist, s"gmm passes=$ps ${pts.schema("id").dataType}")
    }
  }

  test("spectralClustering: the r18 driver fast path equals the " +
      "distributed loop row-for-row (k=2 and k=3, bridge graph, " +
      "disconnected graph, pendant vertices)") {
    import spark.implicits._
    def clique(vs: Seq[String]) =
      for (i <- vs.indices; j <- i + 1 until vs.size) yield (vs(i), vs(j))
    // bridge graph + a pendant; and a disconnected pair of triangles
    val bridged = (clique(Seq("a", "b", "c", "d"))
      ++ clique(Seq("e", "f", "g", "h")) :+ (("d", "e")) :+ (("h", "p")))
      .toDF("s", "t")
    val disjoint = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z")).toDF("s", "t")
    for (edges <- Seq(bridged, disjoint); k <- Seq(2, 3);
        it <- Seq(2, 6)) {
      val fast = Clustering.spectralClustering(edges, "s", "t",
          k = k, powerIters = it)
        .as[(String, Double, Double, Int, Double)].collect().toSet
      val dist = withDriverPathMaxRows(0)(
        Clustering.spectralClustering(edges, "s", "t",
          k = k, powerIters = it))
        .as[(String, Double, Double, Int, Double)].collect().toSet
      assert(fast === dist, s"k=$k powerIters=$it")
    }
  }

  test("spectralClustering: disconnected graph — the k=2 cut agrees " +
      "exactly with connectedComponents") {
    import spark.implicits._
    // two disjoint triangles (eigenvalue-1 multiplicity 2: the power
    // loop converges INSIDE the top eigenspace and the cut must
    // recover the components)
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z")).toDF("s", "t")
    val spectral = Clustering.spectralClustering(edges, "s", "t",
        k = 2, powerIters = 8)
      .collect().map(r => r.getString(0) -> r.getInt(3)).toMap
    val cc = Clustering.connectedComponents(edges, "s", "t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val spectralParts = spectral.groupBy(_._2).values
      .map(_.keys.toSet).toSet
    val ccParts = cc.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(spectralParts === ccParts,
      s"spectral=$spectralParts cc=$ccParts")
  }

  test("kCenterCoreset: md5-seeded farthest-point traversal — seed " +
      "a, then the far extreme, then the 1.0-radius tie broken to " +
      "the smaller id; the dist sequence certifies the cover radius") {
    import spark.implicits._
    val vecs = Seq(
      ("a", Seq(0.0, 0.0)), ("b", Seq(10.0, 0.0)),
      ("c", Seq(1.0, 0.0)), ("d", Seq(9.0, 0.0)))
      .toDF("id", "vec")
    val out = Clustering.kCenterCoreset(vecs, "id", "vec", k = 3)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(1).getString(1) == "a" && out(1).isNullAt(2),
      out(1).toString)
    assert(out(2).getString(1) == "b" && out(2).getDouble(2) == 100.0,
      out(2).toString)
    // c and d both sit at squared distance 1 from their nearest
    // center after two picks: the tie goes to the smaller id
    assert(out(3).getString(1) == "c" && out(3).getDouble(2) == 1.0,
      out(3).toString)
  }
}
