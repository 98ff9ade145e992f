package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Duplicate-cluster resolution: connected components over a near-dup
  * pair list, and the canonical-document dedup built on it.
  *
  * Pair generators (Dedup.minHashLshNearDup / simHashNearDup /
  * nearNgramJaccard) emit EDGES — (i, j) pairs over the similarity
  * threshold. A real dedup must then pick ONE survivor per transitive
  * group (A~B, B~C means A, B, C are one duplicate cluster even when
  * A~C itself is below threshold), which is connected components over
  * the pair graph.
  *
  * Scale design: min-label propagation on DataFrames. State is one
  * (vertex, label) row per vertex that appears in >= 1 pair — NOT per
  * corpus document, and near-dup edge lists are tiny relative to the
  * corpus — and each iteration is two shuffles (edge join + min-agg)
  * over that state. Iteration count is bounded by the cluster graph's
  * DIAMETER, which for duplicate clusters is small (near-cliques: every
  * member overlaps most others), so the loop typically converges in
  * 2-4 passes. Each pass is `localCheckpoint`ed: lineage is truncated
  * so the plan does not grow with iterations and no stage is
  * re-executed (at cluster scale with executor loss in play, swap in
  * reliable `checkpoint` — same call shape). The driver holds only the
  * one-row convergence count, never the labels.
  *
  * Deterministic: labels move monotonically down to the component-min
  * vertex id; no randomness, no tie-breaks.
  */
object Clustering {

  /** Connected components of the undirected graph given as an edge
    * list. Returns one row per distinct vertex: (v, cluster_id) where
    * cluster_id is the MINIMUM vertex id reachable from v.
    *
    * Fails loudly (IllegalStateException) if `maxIters` passes do not
    * converge — for near-dup graphs that means the edge list is not the
    * near-clique family this is tuned for, and silently-partial labels
    * would merge or split clusters downstream.
    *
    * `shortcut = true` adds pointer jumping: each pass also pulls the
    * label OF the current label (one extra label⋈label join), so label
    * distance doubles per pass and convergence drops from
    * O(diameter) to O(log diameter) passes. Near-clique dedup graphs
    * (diameter 2-4) don't need it — the extra join per pass costs more
    * than it saves; LONG-CHAIN graphs (DBSCAN ε-chains, road-like
    * adjacency, time-linked sessions) need it badly: a 1000-hop chain
    * is ~10 shortcut passes vs ~1000 plain ones.
    *
    * Adaptive small-graph path: when the deduped symmetric edge list
    * fits the [[DriverPath]] bound AND has an atomic vertex type, labels
    * come from a driver union-find instead of the loop — the broadcast
    * -join argument applied to iteration (several scheduler round-
    * trips per pass vs milliseconds of single-core work). Both paths
    * produce the identical min-id fixpoint (spec-pinned). The default
    * bound (2M symmetric edges ≈ tens of MB of driver strings) is the
    * footprint class of an ordinary broadcast relation.
    */
  /** Driver union-find over a collected symmetric edge list: the
    * small-graph fast path of [[connectedComponents]]. Path-compressed
    * find + union-by-size, then each component labels with its MINIMUM
    * vertex id — bit-identical to the distributed loop's fixpoint.
    * Only called under the caller's size bound and only for vertex
    * types with a total order (Comparable).
    */
  private[graft] def unionFindLabels(rows: Array[(Any, Any)]): Seq[(Any, Any)] = {
    val parent = new java.util.HashMap[Any, Any]()
    val size = new java.util.HashMap[Any, Int]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != null && parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != null && parent.get(c) != r) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      if (parent.get(r) == null) { parent.put(r, r); size.put(r, 1) }
      r
    }
    rows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (big, small) =
          if (size.get(ra) >= size.get(rb)) (ra, rb) else (rb, ra)
        parent.put(small, big)
        size.put(big, size.get(big) + size.get(small))
      }
    }
    @annotation.nowarn("cat=unchecked")
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      // match Spark's UTF8String binary order, not UTF-16 compareTo
      // (they disagree on non-BMP code points)
      case (x: String, y: String) => java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val minOf = new java.util.HashMap[Any, Any]()
    val verts = new java.util.LinkedHashSet[Any]()
    rows.foreach { case (a, b) => verts.add(a); verts.add(b) }
    verts.forEach { v =>
      val r = find(v)
      val cur = minOf.get(r)
      if (cur == null || lt(v, cur)) minOf.put(r, v)
    }
    val out = Vector.newBuilder[(Any, Any)]
    verts.forEach(v => out += ((v, minOf.get(find(v)))))
    out.result()
  }

  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 25, shortcut: Boolean = false): DataFrame = {
    // null endpoints carry no connectivity and would propagate null
    // labels through least(); drop them up front
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // Symmetric closure: propagation below follows edges src -> dst
    // only, so both directions must exist for labels to flow both ways.
    val symRaw = e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint() // upstream (often a blocked join) runs ONCE
    // Small-graph fast path: the same adaptivity argument as a
    // broadcast join — when the (deduped, symmetrized) edge list fits
    // the driver comfortably, a path-compressed union-find labels it
    // in milliseconds, where the distributed loop pays several
    // scheduler round-trips PER PASS for sub-second work (a DBSCAN
    // core graph or an LSH near-dup family at test scale burns ~5 s of
    // pure stage overhead). Past the bound — or for vertex types with
    // no total order — the pointer-jumping loop below runs unchanged;
    // both paths produce the identical min-id fixpoint (pinned by
    // spec on a fixture run through both).
    val vType = symRaw.schema("src").dataType
    val comparableV = {
      import org.apache.spark.sql.types._
      vType match {
        case _: NumericType | StringType | DateType | TimestampType |
             BooleanType => true
        case _ => false
      }
    }
    if (comparableV) DriverPath.rows(symRaw) match {
      case Some(collected) =>
        val pairs = collected.map(r => (r.get(0), r.get(1)))
        val labeled = unionFindLabels(pairs)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v", vType),
          org.apache.spark.sql.types.StructField("cluster_id", vType)))
        val rows = labeled.map { case (v, c) =>
          org.apache.spark.sql.Row(v, c) }
        return DriverPath.frame(edges.sparkSession, rows, schema)
      case None =>
    }
    // Size decisions read the EDGE LIST, not the session default. The
    // count is cheap — symRaw is already materialized.
    val nSym = symRaw.count()
    val defaultParts = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(1L,
      math.min(defaultParts.toLong, nSym / 250000L + 1L)).toInt
    val sym = symRaw
      // every pass joins sym on dst: hash-partition ONCE here (the
      // checkpointed plan keeps its outputPartitioning), so per-pass
      // exchanges move only the label state, never the edge list
      .repartition(parts, col("dst"))
      .localCheckpoint() // the loop re-joins this every pass: compute once
    // symRaw existed only to be counted (scale-adaptive parts) and
    // re-partitioned; drop its blocks so the over-bound path holds ONE
    // edge copy, not two (r19, guide §5)
    Graph.freeLocalCheckpoint(symRaw)
    var labels = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("cluster_id"))
      .localCheckpoint()
    var pass = 0
    var converged = false
    while (!converged && pass < maxIters) {
      // Each vertex pulls the minimum label among its neighbors; the
      // left join keeps isolated-after-distinct vertices (none exist
      // under symmetric closure, but the shape stays total either way).
      val nbrMin = sym
        .join(labels, sym("dst") === labels("v"))
        .groupBy(col("src").as("v2"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val stepped = labels
        .join(nbrMin, labels("v") === nbrMin("v2"), "left")
        .select(col("v"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("nbr_min"), col("cluster_id")) < col("cluster_id"))
            .as("_chg"))
      val next = (if (!shortcut) stepped else {
        // pointer jump: label(label(v)) — the label table joined to
        // itself on the current label; labels only ever decrease, so
        // least() keeps monotonicity and the convergence proof
        val byV = stepped.select(col("v").as("_lv"),
          col("cluster_id").as("_lc"))
        stepped
          .join(byV, stepped("cluster_id") === col("_lv"), "left")
          .select(stepped("v"),
            least(stepped("cluster_id"),
              coalesce(col("_lc"), stepped("cluster_id"))).as("cluster_id"),
            (stepped("_chg") ||
              coalesce(col("_lc"), stepped("cluster_id"))
                < stepped("cluster_id")).as("_chg"))
      }).localCheckpoint()
      // One tiny driver-side scalar per pass; labels never leave the
      // executors. limit(1) short-circuits the scan on non-converged
      // passes.
      converged = next.filter(col("_chg")).limit(1).isEmpty
      labels = next.drop("_chg")
      pass += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIters passes " +
          "(graph diameter exceeds maxIters; raise it for long-chain graphs)")
    labels
  }

  /** Deterministic Lloyd k-means over an embedding column.
    *
    * Semantic curation at corpus scale (cluster-then-process: SemDeDup
    * -style near-dup removal, cluster-balanced sampling, topic
    * bucketing) needs a clustering whose assignments are REPRODUCIBLE
    * across runs, retries, and engines — `rand()` init disqualifies
    * itself the same way it does for [[Sampling]]. Seeding here is the
    * k vectors with the smallest engine-portable md5 draw of their id
    * ([[Sampling.portableUnit]]); every subsequent step is pure
    * arithmetic.
    *
    * Scale design (Lloyd's is centroid-broadcast by nature):
    *  - Assignment is a narrow per-row projection — the k·dim centroid
    *    matrix rides into the plan as literals (k·dim doubles, a few
    *    KB), so NO join and NO shuffle; distances stay inside
    *    whole-stage codegen via `zip_with`/`aggregate` HOFs.
    *  - The update step is ONE hash aggregation keyed by cluster id
    *    with `avg(element_at(vec, i))` per dimension — partial
    *    aggregation sums per-partition first, so the shuffle carries
    *    k·dim partial sums per partition, not rows. No posexplode (a
    *    ×dim row blow-up) anywhere.
    *  - Driver holds exactly the k·dim centroid matrix per iteration —
    *    the irreducible Lloyd state — never row data.
    *
    * Engine-portable determinism: distances and refreshed centroid
    * coordinates are rounded to `roundDp` decimals, so an oracle
    * replaying the same arithmetic reproduces every assignment
    * bit-exactly (summation-order noise lives ~1e-13, far below the
    * 1e-6 quantum; ties on the rounded distance break to the lowest
    * cluster index via `array_position`). Empty clusters keep their
    * previous centroid.
    *
    * Returns one row per input: (idCol, cluster [0-based], dist
    * [squared L2 to the final centroid, rounded]).
    */
  /** Greedy k-center coreset (Gonzalez 2-approximation) — the
    * DIVERSITY selection the similarity family lacks: kmeans picks
    * dense centers, farthest-point traversal picks COVERING ones
    * (every point is within r of some pick, r ≤ 2·optimal) — the
    * standard "small diverse subset" step for eval-set seeding and
    * annotation budgets. Seed = the [[Sampling.portableUnit]]
    * smallest-draw row (the kmeans seeding discipline); each of the
    * k−1 passes picks the point FARTHEST from its nearest chosen
    * center, ties to the smallest id.
    *
    * Determinism: squared-L2 via the shared index-order fold
    * ([[sqDistTo]]) frozen at 6 dp; running min-distance re-frozen
    * per pass (a 6-dp LEAST of 6-dp values); selection is ORDER BY
    * (dist DESC, id) LIMIT 1 — both engines on identical doubles.
    * Driver state is the ≤ k-row center list (the sanctioned
    * bounded collect). Each pass is one corpus projection — no
    * joins, no shuffles; k passes total. Output: (rank, id, dist) —
    * dist is the selection radius (NULL for the seed), the
    * DECREASING sequence whose k-th value certifies cover radius.
    */
  def kCenterCoreset(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 32, s"kCenterCoreset: k in [2, 32], got $k")
    val spark = vecs.sparkSession
    import spark.implicits._
    val Seq(idc, vc) = Cols.fresh("kc", 2, vecs)
    val v = vecs.select(col(idCol).cast("string").as(idc),
        col(vecCol).cast("array<double>").as(vc))
      .localCheckpoint() // k sequential passes re-read it
    val seedRow = v.orderBy(Sampling.portableUnit(col(idc)), col(idc))
      .limit(1).select(col(idc), col(vc)).head()
    var picks = Seq((1, seedRow.getString(0),
      Option.empty[Double]))
    var center = seedRow.getSeq[Double](1).toSeq
    var scored = v.withColumn("_dm", sqDistTo(col(vc), center, 6))
    for (i <- 2 to k) {
      val next = scored.orderBy(col("_dm").desc, col(idc))
        .limit(1).select(col(idc), col(vc), col("_dm")).head()
      picks = picks :+ ((i, next.getString(0),
        Some(next.getDouble(2))))
      center = next.getSeq[Double](1).toSeq
      if (i < k)
        scored = scored.withColumn("_dm",
          least(col("_dm"), sqDistTo(col(vc), center, 6)))
    }
    picks.toDF("rank", "id", "dist")
      .select(col("rank").cast("int").as("rank"),
        col("id").as(idCol), col("dist").cast("double").as("dist"))
  }

  def kmeansPortable(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, roundDp: Int = 6): DataFrame = {
    val Seq(idc, vc) = Cols.fresh("km", 2, vecs)
    val v = vecs.select(col(idCol).as(idc),
      col(vecCol).cast("array<double>").as(vc))
    val centroids = trainCentroids(v, idc, vc, k, iters, roundDp)
    assignToCentroids(v, idc, vc, centroids, roundDp)
      .select(col(idc).as(idCol), col("cluster"), col("dist"))
  }

  /** The squared-L2-to-a-literal-centroid kernel every portable
    * clustering step shares (distances rounded at roundDp). */
  private[operators] def sqDistTo(vec: Column, centroid: Seq[Double],
      roundDp: Int): Column =
    round(aggregate(
      zip_with(vec, typedLit(centroid), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e), roundDp)

  /** The Lloyd training loop of [[kmeansPortable]], reusable on any
    * (id, vector) projection — [[ProductQuantizer]] runs it once per
    * subspace. Same portable seeding, per-step rounding, and
    * empty-cluster rule; driver state is the k·dim centroid matrix
    * only (the sanctioned bounded collect).
    */
  /** The (id, vector) driver fast-path gate: the collected projection
    * when it fits the [[DriverPath]] bound. The bound is byte-aware
    * (r19): rows × (8·dim + 48 bytes id/row overhead) must also fit
    * [[DriverPath.DriverMaxCollectBytes]], dim from a first-row probe
    * (an estimate is all a gate needs). Returns None (→ caller stays
    * distributed) past either bound, when the id type's driver-side
    * ordering would not replicate Spark's, or when any null/ragged
    * row is present (those flow through the distributed kernels' own
    * null semantics). */
  private[operators] def collectVectors(v: DataFrame, idc: String,
      vc: String): Option[(Array[Any], Array[Array[Double]])] = {
    import org.apache.spark.sql.types._
    val idOk = Set[DataType](StringType, LongType, IntegerType,
      ShortType, ByteType).contains(v.schema(idc).dataType)
    val vecOk = v.schema(vc).dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!idOk || !vecOk) return None
    val probe = v.select(size(col(vc))).limit(1).collect()
    val width = if (probe.isEmpty || probe(0).isNullAt(0)) 0
      else math.max(probe(0).getInt(0), 0)
    val rows = DriverPath.rows(v.select(col(idc), col(vc)),
        bytesPerRow = 8L * width + 48L) match {
      case Some(rows) => rows
      case None => return None
    }
    val ids = new Array[Any](rows.length)
    val vecs = new Array[Array[Double]](rows.length)
    var dim = -1
    var i = 0
    while (i < rows.length) {
      val row = rows(i)
      if (row.isNullAt(0) || row.isNullAt(1)) return None
      val s = row.getSeq[Any](1)
      if (s.contains(null)) return None
      val arr = new Array[Double](s.length)
      var j = 0
      s.foreach { e => arr(j) = e.asInstanceOf[Double]; j += 1 }
      if (dim < 0) dim = arr.length
      else if (arr.length != dim) return None
      ids(i) = row.get(0); vecs(i) = arr
      i += 1
    }
    if (rows.isEmpty) None else Some((ids, vecs))
  }

  /** (portableUnit, id) total-order comparator over collected ids —
    * Spark's orderBy replica (UTF8-binary for strings, numeric for
    * integral ids). */
  private[operators] def seedOrder(ids: Array[Any]): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def unit(s: String): Double = {
      md.reset()
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16) / 1152921504606846976.0
    }
    // portableUnit casts the key to string first — replicate
    val units = ids.map(a => unit(a.toString))
    def idLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        java.util.Arrays.compareUnsigned(
          x.getBytes("UTF-8"), y.getBytes("UTF-8")) < 0
      case (x: java.lang.Number, y: java.lang.Number) =>
        x.longValue() < y.longValue()
      case _ => sys.error("seedOrder: unsupported id type")
    }
    ids.indices.sortWith { (a, b) =>
      if (units(a) != units(b)) units(a) < units(b)
      else idLt(ids(a), ids(b))
    }.toArray
  }

  /** Driver replica of [[trainCentroids]]' Lloyd loop over collected
    * vectors — identical seed order, [[sqDistTo]] fold order,
    * argmin-lowest-index ties, roundDp per-dim means, empty-cluster
    * keep rule. Double sums differ from the distributed avg only in
    * task order, absorbed by the roundDp freeze (the kmeansPortable
    * portability contract the oracle replay relies on). */
  private[operators] def trainCentroidsDriver(ids: Array[Any],
      vecs: Array[Array[Double]], k: Int, iters: Int, roundDp: Int)
      : Seq[Seq[Double]] = {
    val n = vecs.length
    val dim = vecs(0).length
    require(n >= k, s"kmeansPortable: needs >= $k rows, got ${math.min(n, k)}")
    val order = seedOrder(ids)
    var centroids: IndexedSeq[Seq[Double]] =
      (0 until k).map(j => vecs(order(j)).toSeq)
    def sqDist(x: Array[Double], c: Seq[Double]): Double = {
      var s = 0.0; var d = 0
      while (d < dim) { val t = x(d) - c(d); s += t * t; d += 1 }
      DriverPath.round(s, roundDp)
    }
    def assign(v: Int): Int = {
      var best = 0; var bestD = sqDist(vecs(v), centroids(0)); var c = 1
      while (c < k) {
        val dc = sqDist(vecs(v), centroids(c))
        if (dc < bestD) { best = c; bestD = dc }
        c += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(k, dim)(0.0)
      val cnts = new Array[Long](k)
      var v = 0
      while (v < n) {
        val c = assign(v)
        cnts(c) += 1L
        var d = 0
        while (d < dim) { sums(c)(d) += vecs(v)(d); d += 1 }
        v += 1
      }
      centroids = (0 until k).map { c =>
        if (cnts(c) > 0L)
          (0 until dim).map(d =>
            DriverPath.round(sums(c)(d) / cnts(c), roundDp))
        else centroids(c)
      }
    }
    centroids.map(_.toSeq)
  }

  private[operators] def trainCentroids(v: DataFrame, idc: String,
      vc: String, k: Int, iters: Int, roundDp: Int): Seq[Seq[Double]] = {
    require(k >= 1, s"kmeansPortable: k must be >= 1, got $k")
    require(iters >= 0, s"kmeansPortable: iters must be >= 0, got $iters")
    // Driver fast path (r18): the seed scan + iters × (assign/agg/
    // collect) jobs collapse to one collect when the projection fits
    // the driver bound — this is the shared Lloyd kernel under
    // kmeansPortable, gmmPortable, silhouette/Davies-Bouldin, and
    // every ProductQuantizer training call. Falls back on non-
    // replicable id types or null/ragged vectors; the gate is
    // byte-aware ([[collectVectors]]).
    collectVectors(v, idc, vc) match {
      case Some((ids, vecs)) =>
        trainCentroidsDriver(ids, vecs, k, iters, roundDp)
      case None => lloydCentroids(v, idc, vc, k, iters, roundDp)
    }
  }

  /** The distributed Lloyd loop behind [[trainCentroids]]. */
  private def lloydCentroids(v: DataFrame, idc: String, vc: String,
      k: Int, iters: Int, roundDp: Int): Seq[Seq[Double]] = {
    val dim = v.select(size(col(vc))).head().getInt(0)
    var centroids: Seq[Seq[Double]] = v
      .orderBy(Sampling.portableUnit(col(idc)), col(idc))
      .limit(k)
      .select(col(vc)).collect().toSeq
      .map(_.getSeq[Double](0).toSeq)
    require(centroids.size == k,
      s"kmeansPortable: needs >= $k rows, got ${centroids.size}")
    for (_ <- 1 to iters) {
      val dimAvgs = (0 until dim).map(i =>
        round(avg(element_at(col(vc), i + 1)), roundDp).as(s"m$i"))
      val refreshed = assignToCentroids(v, idc, vc, centroids, roundDp)
        .groupBy(col("cluster"))
        .agg(dimAvgs.head, dimAvgs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> (1 to dim).map(r.getDouble).toSeq)
        .toMap
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        refreshed.getOrElse(c, old) // empty cluster: centroid stands
      }
    }
    centroids
  }

  /** Literal-centroid assignment: (idc, vc, cluster, dist), argmin
    * ties to the lowest cluster index via array_position. */
  private[operators] def assignToCentroids(v: DataFrame, idc: String,
      vc: String, centroids: Seq[Seq[Double]], roundDp: Int): DataFrame = {
    val dists = array(centroids.map(c =>
      sqDistTo(col(vc), c, roundDp)): _*)
    v.select(col(idc), col(vc),
      (array_position(dists, array_min(dists)) - 1).cast("int").as("cluster"),
      array_min(dists).as("dist"))
  }

  /** Simplified silhouette per cluster (Hruschka et al. 2004): for
    * each point, a = (squared-L2) distance to its OWN centroid, b =
    * the nearest OTHER centroid's distance, s = (b−a)/max(a,b) — the
    * O(n·k) centroid-based form of the O(n²) pairwise silhouette,
    * which is the only form that survives corpus scale; the
    * cluster-quality readout run after [[kmeansPortable]] ("is k
    * right, which clusters are mush"). s near 1 = tight and far from
    * neighbors, near 0 = boundary, negative = probably mis-assigned.
    *
    * Determinism: distances are the [[kmeansPortable]] rounded
    * kernel verbatim (same seeding, same argmin-lowest-index ties —
    * a tie on min distance gives b = a, s = 0 on any engine); each s
    * is one rounded tree frozen at 6 dp, per-cluster means are
    * decimal(38,6) sums of those quanta with ONE division.
    * max(a,b) = 0 (point on every centroid) → s = 0 by convention.
    *
    * Scale shape: centroids ride as literals (the Lloyd contract —
    * zero joins), one scan computes all k distances per row inside
    * codegen, one cluster-keyed aggregate. Output:
    * (cluster, n, silhouette).
    */
  def simplifiedSilhouette(vecs: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, roundDp: Int = 6): DataFrame = {
    require(k >= 2, s"simplifiedSilhouette: k must be >= 2, got $k")
    val Seq(idc, vc) = Cols.fresh("sil", 2, vecs)
    val v = vecs.select(col(idCol).as(idc),
      col(vecCol).cast("array<double>").as(vc))
    val centroids = trainCentroids(v, idc, vc, k, iters, roundDp)
    val dists = array(centroids.map(c =>
      sqDistTo(col(vc), c, roundDp)): _*)
    val withD = v.select(col(idc), dists.as("_d"))
      .withColumn("cluster",
        (array_position(col("_d"), array_min(col("_d"))) - 1).cast("int"))
      .withColumn("_a", array_min(col("_d")))
      .withColumn("_b", array_min(filter(col("_d"),
        (_, i) => i =!= col("cluster"))))
      .withColumn("_s",
        when(greatest(col("_a"), col("_b")) > 0.0,
          round((col("_b") - col("_a"))
            / greatest(col("_a"), col("_b")), 6))
          .otherwise(lit(0.0)).cast("decimal(38,6)"))
    withD.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("_s").as("_ss"))
      .select(col("cluster"), col("n").cast("bigint").as("n"),
        round(col("_ss").cast("double") / col("n").cast("double"), 6)
          .cast("double").as("silhouette"))
  }

  /** Davies–Bouldin index per cluster: R_i = max_{j≠i}
    * (σ_i+σ_j)/d(c_i,c_j) with σ the mean member distance to the own
    * centroid and d the centroid-pair distance, DB = mean R — the
    * LOWER-is-better companion of [[simplifiedSilhouette]] (both
    * O(n·k)+O(k²), never pairwise-corpus); the two disagreeing is
    * itself the "clusters overlap" smell.
    *
    * Determinism: member distances are the [[kmeansPortable]] rounded
    * kernel; σ is a decimal(38,6) mean of those 6-dp quanta (ONE
    * division, re-frozen at 6 dp); centroid-pair distances are the
    * SAME left-to-right rounded fold computed once on the driver's
    * k·dim literal matrix; each R is one rounded division of frozen
    * 6-dp values, the max and the DB mean run on those quanta.
    * Duplicate centroids (d = 0) drop the pair — a cluster with no
    * valid pair reports NULL r_max and leaves the DB mean. Only
    * clusters WITH members participate.
    *
    * Output: (cluster, n, sigma, r_max, db) — db repeated per row
    * (the panel's scalar).
    */
  def daviesBouldin(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, roundDp: Int = 6): DataFrame = {
    require(k >= 2, s"daviesBouldin: k must be >= 2, got $k")
    val Seq(idc, vc) = Cols.fresh("db", 2, vecs)
    val v = vecs.select(col(idCol).as(idc),
      col(vecCol).cast("array<double>").as(vc))
    val centroids = trainCentroids(v, idc, vc, k, iters, roundDp)
    val sig = assignToCentroids(v, idc, vc, centroids, roundDp)
      .select(col("cluster"), col("dist").cast("decimal(38,6)").as("_d"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("_d").as("_sd"))
      .select(col("cluster"), col("n").cast("bigint").as("n"),
        round(col("_sd").cast("double") / col("n").cast("double"),
          roundDp).as("sigma"))
    // centroid-pair distances: the sqDistTo fold replayed on the
    // driver literals — same left-to-right order, same rounding
    val pairRows = for {
      i <- centroids.indices; j <- centroids.indices if i != j
    } yield (i, j, DriverPath.round(centroids(i).zip(centroids(j))
      .foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) },
      roundDp))
    val pairs = vecs.sparkSession.createDataFrame(pairRows)
      .toDF("_ci", "_cj", "_dij")
    val rTab = sig.select(col("cluster").as("_ci"), col("sigma").as("_si"))
      .join(broadcast(pairs), Seq("_ci"))
      .join(sig.select(col("cluster").as("_cj"), col("sigma").as("_sj")),
        Seq("_cj"))
      .filter(col("_dij") > 0.0)
      .select(col("_ci"),
        round((col("_si") + col("_sj")) / col("_dij"), roundDp).as("_r"))
      .groupBy(col("_ci").as("_cr"))
      .agg(max("_r").as("r_max"))
    val wAll = Window.partitionBy()
    sig.join(rTab, col("cluster") === col("_cr"), "left").drop("_cr")
      .withColumn("db",
        round(sum(col("r_max").cast("decimal(38,6)")).over(wAll)
          .cast("double") / count(col("r_max")).over(wAll), 6)
          .cast("double"))
      .select(col("cluster"), col("n"),
        col("sigma").cast("double").as("sigma"),
        col("r_max").cast("double").as("r_max"), col("db"))
  }

  /** SemDeDup-style semantic near-dup removal: k-means-cluster the
    * embedding space, then drop every vector that has a LOWER-id
    * cluster-mate with cosine >= `minCosine`. Clustering bounds the
    * quadratic pair search to within-cluster pairs — the published
    * SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540) — so the
    * pair stage scales with Σ cluster_size², not corpus², and each
    * pair batch is an equi-join on cluster id (hash-partitioned, never
    * a cartesian product). Keep-lowest-id is the same survivor rule as
    * [[keepCanonical]]; cosine is the codegen'd float64 kernel, rounded
    * to 6 dp so the >= threshold decision is engine-portable.
    *
    * Returns the SURVIVING rows of `vecs` (all original columns).
    */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, minCosine: Double): DataFrame = {
    val Seq(cl) = Cols.fresh("cl", 1, vecs)
    val assign = kmeansPortable(vecs, idCol, vecCol, k, iters)
      .select(col(idCol), col("cluster").as(cl))
    val side = vecs.select(col(idCol), col(vecCol)).join(assign, Seq(idCol))
    val a = side.select(col(cl), col(idCol).as("_a_id"), col(vecCol).as("_a_v"))
    val b = side.select(col(cl), col(idCol).as("_b_id"), col(vecCol).as("_b_v"))
    val losers = a.join(b, Seq(cl))
      .filter(col("_a_id") < col("_b_id"))
      .filter(round(VectorExpressions.cosine(col("_a_v"), col("_b_v")), 6)
        >= lit(minCosine))
      .select(col("_b_id").as(idCol))
      .distinct()
    vecs.join(losers, Seq(idCol), "left_anti")
  }

  /** Canonical-document dedup: drop every document that is a
    * NON-minimum member of its duplicate cluster. Documents absent from
    * the pair list are their own cluster and always survive. The
    * anti-join keys are the (few) cluster losers, so the corpus-side
    * table streams through one broadcast-able join at scale.
    */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val losers = connectedComponents(pairs, srcCol, dstCol)
      .filter(col("v") =!= col("cluster_id"))
      .select(col("v").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Driver replica of [[gmmPortable]]'s EM passes (see the
    * fast-path note there). */
  private def gmmDriverDf(spark: org.apache.spark.sql.SparkSession,
      idType: org.apache.spark.sql.types.DataType, idCol: String,
      ids: Array[Any], vecs: Array[Array[Double]], k: Int, passes: Int,
      kmeansIters: Int, varFloor: Double): DataFrame = {
    val n = vecs.length
    val dim = vecs(0).length
    var mu: Array[Array[Double]] =
      trainCentroidsDriver(ids, vecs, k, kmeansIters, 6).map(_.toArray).toArray
    var s2: Array[Double] = Array.fill(k)(1.0)
    var pi: Array[Double] = Array.fill(k)(DriverPath.round(1.0 / k, 6))
    def sqDist12(x: Array[Double], c: Array[Double]): Double = {
      var s = 0.0; var d = 0
      while (d < dim) { val t = x(d) - c(d); s += t * t; d += 1 }
      DriverPath.round(s, 12)
    }
    // responsibilities of row v under the CURRENT (mu, s2, pi): the
    // identical 12-dp score trees (the lit() constants are computed
    // in Scala on both paths), max-shifted exp fold in array order
    def resp(v: Int): Array[Double] = {
      val s = new Array[Double](k)
      var c = 0
      while (c < k) {
        s(c) = DriverPath.round((math.log(pi(c)) - 0.5 * dim * math.log(s2(c)))
          - sqDist12(vecs(v), mu(c)) / (2.0 * s2(c)), 12)
        c += 1
      }
      var mx = s(0); c = 1
      while (c < k) { if (s(c) > mx) mx = s(c); c += 1 }
      var den = 0.0; c = 0
      while (c < k) { den += math.exp(s(c) - mx); c += 1 }
      val r = new Array[Double](k); c = 0
      while (c < k) {
        r(c) = DriverPath.round(math.exp(s(c) - mx) / den, 12); c += 1
      }
      r
    }
    for (_ <- 1 to passes) {
      val srs = new Array[Double](k)
      val mvSums = Array.fill(k, dim)(0.0)
      var v = 0
      while (v < n) {
        val r = resp(v)
        var c = 0
        while (c < k) {
          srs(c) += r(c)
          var d = 0
          while (d < dim) { mvSums(c)(d) += r(c) * vecs(v)(d); d += 1 }
          c += 1
        }
        v += 1
      }
      // VectorMeanAgg: elementwise sum / count (count = n, no nulls)
      val newMu = Array.tabulate(k) { c =>
        if (srs(c) > 0.0)
          Array.tabulate(dim)(d =>
            DriverPath.round(mvSums(c)(d) / n * n.toDouble / srs(c), 6))
        else mu(c)
      }
      val sds = new Array[Double](k)
      v = 0
      while (v < n) {
        val r = resp(v)
        var c = 0
        while (c < k) { sds(c) += r(c) * sqDist12(vecs(v), newMu(c)); c += 1 }
        v += 1
      }
      s2 = Array.tabulate(k) { c =>
        if (srs(c) > 0.0)
          math.max(varFloor,
            DriverPath.round(sds(c) / (dim.toDouble * srs(c)), 6))
        else s2(c)
      }
      pi = Array.tabulate(k) { c =>
        if (srs(c) > 0.0) DriverPath.round(srs(c) / n.toDouble, 6) else pi(c)
      }
      mu = newMu
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField(idCol, idType),
      StructField("cluster", IntegerType),
      StructField("resp", DoubleType)))
    val out = (0 until n).map { v =>
      val r = resp(v)
      var best = 0; var c = 1
      while (c < k) { if (r(c) > r(best)) best = c; c += 1 } // first max
      org.apache.spark.sql.Row(ids(v), best, DriverPath.round(r(best), 6))
    }
    DriverPath.frame(spark, out, schema)
  }

  /** Fixed-pass spherical EM-GMM (r16 verdict item 6) — the SOFT
    * clustering beside [[kmeansPortable]]'s hard assignments, for the
    * probabilistic-weighting curation pipelines a hard argmin can't
    * serve. Each component c is (mean μ_c, isotropic variance σ²_c,
    * weight π_c); deterministic init is the [[trainCentroids]] k-means
    * centroids + σ² = 1 + uniform π (no RNG anywhere, the portability
    * contract).
    *
    * E-step (per row, closed-form expression over driver-literal
    * params): score s_c = ln π_c − (d/2)·ln σ²_c − ‖x−μ_c‖²/(2σ²_c)
    * frozen at 12 dp, then the max-shifted softmax r_c =
    * exp(s_c−max)/Σexp(s_c−max) frozen at 12 dp — underflow-proof and
    * bit-reproducible (the 2π constant cancels in the softmax and is
    * dropped). M-step: π' = Σr/n, μ' = Σr·x/Σr, σ²' =
    * Σr·‖x−μ'‖²/(d·Σr) floored at `varFloor`; every refreshed
    * parameter re-freezes at 6 dp (the kmeans rounding argument:
    * summation-order noise ~1e−13 is far below the 1e−6 quantum), and
    * a component whose responsibility mass rounds to zero keeps its
    * previous parameters (the empty-cluster rule).
    *
    * Scale shape (the Lloyd discipline verbatim): params ride the plan
    * as k·(d+2) literals — no join, no shuffle in the E-step; each
    * M-step is TWO global aggregates (means pass, then variance pass
    * against the refreshed means) whose map-side partials carry
    * k·(d+1) sums per partition, never rows; the driver holds exactly
    * the model. No posexplode anywhere.
    *
    * Returns (idCol, cluster [0-based argmax responsibility, ties to
    * the lowest index], resp [the winning responsibility, 6 dp]).
    */
  def gmmPortable(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, passes: Int, kmeansIters: Int = 1,
      varFloor: Double = 1e-6): DataFrame = {
    require(k >= 1 && k <= 64, s"gmmPortable: k must be in [1, 64], got $k")
    require(passes >= 1 && passes <= 4,
      s"gmmPortable: passes must be in [1, 4], got $passes")
    require(varFloor > 0.0, s"gmmPortable: varFloor must be > 0")
    val Seq(idc, vc) = Cols.fresh("gm", 2, vecs)
    val v = vecs.select(col(idCol).as(idc),
        col(vecCol).cast("array<double>").as(vc))
      .localCheckpoint() // E + two M aggregates re-read it every pass
    // Driver fast path (r18): passes × (2 global aggregates + the
    // responsibility scan) collapse onto the collected vectors. The
    // replica reproduces the k-means init (trainCentroidsDriver), the
    // 12-dp score/responsibility trees (M-step literals computed in
    // Scala on BOTH paths already), VectorMeanAgg's sum/count mean,
    // the 6-dp M-step freezes, varFloor, and first-argmax ties; the
    // double sums differ only in task order under those freezes.
    // ClusteringSpec pins path equality. r19: byte-aware gate
    // ([[collectVectors]] — the trainCentroids rationale).
    collectVectors(v, idc, vc) match {
      case Some((ids, vecsArr)) =>
        return gmmDriverDf(vecs.sparkSession,
          v.schema(idc).dataType, idCol, ids, vecsArr, k, passes,
          kmeansIters, varFloor)
      case None =>
    }
    val dim = v.select(size(col(vc))).head().getInt(0)
    val n = v.count()
    var mu: IndexedSeq[Seq[Double]] =
      lloydCentroids(v, idc, vc, k, kmeansIters, 6) // v is not collectable
        .toIndexedSeq
    var s2: IndexedSeq[Double] = IndexedSeq.fill(k)(1.0)
    var pi: IndexedSeq[Double] =
      IndexedSeq.fill(k)(DriverPath.round(1.0 / k, 6))
    def withResp: DataFrame = {
      val sArr = array((0 until k).map { c =>
        round(lit(math.log(pi(c)) - 0.5 * dim * math.log(s2(c)))
          - sqDistTo(col(vc), mu(c), 12) / lit(2.0 * s2(c)), 12)
      }: _*)
      v.withColumn("_s", sArr)
        .withColumn("_den", aggregate(
          transform(col("_s"), e => exp(e - array_max(col("_s")))),
          lit(0.0), (a, b) => a + b))
        .withColumn("_r", transform(col("_s"),
          e => round(exp(e - array_max(col("_s"))) / col("_den"), 12)))
    }
    for (_ <- 1 to passes) {
      val wr = withResp
      val aggs1 = (0 until k).flatMap { c => Seq(
        sum(element_at(col("_r"), c + 1)).as(s"_sr$c"),
        graft.functions.VectorMeanAgg.vectorMean(
          transform(col(vc), e => element_at(col("_r"), c + 1) * e))
          .as(s"_mv$c"))
      }
      val row1 = wr.agg(aggs1.head, aggs1.tail: _*).head()
      val srs = (0 until k).map(c =>
        row1.getDouble(row1.fieldIndex(s"_sr$c")))
      val mvs = (0 until k).map(c =>
        row1.getSeq[Double](row1.fieldIndex(s"_mv$c")))
      val newMu = (0 until k).map { c =>
        if (srs(c) > 0.0)
          mvs(c).map(m => DriverPath.round(m * n.toDouble / srs(c), 6)).toSeq
        else mu(c)
      }
      val aggs2 = (0 until k).map { c =>
        sum(element_at(col("_r"), c + 1) * sqDistTo(col(vc), newMu(c), 12))
          .as(s"_sd$c")
      }
      val row2 = wr.agg(aggs2.head, aggs2.tail: _*).head()
      s2 = (0 until k).map { c =>
        if (srs(c) > 0.0)
          math.max(varFloor,
            DriverPath.round(row2.getDouble(row2.fieldIndex(s"_sd$c"))
              / (dim.toDouble * srs(c)), 6))
        else s2(c)
      }
      pi = (0 until k).map { c =>
        if (srs(c) > 0.0) DriverPath.round(srs(c) / n.toDouble, 6) else pi(c)
      }
      mu = newMu
    }
    withResp.select(col(idc).as(idCol),
      (array_position(col("_r"), array_max(col("_r"))) - 1).cast("int")
        .as("cluster"),
      round(array_max(col("_r")), 6).cast("double").as("resp"))
  }

  /** Spectral embedding + spectral clustering — the geometric dual of
    * the modularity family (Louvain/Leiden greedily optimize a
    * discrete objective; this pipeline cuts the graph where the
    * spectrum of the normalized adjacency says it is thinnest — the
    * classic Shi–Malik normalized-cut relaxation): power iteration
    * WITH DEFLATION on S = D^{−1/2}·A·D^{−1/2} recovers the top
    * non-trivial eigenvectors, whose per-vertex coordinates are the
    * spectral embedding, and [[kmeansPortable]]'s Lloyd loop yields
    * the clusters. The k-way cut clusters on the first k−1
    * non-trivial coordinates — the Shi–Malik prescription; for k = 2
    * that is the Fiedler coordinate ALONE (including more vectors
    * than cuts is the textbook failure mode: the 2nd non-trivial
    * eigenvector parks bridge endpoints at extreme opposite values
    * and hands Euclidean k-means a local optimum that splits a
    * block). The emitted embedding always carries the top-2
    * non-trivial coordinates (e2, e3) regardless of k.
    *
    * The trivial top eigenvector of S is known in CLOSED FORM —
    * v1(i) = √deg(i)/√Σdeg, eigenvalue 1 — so deflation is exact
    * arithmetic, not another power loop: each pass multiplies by S
    * (one edge join on 12-dp-frozen weights w_uv = 1/√(d_u·d_v)),
    * subtracts the frozen projections onto v1 (and, for the second
    * vector, onto the finished e2), and re-normalizes. Init is the
    * portable md5-unit hash minus ½ — deterministic, seedless, and
    * never orthogonal to the target eigenspace in practice (a uniform
    * init WOULD be degenerate: on regular graphs it IS v1).
    *
    * Engine-portable determinism: y = Σw·x rounds at 6 dp per pass,
    * projection coefficients at 6 dp, the deflated residual at 6 dp,
    * and the normalized coordinate at 6 dp (norm itself unrounded —
    * summation noise ~1e−13 sits far below the quantum, the
    * q_pca_power discipline); v1 and w freeze at 12 dp once. An
    * all-zero residual (deflated to extinction) yields coordinate 0
    * rather than a division artifact. Eigenvalue-1 multiplicity ≥ 2
    * (disconnected graphs) is well-defined here: power iteration
    * converges to the component-indicator combination present in the
    * init, and the k-means cut recovers components exactly.
    *
    * Scale shape (the pageRank discipline): the weighted edge list is
    * hash-partitioned ONCE and checkpointed; each pass moves only the
    * vertex-sized (vertex, x) state through one edge join + one
    * vertex-keyed aggregate, plus two scalar aggregates broadcast
    * back; lineage truncates per pass. The vertex state rides a
    * broadcast into the edge join (vertices << edges; for
    * billion-vertex graphs drop the hint and pre-bucket instead —
    * the documented pageRank caveat). k-means driver state is the
    * k·(k−1) centroid matrix. Nothing row-sized is ever collected.
    *
    * Output: (vertex, e2, e3, cluster [0-based], dist).
    */
  def spectralClustering(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, powerIters: Int, lloydIters: Int = 1): DataFrame = {
    require(k >= 2 && k <= 64,
      s"spectralClustering: k must be in [2, 64], got $k")
    require(powerIters >= 1 && powerIters <= 20,
      s"spectralClustering: powerIters must be in [1, 20], got $powerIters")
    require(lloydIters >= 0 && lloydIters <= 4,
      s"spectralClustering: lloydIters must be in [0, 4], got $lloydIters")
    val half = Graph.canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint() // degs and the weight build both read sym
    // Small-graph driver fast path (r18, the pageRank-family
    // precedent): the ~5 scheduler/broadcast jobs per power pass (×
    // 2(k−1) passes × powerIters) dwarf the milliseconds of float
    // arithmetic at bench scale. The replica below reproduces every
    // frozen quantum — w/v1 at 12 dp, y/projections/residual/
    // coordinate at 6 dp, the unrounded norm, the Lloyd seed order,
    // per-step 6-dp centroid means, and the argmin-lowest-index tie —
    // term for term; double folds differ from the distributed sums
    // only in task order, which both paths (and the DuckDB oracle's
    // own replay) already absorb under the rounding quanta.
    // ClusteringSpec pins path equality; the distributed loop stays
    // the 100 TB path.
    DriverPath.rows(half) match {
      case Some(rows) =>
        return spectralDriverDf(edges.sparkSession, rows, k, powerIters,
          lloydIters)
      case None =>
    }
    val sym = half.select(col("lo").as("_u"), col("hi").as("_w"))
      .unionByName(half.select(col("hi").as("_u"), col("lo").as("_w")))
    val degs = sym.groupBy(col("_u").as("_v")).agg(count(lit(1)).as("_d"))
      .localCheckpoint() // read by basis, weights, and the init
    val tot = degs.agg(sum("_d").as("_td"))
    val basis1 = degs.crossJoin(broadcast(tot))
      .select(col("_v"),
        round(sqrt(col("_d").cast("double"))
          / sqrt(col("_td").cast("double")), 12).as("_v1"))
      .localCheckpoint()
    val we = sym
      .join(degs.select(col("_v").as("_duv"), col("_d").as("_du")),
        col("_u") === col("_duv"))
      .join(degs.select(col("_v").as("_dwv"), col("_d").as("_dw")),
        col("_w") === col("_dwv"))
      .select(col("_u"), col("_w"),
        round(lit(1.0) / sqrt(col("_du").cast("double")
          * col("_dw").cast("double")), 12).as("_wt"))
      // joined on _w every pass: partition once, checkpoint once
      .repartition(col("_w"))
      .localCheckpoint()
    // one deflated power loop; basis carries the frozen vectors to
    // project out (named in projCols), keyed by _v
    def powerVector(basis: DataFrame, projCols: Seq[String]): DataFrame = {
      var x = degs.select(col("_v"),
        round(Sampling.portableUnit(col("_v")) - 0.5, 6).as("_x"))
        .localCheckpoint()
      for (_ <- 1 to powerIters) {
        val y = we
          .join(broadcast(x), col("_w") === col("_v"))
          .groupBy(col("_u").as("_v"))
          .agg(round(sum(col("_wt") * col("_x")), 6).as("_y"))
        val yb = y.join(basis, "_v")
        val projAggs = projCols.zipWithIndex.map { case (b, i) =>
          round(sum(col(b) * col("_y")), 6).as(s"_c$i") }
        val cs = yb.agg(projAggs.head, projAggs.tail: _*)
        val resid = projCols.zipWithIndex.foldLeft(col("_y")) {
          case (acc, (b, i)) => acc - col(s"_c$i") * col(b) }
        val dd = yb.crossJoin(broadcast(cs))
          .select(col("_v"), round(resid, 6).as("_dd"))
        val nrm = dd.agg(sqrt(sum(col("_dd") * col("_dd"))).as("_nrm"))
        x = dd.crossJoin(broadcast(nrm))
          .select(col("_v"),
            when(col("_nrm") > 0.0, round(col("_dd") / col("_nrm"), 6))
              .otherwise(lit(0.0)).as("_x"))
          .localCheckpoint()
      }
      x
    }
    // top max(2, k−1) non-trivial eigenvectors, deflating every
    // finished one (plus the closed-form v1) from the next
    val nVecs = math.max(2, k - 1)
    var basis = basis1
    var projCols = Seq("_v1")
    var eig = Vector.empty[DataFrame]
    for (j <- 1 to nVecs) {
      val ej = powerVector(basis, projCols)
      eig = eig :+ ej
      if (j < nVecs) {
        basis = basis
          .join(ej.select(col("_v"), col("_x").as(s"_e${j + 1}")), "_v")
          .localCheckpoint()
        projCols = projCols :+ s"_e${j + 1}"
      }
    }
    val joined = eig.zipWithIndex.foldLeft(
        degs.select(col("_v"))) { case (acc, (ej, i)) =>
      acc.join(ej.select(col("_v"), col("_x").as(s"_x${i + 2}")), "_v")
    }
    val cutCols = (0 until (k - 1)).map(i => col(s"_x${i + 2}"))
    val emb = joined
      .select(col("_v"), array(cutCols: _*).as("_ev"),
        col("_x2"), col("_x3"))
      .localCheckpoint() // seed probe + Lloyd aggregates re-read it
    val pts = emb.select(col("_v"), col("_ev"))
    val centroids = trainCentroids(pts, "_v", "_ev", k, lloydIters, 6)
    emb.select(col("_v"), col("_x2"), col("_x3"))
      .join(assignToCentroids(pts, "_v", "_ev", centroids, 6)
        .select(col("_v"), col("cluster"), col("dist")), "_v")
      .select(col("_v").as("vertex"),
        col("_x2").cast("double").as("e2"),
        col("_x3").cast("double").as("e3"),
        col("cluster"),
        col("dist").cast("double").as("dist"))
  }

  /** Driver replica of [[spectralClustering]] over collected canonical
    * (lo, hi) edges: identical deflated power passes (v1 closed-form,
    * 12-dp w/v1, 6-dp y/projection/residual/coordinate freezes,
    * unrounded norm), identical md5-unit init, and the identical
    * [[trainCentroids]]/[[assignToCentroids]] Lloyd round (portable
    * seed order, 6-dp per-dim means, argmin-lowest-index ties, the
    * empty-cluster keep rule). Double folds replicate the in-plan
    * left-fold ORDER wherever the plan fixes one (sqDistTo, the
    * residual subtraction chain); commutative sums differ only in
    * task order, absorbed by the same rounding quanta the DuckDB
    * oracle's replay relies on.
    */
  private def spectralDriverDf(spark: org.apache.spark.sql.SparkSession,
      pairs: Array[org.apache.spark.sql.Row], k: Int, powerIters: Int,
      lloydIters: Int): DataFrame = {
    // dense ids + symmetric neighbor arrays (canonical edges are
    // deduped and loop-free)
    val es = DriverPath.edges(pairs)
    val (names, n) = (es.names, es.n)
    val adj = Graph.symAdjacency(n, es.src, es.dst)
    val deg = adj.map(_.length.toLong)
    val tot = deg.sum.toDouble
    val v1 = Array.tabulate(n)(v =>
      DriverPath.round(math.sqrt(deg(v).toDouble) / math.sqrt(tot), 12))
    // w_uv = 1/sqrt(d_u·d_w) frozen at 12 dp, aligned with adj
    val wts = Array.tabulate(n)(v => adj(v).map(w =>
      DriverPath.round(
        1.0 / math.sqrt(deg(v).toDouble * deg(w).toDouble), 12)))
    // Sampling.portableUnit: first 15 md5 hex chars as long / 2^60
    val md = java.security.MessageDigest.getInstance("MD5")
    def unit(s: String): Double = {
      md.reset()
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16) / 1152921504606846976.0
    }
    val units = Array.tabulate(n)(v => unit(names(v)))
    def powerVec(proj: Array[Array[Double]]): Array[Double] = {
      var x = Array.tabulate(n)(v => DriverPath.round(units(v) - 0.5, 6))
      for (_ <- 1 to powerIters) {
        val y = Array.tabulate(n) { v =>
          var s = 0.0; val nb = adj(v); val ws = wts(v); var j = 0
          while (j < nb.length) { s += ws(j) * x(nb(j)); j += 1 }
          DriverPath.round(s, 6)
        }
        val cs = proj.map { b =>
          var s = 0.0; var v = 0
          while (v < n) { s += b(v) * y(v); v += 1 }
          DriverPath.round(s, 6)
        }
        // the in-plan residual is a left-fold subtraction chain:
        // ((y − c0·b0) − c1·b1) − … — replicate the order
        val dd = Array.tabulate(n) { v =>
          var acc = y(v); var p = 0
          while (p < proj.length) { acc -= cs(p) * proj(p)(v); p += 1 }
          DriverPath.round(acc, 6)
        }
        var s2 = 0.0
        dd.foreach(d => s2 += d * d)
        val nrm = math.sqrt(s2)
        x = dd.map(d =>
          if (nrm > 0.0) DriverPath.round(d / nrm, 6) else 0.0)
      }
      x
    }
    val nVecs = math.max(2, k - 1)
    var proj = Array(v1)
    val eig = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    for (_ <- 1 to nVecs) {
      val ej = powerVec(proj)
      eig += ej
      proj = proj :+ ej
    }
    // spectral embedding: the first k−1 coordinates feed the cut
    val dim = k - 1
    val evs = Array.tabulate(n)(v => Array.tabulate(dim)(d => eig(d)(v)))
    // [[sqDistTo]] replica: zip_with squares, left-fold sum from 0.0,
    // ONE round at the end
    def sqDist(x: Array[Double], c: Seq[Double], dp: Int): Double = {
      var s = 0.0; var d = 0
      while (d < dim) { val t = x(d) - c(d); s += t * t; d += 1 }
      DriverPath.round(s, dp)
    }
    def assign(cents: IndexedSeq[Seq[Double]], v: Int): (Int, Double) = {
      var best = 0; var bestD = sqDist(evs(v), cents(0), 6); var c = 1
      while (c < cents.length) {
        val dc = sqDist(evs(v), cents(c), 6)
        if (dc < bestD) { best = c; bestD = dc } // ties keep lowest idx
        c += 1
      }
      (best, bestD)
    }
    // [[trainCentroids]] seed: k smallest under (portableUnit, UTF8-
    // binary id) total order
    val order = (0 until n).sortWith { (a, b) =>
      if (units(a) != units(b)) units(a) < units(b)
      else java.util.Arrays.compareUnsigned(
        names(a).getBytes("UTF-8"), names(b).getBytes("UTF-8")) < 0
    }
    var centroids: IndexedSeq[Seq[Double]] =
      order.take(k).map(v => evs(v).toSeq).toIndexedSeq
    require(centroids.size == k,
      s"kmeansPortable: needs >= $k rows, got ${centroids.size}")
    for (_ <- 1 to lloydIters) {
      val sums = Array.fill(k, dim)(0.0)
      val cnts = new Array[Long](k)
      var v = 0
      while (v < n) {
        val (c, _) = assign(centroids, v)
        cnts(c) += 1L
        var d = 0
        while (d < dim) { sums(c)(d) += evs(v)(d); d += 1 }
        v += 1
      }
      centroids = (0 until k).map { c =>
        if (cnts(c) > 0L) // empty cluster: centroid stands
          (0 until dim).map(d =>
            DriverPath.round(sums(c)(d) / cnts(c), 6))
        else centroids(c)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vertex", StringType),
      StructField("e2", DoubleType), StructField("e3", DoubleType),
      StructField("cluster", IntegerType),
      StructField("dist", DoubleType)))
    val rows = (0 until n).map { v =>
      val (c, dist) = assign(centroids, v)
      org.apache.spark.sql.Row(names(v), eig(0)(v), eig(1)(v), c, dist)
    }
    DriverPath.frame(spark, rows, schema)
  }
}
