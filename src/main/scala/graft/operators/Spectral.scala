package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Power-iteration spectral analysis over an embedding column: the
  * dominant principal direction of the (uncentered) second-moment
  * matrix, and per-row projections onto it.
  *
  * Curation use: the top component of an embedding corpus is the
  * strongest axis of variation — projecting onto it gives a 1-d
  * "where does this document sit" score for stratification, and the
  * component itself diagnoses anisotropy (a corpus whose embeddings
  * all share a dominant direction has a degenerate geometry that
  * breaks cosine-based dedup thresholds).
  *
  * Scale design — the matrix-free power method:
  *  - Never materializes the d×d Gram matrix. Each iteration is ONE
  *    distributed aggregation: per row a codegen'd HOF dot product
  *    x·v (v rides in as a d-sized literal), then d partial sums
  *    Σ x_j·(x·v) — the shuffle carries d doubles per partition
  *    (map-side combine), never rows.
  *  - Driver state is exactly the d-vector per iteration (the
  *    IvfIndex-centroids pattern: bounded by dimension, independent
  *    of corpus size).
  *
  * Engine-portable determinism (the kmeansPortable contract): the
  * start vector is ROUND(1/sqrt(d), roundDp) in every coordinate —
  * both engines compute it from the same closed form (sqrt and
  * division are IEEE-correctly-rounded, so the literal is identical);
  * per-row dots fold in array-index order on both engines; cross-row
  * sums are rounded at `roundDp` (shuffle-order float noise lives
  * ~1e-13, far below the quantum); the normalization divide runs on
  * identical rounded inputs. An oracle unrolling the same iterations
  * reproduces every projection bit-exactly.
  */
object Spectral {

  /** The dominant principal direction after `iters` power iterations,
    * as a rounded unit vector. Null vectors are skipped (they carry no
    * direction and would NPE the fold). Dimension contract: the first
    * surviving row's length IS the corpus dimension — a row of any
    * OTHER length null-pads through zip_with, its dot goes NULL, and
    * it drops out of the matvec sums silently; validate dimensions
    * upstream (embeddingDimStats) if raggedness is possible.
    */
  def principalComponent(vecs: DataFrame, idCol: String, vecCol: String,
      iters: Int, roundDp: Int = 6): Seq[Double] = {
    require(iters >= 1, s"principalComponent: iters must be >= 1, got $iters")
    val Seq(vc) = Cols.fresh("pw", 1, vecs)
    val v = vecs.select(col(vecCol).cast("array<double>").as(vc))
      .filter(col(vc).isNotNull)
    val dimProbe = v.select(size(col(vc))).limit(1).collect()
    require(dimProbe.nonEmpty,
      "principalComponent: empty corpus (no non-null vectors)")
    val dim = dimProbe.head.getInt(0)
    var comp: Seq[Double] =
      Seq.fill(dim)(DriverPath.round(1.0 / math.sqrt(dim.toDouble), roundDp))
    for (_ <- 1 to iters) {
      val dot = round(aggregate(
        zip_with(col(vc), typedLit(comp), (x, c) => x * c),
        lit(0.0), (acc, e) => acc + e), roundDp)
      val sums = (0 until dim).map(j =>
        round(sum(element_at(col(vc), j + 1) * col("_dot")), roundDp).as(s"y$j"))
      val y = v.select(col(vc), dot.as("_dot"))
        .agg(sums.head, sums.tail: _*)
        .head()
      val yv = (0 until dim).map(y.getDouble)
      // norm from the ROUNDED sums, accumulated in index order — the
      // oracle's SUM sees the same rounded inputs, and /,sqrt are
      // IEEE-exact, so the renormalized coordinates agree bit-for-bit
      // after the final round
      val norm = math.sqrt(yv.map(x => x * x).sum)
      require(norm > 0.0,
        "principalComponent: zero matvec (all-zero vectors or a corpus " +
          "orthogonal to the start direction)")
      comp = yv.map(x => DriverPath.round(x / norm, roundDp))
    }
    comp
  }

  /** Per-row projections onto the dominant component: (idCol, proj).
    * One extra corpus pass after the `iters` aggregation passes.
    */
  def principalProjection(vecs: DataFrame, idCol: String, vecCol: String,
      iters: Int, roundDp: Int = 6): DataFrame = {
    val comp = principalComponent(vecs, idCol, vecCol, iters, roundDp)
    val Seq(idc, vc) = Cols.fresh("pj", 2, vecs)
    vecs.select(col(idCol).as(idc), col(vecCol).cast("array<double>").as(vc))
      .filter(col(vc).isNotNull)
      .select(col(idc).as(idCol),
        round(aggregate(
          zip_with(col(vc), typedLit(comp), (x, c) => x * c),
          lit(0.0), (acc, e) => acc + e), roundDp).as("proj"))
  }
}
