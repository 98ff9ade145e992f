package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Johnson-Lindenstrauss random projection for embedding columns:
  * reduce `Array[Float]` vectors from `inDim` to `outDim` dimensions
  * with a deterministic ±1 sign matrix (the Achlioptas construction —
  * database-friendly JL: signs instead of Gaussians, so the transform
  * is exact float math, no RNG state).
  *
  * proj[j] = Σ_i v[i] · sign(i,j) / √outDim, which preserves pairwise
  * distances in expectation (E‖proj‖² = ‖v‖²) with distortion
  * concentrating as outDim grows. The intended use at 100 TB is as an
  * ANN *pre-stage*: project 64→16, shortlist by projected cosine, then
  * exact re-rank on the full vectors — the same two-stage
  * oversample/re-rank shape as `Similarity.probeSearchQuantized`,
  * compounding with it (4× fewer dims on the scan side).
  *
  * Scale shape: the sign matrix is a PLAN LITERAL (outDim × inDim
  * doubles — a model constant like IVF centroids, not data), so the
  * projection is a narrow per-row codegen'd expression: no shuffle, no
  * broadcast, no driver action.
  *
  * Engine-portable determinism: sign(i,j) = +1 iff the low bit of the
  * first-15-hex-chars value of md5("seed:i:j") is 1 (the
  * `Dedup.simHashPortable` md5 trick), so a DuckDB oracle re-derives
  * the identical matrix in SQL and the whole pipeline is judged
  * value-exact: ±1 multiplication is IEEE-exact, both engines fold the
  * sum left-to-right in the same order, and √outDim division is the
  * same correctly-rounded operation.
  */
object Projection {

  /** The deterministic ±1 matrix: row j holds the signs for output
    * dimension j over input dimensions 0..inDim-1.
    */
  def signMatrix(inDim: Int, outDim: Int, seed: String): Array[Array[Double]] = {
    Array.tabulate(outDim, inDim) { (j, i) =>
      if ((Sampling.portableBits(s"$seed:$i:$j") & 1L) == 1L) 1.0 else -1.0
    }
  }

  /** Append `proj`: the projected vector as array<double> of length
    * `outDim`. Vectors whose size differs from `inDim` fail loudly
    * in-plan (a silently wrong-length zip would fabricate nulls); null
    * vectors project to null.
    */
  def project(df: DataFrame, vecCol: String, inDim: Int, outDim: Int,
      seed: String): DataFrame = {
    require(inDim >= 1 && outDim >= 1)
    val signs = signMatrix(inDim, outDim, seed)
    val v = col(vecCol)
    val guarded = when(size(v) =!= inDim,
      raise_error(concat(lit(s"Projection.project: expected $inDim dims, got "),
        size(v).cast("string")))).otherwise(v)
    val comps = (0 until outDim).map { j =>
      val sj = array(signs(j).map(lit): _*)
      aggregate(
        zip_with(guarded, sj, (x, s) => x.cast("double") * s),
        lit(0.0), (acc, t) => acc + t) / lit(math.sqrt(outDim.toDouble))
    }
    df.withColumn("proj", when(v.isNull, lit(null)).otherwise(array(comps: _*)))
  }
}
