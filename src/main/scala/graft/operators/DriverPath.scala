package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one gate in front of every driver-side replica: the iterative
  * kernels whose distributed loop has a spec-pinned, row-identical
  * driver copy for small inputs (so the gate picks a cost, never a
  * result). The bound is the session conf [[MaxRowsConf]]; <= 0 means
  * distributed everywhere, with no gate job. The `spark.` prefix lets
  * `-Dspark.graft.driverPath.maxRows=0` reach it from the JVM flags.
  *
  * The gate is one bounded `limit(bound + 1).collect()`: it tests the
  * size AND hands the replica its rows, so an over-bound input is never
  * counted in full and an under-bound one is never collected twice.
  */
object DriverPath {

  val MaxRowsConf = "spark.graft.driverPath.maxRows"

  /** Byte cap for wide rows: 2M rows of 1536-dim doubles is ~24 GB, far
    * past spark.driver.maxResultSize (1 GB default), so a row bound
    * alone would FAIL the collect where the distributed path succeeds. */
  private[graft] val DriverMaxCollectBytes = 400L << 20

  /** The session's row bound (default [[Graph.HarmonicDriverMaxEdges]]),
    * clamped so `bound + 1` stays an Int limit. */
  private[graft] def maxRows(spark: SparkSession): Long = {
    val raw = spark.conf.get(MaxRowsConf, Graph.HarmonicDriverMaxEdges.toString)
    val n = raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$MaxRowsConf must be an integer row count, got '$raw'"))
    math.min(n, Int.MaxValue - 1L)
  }

  /** `df`'s rows when there are at most `scale` × the bound of them (and,
    * given `bytesPerRow`, at most [[DriverMaxCollectBytes]] worth); None
    * tells the caller to stay distributed. `scale` = 2 bounds a
    * vertex-sized frame gated next to an edge list. */
  def rows(df: DataFrame, scale: Int = 1,
      bytesPerRow: Long = 0L): Option[Array[Row]] = {
    val byRows = maxRows(df.sparkSession) * scale
    val bound = math.min(Int.MaxValue - 1L,
      if (bytesPerRow > 0L) math.min(byRows, DriverMaxCollectBytes / bytesPerRow)
      else byRows)
    if (bound <= 0L) return None
    val got = df.limit(bound.toInt + 1).collect()
    if (got.length <= bound) Some(got) else None
  }
}
