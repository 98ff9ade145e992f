package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one gate in front of every driver-side replica, and the toolkit
  * the replicas share. A replica is a spec-pinned, row-identical driver
  * copy of an iterative kernel's distributed loop for small inputs (so
  * the gate picks a cost, never a result); each keeps only its own
  * kernel and takes from here the gate, key interning, the exact
  * decimal fold, the thread split and the result frame.
  *
  * The bound is the session conf [[MaxRowsConf]]; <= 0 means
  * distributed everywhere, with no gate job. The `spark.` prefix lets
  * `-Dspark.graft.driverPath.maxRows=0` reach it from the JVM flags.
  *
  * The gate is one bounded `limit(bound + 1).collect()`: it tests the
  * size AND hands the replica its rows, so an over-bound input is never
  * counted in full and an under-bound one is never collected twice.
  */
object DriverPath {

  val MaxRowsConf = "spark.graft.driverPath.maxRows"

  /** Default row bound — for the graph kernels, deduped CANONICAL edges
    * (~2M edges ≈ 50 MB collected strings + 16 MB dense adjacency, the
    * broadcast-join size class). Above it the distributed forms run. */
  private[graft] val DefaultMaxRows = 2000000L

  /** Byte cap for wide rows: 2M rows of 1536-dim doubles is ~24 GB, far
    * past spark.driver.maxResultSize (1 GB default), so a row bound
    * alone would FAIL the collect where the distributed path succeeds. */
  private[graft] val DriverMaxCollectBytes = 400L << 20

  /** The session's row bound (default [[DefaultMaxRows]]), clamped so
    * `bound + 1` stays an Int limit. */
  private[graft] def maxRows(spark: SparkSession): Long = {
    val raw = spark.conf.get(MaxRowsConf, DefaultMaxRows.toString)
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

  /** A replica's output rows as a DataFrame, one slice per 100k rows. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType)
      : DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, rows.length / 100000)), schema)

  /** Key interning: dense ids 0, 1, … in first-seen order. */
  final class Ids[K] {
    private val idx = new java.util.HashMap[K, Integer]()
    val keys = new ArrayBuffer[K]()
    def apply(k: K): Int = {
      val got = idx.get(k)
      if (got != null) got.intValue()
      else { val i = keys.length; idx.put(k, i); keys += k; i }
    }
    /** `k`'s id, or -1 when it was never interned. */
    def find(k: K): Int = { val got = idx.get(k); if (got == null) -1 else got }
    def size: Int = keys.length
  }

  /** Column 0 of `rows` interned, with each row's id. The caller picks
    * the null policy of the join it replicates: `keepNulls = false`
    * gives a null key the id -1 (an equi-join drops it), true interns
    * null like any other key (a null-safe join keeps it). */
  def intern(rows: Array[Row], keepNulls: Boolean): (Ids[Any], Array[Int]) = {
    val ids = new Ids[Any]
    val gi = rows.map { r =>
      val k = r.get(0)
      if (k == null && !keepNulls) -1 else ids(k)
    }
    (ids, gi)
  }

  /** An edge list with dense vertex ids, interned src-then-dst per
    * edge in row order. */
  final class Edges(val ids: Ids[String], val src: Array[Int],
      val dst: Array[Int]) {
    def names: ArrayBuffer[String] = ids.keys
    def n: Int = ids.size
    def m: Int = src.length
  }

  /** String columns 0 and 1 of `rows` as an interned edge list. */
  def edges(rows: Array[Row]): Edges = {
    val ids = new Ids[String]
    val src = new Array[Int](rows.length); val dst = new Array[Int](rows.length)
    var i = 0
    while (i < rows.length) {
      src(i) = ids(rows(i).getString(0)); dst(i) = ids(rows(i).getString(1))
      i += 1
    }
    new Edges(ids, src, dst)
  }

  /** The local cores the replicas split their loops over — the driver's
    * stand-in for the tasks the distributed aggregates would have used. */
  private[graft] def threads: Int =
    math.min(32, math.max(1, Runtime.getRuntime.availableProcessors()))

  /** Run `body(threadIdx, from, to)` over [0, n) split across
    * `nThreads` threads; one call on the calling thread under `minN`. */
  private def parallelChunks(n: Int, nThreads: Int, minN: Int)(
      body: (Int, Int, Int) => Unit): Unit = {
    if (n < minN || nThreads <= 1) { body(0, 0, n); return }
    val ts = (0 until nThreads).map { t =>
      val from = (n.toLong * t / nThreads).toInt
      val to = (n.toLong * (t + 1) / nThreads).toInt
      new Thread(() => body(t, from, to))
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** `body(from, to)` over [0, n) split across [[threads]] when n >=
    * `minN`; the callers write disjoint slots, so the split cannot
    * change a result. */
  def parallelFor(n: Int, minN: Int = 65536)(body: (Int, Int) => Unit): Unit =
    parallelChunks(n, threads, minN)((_, from, to) => body(from, to))

  /** Exact integer fold: `body(from, to, acc)` adds into its thread's
    * `width` longs, and the per-thread arrays are summed (integer
    * addition: any split gives the same totals). */
  def foldLongs(n: Int, width: Int)(
      body: (Int, Int, Array[Long]) => Unit): Array[Long] = {
    val nT = threads
    val tAcc = new Array[Array[Long]](nT)
    parallelChunks(n, nT, 65536) { (t, from, to) =>
      tAcc(t) = new Array[Long](width)
      body(from, to, tAcc(t))
    }
    val out = new Array[Long](width)
    tAcc.foreach(a => if (a != null) {
      var v = 0
      while (v < width) { out(v) += a(v); v += 1 }
    })
    out
  }

  /** decimal(38,12).cast(double) — Spark's Decimal.toDouble. */
  def dec12ToDouble(u: BigInt): Double =
    new java.math.BigDecimal(u.bigInteger, 12).doubleValue()

  /** Exact decimal(38,12) sum of `round(t, 12).cast(decimal(38,12))`
    * terms: unscaled units accumulate in a primitive long with an
    * overflow spill into BigInt — identical totals to the distributed
    * decimal aggregates (exact, order-free) at a fraction of the
    * allocation cost of per-term BigInt folds. */
  private final class Dec12Sum {
    private var lo = 0L
    private var big: BigInt = null
    def add(t: Double): Unit = {
      val bd = java.math.BigDecimal.valueOf(Graph.roundHalfUp(t, 12))
        .setScale(12, java.math.RoundingMode.HALF_UP)
      val u = bd.unscaledValue()
      if (u.bitLength() <= 62) {
        val ul = u.longValue()
        val sum = lo + ul
        if (((lo ^ sum) & (ul ^ sum)) < 0L) { // long overflow: spill
          big = (if (big == null) BigInt(lo) else big + BigInt(lo))
          lo = ul
        } else lo = sum
      } else {
        big = (if (big == null) BigInt(u) else big + BigInt(u))
      }
    }
    def total: BigInt =
      if (big == null) BigInt(lo) else big + BigInt(lo)
  }

  /** Per-group totals of a [[fold]]: `dec(k)(g)` in decimal(38,12)
    * units, `dbl(k)(g)` plain double sums. */
  final class Sums(val dec: Array[Array[BigInt]],
      val dbl: Array[Array[Double]]) {
    def d(k: Int, g: Int): Double = dec12ToDouble(dec(k)(g))
  }

  /** The replicas' exact fold: rows [0, n) split across [[threads]]
    * (one thread under 65,536 rows); `terms(i, out)` fills out(0 until
    * nDec) with row i's decimal terms and out(nDec until nDec + nDbl)
    * with its double terms, summed into group `group(i)` (`group` =
    * null: one group). The decimal terms freeze at 12 dp into exact,
    * order-free sums — the distributed `sum(round(t, 12).cast(
    * decimal(38,12)))`; the double sums add each thread's rows in order
    * and merge in thread order, so callers keep them to sums the split
    * cannot change (0/1 flags, counts). */
  def fold(n: Int, nGroups: Int, group: Array[Int], nDec: Int,
      nDbl: Int = 0)(terms: (Int, Array[Double]) => Unit): Sums = {
    val nT = threads
    val tDec = new Array[Array[Array[Dec12Sum]]](nT)
    val tDbl = new Array[Array[Array[Double]]](nT)
    parallelChunks(n, nT, 65536) { (t, from, to) =>
      val dec = Array.fill(nDec)(Array.fill(nGroups)(new Dec12Sum))
      val dbl = Array.fill(nDbl)(new Array[Double](nGroups))
      tDec(t) = dec; tDbl(t) = dbl
      val out = new Array[Double](nDec + nDbl)
      var i = from
      while (i < to) {
        terms(i, out)
        val g = if (group == null) 0 else group(i)
        var k = 0
        while (k < nDec) { dec(k)(g).add(out(k)); k += 1 }
        while (k < nDec + nDbl) { dbl(k - nDec)(g) += out(k); k += 1 }
        i += 1
      }
    }
    val used = (0 until nT).filter(tDec(_) != null)
    new Sums(
      Array.tabulate(nDec, nGroups)((k, g) =>
        used.foldLeft(BigInt(0))((s, t) => s + tDec(t)(k)(g).total)),
      Array.tabulate(nDbl, nGroups)((k, g) =>
        used.foldLeft(0.0)((s, t) => s + tDbl(t)(k)(g))))
  }
}
