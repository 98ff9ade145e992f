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

  /** decimal(38, scale).cast(double) of unscaled `u` — Spark's
    * Decimal.toDouble. */
  def decToDouble(u: BigInt, scale: Int): Double =
    new java.math.BigDecimal(u.bigInteger, scale).doubleValue()

  /* The rounding kernel. Spark freezes a double at `scale` dp as
   * HALF_UP over its shortest decimal (Double.toString) — `round` and
   * the double → decimal cast both do — and the replicas must match
   * that bit for bit. The kernel gets the same HALF_UP units k in
   * primitive arithmetic: y = |x|·10^s differs from the decimal's
   * scaled value by at most ulp(y)/2 + ulp(|x|)·10^s/2, so unless
   * frac(y) is that close to a tie, frac(y) decides the rounding.
   * Near a tie, or when y ≥ 2^52 (frac(y) is too coarse), it falls
   * back to the BigDecimal expression itself. k / 10^s is then the
   * division BigDecimal.doubleValue does for |k| < 2^52. */

  private val MaxFastScale = 22 // 10^22 is the largest exact power
  private val Pow10 = Array.iterate(1.0, MaxFastScale + 1)(_ * 10.0)
  private val TwoTo52 = 4503599627370496.0
  private val Slow = Long.MinValue // the fast path's "fall back"

  /** HALF_UP units of `x`'s shortest decimal at `scale`, or [[Slow]]. */
  private def fastUnits(x: Double, scale: Int): Long = {
    if (scale < 0 || scale > MaxFastScale) return Slow
    val p = Pow10(scale)
    val a = math.abs(x)
    val y = a * p
    if (!(y < TwoTo52)) return Slow // NaN and ±Infinity too
    val f = math.floor(y)
    val frac = y - f
    if (math.abs(frac - 0.5) <= math.ulp(y) + math.ulp(a) * p) return Slow
    val k = f.toLong + (if (frac > 0.5) 1L else 0L)
    if (x < 0.0) -k else k
  }

  /** The kernel's one BigDecimal fallback: Spark's own expression. */
  private def halfUp(x: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP)

  /** Spark's `round(x, scale)` on a double, bit for bit: NaN and
    * ±Infinity come back unchanged, -0.0 and every value that rounds
    * to zero come back as +0.0. */
  def round(x: Double, scale: Int): Double = {
    val k = fastUnits(x, scale)
    if (k != Slow) k / Pow10(scale)
    else if (x.isNaN || x.isInfinite) x
    else halfUp(x, scale).doubleValue()
  }

  private val Max38 = java.math.BigInteger.TEN.pow(38)

  /** The unscaled value of the ANSI `x.cast(decimal(38, scale))`: null
    * for NaN and ±Infinity, which the cast turns into NULL; a value
    * past decimal(38, scale) fails, as the cast does. */
  private def castUnits(x: Double, scale: Int): java.math.BigInteger =
    if (x.isNaN || x.isInfinite) null
    else {
      val u = halfUp(x, scale).unscaledValue()
      if (u.abs.compareTo(Max38) >= 0) throw new ArithmeticException(
        s"$x cannot be represented as decimal(38,$scale)")
      u
    }

  /** The unscaled value of `x.cast(decimal(38, scale))` as a long;
    * throws where the cast gives NULL or fails, and when the value
    * needs more than a long. */
  def units(x: Double, scale: Int): Long = {
    val k = fastUnits(x, scale)
    if (k != Slow) k
    else {
      val u = castUnits(x, scale)
      if (u == null) throw new ArithmeticException(
        s"$x has no decimal(38,$scale) value")
      u.longValueExact()
    }
  }

  /** An exact decimal(38, scale) sum, in unscaled units: a primitive
    * long with an overflow spill into BigInt, so totals equal the
    * distributed decimal aggregates (exact, order-free) without a
    * BigInt per term. A NaN or ±Infinity term adds nothing, as SUM
    * skips the NULL its cast gives; a sum whose every term is such a
    * NULL is NULL in Spark, which no replica carries on, so [[total]]
    * throws there. */
  final class Units(scale: Int) {
    private var lo = 0L
    private var big: BigInt = null
    private var nulls = false // a term whose cast gave NULL
    private var valued = false // a term with a value
    private def spill(u: BigInt): Unit = big = if (big == null) u else big + u
    private def addLong(u: Long): Unit = {
      val sum = lo + u
      if (((lo ^ sum) & (u ^ sum)) < 0L) { spill(BigInt(lo)); lo = u }
      else lo = sum
    }
    private def addUnits(u: Long): Unit = { valued = true; addLong(u) }
    private def addUnits(u: java.math.BigInteger): Unit =
      if (u == null) nulls = true
      else if (u.bitLength() <= 63) addUnits(u.longValue())
      else { valued = true; spill(BigInt(u)) }

    /** Adds `round(t, scale).cast(decimal(38, scale))`. On the fast
      * path both steps give the same units k (|k| < 2^51: no other
      * `scale`-dp decimal lies within an ulp of k / 10^scale). */
    def add(t: Double): Unit = {
      val k = fastUnits(t, scale)
      if (k != Slow) addUnits(k) else addCast(round(t, scale))
    }

    /** Adds `t.cast(decimal(38, scale))`, with no round before it. */
    def addCast(t: Double): Unit = {
      val k = fastUnits(t, scale)
      if (k != Slow) addUnits(k) else addUnits(castUnits(t, scale))
    }

    /** Adds a·b·c units exactly. */
    def addProduct(a: Long, b: Long, c: Long = 1L): Unit = {
      val ab = a * b
      if (Math.multiplyHigh(a, b) == (ab >> 63)) {
        val abc = ab * c
        if (Math.multiplyHigh(ab, c) == (abc >> 63)) { addUnits(abc); return }
      }
      valued = true
      spill(BigInt(a) * b * c)
    }

    /** Adds every term `o` has taken (a second split of the same sum). */
    def addAll(o: Units): Unit = {
      addLong(o.lo)
      if (o.big != null) spill(o.big)
      nulls |= o.nulls; valued |= o.valued
    }

    /** The exact sum; throws when every term was NaN or ±Infinity. */
    def total: BigInt = {
      if (nulls && !valued) throw new ArithmeticException(
        s"every term is NaN or infinite: their decimal(38,$scale) sum is NULL")
      if (big == null) BigInt(lo) else big + BigInt(lo)
    }

    /** The sum cast to double (Spark's Decimal.toDouble). */
    def toDouble: Double = decToDouble(total, scale)
  }

  /** Per-group totals of a [[fold]]: `dec(k)(g)` in decimal(38,12)
    * units, `dbl(k)(g)` plain double sums. */
  final class Sums(val dec: Array[Array[BigInt]],
      val dbl: Array[Array[Double]]) {
    def d(k: Int, g: Int): Double = decToDouble(dec(k)(g), 12)
  }

  /** The replicas' exact fold: rows [0, n) split across [[threads]]
    * (one thread under 65,536 rows); `terms(i, out)` fills out(0 until
    * nDec) with row i's decimal terms and out(nDec until nDec + nDbl)
    * with its double terms, summed into group `group(i)` (`group` =
    * null: one group). The decimal terms freeze at 12 dp into exact,
    * order-free sums — the distributed `sum(round(t, 12).cast(
    * decimal(38,12)))`, and like [[Units.total]] the fold throws where
    * that sum is NULL; the double sums add each thread's rows in order
    * and merge in thread order, so callers keep them to sums the split
    * cannot change (0/1 flags, counts). */
  def fold(n: Int, nGroups: Int, group: Array[Int], nDec: Int,
      nDbl: Int = 0)(terms: (Int, Array[Double]) => Unit): Sums = {
    val nT = threads
    val tDec = new Array[Array[Array[Units]]](nT)
    val tDbl = new Array[Array[Array[Double]]](nT)
    parallelChunks(n, nT, 65536) { (t, from, to) =>
      val dec = Array.fill(nDec)(Array.fill(nGroups)(new Units(12)))
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
      Array.tabulate(nDec, nGroups) { (k, g) =>
        val acc = new Units(12)
        used.foreach(t => acc.addAll(tDec(t)(k)(g)))
        acc.total
      },
      Array.tabulate(nDbl, nGroups)((k, g) =>
        used.foldLeft(0.0)((s, t) => s + tDbl(t)(k)(g))))
  }
}
