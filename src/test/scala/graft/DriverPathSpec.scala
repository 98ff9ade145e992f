package graft

import org.apache.spark.sql.functions._

import graft.operators.DriverPath

/** The shared driver-path gate: one session conf, one bounded collect
  * that both tests the size and returns the rows. */
class DriverPathSpec extends SparkTestBase {

  /** `n` rows in one partition whose source counts every row it
    * produces, so a spec can see how much of the frame the gate read. */
  private def countedRange(n: Int) = {
    val produced = spark.sparkContext.longAccumulator
    val rdd = spark.sparkContext.parallelize(0 until n, 1)
      .map { i => produced.add(1L); i }
    import spark.implicits._
    (rdd.toDF("x"), produced)
  }

  test("a bound <= 0 stays distributed without running a job") {
    val df = spark.range(0, 10).toDF("x")
    for (n <- Seq(0L, -1L)) {
      val (jobs, got) = withDriverPathMaxRows(n)(jobsDuring(DriverPath.rows(df)))
      assert(got.isEmpty, s"bound $n")
      assert(jobs.isEmpty, s"bound $n ran $jobs")
    }
    // and an empty input is distributed too: no `0 <= 0` replica
    val empty = spark.range(0).toDF("x")
    assert(withDriverPathMaxRows(0)(DriverPath.rows(empty)).isEmpty)
  }

  test("n <= bound returns every row in exactly one job") {
    val (df, _) = countedRange(50)
    for (bound <- Seq(50L, 1000L)) {
      val (jobs, got) =
        withDriverPathMaxRows(bound)(jobsDuring(DriverPath.rows(df)))
      assert(got.map(_.map(_.getInt(0)).sorted.toSeq)
        .contains(0 until 50), s"bound $bound")
      assert(jobs.size == 1, s"bound $bound ran $jobs")
    }
    val empty = spark.range(0).toDF("x")
    assert(withDriverPathMaxRows(5)(DriverPath.rows(empty))
      .exists(_.isEmpty))
  }

  test("n > bound stays distributed after one job reading bound + 1 rows") {
    val (df, produced) = countedRange(100000)
    val (jobs, got) =
      withDriverPathMaxRows(10)(jobsDuring(DriverPath.rows(df)))
    assert(got.isEmpty)
    assert(jobs.size == 1, s"ran $jobs")
    assert(produced.value <= 11L, s"read ${produced.value} rows")
    // one row over the bound is already over
    val (df51, _) = countedRange(51)
    assert(withDriverPathMaxRows(50)(DriverPath.rows(df51)).isEmpty)
  }

  test("a multi-partition frame is read incrementally, never counted") {
    // Spark's take scans 1 partition, then up to 4x more per job, so a
    // P-partition frame under the bound costs ~1 + log5(P) jobs; the
    // count()-then-collect() gate it replaces cost 3 on any P
    val df = spark.range(0, 5000).toDF("x")
      .repartition(4, col("x")).localCheckpoint()
    withDriverPathMaxRows(10000) {
      val (jobs, got) = jobsDuring(DriverPath.rows(df))
      assert(got.exists(_.length == 5000))
      assert(jobs.size <= 2, s"ran $jobs")
    }
    withDriverPathMaxRows(10) {
      val (jobs, got) = jobsDuring(DriverPath.rows(df))
      assert(got.isEmpty)
      assert(jobs.size == 1, s"ran $jobs") // the first partition is over
    }
  }

  test("scale widens the bound for a second, vertex-sized frame") {
    val df = spark.range(0, 30).toDF("x")
    withDriverPathMaxRows(20) {
      assert(DriverPath.rows(df).isEmpty)
      assert(DriverPath.rows(df, scale = 2).exists(_.length == 30))
    }
    withDriverPathMaxRows(0) {
      assert(DriverPath.rows(df, scale = 2).isEmpty)
    }
  }

  test("a conf value past Int.MaxValue - 1 is clamped, not overflowed") {
    for (n <- Seq(Long.MaxValue, Int.MaxValue.toLong, Int.MaxValue + 5L)) {
      val bound = withDriverPathMaxRows(n)(DriverPath.maxRows(spark))
      assert(bound == Int.MaxValue - 1L, s"conf $n")
    }
    val df = spark.range(0, 7).toDF("x")
    assert(withDriverPathMaxRows(Long.MaxValue)(DriverPath.rows(df, scale = 2))
      .exists(_.length == 7))
  }

  test("a non-numeric conf value fails naming the key") {
    val key = DriverPath.MaxRowsConf
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "two million")
    try {
      val e = intercept[IllegalArgumentException](
        DriverPath.rows(spark.range(3).toDF("x")))
      assert(e.getMessage.contains(key), e.getMessage)
      assert(e.getMessage.contains("two million"), e.getMessage)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the default bound is the harmonic edge bound") {
    val key = DriverPath.MaxRowsConf
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try assert(DriverPath.maxRows(spark) ==
      DriverPath.DefaultMaxRows)
    finally prev.foreach(spark.conf.set(key, _))
  }

  test("wide vector rows are sent distributed by the byte cap") {
    // the vector callers pass their probed width, 8 bytes a double plus
    // id/row overhead; at 1536 dims the 400 MB cap admits 34,000 rows,
    // far under the row bound. The frame below is ids only (the gate
    // trusts the caller's width), so the over-bound collect stays small.
    val perRow = 8L * 1536 + 48L
    val fit = (DriverPath.DriverMaxCollectBytes / perRow).toInt
    val ids = spark.range(0, fit + 1).toDF("id")
    withDriverPathMaxRows(10000000L) {
      val (jobs, got) = jobsDuring(DriverPath.rows(ids, bytesPerRow = perRow))
      assert(got.isEmpty, s"${fit + 1} rows of 1536 doubles must not collect")
      assert(jobs.size <= 1, s"ran $jobs")
      assert(DriverPath.rows(ids.limit(fit), bytesPerRow = perRow)
        .exists(_.length == fit))
      // without a width the same rows fit the row bound
      assert(DriverPath.rows(ids).exists(_.length == fit + 1))
    }
    // a real narrow vector frame within both caps is collected
    val narrow = spark.range(0, 100).toDF("id")
      .withColumn("v", array_repeat(lit(0.5), 4))
    assert(withDriverPathMaxRows(1000L)(
      DriverPath.rows(narrow, bytesPerRow = 8L * 4 + 48L))
      .exists(_.length == 100))
  }

  /** round(t, 12).cast(decimal(38,12)) as java.math.BigDecimal: the
    * distributed aggregate's per-row term. */
  private def dec12(t: Double): java.math.BigDecimal = {
    val up = java.math.RoundingMode.HALF_UP
    val rounded = java.math.BigDecimal.valueOf(t).setScale(12, up).doubleValue()
    java.math.BigDecimal.valueOf(rounded).setScale(12, up)
  }

  test("the exact fold equals a BigDecimal sum through the long spill") {
    // 4e6 is 4e18 decimal(38,12) units: the third add overflows the
    // primitive long and spills into BigInt; 5e6 (> 62 bits) goes to
    // BigInt directly; the small terms exercise the 12-dp freeze
    val ts = Array(4.0e6, 4.0e6, 4.0e6, 0.1234567890123456, -4.0e6,
      5.0e6, 1e-13, 5e-13, -0.7000000000004999, 4.0e6, 4.0e6)
    val s = DriverPath.fold(ts.length, 1, null, 1, 1) { (i, out) =>
      out(0) = ts(i); out(1) = 1.0
    }
    val ref = ts.map(dec12).reduce(_ add _)
    assert(ref.unscaledValue().bitLength() > 63, "the sum must overflow a long")
    assert(s.dec(0)(0) == BigInt(ref.unscaledValue()))
    assert(s.d(0, 0) == ref.doubleValue())
    assert(s.dbl(0)(0) == ts.length.toDouble)
  }

  test("the exact fold gives the same sums when rows split across threads") {
    val n = 70000 // over the 65,536-row threading floor
    val rnd = new scala.util.Random(7)
    // every 50th term or so is large enough to spill a thread's long
    val ts = Array.fill(n)(
      rnd.nextGaussian() * (if (rnd.nextInt(50) == 0) 3e6 else 1.0))
    val group = Array.tabulate(n)(i => (i * 7) % 3)
    val flag = Array.tabulate(n)(i => if (i % 5 == 0) 1.0 else 0.0)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val s = DriverPath.fold(n, 3, group, 2, 1) { (i, out) =>
      seen.add(Thread.currentThread().getId)
      out(0) = ts(i); out(1) = ts(i) * ts(i); out(2) = flag(i)
    }
    if (DriverPath.threads > 1) assert(seen.size > 1, "rows did not split")
    for (g <- 0 until 3) {
      val rows = (0 until n).filter(group(_) == g)
      val r0 = rows.map(i => dec12(ts(i))).reduce(_ add _)
      val r1 = rows.map(i => dec12(ts(i) * ts(i))).reduce(_ add _)
      assert(s.dec(0)(g) == BigInt(r0.unscaledValue()), s"group $g term 0")
      assert(s.dec(1)(g) == BigInt(r1.unscaledValue()), s"group $g term 1")
      assert(s.dbl(0)(g) == rows.count(_ % 5 == 0).toDouble, s"group $g flags")
    }
    // the integer fold sums its per-thread arrays the same way
    val counts = DriverPath.foldLongs(n, 3) { (from, to, acc) =>
      var i = from
      while (i < to) { acc(group(i)) += 1L; i += 1 }
    }
    assert(counts.toSeq == (0 until 3).map(g => group.count(_ == g).toLong))
  }

  /** Spark's own expression for a double frozen at `s` dp. */
  private def halfUp(x: Double, s: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP)

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  private val Max38 = java.math.BigInteger.TEN.pow(38)

  /** The doubles at scale `s` the kernel must round exactly. */
  private def kernelInputs(s: Int, rnd: scala.util.Random): Array[Double] = {
    def sign(x: Double) = if (rnd.nextBoolean()) -x else x
    // (k + 0.5) / 10^s, the nearest double to the decimal tie
    def tie(k: Long) = new java.math.BigDecimal(java.math.BigInteger
      .valueOf(k).shiftLeft(1).add(java.math.BigInteger.ONE), s + 1)
      .doubleValue()
    def around(x: Double) = Seq(x, math.nextUp(x), math.nextDown(x))
    val edge = math.pow(2, 52) / math.pow(10, s) // |x|·10^s = 2^52
    val maxK = math.min(1e15, math.pow(10, s + 4)).toLong
    (Seq.fill(20000)(rnd.nextDouble() * 2 - 1) ++
      Seq.fill(20000)(rnd.nextDouble() * 2e6 - 1e6) ++
      Seq.fill(30000)(sign(math.pow(10, rnd.nextDouble() * 22 - 12))) ++
      Seq.fill(20000)(tie((rnd.nextDouble() * maxK).toLong))
        .flatMap(around).map(sign) ++
      Seq.fill(20000)(java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
      Seq(-0.0, 0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL) ++
      Seq.fill(2000)(sign(Double.MinPositiveValue * rnd.nextInt(1 << 30))) ++
      Seq.fill(2000)(sign(edge * (1 + (rnd.nextDouble() - 0.5) * 1e-3))) ++
      Seq.fill(600)(tie((1L << 52) - 1 - rnd.nextInt(1 << 20)))
        .flatMap(around).map(sign) ++
      around(edge).map(sign)).toArray
  }

  test("the rounding kernel is bit-identical to BigDecimal HALF_UP " +
      "on 2M seeded doubles at scales 0-12") {
    val rnd = new scala.util.Random(20261019L)
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    var n = 0
    for (s <- 0 to 12; x <- kernelInputs(s, rnd)) {
      n += 1
      def miss(what: String) = if (bad.length < 10) bad += s"$what x=$x s=$s"
      if (x.isNaN || x.isInfinite) {
        if (bits(DriverPath.round(x, s)) != bits(x)) miss("round")
        if (scala.util.Try(DriverPath.units(x, s)).isSuccess) miss("units")
      } else {
        val want = halfUp(x, s)
        val r = want.doubleValue()
        if (bits(DriverPath.round(x, s)) != bits(r)) miss("round")
        val u = want.unscaledValue()
        if (u.bitLength() <= 63) {
          if (DriverPath.units(x, s) != u.longValue()) miss("units")
        } else if (scala.util.Try(DriverPath.units(x, s)).isSuccess)
          miss("units past a long")
        if (u.abs.compareTo(Max38) < 0) {
          val cast = new DriverPath.Units(s); cast.addCast(x)
          if (cast.total != BigInt(u)) miss("addCast")
          // round, then the cast of the rounded double
          val twice = halfUp(r, s).unscaledValue()
          val both = new DriverPath.Units(s); both.add(x)
          if (both.total != BigInt(twice)) miss("add")
        }
      }
    }
    assert(n >= 2000000, s"only $n inputs")
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("the kernel's round is Spark's round, and its units Spark's " +
      "ANSI decimal cast, NaN and Infinity included") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val xs = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, -1e-13, 2.5, -2.5, 0.0078125, -1.0078125, 1.0000005,
      0.1 + 0.2, 4503.5996273704955, Double.MinPositiveValue, 1e300, -1e-300)
    val df = xs.toDF("x")
    for (s <- Seq(0, 2, 6, 12)) {
      val got = df.select(round(col("x"), s)).as[Double].collect()
      xs.zip(got).foreach { case (x, g) =>
        assert(bits(DriverPath.round(x, s)) == bits(g), s"round($x, $s)")
      }
    }
    // the replicas' decimal term: round(t, 12).cast(decimal(38,12))
    val dec12 = round(col("x"), 12).cast("decimal(38,12)")
    val finite = xs.filter(x => !x.isNaN && !x.isInfinite && x != 1e300)
    val cast = finite.toDF("x").select(dec12).as[java.math.BigDecimal]
      .collect()
    finite.zip(cast).foreach { case (x, c) =>
      val acc = new DriverPath.Units(12); acc.add(x)
      assert(acc.total == BigInt(c.setScale(12).unscaledValue()), s"cast($x)")
    }
    // the ANSI cast gives NULL for NaN and ±Infinity, which a SUM
    // skips, and fails on out-of-range values
    for (x <- Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity)) {
      assert(Seq(x).toDF("x").select(dec12).collect().head.isNullAt(0))
      val acc = new DriverPath.Units(12); acc.add(x); acc.addCast(x)
      acc.add(2.5)
      assert(acc.total == BigInt(25) * BigInt(10).pow(11), s"$x")
    }
    for (x <- Seq(1e300, -1e26)) {
      intercept[ArithmeticException](
        Seq(x).toDF("x").select(dec12).collect())
      intercept[ArithmeticException](new DriverPath.Units(12).add(x))
      intercept[ArithmeticException](new DriverPath.Units(12).addCast(x))
    }
  }

  test("a decimal sum of only NaN or Infinity terms, NULL in Spark, " +
      "throws in the replicas' sums") {
    import spark.implicits._
    val ts = Seq(("nan", Double.NaN), ("nan", Double.PositiveInfinity),
      ("mixed", Double.NaN), ("mixed", 0.25), ("mixed", -1e-13),
      ("mixed", Double.NegativeInfinity), ("mixed", 1.0000005))
    val got = ts.toDF("g", "t").groupBy("g")
      .agg(sum(round(col("t"), 12).cast("decimal(38,12)")).as("s"))
      .as[(String, java.math.BigDecimal)].collect().toMap
    assert(got("nan") == null)
    // one accumulator, and the fold with the rows split across threads
    def units(g: String): DriverPath.Units = {
      val acc = new DriverPath.Units(12)
      ts.filter(_._1 == g).foreach(t => acc.add(t._2))
      acc
    }
    assert(units("mixed").total ==
      BigInt(got("mixed").setScale(12).unscaledValue()))
    intercept[ArithmeticException](units("nan").total)
    // group 1 is the first and the last row: with the rows split
    // across threads, a NULL term in one thread's share and a value
    // in another's still sum to that value
    val n = 200000
    val group = Array.tabulate(n)(i => if (i == 0 || i == n - 1) 1 else 0)
    def fold(t: Int => Double) = DriverPath.fold(n, 2, group, 1) {
      (i, out) => out(0) = t(i) }
    val s = fold(i => if (i == 0) Double.NaN else 1.0)
    assert(s.dec(0)(0) == BigInt(n - 2) * BigInt(10).pow(12))
    assert(s.dec(0)(1) == BigInt(10).pow(12))
    intercept[ArithmeticException](fold(i =>
      if (group(i) == 1) Double.NaN else 1.0))
  }

  test("units sums products exactly through the long spill") {
    val big = 3037000499L // big² is just under 2^63
    val terms = Seq((1L, big, big), (3L, big, big), (-2L, big, 5L),
      (7L, Long.MaxValue, 1L), (Long.MinValue, -1L, 1L), (-1L, 1L, 1L))
    val acc = new DriverPath.Units(0)
    terms.foreach { case (a, b, c) => acc.addProduct(a, b, c) }
    val want = terms.map { case (a, b, c) => BigInt(a) * b * c }.sum
    assert(acc.total == want)
    assert(bits(acc.toDouble) ==
      bits(new java.math.BigDecimal(want.bigInteger).doubleValue()))
  }

  test("interning gives first-seen dense ids under both null policies") {
    val keys = Seq("b", null, "a", "b", null, "c", "a")
    val rows = keys.map(k => org.apache.spark.sql.Row(k)).toArray
    // an equi-join drops null keys: id -1, never interned
    val (dropIds, dropped) = DriverPath.intern(rows, keepNulls = false)
    assert(dropped.toSeq == Seq(0, -1, 1, 0, -1, 2, 1))
    assert(dropIds.keys == Seq("b", "a", "c"))
    // a null-safe join keeps them: null is a key like any other
    val (keepIds, kept) = DriverPath.intern(rows, keepNulls = true)
    assert(kept.toSeq == Seq(0, 1, 2, 0, 1, 3, 2))
    assert(keepIds.keys == Seq("b", null, "a", "c"))
    assert(keepIds.find("c") == 3 && keepIds.find("z") == -1)
    // edge lists intern src then dst, edge by edge
    val g = DriverPath.edges(Array(("x", "y"), ("z", "x"), ("y", "w"))
      .map { case (a, b) => org.apache.spark.sql.Row(a, b) })
    assert(g.names == Seq("x", "y", "z", "w"))
    assert(g.src.toSeq == Seq(0, 2, 1) && g.dst.toSeq == Seq(1, 0, 3))
  }

  test("frame cuts one slice per 100k rows") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("x", IntegerType)))
    for ((n, slices) <- Seq(0 -> 1, 1 -> 1, 99999 -> 1, 100000 -> 1,
        199999 -> 1, 200000 -> 2, 250000 -> 2)) {
      val df = DriverPath.frame(spark,
        (0 until n).map(org.apache.spark.sql.Row(_)), schema)
      assert(df.rdd.getNumPartitions == slices, s"$n rows")
    }
    val small = DriverPath.frame(spark,
      (0 until 5).map(org.apache.spark.sql.Row(_)), schema)
    assert(small.collect().map(_.getInt(0)).toSeq == (0 until 5))
  }
}
