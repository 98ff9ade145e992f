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
      graft.operators.Graph.HarmonicDriverMaxEdges)
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
}
