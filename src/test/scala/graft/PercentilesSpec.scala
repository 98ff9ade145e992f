package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.Percentiles

/** exactValues must be BIT-IDENTICAL to Spark's exact `percentile`
  * aggregate (same interpolation formula) on arbitrary data — that is
  * the contract that lets the bounded-memory path replace the
  * value-buffering aggregate with zero semantic change.
  */
class PercentilesSpec extends SparkTestBase {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(12).withWorkers(1)

  private def sparkExact(df: org.apache.spark.sql.DataFrame,
      ps: Seq[Double]): Seq[Double] =
    df.agg(percentile(col("x").cast("double"), array(ps.map(lit): _*)))
      .head().getSeq[Double](0)

  test("equals Spark percentile bit-for-bit on arbitrary data incl. ties") {
    val dataGen = Gen.choose(1, 200).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1000, 1000))) // ints -> heavy ties
    val psGen = Gen.nonEmptyListOf(
      Gen.oneOf(0.0, 0.125, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
    val res = SCTest.check(params, Prop.forAll(dataGen, psGen) { (xs, ps) =>
      import spark.implicits._
      val df = xs.map(_.toDouble).toDF("x")
      val got = Percentiles.exactValues(df, col("x"), ps, accuracy = 100)
      val want = sparkExact(df, ps)
      got == want // exact double equality — same formula or bust
    })
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("edge cases: single row, constant column, p=0 and p=1") {
    import spark.implicits._
    val one = Seq(42.0).toDF("x")
    assert(Percentiles.exactValues(one, col("x"), Seq(0.0, 0.5, 1.0))
      === Seq(42.0, 42.0, 42.0))
    val const = Seq.fill(50)(7.5).toDF("x")
    assert(Percentiles.exactValues(const, col("x"), Seq(0.25, 0.75))
      === Seq(7.5, 7.5))
  }

  test("nulls are excluded, like the percentile aggregate") {
    import spark.implicits._
    val df = Seq[java.lang.Double](1.0, null, 2.0, 3.0, null).toDF("x")
    assert(Percentiles.exactValues(df, col("x"), Seq(0.5)) === Seq(2.0))
    assert(sparkExact(df, Seq(0.5)) === Seq(2.0))
  }

  test("empty input fails loudly") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Percentiles.exactValues(Seq.empty[Double].toDF("x"), col("x"), Seq(0.5))
    }
  }

  test("weightedQuantile: hand fixture, unit-weight degeneration, zero weights") {
    import spark.implicits._
    // values 1,2,3 with weights 1,1,4: W=6, thr=ceil(3)=3 -> cum hits
    // 3 first at value 3 (cum 1,2,6) -> weighted median 3
    val df = Seq(("g", 1.0, 1L), ("g", 2.0, 1L), ("g", 3.0, 4L))
      .toDF("g", "v", "w")
    val r = Percentiles.weightedQuantile(df, Seq("g"), "v", "w", 1, 2)
      .collect().head
    assert(r.getLong(1) == 6 && r.getDouble(2) == 3.0, s"$r")

    // all weights 1: lower median of {1,2,3,4} = value at ceil(4/2)=2
    val unit = Seq(1.0, 2.0, 3.0, 4.0).map(("u", _, 1L)).toDF("g", "v", "w")
    val ru = Percentiles.weightedQuantile(unit, Seq("g"), "v", "w", 1, 2)
      .collect().head
    assert(ru.getDouble(2) == 2.0, s"unit weights = lower median: $ru")

    val zero = Seq(("z", 5.0, 0L)).toDF("g", "v", "w")
    val rz = Percentiles.weightedQuantile(zero, Seq("g"), "v", "w", 1, 2)
      .collect().head
    assert(rz.getLong(1) == 0 && rz.isNullAt(2), "zero mass => NULL")
  }

  test("weightedQuantile: p=1 returns the max value; ties collapse by value") {
    import spark.implicits._
    val df = Seq(("g", 2.0, 3L), ("g", 2.0, 2L), ("g", 9.0, 1L))
      .toDF("g", "v", "w")
    val max = Percentiles.weightedQuantile(df, Seq("g"), "v", "w", 1, 1)
      .collect().head
    assert(max.getDouble(2) == 9.0, s"p=1 crosses at the top: $max")
    // 5 of 6 units sit at 2.0 -> median 2.0 regardless of row split
    val med = Percentiles.weightedQuantile(df, Seq("g"), "v", "w", 1, 2)
      .collect().head
    assert(med.getDouble(2) == 2.0, s"tied values aggregate first: $med")
  }

  /** Type-1 order statistic: the value at rank ceil(q·n), rank 1 floor. */
  private def type1(xs: Seq[Double], q: Double): Double = {
    val sorted = xs.sorted(Ordering.Double.TotalOrdering)
    sorted(math.max(1L, math.ceil(q * sorted.length).toLong).toInt - 1)
  }

  test("sketchQuantiles: exact type-1 quantiles and n per group") {
    import spark.implicits._
    // three groups of 1, 40 and 97 values with ties; nulls are skipped
    val rows = Seq(("a", Some(5.0))) ++
      (0 until 40).map(i => ("b", Some(((i * 13) % 40 / 4).toDouble))) ++
      (0 until 97).map(i => ("c", Some((i * 31 % 97) - 48.5))) ++
      Seq(("b", None), ("c", None))
    val df = rows.toDF("g", "v")
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val out = Percentiles.sketchQuantiles(df, Seq("g"), "v", qs, k = 256)
    assert(out.columns.toSeq ===
      Seq("g", "n", "q_0", "q_25", "q_50", "q_90", "q_100"))
    val got = out.collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("a", "b", "c"))
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val xs = vs.flatMap(_._2)
      val r = got(g)
      assert(r.getLong(1) === xs.length.toLong, s"$g: $r")
      qs.zipWithIndex.foreach { case (q, j) =>
        assert(r.getDouble(2 + j) === type1(xs, q), s"$g q=$q: $r")
      }
    }
  }

  test("sketchQuantiles: no group columns gives one row over all values") {
    import spark.implicits._
    val xs = (1 to 25).map(i => (i * 7 % 25).toDouble)
    val r = Percentiles.sketchQuantiles(xs.toDF("v"), Seq.empty, "v",
      Seq(0.1, 0.5), k = 64).collect()
    assert(r.length === 1)
    assert(r.head.toSeq === Seq(25L, type1(xs, 0.1), type1(xs, 0.5)))
  }

  test("sketchQuantiles: quantiles that collide after rounding fail") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Percentiles.sketchQuantiles(Seq(1.0, 2.0).toDF("v"), Seq.empty, "v",
        Seq(0.249, 0.251), k = 64)
    }
    assert(e.getMessage.contains("collide after rounding"), e.getMessage)
  }
}
