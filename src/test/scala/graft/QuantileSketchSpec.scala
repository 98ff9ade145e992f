package graft

import java.nio.ByteBuffer

import org.apache.spark.sql.functions.col

import graft.functions.QuantileSketch

/** The sketch kernel against its serialized format and a brute-force
  * reference: golden `serialize()` bytes (recorded from the boxed
  * implementation that wrote every sketch persisted so far), a digest
  * over seeded merge trees, and `quantile(q)` against the weighted
  * order statistic of the (value, 2^level) pairs parsed straight from
  * the bytes.
  */
class QuantileSketchSpec extends SparkTestBase {

  private def build(k: Int, xs: Seq[Double]): QuantileSketch.Buf = {
    val b = new QuantileSketch.Buf(k)
    xs.foreach(b.update)
    b
  }

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  // exact regime: 20 values with duplicates, -0.0 next to 0.0, extremes
  private val exactVals = Seq(3.5, -1.0, 2.0, 2.0, 0.0, -0.0, 1e300, -7.25,
    2.0, 0.5, -0.0, 42.0, -1e-300, 3.5, 8.0, 0.0, -1.0, 5.0, 6.75, 2.0)
  // compacting regime: 0..36 permuted by stride 11 (coprime to 37)
  private val shuffled37 = (0 until 37).map(i => ((i * 11) % 37).toDouble)

  private val goldenExact =
    "000000400000000100000014400c000000000000bff000000000000040000000" +
    "000000004000000000000000000000000000000080000000000000007e37e43c" +
    "8800759cc01d00000000000040000000000000003fe000000000000080000000" +
    "00000000404500000000000081a56e1fc2f8f359400c00000000000040200000" +
    "000000000000000000000000bff00000000000004014000000000000401b0000" +
    "000000004000000000000000"
  private val goldenCompacted =
    "0000000800000003000000050000000000000000403e00000000000040100000" +
    "00000000402e000000000000403a000000000000000000044020000000000000" +
    "4030000000000000403700000000000040410000000000000000000640140000" +
    "000000004024000000000000402c0000000000004036000000000000403c0000" +
    "000000004041800000000000"
  private val goldenDigest =
    "a9f4955e18bf743e56e991e8411e204a03d03e4fc8192519f97ad5bdd9524be3"

  private val qs = Seq(0.0, 1e-9, 0.25, 0.5, 0.75, 0.9, 1.0)

  /** (value, weight) pairs parsed from the serialized format:
    * big-endian k, level count, then per level its size and doubles. */
  private def pairs(bytes: Array[Byte]): Seq[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    bb.getInt
    val levels = bb.getInt
    (0 until levels).flatMap { i =>
      val n = bb.getInt
      Seq.fill(n)((bb.getDouble, 1L << i))
    }
  }

  /** Smallest value whose cumulative weight reaches ceil(q·W), rank 1
    * floor, in Double.compare order (-0.0 before 0.0). */
  private def bruteQuantile(bytes: Array[Byte], q: Double): Option[Double] = {
    val ps = pairs(bytes).sortWith((a, b) =>
      java.lang.Double.compare(a._1, b._1) < 0)
    val w = ps.map(_._2).sum
    if (w == 0L) None
    else {
      val target = math.max(1L, math.ceil(q * w).toLong)
      val cums = ps.scanLeft(0L)(_ + _._2).tail
      Some(ps(cums.indexWhere(_ >= target))._1)
    }
  }

  private def sameQuantiles(b: QuantileSketch.Buf, what: String): Unit = {
    val bytes = b.serialize
    qs.foreach { q =>
      val got = b.quantile(q)
      val want = bruteQuantile(bytes, q)
      // compare bits, so -0.0 and 0.0 stay apart
      assert(got.map(java.lang.Double.doubleToRawLongBits) ===
        want.map(java.lang.Double.doubleToRawLongBits),
        s"$what q=$q: got $got, want $want")
    }
  }

  test("golden bytes: exact regime (k=64) and a compacting sketch " +
      "(k=8, 37 shuffled values, odd-size levels)") {
    val exact = build(64, exactVals)
    assert(hex(exact.serialize) === goldenExact)
    val compacted = build(8, shuffled37)
    assert(hex(compacted.serialize) === goldenCompacted)
    assert(compacted.levels.exists(_.length % 2 == 1),
      "fixture must hold an odd-size level")
    assert(compacted.levels.length > 2, "fixture must compact twice")
  }

  test("digest over seeded sketches and merge trees matches the " +
      "recorded format") {
    val rng = new scala.util.Random(20261019L)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val ks = Seq(8, 9, 17)
    (0 until 60).foreach { t =>
      val k = ks(t % ks.length)
      val parts = Seq.fill(1 + rng.nextInt(4)) {
        build(k, Seq.fill(rng.nextInt(200)) {
          if (rng.nextInt(10) == 0) -0.0 else rng.nextInt(50) / 4.0 - 5.0
        })
      }
      parts.foreach(p => md.update(p.serialize))
      val merged = parts.reduceLeft((a, b) => a.merge(b))
      md.update(merged.serialize)
      Seq(0.0, 0.1, 0.5, 0.9, 1.0).foreach { q =>
        merged.quantile(q).foreach(v =>
          md.update(ByteBuffer.allocate(8).putDouble(v).array()))
      }
    }
    assert(hex(md.digest()) === goldenDigest)
  }

  test("quantile(q) equals the brute-force weighted order statistic") {
    sameQuantiles(build(64, exactVals), "exact")
    sameQuantiles(build(8, shuffled37), "compacted")
    sameQuantiles(build(8, Seq.fill(50)(1.5) ++ Seq.fill(13)(-2.0)),
      "duplicates")
    sameQuantiles(build(8, (0 until 41).map(i =>
      if (i % 2 == 0) 0.0 else -0.0)), "signed zeros")
    sameQuantiles(build(8, Seq(7.0)), "single value")
    val merged = build(8, shuffled37)
      .merge(build(8, (1 to 23).map(i => (i * 7 % 23).toDouble / 3.0)))
      .merge(build(8, exactVals))
    sameQuantiles(merged, "merged")
  }

  test("empty sketch: None from the buffer, NULL from quantileOf, " +
      "count 0") {
    import spark.implicits._
    val empty = new QuantileSketch.Buf(16)
    assert(empty.count === 0L && qs.forall(q => empty.quantile(q).isEmpty))
    val row = Seq(Tuple1(empty.serialize)).toDF("sk")
      .select(QuantileSketch.countOf(col("sk")),
        QuantileSketch.quantileOf(col("sk"), 0.5))
      .collect().head
    assert(row.getLong(0) === 0L && row.isNullAt(1), row.toString)
  }

  test("count and countOf equal n; deserialize(serialize) is the identity") {
    import spark.implicits._
    val sketches = Seq(build(64, exactVals), build(8, shuffled37),
      build(8, (1 to 1000).map(i => (i * 7919 % 1000).toDouble)),
      build(16, Seq(1.0)), new QuantileSketch.Buf(8))
    val ns = Seq(exactVals.length, 37, 1000, 1, 0).map(_.toLong)
    assert(sketches.map(_.count) === ns)
    val counted = sketches.map(_.serialize).toDF("sk")
      .select(QuantileSketch.countOf(col("sk"))).as[Long].collect().toSeq
    assert(counted === ns)
    sketches.foreach { b =>
      val bytes = b.serialize
      val back = QuantileSketch.deserialize(bytes)
      assert(java.util.Arrays.equals(back.serialize, bytes))
      assert(back.count === b.count && qs.map(back.quantile) ===
        qs.map(b.quantile))
    }
  }
}
