package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket mining beyond pairs (r17 verdict item 5): bounded
  * level-3 apriori. The pairs-only q_basket_lift answers "what sells
  * together"; the next question a basket user asks is which TRIPLES
  * co-occur beyond what their pairs explain — and the naive 3-way
  * self-join is a basket-size-cubed fan-out no corpus survives.
  * Apriori's anti-monotonicity is the scale story: a triple can only
  * be frequent if all three of its pairs are, so the pair level is
  * counted first, thresholded, CAPPED to the top-k pairs under the
  * (count DESC, a, b) total order (the langid heap-cut discipline —
  * a DOCUMENTED bound, not a silent truncation), and every 3-way
  * join leg is semi-joined against that bounded pair set before it
  * fans out.
  */
object Baskets {

  /** Driver replica of [[frequentTriples]]' apriori levels (see the
    * fast-path note there). */
  private def frequentTriplesDriver(
      spark: org.apache.spark.sql.SparkSession,
      d1: Array[org.apache.spark.sql.Row], minSupport: Long,
      topKPairs: Int): DataFrame = {
    def utf8Lt(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0
    // baskets and exact item counts
    val byBasket = new java.util.HashMap[Any,
      scala.collection.mutable.ArrayBuffer[String]]()
    val itemCnt = new java.util.HashMap[String, Long]()
    d1.foreach { row =>
      val b = row.get(0); val i = row.getString(1)
      var lst = byBasket.get(b)
      if (lst == null) {
        lst = new scala.collection.mutable.ArrayBuffer[String]()
        byBasket.put(b, lst)
      }
      lst += i
      itemCnt.merge(i, 1L, java.lang.Long.sum(_, _))
    }
    val nBaskets = byBasket.size().toLong
    import scala.jdk.CollectionConverters._
    val freqItems = itemCnt.asScala.collect {
      case (i, c) if c >= minSupport => i
    }.toSet
    // frequent pairs among frequent items, capped under the
    // (count DESC, a, b) UTF8-binary total order
    val pairCnt = new java.util.HashMap[(String, String), Long]()
    byBasket.values().asScala.foreach { items =>
      val fi = items.filter(freqItems).toArray
      java.util.Arrays.sort(fi, new java.util.Comparator[String] {
        def compare(a: String, b: String): Int =
          java.util.Arrays.compareUnsigned(
            a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      })
      var x = 0
      while (x < fi.length) {
        var y = x + 1
        while (y < fi.length) {
          pairCnt.merge((fi(x), fi(y)), 1L, java.lang.Long.sum(_, _))
          y += 1
        }
        x += 1
      }
    }
    val freqPairs = pairCnt.asScala.toArray
      .filter(_._2 >= minSupport)
      .sortWith { case (((a1, b1), c1), ((a2, b2), c2)) =>
        if (c1 != c2) c1 > c2
        else if (a1 != a2) utf8Lt(a1, a2)
        else utf8Lt(b1, b2)
      }
      .take(topKPairs)
    val fpSet = freqPairs.map(_._1).toSet
    // candidate triples a < b < c with all three pairs in the capped
    // set; one exact count
    val tripCnt = new java.util.HashMap[(String, String, String), Long]()
    byBasket.values().asScala.foreach { items =>
      val fi = items.filter(freqItems).toArray
      java.util.Arrays.sort(fi, new java.util.Comparator[String] {
        def compare(a: String, b: String): Int =
          java.util.Arrays.compareUnsigned(
            a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      })
      var x = 0
      while (x < fi.length) {
        var y = x + 1
        while (y < fi.length) {
          if (fpSet((fi(x), fi(y)))) {
            var z = y + 1
            while (z < fi.length) {
              if (fpSet((fi(x), fi(z))) && fpSet((fi(y), fi(z))))
                tripCnt.merge((fi(x), fi(y), fi(z)), 1L,
                  java.lang.Long.sum(_, _))
              z += 1
            }
          }
          y += 1
        }
        x += 1
      }
    }
    val nD = nBaskets.toDouble
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a", StringType),
      StructField("b", StringType), StructField("c", StringType),
      StructField("n_baskets", LongType),
      StructField("support", DoubleType),
      StructField("lift", DoubleType)))
    val out = tripCnt.asScala.toSeq.collect {
      case ((a, b, c), n3) if n3 >= minSupport =>
        org.apache.spark.sql.Row(a, b, c, n3,
          DriverPath.round(n3 / nD, 6),
          DriverPath.round(n3 * nD * nD
            / (itemCnt.get(a).toDouble * itemCnt.get(b)
              * itemCnt.get(c)), 6))
    }
    DriverPath.frame(spark, out, schema)
      .orderBy(col("n_baskets").desc, col("a"), col("b"), col("c"))
  }

  /** Frequent item triples with support and 3-way lift.
    *
    * Pipeline (each level prunes the next):
    *  1. distinct (basket, item) — multiplicity never double-counts;
    *  2. frequent items (count ≥ minSupport);
    *  3. frequent pairs among frequent items (count ≥ minSupport),
    *     capped to `topKPairs` under (count DESC, a, b);
    *  4. candidate triples = basket-joined item triples a < b < c
    *     with (a,b), (a,c), (b,c) ALL in the capped frequent-pair
    *     set (full apriori prune — three semi-joins against a
    *     broadcast-sized table);
    *  5. one final count ≥ minSupport, plus lift₃ =
    *     n₃·N²/(c_a·c_b·c_c) against item independence.
    *
    * Determinism: exact integer counts everywhere; the only doubles
    * are the final support/lift divisions, each one rounded tree.
    * The topKPairs cut is a TakeOrderedAndProject total order.
    *
    * Scale shape: the basket table shuffles on basket for the 3-way
    * join legs; every leg is pre-filtered by the broadcast frequent
    * sets, so fan-out is bounded by true co-occurrence of frequent
    * items, never raw basket size. Driver state: nothing (the capped
    * pair set stays a DataFrame). Output: (a, b, c, n_baskets,
    * support, lift), support-descending total order.
    */
  def frequentTriples(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, topKPairs: Int): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(topKPairs >= 1 && topKPairs <= 100000,
      s"topKPairs must be in [1, 100000], got $topKPairs")
    val d1 = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .filter(col("_b").isNotNull && col("_i").isNotNull)
      .distinct()
      .localCheckpoint() // item counts + three join legs re-read it
    // Driver fast path (r18): the apriori levels are exact integer
    // counting end-to-end — replicated verbatim on the collected
    // distinct (basket, item) table when it fits the driver bound
    // (the same ~30 stages cost more in scheduler rounds than the
    // counting costs in memory). Pair/item thresholds, the (count
    // DESC, a, b) UTF8-binary pair cap, the all-three-pairs triple
    // prune, and the two final rounded doubles are term-for-term; the
    // path engages only for string items (the `<` orders replicate as
    // unsigned UTF-8 byte compares). AnalyticsOpsSpec pins path
    // equality.
    if (d1.schema("_i").dataType ==
          org.apache.spark.sql.types.StringType
        && {
          import org.apache.spark.sql.types._
          // basket keys only need driver-side equality — engage for
          // the types whose JVM equals matches Spark's grouping
          Set[DataType](StringType, IntegerType, LongType, ShortType,
            ByteType, BooleanType, DateType)
            .contains(d1.schema("_b").dataType)
        }) DriverPath.rows(d1) match {
      case Some(rows) => return frequentTriplesDriver(df.sparkSession, rows,
        minSupport, topKPairs)
      case None =>
    }
    val nBaskets = d1.select(col("_b")).distinct().count()
    // r18: checkpoint once — freqItems AND the three final lift joins
    // re-read these counts (4 aggregate recomputes before)
    val items = d1.groupBy(col("_i")).agg(count(lit(1)).as("_ci"))
      .localCheckpoint()
    val freqItems = items.filter(col("_ci") >= minSupport)
    val d2 = d1.join(broadcast(freqItems.select(col("_i"))), "_i")
      .select(col("_b"), col("_i"))
      .localCheckpoint() // the pair expansion + the triple z-leg read it
    // r18: the same-basket pair expansion feeds BOTH the pair counts
    // and the triple candidate build — materialize it once instead of
    // running the shuffle join twice (the plan's biggest stage)
    val pairsExp = d2.as("x").join(d2.as("y"),
        col("x._b") === col("y._b") && col("x._i") < col("y._i"))
      .select(col("x._b").as("_b"), col("x._i").as("_pa"),
        col("y._i").as("_pb"))
      .localCheckpoint()
    val pairCnt = pairsExp
      .groupBy(col("_pa"), col("_pb"))
      .agg(count(lit(1)).as("_cp"))
    val freqPairs = pairCnt.filter(col("_cp") >= minSupport)
      .orderBy(col("_cp").desc, col("_pa"), col("_pb"))
      .limit(topKPairs)
      .localCheckpoint() // three semi-join legs read it
    val p2 = pairsExp
      .select(col("_b"), col("_pa").as("_a"), col("_pb").as("_b2"))
      .join(broadcast(freqPairs.select(col("_pa").as("_a"),
        col("_pb").as("_b2"))), Seq("_a", "_b2"), "left_semi")
    val trip = p2.as("w").join(d2.as("z"),
        col("w._b") === col("z._b") && col("w._b2") < col("z._i"))
      .select(col("w._a").as("_a"), col("w._b2").as("_b2"),
        col("z._i").as("_c"))
      .join(broadcast(freqPairs.select(col("_pa").as("_a"),
        col("_pb").as("_c"))), Seq("_a", "_c"), "left_semi")
      .join(broadcast(freqPairs.select(col("_pa").as("_b2"),
        col("_pb").as("_c"))), Seq("_b2", "_c"), "left_semi")
    val cnt3 = trip.groupBy(col("_a"), col("_b2"), col("_c"))
      .agg(count(lit(1)).as("_n3"))
      .filter(col("_n3") >= minSupport)
    cnt3
      .join(broadcast(items.select(col("_i").as("_a"),
        col("_ci").as("_ca"))), "_a")
      .join(broadcast(items.select(col("_i").as("_b2"),
        col("_ci").as("_cb"))), "_b2")
      .join(broadcast(items.select(col("_i").as("_c"),
        col("_ci").as("_cc"))), "_c")
      .select(col("_a").as("a"), col("_b2").as("b"), col("_c").as("c"),
        col("_n3").cast("bigint").as("n_baskets"),
        round(col("_n3") / lit(nBaskets.toDouble), 6)
          .cast("double").as("support"),
        // counts promote to double BEFORE the product: a Long
        // c_a·c_b·c_c overflows past ~2e6-basket item counts
        round((col("_n3") * lit(nBaskets.toDouble) * lit(nBaskets.toDouble))
          / (col("_ca").cast("double") * col("_cb") * col("_cc")), 6)
          .cast("double").as("lift"))
      .orderBy(col("n_baskets").desc, col("a"), col("b"), col("c"))
  }
}
