package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Deterministic sampling: stable across runs and partitionings, with
  * realized fractions tracking the requested ones.
  */
class SamplingSpec extends SparkTestBase {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("portableBits is portableUnit's driver twin, bit for bit " +
      "(empty, non-ASCII, long and string keys)") {
    import spark.implicits._
    val strs = Seq("", " ", "a", "é", "日本語", "naïve café", "😀",
      "x" * 300) ++ (0 until 600).map(i => s"k$i:${i * 7919}")
    val longs = Seq(Long.MinValue, -1L, 0L, Long.MaxValue) ++
      (0 until 400).map(i => i.toLong * 1000003L - 200000000L)
    def bits(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    val s = strs.toDF("k")
      .select(col("k"), Sampling.portableUnit(col("k")), bits(col("k")))
      .collect()
    val l = longs.toDF("k")
      .select(col("k"), Sampling.portableUnit(col("k")), bits(col("k")))
      .collect()
    assert(s.length + l.length > 1000)
    for (r <- s ++ l) {
      val b = Sampling.portableBits(r.get(0).toString)
      assert(b == r.getLong(2), r.toString)
      assert(b / 1152921504606846976.0 == r.getDouble(1), r.toString)
    }
  }

  test("hash sample is deterministic and fraction-accurate") {
    val s1 = Sampling.sample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.sample(docs.repartition(7), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2, "same rows in-sample regardless of layout/run")
    val frac = s1.size.toDouble / docs.count()
    assert(math.abs(frac - 0.3) < 0.08, s"realized fraction $frac")
    // different seed => different (but still deterministic) sample
    val s3 = Sampling.sample(docs, "doc_id", 0.3, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3 !== s1)
  }

  test("stratified sampling honors per-stratum fractions, drops unlisted") {
    val out = Sampling.stratified(docs, "lang", "doc_id",
      Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.0))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") === totals("en"), "fraction 1.0 keeps everything")
    assert(!byLang.contains("fr"), "fraction 0.0 drops the stratum")
    assert(!byLang.keySet.exists(l => !Set("en", "de").contains(l)),
      "unlisted strata are dropped")
    val deFrac = byLang("de").toDouble / totals("de")
    assert(math.abs(deFrac - 0.5) < 0.15, s"de realized fraction $deFrac")
  }

  test("capPerKey keeps at most k per key, deterministically, from the input") {
    val capped = Sampling.capPerKey(docs, Seq("source"), "doc_id", k = 7)
    val perKey = capped.groupBy("source").count().collect()
    assert(perKey.nonEmpty)
    perKey.foreach(r => assert(r.getLong(1) <= 7, s"${r.getString(0)} over cap"))
    // full-size groups are capped exactly at k
    assert(perKey.forall(_.getLong(1) == 7),
      "every source has >= 7 docs in the fixture, so all caps bind")
    // deterministic: the SAME rows survive a rerun and a repartition
    val ids = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.capPerKey(docs.repartition(13), Seq("source"), "doc_id", k = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === ids, "cap must be stable across runs and partitionings")
    // survivors are input rows (no fabrication)
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(all))
  }

  test("train/valid/test split is disjoint, exhaustive, and stable") {
    val split = Sampling.split(docs, "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    assert(split.count() === docs.count(), "every row gets exactly one split")
    val sizes = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === Set("train", "valid", "test"))
    assert(sizes("train") > sizes("valid") && sizes("train") > sizes("test"))
    // stability: the same doc lands in the same split on a second run
    val again = Sampling.split(docs.repartition(5), "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val a = split.select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val b = again.select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
  }

  test("mixCorpora: weighted, tagged, deterministic, per-source independent") {
    import org.apache.spark.sql.functions._
    val mixed = Sampling.mixCorpora(Seq(
      ("big", docs, 0.8), ("small", docs, 0.2)), "doc_id")
    val n = docs.count().toDouble
    val sizes = mixed.groupBy("corpus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // realized fractions track weights at ~3/sqrt(n)
    assert(math.abs(sizes("big") / n - 0.8) < 3.0 / math.sqrt(n))
    assert(math.abs(sizes("small") / n - 0.2) < 3.0 / math.sqrt(n))
    // independence: the small draw must NOT be a subset of the big draw
    // (same key, different source name => independent decision)
    val bigIds = mixed.filter(col("corpus") === "big")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val smallIds = mixed.filter(col("corpus") === "small")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!smallIds.subsetOf(bigIds),
      "draws across sources must be independent, not nested")
    // determinism: identical mixture after a repartition
    val again = Sampling.mixCorpora(Seq(
      ("big", docs.repartition(7), 0.8), ("small", docs.repartition(3), 0.2)),
      "doc_id")
    val a = mixed.select("corpus", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val b = again.select("corpus", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a === b)
  }

  test("mixCorpora edge weights: 1.0 keeps everything, 0.0 keeps nothing") {
    val mixed = Sampling.mixCorpora(Seq(
      ("all", docs, 1.0), ("none", docs, 0.0)), "doc_id")
    import org.apache.spark.sql.functions._
    assert(mixed.filter(col("corpus") === "all").count() === docs.count())
    assert(mixed.filter(col("corpus") === "none").count() === 0L)
  }

  test("negativeSample: k draws per anchor from candidates, exclusions honored, deterministic") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val anchors = docs.filter(col("doc_id") < 10)
    val cands = docs.filter(col("doc_id") >= 10 && col("doc_id") < 60)
    val out = Sampling.negativeSample(anchors, "doc_id", cands, "doc_id", k = 3)
    val byAnchor = out.groupBy("anchor_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byAnchor.keySet === (0L until 10L).toSet)
    assert(byAnchor.values.forall(n => n >= 1 && n <= 3),
      "duplicate draws may collapse but never exceed k")
    val candIds = cands.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.select("cand_id").collect().map(_.getLong(0)).toSet.subsetOf(candIds))
    // determinism under repartition
    val again = Sampling.negativeSample(anchors.repartition(5), "doc_id",
      cands.repartition(3), "doc_id", k = 3)
    assert(again.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // exclusion: forbid one sampled pair, it must vanish (and only it)
    val one = out.head()
    val excluded = Sampling.negativeSample(anchors, "doc_id", cands, "doc_id",
      k = 3, exclude = Some(Seq((one.getLong(0), one.getLong(1)))
        .toDF("anchor_id", "cand_id")))
    val exSet = excluded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val outSet = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exSet === outSet - ((one.getLong(0), one.getLong(1))))
  }

  test("stratifiedPortable: per-stratum fractions, unlisted strata drop, subset of input") {
    import org.apache.spark.sql.functions._
    val out = Sampling.stratifiedPortable(docs, "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 1.0))
    val inCounts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val outCounts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(outCounts.keySet.subsetOf(Set("en", "de")), "unlisted strata must drop")
    assert(outCounts("de") === inCounts("de"), "fraction 1.0 keeps the stratum whole")
    val ratio = outCounts("en").toDouble / inCounts("en")
    assert(ratio > 0.3 && ratio < 0.7, s"en keep-rate $ratio far from 0.5")
    // subset + determinism under repartition
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(all))
    val again = Sampling.stratifiedPortable(docs.repartition(7), "lang",
      "doc_id", Map("en" -> 0.5, "de" -> 1.0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === ids)
  }

  test("keepTopQuantile keeps exactly floor(frac*n) per group, the top-scored") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("score", col("n_chars").cast("double"))
    val kept = Sampling.keepTopQuantile(docs, Seq("lang"), col("score"),
      "doc_id", 0.25)
    val inCounts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val outCounts = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, n) <- inCounts)
      assert(outCounts.getOrElse(lang, 0L) === (0.25 * n).floor.toLong,
        s"lang=$lang in=$n")
    // every kept row's score >= every dropped row's score within a group
    // (up to the doc_id tiebreak at the cut score)
    val minKept = kept.groupBy("lang").agg(min("score").as("mn")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dropped = docs.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
    val maxDropped = dropped.groupBy("lang").agg(max("score").as("mx"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((lang, mx) <- maxDropped)
      assert(mx <= minKept(lang),
        s"lang=$lang dropped a score above the kept cut")
  }

  test("sampleExactFraction: exactly floor(frac*n) per group, stable, subset") {
    val out = Sampling.sampleExactFraction(docs, Seq("source"), "doc_id", 0.2)
    val inCounts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val outCounts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, n) <- inCounts)
      assert(outCounts.getOrElse(src, 0L) === (0.2 * n).floor.toLong, s"src=$src")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(all))
    val again = Sampling.sampleExactFraction(docs.repartition(11),
      Seq("source"), "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === ids, "the kept SET must be layout-independent")
  }

  test("assignShards: complete, stable, balanced across shards") {
    val out = Sampling.assignShards(docs, "doc_id", 8)
    assert(out.count() === docs.count(), "every row gets a shard")
    val counts = out.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet === (0 until 8).toSet, "all shards populated")
    val n = docs.count().toDouble
    counts.values.foreach(c =>
      assert(math.abs(c - n / 8) < 4 * math.sqrt(n / 8), s"imbalanced: $counts"))
    val again = Sampling.assignShards(docs.repartition(9), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("shard"))).toSet
    val first = out.collect().map(r => (r.getLong(0), r.getAs[Int]("shard"))).toSet
    assert(again === first, "assignment is layout-independent")
  }

  test("assignShardsHrw: minimal movement on grow — movers only join the NEW shard") {
    val h8 = Sampling.assignShardsHrw(docs, "doc_id", 8)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // complete + all shards populated + roughly balanced
    assert(h8.size.toLong === docs.count())
    val counts = h8.values.groupBy(identity).view.mapValues(_.size)
    assert(counts.keySet === (0 until 8).toSet, counts.toMap.toString)
    val n = h8.size.toDouble
    counts.values.foreach(c =>
      assert(math.abs(c - n / 8) < 4 * math.sqrt(n / 8),
        s"imbalanced: ${counts.toMap}"))
    // THE HRW property: growing 8 -> 9 moves a key ONLY if shard 8
    // wins it — every mover lands on the new shard, nobody reshuffles
    // between old shards (modulo moves ~7/8 of all keys instead)
    val h9 = Sampling.assignShardsHrw(docs, "doc_id", 9)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val movers = h8.keys.filter(k => h8(k) != h9(k)).toSeq
    assert(movers.nonEmpty, "some keys must move to the new shard")
    movers.foreach(k => assert(h9(k) === 8,
      s"mover $k went ${h8(k)} -> ${h9(k)}, not to the new shard"))
    assert(movers.size < h8.size / 4,
      s"~1/9 expected to move, got ${movers.size}/${h8.size}")
    // layout independence (the assignShards contract)
    val again = Sampling.assignShardsHrw(docs.repartition(7), "doc_id", 8)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === h8)
    // single shard trivially constant; bounds rejected
    assert(Sampling.assignShardsHrw(docs, "doc_id", 1)
      .select("shard").distinct().collect().map(_.getInt(0)).toSeq
      === Seq(0))
    intercept[IllegalArgumentException](
      Sampling.assignShardsHrw(docs, "doc_id", 0))
    intercept[IllegalArgumentException](
      Sampling.assignShardsHrw(docs, "doc_id", 2000))
  }

  test("takeTokenBudget: fills to the quota, keeps the crossing doc, per group") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Seq(
      ("a", 1L, 500L), ("a", 2L, 400L), ("a", 3L, 200L), ("a", 4L, 50L),
      ("b", 5L, 2000L), ("b", 6L, 1L),
      ("c", 7L, 100L),
    ).toDF("grp", "id", "n")
    val kept = Sampling.takeTokenBudget(d, Seq("grp"), "id", "id", col("n"), 1000L)
      .select("id").collect().map(_.getLong(0)).toSet
    // a: 500 (run 0) + 400 (run 500) + 200 (run 900 < 1000, CROSSES, kept)
    //    then 50 (run 1100 >= 1000, dropped)
    // b: 2000 kept (run 0), 1 dropped (run 2000)
    // c: all kept (under budget)
    assert(kept === Set(1L, 2L, 3L, 5L, 7L))
    // kept set is a prefix of each group's order
    val again = Sampling.takeTokenBudget(d.repartition(5), Seq("grp"), "id",
      "id", col("n"), 1000L).select("id").collect().map(_.getLong(0)).toSet
    assert(again === kept)
  }

  test("keepTopQuantileApprox: threshold-filter shape, frac within sketch error") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("score", col("n_chars").cast("double"))
    val kept = Sampling.keepTopQuantileApprox(docs, Seq("lang"), col("score"), 0.25)
    // no sort anywhere: the whole point of the approx path
    val p = kept.queryExecution.executedPlan.toString
    assert(!p.contains("Sort"), s"approx path must not sort:\n$p")
    val n = docs.count().toDouble
    val frac = kept.count() / n
    // score has heavy ties (integer token counts), so the kept fraction
    // can overshoot to the whole tie-class at the threshold
    assert(frac >= 0.20 && frac <= 0.45, s"kept fraction $frac")
    // deterministic under repartition
    val again = Sampling.keepTopQuantileApprox(docs.repartition(7),
      Seq("lang"), col("score"), 0.25).count()
    assert(again === kept.count())
  }

  test("group-keyed split is atomic: every row of a group shares the arm") {
    val ev = graft.tables.TableLoader.events(spark, sfDir)
      .select("event_id", "user_id")
    val s = Sampling.splitPortable(ev, "user_id",
      Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125))
    val torn = s.groupBy("user_id")
      .agg(countDistinct("split").as("arms")).filter(col("arms") > 1).count()
    assert(torn === 0L, "a group straddling splits is entity leakage")
    // all three arms actually populated at this group count
    assert(s.select("split").distinct().count() === 3L)
  }

  test("temperatureWeights: alpha=1 proportional, epochs=1; alpha<1 lifts the tail") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val prop = Sampling.temperatureWeights(docs, "source", alpha = 1.0).collect()
    val total = prop.map(_.getAs[Long]("n")).sum.toDouble
    prop.foreach { r =>
      assert(math.abs(r.getAs[Double]("weight") - r.getAs[Long]("n") / total) < 1e-12)
      assert(math.abs(r.getAs[Double]("epochs") - 1.0) < 1e-12,
        "alpha=1 implies exactly one pass over every source")
    }
    val temp = Sampling.temperatureWeights(docs, "source", alpha = 0.5)
    assert(math.abs(temp.agg(sum("weight")).head.getDouble(0) - 1.0) < 1e-9,
      "weights are a distribution at any alpha")
    // alpha<1 compresses the head and lifts the tail: on a skewed
    // grouping (sources are uniform in testdata, so skew is built from
    // doc_id ranges) the small group's weight strictly grows vs
    // proportional, the big group's shrinks
    val skewed = docs.withColumn("grp",
      when(col("doc_id") < 400, "big").otherwise("small"))
    def weightsOf(a: Double): Map[String, Double] =
      Sampling.temperatureWeights(skewed, "grp", a).collect()
        .map(r => r.getString(0) -> r.getAs[Double]("weight")).toMap
    val pS = weightsOf(1.0); val tS = weightsOf(0.5)
    assert(tS("small") > pS("small") && tS("big") < pS("big"))
  }

  test("temperatureWeights: internal one-row-agg names cannot collide with groupCol") {
    import spark.implicits._
    // _z and _total were previously hardcoded internal names; a group
    // column with either name raised an ambiguous-column error
    for (grp <- Seq("_z", "_total", "_twtmp0")) {
      val df = Seq(("a", 1), ("a", 1), ("b", 1)).toDF(grp, "x")
      val w = Sampling.temperatureWeights(df, grp, alpha = 1.0).collect()
      val m = w.map(r => r.getString(0) -> r.getAs[Double]("weight")).toMap
      assert(math.abs(m("a") - 2.0 / 3) < 1e-12 && math.abs(m("b") - 1.0 / 3) < 1e-12,
        s"groupCol '$grp' must work like any other name")
    }
  }

  test("leakFreeSplit drops exactly the train rows with an eval partner") {
    import spark.implicits._
    val ids = (0L until 200L).toDF("id")
    val weights = Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125)
    val base = Sampling.splitPortable(ids, "id", weights)
    val split = base.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainIds = split.collect { case (k, "train") => k }.toSeq.sorted
    val evalIds = split.collect { case (k, s) if s != "train" => k }.toSeq.sorted
    // pairs: two train↔eval edges (both orientations exercised), one
    // train↔train edge (harmless), one eval↔eval edge (harmless)
    val pairs = Seq(
      (trainIds(0), evalIds(0)), (evalIds(1), trainIds(1)),
      (trainIds(2), trainIds(3)), (evalIds(2), evalIds(3)))
      .toDF("i", "j")
    val out = Sampling.leakFreeSplit(ids, "id", weights, pairs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!out.contains(trainIds(0)) && !out.contains(trainIds(1)),
      "train rows with an eval partner are dropped, either orientation")
    assert(out.contains(trainIds(2)) && out.contains(trainIds(3)),
      "train-train pairs drop nothing")
    evalIds.foreach(k => assert(out(k) == split(k), "eval rows never dropped"))
    assert(out.size === 200 - 2, "exactly the two leaked rows go")
    (out.keySet -- Set(trainIds(0), trainIds(1))).foreach(k =>
      assert(out(k) == split(k), "surviving assignments unchanged"))
  }

  test("leakFreeSplit end-to-end on near-dup documents: no train doc has an eval near-dup") {
    val docsAll = docs.filter(col("doc_id") < 300)
    val weights = Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125)
    val pairs = graft.operators.Dedup.nearJaccardPrefix(
      docsAll, "doc_id", "text", minJaccard = 0.9).select("i", "j")
    val out = Sampling.leakFreeSplit(docsAll, "doc_id", weights, pairs).cache()
    val assign = out.select(col("doc_id"), col("split"))
    val p = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val s = assign.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    p.foreach { case (i, j) =>
      val leak = (s.get(i), s.get(j)) match {
        case (Some("train"), Some(x)) if x != "train" => true
        case (Some(x), Some("train")) if x != "train" => true
        case _ => false
      }
      assert(!leak, s"surviving pair ($i,$j) still straddles train/eval")
    }
    out.unpersist()
  }

  test("leakFreeSplit: internal working names cannot collide with caller columns") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, "x")).toDF("id", "_lfs0")
    val pairs = Seq((1L, 2L)).toDF("_lfs1", "id")
    val out = Sampling.leakFreeSplit(df, "id",
      Seq("train" -> 0.75, "valid" -> 0.25), pairs)
    assert(out.count() > 0)
  }

  // ---- rakeWeights (IPF) ----

  test("rakeWeights: the closing column step satisfies its marginal " +
      "exactly; row marginals converge with iterations") {
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val rows = Seq.tabulate(600)(_ =>
      (s"a${rng.nextInt(4)}", s"b${rng.nextInt(3)}"))
    val df = rows.toDF("a", "b")
    def marginals(iters: Int) = {
      val w = Sampling.rakeWeights(df, "a", "b", iters)
      val nt = rows.size.toDouble
      val colDev = w.groupBy("b").agg(sum(col("n") * col("weight")).as("m"))
        .collect().map(r => math.abs(r.getDouble(1) - nt / 3)).max
      val rowDev = w.groupBy("a").agg(sum(col("n") * col("weight")).as("m"))
        .collect().map(r => math.abs(r.getDouble(1) - nt / 4)).max
      (rowDev, colDev)
    }
    val (r1, c1) = marginals(1)
    val (r3, c3) = marginals(3)
    assert(c1 < 1e-6 && c3 < 1e-6,
      s"column step must close its marginal: $c1, $c3")
    assert(r3 <= r1 + 1e-9, s"row deviation must not grow: $r3 vs $r1")
    assert(r3 < 1.0, s"row marginal must be near-closed by iter 3: $r3")
  }

  test("rakeWeights: balanced table rakes to uniform weights of 1") {
    import spark.implicits._
    val rows = for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 5 }
      yield (a, b)
    val w = Sampling.rakeWeights(rows.toDF("a", "b"), "a", "b", iters = 2)
      .collect().map(_.getDouble(3))
    assert(w.forall(_ == 1.0), w.toSeq.toString)
  }

  test("neymanAllocation: the noisy stratum earns the budget — " +
      "hand shares 0.175/0.825; a zero-variance stratum allocates 0 " +
      "loudly") {
    import spark.implicits._
    val rows = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 10.0), ("B", 10.0), ("B", 10.0),
      ("C", 0.0), ("C", 10.0))
    val out = Sampling.neymanAllocation(rows.toDF("g", "v"), "g", "v",
        budget = 100)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("A").getDouble(2) == 1.0
      && out("A").getDouble(3) == 0.175007
      && out("A").getLong(4) == 18L, out("A").toString)
    assert(out("C").getDouble(2) == 7.071068
      && out("C").getLong(4) == 82L, out("C").toString)
    assert(out("B").getDouble(2) == 0.0 && out("B").getLong(4) == 0L,
      out("B").toString)
  }

  test("designEffect: unequal cell weights cost effective sample " +
      "(hand deff 1.25, n_eff 3.2); uniform weights are exactly 1") {
    import spark.implicits._
    val cells = Seq((2L, 1.0), (2L, 3.0)).toDF("n", "weight")
    val r = Sampling.designEffect(cells, "n", "weight").collect().head
    assert(r.getLong(0) == 4L && r.getDouble(1) == 1.25
      && r.getDouble(2) == 3.2, r.toString)
    val flat = Seq((5L, 2.0), (3L, 2.0)).toDF("n", "weight")
    assert(Sampling.designEffect(flat, "n", "weight").collect().head
      .getDouble(1) == 1.0)
  }
}
