package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-comparison and changepoint statistics for corpus /
  * stream monitoring: two-sample Kolmogorov–Smirnov shift detection,
  * two-proportion z-tests with Wilson intervals, Theil's uncertainty
  * coefficient, exact-integer CUSUM changepoint scores, and day-of-week
  * seasonality indices.
  *
  * Determinism discipline (SURVEY.md §5.4): every statistic here is
  * exact integer/rational arithmetic to ONE final rounded division
  * wherever the math allows (KS, CUSUM, seasonality, Markov-style
  * ratios); where a sqrt is required (z-test, Wilson) the expression
  * tree is spelled identically on both engines — IEEE-754 sqrt is
  * correctly rounded, so identical inputs give identical doubles.
  */
object Stats {

  /** Integer floor-division (toward negative infinity) — Spark's
    * integral `/`+cast and `div` truncate toward zero, which
    * mis-buckets negatives; both engines replay this exact form.
    */
  private[operators] def fdiv(a: Column, b: Column): Column =
    (a - pmod(a, b)) / b

  /** Column `c` as a double (the reader of every decimal sum). */
  private def d(c: String): Column = col(c).cast("double")

  /** The type of every 12-dp frozen, order-free term sum. */
  private val dec12 = "decimal(38,12)"

  /** The type of every exact integer count or scaled-integer sum. */
  private val dec = "decimal(38,0)"

  /** Appends `med`, the exact LOWER median of `v` within each `_g`:
    * the value at rank ⌊(n+1)/2⌋ of the group's `v` order (`rn`
    * holds the rank). The group count `n` is added unless the frame
    * carries it already. */
  private def lowerMedian(df: DataFrame, v: String, med: String,
      n: String = "_n", rn: String = "_rn"): DataFrame = {
    val wg = Window.partitionBy("_g")
    val ranked = df.withColumn(rn, row_number().over(wg.orderBy(v)))
    val counted =
      if (df.columns.contains(n)) ranked
      else ranked.withColumn(n, count(lit(1)).over(wg))
    counted.withColumn(med, max(when(
      col(rn) === floor((col(n) + 1) / 2).cast("bigint"), col(v))).over(wg))
  }

  /** [[lowerMedian]] `_med` of `_x` per `_g`, the absolute deviation
    * `_ad` and its lower median `_mad` (rank `_rna`). */
  private def medianMad(pts: DataFrame): DataFrame =
    lowerMedian(lowerMedian(pts, "_x", "_med")
      .withColumn("_ad", abs(col("_x") - col("_med"))),
      "_ad", "_mad", rn = "_rna")

  /** Per-group two-sample Kolmogorov–Smirnov statistic of `valueCol`
    * against the complement (all other groups pooled) — the
    * distribution-shift detector for "did this source/slice drift away
    * from the rest of the corpus" over a numeric feature.
    *
    * Exactness: values are 6-dp-quantized; with group ECDF F_g = c_g /
    * n_g and complement ECDF F_r = (C − c_g) / (N − n_g) evaluated at
    * every distinct value, D_g = max |F_g − F_r| =
    * max |c_g·(N−n_g) − (C−c_g)·n_g| / (n_g·(N−n_g)) — the numerator
    * is a pure integer per grid point, so the max is an integer
    * comparison and the ONLY float work is one final rounded division.
    *
    * Scale shape: one (group,value)-keyed count shuffle; the grid is
    * |distinct values| × |groups| (each group must be evaluated at
    * every global jump point), built by broadcasting the group-sized
    * n_g table onto the distinct-value table. Per-group cumulative
    * counts are one window sorted by value; the global cumulative is
    * recovered IN-GRID as sum(c_g) over a value-partitioned window —
    * no single-partition global sort anywhere. At 100 TB pre-bin or
    * coarsen the quantization so |distinct values| stays bounded; the
    * grid is the only term that grows past vocabulary size.
    *
    * Output: (group, n_group, n_rest, ks) — ks NULL when the group is
    * the whole input (no complement to compare against).
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    ksOnPoints(df.select(col(groupCol).as("_g"),
      round(col(valueCol), 6).as("_q")), groupCol)

  /** The 100 TB dual of [[ksTest]]: evaluate the ECDFs on `bins`
    * equi-width bins of the GLOBAL [min, max] (one-row broadcast
    * stats, the PSI freeze) instead of every distinct value, so the
    * grid is bins × groups regardless of value cardinality. Binning
    * merges jump points, so D_binned ≤ D_exact always (the sup runs
    * over a coarser set) and the gap is bounded by the largest mass a
    * single bin hides — both pinned in StatsSpec. Same output
    * contract as [[ksTest]].
    */
  def ksTestBinned(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val stats = df.agg(min(col(valueCol)).as("_lo"),
      max(col(valueCol)).as("_hi"))
    // Outer isNotNull guard: least() SKIPS nulls, so without it a NULL
    // value would bin as floor(NULL) → least(NULL, bins-1) = bins-1 and
    // silently count as a top-bin observation. The ksTest contract says
    // a NULL value is a real level of its own — keep it NULL here and
    // let ksOnPoints's null-safe grid carry it.
    val binned = df.crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        when(col(valueCol).isNotNull,
          when(col("_hi") > col("_lo"),
            least(floor((col(valueCol) - col("_lo")) * bins
              / (col("_hi") - col("_lo"))), lit(bins - 1)))
            .otherwise(lit(0))).cast("long").as("_q"))
    ksOnPoints(binned, groupCol)
  }

  /** Shared KS machinery over a prepared (_g, _q) point frame. */
  /** Fold a per-group size guard into the LAZY plan: every row joins
    * its group's count and `wrapCol` is rewrapped so that evaluating
    * ANY row of an oversized group raises with `msg`. Unlike an eager
    * `.collect()` pre-check this adds no extra execution of the
    * upstream plan — the guard rides the operator's own single pass
    * (the weightedSamplePortable raise_error precedent). The wrapped
    * column must be one every downstream row evaluates.
    */
  private def guardGroupSize(df: DataFrame, wrapCol: String,
      msg: String, maxPoints: Int): DataFrame = {
    val counts = df.groupBy(col("_g").as("_gguard"))
      .agg(count(lit(1)).as("_np"))
    val t = df.schema(wrapCol).dataType
    df.join(counts, col("_g") <=> col("_gguard"))
      .withColumn(wrapCol,
        when(col("_np") > maxPoints, raise_error(concat(
          lit(msg + " (group="), col("_g").cast("string"), lit(")"))).cast(t))
          .otherwise(col(wrapCol)))
      .drop("_gguard", "_np")
  }

  private def ksOnPoints(points: DataFrame, groupCol: String): DataFrame = {
    val cells = points
      .groupBy(col("_g"), col("_q"))
      .agg(count(lit(1)).as("_c"))
    val groups = cells.groupBy(col("_g").as("_gm")).agg(sum("_c").as("_ng"))
    val values = cells.select(col("_q").as("_vq")).distinct()
    val n = cells.agg(sum("_c").as("_n"))

    // null-safe (<=>) everywhere: a NULL group or NULL value is a real
    // level and must keep its counts (the mutualInfo contract)
    val grid = values
      .crossJoin(broadcast(groups))
      .join(cells, col("_gm") <=> col("_g") && col("_vq") <=> col("_q"),
        "left")
      .select(col("_gm").as("_g"), col("_vq").as("_q"), col("_ng"),
        coalesce(col("_c"), lit(0L)).as("_c"))

    val perGroup = Window.partitionBy("_g").orderBy("_q")
    val atValue = Window.partitionBy("_q")
    val withCum = grid
      .withColumn("_cum", sum("_c").over(perGroup))
      // global cumulative at _q = Σ over groups of the per-group
      // cumulative — every group has a grid row at every _q, so the
      // value-partitioned sum recovers C(_q) without a global sort
      .withColumn("_call", sum("_cum").over(atValue))
      .crossJoin(broadcast(n))

    withCum
      .withColumn("_num",
        abs(col("_cum") * (col("_n") - col("_ng"))
          - (col("_call") - col("_cum")) * col("_ng")))
      .groupBy(col("_g").as(groupCol))
      .agg(max("_ng").as("n_group"),
        (max("_n") - max("_ng")).as("n_rest"),
        max("_num").as("_maxnum"))
      .withColumn("ks",
        when(col("n_rest") > 0,
          round(col("_maxnum") / (col("n_group") * col("n_rest"))
            .cast("double"), 6)).cast("double"))
      .select(groupCol, "n_group", "n_rest", "ks")
  }

  /** Per-group Mann–Whitney U rank-sum test of `valueCol` against the
    * pooled complement — the nonparametric "is this slice's value
    * distribution shifted" test that reacts to location where KS
    * reacts to any shape difference; the robust sibling of a t-test
    * with no normality assumption.
    *
    * Exactness: values 6-dp-quantized; ranks carry ties as average
    * ranks, kept integer by DOUBLING — for value v with E(v) tied rows
    * and C(v) rows below, the doubled average rank is D(v) = 2·C(v) +
    * E(v) + 1 (an integer), so the doubled rank sum R1d = Σ c_g(v)·D(v)
    * and 2·U1 = 2·n_g·n_r + n_g·(n_g+1) − R1d are pure integers. The
    * tie-corrected normal approximation
    * z = (U1 − n_g·n_r/2) / sqrt(n_g·n_r·((N+1) − Σ(E³−E)/(N·(N−1)))/12)
    * is the only float work, spelled as the identical expression tree
    * on both engines (IEEE /, sqrt), rounded at 6 dp; z is NULL when
    * the complement is empty or the variance is 0 (all values tied).
    * Σ(E³−E) accumulates in decimal(38,0) — at corpus scale a popular
    * value's E³ overflows a long.
    *
    * Scale shape: one (group, value) cell shuffle; the below-count
    * prefix C(v) is ONE ordered window over the VOCABULARY-sized
    * per-value table (bounded after 6-dp quantization — the zipf/
    * heaps boundary-table cost class, never the data); per-group
    * sums are a group-keyed aggregate. On a CONTINUOUS value column
    * the 6-dp grid approaches corpus size and the prefix window
    * serializes — that regime belongs to [[mannWhitneyBinned]], whose
    * grid is `bins`-bounded by construction. Output: (group, n_group,
    * n_rest, u, z) — u exact (.0/.5 halves are exact doubles).
    */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    mwOnPoints(df.select(col(groupCol).as("_g"),
      round(col(valueCol), 6).as("_q")), groupCol)

  /** The 100 TB dual of [[mannWhitney]] (the [[ksTestBinned]]
    * precedent): values histogram onto `bins` equi-width cells over
    * the frozen global [min, max] BEFORE the rank machinery, so the
    * per-value grid the prefix window sorts is bins-bounded however
    * high-cardinality the raw values are. Binning coarsens ties only:
    * rows in one cell become exact ties at the cell id, which the
    * tie-corrected z already models — z converges to the exact test
    * from below as bins grow (equal when bins resolve every distinct
    * value; see the spec's convergence pin). Same NULL contract as
    * [[ksTestBinned]]: a NULL value stays NULL (its own level), never
    * silently lands in the top cell.
    */
  def mannWhitneyBinned(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val stats = df.agg(min(col(valueCol)).as("_lo"),
      max(col(valueCol)).as("_hi"))
    val binned = df.crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        when(col(valueCol).isNotNull,
          when(col("_hi") > col("_lo"),
            least(floor((col(valueCol) - col("_lo")) * bins
              / (col("_hi") - col("_lo"))), lit(bins - 1)))
            .otherwise(lit(0))).cast("long").as("_q"))
    mwOnPoints(binned, groupCol)
  }

  /** Shared Mann–Whitney machinery over a prepared (_g, _q) point
    * frame — the [[ksOnPoints]] pattern. */
  private def mwOnPoints(points: DataFrame, groupCol: String): DataFrame = {
    val cells = points
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
    // per-value total E and exclusive-cumulative C over the value
    // order, computed once and joined back onto the cells
    val totals = cells.groupBy(col("_q").as("_tq")).agg(sum("_c").as("_e"))
      .withColumn("_cbelow", coalesce(
        sum("_e").over(Window.orderBy(col("_tq"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val nn = totals.agg(sum("_e").as("_n"),
      sum((col("_e").cast(dec) * col("_e") * col("_e") - col("_e"))
        .cast(dec)).as("_ties"))
    val perG = cells
      .join(totals, cells("_q") <=> totals("_tq"))
      .groupBy(col("_g").as(groupCol))
      .agg(sum("_c").as("n_group"),
        sum(col("_c") * (lit(2L) * col("_cbelow") + col("_e") + 1))
          .cast(dec).as("_r1d"))
    perG.crossJoin(broadcast(nn))
      .withColumn("n_rest", (col("_n") - col("n_group")).cast("bigint"))
      .withColumn("_2u",
        lit(2L).cast(dec) * col("n_group") * col("n_rest")
          + col("n_group").cast(dec) * (col("n_group") + 1) - col("_r1d"))
      .withColumn("u", (col("_2u").cast("double") / 2.0))
      .withColumn("_var",
        col("n_group").cast("double") * col("n_rest")
          * ((col("_n") + 1.0) - col("_ties").cast("double")
              / (col("_n").cast("double") * (col("_n") - 1.0)))
          / 12.0)
      .withColumn("z",
        when(col("n_rest") > 0 && col("_var") > 0.0,
          round((col("u") - col("n_group").cast("double")
              * col("n_rest") / 2.0) / sqrt(col("_var")), 6))
          .cast("double"))
      .select(groupCol, "n_group", "n_rest", "u", "z")
  }

  /** Kruskal–Wallis H test across ALL groups at once — the k-group
    * generalization of [[mannWhitney]] (the nonparametric one-way
    * ANOVA): "do these k sources/slices share a location" in one
    * number, where pairwise MW needs k² runs.
    *
    * Exactness: the SAME doubled-rank machinery (D(v) = 2C+E+1, all
    * integers); doubled rank sums R2_g and their squares live in
    * decimal(38,0) (R2² ~ 4N⁴ overflows a long at corpus scale), the
    * Σ R2_g²/n_g term is one double division per GROUP summed over
    * the group-bounded table, and
    * H = (3/(N(N+1)))·Σ R2_g²/n_g − 3(N+1), tie-corrected by
    * 1 − Σ(E³−E)/(N³−N), is one identically-spelled float tree
    * rounded at 6 dp. h NULL when every value ties (correction 0) or
    * fewer than 2 groups.
    *
    * Scale shape: identical to [[mannWhitney]] (one cell shuffle, one
    * vocabulary-bounded prefix window, group-keyed sums); the binned
    * dual [[kruskalWallisBinned]] bounds the grid for continuous
    * values. Output: ONE row (n, k, dof, h).
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    kwOnPoints(df.select(col(groupCol).as("_g"),
      round(col(valueCol), 6).as("_q")))

  /** The bins-bounded dual of [[kruskalWallis]] — the
    * [[mannWhitneyBinned]] binning (frozen global [min, max], NULL
    * stays its own level) feeding the same H machinery. */
  def kruskalWallisBinned(df: DataFrame, groupCol: String,
      valueCol: String, bins: Int): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val stats = df.agg(min(col(valueCol)).as("_lo"),
      max(col(valueCol)).as("_hi"))
    val binned = df.crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        when(col(valueCol).isNotNull,
          when(col("_hi") > col("_lo"),
            least(floor((col(valueCol) - col("_lo")) * bins
              / (col("_hi") - col("_lo"))), lit(bins - 1)))
            .otherwise(lit(0))).cast("long").as("_q"))
    kwOnPoints(binned)
  }

  private def kwOnPoints(points: DataFrame): DataFrame = {
    val cells = points
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
    val totals = cells.groupBy(col("_q").as("_tq")).agg(sum("_c").as("_e"))
      .withColumn("_cbelow", coalesce(
        sum("_e").over(Window.orderBy(col("_tq"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val nn = totals.agg(sum("_e").as("_n"),
      sum((col("_e").cast(dec) * col("_e") * col("_e") - col("_e"))
        .cast(dec)).as("_ties"))
    val perG = cells
      .join(totals, cells("_q") <=> totals("_tq"))
      .groupBy(col("_g"))
      .agg(sum("_c").as("_ng"),
        // fold in decimal: c·rank products are ~n² per cell and the
        // Long SUM is ~n³ — silently overflows past ~2e6 rows
        sum((col("_c").cast(dec)
          * (lit(2L) * col("_cbelow") + col("_e") + 1)).cast(dec))
          .as("_r2"))
    perG
      .select(col("_ng"),
        (col("_r2") * col("_r2")).cast(dec).as("_r2sq"))
      .crossJoin(broadcast(nn))
      // each group's r2²/n_g term is frozen at 12 dp and summed in
      // decimal(38,12) — exact, order-free addition (the chiSquared
      // discipline); a float SUM here is accumulation-order-dependent
      // and at large N its ~1e-15·N error can cross the 6-dp rounding
      // boundary of H
      .agg(max(col("_n")).as("_nmax"), max(col("_ties")).as("_tmax"),
        count(lit(1)).as("k"),
        sum(round(col("_r2sq").cast("double") / col("_ng"), 12)
          .cast("decimal(38,12)")).as("_sumterm"))
      .select(col("_nmax").cast("bigint").as("n"),
        col("k").cast("bigint").as("k"),
        (col("k") - 1).cast("bigint").as("dof"),
        col("_nmax").cast("double").as("_nd"),
        col("_tmax").cast("double").as("_td"),
        col("_sumterm").cast("double").as("_sumterm"))
      .withColumn("_h",
        lit(3.0) / (col("_nd") * (col("_nd") + 1.0)) * col("_sumterm")
          - lit(3.0) * (col("_nd") + 1.0))
      .withColumn("_corr",
        lit(1.0) - col("_td")
          / (col("_nd") * col("_nd") * col("_nd") - col("_nd")))
      .withColumn("h",
        when(col("k") >= 2 && col("_corr") > 0.0,
          round(col("_h") / col("_corr"), 6)).cast("double"))
      .select("n", "k", "dof", "h")
  }

  /** One-sided CUSUM drift DETECTOR per group (Page 1954) — the
    * ONLINE complement of [[cusum]]'s retrospective max-deviation:
    * S_t = max(0, S_{t−1} + (x_t − target − slack)) accumulates only
    * sustained upward drift (slack absorbs in-control noise) and
    * alarms when S_t > threshold. The same recurrence a streaming
    * monitor runs — [[graft.operators.EventWindows.cusumStream]] is
    * the bit-equal flatMapGroupsWithState twin.
    *
    * Exactness: steps quantize to 1e-6-scaled longs; the recurrence
    * unrolls to the PREFIX-MIN identity S_t = P_t − min(0, min_{j≤t}
    * P_j) with P the running step sum — two integer windows, no
    * iteration; the alarm compare is integer vs integer.
    *
    * Scale shape: one group-keyed ordered window pass. Output: one
    * row per input row — (group, order, s, alarm); consumers keep
    * the alarm rows or aggregate (the judged query reports the full
    * trace head + per-group summary shape via its own projection).
    */
  def cusumDetect(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, target: Double, slack: Double,
      threshold: Double): DataFrame = {
    require(threshold > 0, s"cusumDetect: threshold must be > 0")
    val step = round(col(valueCol) * 1e6).cast("long") -
      lit(math.round(target * 1e6)) - lit(math.round(slack * 1e6))
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        step.as("_q"))
    val wOrd = Window.partitionBy("_g").orderBy("_o")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thrScaled = math.round(threshold * 1e6)
    pts
      .withColumn("_p", sum("_q").over(wOrd))
      .withColumn("_m", least(lit(0L), min("_p").over(wOrd)))
      .withColumn("_s", col("_p") - col("_m"))
      .select(col("_g").as(groupCol), col("_o").as(orderCol),
        round(col("_s") / 1e6, 6).cast("double").as("s"),
        (col("_s") > thrScaled).as("alarm"))
  }

  /** Rolling Pearson correlation of two series per group over a
    * `window`-row trailing frame — "are these two signals still
    * moving together LATELY" (daily volume vs daily count, price vs
    * flow), where the global correlation hides regime changes.
    *
    * Exactness: both series quantize to 1e-6-scaled longs; the five
    * moment sums over the frame are decimal(38,0) integers, and
    * r = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)·(n·Syy − Sy²)) is ONE
    * identically-spelled float tree rounded at 6 dp (scale cancels —
    * the 1e-6 factors divide out of r exactly). NULL r while the
    * frame is shorter than `window` (warm-up) or when either side is
    * constant in the frame.
    *
    * Scale shape: one group-keyed ordered window pass, frame-bounded
    * state. Output: (group, order, n, r).
    */
  def rollingCorr(df: DataFrame, groupCol: String, orderCol: String,
      xCol: String, yCol: String, window: Int): DataFrame = {
    require(window >= 2, s"rollingCorr: window must be >= 2")
    val pts = df.select(col(groupCol).as("_g"), col(orderCol).as("_o"),
      round(col(xCol) * 1e6).cast("long").as("_x"),
      round(col(yCol) * 1e6).cast("long").as("_y"))
    val w = Window.partitionBy("_g").orderBy("_o")
      .rowsBetween(-(window - 1), Window.currentRow)
    val n = count(lit(1)).over(w)
    val sx = sum(col("_x").cast(dec)).over(w)
    val sy = sum(col("_y").cast(dec)).over(w)
    val sxx = sum((col("_x").cast(dec) * col("_x")).cast(dec)).over(w)
    val syy = sum((col("_y").cast(dec) * col("_y")).cast(dec)).over(w)
    val sxy = sum((col("_x").cast(dec) * col("_y")).cast(dec)).over(w)
    pts
      .withColumn("_n", n)
      .withColumn("_vx", (n.cast(dec) * sxx - (sx * sx).cast(dec)).cast("double"))
      .withColumn("_vy", (n.cast(dec) * syy - (sy * sy).cast(dec)).cast("double"))
      .withColumn("_cv", (n.cast(dec) * sxy - (sx * sy).cast(dec)).cast("double"))
      .select(col("_g").as(groupCol), col("_o").as(orderCol),
        col("_n").cast("bigint").as("n"),
        when(col("_n") >= window && col("_vx") > 0.0 && col("_vy") > 0.0,
          round(col("_cv") / sqrt(col("_vx") * col("_vy")), 6))
          .cast("double").as("r"))
  }

  /** Rolling OLS slope over a trailing ROWS frame per group — the
    * windowed twin of the global trend fit: "what's the local trend
    * RIGHT NOW", the drift needle a dashboard actually plots (the
    * global regr_slope averages January into June; [[rollingCorr]]
    * answers co-movement, this answers direction+rate).
    *
    * Exactness: the [[rollingCorr]] machinery verbatim — both columns
    * quantize to 1e6-scaled longs, the five windowed moment sums are
    * exact decimal(38,0) over ONE shared (group, order) frame, and
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is ONE rounded division of
    * exact integers (the 1e6 scales cancel). Warm-up rows (frame not
    * yet full) and zero-variance frames report NULL.
    *
    * Scale shape: one key shuffle + in-partition sort; O(1) running
    * state per row. Output: (group, order, n, slope).
    */
  def rollingSlope(df: DataFrame, groupCol: String, orderCol: String,
      xCol: String, yCol: String, window: Int): DataFrame = {
    require(window >= 2, s"rollingSlope: window must be >= 2")
    val pts = df.select(col(groupCol).as("_g"), col(orderCol).as("_o"),
      round(col(xCol) * 1e6).cast("long").as("_x"),
      round(col(yCol) * 1e6).cast("long").as("_y"))
    val w = Window.partitionBy("_g").orderBy("_o")
      .rowsBetween(-(window - 1), Window.currentRow)
    val n = count(lit(1)).over(w)
    val sx = sum(col("_x").cast(dec)).over(w)
    val sy = sum(col("_y").cast(dec)).over(w)
    val sxx = sum((col("_x").cast(dec) * col("_x")).cast(dec)).over(w)
    val sxy = sum((col("_x").cast(dec) * col("_y")).cast(dec)).over(w)
    pts
      .withColumn("_n", n)
      .withColumn("_vx",
        (n.cast(dec) * sxx - (sx * sx).cast(dec)).cast("double"))
      .withColumn("_cv",
        (n.cast(dec) * sxy - (sx * sy).cast(dec)).cast("double"))
      .select(col("_g").as(groupCol), col("_o").as(orderCol),
        col("_n").cast("bigint").as("n"),
        when(col("_n") >= window && col("_vx") > 0.0,
          round(col("_cv") / col("_vx"), 6))
          .cast("double").as("slope"))
  }

  /** Pettitt changepoint test per group — the rank-based (Mann-
    * Whitney-flavored) "WHEN did this series shift" detector, the
    * location complement of CUSUM's mean-shift score: for each split
    * point t, U_t = Σ_{i≤t, j>t} sgn(x_j − x_i); the change point is
    * the split maximizing |U_t|. Works on any ordered series (here:
    * one row per (group, order) — pre-aggregate to day cells for a
    * calendar-bounded series).
    *
    * Exactness: with average ranks (ties contribute 0 to sgn sums)
    * the classic identity U_t = 2·R_t − t(N+1) holds, and with
    * DOUBLED ranks (the mannWhitney D = 2C+E+1 trick, C and E within
    * the group) U_t = t(N+1) − R2_t is a PURE INTEGER — no float
    * anywhere, the argmax is the (|U| DESC, t ASC) total order.
    * Verified against the brute-force pairwise sgn sum in the spec,
    * ties included.
    *
    * Scale shape: one (group, value) cell aggregate for the doubled
    * ranks, one group-keyed order window for the prefix sums, one
    * argmax window — all group-bounded (the series should be
    * cell-aggregated first; a calendar-day series is ≤ days rows per
    * group). Output: (group, n, u_max [signed U at the split],
    * k_stat = |u_max|, at_order) — NULL stat for groups with < 2
    * points.
    */
  def pettitt(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val pts = df.select(col(groupCol).as("_g"), col(orderCol).as("_o"),
      round(col(valueCol), 6).as("_v"))
    // doubled within-group ranks from (group, value) cells
    val cells = pts.groupBy("_g", "_v").agg(count(lit(1)).as("_e"))
    val wBelow = Window.partitionBy("_g").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("_cb", coalesce(sum("_e").over(wBelow), lit(0L)))
      .select(col("_g").as("_gr"), col("_v").as("_vr"),
        (lit(2L) * col("_cb") + col("_e") + 1).as("_d"))
    val wOrd = Window.partitionBy("_g").orderBy("_o")
    val wGrp = Window.partitionBy("_g")
    val withU = pts
      .join(ranked, col("_g") <=> col("_gr") && col("_v") <=> col("_vr"))
      .withColumn("_t", row_number().over(wOrd))
      .withColumn("_r2", sum("_d").over(wOrd.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", count(lit(1)).over(wGrp))
      // U_t = t(N+1) − R2_t; only splits 1..N−1 are valid
      .withColumn("_u", col("_t") * (col("_n") + 1) - col("_r2"))
      .filter(col("_t") < col("_n"))
    val pick = Window.partitionBy("_g")
      .orderBy(abs(col("_u")).desc, col("_t").asc)
    val best = withU.withColumn("_rk", row_number().over(pick))
      .filter(col("_rk") === 1)
      .select(col("_g"), col("_n"), col("_u"), col("_o"))
    // groups with a single point have no valid split: emit NULL stat
    val singles = pts.groupBy(col("_g")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") === 1)
      .select(col("_g"), col("_n"), lit(null).cast("long").as("_u"),
        lit(null).cast(pts.schema("_o").dataType).as("_o"))
    best.unionByName(singles)
      .select(col("_g").as(groupCol), col("_n").cast("bigint").as("n"),
        col("_u").cast("bigint").as("u_max"),
        abs(col("_u")).cast("bigint").as("k_stat"),
        col("_o").as("at_order"))
  }

  /** Theil–Sen robust slope per group — the median of all pairwise
    * slopes: one wild day can drag OLS anywhere, but moves only one
    * of n(n−1)/2 pairwise slopes here (29% breakdown). The natural
    * robust-trend companion to [[cusum]]/[[pettitt]] on the same
    * day-cell series.
    *
    * Exactness: slopes (y_j − y_i)/(x_j − x_i) over x-distinct pairs
    * are one double division each, rounded at 6 dp; the reported
    * slope is the exact LOWER median of the rounded-slope multiset
    * (the robustOutliers rank convention), the intercept the lower
    * median of y_i − slope·x_i (rounded) — deterministic under ties.
    *
    * Scale shape: an explicit within-group pair join — O(points²)
    * per group BY DESIGN, guarded by `maxPoints` (an in-plan
    * raise_error riding the same single pass — no eager pre-scan):
    * Theil–Sen is for CELL-AGGREGATED series (a calendar of daily
    * points, never raw rows). Output: (group, n, n_pairs, slope,
    * intercept) — NULL slope when no x-distinct pair exists.
    */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, maxPoints: Int = 1000): DataFrame = {
    require(maxPoints >= 2, s"theilSen: maxPoints must be >= 2")
    val raw = df.select(col(groupCol).as("_g"),
      col(xCol).cast("double").as("_x"), col(yCol).cast("double").as("_y"))
    // guard folded into the LAZY plan (no eager pre-scan executing the
    // upstream twice): every point carries its group count and x is
    // wrapped so any evaluated row of an oversized group raises
    val pts = Stats.guardGroupSize(raw, "_x",
      s"theilSen: group exceeds $maxPoints points — pre-aggregate the " +
        "series to cells (daily/hourly) before the pairwise stage",
      maxPoints)
    val a = pts.select(col("_g"), col("_x").as("_x1"), col("_y").as("_y1"))
    val b = pts.select(col("_g").as("_g2"), col("_x").as("_x2"),
      col("_y").as("_y2"))
    val slopes = a.join(b, col("_g") <=> col("_g2") && col("_x1") < col("_x2"))
      .select(col("_g"),
        round((col("_y2") - col("_y1")) / (col("_x2") - col("_x1")), 6)
          .as("_s"))
    val slopeMed = lowerMedian(slopes, "_s", "_med", n = "_nq")
      .groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("n_pairs"), max("_med").as("slope"))
    val withSlope = pts.join(slopeMed, col("_g") <=> col("_gm"), "left")
    val interMed = lowerMedian(withSlope
        .filter(col("slope").isNotNull)
        .withColumn("_i", round(col("_y") - col("slope") * col("_x"), 6)),
        "_i", "_imed", n = "_nq")
      .groupBy(col("_g").as("_gi"))
      .agg(max("_imed").as("intercept"))
    pts.groupBy("_g").agg(count(lit(1)).as("n"))
      .join(slopeMed, col("_g") <=> col("_gm"), "left")
      .join(interMed, col("_g") <=> col("_gi"), "left")
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        coalesce(col("n_pairs"), lit(0L)).cast("bigint").as("n_pairs"),
        col("slope").cast("double"),
        col("intercept").cast("double"))
  }

  /** Passing–Bablok method-comparison regression per group — the
    * RANK-based calibration fit beside [[demingRegression]]'s moment
    * one: no error-variance ratio to assume, outlier-proof, and the
    * estimate is the K-SHIFTED median of pairwise slopes — the shift
    * (K = #slopes < −1, exact-(−1) slopes excluded) is what makes it
    * an unbiased METHOD-COMPARISON estimator where plain [[theilSen]]
    * is a trend estimator; intercept = median(y − b·x).
    *
    * Determinism: the theilSen machinery verbatim (maxPoints cells
    * guard, 6-dp frozen slopes, lower-median convention — the shifted
    * rank is ⌊(N+1)/2⌋ + K, documented); equal-x pairs drop with the
    * x₁ < x₂ join, slopes exactly −1 drop by the PB rule. A shifted
    * rank beyond N (pathological anti-correlation) reports NULL
    * loudly. Output: (group, n, n_pairs, k_neg, slope, intercept).
    */
  def passingBablok(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, maxPoints: Int = 1000): DataFrame = {
    require(maxPoints >= 2, s"passingBablok: maxPoints must be >= 2")
    val raw = df.select(col(groupCol).as("_g"),
      col(xCol).cast("double").as("_x"), col(yCol).cast("double").as("_y"))
    val pts = Stats.guardGroupSize(raw, "_x",
      s"passingBablok: group exceeds $maxPoints points — pre-aggregate " +
        "the series to cells before the pairwise stage",
      maxPoints)
    val a = pts.select(col("_g"), col("_x").as("_x1"), col("_y").as("_y1"))
    val b = pts.select(col("_g").as("_g2"), col("_x").as("_x2"),
      col("_y").as("_y2"))
    val slopes = a.join(b, col("_g") <=> col("_g2") && col("_x1") < col("_x2"))
      .select(col("_g"),
        // the x1 < x2 guard REPEATS inside the expression: Catalyst
        // pushes the -1 filter into the join, where predicate order
        // is unspecified and ANSI division would see x1 = x2 pairs
        when(col("_x1") < col("_x2"),
          round((col("_y2") - col("_y1")) / (col("_x2") - col("_x1")), 6))
          .as("_s"))
      .filter(col("_s") =!= -1.0)
    val wS = Window.partitionBy("_g").orderBy("_s")
    val wG = Window.partitionBy("_g")
    val shiftRank = (floor((col("_nq") + 1) / 2) + col("_k")).cast("bigint")
    val slopeMed = slopes
      .withColumn("_rn", row_number().over(wS))
      .withColumn("_nq", count(lit(1)).over(wG))
      .withColumn("_k",
        sum(when(col("_s") < -1.0, 1L).otherwise(0L)).over(wG))
      .withColumn("_med",
        max(when(col("_rn") === shiftRank, col("_s"))).over(wG))
      .groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("n_pairs"), max("_k").as("k_neg"),
        max("_med").as("slope"))
    val withSlope = pts.join(slopeMed, col("_g") <=> col("_gm"), "left")
    val interMed = lowerMedian(withSlope
        .filter(col("slope").isNotNull)
        .withColumn("_i", round(col("_y") - col("slope") * col("_x"), 6)),
        "_i", "_imed", n = "_nq")
      .groupBy(col("_g").as("_gi"))
      .agg(max("_imed").as("intercept"))
    pts.groupBy("_g").agg(count(lit(1)).as("n"))
      .join(slopeMed, col("_g") <=> col("_gm"), "left")
      .join(interMed, col("_g") <=> col("_gi"), "left")
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        coalesce(col("n_pairs"), lit(0L)).cast("bigint").as("n_pairs"),
        coalesce(col("k_neg"), lit(0L)).cast("bigint").as("k_neg"),
        col("slope").cast("double"),
        col("intercept").cast("double"))
  }

  /** Kendall's tau-b rank correlation per group — the pair-concordance
    * view of monotonic association (Spearman asks "how linear are the
    * ranks", tau asks "what fraction of pairs agree in direction"),
    * tie-corrected: tau_b = (C − D) / sqrt((n0 − n1)(n0 − n2)).
    *
    * Exactness: values 6-dp-scaled longs; concordant/discordant are
    * integer sign comparisons over the explicit pair join, tie terms
    * n1/n2 integer sums over the (group, value) cells, n0 = n(n−1)/2;
    * the single float tree divides exact integers. O(points²) per
    * group BY DESIGN with the [[theilSen]] `maxPoints` cells-only
    * guard. Output: (group, n, n_pairs, concordant, discordant,
    * tau_b) — NULL tau when either side is constant.
    */
  /** Shared concordant/discordant/tie core of [[kendallTau]] and
    * [[ordinalAssociation]]: (group, n, n_pairs, concordant,
    * discordant, doubled-tie-pair counts per side).
    */
  private def tauCore(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, maxPoints: Int): DataFrame = {
    require(maxPoints >= 2, s"kendallTau: maxPoints must be >= 2")
    val raw = df.select(col(groupCol).as("_g"),
      round(col(xCol) * 1e6).cast("long").as("_x"),
      round(col(yCol) * 1e6).cast("long").as("_y"))
    // lazy in-plan guard — the theilSen pattern
    val pts = Stats.guardGroupSize(raw, "_x",
      s"kendallTau: group exceeds $maxPoints points — pre-aggregate " +
        "the series to cells first",
      maxPoints)
    val wid = Window.partitionBy("_g").orderBy("_x", "_y")
    val withId = pts.withColumn("_rid", row_number().over(wid))
    val a = withId.select(col("_g"), col("_x").as("_x1"),
      col("_y").as("_y1"), col("_rid").as("_r1"))
    val b = withId.select(col("_g").as("_g2"), col("_x").as("_x2"),
      col("_y").as("_y2"), col("_rid").as("_r2"))
    val pairAgg = a.join(b, col("_g") <=> col("_g2") && col("_r1") < col("_r2"))
      .select(col("_g"),
        ((col("_x1") < col("_x2") && col("_y1") < col("_y2")) ||
          (col("_x1") > col("_x2") && col("_y1") > col("_y2"))).as("_con"),
        ((col("_x1") < col("_x2") && col("_y1") > col("_y2")) ||
          (col("_x1") > col("_x2") && col("_y1") < col("_y2"))).as("_dis"))
      .groupBy(col("_g").as("_gp"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("_con"), 1L).otherwise(0L)).as("concordant"),
        sum(when(col("_dis"), 1L).otherwise(0L)).as("discordant"))
    def tiePairs(c: String) = pts.groupBy(col("_g").as("_gt"), col(c))
      .agg(count(lit(1)).as("_t"))
      .groupBy("_gt")
      .agg(sum(col("_t") * (col("_t") - 1)).as("_tp2")) // doubled
    val tx = tiePairs("_x").withColumnRenamed("_tp2", "_n1d")
    val ty = tiePairs("_y").withColumnRenamed("_gt", "_gt2")
      .withColumnRenamed("_tp2", "_n2d")
    pts.groupBy("_g").agg(count(lit(1)).as("n"))
      .join(pairAgg, col("_g") <=> col("_gp"), "left")
      .join(tx, col("_g") <=> col("_gt"), "left")
      .join(ty, col("_g") <=> col("_gt2"), "left")
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        coalesce(col("n_pairs"), lit(0L)).cast("bigint").as("n_pairs"),
        coalesce(col("concordant"), lit(0L)).cast("bigint").as("concordant"),
        coalesce(col("discordant"), lit(0L)).cast("bigint").as("discordant"),
        col("_n1d"), col("_n2d"))
  }

  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, maxPoints: Int = 1000): DataFrame =
    tauCore(df, groupCol, xCol, yCol, maxPoints)
      // doubled tie pairs: n0d = n(n-1), denom terms (n0d - n1d)/2 etc.
      .withColumn("_den",
        ((col("n") * (col("n") - 1) - col("_n1d")).cast("double") / 2.0)
          * ((col("n") * (col("n") - 1) - col("_n2d")).cast("double") / 2.0))
      .withColumn("tau_b",
        when(col("_den") > 0.0,
          round((col("concordant") - col("discordant")).cast("double")
            / sqrt(col("_den")), 6)).cast("double"))
      .select(groupCol, "n", "n_pairs", "concordant", "discordant", "tau_b")

  /** Binned Kendall tau-b — the 100 TB dual of [[kendallTau]] (the
    * ksTestBinned/mannWhitneyBinned construction, r12 verdict item 6):
    * the exact form's pairwise join is maxPoints-guarded because it is
    * quadratic in group size, while here each (x, y) lands in one of
    * `bins`×`bins` equi-width cells (global min/max per axis, one
    * broadcast 1-row aggregate), and concordant/discordant pair counts
    * come from CELL-pair products with the standard tie correction —
    * one corpus-sized shuffle to cells, then every table is bins²- (and
    * the pair join bins⁴-) bounded per group regardless of corpus
    * size. Binning maps each point to the tau of the discretized
    * series: ties INSIDE a cell (or sharing a bin edge on one axis)
    * are tau-b ties, which is the estimator's documented coarseness —
    * StatsSpec pins |Δtau| vs the exact twin at 16 bins.
    *
    * Exactness: counts and cell products are exact integers; tau_b is
    * one rounded float expression, NULL when either tie-corrected
    * denominator term is 0 (all points tied on an axis). NULL x/y rows
    * are dropped (a rank correlation over an unordered level is
    * undefined — unlike KS, where NULL is a real level).
    *
    * Output: (group, n, n_pairs, concordant, discordant, tau_b) — the
    * exact twin's schema.
    */
  def kendallTauBinned(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 4096, s"bins=$bins must be in [2, 4096]")
    val stats = df.agg(
      min(col(xCol)).as("_lox"), max(col(xCol)).as("_hix"),
      min(col(yCol)).as("_loy"), max(col(yCol)).as("_hiy"))
    def bin(v: Column, lo: Column, hi: Column): Column =
      when(hi > lo,
        least(floor((v - lo) * bins / (hi - lo)), lit(bins - 1)))
        .otherwise(lit(0)).cast("long")
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        bin(col(xCol), col("_lox"), col("_hix")).as("_qx"),
        bin(col(yCol), col("_loy"), col("_hiy")).as("_qy"))
      .groupBy("_g", "_qx", "_qy").agg(count(lit(1)).as("_c"))
      .localCheckpoint(false) // read by the pair join (×2) + 3 aggs
    val b = cells.select(col("_g").as("_g2"), col("_qx").as("_xb"),
      col("_qy").as("_yb"), col("_c").as("_cb"))
    // qx_a < qx_b orients each unordered cell pair once; equal-qx
    // pairs are x-ties (neither concordant nor discordant) and are
    // correctly absent
    val pairAgg = cells
      .join(b, col("_g") <=> col("_g2") && col("_qx") < col("_xb"))
      .groupBy(col("_g").as("_gp"))
      .agg(
        sum(when(col("_qy") < col("_yb"), col("_c") * col("_cb"))
          .otherwise(0L)).as("_con"),
        sum(when(col("_qy") > col("_yb"), col("_c") * col("_cb"))
          .otherwise(0L)).as("_dis"))
    def tiePairs(c: String, out: String) =
      cells.groupBy(col("_g").as("_gt"), col(c))
        .agg(sum("_c").as("_t"))
        .groupBy("_gt")
        .agg(sum(col("_t") * (col("_t") - 1)).as(out)) // doubled
    val tx = tiePairs("_qx", "_n1d")
    val ty = tiePairs("_qy", "_n2d").withColumnRenamed("_gt", "_gt2")
    cells.groupBy("_g").agg(sum("_c").as("n"))
      .join(pairAgg, col("_g") <=> col("_gp"), "left")
      .join(tx, col("_g") <=> col("_gt"))
      .join(ty, col("_g") <=> col("_gt2"))
      .withColumn("_den",
        ((col("n") * (col("n") - 1) - col("_n1d")).cast("double") / 2.0)
          * ((col("n") * (col("n") - 1) - col("_n2d")).cast("double") / 2.0))
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        (col("n") * (col("n") - 1) / 2).cast("bigint").as("n_pairs"),
        coalesce(col("_con"), lit(0L)).cast("bigint").as("concordant"),
        coalesce(col("_dis"), lit(0L)).cast("bigint").as("discordant"),
        when(col("_den") > 0.0,
          round((coalesce(col("_con"), lit(0L))
            - coalesce(col("_dis"), lit(0L))).cast("double")
            / sqrt(col("_den")), 6)).cast("double").as("tau_b"))
  }

  /** Goodman–Kruskal gamma and both Somers' D directions per group —
    * the tie-handling spectrum [[kendallTau]]'s tau-b sits inside:
    * gamma = (C−D)/(C+D) ignores EVERY tied pair (the most forgiving
    * ordinal association), Somers' D_yx = (C−D)/(pairs untied on x)
    * penalizes ties on the DEPENDENT side only (the asymmetric
    * "does x predict y's order" number, and the statistic under
    * ROC-AUC: D_yx = 2·AUC − 1 when x is binary), D_xy mirrors.
    *
    * Exactness: C, D, and the doubled tie-pair counts are the
    * [[kendallTau]] exact integers verbatim (same 1e6 quantization,
    * same lazily-guarded pair join); each coefficient is ONE rounded
    * division. All-tied denominators → NULL.
    *
    * Output: (group, n, concordant, discordant, gamma, somers_d_yx,
    * somers_d_xy).
    */
  def ordinalAssociation(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, maxPoints: Int = 1000): DataFrame = {
    val cd = (col("concordant") - col("discordant")).cast("double")
    val untiedX = (col("n") * (col("n") - 1) - col("_n1d"))
      .cast("double") / 2.0
    val untiedY = (col("n") * (col("n") - 1) - col("_n2d"))
      .cast("double") / 2.0
    tauCore(df, groupCol, xCol, yCol, maxPoints)
      .select(col(groupCol), col("n"), col("concordant"),
        col("discordant"),
        when(col("concordant") + col("discordant") > 0,
          round(cd / (col("concordant") + col("discordant"))
            .cast("double"), 6)).cast("double").as("gamma"),
        when(untiedX > 0.0, round(cd / untiedX, 6))
          .cast("double").as("somers_d_yx"),
        when(untiedY > 0.0, round(cd / untiedY, 6))
          .cast("double").as("somers_d_xy"))
  }

  /** Wald–Wolfowitz runs test per group — "is this ordered sequence
    * RANDOM around its median, or does it trend/oscillate": too few
    * runs of above/below-median means trending, too many means
    * alternation; the classic model-free randomness screen for any
    * residual or rate series.
    *
    * Exactness: the split point is the exact LOWER median of the
    * 1e-6-scaled values (the robustOutliers convention); rows equal
    * to the median are EXCLUDED (the classic dichotomy rule); the
    * run count is 1 + Σ[b_t ≠ b_{t−1}] over the (orderCol) total
    * order — all integers; z = (R − E)/sqrt(Var) with
    * E = 2ab/(a+b) + 1 and Var = 2ab(2ab − a − b)/((a+b)²(a+b−1))
    * is one identically-spelled float tree at 6 dp, NULL when either
    * side is empty or Var is 0.
    *
    * Scale shape: one group-keyed value-rank window for the median,
    * one order window for the run boundaries. Output: (group,
    * n_used, n_above, n_below, runs, z).
    */
  def runsTest(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        round(col(valueCol) * 1e6).cast("long").as("_q"))
    val withMed = lowerMedian(pts, "_q", "_med")
      .filter(col("_q") =!= col("_med"))
      .withColumn("_above", col("_q") > col("_med"))
    val wOrd = Window.partitionBy("_g").orderBy("_o")
    val marked = withMed
      .withColumn("_prev", lag(col("_above"), 1).over(wOrd))
      .withColumn("_brk",
        when(col("_prev").isNull || col("_prev") =!= col("_above"), 1L)
          .otherwise(0L))
    val agg = marked.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_used"),
        sum(when(col("_above"), 1L).otherwise(0L)).as("n_above"),
        sum(when(!col("_above"), 1L).otherwise(0L)).as("n_below"),
        sum("_brk").as("runs"))
    val aD = col("n_above").cast("double")
    val bD = col("n_below").cast("double")
    val e = lit(2.0) * aD * bD / (aD + bD) + 1.0
    val v = lit(2.0) * aD * bD * (lit(2.0) * aD * bD - aD - bD) /
      ((aD + bD) * (aD + bD) * (aD + bD - 1.0))
    agg.withColumn("z",
        when(col("n_above") > 0 && col("n_below") > 0 && v > 0.0,
          round((col("runs").cast("double") - e) / sqrt(v), 6))
          .cast("double"))
      .select(groupCol, "n_used", "n_above", "n_below", "runs", "z")
  }

  /** Cliff's delta ordinal effect size per group vs the pooled
    * complement — the MAGNITUDE companion to [[mannWhitney]]'s
    * existence test (the rank-world sibling of [[cohensD]]):
    * δ = (#(x>y) − #(x<y)) / (n_g·n_r) ∈ [−1, 1] — with this MW
    * machinery's U convention (u counts complement wins + half-ties),
    * δ = 1 − 2u/(n_g·n_r) —
    * read as "probability a group draw exceeds a complement draw,
    * minus the reverse". U is the exact (half-integer) statistic the
    * MW machinery already produces, so δ is ONE extra rounded float
    * expression — same scale shape, same NULL contract (complement
    * empty). Output: (group, n_group, n_rest, delta).
    */
  def cliffsDelta(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    mannWhitney(df, groupCol, valueCol)
      .select(col(groupCol), col("n_group"), col("n_rest"),
        when(col("n_rest") > 0,
          round(lit(1.0) - lit(2.0) * col("u")
            / (col("n_group").cast("double") * col("n_rest")), 6))
          .cast("double").as("delta"))

  /** Empirical-Bayes (beta-binomial, method of moments) shrinkage of
    * per-group success rates — the "don't trust a 2/3 rate next to a
    * 2000/3000 one" fix every CTR/quality-rate ranking needs: groups
    * borrow strength from the across-group prior, small groups shrink
    * hard toward the grand mean, large ones barely move.
    *
    * Moments: m and v are the UNWEIGHTED mean/sample-variance of the
    * per-group rates (each rate one exact integer division; m and v
    * rounded at 12 dp so the groups-bounded summation order can't
    * leak); prior α = m·(m(1−m)/v − 1), β = (1−m)/m · α, shrunk rate
    * = (x_g + α)/(n_g + α + β), all ONE identically-spelled float
    * tree rounded at 6 dp. Degenerate priors (v = 0, v ≥ m(1−m),
    * m ∈ {0, 1}, or < 2 groups) report NULL shrunk rates — shrinking
    * toward a meaningless prior is worse than not shrinking.
    *
    * Scale shape: one group-keyed count aggregate (groups-bounded
    * table), one broadcast of the 1-row prior. Output: (group, n,
    * successes, rate, shrunk_rate).
    */
  def ebShrinkRates(df: DataFrame, groupCol: String,
      success: Column): DataFrame = {
    val byG = df.groupBy(col(groupCol).as(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("successes"))
      .withColumn("_p", col("successes").cast("double") / col("n"))
    val prior = byG.agg(count(lit(1)).as("_k"),
        round(avg(col("_p")), 12).as("_m"),
        round(var_samp(col("_p")), 12).as("_v"))
      .withColumn("_alpha",
        when(col("_k") >= 2 && col("_v") > 0.0
            && col("_m") > 0.0 && col("_m") < 1.0
            && col("_m") * (lit(1.0) - col("_m")) > col("_v"),
          col("_m") * (col("_m") * (lit(1.0) - col("_m")) / col("_v")
            - 1.0)))
      .withColumn("_beta",
        (lit(1.0) - col("_m")) / col("_m") * col("_alpha"))
    byG.crossJoin(broadcast(prior))
      .select(col(groupCol), col("n"), col("successes"),
        round(col("_p"), 6).cast("double").as("rate"),
        when(col("_alpha").isNotNull,
          round((col("successes") + col("_alpha"))
            / (col("n") + col("_alpha") + col("_beta")), 6))
          .cast("double").as("shrunk_rate"))
  }

  /** Per-group robust (median/MAD) outlier profile — the
    * heavy-tail-safe sibling of mean/stddev z-scoring: median and MAD
    * shrug off the very outliers a moment-based score lets poison its
    * own threshold.
    *
    * Exactness: values quantize to 1e-6-scaled longs; the group
    * median is the exact LOWER median (rank (n+1) DIV 2 in value
    * order — the weightedQuantile convention), MAD the exact lower
    * median of |x − med|, both pure integers. The outlier rule is the
    * modified z-score |x − med| / (MAD/0.6745) > 3.5 (Iglewicz–
    * Hoaglin) implemented as the INTEGER cross-multiplication
    * 6745·|x − med| > 35000·MAD — no float ever enters the decision,
    * so the count is engine-exact. Display median/mad descale by one
    * rounded division; MAD = 0 (over half the group tied at the
    * median) reports NULL rate and 0 outliers by contract.
    *
    * Scale shape: two group-keyed window sorts (value rank, absdev
    * rank) + one group aggregate; a single giant group serializes its
    * own sort — swap the rank medians for approx_percentile at that
    * scale (the winsorize dual). Output: (group, n, median, mad,
    * n_outliers, outlier_rate).
    */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val pts = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("bigint").as("_x"))
    medianMad(pts)
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        round(max("_med") / 1e6, 6).cast("double").as("median"),
        round(max("_mad") / 1e6, 6).cast("double").as("mad"),
        sum(when(col("_mad") > 0 &&
          col("_ad") * 6745L > col("_mad") * 35000L, 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_rate",
        when(col("mad") > 0.0,
          round(col("n_outliers") / col("n").cast("double"), 6))
          .cast("double"))
  }

  /** Driver replica of [[huberMean]] (see the fast-path note there). */
  private def huberDriverDf(df: DataFrame, pts: DataFrame,
      collected: Array[Row], groupCol: String, k: Double,
      iters: Int): DataFrame = {
    // the final equi-join drops null groups
    val (ids, gOf) = DriverPath.intern(collected, keepNulls = false)
    // group g's values fill xs(start(g) until start(g + 1)), then sort
    val start = new Array[Int](ids.size + 1)
    gOf.foreach(g => if (g >= 0) start(g + 1) += 1)
    for (g <- 1 to ids.size) start(g) += start(g - 1)
    val xs = new Array[Long](start(ids.size))
    val next = start.clone()
    collected.indices.foreach { i =>
      val g = gOf(i)
      if (g >= 0) { xs(next(g)) = collected(i).getLong(1); next(g) += 1 }
    }
    val out = ids.keys.indices.map { g =>
      val (from, to) = (start(g), start(g + 1))
      java.util.Arrays.sort(xs, from, to)
      val n = to - from
      val medRank = (n + 1) / 2 // floor((n+1)/2), 1-based
      val med = xs(from + medRank - 1)
      val ad0 = java.util.Arrays.copyOfRange(xs, from, to)
      ad0.indices.foreach(i => ad0(i) = math.abs(ad0(i) - med))
      java.util.Arrays.sort(ad0)
      val mad = ad0(medRank - 1)
      var m = med.toDouble
      val ks = mad.toDouble * (1.4826 * k)
      for (_ <- 1 to iters) {
        val sw = new DriverPath.Units(12) // the 12-dp w's
        val swx = new DriverPath.Units(6) // round(w*x, 6)
        var i = from
        while (i < to) {
          val x = xs(i)
          val ad = math.abs(x.toDouble - m)
          val w = DriverPath.round(if (ad <= ks) 1.0 else ks / ad, 12)
          sw.addCast(w)
          swx.add(w * x)
          i += 1
        }
        val swD = sw.toDouble
        if (swD > 0.0) m = DriverPath.round(swx.toDouble / swD, 6)
      }
      org.apache.spark.sql.Row(ids.keys(g), n.toLong,
        DriverPath.round(med / 1e6, 6), DriverPath.round(mad / 1e6, 6),
        DriverPath.round(m / 1e6, 6))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(groupCol, pts.schema("_g").dataType),
      StructField("n", LongType), StructField("median", DoubleType),
      StructField("mad", DoubleType),
      StructField("huber_mean", DoubleType)))
    DriverPath.frame(df.sparkSession, out, schema)
  }

  /** Huber M-estimator of location by FIXED IRLS iterations — the
    * robust mean between [[robustOutliers]]' median (50% breakdown,
    * low efficiency) and the plain mean (efficient, zero breakdown):
    * minimize Huber loss with tuning constant k (1.345 ≈ 95%
    * gaussian efficiency), solved by iteratively reweighted means
    * w = min(1, k·ŝ/|x − μ|) with the robust scale ŝ = 1.4826·MAD
    * FROZEN up front (the standard one-step-scale variant — re-
    * estimating scale per pass is a different, less stable
    * estimator).
    *
    * Determinism ([[logisticFit]]'s fixed-iteration contract): exact
    * lower median / MAD from the [[robustOutliers]] integer windows
    * seed μ0 and ŝ; per pass the weights freeze at 12 dp and the
    * weighted values at 6 dp into order-free decimal sums, μ
    * re-freezes at 6 dp (scaled units). MAD = 0 degenerates
    * gracefully: only rows AT the median keep weight 1, so the fit
    * returns the median — no NULL contract needed.
    *
    * Scale shape: the robustOutliers windows once + per iteration one
    * broadcast params join and one group aggregate; the caveat is the
    * same single-giant-group sort as robustOutliers (swap the rank
    * median for the approx dual at that scale). Output: (group, n,
    * median, mad, huber_mean).
    */
  def huberMean(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 1.345, iters: Int = 2): DataFrame = {
    require(k > 0.0, s"huberMean: k must be > 0, got $k")
    require(iters >= 1 && iters <= 6,
      s"huberMean: iters must be in [1, 6], got $iters")
    val pts = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("bigint").as("_x"))
    // Driver fast path (r18): two sort windows + iters × (broadcast
    // join + decimal aggregate) collapse onto the collected quantized
    // points. Lower-median/MAD ranks are value-sorted (tie order
    // cannot change the rank value); w is 12-dp frozen so the decimal
    // sums are exact on both paths; the reweighted mean re-freezes at
    // 6 dp per pass; null group keys drop exactly where the final
    // equi-join drops them. StatsSpec pins equality.
    DriverPath.rows(pts) match {
      case Some(rows) => return huberDriverDf(df, pts, rows, groupCol, k, iters)
      case None =>
    }
    val rows = medianMad(pts)
      .select("_g", "_x", "_med", "_mad")
      .localCheckpoint() // re-read every iteration
    var params = rows.groupBy("_g")
      .agg(max("_med").cast("double").as("_m"))
    for (_ <- 1 to iters) {
      params = rows.join(broadcast(params), Seq("_g"))
        .withColumn("_ks",
          col("_mad").cast("double") * (lit(1.4826) * lit(k)))
        .withColumn("_ad", abs(col("_x").cast("double") - col("_m")))
        .withColumn("_w",
          round(when(col("_ad") <= col("_ks"), lit(1.0))
            .otherwise(col("_ks") / col("_ad")), 12))
        .groupBy("_g")
        .agg(max("_m").as("_mp"),
          sum(col("_w").cast("decimal(38,12)")).as("_sw"),
          sum(round(col("_w") * col("_x"), 6).cast("decimal(38,6)"))
            .as("_swx"))
        .select(col("_g"),
          when(col("_sw").cast("double") > 0.0,
            round(col("_swx").cast("double") / col("_sw").cast("double"),
              6)).otherwise(col("_mp")).as("_m"))
        .localCheckpoint() // k rows; truncate the iterative lineage
    }
    rows.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        round(max("_med") / 1e6, 6).cast("double").as("median"),
        round(max("_mad") / 1e6, 6).cast("double").as("mad"))
      .join(broadcast(params.withColumnRenamed("_g", groupCol)),
        Seq(groupCol))
      .select(col(groupCol), col("n"), col("median"), col("mad"),
        round(col("_m") / 1e6, 6).cast("double").as("huber_mean"))
  }

  /** The 100 TB dual of [[robustOutliers]]: median and MAD via
    * `approx_percentile` (GK sketch) group AGGREGATES instead of
    * per-group sort windows — a single giant group costs a bounded
    * sketch merge, not a serialized sort. Same scaled-long outlier
    * rule (6745·|x − med| > 35000·MAD — integers once the sketch
    * medians are fixed), same output schema. Deviation contract: the
    * sketch guarantees a value within `accuracy`-rank of the true
    * median, so med/MAD are real observed values at most n/accuracy
    * ranks off the exact lower median; with accuracy ≥ group size the
    * sketch is exact and this equals [[robustOutliers]] except at
    * even-n groups where GK may return the UPPER median (pinned in
    * OutliersSpec with the deviation bound).
    *
    * Not judged (GK internals are engine-specific — DuckDB's
    * approx_quantile is t-digest); spec-pinned against the exact twin.
    */
  def robustOutliersApprox(df: DataFrame, groupCol: String,
      valueCol: String, accuracy: Int = 10000): DataFrame = {
    require(accuracy >= 1, s"accuracy=$accuracy must be >= 1")
    val pts = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("bigint").as("_x"))
    val meds = pts.groupBy("_g")
      .agg(percentile_approx(col("_x"), lit(0.5), lit(accuracy))
        .cast("bigint").as("_med"))
    val withAd = pts.join(meds, Seq("_g"))
      .withColumn("_ad", abs(col("_x") - col("_med")))
    val mads = withAd.groupBy(col("_g").as("_gm"))
      .agg(percentile_approx(col("_ad"), lit(0.5), lit(accuracy))
        .cast("bigint").as("_mad"))
    withAd.join(mads, col("_g") <=> col("_gm")).drop("_gm")
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        round(max("_med") / 1e6, 6).cast("double").as("median"),
        round(max("_mad") / 1e6, 6).cast("double").as("mad"),
        sum(when(col("_mad") > 0 &&
          col("_ad") * 6745L > col("_mad") * 35000L, 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_rate",
        when(col("mad") > 0.0,
          round(col("n_outliers") / col("n").cast("double"), 6))
          .cast("double"))
  }

  /** Per-group best decision-stump split: for every candidate
    * threshold t (each distinct 6-dp value), the Gini impurity gain of
    * partitioning the group into x <= t vs x > t against a boolean
    * label — the single-feature split finder at the bottom of every
    * tree/GBM trainer, and by itself the "which cutoff on this score
    * best separates good from bad docs" answer.
    *
    * Exactness: class counts per distinct value and their cumulative
    * prefixes are pure integers; the parent/child Gini terms are
    * computed as ONE identically-spelled float tree from those
    * integers and the gain is rounded at 6 dp; the argmax is the
    * total order (gain DESC, threshold ASC). Candidate thresholds
    * with an empty side are excluded, so a group with a single
    * distinct value emits NO row (there is no valid split); a group
    * with a constant label reports gain 0 at its smallest threshold.
    *
    * Scale shape: one (group, value) cell shuffle; class prefixes are
    * per-group windows over the vocabulary-sized cell table (bounded
    * after quantization); one argmax window per group. Output:
    * (group, n, n_pos, threshold, gini_gain).
    */
  def bestSplit(df: DataFrame, groupCol: String, valueCol: String,
      label: Column): DataFrame = {
    val cells = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), round(col(valueCol), 6).as("_q"),
        when(label, 1L).otherwise(0L).as("_y"))
      .groupBy("_g", "_q")
      .agg(sum("_y").as("_c1"), sum(lit(1L) - col("_y")).as("_c0"))
    val wv = Window.partitionBy("_g").orderBy("_q")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wg = Window.partitionBy("_g")
    val scored = cells
      .withColumn("_p1", sum("_c1").over(wv))
      .withColumn("_p0", sum("_c0").over(wv))
      .withColumn("_n1", sum("_c1").over(wg))
      .withColumn("_n0", sum("_c0").over(wg))
      .withColumn("_nl", col("_p1") + col("_p0"))
      .withColumn("_nr",
        col("_n1") + col("_n0") - col("_p1") - col("_p0"))
      .filter(col("_nr") > 0) // the top value has no right side
    val n = (col("_n1") + col("_n0")).cast("double")
    def gini(pos: Column, tot: Column): Column =
      lit(1.0) - (pos.cast("double") / tot) * (pos.cast("double") / tot) -
        ((tot - pos).cast("double") / tot) * ((tot - pos).cast("double") / tot)
    val gain = round(
      gini(col("_n1"), col("_n1") + col("_n0"))
        - (col("_nl").cast("double") / n) * gini(col("_p1"), col("_nl"))
        - (col("_nr").cast("double") / n)
          * gini(col("_n1") - col("_p1"), col("_nr")), 6)
    scored
      .withColumn("_gain", gain.cast("double"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_g").orderBy(col("_gain").desc, col("_q").asc)))
      .filter(col("_rn") === 1)
      .select(col("_g").as(groupCol),
        (col("_n1") + col("_n0")).cast("bigint").as("n"),
        col("_n1").cast("bigint").as("n_pos"),
        col("_q").cast("double").as("threshold"),
        col("_gain").as("gini_gain"))
  }

  /** Per-group Cohen's d effect size against the pooled complement —
    * the MAGNITUDE companion to the existence tests ([[ksTest]] "is
    * there a shift", [[mannWhitney]]/[[propZTest]] "is it
    * significant"): d = (mean_g − mean_rest) / s_pooled with the
    * standard pooled SAMPLE deviation, the number that survives
    * sample-size growth when p-values stop being informative.
    *
    * Exactness: values quantize to 1e-6-scaled longs; per-side count/
    * sum/sum-of-squares accumulate in decimal(38,0) (rest = global −
    * group, exact); means, variances, and the final d are ONE
    * identically-spelled float tree (IEEE /, sqrt) rounded 6 dp. NULL
    * when either side has < 2 rows or the pooled variance is 0.
    *
    * Scale shape: one group-keyed moment aggregate + a broadcast
    * one-row global. Output: (group, n_group, n_rest, cohens_d).
    */
  def cohensD(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
    val byG = pts.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_group"),
        sum(col("_x").cast(dec)).as("_s1"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_q1"))
    val tot = byG.agg(sum("n_group").as("_n"), sum("_s1").as("_s"),
      sum("_q1").as("_q"))
    val n1 = col("n_group").cast("double")
    val n2 = col("n_rest").cast("double")
    // sample variance of a side from its exact moments, in VALUE units
    // (the 1e-12 descale folds into both the mean difference and the
    // pooled sqrt, so it cancels — compute in scaled units throughout
    // and descale nothing)
    def v(n: Column, s: Column, q: Column): Column =
      (n * q.cast("double") - s.cast("double") * s.cast("double")) /
        (n * (n - 1.0))
    byG.crossJoin(broadcast(tot))
      .withColumn("n_rest", (col("_n") - col("n_group")).cast("bigint"))
      .withColumn("_s2", (col("_s") - col("_s1")).cast(dec))
      .withColumn("_q2", (col("_q") - col("_q1")).cast(dec))
      .withColumn("_pool",
        ((n1 - 1.0) * v(n1, col("_s1"), col("_q1"))
          + (n2 - 1.0) * v(n2, col("_s2"), col("_q2")))
          / (n1 + n2 - 2.0))
      .withColumn("cohens_d",
        when(col("n_group") >= 2 && col("n_rest") >= 2
            && col("_pool") > 0.0,
          round((col("_s1").cast("double") / n1
              - col("_s2").cast("double") / n2) / sqrt(col("_pool")), 6))
          .cast("double"))
      .select(groupCol, "n_group", "n_rest", "cohens_d")
  }

  /** Per-group Wald sequential probability ratio test (SPRT) of a
    * Bernoulli rate against simple hypotheses H0: p = p0 vs
    * H1: p = p1 — the early-stopping A/B gate: unlike the fixed-n
    * z-test ([[propZTest]]), the SPRT's log-likelihood ratio can
    * cross a bound long before the planned sample completes.
    *
    *   LLR = s·ln(p1/p0) + (n−s)·ln((1−p1)/(1−p0))
    *   accept H1 when LLR >= ln((1−β)/α); accept H0 when
    *   LLR <= ln(β/(1−α)); else continue.
    *
    * Determinism: the four log constants are computed ONCE in Scala
    * (Double.toString round-trips, so an oracle interpolating them
    * compares against identical doubles — the rboWeights contract);
    * LLR is one rounded multiply-add over exact integer (n, s); the
    * decisions are threshold comparisons on the ROUNDED llr, so both
    * engines decide identically.
    *
    * Scale shape: one group-keyed count — nothing else. Output:
    * (group, n, successes, llr, decision).
    */
  def sprt(df: DataFrame, groupCol: String, success: Column,
      p0: Double, p1: Double, alpha: Double = 0.05,
      beta: Double = 0.05): DataFrame = {
    require(p0 > 0.0 && p0 < 1.0 && p1 > 0.0 && p1 < 1.0 && p0 != p1,
      s"sprt: need 0 < p0, p1 < 1 and p0 != p1 (got $p0, $p1)")
    require(alpha > 0.0 && alpha < 1.0 && beta > 0.0 && beta < 1.0,
      s"sprt: alpha/beta must be in (0,1)")
    val cs = math.log(p1 / p0)
    val cf = math.log((1.0 - p1) / (1.0 - p0))
    val lo = math.log(beta / (1.0 - alpha))
    val hi = math.log((1.0 - beta) / alpha)
    df.groupBy(col(groupCol).as(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("successes"))
      .withColumn("llr",
        round(col("successes") * lit(cs)
          + (col("n") - col("successes")) * lit(cf), 6).cast("double"))
      .withColumn("decision",
        when(col("llr") >= lit(hi), lit("accept_h1"))
          .when(col("llr") <= lit(lo), lit("accept_h0"))
          .otherwise(lit("continue")))
  }

  /** The interpolation constants [[sprt]] uses, exposed so oracle
    * text can embed the IDENTICAL doubles (Double.toString
    * round-trips). Returns (lnSuccessRatio, lnFailureRatio, lnLower,
    * lnUpper).
    */
  def sprtConstants(p0: Double, p1: Double, alpha: Double,
      beta: Double): (Double, Double, Double, Double) =
    (math.log(p1 / p0), math.log((1.0 - p1) / (1.0 - p0)),
      math.log(beta / (1.0 - alpha)), math.log((1.0 - beta) / alpha))

  /** Per-group two-proportion z-test of a boolean outcome against the
    * complement, plus the Wilson 95% score interval for the group rate
    * — the A/B-style "is this slice's conversion/pass rate different
    * from everyone else's" gate.
    *
    * All counts are exact integers; the z and Wilson formulas are the
    * only float work and are spelled as the identical expression tree
    * in the oracle (divisions, products, and IEEE-exact sqrt), rounded
    * at 6 dp. z is NULL when the complement is empty or the pooled
    * variance is 0 (rate 0 or 1 everywhere).
    *
    * Scale shape: ONE group-keyed count shuffle; the global totals are
    * a broadcast one-row aggregate. Output: (group, n, successes,
    * rate, z, wilson_lo, wilson_hi).
    */
  def propZTest(df: DataFrame, groupCol: String, success: Column): DataFrame = {
    val z0 = lit(1.96)
    val byG = df.groupBy(col(groupCol).as(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("successes"))
    val tot = byG.agg(sum("n").as("_tn"), sum("successes").as("_tx"))

    val nG = col("n").cast("double")
    val nR = (col("_tn") - col("n")).cast("double")
    val pG = col("successes") / nG
    val pR = (col("_tx") - col("successes")) / nR
    val pPool = col("_tx") / col("_tn").cast("double")
    val se = sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / nG + lit(1.0) / nR))
    // Wilson: center (p + z²/2n) / (1 + z²/n), half-width
    // z·sqrt(p(1−p)/n + z²/4n²) / (1 + z²/n)
    val denom = lit(1.0) + z0 * z0 / nG
    val center = (pG + z0 * z0 / (lit(2.0) * nG)) / denom
    val half = z0 * sqrt(pG * (lit(1.0) - pG) / nG
      + z0 * z0 / (lit(4.0) * nG * nG)) / denom

    byG.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n"), col("successes"),
        round(pG, 6).cast("double").as("rate"),
        when(col("_tn") > col("n") && pPool > 0.0 && pPool < 1.0,
          round((pG - pR) / se, 6)).cast("double").as("z"),
        round(center - half, 6).cast("double").as("wilson_lo"),
        round(center + half, 6).cast("double").as("wilson_hi"))
  }

  /** Theil's uncertainty coefficient between two categorical columns,
    * both directions — the ASYMMETRIC sibling of [[Profiling.mutualInfo]]'s
    * NMI: U(a|b) = MI / H(a) is "what fraction of a's uncertainty does
    * knowing b remove", which is NOT U(b|a) when the marginals differ
    * (NMI hides the asymmetry behind max(H_a, H_b)).
    *
    * Same one-shuffle cell-table shape as mutualInfo (it reuses it);
    * degenerate direction (constant column, H = 0) reports NULL.
    * Output one row: (u_a_given_b, u_b_given_a, n_rows).
    */
  def theilsU(df: DataFrame, aCol: String, bCol: String): DataFrame =
    Profiling.mutualInfo(df, aCol, bCol).select(
      when(col("h_a") > 0.0, round(col("mi") / col("h_a"), 6))
        .cast("double").as("u_a_given_b"),
      when(col("h_b") > 0.0, round(col("mi") / col("h_b"), 6))
        .cast("double").as("u_b_given_a"),
      col("n_rows"))

  /** Per-group CUSUM changepoint score: walk the group in
    * (orderCol, tieCol) total order and score each prefix k by how far
    * its running sum S_k departs from the uniform-trend line k·T/n;
    * report the max departure and the first prefix attaining it — the
    * "did this metric's level shift somewhere in the window" detector.
    *
    * Exactness: values are 6-dp-quantized to scaled longs, so
    * n·S_k − k·T is a pure integer per prefix; the max and its argmin-k
    * tie-break are integer comparisons and the ONLY float work is the
    * final division by n·10⁶, rounded at 6 dp. Long headroom: |n·S_k|
    * ≤ n²·max|v|·10⁶ — fine to ~10⁸ rows per group at |v| ≤ 100; past
    * that, pre-aggregate the series (e.g. per-hour sums) before
    * scoring, which is also the statistically sane move.
    *
    * Scale shape: one window sort per group (hash-partitioned by
    * group), one group agg for (n, T), one more window max for the
    * argmax — no joins, no collect; groups score independently.
    * Output: (group, n, cusum, at_k).
    */
  def cusum(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy("_g").orderBy(col(orderCol), col(tieCol))
    val scored = df
      .select(col(groupCol).as("_g"), col(orderCol), col(tieCol),
        round(col(valueCol) * 1e6).cast("long").as("_q"))
      .withColumn("_k", row_number().over(w))
      .withColumn("_s", sum("_q").over(w))
    val totals = scored.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"), sum("_q").as("_t"))
    val dev = scored
      .join(broadcast(totals), col("_g") <=> col("_gm")).drop("_gm")
      .withColumn("_num", abs(col("_n") * col("_s") - col("_k") * col("_t")))
    // first prefix attaining the max: integer (num DESC, k ASC) order
    val pick = Window.partitionBy("_g")
      .orderBy(col("_num").desc, col("_k").asc)
    dev.withColumn("_rn", row_number().over(pick))
      .filter(col("_rn") === 1)
      .select(col("_g").as(groupCol), col("_n").as("n"),
        round(col("_num") / (col("_n") * lit(1e6)), 6)
          .cast("double").as("cusum"),
        col("_k").cast("bigint").as("at_k"))
  }

  /** Per-quantile drift between two slices of each group — the
    * quantile-by-quantile refinement of [[ksTest]]'s single number:
    * WHERE in the distribution did the shift happen (tails vs
    * median), the diagnostic that tells a drifted feature's story.
    *
    * Quantile contract (explicit, engine-portable): the q-th of
    * `nQuantiles` cuts is the value at 1-based sorted position
    * ceil(q·n/nQuantiles) — a pure ORDER STATISTIC: no interpolation
    * scheme to disagree on, deterministic under ties (the value at a
    * sorted position is fixed no matter how equal values order).
    * Values pass through untouched; the delta is one rounded
    * subtraction.
    *
    * Scale shape: one sort window per (group, slice) + a broadcast
    * count join to target the ranks; output is groups × quantiles.
    * Output: (group, quantile, v_ref, v_cur, delta) — NULL side if a
    * slice is empty for the group.
    */
  def qqDrift(df: DataFrame, groupCol: String, valueCol: String,
      isCur: Column, nQuantiles: Int = 10): DataFrame = {
    require(nQuantiles >= 2, s"nQuantiles=$nQuantiles must be >= 2")
    val ranked = df
      .select(col(groupCol).as("_g"), isCur.as("_cur"),
        col(valueCol).as("_v"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_g", "_cur").orderBy("_v")))
    val counts = ranked.groupBy(col("_g").as("_gm"), col("_cur").as("_cm"))
      .agg(count(lit(1)).as("_n"))
    val targets = counts
      .withColumn("quantile",
        explode(array((1 until nQuantiles).map(lit): _*)))
      // ceil(q·n/k) in pure integer arithmetic: (q·n + k − 1) div k
      .withColumn("_r",
        (((col("quantile") * col("_n") + nQuantiles - 1)
          - pmod(col("quantile") * col("_n") + nQuantiles - 1,
            lit(nQuantiles.toLong))) / nQuantiles).cast("long"))
    val cuts = ranked.join(targets,
      col("_g") <=> col("_gm") && col("_cur") <=> col("_cm")
        && col("_rn") === col("_r"))
      .select(col("_g"), col("_cur"), col("quantile"), col("_v"))
    val ref = cuts.filter(!col("_cur"))
      .select(col("_g"), col("quantile"), col("_v").as("v_ref"))
    val cur = cuts.filter(col("_cur"))
      .select(col("_g").as("_g2"), col("quantile").as("_q2"),
        col("_v").as("v_cur"))
    ref.join(cur, col("_g") <=> col("_g2") && col("quantile") === col("_q2"),
        "full")
      .select(coalesce(col("_g"), col("_g2")).as(groupCol),
        coalesce(col("quantile"), col("_q2")).as("quantile"),
        col("v_ref"), col("v_cur"),
        round(col("v_cur") - col("v_ref"), 6).cast("double").as("delta"))
  }

  /** The 100 TB dual of [[qqDrift]]: one `approx_percentile(ARRAY)`
    * sketch aggregate per (group, slice) replaces the per-slice sort
    * window — a group whose slice is corpus-sized costs a bounded
    * sketch merge. Quantile q of nQuantiles is the sketch value at
    * fraction q/nQuantiles (a real observed value within
    * n/accuracy ranks of the exact order statistic). Same output
    * schema; spec-pinned against the exact twin, not judged (GK
    * internals are engine-specific).
    */
  def qqDriftApprox(df: DataFrame, groupCol: String, valueCol: String,
      isCur: Column, nQuantiles: Int = 10,
      accuracy: Int = 10000): DataFrame = {
    require(nQuantiles >= 2, s"nQuantiles=$nQuantiles must be >= 2")
    require(accuracy >= 1, s"accuracy=$accuracy must be >= 1")
    val fracs = array((1 until nQuantiles)
      .map(q => lit(q.toDouble / nQuantiles)): _*)
    val cuts = df
      .select(col(groupCol).as("_g"), isCur.as("_cur"),
        col(valueCol).as("_v"))
      .groupBy("_g", "_cur")
      .agg(percentile_approx(col("_v"), fracs, lit(accuracy)).as("_qs"))
      .select(col("_g"), col("_cur"),
        posexplode(col("_qs")).as(Seq("_p", "_v")))
      .select(col("_g"), col("_cur"), (col("_p") + 1).as("quantile"),
        col("_v"))
    val ref = cuts.filter(!col("_cur"))
      .select(col("_g"), col("quantile"), col("_v").as("v_ref"))
    val cur = cuts.filter(col("_cur"))
      .select(col("_g").as("_g2"), col("quantile").as("_q2"),
        col("_v").as("v_cur"))
    ref.join(cur, col("_g") <=> col("_g2") && col("quantile") === col("_q2"),
        "full")
      .select(coalesce(col("_g"), col("_g2")).as(groupCol),
        coalesce(col("quantile"), col("_q2")).as("quantile"),
        col("v_ref"), col("v_cur"),
        round(col("v_cur") - col("v_ref"), 6).cast("double").as("delta"))
  }

  /** Trimmed mean per group: drop the floor(n·trim) smallest and
    * largest rows (by the deterministic sorted-multiset positions —
    * ties don't matter, the kept multiset is fixed) and average the
    * rest as an exact scaled-integer ratio with one rounded division —
    * the robust location estimate that winsorizing approximates
    * without the clamp artifacts.
    *
    * One sort window per group + broadcast counts. Output: (group,
    * n, n_trimmed_each_side, trimmed_mean).
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      trim: Double = 0.1): DataFrame = {
    require(trim >= 0 && trim < 0.5, s"trim=$trim must be in [0, 0.5)")
    val ranked = df
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_q"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_g").orderBy("_q")))
    val counts = ranked.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_t", floor(col("_n") * trim).cast("long"))
    ranked.join(broadcast(counts), col("_g") <=> col("_gm")).drop("_gm")
      .filter(col("_rn") > col("_t") && col("_rn") <= col("_n") - col("_t"))
      .groupBy(col("_g").as(groupCol))
      .agg(max("_n").as("n"), max("_t").as("n_trimmed_each_side"),
        round(sum("_q") / (count(lit(1)) * lit(1e6)), 6)
          .cast("double").as("trimmed_mean"))
  }

  /** The 100 TB dual of [[trimmedMean]]: the trim boundaries come
    * from one `approx_percentile` sketch pair per group instead of a
    * per-group sort window, then the mean averages rows strictly
    * inside (lo, hi] — value-based trimming (drop x ≤ lo-quantile or
    * x > hi-quantile) rather than the exact twin's count-based
    * floor(n·trim) per side, so under heavy ties at a boundary the
    * two can differ by the tied mass; the sketch bound makes each
    * boundary at most n/accuracy ranks off. Output: (group, n, lo,
    * hi, trimmed_mean). Spec-pinned against the exact twin; not
    * judged (GK internals are engine-specific).
    */
  def trimmedMeanApprox(df: DataFrame, groupCol: String, valueCol: String,
      trim: Double = 0.1, accuracy: Int = 10000): DataFrame = {
    require(trim >= 0 && trim < 0.5, s"trim=$trim must be in [0, 0.5)")
    require(accuracy >= 1, s"accuracy=$accuracy must be >= 1")
    val pts = df
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_q"))
    val bounds = pts.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"),
        percentile_approx(col("_q"), lit(trim), lit(accuracy))
          .cast("long").as("_lo"),
        percentile_approx(col("_q"), lit(1.0 - trim), lit(accuracy))
          .cast("long").as("_hi"))
    pts.join(broadcast(bounds), col("_g") <=> col("_gm")).drop("_gm")
      .filter((lit(trim) === 0.0 || col("_q") > col("_lo"))
        && col("_q") <= col("_hi"))
      .groupBy(col("_g").as(groupCol))
      .agg(max("_n").as("n"),
        round(max("_lo") / 1e6, 6).cast("double").as("lo"),
        round(max("_hi") / 1e6, 6).cast("double").as("hi"),
        round(sum("_q") / (count(lit(1)) * lit(1e6)), 6)
          .cast("double").as("trimmed_mean"))
  }

  /** Hill tail-index estimator over the top-k order statistics — THE
    * standard heavy-tail exponent ("is doc length / degree / value
    * power-law, and how fat"): H = mean of ln(x_(i) / x_(k+1)) over
    * the k largest values, alpha = 1/H (Hill 1975, Ann. Statist.
    * 3(5)). A corpus whose alpha ≈ 1-2 is dominated by its giants —
    * the number that tells you whether truncation/winsorization will
    * move your aggregates.
    *
    * Exactness: the top k+1 rows are the (value DESC, id ASC) total
    * order; each log ratio quantizes to a ROUND(ln·10⁶) scaled long
    * (the heapsLawFit convention — the quantum absorbs sub-1e-6 libm
    * noise), the mean is one exact integer sum and one rounded
    * division. Requires k+1 positive values — fewer rows → EMPTY
    * result (no partial tail estimate).
    *
    * Scale shape: one TakeOrderedAndProject of k+1 rows (never a full
    * sort), then k-bounded local work. Output: one row (k, x_tail,
    * hill, alpha); alpha NULL when the top k+1 values are all equal
    * (H = 0).
    */
  def hillTailIndex(df: DataFrame, valueCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"hill: k must be >= 2, got $k")
    val top = df.filter(col(valueCol) > 0)
      .select(col(valueCol).cast("double").as("_x"), col(idCol).as("_id"))
      .orderBy(col("_x").desc, col("_id"))
      .limit(k + 1)
    // k+1 rows: the unpartitioned window is bounded by construction
    val ranked = top.withColumn("_rn",
      row_number().over(Window.orderBy(col("_x").desc, col("_id"))))
    val tail = ranked.filter(col("_rn") === k + 1)
      .select(col("_x").as("_xt"))
    ranked.filter(col("_rn") <= k)
      .crossJoin(broadcast(tail))
      .select(round(log(col("_x") / col("_xt")) * 1e6).cast("long").as("_l"),
        col("_xt"))
      .agg(count(lit(1)).as("_k"), sum("_l").as("_s"), max("_xt").as("_xtail"))
      .filter(col("_k") === k)
      .select(lit(k).cast("bigint").as("k"),
        col("_xtail").cast("double").as("x_tail"),
        round(col("_s") / (lit(k) * lit(1e6)), 6).cast("double").as("hill"))
      .withColumn("alpha",
        when(col("hill") > 0.0, round(lit(1.0) / col("hill"), 6))
          .cast("double"))
  }

  /** Wilcoxon signed-rank test over pre-paired (x, y) rows per group —
    * the PAIRED sibling of [[mannWhitney]] (same subject before/after:
    * the A/B design where each unit is its own control). Differences
    * d = y − x (6-dp rounded) drop zeros by the classic convention;
    * |d| ranks carry ties as average ranks kept integer by DOUBLING
    * (the mannWhitney D(v) = 2C+E+1 trick), so 2·W⁺ = Σ_{d>0} D is a
    * pure integer. The tie-corrected normal approximation
    * z = (2W⁺ − n(n+1)/2) / sqrt(n(n+1)(2n+1)/6 − Σ(E³−E)/12)
    * is the only float work, one identically-spelled tree, 6 dp.
    * Σ(E³−E) accumulates in decimal(38,0).
    *
    * Scale shape: one (group, |d|) cell shuffle; the below-count
    * prefix is a per-GROUP window over the cell table (bounded after
    * quantization). Output: (group, n_pairs, n_nonzero, w_plus, z) —
    * w_plus NULL when every pair ties at zero, z additionally NULL
    * when the variance is 0.
    */
  def wilcoxonSignedRank(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val pairs = df.select(col(groupCol).as("_g"),
        round(col(yCol) - col(xCol), 6).as("_d"))
      .filter(col("_d").isNotNull)
    val allCounts = pairs.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("n_pairs"))
    val cells = pairs.filter(col("_d") =!= 0.0)
      .groupBy(col("_g"), abs(col("_d")).as("_ad"))
      .agg(count(lit(1)).as("_e"),
        sum(when(col("_d") > 0, 1L).otherwise(0L)).as("_p"))
    val wBelow = Window.partitionBy("_g").orderBy("_ad")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perG = cells
      .withColumn("_cb", coalesce(sum("_e").over(wBelow), lit(0L)))
      .groupBy(col("_g"))
      .agg(sum("_e").as("n_nonzero"),
        sum(col("_p").cast(dec) * (lit(2L) * col("_cb") + col("_e") + 1))
          .cast(dec).as("_2wp"),
        sum((col("_e").cast(dec) * col("_e") * col("_e") - col("_e"))
          .cast(dec)).as("_ties"))
    val nD = col("n_nonzero").cast("double")
    allCounts.join(perG, col("_gm") <=> col("_g"), "left")
      .select(col("_gm").as(groupCol), col("n_pairs"),
        coalesce(col("n_nonzero"), lit(0L)).as("n_nonzero"),
        (col("_2wp").cast("double") / 2.0).as("w_plus"),
        col("_2wp"), col("_ties"))
      .withColumn("_var",
        nD * (nD + 1.0) * (lit(2.0) * nD + 1.0) / 6.0
          - col("_ties").cast("double") / 12.0)
      .withColumn("z",
        when(col("n_nonzero") > 0 && col("_var") > 0.0,
          round((col("_2wp").cast("double") - nD * (nD + 1.0) / 2.0)
            / sqrt(col("_var")), 6)).cast("double"))
      .select(groupCol, "n_pairs", "n_nonzero", "w_plus", "z")
  }

  /** McNemar's test of two paired binary classifiers per group — the
    * model-comparison gate for "did B actually beat A on the SAME
    * rows": only the discordant pairs carry signal (b = A right and B
    * wrong, c = the reverse); the statistic (b−c)²/(b+c) is chi² with
    * 1 dof under the null that both err equally. All-integer counts,
    * one rounded division; NULL when the models never disagree
    * (b + c = 0). A NULL correctness flag counts as incorrect for
    * that side (documented, matches the filter-style when/otherwise).
    *
    * One group-keyed count shuffle. Output: (group, n, b, c, mcnemar).
    */
  def mcnemar(df: DataFrame, groupCol: String, aCorrect: Column,
      bCorrect: Column): DataFrame =
    df.groupBy(col(groupCol).as(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(aCorrect && !bCorrect, 1L).otherwise(0L)).as("b"),
        sum(when(bCorrect && !aCorrect, 1L).otherwise(0L)).as("c"))
      .withColumn("mcnemar",
        when(col("b") + col("c") > 0,
          round(((col("b") - col("c")) * (col("b") - col("c")))
            .cast("double") / (col("b") + col("c")), 6))
          .cast("double"))

  /** Benford first-digit expectations log10(1 + 1/d), d = 1..9,
    * computed ONCE here and shared VERBATIM with the oracle SQL (the
    * bootstrap-CI shared-threshold contract) — no cross-engine log10.
    */
  val benfordExpected: Seq[Double] =
    (1 to 9).map(d => math.log10(1 + 1.0 / d))

  /** Benford's-law first-digit profile of a positive numeric column —
    * the fabricated-data / unit-mixup screen for financial-ish
    * magnitudes: natural multiplicative data leads with digit d at
    * probability log10(1+1/d); uniform or hand-typed data doesn't.
    *
    * The leading digit comes from INTEGER string formatting of the
    * `scale`-quantized magnitude (scaling by a power of ten never
    * changes the leading digit) — double formatting differs across
    * engines, bigint formatting doesn't. Counts are exact; observed
    * ratios round once; expected masses are the [[benfordExpected]]
    * shared literals. Zeros/nulls drop (no leading digit); negatives
    * contribute their magnitude. All nine digits always report (zero
    * counts included) via a 9-row literal grid.
    *
    * Scale shape: one 9-bucket count shuffle + broadcast one-row
    * total. Output: (digit, n, observed_p, expected_p, abs_dev).
    */
  def benford(df: DataFrame, valueCol: String, scale: Int = 100): DataFrame = {
    require(scale >= 1, s"scale=$scale must be >= 1")
    val counts = df
      .select(round(abs(col(valueCol)) * scale).cast("long").as("_q"))
      .filter(col("_q") > 0)
      .select(substring(col("_q").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val grid = counts.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val tot = counts.agg(sum("n").as("_tot"))
    val expected = element_at(
      array(benfordExpected.map(lit): _*), col("digit"))
    val obs = coalesce(col("n"), lit(0L)) / col("_tot").cast("double")
    grid.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        round(obs, 6).cast("double").as("observed_p"),
        round(expected, 6).cast("double").as("expected_p"),
        round(abs(obs - expected), 6).cast("double").as("abs_dev"))
  }

  /** Kaplan–Meier survival curve with right censoring — the
    * retention/time-to-event estimator behind "what fraction of users
    * are still active after t days": subjects carry a duration and an
    * observed flag (true = the terminal event happened, false =
    * censored at that duration), and S(t) multiplies (1 − d_u/n_u)
    * over event times u ≤ t with n_u = subjects still at risk.
    *
    * The product is computed as exp(Σ ln(1 − d/n)) — a windowed sum
    * of per-event-time terms; d/n are exact integer ratios, and the
    * ln/exp chain is the mutualInfo float-noise class (≪ the 6-dp
    * round). A time where EVERYONE at risk exits (d = n) drives S to
    * an exact 0.0 from then on via an explicit cumulative flag — no
    * ln(0) reaches either engine. A null observed flag counts as
    * censored (the subject existed; its event was never seen).
    *
    * Scale shape: one (group, duration)-keyed count shuffle collapses
    * subjects to event-time cells; every window after that runs on the
    * cells table (distinct durations × groups — calendar-bounded),
    * so an empty `groupCols` (one global curve) is NOT a scale
    * hazard. Output rows are the curve's step points (d > 0):
    * (groupCols..., duration, n_at_risk, n_events, n_censored,
    * survival).
    */
  def kaplanMeier(df: DataFrame, groupCols: Seq[String],
      durationCol: String, observed: Column): DataFrame = {
    val gcols = groupCols.map(col)
    val cells = df
      .groupBy((gcols :+ col(durationCol).as("duration")): _*)
      .agg(sum(when(observed, 1L).otherwise(0L)).as("n_events"),
        sum(when(observed, 0L).otherwise(1L)).as("n_censored"))
    val wGroup = Window.partitionBy(gcols: _*)
    val wOrd = Window.partitionBy(gcols: _*).orderBy("duration")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val exits = col("n_events") + col("n_censored")
    cells
      .withColumn("n_at_risk",
        sum(exits).over(wGroup) - coalesce(sum(exits).over(wPrev), lit(0L)))
      .withColumn("_term",
        when(col("n_events") < col("n_at_risk"),
          log(lit(1.0) - col("n_events") / col("n_at_risk").cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("_zero",
        max(when(col("n_events") === col("n_at_risk"), 1).otherwise(0))
          .over(wOrd))
      .withColumn("survival",
        when(col("_zero") === 1, lit(0.0))
          .otherwise(round(exp(sum("_term").over(wOrd)), 6))
          .cast("double"))
      .filter(col("n_events") > 0)
      .select((gcols :+ col("duration") :+ col("n_at_risk")
        :+ col("n_events") :+ col("n_censored") :+ col("survival")): _*)
  }

  /** Aalen–Johansen cumulative incidence under COMPETING risks — what
    * [[kaplanMeier]] gets wrong when more than one exit exists
    * (1 − KM per cause over-counts: a user who churned can no longer
    * convert): CIF_k(t) = Σ_{s ≤ t} S(s−)·d_k(s)/n(s) with S the
    * ALL-CAUSE survival — "probability the FIRST event by t is of
    * cause k". `causeCol` is a string, NULL = censored; Σ_k CIF_k(∞)
    * + S(∞) = 1 when follow-up is complete (pinned).
    *
    * Exactness: the kaplanMeier cells/windows verbatim for the
    * all-cause S(s−) (exclusive-prior ln fold, exact-zero exhaustion
    * handling, 12-dp frozen); each increment S(s−)·d_k/n freezes at
    * 12 dp into an order-free decimal cumulative over the (group,
    * cause) duration order; final CIF at 6 dp.
    *
    * Scale shape: kaplanMeier's — one (group, duration) count shuffle
    * plus one (group, duration, cause) count shuffle, all windows on
    * calendar-bounded cells. Output: (group..., cause, duration,
    * n_at_risk, n_events, cif).
    */
  def competingRisks(df: DataFrame, groupCols: Seq[String],
      durationCol: String, causeCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val durCells = df
      .groupBy((gcols :+ col(durationCol).as("duration")): _*)
      .agg(count(lit(1)).as("_exits"),
        sum(when(col(causeCol).isNotNull, 1L).otherwise(0L)).as("_dtot"))
    val wGroup = Window.partitionBy(gcols: _*)
    val wOrd = Window.partitionBy(gcols: _*).orderBy("duration")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val base = durCells
      .withColumn("n_at_risk",
        sum(col("_exits")).over(wGroup)
          - coalesce(sum(col("_exits")).over(wPrev), lit(0L)))
      .withColumn("_term",
        when(col("_dtot") < col("n_at_risk"),
          log(lit(1.0) - col("_dtot") / col("n_at_risk").cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("_zeroPrev",
        coalesce(max(when(col("_dtot") === col("n_at_risk"), 1)
          .otherwise(0)).over(wPrev), lit(0)))
      .withColumn("_sprev",
        when(col("_zeroPrev") === 1, lit(0.0))
          .otherwise(round(exp(coalesce(sum("_term").over(wPrev),
            lit(0.0))), 12)))
      .select((gcols :+ col("duration") :+ col("n_at_risk")
        :+ col("_sprev")): _*)
    val causeCells = df.filter(col(causeCol).isNotNull)
      .groupBy((gcols :+ col(durationCol).as("duration")
        :+ col(causeCol).cast("string").as("cause")): _*)
      .agg(count(lit(1)).as("n_events"))
    val wCause = Window
      .partitionBy((gcols :+ col("cause")): _*).orderBy("duration")
    causeCells
      .join(base, (groupCols :+ "duration").toSeq)
      .withColumn("_inc",
        round(col("_sprev") * col("n_events")
          / col("n_at_risk").cast("double"), 12).cast("decimal(38,12)"))
      .withColumn("cif",
        round(sum("_inc").over(wCause).cast("double"), 6).cast("double"))
      .select((gcols :+ col("cause") :+ col("duration")
        :+ col("n_at_risk") :+ col("n_events") :+ col("cif")): _*)
  }

  /** [[kaplanMeier]] with Greenwood variance and the log(−log) 95%
    * confidence band — the form every survival curve is actually
    * published in: Var(ln S) ≈ Σ d/(n(n−d)) (Greenwood 1926) over the
    * event times so far, se_θ = √Var/|ln S| on the θ = ln(−ln S)
    * scale, band = S^exp(±z·se_θ). The log-log transform keeps the
    * band inside (0, 1) by construction — the naive S ± z·se band
    * leaks outside near the edges, which is exactly where retention
    * curves live.
    *
    * Exactness: the survival column is [[kaplanMeier]] verbatim (same
    * cells, windows, ln folds over the duration total order); the
    * Greenwood cumulative rides the same ordered window; the band is
    * one identically-spelled float tree per row rounded at 6 dp. NULL
    * band where it is undefined: S = 0 (risk set exhausted), S = 1
    * exactly (no information yet), or Var = 0 with S interior.
    *
    * Scale shape: identical to kaplanMeier — one (group, duration)
    * count shuffle, calendar-bounded cells, windows over cells only.
    * Output: kaplanMeier's columns + (ci_lo, ci_hi).
    */
  def kaplanMeierCI(df: DataFrame, groupCols: Seq[String],
      durationCol: String, observed: Column, z: Double = 1.96): DataFrame = {
    val gcols = groupCols.map(col)
    val cells = df
      .groupBy((gcols :+ col(durationCol).as("duration")): _*)
      .agg(sum(when(observed, 1L).otherwise(0L)).as("n_events"),
        sum(when(observed, 0L).otherwise(1L)).as("n_censored"))
    val wGroup = Window.partitionBy(gcols: _*)
    val wOrd = Window.partitionBy(gcols: _*).orderBy("duration")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val exits = col("n_events") + col("n_censored")
    val lnS = col("_lnsum")
    val seTheta = sqrt(col("_gw")) / -lnS // |ln S| = −ln S (S < 1 here)
    val band = (sign: Double) =>
      round(exp(exp(lit(sign * z) * seTheta) * lnS), 6).cast("double")
    cells
      .withColumn("n_at_risk",
        sum(exits).over(wGroup) - coalesce(sum(exits).over(wPrev), lit(0L)))
      .withColumn("_term",
        when(col("n_events") < col("n_at_risk"),
          log(lit(1.0) - col("n_events") / col("n_at_risk").cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("_gwterm",
        when(col("n_events") < col("n_at_risk"),
          col("n_events") / (col("n_at_risk")
            * (col("n_at_risk") - col("n_events"))).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("_zero",
        max(when(col("n_events") === col("n_at_risk"), 1).otherwise(0))
          .over(wOrd))
      .withColumn("_lnsum", sum("_term").over(wOrd))
      .withColumn("_gw", sum("_gwterm").over(wOrd))
      .withColumn("survival",
        when(col("_zero") === 1, lit(0.0))
          .otherwise(round(exp(col("_lnsum")), 6))
          .cast("double"))
      .withColumn("ci_lo",
        when(col("_zero") === 1 || lnS >= 0.0 || col("_gw") <= 0.0, lit(null))
          .otherwise(band(1.0)))
      .withColumn("ci_hi",
        when(col("_zero") === 1 || lnS >= 0.0 || col("_gw") <= 0.0, lit(null))
          .otherwise(band(-1.0)))
      .filter(col("n_events") > 0)
      .select((gcols :+ col("duration") :+ col("n_at_risk")
        :+ col("n_events") :+ col("n_censored") :+ col("survival")
        :+ col("ci_lo").cast("double") :+ col("ci_hi").cast("double")): _*)
  }

  /** Nelson–Aalen cumulative hazard with right censoring — the
    * additive dual of [[kaplanMeier]]: H(t) = Σ_{u≤t} d_u/n_u over
    * event times, the curve whose SLOPE is the hazard rate (read it
    * to see when risk concentrates; read KM to see how many survive).
    * Same subject contract (duration + observed flag, null observed
    * = censored).
    *
    * Exactness: STRONGER than KM's ln/exp chain — each d/n is one
    * double division of exact integers frozen at 12 dp, and H is an
    * order-FIXED cumulative decimal(38,12) sum over the duration
    * window, rounded at 6 dp per step. No transcendentals anywhere.
    *
    * Scale shape: identical to [[kaplanMeier]] — one (group,
    * duration) count shuffle to event-time cells, then windows over
    * the cells table. Output step points (d > 0): (groupCols...,
    * duration, n_at_risk, n_events, n_censored, cum_hazard).
    */
  def nelsonAalen(df: DataFrame, groupCols: Seq[String],
      durationCol: String, observed: Column): DataFrame = {
    val gcols = groupCols.map(col)
    val cells = df
      .groupBy((gcols :+ col(durationCol).as("duration")): _*)
      .agg(sum(when(observed, 1L).otherwise(0L)).as("n_events"),
        sum(when(observed, 0L).otherwise(1L)).as("n_censored"))
    val wGroup = Window.partitionBy(gcols: _*)
    val wOrd = Window.partitionBy(gcols: _*).orderBy("duration")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val exits = col("n_events") + col("n_censored")
    cells
      .withColumn("n_at_risk",
        sum(exits).over(wGroup) - coalesce(sum(exits).over(wPrev), lit(0L)))
      .withColumn("_term",
        round(col("n_events").cast("double")
          / col("n_at_risk").cast("double"), 12).cast("decimal(38,12)"))
      .withColumn("cum_hazard",
        round(sum("_term").over(wOrd).cast("double"), 6).cast("double"))
      .filter(col("n_events") > 0)
      .select((gcols :+ col("duration") :+ col("n_at_risk")
        :+ col("n_events") :+ col("n_censored") :+ col("cum_hazard")): _*)
  }

  /** Weibull survival fit per group — parametric shape/scale from the
    * Nelson–Aalen regression: under Weibull, H(t) = (t/λ)^k, so
    * ln H = k·ln t − k·ln λ is a LINE; the slope of ln(cum hazard) on
    * ln(event time) is the shape k (k < 1 infant-mortality hazard,
    * k ≈ 1 memoryless, k > 1 wear-out) and λ = e^(−intercept/k) the
    * characteristic life — the parametric summary KM/NA leave as a
    * curve, with censoring handled by construction (it's IN the NA
    * estimator). The standard quick Weibull-plot estimator, not MLE —
    * documented.
    *
    * Determinism: rides [[nelsonAalen]]'s 6-dp cum-hazard verbatim;
    * ln points at t > 0, H > 0 (t = 0 events are outside the model's
    * support and dropped, documented); the regression is
    * [[linearFit]] verbatim on the ln points; shape/scale/r2 round at
    * 6 dp. Degenerate (one event time, zero slope) → NULL scale.
    *
    * Scale shape: nelsonAalen's cell windows + one group-keyed moment
    * aggregate; points per group = distinct event times
    * (calendar-bounded). Output: (group, n [event times used], shape
    * (= slope), scale, r2).
    */
  def weibullFit(df: DataFrame, groupCol: String, durationCol: String,
      observed: Column): DataFrame = {
    val na = nelsonAalen(df, Seq(groupCol), durationCol, observed)
    val pts = na.filter(col("duration") > 0 && col("cum_hazard") > 0.0)
      .select(col(groupCol),
        log(col("duration").cast("double")).as("_lt"),
        log(col("cum_hazard")).as("_lh"))
    linearFit(pts, groupCol, "_lt", "_lh")
      .select(col(groupCol), col("n"),
        col("slope").as("shape"),
        when(col("slope").isNotNull && col("slope") =!= 0.0,
          round(exp(-col("intercept") / col("slope")), 6))
          .cast("double").as("scale"),
        col("r2"))
  }

  /** Harrell's concordance index for right-censored survival data:
    * over comparable pairs (i had the event AND t_i < t_j), the
    * fraction where the riskier-scored subject actually failed first
    * — the AUC of survival models, and the discrimination number the
    * [[kaplanMeier]]/[[nelsonAalen]]/[[logRank]] family leaves
    * unmeasured ("does this score ORDER the failures right").
    * Tied risks count 1/2 (the standard convention); tied times are
    * not comparable and drop (the simple Harrell form).
    *
    * Exactness: FULLY exact — risks quantize to 1e6-scaled longs,
    * concordant/tied/pair counts are exact integers, and
    * C = (2·concordant + tied)/(2·pairs) is ONE rounded division of
    * integers. No pairs (everything censored or co-timed) → NULL.
    * The pairwise stage is guarded lazily in-plan at `maxPoints`
    * subjects (the [[theilSen]] contract — sample or stratify past
    * that; C is a U-statistic, a uniform subject sample estimates it
    * unbiasedly).
    *
    * Output: ONE row (n, n_pairs, concordant, tied, c_index).
    */
  def concordanceIndex(df: DataFrame, durationCol: String,
      observed: Column, riskCol: String, maxPoints: Int = 5000)
      : DataFrame = {
    val raw = df
      .filter(col(durationCol).isNotNull && observed.isNotNull
        && col(riskCol).isNotNull)
      .select(lit(1).as("_g"), col(durationCol).cast("long").as("_t"),
        when(observed, 1L).otherwise(0L).as("_e"),
        round(col(riskCol) * 1e6).cast("long").as("_r"))
    val pts = guardGroupSize(raw, "_r",
      s"concordanceIndex: exceeds $maxPoints subjects — sample or " +
        "stratify first (C is a U-statistic; a uniform sample " +
        "estimates it unbiasedly)", maxPoints)
    val a = pts.filter(col("_e") === 1L)
      .select(col("_t").as("_ta"), col("_r").as("_ra"))
    val b = pts.select(col("_t").as("_tb"), col("_r").as("_rb"))
    // a pure inequality join has no equi-key; broadcasting the
    // guarded-small EVENT side plans a bounded BroadcastNestedLoop
    // (the right physical shape for a maxPoints-bounded U-statistic),
    // never a CartesianProduct
    val pairs = broadcast(a).join(b, col("_ta") < col("_tb"))
      .agg(count(lit(1)).cast(dec).as("_np"),
        sum(when(col("_ra") > col("_rb"), 1L).otherwise(0L))
          .cast(dec).as("_c"),
        sum(when(col("_ra") === col("_rb"), 1L).otherwise(0L))
          .cast(dec).as("_tie"))
    val n = pts.agg(count(lit(1)).as("n"))
    n.crossJoin(broadcast(pairs))
      .select(col("n").cast("bigint").as("n"),
        coalesce(col("_np"), lit(0).cast(dec)).cast("bigint")
          .as("n_pairs"),
        coalesce(col("_c"), lit(0).cast(dec)).cast("bigint")
          .as("concordant"),
        coalesce(col("_tie"), lit(0).cast(dec)).cast("bigint")
          .as("tied"),
        when(col("_np") > 0,
          round((lit(2L) * col("_c") + col("_tie")).cast("double")
            / (lit(2L) * col("_np")).cast("double"), 6))
          .cast("double").as("c_index"))
  }

  /** Day-of-week seasonality index per group: mean(value | dow) /
    * mean(value) as an exact rational of 6-dp quanta —
    * (sum_dow · n_all) / (n_dow · sum_all) in scaled-long arithmetic,
    * one final rounded division. Day-of-week is computed PORTABLY from
    * epoch seconds ((days_since_epoch + 3) mod 7, 0 = Monday) — the
    * engines disagree on their native dayofweek() numbering.
    *
    * Scale shape: one (group, dow)-keyed count shuffle (≤ 7 rows per
    * group), group totals re-aggregate that table and attach
    * broadcast. Index is NULL when the group's overall sum is 0.
    * Output: (group, dow, n, seasonality).
    */
  /** Chi-squared test of independence over the (aCol, bCol)
    * contingency table, with Cramér's V effect size — the categorical
    * association screen behind "is language independent of source"
    * style corpus questions ([[theilsU]] answers the directional
    * version; this is the symmetric classic with an effect size on
    * [0, 1]).
    *
    * Exactness: observed counts, row/column marginals and N are exact
    * integers; each cell's term ((o·N − r·c)/N)²/(r·c/N) is computed
    * as ONE identically-spelled float tree from a decimal(38,0)
    * integer numerator, rounded at 12 dp and accumulated in
    * decimal(38,12) — decimal addition is exact and order-free, so
    * the cell-sum is partitioning-independent (float Σ would depend
    * on partition order). chi2/V round at 6 dp off the exact sum.
    *
    * Scale shape: one (a, b)-keyed count shuffle collapses the corpus
    * to a levels²-bounded cell table; marginals re-aggregate that
    * table and attach broadcast. NULL levels are real levels (the
    * mutualInfo contract). V is NULL when min(R−1, C−1) = 0 (a
    * single-level side has no association to measure).
    *
    * Output: one row (n, n_a_levels, n_b_levels, dof, chi2, cramers_v).
    */
  def chiSquared(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_o"))
    val rows = cells.groupBy(col("_a").as("_ar"))
      .agg(sum("_o").as("_r"), count(lit(1)).as("_rl"))
    val colsM = cells.groupBy(col("_b").as("_bc"))
      .agg(sum("_o").as("_c"), count(lit(1)).as("_cl"))
    val tot = cells.agg(sum("_o").cast(dec).as("_n"),
      count(lit(1)).as("_ncells"))
    val levA = rows.agg(count(lit(1)).as("_ra"))
    val levB = colsM.agg(count(lit(1)).as("_cb"))
    val termed = cells
      .join(broadcast(rows), col("_a") <=> col("_ar"))
      .join(broadcast(colsM), col("_b") <=> col("_bc"))
      .crossJoin(broadcast(tot))
      .withColumn("_num",
        (col("_o").cast(dec) * col("_n")
          - col("_r").cast(dec) * col("_c")).cast("double"))
      .withColumn("_den",
        col("_n").cast("double") * col("_r").cast("double")
          * col("_c").cast("double"))
      .withColumn("_term",
        round(col("_num") * col("_num") / col("_den"), 12)
          .cast("decimal(38,12)"))
    termed
      .agg(max(col("_n")).cast("long").as("n"),
        sum(col("_term")).as("_chi"))
      .crossJoin(broadcast(levA)).crossJoin(broadcast(levB))
      .select(col("n"),
        col("_ra").as("n_a_levels"), col("_cb").as("n_b_levels"),
        ((col("_ra") - 1) * (col("_cb") - 1)).as("dof"),
        round(col("_chi").cast("double"), 6).cast("double").as("chi2"),
        when((col("_ra") - 1) > 0 && (col("_cb") - 1) > 0,
          round(sqrt(col("_chi").cast("double")
            / (col("n").cast("double")
              * least(col("_ra") - 1, col("_cb") - 1).cast("double"))), 6))
          .cast("double").as("cramers_v"))
  }

  /** Per-group Jarque–Bera normality screen from exact quantized
    * moment sums: skewness g1 = m3/m2^1.5, excess kurtosis g2 =
    * m4/m2² − 3, JB = n/6·(g1² + g2²/4) — the "is this metric even
    * roughly normal" gate that decides whether z-test-family results
    * deserve trust.
    *
    * Exactness: values quantize to `scale` (cents by default — the
    * benford contract; coarser than the house 1e6 because 4th-power
    * sums of 1e6-scaled longs overflow decimal(38,0) at corpus row
    * counts, while cent-scaled x⁴ ≤ 1e20/row holds to ~1e18 rows);
    * S1..S4 accumulate in decimal(38,0), so every input to the float
    * stage is exact and partitioning-independent. The central-moment
    * trees m_k(S1..S4, n) are spelled identically on both engines
    * (the quantization scale cancels inside g1/g2), rounded at 6 dp.
    *
    * Scale shape: one group-keyed aggregate of four decimal sums —
    * map-side partials, no window, no second pass. n < 2 or zero
    * variance → NULL stats by contract.
    *
    * Output: (group, n, skewness, kurtosis, jb) — kurtosis is EXCESS.
    */
  def jarqueBera(df: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 100): DataFrame = {
    require(scale >= 1, s"scale=$scale must be >= 1")
    val x = round(col(valueCol) * scale).cast("long")
    val sums = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), x.as("_x"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x").cast(dec)).as("_s1"),
        // cast BEFORE squaring (Long x² overflows at |value| > ~3e3
        // under the 1e6 scale) — the _s3/_s4 folds already do
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_s2"),
        sum((col("_x").cast(dec) * col("_x") * col("_x")).cast(dec))
          .as("_s3"),
        sum((col("_x").cast(dec) * col("_x") * col("_x") * col("_x"))
          .cast(dec)).as("_s4"))
    val nd = col("n").cast("double")
    val mu = d("_s1") / nd
    val m2 = d("_s2") / nd - mu * mu
    val m3 = (d("_s3") / nd - lit(3.0) * mu * (d("_s2") / nd)) +
      lit(2.0) * mu * mu * mu
    val m4 = (d("_s4") / nd - lit(4.0) * mu * (d("_s3") / nd)) +
      lit(6.0) * mu * mu * (d("_s2") / nd) - lit(3.0) * mu * mu * mu * mu
    val ok = col("n") >= 2 && m2 > 0.0
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val g2 = m4 / (m2 * m2) - lit(3.0)
    sums.select(col("_g").as(groupCol), col("n"),
      when(ok, round(g1, 6)).cast("double").as("skewness"),
      when(ok, round(g2, 6)).cast("double").as("kurtosis"),
      when(ok, round(nd / lit(6.0) * (g1 * g1 + g2 * g2 / lit(4.0)), 6))
        .cast("double").as("jb"))
  }

  /** D'Agostino–Pearson K² normality omnibus — [[jarqueBera]]'s
    * finite-sample-honest sibling: JB's χ²(2) approximation is
    * miscalibrated below n ≈ 2000; D'Agostino transforms the SAME
    * sample skewness/kurtosis through their exact small-sample
    * moments to genuinely ~N(0,1) z's (skew z: D'Agostino 1970;
    * kurtosis z: Anscombe–Glynn 1983), K² = z₁² + z₂² ~ χ²(2) at
    * any usable n.
    *
    * Determinism: the jarqueBera exact decimal power sums; g₁/g₂
    * and each transform stage freeze at 12 dp (a withColumn chain
    * the oracle mirrors column-for-column); asinh is spelled
    * ln(x + √(x²+1)) and the SIGNED cube root sign(b)·e^{ln|b|/3}
    * on a 12-dp-frozen base (the in-plan LN/EXP precedent); z's
    * freeze at 6 dp before K². n < 8 (the Anscombe domain), zero
    * variance, or a zero cube-root base report NULL loudly. Output:
    * (group, n, skew_z, kurt_z, k2).
    */
  def dagostinoK2(df: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 100): DataFrame = {
    require(scale >= 1, s"scale=$scale must be >= 1")
    val x = round(col(valueCol) * scale).cast("long")
    val sums = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), x.as("_x"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x").cast(dec)).as("_s1"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_s2"),
        sum((col("_x").cast(dec) * col("_x") * col("_x")).cast(dec))
          .as("_s3"),
        sum((col("_x").cast(dec) * col("_x") * col("_x") * col("_x"))
          .cast(dec)).as("_s4"))
    val nd = col("n").cast("double")
    val mu = d("_s1") / nd
    val m2 = d("_s2") / nd - mu * mu
    val m3 = (d("_s3") / nd - lit(3.0) * mu * (d("_s2") / nd)) +
      lit(2.0) * mu * mu * mu
    val m4 = (d("_s4") / nd - lit(4.0) * mu * (d("_s3") / nd)) +
      lit(6.0) * mu * mu * (d("_s2") / nd) - lit(3.0) * mu * mu * mu * mu
    val ok = col("n") >= 8 && m2 > 0.0
    val staged = sums
      .withColumn("_g1", when(ok, round(m3 / sqrt(m2 * m2 * m2), 12)))
      // RAW kurtosis b2 (not excess): Anscombe's small-sample moments
      // E[b2] = 3(n−1)/(n+1) are stated for b2 — feeding the excess
      // form here was a caught sign-level failure (a platykurtic
      // sample scored z = +17 instead of negative)
      .withColumn("_g2", when(ok, round(m4 / (m2 * m2), 12)))
      // --- skew z (D'Agostino 1970) ---
      .withColumn("_y", round(col("_g1")
        * sqrt((nd + 1.0) * (nd + 3.0) / (lit(6.0) * (nd - 2.0))), 12))
      .withColumn("_b2", round(lit(3.0)
        * (nd * nd + lit(27.0) * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
        / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0)), 12))
      .withColumn("_w2", round(lit(-1.0)
        + sqrt(lit(2.0) * (col("_b2") - 1.0)), 12))
      .withColumn("_dl", lit(1.0) / sqrt(log(sqrt(col("_w2")))))
      .withColumn("_al", sqrt(lit(2.0) / (col("_w2") - 1.0)))
      .withColumn("_ya", round(col("_y") / col("_al"), 12))
      .withColumn("_z1", when(col("_w2") > 1.0,
        round(col("_dl") * log(col("_ya")
          + sqrt(col("_ya") * col("_ya") + 1.0)), 6)))
      // --- kurtosis z (Anscombe–Glynn 1983) ---
      .withColumn("_eb", round(lit(3.0) * (nd - 1.0) / (nd + 1.0), 12))
      .withColumn("_vb", round(lit(24.0) * nd * (nd - 2.0) * (nd - 3.0)
        / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0)), 12))
      .withColumn("_xs", round((col("_g2") - col("_eb"))
        / sqrt(col("_vb")), 12))
      .withColumn("_sb", round(lit(6.0)
        * (nd * nd - lit(5.0) * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
        * sqrt(lit(6.0) * (nd + 3.0) * (nd + 5.0)
          / (nd * (nd - 2.0) * (nd - 3.0))), 12))
      .withColumn("_aa", round(lit(6.0) + lit(8.0) / col("_sb")
        * (lit(2.0) / col("_sb")
          + sqrt(lit(1.0) + lit(4.0) / (col("_sb") * col("_sb")))), 12))
      .withColumn("_bb", round((lit(1.0) - lit(2.0) / col("_aa"))
        / (lit(1.0) + col("_xs")
          * sqrt(lit(2.0) / (col("_aa") - 4.0))), 12))
      .withColumn("_cr", when(col("_bb") =!= 0.0,
        signum(col("_bb")) * exp(log(abs(col("_bb"))) / 3.0)))
      .withColumn("_z2", when(col("_aa") > 4.0 && col("_cr").isNotNull,
        round(((lit(1.0) - lit(2.0) / (lit(9.0) * col("_aa")))
          - col("_cr"))
          / sqrt(lit(2.0) / (lit(9.0) * col("_aa"))), 6)))
    staged.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      col("_z1").cast("double").as("skew_z"),
      col("_z2").cast("double").as("kurt_z"),
      when(col("_z1").isNotNull && col("_z2").isNotNull,
        round(col("_z1") * col("_z1") + col("_z2") * col("_z2"), 6))
        .cast("double").as("k2"))
  }

  /** Per-group two-sample Cramér–von Mises statistic against the
    * pooled complement on `bins` equi-width cells — the
    * whole-distribution companion to [[ksTestBinned]]: KS reads the
    * single worst ECDF gap, CvM integrates EVERY gap (T =
    * n₁n₂/N² · Σ_points (F₁−F₂)²), so a broad small shift that never
    * spikes still registers. Born binned (the mannWhitneyBinned
    * precedent): the grid is bins-bounded by construction, so there
    * is no corpus-sized exact grid to outgrow.
    *
    * Exactness: same frozen-[min,max] cells and cumulative machinery
    * as [[ksTestBinned]]; per cell the gap numerator cum·(N−ng) −
    * (call−cum)·ng and the point weight w_q (total observations in
    * the cell) are exact integers, the weighted square sum
    * accumulates in decimal(38,0), and T_g = Σ w_q·num_q² /
    * (N²·n_g·n_r) is ONE final rounded division. NULL values are a
    * real level (ksTestBinned contract).
    *
    * Output: (group, n_group, n_rest, cvm) — cvm NULL when the group
    * is the whole input.
    */
  def cvmBinned(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val stats = df.agg(min(col(valueCol)).as("_lo"),
      max(col(valueCol)).as("_hi"))
    val points = df.crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        when(col(valueCol).isNotNull,
          when(col("_hi") > col("_lo"),
            least(floor((col(valueCol) - col("_lo")) * bins
              / (col("_hi") - col("_lo"))), lit(bins - 1)))
            .otherwise(lit(0))).cast("long").as("_q"))
    val cells = points.groupBy(col("_g"), col("_q"))
      .agg(count(lit(1)).as("_c"))
    val groups = cells.groupBy(col("_g").as("_gm")).agg(sum("_c").as("_ng"))
    val values = cells.select(col("_q").as("_vq")).distinct()
    val n = cells.agg(sum("_c").as("_n"))
    val grid = values
      .crossJoin(broadcast(groups))
      .join(cells, col("_gm") <=> col("_g") && col("_vq") <=> col("_q"),
        "left")
      .select(col("_gm").as("_g"), col("_vq").as("_q"), col("_ng"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val perGroup = Window.partitionBy("_g").orderBy("_q")
    val atValue = Window.partitionBy("_q")
    grid
      .withColumn("_cum", sum("_c").over(perGroup))
      .withColumn("_call", sum("_cum").over(atValue))
      .withColumn("_w", sum("_c").over(atValue))
      .crossJoin(broadcast(n))
      .withColumn("_num",
        (col("_cum") * (col("_n") - col("_ng"))
          - (col("_call") - col("_cum")) * col("_ng")).cast(dec))
      .groupBy(col("_g").as(groupCol))
      .agg(max("_ng").as("n_group"),
        (max("_n") - max("_ng")).as("n_rest"),
        sum(col("_w").cast(dec) * col("_num") * col("_num")).as("_ssq"),
        max("_n").as("_nn"))
      .withColumn("cvm",
        when(col("n_rest") > 0,
          round(col("_ssq").cast("double")
            / (col("_nn").cast("double") * col("_nn").cast("double")
              * col("n_group").cast("double")
              * col("n_rest").cast("double")), 6)).cast("double"))
      .select(groupCol, "n_group", "n_rest", "cvm")
  }

  /** Benjamini–Hochberg FDR step-up over a battery of p-values: rank
    * tests by p ascending, find the largest rank i with p_i ≤
    * i·alpha/m, and mark everything at or below it significant — the
    * multiple-testing gate that keeps a 50-slice drift battery from
    * crying wolf on 2-3 slices by chance every run.
    *
    * Exactness: the threshold compare is spelled p·m ≤ i·alpha (both
    * sides one float product — no division), the rank total order is
    * (p, idCols) so ties can't flip between engines, and the step-up
    * cutoff is an integer max over qualifying ranks. No rounding
    * anywhere: inputs pass through.
    *
    * Scale shape: the battery is TEST-COUNT-bounded by contract (one
    * row per test — slices × metrics, never data rows), so the
    * single-partition rank window costs m rows; the corpus-scale work
    * happened upstream producing each p. Output: input columns +
    * (rank, m, significant). NULL p-values are rejected loudly — a
    * test that produced no p is a pipeline bug, not an insignificant
    * result.
    */
  def fdrBh(df: DataFrame, pCol: String, idCols: Seq[String],
      alpha: Double, maxTests: Int = 100000): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha must be in (0,1)")
    require(idCols.nonEmpty, "fdrBh needs tiebreak id columns")
    require(maxTests >= 1, s"maxTests=$maxTests must be >= 1")
    val guarded = df.withColumn(pCol,
      when(col(pCol).isNull, raise_error(
        lit("fdrBh: NULL p-value in the battery"))).otherwise(col(pCol)))
    val w = Window.orderBy(col(pCol) +: idCols.map(col): _*)
    val all = Window.partitionBy()
    guarded
      .withColumn("rank", row_number().over(w).cast("long"))
      // the battery contract is one row per TEST; the rank window is a
      // single-partition sort, so a corpus-sized misuse (p-values per
      // document) must fail loudly rather than silently single-thread
      // — the theilSen/kendallTau maxPoints discipline, in-plan
      .withColumn("m",
        when(count(lit(1)).over(all) > maxTests, raise_error(lit(
          s"fdrBh: battery exceeds $maxTests tests — this operator " +
            "ranks ONE row per test on a single partition; aggregate " +
            "upstream or raise maxTests knowingly")).cast("long"))
          .otherwise(count(lit(1)).over(all)))
      .withColumn("_kmax",
        max(when(col(pCol) * col("m") <= col("rank") * alpha, col("rank")))
          .over(all))
      .withColumn("significant",
        coalesce(col("rank") <= col("_kmax"), lit(false)))
      .drop("_kmax")
  }

  /** Holm step-down correction — the FWER member beside [[fdrBh]]'s
    * FDR: reject hypotheses in ascending-p order while p_(j) ≤
    * α/(m−j+1), stop at the FIRST failure (every later test is
    * untouchable however small its p — the step-down contract BH
    * deliberately relaxes). Uniformly more powerful than Bonferroni
    * at identical FWER, assumption-free — the default when "any
    * single false positive is unacceptable" (launch gates, medical
    * batteries) where BH's "a controlled fraction is fine" doesn't
    * hold. Also reports the standard adjusted p: p_adj(i) = running
    * max of min(1, (m−j+1)·p_j), 9-dp frozen per term.
    *
    * Same battery contract as [[fdrBh]]: one row per TEST, NULL p
    * loudly rejected, single-partition rank window guarded by
    * `maxTests` (batteries are test-count-bounded by construction).
    * Output: input columns + rank, m, p_adj, significant.
    */
  def holm(df: DataFrame, pCol: String, idCols: Seq[String],
      alpha: Double, maxTests: Int = 100000): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha must be in (0,1)")
    require(idCols.nonEmpty, "holm needs tiebreak id columns")
    require(maxTests >= 1, s"maxTests=$maxTests must be >= 1")
    val guarded = df.withColumn(pCol,
      when(col(pCol).isNull, raise_error(
        lit("holm: NULL p-value in the battery"))).otherwise(col(pCol)))
    val w = Window.orderBy(col(pCol) +: idCols.map(col): _*)
    val all = Window.partitionBy()
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    guarded
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("m",
        when(count(lit(1)).over(all) > maxTests, raise_error(lit(
          s"holm: battery exceeds $maxTests tests — this operator " +
            "ranks ONE row per test on a single partition; aggregate " +
            "upstream or raise maxTests knowingly")).cast("long"))
          .otherwise(count(lit(1)).over(all)))
      .withColumn("p_adj",
        max(round(least(lit(1.0),
          col(pCol) * (col("m") - col("rank") + 1)), 9)).over(wCum))
      .withColumn("_kfail",
        min(when(col(pCol) * (col("m") - col("rank") + 1) > alpha,
          col("rank"))).over(all))
      .withColumn("significant",
        col("rank") < coalesce(col("_kfail"), col("m") + 1))
      .drop("_kfail")
  }

  /** Hochberg step-up correction — [[holm]]'s sharper twin: the SAME
    * α/(m−j+1) thresholds, but rejection runs from the LARGEST p
    * down — reject everything at or below the largest j whose p_(j)
    * clears its threshold, so one strong test can rescue borderline
    * siblings Holm's first-failure stop abandons. Uniformly more
    * powerful than Holm; the price is an independence/positive-
    * dependence assumption (Holm is assumption-free — both stay in
    * the battery for that reason). Adjusted p is the REVERSE running
    * min of min(1, (m−j+1)·p_j), 9-dp frozen per term.
    *
    * Same battery contract as [[fdrBh]]/[[holm]]: one row per TEST,
    * NULL p loudly rejected, deterministic (p, idCols) rank,
    * single-partition window guarded by `maxTests`. Output: input
    * columns + rank, m, p_adj, significant.
    */
  def hochberg(df: DataFrame, pCol: String, idCols: Seq[String],
      alpha: Double, maxTests: Int = 100000): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha must be in (0,1)")
    require(idCols.nonEmpty, "hochberg needs tiebreak id columns")
    require(maxTests >= 1, s"maxTests=$maxTests must be >= 1")
    val guarded = df.withColumn(pCol,
      when(col(pCol).isNull, raise_error(
        lit("hochberg: NULL p-value in the battery"))).otherwise(col(pCol)))
    val w = Window.orderBy(col(pCol) +: idCols.map(col): _*)
    val all = Window.partitionBy()
    val wRev = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    guarded
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("m",
        when(count(lit(1)).over(all) > maxTests, raise_error(lit(
          s"hochberg: battery exceeds $maxTests tests — this operator " +
            "ranks ONE row per test on a single partition; aggregate " +
            "upstream or raise maxTests knowingly")).cast("long"))
          .otherwise(count(lit(1)).over(all)))
      .withColumn("p_adj",
        min(round(least(lit(1.0),
          col(pCol) * (col("m") - col("rank") + 1)), 9)).over(wRev))
      .withColumn("_kmax",
        max(when(col(pCol) * (col("m") - col("rank") + 1) <= alpha,
          col("rank"))).over(all))
      .withColumn("significant",
        coalesce(col("rank") <= col("_kmax"), lit(false)))
      .drop("_kmax")
  }

  /** Pinball (quantile) loss per group — the PROPER scoring rule for
    * a quantile prediction (MAE scores the median; pinball at τ
    * scores the τ-quantile, asymmetrically: under-prediction of a
    * high quantile costs τ, over-prediction 1−τ): here the predictor
    * is the group's own exact ⌈τn⌉-th order statistic, so the score
    * reads "how sharp can a constant τ-quantile forecast be on this
    * distribution" — the baseline every quantile model must beat.
    *
    * Exactness: the varCvar rank-selected order statistic (tie-
    * invariant, no interpolation) on 1e6-scaled longs; per-row
    * losses are exact integer gaps × the τ literals, frozen at 12 dp
    * into a decimal sum; one rounded division. Output: (group, n,
    * q_hat, pinball).
    */
  def pinballLoss(df: DataFrame, groupCol: String, valueCol: String,
      tau: Double): DataFrame = {
    require(tau > 0.0 && tau < 1.0, s"pinballLoss: tau in (0,1), got $tau")
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_y"))
      .localCheckpoint() // the rank selection + the loss fold read it
    val w = Window.partitionBy("_g").orderBy("_y")
    val qhat = pts
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("_g")))
      .withColumn("_r", ceil(lit(tau) * col("_n")).cast("long"))
      .filter(col("_rn") === col("_r"))
      .select(col("_g").as("_gq"), col("_y").as("_q"))
    pts.join(broadcast(qhat), col("_g") <=> col("_gq")).drop("_gq")
      .withColumn("_l", round(
        when(col("_y") > col("_q"),
          lit(tau) * (col("_y") - col("_q")).cast("double"))
          .otherwise(lit(1.0 - tau)
            * (col("_q") - col("_y")).cast("double")) / 1e6, 12))
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"), max(col("_q")).as("_qh"),
        sum(col("_l").cast("decimal(38,12)")).as("_sl"))
      .select(col(groupCol), col("n").cast("bigint").as("n"),
        round(col("_qh").cast("double") / 1e6, 6).cast("double")
          .as("q_hat"),
        round(col("_sl").cast("double") / col("n").cast("double"), 6)
          .cast("double").as("pinball"))
  }

  /** Winkler interval score per group — the proper scoring rule for
    * a central prediction interval ((u−l) + (2/α)·undershoot +
    * (2/α)·overshoot): width alone rewards vagueness, coverage alone
    * rewards cowardice; the interval score prices BOTH, and a
    * narrower interval wins exactly when its misses are rare enough.
    * Scored here for the in-sample normal interval μ ± z·s (the
    * honest "what would a Gaussian head have promised" baseline).
    *
    * Determinism: exact decimal moments; the bounds freeze at 6 dp
    * BEFORE the per-row comparisons (both engines compare identical
    * doubles against 6-dp-quantized y); per-row penalties freeze at
    * 12 dp into a decimal sum; coverage is an exact integer count.
    * Degenerate (n < 2, zero variance) → NULL. Output: (group, n,
    * lo, hi, coverage, interval_score).
    */
  def intervalScore(df: DataFrame, groupCol: String, valueCol: String,
      alpha: Double = 0.05, z: Double = 1.959964): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"intervalScore: alpha in (0,1)")
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_y"))
      .localCheckpoint() // the moment fold + the score pass read it
    val mom = pts.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_y").cast(dec)).as("_s1"),
        sum((col("_y").cast(dec) * col("_y")).cast(dec)).as("_q1"))
      .withColumn("_mu", col("_s1").cast("double")
        / col("_n").cast("double") / 1e6)
      .withColumn("_var",
        (col("_n").cast("double") * col("_q1").cast("double")
          - col("_s1").cast("double") * col("_s1").cast("double"))
          / (col("_n").cast("double")
            * (col("_n").cast("double") - 1.0)) / 1e12)
      .withColumn("_lo", when(col("_n") >= 2 && col("_var") > 0.0,
        round(col("_mu") - lit(z) * sqrt(col("_var")), 6)))
      .withColumn("_hi", when(col("_n") >= 2 && col("_var") > 0.0,
        round(col("_mu") + lit(z) * sqrt(col("_var")), 6)))
    val scored = pts.join(broadcast(mom), col("_g") <=> col("_gm"))
      .drop("_gm")
      .withColumn("_yd", col("_y").cast("double") / 1e6)
      .withColumn("_sc", round((col("_hi") - col("_lo"))
        + when(col("_yd") < col("_lo"),
          lit(2.0 / alpha) * (col("_lo") - col("_yd"))).otherwise(lit(0.0))
        + when(col("_yd") > col("_hi"),
          lit(2.0 / alpha) * (col("_yd") - col("_hi"))).otherwise(lit(0.0)),
        12))
      .withColumn("_in", when(col("_yd") >= col("_lo")
        && col("_yd") <= col("_hi"), 1L).otherwise(0L))
    scored.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"), max(col("_lo")).as("_l"),
        max(col("_hi")).as("_h"),
        sum(col("_in")).as("_cov"),
        sum(col("_sc").cast("decimal(38,12)")).as("_ss"))
      .select(col(groupCol), col("n").cast("bigint").as("n"),
        col("_l").cast("double").as("lo"),
        col("_h").cast("double").as("hi"),
        when(col("_l").isNotNull,
          round(col("_cov").cast("double") / col("n").cast("double"), 6))
          .cast("double").as("coverage"),
        when(col("_l").isNotNull,
          round(col("_ss").cast("double") / col("n").cast("double"), 6))
          .cast("double").as("interval_score"))
  }

  /** Split-conformal quantile per group: q̂ = the k-th smallest
    * 6-dp-quantized score with k = min(n, ⌈(1−alpha)·(n+1)⌉) — the
    * calibration constant behind distribution-free prediction
    * intervals ("inflate every interval to the q̂ of the holdout
    * nonconformity scores and coverage ≥ 1−alpha follows, no
    * normality assumed").
    *
    * Exactness: the order statistic is selected by COUNTING — the
    * first (group, value) cell whose cumulative count reaches k —
    * never by float quantile interpolation; k comes from one
    * identically-spelled ceil tree (IEEE product noise can only push
    * k conservatively up, the safe direction for coverage — both
    * engines compute the same double, so the same k).
    *
    * Scale shape: one (group, value) cell shuffle; the cumulative
    * window runs over the 6-dp VOCABULARY of each group (the
    * mannWhitney cost class — pre-bin a continuous score at 100 TB).
    * NULL scores are dropped (no nonconformity measured), n < 1 →
    * no row. Output: (group, n, k, qhat).
    */
  def conformalQuantile(df: DataFrame, groupCol: String, scoreCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha must be in (0,1)")
    val cells = df.filter(col(scoreCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(scoreCol) * 1e6).cast("long").as("_q"))
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
    val groups = cells.groupBy(col("_g").as("_gm")).agg(sum("_c").as("n"))
    val w = Window.partitionBy("_g").orderBy("_q")
    cells
      .withColumn("_cum", sum("_c").over(w))
      .join(broadcast(groups), col("_g") <=> col("_gm")).drop("_gm")
      .withColumn("k",
        least(col("n"), ceil((lit(1.0) - alpha) * (col("n") + 1)
          .cast("double")).cast("long")))
      .filter(col("_cum") >= col("k"))
      .groupBy(col("_g").as(groupCol))
      .agg(max("n").as("n"), max("k").as("k"),
        round(min("_q") / lit(1e6), 6).cast("double").as("qhat"))
  }

  /** Cochran–Armitage trend test per group: is a binary rate
    * monotonically trending across ORDERED buckets (weeks, score
    * deciles, cohort ages) — the "is this actually drifting, not just
    * wobbling" gate a plain per-bucket z-test battery can't answer.
    *
    * With bucket score s (any integer ordinal — the statistic is
    * translation-invariant), exact integer sums N, S = Σpos,
    * T1 = Σ s·pos, T2 = Σ s·n, T3 = Σ s²·n accumulate in
    * decimal(38,0); z = (T1 − T2·S/N) /
    * sqrt(S/N·(1−S/N)·(T3 − T2·T2/N)) is ONE identically-spelled
    * float tree rounded at 6 dp; zero variance (one bucket, or all
    * success / all failure) → NULL.
    *
    * Scale shape: one (group, bucket) cell shuffle, then a
    * group-keyed fold of five decimal sums — map-side partials, no
    * window anywhere. Output: (group, n, n_pos, n_buckets, z).
    */
  def cochranArmitage(df: DataFrame, groupCol: String, bucket: Column,
      success: Column): DataFrame = {
    val cells = df
      .select(col(groupCol).as("_g"), bucket.cast("long").as("_s"),
        when(success, 1L).otherwise(0L).as("_y"))
      .groupBy("_g", "_s")
      .agg(count(lit(1)).as("_n"), sum("_y").as("_p"))
    val sums = cells.groupBy(col("_g").as(groupCol))
      .agg(sum("_n").as("n"), sum("_p").as("n_pos"),
        count(lit(1)).as("n_buckets"),
        sum((col("_s").cast(dec) * col("_p")).cast(dec)).as("_t1"),
        sum((col("_s").cast(dec) * col("_n")).cast(dec)).as("_t2"),
        sum((col("_s").cast(dec) * col("_s") * col("_n")).cast(dec))
          .as("_t3"))
    val pbar = d("n_pos") / d("n")
    val num = d("_t1") - d("_t2") * pbar
    val varT = d("_t3") - d("_t2") * d("_t2") / d("n")
    val den = sqrt(pbar * (lit(1.0) - pbar) * varT)
    sums.select(col(groupCol), col("n"), col("n_pos"), col("n_buckets"),
      when(col("n_pos") > 0 && col("n_pos") < col("n")
          && col("n_buckets") > 1,
        round(num / den, 6)).cast("double").as("z"))
  }

  /** Isotonic (PAV) calibration curve per group: bin scores onto
    * `bins` equi-width cells of the frozen global [min, max] (the
    * ksTestBinned freeze), then fit the monotone-non-decreasing rate
    * curve via the minimax closed form fitted(t) = max_{i≤t}
    * min_{j≥t} rate(i..j) — the classic probability-calibration step
    * ("a score of 0.8 should mean 80%") that respects ranking instead
    * of imposing a sigmoid.
    *
    * Exactness: cell counts and prefix sums are exact integers;
    * interval rates round at 6 dp BEFORE the min/max selection, so
    * the chosen value is the same double on both engines however the
    * true rationals tie. PAV runs over OBSERVED cells only (an empty
    * bin contributes no constraint). NULL scores are dropped; NULL
    * labels are failures (document per use).
    *
    * Scale shape: one (group, bin) cell shuffle collapses the corpus
    * to ≤ bins cells per group; the (i, j, t) triple expansion is
    * bins³-bounded CELL work (8000 rows at 20 bins — never data), an
    * explicit contract like theilSen's maxPoints. Output: (group,
    * bin, n, n_pos, rate_raw, rate_iso) with rate_iso non-decreasing
    * in bin.
    */
  def isotonicCalibration(df: DataFrame, groupCol: String,
      scoreCol: String, label: Column, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 64,
      s"bins=$bins out of the sane 2..64 window (cell work is bins^3)")
    val stats = df.agg(min(col(scoreCol)).as("_lo"),
      max(col(scoreCol)).as("_hi"))
    val binned = df.filter(col(scoreCol).isNotNull)
      .crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        when(col("_hi") > col("_lo"),
          least(floor((col(scoreCol) - col("_lo")) * bins
            / (col("_hi") - col("_lo"))), lit(bins - 1)))
          .otherwise(lit(0)).cast("long").as("_b"),
        when(label, 1L).otherwise(0L).as("_y"))
    val w = Window.partitionBy("_g").orderBy("_b")
    val cells = binned.groupBy("_g", "_b")
      .agg(count(lit(1)).as("_n"), sum("_y").as("_p"))
      .withColumn("_t", row_number().over(w))
      .withColumn("_cn", sum("_n").over(w))
      .withColumn("_cp", sum("_p").over(w))
    val iSide = cells.select(col("_g").as("_gi"), col("_t").as("_i"),
      (col("_cn") - col("_n")).as("_cni"), (col("_cp") - col("_p")).as("_cpi"))
    val jSide = cells.select(col("_g").as("_gj"), col("_t").as("_j"),
      col("_cn").as("_cnj"), col("_cp").as("_cpj"))
    val pairs = iSide
      .join(jSide, col("_gi") <=> col("_gj") && col("_i") <= col("_j"))
      .select(col("_gi").as("_gp"), col("_i"), col("_j"),
        round((col("_cpj") - col("_cpi"))
          / (col("_cnj") - col("_cni")).cast("double"), 6).as("_avg"))
    val tSide = cells.select(col("_g").as("_gt"), col("_t").as("_tt"))
    val fitted = pairs
      .join(tSide, col("_gp") <=> col("_gt")
        && col("_i") <= col("_tt") && col("_j") >= col("_tt"))
      .groupBy(col("_gp"), col("_tt"), col("_i"))
      .agg(min("_avg").as("_minj"))
      .groupBy(col("_gp"), col("_tt"))
      .agg(max("_minj").as("rate_iso"))
    cells
      .join(fitted, col("_g") <=> col("_gp") && col("_t") === col("_tt"))
      .select(col("_g").as(groupCol), col("_b").as("bin"),
        col("_n").as("n"), col("_p").as("n_pos"),
        round(col("_p") / col("_n").cast("double"), 6).as("rate_raw"),
        col("rate_iso").cast("double").as("rate_iso"))
  }

  /** Per-group ordinary least squares of y on x with R²: the
    * workhorse "fit a line and say how much it explains" summary
    * ([[theilSen]] is the robust sibling; OLS is what every dashboard
    * actually plots, and R² is the association strength Kendall/
    * Pearson don't state in slope units).
    *
    * Exactness: x and y quantize to 6-dp scaled longs; the six sums
    * n, Sx, Sy, Sxx, Syy, Sxy accumulate in decimal(38,0), so every
    * float input is exact. slope = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²) —
    * the quantization scale cancels — intercept = ȳ − slope·x̄ (one
    * descale), R² = num²/(den_x·den_y); each is ONE identically-
    * spelled float tree rounded at 6 dp. Constant x → NULL everything
    * (no line); constant y → slope/intercept exact, R² NULL (0/0).
    *
    * Scale shape: one group-keyed fold of six decimal sums — map-side
    * partials, no window, no second pass (the cohensD class).
    * Output: (group, n, slope, intercept, r2).
    */
  /** Dickey–Fuller unit-root t-statistic per group (the non-augmented
    * DF form): regress Δy_t = α + β·y_{t−1} and report t(β) = β/se(β)
    * — "does this series mean-revert (β < 0, large negative t) or
    * random-walk (β ≈ 0)", the stationarity gate run before trusting
    * any [[linearFit]]/forecast on a level series. Compare t against
    * the DF critical values (−2.86 at 5% with constant), NOT the
    * normal table — the null distribution is nonstandard, which is
    * the entire point of the test.
    *
    * Exactness: values quantize to 1e6-scaled longs; the (y_{t−1},
    * Δy_t) pairs come from one lag window over the (orderCol) total
    * order and are exact integer differences; regression moments
    * accumulate in decimal(38,0) (the [[linearFit]] discipline); β,
    * SSE, se, and t are one identically-spelled float tree rounded at
    * 6 dp (the quantization scale cancels in t). NULL when n < 3 or
    * the variance terms degenerate.
    *
    * Scale shape: one per-group ordered window (the rollingSlope cost
    * class) + one group-keyed moment aggregate. Output: (group, n,
    * beta, t_df) with beta de-scaled to natural units per unit y.
    */
  def dickeyFuller(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy("_g").orderBy("_o")
    val pairs = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        round(col(valueCol) * 1e6).cast("long").as("_yv"))
      .withColumn("_x", lag("_yv", 1).over(w))
      .filter(col("_x").isNotNull)
      .select(col("_g"), col("_x"), (col("_yv") - col("_x")).as("_y"))
    val sums = pairs.groupBy("_g")
      .agg(count(lit(1)).as("n"),
        sum(col("_x").cast(dec)).as("_sx"),
        sum(col("_y").cast(dec)).as("_sy"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_sxx"),
        sum((col("_y").cast(dec) * col("_y")).cast(dec)).as("_syy"),
        sum((col("_x").cast(dec) * col("_y")).cast(dec)).as("_sxy"))
    val nd = col("n").cast("double")
    val sxx = nd * d("_sxx") - d("_sx") * d("_sx")
    val sxy = nd * d("_sxy") - d("_sx") * d("_sy")
    val syy = nd * d("_syy") - d("_sy") * d("_sy")
    val beta = sxy / sxx
    // SSE·n = Syy_c − β·Sxy_c on the n-scaled centered moments; the
    // n factors cancel inside t (se² = (SSE/(n−2))/Sxx_c·n … spelled
    // once, identically, on both engines)
    val sse = (syy - beta * sxy) / nd
    val t = beta / sqrt((sse / (nd - 2.0)) / (sxx / nd))
    sums.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      when(col("n") >= 3 && sxx > 0.0, round(beta, 6))
        .cast("double").as("beta"),
      when(col("n") >= 3 && sxx > 0.0 && syy - beta * sxy > 0.0,
        round(t, 6)).cast("double").as("t_df"))
  }

  /** Engle–Granger two-step cointegration test per group — "do these
    * two trending series share a long-run equilibrium" (spend vs
    * traffic, price vs index, replica lag vs load): step 1 fits the
    * cointegrating OLS y = a + b·x ([[linearFit]] verbatim — its
    * published 6-dp slope/intercept ARE the equilibrium vector);
    * step 2 runs the no-constant Dickey–Fuller regression
    * ([[dickeyFuller]] verbatim) on the 6-dp-frozen residuals —
    * a strongly negative adf_t says the residual mean-reverts, i.e.
    * the pair is cointegrated (read against the Engle–Granger
    * critical values, not the plain DF table — the residual was
    * FITTED, which shifts the null distribution; the statistic is
    * the portable part).
    *
    * Determinism: both steps are the existing kernels' contracts
    * (exact decimal moments, 6-dp params, 6-dp residuals); NULL
    * adf_t propagates visibly for degenerate groups. Scale shape:
    * two group aggregates + one group-keyed fit join + one lag
    * window. Output: (group, n, beta, intercept, r2, gamma, adf_t).
    */
  def engleGranger(df: DataFrame, groupCol: String, orderCol: String,
      yCol: String, xCol: String): DataFrame = {
    val pts = df.filter(col(yCol).isNotNull && col(xCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        col(yCol).cast("double").as("_yy"),
        col(xCol).cast("double").as("_xx"))
      .localCheckpoint() // the fit and the residual stage both read it
    val fit = linearFit(pts, "_g", "_xx", "_yy")
      .select(col("_g"), col("n"), col("slope"), col("intercept"),
        col("r2"))
    val resid = pts
      .join(fit.select(col("_g"), col("slope"), col("intercept")), Seq("_g"))
      .withColumn("_r", round(col("_yy")
        - (col("intercept") + col("slope") * col("_xx")), 6))
    val adf = dickeyFuller(resid, "_g", "_o", "_r")
      .select(col("_g"), col("beta").as("gamma"), col("t_df").as("adf_t"))
    fit.join(adf, Seq("_g"))
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        col("slope").as("beta"), col("intercept"), col("r2"),
        col("gamma"), col("adf_t"))
  }

  def linearFit(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val sums = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_x"),
        round(col(yCol) * 1e6).cast("long").as("_y"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x").cast(dec)).as("_sx"),
        sum(col("_y").cast(dec)).as("_sy"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_sxx"),
        sum((col("_y").cast(dec) * col("_y")).cast(dec)).as("_syy"),
        sum((col("_x").cast(dec) * col("_y")).cast(dec)).as("_sxy"))
    val nd = col("n").cast("double")
    val num = nd * d("_sxy") - d("_sx") * d("_sy")
    val denX = nd * d("_sxx") - d("_sx") * d("_sx")
    val denY = nd * d("_syy") - d("_sy") * d("_sy")
    val slope = num / denX
    sums.select(col("_g").as(groupCol), col("n"),
      when(denX > 0.0, round(slope, 6)).cast("double").as("slope"),
      when(denX > 0.0,
        round(d("_sy") / nd / lit(1e6) - slope * (d("_sx") / nd / lit(1e6)),
          6)).cast("double").as("intercept"),
      when(denX > 0.0 && denY > 0.0,
        round(num * num / (denX * denY), 6)).cast("double").as("r2"))
  }

  /** Multi-covariate OLS per group — y on (x1, x2) with an intercept,
    * reporting β, se(β), t, and R²: "regress y on x1..xp", the single
    * most common analytics ask beyond [[linearFit]]'s one covariate.
    * p = 2 is the closed-form tier (the normal equations reduce to one
    * 2×2 centered solve via Cramer, every determinant a writable
    * float tree); higher p wants a Gram-matrix + in-plan elimination
    * unroll and is rejected loudly rather than silently mis-solved.
    *
    * Exactness (§5.4): inputs quantize to 1e6-scaled longs; all ten
    * Gram moments accumulate in decimal(38,0) (exact, order-free);
    * every derived quantity is ONE identically-spelled double tree on
    * those moments — n-scaled centered moments Sij = n·Σxixj − Σxi·Σxj,
    * det = S11·S22 − S12², Cramer numerators, SSE = (Syy − b1·S1y −
    * b2·S2y)/n, se from the adjugate diagonals — rounded at 6 dp.
    * Degenerate panels (n < 4, collinear/constant covariates det ≤ 0,
    * or zero residual variance for se/t) yield NULL, pinned.
    *
    * Scale shape: one group-keyed hash aggregate (map-side partials,
    * ten decimal sums), zero joins, zero windows — the [[linearFit]]
    * cost class exactly; 100× data changes nothing but the scan.
    * Output: (group, n, b0, b1, b2, se_b0, se_b1, se_b2, t_b1, t_b2,
    * r2), β de-scaled to natural units.
    */
  def linearFitMulti(df: DataFrame, groupCol: String, xCols: Seq[String],
      yCol: String): DataFrame = {
    require(xCols.size == 2,
      s"linearFitMulti: exactly 2 covariates supported (closed-form " +
        s"2x2 solve); got ${xCols.size} — for p=1 use linearFit, " +
        "for p=3 use linearFitMulti3")
    val Seq(x1c, x2c) = xCols
    val rows = df.filter(col(x1c).isNotNull && col(x2c).isNotNull
        && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(x1c) * 1e6).cast("long").as("_x1"),
        round(col(x2c) * 1e6).cast("long").as("_x2"),
        round(col(yCol) * 1e6).cast("long").as("_y"))
    def m(a: String, b: String): Column =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val sums = rows.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x1").cast(dec)).as("_s1"),
        sum(col("_x2").cast(dec)).as("_s2"),
        sum(col("_y").cast(dec)).as("_sy"),
        m("_x1", "_x1").as("_s11"), m("_x2", "_x2").as("_s22"),
        m("_x1", "_x2").as("_s12"), m("_x1", "_y").as("_s1y"),
        m("_x2", "_y").as("_s2y"), m("_y", "_y").as("_syy"))
    val nd = col("n").cast("double")
    // n-scaled centered moments: Sij = n·Σxixj − Σxi·Σxj = n²·Cov
    val cS11 = nd * d("_s11") - d("_s1") * d("_s1")
    val cS22 = nd * d("_s22") - d("_s2") * d("_s2")
    val cS12 = nd * d("_s12") - d("_s1") * d("_s2")
    val cS1y = nd * d("_s1y") - d("_s1") * d("_sy")
    val cS2y = nd * d("_s2y") - d("_s2") * d("_sy")
    val cSyy = nd * d("_syy") - d("_sy") * d("_sy")
    val det = cS11 * cS22 - cS12 * cS12
    // Cramer on the centered 2×2 (the n factors cancel in β)
    val b1 = (cS1y * cS22 - cS2y * cS12) / det
    val b2 = (cS2y * cS11 - cS1y * cS12) / det
    val b0s = (d("_sy") - b1 * d("_s1") - b2 * d("_s2")) / nd // scaled units
    // SSE in scaled² units: Cyy − b1·C1y − b2·C2y with Cij = Sij/n
    val sse = (cSyy - b1 * cS1y - b2 * cS2y) / nd
    val s2 = sse / (nd - 3.0)
    // Var(βj) = s²·(C⁻¹)jj; C⁻¹ = n·adj(S)/det ⇒ diag = n·(S22, S11)/det
    val se1 = sqrt(s2 * nd * cS22 / det)
    val se2 = sqrt(s2 * nd * cS11 / det)
    // Var(β0) = s²·(1/n + x̄'C⁻¹x̄), x̄'C⁻¹x̄ = (s1²·S22 − 2·s1·s2·S12
    //   + s2²·S11)/(n·det) with x̄i = si/n
    val se0 = sqrt(s2 * (lit(1.0) / nd
      + (d("_s1") * d("_s1") * cS22 - lit(2.0) * d("_s1") * d("_s2") * cS12
        + d("_s2") * d("_s2") * cS11) / (nd * det)))
    val r2 = (b1 * cS1y + b2 * cS2y) / cSyy
    val okB = col("n") >= 4 && det > 0.0
    val okT = okB && sse > 0.0
    sums.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      when(okB, round(b0s / lit(1e6), 6)).cast("double").as("b0"),
      when(okB, round(b1, 6)).cast("double").as("b1"),
      when(okB, round(b2, 6)).cast("double").as("b2"),
      when(okT, round(se0 / lit(1e6), 6)).cast("double").as("se_b0"),
      when(okT, round(se1, 6)).cast("double").as("se_b1"),
      when(okT, round(se2, 6)).cast("double").as("se_b2"),
      when(okT, round(b1 / se1, 6)).cast("double").as("t_b1"),
      when(okT, round(b2 / se2, 6)).cast("double").as("t_b2"),
      when(okB && cSyy > 0.0, round(r2, 6)).cast("double").as("r2"))
  }

  /** Distribution-free median confidence interval per group — the
    * order-statistic CI (x_(k), x_(n+1−k)) with k = max(1,
    * ⌊(n − z√n)/2⌋), the binomial-normal-approximation rank bound:
    * no normality, no symmetry, no bootstrap randomness — the honest
    * interval to put on a latency/spend median next to L109's
    * bootstrap MEAN CI. Also reports the exact LOWER median
    * x_(⌊(n+1)/2⌋) (the L277 Hodges–Lehmann convention).
    *
    * Determinism: values quantize to 1e6-scaled longs; every rank is
    * selected by COUNTING over (group, value) cells (the conformal
    * pattern — never float interpolation); k comes from one
    * identically-spelled double tree with the PINNED z (both engines
    * compute the same double, so the same k). n < 6 (k would exceed
    * the median rank region meaningfully) → NULL bounds, n still
    * reported.
    *
    * Scale shape: one (group, value) cell shuffle + one cumulative
    * window over each group's value VOCABULARY + one group fold.
    * Output: (group, n, median_lo, ci_lo, ci_hi).
    */
  def medianCI(df: DataFrame, groupCol: String, valueCol: String,
      alpha: Double = 0.05): DataFrame = {
    val z = MdeZ.getOrElse(("alpha", alpha), sys.error(
      s"medianCI: unsupported alpha=$alpha — pinned grid: " +
        MdeZ.keys.filter(_._1 == "alpha").map(_._2).toSeq.sorted.mkString(", ")))
    val cells = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
      .groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
    val wCum = Window.partitionBy("_g").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("_g")
    val ranked = cells
      .withColumn("_cum", sum("_c").over(wCum))
      .withColumn("_n", sum("_c").over(wAll))
    val nd = col("_n").cast("double")
    val k = greatest(lit(1L),
      floor((nd - lit(z) * sqrt(nd)) / 2.0).cast("long"))
    val medRank = floor((nd + 1.0) / 2.0).cast("long")
    ranked
      .withColumn("_k", k)
      .groupBy(col("_g").as(groupCol))
      .agg(max("_n").cast("bigint").as("n"),
        (min(when(col("_cum") >= medRank, col("_v"))) / 1e6)
          .cast("double").as("median_lo"),
        (min(when(col("_cum") >= col("_k"), col("_v"))) / 1e6)
          .cast("double").as("_lo"),
        (min(when(col("_cum") >= col("_n") + 1L - col("_k"), col("_v")))
          / 1e6).cast("double").as("_hi"))
      .select(col(groupCol), col("n"), col("median_lo"),
        when(col("n") >= 6, col("_lo")).cast("double").as("ci_lo"),
        when(col("n") >= 6, col("_hi")).cast("double").as("ci_hi"))
  }

  /** Minimum detectable effect per group — the experiment-DESIGN
    * number the A/B family (SRM, CUPED, diff-in-diff, SPRT) assumes
    * was computed first: with this group's variance and THIS sample
    * size per arm, the smallest true mean shift a two-sample test
    * would detect at significance α and power 1−β is MDE =
    * (z_{1−α/2} + z_{power})·s·√(2/n). Reported absolute and relative
    * to the mean ("we can detect a 3.2 % move, so a 1 % hypothesis is
    * unanswerable at this traffic").
    *
    * Determinism: s is the sample sd from exact decimal(38,0) moments
    * of 1e6-quantized values; the z constants are PINNED doubles
    * (interpolated verbatim into the oracle — the sprtConstants
    * pattern), supported at the standard (α, power) grid and rejected
    * loudly elsewhere; MDE is one identically-spelled float tree
    * rounded at 6 dp. n < 2 or zero variance → NULL.
    *
    * Scale shape: one group-keyed moment aggregate, nothing else.
    * Output: (group, n, mean, sd, mde_abs, mde_rel).
    */
  def minDetectableEffect(df: DataFrame, groupCol: String,
      valueCol: String, alpha: Double = 0.05,
      power: Double = 0.8): DataFrame = {
    val zAlpha = MdeZ.getOrElse(("alpha", alpha), sys.error(
      s"minDetectableEffect: unsupported alpha=$alpha — pinned grid: " +
        MdeZ.keys.filter(_._1 == "alpha").map(_._2).toSeq.sorted.mkString(", ")))
    val zPower = MdeZ.getOrElse(("power", power), sys.error(
      s"minDetectableEffect: unsupported power=$power — pinned grid: " +
        MdeZ.keys.filter(_._1 == "power").map(_._2).toSeq.sorted.mkString(", ")))
    val sums = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
      .groupBy("_g")
      .agg(count(lit(1)).as("n"),
        sum(col("_x").cast(dec)).as("_s"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_q"))
    val nd = col("n").cast("double")
    val varS = (nd * d("_q") - d("_s") * d("_s")) / (nd * (nd - 1.0))
    val sd = sqrt(varS) / lit(1e6)
    val mean = d("_s") / nd / lit(1e6)
    val mde = lit(zAlpha + zPower) * sd * sqrt(lit(2.0) / nd)
    val ok = col("n") >= 2 && varS > 0.0
    sums.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      round(mean, 6).cast("double").as("mean"),
      when(ok, round(sd, 6)).cast("double").as("sd"),
      when(ok, round(mde, 6)).cast("double").as("mde_abs"),
      when(ok && mean =!= 0.0, round(mde / mean, 6))
        .cast("double").as("mde_rel"))
  }

  /** Pinned two-sided z(1−α/2) and one-sided z(power) doubles for
    * [[minDetectableEffect]] — the standard grid, frozen so both
    * engines multiply by identical constants. */
  private[graft] val MdeZ: Map[(String, Double), Double] = Map(
    ("alpha", 0.10) -> 1.6448536269514722,
    ("alpha", 0.05) -> 1.959963984540054,
    ("alpha", 0.01) -> 2.5758293035489004,
    ("power", 0.8) -> 0.8416212335729143,
    ("power", 0.9) -> 1.2815515655446004,
    ("power", 0.95) -> 1.6448536269514722)

  /** Weighted least squares, one covariate — [[linearFit]] with a
    * per-row weight column: the heteroscedasticity workhorse (inverse-
    * variance weighting of aggregated cells, importance-weighted
    * trends, reliability-weighted sensors). Closed form on weighted
    * moments: slope = (ΣwΣwxy − ΣwxΣwy)/(ΣwΣwx² − (Σwx)²), intercept
    * = (Σwy − slope·Σwx)/Σw, R² its weighted analogue. w = 1
    * everywhere reproduces [[linearFit]] exactly (pinned); zero-weight
    * rows drop out exactly; negative weights are rejected loudly
    * in-plan.
    *
    * Exactness: x, y, w all quantize to 1e6-scaled longs; the seven
    * weighted moments (including the TRIPLE products w·x·y, w·x²,
    * w·y²) accumulate in decimal(38,0) — exact, order-free. The
    * triple products cost headroom: at w ≈ 1, |y| ≈ 1e5 the w·y²
    * term is ~1e28/row, leaving ~1e10 rows per group before
    * decimal(38) overflows (Spark then yields NULL, not a wrong
    * number) — for bigger groups pre-aggregate to cells first; the
    * slope/intercept/R² trees are [[linearFit]]'s with Σw in n's
    * place, de-scaled once. Degenerate weighted x-variance → NULL.
    * One hash aggregate, zero joins/windows. Output: (group, n,
    * sum_w, slope, intercept, r2).
    */
  def weightedLinearFit(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, wCol: String): DataFrame = {
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull
        && col(wCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_x"),
        round(col(yCol) * 1e6).cast("long").as("_y"),
        round(col(wCol) * 1e6).cast("long").as("_w"))
      .withColumn("_w", when(col("_w") >= 0L, col("_w")).otherwise(
        raise_error(lit("weightedLinearFit: negative weight"))))
      .filter(col("_w") > 0L)
    def m2(a: String, b: String): Column =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    def m3(a: String, b: String, c: String): Column =
      sum(((col(a).cast(dec) * col(b)).cast(dec) * col(c)).cast(dec))
    val sums = rows.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_w").cast(dec)).as("_sw"),
        m2("_w", "_x").as("_swx"), m2("_w", "_y").as("_swy"),
        m3("_w", "_x", "_x").as("_swxx"),
        m3("_w", "_y", "_y").as("_swyy"),
        m3("_w", "_x", "_y").as("_swxy"))
    val num = d("_sw") * d("_swxy") - d("_swx") * d("_swy")
    val denX = d("_sw") * d("_swxx") - d("_swx") * d("_swx")
    val denY = d("_sw") * d("_swyy") - d("_swy") * d("_swy")
    val slope = num / denX
    sums.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      round(d("_sw") / lit(1e6), 6).cast("double").as("sum_w"),
      when(denX > 0.0, round(slope, 6)).cast("double").as("slope"),
      when(denX > 0.0,
        round(d("_swy") / d("_sw") / lit(1e6)
          - slope * (d("_swx") / d("_sw") / lit(1e6)), 6))
        .cast("double").as("intercept"),
      when(denX > 0.0 && denY > 0.0,
        round(num * num / (denX * denY), 6)).cast("double").as("r2"))
  }

  /** Ridge regression, two covariates + (unpenalized) intercept — the
    * L2-regularized member beside [[linearFitMulti]]: the shrinkage
    * every "regress y on correlated features" ask eventually needs
    * when the OLS solve goes near-singular. Formulated SCALE-
    * INVARIANTLY as standardized ridge: the centered normal equations
    * with each covariate's own variance inflated by (1 + λ) —
    * S11·(1+λ), S22·(1+λ), cross-moments untouched — which equals
    * ridge on unit-variance covariates and makes λ a pure shrinkage
    * knob (λ = 0 IS OLS, pinned equal to linearFitMulti; λ → ∞ sends
    * β → 0). A singular OLS panel (collinear covariates) becomes
    * solvable for any λ > 0 — the point of the operator.
    *
    * Same determinism contract as [[linearFitMulti]]: ten
    * decimal(38,0) Gram moments, one Cramer tree on the inflated
    * diagonal, 6-dp rounds; se/t are deliberately NOT reported (ridge
    * SEs need the effective-dof story — out of scope, documented).
    * Output: (group, n, lambda, b0, b1, b2, r2).
    */
  def ridgeFit(df: DataFrame, groupCol: String, xCols: Seq[String],
      yCol: String, lambda: Double): DataFrame = {
    require(xCols.size == 2, s"ridgeFit: exactly 2 covariates")
    require(lambda >= 0.0, s"ridgeFit: lambda must be >= 0, got $lambda")
    val Seq(x1c, x2c) = xCols
    val rows = df.filter(col(x1c).isNotNull && col(x2c).isNotNull
        && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(x1c) * 1e6).cast("long").as("_x1"),
        round(col(x2c) * 1e6).cast("long").as("_x2"),
        round(col(yCol) * 1e6).cast("long").as("_y"))
    def m(a: String, b: String): Column =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val sums = rows.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x1").cast(dec)).as("_s1"),
        sum(col("_x2").cast(dec)).as("_s2"),
        sum(col("_y").cast(dec)).as("_sy"),
        m("_x1", "_x1").as("_s11"), m("_x2", "_x2").as("_s22"),
        m("_x1", "_x2").as("_s12"), m("_x1", "_y").as("_s1y"),
        m("_x2", "_y").as("_s2y"), m("_y", "_y").as("_syy"))
    val nd = col("n").cast("double")
    val lam = lit(1.0 + lambda)
    val cS11 = (nd * d("_s11") - d("_s1") * d("_s1")) * lam
    val cS22 = (nd * d("_s22") - d("_s2") * d("_s2")) * lam
    val cS12 = nd * d("_s12") - d("_s1") * d("_s2")
    val cS1y = nd * d("_s1y") - d("_s1") * d("_sy")
    val cS2y = nd * d("_s2y") - d("_s2") * d("_sy")
    val cSyy = nd * d("_syy") - d("_sy") * d("_sy")
    val det = cS11 * cS22 - cS12 * cS12
    val b1 = (cS1y * cS22 - cS2y * cS12) / det
    val b2 = (cS2y * cS11 - cS1y * cS12) / det
    val b0s = (d("_sy") - b1 * d("_s1") - b2 * d("_s2")) / nd
    val r2 = (b1 * cS1y + b2 * cS2y) / cSyy
    val okB = col("n") >= 3 && det > 0.0
    sums.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      lit(lambda).cast("double").as("lambda"),
      when(okB, round(b0s / lit(1e6), 6)).cast("double").as("b0"),
      when(okB, round(b1, 6)).cast("double").as("b1"),
      when(okB, round(b2, 6)).cast("double").as("b2"),
      when(okB && cSyy > 0.0, round(r2, 6)).cast("double").as("r2"))
  }

  /** Actuarial life table — [[kaplanMeier]]'s interval-grouped
    * sibling (the classical demography/retention form: durations
    * bucket into fixed-width intervals, and within-interval censoring
    * counts HALF an exposure — the standard actuarial adjustment):
    * per interval, n entering, d events, c censored, effective
    * exposure n − c/2, conditional q = d/(n − c/2) frozen at 6 dp,
    * and end-of-interval survival Π(1−q) by the kaplanMeier ln-fold
    * discipline (exact-zero exhaustion handling included).
    *
    * Exact integer counts; the only doubles are q (one rounded
    * division) and the survival fold on the FROZEN q values.
    * Negative durations raise loudly in-plan. One interval-keyed
    * aggregate + calendar-bounded windows. Output: (interval_start,
    * n_entering, n_events, n_censored, effective, q, survival).
    */
  def lifeTable(df: DataFrame, durationCol: String, observed: Column,
      width: Long): DataFrame = {
    require(width >= 1, s"lifeTable: width must be >= 1, got $width")
    val dur = col(durationCol)
    val guarded = when(dur < 0, raise_error(
      lit("lifeTable: negative duration"))).otherwise(dur)
    val cells = df.filter(dur.isNotNull)
      .select(floor(guarded / width).cast("long").as("_iv"),
        when(coalesce(observed, lit(false)), 1L).otherwise(0L).as("_d"))
      .groupBy("_iv")
      .agg(sum("_d").as("n_events"),
        sum(lit(1L) - col("_d")).as("n_censored"))
    val wOrd = Window.orderBy("_iv")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val exits = col("n_events") + col("n_censored")
    cells
      .withColumn("n_entering",
        sum(exits).over(Window.partitionBy())
          - coalesce(sum(exits).over(wPrev), lit(0L)))
      .withColumn("_eff", col("n_entering").cast("double")
        - col("n_censored").cast("double") / 2.0)
      .withColumn("_q", round(col("n_events").cast("double")
        / col("_eff"), 6))
      .withColumn("_term",
        when(col("_q") < 1.0, log(lit(1.0) - col("_q")))
          .otherwise(lit(0.0)))
      .withColumn("_zero",
        max(when(col("_q") >= 1.0, 1).otherwise(0)).over(wOrd))
      .withColumn("survival",
        when(col("_zero") === 1, lit(0.0))
          .otherwise(round(exp(sum("_term").over(wOrd)), 6))
          .cast("double"))
      .select((col("_iv") * width).cast("bigint").as("interval_start"),
        col("n_entering").cast("bigint").as("n_entering"),
        col("n_events").cast("bigint").as("n_events"),
        col("n_censored").cast("bigint").as("n_censored"),
        round(col("_eff"), 6).cast("double").as("effective"),
        col("_q").cast("double").as("q"),
        col("survival"))
  }

  /** Gwet's AC1 inter-rater agreement — the chance-corrected
    * coefficient that fixes Cohen's κ's prevalence paradox (κ
    * collapses when one category dominates even at near-perfect
    * agreement; AC1's chance term Σ π_c(1−π_c)/(C−1) uses the
    * AVERAGED marginals and stays calibrated): AC1 = (p_o − p_e)/
    * (1 − p_e), π_c = (p_{a,c} + p_{b,c})/2.
    *
    * Exact integer counts (one rating-pair aggregate + one per-
    * category full-outer fold over the union category space — a
    * category only ONE rater uses still enters the chance term);
    * p_o/p_e freeze at 12 dp before the final rounded ratio;
    * p_e = 1 (the single-category degenerate) reports NULL. Output:
    * ONE row (n, n_categories, po, pe, ac1).
    */
  def gwetAc1(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val rows = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .localCheckpoint() // totals + both marginal folds read it
    val n = rows.agg(count(lit(1)).as("_n"),
      sum(when(col("_a") === col("_b"), 1L).otherwise(0L)).as("_agree"))
    val aMarg = rows.groupBy(col("_a").as("_c"))
      .agg(count(lit(1)).as("_ca"))
    val bMarg = rows.groupBy(col("_b").as("_c"))
      .agg(count(lit(1)).as("_cb"))
    val cats = aMarg.join(bMarg, Seq("_c"), "full_outer")
      .select(col("_c"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .crossJoin(broadcast(n))
      .withColumn("_pi", round((col("_ca").cast("double")
        / col("_n").cast("double")
        + col("_cb").cast("double") / col("_n").cast("double"))
        / 2.0, 12))
      .agg(count(lit(1)).as("_k"),
        sum(round(col("_pi") * (lit(1.0) - col("_pi")), 12)
          .cast("decimal(38,12)")).as("_spi"))
    n.crossJoin(broadcast(cats))
      .withColumn("_po", round(col("_agree").cast("double")
        / col("_n").cast("double"), 12))
      .withColumn("_pe", when(col("_k") >= 2,
        round(col("_spi").cast("double")
          / (col("_k").cast("double") - 1.0), 12)))
      .select(col("_n").cast("bigint").as("n"),
        col("_k").cast("bigint").as("n_categories"),
        round(col("_po"), 6).cast("double").as("po"),
        round(col("_pe"), 6).cast("double").as("pe"),
        when(col("_pe").isNotNull && col("_pe") < 1.0,
          round((col("_po") - col("_pe")) / (lit(1.0) - col("_pe")), 6))
          .cast("double").as("ac1"))
  }

  /** Scott's π inter-rater agreement — the third member of the
    * chance-corrected panel beside Cohen's κ (product marginals) and
    * Gwet's AC1 (averaged marginals in the DISagreement direction):
    * π uses the squared AVERAGED marginals, p_e = Σ_c π_c² with
    * π_c = (p_{a,c} + p_{b,c})/2, so it treats the two raters as
    * draws from one shared category distribution — the natural model
    * when raters are interchangeable annotators rather than fixed
    * judges (and the per-item limit of Fleiss' κ at two raters).
    *
    * Exactly the [[gwetAc1]] fold shape: one rating-pair aggregate +
    * one full-outer per-category fold over the union category space;
    * π_c freezes at 12 dp, p_o/p_e at 12 dp before the final rounded
    * ratio; p_e = 1 (one shared category — zero chance headroom)
    * reports NULL. Output: ONE row (n, n_categories, po, pe,
    * scott_pi).
    */
  def scottPi(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val rows = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .localCheckpoint() // totals + both marginal folds read it
    val n = rows.agg(count(lit(1)).as("_n"),
      sum(when(col("_a") === col("_b"), 1L).otherwise(0L)).as("_agree"))
    val aMarg = rows.groupBy(col("_a").as("_c"))
      .agg(count(lit(1)).as("_ca"))
    val bMarg = rows.groupBy(col("_b").as("_c"))
      .agg(count(lit(1)).as("_cb"))
    val cats = aMarg.join(bMarg, Seq("_c"), "full_outer")
      .select(col("_c"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .crossJoin(broadcast(n))
      .withColumn("_pi", round((col("_ca").cast("double")
        / col("_n").cast("double")
        + col("_cb").cast("double") / col("_n").cast("double"))
        / 2.0, 12))
      .agg(count(lit(1)).as("_k"),
        sum(round(col("_pi") * col("_pi"), 12)
          .cast("decimal(38,12)")).as("_spi2"))
    n.crossJoin(broadcast(cats))
      .withColumn("_po", round(col("_agree").cast("double")
        / col("_n").cast("double"), 12))
      .withColumn("_pe", round(col("_spi2").cast("double"), 12))
      .select(col("_n").cast("bigint").as("n"),
        col("_k").cast("bigint").as("n_categories"),
        round(col("_po"), 6).cast("double").as("po"),
        round(col("_pe"), 6).cast("double").as("pe"),
        when(col("_pe") < 1.0,
          round((col("_po") - col("_pe")) / (lit(1.0) - col("_pe")), 6))
          .cast("double").as("scott_pi"))
  }

  /** Delta-method CI for a RATIO metric under unit-level clustering —
    * the A/B panel's missing piece beside q_srm/q_cuped/q_mde: a
    * ratio of sums R = Σx_u/Σy_u over analysis units (revenue per
    * session, clicks per user) is NOT a mean of per-unit ratios, and
    * its variance must account for within-unit correlation:
    * Var(R) ≈ Σ(x_u − R·y_u)² / (n·ȳ²·n) via the first-order delta
    * expansion — expanded here through the moment identity
    * Σ(x−Ry)² = Σx² − 2RΣxy + R²Σy² so ONE aggregate pass suffices.
    *
    * Determinism: per-unit x/y freeze at 6 dp; Σx/Σy/Σx²/Σxy/Σy²
    * fold cast-before-multiply into decimal(38,12); R freezes at
    * 12 dp BEFORE entering the variance tree (so both engines expand
    * the identical double); the CI uses the pinned z = 1.959964.
    * R's rounding can push the residual quadratic microscopically
    * negative — guarded to NULL se, never a NaN. n < 2 or Σy = 0
    * report NULL. Scale shape: one unit-level shuffle collapses the
    * corpus to units, one group fold. Output: (group, n_units,
    * ratio, se, ci_lo, ci_hi).
    */
  def deltaMethodRatio(df: DataFrame, groupCol: String, unitCol: String,
      numCol: String, denCol: String): DataFrame = {
    val units = df
      .groupBy(col(groupCol).as("_g"), col(unitCol).as("_u"))
      .agg(round(sum(round(col(numCol), 6).cast("decimal(38,6)"))
          .cast("double"), 6).as("_x"),
        round(sum(round(col(denCol), 6).cast("decimal(38,6)"))
          .cast("double"), 6).as("_y"))
    val folded = units.groupBy(col("_g"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("_x").cast(dec12)).as("_sx"),
        sum(col("_y").cast(dec12)).as("_sy"),
        sum(round(col("_x") * col("_x"), 12).cast(dec12)).as("_sxx"),
        sum(round(col("_x") * col("_y"), 12).cast(dec12)).as("_sxy"),
        sum(round(col("_y") * col("_y"), 12).cast(dec12)).as("_syy"))
    val nD = col("n_units").cast("double")
    val okR = col("n_units") >= 2 && d("_sy") =!= 0.0
    val r = round(d("_sx") / d("_sy"), 12)
    val yBar = d("_sy") / nD
    val ss = d("_sxx") - lit(2.0) * col("_r") * d("_sxy") +
      col("_r") * col("_r") * d("_syy")
    val varR = ss / (nD * yBar * yBar * nD)
    val z = 1.959964
    folded
      .withColumn("_r", when(okR, r))
      .withColumn("_var", when(col("_r").isNotNull && ss > 0.0, varR))
      .select(col("_g").as(groupCol),
        col("n_units").cast("bigint").as("n_units"),
        round(col("_r"), 6).cast("double").as("ratio"),
        round(sqrt(col("_var")), 6).cast("double").as("se"),
        round(col("_r") - lit(z) * sqrt(col("_var")), 6)
          .cast("double").as("ci_lo"),
        round(col("_r") + lit(z) * sqrt(col("_var")), 6)
          .cast("double").as("ci_hi"))
  }

  /** Bowker symmetry test on a paired categorical confusion table —
    * "are A→B misclassifications as common as B→A" (the multi-
    * category McNemar): χ² = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji)
    * over the unordered off-diagonal pairs with any traffic, dof =
    * the number of such pairs. A significant χ² means the two
    * raters/models disagree DIRECTIONALLY, not just noisily.
    *
    * Exact integer cell counts; one (i, j) count aggregate, the
    * upper/lower triangles full-outer-folded so a one-directional
    * pair still enters; per-pair terms freeze at 12 dp into a
    * decimal sum, χ² rounds at 6. No CDF — the statistic and dof are
    * reported, the caller brings the χ² table. Output: ONE row
    * (n, n_pairs_tested, chi2).
    */
  def bowkerTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("_i"),
        col(bCol).cast("string").as("_j"))
      .groupBy("_i", "_j").agg(count(lit(1)).as("_n"))
      .localCheckpoint() // total + both triangles read it
    val tot = cells.agg(sum("_n").as("_tot"))
    val up = cells.filter(col("_i") < col("_j"))
      .select(col("_i").as("_pi"), col("_j").as("_pj"),
        col("_n").as("_nij"))
    val down = cells.filter(col("_i") > col("_j"))
      .select(col("_j").as("_pi"), col("_i").as("_pj"),
        col("_n").as("_nji"))
    val pairs = up.join(down, Seq("_pi", "_pj"), "full_outer")
      .select(coalesce(col("_nij"), lit(0L)).as("_nij"),
        coalesce(col("_nji"), lit(0L)).as("_nji"))
      .filter(col("_nij") + col("_nji") > 0L)
      .withColumn("_term", round((col("_nij") - col("_nji"))
        .cast("double") * (col("_nij") - col("_nji"))
        / (col("_nij") + col("_nji")).cast("double"), 12))
    pairs.agg(count(lit(1)).as("_dof"),
        sum(col("_term").cast("decimal(38,12)")).as("_chi"))
      .crossJoin(broadcast(tot))
      .select(col("_tot").cast("bigint").as("n"),
        col("_dof").cast("bigint").as("n_pairs_tested"),
        when(col("_dof") >= 1, round(col("_chi").cast("double"), 6))
          .cast("double").as("chi2"))
  }

  /** Historical VaR / CVaR (expected shortfall) per group — the risk
    * pair every returns family ends at: VaR_α is the EXACT lower-α
    * order statistic of the 6-dp values (value at rank ⌈α·n⌉ under
    * the value-ascending order — the rank-r value and the first-r
    * multiset are tie-invariant, so no tiebreak column is needed),
    * CVaR_α the exact decimal mean of those r tail values (≤-VaR
    * averaging via the RANK, not the value, so boundary ties can't
    * double-count on either engine). No distributional assumption —
    * the historical-simulation estimator.
    *
    * Determinism: values freeze at 6 dp; the tail sum folds as
    * decimal(38,6); r = ⌈α·n⌉ computes from the identical double
    * product on both engines. Groups with n = 0 are absent by
    * construction. Scale shape: one hash shuffle (the per-group
    * window sort) + one aggregate — the as-of-join cost class.
    * Output: (group, n, n_tail, var_alpha, cvar_alpha).
    */
  def varCvar(df: DataFrame, groupCol: String, valueCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"varCvar: alpha must be in (0, 1), got $alpha")
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol), 6).as("_v"))
    val w = Window.partitionBy("_g").orderBy(col("_v"))
    val ranked = rows
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("_g")))
      .withColumn("_r", ceil(lit(alpha) * col("_n")).cast("long"))
    ranked.groupBy(col("_g"))
      .agg(max(col("_n")).as("n"), max(col("_r")).as("n_tail"),
        max(when(col("_rn") === col("_r"), col("_v"))).as("_var"),
        sum(when(col("_rn") <= col("_r"),
          col("_v").cast("decimal(38,6)"))).as("_ts"))
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        col("n_tail").cast("bigint").as("n_tail"),
        col("_var").cast("double").as("var_alpha"),
        round(col("_ts").cast("double")
          / col("n_tail").cast("double"), 6)
          .cast("double").as("cvar_alpha"))
  }

  /** Double-ML / partialling-out treatment effect per group
    * (Chernozhukov et al.'s debiased-ML estimator in its closed-form
    * tier) — the orthogonalized member that completes the causal
    * panel beside AIPW/PSM/DID/IV: regress the OUTCOME on the
    * confounders and the TREATMENT on the confounders (two
    * [[ridgeFit]] nuisance fits — the L2 shrinkage keeps the solve
    * stable when confounders are collinear), then OLS of the outcome
    * residual on the treatment residual through the origin. The
    * Frisch–Waugh–Lovell partialling-out: θ̂ = Σê_t·ê_y / Σê_t², with
    * the HC0 heteroscedasticity-consistent (sandwich) standard error
    * se = √Σ(ê_t·(ê_y − θ̂·ê_t))² / Σê_t².
    *
    * Determinism: the Gram pass folds exact decimal(38,0) moments of
    * 1e6-quantized values; all six nuisance coefficients freeze at
    * 6 dp; the residual pass re-quantizes ê_t/ê_y at 6 dp into longs
    * whose 2nd/3rd/4th-order products fold EXACTLY in decimal(38,0)
    * (cast-before-multiply); θ̂ freezes at 6 dp before entering the
    * se tree, whose radicand Σ(ê_tê_y − θ̂ê_t²)² is a sum of squares
    * — non-negative for ANY frozen θ̂, so the √ never sees a rounding
    * artifact. Headroom: the Σê_t²ê_y² term is ~1e30/row at
    * |ê_y| ≈ 1e3, leaving ~1e8 rows per group before decimal(38)
    * overflows (Spark then yields NULL, not a wrong number) —
    * pre-aggregate or rescale y for bigger groups (the
    * [[weightedLinearFit]] contract). Degenerate panels (n < 3,
    * singular nuisance solve, zero treatment-residual variance)
    * report NULL.
    *
    * Scale shape: two scans (Gram pass, residual pass), each ONE
    * hash aggregate; the per-group coefficient table broadcasts back
    * for the residual pass. Nothing collected.
    * Output: (group, n, lambda, theta, se_theta, t_theta).
    */
  def doubleMlAte(df: DataFrame, groupCol: String, treat: Column,
      yCol: String, xCols: Seq[String], lambda: Double): DataFrame = {
    require(xCols.size == 2, "doubleMlAte: exactly 2 confounders")
    require(lambda >= 0.0, s"doubleMlAte: lambda must be >= 0, got $lambda")
    val Seq(x1c, x2c) = xCols
    val rows = df.filter(col(x1c).isNotNull && col(x2c).isNotNull
        && col(yCol).isNotNull && treat.isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(x1c) * 1e6).cast("long").as("_x1"),
        round(col(x2c) * 1e6).cast("long").as("_x2"),
        round(col(yCol) * 1e6).cast("long").as("_y"),
        round(treat.cast("double") * 1e6).cast("long").as("_t"))
      .localCheckpoint() // Gram pass + residual pass both scan it
    def m(a: String, b: String): Column =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val sums = rows.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x1").cast(dec)).as("_s1"),
        sum(col("_x2").cast(dec)).as("_s2"),
        sum(col("_y").cast(dec)).as("_sy"),
        sum(col("_t").cast(dec)).as("_st"),
        m("_x1", "_x1").as("_s11"), m("_x2", "_x2").as("_s22"),
        m("_x1", "_x2").as("_s12"),
        m("_x1", "_y").as("_s1y"), m("_x2", "_y").as("_s2y"),
        m("_x1", "_t").as("_s1t"), m("_x2", "_t").as("_s2t"))
    val nd = col("n").cast("double")
    val lam = lit(1.0 + lambda)
    val cS11 = (nd * d("_s11") - d("_s1") * d("_s1")) * lam
    val cS22 = (nd * d("_s22") - d("_s2") * d("_s2")) * lam
    val cS12 = nd * d("_s12") - d("_s1") * d("_s2")
    val det = cS11 * cS22 - cS12 * cS12
    // one ridge solve per target (the ridgeFit Cramer tree verbatim)
    def solve(sjy: String, s2y: String, sy: String)
        : (Column, Column, Column) = {
      val c1y = nd * d(sjy) - d("_s1") * d(sy)
      val c2y = nd * d(s2y) - d("_s2") * d(sy)
      val b1 = (c1y * cS22 - c2y * cS12) / det
      val b2 = (c2y * cS11 - c1y * cS12) / det
      val b0 = (d(sy) - b1 * d("_s1") - b2 * d("_s2")) / nd
      (round(b0 / lit(1e6), 6), round(b1, 6), round(b2, 6))
    }
    val (by0, by1, by2) = solve("_s1y", "_s2y", "_sy")
    val (bt0, bt1, bt2) = solve("_s1t", "_s2t", "_st")
    val okB = col("n") >= 3 && det > 0.0
    val coefs = sums.select(col("_g"), col("n"),
      when(okB, by0).as("_by0"), when(okB, by1).as("_by1"),
      when(okB, by2).as("_by2"),
      when(okB, bt0).as("_bt0"), when(okB, bt1).as("_bt1"),
      when(okB, bt2).as("_bt2"))
    val resid = rows.join(broadcast(coefs), "_g")
      .withColumn("_ey", round(col("_y") / 1e6 - col("_by0")
        - col("_by1") * (col("_x1") / 1e6)
        - col("_by2") * (col("_x2") / 1e6), 6))
      .withColumn("_et", round(col("_t") / 1e6 - col("_bt0")
        - col("_bt1") * (col("_x1") / 1e6)
        - col("_bt2") * (col("_x2") / 1e6), 6))
      .select(col("_g"), col("n"),
        round(col("_ey") * 1e6).cast("long").as("_eyl"),
        round(col("_et") * 1e6).cast("long").as("_etl"))
    val folded = resid.groupBy(col("_g"), col("n"))
      .agg(sum((col("_etl").cast(dec) * col("_etl")).cast(dec))
          .as("_a2"),
        sum((col("_etl").cast(dec) * col("_eyl")).cast(dec)).as("_ab"),
        sum((col("_etl").cast(dec) * col("_etl") * col("_eyl")
          * col("_eyl")).cast(dec)).as("_m22"),
        sum((col("_etl").cast(dec) * col("_etl") * col("_etl")
          * col("_eyl")).cast(dec)).as("_m31"),
        sum((col("_etl").cast(dec) * col("_etl") * col("_etl")
          * col("_etl")).cast(dec)).as("_m40"))
    val okT = col("_a2").isNotNull && d("_a2") > 0.0
    val theta = round(d("_ab") / d("_a2"), 6)
    folded
      .withColumn("_th", when(okT, theta))
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        lit(lambda).cast("double").as("lambda"),
        col("_th").cast("double").as("theta"),
        when(okT, round(sqrt(d("_m22")
            - lit(2.0) * col("_th") * d("_m31")
            + col("_th") * col("_th") * d("_m40")) / d("_a2"), 6))
          .cast("double").as("se_theta"),
        when(okT && d("_m22") - lit(2.0) * col("_th") * d("_m31")
            + col("_th") * col("_th") * d("_m40") > 0.0,
          round(col("_th") / (sqrt(d("_m22")
            - lit(2.0) * col("_th") * d("_m31")
            + col("_th") * col("_th") * d("_m40")) / d("_a2")), 6))
          .cast("double").as("t_theta"))
  }

  /** [[linearFitMulti]]'s p = 3 tier — y on (x1, x2, x3) + intercept
    * per group: the intercept eliminates by centering, leaving one
    * 3×3 symmetric solve whose Cramer determinants and adjugate
    * diagonals are still writable float trees (the judged ceiling of
    * the closed-form family; beyond p = 3 the determinant expansion
    * stops being honestly spellable in SQL and wants an in-plan
    * elimination unroll instead).
    *
    * Same contract as [[linearFitMulti]]: 1e6-quantized longs,
    * FIFTEEN decimal(38,0) Gram moments, n-scaled centered moments
    * Sij, det via the first-row cofactor expansion, β by replaced-
    * column determinants, SSE = (Syy − Σβ_j·S_jy)/n, Var(β_j) =
    * s²·n·A_jj/det with A_jj the 2×2 adjugate diagonals — every
    * derived value ONE identically-spelled tree rounded at 6 dp;
    * n < 5, det ≤ 0, or zero residual variance → NULL, pinned. One
    * hash aggregate, zero joins/windows. Output: (group, n, b0, b1,
    * b2, b3, se_b1, se_b2, se_b3, t_b1, t_b2, t_b3, r2).
    */
  def linearFitMulti3(df: DataFrame, groupCol: String, xCols: Seq[String],
      yCol: String): DataFrame = {
    require(xCols.size == 3,
      s"linearFitMulti3: exactly 3 covariates, got ${xCols.size}")
    val Seq(x1c, x2c, x3c) = xCols
    val rows = df.filter(col(x1c).isNotNull && col(x2c).isNotNull
        && col(x3c).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(x1c) * 1e6).cast("long").as("_x1"),
        round(col(x2c) * 1e6).cast("long").as("_x2"),
        round(col(x3c) * 1e6).cast("long").as("_x3"),
        round(col(yCol) * 1e6).cast("long").as("_y"))
    def m(a: String, b: String): Column =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val sums = rows.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x1").cast(dec)).as("_s1"),
        sum(col("_x2").cast(dec)).as("_s2"),
        sum(col("_x3").cast(dec)).as("_s3"),
        sum(col("_y").cast(dec)).as("_sy"),
        m("_x1", "_x1").as("_s11"), m("_x2", "_x2").as("_s22"),
        m("_x3", "_x3").as("_s33"), m("_x1", "_x2").as("_s12"),
        m("_x1", "_x3").as("_s13"), m("_x2", "_x3").as("_s23"),
        m("_x1", "_y").as("_s1y"), m("_x2", "_y").as("_s2y"),
        m("_x3", "_y").as("_s3y"), m("_y", "_y").as("_syy"))
    val nd = col("n").cast("double")
    val s11 = nd * d("_s11") - d("_s1") * d("_s1")
    val s22 = nd * d("_s22") - d("_s2") * d("_s2")
    val s33 = nd * d("_s33") - d("_s3") * d("_s3")
    val s12 = nd * d("_s12") - d("_s1") * d("_s2")
    val s13 = nd * d("_s13") - d("_s1") * d("_s3")
    val s23 = nd * d("_s23") - d("_s2") * d("_s3")
    val s1y = nd * d("_s1y") - d("_s1") * d("_sy")
    val s2y = nd * d("_s2y") - d("_s2") * d("_sy")
    val s3y = nd * d("_s3y") - d("_s3") * d("_sy")
    val syy = nd * d("_syy") - d("_sy") * d("_sy")
    // first-row cofactor expansion of the symmetric 3×3
    val det = s11 * (s22 * s33 - s23 * s23) -
      s12 * (s12 * s33 - s23 * s13) +
      s13 * (s12 * s23 - s22 * s13)
    // Cramer: column j of S replaced by (s1y, s2y, s3y)
    val det1 = s1y * (s22 * s33 - s23 * s23) -
      s12 * (s2y * s33 - s23 * s3y) +
      s13 * (s2y * s23 - s22 * s3y)
    val det2 = s11 * (s2y * s33 - s23 * s3y) -
      s1y * (s12 * s33 - s23 * s13) +
      s13 * (s12 * s3y - s2y * s13)
    val det3 = s11 * (s22 * s3y - s2y * s23) -
      s12 * (s12 * s3y - s2y * s13) +
      s1y * (s12 * s23 - s22 * s13)
    val b1 = det1 / det
    val b2 = det2 / det
    val b3 = det3 / det
    val b0s = (d("_sy") - b1 * d("_s1") - b2 * d("_s2") - b3 * d("_s3")) / nd
    val sse = (syy - b1 * s1y - b2 * s2y - b3 * s3y) / nd
    val s2m = sse / (nd - 4.0)
    // adjugate diagonals of S (2×2 minors)
    val a11 = s22 * s33 - s23 * s23
    val a22 = s11 * s33 - s13 * s13
    val a33 = s11 * s22 - s12 * s12
    val se1 = sqrt(s2m * nd * a11 / det)
    val se2 = sqrt(s2m * nd * a22 / det)
    val se3 = sqrt(s2m * nd * a33 / det)
    val r2 = (b1 * s1y + b2 * s2y + b3 * s3y) / syy
    val okB = col("n") >= 5 && det > 0.0
    val okT = okB && sse > 0.0
    sums.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      when(okB, round(b0s / lit(1e6), 6)).cast("double").as("b0"),
      when(okB, round(b1, 6)).cast("double").as("b1"),
      when(okB, round(b2, 6)).cast("double").as("b2"),
      when(okB, round(b3, 6)).cast("double").as("b3"),
      when(okT, round(se1, 6)).cast("double").as("se_b1"),
      when(okT, round(se2, 6)).cast("double").as("se_b2"),
      when(okT, round(se3, 6)).cast("double").as("se_b3"),
      when(okT, round(b1 / se1, 6)).cast("double").as("t_b1"),
      when(okT, round(b2 / se2, 6)).cast("double").as("t_b2"),
      when(okT, round(b3 / se3, 6)).cast("double").as("t_b3"),
      when(okB && syy > 0.0, round(r2, 6)).cast("double").as("r2"))
  }

  /** Per-group two-sample log-rank test against the pooled complement
    * — the hypothesis-test companion to [[kaplanMeier]]: "are these
    * two survival curves actually different" (time-to-churn by
    * cohort, time-to-conversion by source) with censoring handled
    * correctly, which no t-test on raw durations does.
    *
    * At every time with ≥ 1 event: d/n are total events/at-risk,
    * d₁/n₁ the group's; O = Σd₁ (exact integer), E = Σ d·n₁/n,
    * V = Σ d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1). Each E/V term is one
    * identically-spelled float tree rounded at 12 dp into an exact
    * order-free decimal(38,12) sum (the chiSquared discipline);
    * z = (O−E)/√V rounds at 6. V = 0 (no comparison possible) → NULL.
    *
    * Scale shape: one (group, duration) cell shuffle; at-risk counts
    * come from per-group cumulative windows on the times × groups
    * GRID (duration-vocabulary-bounded, the ksTest cost class), total
    * d/n recovered in-grid by time-partitioned sums — no global sort.
    * Output: (group, n_subjects, o, e, z).
    */
  def logRank(df: DataFrame, groupCol: String, durationCol: String,
      observed: Column): DataFrame = {
    val cells = df
      .groupBy(col(groupCol).as("_g"), col(durationCol).as("_t"))
      .agg(sum(when(observed, 1L).otherwise(0L)).as("_d"),
        count(lit(1)).as("_x"))
    val groups = cells.groupBy(col("_g").as("_gm"))
      .agg(sum("_x").as("_ng"))
    val times = cells.groupBy(col("_t").as("_tv"))
      .agg(sum("_d").as("_dtot")).filter(col("_dtot") > 0)
      .select("_tv")
    val grid = times
      .crossJoin(broadcast(groups))
      .join(cells, col("_gm") <=> col("_g") && col("_tv") <=> col("_t"),
        "left")
      .select(col("_gm").as("_g"), col("_tv").as("_t"), col("_ng"),
        coalesce(col("_d"), lit(0L)).as("_d"),
        coalesce(col("_x"), lit(0L)).as("_x"))
    // at-risk at t = subjects minus exits at earlier times; exits at
    // times with zero global events still leave the risk set, so the
    // prefix must count ALL exits — join the full cell history back
    val wPrev = Window.partitionBy("_g").orderBy("_t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val exitsAll = cells.select(col("_g"), col("_t"), col("_x"))
      .withColumn("_isEvt", lit(0L))
    val gridT = grid.select(col("_g"), col("_t"), lit(null).cast("long")
      .as("_x")).withColumn("_isEvt", lit(1L))
    val merged = exitsAll.select(col("_g"), col("_t"), col("_x"),
        col("_isEvt"))
      .unionByName(gridT)
      .groupBy("_g", "_t")
      .agg(sum(coalesce(col("_x"), lit(0L))).as("_exits"),
        max("_isEvt").as("_isEvt"))
    val wPrev2 = Window.partitionBy("_g").orderBy("_t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = merged
      .join(broadcast(groups), col("_g") <=> col("_gm")).drop("_gm")
      .withColumn("_nrisk",
        col("_ng") - coalesce(sum("_exits").over(wPrev2), lit(0L)))
      .filter(col("_isEvt") === 1L)
      .select(col("_g"), col("_t"), col("_ng"), col("_nrisk"))
    val full = atRisk
      .join(grid.select(col("_g").as("_gg"), col("_t").as("_tt"),
        col("_d")), col("_g") <=> col("_gg") && col("_t") === col("_tt"))
      .drop("_gg", "_tt")
    val atTime = Window.partitionBy("_t")
    val termed = full
      .withColumn("_dt", sum("_d").over(atTime))
      .withColumn("_nt", sum("_nrisk").over(atTime))
      .withColumn("_frac", col("_nrisk").cast("double")
        / col("_nt").cast("double"))
      .withColumn("_te",
        round(col("_dt").cast("double") * col("_frac"), 12)
          .cast("decimal(38,12)"))
      .withColumn("_tv",
        when(col("_nt") > 1,
          round(col("_dt").cast("double") * col("_frac")
            * (lit(1.0) - col("_frac"))
            * (col("_nt") - col("_dt")).cast("double")
            / (col("_nt") - 1).cast("double"), 12))
          .otherwise(lit(0.0)).cast("decimal(38,12)"))
    termed
      .groupBy(col("_g").as(groupCol))
      .agg(max("_ng").as("n_subjects"), sum("_d").as("o"),
        sum("_te").as("_e"), sum("_tv").as("_v"))
      .select(col(groupCol), col("n_subjects"), col("o"),
        round(col("_e").cast("double"), 6).cast("double").as("e"),
        when(col("_v").cast("double") > 0.0,
          round((col("o").cast("double") - col("_e").cast("double"))
            / sqrt(col("_v").cast("double")), 6))
          .cast("double").as("z"))
  }

  /** Partial autocorrelation at lags 1..3 per group — "is lag-2
    * structure real or just lag-1 echoing twice", the AR-order
    * diagnostic read alongside [[Resample.autocorrelation]]'s ACF.
    * Closed-form Durbin–Levinson unroll (three levels; the explicit
    * contract of this operator — deeper orders belong to a model
    * fitter): φ11 = ρ1, φ22 = (ρ2 − ρ1²)/(1 − ρ1²),
    * φ21 = ρ1·(1 − φ22)... computed from the 6-dp-rounded ACF values,
    * each φkk one identically-spelled float tree rounded at 6 dp.
    * Degenerate denominators (|ρ1| = 1 echo chains) or NULL ACF
    * (constant series) → NULL at that lag and beyond.
    *
    * Output: (group, lag, pacf) for lags 1..3.
    */
  def pacf(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val acf = Resample.autocorrelation(df, groupCol, tsCol, valueCol,
      maxLag = 3)
    val wide = acf.groupBy(col(groupCol))
      .agg(max(when(col("lag") === 1, col("acf"))).as("_r1"),
        max(when(col("lag") === 2, col("acf"))).as("_r2"),
        max(when(col("lag") === 3, col("acf"))).as("_r3"))
    val r1 = col("_r1"); val r2 = col("_r2"); val r3 = col("_r3")
    val den2 = lit(1.0) - r1 * r1
    val p22 = (r2 - r1 * r1) / den2
    val p21 = r1 * (lit(1.0) - p22)
    val den3 = lit(1.0) - p21 * r1 - p22 * r2
    val p33 = (r3 - p21 * r2 - p22 * r1) / den3
    val lagged = wide.select(col(groupCol),
      round(r1, 6).cast("double").as("_p1"),
      when(r1.isNotNull && r2.isNotNull && den2 =!= 0.0,
        round(p22, 6)).cast("double").as("_p2"),
      when(r1.isNotNull && r2.isNotNull && r3.isNotNull
          && den2 =!= 0.0 && den3 =!= 0.0,
        round(p33, 6)).cast("double").as("_p3"))
    lagged.select(col(groupCol),
        explode(array(
          struct(lit(1L).as("lag"), col("_p1").as("pacf")),
          struct(lit(2L).as("lag"), col("_p2").as("pacf")),
          struct(lit(3L).as("lag"), col("_p3").as("pacf")))).as("_e"))
      .select(col(groupCol), col("_e.lag").as("lag"),
        col("_e.pacf").as("pacf"))
  }

  def seasonalityIndex(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val dow = pmod(fdiv(unix_timestamp(col(tsCol)), lit(86400L)) + 3, lit(7))
      .cast("int")
    val cells = df
      .select(col(groupCol).as(groupCol), dow.as("dow"),
        round(col(valueCol) * 1e6).cast("long").as("_q"))
      .groupBy(groupCol, "dow")
      .agg(count(lit(1)).as("n"), sum("_q").as("_s"))
    val totals = cells.groupBy(col(groupCol).as("_gm"))
      .agg(sum("n").as("_tn"), sum("_s").as("_ts"))
    cells.join(broadcast(totals), col(groupCol) <=> col("_gm")).drop("_gm")
      .select(col(groupCol), col("dow"), col("n"),
        when(col("_ts") =!= 0,
          round((col("_s") * col("_tn"))
            / (col("n") * col("_ts")).cast("double"), 6))
          .cast("double").as("seasonality"))
  }

  /** One-way ANOVA F over (_g, _x scaled-long) points — shared by
    * [[anovaF]] (raw values) and [[brownForsythe]] (absolute median
    * deviations). SSB's Σ s_g²/n_g terms are frozen at 12 dp and
    * summed in decimal(38,12) (the kruskalWallis discipline); the
    * scale factor cancels in F, so nothing descales. */
  private[graft] def anovaCore(points: DataFrame): DataFrame = {
    val byG = points.groupBy("_g")
      .agg(count(lit(1)).as("_ng"),
        sum(col("_x").cast(dec)).as("_s1"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_q1"))
    byG
      .agg(sum("_ng").as("_n"), count(lit(1)).as("_k"),
        sum("_s1").as("_s"), sum("_q1").as("_q"),
        sum(round(col("_s1").cast("double") * col("_s1").cast("double")
          / col("_ng"), 12).cast("decimal(38,12)")).as("_sb"))
      .withColumn("_ssb",
        col("_sb").cast("double")
          - col("_s").cast("double") * col("_s").cast("double")
            / col("_n").cast("double"))
      .withColumn("_ssw", col("_q").cast("double") - col("_sb").cast("double"))
  }

  private def anovaOnPoints(points: DataFrame): DataFrame = {
    anovaCore(points)
      .select(col("_n").cast("bigint").as("n"),
        col("_k").cast("bigint").as("k"),
        (col("_k") - 1).cast("bigint").as("dof_between"),
        (col("_n") - col("_k")).cast("bigint").as("dof_within"),
        when(col("_k") >= 2 && col("_n") > col("_k") && col("_ssw") > 0.0,
          round((col("_ssb") / (col("_k") - 1).cast("double"))
            / (col("_ssw") / (col("_n") - col("_k")).cast("double")), 6))
          .cast("double").as("f"))
  }

  /** One-way ANOVA F test: does the group mean of `valueCol` differ
    * across the levels of `groupCol`? The parametric sibling of
    * [[kruskalWallis]] (which asks the same of ranks) — still the
    * first gate every "did the treatment move the metric per segment"
    * analysis runs.
    *
    * Exactness: values quantize to 1e6-scaled longs; per-group
    * count/sum/sum-of-squares accumulate in decimal(38,0); the
    * between-groups Σ s_g²/n_g terms are frozen at 12 dp into a
    * decimal(38,12) sum; F is one identically-spelled float tree
    * rounded 6 dp (the quantization scale cancels). NULL when k < 2,
    * n ≤ k, or SSW = 0.
    *
    * Scale shape: ONE group-keyed moment aggregate, then a k-row
    * fold — no windows, no sorts, nothing single-partition beyond the
    * k-row final. Output: (n, k, dof_between, dof_within, f).
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    anovaOnPoints(df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x")))

  /** ANOVA effect sizes — η² = SSB/SST (variance explained by the
    * grouping, the descriptive number) and the less-biased
    * ω² = (SSB − (k−1)·MSW)/(SST + MSW) — what the L199 F-statistic
    * deliberately doesn't say: an enormous F on an enormous n can
    * mark a MICROSCOPIC effect significant; these size it. Shares
    * [[anovaF]]'s exact fold verbatim (same quantization, decimal
    * moments, frozen between-group terms — the scale cancels in both
    * ratios).
    *
    * Output: ONE row (n, k, eta2, omega2), 6 dp; NULL on degenerate
    * folds (k < 2, n ≤ k, SST ≤ 0); ω² is clamped at 0 (small
    * negative estimates are the estimator's known behavior under
    * null effects — reported as 0, the standard convention).
    */
  def anovaEffectSizes(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val core = anovaCore(df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x")))
    val sst = col("_ssb") + col("_ssw")
    val msw = col("_ssw") / (col("_n") - col("_k")).cast("double")
    val ok = col("_k") >= 2 && col("_n") > col("_k") && sst > 0.0
    core.select(col("_n").cast("bigint").as("n"),
      col("_k").cast("bigint").as("k"),
      when(ok, round(col("_ssb") / sst, 6)).cast("double").as("eta2"),
      when(ok && col("_ssw") > 0.0,
        round(greatest(lit(0.0),
          (col("_ssb") - (col("_k") - 1).cast("double") * msw)
            / (sst + msw)), 6)).cast("double").as("omega2"))
  }

  /** Intraclass correlation ICC(1,1) — the reliability coefficient of
    * the agreement tier (L100 Cohen, L225 Fleiss, L239 Krippendorff
    * handle CATEGORICAL raters; L213 Cronbach asks about items; ICC is
    * the CONTINUOUS-measurement "how much of the variance is the
    * subject, not the measurement" number): one-way random effects on
    * balanced k-measurement panels, ICC = (MSB − MSW)/(MSB + (k−1)MSW)
    * from the [[anovaF]] fold with SUBJECTS as the groups. Negative
    * estimates are the estimator's known null behavior and are
    * reported as computed (clamping hides a meaningful "less agreement
    * than chance" signal here, unlike ω²'s convention).
    *
    * Balanced by contract: subjects with ≠ k measurements drop (the
    * fleissKappa complete-panel rule) — visible via n_subjects.
    * Exactness: [[anovaCore]] verbatim (1e6-scaled longs, decimal
    * moments, 12-dp frozen between terms — the scale cancels in the
    * ratio); MSB/MSW/ICC are identically-spelled float trees at 6 dp.
    * NULL when < 2 complete subjects or degenerate denominators.
    *
    * Scale shape: one completeness aggregate + the one-shuffle ANOVA
    * fold. Output: ONE row (n_subjects, k, msb, msw, icc).
    */
  def icc(df: DataFrame, subjectCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"icc: k must be >= 2, got $k")
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(subjectCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
    val complete = pts.groupBy("_g").agg(count(lit(1)).as("_c"))
      .filter(col("_c") === k).select("_g")
    val core = anovaCore(pts.join(complete, Seq("_g"), "left_semi"))
    val msb = col("_ssb") / (col("_k") - 1).cast("double")
    val msw = col("_ssw") / (col("_n") - col("_k")).cast("double")
    val ok = col("_k") >= 2 && col("_n") > col("_k")
    core.select(col("_k").cast("bigint").as("n_subjects"),
      lit(k).cast("int").as("k"),
      when(ok, round(msb / 1e12, 6)).cast("double").as("msb"),
      when(ok, round(msw / 1e12, 6)).cast("double").as("msw"),
      when(ok && (msb + (lit(k) - 1).cast("double") * msw) > 0.0,
        round((msb - msw) / (msb + (lit(k) - 1).cast("double") * msw), 6))
        .cast("double").as("icc"))
  }

  /** Brown–Forsythe test of variance homogeneity: one-way ANOVA F
    * over z = |x − median_g| — Levene's test with the MEDIAN center
    * (the robust form that keeps its size under heavy tails, and the
    * variant every "are these segments equally noisy" check should
    * default to). A significant F here invalidates the equal-variance
    * assumption [[anovaF]] itself leans on — run them as a pair.
    *
    * Exactness: the per-group center is the exact LOWER median of the
    * 1e6-scaled longs (the [[robustOutliers]] rank convention), so z
    * is an exact integer in scaled units and the downstream ANOVA
    * fold is the shared [[anovaOnPoints]] decimal tree.
    *
    * Scale shape: one per-group sort window for the median (the
    * robustOutliers cost class — at corpus scale pre-bin or use the
    * approx-median dual first), then the one-shuffle ANOVA fold.
    * Output: (n, k, dof_between, dof_within, f).
    */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
    anovaOnPoints(lowerMedian(pts, "_x", "_med")
      .select(col("_g"), abs(col("_x") - col("_med")).as("_x")))
  }

  /** Welch's heteroscedastic one-way ANOVA (Welch 1951) — the
    * unequal-variance F* that stays valid when [[brownForsythe]]
    * rejects the equal-variance assumption [[anovaF]] leans on; the
    * k-group generalization of [[welchTTest]]. With w_g = n_g/s_g²,
    * W = Σw, m̄ = Σ w·m / W, Λ = Σ (1−w_g/W)²/(n_g−1):
    *
    *   F* = [Σ w_g(m_g−m̄)² / (k−1)] / [1 + (2(k−2)/(k²−1))·Λ]
    *
    * with dof1 = k−1 and dof2 = (k²−1)/(3Λ) — Welch 1951's
    * approximate-degrees form.
    *
    * Exactness: per-group moments accumulate in decimal(38,0) over
    * 1e6-scaled longs; mean and variance per group are each ONE
    * 12-dp-frozen double then mean/variance DE-SCALE to natural units before their
    * 12-dp freezes (frozen scaled-unit weights would quantize to ~1
    * significant digit); every cross-group
    * sum folds 12-dp-frozen decimal terms (order-free); F* and dof2
    * are rounded at 6 dp. Groups need n_g ≥ 2 and s_g² > 0 —
    * degenerate groups are EXCLUDED with their count reported
    * (k_used); NULL when k_used < 2.
    *
    * Scale shape: ONE group-keyed moment aggregate → k-row frame →
    * one 1-row broadcast fold joined back — no windows, no sorts.
    * Output: (n, k_used, dof1, dof2, f).
    */
  def welchAnova(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec0 = "decimal(38,0)"
    val byG = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
      .groupBy("_g")
      .agg(count(lit(1)).as("_ng"),
        sum(col("_x").cast(dec0)).as("_s1"),
        sum((col("_x").cast(dec0) * col("_x")).cast(dec0)).as("_q1"))
      .filter(col("_ng") >= 2)
      // frozen per-group mean and UNBIASED variance, DE-SCALED back to
      // natural units before the freeze: w = n/s² in scaled units is
      // ~1e-12·w_natural, so a 12-dp freeze there would keep ~1 digit
      // of the weights (measured: 0.1% F* error on a k=2 fixture);
      // in natural units the freezes sit 8+ digits below the values
      .withColumn("_m",
        round(col("_s1").cast("double") / col("_ng") / 1e6, 12))
      .withColumn("_v", round((col("_q1").cast("double")
        - col("_s1").cast("double") * col("_s1").cast("double")
          / col("_ng")) / (col("_ng") - 1) / 1e12, 12))
      .filter(col("_v") > 0.0)
      .withColumn("_w", round(col("_ng") / col("_v"), 12))
    val tot = byG.agg(
      sum("_ng").as("_n"), count(lit(1)).as("_k"),
      sum(col("_w").cast(dec12)).as("_wsum"),
      sum(round(col("_w") * col("_m"), 12).cast(dec12)).as("_wm"))
    val withMean = byG.crossJoin(broadcast(tot))
      .withColumn("_mbar",
        round(col("_wm").cast("double") / col("_wsum").cast("double"), 12))
    val fold = withMean.groupBy("_n", "_k", "_wsum")
      .agg(
        sum(round(col("_w") * (col("_m") - col("_mbar"))
          * (col("_m") - col("_mbar")), 12).cast(dec12)).as("_num"),
        sum(round((lit(1.0) - col("_w") / col("_wsum").cast("double"))
          * (lit(1.0) - col("_w") / col("_wsum").cast("double"))
          / (col("_ng") - 1), 12).cast(dec12)).as("_lam"))
    fold.select(
      col("_n").cast("bigint").as("n"),
      col("_k").cast("bigint").as("k_used"),
      (col("_k") - 1).cast("bigint").as("dof1"),
      when(col("_k") >= 2 && col("_lam").cast("double") > 0.0,
        round((col("_k") * col("_k") - 1).cast("double")
          / (lit(3.0) * col("_lam").cast("double")), 6))
        .cast("double").as("dof2"),
      when(col("_k") >= 2,
        round((col("_num").cast("double") / (col("_k") - 1).cast("double"))
          / (lit(1.0) + (lit(2.0) * (col("_k") - 2).cast("double")
            / (col("_k") * col("_k") - 1).cast("double"))
            * col("_lam").cast("double")), 6))
        .cast("double").as("f"))
  }

  /** Hodges–Lehmann shift estimator between exactly two groups — the
    * median of ALL pairwise differences y − x: the robust "how much
    * did the distribution move" number that pairs with [[mannWhitney]]
    * (MW says WHETHER it moved; HL says BY HOW MUCH, immune to
    * outliers where a mean difference is not). Groups pair in label
    * order: shift = median{v(g2) − v(g1)}.
    *
    * Exactness: values quantize to 1e6-scaled longs; differences are
    * exact integers; the estimate is the exact LOWER median of the
    * n₁·n₂ pair multiset (the robustOutliers rank convention),
    * descaled at 6 dp. Exactly-two-groups contract (k_groups
    * reported, NULL otherwise — the [[yuenT]] pattern).
    *
    * Scale guard: the pair space is n₁·n₂ — the same quadratic class
    * as [[kendallTau]], guarded lazily at `maxPoints` rows per group
    * with the same pre-aggregate-to-cells escape hatch (daily cells,
    * value vocabularies). The pair join carries a constant-true key
    * and BROADCASTS the smaller side (the c-index precedent) — a
    * bounded nested-loop by contract, never an accidental one.
    *
    * Output: ONE row (g1, g2, k_groups, n1, n2, n_pairs, hl_shift).
    */
  def hodgesLehmann(df: DataFrame, groupCol: String, valueCol: String,
      maxPoints: Int = 1000): DataFrame = {
    require(maxPoints >= 1, "hodgesLehmann: maxPoints must be >= 1")
    val raw = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
    val pts = Stats.guardGroupSize(raw, "_x",
      s"hodgesLehmann: group exceeds $maxPoints points — pre-aggregate " +
        "the series to cells first", maxPoints)
      .localCheckpoint(false) // labels + both pair sides re-read it
    val labels = pts.agg(countDistinct("_g").as("_k"),
      min("_g").as("_g1"), max("_g").as("_g2"))
    val a = pts.crossJoin(broadcast(labels.select("_g1")))
      .filter(col("_g") === col("_g1")).select(col("_x").as("_xa"))
    val b = pts.crossJoin(broadcast(labels.select("_g2")))
      .filter(col("_g") === col("_g2")).select(col("_x").as("_xb"))
    val diffs = broadcast(a).crossJoin(b)
      .select((col("_xb") - col("_xa")).as("_d"))
    val wOrd = Window.orderBy("_d") // guarded-small by contract
    val medRank = floor((col("_m") + 1) / 2).cast("bigint")
    val med = diffs
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_m", count(lit(1)).over(
        Window.partitionBy(lit(1)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("_rn") === medRank)
      .select(count(lit(1)).as("_hit"), max("_d").as("_med"),
        max("_m").as("_npairs"))
    val sizes = pts.groupBy("_g").agg(count(lit(1)).as("_n"))
      .agg(min_by(col("_n"), col("_g")).as("_n1"),
        max_by(col("_n"), col("_g")).as("_n2"))
    labels.crossJoin(broadcast(med)).crossJoin(broadcast(sizes))
      .select(col("_g1").as("g1"), col("_g2").as("g2"),
        col("_k").cast("bigint").as("k_groups"),
        col("_n1").cast("bigint").as("n1"),
        col("_n2").cast("bigint").as("n2"),
        coalesce(col("_npairs"), lit(0L)).cast("bigint").as("n_pairs"),
        when(col("_k") === 2,
          round(col("_med").cast("double") / 1e6, 6))
          .cast("double").as("hl_shift"))
  }

  /** Conover's squared-ranks test for variance equality across k
    * groups — the RANK-based member of the spread-test trio
    * ([[bartlett]] is parametric and fragile off normality;
    * [[brownForsythe]] is median-ANOVA; this ranks |x − x̄_g| pooled
    * and compares squared-rank sums): T = (Σ_g S_g²/n_g − N·s̄²)/D²
    * vs χ²(k−1), with s_i the squared pooled mid-rank of the absolute
    * deviation, S_g its group sum, D² the sample variance of the s_i.
    *
    * Exactness: deviations |x − x̄_g| use a 12-dp-frozen group mean
    * over 1e6-scaled longs and freeze at 6 dp themselves; pooled
    * mid-ranks come from value-keyed CELL cumulatives (the
    * mannWhitney trick — no global row sort), DOUBLED to stay
    * integral; all rank powers (m2², m2⁴) accumulate exactly in
    * decimal(38,0) (the doubling cancels in T); T is one rounded
    * float tree. NULL when k < 2, N < 2, or D² = 0.
    *
    * Scale shape: one group-mean aggregate broadcast back, one
    * (value-cell) aggregation + vocabulary-sized cumulative, one
    * group fold. Output: ONE row (n, k, dof, t).
    */
  def conoverSquaredRanks(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
    val means = pts.groupBy(col("_g").as("_gm"))
      .agg(round(sum(col("_x").cast(dec)).cast("double")
        / count(lit(1)), 12).as("_mu"))
    val devs = pts.join(broadcast(means), col("_g") <=> col("_gm"))
      .select(col("_g"),
        round(abs(col("_x").cast("double") - col("_mu")), 6).as("_u"))
    val cells = devs.groupBy("_g", "_u").agg(count(lit(1)).as("_c"))
    val tot = cells.groupBy(col("_u").as("_uv")).agg(sum("_c").as("_e"))
      .withColumn("_cbelow", coalesce(sum("_e").over(
        Window.orderBy("_uv").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L))) // deviation-vocabulary-sized frame
    val withRank = cells
      .join(tot, col("_u") <=> col("_uv"))
      // doubled pooled mid-rank: 2·cbelow + e + 1 (exact integer)
      .withColumn("_m2", lit(2L) * col("_cbelow") + col("_e") + 1L)
      .withColumn("_q2", (col("_m2").cast(dec) * col("_m2")).cast(dec))
    val byG = withRank.groupBy("_g")
      .agg(sum(col("_c")).as("_ng"),
        sum((col("_c").cast(dec) * col("_q2")).cast(dec)).as("_sg"),
        sum((col("_c").cast(dec) * (col("_q2") * col("_q2")).cast(dec))
          .cast(dec)).as("_s4"))
    byG.agg(sum("_ng").as("_n"), count(lit(1)).as("_k"),
        sum(round(col("_sg").cast("double") * col("_sg").cast("double")
          / col("_ng"), 12).cast("decimal(38,12)")).as("_ssg"),
        sum(col("_sg")).as("_ss"), sum(col("_s4")).as("_sq"))
      .withColumn("_sbar", col("_ss").cast("double") / col("_n"))
      .withColumn("_d2",
        (col("_sq").cast("double")
          - col("_n").cast("double") * col("_sbar") * col("_sbar"))
          / (col("_n") - 1).cast("double"))
      .select(col("_n").cast("bigint").as("n"),
        col("_k").cast("bigint").as("k"),
        (col("_k") - 1).cast("bigint").as("dof"),
        when(col("_k") >= 2 && col("_n") >= 2 && col("_d2") > 0.0,
          round((col("_ssg").cast("double")
            - col("_n").cast("double") * col("_sbar") * col("_sbar"))
            / col("_d2"), 6)).cast("double").as("t"))
  }

  /** Yuen's trimmed-mean t-test between exactly two groups — the
    * robust location test heavy tails call for when [[welchT]]'s raw
    * means get dragged by outliers and [[mannWhitney]] answers a
    * different question (stochastic dominance, not means): compare
    * `trimPct`%-trimmed means with Winsorized variances,
    * t = (m̄t₁ − m̄t₂)/√(d₁+d₂), dᵢ = (nᵢ−1)s²wᵢ/(hᵢ(hᵢ−1)) with
    * h = n − 2g, g = ⌊n·trim⌋, Welch-style dof (Yuen 1974).
    *
    * Exactness: values quantize to 1e6-scaled longs; trim bounds are
    * exact order statistics from one per-group rank window; trimmed
    * sums and Winsorized moments accumulate in decimal(38,0); means/
    * variances/d freeze at 12 dp (descaled); t and dof are one
    * rounded tree. Requires exactly two groups — any other count
    * yields the k_groups row with NULL stats (the caller's loud
    * signal), never a silent pick.
    *
    * Scale shape: one per-group sort window (the robustOutliers cost
    * class) + one group moment aggregate + a 2-row fold. Output: ONE
    * row (g1, g2, k_groups, n1, n2, t, dof).
    */
  def yuenT(df: DataFrame, groupCol: String, valueCol: String,
      trimPct: Int = 20): DataFrame = {
    require(trimPct >= 1 && trimPct < 50,
      s"yuenT: trimPct must be in [1, 49], got $trimPct")
    // rank ties in _x may order arbitrarily — harmless: every
    // rank-derived quantity here (boundary VALUES, membership of the
    // trimmed middle, Winsorized values) is tie-invariant because tied
    // rows carry equal values
    val wOrd = Window.partitionBy("_g").orderBy("_x")
    val wAll = Window.partitionBy("_g")
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_gtrim", floor(col("_n") * trimPct / 100).cast("long"))
      .withColumn("_loV",
        max(when(col("_rn") === col("_gtrim") + 1, col("_x"))).over(wAll))
      .withColumn("_hiV",
        max(when(col("_rn") === col("_n") - col("_gtrim"), col("_x")))
          .over(wAll))
      .withColumn("_wv",
        when(col("_rn") <= col("_gtrim"), col("_loV"))
          .when(col("_rn") > col("_n") - col("_gtrim"), col("_hiV"))
          .otherwise(col("_x")))
    val byG = pts.groupBy("_g")
      .agg(max("_n").as("_ng"), max("_gtrim").as("_gt"),
        sum(when(col("_rn") > col("_gtrim")
          && col("_rn") <= col("_n") - col("_gtrim"),
          col("_x").cast(dec)).otherwise(lit(0).cast(dec))).as("_tsum"),
        sum(col("_wv").cast(dec)).as("_ws"),
        sum((col("_wv").cast(dec) * col("_wv")).cast(dec)).as("_wq"))
      .withColumn("_h", col("_ng") - lit(2) * col("_gt"))
      .withColumn("_tm",
        round(col("_tsum").cast("double") / col("_h") / 1e6, 12))
      .withColumn("_s2w",
        round((col("_ng").cast("double") * col("_wq").cast("double")
          - col("_ws").cast("double") * col("_ws").cast("double"))
          / (col("_ng").cast("double") * (col("_ng") - 1).cast("double"))
          / 1e12, 12))
      .withColumn("_d",
        when(col("_h") >= 2,
          round((col("_ng") - 1).cast("double") * col("_s2w")
            / (col("_h").cast("double") * (col("_h") - 1).cast("double")),
            12)))
    val two = byG.agg(count(lit(1)).as("_k"),
      min("_g").as("g1"), max("_g").as("g2"),
      min_by(struct(col("_ng"), col("_h"), col("_tm"), col("_d")), col("_g"))
        .as("_a"),
      max_by(struct(col("_ng"), col("_h"), col("_tm"), col("_d")), col("_g"))
        .as("_b"))
    val d1 = col("_a._d"); val d2 = col("_b._d")
    val h1 = col("_a._h"); val h2 = col("_b._h")
    val ok = (col("_k") === 2) && d1.isNotNull && d2.isNotNull &&
      ((d1 + d2) > 0.0) && (h1 >= 2) && (h2 >= 2)
    two.select(col("g1").cast("string").as("g1"),
      col("g2").cast("string").as("g2"),
      col("_k").cast("bigint").as("k_groups"),
      col("_a._ng").cast("bigint").as("n1"),
      col("_b._ng").cast("bigint").as("n2"),
      when(ok, round((col("_a._tm") - col("_b._tm")) / sqrt(d1 + d2), 6))
        .cast("double").as("t"),
      when(ok, round((d1 + d2) * (d1 + d2)
        / (d1 * d1 / (h1 - 1).cast("double")
          + d2 * d2 / (h2 - 1).cast("double")), 6))
        .cast("double").as("dof"))
  }

  /** Entropy rate of the observed first-order chain per group —
    * H = −Σ_s π̂_s Σ_s' p(s'|s)·ln p(s'|s) in nats with conditional
    * perplexity e^H: "how predictable is the next state given the
    * current one" — the sequence-predictability number on top of the
    * L122 transition matrix (a low rate says the chain is
    * deterministic enough to exploit; the per-sequence sibling of
    * L159's per-document Markov perplexity). π̂ is the empirical
    * source-state distribution of the observed transitions (exact
    * integer counts — the plug-in estimator, not the stationary
    * eigenvector; they coincide as the chain mixes).
    *
    * Exactness: transition and source counts are exact integers from
    * one lag window + one cell aggregation; each cell's
    * −(c/n)·ln(c/row_total) term is frozen at 12 dp into an
    * order-free decimal(38,12) sum; H and e^H round at 6 dp.
    * Deterministic single-state chains report H = 0.
    *
    * Scale shape: one per-(group, sequence) lag window, then
    * states²-bounded cells. Output: (group, n_transitions,
    * entropy_rate, perplexity).
    */
  def markovEntropyRate(df: DataFrame, groupCol: String, seqCol: String,
      tsCol: String, tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy("_g", "_s").orderBy("_o", "_tie")
    val trans = df.filter(col(stateCol).isNotNull)
      .select(col(groupCol).as("_g"), col(seqCol).as("_s"),
        col(tsCol).as("_o"), col(tieCol).as("_tie"),
        col(stateCol).as("_st"))
      .withColumn("_nx", lead("_st", 1).over(w))
      .filter(col("_nx").isNotNull)
      .groupBy(col("_g"), col("_st"), col("_nx"))
      .agg(count(lit(1)).as("_c"))
    val wSrc = Window.partitionBy("_g", "_st")
    val wAll = Window.partitionBy("_g")
    trans
      .withColumn("_rowtot", sum("_c").over(wSrc))
      .withColumn("_n", sum("_c").over(wAll))
      .withColumn("_term",
        round((col("_c").cast("double") / col("_n"))
          * -log(col("_c").cast("double") / col("_rowtot")), 12)
          .cast(dec12))
      .groupBy(col("_g").as(groupCol))
      .agg(max("_n").cast("bigint").as("n_transitions"),
        round(sum("_term").cast("double"), 6).cast("double")
          .as("entropy_rate"),
        round(exp(round(sum("_term").cast("double"), 6)), 6)
          .cast("double").as("perplexity"))
  }

  /** Binned two-segment breakpoint scan per group — sweep the B−1
    * interior edges of an equi-width x grid and report the split that
    * maximizes SSE reduction of piecewise simple OLS (left fit +
    * right fit vs one global fit): "where does the relationship
    * change" — the regression sibling of [[Profiling.infoGainStump]]
    * (label entropy) and the changepoint family's covariate-aware
    * member (CUSUM/Pettitt watch one series; this watches y|x).
    *
    * Per side, cost = (syy − sxy²/sxx)/n on n-scaled centered moments
    * (mean-only cost syy/n when the side's x is constant); gain =
    * cost_total − cost_left − cost_right; argmax on the (gain DESC,
    * edge ASC) total order.
    *
    * Exactness: x/y quantize to 1e6-scaled longs; per-bin moment
    * cells accumulate in decimal(38,0) and prefix sums ride ONE
    * bins-ordered window (exact integers end to end); every cost is
    * one identically-spelled float tree; gain/threshold round at 6 dp
    * (threshold = lo + q·(hi−lo)/B on per-group frozen edges, the
    * stump convention, descaled). Degenerate groups (n < 4, constant
    * x, or no valid split) report NULL edge/gain.
    *
    * Scale shape: one corpus-sized cell aggregation, then everything
    * is bins-bounded per group — the mannWhitneyBinned cost class.
    * Output: (group, n, edge, threshold, cost_total, cost_split,
    * gain).
    */
  def breakpointScan(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 4096, s"bins=$bins must be in [2, 4096]")
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_x"),
        round(col(yCol) * 1e6).cast("long").as("_yv"))
    val edges = pts.groupBy("_g")
      .agg(min("_x").as("_lo"), max("_x").as("_hi"),
        count(lit(1)).as("_ng"))
    val cells = pts.join(broadcast(edges), Seq("_g"))
      .withColumn("_q",
        when(col("_hi") > col("_lo"),
          least(floor((col("_x") - col("_lo")).cast("double") * bins
            / (col("_hi") - col("_lo")).cast("double")), lit(bins - 1)))
          .otherwise(lit(0)).cast("long"))
      .groupBy("_g", "_q")
      .agg(count(lit(1)).as("_n"),
        sum(col("_x").cast(dec)).as("_sx"),
        sum(col("_yv").cast(dec)).as("_sy"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_sxx"),
        sum((col("_yv").cast(dec) * col("_yv")).cast(dec)).as("_syy"),
        sum((col("_x").cast(dec) * col("_yv")).cast(dec)).as("_sxy"))
    val wCum = Window.partitionBy("_g").orderBy("_q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("_g")
    def cum(c: String) = sum(col(c)).over(wCum).as(c + "l")
    def tot(c: String) = sum(col(c)).over(wAll).as(c + "t")
    val withCums = cells.select(
      (Seq(col("_g"), col("_q")) ++
        Seq("_n", "_sx", "_sy", "_sxx", "_syy", "_sxy").map(cum) ++
        Seq("_n", "_sx", "_sy", "_sxx", "_syy", "_sxy").map(tot)): _*)
    // cost of one OLS segment from raw sums (NULL-free: mean-only
    // when x is constant on the side)
    def cost(n: Column, sx: Column, sy: Column, sxx: Column,
        syy: Column, sxy: Column): Column = {
      val nd = n.cast("double")
      val cxx = nd * sxx.cast("double") - sx.cast("double") * sx.cast("double")
      val cyy = nd * syy.cast("double") - sy.cast("double") * sy.cast("double")
      val cxy = nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")
      when(n >= 2 && cxx > 0.0, (cyy - cxy * cxy / cxx) / (nd * nd))
        .when(n >= 1, cyy / (nd * nd))
        .otherwise(lit(0.0))
    }
    val costL = cost(col("_nl"), col("_sxl"), col("_syl"), col("_sxxl"),
      col("_syyl"), col("_sxyl"))
    val costR = cost(col("_nt") - col("_nl"), col("_sxt") - col("_sxl"),
      col("_syt") - col("_syl"), col("_sxxt") - col("_sxxl"),
      col("_syyt") - col("_syyl"), col("_sxyt") - col("_sxyl"))
    val costT = cost(col("_nt"), col("_sxt"), col("_syt"), col("_sxxt"),
      col("_syyt"), col("_sxyt"))
    val wBest = Window.partitionBy("_g")
      .orderBy(col("_gain").desc, col("_q").asc)
    val scanned = withCums
      .filter(col("_q") < bins - 1 && col("_nl") < col("_nt"))
      .withColumn("_gain", round(costT - costL - costR, 6))
      .withColumn("_ct", round(costT, 6))
      .withColumn("_cs", round(costL + costR, 6))
      .withColumn("_rk", row_number().over(wBest))
      .filter(col("_rk") === 1)
    scanned.join(broadcast(edges), Seq("_g"), "right")
      .select(col("_g").as(groupCol),
        col("_ng").cast("bigint").as("n"),
        when(col("_gain").isNotNull && col("_nt") >= 4
            && col("_hi") > col("_lo"), col("_q") + 1)
          .cast("bigint").as("edge"),
        when(col("_gain").isNotNull && col("_nt") >= 4
            && col("_hi") > col("_lo"),
          round((col("_lo").cast("double") / 1e6)
            + (col("_q") + 1).cast("double")
              * ((col("_hi") - col("_lo")).cast("double") / 1e6)
              / bins, 6)).cast("double").as("threshold"),
        when(col("_ct").isNotNull, round(col("_ct") / 1e12, 6))
          .cast("double").as("cost_total"),
        when(col("_cs").isNotNull, round(col("_cs") / 1e12, 6))
          .cast("double").as("cost_split"),
        when(col("_gain").isNotNull && col("_nt") >= 4
            && col("_hi") > col("_lo"), round(col("_gain") / 1e12, 6))
          .cast("double").as("gain"))
  }

  /** Restricted mean survival time — the area under the KM curve up
    * to a clinically chosen τ: "expected event-free time within the
    * first τ units", the model-free effect measure survival analyses
    * report when proportional hazards (the [[coxPH]] assumption) is
    * in doubt. RMST = Σ S(t_{i−1})·(t_i − t_{i−1}) over event times
    * ≤ τ plus the S(t_last)·(τ − t_last) tail, with S(t₀) = 1.
    *
    * Exactness: survival steps are [[kaplanMeier]]'s 6-dp-frozen
    * values verbatim (same cells, same windows); segment widths are
    * exact integers; each S·width term freezes at 12 dp into an
    * order-free decimal(38,12) sum; RMST rounds at 6 dp. The tail
    * clamps at τ (an event time past τ contributes nothing). Groups
    * with NO event time ≤ τ are absent from the output (their curve
    * is flat at 1, RMST = τ by definition — absent, not fabricated);
    * the ungrouped global form reports that case as RMST = τ.
    *
    * Scale shape: kaplanMeier's — one (group, duration) count
    * shuffle, windows over calendar-bounded cells. Output:
    * (group..., n_events_used, rmst, tau).
    */
  def restrictedMeanSurvival(df: DataFrame, groupCols: Seq[String],
      durationCol: String, observed: Column, tau: Long): DataFrame = {
    require(tau >= 1, s"restrictedMeanSurvival: tau must be >= 1, got $tau")
    val gcols = groupCols.map(col)
    val km = kaplanMeier(df, groupCols, durationCol, observed)
      .filter(col("duration") <= tau)
    val wOrd = Window.partitionBy(gcols: _*).orderBy("duration")
    val wAll = Window.partitionBy(gcols: _*)
    val stepped = km
      .withColumn("_sprev",
        coalesce(lag(col("survival"), 1).over(wOrd), lit(1.0)))
      .withColumn("_tprev",
        coalesce(lag(col("duration"), 1).over(wOrd), lit(0L)))
      .withColumn("_last", max("duration").over(wAll))
      .withColumn("_seg",
        round(col("_sprev") * (col("duration") - col("_tprev")), 12)
          .cast(dec12))
      .withColumn("_tail",
        when(col("duration") === col("_last"),
          round(col("survival") * (lit(tau) - col("duration")), 12))
          .otherwise(lit(0.0)).cast(dec12))
    if (groupCols.isEmpty)
      stepped.agg(count(lit(1)).cast("bigint").as("n_events_used"),
        coalesce(round(sum(col("_seg")).cast("double")
          + sum(col("_tail")).cast("double"), 6), lit(tau.toDouble))
          .cast("double").as("rmst"),
        lit(tau).cast("bigint").as("tau"))
    else
      stepped.groupBy(gcols: _*)
        .agg(count(lit(1)).cast("bigint").as("n_events_used"),
          round(sum(col("_seg")).cast("double")
            + sum(col("_tail")).cast("double"), 6).cast("double").as("rmst"),
          lit(tau).cast("bigint").as("tau"))
  }

  /** Driver replica of [[coxPH]]'s Newton passes over the collected
    * subjects (see the fast-path note in coxPH): per-(group, t) cells
    * in duration-DESC order, exact decimal(38,12)/(38,6) sums, the
    * identical r1/U/I double trees, null group keys skipped (equi-
    * join), d = 0 cells contributing zero. */
  private def coxDriverDf(df: DataFrame, subj: DataFrame,
      collected: Array[Row], groupCol: String, iters: Int,
      tDesc: (Any, Any) => Boolean): DataFrame = {
    // group → subjects, then sort each group by t DESC once
    val (ids, gOf) = DriverPath.intern(collected, keepNulls = false)
    val subjects = Array.fill(ids.size)(
      new scala.collection.mutable.ArrayBuffer[(Any, Long, Double)]())
    collected.indices.foreach { i =>
      val row = collected(i)
      if (gOf(i) >= 0)
        subjects(gOf(i)) += ((row.get(1), row.getLong(2), row.getDouble(3)))
    }
    val gList = ids.keys.indices.map { g =>
      (ids.keys(g), subjects(g).sortWith((a, b) => tDesc(a._1, b._1)).toArray)
    }
    val nG = gList.length
    val bArr = new Array[Double](nG)
    val outN = new Array[Long](nG); val outEv = new Array[Long](nG)
    val outU = new Array[Double](nG); val outI = new Array[Double](nG)
    def pass(): Unit = {
      var gi = 0
      while (gi < nG) {
        val (_, rows) = gList(gi)
        val b = bArr(gi)
        // S_k: reverse cumulatives, so each cell adds into them directly
        val s0 = new DriverPath.Units(12); val s1 = new DriverPath.Units(12)
        val s2 = new DriverPath.Units(12)
        val uSum = new DriverPath.Units(12); val iSum = new DriverPath.Units(12)
        var n = 0L; var nev = 0L
        var i = 0
        while (i < rows.length) {
          // one (g, t) cell = the run of equal t (desc-sorted)
          val t0 = rows(i)._1
          var d = 0L; val sx = new DriverPath.Units(6); var nc = 0L
          while (i < rows.length && rows(i)._1 == t0) {
            val (_, e, x) = rows(i)
            val eb = math.exp(b * x)
            s0.add(eb)
            s1.add(x * eb)
            s2.add(x * x * eb)
            d += e
            sx.addCast(x * e) // cast-only (no pre-round)
            nc += 1L
            i += 1
          }
          if (d > 0L) {
            val s0d = s0.toDouble; val s1d = s1.toDouble
            val s2d = s2.toDouble
            val r1 = s1d / s0d
            uSum.add(sx.toDouble - d * r1)
            iSum.add(d * (s2d / s0d - r1 * r1))
          }
          n += nc; nev += d
        }
        outN(gi) = n; outEv(gi) = nev
        outU(gi) = uSum.toDouble; outI(gi) = iSum.toDouble
        gi += 1
      }
    }
    for (_ <- 1 to iters) {
      pass()
      var gi = 0
      while (gi < nG) {
        val iD = outI(gi)
        if (iD > 0.0) bArr(gi) = DriverPath.round(bArr(gi) + outU(gi) / iD, 12)
        gi += 1
      }
    }
    pass() // observed information at the final β
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(groupCol, subj.schema("_g").dataType),
      StructField("n", LongType), StructField("n_events", LongType),
      StructField("beta", DoubleType),
      StructField("hazard_ratio", DoubleType),
      StructField("se", DoubleType)))
    val out = (0 until nG).map { gi =>
      val iD = outI(gi)
      org.apache.spark.sql.Row(gList(gi)._1, outN(gi), outEv(gi),
        DriverPath.round(bArr(gi), 6), DriverPath.round(math.exp(bArr(gi)), 6),
        if (iD > 0.0) DriverPath.round(1.0 / math.sqrt(iD), 6) else null)
    }
    DriverPath.frame(df.sparkSession, out, schema)
  }

  /** Cox proportional-hazards fit, one covariate, Breslow ties, FIXED
    * Newton iterations from β = 0 — the regression member of the
    * survival family: KM/Nelson–Aalen describe a curve, the log-rank
    * tests two groups, the c-index grades a score, Cox puts a
    * HAZARD RATIO with a standard error on the covariate. Partial
    * likelihood: U(β) = Σ_events [Σx_event − d·S1/S0],
    * I(β) = Σ_events d·(S2/S0 − (S1/S0)²) with S_k(t) =
    * Σ_{T_j ≥ t} x_j^k·exp(βx_j); β ← β + U/I per iteration.
    *
    * Determinism (the pageRank fixed-iteration contract): covariates
    * freeze at 6 dp; per-subject exp terms freeze at 12 dp into
    * decimal cell sums (order-free); S_k are exact decimal reverse
    * cumulatives over the duration-DESC cell order; per-event-time
    * U/I terms freeze at 12 dp into decimal folds; β re-freezes at
    * 12 dp per iteration — an oracle unrolling the same iterations
    * reproduces it bit-for-bit. Iteration count is FIXED, not
    * convergence-tested; I ≤ 0 (degenerate spread) keeps β unchanged
    * and reports NULL se.
    *
    * Scale shape: per iteration, one broadcast join of the k-row β
    * table, one (group, duration) cell aggregation, windows over the
    * calendar-bounded cell table, one group fold — β never leaves the
    * cluster (no driver collect). Output: (group, n, n_events, beta,
    * hazard_ratio, se).
    */
  def coxPH(df: DataFrame, groupCol: String, durationCol: String,
      observed: Column, covariateCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, s"coxPH: iters must be in [1, 8]")
    val subj = df.filter(col(covariateCol).isNotNull
        && col(durationCol).isNotNull)
      .select(col(groupCol).as("_g"), col(durationCol).as("_t"),
        when(observed, 1L).otherwise(0L).as("_e"),
        round(col(covariateCol), 6).as("_x"))
      .localCheckpoint() // re-read every iteration
    // Driver fast path (r18, the logisticFit precedent): iters+1
    // passes of broadcast join + cell aggregate + risk-set window +
    // group aggregate collapse onto the collected subjects. Exact
    // decimal sums and identically-spelled double trees keep it
    // bit-exact; engaged only when the duration type's driver DESC
    // order replicates Spark's orderBy. StatsSpec pins path equality.
    locally {
      import org.apache.spark.sql.types._
      val tDesc: Option[(Any, Any) => Boolean] =
        subj.schema("_t").dataType match {
          case LongType | IntegerType | ShortType | ByteType =>
            Some((a, b) => a.asInstanceOf[Number].longValue() >
              b.asInstanceOf[Number].longValue())
          case DoubleType | FloatType =>
            // java compare: NaN greatest, matching Spark's DESC-first
            Some((a, b) => java.lang.Double.compare(
              a.asInstanceOf[Number].doubleValue(),
              b.asInstanceOf[Number].doubleValue()) > 0)
          case StringType =>
            Some((a, b) => java.util.Arrays.compareUnsigned(
              a.asInstanceOf[String].getBytes("UTF-8"),
              b.asInstanceOf[String].getBytes("UTF-8")) > 0)
          case DateType => Some((a, b) =>
            a.asInstanceOf[java.sql.Date].compareTo(
              b.asInstanceOf[java.sql.Date]) > 0)
          case _ => None
        }
      if (tDesc.isDefined && subj.schema("_x").dataType == DoubleType)
        DriverPath.rows(subj) match {
          case Some(rows) =>
            return coxDriverDf(df, subj, rows, groupCol, iters, tDesc.get)
          case None =>
        }
    }
    val wRev = Window.partitionBy("_g").orderBy(col("_t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pass(beta: DataFrame) = {
      val eb = exp(col("_b") * col("_x"))
      val cells = subj.join(broadcast(beta), Seq("_g"))
        .withColumn("_ex", round(eb, 12).cast(dec12))
        .withColumn("_xex", round(col("_x") * eb, 12).cast(dec12))
        .withColumn("_xxex",
          round(col("_x") * col("_x") * eb, 12).cast(dec12))
        .groupBy("_g", "_t")
        .agg(max("_b").as("_b"), // constant within group
          sum("_ex").as("_s0c"), sum("_xex").as("_s1c"),
          sum("_xxex").as("_s2c"),
          sum("_e").as("_d"),
          sum((col("_x") * col("_e")).cast("decimal(38,6)")).as("_sx"),
          count(lit(1)).as("_nc"))
      cells
        .withColumn("_S0", sum("_s0c").over(wRev))
        .withColumn("_S1", sum("_s1c").over(wRev))
        .withColumn("_S2", sum("_s2c").over(wRev))
        .withColumn("_r1", d("_S1") / d("_S0"))
        .groupBy("_g")
        .agg(max("_b").as("_b"),
          sum("_nc").cast("bigint").as("n"),
          sum("_d").cast("bigint").as("n_events"),
          sum(when(col("_d") > 0,
            round(d("_sx") - col("_d") * col("_r1"), 12))
            .otherwise(lit(0.0)).cast(dec12)).as("_U"),
          sum(when(col("_d") > 0, round(col("_d")
              * (d("_S2") / d("_S0") - col("_r1") * col("_r1")), 12))
            .otherwise(lit(0.0)).cast(dec12)).as("_I"))
    }
    val init = subj.select(col("_g")).distinct().withColumn("_b", lit(0.0))
    // the last pass, at the final β, gives the observed information → se
    newtonLoop(init, iters)(pass)(d("_I") > 0.0,
      "_b" -> (col("_b") + d("_U") / d("_I")))
      .select(col("_g").as(groupCol), col("n"), col("n_events"),
        round(col("_b"), 6).cast("double").as("beta"),
        round(exp(col("_b")), 6).cast("double").as("hazard_ratio"),
        when(d("_I") > 0.0, round(lit(1.0) / sqrt(d("_I")), 6))
          .cast("double").as("se"))
  }

  /** Logistic regression, one covariate with intercept, FIXED Newton
    * iterations from (α, β) = (0, 0) — the most common supervised
    * baseline after Naive Bayes: P(y=1|x) = 1/(1+e^−(α+βx)), reported
    * with se(β) and the odds ratio e^β. Newton step per iteration:
    * gradient g = [Σ(y−p), Σx(y−p)], Hessian H = [[Σw, Σxw],
    * [Σxw, Σx²w]] with w = p(1−p); (α,β) += H⁻¹g via the closed 2×2
    * solve.
    *
    * Determinism (the [[coxPH]] fixed-iteration contract verbatim):
    * x freezes at 6 dp; per-row gradient/Hessian terms freeze at
    * 12 dp into order-free decimal(38,12) sums; the 2×2 solve is one
    * identically-spelled float tree; α, β re-freeze at 12 dp per
    * iteration — an oracle unrolling the same iterations reproduces
    * the fit bit-for-bit. Iteration count is FIXED, not
    * convergence-tested; det ≤ 0 (degenerate or separated panel)
    * keeps the params unchanged that round and reports NULL se.
    * Perfect separation diverges in ANY Newton solver — the fixed
    * iteration count bounds it here; callers wanting a regularized
    * fit should damp x or cap iters.
    *
    * Scale shape: per iteration, one broadcast join of the k-row
    * param table + one group-keyed decimal aggregate — params never
    * leave the cluster (no driver collect); localCheckpoint truncates
    * the iterative lineage exactly as [[coxPH]]. Output: (group, n,
    * n_pos, alpha, beta, se_beta, z_beta, odds_ratio).
    */
  def logisticFit(df: DataFrame, groupCol: String, xCol: String,
      yCond: Column, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 8, s"logisticFit: iters must be in [1, 8]")
    val rows = df.filter(col(xCol).isNotNull)
      .select(col(groupCol).as("_g"), round(col(xCol), 6).as("_x"),
        when(yCond, 1.0).otherwise(0.0).as("_y"))
      .localCheckpoint() // re-read every iteration
    // Small-input driver fast path (r18, the pageRank-family
    // precedent): iters+1 full passes of broadcast join + two-level
    // decimal aggregate + params checkpoint cost ~15 scheduler rounds
    // for arithmetic a driver loop finishes in milliseconds. The
    // replica is BIT-EXACT: per-row 12-dp frozen terms are the
    // identical double trees, their decimal sums are exact and
    // order-free on both paths (BigInt unscaled units here), and the
    // Newton solve/output trees are spelled identically. Engaged only
    // for double x (a decimal xCol would flow decimal arithmetic
    // through the term trees); the distributed loop stays the 100 TB
    // path. StatsSpec pins path equality; the DuckDB oracles re-verify
    // the judged queries.
    if (rows.schema("_x").dataType ==
        org.apache.spark.sql.types.DoubleType) DriverPath.rows(rows) match {
      case Some(collected) =>
        return logisticDriverDf(df, rows, collected, groupCol, iters)
      case None =>
    }
    val p = lit(1.0) / (lit(1.0)
      + exp(-(col("_a") + col("_b") * col("_x"))))
    val init = rows.select(col("_g")).distinct()
      .withColumn("_a", lit(0.0)).withColumn("_b", lit(0.0))
    // the last pass, at the final params, gives the observed information
    newton2Loop(init, iters)(glmPass(rows,
        newton2Terms(col("_y") - p, p * (lit(1.0) - p)),
        sum(col("_y")).cast("bigint").as("n_pos")))
      .select(col("_g").as(groupCol),
        col("n").cast("bigint").as("n"), col("n_pos"),
        round(col("_a"), 6).cast("double").as("alpha"),
        round(col("_b"), 6).cast("double").as("beta"),
        newton2Se, newton2Z,
        round(exp(col("_b")), 6).cast("double").as("odds_ratio"))
  }

  /** Temperature scaling — the one-parameter calibration fix for an
    * overconfident scorer (the standard post-hoc step before
    * thresholding LLM/classifier logits): fit T so σ(s/T) matches
    * the observed label rates, by FIXED Newton passes on the inverse
    * temperature w = 1/T of the binary NLL (g = Σs(σ(ws) − y),
    * h = Σs²σ(1−σ) > 0 — the 1-D convex problem, no line search
    * needed). T > 1 reads "shrink the confidence", T < 1 "sharpen".
    * Pairs with [[RankEval.calibrationBins]]' ECE: ECE diagnoses,
    * this repairs.
    *
    * Determinism: the [[logisticFit]] contract in 1-D — 6-dp scores,
    * 12-dp frozen per-row g/h terms into decimal sums, w refrozen at
    * 12 dp per pass via a broadcast one-row param table (no driver
    * collect); in-plan EXP on identical doubles. Each step CLAMPS to
    * [0.001, 64] — raw Newton overshoots to negative w on extreme
    * logits (σ's flat tails starve the hessian; a measured failure:
    * ±5 logits at 3:1 rates diverge to w = −6.3 unclamped, and
    * converge to the true ln3/5 in three clamped passes). Degenerate
    * h ≤ 0 keeps w. Output: ONE row (n, n_pos, inv_temp,
    * temperature).
    */
  def temperatureScaling(df: DataFrame, scoreCol: String,
      yCond: Column, passes: Int = 4): DataFrame = {
    require(passes >= 1 && passes <= 6,
      s"temperatureScaling: passes must be in [1, 6], got $passes")
    val rows = df.filter(col(scoreCol).isNotNull)
      .select(round(col(scoreCol), 6).as("_s"),
        when(yCond, 1.0).otherwise(0.0).as("_y"))
      .localCheckpoint() // re-read every pass
    // Driver fast path — the 1-D member of the [[logisticFit]] replica
    // family: bit-exact (12-dp frozen terms into exact decimal sums,
    // the identical clamp tree). Empty input keeps the distributed
    // plan (its global aggregate emits one n=0 row a driver replica
    // of the grouped shape would not).
    if (rows.schema("_s").dataType == org.apache.spark.sql.types.DoubleType)
      DriverPath.rows(rows).filter(_.nonEmpty) match {
        case Some(collected) => return temperatureDriverDf(df, collected, passes)
        case None =>
      }
    def pass(params: DataFrame) = {
      val p = lit(1.0) / (lit(1.0) + exp(-(col("_w") * col("_s"))))
      rows.crossJoin(broadcast(params))
        .withColumn("_gt", round(col("_s") * (p - col("_y")), 12)
          .cast(dec12))
        .withColumn("_ht", round(col("_s") * col("_s") * p
          * (lit(1.0) - p), 12).cast(dec12))
        .agg(max("_w").as("_w"), count(lit(1)).as("n"),
          sum(col("_y")).cast("bigint").as("n_pos"),
          sum("_gt").as("_G"), sum("_ht").as("_H"))
    }
    newtonLoop(rows.limit(1).select(lit(1.0).as("_w")), passes)(pass)(
        d("_H") > 0.0, "_w" -> greatest(lit(0.001),
          least(lit(64.0), col("_w") - d("_G") / d("_H"))))
      .select(col("n").cast("bigint").as("n"), col("n_pos"),
        round(col("_w"), 6).cast("double").as("inv_temp"),
        when(col("_w") > 0.0, round(lit(1.0) / col("_w"), 6))
          .cast("double").as("temperature"))
  }

  /** Multiclass linear classifier by one-vs-rest logistic regression
    * (r14 verdict item 5): for each distinct label c, the binary fit
    * of (y = c) vs rest on the shared covariate — k independent
    * [[logisticFit]] panels reported side by side, argmax over the
    * per-class scores being the standard OvR decision rule. Chosen
    * over softmax deliberately: OvR reuses the judged 2×2 Newton
    * machinery VERBATIM (per class the problems are independent), so
    * every determinism guarantee transfers unchanged, while softmax
    * couples all classes into one (k−1)(p+1)-dim solve whose Cramer
    * trees explode past 3×3.
    *
    * Implementation: the input is replicated once per class (a
    * broadcast cross join against the ≤ maxClasses distinct labels —
    * the k-fold scan is the honest cost of k independent fits; the
    * classes frame is driver-bounded by contract and guarded loudly)
    * and [[logisticFit]] runs with class as the group key, fitting
    * all k panels in the SAME per-iteration aggregate — k Newton
    * solves for the price of one pass structure.
    *
    * Determinism: [[logisticFit]]'s contract verbatim (6-dp x, 12-dp
    * order-free decimal terms, 12-dp param refreeze per FIXED
    * iteration). At k = 2 the two rows are the binary fit and its
    * label-flipped mirror (StatsSpec pins the first equal to
    * [[logisticFit]] bit-for-bit).
    *
    * Output: (class, n, n_pos, alpha, beta, se_beta, z_beta,
    * odds_ratio) — one row per class; n is the full row count (every
    * row participates in every class's panel).
    */
  def logisticMulti(df: DataFrame, labelCol: String, xCol: String,
      iters: Int = 4, maxClasses: Int = 64): DataFrame = {
    require(maxClasses >= 2, s"logisticMulti: maxClasses must be >= 2")
    val classes = df.filter(col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("class")).distinct()
      .limit(maxClasses + 1).localCheckpoint()
    require(classes.count() <= maxClasses,
      s"logisticMulti: > $maxClasses distinct labels — OvR replicates " +
        "the scan per class; bucket the long tail first or raise " +
        "maxClasses knowingly")
    val expanded = df
      .filter(col(labelCol).isNotNull && col(xCol).isNotNull)
      .select(col(xCol).as("_xmc"),
        col(labelCol).cast("string").as("_lblmc"))
      .crossJoin(broadcast(classes))
    logisticFit(expanded, "class", "_xmc",
      col("_lblmc") === col("class"), iters)
  }

  /** Propensity-score stratified ATE — the observational-causal
    * workhorse beside L228's CUPED (experimental) and L229's DiD
    * (panel): when treatment is NOT randomized, fit P(treated | x)
    * with [[logisticFit]], cut the sample into equal-width propensity
    * strata, and average the within-stratum treated-vs-control
    * outcome differences weighted by stratum size — within a stratum
    * the arms are (approximately) exchangeable on x, so the weighted
    * difference estimates the ATE where a raw difference is
    * confounded. Strata missing an arm carry no comparison and are
    * excluded from the estimate (reported with NULL diff; the weight
    * base is the USED strata — standard practice, visible in the
    * panel).
    *
    * Determinism: the propensity model is [[logisticFit]] verbatim
    * (its 6-dp alpha/beta are the scoring params, so scores are one
    * identically-spelled sigmoid tree rounded at 6 dp); stratum =
    * min(⌊p·S⌋, S−1) on the ROUNDED score (equal-WIDTH bins — rank
    * ties make quantile bins engine-ambiguous); arm means from exact
    * decimal sums of 1e6-scaled outcomes; each stratum term freezes
    * at 12 dp into the decimal ATE fold.
    *
    * Scale shape: the logisticFit passes + one stratum aggregate +
    * one scalar broadcast — nothing beyond the fit's cost class.
    * Output: (stratum, n_treat, n_ctrl, y_treat, y_ctrl, diff, ate
    * [constant column — the weighted estimate]).
    */
  def propensityStratifiedAte(df: DataFrame, treat: Column,
      yCol: String, xCol: String, nStrata: Int = 5,
      iters: Int = 2): DataFrame = {
    require(nStrata >= 2 && nStrata <= 100,
      s"propensityStratifiedAte: nStrata must be in [2, 100], got $nStrata")
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(round(col(xCol), 6).as("_x"),
        when(treat, 1L).otherwise(0L).as("_t"),
        round(col(yCol) * 1e6).cast("long").as("_y"))
      .withColumn("_g", lit(1))
      .localCheckpoint()
    val fit = logisticFit(rows, "_g", "_x", col("_t") === 1L, iters)
      .select(col("_g"), col("alpha"), col("beta"))
    val scored = rows.join(broadcast(fit), Seq("_g"))
      .withColumn("_p",
        round(lit(1.0) / (lit(1.0)
          + exp(-(col("alpha") + col("beta") * col("_x")))), 6))
      .withColumn("stratum",
        least(floor(col("_p") * nStrata), lit(nStrata - 1)).cast("int"))
    val panel = scored.groupBy("stratum")
      .agg(sum(when(col("_t") === 1L, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("_t") === 0L, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("_t") === 1L, col("_y").cast(dec))).as("_sy1"),
        sum(when(col("_t") === 0L, col("_y").cast(dec))).as("_sy0"))
      .withColumn("y_treat",
        when(col("n_treat") > 0,
          round(col("_sy1").cast("double") / col("n_treat").cast("double")
            / 1e6, 6)).cast("double"))
      .withColumn("y_ctrl",
        when(col("n_ctrl") > 0,
          round(col("_sy0").cast("double") / col("n_ctrl").cast("double")
            / 1e6, 6)).cast("double"))
      .withColumn("diff",
        when(col("n_treat") > 0 && col("n_ctrl") > 0,
          round(col("y_treat") - col("y_ctrl"), 6)).cast("double"))
      .localCheckpoint()
    val used = panel.filter(col("diff").isNotNull)
      .agg(sum(col("n_treat") + col("n_ctrl")).as("_nu"))
    val ate = panel.filter(col("diff").isNotNull)
      .crossJoin(broadcast(used))
      .agg(sum(round(col("diff")
          * (col("n_treat") + col("n_ctrl")).cast("double")
          / col("_nu").cast("double"), 12).cast("decimal(38,12)"))
        .as("_a"))
      .select(round(col("_a").cast("double"), 6).cast("double").as("ate"))
    panel.crossJoin(broadcast(ate))
      .select("stratum", "n_treat", "n_ctrl", "y_treat", "y_ctrl",
        "diff", "ate")
  }

  /** Doubly-robust AIPW (augmented inverse-propensity-weighted) ATE —
    * the estimator that stays consistent if EITHER the propensity
    * model OR the outcome model is right (the reason it displaced
    * plain IPW and plain regression adjustment in observational
    * practice, and the workhorse behind debiased-ML causal
    * pipelines): ψ̂ = (1/n)Σ[ m₁(x) − m₀(x) + T(y−m₁(x))/e(x) −
    * (1−T)(y−m₀(x))/(1−e(x)) ], with e(x) the [[logisticFit]]
    * propensity (its 6-dp published α/β ARE the scoring params — the
    * [[propensityStratifiedAte]] contract) trimmed to [clip, 1−clip]
    * (the standard overlap guard — an untrimmed e near 0/1 lets one
    * row dominate the average), and m_t(x) per-arm closed-form OLS
    * on exact decimal moments (a_t, b_t frozen at 6 dp).
    *
    * Determinism: per-row contributions freeze at 12 dp into an
    * order-free decimal sum; the naive difference rides exact cents
    * sums. An armless dataset (no treated or no control rows)
    * reports NULL ATE, visibly.
    *
    * Scale shape: the logistic passes (iters × one aggregate) + one
    * per-arm moment aggregate + one contribution aggregate — nothing
    * but group-less folds over the corpus; fits broadcast back.
    * Output one row: (n, n_treat, ate_aipw, ate_naive).
    */
  def aipwAte(df: DataFrame, treat: Column, yCol: String, xCol: String,
      iters: Int = 2, clip: Double = 0.01): DataFrame = {
    require(clip > 0.0 && clip < 0.5, s"aipwAte: clip in (0, 0.5), got $clip")
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(round(col(xCol), 6).as("_x"),
        when(treat, 1L).otherwise(0L).as("_t"),
        round(col(yCol) * 1e6).cast("long").as("_y"))
      .withColumn("_g", lit(1))
      .localCheckpoint()
    val fit = logisticFit(rows, "_g", "_x", col("_t") === 1L, iters)
      .select(col("_g"), col("alpha"), col("beta"))
    // per-arm outcome OLS on exact decimal moments, params at 6 dp
    def m(a: String, b: String) =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val arms = rows
      .withColumn("_xq", round(col("_x") * 1e6).cast("long"))
      .groupBy("_t").agg(count(lit(1)).as("_n"),
        sum(col("_xq").cast(dec)).as("_sx"),
        sum(col("_y").cast(dec)).as("_sy"),
        m("_xq", "_xq").as("_sxx"), m("_xq", "_y").as("_sxy"))
    val nd = col("_n").cast("double")
    val mxx = nd * d("_sxx") - d("_sx") * d("_sx")
    val mxy = nd * d("_sxy") - d("_sx") * d("_sy")
    val slope = mxy / mxx
    val fits = arms.select(col("_t"), col("_n"),
      when(mxx > 0.0, round(slope, 6)).otherwise(lit(0.0)).as("_b"),
      when(mxx > 0.0,
        round((d("_sy") - slope * d("_sx")) / nd / 1e6, 6))
        .otherwise(round(d("_sy") / nd / 1e6, 6)).as("_a"))
    val f1 = fits.filter(col("_t") === 1L)
      .select(col("_n").as("_n1"), col("_a").as("_a1"), col("_b").as("_b1"))
    val f0 = fits.filter(col("_t") === 0L)
      .select(col("_n").as("_n0"), col("_a").as("_a0"), col("_b").as("_b0"))
    val scored = rows.join(broadcast(fit), Seq("_g"))
      .crossJoin(broadcast(f1)).crossJoin(broadcast(f0))
      .withColumn("_p",
        round(lit(1.0) / (lit(1.0)
          + exp(-(col("alpha") + col("beta") * col("_x")))), 6))
      .withColumn("_e",
        least(greatest(col("_p"), lit(clip)), lit(1.0 - clip)))
      .withColumn("_m1", col("_a1") + col("_b1") * col("_x"))
      .withColumn("_m0", col("_a0") + col("_b0") * col("_x"))
      .withColumn("_yd", col("_y").cast("double") / 1e6)
      .withColumn("_term", round(col("_m1") - col("_m0")
        + col("_t").cast("double") * (col("_yd") - col("_m1")) / col("_e")
        - (lit(1.0) - col("_t").cast("double")) * (col("_yd") - col("_m0"))
          / (lit(1.0) - col("_e")), 12))
    scored.agg(count(lit(1)).as("n"),
        sum(col("_t")).as("n_treat"),
        sum(col("_term").cast(dec12)).as("_s"),
        sum(when(col("_t") === 1L, col("_y").cast(dec))).as("_sy1"),
        sum(when(col("_t") === 0L, col("_y").cast(dec))).as("_sy0"))
      .select(col("n").cast("bigint").as("n"),
        col("n_treat").cast("bigint").as("n_treat"),
        when(col("n_treat") > 0 && col("n_treat") < col("n"),
          round(col("_s").cast("double") / col("n").cast("double"), 6))
          .cast("double").as("ate_aipw"),
        when(col("n_treat") > 0 && col("n_treat") < col("n"),
          round(col("_sy1").cast("double")
              / col("n_treat").cast("double") / 1e6
            - col("_sy0").cast("double")
              / (col("n").cast("double") - col("n_treat").cast("double"))
              / 1e6, 6))
          .cast("double").as("ate_naive"))
  }

  /** Logistic regression with TWO covariates + intercept — the
    * multivariate tier of [[logisticFit]], solved per Newton step by
    * the [[linearFitMulti3]] 3×3 Cramer trees on the Hessian
    * (first-row cofactor expansions; H is the PSD weighted Gram
    * matrix, so det > 0 except under collinearity/separation, which
    * freezes the step exactly like the 2×2 tier). Gradient g =
    * (Σ(y−p), Σx1(y−p), Σx2(y−p)); Hessian from w = p(1−p) weighted
    * moments.
    *
    * Same determinism contract as [[logisticFit]]: x's frozen at
    * 6 dp, per-row terms at 12 dp into order-free decimal sums,
    * params re-frozen at 12 dp per FIXED iteration, se from the
    * adjugate diagonals at the final fit. Output: (group, n, n_pos,
    * alpha, b1, b2, se_b1, se_b2, z_b1, z_b2).
    */
  def logisticFit2(df: DataFrame, groupCol: String, x1Col: String,
      x2Col: String, yCond: Column, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 8, s"logisticFit2: iters must be in [1, 8]")
    val rows = df.filter(col(x1Col).isNotNull && col(x2Col).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(x1Col), 6).as("_x1"), round(col(x2Col), 6).as("_x2"),
        when(yCond, 1.0).otherwise(0.0).as("_y"))
      .localCheckpoint()
    // Small-input driver fast path — the [[logisticFit]] replica with
    // the 3×3 Cramer solve; BIT-EXACT by the same argument (exact
    // order-free decimal sums, identically-spelled double trees).
    if (rows.schema("_x1").dataType ==
          org.apache.spark.sql.types.DoubleType
        && rows.schema("_x2").dataType ==
          org.apache.spark.sql.types.DoubleType) DriverPath.rows(rows) match {
      case Some(collected) =>
        return logistic2DriverDf(df, rows, collected, groupCol, iters)
      case None =>
    }
    val p = lit(1.0) / (lit(1.0)
      + exp(-(col("_a") + col("_b1") * col("_x1")
        + col("_b2") * col("_x2"))))
    val w = p * (lit(1.0) - p)
    val (x1, x2, r) = (col("_x1"), col("_x2"), col("_y") - p)
    val terms = Seq("_g0" -> r, "_g1" -> x1 * r, "_g2" -> x2 * r,
      "_h00" -> w, "_h01" -> x1 * w, "_h02" -> x2 * w,
      "_h11" -> x1 * x1 * w, "_h12" -> x1 * x2 * w, "_h22" -> x2 * x2 * w)
    val det =
      d("_H00") * (d("_H11") * d("_H22") - d("_H12") * d("_H12")) -
        d("_H01") * (d("_H01") * d("_H22") - d("_H12") * d("_H02")) +
        d("_H02") * (d("_H01") * d("_H12") - d("_H11") * d("_H02"))
    val det0 =
      d("_G0") * (d("_H11") * d("_H22") - d("_H12") * d("_H12")) -
        d("_H01") * (d("_G1") * d("_H22") - d("_H12") * d("_G2")) +
        d("_H02") * (d("_G1") * d("_H12") - d("_H11") * d("_G2"))
    val det1 =
      d("_H00") * (d("_G1") * d("_H22") - d("_H12") * d("_G2")) -
        d("_G0") * (d("_H01") * d("_H22") - d("_H12") * d("_H02")) +
        d("_H02") * (d("_H01") * d("_G2") - d("_G1") * d("_H02"))
    val det2 =
      d("_H00") * (d("_H11") * d("_G2") - d("_G1") * d("_H12")) -
        d("_H01") * (d("_H01") * d("_G2") - d("_G1") * d("_H02")) +
        d("_G0") * (d("_H01") * d("_H12") - d("_H11") * d("_H02"))
    val init = rows.select(col("_g")).distinct()
      .withColumn("_a", lit(0.0)).withColumn("_b1", lit(0.0))
      .withColumn("_b2", lit(0.0))
    val a22 = d("_H00") * d("_H22") - d("_H02") * d("_H02")
    val a33 = d("_H00") * d("_H11") - d("_H01") * d("_H01")
    newtonLoop(init, iters)(
        glmPass(rows, terms, sum(col("_y")).cast("bigint").as("n_pos")))(
        det > 0.0, "_a" -> (col("_a") + det0 / det),
        "_b1" -> (col("_b1") + det1 / det), "_b2" -> (col("_b2") + det2 / det))
      .select(col("_g").as(groupCol),
        col("n").cast("bigint").as("n"), col("n_pos"),
        round(col("_a"), 6).cast("double").as("alpha"),
        round(col("_b1"), 6).cast("double").as("b1"),
        round(col("_b2"), 6).cast("double").as("b2"),
        when(det > 0.0, round(sqrt(a22 / det), 6))
          .cast("double").as("se_b1"),
        when(det > 0.0, round(sqrt(a33 / det), 6))
          .cast("double").as("se_b2"),
        when(det > 0.0, round(col("_b1") / sqrt(a22 / det), 6))
          .cast("double").as("z_b1"),
        when(det > 0.0, round(col("_b2") / sqrt(a33 / det), 6))
          .cast("double").as("z_b2"))
  }

  /** The distributed Newton loop of the fixed-iteration fits (the plan
    * twin of [[GlmRows.newton]]): `iters` times, `pass` at the current
    * params, then each `updates` param re-frozen at 12 dp where `ok`
    * holds (kept where not) into a localCheckpointed table keyed by
    * `init`'s other columns; returns one last `pass` at the final
    * params. */
  private def newtonLoop(init: DataFrame, iters: Int)(
      pass: DataFrame => DataFrame)(ok: Column,
      updates: (String, Column)*): DataFrame = {
    val keys = init.columns.toSeq.filterNot(c => updates.exists(_._1 == c))
    var params = init
    for (_ <- 1 to iters) {
      params = pass(params).select(keys.map(col) ++ updates.map {
        case (p, u) => when(ok, round(u, 12)).otherwise(col(p)).as(p)
      }: _*)
        .localCheckpoint() // k rows; truncate the iterative lineage
    }
    pass(params)
  }

  /** One pass of a grouped GLM at `params` (keyed by `_g`): the rows
    * joined to the broadcast params, each named per-row term frozen at
    * 12 dp into decimal(38,12), then one group fold of the params
    * (constant per group), n, `extra` and the term sums, each sum
    * named as its term in upper case. */
  private def glmPass(rows: DataFrame, terms: Seq[(String, Column)],
      extra: Column*)(params: DataFrame): DataFrame = {
    val frozen = terms.foldLeft(rows.join(broadcast(params), Seq("_g"))) {
      case (df, (t, term)) => df.withColumn(t, round(term, 12).cast(dec12))
    }
    val aggs = params.columns.toSeq.filter(_ != "_g").map(p => max(p).as(p)) ++
      (count(lit(1)).as("n") +: extra) ++
      terms.map { case (t, _) => sum(t).as(t.toUpperCase) }
    frozen.groupBy("_g").agg(aggs.head, aggs.tail: _*)
  }

  /** The per-row terms of the 2×2 fits ([[logisticFit]], [[poissonFit]])
    * for residual `r` and weight `w`: gradient (r, xr), Hessian (w, xw,
    * x²w). */
  private def newton2Terms(r: Column, w: Column): Seq[(String, Column)] = {
    val x = col("_x")
    Seq("_g0" -> r, "_g1" -> x * r, "_h00" -> w, "_h01" -> x * w,
      "_h11" -> x * x * w)
  }

  /** The Hessian determinant on the sums of [[newton2Terms]]. */
  private def newton2Det: Column =
    d("_H00") * d("_H11") - d("_H01") * d("_H01")

  /** [[newtonLoop]] with the closed 2×2 step (α, β) += H⁻¹g on the
    * sums of [[newton2Terms]], the plan twin of [[newton2]]; det ≤ 0
    * keeps the params. */
  private def newton2Loop(init: DataFrame, iters: Int)(
      pass: DataFrame => DataFrame): DataFrame = {
    val det = newton2Det
    newtonLoop(init, iters)(pass)(det > 0.0,
      "_a" -> (col("_a") + (d("_G0") * d("_H11") - d("_G1") * d("_H01")) / det),
      "_b" -> (col("_b") + (d("_G1") * d("_H00") - d("_G0") * d("_H01")) / det))
  }

  /** se(β) at the final 2×2 fit, NULL where det ≤ 0. */
  private def newton2Se: Column = when(newton2Det > 0.0,
    round(sqrt(d("_H00") / newton2Det), 6)).cast("double").as("se_beta")

  /** z(β) at the final 2×2 fit, NULL where det ≤ 0. */
  private def newton2Z: Column = when(newton2Det > 0.0,
    round(col("_b") / sqrt(d("_H00") / newton2Det), 6))
    .cast("double").as("z_beta")

  /** Collected (g, x_1..x_p, y) rows of a grouped GLM replica, null
    * group keys skipped (the per-pass equi-join drops them). */
  private final class GlmRows(collected: Array[Row], p: Int) {
    private val (ids, gAll) = DriverPath.intern(collected, keepNulls = false)
    private val kept = collected.indices.filter(gAll(_) >= 0).toArray
    val keys = ids.keys
    val ng = ids.size
    val n = kept.length
    val gi = kept.map(gAll)
    val xs = Array.tabulate(p)(j => kept.map(collected(_).getDouble(1 + j)))
    val ys = kept.map(collected(_).getDouble(1 + p))
    val counts = new Array[Long](ng)
    gi.foreach(counts(_) += 1L)

    /** Sequential per-group Σy in row order (the log-mean inits). */
    def ySums: Array[Double] = {
      val sy = new Array[Double](ng)
      var i = 0
      while (i < n) { sy(gi(i)) += ys(i); i += 1 }
      sy
    }

    /** The GLM replicas' shared Newton loop: `iters` exact folds of the
      * per-row `terms` (`nDec` decimal, `nDbl` double), each followed by
      * `step(g, sums)` updating the caller's params for every group, then
      * one fold at the final params, whose sums are returned. */
    def newton(iters: Int, nDec: Int, nDbl: Int)(
        terms: (Int, Array[Double]) => Unit)(
        step: (Int, DriverPath.Sums) => Unit): DriverPath.Sums = {
      for (_ <- 1 to iters) {
        val s = DriverPath.fold(n, ng, gi, nDec, nDbl)(terms)
        var g = 0
        while (g < ng) { step(g, s); g += 1 }
      }
      DriverPath.fold(n, ng, gi, nDec, nDbl)(terms)
    }
  }

  /** The closed 2×2 Newton step (α, β) += H⁻¹g shared by the logistic
    * and Poisson replicas, on sums (G0, G1, H00, H01, H11) at term
    * offset 0; det ≤ 0 keeps the params. */
  private def newton2(s: DriverPath.Sums, g: Int, a: Array[Double],
      b: Array[Double]): Unit = {
    val g0 = s.d(0, g); val g1 = s.d(1, g)
    val h00 = s.d(2, g); val h01 = s.d(3, g); val h11 = s.d(4, g)
    val det = h00 * h11 - h01 * h01
    if (det > 0.0) {
      a(g) = DriverPath.round(a(g) + (g0 * h11 - g1 * h01) / det, 12)
      b(g) = DriverPath.round(b(g) + (g1 * h00 - g0 * h01) / det, 12)
    }
  }

  /** Driver replica of [[logisticFit]]'s Newton passes (see the
    * fast-path note there); n_pos sums 0/1 doubles, exact in any order. */
  private def logisticDriverDf(df: DataFrame, rows: DataFrame,
      collected: Array[Row], groupCol: String, iters: Int): DataFrame = {
    val glm = new GlmRows(collected, 1)
    val (gi, xs, ys) = (glm.gi, glm.xs(0), glm.ys)
    val a = new Array[Double](glm.ng); val b = new Array[Double](glm.ng)
    val s = glm.newton(iters, 5, 1) { (i, t) =>
      val g = gi(i); val x = xs(i); val y = ys(i)
      val p = 1.0 / (1.0 + math.exp(-(a(g) + b(g) * x)))
      val w = p * (1.0 - p)
      t(0) = y - p; t(1) = x * (y - p)
      t(2) = w; t(3) = x * w; t(4) = x * x * w
      t(5) = y
    }((g, s) => newton2(s, g, a, b))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(groupCol, rows.schema("_g").dataType),
      StructField("n", LongType), StructField("n_pos", LongType),
      StructField("alpha", DoubleType), StructField("beta", DoubleType),
      StructField("se_beta", DoubleType),
      StructField("z_beta", DoubleType),
      StructField("odds_ratio", DoubleType)))
    val out = (0 until glm.ng).map { g =>
      val h00 = s.d(2, g); val h01 = s.d(3, g); val h11 = s.d(4, g)
      val det = h00 * h11 - h01 * h01
      Row(glm.keys(g), glm.counts(g), s.dbl(0)(g).toLong,
        DriverPath.round(a(g), 6), DriverPath.round(b(g), 6),
        if (det > 0.0) DriverPath.round(math.sqrt(h00 / det), 6)
        else null,
        if (det > 0.0)
          DriverPath.round(b(g) / math.sqrt(h00 / det), 6)
        else null,
        DriverPath.round(math.exp(b(g)), 6))
    }
    DriverPath.frame(df.sparkSession, out, schema)
  }

  /** Driver replica of [[logisticFit2]] — [[logisticDriverDf]] with the
    * 3×3 Cramer solve. */
  private def logistic2DriverDf(df: DataFrame, rows: DataFrame,
      collected: Array[Row], groupCol: String, iters: Int): DataFrame = {
    val glm = new GlmRows(collected, 2)
    val (gi, x1s, x2s, ys) = (glm.gi, glm.xs(0), glm.xs(1), glm.ys)
    val ng = glm.ng
    val a = new Array[Double](ng)
    val b1 = new Array[Double](ng); val b2 = new Array[Double](ng)
    // sums G0 G1 G2 H00 H01 H02 H11 H12 H22; the det/det0/det1/det2
    // double trees, spelled as in the plan
    def solve(s: DriverPath.Sums, g: Int): (Double, Double, Double, Double) = {
      val g0 = s.d(0, g); val g1 = s.d(1, g); val g2 = s.d(2, g)
      val h00 = s.d(3, g); val h01 = s.d(4, g); val h02 = s.d(5, g)
      val h11 = s.d(6, g); val h12 = s.d(7, g); val h22 = s.d(8, g)
      val det = h00 * (h11 * h22 - h12 * h12) -
        h01 * (h01 * h22 - h12 * h02) +
        h02 * (h01 * h12 - h11 * h02)
      val det0 = g0 * (h11 * h22 - h12 * h12) -
        h01 * (g1 * h22 - h12 * g2) +
        h02 * (g1 * h12 - h11 * g2)
      val det1 = h00 * (g1 * h22 - h12 * g2) -
        g0 * (h01 * h22 - h12 * h02) +
        h02 * (h01 * g2 - g1 * h02)
      val det2 = h00 * (h11 * g2 - g1 * h12) -
        h01 * (h01 * g2 - g1 * h02) +
        g0 * (h01 * h12 - h11 * h02)
      (det, det0, det1, det2)
    }
    val s = glm.newton(iters, 9, 1) { (i, t) =>
      val g = gi(i); val x1 = x1s(i); val x2 = x2s(i); val y = ys(i)
      val p = 1.0 / (1.0 + math.exp(-(a(g) + b1(g) * x1 + b2(g) * x2)))
      val w = p * (1.0 - p)
      t(0) = y - p; t(1) = x1 * (y - p); t(2) = x2 * (y - p)
      t(3) = w; t(4) = x1 * w; t(5) = x2 * w
      t(6) = x1 * x1 * w; t(7) = x1 * x2 * w; t(8) = x2 * x2 * w
      t(9) = y
    } { (g, s) =>
      val (det, det0, det1, det2) = solve(s, g)
      if (det > 0.0) {
        a(g) = DriverPath.round(a(g) + det0 / det, 12)
        b1(g) = DriverPath.round(b1(g) + det1 / det, 12)
        b2(g) = DriverPath.round(b2(g) + det2 / det, 12)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(groupCol, rows.schema("_g").dataType),
      StructField("n", LongType), StructField("n_pos", LongType),
      StructField("alpha", DoubleType),
      StructField("b1", DoubleType), StructField("b2", DoubleType),
      StructField("se_b1", DoubleType), StructField("se_b2", DoubleType),
      StructField("z_b1", DoubleType), StructField("z_b2", DoubleType)))
    val out = (0 until ng).map { g =>
      val (det, _, _, _) = solve(s, g)
      val h00 = s.d(3, g); val h01 = s.d(4, g); val h02 = s.d(5, g)
      val h11 = s.d(6, g); val h22 = s.d(8, g)
      val a22 = h00 * h22 - h02 * h02
      val a33 = h00 * h11 - h01 * h01
      Row(glm.keys(g), glm.counts(g), s.dbl(0)(g).toLong,
        DriverPath.round(a(g), 6),
        DriverPath.round(b1(g), 6), DriverPath.round(b2(g), 6),
        if (det > 0.0) DriverPath.round(math.sqrt(a22 / det), 6)
        else null,
        if (det > 0.0) DriverPath.round(math.sqrt(a33 / det), 6)
        else null,
        if (det > 0.0)
          DriverPath.round(b1(g) / math.sqrt(a22 / det), 6)
        else null,
        if (det > 0.0)
          DriverPath.round(b2(g) / math.sqrt(a33 / det), 6)
        else null)
    }
    DriverPath.frame(df.sparkSession, out, schema)
  }

  /** Driver replica of [[poissonFit]]'s iterations (see the fast-path
    * note there). */
  private def poissonDriverDf(df: DataFrame, rows: DataFrame,
      collected: Array[Row], groupCol: String, iters: Int): DataFrame = {
    val glm = new GlmRows(collected, 1)
    val (gi, xs, ys, ns) = (glm.gi, glm.xs(0), glm.ys, glm.counts)
    val sy0 = glm.ySums
    // init at the Laplace-smoothed log-mean, as in the plan
    val a = Array.tabulate(glm.ng)(g => DriverPath.round(
      math.log((sy0(g) + 1.0) / (ns(g) + 1.0)), 12))
    val b = new Array[Double](glm.ng)
    // sums G0 G1 H00 H01 H11 CHI, then sum_y
    val s = glm.newton(iters, 6, 1) { (i, t) =>
      val g = gi(i); val x = xs(i); val y = ys(i)
      val mu = math.exp(a(g) + b(g) * x)
      t(0) = y - mu; t(1) = x * (y - mu)
      t(2) = mu; t(3) = x * mu; t(4) = x * x * mu
      t(5) = (y - mu) * (y - mu) / mu
      t(6) = y
    }((g, s) => newton2(s, g, a, b))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(groupCol, rows.schema("_g").dataType),
      StructField("n", LongType), StructField("sum_y", DoubleType),
      StructField("alpha", DoubleType), StructField("beta", DoubleType),
      StructField("se_beta", DoubleType), StructField("z_beta", DoubleType),
      StructField("rate_ratio", DoubleType),
      StructField("dispersion", DoubleType),
      StructField("se_beta_quasi", DoubleType)))
    val out = (0 until glm.ng).map { g =>
      val h00 = s.d(2, g); val h01 = s.d(3, g)
      val h11 = s.d(4, g); val chi = s.d(5, g)
      val det = h00 * h11 - h01 * h01
      val nD = ns(g).toDouble
      Row(glm.keys(g), ns(g),
        DriverPath.round(s.dbl(0)(g), 6),
        DriverPath.round(a(g), 6), DriverPath.round(b(g), 6),
        if (det > 0.0) DriverPath.round(math.sqrt(h00 / det), 6) else null,
        if (det > 0.0)
          DriverPath.round(b(g) / math.sqrt(h00 / det), 6) else null,
        DriverPath.round(math.exp(b(g)), 6),
        if (ns(g) > 2L) DriverPath.round(chi / (nD - 2.0), 6) else null,
        if (det > 0.0 && ns(g) > 2L)
          DriverPath.round(
            math.sqrt(h00 / det) * math.sqrt(chi / (nD - 2.0)), 6)
        else null)
    }
    DriverPath.frame(df.sparkSession, out, schema)
  }

  /** Driver replica of [[gammaFit]]'s constant-weight IRLS (see the
    * fast-path note there). */
  private def gammaDriverDf(df: DataFrame, rows: DataFrame,
      collected: Array[Row], groupCol: String, iters: Int): DataFrame = {
    val glm = new GlmRows(collected, 1)
    val (gi, xs, ys, ns) = (glm.gi, glm.xs(0), glm.ys, glm.counts)
    val sy0 = glm.ySums
    val a = Array.tabulate(glm.ng)(g =>
      DriverPath.round(math.log(sy0(g) / ns(g).toDouble), 12))
    val b = new Array[Double](glm.ng)
    // sums SZ SXZ SX SXX CHI
    val s = glm.newton(iters, 5, 0) { (i, t) =>
      val g = gi(i); val x = xs(i); val y = ys(i)
      val eta = a(g) + b(g) * x
      val mu = math.exp(eta)
      val z = eta + (y - mu) / mu
      t(0) = z; t(1) = x * z; t(2) = x; t(3) = x * x
      t(4) = (y - mu) * (y - mu) / (mu * mu)
    } { (g, s) =>
      val sz = s.d(0, g); val sxz = s.d(1, g)
      val sx = s.d(2, g); val sxx = s.d(3, g)
      val nD = ns(g).toDouble
      val det = nD * sxx - sx * sx
      if (det > 0.0) {
        // the in-plan trees: b = (n·Sxz − Sx·Sz)/det,
        // a = (Sz − b·Sx)/n with b's tree inlined
        a(g) = DriverPath.round(
          (sz - (nD * sxz - sx * sz) / det * sx) / nD, 12)
        b(g) = DriverPath.round((nD * sxz - sx * sz) / det, 12)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(groupCol, rows.schema("_g").dataType),
      StructField("n", LongType),
      StructField("alpha", DoubleType), StructField("beta", DoubleType),
      StructField("se_beta", DoubleType), StructField("z_beta", DoubleType),
      StructField("rate_ratio", DoubleType),
      StructField("dispersion", DoubleType)))
    val out = (0 until glm.ng).map { g =>
      val sx = s.d(2, g); val sxx = s.d(3, g); val chi = s.d(4, g)
      val nD = ns(g).toDouble
      val det = nD * sxx - sx * sx
      val se = math.sqrt(chi / (nD - 2.0) * (nD / det))
      Row(glm.keys(g), ns(g),
        DriverPath.round(a(g), 6), DriverPath.round(b(g), 6),
        if (det > 0.0 && ns(g) > 2L) DriverPath.round(se, 6) else null,
        if (det > 0.0 && ns(g) > 2L)
          DriverPath.round(b(g) / se, 6) else null,
        DriverPath.round(math.exp(b(g)), 6),
        if (ns(g) > 2L) DriverPath.round(chi / (nD - 2.0), 6) else null)
    }
    DriverPath.frame(df.sparkSession, out, schema)
  }

  /** Driver replica of [[temperatureScaling]]'s clamped 1-D Newton
    * passes (see the fast-path note there). */
  private def temperatureDriverDf(df: DataFrame, collected: Array[Row],
      passes: Int): DataFrame = {
    val ss = collected.map(_.getDouble(0))
    val ys = collected.map(_.getDouble(1))
    var w = 1.0
    // sums G H (decimal), then n_pos
    def pass() = DriverPath.fold(ss.length, 1, null, 2, 1) { (i, t) =>
      val s = ss(i); val y = ys(i)
      val p = 1.0 / (1.0 + math.exp(-(w * s)))
      t(0) = s * (p - y); t(1) = s * s * p * (1.0 - p); t(2) = y
    }
    for (_ <- 1 to passes) {
      val s = pass()
      val hD = s.d(1, 0)
      if (hD > 0.0)
        w = DriverPath.round(math.max(0.001,
          math.min(64.0, w - s.d(0, 0) / hD)), 12)
    }
    val ypos = pass().dbl(0)(0)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n", LongType), StructField("n_pos", LongType),
      StructField("inv_temp", DoubleType),
      StructField("temperature", DoubleType)))
    val out = Seq(Row(ss.length.toLong, ypos.toLong,
      DriverPath.round(w, 6),
      if (w > 0.0) DriverPath.round(1.0 / w, 6) else null))
    DriverPath.frame(df.sparkSession, out, schema)
  }

  /** Poisson regression, one covariate with intercept, FIXED Newton
    * iterations from α = Laplace-smoothed log-mean, β = 0 (the
    * standard GLM start — from α = 0 the first step on large counts
    * overshoots to e^49-scale μ and freezes on inf) — the count-data
    * member of the GLM trio ([[linearFitMulti]] gaussian,
    * [[logisticFit]] binomial, this): log μ = α + βx, so e^β is a
    * RATE RATIO per unit x (daily events, defects, arrivals). Newton
    * step: gradient g = [Σ(y−μ), Σx(y−μ)], Hessian H = [[Σμ, Σxμ],
    * [Σxμ, Σx²μ]] with μ = e^(α+βx); (α,β) += H⁻¹g via the closed
    * 2×2 solve.
    *
    * Determinism: the [[logisticFit]] contract verbatim — x frozen at
    * 6 dp, per-row terms frozen at 12 dp into order-free
    * decimal(38,12) sums, one identically-spelled 2×2 float tree,
    * params re-frozen at 12 dp per iteration; det ≤ 0 keeps params
    * and reports NULL se. y must be a non-negative count (counts are
    * exact longs; a negative count is rejected loudly in-plan via the
    * guard column). Fixed iterations bound any divergence.
    *
    * Scale shape: per iteration one broadcast join of the k-row param
    * table + one group-keyed decimal aggregate; params never leave
    * the cluster. Output: (group, n, sum_y, alpha, beta, se_beta,
    * z_beta, rate_ratio).
    */
  def poissonFit(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 8, s"poissonFit: iters must be in [1, 8]")
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"), round(col(xCol), 6).as("_x"),
        col(yCol).cast("double").as("_y"))
      .withColumn("_y", when(col("_y") >= 0.0, col("_y")).otherwise(
        raise_error(lit("poissonFit: negative count in y"))))
      .localCheckpoint() // re-read every iteration
    // Driver fast path (the [[logisticFit]] replica with Poisson
    // terms and the Laplace-smoothed log-mean init). The init's and
    // sum_y's double sums are exact for count data (integers); the
    // 12-dp freezes guard the rest identically on both paths.
    if (rows.schema("_x").dataType == org.apache.spark.sql.types.DoubleType)
      DriverPath.rows(rows) match {
        case Some(collected) =>
          return poissonDriverDf(df, rows, collected, groupCol, iters)
        case None =>
      }
    val mu = exp(col("_a") + col("_b") * col("_x"))
    val r = col("_y") - mu
    // init α at the Laplace-smoothed log-mean (the standard GLM start;
    // from α = 0 the first Newton step on large counts overshoots to
    // e^49-scale μ and the fit freezes on inf/NaN), β at 0 — both
    // deterministic and oracle-replicable from the same sums
    val init = rows.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n0"), sum(col("_y")).as("_sy0"))
      .select(col("_g"),
        round(log((col("_sy0") + 1.0) / (col("_n0") + 1.0).cast("double")),
          12).as("_a"),
        lit(0.0).as("_b"))
    val det = newton2Det
    newton2Loop(init, iters)(glmPass(rows,
        newton2Terms(r, mu) :+ ("_pe" -> r * r / mu),
        sum(col("_y")).cast("double").as("sum_y")))
      .select(col("_g").as(groupCol),
        col("n").cast("bigint").as("n"),
        round(col("sum_y"), 6).cast("double").as("sum_y"),
        round(col("_a"), 6).cast("double").as("alpha"),
        round(col("_b"), 6).cast("double").as("beta"),
        newton2Se, newton2Z,
        round(exp(col("_b")), 6).cast("double").as("rate_ratio"),
        // overdispersion diagnostic: Pearson χ²/(n−2) at the final fit —
        // ≈ 1 for true Poisson data; ≫ 1 says the variance outruns the
        // mean and a quasi-Poisson/NB error model is needed (the rate
        // ratio stays consistent, its se does NOT — the caller's cue)
        when(col("n") > 2, round(d("_PE") / (col("n").cast("double") - 2.0),
          6)).cast("double").as("dispersion"),
        // the quasi-Poisson correction THE dispersion diagnostic calls
        // for: se·√φ — the rate ratio stays, its honesty interval widens
        when(det > 0.0 && col("n") > 2,
          round(sqrt(d("_H00") / det)
            * sqrt(d("_PE") / (col("n").cast("double") - 2.0)), 6))
          .cast("double").as("se_beta_quasi"))
  }

  /** Gamma regression, log link — the GLM family's POSITIVE-SKEWED
    * member (L282 gaussian, L283 binomial, L286 poisson; gamma is the
    * spend/latency/duration error model: variance ∝ μ², so big
    * customers are allowed big wobble without dominating the fit the
    * way OLS lets them). For the log link the IRLS weights are
    * CONSTANT, so each fixed iteration is exactly one OLS solve on
    * the working response z = η + (y − μ)/μ — the cheapest GLM in the
    * family.
    *
    * Determinism ([[poissonFit]]'s contract): x frozen at 6 dp;
    * per-row z, xz, x, x², and Pearson terms frozen at 12 dp into
    * order-free decimal sums; the closed 2×2 OLS solve and the
    * per-iteration (α, β) re-freeze at 12 dp; init α = ln(ȳ)
    * (oracle-replicable from the same sums), β = 0. y ≤ 0 is outside
    * gamma support and rejected loudly in-plan. se(β) =
    * √(φ̂·n/det) with φ̂ the Pearson dispersion Σ((y−μ)/μ)²/(n−2).
    *
    * Output: (group, n, alpha, beta, se_beta, z_beta, rate_ratio,
    * dispersion).
    */
  def gammaFit(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, s"gammaFit: iters must be in [1, 8]")
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"), round(col(xCol), 6).as("_x"),
        col(yCol).cast("double").as("_y"))
      .withColumn("_y", when(col("_y") > 0.0, col("_y")).otherwise(
        raise_error(lit("gammaFit: y must be > 0 (gamma support)"))))
      .localCheckpoint() // re-read every iteration
    // Driver fast path — [[logisticFit]]'s replica with the constant-
    // weight IRLS/OLS solve. The ln(mean) init's double sum differs
    // from the task-order distributed sum only at ~1e-16 relative,
    // far below its 12-dp freeze (the documented portability quantum
    // the oracle replay already relies on); everything downstream is
    // exact decimal.
    if (rows.schema("_x").dataType == org.apache.spark.sql.types.DoubleType)
      DriverPath.rows(rows) match {
        case Some(collected) =>
          return gammaDriverDf(df, rows, collected, groupCol, iters)
        case None =>
      }
    val (x, eta) = (col("_x"), col("_a") + col("_b") * col("_x"))
    val mu = exp(eta)
    val z = eta + (col("_y") - mu) / mu
    val init = rows.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n0"), sum(col("_y")).as("_sy0"))
      .select(col("_g"),
        round(log(col("_sy0") / col("_n0").cast("double")), 12).as("_a"),
        lit(0.0).as("_b"))
    val nD = col("n").cast("double")
    val det = nD * d("_XXT") - d("_XT") * d("_XT")
    val slope = (nD * d("_XZT") - d("_XT") * d("_ZT")) / det
    val se = sqrt(d("_PE") / (nD - 2.0) * (nD / det))
    newtonLoop(init, iters)(glmPass(rows, Seq("_zt" -> z, "_xzt" -> x * z,
        "_xt" -> x, "_xxt" -> x * x,
        "_pe" -> (col("_y") - mu) * (col("_y") - mu) / (mu * mu))))(
        det > 0.0, "_a" -> ((d("_ZT") - slope * d("_XT")) / nD), "_b" -> slope)
      .select(col("_g").as(groupCol),
        col("n").cast("bigint").as("n"),
        round(col("_a"), 6).cast("double").as("alpha"),
        round(col("_b"), 6).cast("double").as("beta"),
        when(det > 0.0 && col("n") > 2, round(se, 6))
          .cast("double").as("se_beta"),
        when(det > 0.0 && col("n") > 2, round(col("_b") / se, 6))
          .cast("double").as("z_beta"),
        round(exp(col("_b")), 6).cast("double").as("rate_ratio"),
        when(col("n") > 2, round(d("_PE") / (nD - 2.0), 6))
          .cast("double").as("dispersion"))
  }

  /** One-lag Granger causality F per group — does x's PAST improve the
    * prediction of y beyond y's own past: restricted y_t = α + β·y_{t−1}
    * vs unrestricted y_t = α + β₁·y_{t−1} + β₂·x_{t−1};
    * F = (SSE_r − SSE_u) / (SSE_u/(n−3)) with 1 and n−3 dof — the
    * lead/lag DIRECTIONAL test next to [[crossCorrelation]] (CCF says
    * the series co-move at some lag; Granger says the lag is useful
    * over y's own memory) and the causal sibling of [[dickeyFuller]]
    * (run DF first — Granger on unit-root levels is the classic
    * spurious-regression trap, which is the caller's contract here).
    *
    * Exactness: both series quantize to 1e6-scaled longs; the (y_t,
    * y_{t−1}, x_{t−1}) triples come from one lag window over the
    * order total order; ALL nine product moments accumulate in
    * decimal(38,0); both OLS solutions (1-var and the 2-var closed
    * form via the 2×2 normal-equation determinant) are one
    * identically-spelled float tree; β₂ and F round at 6 dp. NULL
    * when n < 4, a variance term degenerates, or det ≤ 0.
    *
    * Scale shape: one per-group ordered window + one group-keyed
    * moment aggregate — the [[dickeyFuller]] cost class. Output:
    * (group, n, beta_x, f).
    */
  def grangerF(df: DataFrame, groupCol: String, orderCol: String,
      yCol: String, xCol: String): DataFrame = {
    val w = Window.partitionBy("_g").orderBy("_o")
    val pts = df.filter(col(yCol).isNotNull && col(xCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        round(col(yCol) * 1e6).cast("long").as("_yv"),
        round(col(xCol) * 1e6).cast("long").as("_xv"))
      .withColumn("_l", lag("_yv", 1).over(w))
      .withColumn("_x", lag("_xv", 1).over(w))
      .filter(col("_l").isNotNull && col("_x").isNotNull)
      .select(col("_g"), col("_yv").as("_y"), col("_l"), col("_x"))
    def m(a: String, b: String) =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val sums = pts.groupBy("_g").agg(count(lit(1)).as("n"),
      sum(col("_y").cast(dec)).as("_sy"),
      sum(col("_l").cast(dec)).as("_sl"),
      sum(col("_x").cast(dec)).as("_sx"),
      m("_y", "_y").as("_syy"), m("_l", "_l").as("_sll"),
      m("_x", "_x").as("_sxx"), m("_y", "_l").as("_syl"),
      m("_y", "_x").as("_syx"), m("_l", "_x").as("_slx"))
    val nd = col("n").cast("double")
    val sll = nd * d("_sll") - d("_sl") * d("_sl")
    val sxx = nd * d("_sxx") - d("_sx") * d("_sx")
    val slx = nd * d("_slx") - d("_sl") * d("_sx")
    val sly = nd * d("_syl") - d("_sl") * d("_sy")
    val sxy = nd * d("_syx") - d("_sx") * d("_sy")
    val syy = nd * d("_syy") - d("_sy") * d("_sy")
    val bR = sly / sll
    val sseR = (syy - bR * sly) / nd
    val det = sll * sxx - slx * slx
    val b1 = (sly * sxx - sxy * slx) / det
    val b2 = (sxy * sll - sly * slx) / det
    val sseU = (syy - b1 * sly - b2 * sxy) / nd
    val ok = col("n") >= 4 && sll > 0.0 && det > 0.0 && sseU > 0.0
    sums.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      when(ok, round(b2, 6)).cast("double").as("beta_x"),
      when(ok, round((sseR - sseU) / (sseU / (nd - 3.0)), 6))
        .cast("double").as("f"))
  }

  /** Entropy-based inequality indices per group — the decomposable
    * complements of the rank-based Gini (L107): Theil T =
    * (1/n)Σ(x/μ)ln(x/μ), Theil L (mean log deviation) =
    * (1/n)Σ ln(μ/x), and Atkinson(ε=1) = 1 − exp(−L) = 1 − geomean/μ.
    * T and L are additively decomposable across subgroups (the reason
    * econometrics prefers them for corpus/revenue concentration
    * audits); Atkinson(1) reads as "the share of total you could
    * discard under equal distribution at the same welfare".
    *
    * Exactness: values quantize to 1e2-scaled longs (cents — the
    * revenue convention; the indices are scale-invariant so the
    * quantum only sets resolution); μ is one 12-dp-frozen double per
    * group joined back broadcast; each row's T/L term is frozen at
    * 12 dp into order-free decimal(38,12) sums; the three indices are
    * one rounded expression each. Non-positive and NULL values are
    * EXCLUDED (ln is undefined there — the standard Theil domain)
    * with the kept count reported.
    *
    * Scale shape: one group mean agg (broadcast back) + one
    * group-keyed term agg — two corpus passes, no windows, no sorts
    * (vs [[Profiling.gini]]'s per-group sort). Output: (group..., n,
    * theil_t, theil_l, atkinson1).
    */
  def inequality(df: DataFrame, groupCols: Seq[String], valueCol: String)
      : DataFrame = {
    require(groupCols.nonEmpty, "inequality: need at least one group column")
    val gcols = groupCols.map(col)
    val pts = df
      .select(gcols :+ round(col(valueCol) * 100).cast("long").as("_x"): _*)
      .filter(col("_x").isNotNull && col("_x") > 0)
    val means = pts.groupBy(gcols: _*)
      .agg(count(lit(1)).as("_n"),
        sum(col("_x").cast("decimal(38,0)")).as("_s"))
      .withColumn("_mu", round(col("_s").cast("double") / col("_n"), 12))
      .select(gcols ++ Seq(col("_n"), col("_mu")): _*)
    pts.join(broadcast(means), groupCols)
      .withColumn("_r", col("_x") / col("_mu"))
      .groupBy((gcols :+ col("_n")) :+ col("_mu"): _*)
      .agg(
        sum(round(col("_r") * log(col("_r")), 12).cast(dec12)).as("_t"),
        sum(round(-log(col("_r")), 12).cast(dec12)).as("_l"))
      .withColumn("_lmean", col("_l").cast("double") / col("_n"))
      .select(gcols ++ Seq(
        col("_n").cast("bigint").as("n"),
        round(col("_t").cast("double") / col("_n"), 6)
          .cast("double").as("theil_t"),
        round(col("_lmean"), 6).cast("double").as("theil_l"),
        round(lit(1.0) - exp(-col("_lmean")), 6)
          .cast("double").as("atkinson1")): _*)
  }

  /** Per-group Durbin–Watson statistic on the residuals of y ~ x:
    * DW = Σ(e_t − e_{t−1})² / Σe_t² over the x-ordered series — the
    * "are the residuals serially correlated" diagnostic that decides
    * whether a per-group trend fit ([[linearFit]]) can be trusted or
    * the series needs differencing (DW ≈ 2 → independent; → 0
    * positive autocorrelation; → 4 negative).
    *
    * Exactness: slope/intercept come from the exact decimal(38,0)
    * integer moments (the linearFit trees — identical doubles on both
    * engines); residuals are descaled to value units and rounded 6 dp;
    * each squared term is frozen at 12 dp into decimal(38,12) sums;
    * DW is one rounded division. x must be unique per group (series
    * contract); ties order by (x, y) so even a misuse is
    * deterministic. NULL when n < 3 or the denominator is 0.
    *
    * Scale shape: one group-keyed moment aggregate + one group-keyed
    * lag window over DAY-CELL-sized series. Output: (group, n, dw).
    */
  /** Regression influence diagnostics — the top-k most INFLUENTIAL
    * points of each group's y~x fit by Cook's distance: leverage
    * h = 1/n + (x−x̄)²/Sxx, studentized residual r = e/(s·√(1−h)),
    * D = (r²/2)·(h/(1−h)) — "which rows, if dropped, would move the
    * line" — completing the diagnostics suite (L201 serial
    * correlation, L304 heteroscedasticity, L305 stability, this:
    * influence). The practical use: review/cap these rows before
    * trusting any [[linearFit]]-family number.
    *
    * Determinism: the durbinWatson fit/residual machinery verbatim
    * (6-dp residuals); h, r, D are identically-spelled float trees on
    * the exact moments, each rounded at 6 dp; top-k cuts by (D DESC,
    * group, x, y) via orderBy+limit (TakeOrderedAndProject). Points
    * with h ≥ 1 (n = 1 groups) or zero residual variance → excluded
    * by the guards.
    *
    * Scale shape: one moment aggregate + one broadcast join of the
    * k-row fit table + a second residual-variance aggregate — no
    * windows; the per-row diagnostics are scan-level projections.
    * Output: (group, x, y, leverage, std_resid, cooks_d), ≤ topK rows.
    */
  def regressionInfluence(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK=$topK must be >= 1")
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_xq"),
        round(col(yCol) * 1e6).cast("long").as("_yq"))
    val mom = pts.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_xq").cast(dec)).as("_sx"),
        sum(col("_yq").cast(dec)).as("_sy"),
        sum((col("_xq").cast(dec) * col("_xq")).cast(dec)).as("_sxx"),
        sum((col("_xq").cast(dec) * col("_yq")).cast(dec)).as("_sxy"))
      .withColumn("_denx",
        col("_n").cast("double") * col("_sxx").cast("double")
          - col("_sx").cast("double") * col("_sx").cast("double"))
      .withColumn("_b",
        when(col("_denx") > 0.0,
          (col("_n").cast("double") * col("_sxy").cast("double")
            - col("_sx").cast("double") * col("_sy").cast("double"))
            / col("_denx")))
      .withColumn("_a",
        (col("_sy").cast("double") - col("_b") * col("_sx").cast("double"))
          / col("_n").cast("double"))
    val withE = pts.join(broadcast(mom), col("_g") <=> col("_gm"))
      .drop("_gm")
      .withColumn("_e",
        round((col("_yq").cast("double")
          - col("_b") * col("_xq").cast("double") - col("_a")) / 1e6, 6))
    val sse = withE.groupBy(col("_g").as("_gs"))
      .agg(sum(round(col("_e") * col("_e"), 12).cast("decimal(38,12)"))
        .as("_sse"))
    val nd = col("_n").cast("double")
    // h = 1/n + n·(x − x̄)²/Sxx on the n-scaled centered moment:
    // (x − Σx/n)² / (Sxx_c/n) with Sxx_c = _denx/n ⇒ spelled once:
    val xc = col("_xq").cast("double") - col("_sx").cast("double") / nd
    val h = lit(1.0) / nd + xc * xc * nd / col("_denx")
    val s2 = col("_sse").cast("double") / (nd - 2.0)
    val r = col("_e") / sqrt(s2 * (lit(1.0) - h))
    val dcook = (r * r / 2.0) * (h / (lit(1.0) - h))
    withE.join(broadcast(sse), col("_g") <=> col("_gs")).drop("_gs")
      .filter(col("_n") >= 3 && col("_denx") > 0.0 &&
        col("_sse").cast("double") > 0.0)
      .select(col("_g").as(groupCol),
        (col("_xq") / 1e6).cast("double").as("x"),
        (col("_yq") / 1e6).cast("double").as("y"),
        round(h, 6).cast("double").as("leverage"),
        round(r, 6).cast("double").as("std_resid"),
        round(dcook, 6).cast("double").as("cooks_d"))
      .orderBy(col("cooks_d").desc, col(groupCol), col("x"), col("y"))
      .limit(topK)
  }

  /** Chow structural-break test per group — did the REGRESSION change
    * at a known breakpoint (policy launch, price change, deploy)?
    * Fit y~x pooled and separately left/right of `breakX`; F =
    * ((SSE_p − SSE_l − SSE_r)/2) / ((SSE_l + SSE_r)/(n − 4)) vs
    * F(2, n−4) — the regression-level sibling of L267's mean-level
    * breakpoint scan (that one finds WHERE, this one tests a KNOWN
    * where at slope+intercept resolution).
    *
    * Determinism: one group-keyed aggregate of TWELVE decimal(38,0)
    * side-conditional moments (left/right of the break; pooled sums
    * are the exact decimal sums of the sides); each segment's SSE is
    * the dickeyFuller tree ((Syy_c − β·Sxy_c)/n on n-scaled centered
    * moments); F is one rounded tree. Degenerate sides (< 3 points,
    * zero x-variance) or SSE_l + SSE_r ≤ 0 → NULL.
    *
    * Scale shape: one hash aggregate, zero joins/windows.
    * Output: (group, n, n_left, n_right, f).
    */
  def chowTest(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, breakX: Double): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        (col(xCol) < breakX).as("_l"),
        round(col(xCol) * 1e6).cast("long").as("_x"),
        round(col(yCol) * 1e6).cast("long").as("_y"))
    def side(isL: Boolean, e: Column): Column = {
      val cond = if (isL) col("_l") else !col("_l")
      sum(when(cond, e).otherwise(lit(0L).cast(dec)))
    }
    def moments(isL: Boolean, tag: String) = Seq(
      sum(when(if (isL) col("_l") else !col("_l"), 1L).otherwise(0L))
        .as(s"_n$tag"),
      side(isL, col("_x").cast(dec)).as(s"_sx$tag"),
      side(isL, col("_y").cast(dec)).as(s"_sy$tag"),
      side(isL, (col("_x").cast(dec) * col("_x")).cast(dec)).as(s"_sxx$tag"),
      side(isL, (col("_x").cast(dec) * col("_y")).cast(dec)).as(s"_sxy$tag"),
      side(isL, (col("_y").cast(dec) * col("_y")).cast(dec)).as(s"_syy$tag"))
    val aggs = moments(isL = true, "L") ++ moments(isL = false, "R")
    val sums = pts.groupBy("_g").agg(aggs.head, aggs.tail: _*)
    // segment SSE from its own sums; pooled sums are exact decimal
    // sums of the two sides
    def sse(n: Column, sx: Column, sy: Column, sxx: Column, sxy: Column,
        syy: Column): (Column, Column) = {
      val nd = n.cast("double")
      val sxxc = nd * sxx - sx * sx
      val sxyc = nd * sxy - sx * sy
      val syyc = nd * syy - sy * sy
      val b = sxyc / sxxc
      (sxxc, (syyc - b * sxyc) / nd)
    }
    val (dxL, sseL) = sse(col("_nL"), d("_sxL"), d("_syL"),
      d("_sxxL"), d("_sxyL"), d("_syyL"))
    val (dxR, sseR) = sse(col("_nR"), d("_sxR"), d("_syR"),
      d("_sxxR"), d("_sxyR"), d("_syyR"))
    val nP = col("_nL") + col("_nR")
    val (dxP, sseP) = sse(nP,
      (col("_sxL") + col("_sxR")).cast("double"),
      (col("_syL") + col("_syR")).cast("double"),
      (col("_sxxL") + col("_sxxR")).cast("double"),
      (col("_sxyL") + col("_sxyR")).cast("double"),
      (col("_syyL") + col("_syyR")).cast("double"))
    val nd = nP.cast("double")
    val f = ((sseP - sseL - sseR) / 2.0) / ((sseL + sseR) / (nd - 4.0))
    val ok = col("_nL") >= 3 && col("_nR") >= 3 && dxL > 0.0 &&
      dxR > 0.0 && dxP > 0.0 && (sseL + sseR) > 0.0
    sums.select(col("_g").as(groupCol), nP.cast("bigint").as("n"),
      col("_nL").cast("bigint").as("n_left"),
      col("_nR").cast("bigint").as("n_right"),
      when(ok, round(f, 6)).cast("double").as("f"))
  }

  /** Breusch–Pagan heteroscedasticity test (Koenker's studentized
    * form), per group — do the REGRESSION ERRORS' sizes depend on x?
    * OLS assumes they don't; when they do, [[linearFit]]'s se story
    * and every CI on it silently shrink. BP = n·R²_aux where R²_aux
    * is the fit of the SQUARED residuals on x; compare against χ²(1).
    * The diagnostic sibling of [[durbinWatson]] (serial correlation)
    * on the variance axis.
    *
    * Determinism: the first fit and its residuals are the
    * durbinWatson machinery verbatim (exact decimal moments,
    * unrounded β/α, residuals frozen at 6 dp); e² is a product of
    * 6-dp-exact doubles frozen at 6 dp; the auxiliary regression is
    * [[linearFit]] verbatim on (x, e²); BP is one rounded product.
    * NULL when either fit degenerates.
    *
    * Scale shape: two moment aggregates + one broadcast join of the
    * k-row fit table — no windows (DW's lag window isn't needed
    * here). Output: (group, n, r2_aux, bp).
    */
  def breuschPagan(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_xq"),
        round(col(yCol) * 1e6).cast("long").as("_yq"))
    val mom = pts.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_xq").cast(dec)).as("_sx"),
        sum(col("_yq").cast(dec)).as("_sy"),
        sum((col("_xq").cast(dec) * col("_xq")).cast(dec)).as("_sxx"),
        sum((col("_xq").cast(dec) * col("_yq")).cast(dec)).as("_sxy"))
      .withColumn("_denx",
        col("_n").cast("double") * col("_sxx").cast("double")
          - col("_sx").cast("double") * col("_sx").cast("double"))
      .withColumn("_b",
        when(col("_denx") > 0.0,
          (col("_n").cast("double") * col("_sxy").cast("double")
            - col("_sx").cast("double") * col("_sy").cast("double"))
            / col("_denx")))
      .withColumn("_a",
        (col("_sy").cast("double") - col("_b") * col("_sx").cast("double"))
          / col("_n").cast("double"))
    val resid = pts.join(broadcast(mom), col("_g") <=> col("_gm"))
      .drop("_gm")
      .withColumn("_e",
        round((col("_yq").cast("double")
          - col("_b") * col("_xq").cast("double") - col("_a")) / 1e6, 6))
      .select(col("_g"), (col("_xq") / 1e6).as("_x"),
        round(col("_e") * col("_e"), 6).as("_e2"))
    linearFit(resid, "_g", "_x", "_e2")
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        col("r2").as("r2_aux"),
        when(col("r2").isNotNull,
          round(col("n").cast("double") * col("r2"), 6))
          .cast("double").as("bp"))
  }

  /** Goldfeld–Quandt heteroscedasticity test per group — the
    * SPLIT-SAMPLE member beside [[breuschPagan]]'s auxiliary-
    * regression one (BP assumes the variance is LINEAR in x; GQ only
    * asks "is the high-x end noisier than the low-x end", robust to
    * the shape): order by x, drop the middle `dropFrac`, fit OLS on
    * each tail, F = SSE_hi/SSE_lo (equal tail sizes k make the dof
    * cancel exactly — the design reason for the symmetric split).
    *
    * Determinism: the (x, y) rank order is total (the durbinWatson
    * ordering); tails are exact rank cuts k = ⌊n(1−dropFrac)/2⌋;
    * per-tail SSE is the [[chowTest]] closed form on exact decimal
    * moments — every scale factor cancels in the ratio, so F is ONE
    * rounded division of float trees over exact integers. Degenerate
    * tails (k < 3, zero x-variance, zero low-tail SSE) → NULL.
    * Output: (group, n, k, f_gq) — F >> 1 reads "noise grows with
    * x", F << 1 the reverse.
    */
  def goldfeldQuandt(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, dropFrac: Double = 0.2): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0,
      s"goldfeldQuandt: dropFrac must be in [0,1), got $dropFrac")
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_xq"),
        round(col(yCol) * 1e6).cast("long").as("_yq"))
    val w = Window.partitionBy("_g").orderBy("_xq", "_yq")
    val wG = Window.partitionBy("_g")
    val ranked = pts
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wG))
      .withColumn("_k", floor(col("_n").cast("double")
        * ((1.0 - dropFrac) / 2.0)).cast("long"))
      .withColumn("_side",
        when(col("_rn") <= col("_k"), lit("lo"))
          .when(col("_rn") > col("_n") - col("_k"), lit("hi")))
      .filter(col("_side").isNotNull)
    val sides = ranked.groupBy(col("_g"), col("_side"))
      .agg(max("_n").as("_nn"), max("_k").as("_kk"),
        count(lit(1)).as("_ns"),
        sum(col("_xq").cast(dec)).as("_sx"),
        sum(col("_yq").cast(dec)).as("_sy"),
        sum((col("_xq").cast(dec) * col("_xq")).cast(dec)).as("_sxx"),
        sum((col("_xq").cast(dec) * col("_yq")).cast(dec)).as("_sxy"),
        sum((col("_yq").cast(dec) * col("_yq")).cast(dec)).as("_syy"))
    val nD = col("_ns").cast("double")
    val cxx = nD * d("_sxx") - d("_sx") * d("_sx")
    val cxy = nD * d("_sxy") - d("_sx") * d("_sy")
    val cyy = nD * d("_syy") - d("_sy") * d("_sy")
    val sse = cyy - cxy * cxy / cxx
    val scored = sides
      .withColumn("_sse", when(cxx > 0.0, sse))
    val lo = scored.filter(col("_side") === "lo")
      .select(col("_g").as("_gl"), col("_nn"), col("_kk"),
        col("_sse").as("_sseL"))
    val hi = scored.filter(col("_side") === "hi")
      .select(col("_g").as("_gh"), col("_sse").as("_sseH"))
    lo.join(hi, col("_gl") <=> col("_gh"))
      .select(col("_gl").as(groupCol),
        col("_nn").cast("bigint").as("n"),
        col("_kk").cast("bigint").as("k"),
        when(col("_kk") >= 3 && col("_sseL") > 0.0
            && col("_sseH").isNotNull,
          round(col("_sseH") / col("_sseL"), 6))
          .cast("double").as("f_gq"))
  }

  /** Breusch–Godfrey LM test for serial correlation per group — the
    * REGRESSION-residual sibling of [[durbinWatson]] (DW only sees
    * lag 1 and its null distribution depends on x; BG is the modern
    * LM form): fit OLS, then the auxiliary regression of e_t on
    * (x_t, e_{t−1}); BG = n_aux·R²_aux ~ χ²(1). Including x in the
    * auxiliary fit is what makes the test valid when x itself is
    * autocorrelated — the shortcut "e on e_lag alone" is biased
    * there.
    *
    * Determinism: the durbinWatson first fit verbatim (exact decimal
    * moments, unrounded β/α, 6-dp residuals, the (x, y) lag order);
    * the auxiliary solve is [[linearFitMulti]] verbatim on the
    * descaled (x, e_lag, e) rows; BG is one rounded product.
    * Output: (group, n_aux, r2_aux, bg).
    */
  def breuschGodfrey(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_xq"),
        round(col(yCol) * 1e6).cast("long").as("_yq"))
    val mom = pts.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_xq").cast(dec)).as("_sx"),
        sum(col("_yq").cast(dec)).as("_sy"),
        sum((col("_xq").cast(dec) * col("_xq")).cast(dec)).as("_sxx"),
        sum((col("_xq").cast(dec) * col("_yq")).cast(dec)).as("_sxy"))
      .withColumn("_denx",
        col("_n").cast("double") * col("_sxx").cast("double")
          - col("_sx").cast("double") * col("_sx").cast("double"))
      .withColumn("_b",
        when(col("_denx") > 0.0,
          (col("_n").cast("double") * col("_sxy").cast("double")
            - col("_sx").cast("double") * col("_sy").cast("double"))
            / col("_denx")))
      .withColumn("_a",
        (col("_sy").cast("double") - col("_b") * col("_sx").cast("double"))
          / col("_n").cast("double"))
    val w = Window.partitionBy("_g").orderBy("_xq", "_yq")
    val aux = pts.join(broadcast(mom), col("_g") <=> col("_gm"))
      .drop("_gm")
      .withColumn("_e",
        round((col("_yq").cast("double")
          - col("_b") * col("_xq").cast("double") - col("_a")) / 1e6, 6))
      .withColumn("_el", lag(col("_e"), 1).over(w))
      .filter(col("_el").isNotNull)
      .select(col("_g"), (col("_xq") / 1e6).as("_x"), col("_el"),
        col("_e"))
    linearFitMulti(aux, "_g", Seq("_x", "_el"), "_e")
      .select(col("_g").as(groupCol),
        col("n").cast("bigint").as("n_aux"),
        col("r2").as("r2_aux"),
        when(col("r2").isNotNull,
          round(col("n").cast("double") * col("r2"), 6))
          .cast("double").as("bg"))
  }

  def durbinWatson(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_xq"),
        round(col(yCol) * 1e6).cast("long").as("_yq"))
    val mom = pts.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_xq").cast(dec)).as("_sx"),
        sum(col("_yq").cast(dec)).as("_sy"),
        sum((col("_xq").cast(dec) * col("_xq")).cast(dec)).as("_sxx"),
        sum((col("_xq").cast(dec) * col("_yq")).cast(dec)).as("_sxy"))
      .withColumn("_denx",
        col("_n").cast("double") * col("_sxx").cast("double")
          - col("_sx").cast("double") * col("_sx").cast("double"))
      .withColumn("_b",
        when(col("_denx") > 0.0,
          (col("_n").cast("double") * col("_sxy").cast("double")
            - col("_sx").cast("double") * col("_sy").cast("double"))
            / col("_denx")))
      .withColumn("_a", // intercept in SCALED units
        (col("_sy").cast("double") - col("_b") * col("_sx").cast("double"))
          / col("_n").cast("double"))
    val w = Window.partitionBy("_g").orderBy("_xq", "_yq")
    pts.join(mom, col("_g") <=> col("_gm")).drop("_gm")
      .withColumn("_e",
        round((col("_yq").cast("double") - col("_b") * col("_xq").cast("double")
          - col("_a")) / 1e6, 6))
      .withColumn("_ep", lag(col("_e"), 1).over(w))
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(round(col("_e") * col("_e"), 12).cast("decimal(38,12)")).as("_den"),
        sum(when(col("_ep").isNotNull,
          round((col("_e") - col("_ep")) * (col("_e") - col("_ep")), 12)
            .cast("decimal(38,12)"))).as("_num"))
      .select(col(groupCol), col("n").cast("bigint").as("n"),
        when(col("n") >= 3 && col("_den").cast("double") > 0.0,
          round(col("_num").cast("double") / col("_den").cast("double"), 6))
          .cast("double").as("dw"))
  }

  /** Per-group Grubbs statistic: G = max |x − mean| / s with the
    * suspect value itself — the classic single-outlier screen for
    * small per-group batteries (daily metric panels), reported as the
    * statistic + suspect so the caller compares G against the
    * critical value for its n and alpha (a lookup, not a compute).
    *
    * Exactness: mean and sample s from exact decimal(38,0) moments
    * (identical doubles both engines); per-row z rounded 6 dp; the
    * arg-max is the lexicographic max of (z, x) so ties break to the
    * LARGEST value — deterministic. NULL G when n < 3 or s = 0.
    *
    * Scale shape: one group-keyed moment aggregate + one group-keyed
    * max — no windows. Output: (group, n, mean, sd, suspect, g).
    */
  def grubbs(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_xq"))
    val mom = pts.groupBy(col("_g").as("_gm"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_xq").cast(dec)).as("_s1"),
        sum((col("_xq").cast(dec) * col("_xq")).cast(dec)).as("_q1"))
      .withColumn("_mu", col("_s1").cast("double") / col("_n").cast("double"))
      .withColumn("_var",
        (col("_n").cast("double") * col("_q1").cast("double")
          - col("_s1").cast("double") * col("_s1").cast("double"))
          / (col("_n").cast("double") * (col("_n").cast("double") - 1.0)))
      .withColumn("_sd", when(col("_var") > 0.0, sqrt(col("_var"))))
    pts.join(mom, col("_g") <=> col("_gm")).drop("_gm")
      .withColumn("_z",
        when(col("_sd").isNotNull,
          round(abs(col("_xq").cast("double") - col("_mu")) / col("_sd"), 6))
          .otherwise(lit(0.0)))
      .groupBy(col("_g").as(groupCol))
      .agg(max(col("_n")).cast("bigint").as("n"),
        round(max(col("_mu")) / 1e6, 6).cast("double").as("mean"),
        round(max(col("_sd")) / 1e6, 6).cast("double").as("sd"),
        max(struct(col("_z"), col("_xq"))).as("_top"),
        max(col("_sd").isNotNull.cast("int")).as("_hassd"))
      .select(col(groupCol), col("n"), col("mean"), col("sd"),
        when(col("_hassd") === 1 && col("n") >= 3,
          round(col("_top._xq") / 1e6, 6)).cast("double").as("suspect"),
        when(col("_hassd") === 1 && col("n") >= 3, col("_top._z"))
          .cast("double").as("g"))
  }

  /** Driver replica of [[gesd]]'s passes over the collected quantized
    * cells (see the fast-path note there). */
  private def gesdDriverDf(df: DataFrame, cells0: DataFrame,
      collected: Array[Row], groupCol: String, k: Int): DataFrame = {
    // null groups kept: the joins are null-safe
    val (ids, gi) = DriverPath.intern(collected, keepNulls = true)
    val gVals = ids.keys
    val nc = collected.length
    val xq = collected.map(_.getLong(1)); val cnt = collected.map(_.getLong(2))
    val ng = ids.size
    val out = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]()
    for (pass <- 1 to k) {
      // per-group moments: exact decimal(38,0) sums
      val n = new Array[Long](ng)
      val s1 = Array.fill(ng)(new DriverPath.Units(0))
      val q1 = Array.fill(ng)(new DriverPath.Units(0))
      var i = 0
      while (i < nc) {
        if (cnt(i) > 0L) {
          val g = gi(i)
          n(g) += cnt(i)
          s1(g).addProduct(cnt(i), xq(i))
          q1(g).addProduct(cnt(i), xq(i), xq(i))
        }
        i += 1
      }
      val mu = new Array[Double](ng); val sd = new Array[Double](ng)
      val hasSd = new Array[Boolean](ng)
      var g = 0
      while (g < ng) {
        if (n(g) > 0L) {
          // the distributed plan's ANSI division throws here — a group
          // down to one row has no sample variance; fail just as loudly
          if (n(g) == 1L) throw new ArithmeticException(
            "gesd: Division by zero (group reached n = 1; the " +
              "distributed plan's ANSI contract)")
          val nD = n(g).toDouble
          val s1d = s1(g).toDouble; val q1d = q1(g).toDouble
          mu(g) = s1d / nD
          val varr = (nD * q1d - s1d * s1d) / (nD * (nD - 1.0))
          if (varr > 0.0) { sd(g) = math.sqrt(varr); hasSd(g) = true }
        }
        g += 1
      }
      // z per live cell; winner = max z, ties to max xq
      val mz = new Array[Double](ng); val wx = new Array[Long](ng)
      val wIdx = Array.fill(ng)(-1)
      i = 0
      while (i < nc) {
        if (cnt(i) > 0L) {
          val g = gi(i)
          val z = if (hasSd(g))
            DriverPath.round(
              math.abs(xq(i).toDouble - mu(g)) / sd(g), 6)
          else 0.0
          if (wIdx(g) < 0 || z > mz(g)
              || (z == mz(g) && xq(i) > wx(g))) {
            mz(g) = z; wx(g) = xq(i); wIdx(g) = i
          }
        }
        i += 1
      }
      g = 0
      while (g < ng) {
        if (wIdx(g) >= 0) {
          out += org.apache.spark.sql.Row(gVals(g), pass, n(g),
            DriverPath.round(wx(g).toDouble / 1e6, 6),
            if (hasSd(g) && n(g) >= 3L) mz(g) else null)
          cnt(wIdx(g)) -= 1L // decrement the winner cell
        }
        g += 1
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(groupCol, cells0.schema("_g").dataType),
      StructField("pass", IntegerType),
      StructField("n_remaining", LongType),
      StructField("suspect", DoubleType), StructField("r", DoubleType)))
    DriverPath.frame(df.sparkSession, out.toIndexedSeq, schema)
  }

  /** Generalized ESD (Rosner) multi-outlier screen — [[grubbs]]
    * ITERATED: Grubbs tests exactly one suspect and suffers masking
    * (two outliers shield each other); gESD removes the most extreme
    * point and re-tests k times, reporting the test statistic R_i of
    * each round. The caller compares R_i against the λ_i table —
    * like [[bowkerTest]], the statistic is the deliverable, not a
    * p-value.
    *
    * Determinism: the [[grubbs]] cell machinery on (value, count)
    * cells — each pass recomputes exact decimal moments, freezes the
    * per-cell score at 6 dp, finds the max score with the
    * filter-on-frozen-max pass (the cochranC tie discipline: ties
    * break to the LARGEST value, two passes, no struct-max), then
    * decrements that cell's count by ONE (ties are the same value —
    * removing "one occurrence" is exact). A degenerate pass (sd ≤ 0
    * — e.g. all remaining values equal) reports NULL r and removes
    * the largest value, keeping later passes deterministic. Scale
    * shape: per pass one cell fold + one broadcast-join filter;
    * cells shrink monotonically. Output: (group, pass, n_remaining,
    * suspect, r) — one row per (group, pass ≤ k).
    */
  def gesd(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 5, s"gesd: k must be in [1, 5], got $k")
    val cells0 = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_xq"))
      .groupBy("_g", "_xq").agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    // Driver fast path (r18): k passes × ~6 scheduler jobs on a
    // quantized-cell histogram that fits the driver. The replica's
    // moments are exact decimal(38,0) sums (BigInt), z/suspect are
    // the identical rounded double trees, winner ties break to max
    // xq, and null-safe group joins KEEP null groups — all term for
    // term.
    DriverPath.rows(cells0) match {
      case Some(rows) => return gesdDriverDf(df, cells0, rows, groupCol, k)
      case None =>
    }
    def onePass(cells: DataFrame, pass: Int)
        : (DataFrame, DataFrame) = {
      val mom = cells.groupBy(col("_g").as("_gm"))
        .agg(sum("_c").as("_n"),
          sum((col("_c").cast(dec) * col("_xq")).cast(dec)).as("_s1"),
          sum((col("_c").cast(dec) * col("_xq") * col("_xq")).cast(dec))
            .as("_q1"))
        .withColumn("_mu", col("_s1").cast("double")
          / col("_n").cast("double"))
        .withColumn("_var",
          (col("_n").cast("double") * col("_q1").cast("double")
            - col("_s1").cast("double") * col("_s1").cast("double"))
            / (col("_n").cast("double")
              * (col("_n").cast("double") - 1.0)))
        .withColumn("_sd", when(col("_var") > 0.0, sqrt(col("_var"))))
      val scored = cells.join(broadcast(mom), col("_g") <=> col("_gm"))
        .drop("_gm")
        .withColumn("_z", when(col("_sd").isNotNull,
          round(abs(col("_xq").cast("double") - col("_mu"))
            / col("_sd"), 6)).otherwise(lit(0.0)))
        .localCheckpoint() // max pass + winner filter + decrement
      val mz = scored.groupBy(col("_g").as("_gz"))
        .agg(max("_z").as("_mz"))
      val winner = scored.join(broadcast(mz), col("_g") <=> col("_gz"))
        .drop("_gz")
        .filter(col("_z") === col("_mz"))
        .groupBy(col("_g").as("_gw"))
        .agg(max("_xq").as("_wx"))
      val out = scored.join(broadcast(winner), col("_g") <=> col("_gw"))
        .drop("_gw")
        .filter(col("_xq") === col("_wx"))
        .select(col("_g"), lit(pass).as("pass"),
          col("_n").cast("bigint").as("n_remaining"),
          round(col("_xq").cast("double") / 1e6, 6).as("suspect"),
          when(col("_sd").isNotNull && col("_n") >= 3, col("_z"))
            .cast("double").as("r"))
      val next = scored.join(broadcast(winner), col("_g") <=> col("_gw"))
        .drop("_gw")
        .withColumn("_c", when(col("_xq") === col("_wx"),
          col("_c") - 1L).otherwise(col("_c")))
        .filter(col("_c") > 0L)
        .select("_g", "_xq", "_c")
        .localCheckpoint()
      (next, out)
    }
    val (_, outs) = (1 to k).foldLeft(
        (cells0, Seq.empty[DataFrame])) { case ((cells, acc), i) =>
      val (next, out) = onePass(cells, i)
      (next, acc :+ out)
    }
    outs.reduce(_ unionByName _)
      .select(col("_g").as(groupCol), col("pass").cast("int").as("pass"),
        col("n_remaining"), col("suspect").cast("double").as("suspect"),
        col("r"))
  }

  /** Per-group Welch's t against the pooled complement — the
    * unequal-variance location test that [[cohensD]] reports magnitude
    * for: t = (m₁ − m₂) / √(v₁/n₁ + v₂/n₂) with the
    * Welch–Satterthwaite degrees of freedom, the default two-sample
    * test when nothing guarantees the segments share a variance
    * (which nothing ever does).
    *
    * Exactness: values quantize to 1e6-scaled longs; per-side moments
    * accumulate in decimal(38,0) (rest = global − group, exact); the
    * scale cancels in t and dof, so means/variances stay in scaled
    * units; t and dof are each ONE identically-spelled float tree
    * (IEEE /, sqrt) rounded 6 dp. NULL when either side has < 2 rows
    * or both variances are 0.
    *
    * Scale shape: one group-keyed moment aggregate + a broadcast
    * one-row global — the [[cohensD]] plan exactly. Output:
    * (group, n_group, n_rest, t, dof).
    */
  /** Student's pooled-variance two-sample t per group vs the pooled
    * rest — the EQUAL-VARIANCE classical t beside L203's Welch: when
    * the variances genuinely match (run L204/L278 first), pooling
    * buys back power and the dof is the exact integer n − 2 instead
    * of Welch–Satterthwaite's fraction. s_p² = ((n1−1)v1 +
    * (n2−1)v2)/(n1+n2−2); t = (x̄1 − x̄2)/(s_p·√(1/n1 + 1/n2)).
    *
    * Determinism: the welchT moment machinery verbatim (exact decimal
    * sums, complement by subtraction); the pooled trees are one
    * rounded spelling; dof is an exact bigint. n < 2 on either side
    * or zero pooled variance → NULL t.
    * Output: (group, n_group, n_rest, t, dof).
    */
  def studentT(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
    val byG = pts.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_group"),
        sum(col("_x").cast(dec)).as("_s1"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_q1"))
    val tot = byG.agg(sum("n_group").as("_n"), sum("_s1").as("_s"),
      sum("_q1").as("_q"))
    val n1 = col("n_group").cast("double")
    val n2 = col("n_rest").cast("double")
    def v(n: Column, sc: Column, q: Column): Column =
      (n * q.cast("double") - sc.cast("double") * sc.cast("double")) /
        (n * (n - 1.0))
    byG.crossJoin(broadcast(tot))
      .withColumn("n_rest", (col("_n") - col("n_group")).cast("bigint"))
      .withColumn("_s2", (col("_s") - col("_s1")).cast(dec))
      .withColumn("_q2", (col("_q") - col("_q1")).cast(dec))
      .withColumn("_v1", when(col("n_group") >= 2, v(n1, col("_s1"), col("_q1"))))
      .withColumn("_v2", when(col("n_rest") >= 2, v(n2, col("_s2"), col("_q2"))))
      .withColumn("_sp2",
        ((n1 - 1.0) * col("_v1") + (n2 - 1.0) * col("_v2"))
          / (n1 + n2 - 2.0))
      .withColumn("_ok",
        col("n_group") >= 2 && col("n_rest") >= 2 && col("_sp2") > 0.0)
      .withColumn("t",
        when(col("_ok"),
          round((col("_s1").cast("double") / n1
              - col("_s2").cast("double") / n2)
            / sqrt(col("_sp2") * (lit(1.0) / n1 + lit(1.0) / n2)), 6))
          .cast("double"))
      .withColumn("dof",
        when(col("_ok"), col("n_group") + col("n_rest") - 2L)
          .cast("bigint"))
      .select(groupCol, "n_group", "n_rest", "t", "dof")
  }

  def welchT(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {

    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
    val byG = pts.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_group"),
        sum(col("_x").cast(dec)).as("_s1"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_q1"))
    val tot = byG.agg(sum("n_group").as("_n"), sum("_s1").as("_s"),
      sum("_q1").as("_q"))
    val n1 = col("n_group").cast("double")
    val n2 = col("n_rest").cast("double")
    def v(n: Column, s: Column, q: Column): Column =
      (n * q.cast("double") - s.cast("double") * s.cast("double")) /
        (n * (n - 1.0))
    byG.crossJoin(broadcast(tot))
      .withColumn("n_rest", (col("_n") - col("n_group")).cast("bigint"))
      .withColumn("_s2", (col("_s") - col("_s1")).cast(dec))
      .withColumn("_q2", (col("_q") - col("_q1")).cast(dec))
      .withColumn("_w1",
        when(col("n_group") >= 2, v(n1, col("_s1"), col("_q1")) / n1))
      .withColumn("_w2",
        when(col("n_rest") >= 2, v(n2, col("_s2"), col("_q2")) / n2))
      .withColumn("_ok",
        col("n_group") >= 2 && col("n_rest") >= 2
          && col("_w1") + col("_w2") > 0.0)
      .withColumn("t",
        when(col("_ok"),
          round((col("_s1").cast("double") / n1
              - col("_s2").cast("double") / n2)
            / sqrt(col("_w1") + col("_w2")), 6)).cast("double"))
      .withColumn("dof",
        when(col("_ok")
            && col("_w1") * col("_w1") / (n1 - 1.0)
              + col("_w2") * col("_w2") / (n2 - 1.0) > 0.0,
          round((col("_w1") + col("_w2")) * (col("_w1") + col("_w2"))
            / (col("_w1") * col("_w1") / (n1 - 1.0)
              + col("_w2") * col("_w2") / (n2 - 1.0)), 6)).cast("double"))
      .select(groupCol, "n_group", "n_rest", "t", "dof")
  }

  /** TOST equivalence test (two one-sided Welch t's) of each group's
    * mean vs the pooled rest: the A/B gate [[welchT]] cannot answer —
    * "are these the SAME within ±margin", where a non-significant
    * difference test proves nothing. H0 is |μ_g − μ_rest| ≥ margin;
    * equivalence is declared iff BOTH one-sided tests reject:
    * t_lower = (d̄ + margin)/se > tCrit AND t_upper = (d̄ − margin)/se
    * < −tCrit (tCrit is the caller's one-sided critical value, e.g.
    * 1.645 for α = .05 at large dof — no t CDF enters the plan, so
    * the decision is an exact comparison on the ROUNDED statistics).
    *
    * Exactness: the [[welchT]] moment machinery verbatim (exact
    * decimal sums of 1e6-scaled longs; the margin joins the tree
    * pre-scaled by the same 1e6 so d̄ and margin live in one unit);
    * t_lower/t_upper/dof/mean_diff are identically-spelled rounded
    * trees; `equivalent` compares the rounded t's. Thin sides → NULL
    * statistics and NULL verdict.
    *
    * Scale shape: one group aggregate + one broadcast total — the
    * welchT class. Output: (group, n_group, n_rest, mean_diff,
    * t_lower, t_upper, dof, equivalent).
    */
  def tostEquivalence(df: DataFrame, groupCol: String, valueCol: String,
      margin: Double, tCrit: Double = 1.645): DataFrame = {
    require(margin > 0.0, s"tostEquivalence: margin must be > 0, got $margin")
    require(tCrit > 0.0, s"tostEquivalence: tCrit must be > 0, got $tCrit")
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
    val byG = pts.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_group"),
        sum(col("_x").cast(dec)).as("_s1"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_q1"))
    val tot = byG.agg(sum("n_group").as("_n"), sum("_s1").as("_s"),
      sum("_q1").as("_q"))
    val n1 = col("n_group").cast("double")
    val n2 = col("n_rest").cast("double")
    def v(n: Column, s: Column, q: Column): Column =
      (n * q.cast("double") - s.cast("double") * s.cast("double")) /
        (n * (n - 1.0))
    val md = col("_s1").cast("double") / n1 - col("_s2").cast("double") / n2
    val se = sqrt(col("_w1") + col("_w2"))
    val scaledMargin = lit(margin) * lit(1e6)
    byG.crossJoin(broadcast(tot))
      .withColumn("n_rest", (col("_n") - col("n_group")).cast("bigint"))
      .withColumn("_s2", (col("_s") - col("_s1")).cast(dec))
      .withColumn("_q2", (col("_q") - col("_q1")).cast(dec))
      .withColumn("_w1",
        when(col("n_group") >= 2, v(n1, col("_s1"), col("_q1")) / n1))
      .withColumn("_w2",
        when(col("n_rest") >= 2, v(n2, col("_s2"), col("_q2")) / n2))
      .withColumn("_ok",
        col("n_group") >= 2 && col("n_rest") >= 2
          && col("_w1") + col("_w2") > 0.0)
      .withColumn("mean_diff",
        when(col("_ok"), round(md / lit(1e6), 6)).cast("double"))
      .withColumn("t_lower",
        when(col("_ok"),
          round((md + scaledMargin) / se, 6)).cast("double"))
      .withColumn("t_upper",
        when(col("_ok"),
          round((md - scaledMargin) / se, 6)).cast("double"))
      .withColumn("dof",
        when(col("_ok")
            && col("_w1") * col("_w1") / (n1 - 1.0)
              + col("_w2") * col("_w2") / (n2 - 1.0) > 0.0,
          round((col("_w1") + col("_w2")) * (col("_w1") + col("_w2"))
            / (col("_w1") * col("_w1") / (n1 - 1.0)
              + col("_w2") * col("_w2") / (n2 - 1.0)), 6)).cast("double"))
      .withColumn("equivalent",
        when(col("_ok"),
          col("t_lower") > lit(tCrit) && col("t_upper") < -lit(tCrit)))
      .select(groupCol, "n_group", "n_rest", "mean_diff",
        "t_lower", "t_upper", "dof", "equivalent")
  }

  /** Bartlett's test of equal variances across ALL k levels of
    * `groupCol` — the parametric sibling of [[brownForsythe]]: more
    * powerful under normality, famously fragile off it (run the pair
    * and disagree loudly). K² = [(N−k)·ln s_p² − Σ(n_g−1)·ln s_g²] /
    * [1 + (Σ 1/(n_g−1) − 1/(N−k)) / (3(k−1))], χ²(k−1) under H0.
    *
    * Exactness: per-group variances come from exact decimal(38,0)
    * moments of 1e6-scaled longs and are computed in SCALED units —
    * the ln-scale offsets cancel between the pooled and summed terms
    * ((N−k)·ln c − Σ(n_g−1)·ln c = 0), so nothing descales. `ln` is
    * the one non-correctly-rounded primitive in the tree, so each
    * ln s_g² is frozen at 12 dp BEFORE the (n_g−1) multiply (a 1-ulp
    * engine difference on a value ~O(40) sits ~1e-14, far inside the
    * 5e-13 boundary; multiplying first would amplify it past the
    * freeze), the product is frozen at 6 dp into a decimal(38,6) sum,
    * and 1/(n_g−1) (correctly-rounded IEEE divide) at 12 dp into
    * decimal(38,12) — the [[chiSquared]] order-free discipline.
    * K² is one rounded float tree. Groups with n_g < 2 or zero
    * variance are excluded from the fold (and reported via k_used);
    * NULL when fewer than 2 usable groups remain.
    *
    * Scale shape: one group-keyed moment aggregate, then a k-row
    * fold. Output: (n, k_used, k2).
    */
  def bartlett(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val byG = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
      .groupBy("_g")
      .agg(count(lit(1)).as("_ng"),
        sum(col("_x").cast(dec)).as("_s1"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_q1"))
      .withColumn("_ngd", col("_ng").cast("double"))
      // sample variance in scaled units (exact moments, one float tree)
      .withColumn("_v",
        when(col("_ng") >= 2,
          (col("_ngd") * col("_q1").cast("double")
            - col("_s1").cast("double") * col("_s1").cast("double"))
            / (col("_ngd") * (col("_ngd") - 1.0))))
      .filter(col("_v") > 0.0)
    byG
      .agg(sum("_ng").as("_n"), count(lit(1)).as("_k"),
        sum(round((col("_ngd") - 1.0) * round(log(col("_v")), 12), 6)
          .cast("decimal(38,6)")).as("_sln"),
        // Σ (n_g−1)·s_g² recovers the pooled variance numerator
        // exactly in float from per-group 12-dp-frozen terms
        sum(round((col("_ngd") - 1.0) * col("_v"), 6)
          .cast("decimal(38,6)")).as("_ssw"),
        sum(round(lit(1.0) / (col("_ngd") - 1.0), 12)
          .cast("decimal(38,12)")).as("_sinv"))
      .select(col("_n").cast("bigint").as("n"),
        col("_k").cast("bigint").as("k_used"),
        when(col("_k") >= 2 && col("_n") > col("_k"),
          round(((col("_n") - col("_k")).cast("double")
              * round(log(col("_ssw").cast("double")
                / (col("_n") - col("_k")).cast("double")), 12)
              - col("_sln").cast("double"))
            / (lit(1.0)
              + (col("_sinv").cast("double")
                - lit(1.0) / (col("_n") - col("_k")).cast("double"))
                / (lit(3.0) * (col("_k").cast("double") - 1.0))), 6))
          .cast("double").as("k2"))
  }

  /** Mood's median test: does each group sit above/below the GRAND
    * median at the same rate? The k-sample location test that only
    * needs counts — the coarsest, most assumption-free sibling of
    * [[kruskalWallis]], and the one that survives heavy censoring at
    * the tails. Pearson χ² on the k×2 (≤ median, > median) table.
    *
    * Exactness: the grand median is the exact LOWER median of the
    * 1e6-scaled longs, recovered from the (group × value) grid's
    * value-partitioned cumulative (no global sort — the [[ksTest]]
    * trick); cell counts are exact integers; expected counts and the
    * χ² fold use the [[chiSquared]] discipline (12-dp-frozen terms in
    * decimal(38,12)). Groups with an empty expected cell contribute
    * NULL (all-values-equal degenerate).
    *
    * Scale shape: one (group, value) cell shuffle; one ordered window
    * over the per-group VOCABULARY grid (the [[mannWhitney]] cost
    * class — pre-bin a continuous column first); one k-row fold.
    * Output: (n, k, chi2, dof).
    */
  def moodMedian(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val cells = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_q"))
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
    val groups = cells.select(col("_g").as("_gm")).distinct()
    val grid = cells.select(col("_q").as("_vq")).distinct()
      .crossJoin(broadcast(groups))
      .join(cells, col("_gm") <=> col("_g") && col("_vq") <=> col("_q"),
        "left")
      .select(col("_gm").as("_g"), col("_vq").as("_q"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val perGroup = Window.partitionBy("_g").orderBy("_q")
    val atValue = Window.partitionBy("_q")
    val cum = grid
      .withColumn("_cum", sum("_c").over(perGroup))
      .withColumn("_call", sum("_cum").over(atValue))
    val n = cells.agg(sum("_c").as("_n"))
    // grand lower median: smallest value whose global cumulative
    // reaches ceil(N/2) = (N+1) div 2
    val med = cum.crossJoin(broadcast(n))
      .filter(col("_call") * 2 >= col("_n"))
      .agg(min("_q").as("_med"))
    val tab = cells.crossJoin(broadcast(med))
      .groupBy("_g")
      .agg(sum(when(col("_q") <= col("_med"), col("_c"))
          .otherwise(lit(0L))).as("_lo"),
        sum(col("_c")).as("_ng"))
    val tot = tab.agg(sum("_lo").as("_tlo"), sum("_ng").as("_tn"),
      count(lit(1)).as("_k"))
    tab.crossJoin(broadcast(tot))
      // expected counts under independence; χ² terms frozen at 12 dp
      .withColumn("_elo",
        col("_ng").cast("double") * col("_tlo").cast("double")
          / col("_tn").cast("double"))
      .withColumn("_ehi",
        col("_ng").cast("double")
          * (col("_tn") - col("_tlo")).cast("double")
          / col("_tn").cast("double"))
      .agg(max("_tn").as("_n"), max("_k").as("_kk"),
        sum(when(col("_elo") > 0.0 && col("_ehi") > 0.0,
          round((col("_lo").cast("double") - col("_elo"))
              * (col("_lo").cast("double") - col("_elo")) / col("_elo")
            + ((col("_ng") - col("_lo")).cast("double") - col("_ehi"))
              * ((col("_ng") - col("_lo")).cast("double") - col("_ehi"))
              / col("_ehi"), 12).cast("decimal(38,12)")))
          .as("_chi"),
        min((col("_elo") > 0.0 && col("_ehi") > 0.0).cast("int"))
          .as("_allok"))
      .select(col("_n").cast("bigint").as("n"),
        col("_kk").cast("bigint").as("k"),
        when(col("_allok") === 1 && col("_kk") >= 2,
          round(col("_chi").cast("double"), 6)).cast("double").as("chi2"),
        (col("_kk") - 1).cast("bigint").as("dof"))
  }

  /** Cronbach's alpha internal-consistency coefficient over a long
    * (block, item, value) frame: α = k/(k−1)·(1 − Σ var_i/var_total)
    * — "do these k parallel signals measure one underlying thing"
    * (rater panels, multi-metric quality scores, ensemble judges).
    * Blocks missing any item are EXCLUDED (the complete-case
    * convention — a partial block would bias every variance).
    *
    * Exactness: values quantize to 1e6-scaled longs (the scale
    * cancels in the variance ratio, so nothing descales); per-item
    * and block-total variances come from exact decimal(38,0) moments
    * over the complete blocks; each var_i is frozen at 12 dp into an
    * order-free decimal(38,12) sum (the [[bartlett]] discipline); α
    * is one rounded float tree. NULL when k < 2, usable blocks < 2,
    * or the total variance is 0.
    *
    * Scale shape: one block-keyed completeness filter + one item-
    * keyed and one block-keyed moment aggregate — no windows. Output:
    * (n_blocks, k, alpha).
    */
  def cronbachAlpha(df: DataFrame, blockCol: String, itemCol: String,
      valueCol: String): DataFrame = {
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(blockCol).as("_b"), col(itemCol).as("_i"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
    val k = pts.select(col("_i")).distinct().agg(count(lit(1)).as("_k"))
    val complete = pts
      .groupBy("_b").agg(count(lit(1)).as("_ni"),
        sum(col("_v").cast(dec)).as("_tot"))
      .crossJoin(broadcast(k))
      .filter(col("_ni") === col("_k"))
    def svar(n: Column, s: Column, q: Column): Column =
      ((n * q.cast("double") - s.cast("double") * s.cast("double"))
        / (n * (n - 1.0)))
    // per-item variance across complete blocks
    val items = pts.join(complete.select(col("_b")), Seq("_b"))
      .groupBy("_i")
      .agg(count(lit(1)).as("_n"), sum(col("_v").cast(dec)).as("_s"),
        sum((col("_v").cast(dec) * col("_v")).cast(dec)).as("_q"))
      .agg(sum(when(col("_n") >= 2,
        round(svar(col("_n").cast("double"), col("_s"), col("_q")), 12))
        .cast("decimal(38,12)")).as("_svi"))
    // block-total variance
    val totals = complete
      .agg(count(lit(1)).as("_nb"),
        sum(col("_tot")).as("_st"),
        sum((col("_tot") * col("_tot")).cast(dec)).as("_qt"))
    totals.crossJoin(broadcast(items)).crossJoin(broadcast(k))
      .withColumn("_vt",
        when(col("_nb") >= 2,
          svar(col("_nb").cast("double"), col("_st"), col("_qt"))))
      .select(col("_nb").cast("bigint").as("n_blocks"),
        col("_k").cast("bigint").as("k"),
        when(col("_k") >= 2 && col("_nb") >= 2 && col("_vt") > 0.0,
          round(col("_k").cast("double") / (col("_k").cast("double") - 1.0)
            * (lit(1.0) - col("_svi").cast("double") / col("_vt")), 6))
          .cast("double").as("alpha"))
  }

  /** Mantel–Haenszel stratified 2×2 analysis: the common odds ratio
    * OR_MH = Σ(a_s·d_s/n_s) / Σ(b_s·c_s/n_s) and the CMH χ²
    * (uncorrected) = (Σa_s − ΣE[a_s])² / ΣVar(a_s) — "does exposure
    * move the outcome AFTER holding the stratum constant", the
    * Simpson's-paradox-proof A/B readout a pooled 2×2 gets wrong
    * whenever arm allocation varies by segment.
    *
    * Exactness: per-stratum cells a/b/c/d and margins are exact
    * integers; each stratum's a·d/n, b·c/n, E[a] = r₁c₁/n and
    * Var = r₁r₀c₁c₀/(n²(n−1)) terms are single float trees frozen at
    * 12 dp into order-free decimal(38,12) sums; OR and χ² are one
    * rounded tree each. Strata with n < 2 are excluded (Var needs
    * n−1); OR NULL when Σb·c/n = 0, χ² NULL when ΣVar = 0.
    *
    * Scale shape: one stratum-keyed conditional-count aggregate +
    * one strata-bounded fold. Output: (n_strata, n, or_mh, cmh_chi2).
    */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
      exposedCol: String, outcomeCol: String): DataFrame = {
    val e = col(exposedCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    val tab = df.filter(e.isNotNull && o.isNotNull)
      .groupBy(col(stratumCol).as("_s"))
      .agg(cnt(e && o).as("_a"), cnt(e && !o).as("_b"),
        cnt(!e && o).as("_c"), cnt(!e && !o).as("_d"))
      .withColumn("_n", col("_a") + col("_b") + col("_c") + col("_d"))
      .filter(col("_n") >= 2)
    val nd = d("_n")
    def dz(t: Column): Column = round(t, 12).cast("decimal(38,12)")
    tab
      .agg(count(lit(1)).cast("bigint").as("n_strata"),
        sum("_n").cast("bigint").as("n"),
        sum("_a").as("_sa"),
        sum(dz(d("_a") * d("_d") / nd)).as("_sad"),
        sum(dz(d("_b") * d("_c") / nd)).as("_sbc"),
        sum(dz((d("_a") + d("_b")) * (d("_a") + d("_c")) / nd)).as("_sea"),
        sum(dz((d("_a") + d("_b")) * (d("_c") + d("_d"))
          * (d("_a") + d("_c")) * (d("_b") + d("_d"))
          / (nd * nd * (nd - 1.0)))).as("_sva"))
      .select(col("n_strata"), col("n"),
        when(col("_sbc").cast("double") > 0.0,
          round(col("_sad").cast("double") / col("_sbc").cast("double"), 6))
          .cast("double").as("or_mh"),
        when(col("_sva").cast("double") > 0.0,
          round((col("_sa").cast("double") - col("_sea").cast("double"))
            * (col("_sa").cast("double") - col("_sea").cast("double"))
            / col("_sva").cast("double"), 6))
          .cast("double").as("cmh_chi2"))
  }

  /** Deming regression (errors-in-variables, λ = error-variance
    * ratio) per group — the method-comparison fit OLS gets WRONG when
    * x is also noisy (OLS attenuates the slope toward 0; Deming
    * splits the residual between both axes):
    * β = (S_yy − λS_xx + √((S_yy − λS_xx)² + 4λS_xy²)) / (2S_xy),
    * α = ȳ − βx̄ — the closed form, no iteration. λ = 1 is classic
    * orthogonal regression. The [[blandAltman]] pair's regression
    * member: BA reads the DISAGREEMENT, Deming fits the calibration
    * line.
    *
    * Exactness: x/y freeze at 6 dp, moments fold cast-before-multiply
    * in decimal(38,12), the centered S-terms and β/α are one
    * identically-spelled float tree rounded 6 dp. S_xy = 0 (no
    * covariation — β is 0/0 or the fit is degenerate-vertical) and
    * n < 2 report NULL loudly. Scale shape: one group fold. Output:
    * (group, n, slope, intercept).
    */
  def demingRegression(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, lambda: Double = 1.0): DataFrame = {
    require(lambda > 0.0, s"demingRegression: lambda must be > 0")
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol), 6).as("_x"), round(col(yCol), 6).as("_y"))
    val folded = pts.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x").cast(dec12)).as("_sx"),
        sum(col("_y").cast(dec12)).as("_sy"),
        sum(round(col("_x") * col("_x"), 12).cast(dec12)).as("_sxx"),
        sum(round(col("_x") * col("_y"), 12).cast(dec12)).as("_sxy"),
        sum(round(col("_y") * col("_y"), 12).cast(dec12)).as("_syy"))
    val nD = col("n").cast("double")
    val cxx = d("_sxx") - d("_sx") * d("_sx") / nD
    val cxy = d("_sxy") - d("_sx") * d("_sy") / nD
    val cyy = d("_syy") - d("_sy") * d("_sy") / nD
    val diff = cyy - lit(lambda) * cxx
    val beta = (diff + sqrt(diff * diff
      + lit(4.0 * lambda) * cxy * cxy)) / (lit(2.0) * cxy)
    val ok = col("n") >= 2 && cxy =!= 0.0
    folded
      .withColumn("_b", when(ok, round(beta, 6)))
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        col("_b").cast("double").as("slope"),
        round(d("_sy") / nD - col("_b") * (d("_sx") / nD), 6)
          .cast("double").as("intercept"))
  }

  /** Breslow–Day homogeneity test — [[mantelHaenszel]]'s honesty
    * check: CMH assumes ONE common odds ratio across strata; BD asks
    * whether the strata actually agree. Under ψ̂_MH each stratum's
    * expected exposed-case count ã solves the quadratic
    * ψ = ã·d̃/(b̃·c̃) on its own margins, and
    * χ²_BD = Σ (a − ã)²·(1/ã + 1/b̃ + 1/c̃ + 1/d̃) on
    * n_strata − 1 dof. A significant BD means the pooled or_mh is
    * averaging genuinely different effects — report per-stratum ORs
    * instead.
    *
    * Determinism: exact integer 2×2 margins; ψ̂ freezes at 6 dp (the
    * or_mh output value) BEFORE the per-stratum trees; the quadratic
    * root (B − √(B²−4AC))/(2A) is selected by the valid-interval
    * test (the other root always lies outside), with the exact ψ = 1
    * linear fallback ã = r1c1/n; per-stratum terms freeze at 12 dp
    * into a decimal fold. Strata with a zero margin, an ã on the
    * interval boundary (a zero fitted cell), or n < 2 are EXCLUDED
    * and counted — never a silent Inf. Scale shape: one stratum
    * fold + a broadcast ψ. Output: ONE row (n_strata_used,
    * n_strata_excluded, or_mh, bd_chi2, dof).
    */
  def breslowDay(df: DataFrame, stratumCol: String,
      exposedCol: String, outcomeCol: String): DataFrame = {
    val e = col(exposedCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    val tab = df.filter(e.isNotNull && o.isNotNull)
      .groupBy(col(stratumCol).as("_s"))
      .agg(cnt(e && o).as("_a"), cnt(e && !o).as("_b"),
        cnt(!e && o).as("_c"), cnt(!e && !o).as("_d"))
      .withColumn("_n", col("_a") + col("_b") + col("_c") + col("_d"))
      .filter(col("_n") >= 2)
      .localCheckpoint() // the psi fold + the per-stratum pass read it
    val nd = d("_n")
    def dz(t: Column): Column = round(t, 12).cast("decimal(38,12)")
    val psiRow = tab.agg(
      sum(dz(d("_a") * d("_d") / nd)).as("_sad"),
      sum(dz(d("_b") * d("_c") / nd)).as("_sbc"))
      .select(when(col("_sbc").cast("double") > 0.0,
        round(col("_sad").cast("double") / col("_sbc").cast("double"), 6))
        .as("_psi"))
    val withPsi = tab.crossJoin(broadcast(psiRow))
      .withColumn("_r1", col("_a") + col("_b"))
      .withColumn("_c1", col("_a") + col("_c"))
      .filter(col("_psi").isNotNull)
    val r1 = d("_r1"); val c1 = d("_c1")
    val lo = greatest(lit(0.0), r1 + c1 - nd)
    val hi = least(r1, c1)
    val aa = col("_psi") - 1.0
    val bb = (nd - r1 - c1) + col("_psi") * (r1 + c1)
    val cc = col("_psi") * r1 * c1
    val disc = bb * bb - lit(4.0) * aa * cc
    val rootM = (bb - sqrt(disc)) / (lit(2.0) * aa)
    val rootP = (bb + sqrt(disc)) / (lit(2.0) * aa)
    val scored = withPsi
      .withColumn("_at", when(col("_psi") === 1.0, cc / bb)
        .otherwise(when(rootM >= lo && rootM <= hi, rootM)
          .otherwise(rootP)))
      // a boundary ã means a zero fitted cell (infinite variance term):
      // the stratum is excluded loudly via the strict-inside test
      .withColumn("_ok", col("_at") > lo && col("_at") < hi
        && col("_r1") >= 1 && col("_c1") >= 1
        && col("_r1") < col("_n") && col("_c1") < col("_n"))
      .withColumn("_term", when(col("_ok"),
        round((d("_a") - col("_at")) * (d("_a") - col("_at"))
          * (lit(1.0) / col("_at")
            + lit(1.0) / (r1 - col("_at"))
            + lit(1.0) / (c1 - col("_at"))
            + lit(1.0) / (nd - r1 - c1 + col("_at"))), 12)))
    scored.agg(
        sum(when(col("_ok"), 1L).otherwise(0L)).as("_used"),
        sum(when(col("_ok"), 0L).otherwise(1L)).as("_excl"),
        max(col("_psi")).as("_p"),
        sum(col("_term").cast("decimal(38,12)")).as("_chi"))
      .select(col("_used").cast("bigint").as("n_strata_used"),
        col("_excl").cast("bigint").as("n_strata_excluded"),
        col("_p").cast("double").as("or_mh"),
        when(col("_used") >= 2,
          round(col("_chi").cast("double"), 6))
          .cast("double").as("bd_chi2"),
        when(col("_used") >= 2, col("_used") - 1L)
          .cast("bigint").as("dof"))
  }

  /** Friedman test over a long (block, treatment, value) frame: are
    * the k treatments located identically across matched blocks? The
    * repeated-measures dual of [[kruskalWallis]] (which assumes
    * independent groups) — ranks live WITHIN each block, so
    * between-block level shifts cancel by construction. Mid-ranks on
    * ties; the classic uncorrected statistic
    * χ²_F = 3/(n·k·(k+1))·Σ_j R2_j² − 3·n·(k+1) on doubled rank sums
    * (R2 = 2R keeps tied mid-ranks integer — the [[mannWhitney]]
    * doubling trick).
    *
    * Exactness: values quantize to 1e6-scaled longs (exact
    * comparisons); within-block doubled mid-ranks 2r+c−1 are exact
    * integers from a rank window + a (block, value) tie count;
    * Σ R2_j² accumulates in decimal(38,0); χ² is one rounded float
    * tree. Blocks missing any treatment are EXCLUDED (complete-case);
    * duplicate (block, treatment) observations raise loudly — the
    * matrix contract is one cell per pair. NULL when k < 2 or no
    * complete blocks.
    *
    * Scale shape: rank windows are BLOCK-keyed (k-bounded partitions);
    * one completeness filter + one treatment-keyed sum. Output: ONE
    * row (n_blocks, k, dof, chi2).
    */
  /** Shared Friedman-family prep: loud duplicate guard, complete
    * blocks only, doubled mid-ranks (2r + c − 1, exact integers).
    * Returns rows (_b block, _i treatment, _m2 doubled mid-rank). */
  private def friedmanRanked(df: DataFrame, blockCol: String,
      treatCol: String, valueCol: String): DataFrame = {
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(blockCol).as("_b"), col(treatCol).as("_i"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
    // one observation per (block, treatment) — in-plan loud guard
    val dups = pts.groupBy(col("_b").as("_bd"), col("_i").as("_id"))
      .agg(count(lit(1)).as("_nc"))
    val guarded = pts
      .join(dups, col("_b") <=> col("_bd") && col("_i") <=> col("_id"))
      .withColumn("_v",
        when(col("_nc") > 1, raise_error(concat(
          lit("friedman: duplicate (block, treatment) observation ("),
          col("_b").cast("string"), lit(", "), col("_i").cast("string"),
          lit(")"))).cast("long")).otherwise(col("_v")))
      .select("_b", "_i", "_v")
    val k = guarded.select(col("_i")).distinct()
      .agg(count(lit(1)).as("_k"))
    // completeness counts DISTINCT treatments — a duplicated cell must
    // not mask a missing one (the duplicate itself raises via _v)
    val complete = guarded.groupBy(col("_b").as("_bc"))
      .agg(countDistinct(col("_i")).as("_ni"))
      .crossJoin(broadcast(k)).filter(col("_ni") === col("_k"))
      .select("_bc")
    val wr = Window.partitionBy("_b").orderBy("_v")
    guarded.join(complete, col("_b") <=> col("_bc"))
      .withColumn("_r", rank().over(wr))
      .withColumn("_c", count(lit(1)).over(
        Window.partitionBy("_b", "_v")))
      // doubled mid-rank 2·(r + (c−1)/2) = 2r + c − 1: exact integer
      .withColumn("_m2", lit(2L) * col("_r") + col("_c") - 1L)
  }

  /** Page's L test for ordered alternatives in randomized blocks —
    * the DIRECTIONAL follow-up to [[friedman]]: Friedman asks "do the
    * treatments differ at all", Page asks "do the values INCREASE
    * along this hypothesized treatment order" (dose levels, time
    * points, model sizes) and is far more powerful when that order is
    * the question. L = Σ_j c_j·R_j with c_j the treatment's 1-based
    * position in the NATURAL ORDER of the treatment labels (encode
    * the hypothesis in sortable labels — the portable convention) and
    * R_j its rank sum over complete blocks;
    * z = (L − nk(k+1)²/4) / √(n·k²(k+1)(k²−1)/144).
    *
    * Exactness: shares [[friedman]]'s prep verbatim (loud duplicate
    * guard, complete blocks, doubled integer mid-ranks, ties by
    * mid-rank — the standard large-sample practice); L and the
    * doubled mean are exact integers; z is one rounded float tree.
    * NULL z when k < 3 or no complete blocks (Page needs an order of
    * at least 3).
    *
    * Scale shape: friedman's — one block-keyed rank window, then
    * treatment-cardinality tables. Output: (n_blocks, k, l_stat, z).
    */
  def pageTrend(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val ranked = friedmanRanked(df, blockCol, treatCol, valueCol)
    val perT = ranked.groupBy("_i")
      .agg(sum(col("_m2").cast(dec)).as("_r2"), count(lit(1)).as("_nb"))
      // c_j: position of the treatment in its label's natural order —
      // a k-row frame, so the unpartitioned window is k-bounded
      .withColumn("_c", row_number().over(Window.orderBy("_i")))
    perT
      .agg(max("_nb").as("_n"), count(lit(1)).as("_kk"),
        sum((col("_c") * col("_r2")).cast(dec)).as("_l2"))
      .select(col("_n").cast("bigint").as("n_blocks"),
        col("_kk").cast("bigint").as("k"),
        // _l2 is the DOUBLED L (doubled mid-ranks); report L exactly
        (col("_l2").cast("double") / 2.0).as("l_stat"),
        when(col("_kk") >= 3 && col("_n") >= 1,
          round((col("_l2").cast("double")
            - col("_n").cast("double") * col("_kk").cast("double")
              * (col("_kk") + 1).cast("double")
              * (col("_kk") + 1).cast("double") / 2.0)
            / (lit(2.0) * sqrt(col("_n").cast("double")
              * col("_kk").cast("double") * col("_kk").cast("double")
              * (col("_kk") + 1).cast("double")
              * (col("_kk") * col("_kk") - 1).cast("double") / 144.0)),
            6)).cast("double").as("z"))
  }

  /** Quade test for randomized complete blocks — [[friedman]]'s
    * weighted sibling: Friedman throws away how DIFFERENT the
    * treatments are within a block; Quade weights each block by the
    * rank Q_b of its raw range, so blocks that separate the
    * treatments hardest count most (markedly more powerful at small
    * k). S_ij = Q_b·(r_ij − (k+1)/2),
    * F = (n−1)·B/(A − B) with A = ΣS_ij², B = ΣS_j²/n, on
    * F(k−1, (n−1)(k−1)).
    *
    * Exactness: shares [[friedman]]'s prep verbatim (loud duplicate
    * guard, complete blocks only, doubled integer mid-ranks); block
    * ranges are exact longs on the 1e6 value scale and their
    * cross-block ranks use the same doubled mid-rank formula, so
    * 4·S_ij = Q2_b·(m2_ij − (k+1)) is an EXACT integer;
    * A and B fold cast-before-multiply in decimal(38,0) and the
    * 16s/ns cancel in F = (n−1)·Bnum/(n·A16 − Bnum) — one rounded
    * float tree. Perfectly consistent blocks (A = B, F = ∞) report
    * NULL loudly, never an artifact. Scale shape: friedman's (one
    * block-keyed rank window + one blocks-bounded range-rank window).
    * Output: ONE row (n_blocks, k, df1, df2, f_stat).
    */
  def quadeTest(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val ranked = friedmanRanked(df, blockCol, treatCol, valueCol)
      .select("_b", "_i", "_v", "_m2")
    val k = ranked.select(col("_i")).distinct()
      .agg(count(lit(1)).as("_k"))
    val ranges = ranked.groupBy(col("_b").as("_br"))
      .agg((max("_v") - min("_v")).as("_d"))
    val wq = Window.orderBy("_d") // blocks-bounded: one row per block
    val q2 = ranges
      .withColumn("_q2", lit(2L) * rank().over(wq)
        + count(lit(1)).over(Window.partitionBy("_d")) - 1L)
    val scored = ranked
      .join(broadcast(q2), col("_b") <=> col("_br")).drop("_br")
      .crossJoin(broadcast(k))
      .withColumn("_s4", col("_q2") * (col("_m2") - (col("_k") + 1L)))
    val perT = scored.groupBy("_i")
      .agg(sum(col("_s4").cast(dec)).as("_t4"),
        sum((col("_s4").cast(dec) * col("_s4")).cast(dec)).as("_a16"),
        count(lit(1)).as("_nb"))
    val agg = perT.agg(max("_nb").as("_n"), count(lit(1)).as("_kk"),
      sum("_a16").as("_a"),
      sum((col("_t4") * col("_t4")).cast(dec)).as("_bnum"))
    val nD = col("_n").cast("double")
    val den = nD * d("_a") - d("_bnum")
    val ok = col("_n") >= 2 && col("_kk") >= 2 && den > 0.0
    agg.select(col("_n").cast("bigint").as("n_blocks"),
      col("_kk").cast("bigint").as("k"),
      (col("_kk") - 1L).cast("bigint").as("df1"),
      ((col("_n") - 1L) * (col("_kk") - 1L)).cast("bigint").as("df2"),
      when(ok, round((nD - 1.0) * d("_bnum") / den, 6))
        .cast("double").as("f_stat"))
  }

  /** Ansari–Bradley rank-dispersion test per group vs the pooled
    * rest — "same center, different SPREAD": scores count in from
    * both ends, a(r) = min(r, N+1−r), so a sample concentrated at
    * the extremes scores LOW (more dispersed) and one packed in the
    * middle scores HIGH. The location family ([[mannWhitney]]) is
    * blind to this alternative. z is computed from the EXACT
    * finite-population moments of the realized score multiset
    * (sampling m of N scores without replacement):
    * E = m·ḡ, Var = m·(N−m)/(N−1)·σ²_g — tie-robust by
    * construction since ties share the mid-rank score.
    *
    * Exactness: the [[mannWhitney]] doubled machinery — doubled
    * mid-rank D = 2C+E+1, doubled score A2 = min(D, 2(N+1)−D), all
    * exact integers; ΣA2 and ΣA2² fold in decimal(38,0); one rounded
    * float z tree. Negative z = the group is MORE dispersed than the
    * rest. Degenerate (empty rest, zero score variance) → NULL.
    * Scale shape: one cell shuffle + the vocabulary-bounded prefix
    * window. Output: (group, n_group, n_rest, ab_stat, z).
    */
  def ansariBradley(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val cells = df.select(col(groupCol).as("_g"),
        round(col(valueCol), 6).as("_q"))
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
    val totals = cells.groupBy(col("_q").as("_tq")).agg(sum("_c").as("_e"))
      .withColumn("_cbelow", coalesce(
        sum("_e").over(Window.orderBy(col("_tq"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val nAll = totals.agg(sum("_e").as("_n"))
    val scoredTot = totals.crossJoin(broadcast(nAll))
      .withColumn("_d", lit(2L) * col("_cbelow") + col("_e") + 1L)
      .withColumn("_a2", least(col("_d"),
        lit(2L) * (col("_n") + 1L) - col("_d")))
    val nn = scoredTot.agg(max("_n").as("_n"),
      sum((col("_e").cast(dec) * col("_a2")).cast(dec)).as("_t2"),
      sum((col("_e").cast(dec) * col("_a2") * col("_a2")).cast(dec))
        .as("_t2sq"))
    val perG = cells
      .join(scoredTot.select("_tq", "_a2"), cells("_q") <=> col("_tq"))
      .groupBy(col("_g").as(groupCol))
      .agg(sum("_c").as("n_group"),
        sum((col("_c").cast(dec) * col("_a2")).cast(dec)).as("_sa2"))
    perG.crossJoin(broadcast(nn))
      .withColumn("n_rest", (col("_n") - col("n_group")).cast("bigint"))
      .withColumn("_mean", col("n_group").cast("double") * d("_t2")
        / d("_n"))
      .withColumn("_sig", (d("_t2sq") - d("_t2") * d("_t2") / d("_n"))
        / d("_n"))
      .withColumn("_var", col("n_group").cast("double")
        * col("n_rest").cast("double") / (d("_n") - 1.0) * col("_sig"))
      .select(col(groupCol),
        col("n_group").cast("bigint").as("n_group"),
        col("n_rest"),
        (d("_sa2") / 2.0).cast("double").as("ab_stat"),
        when(col("n_rest") > 0 && col("_var") > 0.0,
          round((d("_sa2") - col("_mean")) / sqrt(col("_var")), 6))
          .cast("double").as("z"))
  }

  /** Absolute-risk 2×2 panel per group — the epidemiology numbers
    * the ratio family (odds_ratio, prr) hides: risk difference
    * RD = r₁ − r₀ with the Wald se, relative risk RR = r₁/r₀, NNT =
    * 1/|RD| (how many exposures per extra outcome — THE number a
    * decision-maker asks), and the attributable fraction among the
    * exposed (RR−1)/RR. Odds ratios exaggerate for common outcomes;
    * this panel is the honest absolute view beside them.
    *
    * Determinism: exact integer 2×2 counts per group; risks freeze
    * at 12 dp before every tree; each output is one rounded closed
    * form. Empty arms → NULL panel; r₀ = 0 → NULL rr/af; RD = 0 →
    * NULL nnt (no effect to invert). Output: (group, n,
    * risk_exposed, risk_unexposed, rd, se_rd, rr, nnt, af_exposed).
    */
  def riskPanel(df: DataFrame, groupCol: String, exposed: Column,
      outcome: Column): DataFrame = {
    val e = exposed.cast("boolean")
    val o = outcome.cast("boolean")
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    val tab = df.filter(e.isNotNull && o.isNotNull)
      .groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("n"),
        cnt(e && o).as("_a"), cnt(e && !o).as("_b"),
        cnt(!e && o).as("_c"), cnt(!e && !o).as("_d"))
    val n1 = col("_a") + col("_b")
    val n0 = col("_c") + col("_d")
    val ok = n1 >= 1 && n0 >= 1
    val r1 = round(d("_a") / n1.cast("double"), 12)
    val r0 = round(d("_c") / n0.cast("double"), 12)
    tab
      .withColumn("_r1", when(ok, r1))
      .withColumn("_r0", when(ok, r0))
      .withColumn("_rd", round(col("_r1") - col("_r0"), 12))
      .select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
        round(col("_r1"), 6).cast("double").as("risk_exposed"),
        round(col("_r0"), 6).cast("double").as("risk_unexposed"),
        round(col("_rd"), 6).cast("double").as("rd"),
        round(sqrt(col("_r1") * (lit(1.0) - col("_r1"))
            / n1.cast("double")
          + col("_r0") * (lit(1.0) - col("_r0")) / n0.cast("double")), 6)
          .cast("double").as("se_rd"),
        when(col("_r0") > 0.0, round(col("_r1") / col("_r0"), 6))
          .cast("double").as("rr"),
        when(col("_rd") =!= 0.0, round(lit(1.0) / abs(col("_rd")), 6))
          .cast("double").as("nnt"),
        when(col("_r0") > 0.0 && col("_r1") > 0.0,
          round((col("_r1") / col("_r0") - 1.0)
            / (col("_r1") / col("_r0")), 6))
          .cast("double").as("af_exposed"))
  }

  /** Direct standardization per group — "would the groups' rates
    * still differ if they had the SAME composition": the crude rate
    * confounds the outcome with the group's stratum mix (night-heavy
    * traffic looks riskier only because nights are); the directly
    * standardized rate re-weights each group's per-stratum rates by
    * the POOLED stratum shares, Σ_s w_s·r_{g,s} — the demography
    * classic, and the aggregate twin of L-family q_psm/q_ipf's
    * row-level reweighting.
    *
    * Determinism: exact integer (group, stratum) cells; per-stratum
    * rates and pooled weights freeze at 12 dp; each weighted term
    * freezes at 12 dp into a decimal sum; crude/std rates round at
    * 6. A stratum a group never saw (or saw with zero denominator)
    * contributes 0 and is COUNTED in n_strata_missing — visible,
    * never an imputed rate. Output: (group, n, crude_rate, std_rate,
    * n_strata, n_strata_missing).
    */
  def directStandardization(df: DataFrame, groupCol: String,
      stratumCol: Column, outcome: Column): DataFrame = {
    val o = outcome.cast("boolean")
    val cells = df.filter(o.isNotNull && stratumCol.isNotNull)
      .groupBy(col(groupCol).as("_g"), stratumCol.as("_s"))
      .agg(count(lit(1)).as("_n"),
        sum(when(o, 1L).otherwise(0L)).as("_k"))
      .localCheckpoint() // pooled weights + the grid join read it
    val pooled = cells.groupBy(col("_s").as("_sp"))
      .agg(sum("_n").as("_ns"))
    val tot = pooled.agg(sum("_ns").as("_nt"),
      count(lit(1)).as("_nstrata"))
    val groups = cells.groupBy(col("_g").as("_gg"))
      .agg(sum("_n").as("_ng"), sum("_k").as("_kg"))
    val grid = groups
      .crossJoin(broadcast(pooled))
      .join(cells, col("_gg") <=> col("_g") && col("_sp") <=> col("_s"),
        "left")
      .crossJoin(broadcast(tot))
      .withColumn("_w", round(col("_ns").cast("double")
        / col("_nt").cast("double"), 12))
      .withColumn("_r", when(col("_n").isNotNull && col("_n") >= 1,
        round(col("_k").cast("double") / col("_n").cast("double"), 12)))
      .withColumn("_term", round(col("_w") * coalesce(col("_r"),
        lit(0.0)), 12))
    grid.groupBy(col("_gg").as(groupCol), col("_ng"), col("_kg"),
        col("_nstrata"))
      .agg(sum(col("_term").cast("decimal(38,12)")).as("_std"),
        sum(when(col("_r").isNull, 1L).otherwise(0L)).as("_miss"))
      .select(col(groupCol), col("_ng").cast("bigint").as("n"),
        round(col("_kg").cast("double") / col("_ng").cast("double"), 6)
          .cast("double").as("crude_rate"),
        round(col("_std").cast("double"), 6).cast("double")
          .as("std_rate"),
        col("_nstrata").cast("bigint").as("n_strata"),
        col("_miss").cast("bigint").as("n_strata_missing"))
  }

  /** Paired sign test per group — the assumption-free location test
    * for paired readings (method A vs method B on the same item):
    * only the SIGN of each difference enters, so no symmetry, no
    * scale, no outlier sensitivity — the floor every paired-t/
    * Wilcoxon result should be sanity-checked against. Ties carry no
    * information and drop (the standard treatment);
    * z = (2n⁺ − m)/√m over the m informative pairs.
    *
    * Exactness: both sides quantize to 1e6-scaled longs, so signs
    * are exact integer comparisons; one group fold, one rounded z.
    * m = 0 → NULL. Output: (group, n, n_plus, n_minus, z).
    */
  def signTest(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        (round(col(xCol) * 1e6).cast("long")
          - round(col(yCol) * 1e6).cast("long")).as("_d"))
    val folded = pts.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_d") > 0L, 1L).otherwise(0L)).as("n_plus"),
        sum(when(col("_d") < 0L, 1L).otherwise(0L)).as("n_minus"))
    val mD = (col("n_plus") + col("n_minus")).cast("double")
    folded.select(col(groupCol), col("n").cast("bigint").as("n"),
      col("n_plus").cast("bigint").as("n_plus"),
      col("n_minus").cast("bigint").as("n_minus"),
      when(col("n_plus") + col("n_minus") >= 1,
        round((lit(2.0) * col("n_plus") - mD) / sqrt(mD), 6))
        .cast("double").as("z"))
  }

  /** Mood's squared-rank dispersion test per group vs the pooled
    * rest — [[ansariBradley]]'s quadratic sibling: scores
    * (r − (N+1)/2)² grow from the CENTER out, so a sample at the
    * extremes scores HIGH (positive z = more dispersed — note the
    * sign convention is opposite to AB's both-ends-low scores).
    * Quadratic scores weight far tails harder than AB's linear ramp.
    *
    * Exactness: the doubled machinery — M4 = (D − (N+1))² is an
    * exact integer (= 4·Mood scores); z from the exact finite-
    * population moments of the realized score multiset (the AB
    * justification verbatim: ties share the mid-rank score, and the
    * test is conditional on the realized scores). Output: (group,
    * n_group, n_rest, mood_stat, z) with mood_stat = ΣM4/4 in the
    * classic units.
    */
  def moodDispersion(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val cells = df.select(col(groupCol).as("_g"),
        round(col(valueCol), 6).as("_q"))
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
    val totals = cells.groupBy(col("_q").as("_tq")).agg(sum("_c").as("_e"))
      .withColumn("_cbelow", coalesce(
        sum("_e").over(Window.orderBy(col("_tq"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val nAll = totals.agg(sum("_e").as("_n"))
    val scoredTot = totals.crossJoin(broadcast(nAll))
      .withColumn("_d", lit(2L) * col("_cbelow") + col("_e") + 1L)
      .withColumn("_m4", ((col("_d") - (col("_n") + 1L)).cast(dec)
        * (col("_d") - (col("_n") + 1L))).cast(dec))
    val nn = scoredTot.agg(max("_n").as("_n"),
      sum((col("_e").cast(dec) * col("_m4")).cast(dec)).as("_t2"),
      sum((col("_e").cast(dec) * col("_m4") * col("_m4")).cast(dec))
        .as("_t2sq"))
    val perG = cells
      .join(scoredTot.select("_tq", "_m4"), cells("_q") <=> col("_tq"))
      .groupBy(col("_g").as(groupCol))
      .agg(sum("_c").as("n_group"),
        sum((col("_c").cast(dec) * col("_m4")).cast(dec)).as("_sm4"))
    perG.crossJoin(broadcast(nn))
      .withColumn("n_rest", (col("_n") - col("n_group")).cast("bigint"))
      .withColumn("_mean", col("n_group").cast("double") * d("_t2")
        / d("_n"))
      .withColumn("_sig", (d("_t2sq") - d("_t2") * d("_t2") / d("_n"))
        / d("_n"))
      .withColumn("_var", col("n_group").cast("double")
        * col("n_rest").cast("double") / (d("_n") - 1.0) * col("_sig"))
      .select(col(groupCol),
        col("n_group").cast("bigint").as("n_group"),
        col("n_rest"),
        (d("_sm4") / 4.0).cast("double").as("mood_stat"),
        when(col("n_rest") > 0 && col("_var") > 0.0,
          round((d("_sm4") - col("_mean")) / sqrt(col("_var")), 6))
          .cast("double").as("z"))
  }

  /** Lepage location-scale omnibus test per group vs the pooled
    * rest — "did ANYTHING about this distribution move": L = z_W² +
    * z_AB², the Wilcoxon/Mann–Whitney location z and the
    * Ansari–Bradley dispersion z combined, χ²(2) under the null.
    * The drift gate to run when neither a pure shift nor a pure
    * spread alternative is known in advance.
    *
    * Determinism: both component z's are the FROZEN 6-dp outputs of
    * [[mannWhitney]] and [[ansariBradley]] (shared cell machinery),
    * so L is one rounded tree over already-pinned doubles; either
    * component NULL (degenerate variance) → NULL L loudly. Output:
    * (group, n_group, n_rest, z_location, z_dispersion, lepage).
    */
  def lepage(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val mw = mannWhitney(df, groupCol, valueCol)
      .select(col(groupCol), col("n_group"), col("n_rest"),
        col("z").as("_zw"))
    val ab = ansariBradley(df, groupCol, valueCol)
      .select(col(groupCol), col("z").as("_za"))
    mw.join(ab, Seq(groupCol))
      .select(col(groupCol), col("n_group"), col("n_rest"),
        col("_zw").as("z_location"), col("_za").as("z_dispersion"),
        when(col("_zw").isNotNull && col("_za").isNotNull,
          round(col("_zw") * col("_zw") + col("_za") * col("_za"), 6))
          .cast("double").as("lepage"))
  }

  /** One-sample binned Kolmogorov–Smirnov against the UNIFORM law on
    * the observed [min, max] — "is this column flat over its range"
    * (hash keys, shard assignments, quantile-normalized features): the
    * one-sample member of the KS family (L117 compares two samples);
    * D = max over the B bin edges of |ECDF − (q+1)/B|, evaluated at
    * EVERY edge (an empty bin still advances the reference CDF — the
    * grid keeps it honest).
    *
    * Exactness: FULLY integer — D's numerator is max|cum·B − n·(q+1)|
    * over exact counts and the single division n·B happens once,
    * rounded at 6 dp. NULL values are excluded; degenerate range
    * (hi = lo) reports NULL.
    *
    * Scale shape: one corpus shuffle to (group, bin) cells, then the
    * B×groups grid. Output: (group, n, ks).
    */
  def ksUniformBinned(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 4096, s"bins=$bins must be in [2, 4096]")
    val stats = df.agg(min(col(valueCol)).as("_lo"),
      max(col(valueCol)).as("_hi"))
    val cells = df.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        when(col("_hi") > col("_lo"),
          least(floor((col(valueCol) - col("_lo")) * bins
            / (col("_hi") - col("_lo"))), lit(bins - 1)))
          .otherwise(lit(null)).cast("long").as("_q"))
      .filter(col("_q").isNotNull)
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
    val groups = cells.groupBy(col("_g").as("_gm")).agg(sum("_c").as("_n"))
    val grid = groups.crossJoin(
        cells.sparkSession.range(bins).select(col("id").as("_qq")))
      .join(cells, col("_gm") <=> col("_g") && col("_qq") <=> col("_q"),
        "left")
      .select(col("_gm"), col("_qq"), col("_n"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val wCum = Window.partitionBy("_gm").orderBy("_qq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("_cum", sum("_c").over(wCum))
      .withColumn("_num",
        abs(col("_cum") * bins - col("_n") * (col("_qq") + 1)))
      .groupBy(col("_gm").as(groupCol))
      .agg(max("_n").cast("bigint").as("n"),
        round(max("_num").cast("double")
          / (max("_n") * lit(bins.toLong)).cast("double"), 6)
          .cast("double").as("ks"))
  }

  /** One-sample exponential KS per group, binned — [[ksUniformBinned]]
    * against the EXPONENTIAL law with the group's own MLE rate λ̂ =
    * n/Σx: the memorylessness gate for inter-arrival/waiting-time
    * columns (queueing assumptions, retry storms, bot cadences) — a
    * low D says arrivals are Poisson-like, a high D says clustering
    * or periodicity. Same grid discipline as the uniform sibling:
    * D = max over ALL B edges of |ECDF − (1 − e^{−λ̂·edge})| on a
    * global equi-width grid, empty bins still advance the reference.
    * (Estimating λ from the same data biases D slightly low — the
    * classic Lilliefors caveat, documented; compare groups against
    * each other, not raw KS tables.)
    *
    * Determinism: counts/cumulative are exact integers; λ̂ is one
    * double tree on exact 1e6-quantized sums; each edge term is one
    * 12-dp-frozen float tree, the max over edges of frozen values;
    * ks rounds at 6 dp. Negative values rejected loudly (outside the
    * support); hi ≤ 0 or an empty group → absent.
    *
    * Scale shape: the ksUniformBinned cost class — one (group, bin)
    * cell shuffle, a bins × groups grid, one fold.
    * Output: (group, n, rate, ks).
    */
  def ksExponentialBinned(df: DataFrame, groupCol: String,
      valueCol: String, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 4096, s"bins=$bins must be in [2, 4096]")
    val guarded = df.filter(col(valueCol).isNotNull)
      .withColumn("_v", when(col(valueCol) >= 0, col(valueCol))
        .otherwise(raise_error(lit(
          "ksExponentialBinned: negative value outside the support"))))
    val stats = guarded.agg(max(col("_v")).cast("double").as("_hi"))
    val cells = guarded
      .crossJoin(broadcast(stats))
      .filter(col("_hi") > 0.0)
      .select(col(groupCol).as("_g"), col("_hi"),
        least(floor(col("_v") * bins / col("_hi")), lit(bins - 1))
          .cast("long").as("_q"),
        round(col("_v") * 1e6).cast("long").as("_x"))
      .groupBy("_g", "_q")
      .agg(count(lit(1)).as("_c"),
        sum(col("_x").cast("decimal(38,0)")).as("_s"),
        max("_hi").as("_hi"))
    val groups = cells.groupBy(col("_g").as("_gm"))
      .agg(sum("_c").as("_n"), sum("_s").as("_sx"), max("_hi").as("_hiG"))
    val grid = groups.crossJoin(
        cells.sparkSession.range(bins).select(col("id").as("_qq")))
      .join(cells.select("_g", "_q", "_c"),
        col("_gm") <=> col("_g") && col("_qq") <=> col("_q"), "left")
      .select(col("_gm"), col("_qq"), col("_n"), col("_sx"), col("_hiG"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val wCum = Window.partitionBy("_gm").orderBy("_qq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nd = col("_n").cast("double")
    // λ̂ = n / mean-sum: exact scaled sums, one double tree
    val lam = nd * lit(1e6) / col("_sx").cast("double")
    val edge = col("_hiG") * (col("_qq") + 1).cast("double") / bins
    grid
      .withColumn("_cum", sum("_c").over(wCum))
      .withColumn("_term",
        round(abs(col("_cum").cast("double") / nd
          - (lit(1.0) - exp(-lam * edge))), 12))
      .groupBy(col("_gm").as(groupCol))
      .agg(max("_n").cast("bigint").as("n"),
        round(max(lam), 12).cast("double").as("rate"),
        round(max("_term"), 6).cast("double").as("ks"))
  }

  def friedman(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val ranked = friedmanRanked(df, blockCol, treatCol, valueCol)
    val perT = ranked.groupBy("_i")
      .agg(sum(col("_m2").cast(dec)).as("_r2"),
        count(lit(1)).as("_nb"))
    perT
      .agg(max("_nb").as("_n"), count(lit(1)).as("_kk"),
        sum((col("_r2") * col("_r2")).cast(dec)).as("_sr2"))
      .select(col("_n").cast("bigint").as("n_blocks"),
        col("_kk").cast("bigint").as("k"),
        (col("_kk") - 1).cast("bigint").as("dof"),
        when(col("_kk") >= 2 && col("_n") >= 1,
          round(lit(3.0) * col("_sr2").cast("double")
            / (col("_n").cast("double") * col("_kk").cast("double")
              * (col("_kk").cast("double") + 1.0))
            - lit(3.0) * col("_n").cast("double")
              * (col("_kk").cast("double") + 1.0), 6))
          .cast("double").as("chi2"))
  }

  /** Dunn's post-hoc pairwise panel after [[kruskalWallis]]: for each
    * unordered group pair, z = (R̄_a − R̄_b) / √(σ²·(1/n_a+1/n_b))
    * with pooled mid-ranks and the tie-corrected
    * σ² = N(N+1)/12 − Σ(E³−E)/(12(N−1)) — the rank-world twin of
    * [[tukeyHsd]] ("WHICH groups differ" once the omnibus H fires);
    * feed the panel to [[fdrBh]] for the multiplicity gate.
    *
    * Exactness: the [[mannWhitney]] doubled-rank machinery verbatim
    * (D(v) = 2C+E+1 exact integers on the 6-dp value vocabulary;
    * R2_g and Σ(E³−E) in decimal(38,0)); mean ranks are exact
    * rationals R2_g/(2n_g) rounded 6 dp; z is one identically-spelled
    * float tree rounded 6 dp, NULL when σ² ≤ 0 (everything tied).
    *
    * Scale shape: one cell shuffle + ONE vocabulary-bounded prefix
    * window (the mannWhitney cost class — pre-bin a continuous value
    * first), then a k²-bounded self-join of the k-row group table.
    * Output: (group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b,
    * z) with group_a < group_b.
    */
  def dunnTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val cells = df.select(col(groupCol).as("_g"),
        round(col(valueCol), 6).as("_q"))
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
    val totals = cells.groupBy(col("_q").as("_tq")).agg(sum("_c").as("_e"))
      .withColumn("_cbelow", coalesce(
        sum("_e").over(Window.orderBy(col("_tq"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val nn = totals.agg(sum("_e").as("_n"),
      sum((col("_e").cast(dec) * col("_e") * col("_e") - col("_e"))
        .cast(dec)).as("_ties"))
    val perG = cells
      .join(totals, cells("_q") <=> totals("_tq"))
      .groupBy(col("_g"))
      .agg(sum("_c").as("_ng"),
        // fold in decimal: c·rank products are ~n² per cell and the
        // Long SUM is ~n³ — silently overflows past ~2e6 rows
        sum((col("_c").cast(dec)
          * (lit(2L) * col("_cbelow") + col("_e") + 1)).cast(dec))
          .as("_r2"))
    val a = perG.select(col("_g").as("group_a"), col("_ng").as("n_a"),
      col("_r2").as("_r2a"))
    val b = perG.select(col("_g").as("group_b"), col("_ng").as("n_b"),
      col("_r2").as("_r2b"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .crossJoin(broadcast(nn))
      .withColumn("_sig2",
        col("_n").cast("double") * (col("_n").cast("double") + 1.0) / 12.0
          - col("_ties").cast("double")
            / (lit(12.0) * (col("_n").cast("double") - 1.0)))
      .withColumn("_dbar",
        (col("_r2a").cast("double") / col("n_a").cast("double")
          - col("_r2b").cast("double") / col("n_b").cast("double")) / 2.0)
      .select(col("group_a"), col("group_b"),
        col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        round(col("_r2a").cast("double")
          / (lit(2.0) * col("n_a").cast("double")), 6)
          .cast("double").as("mean_rank_a"),
        round(col("_r2b").cast("double")
          / (lit(2.0) * col("n_b").cast("double")), 6)
          .cast("double").as("mean_rank_b"),
        when(col("_sig2") > 0.0,
          round(col("_dbar") / sqrt(col("_sig2")
            * (lit(1.0) / col("n_a").cast("double")
              + lit(1.0) / col("n_b").cast("double"))), 6))
          .cast("double").as("z"))
  }

  /** G-test (likelihood-ratio χ²) of independence on the `aCol` ×
    * `bCol` contingency table — the information-theoretic twin of
    * [[chiSquared]]: G = 2·Σ O·ln(O·N/(r·c)) is additive under table
    * partitioning (χ² isn't) and is exactly 2N·MI(nats), so it reads
    * as "how many nats of association did N rows buy". Run the pair:
    * they agree asymptotically and disagree on sparse cells, which is
    * itself a diagnostic.
    *
    * Exactness: cell counts and marginals are exact integers in
    * decimal(38,0); each cell's ln(O·N/(r·c)) (the one
    * non-correctly-rounded primitive) is frozen at 12 dp BEFORE the
    * O multiply (the [[bartlett]] discipline — multiplying an O(N)
    * count into a 1-ulp ln difference first would amplify it past the
    * freeze), the O·ln term is rounded 6 dp into an order-free
    * decimal(38,6) sum, and G doubles it in one rounded tree. Empty
    * cells never materialize (GROUP BY only sees observed pairs) and
    * contribute exactly their O·ln(O/E) → 0 limit. NULL G when the
    * table is degenerate (single row or column level).
    *
    * Scale shape: identical to [[chiSquared]] — one cell shuffle +
    * broadcast marginals, cells-bounded work after that. Output:
    * (n, n_a_levels, n_b_levels, dof, g).
    */
  def gTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_o"))
    val rows = cells.groupBy(col("_a").as("_ar")).agg(sum("_o").as("_r"))
    val colsM = cells.groupBy(col("_b").as("_bc")).agg(sum("_o").as("_c"))
    val tot = cells.agg(sum("_o").cast(dec).as("_n"))
    val levA = rows.agg(count(lit(1)).as("_ra"))
    val levB = colsM.agg(count(lit(1)).as("_cb"))
    cells
      .join(broadcast(rows), col("_a") <=> col("_ar"))
      .join(broadcast(colsM), col("_b") <=> col("_bc"))
      .crossJoin(broadcast(tot))
      .withColumn("_lnv", round(log(
        (col("_o").cast(dec) * col("_n")).cast("double")
          / (col("_r").cast(dec) * col("_c")).cast("double")), 12))
      .withColumn("_term",
        round(col("_o").cast("double") * col("_lnv"), 6)
          .cast("decimal(38,6)"))
      .agg(max(col("_n")).cast("long").as("n"), sum("_term").as("_sg"))
      .crossJoin(broadcast(levA)).crossJoin(broadcast(levB))
      .select(col("n"),
        col("_ra").as("n_a_levels"), col("_cb").as("n_b_levels"),
        ((col("_ra") - 1) * (col("_cb") - 1)).as("dof"),
        when((col("_ra") - 1) > 0 && (col("_cb") - 1) > 0,
          round(lit(2.0) * col("_sg").cast("double"), 6))
          .cast("double").as("g"))
  }

  /** Per-group binned two-sample Anderson–Darling statistic against
    * the pooled complement — completes the quadratic-EDF trio with
    * [[ksTestBinned]] (worst gap) and [[cvmBinned]] (every gap,
    * uniform weight): AD divides each gap by H(1−H), so TAIL
    * disagreement — where a uniform weight vanishes quadratically —
    * counts at full strength. The shift-in-the-extremes detector
    * (latency p99s, length ceilings) that KS and CvM both soft-pedal.
    *
    * A² = (N/(n_g·n_r))·Σ_cells w_q·num_q²/(call_q·(N−call_q)) over
    * cells with 0 < H < 1 — the Scholz–Stephens (1987) two-sample
    * computational form with each pooled order position collapsed
    * onto its cell (w_q positions share the cell's ECDF state).
    *
    * Exactness: the [[cvmBinned]] frozen-[min,max] cells and
    * cumulative machinery verbatim; per cell, num = cum·(N−n_g) −
    * (call−cum)·n_g, w (pooled cell count), call, and N are exact
    * integers, the cell term w·num²·N/(n_g·n_r·call·(N−call)) is ONE
    * float tree frozen at 12 dp into an order-free decimal(38,12)
    * sum, and A² is one final rounded cast. The last cell (H = 1)
    * drops out by construction. NULL values are a real level
    * (ksTestBinned contract). Output: (group, n_group, n_rest, ad) —
    * ad NULL when the group is the whole input.
    */
  def adBinned(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val stats = df.agg(min(col(valueCol)).as("_lo"),
      max(col(valueCol)).as("_hi"))
    val points = df.crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        when(col(valueCol).isNotNull,
          when(col("_hi") > col("_lo"),
            least(floor((col(valueCol) - col("_lo")) * bins
              / (col("_hi") - col("_lo"))), lit(bins - 1)))
            .otherwise(lit(0))).cast("long").as("_q"))
    val cells = points.groupBy(col("_g"), col("_q"))
      .agg(count(lit(1)).as("_c"))
    val groups = cells.groupBy(col("_g").as("_gm")).agg(sum("_c").as("_ng"))
    val values = cells.select(col("_q").as("_vq")).distinct()
    val n = cells.agg(sum("_c").as("_n"))
    val grid = values
      .crossJoin(broadcast(groups))
      .join(cells, col("_gm") <=> col("_g") && col("_vq") <=> col("_q"),
        "left")
      .select(col("_gm").as("_g"), col("_vq").as("_q"), col("_ng"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val perGroup = Window.partitionBy("_g").orderBy("_q")
    val atValue = Window.partitionBy("_q")
    grid
      .withColumn("_cum", sum("_c").over(perGroup))
      .withColumn("_call", sum("_cum").over(atValue))
      .withColumn("_w", sum("_c").over(atValue))
      .crossJoin(broadcast(n))
      .withColumn("_num",
        (col("_cum") * (col("_n") - col("_ng"))
          - (col("_call") - col("_cum")) * col("_ng")).cast(dec))
      // cell term: w·num²·N / (n_g·n_r·call·(N−call)); H=1 cells
      // (call = N) excluded — the integrand's open-interval domain
      .withColumn("_term",
        when(col("_call") > 0 && col("_call") < col("_n")
            && col("_ng") < col("_n"),
          round((col("_w").cast(dec) * col("_num") * col("_num"))
              .cast("double") * col("_n").cast("double")
            / (col("_ng").cast("double")
              * (col("_n") - col("_ng")).cast("double")
              * col("_call").cast("double")
              * (col("_n") - col("_call")).cast("double")), 12)
            .cast("decimal(38,12)")))
      .groupBy(col("_g").as(groupCol))
      .agg(max("_ng").as("n_group"),
        (max("_n") - max("_ng")).as("n_rest"),
        sum("_term").as("_ssq"))
      .withColumn("ad",
        when(col("n_rest") > 0,
          round(col("_ssq").cast("double"), 6)).cast("double"))
      .select(groupCol, "n_group", "n_rest", "ad")
  }

  /** Per-group Page–Hinkley drift detector over the x-ordered series:
    * m_t = Σ_{i≤t}(x_i − μ_i − δ) with μ_i the running mean, alarm
    * when m_t − min_{i≤t} m_i exceeds λ — the sequential mean-shift
    * monitor that [[Stats.cusumDetect]]'s fixed-reference form
    * approximates; PH self-centers, so it needs no in-control mean
    * fed in. Reported per group: the maximum excursion and the FIRST
    * x where it crossed λ (NULL = no alarm).
    *
    * Exactness: values quantize to 1e6-scaled longs; μ_t is the exact
    * rational S_t/t descaled and rounded 6 dp; each deviation term is
    * rounded 6 dp into a decimal(38,6) CUMULATIVE sum (so m_t, its
    * running min, and the excursion m_t − min are all exact decimals —
    * no float accumulation anywhere); the λ compare runs on exact
    * decimals. ph_max is one final rounded cast.
    *
    * Scale shape: windows are group-keyed over DAY-CELL-sized series
    * (the [[durbinWatson]] cost class — pre-aggregate a raw event
    * stream to cells first). Output: (group, n, ph_max, alarm_x).
    */
  def pageHinkley(df: DataFrame, groupCol: String, xCol: String,
      valueCol: String, delta: Double, lambda: Double): DataFrame = {
    require(lambda > 0.0, s"lambda=$lambda must be > 0")
    val pts = df.filter(col(xCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), col(xCol).cast("long").as("_x"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
    val w = Window.partitionBy("_g").orderBy("_x")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts
      .withColumn("_t", row_number().over(w))
      .withColumn("_s", sum(col("_v").cast("decimal(38,0)")).over(cum))
      .withColumn("_mu",
        round(col("_s").cast("double") / col("_t") / 1e6, 6))
      .withColumn("_dev",
        round(col("_v") / lit(1e6) - col("_mu") - lit(delta), 6)
          .cast("decimal(38,6)"))
      .withColumn("_m", sum("_dev").over(cum))
      .withColumn("_mmin", min("_m").over(cum))
      .withColumn("_ph", col("_m") - col("_mmin"))
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(max("_ph").cast("double"), 6).cast("double").as("ph_max"),
        min(when(col("_ph") > lambda, col("_x"))).as("alarm_x"))
  }

  /** Input rows for [[pageHinkleyStream]]. */
  case class PhEvent(key: String, x: Long, v: Double)
  /** Per-key monitor snapshot emitted after each micro-batch. */
  case class PhOut(key: String, n: Long, ph_max: Double,
    alarm_x: Option[Long])
  private[operators] case class PhState(t: Long,
    s: java.math.BigDecimal, m: java.math.BigDecimal,
    mMin: java.math.BigDecimal, phMax: java.math.BigDecimal,
    alarm: Option[Long])

  /** Streaming-legal [[pageHinkley]]: the self-centering drift
    * monitor as a live per-key state machine — state is SIX scalars
    * per key (count, exact value sum, exact cumulative deviation, its
    * running min, the max excursion, the first alarm x), O(1)
    * regardless of history, and each micro-batch's (x-sorted) values
    * fold through the IDENTICAL arithmetic: HALF_UP 1e6 quantization,
    * the 6-dp-rounded running mean, 6-dp-frozen deviations added as
    * exact decimals, excursion = m − min(m). Emits one snapshot per
    * key per micro-batch (the latest snapshot at any moment IS the
    * batch answer over everything seen — pinned bit-equal in
    * StatsSpec on the real events table). Same ordering contract as
    * [[graft.operators.Resample.ewmaStream]]: per-key x
    * non-decreasing across micro-batches; watermark upstream to
    * bound disorder.
    */
  def pageHinkleyStream(events: org.apache.spark.sql.Dataset[PhEvent],
      delta: Double, lambda: Double)
      : org.apache.spark.sql.Dataset[PhOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(lambda > 0.0, s"lambda=$lambda must be > 0")
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[PhState, PhOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, evs: Iterator[PhEvent], gs: GroupState[PhState]) =>
          val sorted = evs.toArray.sortBy(_.x)
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = gs.getOption.getOrElse(PhState(0L,
              java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO,
              null, java.math.BigDecimal.ZERO, None))
            sorted.foreach { e =>
              val vq = DriverPath.units(e.v * 1e6, 0)
              val t = st.t + 1
              val s = st.s.add(new java.math.BigDecimal(vq))
              val mu = DriverPath.round(s.doubleValue() / t / 1e6, 6)
              val dev = new java.math.BigDecimal(java.math.BigInteger.valueOf(
                DriverPath.units(
                  DriverPath.round(vq / 1e6 - mu - delta, 6), 6)), 6)
              val m = st.m.add(dev)
              val mMin =
                if (st.mMin == null || m.compareTo(st.mMin) < 0) m
                else st.mMin
              val ph = m.subtract(mMin)
              val phMax =
                if (ph.compareTo(st.phMax) > 0) ph else st.phMax
              val alarm = st.alarm.orElse(
                if (ph.doubleValue() > lambda) Some(e.x) else None)
              st = PhState(t, s, m, mMin, phMax, alarm)
            }
            gs.update(st)
            Iterator.single(PhOut(key, st.t,
              DriverPath.round(st.phMax.doubleValue(), 6), st.alarm))
          }
      }
  }

  /** Per-group first-order partial correlation of y and z controlling
    * for x: r_yz·x = (r_yz − r_yx·r_zx)/√((1−r_yx²)(1−r_zx²)) — the
    * "are these two metrics related, or do they both just trend with
    * time/volume" confound check that raw [[Stats.corrPearson]]
    * batteries can't answer.
    *
    * Exactness: all three columns quantize to 1e6-scaled longs; the
    * nine cross-moments accumulate in decimal(38,0) (exact,
    * partitioning-independent); each pairwise r is one identically-
    * spelled float tree frozen at 12 dp (the [[bartlett]] freeze-
    * before-combine discipline), and the partial r is one final tree
    * rounded 6 dp. NULL when n < 3, any variance is 0, or either
    * (1−r²) factor is ≤ 0 (perfect collinearity with the control).
    *
    * Scale shape: ONE group-keyed aggregate of ten decimal sums —
    * map-side partials, no windows. Output: (group, n, r_yz, r_yx,
    * r_zx, r_partial).
    */
  def partialCorr(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, zCol: String): DataFrame = {
    def q(c: String): Column = round(col(c) * 1e6).cast("long")
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull
        && col(zCol).isNotNull)
      .select(col(groupCol).as("_g"),
        q(xCol).as("_x"), q(yCol).as("_y"), q(zCol).as("_z"))
    def s(a: String): Column = sum(col(a).cast(dec))
    def s2(a: String, b: String): Column =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val mom = pts.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        s("_x").as("_sx"), s("_y").as("_sy"), s("_z").as("_sz"),
        s2("_x", "_x").as("_sxx"), s2("_y", "_y").as("_syy"),
        s2("_z", "_z").as("_szz"), s2("_x", "_y").as("_sxy"),
        s2("_x", "_z").as("_sxz"), s2("_y", "_z").as("_syz"))
    val nd = col("n").cast("double")
    def cov(sab: String, sa: String, sb: String): Column =
      nd * d(sab) - d(sa) * d(sb)
    def varOf(saa: String, sa: String): Column =
      nd * d(saa) - d(sa) * d(sa)
    def r(sab: String, sa: String, sb: String, saa: String,
        sbb: String): Column =
      when(col("n") >= 3 && varOf(saa, sa) > 0.0 && varOf(sbb, sb) > 0.0,
        round(cov(sab, sa, sb)
          / sqrt(varOf(saa, sa) * varOf(sbb, sb)), 12))
    mom
      .withColumn("_ryz", r("_syz", "_sy", "_sz", "_syy", "_szz"))
      .withColumn("_ryx", r("_sxy", "_sx", "_sy", "_sxx", "_syy"))
      .withColumn("_rzx", r("_sxz", "_sx", "_sz", "_sxx", "_szz"))
      .withColumn("_den",
        (lit(1.0) - col("_ryx") * col("_ryx"))
          * (lit(1.0) - col("_rzx") * col("_rzx")))
      .select(col(groupCol), col("n").cast("bigint").as("n"),
        round(col("_ryz"), 6).cast("double").as("r_yz"),
        round(col("_ryx"), 6).cast("double").as("r_yx"),
        round(col("_rzx"), 6).cast("double").as("r_zx"),
        when(col("_den") > 0.0,
          round((col("_ryz") - col("_ryx") * col("_rzx"))
            / sqrt(col("_den")), 6)).cast("double").as("r_partial"))
  }

  /** Tukey-style HSD pairwise panel after [[anovaF]]: for every
    * unordered group pair, the mean difference and the studentized
    * range statistic q = (m_a − m_b) / √(MSW/2 · (1/n_a + 1/n_b))
    * (Tukey–Kramer form for unequal n) — the "WHICH groups differ"
    * follow-up that the omnibus F deliberately doesn't answer. The
    * caller compares q against the studentized-range critical value
    * for (k, N−k) — a lookup, not a compute.
    *
    * Exactness: per-group moments are exact decimal(38,0) sums of
    * 1e6-scaled longs; MSW comes from the same 12-dp-frozen Σ s_g²/n_g
    * fold as [[anovaF]]; diff descales to value units rounded 6 dp; q
    * is one identically-spelled float tree rounded 6 dp. NULL q when
    * MSW = 0 or either side has no second row's worth of freedom
    * (N ≤ k).
    *
    * Scale shape: one group-keyed moment aggregate, then a k²-bounded
    * self-join of the k-row group table (pairs of LEVELS, never of
    * rows). Output: (group_a, group_b, n_a, n_b, diff, q) with
    * group_a < group_b.
    */
  def tukeyHsd(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val byG = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_x"))
      .groupBy("_g")
      .agg(count(lit(1)).as("_ng"),
        sum(col("_x").cast(dec)).as("_s1"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_q1"))
    val msw = byG
      .agg(sum("_ng").as("_n"), count(lit(1)).as("_k"),
        sum("_q1").as("_q"),
        sum(round(col("_s1").cast("double") * col("_s1").cast("double")
          / col("_ng"), 12).cast("decimal(38,12)")).as("_sb"))
      .select(col("_n"), col("_k"),
        when(col("_n") > col("_k"),
          (col("_q").cast("double") - col("_sb").cast("double"))
            / (col("_n") - col("_k")).cast("double")).as("_msw"))
    val a = byG.select(col("_g").as("group_a"), col("_ng").as("n_a"),
      col("_s1").as("_sa"))
    val b = byG.select(col("_g").as("group_b"), col("_ng").as("n_b"),
      col("_s1").as("_sb1"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .crossJoin(broadcast(msw))
      .withColumn("_d",
        col("_sa").cast("double") / col("n_a").cast("double")
          - col("_sb1").cast("double") / col("n_b").cast("double"))
      .select(col("group_a"), col("group_b"),
        col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        round(col("_d") / 1e6, 6).cast("double").as("diff"),
        when(col("_msw") > 0.0,
          round(col("_d") / sqrt(col("_msw") / 2.0
            * (lit(1.0) / col("n_a").cast("double")
              + lit(1.0) / col("n_b").cast("double"))), 6))
          .cast("double").as("q"))
  }

  /** Cochran's Q over a long (block, treatment, flag) frame: do the k
    * treatments have equal success rates across matched blocks, for
    * BINARY outcomes — the 0/1 member of the matched-blocks family
    * ([[friedman]] ranks continuous values; [[mcNemar]] is the k=2
    * special case). Q = (k−1)·[k·ΣC_j² − N²] / (k·N − ΣR_i²) with
    * C_j the treatment success totals, R_i the block success totals,
    * N = ΣC_j — read against χ²(k−1).
    *
    * Exactness: every quantity is an exact integer; numerator and
    * denominator accumulate in decimal(38,0) and Q is ONE rounded
    * division — no float order anywhere. The [[friedman]] contracts
    * verbatim: blocks missing any treatment are EXCLUDED
    * (complete-case, counted over DISTINCT treatments), duplicate
    * (block, treatment) cells raise loudly in-plan. Degenerate
    * denominator 0 (every block constant — all-0 or all-1 rows carry
    * no information) or k < 2 → NULL Q.
    *
    * Scale shape: one duplicate-guard join + two group-keyed integer
    * aggregates — no windows at all (ranks are not needed for 0/1).
    * Output: ONE row (n_blocks, k, dof, q).
    */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String,
      flagCol: Column): DataFrame = {
    val pts = df
      .select(col(blockCol).as("_b"), col(treatCol).as("_i"),
        when(flagCol, 1L).otherwise(0L).as("_x"))
    val dups = pts.groupBy(col("_b").as("_bd"), col("_i").as("_id"))
      .agg(count(lit(1)).as("_nc"))
    val guarded = pts
      .join(dups, col("_b") <=> col("_bd") && col("_i") <=> col("_id"))
      .withColumn("_x",
        when(col("_nc") > 1, raise_error(concat(
          lit("cochranQ: duplicate (block, treatment) observation ("),
          col("_b").cast("string"), lit(", "), col("_i").cast("string"),
          lit(")"))).cast("long")).otherwise(col("_x")))
      .select("_b", "_i", "_x")
    val k = guarded.select(col("_i")).distinct()
      .agg(count(lit(1)).as("_k"))
    val complete = guarded.groupBy(col("_b").as("_bc"))
      .agg(countDistinct(col("_i")).as("_ni"))
      .crossJoin(broadcast(k)).filter(col("_ni") === col("_k"))
      .select("_bc")
    val kept = guarded.join(complete, col("_b") <=> col("_bc"))
    val byT = kept.groupBy("_i")
      .agg(sum("_x").as("_cj"), count(lit(1)).as("_nb"))
    val byB = kept.groupBy("_b").agg(sum("_x").as("_ri"))
      .agg(sum((col("_ri").cast(dec) * col("_ri")).cast(dec)).as("_sr2"),
        sum(col("_ri").cast(dec)).as("_nt"))
    byT
      .agg(max("_nb").as("_n"), count(lit(1)).as("_kk"),
        sum((col("_cj").cast(dec) * col("_cj")).cast(dec)).as("_sc2"))
      .crossJoin(broadcast(byB))
      .select(col("_n").cast("bigint").as("n_blocks"),
        col("_kk").cast("bigint").as("k"),
        (col("_kk") - 1).cast("bigint").as("dof"),
        when(col("_kk") >= 2 && col("_n") >= 1
            && (col("_kk") * col("_nt") - col("_sr2")).cast("double") > 0.0,
          round((col("_kk") - 1).cast("double")
            * (col("_kk") * col("_sc2") - col("_nt") * col("_nt"))
              .cast("double")
            / (col("_kk") * col("_nt") - col("_sr2")).cast("double"), 6))
          .cast("double").as("q"))
  }

  /** Chi-squared goodness-of-fit of observed category counts against
    * DECLARED expected shares — the sample-ratio-mismatch (SRM) gate
    * every experiment readout runs before trusting its arms (a 50/50
    * split that lands 52/48 at scale is a broken assignment path, and
    * every downstream test on it is invalid), and the generic
    * "does this shard/bucket layout match its design" audit.
    * χ² = Σ(O_c − E_c)²/E_c with E_c = N·w_c, read against χ²(k−1).
    *
    * Exactness: observed counts are exact integers; each share w_c is
    * a caller-declared literal so E_c = N·w_c is the same double on
    * any engine; per-category terms are frozen at 12 dp into an
    * order-free decimal(38,12) sum and χ² is one rounded tree.
    * Categories NOT in the declared map raise loudly in-plan (a
    * misdeclared design must not silently skew every term); declared
    * categories with no rows contribute their full E_c. NULL when
    * N = 0 or any declared share ≤ 0.
    *
    * Scale shape: one hash aggregate to k counts + a k-bounded
    * broadcast join — the scan dominates. Output: ONE row
    * (n, k, dof, chi2).
    */
  def chiSquaredGof(df: DataFrame, catCol: String,
      expected: Seq[(String, Double)]): DataFrame = {
    require(expected.nonEmpty, "chiSquaredGof: empty expected map")
    val obs = df.groupBy(col(catCol).cast("string").as("_c"))
      .agg(count(lit(1)).as("_o"))
    val exp = df.sparkSession.range(1)
      .select(explode(array(expected.map { case (c, w) =>
        struct(lit(c).as("_ec"), lit(w).as("_w")) }: _*)).as("_s"))
      .select(col("_s._ec").as("_ec"), col("_s._w").as("_w"))
    // full outer (absent categories pay full E; undeclared raise) —
    // both sides are k-bounded aggregates, no broadcast hint needed
    val joined = obs.join(exp, col("_c") <=> col("_ec"), "full")
      .withColumn("_o",
        when(col("_ec").isNull, raise_error(concat(
          lit("chiSquaredGof: undeclared category "), col("_c")))
          .cast("long"))
          .otherwise(coalesce(col("_o"), lit(0L))))
    val n = joined.agg(sum("_o").as("_nt")).select(col("_nt"))
    joined.crossJoin(broadcast(n))
      .withColumn("_e", col("_nt").cast("double") * col("_w"))
      .withColumn("_t",
        when(col("_w") > 0.0,
          round((col("_o").cast("double") - col("_e"))
            * (col("_o").cast("double") - col("_e")) / col("_e"), 12)
            .cast("decimal(38,12)")))
      .agg(max("_nt").as("n"), count(lit(1)).as("_k"),
        min(col("_w")).as("_wmin"), sum("_t").as("_chi"))
      .select(col("n").cast("bigint").as("n"),
        col("_k").cast("bigint").as("k"),
        (col("_k") - 1).cast("bigint").as("dof"),
        when(col("n") > 0 && col("_wmin") > 0.0,
          round(col("_chi").cast("double"), 6))
          .cast("double").as("chi2"))
  }

  /** Fleiss' kappa over a long (subject, category) ratings frame with
    * a FIXED panel size r — chance-corrected agreement among MANY
    * raters per item (ensemble judges, multi-annotator labels), where
    * [[graft.operators.RankEval.cohensKappa]] handles exactly two
    * NAMED raters. κ = (P̄ − P̄_e)/(1 − P̄_e) with
    * P̄ = (ΣΣn_ij² − N·r)/(N·r·(r−1)) and P̄_e = ΣC_j²/(N·r)².
    *
    * Exactness: every moment (ΣΣn_ij², ΣC_j², N) is an exact integer
    * accumulated in decimal(38,0); κ, P̄, P̄_e are identically-spelled
    * float trees of those integers rounded at 6 dp — no per-row
    * floats anywhere. Subjects whose rating count ≠ r are EXCLUDED
    * (the complete-panel contract — Fleiss is undefined for ragged
    * panels, and a silent mix would bias P̄); category marginals are
    * computed on the kept subjects only. All-agree-everywhere → P̄_e
    * can reach 1 → NULL κ; no kept subjects → NULL everything.
    *
    * Scale shape: one (subject, category) cell aggregate + one
    * panel-size filter join — cells are the only shuffle touching
    * corpus-sized data; everything after is categories/subjects-sized.
    * Output: ONE row (n_subjects, r, k_categories, p_bar, p_e, kappa).
    */
  def fleissKappa(df: DataFrame, subjectCol: String, categoryCol: String,
      r: Int): DataFrame = {
    require(r >= 2, s"fleissKappa: r must be >= 2, got $r")
    val pts = df
      .filter(col(subjectCol).isNotNull && col(categoryCol).isNotNull)
      .select(col(subjectCol).as("_s"), col(categoryCol).as("_c"))
    val kept = pts.groupBy("_s").agg(count(lit(1)).as("_nr"))
      .filter(col("_nr") === r).select("_s")
    val cells = pts.join(kept, Seq("_s"))
      .groupBy("_s", "_c").agg(count(lit(1)).as("_n"))
    val s2 = cells.agg(
      sum((col("_n").cast(dec) * col("_n")).cast(dec)).as("_s2"),
      countDistinct(col("_s")).as("_nsub"))
    val byCat = cells.groupBy("_c").agg(sum("_n").as("_cj"))
      .agg(sum((col("_cj").cast(dec) * col("_cj")).cast(dec)).as("_sc2"),
        count(lit(1)).as("_ncat"))
    val nr = col("_nsub").cast("double") * r
    val pbar = (col("_s2").cast("double") - nr) /
      (nr * (r - 1).toDouble)
    val pe = col("_sc2").cast("double") / (nr * nr)
    s2.crossJoin(broadcast(byCat))
      .select(col("_nsub").cast("bigint").as("n_subjects"),
        lit(r.toLong).as("r"),
        col("_ncat").cast("bigint").as("k_categories"),
        when(col("_nsub") > 0, round(pbar, 6))
          .cast("double").as("p_bar"),
        when(col("_nsub") > 0, round(pe, 6)).cast("double").as("p_e"),
        when(col("_nsub") > 0 && pe < 1.0,
          round((pbar - pe) / (lit(1.0) - pe), 6))
          .cast("double").as("kappa"))
  }

  /** Cohen's h effect size per group vs the pooled complement:
    * h = 2·asin(√p_g) − 2·asin(√p_rest) — the proportions analog of
    * Cohen's d, and the missing number next to [[propZTest]]'s
    * p-value (at corpus n EVERYTHING is significant; h says whether
    * the gap is worth caring about: 0.2 small, 0.5 medium, 0.8
    * large). Rest-side counts recover exactly as global − group (the
    * cohensD plan).
    *
    * Exactness: counts are exact integers; each proportion is one
    * double division; the arcsine tree is identically spelled and
    * frozen at 6 dp (the ln-freeze discipline applied to asin — a
    * 1-ulp libm difference dies at the 6th decimal). Empty sides →
    * NULL h. Output: (group, n_g, n_rest, p_g, p_rest, h).
    */
  def cohensH(df: DataFrame, groupCol: String, success: Column)
      : DataFrame = {
    val byG = df.filter(success.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("_n"),
        sum(when(success, 1L).otherwise(0L)).as("_s"))
    val tot = byG.agg(sum("_n").as("_nt"), sum("_s").as("_st"))
    def d(c: Column) = c.cast("double")
    val pg = d(col("_s")) / d(col("_n"))
    val pr = d(col("_st") - col("_s")) / d(col("_nt") - col("_n"))
    byG.crossJoin(broadcast(tot))
      .select(col(groupCol), col("_n").cast("bigint").as("n_g"),
        (col("_nt") - col("_n")).cast("bigint").as("n_rest"),
        round(pg, 6).cast("double").as("p_g"),
        when(col("_nt") - col("_n") > 0, round(pr, 6))
          .cast("double").as("p_rest"),
        when(col("_n") > 0 && col("_nt") - col("_n") > 0,
          round(lit(2.0) * asin(sqrt(pg)) - lit(2.0) * asin(sqrt(pr)),
            6)).cast("double").as("h"))
  }

  /** Woolf confidence interval for the 2×2 odds ratio:
    * OR = ad/bc, CI = exp(ln OR ± z·√(1/a+1/b+1/c+1/d)) — the
    * interval [[mantelHaenszel]]'s point estimate and
    * [[fisherExactGreater]]'s p-value both leave unstated ("how big
    * COULD the effect be" is the question a decision needs).
    *
    * Exactness: cells are exact integers; ln OR freezes at 12 dp,
    * the SE's four reciprocals form one identically-spelled tree
    * under the √, and each bound is ONE frozen exp tree rounded at
    * 6 dp. ANY zero cell → NULL everything except the cells (the
    * Woolf interval is undefined; small-sample callers want
    * [[fisherExactGreater]], not a smoothed fudge). `z` defaults to
    * the 95 % two-sided 1.959964.
    *
    * Output: ONE row (a, b, c, d, odds_ratio, ci_lo, ci_hi).
    */
  def oddsRatioCI(df: DataFrame, exposed: Column, outcome: Column,
      z: Double = 1.959964): DataFrame = {
    require(z > 0.0, s"oddsRatioCI: z must be > 0, got $z")
    val cells = df
      .filter(exposed.isNotNull && outcome.isNotNull)
      .select(when(exposed, 1L).otherwise(0L).as("_e"),
        when(outcome, 1L).otherwise(0L).as("_o"))
      .agg(coalesce(sum(col("_e") * col("_o")), lit(0L)).as("a"),
        coalesce(sum(col("_e") * (lit(1L) - col("_o"))), lit(0L)).as("b"),
        coalesce(sum((lit(1L) - col("_e")) * col("_o")), lit(0L)).as("c"),
        coalesce(sum((lit(1L) - col("_e")) * (lit(1L) - col("_o"))),
          lit(0L)).as("d"))
    def dd(c: String) = col(c).cast("double")
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    val lnOr = round(log(dd("a") * dd("d") / (dd("b") * dd("c"))), 12)
    val se = sqrt(lit(1.0) / dd("a") + lit(1.0) / dd("b")
      + lit(1.0) / dd("c") + lit(1.0) / dd("d"))
    cells.select(
      col("a").cast("bigint").as("a"), col("b").cast("bigint").as("b"),
      col("c").cast("bigint").as("c"), col("d").cast("bigint").as("d"),
      when(ok, round(dd("a") * dd("d") / (dd("b") * dd("c")), 6))
        .cast("double").as("odds_ratio"),
      when(ok, round(exp(lnOr - lit(z) * se), 6))
        .cast("double").as("ci_lo"),
      when(ok, round(exp(lnOr + lit(z) * se), 6))
        .cast("double").as("ci_hi"))
  }

  /** Bland–Altman agreement between two paired measurements: bias =
    * mean(x−y) and the 95 % limits of agreement bias ± z·sd(x−y) —
    * THE method-comparison readout (correlation is the wrong tool: two
    * methods can correlate at .99 and still disagree by a constant
    * offset a correlation never shows).
    *
    * Exactness: differences quantize to exact 1e6-scaled longs;
    * n/Σd/Σd² are exact decimal(38,0) off ONE aggregate; bias, the
    * sample sd, and each limit are identically-spelled rounded trees
    * (sd frozen at 6 dp BEFORE the limits so the ± arms share one
    * value). n < 2 → NULL sd/limits. Output: ONE row
    * (n, bias, sd, loa_lo, loa_hi).
    */
  def blandAltman(df: DataFrame, xCol: String, yCol: String,
      z: Double = 1.96): DataFrame = {
    require(z > 0.0, s"blandAltman: z must be > 0, got $z")
    val dq = (round(col(xCol) * 1e6).cast("long")
      - round(col(yCol) * 1e6).cast("long"))
    val m = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(dq.as("_d"))
      .agg(count(lit(1)).as("n"), sum(col("_d").cast(dec)).as("_s"),
        sum((col("_d").cast(dec) * col("_d")).cast(dec)).as("_q"))
    val bias = round(d("_s") / d("n") / 1e6, 6)
    val sd = round(sqrt((d("n") * d("_q") - d("_s") * d("_s"))
      / (d("n") * (d("n") - 1.0))) / 1e6, 6)
    m.select(col("n").cast("bigint").as("n"),
      when(col("n") > 0, bias).cast("double").as("bias"),
      when(col("n") >= 2, sd).cast("double").as("sd"),
      when(col("n") >= 2, round(bias - lit(z) * sd, 6))
        .cast("double").as("loa_lo"),
      when(col("n") >= 2, round(bias + lit(z) * sd, 6))
        .cast("double").as("loa_hi"))
  }

  /** Krippendorff's alpha (nominal) over a long (unit, category)
    * ratings frame: the agreement coefficient that tolerates RAGGED
    * panels and missing ratings — where [[fleissKappa]] demands a
    * fixed r per unit, here any unit with ≥ 2 ratings contributes
    * (single-rating units carry no pairable information and drop).
    * α = 1 − D_o/D_e with D_o = Σ_{c≠k} o_ck / n and
    * D_e = Σ_{c≠k} n_c·n_k / (n·(n−1)), o_ck the coincidence matrix
    * o_ck = Σ_u n_uc·(n_uk − δ_ck)/(r_u − 1), n = Σ r_u over kept
    * units.
    *
    * Exactness: the only non-integer is the per-unit 1/(r_u−1)
    * weight: every disagreeing-pair term n_uc·n_uk/(r_u−1) is frozen
    * at 12 dp into an order-free decimal(38,12) sum; marginals n_c
    * and n are exact integers (row sums of o collapse the /(r_u−1)
    * back out: Σ_k n_uc(n_uk−δ)/(r_u−1) = n_uc exactly, so n_c is
    * just the category's rating count); α is ONE rounded tree.
    * D_e = 0 (one category in play) → NULL α.
    *
    * Scale shape: one (unit, category) cell aggregate, one unit-pair
    * fold over the per-unit k-bounded cells (a self-join WITHIN
    * units, k²-bounded per unit), category-sized marginals. Output:
    * ONE row (n_units, n_ratings, k_categories, d_o, d_e, alpha).
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
      categoryCol: String): DataFrame = {
    val cells = df
      .filter(col(unitCol).isNotNull && col(categoryCol).isNotNull)
      .select(col(unitCol).as("_u"), col(categoryCol).as("_c"))
      .groupBy("_u", "_c").agg(count(lit(1)).as("_n"))
    val units = cells.groupBy(col("_u").as("_ur"))
      .agg(sum("_n").as("_r"))
      .filter(col("_r") >= 2)
    val kept = cells.join(units, col("_u") <=> col("_ur")).drop("_ur")
    // observed disagreement mass: within-unit cross-category pairs,
    // weighted 1/(r_u - 1); the diagonal never enters (c < k on the
    // self-join would halve — c =!= k keeps the full symmetric sum)
    val disagree = kept.as("a")
      .join(kept.select(col("_u").as("_u2"), col("_c").as("_c2"),
        col("_n").as("_n2")),
        col("_u") <=> col("_u2") && col("_c") =!= col("_c2"))
      .select(round((col("_n").cast("double") * col("_n2").cast("double"))
        / (col("_r").cast("double") - 1.0), 12).cast(dec12).as("_t"))
      .agg(coalesce(sum("_t"), lit(0).cast(dec12)).as("_do_num"))
    val marg = kept.groupBy("_c").agg(sum("_n").as("_nc"))
      .agg(sum(col("_nc").cast("decimal(38,0)")).as("_nn"),
        sum((col("_nc").cast("decimal(38,0)") * col("_nc"))
          .cast("decimal(38,0)")).as("_sq"),
        count(lit(1)).as("_k"))
    val nUnits = units.agg(count(lit(1)).as("_nu"))
    // sum_{c != k} n_c n_k = n^2 - sum n_c^2
    val dOb = d("_do_num") / d("_nn")
    val dEx = (d("_nn") * d("_nn") - d("_sq")) /
      (d("_nn") * (d("_nn") - 1.0))
    disagree.crossJoin(broadcast(marg)).crossJoin(broadcast(nUnits))
      .select(col("_nu").cast("bigint").as("n_units"),
        col("_nn").cast("bigint").as("n_ratings"),
        col("_k").cast("bigint").as("k_categories"),
        when(col("_nn") > 1, round(dOb, 6)).cast("double").as("d_o"),
        when(col("_nn") > 1, round(dEx, 6)).cast("double").as("d_e"),
        when(col("_nn") > 1 && dEx > 0.0,
          round(lit(1.0) - dOb / dEx, 6)).cast("double").as("alpha"))
  }

  /** One-sided Fisher's exact test on the 2×2 (exposed × outcome)
    * table: p = P(A ≥ a_obs | fixed margins), the hypergeometric tail
    * — THE small-sample gate where [[chiSquared]]'s asymptotics lie
    * (expected cells < 5). The one-sided "greater" form is the
    * deterministic one: the two-sided "sum of probabilities ≤ p_obs"
    * convention hides a knife-edge float comparison per table, so it
    * is deliberately NOT offered.
    *
    * Exactness: cells are exact integers; ln-factorials are an
    * order-FIXED cumulative decimal(38,12) sum of 12-dp-frozen ln(i)
    * terms (identical on any engine), every term's exponent is exact
    * decimal arithmetic on six of those values, each exp(·) is frozen
    * at 12 dp into an order-free decimal sum, and p is ONE rounded
    * cast. An exact test is a SMALL-SAMPLE tool by definition: the
    * plan raises loudly past `maxN` rows (the ln-factorial ladder and
    * the tail enumeration are both O(N) single-partition work — at
    * scale the caller wants [[chiSquared]]/[[gTest]], which are exact
    * enough exactly when Fisher stops being necessary).
    *
    * Output: ONE row (a, b, c, d, n, p_greater).
    */
  def fisherExactGreater(df: DataFrame, exposed: Column, outcome: Column,
      maxN: Long = 1000000L): DataFrame = {
    val cells = df
      .filter(exposed.isNotNull && outcome.isNotNull)
      .select(when(exposed, 1L).otherwise(0L).as("_e"),
        when(outcome, 1L).otherwise(0L).as("_o"))
      .agg(coalesce(sum(col("_e") * col("_o")), lit(0L)).as("a"),
        coalesce(sum(col("_e") * (lit(1L) - col("_o"))), lit(0L)).as("b"),
        coalesce(sum((lit(1L) - col("_e")) * col("_o")), lit(0L)).as("c"),
        coalesce(sum((lit(1L) - col("_e")) * (lit(1L) - col("_o"))),
          lit(0L)).as("d"))
      .withColumn("_n",
        col("a") + col("b") + col("c") + col("d"))
      .withColumn("_n",
        when(col("_n") > maxN, raise_error(concat(
          lit(s"fisherExactGreater: n exceeds maxN=$maxN ("),
          col("_n").cast("string"),
          lit(") - use chiSquared/gTest at this scale"))).cast("bigint"))
          .otherwise(col("_n")))
      .localCheckpoint() // the ladder and the tail both re-read it
    val lf = cells
      .select(explode(sequence(lit(0L), col("_n"))).as("_i"))
      .withColumn("_lt",
        when(col("_i") >= 2L, round(log(col("_i").cast("double")), 12))
          .otherwise(lit(0.0)).cast(dec12))
      // guarded-small by contract: the single-partition cumulative IS
      // the documented maxN cost, not an accident
      .withColumn("_lf", sum("_lt").over(
        Window.orderBy("_i")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("_i"), col("_lf"))
    def lfAt(out: String): DataFrame =
      lf.select(col("_i").as(s"${out}_i"), col("_lf").as(out))
    val base = cells
      .select(col("a"), col("b"), col("c"), col("d"), col("_n"),
        (col("a") + col("b")).as("_r1"), (col("c") + col("d")).as("_r2"),
        (col("a") + col("c")).as("_c1"))
    // constant lookups: lf(r1) + lf(r2) − [lf(N) − lf(c1) − lf(N−c1)]
    val const = base
      .join(lfAt("_l1"), col("_r1") === col("_l1_i"))
      .join(lfAt("_l2"), col("_r2") === col("_l2_i"))
      .join(lfAt("_ln"), col("_n") === col("_ln_i"))
      .join(lfAt("_lc"), col("_c1") === col("_lc_i"))
      .join(lfAt("_lnc"), col("_n") - col("_c1") === col("_lnc_i"))
      .select(col("a"), col("b"), col("c"), col("d"), col("_n"),
        col("_r1"), col("_r2"), col("_c1"),
        (col("_l1") + col("_l2") - col("_ln") + col("_lc") + col("_lnc"))
          .as("_k0"))
    val terms = const
      .select(col("a"), col("b"), col("c"), col("d"), col("_n"),
        col("_r1"), col("_r2"), col("_c1"), col("_k0"),
        explode(sequence(col("a"), least(col("_r1"), col("_c1"))))
          .as("_ap"))
      .join(broadcast(lfAt("_la")), col("_ap") === col("_la_i"))
      .join(broadcast(lfAt("_lb")),
        col("_r1") - col("_ap") === col("_lb_i"))
      .join(broadcast(lfAt("_lc2")),
        col("_c1") - col("_ap") === col("_lc2_i"))
      .join(broadcast(lfAt("_ld")),
        col("_r2") - col("_c1") + col("_ap") === col("_ld_i"))
      .select(col("a"), col("b"), col("c"), col("d"), col("_n"),
        round(exp((col("_k0") - col("_la") - col("_lb") - col("_lc2")
          - col("_ld")).cast("double")), 12).cast(dec12).as("_p"))
    terms.groupBy("a", "b", "c", "d")
      .agg(max("_n").as("n"), sum("_p").as("_ps"))
      .select(col("a").cast("bigint").as("a"),
        col("b").cast("bigint").as("b"),
        col("c").cast("bigint").as("c"),
        col("d").cast("bigint").as("d"),
        col("n").cast("bigint").as("n"),
        round(col("_ps").cast("double"), 6)
          .cast("double").as("p_greater"))
  }

  /** Balanced two-way ANOVA with interaction on the (A × B) factorial
    * design: does factor A matter, does B, and — the question one-way
    * ANOVA cannot ask — do they INTERACT (does A's effect depend on
    * B's level). Classical equal-cell-n decomposition: SS_A =
    * ΣS_a²/(k_b·n) − S²/N, SS_B mirror, SS_AB = SS_cells − SS_A −
    * SS_B, SS_within = Σy² − SS_cells-part; F's against their dof.
    *
    * BALANCED by contract: unequal cell sizes make the factorial
    * decomposition order-dependent (the Type I/II/III quagmire), so a
    * ragged or incomplete grid raises loudly in-plan — the caller
    * cuts equal cells first (a deterministic row_number cut, the
    * [[fleissKappa]] fixture pattern).
    *
    * Exactness: values quantize to 1e6-scaled longs; every moment
    * (cell sums, squares, level sums, Σy²) is an exact decimal(38,0)
    * integer; each SS and F is ONE identically-spelled float tree
    * rounded at 6 dp (SS descale by 1e12; F is scale-free). n = 1
    * per cell (saturated interaction) or SS_within ≤ 0 → NULL F's.
    *
    * Scale shape: one cell aggregate over the scan + level/grand
    * folds of the cells-sized table. Output: ONE row (k_a, k_b,
    * n_cell, ss_a, ss_b, ss_ab, ss_within, f_a, f_b, f_ab).
    */
  def anovaTwoWay(df: DataFrame, aCol: String, bCol: String,
      valueCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull
        && col(valueCol).isNotNull)
      .select(col(aCol).as("_a"), col(bCol).as("_b"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
      .groupBy("_a", "_b")
      .agg(count(lit(1)).as("_nc"), sum(col("_v").cast(dec)).as("_s"),
        sum((col("_v").cast(dec) * col("_v")).cast(dec)).as("_q"))
      // balance guard rides the lazy plan: any evaluated cell of a
      // ragged design raises before a single SS is formed
      .withColumn("_guard",
        max(col("_nc")).over(Window.partitionBy())
          =!= min(col("_nc")).over(Window.partitionBy()))
      .withColumn("_nc",
        when(col("_guard"), raise_error(lit(
          "anovaTwoWay: unequal cell sizes - cut a balanced design " +
            "first (the factorial decomposition is order-dependent " +
            "on ragged grids)")).cast("long"))
          .otherwise(col("_nc")))
      .drop("_guard")
    val aLev = cells.groupBy("_a").agg(sum("_s").as("_sa"))
      .agg(sum((col("_sa") * col("_sa")).cast(dec)).as("_SA"),
        count(lit(1)).as("_ka"))
    val bLev = cells.groupBy("_b").agg(sum("_s").as("_sb"))
      .agg(sum((col("_sb") * col("_sb")).cast(dec)).as("_SB"),
        count(lit(1)).as("_kb"))
    val grand = cells.agg(
      sum((col("_s") * col("_s")).cast(dec)).as("_SC"),
      sum(col("_s")).as("_S"), sum(col("_q")).as("_Q"),
      max("_nc").as("_n"), count(lit(1)).as("_ncells"))
    val joinedAll = grand.crossJoin(broadcast(aLev))
      .crossJoin(broadcast(bLev))
      // completeness guard: a missing (a, b) cell is a ragged design
      // the equal-n check cannot see
      .withColumn("_SC",
        when(col("_ncells") =!= col("_ka") * col("_kb"),
          raise_error(lit("anovaTwoWay: incomplete factorial grid - " +
            "every (a, b) cell must be present")).cast(dec))
          .otherwise(col("_SC")))
    val nTot = d("_ka") * d("_kb") * d("_n")
    val corr = d("_S") * d("_S") / nTot
    val ssA = d("_SA") / (d("_kb") * d("_n")) - corr
    val ssB = d("_SB") / (d("_ka") * d("_n")) - corr
    val ssCells = d("_SC") / d("_n") - corr
    val ssAB = ssCells - ssA - ssB
    val ssW = d("_Q") - d("_SC") / d("_n")
    val dofW = nTot - d("_ka") * d("_kb")
    val fOk = col("_n") >= 2 && ssW > 0.0
    joinedAll.select(
      col("_ka").cast("bigint").as("k_a"),
      col("_kb").cast("bigint").as("k_b"),
      col("_n").cast("bigint").as("n_cell"),
      round(ssA / 1e12, 6).cast("double").as("ss_a"),
      round(ssB / 1e12, 6).cast("double").as("ss_b"),
      round(ssAB / 1e12, 6).cast("double").as("ss_ab"),
      round(ssW / 1e12, 6).cast("double").as("ss_within"),
      when(fOk && col("_ka") >= 2,
        round((ssA / (d("_ka") - 1.0)) / (ssW / dofW), 6))
        .cast("double").as("f_a"),
      when(fOk && col("_kb") >= 2,
        round((ssB / (d("_kb") - 1.0)) / (ssW / dofW), 6))
        .cast("double").as("f_b"),
      when(fOk && col("_ka") >= 2 && col("_kb") >= 2,
        round((ssAB / ((d("_ka") - 1.0) * (d("_kb") - 1.0)))
          / (ssW / dofW), 6))
        .cast("double").as("f_ab"))
  }

  /** Mann–Kendall trend test per group on the daily-cell series: is
    * there a MONOTONIC trend at all, with no straight-line assumption
    * — the nonparametric gate read before (or instead of) [[theilSen]]
    * 's slope, and the hypothesis-test companion the regression family
    * lacks (regr_slope gives a magnitude, never a yes/no). S =
    * Σ_{i<j} sign(x_j − x_i) over day order; Var(S) = [n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5)]/18 with the tie correction; z = (S∓1)/√Var
    * (continuity-corrected, the sign branch keyed on the EXACT
    * integer S — no float knife-edge).
    *
    * Exactness: day cells are exact 1e6-scaled integer sums; S and
    * both variance terms are exact integers in decimal(38,0); Var and
    * z are one identically-spelled rounded tree each. Var ≤ 0 (n < 2
    * or everything tied) → NULL z. The pairwise stage is guarded
    * lazily in-plan at `maxPoints` cells per group (the [[theilSen]]
    * contract: pre-aggregate to coarser cells past that).
    *
    * Scale shape: one cell aggregate, one group-keyed self-join
    * bounded by the guard, one tie aggregate — the [[theilSen]] cost
    * class. Output: (group, n_days, s, var_s, z).
    */
  def mannKendall(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String, maxPoints: Int = 2000): DataFrame = {
    val day = fdiv(unix_timestamp(col(tsCol)), lit(86400L)).cast("long")
    val cellsRaw = df
      .select(col(groupCol).as("_g"), day.as("_day"),
        round(col(valueCol) * 1e6).cast("long").as("_q"))
      .groupBy("_g", "_day").agg(sum("_q").as("_x"))
    val cells = guardGroupSize(cellsRaw, "_x",
      s"mannKendall: group exceeds $maxPoints day cells — aggregate " +
        "to coarser cells before the pairwise stage", maxPoints)
    val a = cells.select(col("_g"), col("_day").as("_d1"),
      col("_x").as("_x1"))
    val b = cells.select(col("_g").as("_g2"), col("_day").as("_d2"),
      col("_x").as("_x2"))
    val sTab = a
      .join(b, col("_g") <=> col("_g2") && col("_d1") < col("_d2"))
      .groupBy(col("_g").as("_gs"))
      .agg(sum(when(col("_x2") > col("_x1"), 1L)
        .when(col("_x2") < col("_x1"), -1L).otherwise(0L))
        .cast(dec).as("_S"))
    val ties = cells.groupBy(col("_g"), col("_x"))
      .agg(count(lit(1)).as("_t"))
      .groupBy(col("_g").as("_gt"))
      .agg(sum((col("_t").cast(dec) * (col("_t") - 1)
        * (col("_t") * 2 + 5)).cast(dec)).as("_T"))
    val nTab = cells.groupBy("_g").agg(count(lit(1)).as("_n"))
    val varNum = (col("_n").cast(dec) * (col("_n") - 1)
      * (col("_n") * 2 + 5)).cast(dec) - col("_T")
    val varS = varNum.cast("double") / 18.0
    val sD = col("_S").cast("double")
    nTab
      .join(sTab, col("_g") <=> col("_gs"), "left")
      .join(ties, col("_g") <=> col("_gt"), "left")
      .select(col("_g").as(groupCol),
        col("_n").cast("bigint").as("n_days"),
        coalesce(col("_S"), lit(0).cast(dec)).cast("bigint").as("s"),
        round(varS, 6).cast("double").as("var_s"),
        when(varS > 0.0,
          when(col("_S") > 0, round((sD - 1.0) / sqrt(varS), 6))
            .when(col("_S") < 0, round((sD + 1.0) / sqrt(varS), 6))
            .otherwise(lit(0.0)))
          .cast("double").as("z"))
  }

  /** CUPED variance reduction (Deng et al. 2013, WSDM): adjust each
    * unit's experiment-period metric Y by its pre-period covariate X,
    * Y_adj = Y − θ(X − X̄) with the POOLED θ = cov(X,Y)/var(X) — the
    * standard pre-experiment-data trick that shrinks metric variance
    * (often 30–50 % on revenue-like metrics) without touching the
    * treatment effect, because θ is fit ignoring arms. Reports, per
    * arm: n, the raw and adjusted means, and the variance-reduction
    * ratio 1 − var(Y_adj)/var(Y).
    *
    * Exactness: X and Y quantize to 1e6-scaled longs; ALL moments
    * (global n/Sx/Sy/Sxx/Sxy, per-arm n/Sx/Sy/Sxx/Syy/Sxy) are exact
    * decimal(38,0) integers off TWO hash aggregates; θ is ONE double
    * division of exact integers frozen at 12 dp; every output is one
    * identically-spelled float tree on exact moments and that frozen
    * θ, rounded at 6 dp (θ cancels the 1e6 scale, variances cancel it
    * in the ratio). var(X) = 0 → NULL θ and adjusted columns; arms
    * with n < 2 → NULL variance reduction.
    *
    * Scale shape: one global + one arm-keyed aggregate over the unit
    * table (the caller aggregates raw events to units first); output
    * is arms-sized. Output: (arm, n, theta, mean_post, mean_adj,
    * var_reduction).
    */
  def cuped(df: DataFrame, armCol: String, preCol: String,
      postCol: String): DataFrame = {
    val pts = df
      .filter(col(preCol).isNotNull && col(postCol).isNotNull)
      .select(col(armCol).as("_arm"),
        round(col(preCol) * 1e6).cast("long").as("_x"),
        round(col(postCol) * 1e6).cast("long").as("_y"))
    val g = pts.agg(count(lit(1)).as("_n"),
      sum(col("_x").cast(dec)).as("_sx"),
      sum(col("_y").cast(dec)).as("_sy"),
      sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_sxx"),
      sum((col("_x").cast(dec) * col("_y")).cast(dec)).as("_sxy"))
    val byArm = pts.groupBy("_arm")
      .agg(count(lit(1)).as("_na"),
        sum(col("_x").cast(dec)).as("_sxa"),
        sum(col("_y").cast(dec)).as("_sya"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_sxxa"),
        sum((col("_y").cast(dec) * col("_y")).cast(dec)).as("_syya"),
        sum((col("_x").cast(dec) * col("_y")).cast(dec)).as("_sxya"))
    val thetaDen = d("_n") * d("_sxx") - d("_sx") * d("_sx")
    val theta = round((d("_n") * d("_sxy") - d("_sx") * d("_sy"))
      / thetaDen, 12)
    val na = d("_na")
    // per-arm sample moments in scaled² units (scale cancels in the
    // variance ratio; the means descale by 1e6 once at the end)
    val vy = (na * d("_syya") - d("_sya") * d("_sya")) / (na * (na - 1.0))
    val vx = (na * d("_sxxa") - d("_sxa") * d("_sxa")) / (na * (na - 1.0))
    val cxy = (na * d("_sxya") - d("_sxa") * d("_sya")) / (na * (na - 1.0))
    val vAdj = vy + theta * theta * vx - lit(2.0) * theta * cxy
    byArm.crossJoin(broadcast(g))
      .select(col("_arm").as(armCol), col("_na").cast("bigint").as("n"),
        when(thetaDen > 0.0, round(theta, 6)).cast("double").as("theta"),
        round(d("_sya") / na / 1e6, 6).cast("double").as("mean_post"),
        when(thetaDen > 0.0,
          round((d("_sya") / na - theta * (d("_sxa") / na
            - d("_sx") / d("_n"))) / 1e6, 6))
          .cast("double").as("mean_adj"),
        when(thetaDen > 0.0 && col("_na") >= 2 && vy > 0.0,
          round(lit(1.0) - vAdj / vy, 6))
          .cast("double").as("var_reduction"))
  }

  /** Difference-in-differences on the 2×2 (treated × post) design:
    * DiD = (m̄_treat,post − m̄_treat,pre) − (m̄_ctrl,post − m̄_ctrl,pre)
    * — the parallel-trends causal readout when assignment wasn't
    * randomized (feature rollouts by region/cohort), plus its
    * normal-approximation standard error √(Σ s²_i/n_i) over the four
    * cells. The experimentation sibling of [[cuped]] (which assumes
    * randomized arms).
    *
    * Exactness: values quantize to 1e6-scaled longs; per-cell
    * n/S/S² are exact decimal(38,0) off ONE hash aggregate; the four
    * means, DiD, each cell variance, and the SE are identically-
    * spelled float trees rounded at 6 dp (means and DiD descale by
    * 1e6 once; the SE descales by 1e6 under the √ as /1e12). Any
    * empty cell → NULL did/se; cells with n < 2 → NULL se only.
    *
    * Scale shape: one hash aggregate to four rows + a four-row fold.
    * Output: ONE row (n, m_c0, m_c1, m_t0, m_t1, did, se).
    */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
      valueCol: String): DataFrame = {
    val cells = df
      .filter(treated.isNotNull && post.isNotNull
        && col(valueCol).isNotNull)
      .select(when(treated, 1).otherwise(0).as("_t"),
        when(post, 1).otherwise(0).as("_p"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
      .groupBy("_t", "_p")
      .agg(count(lit(1)).as("_n"), sum(col("_v").cast(dec)).as("_s"),
        sum((col("_v").cast(dec) * col("_v")).cast(dec)).as("_q"))
    def pick(t: Int, p: Int, c: String) =
      max(when(col("_t") === t && col("_p") === p, col(c)))
    val folded = cells.agg(
      sum("_n").as("n"),
      pick(0, 0, "_n").as("_nc0"), pick(0, 1, "_n").as("_nc1"),
      pick(1, 0, "_n").as("_nt0"), pick(1, 1, "_n").as("_nt1"),
      pick(0, 0, "_s").as("_sc0"), pick(0, 1, "_s").as("_sc1"),
      pick(1, 0, "_s").as("_st0"), pick(1, 1, "_s").as("_st1"),
      pick(0, 0, "_q").as("_qc0"), pick(0, 1, "_q").as("_qc1"),
      pick(1, 0, "_q").as("_qt0"), pick(1, 1, "_q").as("_qt1"))
    def m(s: String, n: String) = d(s) / d(n)
    def v(q: String, s: String, n: String) =
      (d(n) * d(q) - d(s) * d(s)) / (d(n) * (d(n) - 1.0))
    val haveAll = col("_nc0").isNotNull && col("_nc1").isNotNull &&
      col("_nt0").isNotNull && col("_nt1").isNotNull
    val allBig = col("_nc0") >= 2 && col("_nc1") >= 2 &&
      col("_nt0") >= 2 && col("_nt1") >= 2
    folded.select(
      col("n").cast("bigint").as("n"),
      when(col("_nc0").isNotNull, round(m("_sc0", "_nc0") / 1e6, 6))
        .cast("double").as("m_c0"),
      when(col("_nc1").isNotNull, round(m("_sc1", "_nc1") / 1e6, 6))
        .cast("double").as("m_c1"),
      when(col("_nt0").isNotNull, round(m("_st0", "_nt0") / 1e6, 6))
        .cast("double").as("m_t0"),
      when(col("_nt1").isNotNull, round(m("_st1", "_nt1") / 1e6, 6))
        .cast("double").as("m_t1"),
      when(haveAll,
        round(((m("_st1", "_nt1") - m("_st0", "_nt0"))
          - (m("_sc1", "_nc1") - m("_sc0", "_nc0"))) / 1e6, 6))
        .cast("double").as("did"),
      when(haveAll && allBig,
        round(sqrt((v("_qt1", "_st1", "_nt1") / d("_nt1")
          + v("_qt0", "_st0", "_nt0") / d("_nt0")
          + v("_qc1", "_sc1", "_nc1") / d("_nc1")
          + v("_qc0", "_sc0", "_nc0") / d("_nc0")) / 1e12), 6))
        .cast("double").as("se"))
  }

  /** Triple difference (DDD) — [[diffInDiff]] with an ELIGIBILITY
    * stratum: when even the "control" group drifts with the rollout
    * (seasonality, macro shocks), the ineligible stratum's OWN DiD
    * measures that drift, and DDD = DiD_eligible − DiD_ineligible
    * nets it out. The parallel-trends assumption weakens to "the
    * BIAS is parallel across strata" — strictly weaker than DiD's.
    *
    * Determinism: the diffInDiff contract on the 2×2×2 design —
    * 1e6-quantized values, per-cell n/S/S² exact decimal(38,0) off
    * ONE hash aggregate + an eight-row fold; both stratum DiDs and
    * DDD spelled once each, descaled at the end;
    * se = √(Σ₈ s²_i/n_i). Any empty cell → NULL ddd; any cell with
    * n < 2 → NULL se. Output: (n, did_s1, did_s0, ddd, se).
    */
  def tripleDiff(df: DataFrame, treated: Column, post: Column,
      stratum: Column, valueCol: String): DataFrame = {
    val cells = df
      .filter(treated.isNotNull && post.isNotNull && stratum.isNotNull
        && col(valueCol).isNotNull)
      .select(when(treated, 1).otherwise(0).as("_t"),
        when(post, 1).otherwise(0).as("_p"),
        when(stratum, 1).otherwise(0).as("_s"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
      .groupBy("_t", "_p", "_s")
      .agg(count(lit(1)).as("_n"), sum(col("_v").cast(dec)).as("_ss"),
        sum((col("_v").cast(dec) * col("_v")).cast(dec)).as("_q"))
    def pick(t: Int, p: Int, s: Int, c: String) =
      max(when(col("_t") === t && col("_p") === p && col("_s") === s,
        col(c)))
    val keys = for (t <- 0 to 1; p <- 0 to 1; s <- 0 to 1)
      yield (t, p, s)
    val aggs = Seq(sum("_n").as("n")) ++ keys.flatMap { case (t, p, s) =>
      Seq(pick(t, p, s, "_n").as(s"_n$t$p$s"),
        pick(t, p, s, "_ss").as(s"_s$t$p$s"),
        pick(t, p, s, "_q").as(s"_q$t$p$s"))
    }
    val folded = cells.agg(aggs.head, aggs.tail: _*)
    def m(t: Int, p: Int, s: Int) = d(s"_s$t$p$s") / d(s"_n$t$p$s")
    def v(t: Int, p: Int, s: Int) =
      (d(s"_n$t$p$s") * d(s"_q$t$p$s") -
        d(s"_s$t$p$s") * d(s"_s$t$p$s")) /
        (d(s"_n$t$p$s") * (d(s"_n$t$p$s") - 1.0))
    val haveAll = keys.map { case (t, p, s) =>
      col(s"_n$t$p$s").isNotNull }.reduce(_ && _)
    val allBig = keys.map { case (t, p, s) =>
      col(s"_n$t$p$s") >= 2 }.reduce(_ && _)
    def did(s: Int) =
      (m(1, 1, s) - m(1, 0, s)) - (m(0, 1, s) - m(0, 0, s))
    val seSum = keys.map { case (t, p, s) =>
      v(t, p, s) / d(s"_n$t$p$s") }.reduce(_ + _)
    folded.select(
      col("n").cast("bigint").as("n"),
      when(haveAll, round(did(1) / 1e6, 6)).cast("double").as("did_s1"),
      when(haveAll, round(did(0) / 1e6, 6)).cast("double").as("did_s0"),
      when(haveAll, round((did(1) - did(0)) / 1e6, 6))
        .cast("double").as("ddd"),
      when(haveAll && allBig, round(sqrt(seSum / 1e12), 6))
        .cast("double").as("se"))
  }

  /** Event-study (dynamic DiD) panel — the PER-PERIOD view that
    * validates [[diffInDiff]]'s single number: effect_k =
    * (m_treated,k − m_control,k) − the same gap at the REFERENCE
    * period (k = refPeriod, conventionally −1), one row per relative
    * period. Pre-period effects ≈ 0 IS the parallel-trends evidence;
    * post-period effects trace adoption dynamics a pooled DiD
    * averages away.
    *
    * Determinism: the diffInDiff cell contract — 1e6-quantized
    * values, exact per-(arm, period) decimal cells off ONE
    * aggregate, the reference row broadcast back; effects and the
    * 4-cell Wald se are one rounded tree per period; the reference
    * period's own effect is EXACTLY 0 by construction (pinned).
    * Missing arm at a period → NULL effect loudly. Output:
    * (rel_period, n_treated, n_control, effect, se).
    */
  def eventStudy(df: DataFrame, treated: Column, periodCol: Column,
      valueCol: String, refPeriod: Long = -1L): DataFrame = {
    val cells = df
      .filter(treated.isNotNull && periodCol.isNotNull
        && col(valueCol).isNotNull)
      .select(when(treated, 1).otherwise(0).as("_t"),
        periodCol.cast("long").as("_k"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
      .groupBy("_t", "_k")
      .agg(count(lit(1)).as("_n"), sum(col("_v").cast(dec)).as("_s"),
        sum((col("_v").cast(dec) * col("_v")).cast(dec)).as("_q"))
    val perK = cells.groupBy("_k").agg(
      max(when(col("_t") === 1, col("_n"))).as("_nt"),
      max(when(col("_t") === 0, col("_n"))).as("_nc"),
      max(when(col("_t") === 1, col("_s"))).as("_st"),
      max(when(col("_t") === 0, col("_s"))).as("_sc"),
      max(when(col("_t") === 1, col("_q"))).as("_qt"),
      max(when(col("_t") === 0, col("_q"))).as("_qc"))
      .localCheckpoint() // the reference row + every period read it
    val ref = perK.filter(col("_k") === refPeriod)
      .select(col("_nt").as("_rnt"), col("_nc").as("_rnc"),
        col("_st").as("_rst"), col("_sc").as("_rsc"),
        col("_qt").as("_rqt"), col("_qc").as("_rqc"))
    def m(s: String, n: String) = d(s) / d(n)
    def v(q: String, s: String, n: String) =
      (d(n) * d(q) - d(s) * d(s)) / (d(n) * (d(n) - 1.0))
    val haveAll = col("_nt").isNotNull && col("_nc").isNotNull &&
      col("_rnt").isNotNull && col("_rnc").isNotNull
    val allBig = col("_nt") >= 2 && col("_nc") >= 2 &&
      col("_rnt") >= 2 && col("_rnc") >= 2
    perK.crossJoin(broadcast(ref))
      .select(col("_k").cast("bigint").as("rel_period"),
        coalesce(col("_nt"), lit(0L)).cast("bigint").as("n_treated"),
        coalesce(col("_nc"), lit(0L)).cast("bigint").as("n_control"),
        when(haveAll,
          round(((m("_st", "_nt") - m("_sc", "_nc"))
            - (m("_rst", "_rnt") - m("_rsc", "_rnc"))) / 1e6, 6))
          .cast("double").as("effect"),
        when(haveAll && allBig,
          round(sqrt((v("_qt", "_st", "_nt") / d("_nt")
            + v("_qc", "_sc", "_nc") / d("_nc")
            + v("_rqt", "_rst", "_rnt") / d("_rnt")
            + v("_rqc", "_rsc", "_rnc") / d("_rnc")) / 1e12), 6))
          .cast("double").as("se"))
  }

  /** Schnabel multi-occasion capture–recapture — the T-sample
    * generalization of L357's two-window Chapman: pool every
    * occasion's catch/recapture evidence,
    * N̂ = Σ_t C_t·M_t / (Σ_t R_t + 1) (the Chapman-corrected form,
    * finite at zero recaptures), where C_t = sightings on occasion
    * t, M_t = distinct ids first seen BEFORE t, R_t = t's sightings
    * of already-marked ids. More occasions tighten the estimate
    * where a second Chapman window would just start over.
    *
    * Exact integers end to end: one distinct (id, occasion) shuffle,
    * a first-occasion aggregate, occasion-keyed counts + ONE
    * exclusive cumulative window over the occasion-bounded table;
    * the estimate is one rounded division of decimal folds. Closed
    * population and independent sampling are the caller's design
    * contract (as L357). Output: ONE row (n_occasions, n_marked,
    * sum_recaptures, n_hat).
    */
  def schnabel(df: DataFrame, idCol: String,
      occasionCol: String): DataFrame = {
    val sightings = df
      .filter(col(idCol).isNotNull && col(occasionCol).isNotNull)
      .select(col(idCol).cast("string").as("_id"),
        col(occasionCol).cast("long").as("_o"))
      .distinct()
      .localCheckpoint() // first-occasion fold + per-occasion counts
    val firsts = sightings.groupBy("_id").agg(min("_o").as("_f"))
    val perOcc = sightings
      .join(firsts, Seq("_id"))
      .groupBy(col("_o"))
      .agg(count(lit(1)).as("_c"),
        sum(when(col("_f") < col("_o"), 1L).otherwise(0L)).as("_r"))
    val firstCounts = firsts.groupBy(col("_f").as("_o"))
      .agg(count(lit(1)).as("_nf"))
    val wExc = Window.orderBy("_o")
      .rowsBetween(Window.unboundedPreceding, -1)
    val occ = perOcc.join(firstCounts, Seq("_o"), "left")
      .withColumn("_m", coalesce(sum(coalesce(col("_nf"), lit(0L)))
        .over(wExc), lit(0L)))
    val marked = firsts.agg(count(lit(1)).as("_nm"))
    occ.agg(count(lit(1)).as("_no"),
        sum((col("_c").cast(dec) * col("_m")).cast(dec)).as("_scm"),
        sum(col("_r").cast(dec)).as("_sr"))
      .crossJoin(broadcast(marked))
      .select(col("_no").cast("bigint").as("n_occasions"),
        col("_nm").cast("bigint").as("n_marked"),
        col("_sr").cast("bigint").as("sum_recaptures"),
        round(col("_scm").cast("double")
          / (col("_sr").cast("double") + 1.0), 6)
          .cast("double").as("n_hat"))
  }

  /** Randomization inference for the DiD effect — the permutation
    * p-value the normal-approx se can't give on skewed spend: re-run
    * the 2×2 under B PLACEBO unit-level assignments and ask where
    * the observed effect ranks, p = (1 + #{|DiD_b| ≥ |DiD_obs|}) /
    * (B + 1). The placebo draws are the engine-portable md5-unit
    * hash of (unit, b) ([[Sampling.portableUnit]]) — seedless,
    * deterministic, identical on every engine and retry, and
    * CONSISTENT per unit without a join (every row of a unit hashes
    * the same).
    *
    * Determinism: 1e6-quantized values; ONE (b, t, p) cell aggregate
    * over the B+1-exploded rows (b = 0 is the observed assignment);
    * each DiD_b is the diffInDiff mean tree frozen at 6 dp; the rank
    * comparison runs on the frozen values; p is one rounded division
    * of exact integers. A placebo with an empty cell yields NULL
    * DiD_b and does not count (conservative). Scale shape: the
    * explode is ×(B+1) on the corpus but collapses in the same
    * aggregate — no windows, no joins. Output: ONE row (n_placebos,
    * did_obs, n_ge, p_value).
    */
  def randomizationInference(df: DataFrame, unitCol: String,
      treated: Column, post: Column, valueCol: String,
      b: Int = 19): DataFrame = {
    require(b >= 1 && b <= 200,
      s"randomizationInference: b must be in [1, 200], got $b")
    val base = df
      .filter(treated.isNotNull && post.isNotNull
        && col(valueCol).isNotNull && col(unitCol).isNotNull)
      .select(col(unitCol).cast("string").as("_u"),
        when(treated, 1).otherwise(0).as("_t0"),
        when(post, 1).otherwise(0).as("_p"),
        round(col(valueCol) * 1e6).cast("long").as("_v"))
    // r19 (guide §2.3 shuffle fewer bytes): ONE scalar aggregate
    // replaces the ×(B+1) explode + (b,t,p) exchange + per-b pivot +
    // checkpoint + crossJoin — each row contributes to its (t_b, p)
    // cell for every b through 8·(B+1) conditional folds over a
    // per-row placebo-assignment array (same md5 count per input row
    // as the exploded form, computed once in a projection). Exact
    // decimal/long sums are order-free, and an EMPTY cell is a NULL
    // conditional sum exactly where the absent group row made the
    // old pick() NULL, so every DiD_b (and the rank fold's
    // null-condition→0 convention) is value-identical.
    val withT = base.withColumn("_ts", array((0 to b).map { bi =>
      if (bi == 0) col("_t0")
      else when(Sampling.portableUnit(concat(col("_u"), lit(":"),
        lit(bi.toString))) < 0.5, 1).otherwise(0)
    }: _*))
    def cell(bi: Int, t: Int, p: Int, s: Boolean): Column = {
      val cond = element_at(col("_ts"), bi + 1) === t && col("_p") === p
      if (s) sum(when(cond, col("_v").cast(dec)))
      else sum(when(cond, lit(1L)))
    }
    val aggs = (0 to b).flatMap { bi => Seq(
      cell(bi, 0, 0, s = false).as(s"_nc0_$bi"),
      cell(bi, 0, 1, s = false).as(s"_nc1_$bi"),
      cell(bi, 1, 0, s = false).as(s"_nt0_$bi"),
      cell(bi, 1, 1, s = false).as(s"_nt1_$bi"),
      cell(bi, 0, 0, s = true).as(s"_sc0_$bi"),
      cell(bi, 0, 1, s = true).as(s"_sc1_$bi"),
      cell(bi, 1, 0, s = true).as(s"_st0_$bi"),
      cell(bi, 1, 1, s = true).as(s"_st1_$bi"))
    } :+ count(lit(1)).as("_nrows")
    val one = withT.agg(aggs.head, aggs.tail: _*)
    def m(s: String, n: String) = d(s) / d(n)
    def did(bi: Int): Column = {
      val haveAll = col(s"_nc0_$bi").isNotNull &&
        col(s"_nc1_$bi").isNotNull && col(s"_nt0_$bi").isNotNull &&
        col(s"_nt1_$bi").isNotNull
      when(haveAll,
        round(((m(s"_st1_$bi", s"_nt1_$bi") - m(s"_st0_$bi", s"_nt0_$bi"))
          - (m(s"_sc1_$bi", s"_nc1_$bi") - m(s"_sc0_$bi", s"_nc0_$bi")))
          / 1e6, 6))
    }
    val obs = did(0)
    // null DiD_b or null obs fails the >= and falls to 0 — the old
    // when().otherwise(0) convention verbatim
    val ge = (1 to b).map(bi =>
      when(abs(did(bi)) >= abs(obs), 1L).otherwise(0L)).reduce(_ + _)
    // empty input: the old dids frame was EMPTY (no groups), so the
    // final fold reported (0, null, null, null) — replicated via the
    // row-count guard
    val nonEmpty = col("_nrows") > 0
    one.select(
      when(nonEmpty, lit(b.toLong)).otherwise(lit(0L))
        .cast("bigint").as("n_placebos"),
      when(nonEmpty, obs).cast("double").as("did_obs"),
      when(nonEmpty, ge).cast("bigint").as("n_ge"),
      when(nonEmpty, round((ge.cast("double") + 1.0)
        / (b.toDouble + 1.0), 6))
        .cast("double").as("p_value"))
  }

  /** Instrumental-variable (Wald / just-identified 2SLS) estimation
    * per group — the causal-inference member for when treatment x is
    * ENDOGENOUS (self-selected exposure, simultaneity) and a single
    * instrument z moves x without touching y directly: β_IV =
    * M_zy/M_zx over the ×n centered moments M_ab = n·Σab − Σa·Σb,
    * reported beside the naive OLS slope M_xy/M_xx (their gap IS the
    * endogeneity story) and the first-stage strength F =
    * (n−2)·R²_zx/(1−R²_zx) — the weak-instrument gauge (F ≲ 10 means
    * the IV estimate rests on noise, whatever n says).
    *
    * Determinism: y/x/z quantize to 1e6-scaled longs, power sums are
    * exact decimal(38,0) integers, each output is one closed-form
    * double expression rounded at 6 dp (the [[grangerF]] contract).
    * Degenerate groups (n < 3, M_zx = 0, M_xx/M_zz ≤ 0) report NULL
    * loudly-by-absence rather than Infinity.
    *
    * Scale shape: one group aggregate — nothing else moves.
    * Output: (group, n, beta_iv, beta_ols, first_stage_f).
    */
  def ivWald(df: DataFrame, groupCol: String, yCol: String,
      xCol: String, zCol: String): DataFrame = {
    val pts = df.filter(col(yCol).isNotNull && col(xCol).isNotNull
        && col(zCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(yCol) * 1e6).cast("long").as("_y"),
        round(col(xCol) * 1e6).cast("long").as("_x"),
        round(col(zCol) * 1e6).cast("long").as("_z"))
    def m(a: String, b: String) =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val sums = pts.groupBy("_g").agg(count(lit(1)).as("n"),
      sum(col("_y").cast(dec)).as("_sy"),
      sum(col("_x").cast(dec)).as("_sx"),
      sum(col("_z").cast(dec)).as("_sz"),
      m("_x", "_x").as("_sxx"), m("_z", "_z").as("_szz"),
      m("_z", "_x").as("_szx"), m("_z", "_y").as("_szy"),
      m("_x", "_y").as("_sxy"))
    val nd = col("n").cast("double")
    val mxx = nd * d("_sxx") - d("_sx") * d("_sx")
    val mzz = nd * d("_szz") - d("_sz") * d("_sz")
    val mzx = nd * d("_szx") - d("_sz") * d("_sx")
    val mzy = nd * d("_szy") - d("_sz") * d("_sy")
    val mxy = nd * d("_sxy") - d("_sx") * d("_sy")
    val r2 = (mzx * mzx) / (mzz * mxx)
    val ok = col("n") >= 3 && mzz > 0.0 && mxx > 0.0
    sums.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      when(ok && mzx =!= 0.0, round(mzy / mzx, 6))
        .cast("double").as("beta_iv"),
      when(ok, round(mxy / mxx, 6)).cast("double").as("beta_ols"),
      when(ok && r2 < 1.0,
        round((nd - 2.0) * r2 / (lit(1.0) - r2), 6))
        .cast("double").as("first_stage_f"))
  }

  /** Sharp regression discontinuity per group: local linear fits on
    * each side of the cutoff within `bandwidth`, treatment effect =
    * the difference of the two intercepts AT the cutoff — the
    * quasi-experimental design for threshold-assigned treatments
    * (score cutoffs, price breaks, eligibility lines), where units
    * just-left and just-right of the line are as-good-as-random.
    *
    * Each side solves the raw-moment OLS a = (Σy·Σx² − Σx·Σxy)/D,
    * b = (n·Σxy − Σx·Σy)/D, D = n·Σx² − (Σx)², on x centered at the
    * cutoff (so `a` IS the boundary value). Centering happens BEFORE
    * the 1e6 quantization: x and y quantize to scaled longs, power
    * sums are exact decimal integers, each output one closed-form
    * rounded double ([[grangerF]] contract). A side with n < 2 or
    * zero x-variance reports NULL (and a NULL effect) — visibly
    * undersupported, never a silent extrapolation.
    *
    * Scale shape: one filtered group aggregate (both sides fold in
    * the same pass via conditional sums). Output: (group, n_left,
    * n_right, left_at_cutoff, right_at_cutoff, effect, slope_left,
    * slope_right).
    */
  def regressionDiscontinuity(df: DataFrame, groupCol: String,
      runCol: String, yCol: String, cutoff: Double,
      bandwidth: Double): DataFrame = {
    require(bandwidth > 0.0,
      s"regressionDiscontinuity: bandwidth must be > 0, got $bandwidth")
    val band = df.filter(col(runCol).isNotNull && col(yCol).isNotNull
        && col(runCol) >= cutoff - bandwidth
        && col(runCol) <= cutoff + bandwidth)
      .select(col(groupCol).as("_g"),
        round((col(runCol) - cutoff) * 1e6).cast("long").as("_x"),
        round(col(yCol) * 1e6).cast("long").as("_y"))
      .withColumn("_r", (col("_x") >= 0L).cast("int"))
    def side(r: Int, e: Column) = sum(when(col("_r") === r, e)
      .otherwise(lit(0L).cast(dec)))
    def sq(a: String, b: String) = (col(a).cast(dec) * col(b)).cast(dec)
    val sums = band.groupBy("_g").agg(
      sum(when(col("_r") === 0, 1L).otherwise(0L)).as("nl"),
      sum(when(col("_r") === 1, 1L).otherwise(0L)).as("nr"),
      side(0, col("_x").cast(dec)).as("_sxl"),
      side(0, col("_y").cast(dec)).as("_syl"),
      side(0, sq("_x", "_x")).as("_sxxl"),
      side(0, sq("_x", "_y")).as("_sxyl"),
      side(1, col("_x").cast(dec)).as("_sxr"),
      side(1, col("_y").cast(dec)).as("_syr"),
      side(1, sq("_x", "_x")).as("_sxxr"),
      side(1, sq("_x", "_y")).as("_sxyr"))
    def fit(n: Column, sx: String, sy: String, sxx: String, sxy: String)
        : (Column, Column, Column) = {
      val nd = n.cast("double")
      val det = nd * d(sxx) - d(sx) * d(sx)
      val a = (d(sy) * d(sxx) - d(sx) * d(sxy)) / det
      val b = (nd * d(sxy) - d(sx) * d(sy)) / det
      (det, a / 1e6, b)
    }
    val (dl, al, bl) = fit(col("nl"), "_sxl", "_syl", "_sxxl", "_sxyl")
    val (dr, ar, br) = fit(col("nr"), "_sxr", "_syr", "_sxxr", "_sxyr")
    val okL = col("nl") >= 2 && dl > 0.0
    val okR = col("nr") >= 2 && dr > 0.0
    sums.select(col("_g").as(groupCol),
      col("nl").cast("bigint").as("n_left"),
      col("nr").cast("bigint").as("n_right"),
      when(okL, round(al, 6)).cast("double").as("left_at_cutoff"),
      when(okR, round(ar, 6)).cast("double").as("right_at_cutoff"),
      when(okL && okR, round(ar - al, 6)).cast("double").as("effect"),
      when(okL, round(bl, 6)).cast("double").as("slope_left"),
      when(okR, round(br, 6)).cast("double").as("slope_right"))
  }

  /** Covariate balance by standardized mean difference — the
    * diagnostic every matching/weighting pipeline (L323's stratified
    * ATE above all) reports before trusting an estimate: per
    * covariate, SMD = (μ_t − μ_c)/√((s_t² + s_c²)/2) with sample
    * (n−1) variances; |SMD| ≲ 0.1 is the conventional "balanced"
    * line. `cols` melt into one pass (unpivot via stack), so the
    * whole table is ONE group aggregate regardless of covariate
    * count.
    *
    * Determinism: values quantize to 1e6-scaled longs, exact decimal
    * power sums, one closed-form rounded double per cell (variances
    * descale by 1e12). A covariate with an empty arm or zero pooled
    * variance reports NULL SMD. Output: (covariate, n_treat,
    * n_control, mean_treat, mean_control, smd), one row per covariate.
    */
  def balanceSmd(df: DataFrame, treatCol: org.apache.spark.sql.Column,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "balanceSmd: need at least one covariate")
    val stacked = df.select(treatCol.cast("boolean").as("_t"),
        explode(array(cols.map(c => struct(lit(c).as("_c"),
          round(col(c) * 1e6).cast("long").as("_v"))): _*)).as("_s"))
      .select(col("_t"), col("_s._c").as("_c"), col("_s._v").as("_v"))
      .filter(col("_t").isNotNull && col("_v").isNotNull)
    def arm(t: Boolean, e: Column) = sum(when(col("_t") === t, e)
      .otherwise(lit(0L).cast(dec)))
    val sums = stacked.groupBy("_c").agg(
      sum(when(col("_t"), 1L).otherwise(0L)).as("nt"),
      sum(when(!col("_t"), 1L).otherwise(0L)).as("nc"),
      arm(true, col("_v").cast(dec)).as("_st"),
      arm(true, (col("_v").cast(dec) * col("_v")).cast(dec)).as("_qt"),
      arm(false, col("_v").cast(dec)).as("_sc"),
      arm(false, (col("_v").cast(dec) * col("_v")).cast(dec)).as("_qc"))
    val ntd = col("nt").cast("double")
    val ncd = col("nc").cast("double")
    val mt = d("_st") / ntd
    val mc = d("_sc") / ncd
    val vt = (d("_qt") - d("_st") * d("_st") / ntd) / (ntd - 1.0)
    val vc = (d("_qc") - d("_sc") * d("_sc") / ncd) / (ncd - 1.0)
    val pooled = (vt + vc) / 2.0
    val ok = col("nt") >= 2 && col("nc") >= 2 && pooled > 0.0
    sums.select(col("_c").as("covariate"),
      col("nt").cast("bigint").as("n_treat"),
      col("nc").cast("bigint").as("n_control"),
      when(col("nt") >= 1, round(mt / 1e6, 6))
        .cast("double").as("mean_treat"),
      when(col("nc") >= 1, round(mc / 1e6, 6))
        .cast("double").as("mean_control"),
      when(ok, round((mt - mc) / sqrt(pooled), 6))
        .cast("double").as("smd"))
  }

  /** Jonckheere–Terpstra ordered-alternative test — the k-group
    * DIRECTIONAL omnibus ([[kruskalWallis]] asks "any difference",
    * JT asks "do values INCREASE along the a-priori group order":
    * dose levels, priority tiers, model sizes — far more powerful
    * when that order IS the hypothesis). The group order is the
    * NATURAL ascending order of the group labels (encode the
    * hypothesis in sortable labels — the [[pageTrend]] convention).
    * JT = Σ_{i<j} U_ij with ties counted ½; z against the no-ties
    * null mean (N²−Σn²)/4 and variance (N²(2N+3)−Σn²(2n+3))/72 (the
    * standard large-sample practice; ties only sharpen the real
    * variance, so the reported z is conservative).
    *
    * Exactness: values land on the 6-dp vocabulary; 2·JT is an exact
    * integer assembled from per-group exclusive-cumulative counts on
    * a (value-level × k) grid — no pairwise row comparison anywhere;
    * z is one rounded double tree, NULL when every value ties or
    * k < 2.
    *
    * Scale shape: one cell shuffle + one per-group prefix window over
    * the value grid (|levels|·k rows — pre-bin a high-cardinality
    * value first, the [[mannWhitneyBinned]] precedent) + the pair
    * join on the value key. Output one row: (n, k, jt, z).
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val cells = df.filter(col(valueCol).isNotNull
        && col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"), round(col(valueCol), 6).as("_q"))
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
      .localCheckpoint() // grid + pair join + group sums re-read it
    val gridFixed = cells.select(col("_q").as("_vq")).distinct()
      .crossJoin(cells.select(col("_g").as("_gg")).distinct())
      .join(cells.withColumnRenamed("_g", "_jg"),
        col("_vq") <=> col("_q") && col("_gg") === col("_jg"), "left")
      .select(col("_gg"), col("_vq"),
        coalesce(col("_c"), lit(0L)).as("_c0"))
      .withColumn("_cb", coalesce(
        sum("_c0").over(Window.partitionBy("_gg").orderBy(col("_vq"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val pairTerms = gridFixed.as("i")
      .join(cells.as("j"), col("i._vq") <=> col("j._q")
        && col("i._gg") < col("j._g"))
      .agg(sum((col("j._c").cast(dec)
          * (lit(2L) * col("i._cb") + col("i._c0"))).cast(dec))
        .as("_jt2"))
    val ns = cells.groupBy("_g").agg(sum("_c").as("_n"))
      .agg(count(lit(1)).as("k"), sum("_n").as("_nn"),
        sum((col("_n").cast(dec) * col("_n")).cast(dec)).as("_sn2"),
        sum((col("_n").cast(dec) * col("_n")
          * (lit(2L) * col("_n") + 3L)).cast(dec)).as("_sn23"))
    pairTerms.crossJoin(broadcast(ns))
      .withColumn("_mean",
        (d("_nn") * d("_nn") - d("_sn2")) / 4.0)
      .withColumn("_var",
        (d("_nn") * d("_nn") * (lit(2.0) * d("_nn") + 3.0) - d("_sn23"))
          / 72.0)
      .select(col("_nn").cast("bigint").as("n"),
        col("k").cast("bigint").as("k"),
        round(d("_jt2") / 2.0, 6).cast("double").as("jt"),
        when(col("k") >= 2 && col("_var") > 0.0,
          round((d("_jt2") / 2.0 - col("_mean")) / sqrt(col("_var")), 6))
          .cast("double").as("z"))
  }

  /** Brunner–Munzel test — the modern replacement for Mann–Whitney
    * when the two groups may differ in VARIANCE or shape (MW's null
    * assumes exchangeable distributions; BM tests the relative effect
    * p = P(X < Y) + ½P(X = Y) directly with a Welch-style separate-
    * variance studentization, the rank-world Welch t): statistic
    * W = n₁n₂(R̄₂ − R̄₁) / ((n₁+n₂)·√(n₁S₁² + n₂S₂²)) with
    * S_i² the variance of (combined − within) midranks, read against
    * t with the Welch-type df — the exact arithmetic of the reference
    * scipy implementation.
    *
    * Exactness: the [[mannWhitney]] doubled-midrank machinery (6-dp
    * vocabulary, exact integer 2C+E+1 cells); each deviation scales
    * by 2n into an EXACT integer 2nD(v) = n·(mid2c − mid2w) − T +
    * n(n+1), so Σ(2nD)²·c folds in decimal(38,0) and S² is one
    * closed-form double; p̂, W, df are rounded trees. Exactly two
    * groups — more is rejected loudly; W is NULL when both rank
    * variances vanish (complete separation/all ties).
    *
    * Scale shape: one cell shuffle + two vocabulary-bounded prefix
    * windows + two group passes — the mannWhitney cost class.
    * Output: (group_a, group_b, n_a, n_b, p_hat, w, df), group_a <
    * group_b; p̂ and W read as "tendency of b to exceed a".
    */
  def brunnerMunzel(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val cells = df.filter(col(valueCol).isNotNull
        && col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"), round(col(valueCol), 6).as("_q"))
      .groupBy("_g", "_q").agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    val nGroups = cells.select("_g").distinct()
      .limit(3).count()
    require(nGroups == 2,
      s"brunnerMunzel: exactly 2 groups required, got $nGroups " +
        "(use kruskalWallis/dunnTest for k groups)")
    val totals = cells.groupBy(col("_q").as("_tq")).agg(sum("_c").as("_e"))
      .withColumn("_cball", coalesce(
        sum("_e").over(Window.orderBy(col("_tq"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val withMid = cells
      .withColumn("_cg", coalesce(
        sum("_c").over(Window.partitionBy("_g").orderBy(col("_q"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(totals, col("_q") <=> col("_tq"))
      .withColumn("_m2c", lit(2L) * col("_cball") + col("_e") + 1L)
      .withColumn("_m2w", lit(2L) * col("_cg") + col("_c") + 1L)
    val pass1 = withMid.groupBy("_g")
      .agg(sum("_c").as("_n"),
        sum((col("_c").cast(dec) * col("_m2c")).cast(dec)).as("_t2"))
    val dev = withMid
      .join(pass1.select(col("_g"), col("_n"), col("_t2")), Seq("_g"))
      .withColumn("_2nd",
        (col("_n").cast(dec) * (col("_m2c") - col("_m2w"))).cast(dec)
          - col("_t2")
          + (col("_n").cast(dec) * (col("_n") + 1L)).cast(dec))
      .groupBy("_g")
      .agg(max("_n").as("_n"), max("_t2").as("_t2"),
        sum((col("_c").cast(dec) * col("_2nd") * col("_2nd")).cast(dec))
          .as("_sd2"))
    def d(c: Column): Column = c.cast("double")
    val g = dev.select(col("_g"), col("_n"), col("_t2"), col("_sd2"))
      .withColumn("_mr", d(col("_t2"))
        / (lit(2.0) * d(col("_n"))))
      .withColumn("_s2",
        when(col("_n") > 1, d(col("_sd2"))
          / (lit(4.0) * d(col("_n")) * d(col("_n"))
            * (d(col("_n")) - 1.0))))
    val a = g.orderBy("_g").limit(1)
      .select(col("_g").as("group_a"), col("_n").as("_n1"),
        col("_mr").as("_mr1"), col("_s2").as("_s21"))
    val b = g.orderBy(col("_g").desc).limit(1)
      .select(col("_g").as("group_b"), col("_n").as("_n2"),
        col("_mr").as("_mr2"), col("_s2").as("_s22"))
    val n1 = col("_n1").cast("double")
    val n2 = col("_n2").cast("double")
    val vsum = n1 * col("_s21") + n2 * col("_s22")
    a.crossJoin(b)
      .select(col("group_a"), col("group_b"),
        col("_n1").cast("bigint").as("n_a"),
        col("_n2").cast("bigint").as("n_b"),
        round((col("_mr2") - (n2 + 1.0) / 2.0) / n1, 6)
          .cast("double").as("p_hat"),
        when(vsum > 0.0,
          round(n1 * n2 * (col("_mr2") - col("_mr1"))
            / ((n1 + n2) * sqrt(vsum)), 6))
          .cast("double").as("w"),
        when(vsum > 0.0 && col("_n1") > 1 && col("_n2") > 1,
          round(vsum * vsum
            / ((n1 * col("_s21")) * (n1 * col("_s21")) / (n1 - 1.0)
              + (n2 * col("_s22")) * (n2 * col("_s22")) / (n2 - 1.0)), 6))
          .cast("double").as("df"))
  }

  /** Two-sample ENERGY DISTANCE on a shared equi-width grid — the
    * modern omnibus two-sample test (Székely–Rizzo): D = 2A − B − C
    * with A = E|X−Y|, B = E|X−X′|, C = E|Y−Y′|, zero iff the
    * distributions coincide; sensitive to ANY difference (location,
    * scale, shape) where KS keys on the single largest CDF gap. This
    * is the binned 100 TB dual in the [[ksTestBinned]] family: both
    * samples histogram onto `bins` cells over the frozen global
    * [min, max], expectations become exact integer bin-pair sums
    * (bins² pairs — bounded by CONFIG, never by data), and distances
    * are measured in BIN WIDTHS (scale-free for the test decision;
    * multiply by (max−min)/bins to recover value units). The test
    * statistic T = n₁n₂/(n₁+n₂)·D is the permutation-calibrated form.
    *
    * Exactness: all-integer pair sums in decimal(38,0); A, B, C, D,
    * T are one closed-form rounded double tree. Exactly two groups,
    * loud otherwise. Output one row: (group_a, group_b, n_a, n_b,
    * a_cross, b_within, c_within, energy_d, t_stat).
    */
  def energyDistanceBinned(df: DataFrame, groupCol: String,
      valueCol: String, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 100000,
      s"energyDistanceBinned: bins in [2, 100000], got $bins")
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
    val nGroups = base.select(col(groupCol)).distinct().limit(3).count()
    require(nGroups == 2,
      s"energyDistanceBinned: exactly 2 groups required, got $nGroups")
    val stats = base.agg(min(col(valueCol)).as("_lo"),
      max(col(valueCol)).as("_hi"))
    val cells = base.crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        when(col("_hi") > col("_lo"),
          least(floor((col(valueCol) - col("_lo")) * bins
            / (col("_hi") - col("_lo"))), lit(bins - 1)))
          .otherwise(lit(0)).cast("long").as("_b"))
      .groupBy("_g", "_b").agg(count(lit(1)).as("_c"))
      .localCheckpoint() // three pair joins re-read it
    def pairSum(l: DataFrame, r: DataFrame): DataFrame =
      l.as("x").crossJoin(r.as("y"))
        .agg(sum((col("x._c").cast(dec) * col("y._c")
          * abs(col("x._b") - col("y._b"))).cast(dec)).as("_s"))
    val gs = cells.select("_g").distinct().orderBy("_g")
      .collect().map(_.get(0))
    val c1 = cells.filter(col("_g") === lit(gs(0)))
    val c2 = cells.filter(col("_g") === lit(gs(1)))
    val ns = cells.groupBy("_g").agg(sum("_c").as("_n"))
    val n1 = ns.filter(col("_g") === lit(gs(0)))
      .select(col("_n").as("_n1"))
    val n2 = ns.filter(col("_g") === lit(gs(1)))
      .select(col("_n").as("_n2"))
    val sA = pairSum(c1, c2).select(col("_s").as("_sa"))
    val sB = pairSum(c1, c1).select(col("_s").as("_sb"))
    val sC = pairSum(c2, c2).select(col("_s").as("_sc"))
    val n1d = d("_n1")
    val n2d = d("_n2")
    val a = d("_sa") / (n1d * n2d)
    val b = d("_sb") / (n1d * n1d)
    val cc = d("_sc") / (n2d * n2d)
    val dStat = lit(2.0) * a - b - cc
    sA.crossJoin(sB).crossJoin(sC).crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .select(lit(gs(0).toString).as("group_a"),
        lit(gs(1).toString).as("group_b"),
        col("_n1").cast("bigint").as("n_a"),
        col("_n2").cast("bigint").as("n_b"),
        round(a, 6).cast("double").as("a_cross"),
        round(b, 6).cast("double").as("b_within"),
        round(cc, 6).cast("double").as("c_within"),
        round(dStat, 6).cast("double").as("energy_d"),
        round(n1d * n2d / (n1d + n2d) * dStat, 6)
          .cast("double").as("t_stat"))
  }

  /** Beta-binomial overdispersion fit by method of moments on a
    * BALANCED panel — "are these per-unit success rates more spread
    * than a single coin explains" (per-day conversion counts,
    * per-shard defect counts, per-annotator agreement counts):
    * with equal trials m per unit, p̂ = Σk/(N·m), s² the sample
    * variance of the unit rates k/m, the intra-class correlation
    * ρ̂ = (m·s²/(p̂(1−p̂)) − 1)/(m − 1), and the Beta parameters
    * α = p̂(1/ρ̂ − 1), β = (1−p̂)(1/ρ̂ − 1) — the shrinkage prior
    * [[empiricalBayesRates]]-style pipelines need, fitted rather than
    * guessed. Unequal trial counts are rejected loudly (the unequal-n
    * MoM weights are estimator-choice-ambiguous; balance the panel
    * upstream). ρ̂ ≤ 0 (under-dispersion) reports NULL α/β visibly —
    * the binomial already over-explains.
    *
    * Exactness: k, m exact integers; rates quantize at 12 dp into
    * decimal sums for the variance; the estimates are one closed-form
    * rounded tree each. Output one row: (n_units, trials, p_hat,
    * rho, alpha, beta).
    */
  def betaBinomialMom(df: DataFrame, succCol: String,
      trialCol: String): DataFrame = {
    val rows = df.filter(col(succCol).isNotNull && col(trialCol).isNotNull)
      .select(col(succCol).cast("long").as("_k"),
        col(trialCol).cast("long").as("_m"))
      // the guard lives INSIDE _p so column pruning can never drop it
      .withColumn("_p",
        when(col("_k") < 0 || col("_k") > col("_m") || col("_m") < 1,
          raise_error(lit("betaBinomialMom: need 0 <= successes <= " +
            "trials and trials >= 1")).cast("double"))
          .otherwise(round(col("_k").cast("double")
            / col("_m").cast("double"), 12)))
    val agg = rows.agg(count(lit(1)).as("_nu"),
      min("_m").as("_mmin"), max("_m").as("_mmax"),
      sum("_k").as("_sk"), sum("_m").as("_sm"),
      sum(col("_p").cast(dec12)).as("_sp"),
      sum((col("_p").cast(dec12) * col("_p")).cast(dec12)).as("_spp"))
    // every divisor is NULL at 0, not only guarded by the `when`s
    // below: codegen's subexpression elimination evaluates the shared
    // rho outside them, and a zero divisor then throws under ANSI
    // (p = 1 when every unit succeeds on every trial)
    def nz(c: Column): Column = nullif(c, lit(0.0))
    val nu = d("_nu")
    val m = d("_mmin")
    val p = d("_sk") / nz(d("_sm"))
    val s2 = (d("_spp") - d("_sp") * d("_sp") / nz(nu)) / nz(nu - 1.0)
    val rho = (m * s2 / nz(p * (lit(1.0) - p)) - 1.0) / nz(m - 1.0)
    val scale = lit(1.0) / nz(rho) - 1.0
    agg.select(
        when(col("_mmin") =!= col("_mmax"),
          raise_error(lit("betaBinomialMom: unbalanced panel — equal " +
            "trials per unit required (the unequal-n MoM is " +
            "estimator-ambiguous); balance upstream")))
          .otherwise(col("_nu")).cast("bigint").as("n_units"),
        col("_mmin").cast("bigint").as("trials"),
        round(p, 6).cast("double").as("p_hat"),
        when(col("_nu") >= 2 && p > 0.0 && p < 1.0 && col("_mmin") >= 2,
          round(rho, 6)).cast("double").as("rho"),
        when(col("_nu") >= 2 && p > 0.0 && p < 1.0 && col("_mmin") >= 2
            && rho > 0.0 && rho < 1.0,
          round(p * scale, 6)).cast("double").as("alpha"),
        when(col("_nu") >= 2 && p > 0.0 && p < 1.0 && col("_mmin") >= 2
            && rho > 0.0 && rho < 1.0,
          round((lit(1.0) - p) * scale, 6)).cast("double").as("beta"))
  }

  /** Binned distance correlation (Székely–Rizzo) per group — the
    * DEPENDENCE test Pearson can't be: dCor = 0 iff (asymptotically)
    * independent, and it sees V-shapes, circles, and every other
    * nonlinear coupling corr() scores as 0. V-statistic form:
    * dCov² = A/n² − 2C/n³ + B_x·B_y/n⁴ with A = Σ w w′ d_x d_y,
    * B = Σ w w′ d, C = Σ_c w_c r_x(c) r_y(c) over the binned cell
    * pair table; dCor² = dCov²/√(dVar_x·dVar_y).
    *
    * The binning IS the 100 TB story (the [[energyDistanceBinned]]
    * precedent): both variables histogram onto `bins` equi-width
    * cells over the frozen GLOBAL [min, max], distances are exact
    * INTEGER bin-index gaps (dCor is scale-invariant per axis, so
    * bin units lose nothing but resolution), and every fold is an
    * exact decimal sum over the ≤ bins⁴ pair table — the corpus
    * never re-enters after one (group, b_x, b_y) cell shuffle.
    * Float work is the final tree only; float cancellation around 0
    * clamps at 0 (dCov² ≥ 0 mathematically). Degenerate axes (zero
    * distance variance) report NULL. Headroom: the C folds carry
    * w_c·r_x·r_y ≈ n³·bins² — decimal(38) overflows (to NULL, never
    * a wrong number) past ~1e11 rows per group at 16 bins; pre-
    * aggregate or shard groups above that (the WLS contract).
    * Output: (group, n, dcov2, dcor).
    */
  def distanceCorrelationBinned(df: DataFrame, groupCol: String,
      xCol: String, yCol: String, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 64,
      s"distanceCorrelationBinned: bins must be in [2, 64], got $bins")
    val stats = df.agg(min(col(xCol)).as("_xlo"), max(col(xCol)).as("_xhi"),
      min(col(yCol)).as("_ylo"), max(col(yCol)).as("_yhi"))
    def bin(c: Column, lo: Column, hi: Column): Column =
      when(hi > lo, least(floor((c - lo) * bins / (hi - lo)),
        lit(bins - 1))).otherwise(lit(0)).cast("long")
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .crossJoin(broadcast(stats))
      .select(col(groupCol).as("_g"),
        bin(col(xCol), col("_xlo"), col("_xhi")).as("_bx"),
        bin(col(yCol), col("_ylo"), col("_yhi")).as("_by"))
      .groupBy("_g", "_bx", "_by").agg(count(lit(1)).as("_w"))
      .localCheckpoint() // both pair-join sides + the n fold read it
    val pairs = cells.as("p")
      .join(cells.as("q"), col("p._g") === col("q._g"))
      .select(col("p._g").as("_g"),
        col("p._bx").as("_bx"), col("p._by").as("_by"),
        col("p._w").as("_w"),
        // cell-count products cast before multiply: two 1e12-row
        // cells would overflow a Long pairwise product
        (col("p._w").cast("decimal(38,0)") * col("q._w"))
          .cast("decimal(38,0)").as("_ww"),
        abs(col("p._bx") - col("q._bx")).as("_dx"),
        abs(col("p._by") - col("q._by")).as("_dy"),
        col("q._w").as("_w2"))
    // per LEFT cell: the distance row sums r_x, r_y (exact integers)
    val rowSums = pairs.groupBy(col("_g"), col("_bx"), col("_by"))
      .agg(max("_w").as("_wc"),
        sum((col("_w2").cast(dec) * col("_dx")).cast(dec)).as("_rx"),
        sum((col("_w2").cast(dec) * col("_dy")).cast(dec)).as("_ry"),
        sum((col("_ww").cast(dec) * col("_dx") * col("_dy")).cast(dec))
          .as("_axy"),
        sum((col("_ww").cast(dec) * col("_dx") * col("_dx")).cast(dec))
          .as("_axx"),
        sum((col("_ww").cast(dec) * col("_dy") * col("_dy")).cast(dec))
          .as("_ayy"),
        sum((col("_ww").cast(dec) * col("_dx")).cast(dec)).as("_bx2"),
        sum((col("_ww").cast(dec) * col("_dy")).cast(dec)).as("_by2"))
    val folded = rowSums.groupBy(col("_g"))
      .agg(sum("_wc").as("n"),
        sum("_axy").as("_a"), sum("_axx").as("_ax"),
        sum("_ayy").as("_ay"),
        sum("_bx2").as("_bx"), sum("_by2").as("_by"),
        sum((col("_wc").cast(dec) * col("_rx") * col("_ry")).cast(dec))
          .as("_c"),
        sum((col("_wc").cast(dec) * col("_rx") * col("_rx")).cast(dec))
          .as("_cx"),
        sum((col("_wc").cast(dec) * col("_ry") * col("_ry")).cast(dec))
          .as("_cy"))
    val nD = col("n").cast("double")
    val n2 = nD * nD
    def vstat(a: String, c: String, b1: String, b2: String): Column =
      d(a) / n2 - lit(2.0) * d(c) / (n2 * nD) +
        d(b1) * d(b2) / (n2 * n2)
    val dcov2 = vstat("_a", "_c", "_bx", "_by")
    val vx = vstat("_ax", "_cx", "_bx", "_bx")
    val vy = vstat("_ay", "_cy", "_by", "_by")
    folded.select(col("_g").as(groupCol), col("n").cast("bigint").as("n"),
      round(dcov2, 12).cast("double").as("dcov2"),
      when(vx > 0.0 && vy > 0.0,
        round(sqrt(greatest(lit(0.0), dcov2) / sqrt(vx * vy)), 6))
        .cast("double").as("dcor"))
  }

  /** Two-sample Poisson rate test (Wald form) — "is the incident rate
    * per unit exposure different between the arms" (errors per
    * million events, crashes per device-day): rates λ̂_i = k_i/t_i,
    * ratio, and z = (λ̂₁ − λ̂₂)/√(k₁/t₁² + k₂/t₂²). Exactly two
    * groups, loud otherwise; zero exposure or two zero counts report
    * NULL z visibly.
    *
    * Exactness: counts and 1e6-quantized exposures are exact
    * integers; rates and z are closed-form rounded trees. One group
    * aggregate. Output: (group_a, group_b, k_a, k_b, rate_a, rate_b,
    * ratio, z).
    */
  def poissonRateTest(df: DataFrame, groupCol: String, eventCol: Column,
      exposureCol: Column): DataFrame = {
    val rows = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"),
        when(eventCol, 1L).otherwise(0L).as("_k"),
        round(exposureCol * 1e6).cast("long").as("_t"))
    val nGroups = rows.select("_g").distinct().limit(3).count()
    require(nGroups == 2,
      s"poissonRateTest: exactly 2 groups required, got $nGroups")
    val agg = rows.groupBy("_g")
      .agg(sum(col("_k").cast(dec)).as("_sk"),
        sum(col("_t").cast(dec)).as("_st"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("_g")
    val flat = agg.withColumn("_rn", row_number().over(w))
    val a = flat.filter(col("_rn") === 1)
      .select(col("_g").as("group_a"), col("_sk").as("_k1"),
        col("_st").as("_t1"))
    val b = flat.filter(col("_rn") === 2)
      .select(col("_g").as("group_b"), col("_sk").as("_k2"),
        col("_st").as("_t2"))
    val t1 = d("_t1") / 1e6
    val t2 = d("_t2") / 1e6
    val r1 = d("_k1") / t1
    val r2 = d("_k2") / t2
    val se = sqrt(d("_k1") / (t1 * t1) + d("_k2") / (t2 * t2))
    a.crossJoin(b).select(col("group_a"), col("group_b"),
      col("_k1").cast("bigint").as("k_a"),
      col("_k2").cast("bigint").as("k_b"),
      when(col("_t1") > 0, round(r1, 6)).cast("double").as("rate_a"),
      when(col("_t2") > 0, round(r2, 6)).cast("double").as("rate_b"),
      when(col("_t1") > 0 && col("_t2") > 0 && r2 > 0.0,
        round(r1 / r2, 6)).cast("double").as("ratio"),
      when(col("_t1") > 0 && col("_t2") > 0
          && (col("_k1") > 0 || col("_k2") > 0),
        round((r1 - r2) / se, 6)).cast("double").as("z"))
  }

  /** Two-sample Hotelling T² on two covariates — the MULTIVARIATE
    * mean-difference test (two Welch/Student t's on correlated
    * metrics double-count their shared variance and miss differences
    * that only show jointly; T² tests the mean VECTOR once):
    * T² = n₁n₂/(n₁+n₂)·d′S_p⁻¹d with the pooled covariance
    * S_p = ((n₁−1)S₁+(n₂−1)S₂)/(n₁+n₂−2), and the exact-F transform
    * F = (n−p−1)/(p(n−2))·T² (p = 2) for the decision.
    *
    * Exactness: values quantize to 1e6-scaled longs, all (co)moment
    * sums are exact decimal integers, the 2×2 inverse is the
    * closed-form adjugate/det tree, T²/F one rounded expression each
    * (scale cancels: d carries 1e6, S_p carries 1e12). Exactly two
    * groups loud; singular pooled covariance (collinear covariates)
    * reports NULL visibly. One group aggregate.
    * Output: (group_a, group_b, n_a, n_b, t2, f).
    */
  def hotellingT2(df: DataFrame, groupCol: String, x1Col: String,
      x2Col: String): DataFrame = {
    val rows = df.filter(col(groupCol).isNotNull && col(x1Col).isNotNull
        && col(x2Col).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(x1Col) * 1e6).cast("long").as("_a"),
        round(col(x2Col) * 1e6).cast("long").as("_b"))
    val nGroups = rows.select("_g").distinct().limit(3).count()
    require(nGroups == 2,
      s"hotellingT2: exactly 2 groups required, got $nGroups")
    def m(a: String, b: String) =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val agg = rows.groupBy("_g").agg(count(lit(1)).as("_n"),
      sum(col("_a").cast(dec)).as("_sa"),
      sum(col("_b").cast(dec)).as("_sb"),
      m("_a", "_a").as("_saa"), m("_b", "_b").as("_sbb"),
      m("_a", "_b").as("_sab"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("_g")
    val flat = agg.withColumn("_rn", row_number().over(w))
    def side(i: Int, suffix: String) = flat.filter(col("_rn") === i)
      .select((Seq("_g", "_n", "_sa", "_sb", "_saa", "_sbb", "_sab")
        .map(c => col(c).as(c + suffix))): _*)
    val j = side(1, "1").crossJoin(side(2, "2"))
    def css(n: String, q: String, s1: String, s2: String): Column =
      d(q) - d(s1) * d(s2) / d(n)
    // pooled covariance entries ×(n1+n2−2); the common factor cancels
    // against itself inside d'S⁻¹d via det/adjugate, so spell T² on
    // the SUMMED corrected cross-products directly
    val sxx = css("_n1", "_saa1", "_sa1", "_sa1") +
      css("_n2", "_saa2", "_sa2", "_sa2")
    val syy = css("_n1", "_sbb1", "_sb1", "_sb1") +
      css("_n2", "_sbb2", "_sb2", "_sb2")
    val sxy = css("_n1", "_sab1", "_sa1", "_sb1") +
      css("_n2", "_sab2", "_sa2", "_sb2")
    val nn = d("_n1") + d("_n2")
    val da = d("_sa1") / d("_n1") - d("_sa2") / d("_n2")
    val db = d("_sb1") / d("_n1") - d("_sb2") / d("_n2")
    val det = sxx * syy - sxy * sxy
    // d' Sp^-1 d with Sp = CSS/(n-2): = (n-2) · d' CSS^-1 d
    val quad = (da * (syy * da - sxy * db)
      + db * (sxx * db - sxy * da)) / det
    val t2 = d("_n1") * d("_n2") / nn * (nn - 2.0) * quad
    val f = (nn - 3.0) / (lit(2.0) * (nn - 2.0)) * t2
    val ok = col("_n1") >= 2 && col("_n2") >= 2 && det > 0.0
    j.select(col("_g1").as("group_a"), col("_g2").as("group_b"),
      col("_n1").cast("bigint").as("n_a"),
      col("_n2").cast("bigint").as("n_b"),
      when(ok, round(t2, 6)).cast("double").as("t2"),
      when(ok && nn > 3.0, round(f, 6)).cast("double").as("f"))
  }

  /** TOST equivalence test for two PROPORTIONS — "are the conversion
    * rates the same to within δ" (the ship/no-ship question A/B
    * significance cannot answer: failing to reject ≠ equivalent):
    * two one-sided z's against the ±δ margins on the unpooled
    * standard error, z_lower = (p̂₁−p̂₂+δ)/se, z_upper =
    * (δ−(p̂₁−p̂₂))/se; equivalence at level α needs BOTH > z_{1−α},
    * so the reported z_tost = min(z_lower, z_upper) is the single
    * decision number — the proportion sibling of the means-based
    * L315 TOST.
    *
    * Exactness: exact integer counts; p̂'s at 12 dp; se and the z's
    * closed-form rounded trees; NULL z when either arm is empty or
    * se = 0 (both rates degenerate). Exactly two groups loud.
    * Output: (group_a, group_b, n_a, k_a, n_b, k_b, diff, z_lower,
    * z_upper, z_tost).
    */
  def tostProportions(df: DataFrame, groupCol: String, succCol: Column,
      delta: Double): DataFrame = {
    require(delta > 0.0 && delta < 1.0,
      s"tostProportions: delta in (0,1), got $delta")
    val rows = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"),
        when(succCol, 1L).otherwise(0L).as("_k"))
    val nGroups = rows.select("_g").distinct().limit(3).count()
    require(nGroups == 2,
      s"tostProportions: exactly 2 groups required, got $nGroups")
    val agg = rows.groupBy("_g")
      .agg(count(lit(1)).as("_n"), sum("_k").as("_sk"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("_g")
    val flat = agg.withColumn("_rn", row_number().over(w))
    val a = flat.filter(col("_rn") === 1)
      .select(col("_g").as("group_a"), col("_n").as("_n1"),
        col("_sk").as("_k1"))
    val b = flat.filter(col("_rn") === 2)
      .select(col("_g").as("group_b"), col("_n").as("_n2"),
        col("_sk").as("_k2"))
    val p1 = round(d("_k1") / d("_n1"), 12)
    val p2 = round(d("_k2") / d("_n2"), 12)
    val se = sqrt(p1 * (lit(1.0) - p1) / d("_n1")
      + p2 * (lit(1.0) - p2) / d("_n2"))
    val diff = p1 - p2
    val ok = col("_n1") >= 1 && col("_n2") >= 1 && se > 0.0
    a.crossJoin(b).select(col("group_a"), col("group_b"),
      col("_n1").cast("bigint").as("n_a"),
      col("_k1").cast("bigint").as("k_a"),
      col("_n2").cast("bigint").as("n_b"),
      col("_k2").cast("bigint").as("k_b"),
      round(diff, 6).cast("double").as("diff"),
      when(ok, round((diff + delta) / se, 6))
        .cast("double").as("z_lower"),
      when(ok, round((lit(delta) - diff) / se, 6))
        .cast("double").as("z_upper"),
      when(ok, round(least((diff + delta) / se,
        (lit(delta) - diff) / se), 6))
        .cast("double").as("z_tost"))
  }

  /** Gumbel extreme-value fit by method of moments + return levels —
    * "how bad is the 1-in-T worst day" capacity planning (peak load,
    * max latency, flood-style tail questions on block maxima): with
    * sample mean x̄ and sd s over the per-block maxima, β̂ = s√6/π,
    * μ̂ = x̄ − γβ̂ (γ the Euler–Mascheroni constant), and the
    * T-period return level x_T = μ̂ − β̂·ln(−ln(1 − 1/T)) — the level
    * exceeded once per T blocks on average. Complements L170's Hill
    * index (tail SHAPE) with actionable levels.
    *
    * Exactness: block maxima quantize at 1e6, mean/sd from exact
    * decimal sums (sample n−1), μ̂/β̂ frozen at 6 dp before the
    * return-level tree; one rounded expression per level. Degenerate
    * groups (n < 2, zero variance) NULL visibly.
    *
    * Scale shape: one group aggregate over the block-maxima frame
    * (block reduction is the caller's groupBy — day/shard grain) +
    * a broadcast of the return-period list.
    * Output: (group..., n, mu, beta, return_period, return_level).
    */
  def gumbelReturnLevels(df: DataFrame, groupCols: Seq[String],
      valueCol: String, periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      s"gumbelReturnLevels: periods must be >= 2, got $periods")
    val gamma = 0.5772156649015329
    val gcols = groupCols.map(col)
    val pts = df.filter(col(valueCol).isNotNull)
      .select((gcols :+ round(col(valueCol) * 1e6).cast("long").as("_x")): _*)
    val grouped =
      if (groupCols.isEmpty) pts.groupBy() else pts.groupBy(gcols: _*)
    val sums = grouped.agg(count(lit(1)).as("_n"),
      sum(col("_x").cast(dec)).as("_sx"),
      sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_sxx"))
    val nd = col("_n").cast("double")
    val mean = d("_sx") / nd / 1e6
    val varS = (d("_sxx") - d("_sx") * d("_sx") / nd)
      .cast("double") / (nd - 1.0) / 1e12
    val betaHat = round(sqrt(varS) * math.sqrt(6.0) / math.Pi, 6)
    val muHat = round(mean - lit(gamma) * betaHat, 6)
    val fitted = sums
      .withColumn("_beta", when(col("_n") >= 2 && varS > 0.0, betaHat))
      .withColumn("_mu", when(col("_n") >= 2 && varS > 0.0, muHat))
    val pList = periods.map(t => struct(lit(t).as("_t")))
    fitted
      .withColumn("_p", explode(array(pList: _*)))
      .select((gcols :+ col("_n").cast("bigint").as("n") :+
        col("_mu").cast("double").as("mu") :+
        col("_beta").cast("double").as("beta") :+
        col("_p._t").cast("bigint").as("return_period") :+
        round(col("_mu") - col("_beta")
          * log(-log(lit(1.0) - lit(1.0) / col("_p._t").cast("double"))),
          6).cast("double").as("return_level")): _*)
  }

  /** Chapman capture–recapture population estimate — "how many are
    * there in TOTAL when we only ever see samples" (true user
    * population from two overlapping observation windows, remaining
    * duplicate count from two dedup methods' catches, species-style
    * coverage of any enumeration): with n₁ marked in sample 1, n₂ in
    * sample 2, m in both, N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (Chapman's
    * bias-corrected Lincoln–Petersen, defined even at m = 0) and its
    * classical variance (n₁+1)(n₂+1)(n₁−m)(n₂−m)/((m+1)²(m+2)).
    *
    * Exactness: exact distinct-id counts (three semi-joinable set
    * sizes from one aggregate over the deduplicated (id, in1, in2)
    * frame); N̂/se one rounded tree each. Assumes closed population +
    * independent samples — the caller's design contract, documented
    * not checked. Output one row: (n1, n2, m, n_hat, se).
    */
  def captureRecapture(df: DataFrame, idCol: String, sample1: Column,
      sample2: Column): DataFrame = {
    val marks = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("_id"),
        when(sample1, 1).otherwise(0).as("_s1"),
        when(sample2, 1).otherwise(0).as("_s2"))
      .groupBy("_id")
      .agg(max("_s1").as("_in1"), max("_s2").as("_in2"))
    val agg = marks.agg(
      sum(col("_in1").cast("long")).as("_n1"),
      sum(col("_in2").cast("long")).as("_n2"),
      sum(when(col("_in1") === 1 && col("_in2") === 1, 1L)
        .otherwise(0L)).as("_m"))
    val nHat = (d("_n1") + 1.0) * (d("_n2") + 1.0) / (d("_m") + 1.0) - 1.0
    val varHat = (d("_n1") + 1.0) * (d("_n2") + 1.0) *
      (d("_n1") - d("_m")) * (d("_n2") - d("_m")) /
      ((d("_m") + 1.0) * (d("_m") + 1.0) * (d("_m") + 2.0))
    agg.select(col("_n1").cast("bigint").as("n1"),
      col("_n2").cast("bigint").as("n2"),
      col("_m").cast("bigint").as("m"),
      when(col("_n1") > 0 && col("_n2") > 0, round(nHat, 6))
        .cast("double").as("n_hat"),
      when(col("_n1") > 0 && col("_n2") > 0 && varHat >= 0.0,
        round(sqrt(varHat), 6)).cast("double").as("se"))
  }

  /** Two-way fixed-effects (within) estimator — the workhorse of
    * modern panel DiD (L229's 2×2 DiD generalized to many units ×
    * many periods with staggered exposure): demean y and x by UNIT
    * and TIME (ẍ = x − x̄_i − x̄_t + x̄), then β = Σẍÿ/Σẍ² — unit
    * effects soak up "who", time effects soak up "when", β is the
    * within-variation slope; se from SSE/(n − N − T + 1) over Σẍ²
    * (the classical homoscedastic within se; cluster-robust variants
    * compose downstream).
    *
    * Determinism: values quantize to 1e6-scaled longs; unit/time/
    * grand means are exact-decimal sums divided once and FROZEN at
    * 12 dp; demeaned products freeze at 12 dp into order-free decimal
    * sums; β/se/t are closed-form rounded trees. Degenerate panels
    * (no within variance, df ≤ 0) report NULL visibly.
    *
    * Scale shape: three mean aggregates (unit-, time-, grand-) joined
    * back (unit/time tables are entity-sized; grand is one broadcast
    * row) + one product aggregate — no windows.
    * Output one row: (n, n_units, n_times, beta, se, t).
    */
  def twoWayFixedEffects(df: DataFrame, unitCol: String, timeCol: String,
      yCol: String, xCol: String): DataFrame = {
    val pts = df.filter(col(yCol).isNotNull && col(xCol).isNotNull
        && col(unitCol).isNotNull && col(timeCol).isNotNull)
      .select(col(unitCol).as("_u"), col(timeCol).as("_t"),
        round(col(yCol) * 1e6).cast("long").as("_y"),
        round(col(xCol) * 1e6).cast("long").as("_x"))
      .localCheckpoint() // three mean passes + the product pass
    def means(key: String, ym: String, xm: String) =
      pts.groupBy(col(key)).agg(
        round(sum(col("_y").cast(dec)).cast("double")
          / count(lit(1)).cast("double") / 1e6, 12).as(ym),
        round(sum(col("_x").cast(dec)).cast("double")
          / count(lit(1)).cast("double") / 1e6, 12).as(xm))
    val uM = means("_u", "_yu", "_xu")
    val tM = means("_t", "_yt", "_xt")
    val gM = pts.agg(
      round(sum(col("_y").cast(dec)).cast("double")
        / count(lit(1)).cast("double") / 1e6, 12).as("_yg"),
      round(sum(col("_x").cast(dec)).cast("double")
        / count(lit(1)).cast("double") / 1e6, 12).as("_xg"),
      countDistinct("_u").as("_nu"), countDistinct("_t").as("_nt"))
    val dm = pts.join(uM, "_u").join(tM, "_t").crossJoin(broadcast(gM))
      .withColumn("_dy", col("_y").cast("double") / 1e6
        - col("_yu") - col("_yt") + col("_yg"))
      .withColumn("_dx", col("_x").cast("double") / 1e6
        - col("_xu") - col("_xt") + col("_xg"))
    val sums = dm.agg(count(lit(1)).as("n"),
      max("_nu").as("_nu"), max("_nt").as("_nt"),
      sum(round(col("_dx") * col("_dx"), 12).cast(dec12)).as("_sxx"),
      sum(round(col("_dx") * col("_dy"), 12).cast(dec12)).as("_sxy"),
      sum(round(col("_dy") * col("_dy"), 12).cast(dec12)).as("_syy"))
    val beta = d("_sxy") / d("_sxx")
    val dof = col("n").cast("double") - d("_nu") - d("_nt") + 1.0 - 1.0
    val sse = d("_syy") - beta * d("_sxy")
    val se = sqrt(sse / dof / d("_sxx"))
    val ok = d("_sxx") > 0.0
    sums.select(col("n").cast("bigint").as("n"),
      col("_nu").cast("bigint").as("n_units"),
      col("_nt").cast("bigint").as("n_times"),
      when(ok, round(beta, 6)).cast("double").as("beta"),
      when(ok && dof > 0.0 && sse > 0.0, round(se, 6))
        .cast("double").as("se"),
      when(ok && dof > 0.0 && sse > 0.0, round(beta / se, 6))
        .cast("double").as("t"))
  }

  /** Mixture SPRT (mSPRT) with ALWAYS-VALID p-values — the modern
    * continuous-monitoring sequential test behind "peek whenever you
    * like" experimentation platforms (L155's classic SPRT needs a
    * pre-chosen alternative; the normal-mixture prior integrates it
    * out): after n ordered observations with running sum S,
    * ln Λ_n = ½·ln(σ²/(σ² + nτ²)) + τ²S²/(2σ²(σ² + nτ²)) against
    * H₀: μ = μ₀, and the always-valid p_n = min(1, 1/max_{m≤n} Λ_m)
    * is a supermartingale bound — valid at EVERY look, no alpha
    * spending. σ² and τ² are caller-supplied (historical variance and
    * prior scale — the platform pattern); μ₀ is the tested value.
    *
    * Determinism: observations quantize to 1e6-scaled longs,
    * cumulative n/S ride exact decimal window sums over the caller's
    * order column (day-grain in the judged use — calendar-bounded
    * windows, not a scale hazard), ln Λ freezes at 12 dp before the
    * running max, p is one rounded exp. Scale shape: one repartition
    * by group + two ordered windows — the EWMA cost class.
    * Output per (group, order): (group, order, n, lambda_ln,
    * p_always_valid).
    */
  def msprt(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, mu0: Double, sigma2: Double,
      tau2: Double): DataFrame = {
    require(sigma2 > 0.0, s"msprt: sigma2 must be > 0, got $sigma2")
    require(tau2 > 0.0, s"msprt: tau2 must be > 0, got $tau2")
    val w = Window.partitionBy("_g").orderBy("_o")
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        round((col(valueCol) - mu0) * 1e6).cast("long").as("_x"))
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_s", sum(col("_x").cast(dec)).over(w))
    val nd = d("_n")
    val sd = d("_s") / 1e6
    val denom = lit(sigma2) + nd * tau2
    val lnl = round(lit(0.5) * log(lit(sigma2) / denom)
      + lit(tau2) * sd * sd / (lit(2.0) * sigma2 * denom), 12)
    val scored = pts.withColumn("_lnl", lnl)
      .withColumn("_mx", max("_lnl").over(w))
    scored.select(col("_g").as(groupCol), col("_o").as(orderCol),
      col("_n").cast("bigint").as("n"),
      col("_lnl").cast("double").as("lambda_ln"),
      round(least(lit(1.0), exp(-col("_mx"))), 6)
        .cast("double").as("p_always_valid"))
  }

  /** Kendall's coefficient of concordance W — "how much do the m
    * raters AGREE on the ranking of the n items" (annotator panels,
    * metric ensembles, repeated benchmark runs): the effect-size
    * companion to [[friedman]]'s significance (W = χ²_F/(m(n−1))
    * without ties — spec-pinned identity), tie-corrected:
    * W = (12ΣR_i² − 3m²n(n+1)²) / (m²n(n²−1) − m·ΣT_b),
    * T_b = Σ(t³−t) over each rater's tie groups.
    *
    * Exactness: [[friedman]]'s prep verbatim (loud duplicate guard,
    * complete blocks only, doubled integer midranks); ΣR², ΣT fold in
    * decimal(38,0) (R_i = R2_i/2 — the /4 descales in the tree); W is
    * one rounded double, NULL when the denominator vanishes (every
    * rater ties everything). Output: (n_blocks, k, w).
    */
  def kendallW(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val ranked = friedmanRanked(df, blockCol, treatCol, valueCol)
      .localCheckpoint() // item sums + per-block tie sums re-read it
    val perT = ranked.groupBy("_i")
      .agg(sum(col("_m2").cast(dec)).as("_r2"), count(lit(1)).as("_nb"))
    val itemStats = perT.agg(max("_nb").as("_m"), count(lit(1)).as("_k"),
      sum((col("_r2") * col("_r2")).cast(dec)).as("_sr2q"))
    val ties = ranked.groupBy("_b", "_v").agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum((col("_t").cast(dec) * col("_t") * col("_t")
        - col("_t")).cast(dec)), lit(0L).cast(dec)).as("_st"))
    val m = d("_m")
    val k = d("_k")
    val num = lit(12.0) * (d("_sr2q") / 4.0) -
      lit(3.0) * m * m * k * (k + 1.0) * (k + 1.0)
    val den = m * m * k * (k * k - 1.0) - m * d("_st")
    itemStats.crossJoin(broadcast(ties))
      .select(col("_m").cast("bigint").as("n_blocks"),
        col("_k").cast("bigint").as("k"),
        when(col("_m") >= 1 && den > 0.0, round(num / den, 6))
          .cast("double").as("w"))
  }

  /** Benjamini–Yekutieli step-up — [[fdrBh]] for batteries whose
    * tests are ARBITRARILY dependent (BH's guarantee needs
    * independence or positive dependence; correlated KS screens over
    * overlapping slices are exactly the arbitrary case): the same
    * ascending-(p, id) rank walk with the threshold deflated by the
    * harmonic factor c(m) = Σ_{i≤m} 1/i — reject up to the largest k
    * with p_(k)·m·c(m) ≤ k·α. c(m) is computed from the battery's own
    * ranks (Σ 1/rank over the window — the ranks ARE 1..m), frozen at
    * 12 dp; no per-row sequence materializes. Same battery contract
    * as [[fdrBh]] (one row per TEST, loud NULLs, `maxTests`-guarded
    * single-partition rank). Output: input + rank, m, cm,
    * significant.
    */
  def fdrBy(df: DataFrame, pCol: String, idCols: Seq[String],
      alpha: Double, maxTests: Int = 100000): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha must be in (0,1)")
    require(idCols.nonEmpty, "fdrBy needs tiebreak id columns")
    require(maxTests >= 1, s"maxTests=$maxTests must be >= 1")
    val guarded = df.withColumn(pCol,
      when(col(pCol).isNull, raise_error(
        lit("fdrBy: NULL p-value in the battery"))).otherwise(col(pCol)))
    val w = Window.orderBy(col(pCol) +: idCols.map(col): _*)
    val all = Window.partitionBy()
    guarded
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("m",
        when(count(lit(1)).over(all) > maxTests, raise_error(lit(
          s"fdrBy: battery exceeds $maxTests tests — this operator " +
            "ranks ONE row per test on a single partition; aggregate " +
            "upstream or raise maxTests knowingly")).cast("long"))
          .otherwise(count(lit(1)).over(all)))
      .withColumn("cm",
        round(sum(lit(1.0) / col("rank").cast("double")).over(all), 12))
      .withColumn("_kmax",
        max(when(col(pCol) * col("m").cast("double") * col("cm")
            <= col("rank").cast("double") * alpha, col("rank"))).over(all))
      .withColumn("significant",
        coalesce(col("rank") <= col("_kmax"), lit(false)))
      .drop("_kmax")
  }

  /** Negative-binomial (NB2) moment fit per group — "is this count
    * column Poisson or genuinely clumpy": mean and sample variance
    * from exact integer power sums, then the NB2 dispersion
    * α̂ = (s² − x̄)/x̄² (Var = μ + αμ² ⇒ α̂ is the method-of-moments
    * estimator; α ≤ 0 reads as at-most-Poisson), the variance ratio
    * s²/x̄, and the overdispersion verdict — the distributional
    * sibling of L347's beta-binomial (proportions there, raw counts
    * here). Counts must be non-negative integers (loud otherwise).
    *
    * Determinism: S1/S2 fold as decimal(38,0) (exact, order-free);
    * every output is one closed-form double tree rounded at 6 dp;
    * degenerate groups (n < 2, x̄ = 0) report NULL rather than a
    * division artifact. One hash aggregate, scan-dominated.
    * Output: (group, n, mean, variance, dispersion, var_ratio,
    * overdispersed).
    */
  def negbinFit(df: DataFrame, groupCol: String, countCol: String)
      : DataFrame = {
    val x = col(countCol)
    val guarded = when(x.isNull || x < 0 || x =!= x.cast("long"),
      raise_error(lit("negbinFit: counts must be non-negative integers")))
      .otherwise(x.cast("long"))
    val agg = df.select(col(groupCol).as("_g"), guarded.as("_x"))
      .groupBy("_g")
      .agg(count(lit(1)).as("n"),
        sum(col("_x").cast(dec)).as("_s1"),
        // cast BEFORE squaring: Long*Long silently overflows above
        // ~3.04e9 counts; decimal*long keeps the square exact
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_s2"))
    val nD = col("n").cast("double")
    val mean = d("_s1") / nD
    val variance = (d("_s2") - d("_s1") * d("_s1") / nD) / (nD - 1.0)
    agg.select(col("_g").as(groupCol), col("n"),
      round(mean, 6).cast("double").as("mean"),
      when(col("n") >= 2, round(variance, 6)).cast("double").as("variance"),
      when(col("n") >= 2 && mean > 0.0,
        round((variance - mean) / (mean * mean), 6))
        .cast("double").as("dispersion"),
      when(col("n") >= 2 && mean > 0.0, round(variance / mean, 6))
        .cast("double").as("var_ratio"),
      when(col("n") >= 2 && mean > 0.0, variance > mean)
        .as("overdispersed"))
  }

  /** Cochrane–Orcutt AR(1) feasible GLS per group — the trend fit
    * that stays honest when residuals are serially correlated (the
    * L250 HAC row fixes the SE; this one fixes the ESTIMATE): OLS of
    * y on x, lag-1 residual autocorrelation ρ̂ = Σe_t·e_{t−1}/Σe²_{t−1}
    * over the (orderCol, order tiebreak) total order, then OLS on the
    * quasi-differenced pairs (y_t − ρ̂y_{t−1}, x_t − ρ̂x_{t−1}) with
    * the intercept rescaled by 1/(1−ρ̂).
    *
    * Determinism: x/y freeze at 6 dp; each OLS folds 12-dp-rounded
    * Sx/Sy/Sxx/Sxy terms in decimal(38,12) (order-free) with the
    * closed-form slope/intercept trees rounded at 12; ρ̂'s products
    * are likewise 12-dp decimal folds. Scale shape: two aggregate
    * passes + one lag window per group + a broadcast params join —
    * nothing quadratic, nothing collected. Output: (group, n,
    * alpha_ols, beta_ols, rho, alpha_fgls, beta_fgls); groups with
    * n < 3 or degenerate variance report NULL estimates.
    */
  def cochraneOrcutt(df: DataFrame, groupCol: String, orderCol: String,
      xCol: String, yCol: String): DataFrame = {
    val rows = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull
        && col(orderCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        round(col(xCol).cast("double"), 6).as("_x"),
        round(col(yCol).cast("double"), 6).as("_y"))
      .localCheckpoint() // OLS1, residual window, OLS2 all re-read it
    def ols(pts: DataFrame, xc: String, yc: String, tag: String)
        : DataFrame = pts
      .withColumn("_tx", round(col(xc), 12).cast(dec12))
      .withColumn("_ty", round(col(yc), 12).cast(dec12))
      .withColumn("_txx", round(col(xc) * col(xc), 12).cast(dec12))
      .withColumn("_txy", round(col(xc) * col(yc), 12).cast(dec12))
      .groupBy("_g")
      .agg(count(lit(1)).as(s"_n$tag"), sum("_tx").as("_sx"),
        sum("_ty").as("_sy"), sum("_txx").as("_sxx"),
        sum("_txy").as("_sxy"))
      .select(col("_g"), col(s"_n$tag"),
        {
          val n = col(s"_n$tag").cast("double")
          val den = n * d("_sxx") - d("_sx") * d("_sx")
          val beta = (n * d("_sxy") - d("_sx") * d("_sy")) / den
          when(col(s"_n$tag") >= 2 && den > 0.0, round(beta, 12))
            .as(s"_b$tag")
        },
        {
          val n = col(s"_n$tag").cast("double")
          val den = n * d("_sxx") - d("_sx") * d("_sx")
          val beta = (n * d("_sxy") - d("_sx") * d("_sy")) / den
          when(col(s"_n$tag") >= 2 && den > 0.0,
            round((d("_sy") - round(beta, 12) * d("_sx")) / n, 12))
            .as(s"_a$tag")
        })
    val o1 = ols(rows, "_x", "_y", "1")
    val wLag = Window.partitionBy("_g").orderBy(col("_o"))
    val resid = rows.join(broadcast(o1), "_g")
      .withColumn("_e", round(col("_y") - (col("_a1") + col("_b1")
        * col("_x")), 12))
      .withColumn("_el", lag(col("_e"), 1).over(wLag))
      .withColumn("_xl", lag(col("_x"), 1).over(wLag))
      .withColumn("_yl", lag(col("_y"), 1).over(wLag))
      .localCheckpoint()
    val rho2 = resid.filter(col("_el").isNotNull)
      .withColumn("_num", round(col("_e") * col("_el"), 12).cast(dec12))
      .withColumn("_dd", round(col("_el") * col("_el"), 12).cast(dec12))
      .groupBy("_g")
      .agg(sum("_num").as("_rn"), sum("_dd").as("_rd"))
      .select(col("_g"),
        when(d("_rd") > 0.0, round(d("_rn") / d("_rd"), 12)).as("_rho"))
    val star = resid.join(broadcast(rho2), "_g")
      .filter(col("_el").isNotNull && col("_rho").isNotNull)
      .withColumn("_xs", col("_x") - col("_rho") * col("_xl"))
      .withColumn("_ys", col("_y") - col("_rho") * col("_yl"))
    val o2 = ols(star, "_xs", "_ys", "2")
    o1.join(rho2, Seq("_g"), "left").join(o2, Seq("_g"), "left")
      .select(col("_g").as(groupCol),
        col("_n1").cast("bigint").as("n"),
        round(col("_a1"), 6).cast("double").as("alpha_ols"),
        round(col("_b1"), 6).cast("double").as("beta_ols"),
        round(col("_rho"), 6).cast("double").as("rho"),
        when(col("_rho").isNotNull && col("_rho") =!= 1.0,
          round(col("_a2") / (lit(1.0) - col("_rho")), 6))
          .cast("double").as("alpha_fgls"),
        round(col("_b2"), 6).cast("double").as("beta_fgls"))
  }

  /** Synthetic-control gap analysis (Abadie et al., the comparative
    * case study standard): the treated unit's counterfactual is an
    * OLS combination of 3 DONOR units fitted on the PRE-treatment
    * window ([[linearFitMulti3]] verbatim — quantized exact power
    * sums, 3×3 Cramer, 6-dp coefficients), projected over the whole
    * timeline; gap = actual − synthetic, and the post-period gaps ARE
    * the effect series a DiD can't give when parallel trends fail.
    * OLS weights (unconstrained, with intercept) are the regression
    * flavor of synthetic control — documented choice: the simplex-
    * constrained original needs QP, and the regression variant
    * (Doudchenko–Imbens) is the standard relaxation.
    *
    * Determinism: the fit inherits linearFitMulti3's contract; the
    * projection is one literal-free broadcast of the 4-coefficient
    * row; outputs 6-dp. Scale: the per-unit series join is
    * time-keyed; nothing collected. Output: (timeCol, actual,
    * synthetic, gap, post) over times where all four units report.
    */
  def synthControl(df: DataFrame, unitCol: String, timeCol: String,
      valueCol: String, treated: String, donors: Seq[String],
      treatStart: String): DataFrame = {
    require(donors.size == 3,
      s"synthControl: exactly 3 donors, got ${donors.size}")
    require(!donors.contains(treated),
      "synthControl: the treated unit cannot be its own donor")
    val base = df.select(col(unitCol).cast("string").as("_u"),
      col(timeCol).as("_t"), col(valueCol).cast("double").as("_v"))
    def ser(u: String, out: String): DataFrame =
      base.filter(col("_u") === u).select(col("_t"), col("_v").as(out))
    val wide = ser(treated, "_y")
      .join(ser(donors(0), "_d1"), Seq("_t"))
      .join(ser(donors(1), "_d2"), Seq("_t"))
      .join(ser(donors(2), "_d3"), Seq("_t"))
      .localCheckpoint() // the fit and the projection both read it
    val cut = to_date(lit(treatStart))
    val fit = linearFitMulti3(
        wide.filter(col("_t") < cut).withColumn("_g", lit("pre")),
        "_g", Seq("_d1", "_d2", "_d3"), "_y")
      .select(col("b0"), col("b1"), col("b2"), col("b3"))
    val synth = col("b0") + col("b1") * col("_d1") +
      col("b2") * col("_d2") + col("b3") * col("_d3")
    wide.crossJoin(broadcast(fit))
      .select(col("_t").as(timeCol),
        round(col("_y"), 6).cast("double").as("actual"),
        round(synth, 6).cast("double").as("synthetic"),
        round(col("_y") - synth, 6).cast("double").as("gap"),
        (col("_t") >= cut).as("post"))
  }

  /** Disproportionality panel (PRR / ROR with 95% CI) per item — the
    * pharmacovigilance signal-detection standard applied to any
    * (item, flagged-outcome) table: returns by brand, errors by
    * endpoint, complaints by SKU. For item i with a = flagged-in-i,
    * b = unflagged-in-i, c = flagged-elsewhere, d = unflagged-
    * elsewhere: PRR = (a/(a+b))/(c/(c+d)), ROR = ad/bc, and the
    * classical ln-scale CI exp(ln PRR ± z·√(1/a − 1/(a+b) + 1/c −
    * 1/(c+d))) — z interpolated from the one pinned [[MdeZ]]
    * constant. Exact integer cells from one aggregate + a one-row
    * totals broadcast; every estimate a rounded closed-form tree;
    * degenerate cells (any of a,b,c,d = 0) report NULL rather than
    * ±∞. Output: (item, n, n_flagged, prr, ror, prr_lo, prr_hi).
    */
  def prrPanel(df: DataFrame, itemCol: String, flagged: Column)
      : DataFrame = {
    val z = MdeZ(("alpha", 0.05))
    val cells = df.select(col(itemCol).as("_i"),
        when(coalesce(flagged, lit(false)), 1L).otherwise(0L).as("_f"))
      .groupBy("_i")
      .agg(count(lit(1)).as("_n"), sum("_f").as("_a"))
    val tot = cells.agg(sum("_n").as("_tn"), sum("_a").as("_ta"))
    def d(c: Column): Column = c.cast("double")
    val a = d(col("_a"))
    val b = d(col("_n") - col("_a"))
    val c0 = d(col("_ta") - col("_a"))
    val dd = d(col("_tn") - col("_n") - (col("_ta") - col("_a")))
    val prr = (a / (a + b)) / (c0 / (c0 + dd))
    val ror = a * dd / (b * c0)
    val se = sqrt(lit(1.0) / a - lit(1.0) / (a + b)
      + lit(1.0) / c0 - lit(1.0) / (c0 + dd))
    val ok = col("_a") > 0 && (col("_n") - col("_a")) > 0 &&
      (col("_ta") - col("_a")) > 0 &&
      (col("_tn") - col("_n") - (col("_ta") - col("_a"))) > 0
    cells.crossJoin(broadcast(tot))
      .select(col("_i").as(itemCol),
        col("_n").cast("bigint").as("n"),
        col("_a").cast("bigint").as("n_flagged"),
        when(ok, round(prr, 6)).cast("double").as("prr"),
        when(ok, round(ror, 6)).cast("double").as("ror"),
        when(ok, round(exp(log(prr) - lit(z) * se), 6))
          .cast("double").as("prr_lo"),
        when(ok, round(exp(log(prr) + lit(z) * se), 6))
          .cast("double").as("prr_hi"))
  }

  /** Westgard multi-rule QC flags per series — the clinical-lab
    * control-chart rulebook run over any metric stream (data-quality
    * monitors, SLO screens): each point's z-score against ITS series'
    * full-run mean/sd, then the five classic rules as pure window
    * logic — 1_3s (|z|>3), 2_2s (two consecutive beyond 2 on the SAME
    * side), R_4s (consecutive opposite 2σ excursions), 4_1s (four
    * consecutive beyond 1 on the same side), 10x (ten consecutive on
    * one side of the mean).
    *
    * Determinism: values freeze at 6 dp into exact decimal power
    * sums; z freezes at 6 dp, so every rule compares a frozen value
    * to an integer literal; run-length rules are rolling-window
    * counts that require a FULL frame (early rows can't fire them).
    * Scale shape: one stats aggregate + a broadcast join + one
    * ordered window per series. Output: (group, order, value, z,
    * r_13s, r_22s, r_4s, r_41s, r_10x) — z NULL (rules false) when
    * the series sd degenerates.
    */
  def westgardRules(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val dec6 = "decimal(38,6)"
    val rows = df
      .filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        round(col(valueCol).cast("double"), 6).as("_v"))
    val stats = rows
      .withColumn("_v1", col("_v").cast(dec6))
      .withColumn("_v2", round(col("_v") * col("_v"), 12).cast(dec12))
      .groupBy("_g")
      .agg(count(lit(1)).as("_n"), sum("_v1").as("_s1"),
        sum("_v2").as("_s2"))
    val nD = col("_n").cast("double")
    val mean = d("_s1") / nD
    val variance = (d("_s2") - d("_s1") * d("_s1") / nD) / (nD - 1.0)
    val withZ = rows.join(broadcast(stats), "_g")
      .withColumn("_sd",
        when(col("_n") >= 2 && variance > 0.0, round(sqrt(variance), 6)))
      .withColumn("_z",
        when(col("_sd").isNotNull,
          round((col("_v") - round(mean, 6)) / col("_sd"), 6)))
    val w = Window.partitionBy("_g").orderBy(col("_o"))
    def back(k: Int) = Window.partitionBy("_g").orderBy(col("_o"))
      .rowsBetween(-(k - 1), 0)
    val z = col("_z")
    val z1 = lag(col("_z"), 1).over(w)
    withZ
      .withColumn("_p4", sum(when(z > 1.0, 1).otherwise(0)).over(back(4)))
      .withColumn("_n4", sum(when(z < -1.0, 1).otherwise(0)).over(back(4)))
      .withColumn("_p10", sum(when(z > 0.0, 1).otherwise(0)).over(back(10)))
      .withColumn("_n10", sum(when(z < 0.0, 1).otherwise(0)).over(back(10)))
      .withColumn("_c4", count(z).over(back(4)))
      .withColumn("_c10", count(z).over(back(10)))
      .select(col("_g").as(groupCol), col("_o").as(orderCol),
        col("_v").cast("double").as("value"),
        z.cast("double").as("z"),
        coalesce(abs(z) > 3.0, lit(false)).as("r_13s"),
        coalesce((z > 2.0 && z1 > 2.0) || (z < -2.0 && z1 < -2.0),
          lit(false)).as("r_22s"),
        coalesce((z > 2.0 && z1 < -2.0) || (z < -2.0 && z1 > 2.0),
          lit(false)).as("r_4s"),
        (col("_c4") === 4 && (col("_p4") === 4 || col("_n4") === 4))
          .as("r_41s"),
        (col("_c10") === 10 && (col("_p10") === 10 || col("_n10") === 10))
          .as("r_10x"))
  }
  /** Bilateral price indices (Laspeyres / Paasche / Fisher) between
    * two periods over the COMMON item basket — the econ-standard
    * answer to "how much did prices move, holding the basket fixed":
    * L = Σp₁q₀/Σp₀q₀ (base-period basket), P = Σp₁q₁/Σp₀q₁
    * (current basket), F = √(L·P) (the superlative compromise).
    * Items missing from either period drop (reported), the classic
    * matched-model rule.
    *
    * Determinism: per-(item, period) unit prices are exact decimal
    * sums / counts rounded 6; quantities exact longs; every index
    * term p·q rounds at 12 dp into order-free decimal(38,12) folds;
    * the indices are single rounded divisions (√ IEEE). One
    * (item, period) aggregate + one item-keyed self-join, basket-
    * bounded. Output: one row — (n_items, laspeyres, paasche,
    * fisher).
    */
  def priceIndex(df: DataFrame, itemCol: String, periodCol: String,
      priceCol: String, qtyCol: String): DataFrame = {
    val cells = df
      .filter(col(priceCol).isNotNull && col(qtyCol).isNotNull)
      .select(col(itemCol).as("_i"), col(periodCol).cast("int").as("_p"),
        round(col(priceCol).cast("double"), 6).cast("decimal(38,6)")
          .as("_pr"),
        col(qtyCol).cast("long").as("_q"))
      .groupBy("_i", "_p")
      .agg(round(sum("_pr").cast("double") / count(lit(1)).cast("double"),
        6).as("_price"), sum("_q").as("_qty"))
    val p0 = cells.filter(col("_p") === 0)
      .select(col("_i"), col("_price").as("_p0"), col("_qty").as("_q0"))
    val p1 = cells.filter(col("_p") === 1)
      .select(col("_i"), col("_price").as("_p1"), col("_qty").as("_q1"))
    val joined = p0.join(p1, Seq("_i"))
    def fold(a: Column, b: Column): Column =
      sum(round(a * b.cast("double"), 12).cast(dec12))
    val agg = joined.agg(count(lit(1)).as("n_items"),
      fold(col("_p1"), col("_q0")).as("_l1"),
      fold(col("_p0"), col("_q0")).as("_l0"),
      fold(col("_p1"), col("_q1")).as("_pa1"),
      fold(col("_p0"), col("_q1")).as("_pa0"))
    val lasp = d("_l1") / d("_l0")
    val paas = d("_pa1") / d("_pa0")
    agg.select(col("n_items").cast("bigint").as("n_items"),
      when(d("_l0") > 0.0, round(lasp, 6)).cast("double").as("laspeyres"),
      when(d("_pa0") > 0.0, round(paas, 6)).cast("double").as("paasche"),
      when(d("_l0") > 0.0 && d("_pa0") > 0.0,
        round(sqrt(lasp * paas), 6)).cast("double").as("fisher"))
  }

  /** SEASONAL Mann–Kendall trend test — [[mannKendall]] restricted to
    * within-season pairs (Hirsch–Slack): a weekly cycle makes the
    * plain test see oscillation as noise (or worse, as trend); the
    * seasonal variant compares each epoch-day cell only against cells
    * of the SAME season (day-of-week here), S = Σ_s S_s and
    * Var = Σ_s Var_s, z with the usual continuity correction.
    * Same quantized exact integer cells, per-season tie correction,
    * the same maxPoints guard. Output: (group, n_days, n_seasons, s,
    * var_s, z).
    */
  def mannKendallSeasonal(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String, period: Int = 7, maxPoints: Int = 2000)
      : DataFrame = {
    require(period >= 2 && period <= 366,
      s"mannKendallSeasonal: period in [2, 366], got $period")
    val day = fdiv(unix_timestamp(col(tsCol)), lit(86400L)).cast("long")
    val cellsRaw = df
      .select(col(groupCol).as("_g"), day.as("_day"),
        round(col(valueCol) * 1e6).cast("long").as("_q"))
      .groupBy("_g", "_day").agg(sum("_q").as("_x"))
      .withColumn("_s", pmod(col("_day"), lit(period.toLong)))
    val cells = guardGroupSize(cellsRaw, "_x",
      s"mannKendallSeasonal: group exceeds $maxPoints day cells — " +
        "aggregate to coarser cells before the pairwise stage", maxPoints)
    val a = cells.select(col("_g"), col("_s"), col("_day").as("_d1"),
      col("_x").as("_x1"))
    val b = cells.select(col("_g").as("_g2"), col("_s").as("_s2"),
      col("_day").as("_d2"), col("_x").as("_x2"))
    val sTab = a
      .join(b, col("_g") <=> col("_g2") && col("_s") === col("_s2")
        && col("_d1") < col("_d2"))
      .groupBy(col("_g").as("_gs"))
      .agg(sum(when(col("_x2") > col("_x1"), 1L)
        .when(col("_x2") < col("_x1"), -1L).otherwise(0L))
        .cast(dec).as("_S"))
    val perSeason = cells.groupBy("_g", "_s")
      .agg(count(lit(1)).as("_n"))
    val ties = cells.groupBy(col("_g"), col("_s"), col("_x"))
      .agg(count(lit(1)).as("_t"))
      .groupBy(col("_g").as("_gt"), col("_s").as("_st"))
      .agg(sum((col("_t").cast(dec) * (col("_t") - 1)
        * (col("_t") * 2 + 5)).cast(dec)).as("_T"))
    val varTab = perSeason
      .join(ties, col("_g") <=> col("_gt") && col("_s") <=> col("_st"),
        "left")
      .groupBy(col("_g").as("_gv"))
      .agg(sum(((col("_n").cast(dec) * (col("_n") - 1)
          * (col("_n") * 2 + 5)).cast(dec)
          - coalesce(col("_T"), lit(0).cast(dec))).cast(dec))
        .as("_VN"),
        count(lit(1)).as("_nseason"))
    val nTab = cells.groupBy("_g").agg(count(lit(1)).as("_n"))
    val varS = col("_VN").cast("double") / 18.0
    val sD = col("_S").cast("double")
    nTab
      .join(sTab, col("_g") <=> col("_gs"), "left")
      .join(varTab, col("_g") <=> col("_gv"), "left")
      .select(col("_g").as(groupCol),
        col("_n").cast("bigint").as("n_days"),
        col("_nseason").cast("bigint").as("n_seasons"),
        coalesce(col("_S"), lit(0).cast(dec)).cast("bigint").as("s"),
        round(varS, 6).cast("double").as("var_s"),
        when(varS > 0.0,
          when(col("_S") > 0, round((sD - 1.0) / sqrt(varS), 6))
            .when(col("_S") < 0, round((sD + 1.0) / sqrt(varS), 6))
            .otherwise(lit(0.0)))
          .cast("double").as("z"))
  }
  /** Process-capability indices per series against declared spec
    * limits — the manufacturing/SLO answer to "does this process FIT
    * its tolerance band" (Westgard asks "is it in control"; Cp/Cpk
    * ask whether in-control is good enough): Cp = (USL−LSL)/(6σ),
    * Cpk = min(USL−μ, μ−LSL)/(3σ) — Cp the potential with perfect
    * centering, Cpk the reality. Exact decimal power sums (6-dp
    * values), closed-form trees rounded at 6; degenerate series
    * (n < 2 or σ = 0) report NULL. One aggregate, scan-dominated.
    * Output: (group, n, mean, sd, cp, cpk).
    */
  def processCapability(df: DataFrame, groupCol: String,
      valueCol: String, lsl: Double, usl: Double): DataFrame = {
    require(usl > lsl, s"processCapability: need usl > lsl, got [$lsl, $usl]")
    val dec6 = "decimal(38,6)"
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol).cast("double"), 6).as("_v"))
    val agg = rows
      .withColumn("_v1", col("_v").cast(dec6))
      .withColumn("_v2", round(col("_v") * col("_v"), 12).cast(dec12))
      .groupBy("_g")
      .agg(count(lit(1)).as("_n"), sum("_v1").as("_s1"),
        sum("_v2").as("_s2"))
    val nD = col("_n").cast("double")
    val mean = d("_s1") / nD
    val variance = (d("_s2") - d("_s1") * d("_s1") / nD) / (nD - 1.0)
    val sd = sqrt(variance)
    val ok = col("_n") >= 2 && variance > 0.0
    agg.select(col("_g").as(groupCol), col("_n").cast("bigint").as("n"),
      round(mean, 6).cast("double").as("mean"),
      when(ok, round(sd, 6)).cast("double").as("sd"),
      when(ok, round(lit(usl - lsl) / (lit(6.0) * sd), 6))
        .cast("double").as("cp"),
      when(ok, round(least(lit(usl) - mean, mean - lit(lsl))
        / (lit(3.0) * sd), 6)).cast("double").as("cpk"))
  }

  /** Taguchi capability Cpm — [[processCapability]]'s loss-function
    * member: Cpm = (USL−LSL)/(6·√(σ² + (μ−T)²)) punishes distance
    * from the TARGET T, not just spread (a process sitting dead
    * center of the spec band but off-target reads capable on Cpk and
    * incapable on Cpm — Taguchi's point). Same exact-power-sum
    * machinery: 6-dp values, decimal(38) folds, one rounded tree;
    * the denominator √(σ²+(μ−T)²) is strictly positive whenever
    * n ≥ 2 (a constant-on-target series is the only zero — NULL by
    * contract). Output: (group, n, mean, sd, cpm).
    */
  def taguchiCpm(df: DataFrame, groupCol: String, valueCol: String,
      lsl: Double, usl: Double, target: Double): DataFrame = {
    require(usl > lsl, s"taguchiCpm: need usl > lsl, got [$lsl, $usl]")
    require(target >= lsl && target <= usl,
      s"taguchiCpm: target $target outside [$lsl, $usl]")
    val dec6 = "decimal(38,6)"
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol).cast("double"), 6).as("_v"))
    val agg = rows
      .withColumn("_v1", col("_v").cast(dec6))
      .withColumn("_v2", round(col("_v") * col("_v"), 12).cast(dec12))
      .groupBy("_g")
      .agg(count(lit(1)).as("_n"), sum("_v1").as("_s1"),
        sum("_v2").as("_s2"))
    val nD = col("_n").cast("double")
    val mean = d("_s1") / nD
    val variance = (d("_s2") - d("_s1") * d("_s1") / nD) / (nD - 1.0)
    val tau2 = variance + (mean - lit(target)) * (mean - lit(target))
    val ok = col("_n") >= 2 && tau2 > 0.0
    agg.select(col("_g").as(groupCol), col("_n").cast("bigint").as("n"),
      round(mean, 6).cast("double").as("mean"),
      when(col("_n") >= 2 && variance > 0.0, round(sqrt(variance), 6))
        .cast("double").as("sd"),
      when(ok, round(lit(usl - lsl) / (lit(6.0) * sqrt(tau2)), 6))
        .cast("double").as("cpm"))
  }

  /** Cochran's C homogeneity-of-variances screen: C = max s_i²/Σs_i²
    * over the k group variances — "is ONE group carrying all the
    * noise" (the outlier-variance dual of Bartlett/Brown–Forsythe,
    * which test ANY heterogeneity). The statistic and the offending
    * group are reported; critical values are F-based and stay with
    * the caller (the bowkerTest contract).
    *
    * Per-group variances from exact power sums, frozen at 6 dp
    * BEFORE the max/sum so the argmax is a total order (ties break
    * to the smallest group label); groups with n < 2 or zero
    * variance are excluded from the panel (reported in n_excluded).
    * Output: ONE row (k, c_stat, max_var_group, max_var, n_excluded).
    */
  def cochranC(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val dec6 = "decimal(38,6)"
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("_g"),
        round(col(valueCol).cast("double"), 6).as("_v"))
    val agg = rows
      .withColumn("_v1", col("_v").cast(dec6))
      .withColumn("_v2", round(col("_v") * col("_v"), 12).cast(dec12))
      .groupBy("_g")
      .agg(count(lit(1)).as("_n"), sum("_v1").as("_s1"),
        sum("_v2").as("_s2"))
    val nD = col("_n").cast("double")
    val variance = (d("_s2") - d("_s1") * d("_s1") / nD) / (nD - 1.0)
    val perG = agg
      .withColumn("_var", when(col("_n") >= 2, round(variance, 6)))
      .withColumn("_ok", col("_var").isNotNull && col("_var") > 0.0)
      .localCheckpoint() // totals + the argmax pass both read it
    val tot = perG.agg(
      sum(when(col("_ok"), 1L).otherwise(0L)).as("_k"),
      sum(when(!col("_ok"), 1L).otherwise(0L)).as("_ex"),
      sum(when(col("_ok"), col("_var").cast(dec12))).as("_sv"),
      max(when(col("_ok"), col("_var"))).as("_mv"))
    // explicit smallest-label tie break on the FROZEN max variance
    // (a struct-max would tie toward the largest label and DuckDB's
    // arg_max leaves ties unspecified — both unmirrageable)
    val winner = perG.crossJoin(broadcast(tot))
      .filter(col("_ok") && col("_var") === col("_mv"))
      .agg(min(col("_g")).as("_wg"))
    tot.crossJoin(broadcast(winner))
      .select(col("_k").cast("bigint").as("k"),
        when(col("_k") >= 2,
          round(col("_mv") / col("_sv").cast("double"), 6))
          .cast("double").as("c_stat"),
        when(col("_k") >= 1, col("_wg")).as("max_var_group"),
        when(col("_k") >= 1, col("_mv")).cast("double").as("max_var"),
        col("_ex").cast("bigint").as("n_excluded"))
  }

  /** Herfindahl–Hirschman concentration per group: HHI = Σ_i s_i²
    * over entity shares s_i = v_i/V — "how concentrated is this
    * group's volume among its entities" (1/n diversified … 1
    * monopolized), plus the size-adjusted HHI* = (HHI − 1/n)/(1 − 1/n)
    * that makes groups of different entity counts comparable. The
    * q_gini / q_inequality family's market-structure member.
    *
    * Exactness: entity volumes fold to exact decimal cents;
    * HHI = (Σv_i²)/V² entirely on decimal integers into ONE rounded
    * division (shares never materialize as floats). Non-positive
    * volumes are excluded (shares are undefined — the Theil domain
    * rule). n = 1 → HHI 1, normalized NULL. Output: (group,
    * n_entities, hhi, hhi_normalized).
    */
  def herfindahl(df: DataFrame, groupCol: String, entityCol: String,
      valueCol: String): DataFrame = {
    val ent = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), col(entityCol).as("_e"),
        round(col(valueCol) * 100).cast("long").as("_c"))
      .groupBy("_g", "_e")
      .agg(sum(col("_c").cast(dec)).as("_v"))
      .filter(col("_v") > 0)
    val agg = ent.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_v")).as("_s"),
        sum((col("_v") * col("_v")).cast(dec)).as("_q"))
    val nD = col("_n").cast("double")
    val hhi = round(d("_q") / (d("_s") * d("_s")), 6)
    agg.select(col("_g").as(groupCol),
      col("_n").cast("bigint").as("n_entities"),
      hhi.cast("double").as("hhi"),
      when(col("_n") >= 2,
        round((hhi - lit(1.0) / nD) / (lit(1.0) - lit(1.0) / nD), 6))
        .cast("double").as("hhi_normalized"))
  }

  /** Variance inflation factors for the 3-covariate OLS family — the
    * multicollinearity diagnostic [[linearFitMulti3]]'s users need
    * BEFORE trusting its t-stats: VIF_j = 1/(1−R²_j) with R²_j from
    * regressing covariate j on the other two, all from the SAME nine
    * quantized exact power sums (one aggregate; each auxiliary fit is
    * a closed-form 2×2 Cramer on the centered cross-products).
    * Degenerate auxiliary systems (det ≤ 0, zero target variance, or
    * R² rounding to 1) report NULL. Output: one row per covariate —
    * (covariate, r2, vif).
    */
  def vif3(df: DataFrame, xCols: Seq[String]): DataFrame = {
    require(xCols.size == 3, s"vif3: exactly 3 covariates, got ${xCols.size}")
    val Seq(x1c, x2c, x3c) = xCols
    val rows = df.filter(col(x1c).isNotNull && col(x2c).isNotNull
        && col(x3c).isNotNull)
      .select(round(col(x1c) * 1e6).cast("long").as("_x1"),
        round(col(x2c) * 1e6).cast("long").as("_x2"),
        round(col(x3c) * 1e6).cast("long").as("_x3"))
    def m(a: String, b: String): Column =
      sum((col(a).cast(dec) * col(b)).cast(dec))
    val sums = rows.agg(count(lit(1)).as("n"),
      sum(col("_x1").cast(dec)).as("_s1"),
      sum(col("_x2").cast(dec)).as("_s2"),
      sum(col("_x3").cast(dec)).as("_s3"),
      m("_x1", "_x1").as("_s11"), m("_x2", "_x2").as("_s22"),
      m("_x3", "_x3").as("_s33"), m("_x1", "_x2").as("_s12"),
      m("_x1", "_x3").as("_s13"), m("_x2", "_x3").as("_s23"))
    val nd = col("n").cast("double")
    def cc(sab: String, sa: String, sb: String): Column =
      nd * d(sab) - d(sa) * d(sb)
    val s11 = cc("_s11", "_s1", "_s1")
    val s22 = cc("_s22", "_s2", "_s2")
    val s33 = cc("_s33", "_s3", "_s3")
    val s12 = cc("_s12", "_s1", "_s2")
    val s13 = cc("_s13", "_s1", "_s3")
    val s23 = cc("_s23", "_s2", "_s3")
    // target j on predictors (k, l): 2x2 Cramer, R² = (bk·Skj+bl·Slj)/Sjj
    def one(name: String, sjj: Column, skk: Column, sll: Column,
        skl: Column, skj: Column, slj: Column): DataFrame = {
      val det = skk * sll - skl * skl
      val bk = (skj * sll - slj * skl) / det
      val bl = (skk * slj - skl * skj) / det
      val r2 = (bk * skj + bl * slj) / sjj
      val r2r = round(r2, 6)
      sums.select(lit(name).as("covariate"),
        when(col("n") >= 4 && det > 0.0 && sjj > 0.0, r2r)
          .cast("double").as("r2"),
        when(col("n") >= 4 && det > 0.0 && sjj > 0.0 && r2r < 1.0,
          round(lit(1.0) / (lit(1.0) - r2r), 6))
          .cast("double").as("vif"))
    }
    one(x1c, s11, s22, s33, s23, s12, s13)
      .unionByName(one(x2c, s22, s11, s33, s13, s12, s23))
      .unionByName(one(x3c, s33, s11, s22, s12, s13, s23))
  }
  /** X-bar / R control chart — the classic Shewhart pair beside
    * [[westgardRules]] (z-rules on individuals) and
    * [[processCapability]] (tolerance fit): fixed-size subgroups
    * (the first `sampleN` observations per subgroup under the
    * declared total order; short subgroups drop — a half subgroup
    * has the wrong control constants), subgroup mean and range,
    * center lines x̿ and R̄, limits x̿ ± A2·R̄ and [D3·R̄, D4·R̄]
    * with the CALLER-DECLARED constants for its sampleN (the
    * standard table values are the caller's contract — e.g. n=5:
    * A2=0.577, D3=0, D4=2.114).
    *
    * Determinism: values freeze at 6 dp; subgroup means are exact
    * decimal sums / sampleN; ranges exact; center lines are exact
    * decimal means of the 6-dp-frozen statistics; every limit one
    * rounded tree; flags compare frozen values. Output: (group,
    * subgroup, xbar, r, ucl_x, lcl_x, ucl_r, lcl_r, out_x, out_r).
    */
  def xbarRChart(df: DataFrame, groupCol: String, subgroupCol: String,
      orderCols: Seq[String], valueCol: String, sampleN: Int,
      a2: Double, d3: Double, d4: Double): DataFrame = {
    require(sampleN >= 2 && sampleN <= 25,
      s"xbarRChart: sampleN in [2, 25], got $sampleN")
    require(orderCols.nonEmpty, "xbarRChart needs order columns")
    val dec6 = "decimal(38,6)"
    val w = Window.partitionBy(col(groupCol), col(subgroupCol))
      .orderBy(orderCols.map(col): _*)
    val sample = df.filter(col(valueCol).isNotNull)
      .withColumn("_v", round(col(valueCol).cast("double"), 6))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= sampleN)
    val subs = sample
      .groupBy(col(groupCol).as("_g"), col(subgroupCol).as("_sg"))
      .agg(count(lit(1)).as("_n"),
        round(sum(col("_v").cast(dec6)).cast("double") / sampleN, 6)
          .as("_xbar"),
        round(max(col("_v")) - min(col("_v")), 6).as("_r"))
      .filter(col("_n") === sampleN)
      .localCheckpoint() // center lines + the chart both read it
    val centers = subs.groupBy("_g")
      .agg(count(lit(1)).as("_k"),
        sum(col("_xbar").cast(dec6)).as("_sx"),
        sum(col("_r").cast(dec6)).as("_sr"))
      .select(col("_g"),
        round(col("_sx").cast("double") / col("_k").cast("double"), 6)
          .as("_xbb"),
        round(col("_sr").cast("double") / col("_k").cast("double"), 6)
          .as("_rb"))
    val uclX = round(col("_xbb") + lit(a2) * col("_rb"), 6)
    val lclX = round(col("_xbb") - lit(a2) * col("_rb"), 6)
    val uclR = round(lit(d4) * col("_rb"), 6)
    val lclR = round(lit(d3) * col("_rb"), 6)
    subs.join(broadcast(centers), "_g")
      .select(col("_g").as(groupCol), col("_sg").as(subgroupCol),
        col("_xbar").cast("double").as("xbar"),
        col("_r").cast("double").as("r"),
        uclX.cast("double").as("ucl_x"), lclX.cast("double").as("lcl_x"),
        uclR.cast("double").as("ucl_r"), lclR.cast("double").as("lcl_r"),
        (col("_xbar") > uclX || col("_xbar") < lclX).as("out_x"),
        (col("_r") > uclR || col("_r") < lclR).as("out_r"))
  }

  /** One-sweep MEDIAN POLISH of a two-way grid (Tukey): row effects =
    * row medians, column effects = column medians of the row-centered
    * residuals, cell residual = value − row − col — the robust
    * two-way decomposition that shrugs off the outlier cells a
    * mean-based ANOVA table smears everywhere. One sweep is the
    * judged fixed-iteration contract (full polish iterates to
    * convergence; the first sweep already carries the diagnostic
    * signal and is deterministic).
    *
    * Determinism: cell values freeze at 6 dp; medians are the exact
    * interpolated order statistics both engines share (the
    * q_rolling_median precedent); every effect/residual re-freezes at
    * 6 dp. Two median aggregates + two broadcast joins, grid-sized.
    * Output: (rowCol, colCol, value, row_effect, col_effect,
    * residual).
    */
  def medianPolish(df: DataFrame, rowCol: String, colCol: String,
      valueCol: String): DataFrame = {
    val cells = df
      .filter(col(valueCol).isNotNull)
      .select(col(rowCol).as("_r"), col(colCol).as("_c"),
        round(col(valueCol).cast("double"), 6).as("_v"))
    // the EXACT interpolated median (percentile, not percentile_approx
    // — approx would break oracle parity; grid rows are small by
    // construction, so the value-buffering cost is bounded)
    val rowEffExact = cells.groupBy("_r")
      .agg(round(expr("percentile(_v, 0.5)"), 6).as("_re"))
    val centered = cells.join(broadcast(rowEffExact), "_r")
      .withColumn("_d", round(col("_v") - col("_re"), 6))
    val colEff = centered.groupBy("_c")
      .agg(round(expr("percentile(_d, 0.5)"), 6).as("_ce"))
    centered.join(broadcast(colEff), "_c")
      .select(col("_r").as(rowCol), col("_c").as(colCol),
        col("_v").cast("double").as("value"),
        col("_re").cast("double").as("row_effect"),
        col("_ce").cast("double").as("col_effect"),
        round(col("_d") - col("_ce"), 6).cast("double").as("residual"))
  }
  /** Hurst exponent by rescaled-range (R/S) analysis per series — the
    * long-memory diagnostic (H ≈ 0.5 random walk, > 0.5 persistent
    * trends, < 0.5 mean-reverting) capacity planners and anomaly
    * tuners read before trusting any extrapolation: for each declared
    * window size w, split the series into FULL consecutive w-blocks,
    * per block R = range of the cumulative mean-deviations and S the
    * population sd, average the 6-dp R/S ratios per w, and H = the
    * OLS slope of ln(R/S) on ln(w) over the declared scales (ln w
    * interpolated as Scala-computed literal digits — identical on
    * both engines).
    *
    * Determinism: values freeze at 6 dp; block sums fold exact
    * decimals; cumulative deviations are 12-dp closed trees off the
    * exact running sum; every ratio/effect re-freezes (6 dp) before
    * the next stage; the final slope folds 12-dp decimal terms.
    * Zero-sd blocks drop; scales whose mean R/S degenerates to ≤ 0
    * drop (reported via n_scales); < 2 surviving scales → NULL H.
    * Scale shape: per window size one block aggregate + one in-block
    * running window + one per-series fold — series-bounded, nothing
    * collected. Output: (group, n_scales, hurst).
    */
  def hurstRS(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, windows: Seq[Int] = Seq(5, 10, 15)): DataFrame = {
    require(windows.size >= 2 && windows.distinct.size == windows.size
        && windows.forall(_ >= 4),
      s"hurstRS: need >= 2 distinct window sizes >= 4, got $windows")
    val dec6 = "decimal(38,6)"
    val base = df.filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(col(groupCol).as("_g"), col(orderCol).as("_o"),
        round(col(valueCol).cast("double"), 6).as("_x"))
      .withColumn("_i", row_number().over(
        Window.partitionBy("_g").orderBy("_o")))
      .localCheckpoint() // every window size re-reads it
    val perW = windows.map { w =>
      val wD = w.toDouble
      val blocks = base.withColumn("_b", ((col("_i") - 1) / w).cast("long"))
      val wIn = Window.partitionBy("_g", "_b").orderBy("_i")
      val stats = blocks
        .withColumn("_x1", col("_x").cast(dec6))
        .withColumn("_x2", round(col("_x") * col("_x"), 12).cast(dec12))
        .groupBy("_g", "_b")
        .agg(count(lit(1)).as("_n"), sum("_x1").as("_s1"),
          sum("_x2").as("_s2"))
        .filter(col("_n") === w)
        .select(col("_g"), col("_b"),
          round(d("_s1") / lit(wD), 6).as("_mu"),
          {
            val v = (d("_s2") - d("_s1") * d("_s1") / lit(wD)) / lit(wD)
            when(v > 0.0, round(sqrt(v), 6)).as("_sd")
          })
      val rs = blocks
        .join(stats, Seq("_g", "_b"))
        .withColumn("_run", sum(col("_x").cast(dec6)).over(wIn))
        .withColumn("_k", row_number().over(wIn))
        .withColumn("_cum",
          round(col("_run").cast("double") - col("_k") * col("_mu"), 12))
        .groupBy("_g", "_b")
        .agg(max("_cum").as("_mx"), min("_cum").as("_mn"),
          max("_sd").as("_sdv"))
        .filter(col("_sdv").isNotNull)
        .withColumn("_rs", round((col("_mx") - col("_mn")) / col("_sdv"), 6))
      rs.groupBy("_g")
        .agg(round(sum(col("_rs").cast(dec6)).cast("double")
          / count(lit(1)).cast("double"), 6).as("_mrs"))
        .select(col("_g"), lit(math.log(wD)).as("_lnw"), col("_mrs"))
    }.reduce(_ unionByName _)
    perW.filter(col("_mrs") > 0.0)
      .withColumn("_lnrs", round(log(col("_mrs")), 12))
      .withColumn("_tx", round(col("_lnw"), 12).cast(dec12))
      .withColumn("_ty", round(col("_lnrs"), 12).cast(dec12))
      .withColumn("_txx", round(col("_lnw") * col("_lnw"), 12).cast(dec12))
      .withColumn("_txy", round(col("_lnw") * col("_lnrs"), 12).cast(dec12))
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_scales"), sum("_tx").as("_sx"),
        sum("_ty").as("_sy"), sum("_txx").as("_sxx"),
        sum("_txy").as("_sxy"))
      .select(col(groupCol), col("n_scales").cast("bigint").as("n_scales"),
        {
          val n = col("n_scales").cast("double")
          val den = n * d("_sxx") - d("_sx") * d("_sx")
          when(col("n_scales") >= 2 && den > 0.0,
            round((n * d("_sxy") - d("_sx") * d("_sy")) / den, 6))
            .cast("double").as("hurst")
        })
  }
  /** TWO-LEVEL BINARY SEGMENTATION — the changepoint HIERARCHY over
    * [[breakpointScan]]'s single split (the classic binseg recursion
    * at a FIXED depth, the judged fixed-iteration contract): find the
    * best split of the whole binned series, then the best split of
    * EACH resulting segment, all from ONE set of prefix sums (a
    * segment's OLS cost is a closed form of two prefix rows, so level
    * 2 re-reads the same cumulative table — no re-scan of the data).
    * Same per-segment cost (least-squares residual, mean-only
    * fallback on constant x) and the same (gain DESC, bin ASC)
    * argmax; a side splits only when its parent holds ≥ 4 rows and
    * both children are non-empty.
    *
    * Determinism: the [[breakpointScan]] contract verbatim (quantized
    * exact decimal sums, 6-dp-frozen gains/costs, total-order
    * argmaxes). Scale shape: one cell aggregate + one prefix window +
    * two winner windows — bins-bounded everywhere. Output: up to 3
    * rows per group — (group, segment ∈ 'all'|'left'|'right', n_seg,
    * edge, threshold, gain); 'all' always present (NULL edge when
    * degenerate, the breakpointScan rule), sides only when they can
    * split.
    */
  def binarySegmentation(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, bins: Int): DataFrame = {
    require(bins >= 4 && bins <= 4096, s"bins=$bins must be in [4, 4096]")
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(xCol) * 1e6).cast("long").as("_x"),
        round(col(yCol) * 1e6).cast("long").as("_yv"))
    val edges = pts.groupBy("_g")
      .agg(min("_x").as("_lo"), max("_x").as("_hi"),
        count(lit(1)).as("_ng"))
    val cells = pts.join(broadcast(edges), Seq("_g"))
      .withColumn("_q",
        when(col("_hi") > col("_lo"),
          least(floor((col("_x") - col("_lo")).cast("double") * bins
            / (col("_hi") - col("_lo")).cast("double")), lit(bins - 1)))
          .otherwise(lit(0)).cast("long"))
      .groupBy("_g", "_q")
      .agg(count(lit(1)).as("_n"),
        sum(col("_x").cast(dec)).as("_sx"),
        sum(col("_yv").cast(dec)).as("_sy"),
        sum((col("_x").cast(dec) * col("_x")).cast(dec)).as("_sxx"),
        sum((col("_yv").cast(dec) * col("_yv")).cast(dec)).as("_syy"),
        sum((col("_x").cast(dec) * col("_yv")).cast(dec)).as("_sxy"))
    val wCum = Window.partitionBy("_g").orderBy("_q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("_g")
    def cum(c: String) = sum(col(c)).over(wCum).as(c + "l")
    def tot(c: String) = sum(col(c)).over(wAll).as(c + "t")
    val withCums = cells.select(
      (Seq(col("_g"), col("_q")) ++
        Seq("_n", "_sx", "_sy", "_sxx", "_syy", "_sxy").map(cum) ++
        Seq("_n", "_sx", "_sy", "_sxx", "_syy", "_sxy").map(tot)): _*)
      .localCheckpoint() // both levels read it
    // segment OLS cost from raw segment sums (mean-only on constant x)
    def cost(n: Column, sx: Column, sy: Column, sxx: Column,
        syy: Column, sxy: Column): Column = {
      val nd = n.cast("double")
      val cxx = nd * sxx.cast("double") - sx.cast("double") * sx.cast("double")
      val cyy = nd * syy.cast("double") - sy.cast("double") * sy.cast("double")
      val cxy = nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")
      when(n >= 2 && cxx > 0.0, (cyy - cxy * cxy / cxx) / (nd * nd))
        .when(n >= 1, cyy / (nd * nd))
        .otherwise(lit(0.0))
    }
    def seg(names: Seq[(Column, Column)]): Column = {
      val Seq(n, sx, sy, sxx, syy, sxy) =
        names.map { case (a, b) => a - b }
      cost(n, sx, sy, sxx, syy, sxy)
    }
    def pair(suffA: String, suffB: String): Seq[(Column, Column)] =
      Seq("_n", "_sx", "_sy", "_sxx", "_syy", "_sxy")
        .map(c => (col(c + suffA), col(c + suffB)))
    val costL = cost(col("_nl"), col("_sxl"), col("_syl"),
      col("_sxxl"), col("_syyl"), col("_sxyl"))
    val costR = seg(pair("t", "l"))
    val costT = cost(col("_nt"), col("_sxt"), col("_syt"),
      col("_sxxt"), col("_syyt"), col("_sxyt"))
    val wBest = Window.partitionBy("_g")
      .orderBy(col("_gain").desc, col("_q").asc)
    val l1 = withCums
      .filter(col("_q") < bins - 1 && col("_nl") < col("_nt"))
      .withColumn("_gain", round(costT - costL - costR, 6))
      .withColumn("_rk", row_number().over(wBest))
      .filter(col("_rk") === 1)
      .select(col("_g"), col("_q").as("_q1"), col("_gain").as("_g1"),
        col("_nl").as("_n1"), col("_sxl").as("_sx1"),
        col("_syl").as("_sy1"), col("_sxxl").as("_sxx1"),
        col("_syyl").as("_syy1"), col("_sxyl").as("_sxy1"))
      .localCheckpoint() // both level-2 sides read it
    def thr(q: Column): Column =
      round((col("_lo").cast("double") / 1e6)
        + (q + 1).cast("double")
          * ((col("_hi") - col("_lo")).cast("double") / 1e6) / bins, 6)
    val allRow = edges.join(l1, Seq("_g"), "left")
      .select(col("_g").as(groupCol), lit("all").as("segment"),
        col("_ng").cast("bigint").as("n_seg"),
        when(col("_g1").isNotNull && col("_ng") >= 4
            && col("_hi") > col("_lo"), col("_q1") + 1)
          .cast("bigint").as("edge"),
        when(col("_g1").isNotNull && col("_ng") >= 4
            && col("_hi") > col("_lo"), thr(col("_q1")))
          .cast("double").as("threshold"),
        when(col("_g1").isNotNull && col("_ng") >= 4
            && col("_hi") > col("_lo"), round(col("_g1") / 1e12, 6))
          .cast("double").as("gain"))
    val joined = withCums.join(broadcast(l1), Seq("_g"))
      .join(broadcast(edges), Seq("_g"))
    // LEFT side: parent = prefix at q1; children = prefix(q),
    // prefix(q1) − prefix(q)
    val parentL = cost(col("_n1"), col("_sx1"), col("_sy1"),
      col("_sxx1"), col("_syy1"), col("_sxy1"))
    val subLL = costL
    val subLR = seg(pair("1", "l"))
    val wSide = Window.partitionBy("_g")
      .orderBy(col("_gain").desc, col("_q").asc)
    val left = joined
      .filter(col("_q") < col("_q1") && col("_nl") < col("_n1")
        && col("_n1") >= 4)
      .withColumn("_gain", round(parentL - subLL - subLR, 6))
      .withColumn("_rk", row_number().over(wSide))
      .filter(col("_rk") === 1)
      .select(col("_g").as(groupCol), lit("left").as("segment"),
        col("_n1").cast("bigint").as("n_seg"),
        (col("_q") + 1).cast("bigint").as("edge"),
        thr(col("_q")).cast("double").as("threshold"),
        round(col("_gain") / 1e12, 6).cast("double").as("gain"))
    // RIGHT side: parent = total − prefix(q1); children =
    // prefix(q) − prefix(q1), total − prefix(q)
    val parentR = seg(pair("t", "1"))
    val subRL = seg(pair("l", "1"))
    val subRR = seg(pair("t", "l"))
    val right = joined
      .filter(col("_q") > col("_q1") && col("_q") < bins - 1
        && col("_nl") < col("_nt") && col("_nl") > col("_n1")
        && (col("_nt") - col("_n1")) >= 4)
      .withColumn("_gain", round(parentR - subRL - subRR, 6))
      .withColumn("_rk", row_number().over(wSide))
      .filter(col("_rk") === 1)
      .select(col("_g").as(groupCol), lit("right").as("segment"),
        (col("_nt") - col("_n1")).cast("bigint").as("n_seg"),
        (col("_q") + 1).cast("bigint").as("edge"),
        thr(col("_q")).cast("double").as("threshold"),
        round(col("_gain") / 1e12, 6).cast("double").as("gain"))
    allRow.unionByName(left).unionByName(right)
  }
}
