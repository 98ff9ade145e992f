package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `rand()`-based sampling is non-reproducible across retries and
  * speculative tasks (a re-executed partition draws different rows) —
  * unacceptable when the sample defines a training set. These
  * operators hash a STABLE key instead: the same row is in or out of
  * the sample on every run, every retry, every cluster, and the
  * decision is a pure per-row expression (codegen'd, no shuffle, no
  * state, trivially pushable below later joins).
  */
object Sampling {

  /** In-sample predicate: keep rows whose seeded key-hash lands in the
    * first `fraction` of the 64-bit range. xxhash64 is uniform enough
    * that realized fractions track requested ones at ~1/sqrt(n) error.
    */
  def hashSample(keyCol: Column, fraction: Double, seed: Long = 42L): Column = {
    require(fraction >= 0.0 && fraction <= 1.0)
    // map hash to [0,1): (h / 2^64) + 0.5 keeps full 64-bit entropy
    (xxhash64(keyCol, lit(seed)) / lit(2.0 * Long.MaxValue) + lit(0.5)) < fraction
  }

  /** Uniform deterministic sample by key. */
  def sample(df: DataFrame, keyCol: String, fraction: Double,
      seed: Long = 42L): DataFrame =
    df.filter(hashSample(col(keyCol), fraction, seed))

  /** Stratified deterministic sample: per-stratum fractions, rows in
    * unlisted strata are dropped. One pass, no shuffle — the fraction
    * lookup is a broadcast-free CASE chain (strata counts are small by
    * definition).
    */
  def stratified(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
    require(fractions.nonEmpty)
    val frac = fractions.toSeq.sortBy(_._1)
      .foldRight(lit(0.0): Column) { case ((stratum, f), acc) =>
        when(col(strataCol) === stratum, lit(f)).otherwise(acc)
      }
    df.filter(
      (xxhash64(col(keyCol), lit(seed)) / lit(2.0 * Long.MaxValue) + lit(0.5)) < frac)
  }

  /** Engine-portable stratified sample: [[stratified]]'s per-stratum
    * keep/drop over the md5 [[portableUnit]] draw instead of xxhash64,
    * so a DuckDB oracle replays every decision exactly. Prefer dyadic
    * fractions (0.5/0.25): exact doubles on both engines. Same scale
    * shape — a pure per-row predicate at the scan, pushable, no
    * shuffle; rows in unlisted strata drop.
    */
  def stratifiedPortable(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.nonEmpty)
    val frac = fractions.toSeq.sortBy(_._1)
      .foldRight(lit(0.0): Column) { case ((stratum, f), acc) =>
        when(col(strataCol) === stratum, lit(f)).otherwise(acc)
      }
    df.filter(portableUnit(col(keyCol)) < frac)
  }

  /** EXACT-count deterministic sampling: exactly floor(frac·n) rows
    * per group — Bernoulli draws ([[stratifiedPortable]]) realize the
    * fraction only in expectation; quota-driven pipelines ("exactly
    * 10% of each source into the eval set") need the count pinned.
    * Composition: [[keepTopQuantile]] ordered by the engine-portable
    * md5 uniform — a stable random permutation per group, so the kept
    * SET is deterministic, retry-stable, and oracle-replayable. One
    * per-group window sort, the same shape as any per-key top-k.
    */
  def sampleExactFraction(df: DataFrame, groupCols: Seq[String],
      keyCol: String, frac: Double): DataFrame =
    keepTopQuantile(df, groupCols, portableUnit(col(keyCol)), keyCol, frac)

  /** Deterministic shard assignment: every row gets a stable shard id
    * in [0, nShards) from the md5-portable draw of its key — the
    * split that lets N training workers each read "their" slice with
    * no coordination, stable across runs/retries/layouts and balanced
    * to ~1/sqrt(rows-per-shard). A pure per-row projection at the
    * scan; pair with a partitioned write to materialize shard files.
    */
  def assignShards(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards must be >= 1")
    df.withColumn("shard",
      (conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
        .cast("long") % nShards).cast("int"))
  }

  /** Rendezvous (highest-random-weight) shard assignment — the
    * RESHARD-STABLE alternative to [[assignShards]]'s modulo: each key
    * goes to argmax over shards of the md5-portable draw of
    * "key|shard". Growing nShards → nShards+1 moves only the keys
    * whose NEW shard wins (≈ 1/(nShards+1) of them) — modulo reshuffles
    * ~all keys, invalidating every shard-local cache/index; HRW is how
    * cache rings and shard maps grow in place (Thaler–Ravishankar).
    * Deterministic, coordination-free, portable: the oracle replays
    * the identical md5 draws. Ties (md5 collisions across the shard
    * fan of one key) break toward the LOWEST shard id, making argmax
    * total.
    *
    * Scale shape: one per-row fan-out of nShards md5 evaluations
    * composed as a greatest-of-structs expression at the scan — no
    * explode, no join, no shuffle; nShards is bounded (≤ 1024) by
    * contract.
    */
  def assignShardsHrw(df: DataFrame, keyCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1 && nShards <= 1024,
      s"nShards=$nShards must be in [1, 1024] (per-row fan of md5 draws)")
    def draw(s: Int): Column =
      conv(substring(md5(concat(col(keyCol).cast("string"),
        lit(s"|$s"))), 1, 15), 16, 10).cast("long")
    // argmax via greatest over (draw, -shard) structs: struct ordering
    // compares fields in order, so equal draws pick the LOWER shard id
    if (nShards == 1) df.withColumn("shard", lit(0))
    else {
      val packed = (0 until nShards).map(s =>
        struct(draw(s).as("_d"), lit(-s).as("_ns")))
      df.withColumn("shard",
        (-greatest(packed: _*).getField("_ns")).cast("int"))
    }
  }

  /** Token-budget selection: walk each group in `orderCol` order and
    * keep rows while the EXCLUSIVE running token sum stays under
    * `budgetTokens` — "fill a 10B-token mix from ranked docs", the
    * quota its sibling [[sampleExactFraction]] expresses in rows
    * restated in tokens. The first row to cross the budget is KEPT
    * (every group overshoots by less than one document; dropping it
    * would instead undershoot — pick one, document it, make the oracle
    * replay it). `tieCol` (unique per group) makes the walk order
    * TOTAL — the (scoreCol, tieCol) contract of [[keepTopQuantile]]:
    * without it, equal `orderCol` values would make the running sum
    * and hence the kept set partitioning-dependent. One per-group
    * window sort, the packByOffset shape; groups fill independently,
    * so the walk parallelizes across groups at any scale.
    */
  def takeTokenBudget(df: DataFrame, groupCols: Seq[String],
      orderCol: String, tieCol: String, tokenCount: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens=$budgetTokens must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(orderCol), col(tieCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val Seq(run) = Cols.fresh("budget", 1, df)
    df.withColumn(run, coalesce(sum(tokenCount.cast("long")).over(w), lit(0L)))
      .filter(col(run) < budgetTokens)
      .drop(run)
  }

  /** Deterministic per-key cap: keep at most `k` rows per key group —
    * the "at most k docs per domain" balancing rule of web-corpus
    * pipelines. Rows are ranked by seeded hash of the id (a stable
    * uniform shuffle within each key; id tie-breaks make rank total),
    * so the SAME k rows survive on every run and retry. One shuffle on
    * the key columns — identical shape to any per-key top-k.
    */
  def capPerKey(df: DataFrame, keyCols: Seq[String], idCol: String,
      k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
    // collision-free internal rank column
    val Seq(rk) = Cols.fresh("cap_rk", 1, df)
    df.withColumn(rk, row_number().over(w))
      .filter(col(rk) <= k)
      .drop(rk)
  }

  /** Quality-quantile curation: keep the top `keepFrac` of each group
    * by `scoreCol` — the "keep the best X% per language/source by
    * classifier score" step of corpus curation. Exact semantics: a row
    * survives iff its cumulative distribution position in the
    * (score DESC, tieCol) order is <= keepFrac; `tieCol` (unique)
    * makes the order total, so the kept set is deterministic and the
    * kept count per group is exactly floor(keepFrac * n).
    *
    * Scale shape: one hash exchange + per-group sort (the window).
    * Groups here are corpus strata (languages, sources) — few and
    * large — so the sort is the honest cost; for groups too large to
    * sort, [[keepTopQuantileApprox]] trades exactness for a
    * threshold-filter shape with NO sort.
    */
  def keepTopQuantile(df: DataFrame, groupCols: Seq[String],
      scoreCol: Column, tieCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, "keepFrac must be in (0,1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(scoreCol.desc, col(tieCol))
    val Seq(cd) = Cols.fresh("cume", 1, df)
    df.withColumn(cd, cume_dist().over(w))
      .filter(col(cd) <= keepFrac)
      .drop(cd)
  }

  /** The 100 TB variant of [[keepTopQuantile]]: per-group
    * `approx_percentile` threshold (bounded-memory Greenwald-Khanna
    * sketch) broadcast back, then a map-side `score >= threshold`
    * filter — two scans, ZERO sorts, and the kept fraction is
    * keepFrac ± the sketch's rank error. Mirrors the
    * winsorize/winsorizeApprox dual-path precedent.
    */
  def keepTopQuantileApprox(df: DataFrame, groupCols: Seq[String],
      scoreCol: Column, keepFrac: Double, accuracy: Int = 10000): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, "keepFrac must be in (0,1]")
    val Seq(thr) = Cols.fresh("thr", 1, df)
    val thresholds = df.groupBy(groupCols.map(col): _*)
      .agg(approx_percentile(scoreCol, lit(1.0 - keepFrac), lit(accuracy)).as(thr))
    df.join(broadcast(thresholds), groupCols)
      .filter(scoreCol >= col(thr))
      .drop(thr)
  }

  /** Engine-portable uniform [0,1) from a stable key: the first 15 hex
    * chars of md5 read as a 60-bit integer, over 2^60. md5 is a
    * function BOTH Spark and DuckDB compute identically (the
    * simHashPortable pattern), so sampling decisions made with this
    * can be restated exactly in a DuckDB oracle; 2^60 is a power of
    * two, so the division is exact IEEE in both engines. The xxhash64
    * predicates above are faster (one vectorized kernel, no digest
    * allocation) — use them when no oracle needs to replay the draw.
    */
  def portableUnit(keyCol: Column): Column =
    conv(substring(md5(keyCol.cast("string")), 1, 15), 16, 10)
      .cast("long") / lit(1152921504606846976.0) // 2^60

  private val md5Digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** The 60-bit integer [[portableUnit]] reads from md5(`key`) — the
    * first 15 hex digits are the top 60 bits of the digest's first 8
    * bytes — for driver code that replays the draw; over 2^60 it is
    * the unit itself. */
  def portableBits(key: String): Long =
    java.nio.ByteBuffer.wrap(md5Digest.get().digest(
      key.getBytes(java.nio.charset.StandardCharsets.UTF_8))).getLong >>> 4

  /** Deterministic weighted corpus mixture — the training-data mixing
    * step: keep each source's rows with probability = its weight, tag
    * provenance in `tagCol`, and union by name. The draw hashes
    * (source-name, key) so the same key in two sources is decided
    * INDEPENDENTLY per source (hashing the key alone would correlate
    * the draws: a doc kept in one source would always be kept in the
    * other at a lower weight). Seedless and key-stable: identical
    * mixture on every run, retry, and cluster.
    *
    * Scale shape: the per-source decision is a pure per-row predicate
    * evaluated at each source's scan (pushable, no shuffle, no
    * driver-side state); the union is plan-level only. At 100 TB each
    * corpus is scanned exactly once with its filter inlined.
    */
  def mixCorpora(sources: Seq[(String, DataFrame, Double)], keyCol: String,
      tagCol: String = "corpus"): DataFrame = {
    require(sources.nonEmpty, "mixCorpora needs at least one source")
    require(sources.map(_._1).distinct.size == sources.size,
      "mixCorpora source names must be distinct (they seed the draws)")
    sources.map { case (name, df, w) =>
      require(w >= 0.0 && w <= 1.0, s"weight for '$name' must be in [0,1], got $w")
      require(!df.columns.contains(tagCol),
        s"source '$name' already has a '$tagCol' column — withColumn would " +
          "silently overwrite it; pass a different tagCol")
      df.filter(portableUnit(concat(lit(s"$name:"), col(keyCol).cast("string"))) < w)
        .withColumn(tagCol, lit(name))
    }.reduce(_.unionByName(_))
  }

  /** Temperature-based multinomial sampling weights over corpus groups
    * — the multilingual / multi-source rebalancing step (the α-scaled
    * sampling of mBERT/mT5): a group with n_g rows gets draw
    * probability w_g = n_g^α / Σ_s n_s^α. α=1 is proportional (head
    * groups dominate), α→0 is uniform (tail groups oversampled);
    * `epochs` = w_g·N/n_g is how many passes over group g one
    * N-row-total draw implies — the number a curation pipeline checks
    * against its repetition budget before committing to a mixture.
    *
    * Scale shape: ONE count shuffle over the corpus; everything after
    * is group-cardinality-sized with the two scalar totals attached as
    * an in-plan one-row broadcast (no driver collect, no second scan).
    */
  def temperatureWeights(df: DataFrame, groupCol: String, alpha: Double,
      weightCol: String = "weight", epochsCol: String = "epochs"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha (1 = proportional, ->0 = uniform)")
    require(!Seq("n", weightCol, epochsCol).contains(groupCol),
      s"groupCol '$groupCol' collides with an output column (n/$weightCol/$epochsCol)")
    require(weightCol != epochsCol && weightCol != "n" && epochsCol != "n",
      s"output columns must be distinct: n/$weightCol/$epochsCol")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("n"))
    // Internal one-row-aggregate names via Cols.fresh (repo convention):
    // a groupCol literally named _z0/_total-style must not collide.
    val Seq(zc, totc) = Cols.fresh("twtmp", 2, counts)
    val totals = counts.agg(
      sum(pow(col("n"), alpha)).as(zc),
      sum(col("n")).cast("double").as(totc))
    counts.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n"),
        (pow(col("n"), alpha) / col(zc)).as(weightCol),
        (pow(col("n"), alpha) / col(zc) * col(totc) / col("n"))
          .as(epochsCol))
  }

  /** Deterministic negative sampling for contrastive training: `k`
    * pseudo-random candidates per anchor, drawn by md5 so every draw
    * is retry-stable AND replayable by a DuckDB oracle. Shape: the
    * candidate set gets a dense 1..N index via [[Indexing.denseIds]]
    * (range shuffle at full parallelism + a P-row offset table — never
    * a single-partition window), each anchor emits k (anchor, draw#) rows, the
    * draw hashes to an index, and an EQUI-join fetches the candidate —
    * k rows per anchor, never an anchors × candidates cross join.
    *
    * `exclude` (anchor_id, cand_id) pairs — typically the near-dup
    * pairs from [[Dedup.minHashLshNearDupAgainst]] — are anti-joined
    * out AFTER sampling (rejection without resampling), so output is
    * AT MOST k per anchor and never a known positive; duplicate draws
    * also collapse. Callers needing exactly-k oversample k and cap.
    * `candidates` must be non-empty — under ANSI mode an empty set
    * surfaces as a loud divide-by-zero from the index modulus.
    */
  def negativeSample(anchors: DataFrame, anchorIdCol: String,
      candidates: DataFrame, candIdCol: String, k: Int,
      exclude: Option[DataFrame] = None): DataFrame = {
    require(k >= 1)
    val n = candidates.agg(count(lit(1)).as("_negN"))
    // Dense 1..N index via Indexing.denseIds (range shuffle + offset
    // table) — NOT a bare row_number() window, which would exchange
    // the whole candidate pool to one partition. Same ids (cand_id is
    // a total order), scale-safe shape.
    val idx = Indexing.denseIds(
        candidates.select(col(candIdCol).as("cand_id")),
        Seq("cand_id"), outCol = "_idx")
      .withColumn("_idx", col("_idx").cast("long"))
    val drawn = anchors.select(col(anchorIdCol).as("anchor_id"))
      .crossJoin(broadcast(n)) // one-row N attach, the in-plan pattern
      .select(col("anchor_id"), col("_negN"),
        explode(sequence(lit(1), lit(k))).as("_draw"))
      .withColumn("_idx",
        conv(substring(md5(concat(col("anchor_id").cast("string"), lit(":"),
          col("_draw").cast("string"))), 1, 15), 16, 10).cast("long")
          % col("_negN") + 1)
      .join(idx, "_idx")
      .select("anchor_id", "cand_id")
      .distinct()
    exclude match {
      case Some(ex) => drawn.join(
        ex.toDF("anchor_id", "cand_id"), Seq("anchor_id", "cand_id"), "left_anti")
      case None => drawn
    }
  }

  /** Deterministic train/validation/test split: assigns each key to
    * exactly one split by hash range — splits are disjoint, exhaustive,
    * and stable across runs (the property random splits lose on rerun).
    */
  def split(df: DataFrame, keyCol: String, weights: Seq[(String, Double)],
      seed: Long = 42L): DataFrame =
    splitBy(df, xxhash64(col(keyCol), lit(seed)) / lit(2.0 * Long.MaxValue) + lit(0.5),
      weights)

  /** Engine-portable split: the same hash-range assignment over
    * [[portableUnit]], so an oracle can replay every row's split
    * (the xxhash64 [[split]] is faster but Spark-only). Prefer dyadic
    * weights (0.75/0.125/0.125): the cumulative cut points then have
    * exact double representations an oracle can restate verbatim.
    */
  def splitPortable(df: DataFrame, keyCol: String,
      weights: Seq[(String, Double)]): DataFrame =
    splitBy(df, portableUnit(col(keyCol)), weights)

  private def splitBy(df: DataFrame, u: Column,
      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail
    val assign = weights.map(_._1).zip(cuts).foldRight(
      lit(weights.last._1)) { case ((name, hi), acc) =>
      when(u < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /** Leakage-free train/valid/test split: [[splitPortable]] assignment,
    * then DROP from the train split every row whose key appears in
    * `pairs` (a near-duplicate pair set, any orientation) opposite a
    * key assigned to a held-out split. A near-dup of an eval document
    * sitting in train is memorized-eval-leakage — the split looks
    * honest, the benchmark isn't. Eval rows are never dropped (their
    * membership defines the benchmark); only the contaminated train
    * rows go.
    *
    * `pairs` is any two-column (id, id) DataFrame — compose with
    * [[Dedup.nearJaccardPrefix]] (exact, oracle-replayable) or
    * [[Dedup.minHashLshNearDup]] (the corpus-scale path); the operator
    * is agnostic to how candidates were found.
    *
    * Scale shape: `pairs` is near-dup-pair-sized, every join is
    * id-keyed, and the final anti-join's right side is bounded by the
    * pair count — broadcast-able in practice, shuffle-hash at worst.
    * Nothing here rescans text.
    */
  def leakFreeSplit(df: DataFrame, keyCol: String,
      weights: Seq[(String, Double)], pairs: DataFrame,
      trainName: String = "train"): DataFrame = {
    require(pairs.columns.length == 2,
      s"pairs must have exactly two id columns, got ${pairs.columns.mkString(", ")}")
    require(weights.exists(_._1 == trainName),
      s"trainName '$trainName' is not one of the split names")
    val s = splitPortable(df, keyCol, weights)
    val Seq(a, b, sa, sb) = Cols.fresh("lfs", 4, df, pairs)
    val p = pairs.toDF(a, b)
    val partners = p.unionByName(p.select(col(b).as(a), col(a).as(b)))
    val assign = s.select(col(keyCol), col("split"))
    val leaked = partners
      .join(assign.select(col(keyCol).as(a), col("split").as(sa)), Seq(a))
      .join(assign.select(col(keyCol).as(b), col("split").as(sb)), Seq(b))
      .filter(col(sa) === trainName && col(sb) =!= trainName)
      .select(col(a).as(keyCol)).distinct()
    s.join(leaked, Seq(keyCol), "left_anti")
  }

  /** Weighted sampling WITHOUT replacement, k rows per group —
    * "sample docs proportional to length / quality weight" with the
    * inclusion odds of sequential weighted draws, not Bernoulli
    * thinning. Efraimidis–Spirakis reservoir order (A-Res restated
    * for a distributed engine): every row gets an exponential race
    * time -ln(u)/w from its OWN stable uniform u = [[portableUnit]]
    * (key), and the k smallest per group win — one expression + one
    * per-group top-k window, the [[capPerKey]] shape, no sequential
    * reservoir state anywhere. Zero/negative weights fail loudly (a
    * silent weight-0 row can never win, which reads as data loss
    * downstream); `keyCol` tie-breaks make the rank total, so the
    * kept SET is deterministic, retry-stable, and oracle-replayable
    * (ln is the one libm call — both engines' 1-ulp draws sit ~1e9
    * ulps apart on a 60-bit uniform, so selection cannot flip).
    */
  def weightedSamplePortable(df: DataFrame, groupCols: Seq[String],
      keyCol: String, weightCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val Seq(race, rk) = Cols.fresh("ws", 2, df)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(race), col(keyCol))
    // NULL weights must hit the guard too: NULL <= 0.0 is NULL (falsy),
    // so without the isNull arm a NULL weight would slip to the
    // otherwise-branch, race as NULL, and — under Spark's NULLS FIRST
    // ascending sort — silently WIN a slot (DuckDB sorts NULLS LAST:
    // a cross-engine kept-set divergence on top of the contract break).
    df.withColumn(race,
        when(weightCol.isNull || weightCol <= 0.0, raise_error(concat(
          lit("weightedSamplePortable: null or non-positive weight at key="),
          col(keyCol).cast("string"))))
          .otherwise(-log(portableUnit(col(keyCol))) / weightCol))
      .withColumn(rk, row_number().over(w))
      .filter(col(rk) <= k)
      .drop(race, rk)
  }

  /** Deterministic global shuffle order for training: every row gets
    * its shard in [0, nShards) and its 1-based position WITHIN that
    * shard, both derived from the md5-portable draw of its key — the
    * "shuffle once, then N workers stream their slice in a fixed
    * order" layout. Epoch-stable, retry-stable, and replayable by an
    * external engine (a resumed job re-derives the exact order with
    * no shuffle file to recover).
    *
    * Scale shape: shard is a per-row projection at the scan; position
    * is ONE row_number window per shard, so the sort parallelizes
    * across shards and each sort is shard-sized — pick nShards so a
    * shard fits a worker, exactly as the training job already must.
    */
  def globalShuffle(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards must be >= 1")
    val Seq(u) = Cols.fresh("gs", 1, df)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(u), col(keyCol))
    assignShards(df, keyCol, nShards)
      .withColumn(u, portableUnit(concat(lit("pos:"), col(keyCol).cast("string"))))
      .withColumn("pos", row_number().over(w))
      .drop(u)
  }

  /** Poisson(1) CDF thresholds P(X <= k) for k = 0..5 — computed once
    * here and shared VERBATIM with any oracle (Double.toString
    * round-trips), the rboWeights pattern. Counts above 5 truncate to
    * 6 (P ≈ 6e-4, a documented bias far below bootstrap noise).
    */
  val PoissonCdf: Seq[Double] = {
    val e1 = math.exp(-1.0)
    val pmf = Seq(1.0, 1.0, 0.5, 1.0 / 6, 1.0 / 24, 1.0 / 120).map(_ * e1)
    pmf.scanLeft(0.0)(_ + _).tail
  }

  /** Poisson-bootstrap confidence interval for the per-group mean of
    * an INTEGER-valued column — the bootstrap that actually runs at
    * 100 TB: instead of resampling n rows with replacement (which
    * needs global coordination), each row enters replica b
    * Poisson(1)-many times, decided by a portable per-(row, replica)
    * md5 draw. Classic large-scale approximation: multinomial(n, 1/n)
    * → n independent Poisson(1) as n grows.
    *
    * Interval contract: `loRank`/`hiRank` are ORDER STATISTICS of the
    * `replicas` replica means (e.g. 3rd and 38th of 40 ≈ a 90% CI) —
    * an explicit rank, not an interpolated quantile, so the judged
    * surface has no interpolation scheme to disagree on. Replica
    * means on integer values are exact-integer sums to one rounded
    * division; ties in the rank window break on the replica index.
    * Empty replicas (possible only for tiny groups) rank last as NULL
    * means.
    *
    * Scale shape: ONE corpus scan fans each row out B ways IN-STAGE
    * (a generator projection — no shuffle between scan and
    * aggregation) with one md5 per (row, replica); partial
    * aggregation collapses the fan-out to (group × B) partial sums
    * per partition before the only shuffle; the rank window then
    * sorts the (group × B)-sized replica table. No driver state, no
    * collect.
    *
    * Returns (groupCols..., mean, ci_lo, ci_hi, n).
    */
  def bootstrapMeanCI(df: DataFrame, groupCols: Seq[String],
      valueCol: String, keyCol: String, replicas: Int = 40,
      loRank: Int = 3, hiRank: Int = 38): DataFrame = {
    require(groupCols.nonEmpty, "bootstrapMeanCI: need group columns")
    require(replicas >= 2, s"bootstrapMeanCI: replicas >= 2, got $replicas")
    require(1 <= loRank && loRank <= hiRank && hiRank <= replicas,
      s"bootstrapMeanCI: need 1 <= loRank <= hiRank <= replicas, " +
        s"got ($loRank, $hiRank) of $replicas")
    val gcols = groupCols.map(col)
    val v = col(valueCol)
    val cdf = PoissonCdf
    def pCount(u: Column): Column =
      cdf.zipWithIndex.foldRight(lit(6): Column) { case ((t, k), other) =>
        when(u < t, k).otherwise(other)
      }
    val u = portableUnit(concat(lit("boot:"), col("_b").cast("string"),
      lit(":"), col(keyCol).cast("string")))
    val counted = df.filter(v.isNotNull)
      .select((gcols :+ v.as("_v") :+ col(keyCol).as(keyCol)
        :+ explode(sequence(lit(0), lit(replicas - 1))).as("_b")): _*)
      .withColumn("_k", pCount(u))
    val reps = counted
      .groupBy((gcols :+ col("_b")): _*)
      .agg(sum(col("_k").cast("long") * col("_v").cast("long")).as("_s"),
        sum(col("_k").cast("long")).as("_m"))
      .withColumn("_mu",
        when(col("_m") > 0, round(col("_s") / col("_m"), 6)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col("_mu").asc_nulls_last, col("_b").asc)
    val ranked = reps.withColumn("_r", row_number().over(w))
    val ci = ranked
      .groupBy(gcols: _*)
      .agg(
        max(when(col("_r") === loRank, col("_mu"))).as("ci_lo"),
        max(when(col("_r") === hiRank, col("_mu"))).as("ci_hi"))
    val base = df.filter(v.isNotNull)
      .groupBy(gcols: _*)
      .agg(round(sum(v.cast("long")) / count(lit(1)), 6).as("mean"),
        count(lit(1)).as("n"))
    base.join(ci, groupCols)
      .select((gcols :+ col("mean").cast("double")
        :+ col("ci_lo").cast("double") :+ col("ci_hi").cast("double")
        :+ col("n")): _*)
  }

  /** Neyman allocation for stratified sampling — the DESIGN step the
    * sampling family executes but never planned: given a total
    * budget n, the variance-minimizing split is
    * n_h ∝ N_h·S_h (big AND noisy strata earn more samples;
    * proportional allocation ignores the S_h factor and wastes
    * budget on homogeneous strata).
    *
    * Determinism: per-stratum moments fold exactly (1e6-scaled longs
    * in decimal(38,0)); S_h is the sample sd frozen at 6 dp; shares
    * freeze at 12 dp before the one rounded allocation per stratum.
    * Zero-variance or singleton strata allocate 0 loudly (a min-1
    * floor is survey policy, not estimation — apply downstream).
    * Rounded allocations can sum to budget ± (#strata−1); the
    * largest-remainder repair is presentation, not computed here.
    * Output: (stratum, n_rows, sd, share, alloc).
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
      valueCol: String, budget: Int): DataFrame = {
    require(budget >= 1, s"neymanAllocation: budget must be >= 1")
    val dec = "decimal(38,0)"
    val pts = df.filter(col(valueCol).isNotNull)
      .select(col(stratumCol).as("_g"),
        round(col(valueCol) * 1e6).cast("long").as("_xq"))
    val mom = pts.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_xq").cast(dec)).as("_s1"),
        sum((col("_xq").cast(dec) * col("_xq")).cast(dec)).as("_q1"))
      .withColumn("_var",
        (col("_n").cast("double") * col("_q1").cast("double")
          - col("_s1").cast("double") * col("_s1").cast("double"))
          / (col("_n").cast("double")
            * (col("_n").cast("double") - 1.0)))
      .withColumn("_sd", when(col("_n") >= 2 && col("_var") > 0.0,
        round(sqrt(col("_var")) / 1e6, 6)).otherwise(lit(0.0)))
      .withColumn("_ns", round(col("_n").cast("double") * col("_sd"), 6))
    val tot = mom.agg(sum(col("_ns").cast("decimal(38,6)")).as("_tns"))
    mom.crossJoin(broadcast(tot))
      .withColumn("_share", when(col("_tns").cast("double") > 0.0,
        round(col("_ns") / col("_tns").cast("double"), 12))
        .otherwise(lit(0.0)))
      .select(col("_g").as(stratumCol),
        col("_n").cast("bigint").as("n_rows"),
        col("_sd").cast("double").as("sd"),
        round(col("_share"), 6).cast("double").as("share"),
        round(col("_share") * budget, 0).cast("bigint").as("alloc"))
  }

  /** Kish design effect of a weighting scheme — "how much effective
    * sample did the weights cost": deff = n·Σw²/(Σw)², n_eff =
    * n/deff. The honest companion to [[rakeWeights]]: raking buys
    * marginal balance by inflating variance, and deff is the price
    * tag. Takes the (count, weight) CELL table (weights constant
    * within a cell), so the corpus never re-enters.
    *
    * Exactness: 12-dp weights make n·w and n·round(w², 12) exact at
    * 12/24 dp — both fold in decimal(38,12); deff freezes at 6 dp
    * before n_eff. Output: ONE row (n, deff, n_eff).
    */
  def designEffect(cells: DataFrame, countCol: String,
      weightCol: String): DataFrame = {
    val dec = "decimal(38,12)"
    val folded = cells
      .agg(sum(col(countCol)).as("_n"),
        sum(round(col(countCol) * col(weightCol), 12).cast(dec))
          .as("_sw"),
        sum(round(col(countCol)
          * round(col(weightCol) * col(weightCol), 12), 12).cast(dec))
          .as("_sw2"))
    def d(c: String): Column = col(c).cast("double")
    val nD = col("_n").cast("double")
    val deff = round(nD * d("_sw2") / (d("_sw") * d("_sw")), 6)
    folded
      .withColumn("_deff", when(d("_sw") > 0.0, deff))
      .select(col("_n").cast("bigint").as("n"),
        col("_deff").cast("double").as("deff"),
        round(nD / col("_deff"), 6).cast("double").as("n_eff"))
  }

  /** Iterative proportional fitting (raking; Deming & Stephan 1940) —
    * the dataset-rebalancing weights that make a corpus's (a × b)
    * composition match TARGET marginals without resampling: classic
    * survey raking, and in an LLM pipeline the "reweight scraped data
    * so lang × source matches the design mix" step (the continuous
    * sibling of mixCorpora's hard caps). This variant rakes toward
    * UNIFORM marginals on both axes (target_a = N/|levels_a| per a
    * level, likewise b) — the maximum-entropy mix.
    *
    * Each iteration rescales cell weights to satisfy the row marginal
    * exactly, then the column marginal (which perturbs rows; the
    * alternation converges geometrically). Weights round at `roundDp`
    * (1e-12 quantum, three orders above the float-sum noise of the
    * level-bounded marginal sums), so the unrolled oracle reproduces
    * them bit-exactly.
    *
    * Scale shape: ONE (a, b) count shuffle collapses the corpus to a
    * levels²-bounded cell table; every iteration is two window sums
    * over the CELLS — corpus size never re-enters. Joining the weights
    * back onto rows is a broadcast join for the caller. Output:
    * (aCol, bCol, n, weight).
    */
  def rakeWeights(df: DataFrame, aCol: String, bCol: String,
      iters: Int, roundDp: Int = 12): DataFrame = {
    require(iters >= 1, s"rake: iters must be >= 1, got $iters")
    val cells = df.groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_c"))
    val nTot = cells.agg(sum("_c").cast("double").as("_nt"))
    val levA = cells.select("_a").distinct()
      .agg(count(lit(1)).cast("double").as("_la"))
    val levB = cells.select("_b").distinct()
      .agg(count(lit(1)).cast("double").as("_lb"))
    var w = cells
      .crossJoin(broadcast(nTot))
      .crossJoin(broadcast(levA))
      .crossJoin(broadcast(levB))
      .withColumn("_w", lit(1.0))
    val wa = org.apache.spark.sql.expressions.Window.partitionBy("_a")
    val wb = org.apache.spark.sql.expressions.Window.partitionBy("_b")
    for (_ <- 1 to iters) {
      w = w.withColumn("_w",
        round(col("_w") * (col("_nt") / col("_la"))
          / sum(col("_c") * col("_w")).over(wa), roundDp))
      w = w.withColumn("_w",
        round(col("_w") * (col("_nt") / col("_lb"))
          / sum(col("_c") * col("_w")).over(wb), roundDp))
    }
    w.select(col("_a").as(aCol), col("_b").as(bCol),
      col("_c").as("n"), col("_w").cast("double").as("weight"))
  }
}
