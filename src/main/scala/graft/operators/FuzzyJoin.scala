package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy string matching: edit-distance joins without the quadratic
  * pair explosion.
  *
  * Candidate generation is the FastSS deletion-neighborhood trick: for
  * edit distance <= 1, two strings match only if their depth-1 deletion
  * neighborhoods (the string itself plus every single-character
  * deletion) share an element — a substitution meets at the both-sides
  * deletion, an insert/delete meets at the shorter string itself. So
  * candidates come from an EQUI-join on neighborhood strings (shuffle
  * keyed on short strings, |s|+1 keys per row), never a cross join, and
  * a codegen'd `levenshtein` re-verifies, giving exact precision AND
  * recall.
  *
  * Scale: candidate volume is (avg len + 1) x rows — linear, and the
  * neighborhood generation is a per-row HOF projection (no shuffle
  * before the candidate join). Meant for SHORT strings (names, titles,
  * codes); for documents, block on token shingles instead
  * (Dedup.nearNgramJaccard) — character neighborhoods of long texts
  * are the wrong tool.
  */
object FuzzyJoin {

  /** Hard per-row length bound: neighborhoods are |s|+1 rows, so an
    * unexpectedly long string (a document routed to the wrong column)
    * would quietly multiply the candidate volume. Fail loudly instead.
    */
  val MaxLen = 1000

  /** (id, nbr) pairs: the string itself + each single-char deletion,
    * deduped per row (duplicate deletions of repeated chars would
    * inflate the join). Pure projection + generator, no shuffle.
    */
  private def neighborhood(df: DataFrame, idCol: String, strCol: String)
      : DataFrame =
    df.select(col(idCol).as("_fid"), col(strCol).as("_fstr"))
      .filter(col("_fstr").isNotNull)
      .select(col("_fid"),
        when(length(col("_fstr")) > MaxLen,
          raise_error(concat(lit(s"FuzzyJoin: string longer than $MaxLen chars at id="),
            col("_fid").cast("string"))))
          .otherwise(col("_fstr")).as("_fstr"))
      .select(col("_fid"), col("_fstr"),
        explode(array_distinct(concat(
          array(col("_fstr")),
          expr("transform(sequence(1, length(_fstr)), " +
            "i -> concat(substr(_fstr, 1, i - 1), substr(_fstr, i + 1)))"))))
          .as("_nbr"))

  /** Self-join: all pairs (i, j, dist) with i < j and edit distance
    * <= 1 between their `strCol` values. Exact (FastSS completeness at
    * depth 1 + levenshtein verification).
    */
  def editDistance1SelfJoin(df: DataFrame, idCol: String, strCol: String)
      : DataFrame = {
    val nb = neighborhood(df, idCol, strCol)
    nb.as("a")
      .join(nb.as("b"),
        col("a._nbr") === col("b._nbr") && col("a._fid") < col("b._fid"))
      .select(col("a._fid").as("i"), col("b._fid").as("j"),
        col("a._fstr").as("si"), col("b._fstr").as("sj"))
      .distinct()
      .withColumn("dist", levenshtein(col("si"), col("sj")))
      .filter(col("dist") <= 1)
      .select("i", "j", "dist")
  }

  /** Q-gram-blocked edit-distance join for distances BEYOND 1 (where
    * deletion neighborhoods blow up combinatorially): candidates are
    * pairs sharing at least one character q-gram, verified by
    * codegen'd `levenshtein` <= maxDist. Count-filter guarantee: one
    * edit destroys at most q q-grams, so a string of length L keeps at
    * least (L-q+1) - maxDist*q of its partner's q-grams intact —
    * >= 1 (full recall) whenever every string has length >=
    * q*(maxDist+1). Shorter strings fail LOUDLY (silently missing
    * pairs is the one unacceptable behavior in a dedup/matching tool);
    * route them through [[editDistance1SelfJoin]] or brute force —
    * short-string pair spaces are small by definition.
    *
    * The length-difference bound |len(a)-len(b)| <= maxDist rides the
    * candidate JOIN CONDITION (the sizeRatioOk pattern): length-
    * incompatible pairs drop as the hash join probes. q=2 blocks on
    * bigrams — weaker pruning than trigrams but valid down to length
    * 6 at maxDist=2; raise q for long-string corpora.
    */
  def qgramEditJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 2): DataFrame = {
    require(maxDist >= 1 && q >= 2, s"maxDist=$maxDist q=$q")
    val minLen = q * (maxDist + 1)
    val grams = df.select(col(idCol).as("_fid"), col(strCol).as("_fstr"))
      .filter(col("_fstr").isNotNull)
      .select(col("_fid"),
        when(length(col("_fstr")) > MaxLen ||
            length(col("_fstr")) < minLen,
          raise_error(concat(
            lit(s"FuzzyJoin.qgramEditJoin: string length outside [$minLen, $MaxLen] at id="),
            col("_fid").cast("string"),
            lit(s" — below $minLen the q-gram count filter cannot guarantee recall"))))
          .otherwise(col("_fstr")).as("_fstr"))
      .select(col("_fid"), col("_fstr"), length(col("_fstr")).as("_flen"),
        explode(array_distinct(expr(
          s"transform(sequence(1, length(_fstr) - ${q - 1}), i -> substr(_fstr, i, $q))")))
          .as("_gram"))
    grams.as("a")
      .join(grams.as("b"),
        col("a._gram") === col("b._gram") && col("a._fid") < col("b._fid")
          && abs(col("a._flen") - col("b._flen")) <= maxDist)
      .select(col("a._fid").as("i"), col("b._fid").as("j"),
        col("a._fstr").as("si"), col("b._fstr").as("sj"))
      .distinct()
      .withColumn("dist", levenshtein(col("si"), col("sj")))
      .filter(col("dist") <= maxDist)
      .select("i", "j", "dist")
  }

  /** Two-table variant: rows of `left` matched to rows of `right`
    * within edit distance 1. Typical use: dirty strings against a
    * clean reference list (the reference side's neighborhood is built
    * once and is reference-sized, so at scale it broadcasts).
    */
  def editDistance1Join(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String): DataFrame = {
    val ln = neighborhood(left, leftId, leftStr)
    val rn = neighborhood(right, rightId, rightStr)
    ln.as("a")
      .join(rn.as("b"), col("a._nbr") === col("b._nbr"))
      .select(col("a._fid").as("left_id"), col("b._fid").as("right_id"),
        col("a._fstr").as("ls"), col("b._fstr").as("rs"))
      .distinct()
      .withColumn("dist", levenshtein(col("ls"), col("rs")))
      .filter(col("dist") <= 1)
      .select("left_id", "right_id", "dist")
  }

  /** Blocked sorted-neighborhood candidate generation (Hernández &
    * Stolfo's classic record-linkage method, re-expressed without a
    * global sort): within each first-character block, rows sort by
    * (string, id) and every row pairs with its next `window`
    * neighbors in that order, verified by codegen'd `levenshtein` <=
    * `maxDist`. The zero-join alternative to q-gram blocking — pair
    * generation is ONE window (lead array) + a generator, no
    * candidate equi-join at all; the trade is the classic
    * sorted-neighborhood recall HEURISTIC (a true pair further than
    * `window` apart in sort order, or straddling a block boundary, is
    * never compared) vs [[qgramEditJoin]]'s count-filter guarantee.
    *
    * Scale shape: the block key makes the sort per-block (parallel,
    * no single-partition global window); pair fan-out is exactly
    * `window` per row before the distance filter. At extreme block
    * skew, widen the key (first 2 chars) — same contract.
    *
    * Returns (i, j, dist) with i < j by id.
    */
  def sortedNeighborhoodJoin(df: DataFrame, idCol: String, strCol: String,
      window: Int, maxDist: Int): DataFrame = {
    require(window >= 1, s"sortedNeighborhoodJoin: window >= 1, got $window")
    require(maxDist >= 0, s"sortedNeighborhoodJoin: maxDist >= 0, got $maxDist")
    val base = df.select(col(idCol).as("_fid"), col(strCol).as("_fstr"))
      .filter(col("_fstr").isNotNull && length(col("_fstr")) > 0)
      .withColumn("_blk", substring(col("_fstr"), 1, 1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_blk").orderBy(col("_fstr").asc, col("_fid").asc)
    val withNbrs = base.withColumn("_nbrs",
      array((1 to window).map(i =>
        struct(lead(col("_fid"), i).over(w).as("nid"),
          lead(col("_fstr"), i).over(w).as("ns"))): _*))
    withNbrs
      .select(col("_fid"), col("_fstr"),
        explode(col("_nbrs")).as("_n"))
      .filter(col("_n.nid").isNotNull)
      .withColumn("dist", levenshtein(col("_fstr"), col("_n.ns")))
      .filter(col("dist") <= maxDist)
      .select(least(col("_fid"), col("_n.nid")).as("i"),
        greatest(col("_fid"), col("_n.nid")).as("j"),
        col("dist"))
  }

  /** Jaro-Winkler self-join: all pairs scoring >= `minSim`, candidates
    * blocked on (first byte, length band of `lenBand`). The comparator
    * is the native codegen kernel
    * [[graft.functions.StringSimilarity.jaroWinkler]].
    *
    * The blocking is a RECALL HEURISTIC, not a guarantee (unlike the
    * q-gram count filter): a pair whose first characters differ, or
    * whose lengths differ by more than `lenBand`, is never compared —
    * the classic sorted-neighborhood trade for record linkage, where
    * high-JW matches overwhelmingly share a prefix (JW's own prefix
    * boost points the same way). Both knobs widen for higher recall at
    * quadratic-in-block cost.
    *
    * Scale shape: one equi-join on the block key (first byte ×
    * length bucket), JW evaluated only inside blocks, inside
    * whole-stage codegen; no all-pairs product, no driver state.
    */
  def jaroWinklerSelfJoin(df: DataFrame, idCol: String, strCol: String,
      minSim: Double, lenBand: Int = 2): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0,
      s"jaroWinklerSelfJoin: minSim must be in (0,1], got $minSim")
    require(lenBand >= 0, s"jaroWinklerSelfJoin: lenBand >= 0, got $lenBand")
    val base = df.select(col(idCol).as("_fid"), col(strCol).as("_fstr"))
      .filter(col("_fstr").isNotNull && length(col("_fstr")) > 0)
    // each row emits every length in [len-band, len]: two strings
    // within the band always share at least one emitted value, so the
    // (first char, emitted length) equi-key never misses an in-band
    // pair; multi-collisions dedup below
    val banded = base.select(col("_fid"), col("_fstr"),
      explode(sequence(
        (length(col("_fstr")) - lenBand).cast("int"),
        length(col("_fstr")).cast("int"))).as("_lb"))
      .withColumn("_blk",
        concat_ws("|", substring(col("_fstr"), 1, 1),
          col("_lb").cast("string")))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a._blk") === col("b._blk") && col("a._fid") < col("b._fid"))
      .select(col("a._fid").as("i"), col("b._fid").as("j"),
        col("a._fstr").as("_sa"), col("b._fstr").as("_sb"))
      .distinct()
    pairs
      .withColumn("jw", graft.functions.StringSimilarity.jaroWinklerCol(
        col("_sa"), col("_sb")))
      .filter(col("jw") >= minSim)
      .select("i", "j", "jw")
  }

  /** Fellegi–Sunter record-linkage weights from a LABELED candidate
    * pair set — the probabilistic-matching standard the edit-distance
    * joins above feed: for each comparison field k, m_k = P(agree |
    * match) and u_k = P(agree | non-match) from exact counts, and the
    * log₂ agreement/disagreement weights w⁺ = log₂(m/u), w⁻ =
    * log₂((1−m)/(1−u)) a scorer sums per pair. Training pairs come
    * from any blocked candidate generator plus labels (planted
    * duplicates, clerical review, a gold subset) — the operator never
    * sees the corpus, only the bounded pair table.
    *
    * Determinism: counts exact; probabilities are single int/int
    * double divisions; weights one ln/ln2 tree (the interpolated
    * [[TextAnalysis.ln2]]) rounded at 6 dp; degenerate cells (zero or
    * total agreement on either side) report NULL weights rather than
    * ±∞. One aggregate over the pair table; fields are a literal
    * list. Output: one row per field — (field, n_match, n_unmatch,
    * m, u, w_agree, w_disagree).
    */
  def fellegiSunterWeights(pairs: DataFrame,
      isMatch: org.apache.spark.sql.Column,
      fields: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(fields.nonEmpty && fields.size <= 16,
      s"fellegiSunterWeights: 1..16 fields, got ${fields.size}")
    require(fields.map(_._1).distinct.size == fields.size,
      "fellegiSunterWeights: duplicate field names")
    val lbl = coalesce(isMatch, lit(false))
    val aggs = Seq(
      sum(when(lbl, 1L).otherwise(0L)).as("_nm"),
      sum(when(!lbl, 1L).otherwise(0L)).as("_nu")) ++
      fields.zipWithIndex.flatMap { case ((_, c), i) =>
        val a = coalesce(c, lit(false))
        Seq(sum(when(lbl && a, 1L).otherwise(0L)).as(s"_am$i"),
          sum(when(!lbl && a, 1L).otherwise(0L)).as(s"_au$i"))
      }
    val row = pairs.agg(aggs.head, aggs.tail: _*)
    fields.zipWithIndex.map { case ((f, _), i) =>
      val m0 = col(s"_am$i").cast("double") / col("_nm").cast("double")
      val u0 = col(s"_au$i").cast("double") / col("_nu").cast("double")
      row.select(lit(f).as("field"),
        col("_nm").cast("bigint").as("n_match"),
        col("_nu").cast("bigint").as("n_unmatch"),
        when(col("_nm") > 0, round(m0, 6)).cast("double").as("m"),
        when(col("_nu") > 0, round(u0, 6)).cast("double").as("u"),
        when(col("_nm") > 0 && col("_nu") > 0
            && col(s"_am$i") > 0 && col(s"_au$i") > 0,
          round(log(m0 / u0) / lit(TextAnalysis.ln2), 6))
          .cast("double").as("w_agree"),
        when(col("_nm") > 0 && col("_nu") > 0
            && col(s"_am$i") < col("_nm") && col(s"_au$i") < col("_nu"),
          round(log((lit(1.0) - m0) / (lit(1.0) - u0))
            / lit(TextAnalysis.ln2), 6))
          .cast("double").as("w_disagree"))
    }.reduce(_ unionByName _)
  }

  /** UNSUPERVISED Fellegi–Sunter — the production form of
    * [[fellegiSunterWeights]]: when no labeled pairs exist (the
    * normal case), m_k/u_k and the match prevalence are estimated by
    * fixed-pass EM over the blocked comparison vectors alone (Winkler
    * 1988). Two latent classes (match / non-match) with conditionally
    * independent field agreements — a Bernoulli-mixture twin of
    * [[Clustering.gmmPortable]], and it rides the same discipline:
    *
    *  - E-step: per pair, the 12-dp-frozen class log-scores
    *    s_m = ln p + Σ_k [γ_k·ln m_k + (1−γ_k)·ln(1−m_k)] (and s_u
    *    with 1−p, u_k) — every ln enters as a LITERAL of the frozen
    *    6-dp parameter — then the max-shifted two-class softmax
    *    responsibility frozen at 12 dp.
    *  - M-step: ONE aggregate (count + 12-dp-decimal responsibility
    *    folds + exact agreement counts); p = r6(Σr/n),
    *    m_k = r6(Σrγ_k/Σr), u_k = r6((n_γk − Σrγ_k)/(n − Σr)), each
    *    clamped to [1e-6, 0.999999] so no ln ever sees 0 (the gmm
    *    variance floor). A degenerate pass (all mass on one class)
    *    keeps the previous parameters — the empty-cluster rule.
    *
    * Driver state is the 2K+2 parameter vector per pass (the
    * sanctioned bounded collect); the pair table is scanned once per
    * pass, one hash aggregate each, nothing row-sized collected.
    * Deterministic: seedless literal init (pInit/mInit/uInit), frozen
    * params, frozen responsibilities — bit-identical on re-run and
    * replayable in an unrolled-CTE oracle.
    *
    * Output: one row per field — (field, n_pairs, p_match, m, u,
    * w_agree, w_disagree), weights the log₂ trees of
    * [[fellegiSunterWeights]] on the EM estimates (clamping makes
    * them always finite).
    */
  def fellegiSunterEm(pairs: DataFrame,
      fields: Seq[(String, org.apache.spark.sql.Column)], passes: Int,
      pInit: Double = 0.1, mInit: Double = 0.9, uInit: Double = 0.1)
      : DataFrame = {
    require(fields.nonEmpty && fields.size <= 16,
      s"fellegiSunterEm: 1..16 fields, got ${fields.size}")
    require(fields.map(_._1).distinct.size == fields.size,
      "fellegiSunterEm: duplicate field names")
    require(passes >= 1 && passes <= 4,
      s"fellegiSunterEm: passes must be in [1, 4], got $passes")
    require(Seq(pInit, mInit, uInit).forall(v => v > 0.0 && v < 1.0),
      "fellegiSunterEm: inits must be in (0, 1)")
    val dec12 = "decimal(38,12)"
    def clamp6(v: Double): Double =
      math.min(math.max(DriverPath.round(v, 6), 1e-6), 0.999999)
    val k = fields.size
    val rows = pairs.select(fields.zipWithIndex.map { case ((_, c), i) =>
        coalesce(c, lit(false)).as(s"_a$i") }: _*)
      .localCheckpoint() // scanned once per EM pass
    var p = clamp6(pInit)
    val m = Array.fill(k)(clamp6(mInit))
    val u = Array.fill(k)(clamp6(uInit))
    var n = 0L
    for (_ <- 1 to passes) {
      val sm = round((0 until k).foldLeft(lit(math.log(p)): org.apache.spark.sql.Column) {
        (acc, i) => acc + when(col(s"_a$i"), lit(math.log(m(i))))
          .otherwise(lit(math.log(1.0 - m(i)))) }, 12)
      val su = round((0 until k).foldLeft(
          lit(math.log(1.0 - p)): org.apache.spark.sql.Column) {
        (acc, i) => acc + when(col(s"_a$i"), lit(math.log(u(i))))
          .otherwise(lit(math.log(1.0 - u(i)))) }, 12)
      val mx = greatest(col("_sm"), col("_su"))
      val scored = rows.withColumn("_sm", sm).withColumn("_su", su)
        .withColumn("_r", round(exp(col("_sm") - mx)
          / (exp(col("_sm") - mx) + exp(col("_su") - mx)), 12))
      val aggs = Seq(count(lit(1)).as("_n"),
        sum(col("_r").cast(dec12)).as("_sr")) ++
        (0 until k).flatMap { i => Seq(
          sum(when(col(s"_a$i"), col("_r")).otherwise(lit(0.0))
            .cast(dec12)).as(s"_am$i"),
          sum(when(col(s"_a$i"), 1L).otherwise(0L)).as(s"_ag$i")) }
      val row = scored.agg(aggs.head, aggs.tail: _*).head()
      n = row.getLong(row.fieldIndex("_n"))
      val sr = row.getDecimal(row.fieldIndex("_sr")).doubleValue()
      if (sr > 0.0 && sr < n.toDouble) {
        for (i <- 0 until k) {
          val am = row.getDecimal(row.fieldIndex(s"_am$i")).doubleValue()
          val ag = row.getLong(row.fieldIndex(s"_ag$i")).toDouble
          m(i) = clamp6(am / sr)
          u(i) = clamp6((ag - am) / (n.toDouble - sr))
        }
        p = clamp6(sr / n.toDouble)
      }
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    fields.map(_._1).zipWithIndex.map { case (f, i) =>
      (f, n, p, m(i), u(i),
        DriverPath.round(math.log(m(i) / u(i)) / TextAnalysis.ln2, 6),
        DriverPath.round(
          math.log((1.0 - m(i)) / (1.0 - u(i))) / TextAnalysis.ln2, 6))
    }.toDF("field", "n_pairs", "p_match", "m", "u",
      "w_agree", "w_disagree")
  }
}
