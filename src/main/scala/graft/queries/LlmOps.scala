package graft.queries

import org.apache.spark.sql.functions._
import QueryDefs._
import graft.operators.{Bpe, Clustering, Dedup, IvfIndex, Similarity, TextAnalysis}

/** LLM-data-pipeline surface (SURVEY.md §2.11): dedup, similarity
  * search, text analysis — each judged query drives the corresponding
  * library operator in graft.operators and is verified against a
  * DuckDB re-expression of the same math.
  *
  * Scale notes are on the operators; judged queries bound their own
  * candidate sets where the exact (non-LSH) path is quadratic, so the
  * bench at sf0.1 measures the intended plan, not an accidental n².
  */
object LlmOps {

  /** L1: exact dedup over a deliberately duplicated input (testdata has
    * no exact dups) — keep lowest doc_id + multiplicity per text.
    */
  val qDedupExact: QueryFn = withTables { spark =>
    val docs = spark.table("documents")
    Dedup.exact(docs.unionByName(docs), "doc_id", Seq("text"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** L2: EXACT token-set Jaccard near-dup via prefix filtering
    * (Dedup.nearJaccardPrefix) — same results as the naive token
    * self-join (DedupSpec pins equality), but candidates only join on
    * each doc's rarest-token prefix, so stopword-skewed keys never
    * drive the join. Scope bounded to doc_id < 1000 to keep the judged
    * output stable across SFs; the approximate scale path is
    * q_dedup_lsh_jaccard below.
    */
  val qDedupNearJaccard: QueryFn = withTables { spark =>
    Dedup.nearJaccardPrefix(
        spark.table("documents").filter(col("doc_id") < 1000),
        "doc_id", "text", minJaccard = 0.95)
      .withColumn("jaccard", round(col("jaccard"), 6).cast("double"))
      .orderBy("i", "j")
  }

  /** L2 scale path, judged: MinHash-LSH banding prunes candidates,
    * exact Jaccard re-verifies — judged against the SAME exact-Jaccard
    * oracle as q_dedup_near_jaccard. At tau=0.95 with 12 bands x 6 rows
    * the per-pair miss probability is (1-0.95^6)^12 ~ 1.2e-7 and the
    * seeded hashes make the outcome deterministic (DedupSpec pins
    * equality at these very parameters), so the banded path
    * hash-matches the exact one. 12x6 replaces r3's 8x3: this corpus
    * has heavy baseline token overlap, so the binding cost is the
    * CANDIDATE volume, not the sketch — r=6 cuts a j=0.6 pair's
    * collision odds from 0.66 to 0.44 while 12 bands keep the miss
    * bound BELOW 8x3's 1.7e-7 (profiled: 1.73 s -> 1.29 s at sf0.1,
    * vs 1.46 s for the exact prefix path).
    */
  val qDedupLshJaccard: QueryFn = withTables { spark =>
    Dedup.minHashLshNearDup(
        spark.table("documents").filter(col("doc_id") < 1000),
        "doc_id", "text", minJaccard = 0.95, bands = 12, rowsPerBand = 6)
      .withColumn("jaccard", round(col("jaccard"), 6).cast("double"))
      .orderBy("i", "j")
  }

  /** L2 n-gram variant: 3-token-shingle Jaccard — order-aware near-dup
    * (same-vocabulary-different-phrasing pairs drop out). Threshold is
    * lower than the unigram query's because shingle overlap decays
    * faster than token overlap on the word-salad fixture.
    */
  val qDedupNgramJaccard: QueryFn = withTables { spark =>
    Dedup.nearNgramJaccard(
        spark.table("documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 3, minJaccard = 0.2)
      .withColumn("jaccard", round(col("jaccard"), 6).cast("double"))
      .orderBy("i", "j")
  }

  /** L2 SimHash variant, judged value-exact: the pigeonhole banding +
    * exact-Hamming-verify pipeline (Dedup.simHashNearDupFromSigs — the
    * SAME code the production xxhash64 path runs) driven by the
    * engine-portable md5-based 60-bit signature, so the DuckDB oracle
    * can restate the identical SimHash math (per-occurrence ±1 bit
    * votes, sign-packed) and brute-force the pairs within radius 4.
    * Unlike the LSH query's recall-argument regime, every value here —
    * signature, hamming, pair set — is exact on both engines.
    */
  val qDedupSimhash: QueryFn = withTables { spark =>
    Dedup.simHashNearDupFromSigs(
        Dedup.simHashPortable(
          spark.table("documents").filter(col("doc_id") < 1000),
          "doc_id", "text"),
        maxHamming = 4, sigBits = 60)
      .orderBy("i", "j")
  }

  /** L2 containment variant: overlap-coefficient near-dup — the
    * subset/quotation regime Jaccard dilutes. Counts and set sizes are
    * exact integers; containment = c/min(na,nb) is one exact IEEE
    * division on both engines, so the tau filter cannot straddle.
    */
  val qDedupContainment: QueryFn = withTables { spark =>
    Dedup.nearContainment(
        spark.table("documents").filter(col("doc_id") < 200),
        "doc_id", "text", minOverlap = 0.97)
      .withColumn("containment", round(col("containment"), 6).cast("double"))
      .orderBy("i", "j")
  }

  /** The incremental-ingestion dedup shape, judged at the recall-1
    * banding regime (q_dedup_lsh_jaccard's argument: per-pair miss
    * (1-0.95^6)^12 ≈ 1.2e-7 at tau 0.95, seeded hashes make the
    * outcome deterministic): an incoming batch vs the existing corpus,
    * verified against the exact cross-scope Jaccard oracle.
    */
  val qDedupIncremental: QueryFn = withTables { spark =>
    val docs = spark.table("documents")
    Dedup.minHashLshNearDupAgainst(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400 && col("doc_id") < 800),
        "doc_id", "text", minJaccard = 0.95, bands = 12, rowsPerBand = 6)
      .withColumn("jaccard", round(col("jaccard"), 6).cast("double"))
      .orderBy("i", "j")
  }

  /** Embedding-cosine near-dup over all pairs (compiled kernel). */
  val qDedupNearEmbedding: QueryFn = withTables { spark =>
    Dedup.nearEmbedding(spark.table("embeddings"), "vec_id", "embedding", 0.4)
      .withColumn("cos", round(col("cos"), 6).cast("double"))
      .orderBy("id1", "id2")
  }

  /** L3: global cosine top-k pairs — the measured HOF budget-breaker,
    * now on the compiled VectorOps kernel.
    */
  val qCosineTopk: QueryFn = withTables { spark =>
    Similarity.topKPairs(spark.table("embeddings"), "vec_id", "embedding", 10)
      .withColumn("cos", round(col("cos"), 6).cast("double"))
  }

  /** L4: k nearest neighbors per vector (k=5). */
  val qKnnPergroup: QueryFn = withTables { spark =>
    Similarity.knn(spark.table("embeddings"), "vec_id", "embedding", 5)
      .select(col("id1"), col("rank").as("rnk"), col("id2"),
        round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("id1", "rnk")
  }

  /** kNN label agreement (k=10): the confident-learning noisy-label
    * score, judged on the full neighbor graph. Agreement values are
    * multiples of 1/k — rounding-robust by construction.
    */
  val qLabelAgreement: QueryFn = withTables { spark =>
    Similarity.knnLabelAgreement(
        spark.table("embeddings"), "vec_id", "embedding", "label", k = 10)
      .select(col("vec_id"), col("label"),
        round(col("agreement"), 6).cast("double").as("agreement"),
        col("n_neighbors"))
      .orderBy("vec_id")
  }

  /** Per-vector cosine to the label centroid (embedding outlier
    * signal), judged in the quantized regime: scale-4 centroids make
    * both engines' centroid IDENTICAL doubles (the q_pool_mean pin),
    * and the cosine folds in float64.
    */
  val qCentroidCos: QueryFn = withTables { spark =>
    Similarity.centroidCosine(
        spark.table("embeddings"), "vec_id", "embedding", "label",
        quantized = true)
      .select(col("vec_id"), col("label"),
        round(col("centroid_cos"), 6).cast("double").as("centroid_cos"))
      .orderBy("vec_id")
  }

  /** Probe-set similarity search: top-5 corpus neighbors for each of 20
    * probe vectors. Broadcast probes × ONE corpus pass — the exact
    * search shape that stays linear at 100 TB (unlike all-pairs).
    */
  val qSimsearchProbe: QueryFn = withTables { spark =>
    val emb = spark.table("embeddings")
    Similarity.probeSearch(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
      .select(col("probe_id"), col("rank").as("rnk"), col("corpus_id"),
        round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** Two-stage int8-quantized probe search, judged at full oversample:
    * with k*oversample >= corpus size the approximate shortlist keeps
    * every row, so the exact float re-rank returns EXACTLY the probe
    * search's top-k and the oracle is the same exact math as
    * q_simsearch_probe (the q_ann_ivf honesty pattern — the judged
    * value is the two-stage quantize/re-rank plan hash-matching exact;
    * the pruned-oversample recall tradeoff is pinned by
    * SimilaritySpec against the brute-force oracle).
    */
  val qSimsearchQuantized: QueryFn = withTables { spark =>
    val emb = spark.table("embeddings")
    Similarity.probeSearchQuantized(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, oversample = 400000)
      .select(col("probe_id"), col("rank").as("rnk"), col("corpus_id"),
        round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** Two-stage JL-projected probe search, judged at full oversample
    * (the q_simsearch_quantized honesty pattern): the projected
    * shortlist keeps every row, so the exact full-dimension re-rank
    * returns EXACTLY probeSearch's top-k and the oracle is the same
    * exact math; the pruned-oversample recall tradeoff is pinned by
    * SimilaritySpec.
    */
  val qSimsearchProjected: QueryFn = withTables { spark =>
    val emb = spark.table("embeddings")
    Similarity.probeSearchProjected(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, inDim = 64, outDim = 16,
        seed = "jl", oversample = 400000)
      .select(col("probe_id"), col("rank").as("rnk"), col("corpus_id"),
        round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** Two-stage matryoshka (prefix-truncated) probe search, judged at
    * full oversample (the q_simsearch_quantized honesty pattern): the
    * 32-of-64-dim shortlist keeps every row, so the exact
    * full-dimension re-rank returns EXACTLY probeSearch's top-k and
    * the oracle is the same exact math; the pruned-oversample recall
    * tradeoff is pinned by SimilaritySpec.
    */
  val qSimsearchTruncated: QueryFn = withTables { spark =>
    val emb = spark.table("embeddings")
    Similarity.probeSearchTruncated(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dims = 32, oversample = 400000)
      .select(col("probe_id"), col("rank").as("rnk"), col("corpus_id"),
        round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** Two-stage sign-binarized probe search, judged at full oversample
    * (same honesty pattern): the 1-bit-per-dim Hamming shortlist keeps
    * every row, so the exact float re-rank returns EXACTLY
    * probeSearch's top-k; SimilaritySpec pins the pruned recall.
    */
  val qSimsearchBinary: QueryFn = withTables { spark =>
    val emb = spark.table("embeddings")
    Similarity.probeSearchBinary(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dim = 64, oversample = 400000)
      .select(col("probe_id"), col("rank").as("rnk"), col("corpus_id"),
        round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** Engine-portable stratified sample over documents: per-lang keep
    * fractions (dyadic — exact doubles), every keep/drop decision
    * replayed exactly by the oracle's identical md5 draw; unlisted
    * strata (zh) drop.
    */
  val qSampleStratified: QueryFn = withTables { spark =>
    graft.operators.Sampling.stratifiedPortable(
        spark.table("documents").select("doc_id", "lang"),
        "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 1.0))
      .orderBy("doc_id")
  }

  /** Deterministic negative sampling, judged value-exact: every draw
    * (index arithmetic on the md5 value, the dense candidate index,
    * the duplicate-draw collapse) replays identically in the oracle.
    */
  val qNegativeSample: QueryFn = withTables { spark =>
    val docs = spark.table("documents")
    graft.operators.Sampling.negativeSample(
        docs.filter(col("doc_id") < 50), "doc_id",
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 500), "doc_id",
        k = 3)
      .orderBy("anchor_id", "cand_id")
  }

  /** JL random projection 64→16, judged value-exact: the ±1 sign
    * matrix re-derives from the same md5 bit on both engines, sign
    * flips are IEEE-exact, both engines fold the dot product in the
    * same order, and √16 scaling is exact — so the projected doubles
    * are bit-identical and compare as scale-6 integers (the
    * q_pool_mean float-formatting dodge), serialized to one CSV scalar
    * per row (SURVEY.md §5.4 rule 6: the driver's pandas hash diff
    * cannot sort/hash array cells — the q_array_agg pattern).
    */
  val qRandomProjection: QueryFn = withTables { spark =>
    graft.operators.Projection.project(
        spark.table("embeddings"), "embedding", inDim = 64, outDim = 16,
        seed = "jl")
      .select(col("vec_id"),
        expr("""array_join(transform(proj,
                  p -> cast(cast(round(p * 1000000) as bigint) as string)), ',')""")
          .as("proj"))
      .orderBy("vec_id")
  }

  /** ANN via banded hyperplane LSH, exact re-score, bounded scope.
    *
    * Honesty note: the synthetic embeddings are near-uniform (no pair
    * above cos 0.6), so at the judged threshold 0.4 full recall needs
    * wide bands (64 × 2 planes ⇒ per-pair miss ≈ (1-p²)⁶⁴ < 1e-13) and
    * LSH cannot prune much — pruning on clustered data is pinned by
    * SimilaritySpec instead. The judged value here is the end-to-end
    * banded equi-join shape hash-matching the exact oracle.
    */
  val qAnnLsh: QueryFn = withTables { spark =>
    Similarity.lshCosinePairs(
        spark.table("embeddings").filter(col("vec_id") < 300),
        "vec_id", "embedding",
        bands = 64, planesPerBand = 2, seed = 42L, dim = 64, minCos = 0.4)
      .withColumn("cos", round(col("cos"), 6).cast("double"))
      .orderBy("id1", "id2")
  }

  /** ANN via IVF (the 100 TB similarity-search user's path): seeded
    * k-means coarse quantizer, inverted-file assignment, per-probe cell
    * scan. Judged at recall 1: nprobe == k probes EVERY cell, so the
    * result is exactly the probe-search top-k and the DuckDB oracle is
    * the exact search math — the same honesty pattern as q_ann_lsh.
    * Actual pruning (nprobe < k scanning nprobe/k of the corpus) is
    * pinned by IvfIndexSpec against the exact oracle on clustered data.
    */
  val qAnnIvf: QueryFn = withTables { spark =>
    val emb = spark.table("embeddings")
    // iters=1: at nprobe == k the search scans EVERY cell, so the
    // judged result is exact whatever the centroids are — extra k-means
    // sweeps only improve pruning quality at nprobe < k, which
    // IvfIndexSpec exercises separately (profiled: training was ~2 s of
    // this query's 2.2 s at iters=3).
    val centroids = IvfIndex.train(emb, "vec_id", "embedding",
      k = 8, iters = 1, seed = 42L)
    val assigned = IvfIndex.assign(emb, "vec_id", "embedding", centroids)
    IvfIndex.search(assigned, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", centroids, nprobe = 8, topK = 5)
      .select(col("probe_id"), col("rank").as("rnk"), col("corpus_id"),
        round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** L5: tokenization + corpus word count — over the session-shared
    * [[TextMemo]] counts (integer re-aggregation, value-identical). */
  val qTokensWordcount: QueryFn = withTablesSf { (spark, sfDir) =>
    TextAnalysis.wordCountsFromCounts(TextMemo.tokenCounts(spark, sfDir))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** L6: TF-IDF top-5 terms per doc (doc_id < 100 keeps the judged
    * output bounded; the operator itself streams at any N).
    */
  val qTfidf: QueryFn = withTables { spark =>
    TextAnalysis.tfidf(
        spark.table("documents").filter(col("doc_id") < 100),
        "doc_id", "text", k = 5)
      .select(col("doc_id"), col("rank").as("rnk"), col("tok"),
        round(col("tfidf"), 6).cast("double").as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** RAKE top-20 keyphrases over the document corpus: stopword-free
    * runs as candidates ('a'/'the' plus the domain adjectives as the
    * stopword set), integer degree/frequency stats, 12-dp-frozen word
    * scores into decimal phrase sums, (score DESC, phrase) cut.
    */
  val qRake: QueryFn = withTables { spark =>
    TextAnalysis.rakeKeywords(spark.table("documents"), "doc_id", "text",
      stopwords = Seq("a", "the", "fast", "slow", "big", "small"), k = 20)
  }

  /** Sparse lexical similarity: all-pairs TF-IDF cosine over 2-word
    * shingle vectors via the inverted-index equi-join (the lexical dual
    * of q_cosine_topk). maxDf=50 is the posting-list bound — on this
    * corpus it prunes nothing at the judged SFs (max bigram df is
    * ~25), so the oracle sees the full vector space, while the SAME
    * plan at web scale caps join cost at vocab·maxDf². Shingles rather
    * than unigrams because the testdata vocabulary is 31 words, each
    * in ~80% of docs — unigram df-pruning would delete the space.
    */
  val qSparseCosine: QueryFn = withTables { spark =>
    TextAnalysis.sparseCosinePairs(
        spark.table("documents").filter(col("doc_id") < 200),
        "doc_id", "text", minCosine = 0.1, maxDf = 50, shingle = 2)
      .select(col("i"), col("j"), round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("i", "j")
  }

  /** L7: per-(lang, source) corpus statistics. */
  val qTextstats: QueryFn = withTables { spark =>
    TextAnalysis.textStats(spark.table("documents"), "text", Seq("lang", "source"))
      .orderBy("lang", "source")
  }

  /** Lexical-richness panel per language: hapax ratio, Yule's K, and
    * Simpson's D from exact per-word count power sums — the
    * vocabulary-structure gauges beside q_heaps' growth curve.
    */
  val qLexical: QueryFn = withTables { spark =>
    TextAnalysis.lexicalRichness(spark.table("documents"), "lang", "text")
      .orderBy("lang")
  }

  /** Mean segmental type-token ratio (25-token segments) per document:
    * the length-robust lexical-diversity gauge — all-integer segment
    * distinct counts, one rounded division, partial tails excluded.
    */
  val qMsttr: QueryFn = withTables { spark =>
    TextAnalysis.msttr(spark.table("documents"), "doc_id", "text",
        segment = 25)
      .orderBy("doc_id")
  }

  /** MMR diverse rerank judged end-to-end (upgrading the L42
    * ScalaTest-only row): a 12-candidate shortlist with deterministic
    * id-derived relevance, λ = 0.5, four greedy picks — scores are
    * bit-exact on both engines (index-ordered dot-product folds, IEEE
    * sqrt, max penalty), so the oracle unrolls all four argmax steps.
    */
  val qMmr: QueryFn = withTables { spark =>
    val shortlist = spark.table("embeddings")
      .filter(col("vec_id") < 12)
      .select(col("vec_id"), col("embedding"),
        round((col("vec_id") * 37 % 100).cast("double") / 100.0, 6)
          .as("rel"))
    graft.operators.Similarity.mmrRerank(shortlist, "vec_id",
        "embedding", "rel", k = 4, lambda = 0.5)
      .select(col("id"), col("rank"),
        round(col("mmr_score"), 6).cast("double").as("mmr_score"))
      .orderBy("rank")
  }

  /** Corpus readability per language: Flesch reading ease + FK grade
    * from exact integer word/sentence/vowel-group counts, one rounded
    * float tree each.
    */
  val qReadability: QueryFn = withTables { spark =>
    TextAnalysis.readability(spark.table("documents"), "text",
        Seq("lang"))
      .orderBy("lang")
  }

  /** SMOG grade per language: the readability panel's polysyllable
    * member — hard-word counts via one per-word vowel-group
    * transform, exact sums, one rounded tree.
    */
  val qSmog: QueryFn = withTables { spark =>
    TextAnalysis.smog(spark.table("documents"), "text", Seq("lang"))
      .orderBy("lang")
  }

  /** Corpus ROUGE-1/2 recall of each document's body by its lead
    * sentence per lang: the lead-baseline summary-coverage number on
    * exact clipped gram counts.
    */
  val qRougeLead: QueryFn = withTables { spark =>
    TextAnalysis.rougeLead(spark.table("documents"), "lang", "doc_id",
        "text")
      .orderBy("lang")
  }

  /** Corpus BLEU-2 of the PII-redacted text against the original per
    * lang: the cleaning-fidelity gauge — clipped precisions, brevity
    * penalty, frozen ln/exp combination.
    */
  val qBleuClean: QueryFn = withTables { spark =>
    TextAnalysis.bleuPair(spark.table("documents"), "lang", "doc_id",
        TextAnalysis.redactPii(col("text")), col("text"))
      .orderBy("lang")
  }

  /** Coleman–Liau readability per lang: the character-based panel
    * member — letters/sentences per 100 words on exact summed
    * counts.
    */
  val qColemanLiau: QueryFn = withTables { spark =>
    TextAnalysis.colemanLiau(spark.table("documents"), "text",
        Seq("lang"))
      .orderBy("lang")
  }

  /** Quality scoring: deterministic length/word-shape heuristic. */
  val qQualityScore: QueryFn = withTables { spark =>
    val docs = spark.table("documents")
    val words = TextAnalysis.wordCount(col("text"))
    val awl = length(regexp_replace(col("text"), " ", "")) * lit(1.0) / words
    docs.select(
        col("doc_id"),
        words.cast("bigint").as("words"),
        round(awl, 6).cast("double").as("awl"),
        round(TextAnalysis.qualityScore(col("text")), 6).cast("double").as("quality"))
      .orderBy("doc_id")
  }

  /** Quality-quantile curation: keep the top 25% of each language by
    * the corpus quality score — the "keep the best X% per stratum by
    * classifier score" curation step, judged set-exact. The kept set
    * is a pure function of the (score DESC, doc_id) order, which both
    * engines compute identically (same IEEE expression tree), so no
    * rounding enters the FILTER — rounding is display-only.
    */
  val qQualityFilter: QueryFn = withTables { spark =>
    val docs = spark.table("documents")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
    graft.operators.Sampling.keepTopQuantile(
        docs, Seq("lang"), col("quality"), "doc_id", keepFrac = 0.25)
      .select(col("doc_id"), col("lang"),
        round(col("quality"), 6).cast("double").as("quality"))
      .orderBy("doc_id")
  }

  /** Out-of-vocabulary rate per document against the pinned top-16
    * corpus vocabulary — tokenizer-coverage check; pure per-row array
    * expressions at the scan (no join, no shuffle). The oracle's vocab
    * literal is GENERATED from the same pinned constant.
    */
  val qOov: QueryFn = withTables { spark =>
    spark.table("documents").select(
        col("doc_id"),
        round(TextAnalysis.oovRate(col("text"), TextAnalysis.PinnedVocab), 6)
          .cast("double").as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Time-series resample: per-user daily grid over the events span,
    * value forward-filled from the latest observation at-or-before
    * each grid instant (pandas `resample('1D').last().ffill()`
    * parity; ties at equal seconds break by greatest value — the
    * deterministic rule both engines reproduce).
    */
  val qResampleFfill: QueryFn = withTables { spark =>
    graft.operators.Resample.lastFill(
        spark.table("events"), "user_id", "ts", "value", 86400L)
      .orderBy("user_id", "grid_ts")
  }

  /** Per-user EWMA of event values (pandas ewm(alpha=0.3,
    * adjust=False) parity): the recursive smoother runs as one
    * streaming mapPartitions fold; the oracle replays the SAME
    * recursion via WITH RECURSIVE with the identical IEEE expression
    * tree, so the comparison is value-exact, not
    * rounding-boundary-lucky. (ts, event_id) makes the order total.
    */
  val qEwma: QueryFn = withTables { spark =>
    graft.operators.Resample.ewma(
        spark.table("events").select("event_id", "user_id", "ts", "value"),
        "user_id", Seq("ts", "event_id"), "value", alpha = 0.3)
      .select(col("event_id"), col("user_id"),
        round(col("ewma"), 6).cast("double").as("ewma"))
      .orderBy("event_id")
  }

  /** EWMA control chart over the q_ewma series: the same recursion on
    * 6-dp-frozen values plus the exact finite-sample limits for the
    * y₁ = x₁ start, center ± 3σ√(α/(2−α)(1−(1−α)^{2(t−1)}) +
    * (1−α)^{2(t−1)}), from each user's full-run exact-decimal
    * mean/sd — flags compare 6-dp-frozen values only.
    */
  val qEwmaChart: QueryFn = withTables { spark =>
    graft.operators.Resample.ewmaChart(
        spark.table("events").select("event_id", "user_id", "ts", "value"),
        "user_id", Seq("ts", "event_id"), "value", alpha = 0.3,
        limitL = 3.0)
      .select(col("event_id"), col("user_id"), col("value"), col("ewma"),
        col("center"), col("ucl"), col("lcl"), col("out_of_control"))
      .orderBy("event_id")
  }

  /** Per-type Pearson + Spearman correlation of value against event
    * time — "is this metric trending, and monotonically or linearly?"
    * Time enters as SECONDS (identical double on both engines);
    * Spearman is Pearson over average ranks, ties handled like
    * pandas/SciPy.
    */
  val qCorr: QueryFn = withTables { spark =>
    val e = spark.table("events")
      .withColumn("t", unix_micros(col("ts")) / lit(1000000.0))
    graft.operators.Profiling.correlations(e, Seq("event_type"), "value", "t")
      .select(col("event_type"),
        round(col("pearson"), 6).cast("double").as("pearson"),
        round(col("spearman"), 6).cast("double").as("spearman"),
        col("n"))
      .orderBy("event_type")
  }

  /** Rolling median + p90 of event values per user over a trailing
    * 10-row frame (ts, event_id order). Both engines compute the
    * type-7 linear-interpolation quantile (Spark side from the sorted
    * frame array, DuckDB via windowed MEDIAN/QUANTILE_CONT), rounded
    * to 6 dp.
    */
  val qRollingMedian: QueryFn = withTables { spark =>
    val base = spark.table("events")
      .select("event_id", "user_id", "ts", "value")
    val med = graft.operators.Resample.rollingQuantile(
      base, "user_id", Seq("ts", "event_id"), "value",
      frameRows = 10, q = 0.5, outCol = "med")
    graft.operators.Resample.rollingQuantile(
        med, "user_id", Seq("ts", "event_id"), "value",
        frameRows = 10, q = 0.9, outCol = "p90")
      .select(col("event_id"), col("user_id"),
        round(col("med"), 6).cast("double").as("med"),
        round(col("p90"), 6).cast("double").as("p90"))
      .orderBy("event_id")
  }

  /** Hard negatives: top-5 nearest DIFFERENT-label vectors per anchor.
    * Oracle replays the same all-pairs + label-mismatch filter +
    * per-anchor rank; cosine rounded to 6 dp (the q_knn_pergroup
    * precedent).
    */
  val qHardNegatives: QueryFn = withTables { spark =>
    Similarity.hardNegatives(
        spark.table("embeddings"), "vec_id", "embedding", "label", m = 5)
      .select(col("id1"), col("rank").as("rnk"), col("id2"),
        round(col("cos"), 6).cast("double").as("cos"))
      .orderBy("id1", "rnk")
  }

  /** Vocabulary coverage curve: top-40 tokens with cumulative share of
    * occurrences. cum_share rounds to 6 dp (integer-count division).
    */
  val qVocabCoverage: QueryFn = withTables { spark =>
    TextAnalysis.vocabCoverage(
        spark.table("documents"), "doc_id", "text", topK = 40)
      .select(col("rank").as("rnk"), col("tok"), col("cnt"),
        round(col("cum_share"), 6).cast("double").as("cum_share"))
      .orderBy("rnk")
  }

  /** Length-bucketed batching over documents (n_chars, width 200,
    * batches of 32): deterministic batch ids and positions, exact
    * integer output — no rounding needed.
    */
  val qBucketBatches: QueryFn = withTables { spark =>
    graft.operators.Packing.bucketBatches(
        spark.table("documents"), "doc_id", col("n_chars"),
        bucketWidth = 200, batchSize = 32)
      .select(col("doc_id"), col("len"), col("bucket"),
        col("batch_id"), col("pos_in_batch"))
      .orderBy("doc_id")
  }

  /** PMI collocations: top-50 token pairs by document-level pointwise
    * mutual information at minDf 25. Rank is computed over the pre-log
    * ratio (IEEE-exact in both engines); pmi rounds to 6 dp.
    */
  val qPmiPairs: QueryFn = withTables { spark =>
    TextAnalysis.pmiTopPairs(
        spark.table("documents"), "doc_id", "text", minDf = 25, topK = 50)
      .select(col("rank").as("rnk"), col("t1"), col("t2"), col("c_xy"),
        round(col("pmi"), 6).cast("double").as("pmi"))
      .orderBy("rnk")
  }

  /** Zipf fit over the top-30 vocabulary ranks: OLS slope/intercept/r2
    * of ln(count) on ln(rank), one row, rounded to 6 dp.
    */
  val qZipfFit: QueryFn = withTables { spark =>
    TextAnalysis.zipfFit(spark.table("documents"), "doc_id", "text", topK = 30)
      .select(round(col("slope"), 6).cast("double").as("slope"),
        round(col("intercept"), 6).cast("double").as("intercept"),
        round(col("r2"), 6).cast("double").as("r2"),
        col("n_ranks"))
  }

  /** Rolling z-score anomalies over a trailing 20-row frame per user.
    * The anomaly flag compares the ROUNDED z against the threshold so
    * an engine ulp difference at the boundary cannot flip it; exported
    * as 0/1 bigint.
    */
  val qRollingZscore: QueryFn = withTables { spark =>
    val base = spark.table("events")
      .select("event_id", "user_id", "ts", "value")
    graft.operators.Resample.rollingZscore(
        base, "user_id", Seq("ts", "event_id"), "value",
        frameRows = 20, threshold = 2.5)
      .select(col("event_id"), col("user_id"),
        round(col("z"), 6).cast("double").as("z"),
        when(abs(round(col("z"), 6)) > 2.5, 1L).otherwise(0L).as("is_anom"))
      .orderBy("event_id")
  }

  /** Deterministic MLM masking at 15 %: every mask decision is
    * md5('mlm:doc:pos') < 0.15, replayed exactly by the oracle;
    * labels are "pos:token" CSV in position order.
    */
  val qMlmMask: QueryFn = withTables { spark =>
    TextAnalysis.mlmMask(
        spark.table("documents"), "doc_id", "text", rate = 0.15)
      .select("doc_id", "masked_text", "labels", "n_masked")
      .orderBy("doc_id")
  }

  /** Per-dimension embedding statistics (collapse/whitening profile):
    * mean, sample std, min, max, count per coordinate, rounded to 6 dp.
    */
  val qEmbDimstats: QueryFn = withTables { spark =>
    graft.operators.Profiling.embeddingDimStats(
        spark.table("embeddings"), "embedding")
      .select(col("dim"),
        round(col("mean"), 6).cast("double").as("mean"),
        round(col("std"), 6).cast("double").as("std"),
        round(col("mn"), 6).cast("double").as("mn"),
        round(col("mx"), 6).cast("double").as("mx"),
        col("n"))
      .orderBy("dim")
  }

  /** Leakage-free split: portable 75/12.5/12.5 assignment, then train
    * rows with an exact-Jaccard (>= 0.95) near-dup in valid/test are
    * dropped. Pair source is the oracle-replayable exact path; the
    * corpus-scale path swaps in minHashLshNearDup with the same
    * contract.
    */
  val qSplitLeakfree: QueryFn = withTables { spark =>
    val docs = spark.table("documents").filter(col("doc_id") < 1000)
    val pairs = Dedup.nearJaccardPrefix(docs, "doc_id", "text", minJaccard = 0.95)
      .select("i", "j")
    graft.operators.Sampling.leakFreeSplit(docs, "doc_id",
        Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125), pairs)
      .select("doc_id", "split")
      .orderBy("doc_id")
  }

  /** N-gram novelty: per-doc fraction of distinct 3-grams unique to
    * that doc, rounded to 6 dp.
    */
  val qNgramNovelty: QueryFn = withTables { spark =>
    TextAnalysis.ngramNovelty(spark.table("documents"), "doc_id", "text", n = 3)
      .select(col("doc_id"), col("n_grams"),
        round(col("novelty"), 6).cast("double").as("novelty"))
      .orderBy("doc_id")
  }

  /** Linear-interpolation resample (pandas `interpolate()` parity):
    * judged against a DuckDB re-expression of the same two-directional
    * window kernel, rounded to 6 dp (division order differs from
    * decimal-exact aggregation).
    */
  val qResampleInterp: QueryFn = withTables { spark =>
    import org.apache.spark.sql.functions.{col, round}
    graft.operators.Resample.linearInterp(
        spark.table("events"), "user_id", "ts", "value", 86400L)
      .withColumn("value", round(col("value"), 6).cast("double"))
      .orderBy("user_id", "grid_ts")
  }

  /** Marker-based language ID over the documents table (judged): two
    * marker sets, argmax with ties toward the lexically-first language,
    * 'und' when nothing hits — the oracle replicates the same LIKE
    * conditions and tie rule.
    */
  val qLangId: QueryFn = withTables { spark =>
    TextAnalysis.languageId(spark.table("documents"), "text", Map(
        "en" -> Seq("the", "fast", "join"),
        "zz" -> Seq("batch", "stream", "merge")))
      .select("doc_id", "lang_pred")
      .orderBy("doc_id")
  }

  /** Burrows' Delta stylometric distances between sources over the
    * corpus's top-50 words: 12-dp frequencies, across-source z-scores
    * with sample sd, mean |Δz| per source pair — the authorship/
    * register fingerprint.
    */
  val qBurrowsDelta: QueryFn = withTables { spark =>
    TextAnalysis.burrowsDelta(spark.table("documents"), "source", "text",
        topK = 50)
      .orderBy("group_a", "group_b")
  }

  /** Chao1 vocabulary-richness + Good's coverage per source — "how
    * much vocabulary is still unseen / is this slice saturated":
    * exact counts-of-counts, one rounded expression per estimate.
    */
  val qChao1: QueryFn = withTables { spark =>
    TextAnalysis.vocabRichness(spark.table("documents"), "source", "text")
      .orderBy("source")
  }

  /** Jackknife richness estimators per source: jack1 = S + f1,
    * jack2 = S + 2f1 − f2 — the resampling bracket around q_chao1's
    * lower bound, exact integers end to end.
    */
  val qJackknife: QueryFn = withTables { spark =>
    TextAnalysis.jackknifeRichness(spark.table("documents"), "source",
        "text")
      .orderBy("source")
  }

  /** Pairwise Bray–Curtis dissimilarity between language corpora over
    * term counts: exact Σmin folds from one term-keyed self-join, one
    * rounded division per pair.
    */
  val qBrayCurtis: QueryFn = withTables { spark =>
    TextAnalysis.brayCurtis(spark.table("documents"), "lang", "text")
      .orderBy("group_a", "group_b")
  }

  /** Gries' DP dispersion of the top-25 terms across language parts:
    * the exact cross-multiplied |v−s| mass (shares never float), one
    * rounded division per term.
    */
  val qDispersionDp: QueryFn = withTables { spark =>
    TextAnalysis.dispersionDp(spark.table("documents"), "lang", "text",
        topK = 25)
      .orderBy(desc("total"), asc("term"))
  }

  /** Simple Good–Turing smoothed counts r* for r = 1..5 per source —
    * the LM discount head; empty ranks report 0 types with NULL r*.
    */
  val qGoodTuring: QueryFn = withTables { spark =>
    TextAnalysis.goodTuring(spark.table("documents"), "source", "text",
        maxR = 5)
      .orderBy("source", "r")
  }

  /** TRAINED char-trigram language ID (TextCat rank profiles): learn
    * top-100 gram profiles per language from the labeled 80% of the
    * corpus, classify the held-out doc_id%5==0 docs by integer
    * out-of-place distance — q_lang_id consumes hand markers, this
    * PRODUCES the label a curation pipeline keys on. All-integer
    * counts/ranks/distances; the oracle replays the identical
    * profiles and argmin.
    *
    * Accuracy note (honesty bound): the synthetic corpus assigns
    * `lang` labels UNCORRELATED with the text (every language shares
    * the same 31-word vocabulary — measured), so held-out accuracy
    * here is chance for ANY classifier; the judged claim is the exact
    * profile arithmetic. The accuracy law lives in TextAnalysisSpec
    * on a char-separable fixture, where the classifier is perfect.
    */
  val qLangIdProfile: QueryFn = withTables { spark =>
    val docs = spark.table("documents")
    TextAnalysis.languageIdTrained(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", "lang", n = 3, topK = 100)
      .orderBy("doc_id")
  }

  /** PII redaction, judged value-exact: the synthetic docs carry no
    * PII, so the query splices a deterministic email + URL + long id
    * into each text (same splice in the oracle) and redacts — all three
    * patterns fire on every row.
    */
  val qRedactPii: QueryFn = withTables { spark =>
    val spliced = spark.table("documents")
      .withColumn("raw", concat(col("text"),
        lit(" reach user"), col("doc_id"),
        lit("@mail.example.com or https://ex"), col("doc_id"),
        lit(".org/page ref 9876543210")))
    spliced.select(col("doc_id"),
        TextAnalysis.redactPii(col("raw")).as("clean"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination, judged: every 10th doc plays the
    * "benchmark" set (interleaved split — the corpus's near-dup pairs
    * are id-adjacent, so a contiguous split would never cross one); a
    * training doc sharing any 3-gram with the benchmark is
    * contaminated. The eval side broadcasts; the oracle regenerates the
    * same shingles with DuckDB list slicing.
    */
  val qDecontaminate: QueryFn = withTables { spark =>
    val docs = spark.table("documents")
    TextAnalysis.contamination(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signal, judged: per-doc fraction of
    * bigram occurrences claimed by the most frequent bigram.
    */
  val qRepetition: QueryFn = withTables { spark =>
    TextAnalysis.repetitionScore(spark.table("documents"), "doc_id", "text", n = 2)
      .orderBy("doc_id")
  }

  /** Per-key sample cap, judged on the group COUNTS it leaves behind:
    * capPerKey keeps a deterministic hash-ranked subset, and the only
    * engine-portable invariant is its size — LEAST(k, group size) —
    * which the oracle states directly. (Which rows survive depends on
    * xxhash64, which DuckDB doesn't have; SamplingSpec pins row-level
    * determinism.)
    */
  val qSampleCap: QueryFn = withTables { spark =>
    graft.operators.Sampling.capPerKey(
        spark.table("documents"), Seq("source"), "doc_id", k = 10)
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
      .orderBy("source")
  }

  /** Heavy hitters via the Misra-Gries native aggregate, judged at the
    * EXACT regime: capacity 65536 exceeds the corpus vocabulary, so the
    * one-pass bounded-memory sketch returns true counts and the oracle
    * is a plain GROUP BY top-20 (cnt desc, tok tie-break). The bounded-
    * capacity approximation behavior is pinned by FreqSketchSpec.
    */
  val qHeavyHitters: QueryFn = withTables { spark =>
    TextAnalysis.tokenize(spark.table("documents"), "doc_id", "text")
      .agg(graft.functions.FrequentItemsAgg.freqSketch(col("tok"), 65536).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.tok").as("tok"), col("e.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(20)
  }

  /** Document chunking, judged: 25-token windows at stride 20 (5-token
    * overlap) — the fan-out that precedes chunk embedding.
    */
  val qChunk: QueryFn = withTables { spark =>
    TextAnalysis.chunk(spark.table("documents"), "doc_id", "text",
        chunkTokens = 25, stride = 20)
      .orderBy("doc_id", "chunk_no")
  }

  /** Winsorized event values, judged: thresholds are exact percentiles
    * computed in-plan (broadcast one-row agg, no driver collect) and
    * the clamp is map-side — DuckDB QUANTILE_CONT states the same math.
    */
  val qWinsorize: QueryFn = withTables { spark =>
    graft.operators.Outliers.winsorize(
        spark.table("events").select("event_id", "value"),
        "value", pLo = 0.05, pHi = 0.95)
      .select(col("event_id"),
        round(col("value"), 6).cast("double").as("value"))
      .orderBy("event_id")
  }

  /** Tukey IQR outlier filter, judged: same in-plan threshold shape as
    * q_winsorize, dropping far-tail rows instead of clamping.
    */
  val qIqrFilter: QueryFn = withTables { spark =>
    graft.operators.Outliers.iqrFilter(
        spark.table("events").select("event_id", "value"), "value", k = 1.5)
      .select(col("event_id"),
        round(col("value"), 6).cast("double").as("value"))
      .orderBy("event_id")
  }

  /** Canonical normalization judged value-exact: junk is spliced onto
    * the clean fixture (the q_redact_pii pattern) so the chain
    * demonstrably lowercases, strips, and collapses; both engines run
    * the identical Java/RE2-portable regex chain.
    */
  val qNormalize: QueryFn = withTables { spark =>
    spark.table("documents")
      .select(col("doc_id"),
        TextAnalysis.normalize(
          concat(lit("Hello, WORLD!!  #42__ "), col("text"))).as("norm"))
      .orderBy("doc_id")
  }

  /** Key-skew diagnostic over lineitem's supplier key: one per-key
    * count shuffle + a one-row reduction, exact integers everywhere
    * but the two rounded ratios.
    */
  val qKeySkew: QueryFn = withTables { spark =>
    graft.operators.Profiling.keySkew(spark.table("lineitem"), Seq("l_suppkey"))
      .select(col("n_rows"), col("n_keys"), col("max_rows"),
        round(col("avg_rows"), 6).cast("double").as("avg_rows"),
        round(col("top_share"), 6).cast("double").as("top_share"))
  }

  /** Robust z-score anomaly scoring per event_type: median/MAD from
    * the SAME exact-percentile family as q_winsorize (QUANTILE_CONT
    * parity), score arithmetic spelled identically on both engines.
    */
  val qRobustZscore: QueryFn = withTables { spark =>
    graft.operators.Outliers.robustZScore(
        spark.table("events").select("event_id", "event_type", "value"),
        "value", Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        round(col("robust_z"), 6).cast("double").as("robust_z"))
      .orderBy("event_id")
  }

  /** A9: HLL approximate distinct — no oracle (approximate by design);
    * ScalaTest bounds it against the exact count.
    */
  val qApproxDistinct: QueryFn = withTables { spark =>
    spark.table("events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy("event_type")
  }

  /** Deterministic shard assignment for N training workers: stable,
    * coordination-free, oracle-replayable per row.
    */
  /** Rendezvous (HRW) shard assignment: argmax over 8 shards of the
    * md5 draw of "key|shard" — the reshard-stable dual of
    * q_shard_assign's modulo (growing the fleet moves only the new
    * shard's winners, pinned in SamplingSpec).
    */
  val qShardHrw: QueryFn = withTables { spark =>
    graft.operators.Sampling.assignShardsHrw(
        spark.table("documents"), "doc_id", 8)
      .select("doc_id", "shard")
      .orderBy("doc_id")
  }

  val qShardAssign: QueryFn = withTables { spark =>
    graft.operators.Sampling.assignShards(spark.table("documents"), "doc_id", 8)
      .select("doc_id", "shard")
      .orderBy("doc_id")
  }

  /** Token-budget selection: first 2000 whitespace tokens' worth of
    * docs per lang in doc_id order — the "fill the mix to a token
    * quota" step; the boundary-crossing doc is kept by contract.
    */
  val qTokenBudget: QueryFn = withTables { spark =>
    graft.operators.Sampling.takeTokenBudget(
        spark.table("documents"), Seq("lang"), "doc_id", tieCol = "doc_id",
        size(filter(split(lower(col("text")), " "), w => w =!= "")),
        budgetTokens = 2000L)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Exact-count sampling: exactly floor(0.2·n) docs per source, the
    * quota contract Bernoulli draws only meet in expectation. The md5
    * permutation makes the kept SET oracle-replayable row for row.
    */
  val qSampleExact: QueryFn = withTables { spark =>
    graft.operators.Sampling.sampleExactFraction(
        spark.table("documents"), Seq("source"), "doc_id", 0.2)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Per-type value trend over event time via the built-in regression
    * aggregates (regr_slope/regr_intercept) — drift detection for a
    * monitored metric; one hash agg, output type-count-sized. x =
    * epoch hours as double (exact integer micros / constant on both
    * engines); 6 dp (float-sum precedent).
    */
  val qTrend: QueryFn = withTables { spark =>
    val x = unix_micros(col("ts")).cast("double") / lit(3600000000.0)
    spark.table("events")
      .groupBy("event_type")
      .agg(
        round(regr_slope(col("value"), x), 6).cast("double").as("slope"),
        round(regr_intercept(col("value"), x), 6).cast("double").as("intercept"))
      .orderBy("event_type")
  }

  /** Snapshot diff (changelog GENERATION, the applyChangelog inverse):
    * before = orders; after = a deterministic edit (prices bumped on
    * keys %10==0, keys %10==1 dropped, keys %10==2 re-inserted under
    * key+1000000). One full outer join; output is change-sized.
    */
  val qSnapshotDiff: QueryFn = withTables { spark =>
    val before = spark.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val after = before.filter(col("o_orderkey") % 10 =!= 1)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")))
      .unionByName(before.filter(col("o_orderkey") % 10 === 2)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    graft.operators.Cdc.diffSnapshots(before, after, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("op"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** CDC changelog merge, judged end-to-end: a deterministic changelog
    * derived from orders (two update generations on keys %10==0, one
    * generation only above key 100; tombstones on keys %10==1) applied
    * to the base snapshot. One key shuffle; the oracle re-derives the
    * merge with the same generic window rule.
    */
  /** Statement-level MERGE INTO through the [[graft.Graft.mergeSql]]
    * parser (r12 verdict item 4): updates on the mod-10 keys, a
    * conditional DELETE on the mod-20 subset, inserts on offset keys —
    * the three-clause statement a user migrating MERGE SQL writes,
    * routed to the Cdc window rule. The oracle replays the clause
    * semantics directly (matched-delete / matched-update /
    * not-matched-insert set algebra).
    */
  val qMergeInto: QueryFn = withTables { spark =>
    val orders = spark.table("orders")
    val src = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .withColumn("o_orderstatus", lit("U"))
      .unionByName(orders.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    graft.Graft.mergeSql(spark,
      """MERGE INTO t USING s ON t.o_orderkey = s.o_orderkey
         WHEN MATCHED AND s.o_orderkey % 20 = 0 THEN DELETE
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""",
      Map("t" -> orders, "s" -> src))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Statement-level UPDATE through [[graft.Graft.updateSql]]: two SET
    * clauses (one referencing the pre-update row) over a modular
    * predicate — the second member of the DML trio. The price bump is
    * an exact double addition (a ×1.1 multiply lands half-way values
    * like .955 on different sides of the 2-dp round across engines —
    * measured, not theoretical); one rounded price.
    */
  val qUpdateInto: QueryFn = withTables { spark =>
    graft.Graft.updateSql(spark,
      """UPDATE t SET o_totalprice = o_totalprice + 250.0,
                      o_orderstatus = 'X'
         WHERE o_orderkey % 7 = 0""",
      Map("t" -> spark.table("orders")))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Statement-level DELETE through [[graft.Graft.deleteSql]]: ANSI
    * semantics — rows where the condition is TRUE are removed,
    * NULL-condition rows survive.
    */
  val qDeleteFrom: QueryFn = withTables { spark =>
    graft.Graft.deleteSql(spark,
      "DELETE FROM t WHERE o_totalprice > 150000 OR o_orderstatus = 'F'",
      Map("t" -> spark.table("orders")))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Statement-level INSERT through [[graft.Graft.insertSql]],
    * completing the DML quartet: the VALUES inline-table form, then
    * the INSERT-SELECT form with a column list whose unnamed target
    * columns NULL-fill (ANSI positional binding) — composed so one
    * judged result covers all three statement features. Unique keys
    * keep the sort total without ordering on the NULL-filled column.
    */
  val qInsertInto: QueryFn = withTables { spark =>
    val r1 = graft.Graft.insertSql(spark,
      "INSERT INTO r VALUES (100, 'ANTARCTICA'), (101, 'ATLANTIS')",
      Map("r" -> spark.table("region")))
    graft.Graft.insertSql(spark,
      """INSERT INTO r (r_regionkey)
         SELECT n_nationkey + 200 FROM nation WHERE n_nationkey < 3""",
      Map("r" -> r1, "nation" -> spark.table("nation")))
      .orderBy("r_regionkey")
  }

  /** Snapshot time travel end-to-end through [[graft.tables.Versioned]]
    * (r14 verdict item 3): orders is written as a versioned table
    * partitioned by status, a three-clause merge (update / delete /
    * insert-into-a-NEW-partition) commits v2, then BOTH versions are
    * read back and aggregated — v1 must replay the PRE-merge table
    * (the time-travel claim: the merge physically appended files and
    * the v1 snapshot still names the originals) and v2 the merged one.
    * Exact-cents sums keep the aggregate order-free. The scratch table
    * lives in a per-run temp dir; the result is localCheckpointed
    * (bounded: versions × statuses rows) before cleanup.
    */
  val qTimeTravel: QueryFn = withTables { spark =>
    import graft.tables.Versioned
    val base = spark.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val dir = java.nio.file.Files.createTempDirectory("graft_tt")
      .toString + "/orders"
    try {
      Versioned.create(spark, dir, base, Seq("o_orderstatus"))
      val src = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        .unionByName(base.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("o_orderstatus", lit("N")))
      Versioned.mergeInto(spark, dir, src,
        on = Seq("o_orderkey", "o_orderstatus"),
        partitionCols = Seq("o_orderstatus"),
        whenMatchedDeleteIf = Some(col("o_orderkey") % 20 === 0))
      def agg(df: org.apache.spark.sql.DataFrame, v: Int) =
        df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            (sum(round(col("o_totalprice") * 100.0).cast("long"))
              .cast("double") / 100.0).as("total"))
          .withColumn("version", lit(v))
      agg(Versioned.load(spark, dir, Some(1)), 1)
        .unionByName(agg(Versioned.load(spark, dir, Some(2)), 2))
        .select("version", "o_orderstatus", "n_orders", "total")
        .orderBy("version", "o_orderstatus")
        .localCheckpoint()
    } finally {
      val root = new org.apache.hadoop.fs.Path(dir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root.getParent, true)
    }
  }

  /** PERSISTED statement-level UPDATE through
    * [[graft.Graft.updateSqlVersioned]]: orders becomes a versioned
    * table partitioned by status, the ANSI statement commits v2 (only
    * partitions containing a matching row rewrite — the F partition
    * is untouched by the predicate), and the judged result is the v2
    * read-back. The persisted claim beyond q_update_into's pure
    * transform: the update survived a write/commit/load round trip
    * with v1 still readable underneath.
    */
  val qUpdateSql: QueryFn = withTables { spark =>
    import graft.tables.Versioned
    val base = spark.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val dir = java.nio.file.Files.createTempDirectory("graft_upd")
      .toString + "/orders"
    try {
      Versioned.create(spark, dir, base, Seq("o_orderstatus"))
      val v = graft.Graft.updateSqlVersioned(spark,
        """UPDATE t SET o_totalprice = o_totalprice + 125.0
           WHERE o_orderkey % 5 = 0 AND o_orderstatus <> 'F'""",
        dir, Seq("o_orderstatus"))
      require(v == 2, s"q_update_sql: expected v2, got v$v")
      Versioned.load(spark, dir, Some(2))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
        .localCheckpoint()
    } finally {
      val root = new org.apache.hadoop.fs.Path(dir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root.getParent, true)
    }
  }

  /** PERSISTED statement-level DELETE through
    * [[graft.Graft.deleteSqlVersioned]]: the statement's TRUE rows
    * vanish from the committed v2 (the P partition empties entirely —
    * under snapshots an emptied partition just has no files), NULL
    * rows would survive; judged on the v2 read-back.
    */
  val qDeleteSql: QueryFn = withTables { spark =>
    import graft.tables.Versioned
    val base = spark.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val dir = java.nio.file.Files.createTempDirectory("graft_del")
      .toString + "/orders"
    try {
      Versioned.create(spark, dir, base, Seq("o_orderstatus"))
      val v = graft.Graft.deleteSqlVersioned(spark,
        "DELETE FROM t WHERE o_orderstatus = 'P' OR o_totalprice > 200000",
        dir, Seq("o_orderstatus"))
      require(v == 2, s"q_delete_sql: expected v2, got v$v")
      Versioned.load(spark, dir, Some(2))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
        .localCheckpoint()
    } finally {
      val root = new org.apache.hadoop.fs.Path(dir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root.getParent, true)
    }
  }

  /** Versioned ADD COLUMN schema evolution, judged end-to-end (r16
    * verdict item 4): orders becomes a versioned table partitioned by
    * status (v1); ADD COLUMN priority_score commits v2 as a
    * METADATA-ONLY snapshot (same files, evolved declared schema — the
    * query `require`s v1 still reads its own pre-evolution schema and
    * v2 reads the new column as typed NULL over the unchanged files);
    * an INSERT whose rows CARRY the column commits v3 (a mixed-schema
    * snapshot: old files union-widen to NULL on read); an UPDATE that
    * backfills the column for %10==0 keys rewrites only touched
    * partitions ACROSS the evolution boundary (v4). Judged on the v4
    * read-back; the oracle replays the same algebra as a NULL-extended
    * union + CASE backfill.
    */
  val qSchemaEvolution: QueryFn = withTables { spark =>
    import graft.tables.Versioned
    val base = spark.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val dir = java.nio.file.Files.createTempDirectory("graft_evo")
      .toString + "/orders"
    try {
      Versioned.create(spark, dir, base, Seq("o_orderstatus"))
      val v2 = Versioned.addColumn(spark, dir, "priority_score",
        org.apache.spark.sql.types.DoubleType)
      require(v2 == 2, s"q_schema_evolution: expected v2, got $v2")
      require(!Versioned.load(spark, dir, Some(1)).columns
          .contains("priority_score"),
        "q_schema_evolution: v1 must keep its pre-evolution schema")
      require(Versioned.load(spark, dir, Some(2))
          .filter(col("priority_score").isNotNull).isEmpty,
        "q_schema_evolution: v2 must read the evolved column as NULL")
      val ins = spark.table("orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"),
          round(col("o_totalprice") / 1000.0, 2).as("priority_score"))
      val v3 = Versioned.insertInto(spark, dir, ins, Seq("o_orderstatus"))
      require(v3 == 3, s"q_schema_evolution: expected v3, got $v3")
      val v4 = Versioned.updateWhere(spark, dir,
        Seq("priority_score" -> lit(1.5)),
        col("o_orderkey") % 10 === 0, Seq("o_orderstatus"))
      require(v4 == 4, s"q_schema_evolution: expected v4, got $v4")
      Versioned.load(spark, dir, Some(4))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).cast("double").as("o_totalprice"),
          col("priority_score").cast("double").as("priority_score"))
        .orderBy("o_orderkey")
        .localCheckpoint()
    } finally {
      val root = new org.apache.hadoop.fs.Path(dir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root.getParent, true)
    }
  }

  /** Round-2 schema evolution (r17 verdict item 6): ADD + RENAME +
    * DROP + retention on one versioned table — add `priority`,
    * rename `o_totalprice` → `price` (old files keep the bytes under
    * the old name; the rename-chain coalesce reads both generations
    * as one column), insert post-rename rows, UPDATE `price` across
    * the rename boundary, drop `priority`, and read the final
    * version. In-flow requires pin each version's own schema and the
    * latent-name-reuse refusal.
    */
  val qSchemaEvolution2: QueryFn = withTables { spark =>
    import graft.tables.Versioned
    val base = spark.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val dir = java.nio.file.Files.createTempDirectory("graft_evo2")
      .toString + "/orders"
    try {
      Versioned.create(spark, dir, base, Seq("o_orderstatus"))
      val v2 = Versioned.addColumn(spark, dir, "priority",
        org.apache.spark.sql.types.DoubleType)
      require(v2 == 2, s"q_schema_evolution2: expected v2, got $v2")
      val v3 = Versioned.renameColumn(spark, dir, "o_totalprice", "price")
      require(v3 == 3, s"q_schema_evolution2: expected v3, got $v3")
      require(Versioned.load(spark, dir, Some(2)).columns
          .contains("o_totalprice"),
        "q_schema_evolution2: v2 must keep the pre-rename name")
      val ins = spark.table("orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("o_orderstatus"),
          // NO 2-dp round here: cents/2 lands exactly on the .xx5
          // boundary where the engines' double-rounding disagrees;
          // half-cents are exact doubles-at-3-dp, 6-dp is boundary-free
          (col("o_totalprice") / 2.0).as("price"),
          round(col("o_totalprice") / 1000.0, 2).as("priority"))
      val v4 = Versioned.insertInto(spark, dir, ins, Seq("o_orderstatus"))
      require(v4 == 4, s"q_schema_evolution2: expected v4, got $v4")
      val v5 = Versioned.updateWhere(spark, dir,
        Seq("price" -> lit(1.5)), col("o_orderkey") % 10 === 0,
        Seq("o_orderstatus"))
      require(v5 == 5, s"q_schema_evolution2: expected v5, got $v5")
      val v6 = Versioned.dropColumn(spark, dir, "priority")
      require(v6 == 6, s"q_schema_evolution2: expected v6, got $v6")
      require(!Versioned.load(spark, dir).columns.contains("priority")
          && Versioned.load(spark, dir, Some(5)).columns
            .contains("priority"),
        "q_schema_evolution2: drop must be forward-only")
      locally {
        val refused = scala.util.Try(
          Versioned.addColumn(spark, dir, "o_totalprice",
            org.apache.spark.sql.types.DoubleType)).isFailure
        require(refused, "q_schema_evolution2: latent-name reuse " +
          "must be refused")
      }
      Versioned.load(spark, dir, Some(6))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("price"), 6).cast("double").as("price"))
        .orderBy("o_orderkey")
        .localCheckpoint()
    } finally {
      val root = new org.apache.hadoop.fs.Path(dir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root.getParent, true)
    }
  }

  /** Persistable quantile sketch, judged at the exact regime and
    * through a genuine RELOAD: per-(event_type, day) sketches build,
    * persist to parquet, reload, merge per event_type, and answer
    * four quantiles — k = 65536 exceeds every per-type count at the
    * judged SF, so no compaction fires and each answer is the exact
    * type-1 order statistic (value at rank ceil(q·n)); beyond k the
    * same pipeline degrades to the rank-error-bounded estimate
    * (deviation law in PersistenceSpec). Values pass through exactly —
    * no rounding anywhere.
    */
  val qQuantileSketch: QueryFn = withTables { spark =>
    import graft.functions.QuantileSketch
    val k = 65536
    val daily = spark.table("events")
      .groupBy(col("event_type"), col("ts").cast("date").as("d"))
      .agg(QuantileSketch.sketchAgg(col("value").cast("double"), k)
        .as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("graft_qsk")
      .toString + "/sk"
    try {
      daily.write.parquet(dir)
      // sort the merged sketches, then extract: the range sort's
      // sampling job and its shuffle-map job each evaluate the sort's
      // input, so an extraction below the sort ran twice; above it, it
      // runs once, in the result stage
      spark.read.parquet(dir)
        .groupBy("event_type")
        .agg(QuantileSketch.mergeAgg(col("sk"), k).as("sk"))
        .orderBy("event_type")
        .select(col("event_type"),
          QuantileSketch.countOf(col("sk")).as("n"),
          QuantileSketch.quantileOf(col("sk"), 0.25).as("q25"),
          QuantileSketch.quantileOf(col("sk"), 0.5).as("median"),
          QuantileSketch.quantileOf(col("sk"), 0.75).as("q75"),
          QuantileSketch.quantileOf(col("sk"), 0.9).as("q90"))
        .localCheckpoint()
    } finally {
      val root = new org.apache.hadoop.fs.Path(dir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root.getParent, true)
    }
  }

  val qCdcMerge: QueryFn = withTables { spark =>
    val orders = spark.table("orders")
    val base = orders.withColumn("version", lit(0L))
    val upd1 = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("version", lit(1L)).withColumn("is_delete", lit(false))
    val upd2 = orders.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") < 100)
      .withColumn("o_totalprice", col("o_totalprice") + 200.0)
      .withColumn("o_orderstatus", lit("V"))
      .withColumn("version", lit(2L)).withColumn("is_delete", lit(false))
    val dels = orders.filter(col("o_orderkey") % 10 === 1)
      .withColumn("version", lit(1L)).withColumn("is_delete", lit(true))
    graft.operators.Cdc.applyChangelog(base,
        upd1.unionByName(upd2).unionByName(dels), Seq("o_orderkey"), "version")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** CDC streaming-materialization replay, judged end-to-end: the SAME
    * changelog as q_cdc_merge split into three MICRO-BATCHES (update
    * gen 1, tombstones, update gen 2 — the arrival order a streaming
    * foreachBatch sink would see) and FOLDED through applyChangelog
    * one batch at a time, each output the next batch's base — exactly
    * the CdcSpec foreachBatch pattern, here against the DuckDB oracle
    * of the ONE-SHOT merge. Green means batch-fold == one-shot: the
    * incremental materialization a stream maintains equals the batch
    * table a full refresh would build (applyChangelog's fold
    * associativity for version-ordered batches).
    */
  val qCdcReplay: QueryFn = withTables { spark =>
    val orders = spark.table("orders")
    val base = orders.withColumn("version", lit(0L))
    val batches = Seq(
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("version", lit(1L)).withColumn("is_delete", lit(false)),
      orders.filter(col("o_orderkey") % 10 === 1)
        .withColumn("version", lit(1L)).withColumn("is_delete", lit(true)),
      orders.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") < 100)
        .withColumn("o_totalprice", col("o_totalprice") + 200.0)
        .withColumn("o_orderstatus", lit("V"))
        .withColumn("version", lit(2L)).withColumn("is_delete", lit(false)))
    batches.foldLeft(base) { (state, batch) =>
        graft.operators.Cdc.applyChangelog(
          state, batch, Seq("o_orderkey"), "version")
      }
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Per-source unigram KL drift vs the corpus distribution — the
    * data-mixing diagnostic. One token-granularity shuffle; everything
    * downstream is vocabulary-sized; corpus total rides an in-plan
    * one-row broadcast. Rounded to 6 dp (the lmScore float-sum
    * precedent).
    */
  val qDrift: QueryFn = withTablesSf { (spark, sfDir) =>
    TextAnalysis.unigramDriftFromCounts(TextMemo.tokenCounts(spark, sfDir),
        spark.table("documents"), "source")
      .select(col("source"), round(col("kl"), 6).cast("double").as("kl"))
      .orderBy("source")
  }

  /** Declarative data-quality gate over lineitem: five rules, ONE
    * aggregation pass (one scan, one one-row agg, rule-sized unpivot).
    * Mixed pass/fail by construction so the report shape is exercised.
    */
  val qDqChecks: QueryFn = withTables { spark =>
    graft.operators.Profiling.checkConstraints(spark.table("lineitem"), Seq(
        "quantity_range" -> col("l_quantity").between(1, 50),
        "discount_bounded" -> (col("l_discount") <= 0.08),
        "price_positive" -> (col("l_extendedprice") > 0),
        "tax_bounded" -> (col("l_tax") < 0.05),
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R")))
      .orderBy("rule")
  }

  /** Per-row quantile discretization (feature binning): each lineitem
    * row tagged with its l_extendedprice quartile — the histogram's
    * assignment step kept at row granularity; exact-cut judged regime.
    */
  val qDiscretize: QueryFn = withTables { spark =>
    graft.operators.Profiling.discretizeEquiDepth(
        spark.table("lineitem"), "l_extendedprice", nBuckets = 4, exact = true)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("bucket").cast("int").as("bucket"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Equi-depth histogram of l_extendedprice (8 buckets), judged in
    * the exact-percentile regime; the default approx_percentile path
    * is the 100 TB setting (ProfilingSpec pins its depth balance).
    */
  val qHistogramEqdepth: QueryFn = withTables { spark =>
    graft.operators.Profiling.equiDepthHistogram(
        spark.table("lineitem"), "l_extendedprice", nBuckets = 8, exact = true)
      .orderBy("bucket")
  }

  /** Count-Min point estimates in the exact (collision-free) regime:
    * width 2719 over a 31-word vocabulary, so every estimate equals
    * the true count and DuckDB's plain GROUP BY is the oracle — the
    * judged-regime honesty pattern of q_heavy_hitters/q_ann_ivf.
    * CountMinSpec pins the upper-bound property in the collision
    * regime the oracle can't express.
    */
  val qCmsCounts: QueryFn = withTables { spark =>
    val toks = TextAnalysis.tokenize(spark.table("documents"), "doc_id", "text")
      .filter(col("tok") =!= "")
    graft.functions.CountMin.pointEstimates(toks, "tok",
        toks.select("tok").distinct())
      .orderBy("tok")
  }

  /** Document fingerprinting, judged via the engine-portable md5
    * variant (the simHashPortable pattern): the same two-prime rolling
    * fold restated over DuckDB's list_reduce. Production callers use
    * the xxhash64 [[TextAnalysis.fingerprint]]; DedupSpec pins that
    * both variants agree on dup/non-dup structure.
    */
  val qFingerprint: QueryFn = withTables { spark =>
    TextAnalysis.fingerprintPortable(spark.table("documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** BPE subword tokenization, judged value-exact on every (doc, pos,
    * token) triple: the pinned sf0.001-trained merge table applied via
    * the engine-portable replace chain ([[Bpe.encodedTokensCol]]) — the
    * DuckDB oracle replays the IDENTICAL call sequence generated from
    * the same table ([[Bpe.encodedTokensSql]]), so the two sides cannot
    * drift. Pure codegen'd string ops per row; the only post-scan work
    * is the explode. Bounded to 100 docs to keep the judged output
    * proportionate; `q_bpe_fertility` covers the full corpus.
    */
  val qBpe: QueryFn = withTables { spark =>
    Bpe.tokenizePortable(
        spark.table("documents").filter(col("doc_id") < 100),
        "doc_id", "text", Bpe.PinnedMerges)
      .orderBy("doc_id", "pos")
  }

  /** Subword fertility per document over the FULL corpus: subword and
    * whitespace token counts side by side — the real context-window
    * budget (packing on whitespace counts undercounts by exactly this
    * ratio). No explode, no shuffle: two array-length projections.
    */
  val qBpeFertility: QueryFn = withTables { spark =>
    spark.table("documents").select(
        col("doc_id"),
        size(Bpe.encodedTokensCol(col("text"), Bpe.PinnedMerges))
          .cast("bigint").as("n_subwords"),
        size(filter(split(lower(col("text")), " "), w => w =!= ""))
          .cast("bigint").as("n_words"))
      .orderBy("doc_id")
  }

  /** Sequence packing (stream-offset semantics), judged: documents
    * packed into 2048-token bins per lang shard — one running-sum
    * window per shard, the closed form that parallelizes over shards
    * at 100 TB. The capacity-strict greedy variant is sequential by
    * definition and is pinned by PackingSpec instead.
    */
  val qPackOffset: QueryFn = withTables { spark =>
    graft.operators.Packing.packByOffset(
        spark.table("documents"), Seq("lang"), "doc_id",
        size(split(lower(col("text")), " ")), budgetTokens = 2048)
      .orderBy("lang", "doc_id")
  }

  /** Packing × BPE composition: the SAME stream-offset packing driven
    * by real subword counts instead of whitespace counts — the budget
    * a context window actually enforces. Judged end-to-end: the BPE
    * replace chain feeds the running-sum window in one plan.
    */
  val qPackBpe: QueryFn = withTables { spark =>
    graft.operators.Packing.packByOffset(
        spark.table("documents"), Seq("lang"), "doc_id",
        size(Bpe.encodedTokensCol(col("text"), Bpe.PinnedMerges)),
        budgetTokens = 2048)
      .orderBy("lang", "doc_id")
  }

  /** Weighted corpus mixing, judged value-exact: the md5-portable draw
    * lets the oracle replay every keep/drop decision. Two disjoint
    * slices of `documents` stand in for two corpora; weights 0.5/0.25.
    */
  val qMixCorpora: QueryFn = withTables { spark =>
    val docs = spark.table("documents")
    graft.operators.Sampling.mixCorpora(Seq(
        ("head", docs.filter(col("doc_id") < 250), 0.5),
        ("tail", docs.filter(col("doc_id") >= 250 && col("doc_id") < 500), 0.25)),
      "doc_id")
      .select(col("corpus"), col("doc_id"), col("lang"))
      .orderBy("corpus", "doc_id")
  }

  /** Temperature-based (α=0.5) multinomial mixture weights per source —
    * the multilingual rebalancing diagnostic: draw probability
    * n^α/Σn^α and implied epochs-per-source for a corpus-sized draw.
    * One count shuffle; totals ride an in-plan one-row broadcast.
    */
  val qMixTemperature: QueryFn = withTables { spark =>
    graft.operators.Sampling.temperatureWeights(
        spark.table("documents"), "source", alpha = 0.5)
      .select(col("source"), col("n"),
        round(col("weight"), 6).cast("double").as("weight"),
        round(col("epochs"), 6).cast("double").as("epochs"))
      .orderBy("source")
  }

  /** Cross-document block dedup (line-level dedup restated for a
    * newline-free corpus): 8-word blocks shared across docs survive
    * only in their min-doc_id holder; docs are rebuilt from surviving
    * blocks. Row-preserving — output has one row per input doc.
    */
  val qDedupBlocks: QueryFn = withTables { spark =>
    Dedup.dedupBlocksAcrossDocs(spark.table("documents"), "doc_id", "text",
        blockWords = 8)
      .orderBy("doc_id")
  }

  /** Scale-safe global dense ids over a total order — judged against
    * the single-partition ROW_NUMBER the operator exists to avoid:
    * same answer, but the data path stays range-partitioned at full
    * parallelism (plan-pinned in PlanSpec).
    */
  val qDenseIds: QueryFn = withTables { spark =>
    graft.operators.Indexing.denseIds(
        spark.table("orders").select("o_orderkey", "o_totalprice"),
        Seq("o_totalprice", "o_orderkey"))
      .select(col("o_orderkey"), col("rid"))
      .orderBy("o_orderkey")
  }

  /** END-TO-END curation pipeline, judged as ONE composed plan:
    * normalize → quality gate (>= 0.85 on the normalized text) →
    * exact dedup (keep min doc_id per normalized text) → deterministic
    * train/valid/test split. The point is compositionality: four
    * library stages chain into a single Catalyst plan (scan-level
    * regexp chain, per-row score filter, ONE window-holder dedup
    * shuffle — the agg + semi-join dual evaluates the regexp subtree
    * twice, measured — per-row split draw) and the oracle replays the
    * whole pipeline as chained CTEs. The gate compares the UNROUNDED score —
    * pure integer-length arithmetic, identical doubles both engines.
    */
  val qPipelineCurate: QueryFn = withTables { spark =>
    import org.apache.spark.sql.expressions.Window
    val normed = spark.table("documents")
      .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm"))
    val gated = normed
      .withColumn("q", TextAnalysis.qualityScore(col("norm")))
      .filter(col("q") >= 0.85)
    // keep-min dedup as a window holder (the dedupBlocksAcrossDocs
    // shape): ONE shuffle on the dedup key and the scan+regexp chain
    // runs once — the agg + semi-join dual evaluates the gated subtree
    // twice for the same keep set
    val deduped = gated
      .withColumn("_keep", min("doc_id").over(Window.partitionBy("norm")))
      .filter(col("doc_id") === col("_keep"))
    graft.operators.Sampling.splitPortable(deduped, "doc_id",
        Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125))
      .select(col("doc_id"),
        round(col("q"), 6).cast("double").as("quality"), col("split"))
      .orderBy("doc_id")
  }

  /** One-hot encoding over the pinned language vocabulary — pure
    * per-row projections at the scan; the vocabulary is pinned in the
    * query (the production contract: profiling pass or schema, never a
    * mid-plan collect).
    */
  val qOnehot: QueryFn = withTables { spark =>
    graft.operators.Encoding.oneHot(
        spark.table("documents").select("doc_id", "lang"),
        "lang", Seq("de", "en", "es", "fr", "zh"))
      .orderBy("doc_id")
  }

  /** Hashing-trick features (dim 64, md5-portable index + sign),
    * judged value-exact: weights are sums of ±1, so no rounding is
    * even needed.
    */
  val qFeatureHash: QueryFn = withTables { spark =>
    graft.operators.Encoding.featureHash(
        spark.table("documents"), "doc_id", "text", dim = 64)
      .orderBy("doc_id", "dim")
  }

  /** Leave-one-out target encoding of order priority against total
    * price — the leakage-guarded mean encoding. Rounded to 4 dp (the
    * geomean float-sum precedent).
    */
  val qTargetEncode: QueryFn = withTables { spark =>
    graft.operators.Encoding.targetEncodeLoo(
        spark.table("orders").select("o_orderkey", "o_orderpriority", "o_totalprice"),
        "o_orderpriority", "o_totalprice")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("te"), 4).cast("double").as("te"))
      .orderBy("o_orderkey")
  }

  /** Deterministic train/valid/test split, judged value-exact via the
    * portable draw: every row's assignment is replayed by the oracle.
    * Dyadic weights (0.75/0.125/0.125) make the cumulative cut points
    * exact doubles in both engines.
    */
  val qSplitTvt: QueryFn = withTables { spark =>
    graft.operators.Sampling.splitPortable(
        spark.table("documents"), "doc_id",
        Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125))
      .select("doc_id", "split")
      .orderBy("doc_id")
  }

  /** GROUP-level split (scikit GroupShuffleSplit semantics): the draw
    * keys on the ENTITY (user), not the row, so every event of a user
    * lands in the same split — the leakage guard row-level splitting
    * misses (a user's behavior in train and test is memorization, not
    * generalization). Same per-row md5 draw, pushable at the scan;
    * group atomicity is a free consequence of keying on the group.
    */
  val qSplitGrouped: QueryFn = withTables { spark =>
    graft.operators.Sampling.splitPortable(
        spark.table("events").select("event_id", "user_id"), "user_id",
        Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125))
      .select("event_id", "user_id", "split")
      .orderBy("event_id")
  }

  /** Embedding mean-pooling per label class via the native mergeable
    * VectorMeanAgg — chunk-to-document pooling at the shuffle cost of
    * one (sum-vector, count) pair per group. Judged against DuckDB's
    * per-position AVG of the same float32 values; elements compare as
    * scale-4 integers (round(x*1e4)) so engine float FORMATTING can't
    * diverge (both engines sum float32 inputs in a float64
    * accumulator, so the values themselves agree), serialized to one
    * CSV scalar per row (SURVEY.md §5.4 rule 6: the driver's pandas
    * hash diff cannot sort/hash array cells — the q_array_agg pattern).
    */
  val qPoolMean: QueryFn = withTables { spark =>
    spark.table("embeddings")
      .groupBy("label")
      .agg(graft.functions.VectorMeanAgg.vectorMean(col("embedding")).as("m"))
      .select(col("label"),
        expr("""array_join(transform(m,
                  x -> cast(cast(round(x * 10000) as bigint) as string)), ',')""")
          .as("pooled"))
      .orderBy("label")
  }

  /** Cross-document repeated 5-token spans (exact-substring dedup's
    * anchor step): one generate + one hash agg over the shared shingle
    * generator, judged value-exact.
    */
  val qRepeatedSpans: QueryFn = withTables { spark =>
    TextAnalysis.repeatedSpans(
        spark.table("documents").filter(col("doc_id") < 1000),
        "doc_id", "text", n = 5, minDocs = 2)
      .orderBy("tok")
  }

  /** Maximal repeated spans on the q_repeated_spans corpus: per doc,
    * the maximal runs whose every 5-gram repeats in >= 2 docs — the
    * suffix-array-class cut unit (one long boilerplate block = one
    * span), anchors + gaps-and-islands instead of a suffix build.
    */
  val qRepeatedSpansMaximal: QueryFn = withTables { spark =>
    TextAnalysis.maximalRepeatedSpans(
        spark.table("documents").filter(col("doc_id") < 1000),
        "doc_id", "text", minLen = 5, minDocs = 2)
      .orderBy("doc_id", "start")
  }

  /** The treatment step for q_repeated_spans' detections: cut every
    * token covered by a cross-doc 5-gram span (>= 3 docs — minDocs 2
    * on this corpus would shred most text) and rebuild each doc;
    * row-preserving (empty string when everything was boilerplate).
    */
  val qRemoveSpans: QueryFn = withTables { spark =>
    TextAnalysis.removeRepeatedSpans(
        spark.table("documents").filter(col("doc_id") < 200),
        "doc_id", "text", n = 5, minDocs = 3)
      .orderBy("doc_id")
  }

  /** L2 follow-through: duplicate CLUSTERS, not just pairs. The pair
    * set is q_dedup_ngram_jaccard's exact 3-shingle Jaccard edges; the
    * transitive closure resolves to (doc, min-reachable-doc) via
    * Clustering.connectedComponents. Judged against a DuckDB recursive
    * CTE computing the same min-label fixpoint.
    */
  val qDedupClusters: QueryFn = withTables { spark =>
    val docs = spark.table("documents").filter(col("doc_id") < 500)
    val pairs = Dedup.nearNgramJaccard(docs, "doc_id", "text",
        n = 3, minJaccard = 0.2).select("i", "j")
    Clustering.connectedComponents(pairs, "i", "j")
      .select(col("v").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** The user-facing end of the dedup story: the surviving corpus after
    * dropping every non-canonical cluster member found above.
    */
  val qDedupCanonical: QueryFn = withTables { spark =>
    val docs = spark.table("documents").filter(col("doc_id") < 500)
    val pairs = Dedup.nearNgramJaccard(docs, "doc_id", "text",
        n = 3, minJaccard = 0.2).select("i", "j")
    Clustering.keepCanonical(docs, "doc_id", pairs, "i", "j")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** L4 quality scoring, model-based: bigram-LM mean log-probability
    * per document (self-scored corpus), the CCNet-style perplexity
    * filter. Counts are exact integers both sides; only the final mean
    * is floating, rounded at 6 dp.
    */
  val qLmScore: QueryFn = withTables { spark =>
    TextAnalysis.lmScore(
        spark.table("documents").filter(col("doc_id") < 1000),
        "doc_id", "text", k = 0.5)
      .select(col("doc_id"),
        round(col("lm_score"), 6).cast("double").as("lm_score"))
      .orderBy("doc_id")
  }

  /** Fuzzy string matching, judged: edit-distance-1 self-join over part
    * names plus first-char-deleted variants (guaranteed distance-1
    * partners), via FastSS deletion-neighborhood blocking + levenshtein
    * verify. The oracle brute-forces LEVENSHTEIN over all pairs — same
    * result set because depth-1 neighborhoods are complete for d <= 1.
    */
  val qFuzzyJoin: QueryFn = withTables { spark =>
    val base = spark.table("part").filter(col("p_partkey") <= 500)
      .select(col("p_partkey").as("id"), col("p_name").as("s"))
    val variants = base.select((col("id") + 10000).as("id"),
      expr("substr(s, 2)").as("s"))
    graft.operators.FuzzyJoin.editDistance1SelfJoin(
        base.unionByName(variants), "id", "s")
      .withColumn("dist", col("dist").cast("bigint"))
      .orderBy("i", "j")
  }

  /** BM25 top-5 terms per doc — the retrieval-grade sibling of
    * q_tfidf, same bounded scope. Constants that are float-inexact
    * (k1=1.2) appear as the same decimal literal on both engines, and
    * derived constants (k1+1, 1-b) are written as the same ARITHMETIC
    * on both sides, so IEEE evaluation agrees bit-for-bit before the
    * 6 dp round.
    */
  /** BM25 ranked retrieval for the query {vector, join, window}:
    * top-10 docs by the 12-dp-frozen per-term score sum — the ranked
    * step after q_bool_search's set step.
    */
  val qBm25Search: QueryFn = withTables { spark =>
    TextAnalysis.bm25Search(spark.table("documents"), "doc_id", "text",
      Seq("vector", "join", "window"), topK = 10)
  }

  val qBm25: QueryFn = withTables { spark =>
    TextAnalysis.bm25(
        spark.table("documents").filter(col("doc_id") < 100),
        "doc_id", "text", k = 5, k1 = 1.2, b = 0.75)
      .select(col("doc_id"), col("rank").as("rnk"), col("tok"),
        round(col("bm25"), 6).cast("double").as("bm25"))
      .orderBy("doc_id", "rnk")
  }

  /** Token-distribution entropy per document: counts are exact
    * integers on both engines; only the final entropy is floating,
    * rounded at 6 dp.
    */
  val qTokenEntropy: QueryFn = withTablesSf { (spark, sfDir) =>
    TextAnalysis.tokenEntropyFromCounts(TextMemo.tokenCounts(spark, sfDir))
      .withColumn("entropy", round(col("entropy"), 6).cast("double"))
      .orderBy("doc_id")
  }

  /** Distance-2 fuzzy matching via bigram blocking: planted partners
    * are two leading substitutions ('zz' over the first two chars), so
    * every base-variant pair sits at distance <= 2; the oracle
    * brute-forces LEVENSHTEIN over all pairs in the bounded scope. The
    * count-filter recall guarantee holds (every string >= 6 chars at
    * q=2, maxDist=2), so blocked == brute force exactly.
    */
  val qFuzzyJoin2: QueryFn = withTables { spark =>
    val base = spark.table("part").filter(col("p_partkey") <= 300)
      .select(col("p_partkey").as("id"), col("p_name").as("s"))
    val variants = base.select((col("id") + 10000).as("id"),
      expr("concat('zz', substr(s, 3))").as("s"))
    graft.operators.FuzzyJoin.qgramEditJoin(
        base.unionByName(variants), "id", "s", maxDist = 2, q = 2)
      .withColumn("dist", col("dist").cast("bigint"))
      .orderBy("i", "j")
  }

  /** Weighted sampling without replacement: 25 docs per language,
    * inclusion odds proportional to length — every exponential race
    * time -ln(u)/w is replayed by the oracle from the same md5 draw,
    * and the doc_id tiebreak makes the rank total, so the kept SET is
    * value-exact (ln's 1-ulp cross-engine noise is ~9 orders below
    * the gaps between 60-bit-uniform race times).
    */
  val qSampleWeighted: QueryFn = withTables { spark =>
    graft.operators.Sampling.weightedSamplePortable(
        spark.table("documents"), Seq("lang"), "doc_id",
        col("n_chars").cast("double"), k = 25)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")
  }

  /** Deterministic global shuffle order: shard + in-shard position
    * from two independent portable draws; every assignment replayed
    * exactly by the oracle (integer mod + row_number, no floats in
    * the shard path).
    */
  val qGlobalShuffle: QueryFn = withTables { spark =>
    graft.operators.Sampling.globalShuffle(
        spark.table("documents"), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** Skip-gram (center, context) pair counts at window 3 — generated
    * by a per-row HOF (no self-join on Spark's side); the oracle
    * derives the identical pair multiset from an ordinality self-join.
    * Counts are exact integers; nothing floats.
    */
  val qSkipgram: QueryFn = withTables { spark =>
    TextAnalysis.skipgramCounts(
        spark.table("documents").filter(col("doc_id") < 200),
        "doc_id", "text", window = 3)
      .orderBy("w1", "w2")
  }

  /** Per-shard XOR content checksums over (text, lang, source):
    * 60-bit md5 digests under injective length-prefixed framing,
    * XOR-folded per shard — bit-identical on both engines (md5 and
    * XOR have no float or ordering freedom anywhere).
    */
  val qShardChecksum: QueryFn = withTables { spark =>
    graft.operators.Profiling.shardChecksum(
        spark.table("documents"), "doc_id",
        Seq("text", "lang", "source"), nShards = 8)
  }

  /** Mutual information lang × source with marginal entropies and the
    * normalized coefficient: all probabilities are exact integer
    * ratios, logs land only in the final cell-table-sized sum,
    * rounded at 6 dp.
    */
  val qMutualInfo: QueryFn = withTables { spark =>
    graft.operators.Profiling.mutualInfo(
        spark.table("documents"), "lang", "source")
      .select(
        round(col("mi"), 6).cast("double").as("mi"),
        round(col("h_a"), 6).cast("double").as("h_a"),
        round(col("h_b"), 6).cast("double").as("h_b"),
        round(col("nmi"), 6).cast("double").as("nmi"),
        col("n_rows"))
  }

  /** Per-event-type z-score + min-max scaling, row-preserving; the
    * degenerate-group NULL contract is part of the judged surface
    * (CASE mirrors the when() exactly). 6 dp round absorbs the
    * partial-aggregation vs sequential-sum ulps in mean/std.
    */
  val qScaleFeatures: QueryFn = withTables { spark =>
    graft.operators.Encoding.scaleNumeric(
        spark.table("events").select("event_id", "event_type", "value"),
        "event_type", "value")
      .select(col("event_id"),
        round(col("z"), 6).cast("double").as("z"),
        round(col("minmax"), 6).cast("double").as("minmax"))
      .orderBy("event_id")
  }

  /** Distribution-shape aggregates (skewness, excess kurtosis) from
    * raw power sums — spelled as the SAME explicit moment arithmetic
    * on both engines because the built-ins disagree (Spark's
    * skewness/kurtosis are population-form, DuckDB's are
    * bias-corrected sample-form). Values are pre-scaled by 1e-5 so
    * the 4th-power sums stay far from the 2^53 integer-precision
    * cliff, and 6 dp rounding absorbs sum-order ulps.
    */
  val qAggShape: QueryFn = withTables { spark =>
    val x = col("l_extendedprice") / lit(100000.0)
    spark.table("lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
      .select(col("l_returnflag"), col("n"),
        round((col("s3") / col("n") - lit(3.0) * (col("s1") / col("n")) * (col("s2") / col("n"))
            + lit(2.0) * (col("s1") / col("n")) * (col("s1") / col("n")) * (col("s1") / col("n")))
          / pow(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")), 1.5), 6)
          .cast("double").as("skew"),
        round((col("s4") / col("n") - lit(4.0) * (col("s1") / col("n")) * (col("s3") / col("n"))
            + lit(6.0) * (col("s1") / col("n")) * (col("s1") / col("n")) * (col("s2") / col("n"))
            - lit(3.0) * (col("s1") / col("n")) * (col("s1") / col("n")) * (col("s1") / col("n")) * (col("s1") / col("n")))
          / pow(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")), 2.0) - lit(3.0), 6)
          .cast("double").as("kurt"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, QueryFn] = Map(
    "q_sample_weighted" -> qSampleWeighted,
    "q_global_shuffle" -> qGlobalShuffle,
    "q_skipgram" -> qSkipgram,
    "q_shard_checksum" -> qShardChecksum,
    "q_mutual_info" -> qMutualInfo,
    "q_scale_features" -> qScaleFeatures,
    "q_agg_shape" -> qAggShape,
    "q_fuzzy_join2" -> qFuzzyJoin2,
    "q_bm25" -> qBm25,
    "q_bm25_search" -> qBm25Search,
    "q_token_entropy" -> qTokenEntropy,
    "q_fuzzy_join" -> qFuzzyJoin,
    "q_dedup_clusters" -> qDedupClusters,
    "q_dedup_canonical" -> qDedupCanonical,
    "q_lm_score" -> qLmScore,
    "q_repeated_spans" -> qRepeatedSpans,
    "q_repeated_spans_maximal" -> qRepeatedSpansMaximal,
    "q_remove_spans" -> qRemoveSpans,
    "q_pool_mean" -> qPoolMean,
    "q_split_tvt" -> qSplitTvt,
    "q_split_grouped" -> qSplitGrouped,
    "q_fingerprint" -> qFingerprint,
    "q_bpe" -> qBpe,
    "q_bpe_fertility" -> qBpeFertility,
    "q_pack_offset" -> qPackOffset,
    "q_pack_bpe" -> qPackBpe,
    "q_mix_corpora" -> qMixCorpora,
    "q_mix_temperature" -> qMixTemperature,
    "q_pipeline_curate" -> qPipelineCurate,
    "q_dense_ids" -> qDenseIds,
    "q_onehot" -> qOnehot,
    "q_feature_hash" -> qFeatureHash,
    "q_target_encode" -> qTargetEncode,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_blocks" -> qDedupBlocks,
    "q_sparse_cosine" -> qSparseCosine,
    "q_dedup_near_jaccard" -> qDedupNearJaccard,
    "q_dedup_lsh_jaccard" -> qDedupLshJaccard,
    "q_dedup_ngram_jaccard" -> qDedupNgramJaccard,
    "q_dedup_containment" -> qDedupContainment,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_near_embedding" -> qDedupNearEmbedding,
    "q_cosine_topk" -> qCosineTopk,
    "q_knn_pergroup" -> qKnnPergroup,
    "q_label_agreement" -> qLabelAgreement,
    "q_centroid_cos" -> qCentroidCos,
    "q_simsearch_probe" -> qSimsearchProbe,
    "q_simsearch_quantized" -> qSimsearchQuantized,
    "q_simsearch_truncated" -> qSimsearchTruncated,
    "q_simsearch_binary" -> qSimsearchBinary,
    "q_random_projection" -> qRandomProjection,
    "q_simsearch_projected" -> qSimsearchProjected,
    "q_sample_stratified" -> qSampleStratified,
    "q_negative_sample" -> qNegativeSample,
    "q_ann_lsh" -> qAnnLsh,
    "q_ann_ivf" -> qAnnIvf,
    "q_tokens_wordcount" -> qTokensWordcount,
    "q_tfidf" -> qTfidf,
    "q_rake" -> qRake,
    "q_readability" -> qReadability,
    "q_smog" -> qSmog,
    "q_coleman_liau" -> qColemanLiau,
    "q_rouge_lead" -> qRougeLead,
    "q_bleu_clean" -> qBleuClean,
    "q_textstats" -> qTextstats,
    "q_quality_score" -> qQualityScore,
    "q_quality_filter" -> qQualityFilter,
    "q_oov" -> qOov,
    "q_resample_ffill" -> qResampleFfill,
    "q_ewma" -> qEwma,
    "q_mmr" -> qMmr,
    "q_msttr" -> qMsttr,
    "q_lexical" -> qLexical,
    "q_ewma_chart" -> qEwmaChart,
    "q_corr" -> qCorr,
    "q_rolling_median" -> qRollingMedian,
    "q_hard_negatives" -> qHardNegatives,
    "q_vocab_coverage" -> qVocabCoverage,
    "q_bucket_batches" -> qBucketBatches,
    "q_pmi_pairs" -> qPmiPairs,
    "q_zipf_fit" -> qZipfFit,
    "q_rolling_zscore" -> qRollingZscore,
    "q_mlm_mask" -> qMlmMask,
    "q_emb_dimstats" -> qEmbDimstats,
    "q_split_leakfree" -> qSplitLeakfree,
    "q_ngram_novelty" -> qNgramNovelty,
    "q_resample_interp" -> qResampleInterp,
    "q_lang_id" -> qLangId,
    "q_langid_profile" -> qLangIdProfile,
    "q_chao1" -> qChao1,
    "q_jackknife" -> qJackknife,
    "q_bray_curtis" -> qBrayCurtis,
    "q_dispersion_dp" -> qDispersionDp,
    "q_burrows_delta" -> qBurrowsDelta,
    "q_good_turing" -> qGoodTuring,
    "q_redact_pii" -> qRedactPii,
    "q_decontaminate" -> qDecontaminate,
    "q_repetition" -> qRepetition,
    "q_sample_cap" -> qSampleCap,
    "q_heavy_hitters" -> qHeavyHitters,
    "q_cms_counts" -> qCmsCounts,
    "q_cdc_merge" -> qCdcMerge,
    "q_insert_into" -> qInsertInto,
    "q_merge_into" -> qMergeInto,
    "q_time_travel" -> qTimeTravel,
    "q_update_into" -> qUpdateInto,
    "q_delete_from" -> qDeleteFrom,
    "q_update_sql" -> qUpdateSql,
    "q_delete_sql" -> qDeleteSql,
    "q_schema_evolution" -> qSchemaEvolution,
    "q_schema_evolution2" -> qSchemaEvolution2,
    "q_quantile_sketch" -> qQuantileSketch,
    "q_cdc_replay" -> qCdcReplay,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_sample_exact" -> qSampleExact,
    "q_token_budget" -> qTokenBudget,
    "q_shard_assign" -> qShardAssign,
    "q_shard_hrw" -> qShardHrw,
    "q_trend" -> qTrend,
    "q_drift" -> qDrift,
    "q_dq_checks" -> qDqChecks,
    "q_histogram_eqdepth" -> qHistogramEqdepth,
    "q_discretize" -> qDiscretize,
    "q_chunk" -> qChunk,
    "q_winsorize" -> qWinsorize,
    "q_iqr_filter" -> qIqrFilter,
    "q_robust_zscore" -> qRobustZscore,
    "q_normalize" -> qNormalize,
    "q_key_skew" -> qKeySkew,
    "q_approx_distinct" -> qApproxDistinct, // no oracle: approximate
  )

  /** Shared by q_cdc_merge and q_cdc_replay: both must equal the
    * one-shot window-rule merge (replay proves the micro-batch fold
    * converges to it).
    */
  private val cdcMergeOracle = """
      WITH chg AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               0 AS version, FALSE AS is_delete, 0 AS src
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'U', o_totalprice + 100,
               1, FALSE, 1
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, 'V', o_totalprice + 200,
               2, FALSE, 1
        FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey < 100
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               1, TRUE, 1
        FROM orders WHERE o_orderkey % 10 = 1),
      r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY version DESC, src DESC) AS rn
        FROM chg)
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS o_totalprice
      FROM r WHERE rn = 1 AND NOT is_delete
      ORDER BY o_orderkey"""

  // The q_mmr oracle: four unrolled greedy argmax steps over the
  // 12-candidate shortlist — cosine as the same index-ordered LIST
  // folds Spark's driver loop runs (bit-exact doubles: IEEE products,
  // sequential sums, correctly-rounded SQRT), penalty = GREATEST over
  // the picked set, ties broken (score DESC, id).
  private val mmrOracle: String = {
    def cos(a: String, b: String): String = {
      val d = s"LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN($a) + 1), " +
        s"i -> $a[i] * $b[i]))"
      val na = s"LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN($a) + 1), " +
        s"i -> $a[i] * $a[i]))"
      val nb = s"LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN($b) + 1), " +
        s"i -> $b[i] * $b[i]))"
      s"(CASE WHEN $na = 0 OR $nb = 0 THEN -1.0 " +
        s"ELSE $d / SQRT($na * $nb) END)"
    }
    val steps = (2 to 4).map { t =>
      val excl = (1 until t).map(j => s"SELECT id FROM p$j")
        .mkString(" UNION ALL ")
      val pens = (1 until t).map(j => cos("c.v", s"p$j.v"))
      val pen =
        if (pens.size == 1) pens.head
        else s"GREATEST(${pens.mkString(", ")})"
      val froms = (1 until t).map(j => s"p$j").mkString(", ")
      s""",
      s$t AS (SELECT c.id, c.v, 0.5 * c.rel - 0.5 * $pen AS s
              FROM cand c, $froms
              WHERE c.id NOT IN ($excl)),
      p$t AS (SELECT id, v, s FROM s$t ORDER BY s DESC, id LIMIT 1)"""
    }.mkString
    s"""
      WITH cand AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
               ROUND(((vec_id * 37) % 100) / 100.0, 6) AS rel
        FROM embeddings WHERE vec_id < 12),
      s1 AS (SELECT id, v, 0.5 * rel - 0.5 * 0.0 AS s FROM cand),
      p1 AS (SELECT id, v, s FROM s1 ORDER BY s DESC, id LIMIT 1)$steps
      SELECT id, rank, CAST(ROUND(s, 6) AS DOUBLE) AS mmr_score FROM (
        SELECT id, 1::BIGINT AS rank, s FROM p1
        UNION ALL SELECT id, 2, s FROM p2
        UNION ALL SELECT id, 3, s FROM p3
        UNION ALL SELECT id, 4, s FROM p4)
      ORDER BY rank"""
  }

  val oracles: Map[String, String] = Map(

    "q_mmr" -> mmrOracle,

    // Exact per-word count power sums; hapax/Yule/Simpson as
    // identically-spelled rounded trees.
    "q_lexical" -> """
      WITH toks AS (
        SELECT lang AS g,
               UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 t -> t <> '')) AS w
        FROM documents),
      wc AS (SELECT g, w, COUNT(*)::BIGINT AS c FROM toks GROUP BY g, w),
      agg AS (SELECT g, SUM(c)::HUGEINT AS n, COUNT(*)::BIGINT AS v,
                     SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS v1,
                     SUM(c::HUGEINT * c) AS sc2,
                     SUM(c::HUGEINT * (c - 1)) AS scc
              FROM wc GROUP BY g)
      SELECT g AS lang, CAST(n AS BIGINT) AS n_tokens, v AS vocab,
             CAST(ROUND(CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE), 6)
               AS DOUBLE) AS hapax_ratio,
             CAST(ROUND(10000.0 * (CAST(sc2 AS DOUBLE)
                 - CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS DOUBLE)
               AS yule_k,
             CAST(CASE WHEN n >= 2 THEN
               ROUND(CAST(scc AS DOUBLE) / (CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) - 1.0)), 6) END AS DOUBLE)
               AS simpson_d
      FROM agg
      ORDER BY lang""",

    // Per-doc 1-based token positions, 25-token segments, exact
    // distinct counts per full segment, one rounded division; docs
    // shorter than one segment absent.
    "q_msttr" -> """
      WITH d AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text),
                   ' '), x -> x <> '') AS tk
                 FROM documents),
      pos AS (SELECT doc_id, UNNEST(tk) AS tok,
                     GENERATE_SUBSCRIPTS(tk, 1) AS i FROM d),
      nf AS (SELECT doc_id, COUNT(*) // 25 AS nseg
             FROM pos GROUP BY doc_id),
      sg AS (SELECT doc_id, (i - 1) // 25 AS s,
                    COUNT(DISTINCT tok) AS dd
             FROM pos GROUP BY doc_id, 2),
      agg AS (SELECT sg.doc_id, MAX(nf.nseg)::BIGINT AS n_segments,
                     SUM(dd) AS sd
              FROM sg JOIN nf ON nf.doc_id = sg.doc_id
              WHERE sg.s < nf.nseg
              GROUP BY sg.doc_id)
      SELECT doc_id, n_segments,
             CAST(ROUND(CAST(sd AS DOUBLE)
               / CAST(n_segments * 25 AS DOUBLE), 6) AS DOUBLE) AS msttr
      FROM agg
      ORDER BY doc_id""",

    // Efraimidis-Spirakis race times replayed from the same md5 draw;
    // the selected SET is compared, not the race values.
    "q_sample_weighted" -> """
      SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
                 -LN(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     / 1152921504606846976.0) / CAST(n_chars AS DOUBLE),
                 doc_id) AS rk
        FROM documents)
      WHERE rk <= 25
      ORDER BY lang, doc_id""",

    // shard = md5(key) mod 8 (integer path, no floats); pos ranks the
    // independent md5('pos:'||key) draw inside each shard.
    "q_global_shuffle" -> """
      SELECT doc_id, shard, pos FROM (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS INT) AS shard,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
                 ORDER BY ('0x' || SUBSTR(MD5('pos:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            / 1152921504606846976.0,
                          doc_id) AS INT) AS pos
        FROM documents)
      ORDER BY shard, pos""",

    // Ordinality self-join derives the same ordered-pair multiset the
    // Spark HOF generates without a join.
    "q_skipgram" -> """
      WITH t AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(LOWER(text), ' '), 1) AS ord
        FROM documents WHERE doc_id < 200)
      SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS cnt
      FROM t a JOIN t b
        ON a.doc_id = b.doc_id AND b.ord > a.ord AND b.ord <= a.ord + 3
      GROUP BY a.tok, b.tok
      ORDER BY w1, w2""",

    // 60-bit md5 digests under length-prefixed framing ("len:value",
    // NULL -> '-'; injective, see Profiling.shardChecksum), XOR-folded
    // per shard — integer-exact on both engines.
    "q_shard_checksum" -> """
      SELECT shard, COUNT(*) AS n_rows, BIT_XOR(digest) AS checksum FROM (
        SELECT CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS INT) AS shard,
               ('0x' || SUBSTR(MD5(
                    COALESCE(LENGTH(CAST(doc_id AS VARCHAR))::VARCHAR || ':' || CAST(doc_id AS VARCHAR), '-')
                 || COALESCE(LENGTH(text)::VARCHAR || ':' || text, '-')
                 || COALESCE(LENGTH(lang)::VARCHAR || ':' || lang, '-')
                 || COALESCE(LENGTH(source)::VARCHAR || ':' || source, '-')), 1, 15))::BIGINT AS digest
        FROM documents)
      GROUP BY shard
      ORDER BY shard""",

    // Identical ratio trees: cab/nn, ln(cab*nn/(ca*cb)) — counts stay
    // integer until the final cell-table-sized sum.
    "q_mutual_info" -> """
      WITH cells AS (
        SELECT lang AS a, source AS b, COUNT(*) AS cab
        FROM documents GROUP BY lang, source),
      ma AS (SELECT a, SUM(cab)::BIGINT AS ca FROM cells GROUP BY a),
      mb AS (SELECT b, SUM(cab)::BIGINT AS cb FROM cells GROUP BY b),
      nn AS (SELECT SUM(cab)::DOUBLE AS n FROM cells)
      SELECT CAST(ROUND(SUM((cab / n) * LN((cab * n) / (ca * cb))), 6) AS DOUBLE) AS mi,
             CAST(ROUND(-SUM((cab / n) * LN(ca / n)), 6) AS DOUBLE) AS h_a,
             CAST(ROUND(-SUM((cab / n) * LN(cb / n)), 6) AS DOUBLE) AS h_b,
             CAST(ROUND(CASE WHEN GREATEST(-SUM((cab / n) * LN(ca / n)),
                                           -SUM((cab / n) * LN(cb / n))) > 0
                    THEN SUM((cab / n) * LN((cab * n) / (ca * cb)))
                         / GREATEST(-SUM((cab / n) * LN(ca / n)),
                                    -SUM((cab / n) * LN(cb / n)))
                    ELSE 0.0 END, 6) AS DOUBLE) AS nmi,
             SUM(cab)::BIGINT AS n_rows
      FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nn""",

    // CASE mirrors the operator's when(): degenerate groups stay NULL.
    "q_scale_features" -> """
      SELECT event_id,
             CAST(ROUND(CASE WHEN sd > 0 THEN (value - mu) / sd END, 6) AS DOUBLE) AS z,
             CAST(ROUND(CASE WHEN mx > mn THEN (value - mn) / (mx - mn) END, 6) AS DOUBLE) AS minmax
      FROM (SELECT event_id, value,
                   AVG(value) OVER (PARTITION BY event_type) AS mu,
                   STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS sd,
                   MIN(value) OVER (PARTITION BY event_type) AS mn,
                   MAX(value) OVER (PARTITION BY event_type) AS mx
            FROM events)
      ORDER BY event_id""",

    // Explicit moment arithmetic (the built-ins disagree across
    // engines: population vs bias-corrected sample form); both sides
    // compute the very same ratio tree over raw power sums of
    // x = l_extendedprice / 100000.0.
    "q_agg_shape" -> """
      SELECT l_returnflag, n,
             CAST(ROUND((s3 / n - 3.0 * (s1 / n) * (s2 / n)
                         + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
               / POWER(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS DOUBLE) AS skew,
             CAST(ROUND((s4 / n - 4.0 * (s1 / n) * (s3 / n)
                         + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                         - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
               / POWER(s2 / n - (s1 / n) * (s1 / n), 2.0) - 3.0, 6) AS DOUBLE) AS kurt
      FROM (SELECT l_returnflag, COUNT(*) AS n,
                   SUM(l_extendedprice / 100000.0) AS s1,
                   SUM((l_extendedprice / 100000.0) * (l_extendedprice / 100000.0)) AS s2,
                   SUM((l_extendedprice / 100000.0) * (l_extendedprice / 100000.0)
                       * (l_extendedprice / 100000.0)) AS s3,
                   SUM((l_extendedprice / 100000.0) * (l_extendedprice / 100000.0)
                       * (l_extendedprice / 100000.0) * (l_extendedprice / 100000.0)) AS s4
            FROM lineitem GROUP BY l_returnflag)
      ORDER BY l_returnflag""",

    // Same formula tree as the operator; (1.2 + 1.0) and (1 - 0.75)
    // are spelled as arithmetic so both engines derive the identical
    // IEEE constant (a literal 2.2 is NOT the double 1.2 + 1.0).
    // The q_bm25 trees with query-term tf filtering; per-term scores
    // 12-dp frozen into decimal per-doc sums; (score DESC, doc_id)
    // top-10.
    "q_bm25_search" -> """
      WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
                    FROM documents),
           tfq AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
                   WHERE tok IN ('vector', 'join', 'window')
                   GROUP BY doc_id, tok),
           dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
           dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
                     WHERE tok IN ('vector', 'join', 'window')
                     GROUP BY tok),
           stats AS (SELECT COUNT(*) * 1.0 AS n, AVG(dl) AS avgdl FROM dl),
           scored AS (SELECT tfq.doc_id,
                             LN(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                               * tfq.tf * (1.2 + 1.0)
                               / (tfq.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl)) AS s
                      FROM tfq JOIN dfreq USING (tok) JOIN dl USING (doc_id), stats)
      SELECT doc_id, COUNT(*)::BIGINT AS n_matched,
             CAST(ROUND(CAST(SUM(CAST(ROUND(s, 12) AS DECIMAL(38,12)))
               AS DOUBLE), 6) AS DOUBLE) AS score
      FROM scored GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 10""",

    "q_bm25" -> """
      WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
           toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM base),
           tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
           dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
           dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
           stats AS (SELECT COUNT(*) * 1.0 AS n, AVG(dl) AS avgdl FROM dl),
           scored AS (SELECT tf.doc_id, tf.tok,
                             LN(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                               * tf.tf * (1.2 + 1.0)
                               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl)) AS bm25
                      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id), stats),
           rk AS (SELECT doc_id, tok, bm25,
                         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, tok) AS BIGINT) AS rnk
                  FROM scored)
      SELECT doc_id, rnk, tok, CAST(ROUND(bm25, 6) AS DOUBLE) AS bm25
      FROM rk WHERE rnk <= 5
      ORDER BY doc_id, rnk""",

    // H = ln(T) - (SUM c*ln c)/T over exact integer counts; only the
    // final expression floats.
    "q_token_entropy" -> """
      WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
                    FROM documents),
           c AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok)
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 6) AS DOUBLE) AS entropy
      FROM c
      GROUP BY doc_id
      ORDER BY doc_id""",

    "q_fuzzy_join2" -> """
      WITH u AS (
        SELECT p_partkey AS id, p_name AS s FROM part WHERE p_partkey <= 300
        UNION ALL
        SELECT p_partkey + 10000, 'zz' || SUBSTR(p_name, 3)
        FROM part WHERE p_partkey <= 300)
      SELECT a.id AS i, b.id AS j,
             CAST(LEVENSHTEIN(a.s, b.s) AS BIGINT) AS dist
      FROM u a JOIN u b ON a.id < b.id
      WHERE LEVENSHTEIN(a.s, b.s) <= 2
      ORDER BY i, j""",

    "q_fuzzy_join" -> """
      WITH u AS (
        SELECT p_partkey AS id, p_name AS s FROM part WHERE p_partkey <= 500
        UNION ALL
        SELECT p_partkey + 10000, SUBSTR(p_name, 2)
        FROM part WHERE p_partkey <= 500)
      SELECT a.id AS i, b.id AS j,
             CAST(LEVENSHTEIN(a.s, b.s) AS BIGINT) AS dist
      FROM u a JOIN u b ON a.id < b.id
      WHERE LEVENSHTEIN(a.s, b.s) <= 1
      ORDER BY i, j""",

    // Connected components as a recursive min-label fixpoint: `reach`
    // accumulates every (vertex, reachable-label) pair over the
    // symmetric edge set; MIN per vertex is the component id — the same
    // fixpoint Clustering.connectedComponents iterates to.
    "q_dedup_clusters" -> """
      WITH RECURSIVE
      t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
            FROM documents WHERE doc_id < 500),
      sh AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[i:i+2], ' ') AS tok
             FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks) - 1, 1))) r(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS nn FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
                FROM sh a JOIN sh b
                  ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT i, j FROM inter
                JOIN sizes sa ON i = sa.doc_id
                JOIN sizes sb ON j = sb.doc_id
                WHERE c * 1.0 / (sa.nn + sb.nn - c) >= 0.2),
      edges AS (SELECT i AS src, j AS dst FROM pairs
                UNION SELECT j AS src, i AS dst FROM pairs),
      reach AS (SELECT src AS v, src AS lbl FROM edges
                UNION
                SELECT e.dst AS v, r.lbl
                FROM reach r JOIN edges e ON e.src = r.v)
      SELECT v AS doc_id, MIN(lbl) AS cluster_id
      FROM reach GROUP BY v ORDER BY doc_id""",

    "q_dedup_canonical" -> """
      WITH RECURSIVE
      t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
            FROM documents WHERE doc_id < 500),
      sh AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[i:i+2], ' ') AS tok
             FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks) - 1, 1))) r(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS nn FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
                FROM sh a JOIN sh b
                  ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT i, j FROM inter
                JOIN sizes sa ON i = sa.doc_id
                JOIN sizes sb ON j = sb.doc_id
                WHERE c * 1.0 / (sa.nn + sb.nn - c) >= 0.2),
      edges AS (SELECT i AS src, j AS dst FROM pairs
                UNION SELECT j AS src, i AS dst FROM pairs),
      reach AS (SELECT src AS v, src AS lbl FROM edges
                UNION
                SELECT e.dst AS v, r.lbl
                FROM reach r JOIN edges e ON e.src = r.v),
      losers AS (SELECT v FROM reach GROUP BY v HAVING MIN(lbl) <> v)
      SELECT doc_id FROM documents
      WHERE doc_id < 500 AND doc_id NOT IN (SELECT v FROM losers)
      ORDER BY doc_id""",

    // Bigram LM: P(w2|w1) = (c2 + 0.5) / (c1 + 0.5 * V); score = mean
    // ln P over each doc's bigram occurrences. Same single bigram-count
    // aggregation feeding context counts and V as the Spark side.
    "q_lm_score" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents WHERE doc_id < 1000),
      bi AS (SELECT doc_id, ARRAY_TO_STRING(toks[i:i+1], ' ') AS tok
             FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks), 1))) r(i)),
      c2 AS (SELECT tok, COUNT(*) AS c2 FROM bi GROUP BY tok),
      c1 AS (SELECT SPLIT_PART(tok, ' ', 1) AS w1, SUM(c2) AS c1
             FROM c2 GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT SPLIT_PART(tok, ' ', 2)) AS v FROM c2)
      SELECT bi.doc_id,
             CAST(ROUND(AVG(LN((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v))), 6)
                  AS DOUBLE) AS lm_score
      FROM bi
      JOIN c2 ON bi.tok = c2.tok
      JOIN c1 ON SPLIT_PART(bi.tok, ' ', 1) = c1.w1
      CROSS JOIN v
      GROUP BY bi.doc_id
      ORDER BY bi.doc_id""",

    "q_dedup_exact" -> """
      SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents) d
      GROUP BY text
      ORDER BY keep_id""",

    "q_dedup_near_jaccard" -> """
      WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
             FROM documents WHERE doc_id < 1000) t),
           sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
                     FROM toks a JOIN toks b
                       ON a.tok = b.tok AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
      SELECT i, j, CAST(ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON i = sa.doc_id
      JOIN sizes sb ON j = sb.doc_id
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95
      ORDER BY i, j""",

    // exact cross-scope Jaccard: side a = corpus, side b = incoming
    "q_dedup_incremental" -> """
      WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
             FROM documents WHERE doc_id < 800) t),
           sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
                     FROM toks a JOIN toks b
                       ON a.tok = b.tok AND a.doc_id < 400 AND b.doc_id >= 400
                     GROUP BY 1, 2)
      SELECT i, j, CAST(ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON i = sa.doc_id
      JOIN sizes sb ON j = sb.doc_id
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95
      ORDER BY i, j""",

    // overlap coefficient: same candidate/intersection scaffold, min
    // denominator; c/min is one exact IEEE division on both engines
    "q_dedup_containment" -> """
      WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
             FROM documents WHERE doc_id < 200) t),
           sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
                     FROM toks a JOIN toks b
                       ON a.tok = b.tok AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
      SELECT i, j, CAST(ROUND(c * 1.0 / LEAST(sa.n, sb.n), 6) AS DOUBLE) AS containment
      FROM inter
      JOIN sizes sa ON i = sa.doc_id
      JOIN sizes sb ON j = sb.doc_id
      WHERE c * 1.0 / LEAST(sa.n, sb.n) >= 0.97
      ORDER BY i, j""",

    // LSH path is judged against the SAME exact math (recall-1 regime).
"q_dedup_lsh_jaccard" -> """
      WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
             FROM documents WHERE doc_id < 1000) t),
           sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
                     FROM toks a JOIN toks b
                       ON a.tok = b.tok AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
      SELECT i, j, CAST(ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON i = sa.doc_id
      JOIN sizes sb ON j = sb.doc_id
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95
      ORDER BY i, j""",

    // n-gram (3-shingle) Jaccard: shingles via 1-based inclusive list
    // slicing; RANGE is empty for docs shorter than 3 tokens.
    "q_dedup_ngram_jaccard" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents WHERE doc_id < 500),
           sh AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[i:i+2], ' ') AS tok
                  FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks) - 1, 1))) r(i)),
           sizes AS (SELECT doc_id, COUNT(*) AS nn FROM sh GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
                     FROM sh a JOIN sh b
                       ON a.tok = b.tok AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
      SELECT i, j, CAST(ROUND(c * 1.0 / (sa.nn + sb.nn - c), 6) AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON i = sa.doc_id
      JOIN sizes sb ON j = sb.doc_id
      WHERE c * 1.0 / (sa.nn + sb.nn - c) >= 0.2
      ORDER BY i, j""",

    // The identical 60-bit md5 SimHash math, restated: per-occurrence
    // ±1 bit votes summed per (doc, bit), sign-packed into a BIGINT,
    // pairs brute-forced within Hamming radius 4. '0x'||15-hex-chars
    // casts to the same value Spark's conv(..., 16, 10) yields.
    "q_dedup_simhash" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents WHERE doc_id < 1000),
           h AS (SELECT doc_id, ('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT AS h
                 FROM t, UNNEST(toks) r(tok)),
           v AS (SELECT doc_id, b,
                        SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
                 FROM h, UNNEST(RANGE(0, 60)) rb(b)
                 GROUP BY doc_id, b),
           sig AS (SELECT doc_id,
                          CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
                   FROM v GROUP BY doc_id)
      SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(BIT_COUNT(XOR(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE BIT_COUNT(XOR(a.sig, b.sig)) <= 4
      ORDER BY i, j""",

    "q_dedup_near_embedding" -> """
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             CAST(ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS DOUBLE) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
      ORDER BY id1, id2""",

    "q_cosine_topk" -> """
      WITH pairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      SELECT id1, id2, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM pairs
      ORDER BY cos DESC, id1, id2
      LIMIT 10""",

    "q_knn_pergroup" -> """
      WITH pairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      rk AS (
        SELECT id1, id2, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS BIGINT) AS rnk
        FROM pairs)
      SELECT id1, rnk, id2, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM rk WHERE rnk <= 5
      ORDER BY id1, rnk""",

    // The same neighbor graph at k=10, joined back to labels.
    "q_label_agreement" -> """
      WITH pairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      rk AS (
        SELECT id1, id2,
               ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rnk
        FROM pairs),
      nn AS (SELECT id1, id2 FROM rk WHERE rnk <= 10)
      SELECT nn.id1 AS vec_id, la.label,
             CAST(ROUND(AVG(CASE WHEN la.label = lb.label THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS agreement,
             CAST(COUNT(*) AS BIGINT) AS n_neighbors
      FROM nn
      JOIN embeddings la ON nn.id1 = la.vec_id
      JOIN embeddings lb ON nn.id2 = lb.vec_id
      GROUP BY nn.id1, la.label
      ORDER BY vec_id""",

    // Scale-4 centroid (the q_pool_mean pin) -> identical doubles both
    // engines; cosine re-derived per position in float64.
    "q_centroid_cos" -> """
      WITH c AS (SELECT label, i,
                        ROUND(AVG(CAST(embedding[i] AS DOUBLE)) * 10000) / 10000 AS m
                 FROM embeddings, UNNEST(RANGE(1, 65)) t(i)
                 GROUP BY label, i),
      parts AS (SELECT e.vec_id, e.label,
                       SUM(CAST(e.embedding[c.i] AS DOUBLE) * c.m) AS dot,
                       SUM(CAST(e.embedding[c.i] AS DOUBLE)
                           * CAST(e.embedding[c.i] AS DOUBLE)) AS n1,
                       SUM(c.m * c.m) AS n2
                FROM embeddings e JOIN c ON e.label = c.label
                GROUP BY e.vec_id, e.label)
      SELECT vec_id, label,
             CAST(ROUND(dot / (SQRT(n1) * SQRT(n2)), 6) AS DOUBLE) AS centroid_cos
      FROM parts
      ORDER BY vec_id""",

    "q_simsearch_probe" -> """
      WITH pairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
               LIST_COSINE_SIMILARITY(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < 20),
      rk AS (
        SELECT probe_id, corpus_id, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, corpus_id) AS BIGINT) AS rnk
        FROM pairs)
      SELECT probe_id, rnk, corpus_id, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM rk WHERE rnk <= 5
      ORDER BY probe_id, rnk""",

    // full-oversample regime: the projected shortlist keeps every row,
    // so the exact re-rank IS the exact probe search (same oracle).
    "q_simsearch_projected" -> """
      WITH pairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
               LIST_COSINE_SIMILARITY(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < 20),
      rk AS (
        SELECT probe_id, corpus_id, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, corpus_id) AS BIGINT) AS rnk
        FROM pairs)
      SELECT probe_id, rnk, corpus_id, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM rk WHERE rnk <= 5
      ORDER BY probe_id, rnk""",

    // the same md5 draw, dense index, and mod arithmetic replay every
    // negative draw; duplicate draws collapse via DISTINCT
    "q_negative_sample" -> """
      WITH a AS (SELECT doc_id AS anchor_id FROM documents WHERE doc_id < 50),
           c AS (SELECT doc_id AS cand_id,
                        ROW_NUMBER() OVER (ORDER BY doc_id) AS idx
                 FROM documents WHERE doc_id >= 50 AND doc_id < 500),
           n AS (SELECT COUNT(*) AS nn FROM c),
           d AS (SELECT anchor_id,
                        ('0x' || SUBSTR(MD5(anchor_id || ':' || j), 1, 15))::BIGINT
                          % nn + 1 AS idx
                 FROM a, n, UNNEST(RANGE(1, 4)) t(j))
      SELECT DISTINCT anchor_id, cand_id
      FROM d JOIN c USING (idx)
      ORDER BY anchor_id, cand_id""",

    // the same md5 draw and per-stratum dyadic cut points replay every
    // keep/drop decision exactly; zh is unlisted and drops
    "q_sample_stratified" -> """
      SELECT doc_id, lang FROM documents
      WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              / 1152921504606846976.0
            < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                        WHEN 'fr' THEN 0.25 WHEN 'es' THEN 1.0
                        ELSE 0.0 END
      ORDER BY doc_id""",

    // full-oversample regime: the truncated-prefix shortlist keeps
    // every row, so the exact re-rank IS the exact probe search.
    "q_simsearch_truncated" -> """
      WITH pairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
               LIST_COSINE_SIMILARITY(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < 20),
      rk AS (
        SELECT probe_id, corpus_id, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, corpus_id) AS BIGINT) AS rnk
        FROM pairs)
      SELECT probe_id, rnk, corpus_id, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM rk WHERE rnk <= 5
      ORDER BY probe_id, rnk""",

    // full-oversample regime: the sign-bit Hamming shortlist keeps
    // every row, so the exact re-rank IS the exact probe search.
    "q_simsearch_binary" -> """
      WITH pairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
               LIST_COSINE_SIMILARITY(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < 20),
      rk AS (
        SELECT probe_id, corpus_id, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, corpus_id) AS BIGINT) AS rnk
        FROM pairs)
      SELECT probe_id, rnk, corpus_id, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM rk WHERE rnk <= 5
      ORDER BY probe_id, rnk""",

    // full-oversample regime: the quantized shortlist keeps every row,
    // so the exact re-rank IS the exact probe search (same oracle).
    "q_simsearch_quantized" -> """
      WITH pairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
               LIST_COSINE_SIMILARITY(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < 20),
      rk AS (
        SELECT probe_id, corpus_id, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, corpus_id) AS BIGINT) AS rnk
        FROM pairs)
      SELECT probe_id, rnk, corpus_id, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM rk WHERE rnk <= 5
      ORDER BY probe_id, rnk""",

    "q_ann_lsh" -> """
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             CAST(ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS DOUBLE) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 300 AND b.vec_id < 300
        AND LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
      ORDER BY id1, id2""",

    // IVF at nprobe == k is the exact probe search (recall 1), so the
    // oracle is the same exact top-k math as q_simsearch_probe.
    "q_ann_ivf" -> """
      WITH pairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
               LIST_COSINE_SIMILARITY(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < 20),
      rk AS (
        SELECT probe_id, corpus_id, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, corpus_id) AS BIGINT) AS rnk
        FROM pairs)
      SELECT probe_id, rnk, corpus_id, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM rk WHERE rnk <= 5
      ORDER BY probe_id, rnk""",

    // resample: same union+ignore-nulls-window kernel re-expressed in
    // DuckDB; epoch_us//1e6 truncation mirrors Spark's unix_timestamp.
    "q_resample_ffill" -> """
      WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec, value FROM events),
      bounds AS (SELECT user_id, MIN(sec) AS lo, MAX(sec) AS hi FROM e GROUP BY user_id),
      grid AS (SELECT user_id, UNNEST(RANGE(lo // 86400 * 86400, hi + 1, 86400)) AS sec FROM bounds),
      u AS (SELECT user_id, sec, 0 AS tag, value FROM e
            UNION ALL SELECT user_id, sec, 1, NULL FROM grid),
      f AS (SELECT user_id, sec, tag,
                   LAST_VALUE(value IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY sec, tag, value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
            FROM u)
      SELECT user_id, make_timestamp(sec * 1000000) AS grid_ts, filled AS value
      FROM f WHERE tag = 1
      ORDER BY user_id, grid_ts""",

    "q_resample_interp" -> """
      WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec, value FROM events),
      bounds AS (SELECT user_id, MIN(sec) AS lo, MAX(sec) AS hi FROM e GROUP BY user_id),
      grid AS (SELECT user_id, UNNEST(RANGE(lo // 86400 * 86400, hi + 1, 86400)) AS sec FROM bounds),
      u AS (SELECT user_id, sec, 0 AS tag, value FROM e
            UNION ALL SELECT user_id, sec, 1, NULL FROM grid),
      f AS (SELECT user_id, sec, tag,
                   LAST_VALUE(value IGNORE NULLS) OVER aw AS pv,
                   LAST_VALUE(CASE WHEN tag = 0 THEN CAST(sec AS DOUBLE) END IGNORE NULLS) OVER aw AS pt,
                   LAST_VALUE(value IGNORE NULLS) OVER dw AS nv,
                   LAST_VALUE(CASE WHEN tag = 0 THEN CAST(sec AS DOUBLE) END IGNORE NULLS) OVER dw AS nt
            FROM u
            WINDOW aw AS (PARTITION BY user_id ORDER BY sec ASC, tag ASC, value ASC NULLS FIRST
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   dw AS (PARTITION BY user_id ORDER BY sec DESC, tag DESC, value ASC NULLS FIRST
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id, make_timestamp(sec * 1000000) AS grid_ts,
             CAST(ROUND(CASE WHEN pt IS NULL THEN NULL
                             WHEN nt IS NULL OR nt = pt THEN pv
                             ELSE pv + (nv - pv) * (sec - pt) / (nt - pt) END, 6) AS DOUBLE) AS value
      FROM f WHERE tag = 1
      ORDER BY user_id, grid_ts""",

    // redaction chain order matches the Spark operator: URL, email,
    // digit-run; 'g' = replace all occurrences (Spark's default).
    "q_redact_pii" -> """
      SELECT doc_id,
             REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
               text || ' reach user' || doc_id || '@mail.example.com or https://ex' || doc_id || '.org/page ref 9876543210',
               'https?://[^ ]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{7,}\b', '<NUM>', 'g') AS clean
      FROM documents
      ORDER BY doc_id""",

    // 3-gram shingles via list slicing (same pattern as q_udtf_ngrams);
    // shingles are DISTINCT per doc on both sides, so COUNT(*) after
    // the gram join == COUNT(DISTINCT shared grams).
    "q_decontaminate" -> """
      WITH tg AS (
        SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[i:i+2], ' ') AS g
        FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
              FROM documents WHERE doc_id % 10 <> 0) t,
             UNNEST(RANGE(1, LEN(toks) - 1)) r(i)),
      eg AS (
        SELECT DISTINCT ARRAY_TO_STRING(toks[i:i+2], ' ') AS g
        FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
              FROM documents WHERE doc_id % 10 = 0) t,
             UNNEST(RANGE(1, LEN(toks) - 1)) r(i))
      SELECT tg.doc_id, COUNT(*) AS n_shared
      FROM tg JOIN eg ON tg.g = eg.g
      GROUP BY tg.doc_id
      ORDER BY tg.doc_id""",

    // bigram occurrences via list slicing; MAX/SUM per doc.
    "q_repetition" -> """
      WITH g AS (
        SELECT doc_id, ARRAY_TO_STRING(toks[i:i+1], ' ') AS g
        FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
              FROM documents) t,
             UNNEST(RANGE(1, LEN(toks))) r(i)),
      c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
      SELECT doc_id,
             CAST(ROUND(MAX(c) * 1.0 / SUM(c), 6) AS DOUBLE) AS top_ngram_frac,
             CAST(SUM(c) AS BIGINT) AS n_ngrams
      FROM c GROUP BY doc_id
      ORDER BY doc_id""",

    "q_iqr_filter" -> """
      WITH b AS (SELECT QUANTILE_CONT(value, 0.25) AS q1,
                        QUANTILE_CONT(value, 0.75) AS q3
                 FROM events)
      SELECT event_id, CAST(ROUND(value, 6) AS DOUBLE) AS value
      FROM events, b
      WHERE value >= q1 - 1.5 * (q3 - q1) AND value <= q3 + 1.5 * (q3 - q1)
      ORDER BY event_id""",

    // same regex chain with RE2 'g' flags; the spliced junk exercises
    // every stage (case, punctuation, underscore, space runs)
    "q_normalize" -> """
      SELECT doc_id,
             TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
               LOWER('Hello, WORLD!!  #42__ ' || text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      FROM documents
      ORDER BY doc_id""",

    // per-key counts re-aggregated: exact integers, two rounded ratios
    "q_key_skew" -> """
      WITH c AS (SELECT l_suppkey, COUNT(*) AS kc FROM lineitem GROUP BY l_suppkey)
      SELECT CAST(SUM(kc) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(kc) AS BIGINT) AS max_rows,
             CAST(ROUND(SUM(kc) * 1.0 / COUNT(*), 6) AS DOUBLE) AS avg_rows,
             CAST(ROUND(MAX(kc) * 1.0 / SUM(kc), 6) AS DOUBLE) AS top_share
      FROM c""",

    // median/MAD restated with the same QUANTILE_CONT parity and the
    // same score expression tree; MAD = 0 groups score NULL
    "q_robust_zscore" -> """
      WITH m AS (SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
                 FROM events GROUP BY event_type),
           d AS (SELECT e.event_id, e.event_type, e.value, m.med
                 FROM events e JOIN m USING (event_type)),
           s AS (SELECT event_type, QUANTILE_CONT(ABS(value - med), 0.5) AS mad
                 FROM d GROUP BY event_type)
      SELECT d.event_id, d.event_type,
             CASE WHEN s.mad <> 0
                  THEN CAST(ROUND((d.value - d.med) / (1.4826 * s.mad), 6) AS DOUBLE)
             END AS robust_z
      FROM d JOIN s USING (event_type)
      ORDER BY event_id""",

    // thresholds via QUANTILE_CONT (== Spark PERCENTILE, continuous
    // interpolation — parity established by q_agg_stats)
    "q_winsorize" -> """
      WITH b AS (SELECT QUANTILE_CONT(value, 0.05) AS lo,
                        QUANTILE_CONT(value, 0.95) AS hi
                 FROM events)
      SELECT event_id,
             CAST(ROUND(LEAST(GREATEST(value, lo), hi), 6) AS DOUBLE) AS value
      FROM events, b
      ORDER BY event_id""",

    // stride slicing both ways: chunk_no = (start)/stride, short tail
    // kept, but windows fully contained in their predecessor dropped
    // (i = 1-based start: redundant iff (i-1) + 25 - 20 >= LEN)
    "q_chunk" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents)
      SELECT doc_id, CAST((i - 1) / 20 AS BIGINT) AS chunk_no,
             ARRAY_TO_STRING(toks[i:i+24], ' ') AS chunk,
             CAST(LEAST(25, LEN(toks) - i + 1) AS BIGINT) AS n_tokens
      FROM t, UNNEST(RANGE(1, LEN(toks) + 1, 20)) r(i)
      WHERE i = 1 OR (i - 1) + 5 < LEN(toks)
      ORDER BY doc_id, chunk_no""",

    // The same md5 60-bit value mod 8, replayed per row.
    "q_shard_assign" -> """
      SELECT doc_id,
             CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 8 AS INT) AS shard
      FROM documents
      ORDER BY doc_id""",

    // The same exclusive running sum: a doc survives iff the tokens
    // BEFORE it (doc_id order, per lang) are under the budget.
    "q_token_budget" -> """
      WITH t AS (
        SELECT doc_id, lang,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                    w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents),
      r AS (
        SELECT doc_id, lang,
               COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
        FROM t)
      SELECT doc_id, lang FROM r WHERE run < 2000
      ORDER BY doc_id""",

    // The same md5 permutation replayed: a row survives iff its
    // cumulative position in the per-source (u DESC, doc_id) order is
    // within the quota.
    "q_sample_exact" -> """
      WITH u AS (
        SELECT doc_id, source,
               ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 / 1152921504606846976.0 AS draw
        FROM documents),
      c AS (
        SELECT doc_id, source,
               CUME_DIST() OVER (PARTITION BY source
                                 ORDER BY draw DESC, doc_id) AS cd
        FROM u)
      SELECT doc_id, source FROM c WHERE cd <= 0.2
      ORDER BY doc_id""",

    // Same x construction (exact integer micros / constant) and the
    // same regression aggregates.
    "q_trend" -> """
      SELECT event_type,
             CAST(ROUND(REGR_SLOPE(value, epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0), 6) AS DOUBLE) AS slope,
             CAST(ROUND(REGR_INTERCEPT(value, epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0), 6) AS DOUBLE) AS intercept
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",

    // The edit is closed-form, so the diff is too: updates are the
    // %10==0 keys, deletes the %10==1 keys, inserts the shifted
    // %10==2 copies.
    "q_snapshot_diff" -> """
      SELECT o_orderkey, 'update' AS op, o_orderstatus,
             CAST(ROUND(o_totalprice + 100, 2) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 'delete', o_orderstatus,
             CAST(ROUND(o_totalprice, 2) AS DOUBLE)
      FROM orders WHERE o_orderkey % 10 = 1
      UNION ALL
      SELECT o_orderkey + 1000000, 'insert', o_orderstatus,
             CAST(ROUND(o_totalprice, 2) AS DOUBLE)
      FROM orders WHERE o_orderkey % 10 = 2
      ORDER BY o_orderkey""",

    // The same generic merge rule re-derived: latest version wins,
    // change beats base at equal version, tombstone winners drop.
    "q_cdc_merge" -> cdcMergeOracle,

    // INSERT as set algebra: target ∪ VALUES rows ∪ the SELECT rows
    // with the un-listed column NULL-filled.
    "q_insert_into" -> """
      SELECT * FROM (
        SELECT r_regionkey, r_name FROM region
        UNION ALL
        SELECT * FROM (VALUES (100, 'ANTARCTICA'), (101, 'ATLANTIS'))
          v(r_regionkey, r_name)
        UNION ALL
        SELECT n_nationkey + 200 AS r_regionkey, NULL AS r_name
        FROM nation WHERE n_nationkey < 3)
      ORDER BY r_regionkey""",

    // UPDATE clause semantics: matched rows re-evaluate each SET
    // expression against the pre-update row, others pass through.
    "q_update_into" -> """
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CAST(ROUND(CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice + 250.0
                    ELSE o_totalprice END, 2) AS DOUBLE) AS o_totalprice
      FROM orders
      ORDER BY o_orderkey""",

    // ANSI DELETE: TRUE-condition rows removed, NULL-condition rows
    // survive.
    "q_delete_from" -> """
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE NOT COALESCE(o_totalprice > 150000 OR o_orderstatus = 'F',
                         FALSE)
      ORDER BY o_orderkey""",

    // Exact regime: k >= every per-type count, so the reloaded-merged
    // sketch answers the explicit rank computation — value at rank
    // ceil(q·n), rank floor 1. CAST(q AS DOUBLE) pins the product to
    // the same IEEE arithmetic Spark runs.
    "q_quantile_sketch" -> """
      WITH r AS (
        SELECT event_type, value AS v,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY value) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events)
      SELECT event_type, MAX(n)::BIGINT AS n,
             MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
               CAST(0.25 AS DOUBLE) * n) AS BIGINT)) THEN v END) AS q25,
             MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
               CAST(0.5 AS DOUBLE) * n) AS BIGINT)) THEN v END) AS median,
             MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
               CAST(0.75 AS DOUBLE) * n) AS BIGINT)) THEN v END) AS q75,
             MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
               CAST(0.9 AS DOUBLE) * n) AS BIGINT)) THEN v END) AS q90
      FROM r
      GROUP BY event_type
      ORDER BY event_type""",

    // Persisted UPDATE replay: the statement's CASE projection — the
    // judged Spark side additionally round-tripped it through a
    // versioned commit + load.
    "q_update_sql" -> """
      SELECT o_orderkey,
             o_orderstatus,
             CAST(ROUND(CASE WHEN o_orderkey % 5 = 0
                              AND o_orderstatus <> 'F'
                    THEN o_totalprice + 125.0
                    ELSE o_totalprice END, 2) AS DOUBLE) AS o_totalprice
      FROM orders
      ORDER BY o_orderkey""",

    // Persisted DELETE replay: surviving rows only (ANSI — NULL
    // conditions survive); the Spark side read them back from the
    // committed v2 snapshot.
    "q_delete_sql" -> """
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE NOT COALESCE(o_orderstatus = 'P' OR o_totalprice > 200000,
                         FALSE)
      ORDER BY o_orderkey""",

    // ADD COLUMN schema evolution replayed as set algebra: the base
    // table NULL-extends to the evolved schema, the post-evolution
    // insert carries the column, the backfill UPDATE is a CASE over
    // the union — the judged Spark side additionally proved v1/v2
    // time-travel schemas and round-tripped everything through
    // versioned commits.
    "q_schema_evolution" -> """
      WITH evolved AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(NULL AS DOUBLE) AS priority_score
        FROM orders
        UNION ALL
        SELECT o_orderkey + 20000000, o_orderstatus, o_totalprice,
               ROUND(o_totalprice / 1000.0, 2)
        FROM orders WHERE o_orderkey % 7 = 0
      )
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS o_totalprice,
             CAST(CASE WHEN o_orderkey % 10 = 0 THEN 1.5
                       ELSE priority_score END AS DOUBLE) AS priority_score
      FROM evolved
      ORDER BY o_orderkey""",

    // ADD + RENAME + DROP replayed as relational algebra: the final
    // version's `price` is the old files' o_totalprice (rename-chain
    // coalesce), the inserted rows' price, with the %10 update
    // applied to BOTH generations; priority never appears (dropped).
    "q_schema_evolution2" -> """
      WITH evolved AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey + 20000000, o_orderstatus,
               o_totalprice / 2.0
        FROM orders WHERE o_orderkey % 7 = 0
      )
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(CASE WHEN o_orderkey % 10 = 0 THEN 1.5
                             ELSE price END, 6) AS DOUBLE) AS price
      FROM evolved
      ORDER BY o_orderkey""",

    // MERGE INTO clause semantics replayed as set algebra: matched
    // source rows displace or delete their target row, not-matched
    // source rows insert, untouched target keys pass through.
    // v1 = the untouched pre-merge table; v2 = the merge replayed as
    // set algebra (update %10==0 rows except the %20==0 deletes, plus
    // inserts under offset keys in the new 'N' partition). Exact-cents
    // sums; one rounded division per cell.
    "q_time_travel" -> """
      WITH v1 AS (
        SELECT 1 AS version, o_orderstatus,
               COUNT(*)::BIGINT AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                 AS DOUBLE) / 100.0 AS total
        FROM orders GROUP BY o_orderstatus),
      upd AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 20 <> 0),
      ins AS (
        SELECT o_orderkey + 10000000 AS o_orderkey,
               'N' AS o_orderstatus, o_totalprice AS p
        FROM orders WHERE o_orderkey % 10 = 3),
      m AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
      v2 AS (
        SELECT 2 AS version, o_orderstatus,
               COUNT(*)::BIGINT AS n_orders,
               CAST(SUM(CAST(ROUND(p * 100.0) AS BIGINT))
                 AS DOUBLE) / 100.0 AS total
        FROM m GROUP BY o_orderstatus)
      SELECT version, o_orderstatus, n_orders, total FROM v1
      UNION ALL
      SELECT version, o_orderstatus, n_orders, total FROM v2
      ORDER BY version, o_orderstatus""",

    "q_merge_into" -> """
      WITH s AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               o_totalprice + 100.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 3),
      t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      merged AS (
        SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice
        FROM t WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM s)
        UNION ALL
        SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
        FROM s JOIN t ON s.o_orderkey = t.o_orderkey
        WHERE NOT (s.o_orderkey % 20 = 0)
        UNION ALL
        SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
        FROM s WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM t))
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS o_totalprice
      FROM merged
      ORDER BY o_orderkey""",

    // INTENTIONALLY the one-shot merge oracle: q_cdc_replay folds the
    // same changelog through applyChangelog in three micro-batches, and
    // green here IS the judged claim that batch-fold == one-shot merge.
    "q_cdc_replay" -> cdcMergeOracle,

    // The EXACT recursion replayed via WITH RECURSIVE — a closed-form
    // rewrite was tried and is a trap here: finite-decimal alphas make
    // true EWMA values land exactly on 6-dp rounding boundaries, where
    // any re-summation diverges by one ulp and flips the round. Same
    // IEEE tree as the Spark fold: (1.0 - 0.3) spelled as arithmetic
    // (the literal 0.7 is a DIFFERENT double), y' = (1-α)·y + α·x.
    // The q_ewma recursion on 6-dp-frozen values, per-user exact
    // power-sum stats, and the closed-form finite-sample limit for
    // the y1 = x1 start, 3·σ·√(c·(1−b^(2(t−1))) + b^(2(t−1))) with
    // c = α/(2−α) and b = 1−α each interpolated as the one Scala
    // double (b is NOT the literal 0.7 — 1.0−0.3 is a different
    // double and the Spark side spells lit(1.0 − alpha)); flags
    // compare frozen values only.
    "q_ewma_chart" -> s"""
      WITH RECURSIVE
           e AS (SELECT event_id, user_id, ROUND(value, 6) AS v,
                        ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
                 FROM events),
           w AS (
             SELECT event_id, user_id, rn, v AS y FROM e WHERE rn = 1
             UNION ALL
             SELECT e.event_id, e.user_id, e.rn,
                    CASE WHEN e.v IS NULL THEN w.y
                         WHEN w.y IS NULL THEN e.v
                         ELSE (1.0 - 0.3) * w.y + 0.3 * e.v END
             FROM w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1),
           st AS (SELECT user_id, COUNT(*)::BIGINT AS n,
                         SUM(CAST(v AS DECIMAL(38,6))) AS s1,
                         SUM(CAST(ROUND(v * v, 12) AS DECIMAL(38,12))) AS s2
                  FROM e GROUP BY user_id),
           lim AS (
             SELECT w.event_id, w.user_id, w.rn, e.v, w.y, st.n,
                    ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
                      AS center,
                    CASE WHEN st.n >= 2
                          AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                              * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) - 1.0) > 0.0
                      THEN ROUND(SQRT((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                              / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1.0)), 6) END AS sd
             FROM w JOIN e ON e.event_id = w.event_id
             JOIN st ON st.user_id = w.user_id),
           fin AS (
             SELECT event_id, user_id, v, ROUND(y, 6) AS e6, center,
                    CASE WHEN sd IS NOT NULL THEN
                      ROUND(3.0 * sd * SQRT(${0.3 / 1.7} * (1.0
                        - POWER(${1.0 - 0.3}, CAST((rn - 1) * 2 AS DOUBLE)))
                        + POWER(${1.0 - 0.3}, CAST((rn - 1) * 2 AS DOUBLE))), 6)
                    END AS hw
             FROM lim)
      SELECT event_id, user_id, CAST(v AS DOUBLE) AS value,
             CAST(e6 AS DOUBLE) AS ewma,
             CAST(center AS DOUBLE) AS center,
             CAST(ROUND(center + hw, 6) AS DOUBLE) AS ucl,
             CAST(ROUND(center - hw, 6) AS DOUBLE) AS lcl,
             COALESCE(e6 > ROUND(center + hw, 6)
                      OR e6 < ROUND(center - hw, 6), FALSE)
               AS out_of_control
      FROM fin
      ORDER BY event_id""",

    "q_ewma" -> """
      WITH RECURSIVE
           e AS (SELECT event_id, user_id, value,
                        ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
                 FROM events),
           w AS (
             SELECT event_id, user_id, rn, value AS y FROM e WHERE rn = 1
             UNION ALL
             -- null values carry the prior EWMA (pandas ignore_na) and
             -- the smoother seeds on the FIRST non-null — the exact
             -- operator semantics, so a testdata regeneration with
             -- nulls cannot flip this query while the Spark side is
             -- right (no nulls exist at the judged SFs today)
             SELECT e.event_id, e.user_id, e.rn,
                    CASE WHEN e.value IS NULL THEN w.y
                         WHEN w.y IS NULL THEN e.value
                         ELSE (1.0 - 0.3) * w.y + 0.3 * e.value END
             FROM w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
      SELECT event_id, user_id,
             CAST(ROUND(y, 6) AS DOUBLE) AS ewma
      FROM w
      ORDER BY event_id""",

    // Identical rank construction (RANK + tie-class size -> average
    // rank) and both engines' CORR is sample Pearson; time in seconds
    // keeps the co-moment magnitudes tame.
    "q_rolling_median" -> """
      SELECT event_id, user_id,
             CAST(ROUND(MEDIAN(value) OVER w, 6) AS DOUBLE) AS med,
             CAST(ROUND(QUANTILE_CONT(value, 0.9) OVER w, 6) AS DOUBLE) AS p90
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""",
    "q_hard_negatives" -> """
      WITH pairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.vec_id <> b.vec_id AND a.label IS DISTINCT FROM b.label),
      rk AS (
        SELECT id1, id2, cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS BIGINT) AS rnk
        FROM pairs)
      SELECT id1, rnk, id2, CAST(ROUND(cos, 6) AS DOUBLE) AS cos
      FROM rk WHERE rnk <= 5
      ORDER BY id1, rnk""",
    "q_vocab_coverage" -> """
      WITH toks AS (
        SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents),
      counts AS (
        SELECT tok, COUNT(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok),
      ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk,
               tok, cnt,
               CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(SUM(cnt) OVER () AS DOUBLE) AS share
        FROM counts)
      SELECT rnk, tok, cnt, CAST(ROUND(share, 6) AS DOUBLE) AS cum_share
      FROM ranked WHERE rnk <= 40
      ORDER BY rnk""",
    "q_bucket_batches" -> """
      WITH b AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
               CAST(FLOOR(n_chars / 200.0) AS BIGINT) AS bucket
        FROM documents),
      r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY len, doc_id) AS BIGINT) - 1 AS rn
        FROM b)
      SELECT doc_id, len, bucket,
             CAST(bucket AS VARCHAR) || ':' || CAST(CAST(FLOOR(rn / 32.0) AS BIGINT) AS VARCHAR) AS batch_id,
             CAST(rn % 32 AS BIGINT) AS pos_in_batch
      FROM r ORDER BY doc_id""",

    // rank over the pre-log ratio (*, / are IEEE-exact in both
    // engines; libm ln is not guaranteed to the last ulp)
    "q_pmi_pairs" -> """
      WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
             FROM documents) t WHERE tok <> ''),
      n AS (SELECT COUNT(*) AS n FROM documents),
      dfs AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok HAVING COUNT(*) >= 25),
      qual AS (SELECT t.doc_id, t.tok FROM toks t JOIN dfs USING (tok)),
      pairs AS (
        SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS c_xy
        FROM qual a JOIN qual b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2),
      scored AS (
        SELECT t1, t2, c_xy,
               (CAST(c_xy AS DOUBLE) * CAST(n.n AS DOUBLE))
                 / (CAST(dx.c AS DOUBLE) * CAST(dy.c AS DOUBLE)) AS ratio
        FROM pairs
        JOIN dfs dx ON pairs.t1 = dx.tok
        JOIN dfs dy ON pairs.t2 = dy.tok
        CROSS JOIN n),
      ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY ratio DESC, t1, t2) AS BIGINT) AS rnk,
               t1, t2, c_xy, ratio
        FROM scored)
      SELECT rnk, t1, t2, c_xy, CAST(ROUND(LN(ratio), 6) AS DOUBLE) AS pmi
      FROM ranked WHERE rnk <= 50
      ORDER BY rnk""",

    "q_zipf_fit" -> """
      WITH toks AS (
        SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents),
      counts AS (
        SELECT tok, COUNT(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok),
      ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk, cnt
        FROM counts),
      pts AS (
        SELECT LN(CAST(rnk AS DOUBLE)) AS lr, LN(CAST(cnt AS DOUBLE)) AS lc
        FROM ranked WHERE rnk <= 30)
      SELECT CAST(ROUND(REGR_SLOPE(lc, lr), 6) AS DOUBLE) AS slope,
             CAST(ROUND(REGR_INTERCEPT(lc, lr), 6) AS DOUBLE) AS intercept,
             CAST(ROUND(REGR_R2(lc, lr), 6) AS DOUBLE) AS r2,
             COUNT(*) AS n_ranks
      FROM pts""",

    // the anomaly flag compares the ROUNDED z so a last-ulp stddev
    // difference at the threshold boundary cannot flip it
    "q_rolling_zscore" -> """
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      s AS (
        SELECT event_id, user_id,
               AVG(value) OVER w AS m,
               STDDEV_SAMP(value) OVER w AS sd,
               value
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      z AS (
        SELECT event_id, user_id,
               CASE WHEN sd IS NULL OR sd = 0 THEN NULL
                    ELSE ROUND((value - m) / sd, 6) END AS z
        FROM s)
      SELECT event_id, user_id, CAST(z AS DOUBLE) AS z,
             CAST(CASE WHEN ABS(z) > 2.5 THEN 1 ELSE 0 END AS BIGINT) AS is_anom
      FROM z ORDER BY event_id""",

    // every mask decision is md5('mlm:doc:pos') < 0.15, replayed bit-
    // for-bit ('0x'||15 hex chars over 2^60, the portableUnit formula)
    "q_mlm_mask" -> """
      WITH pos AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok,
               CAST(GENERATE_SUBSCRIPTS(STRING_SPLIT(LOWER(text), ' '), 1) - 1 AS BIGINT) AS p
        FROM documents),
      m AS (
        SELECT doc_id, tok, p,
               ('0x' || SUBSTR(MD5('mlm:' || CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)), 1, 15))::BIGINT
                 / 1152921504606846976.0 < 0.15 AS masked
        FROM pos)
      SELECT doc_id,
             STRING_AGG(CASE WHEN masked THEN '[MASK]' ELSE tok END, ' ' ORDER BY p) AS masked_text,
             COALESCE(STRING_AGG(CASE WHEN masked THEN CAST(p AS VARCHAR) || ':' || tok END, ',' ORDER BY p), '') AS labels,
             CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
      FROM m GROUP BY doc_id
      ORDER BY doc_id""",

    "q_emb_dimstats" -> """
      WITH x AS (
        SELECT CAST(GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS BIGINT) AS dim,
               CAST(UNNEST(embedding) AS DOUBLE) AS x
        FROM embeddings)
      SELECT dim,
             CAST(ROUND(AVG(x), 6) AS DOUBLE) AS mean,
             CAST(ROUND(STDDEV_SAMP(x), 6) AS DOUBLE) AS std,
             CAST(ROUND(MIN(x), 6) AS DOUBLE) AS mn,
             CAST(ROUND(MAX(x), 6) AS DOUBLE) AS mx,
             COUNT(x) AS n
      FROM x GROUP BY dim
      ORDER BY dim""",

    // split assignment + exact-Jaccard pairs, composed: train rows
    // with a >= 0.95 partner outside train are dropped
    "q_split_leakfree" -> """
      WITH s AS (
        SELECT doc_id,
               CASE WHEN u < 0.75 THEN 'train'
                    WHEN u < 0.875 THEN 'valid'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       / 1152921504606846976.0 AS u
              FROM documents WHERE doc_id < 1000)),
      toks AS (SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
             FROM documents WHERE doc_id < 1000) t),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
                FROM toks a JOIN toks b
                  ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT i, j FROM inter
                JOIN sizes sa ON i = sa.doc_id
                JOIN sizes sb ON j = sb.doc_id
                WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
      partners AS (SELECT i AS a, j AS b FROM pairs
                   UNION ALL SELECT j AS a, i AS b FROM pairs),
      leaked AS (SELECT DISTINCT p.a AS doc_id
                 FROM partners p
                 JOIN s sa ON p.a = sa.doc_id
                 JOIN s sb ON p.b = sb.doc_id
                 WHERE sa.split = 'train' AND sb.split <> 'train')
      SELECT doc_id, split FROM s
      WHERE doc_id NOT IN (SELECT doc_id FROM leaked)
      ORDER BY doc_id""",

    "q_ngram_novelty" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents),
      sh AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[i:i+2], ' ') AS tok
             FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks) - 1, 1))) r(i)),
      gdf AS (SELECT tok, COUNT(*) AS g_df FROM sh GROUP BY tok)
      SELECT doc_id, COUNT(*) AS n_grams,
             CAST(ROUND(AVG(CASE WHEN g_df = 1 THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS novelty
      FROM sh JOIN gdf USING (tok)
      GROUP BY doc_id
      ORDER BY doc_id""",
    "q_corr" -> """
      WITH e AS (SELECT event_type, value,
                        EPOCH_US(CAST(ts AS TIMESTAMP)) / 1000000.0 AS t
                 FROM events),
           r AS (SELECT event_type, value, t,
                        RANK() OVER (PARTITION BY event_type ORDER BY value)
                          + (COUNT(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS rx,
                        RANK() OVER (PARTITION BY event_type ORDER BY t)
                          + (COUNT(*) OVER (PARTITION BY event_type, t) - 1) / 2.0 AS ry
                 FROM e)
      SELECT event_type,
             CAST(ROUND(CORR(value, t), 6) AS DOUBLE) AS pearson,
             CAST(ROUND(CORR(rx, ry), 6) AS DOUBLE) AS spearman,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM r
      GROUP BY event_type
      ORDER BY event_type""",

    // The very formulation the operator avoids at scale IS the oracle.
    "q_dense_ids" -> """
      SELECT o_orderkey,
             CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rid
      FROM orders
      ORDER BY o_orderkey""",

    // The full pipeline replayed as chained CTEs: normalize chain,
    // quality over the NORMALIZED text, unrounded gate, min-doc dedup,
    // md5-portable split.
    "q_pipeline_curate" -> """
      WITH n AS (SELECT doc_id,
                        TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
                          LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
                          ' +', ' ', 'g')) AS norm
                 FROM documents),
           q AS (SELECT doc_id, norm,
                        LEAST(1.0, (LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1) / 50.0) * 0.5
                        + LEAST(1.0, (LENGTH(REPLACE(norm, ' ', '')) * 1.0
                            / (LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1)) / 5.0) * 0.5 AS q
                 FROM n),
           f AS (SELECT * FROM q WHERE q >= 0.85),
           k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY norm),
           d AS (SELECT f.doc_id, f.q FROM f JOIN k USING (doc_id))
      SELECT doc_id, CAST(ROUND(q, 6) AS DOUBLE) AS quality,
             CASE WHEN u < 0.75 THEN 'train'
                  WHEN u < 0.875 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, q,
                   ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     / 1152921504606846976.0 AS u
            FROM d)
      ORDER BY doc_id""",

    // The same pinned vocabulary spelled as CASE columns.
    "q_onehot" -> """
      SELECT doc_id, lang,
             CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS lang_de,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lang_en,
             CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS lang_es,
             CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS lang_fr,
             CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS lang_zh
      FROM documents
      ORDER BY doc_id""",

    // Same md5-portable index (first 15 hex chars mod dim) and sign
    // (16th hex digit parity) per token occurrence.
    "q_feature_hash" -> """
      WITH toks AS (SELECT doc_id,
                           UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
                    FROM documents),
           h AS (SELECT doc_id,
                        ('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT % 64 AS dim,
                        CASE WHEN ('0x' || SUBSTR(MD5(tok), 16, 1))::BIGINT % 2 = 0
                             THEN 1.0 ELSE -1.0 END AS sgn
                 FROM toks WHERE tok <> '')
      SELECT doc_id, dim, CAST(SUM(sgn) AS DOUBLE) AS weight
      FROM h
      GROUP BY doc_id, dim
      ORDER BY doc_id, dim""",

    // LOO mean re-derived: (category sum - own y) / (n - 1), global
    // mean for singletons (none in this data, stated for parity).
    "q_target_encode" -> """
      WITH s AS (SELECT o_orderpriority, SUM(o_totalprice) AS sm,
                        COUNT(*) AS n
                 FROM orders GROUP BY o_orderpriority),
           g AS (SELECT AVG(o_totalprice) AS gm FROM orders)
      SELECT o.o_orderkey, o.o_orderpriority,
             CAST(ROUND(CASE WHEN s.n > 1
                             THEN (s.sm - o.o_totalprice) / (s.n - 1)
                             ELSE g.gm END, 4) AS DOUBLE) AS te
      FROM orders o JOIN s USING (o_orderpriority), g
      ORDER BY o.o_orderkey""",

    // Same formula tree: POWER(n,0.5)/z then *total then /n — division
    // and multiplication order matches the Spark projection exactly.
    "q_mix_temperature" -> """
      WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                 FROM documents GROUP BY source),
           z AS (SELECT SUM(POWER(n, 0.5)) AS z,
                        CAST(SUM(n) AS DOUBLE) AS total FROM c)
      SELECT source, n,
             CAST(ROUND(POWER(n, 0.5) / z, 6) AS DOUBLE) AS weight,
             CAST(ROUND(POWER(n, 0.5) / z * total / n, 6) AS DOUBLE) AS epochs
      FROM c, z
      ORDER BY source""",

    // Blocks re-derived with RANGE + list slicing (1-based inclusive,
    // the q_repeated_spans convention); keep rule and rebuild replayed
    // verbatim: min-doc holder keeps, STRING_AGG in block order.
    "q_dedup_blocks" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents),
           b AS (SELECT doc_id, i AS bidx,
                        ARRAY_TO_STRING(toks[i*8+1 : i*8+8], ' ') AS block
                 FROM t, UNNEST(RANGE(0, CAST(CEIL(LEN(toks) / 8.0) AS BIGINT))) r(i)),
           h AS (SELECT block, MIN(doc_id) AS holder
                 FROM (SELECT DISTINCT doc_id, block FROM b) GROUP BY block),
           k AS (SELECT b.doc_id, b.bidx, b.block
                 FROM b JOIN h USING (block) WHERE b.doc_id = h.holder)
      SELECT t.doc_id AS doc_id,
             COALESCE(STRING_AGG(k.block, ' ' ORDER BY k.bidx), '') AS clean_text
      FROM t LEFT JOIN k ON t.doc_id = k.doc_id
      GROUP BY t.doc_id
      ORDER BY t.doc_id""",

    // Identical TF-IDF cosine tree over 2-word shingles: w = tf*LN(N/df)
    // in the df<=50 space, normalized per doc, summed over shared
    // shingles; both engines filter on the UNROUNDED sum, then round.
    "q_sparse_cosine" -> """
      WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
           t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks FROM base),
           sh AS (SELECT doc_id, ARRAY_TO_STRING(toks[i:i+1], ' ') AS tok
                  FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks), 1))) r(i)),
           n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS corpus_n FROM base),
           tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM sh GROUP BY doc_id, tok),
           dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM sh
                     GROUP BY tok HAVING COUNT(DISTINCT doc_id) <= 50),
           w AS (SELECT tf.doc_id, tf.tok, tf.tf * LN(n.corpus_n / dfreq.df) AS w
                 FROM tf JOIN dfreq USING (tok), n),
           nrm AS (SELECT doc_id, SQRT(SUM(w*w)) AS nrm FROM w GROUP BY doc_id),
           wn AS (SELECT w.doc_id, w.tok, w.w / nrm.nrm AS wn
                  FROM w JOIN nrm USING (doc_id))
      SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(ROUND(SUM(a.wn * b.wn), 6) AS DOUBLE) AS cos
      FROM wn a JOIN wn b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING SUM(a.wn * b.wn) >= 0.1
      ORDER BY i, j""",

    // Identical KL expression tree: p_s * LN(p_s / p_c), summed, then
    // rounded — term order differs across engines far below 6 dp.
    "q_drift" -> """
      WITH gt AS (
        SELECT source AS grp, tok, COUNT(*) AS c_gt
        FROM (SELECT source,
                     UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                        t -> t <> '')) AS tok
              FROM documents)
        GROUP BY 1, 2),
      g AS (SELECT grp, SUM(c_gt) AS n_g FROM gt GROUP BY grp),
      c AS (SELECT tok, SUM(c_gt) AS c_t FROM gt GROUP BY tok),
      n AS (SELECT SUM(c_t) AS n_c FROM c)
      SELECT grp AS source,
             CAST(ROUND(SUM(
               (CAST(c_gt AS DOUBLE) / CAST(n_g AS DOUBLE))
               * LN((CAST(c_gt AS DOUBLE) / CAST(n_g AS DOUBLE))
                    / (CAST(c_t AS DOUBLE) / CAST(n_c AS DOUBLE)))), 6)
               AS DOUBLE) AS kl
      FROM gt JOIN g USING (grp) JOIN c USING (tok), n
      GROUP BY grp
      ORDER BY source""",

    // NULL rule results count as violations (none here: testdata has
    // no nulls); each rule restated as a conditional count.
    "q_dq_checks" -> """
      WITH t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT) AS v_quantity_range,
               CAST(SUM(CASE WHEN l_discount <= 0.08 THEN 0 ELSE 1 END) AS BIGINT) AS v_discount_bounded,
               CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v_price_positive,
               CAST(SUM(CASE WHEN l_tax < 0.05 THEN 0 ELSE 1 END) AS BIGINT) AS v_tax_bounded,
               CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) AS v_flag_domain
        FROM lineitem)
      SELECT rule, n_rows, n_violations, n_violations = 0 AS pass
      FROM (
        SELECT 'quantity_range' AS rule, n_rows, v_quantity_range AS n_violations FROM t
        UNION ALL SELECT 'discount_bounded', n_rows, v_discount_bounded FROM t
        UNION ALL SELECT 'price_positive', n_rows, v_price_positive FROM t
        UNION ALL SELECT 'tax_bounded', n_rows, v_tax_bounded FROM t
        UNION ALL SELECT 'flag_domain', n_rows, v_flag_domain FROM t)
      ORDER BY rule""",

    // Quartile cuts + the same ties-low fold, per row.
    "q_discretize" -> """
      WITH c AS (SELECT [QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.25),
                         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.5),
                         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.75)] AS cuts
                 FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CAST(LEN(LIST_FILTER(cuts,
               cc -> CAST(l_extendedprice AS DOUBLE) > cc)) AS INT) AS bucket
      FROM lineitem, c
      ORDER BY l_orderkey, l_linenumber""",

    // The same cut points (QUANTILE_CONT == Spark exact percentile,
    // the winsorize precedent) and the same ties-low fold.
    "q_histogram_eqdepth" -> """
      WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                 WHERE l_extendedprice IS NOT NULL),
      c AS (SELECT [QUANTILE_CONT(x, 0.125), QUANTILE_CONT(x, 0.25),
                    QUANTILE_CONT(x, 0.375), QUANTILE_CONT(x, 0.5),
                    QUANTILE_CONT(x, 0.625), QUANTILE_CONT(x, 0.75),
                    QUANTILE_CONT(x, 0.875)] AS cuts FROM v)
      SELECT CAST(LEN(LIST_FILTER(cuts, cc -> x > cc)) AS BIGINT) AS bucket,
             COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi
      FROM v, c
      GROUP BY 1
      ORDER BY bucket""",

    // exact regime: width >> vocabulary, so CMS estimates are true counts
    "q_cms_counts" -> """
      SELECT tok, COUNT(*) AS cnt_est
      FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY tok
      ORDER BY tok""",

    // exact regime: capacity >= vocabulary, so MG counts are true counts
    "q_heavy_hitters" -> """
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents)
      GROUP BY tok
      ORDER BY cnt DESC, tok
      LIMIT 20""",

    // the size invariant of the per-key cap (see qSampleCap doc).
    "q_sample_cap" -> """
      SELECT source, LEAST(10, COUNT(*)) AS n_kept
      FROM documents
      GROUP BY source
      ORDER BY source""",



    // Same tokenizer, top-50 cut under (count DESC, word ASC), 12-dp
    // frequencies, identical z and pair-mean trees; zero-variance
    // words excluded from the pair divisor on both engines.
    "q_burrows_delta" -> """
      WITH toks AS (
        SELECT source AS g,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
        FROM documents),
      gw AS (SELECT g, w, COUNT(*)::BIGINT AS c
             FROM toks WHERE w <> '' GROUP BY g, w),
      ng AS (SELECT g, SUM(c)::BIGINT AS n FROM gw GROUP BY g),
      top AS (SELECT w FROM (
                SELECT w, ROW_NUMBER() OVER (
                  ORDER BY SUM(c) DESC, w ASC) AS rk
                FROM gw GROUP BY w)
              WHERE rk <= 50),
      grid AS (
        SELECT ng.g, top.w,
               ROUND(CAST(COALESCE(gw.c, 0) AS DOUBLE)
                 / CAST(ng.n AS DOUBLE), 12) AS f
        FROM top CROSS JOIN ng
        LEFT JOIN gw ON gw.g = ng.g AND gw.w = top.w),
      ws0 AS (
        SELECT w, COUNT(*)::BIGINT AS kg,
               SUM(CAST(f AS DECIMAL(38,12))) AS sf,
               SUM(CAST(f AS DECIMAL(38,12))
                 * CAST(f AS DECIMAL(38,12))) AS sff
        FROM grid GROUP BY w),
      ws AS (
        SELECT w,
               CAST(sf AS DOUBLE) / CAST(kg AS DOUBLE) AS mu,
               SQRT((CAST(sff AS DOUBLE) - CAST(sf AS DOUBLE)
                   * CAST(sf AS DOUBLE) / CAST(kg AS DOUBLE))
                 / (CAST(kg AS DOUBLE) - 1.0)) AS sd
        FROM ws0
        WHERE (CAST(sff AS DOUBLE) - CAST(sf AS DOUBLE)
            * CAST(sf AS DOUBLE) / CAST(kg AS DOUBLE))
          / (CAST(kg AS DOUBLE) - 1.0) > 0.0),
      z AS (
        SELECT g, grid.w, (f - mu) / sd AS z
        FROM grid JOIN ws ON ws.w = grid.w)
      SELECT a.g AS group_a, b.g AS group_b,
             COUNT(*)::BIGINT AS n_words,
             CAST(ROUND(CAST(SUM(CAST(ROUND(ABS(a.z - b.z), 12)
                 AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS delta
      FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
      GROUP BY a.g, b.g
      ORDER BY group_a, group_b""",

    // Same whitespace tokenizer (empties filtered), exact
    // counts-of-counts, identical chao1/coverage trees.
    "q_chao1" -> """
      WITH toks AS (
        SELECT source AS g,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
        FROM documents),
      tc AS (SELECT g, tok, COUNT(*)::BIGINT AS r
             FROM toks WHERE tok <> '' GROUP BY g, tok),
      agg AS (
        SELECT g, SUM(r)::BIGINT AS n, COUNT(*)::BIGINT AS d,
               SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
               SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
        FROM tc GROUP BY g)
      SELECT g AS source, n AS n_tokens, d AS vocab, f1, f2,
             CAST(ROUND(CAST(d AS DOUBLE)
               + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                 / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6)
               AS DOUBLE) AS chao1,
             CAST(ROUND(1.0 - CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS DOUBLE) AS coverage
      FROM agg ORDER BY source""",

    // The q_chao1 toks/counts CTEs; the estimators are exact integers.
    "q_jackknife" -> """
      WITH toks AS (
        SELECT source AS g,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
        FROM documents),
      tc AS (SELECT g, tok, COUNT(*)::BIGINT AS r
             FROM toks WHERE tok <> '' GROUP BY g, tok),
      agg AS (
        SELECT g, COUNT(*)::BIGINT AS d,
               SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
               SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
        FROM tc GROUP BY g)
      SELECT g AS source, d AS vocab, f1, f2,
             (d + f1)::BIGINT AS jack1,
             (d + 2 * f1 - f2)::BIGINT AS jack2
      FROM agg ORDER BY source""",

    // One term-keyed self-join for the exact min-fold; totals from
    // the group fold; one rounded division per ordered pair.
    "q_bray_curtis" -> """
      WITH toks AS (
        SELECT CAST(lang AS VARCHAR) AS g,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
        FROM documents),
      cnt AS (SELECT g, tok, COUNT(*)::BIGINT AS c
              FROM toks WHERE tok <> '' GROUP BY g, tok),
      tot AS (SELECT g AS tg, SUM(c)::BIGINT AS n FROM cnt GROUP BY g),
      sh AS (SELECT x.g AS ga, y.g AS gb,
                    SUM(LEAST(x.c, y.c)::HUGEINT) AS sh
             FROM cnt x JOIN cnt y ON x.tok = y.tok AND x.g < y.g
             GROUP BY 1, 2)
      SELECT a.tg AS group_a, b.tg AS group_b,
             a.n AS n_a, b.n AS n_b,
             COALESCE(sh.sh, 0)::BIGINT AS shared,
             CAST(ROUND(1.0 - 2.0 * CAST(COALESCE(sh.sh, 0) AS DOUBLE)
               / CAST(a.n + b.n AS DOUBLE), 6) AS DOUBLE) AS bray_curtis
      FROM tot a JOIN tot b ON a.tg < b.tg
      LEFT JOIN sh ON sh.ga = a.tg AND sh.gb = b.tg
      ORDER BY group_a, group_b""",

    // The exact cross-multiplied |v−s| mass over the explicit
    // part×term grid; HUGEINT folds, one division per term.
    "q_dispersion_dp" -> """
      WITH toks AS (
        SELECT CAST(lang AS VARCHAR) AS p,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
        FROM documents),
      cnt AS (SELECT p, tok, COUNT(*)::BIGINT AS c
              FROM toks WHERE tok <> '' GROUP BY p, tok),
      parts AS (SELECT p AS pp, SUM(c)::BIGINT AS np
                FROM cnt GROUP BY p),
      nt AS (SELECT SUM(np)::BIGINT AS nn FROM parts),
      top AS (SELECT tok AS t, ct, rk FROM (
                SELECT tok, SUM(c)::BIGINT AS ct,
                       ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, tok)
                         AS rk
                FROM cnt GROUP BY tok) WHERE rk <= 25),
      grid AS (SELECT top.t, top.ct, parts.np,
                      COALESCE(cnt.c, 0)::BIGINT AS cti
               FROM top CROSS JOIN parts
               LEFT JOIN cnt ON cnt.tok = top.t AND cnt.p = parts.pp),
      agg AS (SELECT t, ct, nn,
                     SUM(ABS(cti::HUGEINT * nn - np::HUGEINT * ct))
                       AS snum
              FROM grid CROSS JOIN nt GROUP BY t, ct, nn)
      SELECT t AS term, ct AS total,
             CAST(ROUND(CAST(snum AS DOUBLE)
               / (2.0 * CAST(ct AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
               AS DOUBLE) AS dp
      FROM agg
      ORDER BY total DESC, term""",

    // Counts-of-counts + the r-grid so empty ranks still report;
    // identical r* division.
    "q_good_turing" -> """
      WITH toks AS (
        SELECT source AS g,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
        FROM documents),
      sr AS (SELECT g, r, COUNT(*)::BIGINT AS s FROM (
               SELECT g, tok, COUNT(*)::BIGINT AS r
               FROM toks WHERE tok <> '' GROUP BY g, tok)
             GROUP BY g, r),
      grid AS (
        SELECT g, CAST(rr.r AS BIGINT) AS r
        FROM (SELECT DISTINCT g FROM sr)
        CROSS JOIN (SELECT UNNEST(RANGE(1, 6)) AS r) rr)
      SELECT grid.g AS source, grid.r,
             COALESCE(s0.s, 0)::BIGINT AS n_types,
             CAST(CASE WHEN s0.s IS NOT NULL AND s1.s IS NOT NULL
               THEN ROUND(CAST(grid.r + 1 AS DOUBLE) * CAST(s1.s AS DOUBLE)
                 / CAST(s0.s AS DOUBLE), 6) END AS DOUBLE) AS r_star
      FROM grid
      LEFT JOIN sr s0 ON s0.g = grid.g AND s0.r = grid.r
      LEFT JOIN sr s1 ON s1.g = grid.g AND s1.r = grid.r + 1
      ORDER BY source, grid.r""",

    // The trained profile classifier replayed gram-for-gram: same
    // trigram slices of the whitespace-collapsed text, same top-100
    // (count DESC, gram ASC) rank profiles, same integer out-of-place
    // distance with penalty 100, same (dist ASC, lang ASC) argmin.
    "q_langid_profile" -> """
      WITH tr AS (SELECT lang AS key,
                         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
                  FROM documents WHERE doc_id % 5 <> 0 AND lang IS NOT NULL),
      te AS (SELECT doc_id,
                    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
             FROM documents WHERE doc_id % 5 = 0),
      trg AS (SELECT key, substr(t, CAST(i AS INT), 3) AS g
              FROM tr, UNNEST(RANGE(1, length(t) + 1)) r(i)
              WHERE length(substr(t, CAST(i AS INT), 3)) = 3),
      prof AS (SELECT key AS lang, g, rl FROM (
                 SELECT key, g, ROW_NUMBER() OVER (PARTITION BY key
                          ORDER BY COUNT(*) DESC, g ASC) AS rl
                 FROM trg GROUP BY key, g)
               WHERE rl <= 100),
      langs AS (SELECT DISTINCT lang FROM prof),
      teg AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS g
              FROM te, UNNEST(RANGE(1, length(t) + 1)) r(i)
              WHERE length(substr(t, CAST(i AS INT), 3)) = 3),
      dr AS (SELECT doc_id, g, rd FROM (
               SELECT doc_id, g, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY COUNT(*) DESC, g ASC) AS rd
               FROM teg GROUP BY doc_id, g)
             WHERE rd <= 100),
      dist AS (SELECT d.doc_id, l.lang,
                      SUM(COALESCE(ABS(d.rd - p.rl), 100))::BIGINT AS dist
               FROM dr d CROSS JOIN langs l
               LEFT JOIN prof p ON p.lang = l.lang AND p.g = d.g
               GROUP BY d.doc_id, l.lang),
      best AS (SELECT doc_id, lang, dist FROM (
                 SELECT doc_id, lang, dist, ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY dist ASC, lang ASC) AS rn
                 FROM dist) WHERE rn = 1)
      SELECT t.doc_id, COALESCE(b.lang, 'und') AS lang_pred, b.dist
      FROM te t
      LEFT JOIN best b ON b.doc_id = t.doc_id
      ORDER BY t.doc_id""",

    "q_lang_id" -> """
      WITH s AS (
        SELECT doc_id,
          (CASE WHEN text LIKE '% the %' OR text LIKE 'the %' OR text LIKE '% the' THEN 1 ELSE 0 END
         + CASE WHEN text LIKE '% fast %' OR text LIKE 'fast %' OR text LIKE '% fast' THEN 1 ELSE 0 END
         + CASE WHEN text LIKE '% join %' OR text LIKE 'join %' OR text LIKE '% join' THEN 1 ELSE 0 END) AS s_en,
          (CASE WHEN text LIKE '% batch %' OR text LIKE 'batch %' OR text LIKE '% batch' THEN 1 ELSE 0 END
         + CASE WHEN text LIKE '% stream %' OR text LIKE 'stream %' OR text LIKE '% stream' THEN 1 ELSE 0 END
         + CASE WHEN text LIKE '% merge %' OR text LIKE 'merge %' OR text LIKE '% merge' THEN 1 ELSE 0 END) AS s_zz
        FROM documents)
      SELECT doc_id,
             CASE WHEN s_zz > s_en THEN 'zz'
                  WHEN s_en > 0 THEN 'en'
                  ELSE 'und' END AS lang_pred
      FROM s
      ORDER BY doc_id""",

    "q_tokens_wordcount" -> """
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents) t
      GROUP BY tok
      ORDER BY cnt DESC, tok""",

    // Gaps-and-islands phrase ids over raw-split positions (empty
    // tokens dropped first, exactly like the operator), integer
    // deg/freq, frozen word scores, decimal phrase sums.
    "q_rake" -> """
      WITH t AS (SELECT doc_id AS d,
                        STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents),
      pos AS (SELECT d, i AS p, toks[i] AS w
              FROM t, UNNEST(RANGE(1, LEN(toks) + 1)) r(i)
              WHERE toks[i] <> ''),
      mk AS (SELECT d, p, w,
               w IN ('a', 'the', 'fast', 'slow', 'big', 'small') AS stop
             FROM pos),
      ph AS (SELECT d, p, w, stop,
               SUM(CASE WHEN stop THEN 1 ELSE 0 END)
                 OVER (PARTITION BY d ORDER BY p) AS phid
             FROM mk),
      words AS (SELECT d, phid, p, w,
                  COUNT(*) OVER (PARTITION BY d, phid) AS len
                FROM ph WHERE NOT stop),
      ws AS (SELECT w AS wk,
               ROUND(SUM(len) / CAST(COUNT(*) AS DOUBLE), 12) AS s
             FROM words GROUP BY w),
      inst AS (SELECT d, phid,
                 STRING_AGG(w, ' ' ORDER BY p) AS phrase,
                 COUNT(*)::BIGINT AS n_words,
                 SUM(CAST(s AS DECIMAL(38,12))) AS psum
               FROM words JOIN ws ON ws.wk = words.w
               GROUP BY d, phid),
      agg AS (SELECT phrase, MAX(n_words)::BIGINT AS n_words,
                COUNT(*)::BIGINT AS n_occurs,
                CAST(ROUND(CAST(MAX(psum) AS DOUBLE), 6) AS DOUBLE) AS score
              FROM inst GROUP BY phrase)
      SELECT phrase, n_words, n_occurs, score
      FROM agg ORDER BY score DESC, phrase ASC LIMIT 20""",

    "q_tfidf" -> """
      WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
           toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM base),
           tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
           dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
           scored AS (SELECT tf.doc_id, tf.tok,
                             tf.tf * LN((SELECT COUNT(*) FROM base) * 1.0 / dfreq.df) AS tfidf
                      FROM tf JOIN dfreq USING (tok)),
           rk AS (SELECT doc_id, tok, tfidf,
                         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS BIGINT) AS rnk
                  FROM scored)
      SELECT doc_id, rnk, tok, CAST(ROUND(tfidf, 6) AS DOUBLE) AS tfidf
      FROM rk WHERE rnk <= 5
      ORDER BY doc_id, rnk""",

    // Exact integer word / sentence-run / vowel-group sums per lang,
    // one rounded Flesch and FK tree each.
    // Per-key fan over the 8 shards, identical md5 draws, argmax with
    // the lowest-shard tie rule via (draw DESC, shard ASC) rank.
    "q_shard_hrw" -> """
      WITH fan AS (
        SELECT doc_id, s.s AS shard,
               ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|'
                 || CAST(s.s AS VARCHAR)), 1, 15))::BIGINT AS draw
        FROM documents CROSS JOIN (SELECT UNNEST(RANGE(0, 8)) AS s) s),
      win AS (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY draw DESC, shard ASC) AS rn
        FROM fan)
      SELECT doc_id, CAST(shard AS INT) AS shard
      FROM win WHERE rn = 1
      ORDER BY doc_id""",

    // The readability tokenization + the per-word vowel-group
    // polysyllable transform; same 1.043/30/3.1291 literals.
    "q_smog" -> """
      WITH pts AS (
        SELECT lang,
               (LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))
                 + 1)::BIGINT AS w,
               GREATEST(1, LEN(regexp_extract_all(text, '[.!?]+')))
                 ::BIGINT AS st,
               LEN(LIST_FILTER(LIST_TRANSFORM(
                 LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                   t -> t <> ''),
                 wd -> LEN(regexp_extract_all(wd, '[aeiouy]+'))),
                 c -> c >= 3))::BIGINT AS poly
        FROM documents WHERE text IS NOT NULL),
      agg AS (
        SELECT lang, COUNT(*)::BIGINT AS n_docs,
               SUM(w)::BIGINT AS words, SUM(st)::BIGINT AS sentences,
               SUM(poly)::BIGINT AS polysyllables
        FROM pts GROUP BY lang)
      SELECT lang, n_docs, words, sentences, polysyllables,
             CAST(ROUND(1.043 * SQRT(30.0
               * CAST(polysyllables AS DOUBLE)
               / CAST(sentences AS DOUBLE)) + 3.1291, 6) AS DOUBLE)
               AS smog
      FROM agg ORDER BY lang""",

    // Lead/body token lists, per-doc clipped gram joins (uni + the
    // list-indexed bigrams), one rounded recall per order.
    "q_rouge_lead" -> """
      WITH base AS (
        SELECT lang AS g, doc_id AS id,
               LIST_FILTER(STRING_SPLIT(LOWER(
                 REGEXP_EXTRACT(text, '^[^.!?]*', 0)), ' '),
                 x -> x <> '') AS cs,
               LIST_FILTER(STRING_SPLIT(LOWER(SUBSTR(text,
                 LENGTH(REGEXP_EXTRACT(text, '^[^.!?]*', 0)) + 1,
                 2147483647)), ' '), x -> x <> '') AS rs
        FROM documents WHERE text IS NOT NULL),
      nd AS (SELECT g, COUNT(*)::BIGINT AS n_docs FROM base GROUP BY g),
      cu1 AS (SELECT g, id, tok, COUNT(*)::BIGINT AS cc
              FROM (SELECT g, id, UNNEST(cs) AS tok FROM base)
              GROUP BY 1, 2, 3),
      ru1 AS (SELECT g, id, tok, COUNT(*)::BIGINT AS rc
              FROM (SELECT g, id, UNNEST(rs) AS tok FROM base)
              GROUP BY 1, 2, 3),
      ov1 AS (SELECT g, SUM(LEAST(cc, rc)::HUGEINT) AS ov
              FROM cu1 JOIN ru1 USING (g, id, tok) GROUP BY g),
      rt1 AS (SELECT g, SUM(rc::HUGEINT) AS rt FROM ru1 GROUP BY g),
      cu2 AS (SELECT g, id, tok, COUNT(*)::BIGINT AS cc
              FROM (SELECT g, id, UNNEST(LIST_TRANSFORM(
                      RANGE(1, LEN(cs)), i -> cs[i] || ' ' || cs[i + 1]))
                      AS tok
                    FROM base)
              GROUP BY 1, 2, 3),
      ru2 AS (SELECT g, id, tok, COUNT(*)::BIGINT AS rc
              FROM (SELECT g, id, UNNEST(LIST_TRANSFORM(
                      RANGE(1, LEN(rs)), i -> rs[i] || ' ' || rs[i + 1]))
                      AS tok
                    FROM base)
              GROUP BY 1, 2, 3),
      ov2 AS (SELECT g, SUM(LEAST(cc, rc)::HUGEINT) AS ov
              FROM cu2 JOIN ru2 USING (g, id, tok) GROUP BY g),
      rt2 AS (SELECT g, SUM(rc::HUGEINT) AS rt FROM ru2 GROUP BY g)
      SELECT nd.g AS lang, nd.n_docs,
             CAST(CASE WHEN CAST(rt1.rt AS DOUBLE) > 0.0 THEN
               ROUND(CAST(COALESCE(ov1.ov, 0) AS DOUBLE)
                 / CAST(rt1.rt AS DOUBLE), 6) END AS DOUBLE) AS rouge1,
             CAST(CASE WHEN CAST(rt2.rt AS DOUBLE) > 0.0 THEN
               ROUND(CAST(COALESCE(ov2.ov, 0) AS DOUBLE)
                 / CAST(rt2.rt AS DOUBLE), 6) END AS DOUBLE) AS rouge2
      FROM nd
      LEFT JOIN ov1 ON ov1.g = nd.g LEFT JOIN rt1 ON rt1.g = nd.g
      LEFT JOIN ov2 ON ov2.g = nd.g LEFT JOIN rt2 ON rt2.g = nd.g
      ORDER BY lang""",

    // The redact chain as the candidate, the original as reference;
    // clipped precisions + the frozen brevity/ln-exp trees.
    "q_bleu_clean" -> """
      WITH base AS (
        SELECT lang AS g, doc_id AS id,
               LIST_FILTER(STRING_SPLIT(LOWER(
                 REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
                   'https?://[^ ]+', '<URL>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                   '\b\d{7,}\b', '<NUM>', 'g')), ' '),
                 x -> x <> '') AS cs,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 x -> x <> '') AS rs
        FROM documents WHERE text IS NOT NULL),
      nd AS (SELECT g, COUNT(*)::BIGINT AS n_docs,
                    SUM(LEN(cs))::BIGINT AS cl,
                    SUM(LEN(rs))::BIGINT AS rl
             FROM base GROUP BY g),
      cu1 AS (SELECT g, id, tok, COUNT(*)::BIGINT AS cc
              FROM (SELECT g, id, UNNEST(cs) AS tok FROM base)
              GROUP BY 1, 2, 3),
      ru1 AS (SELECT g, id, tok, COUNT(*)::BIGINT AS rc
              FROM (SELECT g, id, UNNEST(rs) AS tok FROM base)
              GROUP BY 1, 2, 3),
      ov1 AS (SELECT g, SUM(LEAST(cc, rc)::HUGEINT) AS ov
              FROM cu1 JOIN ru1 USING (g, id, tok) GROUP BY g),
      ct1 AS (SELECT g, SUM(cc::HUGEINT) AS ct FROM cu1 GROUP BY g),
      cu2 AS (SELECT g, id, tok, COUNT(*)::BIGINT AS cc
              FROM (SELECT g, id, UNNEST(LIST_TRANSFORM(
                      RANGE(1, LEN(cs)), i -> cs[i] || ' ' || cs[i + 1]))
                      AS tok
                    FROM base)
              GROUP BY 1, 2, 3),
      ru2 AS (SELECT g, id, tok, COUNT(*)::BIGINT AS rc
              FROM (SELECT g, id, UNNEST(LIST_TRANSFORM(
                      RANGE(1, LEN(rs)), i -> rs[i] || ' ' || rs[i + 1]))
                      AS tok
                    FROM base)
              GROUP BY 1, 2, 3),
      ov2 AS (SELECT g, SUM(LEAST(cc, rc)::HUGEINT) AS ov
              FROM cu2 JOIN ru2 USING (g, id, tok) GROUP BY g),
      ct2 AS (SELECT g, SUM(cc::HUGEINT) AS ct FROM cu2 GROUP BY g),
      pp AS (SELECT nd.g, nd.n_docs,
               CASE WHEN CAST(ct1.ct AS DOUBLE) > 0.0 THEN
                 ROUND(CAST(COALESCE(ov1.ov, 0) AS DOUBLE)
                   / CAST(ct1.ct AS DOUBLE), 12) END AS p1,
               CASE WHEN CAST(ct2.ct AS DOUBLE) > 0.0 THEN
                 ROUND(CAST(COALESCE(ov2.ov, 0) AS DOUBLE)
                   / CAST(ct2.ct AS DOUBLE), 12) END AS p2,
               CASE WHEN cl >= rl THEN 1.0
                    ELSE ROUND(EXP(1.0 - CAST(rl AS DOUBLE)
                      / CAST(cl AS DOUBLE)), 12) END AS bp
             FROM nd
             LEFT JOIN ov1 ON ov1.g = nd.g LEFT JOIN ct1 ON ct1.g = nd.g
             LEFT JOIN ov2 ON ov2.g = nd.g LEFT JOIN ct2 ON ct2.g = nd.g)
      SELECT g AS lang, n_docs,
             CAST(ROUND(p1, 6) AS DOUBLE) AS p1,
             CAST(ROUND(p2, 6) AS DOUBLE) AS p2,
             CAST(ROUND(bp, 6) AS DOUBLE) AS bp,
             CAST(CASE WHEN p1 > 0.0 AND p2 > 0.0 THEN
               ROUND(bp * EXP((LN(p1) + LN(p2)) / 2.0), 6) END
               AS DOUBLE) AS bleu2
      FROM pp
      ORDER BY lang""",

    // The readability-panel counting CTEs with the letter count; one
    // rounded CLI tree.
    "q_coleman_liau" -> """
      WITH pts AS (
        SELECT lang,
               (LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))
                 + 1)::BIGINT AS w,
               GREATEST(1, LEN(regexp_extract_all(text, '[.!?]+')))
                 ::BIGINT AS st,
               LEN(regexp_extract_all(LOWER(text), '[a-z]'))::BIGINT
                 AS lt
        FROM documents WHERE text IS NOT NULL),
      agg AS (
        SELECT lang, COUNT(*)::BIGINT AS n_docs,
               SUM(lt)::BIGINT AS letters, SUM(w)::BIGINT AS words,
               SUM(st)::BIGINT AS sentences
        FROM pts GROUP BY lang)
      SELECT lang, n_docs, letters, words, sentences,
             CAST(CASE WHEN words >= 1 THEN
               ROUND(0.0588 * (CAST(letters AS DOUBLE)
                   / CAST(words AS DOUBLE) * 100.0)
                 - 0.296 * (CAST(sentences AS DOUBLE)
                   / CAST(words AS DOUBLE) * 100.0) - 15.8, 6) END
               AS DOUBLE) AS cli
      FROM agg ORDER BY lang""",

    "q_readability" -> """
      WITH pts AS (
        SELECT lang,
               (LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))
                 + 1)::BIGINT AS w,
               GREATEST(1, LEN(regexp_extract_all(text, '[.!?]+')))
                 ::BIGINT AS st,
               LEN(regexp_extract_all(LOWER(text), '[aeiouy]+'))
                 ::BIGINT AS sy
        FROM documents WHERE text IS NOT NULL),
      agg AS (
        SELECT lang, COUNT(*)::BIGINT AS n_docs,
               SUM(w)::BIGINT AS words, SUM(st)::BIGINT AS sentences,
               SUM(sy)::BIGINT AS syllables
        FROM pts GROUP BY lang)
      SELECT lang, n_docs, words, sentences, syllables,
             CAST(CASE WHEN words > 0 THEN
               ROUND(206.835
                 - 1.015 * (CAST(words AS DOUBLE)
                            / CAST(sentences AS DOUBLE))
                 - 84.6 * (CAST(syllables AS DOUBLE)
                           / CAST(words AS DOUBLE)), 6)
             END AS DOUBLE) AS flesch,
             CAST(CASE WHEN words > 0 THEN
               ROUND(0.39 * (CAST(words AS DOUBLE)
                             / CAST(sentences AS DOUBLE))
                 + 11.8 * (CAST(syllables AS DOUBLE)
                           / CAST(words AS DOUBLE)) - 15.59, 6)
             END AS DOUBLE) AS fk_grade
      FROM agg ORDER BY lang""",

    "q_textstats" -> """
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
             CAST(MIN(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS min_words,
             CAST(MAX(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS max_words,
             CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS total_words
      FROM documents
      GROUP BY lang, source
      ORDER BY lang, source""",

    "q_quality_score" -> """
      SELECT doc_id,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS words,
             CAST(ROUND(LENGTH(REPLACE(text, ' ', '')) * 1.0
                        / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 6) AS DOUBLE) AS awl,
             CAST(ROUND(
               LEAST(1.0, (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) / 50.0) * 0.5
               + LEAST(1.0, (LENGTH(REPLACE(text, ' ', '')) * 1.0
                             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)) / 5.0) * 0.5,
               6) AS DOUBLE) AS quality
      FROM documents
      ORDER BY doc_id""",

    // The same quality expression as q_quality_score; the filter rides
    // CUME_DIST over the identical (quality DESC, doc_id) total order,
    // so the kept SET is exact — ROUND only formats the output.
    "q_quality_filter" -> """
      WITH s AS (
        SELECT doc_id, lang,
               LEAST(1.0, (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) / 50.0) * 0.5
               + LEAST(1.0, (LENGTH(REPLACE(text, ' ', '')) * 1.0
                             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)) / 5.0) * 0.5
                 AS q
        FROM documents),
      c AS (
        SELECT doc_id, lang, q,
               CUME_DIST() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS cd
        FROM s)
      SELECT doc_id, lang, CAST(ROUND(q, 6) AS DOUBLE) AS quality
      FROM c WHERE cd <= 0.25
      ORDER BY doc_id""",

    // Vocab literal generated from TextAnalysis.PinnedVocab — the same
    // constant the Spark side broadcasts.
    "q_oov" -> s"""
      WITH t AS (SELECT doc_id,
                        LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
                 FROM documents)
      SELECT doc_id,
             CAST(ROUND(CASE WHEN LEN(toks) = 0 THEN 0.0
               ELSE CAST(LEN(LIST_FILTER(toks, t -> NOT LIST_CONTAINS(
                      ${TextAnalysis.PinnedVocab.map(w => s"'$w'").mkString("[", ", ", "]")}, t))) AS DOUBLE)
                    / CAST(LEN(toks) AS DOUBLE) END, 6) AS DOUBLE) AS oov_rate
      FROM t
      ORDER BY doc_id""",

    // The identical two-prime rolling fold, restated: md5 token hashes
    // (15 hex chars -> 60-bit bigint, the simHashPortable cast trick),
    // list_reduce seeded by a prepended 0 accumulator (DuckDB's reduce
    // uses the first element as init), combined as a*998244353 + b.
    "q_fingerprint" -> """
      WITH t AS (SELECT doc_id,
                        LIST_TRANSFORM(STRING_SPLIT(LOWER(text), ' '),
                          s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT) AS hs
                 FROM documents)
      SELECT doc_id,
             CAST(LIST_REDUCE(LIST_PREPEND(0::BIGINT, hs),
                    (a, h) -> (a * 31 + h) % 1000000007) * 998244353
                + LIST_REDUCE(LIST_PREPEND(0::BIGINT, hs),
                    (a, h) -> (a * 37 + h) % 998244353) AS BIGINT) AS fp
      FROM t
      ORDER BY doc_id""",

    // Stream-offset packing: exclusive running sum per lang shard,
    // bin = floor(start / budget). Integer-exact in both engines.
    "q_pack_offset" -> """
      WITH t AS (SELECT lang, doc_id,
                        CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
           o AS (SELECT lang, doc_id, n_tokens,
                        CAST(COALESCE(SUM(n_tokens) OVER (
                          PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          AS BIGINT) AS start_offset
                 FROM t)
      SELECT lang, doc_id, n_tokens, start_offset,
             CAST(FLOOR(start_offset / 2048.0) AS BIGINT) AS bin
      FROM o
      ORDER BY lang, doc_id""",

    // pack_offset with n_tokens = the BPE subword count (the same
    // generated replace chain as q_bpe's oracle).
    "q_pack_bpe" -> s"""
      WITH t AS (SELECT lang, doc_id,
                        CAST(LEN(${Bpe.encodedTokensSql("text", Bpe.PinnedMerges)}) AS BIGINT) AS n_tokens
                 FROM documents),
           o AS (SELECT lang, doc_id, n_tokens,
                        CAST(COALESCE(SUM(n_tokens) OVER (
                          PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          AS BIGINT) AS start_offset
                 FROM t)
      SELECT lang, doc_id, n_tokens, start_offset,
             CAST(FLOOR(start_offset / 2048.0) AS BIGINT) AS bin
      FROM o
      ORDER BY lang, doc_id""",

    // 5-token spans via 1-based inclusive list slicing (the
    // q_dedup_ngram_jaccard pattern); RANGE is empty for docs shorter
    // than 5 tokens.
    "q_repeated_spans" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents WHERE doc_id < 1000),
           sh AS (SELECT DISTINCT doc_id,
                         ARRAY_TO_STRING(toks[i:i+4], ' ') AS tok
                  FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks) - 3, 1))) r(i))
      SELECT tok, COUNT(DISTINCT doc_id) AS n_docs
      FROM sh
      GROUP BY tok
      HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY tok""",

    // The q_repeated_spans anchors, then per-doc gaps-and-islands
    // (pos − row_number) grouping consecutive flagged 5-gram starts
    // into maximal runs; a run s..e covers tokens s..e+4, rebuilt by
    // an inclusive list slice.
    "q_repeated_spans_maximal" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
                 FROM documents WHERE doc_id < 1000),
      occ AS (SELECT doc_id, i AS pos,
                     ARRAY_TO_STRING(toks[i:i+4], ' ') AS tok
              FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks) - 3, 1))) r(i)),
      rep AS (SELECT tok
              FROM (SELECT DISTINCT doc_id, tok FROM occ)
              GROUP BY tok HAVING COUNT(DISTINCT doc_id) >= 2),
      anch AS (SELECT occ.doc_id, occ.pos FROM occ JOIN rep USING (tok)),
      isl AS (SELECT doc_id, pos,
                     pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY pos) AS grp
              FROM anch),
      runs AS (SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) AS e
               FROM isl GROUP BY doc_id, grp)
      SELECT r.doc_id,
             CAST(r.s - 1 AS BIGINT) AS start,
             CAST(r.e - r.s + 5 AS INT) AS len_tokens,
             ARRAY_TO_STRING(t.toks[r.s:r.e+4], ' ') AS span
      FROM runs r JOIN t ON t.doc_id = r.doc_id
      ORDER BY r.doc_id, start""",

    // Same span definition as q_repeated_spans (full 5-gram windows),
    // same coverage rule (cut iff an occurrence starts in
    // (pos-5, pos]), same row-preserving rebuild.
    "q_remove_spans" -> """
      WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts
                 FROM documents WHERE doc_id < 200),
      tok AS (SELECT doc_id, i - 1 AS pos, ts[i] AS w, LEN(ts) AS len,
                     ARRAY_TO_STRING(ts[i:i+4], ' ') AS g
              FROM t, UNNEST(RANGE(1, LEN(ts) + 1)) r(i)),
      spans AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM tok
                               WHERE pos + 5 <= len)
                GROUP BY g HAVING COUNT(*) >= 3),
      starts AS (SELECT doc_id, pos FROM tok
                 WHERE pos + 5 <= len AND g IN (SELECT g FROM spans)),
      kept AS (SELECT k.doc_id, k.pos, k.w FROM tok k
               WHERE NOT EXISTS (SELECT 1 FROM starts s
                                 WHERE s.doc_id = k.doc_id
                                   AND s.pos <= k.pos AND k.pos < s.pos + 5))
      SELECT d.doc_id,
             COALESCE(ka.clean_text, '') AS clean_text
      FROM (SELECT doc_id FROM t) d
      LEFT JOIN (SELECT doc_id, STRING_AGG(w, ' ' ORDER BY pos) AS clean_text
                 FROM kept GROUP BY doc_id) ka USING (doc_id)
      ORDER BY doc_id""",

    // The identical ±1 matrix re-derived from md5 low bits in SQL;
    // lambda index i is 1-based, so position i pairs with sign row
    // (i-1) — the LIST is built ORDER BY input dim. Explicit DOUBLE
    // casts keep DuckDB out of DECIMAL arithmetic.
    "q_random_projection" -> """
      WITH signs AS (
        SELECT j.j,
               LIST(CASE WHEN ('0x' || SUBSTR(MD5('jl:' || i.i || ':' || j.j), 1, 15))::BIGINT & 1 = 1
                         THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END ORDER BY i.i) AS s
        FROM RANGE(0, 64) i(i), RANGE(0, 16) j(j)
        GROUP BY j.j),
           p AS (
        SELECT e.vec_id, s.j,
               LIST_REDUCE(
                 LIST_PREPEND(0.0::DOUBLE,
                   LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]),
                     (x, i) -> x * s.s[i])),
                 (a, b) -> a + b) / SQRT(16.0) AS v
        FROM embeddings e, signs s)
      SELECT vec_id,
             ARRAY_TO_STRING(LIST(CAST(ROUND(v * 1000000) AS BIGINT) ORDER BY j), ',') AS proj
      FROM p
      GROUP BY vec_id
      ORDER BY vec_id""",

    // Per-position AVG restates the elementwise mean; embedding[i] is
    // 1-based. Scale-4 integer elements dodge float-format divergence.
    "q_pool_mean" -> """
      WITH u AS (SELECT label, i,
                        AVG(CAST(embedding[i] AS DOUBLE)) AS m
                 FROM embeddings, UNNEST(RANGE(1, 65)) t(i)
                 GROUP BY label, i)
      SELECT label,
             ARRAY_TO_STRING(LIST(CAST(ROUND(m * 10000) AS BIGINT) ORDER BY i), ',') AS pooled
      FROM u
      GROUP BY label
      ORDER BY label""",

    // The replace chain is GENERATED from Bpe.PinnedMerges — the same
    // constant the Spark side folds over — so the two expressions are
    // the same function by construction (see Bpe.encodedTokensSql).
    "q_bpe" -> s"""
      WITH t AS (SELECT doc_id, ${Bpe.encodedTokensSql("text", Bpe.PinnedMerges)} AS ts
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, ts[i] AS token
      FROM t, UNNEST(RANGE(1, LEN(ts) + 1)) r(i)
      ORDER BY doc_id, pos""",

    "q_bpe_fertility" -> s"""
      SELECT doc_id,
             CAST(LEN(${Bpe.encodedTokensSql("text", Bpe.PinnedMerges)}) AS BIGINT) AS n_subwords,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')) AS BIGINT) AS n_words
      FROM documents
      ORDER BY doc_id""",

    // The same md5 draw and the same dyadic cut points (0.75, 0.875)
    // replay every row's split assignment exactly.
    // The row-level draw keyed on the GROUP: identical md5 math, so
    // group atomicity is structural (same user => same u => same arm).
    "q_split_grouped" -> """
      SELECT event_id, user_id,
             CASE WHEN u < 0.75 THEN 'train'
                  WHEN u < 0.875 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT event_id, user_id,
                   ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                     / 1152921504606846976.0 AS u
            FROM events)
      ORDER BY event_id""",

    "q_split_tvt" -> """
      SELECT doc_id,
             CASE WHEN u < 0.75 THEN 'train'
                  WHEN u < 0.875 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     / 1152921504606846976.0 AS u
            FROM documents)
      ORDER BY doc_id""",

    // Every keep/drop decision replayed exactly: the draw is
    // md5('name:' || key) over 2^60 (a power of two, so the division
    // is exact IEEE in both engines).
    "q_mix_corpora" -> """
      SELECT * FROM (
        SELECT 'head' AS corpus, doc_id, lang FROM documents
        WHERE doc_id < 250
          AND ('0x' || SUBSTR(MD5('head:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              / 1152921504606846976.0 < 0.5
        UNION ALL
        SELECT 'tail' AS corpus, doc_id, lang FROM documents
        WHERE doc_id >= 250 AND doc_id < 500
          AND ('0x' || SUBSTR(MD5('tail:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              / 1152921504606846976.0 < 0.25
      ) ORDER BY corpus, doc_id""",
  )
}
