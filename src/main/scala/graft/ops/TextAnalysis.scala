package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis surface for a large-scale training-data pipeline over the
  * `documents` table: language-ID heuristic, quality scoring, token counting,
  * document fingerprinting. Everything is a map-side column expression — no
  * shuffle, no UDF — so it scans at parquet speed on 100 TB.
  *
  * Formulas are pinned exactly (integer counts + IEEE double arithmetic) so
  * the DuckDB oracle reproduces them bit-for-bit before rounding.
  */
object TextAnalysis {

  /** Whitespace tokenization — the shared basis for every operator here. */
  def tokens(text: Column): Column = split(text, " ")

  /** Guarantee a CPU-bound pipeline at least default-parallelism input
    * slices. A corpus that arrives as fewer scan splits than cores (at
    * test SF: one single-row-group parquet file = ONE task) runs its
    * map-side stages serially; at cluster scale a large table scans as far
    * more splits than cores, the condition is false, and this is a no-op —
    * the shuffle exists exactly when parallelism is starved, never on the
    * scale path.
    *
    * Opt-in per pipeline, NOT default: measured at sf0.1, it pays only
    * where the per-row compute after the explode is heavy (the MinHash
    * signature build — k md5s per shingle — went 1.23 → 0.60 s, and the
    * banding query sharing the signature table 1.55 → 0.77 s), and LOSES
    * where the explode feeds a cheap aggregate or a join (the extra
    * shuffle plus the partition-count planning pass cost top_tokens
    * 0.19 → 0.50 s, ngram_jaccard_dups 1.57 → 2.35 s). Parallelism is
    * bought with a shuffle; only CPU-heavy stages repay it.
    */
  private[ops] def ensureParallelism(df: DataFrame,
                                     rangeKey: String = "doc_id"): DataFrame =
    graft.Tables.spread(df, col(rangeKey))

  /** A small English stopword list (intersects the corpus vocabulary). */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "on", "for", "with", "is")

  private def stopArray: Column = array(stopwords.map(lit): _*)

  /** Count of tokens that are stopwords (with multiplicity). */
  def stopwordHits(toks: Column): Column =
    size(filter(toks, t => array_contains(stopArray, t)))

  /** Language-ID heuristic: stopword-hit ratio over an n-gram-free signal
    * (whitespace tokens). `en` when the ratio clears the threshold.
    */
  def langId(text: Column, threshold: Double = 0.04): (Column, Column) = {
    val toks = tokens(text)
    val ratio = stopwordHits(toks).cast("double") / size(toks)
    (ratio, when(ratio >= threshold, lit("en")).otherwise(lit("und")))
  }

  /** Quality-score components: token count, distinct ratio, average token
    * length (exact: non-space chars / tokens), stopword ratio, and a bounded
    * composite score in [0,1].
    */
  def qualityColumns(text: Column): Map[String, Column] = {
    val toks = tokens(text)
    val nTok = size(toks)
    val nDistinct = size(array_distinct(toks))
    val nChars = length(regexp_replace(text, " ", ""))
    val stopHits = stopwordHits(toks)
    val distinctRatio = nDistinct.cast("double") / nTok
    val stopRatio = stopHits.cast("double") / nTok
    val avgLen = nChars.cast("double") / nTok
    val score = least(nTok.cast("double") / lit(100.0), lit(1.0)) * lit(0.4) +
      distinctRatio * lit(0.3) +
      least(stopRatio * lit(5.0), lit(1.0)) * lit(0.3)
    Map("n_tokens" -> nTok, "n_distinct" -> nDistinct, "avg_token_len" -> avgLen,
        "stopword_ratio" -> stopRatio, "quality_score" -> score)
  }

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars).
    */
  def tokenCounts(text: Column): (Column, Column) = {
    val ws = size(tokens(text))
    val bpe = size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
    (ws, bpe)
  }

  /** Word n-gram shingles over a *staged* tokens column. The tokens argument
    * must be a bound attribute (a real column from a prior projection), not
    * an inline `split(...)` expression: a lambda body re-evaluates its whole
    * subtree per element, so inlining the split makes shingling O(tokens²)
    * per document (observed 6× slowdown on the LSH pipeline at sf0.1).
    * Documents shorter than `n` tokens contribute their whole text as a
    * single shingle.
    */
  def shinglesOfTokens(toks: Column, text: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array(text))

  /** Shingle list as one codegen'd pass — the hot-path form
    * ([[org.apache.spark.sql.graft.WordShingles]]; [[shinglesOfTokens]]
    * above stays as the builtin-HOF semantics spec, pinned equal by
    * TextAnalysisSpec).
    */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.TextExpressions.wordShingles(text, n)

  /** Stage (doc_id, shingle) rows: one codegen'd shingle expression, one
    * explode. This is the entry to every shingle-based pipeline (Jaccard,
    * MinHash, fingerprints). `distinct` controls set (Jaccard/MinHash) vs
    * bag (fingerprint counts) semantics — deduping inside the expression
    * keeps the exploded row count down before it ever hits the pipeline.
    */
  def explodeShingles(docs: DataFrame, n: Int, textCol: String = "text",
                      distinct: Boolean = true,
                      spread: Boolean = false): DataFrame =
    (if (spread) ensureParallelism(docs) else docs).select(col("doc_id"),
      explode(org.apache.spark.sql.graft.TextExpressions
        .wordShingles(col(textCol), n, distinct)).as("g"))

  /** Fingerprint *table* (doc_id, n_shingles, fp_min, fp_max) — the
    * explode + aggregate twin of [[fingerprint]]: one codegen'd md5 per
    * shingle instead of an interpreted per-element lambda.
    */
  def fingerprintTable(docs: DataFrame, n: Int = 5): DataFrame =
    explodeShingles(docs, n, distinct = false, spread = true)
      .select(col("doc_id"), md5(col("g").cast("binary")).as("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           min(col("h")).as("fp_min"), max(col("h")).as("fp_max"))

  /** Document fingerprint (winnowing-lite rolling-hash analogue): the min and
    * max md5 over word 5-gram shingles. Lexicographic min over a uniform hash
    * is a valid MinHash — engine-portable because md5 hex is canonical.
    */
  def fingerprint(text: Column, n: Int = 5): Map[String, Column] = {
    val hashes = transform(shingles(text, n), g => md5(g.cast("binary")))
    Map("n_shingles" -> size(hashes),
        "fp_min" -> array_min(hashes),
        "fp_max" -> array_max(hashes))
  }

  /** UDTF analogue (SURVEY §2.10): explode to one row per token. */
  def explodeTokens(docs: DataFrame, textCol: String = "text",
                    spread: Boolean = false): DataFrame =
    (if (spread) ensureParallelism(docs) else docs)
      .select(col("doc_id"), explode(tokens(col(textCol))).as("token"))

  /** Gopher-style intra-document repetition metrics — the standard quality
    * gate for machine-generated/boilerplate text: fraction of duplicate
    * tokens, fraction of duplicate word bigrams, and the share of the
    * single most frequent bigram. All three are exact integer-count ratios
    * (one double division each — engine-portable bit-for-bit, so no
    * rounding). Shape: one explode + a two-level aggregate per n-gram
    * order; the second level is one row per (doc, gram) — the first
    * aggregate combines map-side, so the shuffle is bounded by distinct
    * (doc, gram) pairs, not token count.
    *
    * Returns (doc_id, n_tokens, dup_token_frac, dup_2gram_frac,
    * top_2gram_frac).
    */
  def repetitionScores(docs: DataFrame): DataFrame = {
    // ONE corpus text pass for BOTH gram orders (round 14): the former
    // per-order explode+aggregate branches parsed the text twice and
    // joined on doc_id; a tagged explode emits (order, gram) rows in one
    // pass and the per-order stats separate as conditional aggregates —
    // same gram multisets (identical WordShingles expressions, short-doc
    // fallback included), so every count is bit-identical; the not-null
    // filter mirrors the old inner join (a doc reports iff it produced
    // ≥ 1 gram of each order). Shuffled rows are unchanged (the union of
    // both orders' (doc, gram) pairs, now tagged with one byte-wide int).
    def tagged(n: Int) = transform(
      org.apache.spark.sql.graft.TextExpressions
        .wordShingles(col("text"), n),
      g => struct(lit(n).as("o"), g.as("g")))
    ensureParallelism(docs)
      .select(col("doc_id"), explode(concat(tagged(1), tagged(2))).as("t"))
      .select(col("doc_id"), col("t.o").as("o"), col("t.g").as("g"))
      .groupBy(col("doc_id"), col("o"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("o") === 1, col("c"))).as("tok_total"),
           count(when(col("o") === 1, true)).as("tok_distinct"),
           sum(when(col("o") === 2, col("c"))).as("big_total"),
           count(when(col("o") === 2, true)).as("big_distinct"),
           max(when(col("o") === 2, col("c"))).as("big_top"))
      .filter(col("tok_total").isNotNull && col("big_total").isNotNull)
      .select(col("doc_id"),
              col("tok_total").as("n_tokens"),
              (lit(1.0) - col("tok_distinct").cast("double") / col("tok_total"))
                .as("dup_token_frac"),
              (lit(1.0) - col("big_distinct").cast("double") / col("big_total"))
                .as("dup_2gram_frac"),
              (col("big_top").cast("double") / col("big_total"))
                .as("top_2gram_frac"))
  }

  /** Shannon entropy of each document's token distribution, in integer
    * micro-nats — the diversity complement to [[repetitionScores]] (low
    * entropy = templated/repetitive text; the standard cut alongside the
    * Gopher fractions). Engine-portable by the integer-units trick: each
    * token type contributes round((c/n)·ln(n/c)·10⁶) as a BIGINT and the
    * per-doc value is the *integer* sum — order-independent, so parallel
    * aggregation can't drift, and the micro-nat rounding absorbs any
    * last-ulp disagreement between `ln` implementations (the same tolerance
    * argument as the rounded-cosine oracles; c/n and n/c themselves are
    * IEEE-exact divisions).
    *
    * Shape: one explode → (doc, token) count aggregate (map-side combine;
    * shuffle bounded by distinct pairs) → window total per doc (one
    * exchange on doc_id) → final sum already co-partitioned. Returns
    * (doc_id, n_tokens, n_types, entropy_unats).
    */
  /** Top-k adjacent-token-pair frequencies — the first iteration of BPE
    * merge selection (tokenizer training over the corpus starts by counting
    * adjacent pairs and merging the most frequent). Deterministic total
    * order: count desc, pair asc, so the k-boundary tie is pinned. One
    * explode + one hash-aggregate; the top-k is a TakeOrdered (per-partition
    * heads, single reduce) — no full sort of the pair space at any scale.
    * Word-level pairs here; a byte/char-level tokenizer would explode
    * characters instead, same plan.
    */
  def bpeMergeCandidates(docs: DataFrame, k: Int,
                         textCol: String = "text"): DataFrame =
    explodeShingles(docs, 2, textCol, distinct = false, spread = true)
      .groupBy(col("g").as("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)

  def tokenEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = explodeTokens(docs, textCol, spread = true)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val withN = counts.withColumn("n",
      sum(col("c")).over(Window.partitionBy("doc_id")))
    withN.groupBy("doc_id")
      .agg(max(col("n")).as("n_tokens"),
           count(lit(1)).as("n_types"),
           sum(round((col("c").cast("double") / col("n"))
                 * log(col("n").cast("double") / col("c")) * 1e6)
             .cast("long")).as("entropy_unats"))
  }

  /** CCNet-style corpus-LM quality score: fit a unigram language model on
    * the corpus itself (pass 1), then score every document by its mean
    * per-token negative log-likelihood under that model (pass 2) — the
    * standard perplexity filter of web-scale curation, where low-NLL
    * documents look like the corpus head and high-NLL documents are
    * gibberish/outliers. The LM is the top-`vocabSize` tokens by frequency
    * (ties pinned by token asc — the k-boundary is deterministic, same
    * discipline as [[bpeMergeCandidates]]); out-of-vocabulary tokens score
    * at the corpus floor p = 1/N.
    *
    * Scale shape — exactly two corpus passes, the minimum for fit+score:
    * pass 1 is one explode + hash-aggregate whose shuffle is bounded by
    * DISTINCT tokens (vocabulary, not corpus), materialized once
    * (localCheckpoint — vocab-sized) and read twice by two driver-tiny
    * reductions (total N, top-V head); pass 2 is scan-shaped — the fitted
    * head rides in the plan as a literal token→NLL map (the
    * [[graft.ops.Similarity]] argmaxAssign / SignLshBuckets pattern: small
    * reference data as plan literals, the corpus touched once, nothing
    * broadcast and nothing shuffled but the final per-doc aggregate). NLLs
    * are integer micro-nats (round(ln(N/c)·10⁶)) so per-doc sums are exact
    * BIGINT arithmetic — order-independent and engine-portable, the same
    * tolerance class as [[tokenEntropy]]; the mean surfaces as one double
    * division of two exact integers.
    *
    * Returns (doc_id, n_tokens, n_oov, nll_unats, mean_nll_unats).
    */
  /** GPT-3-style model-based quality filter: a multinomial Naive Bayes
    * log-odds classifier fit on the corpus itself. The reference class is
    * the documents whose `lang` equals `refLang` (the stand-in for "looks
    * like the curated corpus" — WebText in GPT-3's filter, Wikipedia in
    * CCNet's); background is everything else. Every document is then scored
    * by Σ_tokens [ln p(t|ref) − ln p(t|bg)] with Laplace-smoothed
    * per-class unigram likelihoods over the top-`vocabSize` vocabulary —
    * positive = looks like the reference class.
    *
    * Same two-pass shape as [[unigramNll]] (fit is one vocab-bounded
    * aggregate materialized once; scoring is scan-shaped with the weights
    * as a literal token→weight map) and the same integer micro-nat
    * portability discipline — with one extra wrinkle: log-odds weights are
    * SIGNED, and Java's `Math.round` (half-up) disagrees with SQL `round`
    * (half away from zero) at exact .5 boundaries for negatives. Each
    * weight is therefore a DIFFERENCE of two non-negative rounded terms,
    *   w(t) = round(ln((N_bg+V)/(c_bg+1))·10⁶) − round(ln((N_ref+V)/(c_ref+1))·10⁶),
    * where both arguments are ≥ 1 by construction — half-up and
    * half-away agree on non-negatives, so the twin can mirror the
    * arithmetic exactly.
    *
    * Returns (doc_id, lang, n_tokens, logodds_unats, mean_logodds_unats).
    */
  def nbClassifierScores(docs: DataFrame, refLang: String = "en",
                         vocabSize: Int = 50,
                         textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
                           explode(tokens(col(textCol))).as("token"))
    // fit pass: per-class counts, one materialization (three driver-tiny
    // consumers: class totals, vocab head) — the unigramNll barrier
    val counts = toks.groupBy(col("token"))
      .agg(sum(when(col("lang") === refLang, 1L).otherwise(0L)).as("cr"),
           sum(when(col("lang") =!= refLang, 1L).otherwise(0L)).as("cb"),
           count(lit(1)).as("ct"))
      .localCheckpoint()
    val totals = counts.agg(sum(col("cr")), sum(col("cb"))).head()
    val (nRef, nBg) = (totals.getLong(0), totals.getLong(1))
    val vocab = counts.orderBy(col("ct").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), col("cr"), col("cb")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def unats(n: Long, c: Long): Long =
      math.round(math.log((n + vocabSize).toDouble / (c + 1.0)) * 1e6)
    def weight(cr: Long, cb: Long): Long = unats(nBg, cb) - unats(nRef, cr)
    val wMap = vocab.map { case (t, cr, cb) => t -> weight(cr, cb) }.toMap
    val oovW = weight(0L, 0L)
    // score pass: literal-map lookup, no join — the only exchange is the
    // per-doc aggregate
    val w = coalesce(element_at(typedLit(wMap), col("token")), lit(oovW))
    toks.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(w).as("logodds_unats"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("logodds_unats"),
              (col("logodds_unats").cast("double") / col("n_tokens"))
                .as("mean_logodds_unats"))
  }

  /** Classifier reliability bins (the ECE-style calibration audit): docs
    * bucketed into `bins` score quantiles of the NB classifier's
    * per-token log-odds, each bin reporting the ACTUAL reference-class
    * rate next to the MEAN PREDICTED probability (sigmoid of the score)
    * and their gap — the "is the filter's confidence meaningful" check a
    * pipeline runs before using classifier scores as sampling weights
    * (DSIR, curriculum) rather than as a mere ranking.
    *
    * Determinism: bin cuts are exact-percentile literals (the
    * [[graft.ops.Curation.curriculumPhases]] convention — Spark
    * `percentile` and DuckDB `quantile_cont` share the interpolation
    * formula, rounded to 6 before use); per-doc probabilities are
    * rounded to integer micro-units BEFORE the sum so bin confidence is
    * an exact BIGINT aggregate, not a partition-order-dependent double Σ.
    * Scale shape: one driver-bounded quantile aggregate (≤ bins−1
    * doubles), then a single map-side bracket + groupBy over `bins` keys.
    */
  def reliabilityBins(scored: DataFrame, refLang: String = "en",
                      bins: Int = 4): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val bin = scoreBinBracket(scored, bins)
    val pMicro = round(lit(1e6) /
        (lit(1.0) + exp(-col("mean_logodds_unats") / lit(1e6))))
      .cast("long")
    val n = col("n_docs").cast("double")
    val acc = col("n_ref").cast("double") / n
    val conf = col("conf_micro_sum").cast("double") / n / lit(1e6)
    scored
      .select(bin.cast("int").as("bin"),
              (col("lang") === lit(refLang)).as("__r"), pMicro.as("__p"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("__r"), 1L).otherwise(0L)).as("n_ref"),
           sum(col("__p")).as("conf_micro_sum"))
      .select(col("bin"), col("n_docs"), col("n_ref"), col("conf_micro_sum"),
              round(acc, 6).as("ref_rate"),
              round(conf, 6).as("mean_conf"),
              round(abs(acc - conf), 6).as("calib_gap"))
      .orderBy(col("bin"))
  }

  /** Shared quantile-bin bracket over `mean_logodds_unats`: exact-
    * percentile literal cuts (rounded 6 before use — the
    * [[graft.ops.Curation.curriculumPhases]] parity with DuckDB
    * quantile_cont), returning the 1-based bin Column. head(1), not
    * head(): an empty input has no quantiles — placeholder cuts keep the
    * report a schema-correct 0-row frame instead of an NPE. Duplicate
    * adjacent cuts (low-cardinality scores) silently collapse bins, so
    * they are logged loudly.
    */
  private def scoreBinBracket(scored: DataFrame, bins: Int): Column = {
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val arr = expr(s"percentile(mean_logodds_unats, array(${qs.mkString(", ")}))")
    val cutRow = scored
      .select((0 until bins - 1).map(i => round(arr.getItem(i), 6).as(s"c$i")): _*)
      .head(1)
    val cuts: Seq[Double] =
      if (cutRow.isEmpty || cutRow.head.anyNull) Seq.fill(bins - 1)(0.0)
      else cutRow.head.toSeq.map(_.asInstanceOf[Double])
    if (cuts.distinct.size != cuts.size)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"scoreBinBracket: duplicate quantile cuts ${cuts.mkString(", ")} — " +
          s"fewer than $bins distinct bins will appear in the report")
    cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col("mean_logodds_unats") > lit(c), 1).otherwise(0)
    }
  }

  /** Murphy (1973) decomposition of the Brier score of the NB language
    * classifier: reliability − resolution + uncertainty over the same
    * quantile score bins as [[reliabilityBins]], next to the EXACT
    * unbinned Brier score — the one-row "is this filter's confidence
    * usable as a sampling weight" verdict (reliability ≈ 0 and
    * resolution ≫ 0 is what DSIR-style weighting actually requires; the
    * per-bin calib_gap view cannot say which side dominates).
    *
    *   BS    = (1/N) Σ (pᵢ − oᵢ)²            (exact: micro-prob ints,
    *                                          decimal accumulator)
    *   REL   = (1/N) Σₖ nₖ (p̄ₖ − ōₖ)²
    *   RES   = (1/N) Σₖ nₖ (ōₖ − ō)²
    *   UNC   = ō (1 − ō)
    *
    * Portability: per-doc probabilities are micro-unit BIGINTs before any
    * aggregate (the [[reliabilityBins]] rule), the squared-error sum
    * accumulates in decimal(38,0) (per-row (p−o·10⁶)² ≤ 10¹², corpus sums
    * pass 2⁶³ — HUGEINT twin), and the two bin sums are ASCENDING-BIN
    * LEFT FOLDS over the ≤bins-row array (the kaplan_meier list_reduce
    * mirror) — every double op happens in the same order on both engines,
    * rounding only in the final projection. One corpus aggregate; the
    * fold runs over `bins` rows.
    */
  def brierDecomposition(scored: DataFrame, refLang: String = "en",
                         bins: Int = 4): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val bin = scoreBinBracket(scored, bins)
    val pMicro = round(lit(1e6) /
        (lit(1.0) + exp(-col("mean_logodds_unats") / lit(1e6))))
      .cast("long")
    val perBin = scored
      .select(bin.cast("int").as("bin"),
              when(col("lang") === lit(refLang), 1L).otherwise(0L).as("__o"),
              pMicro.as("__p"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__o")).as("o"),
           sum(col("__p")).as("s"),
           sum(((col("__p") - col("__o") * lit(1000000L))
                 * (col("__p") - col("__o") * lit(1000000L)))
             .cast("decimal(38,0)")).as("sq"))
    val glob = perBin.agg(
      sort_array(collect_list(struct(col("bin"), col("n"), col("o"),
                                     col("s")))).as("a"),
      sum(col("n")).as("nt"), sum(col("o")).as("ot"),
      sum(col("sq")).as("sqt"))
    val ntD = col("nt").cast("double")
    val oBar = col("ot").cast("double") / ntD
    def fold(term: Column => Column): Column =
      aggregate(col("a"), lit(0.0), (acc, x) => acc + term(x))
    def f(x: Column, name: String): Column = x.getField(name).cast("double")
    val rel = fold(x => f(x, "n") *
        ((f(x, "s") / (f(x, "n") * lit(1e6)) - f(x, "o") / f(x, "n"))
          * (f(x, "s") / (f(x, "n") * lit(1e6)) - f(x, "o") / f(x, "n")))) / ntD
    val res = fold(x => f(x, "n") *
        ((f(x, "o") / f(x, "n") - oBar)
          * (f(x, "o") / f(x, "n") - oBar))) / ntD
    val unc = oBar * (lit(1.0) - oBar)
    glob.filter(col("nt").isNotNull).select(
      col("nt").as("n_docs"), col("ot").as("n_ref"),
      round(col("sqt").cast("double") / lit(1e12) / ntD, 6).as("brier_score"),
      round(rel, 6).as("reliability"),
      round(res, 6).as("resolution"),
      round(unc, 6).as("uncertainty"),
      round(rel - res + unc, 6).as("binned_brier"))
  }

  def unigramNll(docs: DataFrame, vocabSize: Int = 30,
                 textCol: String = "text"): DataFrame = {
    val toks = explodeTokens(docs, textCol)
    // Pass 1: vocabulary counts — the ONE materialization point (referenced
    // by both the total-N reduction and the top-V head; without the barrier
    // each re-runs the corpus explode).
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val n = counts.agg(sum(col("c"))).head().getLong(0)
    val head = counts.orderBy(col("c").desc, col("token").asc).limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    def unats(c: Long): Long = math.round(math.log(n.toDouble / c) * 1e6)
    val nllMap = head.map { case (t, c) => t -> unats(c) }.toMap
    val oovNll = unats(1L)
    // Pass 2: scan-shaped scoring — literal map lookup, no join, no
    // broadcast; the only exchange is the per-doc aggregate.
    val nll = coalesce(element_at(typedLit(nllMap), col("token")), lit(oovNll))
    val isOov = element_at(typedLit(nllMap), col("token")).isNull
    toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(isOov, 1L).otherwise(0L)).as("n_oov"),
           sum(nll).as("nll_unats"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("nll_unats"),
              (col("nll_unats").cast("double") / col("n_tokens"))
                .as("mean_nll_unats"))
  }

  /** Interpolated bigram LM perplexity — the KenLM-style upgrade of
    * [[unigramNll]] (real perplexity filters score under ≥2-gram models;
    * Jelinek-Mercer interpolation is the classic smoothing): every bigram
    * position scores −ln(λ·p(b|a) + (1−λ)·p(b)) with the MLE bigram and
    * unigram models fit on the corpus itself.
    *
    * Where [[unigramNll]]'s vocab head rides the plan as a literal map,
    * the bigram model is corpus-bounded — so here the model is a RELATION
    * and scoring is a join, the honest 100 TB shape for any LM too large
    * to broadcast: fit is two hash-aggregates (shuffle ∝ distinct
    * bigrams/unigrams), the conditional denominator reduces from the
    * distinct-bigram table (not the corpus), and the scoring pass joins
    * the corpus's bigram stream against the model on the gram key — one
    * co-partitioned exchange each, nothing quadratic. λ = 0.75 so both λ
    * and 1−λ are exact binary doubles; the mix is IEEE arithmetic on
    * exact-integer count ratios, and the per-position NLL pins as integer
    * micro-nats round(ln(1/mix)·10⁶) — 1/mix ≥ 1, so the value is
    * non-negative and Java/SQL rounding agree (the [[tokenEntropy]]
    * discipline). Docs with < 2 tokens have no bigram positions and are
    * excluded (the WordShingles short-doc fallback would otherwise
    * masquerade as a bigram).
    *
    * Returns (doc_id, n_bigrams, nll_unats, mean_nll_unats).
    */
  /** Collocation strength by pointwise mutual information — the phrase-
    * mining pass behind multiword vocabulary construction (Mikolov et al.
    * 2013's phrase detection scores exactly this association, with a count
    * discount): for every adjacent token pair (a,b) seen ≥ `minCount`
    * times,
    *
    *   PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) )
    *            = ln(c_ab·N·N) − ln(P·c_a·c_b),
    *
    * with N total tokens and P total bigram positions. The two-ln form is
    * deliberate: both arguments are products of positive counts ≥ 1, so
    * each term rounds to non-negative micro-nats where Java half-up and
    * SQL half-away agree (the [[nbClassifierScores]] signed-rounding
    * discipline), and each product is evaluated LEFT-ASSOCIATIVELY so the
    * twin reproduces bit-identical doubles even past 2^53 (same IEEE op
    * sequence ⇒ same result; the pq ADC convention).
    *
    * Scale shape: fit is two hash-aggregates (shuffle ∝ distinct
    * bigrams/unigrams — vocabulary-, not corpus-bounded); the minCount
    * filter prunes the pair table BEFORE its two marginal joins; output is
    * collocations ranked by association. Nothing touches the corpus after
    * the two counting passes.
    *
    * Returns (a, b, n_pair, pmi_unats) ordered strongest-first.
    */
  def collocationPmi(docs: DataFrame, minCount: Long = 5,
                     textCol: String = "text"): DataFrame = {
    val eligible = docs.filter(size(tokens(col(textCol))) >= 2)
    val bi = explodeShingles(eligible, 2, textCol, distinct = false,
                             spread = true)
    val c2 = bi.groupBy(col("g")).agg(count(lit(1)).as("n_pair"))
      .localCheckpoint() // two consumers: P total + the filtered pair table
    val uni = explodeTokens(docs, textCol)
      .groupBy(col("token")).agg(count(lit(1)).as("n_tok"))
      .localCheckpoint() // three consumers: N total + both marginal joins
    val nTok = uni.agg(sum(col("n_tok"))).head().getLong(0)
    val nPair = c2.agg(sum(col("n_pair"))).head().getLong(0)
    val pairs = c2.filter(col("n_pair") >= minCount)
      .withColumn("a", element_at(split(col("g"), " "), 1))
      .withColumn("b", element_at(split(col("g"), " "), 2))
      .join(uni.select(col("token").as("a"), col("n_tok").as("ca")), Seq("a"))
      .join(uni.select(col("token").as("b"), col("n_tok").as("cb")), Seq("b"))
    val num = col("n_pair").cast("double") * lit(nTok.toDouble) * lit(nTok.toDouble)
    val den = lit(nPair.toDouble) * col("ca") * col("cb")
    pairs.select(col("a"), col("b"), col("n_pair"),
        (round(log(num) * lit(1e6)).cast("long") -
         round(log(den) * lit(1e6)).cast("long")).as("pmi_unats"))
      .orderBy(col("pmi_unats").desc, col("a"), col("b"))
  }

  def bigramNll(docs: DataFrame, lambda: Double = 0.75,
                textCol: String = "text"): DataFrame = {
    val eligible = docs.filter(size(tokens(col(textCol))) >= 2)
    val bi = explodeShingles(eligible, 2, textCol, distinct = false,
                             spread = true)
    // fit: distinct-bigram counts (the model), first-token totals reduced
    // from the model table, unigram counts over the FULL corpus
    val c2 = bi.groupBy(col("g")).agg(count(lit(1)).as("n2"))
      .localCheckpoint() // two consumers: denominator reduce + score join
    val cFirst = c2
      .groupBy(element_at(split(col("g"), " "), 1).as("a"))
      .agg(sum(col("n2")).as("na"))
    val uni = explodeTokens(docs, textCol)
      .groupBy(col("token")).agg(count(lit(1)).as("n1"))
      .localCheckpoint() // two consumers: total-N reduce + score join
    val n = uni.agg(sum(col("n1"))).head().getLong(0)
    // score: corpus bigram stream ⋈ model on gram key, then the first-token
    // and last-token marginals
    val mix = lit(lambda) * (col("n2").cast("double") / col("na")) +
      lit(1.0 - lambda) * (col("n1").cast("double") / lit(n.toDouble))
    bi.join(c2, Seq("g"))
      .withColumn("a", element_at(split(col("g"), " "), 1))
      .withColumn("b", element_at(split(col("g"), " "), 2))
      .join(cFirst, Seq("a"))
      .join(uni.withColumnRenamed("token", "b"), Seq("b"))
      .select(col("doc_id"),
              round(log(lit(1.0) / mix) * lit(1e6)).cast("long").as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_unats"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_unats"),
              (col("nll_unats").cast("double") / col("n_bigrams"))
                .as("mean_nll_unats"))
  }

  /** Heaps'-law vocabulary-growth audit: distinct-token count and
    * type/token ratio at `deciles` corpus prefixes (by doc_id order) — the
    * curve that tells a corpus builder whether more data still buys new
    * vocabulary or only repeats it (sub-linear growth V ≈ K·Nᵝ is the
    * healthy shape; a flat curve means saturation, a linear one suggests
    * noise/IDs flooding the vocabulary).
    *
    * Everything is integer-exact: prefix membership is `first_doc ≤
    * threshold` where first_doc = MIN(doc_id) over the token's postings —
    * computable in one vocab-bounded aggregate, no re-scan per prefix.
    * The per-decile counts join the TINY side (vocab × deciles and
    * doc-counts × deciles) — the corpus is scanned once.
    *
    * Emits one row per decile: (decile, doc_threshold, n_tokens_seen,
    * vocab_size, type_token_ratio).
    */
  def vocabGrowthCurve(docs: DataFrame, deciles: Int = 10): DataFrame = {
    require(deciles >= 1, s"need deciles >= 1, got $deciles")
    // Round-13 surgery: the two-sided shape (inv + docTok, both fed by one
    // explodeTokens relation) re-ran the token explode PER CONSUMER and
    // built the threshold grid twice more (4 corpus scans in the audited
    // final plan). Restructured as three driver-chained single-row jobs —
    // the curriculumPhases collect-a-scalar precedent:
    //   1. max(doc_id) on a column-pruned scan → the `deciles` thresholds
    //      become literals;
    //   2. the ONE remaining explode → first-owner index → `deciles`
    //      conditional counts (vocab_size per prefix);
    //   3. a map-side nt = size(split(text)) pass (≡ the exploded per-doc
    //      token count: explode emits one row per element, so COUNT(*) per
    //      doc IS size(); NULL text explodes to zero rows, hence the
    //      isNotNull mirror) → `deciles` conditional sums + doc counters.
    // A decile row exists in the old inner-join form iff a non-NULL-text
    // doc has doc_id ≤ t (its tokens then give fd ≤ t, and conversely any
    // fd ≤ t is such a doc's) — mirrored by the n-docs counter guard.
    // Integer-exact throughout; the one double (type/token ratio) rounds
    // HALF_UP at 6 exactly as round(_, 6).
    val idType = docs.schema("doc_id").dataType
    if (idType == org.apache.spark.sql.types.LongType) {
      val mxRow = docs.agg(max(col("doc_id")).as("mx")).head()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("decile",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("doc_threshold",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_tokens_seen",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("vocab_size",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("type_token_ratio",
          org.apache.spark.sql.types.DoubleType)))
      import scala.jdk.CollectionConverters._
      def local(rows: Seq[org.apache.spark.sql.Row]) =
        docs.sparkSession.createDataFrame(rows.toList.asJava, schema)
      if (mxRow.isNullAt(0)) return local(Seq.empty)
      val mx = mxRow.getLong(0)
      val th: Seq[(Long, Long)] =
        (1 to deciles).map(i => i.toLong -> i.toLong * mx / deciles)
      val vocCols = th.map { case (d, t) =>
        sum(when(col("fd") <= lit(t), 1L).otherwise(0L)).as(s"v$d")
      }
      val vocRow = explodeTokens(docs)
        .groupBy(col("token")).agg(min(col("doc_id")).as("fd"))
        .agg(vocCols.head, vocCols.tail: _*).head()
      val seenCols = th.flatMap { case (d, t) =>
        Seq(sum(when(col("doc_id") <= lit(t), col("nt")).otherwise(0L))
              .as(s"s$d"),
            sum(when(col("doc_id") <= lit(t), 1L).otherwise(0L))
              .as(s"c$d"))
      }
      val seenRow = docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
                size(split(col("text"), " ")).cast("long").as("nt"))
        .agg(seenCols.head, seenCols.tail: _*).head()
      val out = th.zipWithIndex.collect {
        case ((d, t), i) if !seenRow.isNullAt(2 * i + 1) &&
            seenRow.getLong(2 * i + 1) > 0L =>
          val nTok = seenRow.getLong(2 * i)
          val v = vocRow.getLong(i)
          org.apache.spark.sql.Row(d, t, nTok, v,
            DriverTail.round6(v.toDouble / nTok.toDouble))
      }
      return local(out)
    }
    val toks = explodeTokens(docs)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val th = mx.select(explode(sequence(lit(1L), lit(deciles.toLong))).as("decile"),
                       col("mx"))
      .select(col("decile"), expr(s"(decile * mx) div $deciles").as("t"))
    val inv = toks.groupBy(col("token")).agg(min(col("doc_id")).as("fd"))
    val docTok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val seen = docTok.join(broadcast(th), col("doc_id") <= col("t"))
      .groupBy(col("decile"), col("t"))
      .agg(sum(col("nt")).as("n_tokens_seen"))
    val voc = inv.join(broadcast(th), col("fd") <= col("t"))
      .groupBy(col("decile")).agg(count(lit(1)).as("vocab_size"))
    seen.join(voc, Seq("decile"))
      .select(col("decile"), col("t").as("doc_threshold"),
              col("n_tokens_seen"), col("vocab_size"),
              round(col("vocab_size").cast("double") / col("n_tokens_seen"), 6)
                .as("type_token_ratio"))
      .orderBy(col("decile"))
  }

  /** First-owner n-gram novelty: the fraction of a document's distinct
    * n-gram shingles that no earlier document (by doc_id) contains — a
    * memorization/curriculum signal (near-zero novelty = the doc restates
    * the corpus; high novelty = new material) and the per-doc face of the
    * same first-owner index the vocabulary curve uses.
    *
    * One inverted-index pass: distinct (doc, shingle) postings, MIN(doc_id)
    * per shingle as its first owner, then a postings-bounded equi-join
    * back — a shingle is novel FOR ITS FIRST OWNER only. md5-hashed
    * shingle keys move 16-byte fixed keys through both shuffles; counts
    * are collision-exact for any corpus whose distinct-shingle count keeps
    * d²·2⁻¹²⁹ negligible (i.e. all of them).
    *
    * Emits (doc_id, n_shingles, n_novel, novelty) per document.
    */
  def ngramNoveltyScores(docs: DataFrame, n: Int = 3): DataFrame = {
    val posts = explodeShingles(docs, n, spread = true)
      .select(col("doc_id"), md5(col("g").cast("binary")).as("h"))
    val owners = posts.groupBy(col("h")).agg(min(col("doc_id")).as("fd"))
    posts.join(owners, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
              round(col("n_novel").cast("double") / col("n_shingles"), 6)
                .as("novelty"))
  }

  /** Zipf rank–frequency fit: OLS of ln(frequency) on ln(rank) over the
    * top-`topV` vocabulary head — the log-log slope (≈ −1 for natural
    * language, Zipf 1949) and fit quality r². The corpus-level companion
    * to [[vocabGrowthCurve]]'s Heaps law: together they are the standard
    * two-line health check that a text mixture still looks like language
    * after dedup/filter passes (a slope drifting toward 0 flags
    * boilerplate flooding; toward −2, over-aggressive head dedup).
    *
    * One explode + vocabulary-bounded hash-aggregate (the [[tfidfTerms]]
    * shuffle shape), then a TakeOrdered head of `topV` rows by the pinned
    * total order (count desc, token asc — the k-boundary tie is
    * deterministic), then a single-row regression over that head.
    * Engine-portable by the micro-nat discipline: x = round(ln(rank)·10⁶)
    * and y = round(ln(c)·10⁶) are BIGINTs (the 10⁻⁶ rounding absorbs libm
    * ulp disagreement), all five moment sums accumulate exactly
    * (|Σxy| ≤ topV·(15·10⁶)² ≈ 2·10¹⁸ at topV = 10⁴ — document larger
    * heads before raising), and slope/r² are computed in the final
    * single-row projection as IEEE double ops on identical operands.
    *
    * Emits one row: (n_terms, slope, intercept_unats, r2) — slope in
    * nats-per-nat rounded to 6, intercept in integer-ish micro-nats
    * rounded to 6 (the ln-frequency at rank 1 under the fit).
    */
  def zipfRankSlope(docs: DataFrame, topV: Int = 1000,
                    textCol: String = "text"): DataFrame = {
    val head = explodeTokens(docs, textCol, spread = true)
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc)
      .limit(topV)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("token").asc)))
    val pts = head.select(
      round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
      round(log(col("c").cast("double")) * 1e6).cast("long").as("y"))
    pts.agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sx2"),
            sum(col("y") * col("y")).as("sy2"))
      .select({
          val n = col("n").cast("double")
          val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
          val cov = n * col("sxy").cast("double") - sx * sy
          val vx = n * col("sx2").cast("double") - sx * sx
          val vy = n * col("sy2").cast("double") - sy * sy
          Seq(col("n").as("n_terms"),
              round(cov / vx, 6).as("slope"),
              round((sy - (cov / vx) * sx) / n, 6).as("intercept_unats"),
              round((cov / vx) * (cov / vy), 6).as("r2"))
        }: _*)
  }

  /** Per-source token-count distribution: doc count, total/mean tokens,
    * and exact p50/p90 token-length percentiles — the corpus-shape audit
    * behind packing (`pack_sequences` bin sizing) and mixture decisions.
    * One map-side token count + one group aggregate; the percentile is
    * Spark's exact `percentile` (≡ DuckDB `quantile_cont`), per group, no
    * driver round-trip.
    */
  def sourceTokenStats(docs: DataFrame): DataFrame =
    docs.select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("nt")).as("total_tokens"),
           round(avg(col("nt")), 6).as("mean_tokens"),
           round(expr("percentile(nt, 0.5)"), 6).as("p50_tokens"),
           round(expr("percentile(nt, 0.9)"), 6).as("p90_tokens"))

  /** Per-source language-mix entropy: how diverse is each source's
    * language distribution (0 = monolingual, ln(n_langs) = uniform) —
    * the corpus-mix audit behind mixture/curriculum decisions (a source
    * whose mix collapsed between snapshots usually means an upstream
    * crawl or filter change). Micro-nat discipline: each language's
    * −p·ln(p) term rounds to integer micro-nats BEFORE the per-source
    * sum (exact BIGINT aggregate). One (source, lang) aggregate + a
    * source-partitioned share window over ≤ sources×langs rows.
    */
  def sourceMixEntropy(docs: DataFrame): DataFrame = {
    val byLang = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val p = col("c").cast("double") / sum(col("c")).over(w)
    val term = round(-p * log(p) * lit(1e6)).cast("long")
    byLang.withColumn("term", term)
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
           count(lit(1)).as("n_langs"),
           sum(col("term")).as("entropy_micronats"))
      .select(col("source"), col("n_docs"), col("n_langs"),
              col("entropy_micronats"),
              round(col("entropy_micronats") / lit(1e6), 6).as("entropy_nats"))
  }

  /** Mutual information between the corpus's language and source labels —
    * the second-order companion to [[sourceMixEntropy]]: entropy says how
    * mixed each source is, MI says how much knowing the source TELLS YOU
    * about the language (0 = the mix is identical everywhere; high = the
    * sources are de-facto language shards, and any source-stratified
    * sample is silently language-stratified too — the confound a mixture
    * designer needs surfaced). I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))),
    * accumulated in the [[sourceMixEntropy]] micro-nat convention: each
    * cell term is one fixed double tree on exact BIGINT counts,
    * micro-rounded, then exactly summed — engine-identical.
    *
    * Shape: ONE corpus aggregate to the ≤|langs|·|sources| cell grid;
    * marginals ride window sums over the bounded grid (never a second
    * corpus scan). MI of two label columns at 100 TB costs one map-side
    * partial count.
    */
  def langSourceMi(docs: DataFrame): DataFrame = {
    val cells = docs
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
    val wx = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val wy = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val g = cells
      .withColumn("cx", sum(col("c")).over(wx))
      .withColumn("cy", sum(col("c")).over(wy))
      .withColumn("n", sum(col("c")).over(wAll))
    val p = col("c").cast("double") / col("n").cast("double")
    val r = (col("n").cast("double") * col("c").cast("double")) /
            (col("cx").cast("double") * col("cy").cast("double"))
    g.withColumn("term", round(p * log(r) * lit(1e6)).cast("long"))
      .agg(max(col("n")).as("n_docs"),
           count(lit(1)).as("n_cells"),
           sum(col("term")).as("mi_micronats"))
      .select(col("n_docs"), col("n_cells"), col("mi_micronats"),
              round(col("mi_micronats") / lit(1e6), 6).as("mi_nats"))
  }

  /** Good–Turing frequency-of-frequencies estimate (Good 1953) over the
    * corpus token distribution — the "how much probability mass belongs to
    * tokens we have NOT seen yet" estimator behind vocabulary-coverage
    * planning (P(unseen) = n₁/N, the singleton mass) and count smoothing
    * (r* = (r+1)·n_{r+1}/n_r discounts every low count toward the unseen
    * reserve). A training-data pipeline reads this before trusting token
    * statistics from a corpus slice: a fat singleton mass says the slice
    * undersamples its own tail.
    *
    * Exactness: token counts and the count-of-counts table are exact
    * BIGINTs; r* is half-up integer micro-division (headroom
    * (r+1)·n_{r+1}·2·10⁶ < 2⁶³ holds to ~4·10¹² singleton vocabularies),
    * and each count level's mass r·n_r/N is one mirrored double chain
    * micro-rounded. Shape: one corpus token aggregate, then a
    * count-of-counts aggregate whose size is bounded by √(2N) distinct
    * count values; the r+1 lookup is a self equi-join on that bounded
    * table (checkpointed — two consumers, zero corpus re-scans). The
    * report keeps the `maxLevels` LOWEST observed count levels (a rank
    * bracket, not `r ≤ k` — a corpus whose rarest token appears 50 times
    * still reports its tail structure instead of an empty frame).
    */
  def goodTuringMass(docs: DataFrame, maxLevels: Int = 8): DataFrame = {
    require(maxLevels >= 1, s"maxLevels must be >= 1: $maxLevels")
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val fof = counts.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
      .localCheckpoint()
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    fof
      .withColumn("n_tokens", sum(col("r") * col("n_r")).over(wAll))
      .withColumn("vocab", sum(col("n_r")).over(wAll))
      .withColumn("lvl", row_number().over(Window.orderBy(col("r"))).cast("long"))
      .join(fof.select((col("r") - 1L).as("r"), col("n_r").as("n_next")),
            Seq("r"), "left")
      .filter(col("lvl") <= maxLevels)
      .select(col("r"), col("n_r"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        col("n_tokens"), col("vocab"))
      .withColumn("r_star_micro",
        expr("((r + 1) * n_next * 2000000 + n_r) div (2 * n_r)"))
      .withColumn("mass_micro",
        round((col("r") * col("n_r")).cast("double")
          / col("n_tokens").cast("double") * lit(1e6)).cast("long"))
      .orderBy(col("r"))
  }

  /** Chao1 richness estimate (Chao 1984) of the corpus vocabulary — how
    * many distinct tokens the corpus WOULD show at exhaustive sampling:
    * Ŝ = S_obs + n₁²/(2·n₂), with the bias-corrected
    * n₁(n₁−1)/(2(n₂+1)) form emitted alongside (defined even when no
    * doubletons exist). The coverage companion to [[goodTuringMass]]:
    * Good–Turing prices the unseen MASS, Chao1 counts the unseen TYPES —
    * together they answer "how much more corpus until vocabulary
    * saturates". Exact BIGINT counts from the same count-of-counts
    * aggregate; each estimator is one mirrored double chain rounded once.
    */
  def chao1VocabEstimate(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    counts.agg(
      count(lit(1)).as("vocab"),
      sum(col("c")).as("n_tokens"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
      .select(col("vocab"), col("n_tokens"), col("n1"), col("n2"),
        when(col("n2") > 0L,
          round(col("vocab") + col("n1").cast("double") * col("n1").cast("double")
            / (lit(2.0) * col("n2").cast("double")), 6)).as("chao1"),
        round(col("vocab") + col("n1").cast("double")
            * (col("n1") - 1L).cast("double")
          / (lit(2.0) * (col("n2") + 1L).cast("double")), 6).as("chao1_bc"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the `n_chars`
    * distributions of two sources — the distribution-drift screen behind
    * "did this crawl slice change shape" (mean/percentile rows see location
    * moves; KS sees ANY shape move, with a distribution-free null). The
    * supremum D = max|F_a(x) − F_b(x)| is located by pure INTEGER
    * cross-multiplication — |cum_a·n_b − cum_b·n_a| over the merged value
    * grid, exact BIGINTs (≤ n_a·n_b ≈ 10¹⁸ at 10⁹ docs/source — inside
    * 2⁶³ for any same-corpus pair of sources; past it the [[graft.ops.Stats.pearsonOlsFixed]]
    * wide-int rule applies) — and only the final D is one mirrored
    * division. The critical-value scaling √((n_a+n_b)/(n_a·n_b)) is
    * emitted as ks_scaled = D/√(…) for threshold reads.
    *
    * Shape: one partial+final count aggregate to the ≤|distinct values|
    * grid, two window cumsums over the bounded grid, one argmax row. The
    * corpus is scanned once.
    */
  def ksSourceDrift(docs: DataFrame, srcA: String, srcB: String): DataFrame = {
    val wv = Window.orderBy(col("v"))
    val grid = docs.filter(col("source").isin(srcA, srcB))
      .groupBy(col("n_chars").cast("long").as("v"))
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("a"),
           sum(when(col("source") === srcB, 1L).otherwise(0L)).as("b"))
    val cum = grid
      .withColumn("ca", sum(col("a")).over(wv))
      .withColumn("cb", sum(col("b")).over(wv))
      .withColumn("na", sum(col("a")).over(
        wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("nb", sum(col("b")).over(
        wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("dnum", abs(col("ca") * col("nb") - col("cb") * col("na")))
    // A one-sided grid (either source empty) makes dnum/(na·nb) = 0/0:
    // surface NULL, not a silent NaN — the degenerate case is loud in the
    // schema (mirrored in the twin's CASE WHEN).
    val bothSided = col("na") > 0L && col("nb") > 0L
    cum.orderBy(col("dnum").desc, col("v")).limit(1)
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("v").as("d_at_value"), col("dnum").as("d_numerator"),
        when(bothSided, round(col("dnum").cast("double")
          / (col("na").cast("double") * col("nb").cast("double")), 6)).as("ks_d"),
        when(bothSided, round((col("dnum").cast("double")
            / (col("na").cast("double") * col("nb").cast("double")))
          / sqrt((col("na") + col("nb")).cast("double")
                 / (col("na").cast("double") * col("nb").cast("double"))), 6))
          .as("ks_scaled"))
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) distance between the `n_chars`
    * distributions of two sources — the drift metric that, unlike
    * [[ksSourceDrift]]'s supremum, integrates HOW FAR mass moved: for 1-D
    * distributions W₁ = ∫|F_a − F_b| dx, the area between the empirical
    * CDFs. On the merged value grid that is Σᵢ |F_a(vᵢ) − F_b(vᵢ)| ·
    * (vᵢ₊₁ − vᵢ), every term an exact integer: the CDF gap cross-
    * multiplies as |ca·nb − cb·na| (the [[ksSourceDrift]] contract —
    * BIGINT to ~10⁹ docs/source), the gap-width product promotes to
    * decimal(38,0) BEFORE the value-grid accumulation (the area sum is
    * the one quantity that outgrows 2⁶³ — HUGEINT on the twin), and one
    * mirrored double division by na·nb lands the distance. Shape: one
    * corpus aggregate to the ≤|distinct values| grid, two window cumsums
    * and a lead over the bounded grid, a 1-row report. A single-point
    * grid (every doc the same n_chars) is W₁ = 0 with valid n_a/n_b —
    * the last grid row's lead gap coalesces to 0 so it contributes zero
    * area instead of being filtered away (which used to empty the
    * report); only a grid with NO rows for either source yields 0 rows.
    */
  def wassersteinSourceDrift(docs: DataFrame, srcA: String,
                             srcB: String): DataFrame = {
    val wv = Window.orderBy(col("v"))
    val grid = docs.filter(col("source").isin(srcA, srcB))
      .groupBy(col("n_chars").cast("long").as("v"))
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("a"),
           sum(when(col("source") === srcB, 1L).otherwise(0L)).as("b"))
    val cum = grid
      .withColumn("ca", sum(col("a")).over(wv))
      .withColumn("cb", sum(col("b")).over(wv))
      .withColumn("na", sum(col("a")).over(
        wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("nb", sum(col("b")).over(
        wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("gap", coalesce(lead(col("v"), 1).over(wv) - col("v"), lit(0L)))
    val bothSided = col("n_a") > 0L && col("n_b") > 0L
    cum
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
           count(lit(1)).as("grid_points"),
           sum((abs(col("ca") * col("nb") - col("cb") * col("na")))
                 .cast("decimal(38,0)") * col("gap")).as("area"))
      .select(col("n_a"), col("n_b"), col("grid_points"),
        when(bothSided.and(col("area").isNotNull),
          round(col("area").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double")), 6))
          .as("w1_distance"))
      .filter(col("n_a").isNotNull)
  }

  /** χ² keyness of tokens in one source vs the rest of the corpus (the
    * corpus-linguistics keyword statistic — Rayson & Garside 2000 use
    * log-likelihood, Pearson's χ² is the classic alternative): which
    * terms are most over/under-represented in `focusSource`, the "what
    * changed in this crawl slice" screen behind mixture debugging. Per
    * token, the 2×2 table (a = occurrences in focus, b = in rest, c/d =
    * the complements against the corpus token totals) scores
    * χ² = N(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)); `direction` is +1 where
    * the focus over-represents (a·tb > b·ta, integer cross-multiplication
    * — no rate division), −1 under, 0 balanced.
    *
    * Counts are exact BIGINTs from one token aggregate (map-side partial);
    * the 1-row totals broadcast back; χ² is a fixed double tree on exact
    * operands, rounded once at 6. Top-k by (χ², token) is TakeOrdered.
    */
  def keynessChi2(docs: DataFrame, focusSource: String, k: Int): DataFrame = {
    val counts = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("source") === focusSource, 1L).otherwise(0L)).as("a"),
           sum(when(col("source") =!= focusSource, 1L).otherwise(0L)).as("b"))
    val totals = counts.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    def d(c: Column) = c.cast("double")
    val (a, b, ta, tb) = (col("a"), col("b"), col("ta"), col("tb"))
    val (cc, dd) = (ta - a, tb - b)
    val n = d(ta) + d(tb)
    val num = n * (d(a) * d(dd) - d(b) * d(cc)) * (d(a) * d(dd) - d(b) * d(cc))
    val den = (d(a) + d(b)) * (d(cc) + d(dd)) * d(ta) * d(tb)
    counts.crossJoin(broadcast(totals))
      .select(col("token"), a, b,
        when(den === 0.0, lit(null)).otherwise(round(num / den, 6)).as("chi2"),
        when(a * tb > b * ta, 1).when(a * tb < b * ta, -1).otherwise(0)
          .as("direction"))
      .orderBy(col("chi2").desc, col("token"))
      .limit(k)
  }

  /** Confusion matrix of the [[langId]] heuristic against the labeled
    * `lang` column: per (actual, predicted) cell, the doc count and its
    * share within the actual language — the classifier-QA face of the
    * language gate (lang_id emits the per-doc predictions; this row says
    * whether the 4% stopword threshold actually separates the labeled
    * classes, per class).
    *
    * One map-side prediction + a ≤|langs|·2-cell aggregate; the per-lang
    * totals broadcast back onto the cells. Shares are exact integer
    * ratios rounded once at 6.
    */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val (_, predicted) = langId(col("text"))
    val cells = docs.select(col("lang"), predicted.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n_docs")).as("__t"))
    cells.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("predicted"), col("n_docs"),
              round(col("n_docs").cast("double") / col("__t"), 6)
                .as("share_of_lang"))
  }

  /** BM25 ranked retrieval (Robertson & Zaragoza 2009, Lucene idf variant):
    * score every document against a literal query-term set and return the
    * top-k — the lexical-retrieval baseline a curation pipeline runs next
    * to the embedding ANN (the hybrid-search pattern), and the relevance
    * scorer behind "find me training docs about X" audits.
    *
    * score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl)),
    * idf(t) = ln((N−df+0.5)/(df+0.5)+1).
    *
    * Determinism discipline: corpus stats (N, total tokens) and per-term
    * dfs are driver-bounded aggregates (1 row; ≤|terms| rows) turned into
    * LITERALS — idf in integer micro-units, so the scoring scan carries no
    * join at all; each (doc, term) contribution is micro-rounded BEFORE
    * the per-doc sum (the [[reliabilityBins]] pMicro convention — the
    * aggregate is an exact BIGINT sum, immune to partition order). Scale:
    * the exploded stream is FILTERED TO QUERY TERMS at the scan (the
    * shuffle is |matching postings|, not the corpus), one partial+final
    * per-doc aggregate, then a TakeOrdered top-k — no global sort.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    // empty corpus: count=0, sum=NULL — getLong would NPE; fall through
    // with placeholder stats so the scoring scan (over the same empty
    // frame) yields the schema-correct 0-row top-k (reliabilityBins
    // convention)
    val stats = docs.agg(count(lit(1)).as("n"),
                         sum(size(tokens(col("text")))).as("t")).head(1)
    val nDocs =
      if (stats.isEmpty || stats.head.isNullAt(0)) 0L else stats.head.getLong(0)
    val totTok =
      if (stats.isEmpty || stats.head.isNullAt(1)) 0L else stats.head.getLong(1)
    // exact same division in the twin; 1.0 placeholder keeps idf/tf finite
    // on the empty corpus (result is 0 rows regardless)
    val avgdl = if (nDocs == 0L) 1.0 else totTok.toDouble / nDocs
    val termArr = array(terms.map(lit): _*)
    val toks = docs
      .select(col("doc_id"), size(tokens(col("text"))).as("len"),
              explode(tokens(col("text"))).as("token"))
      .filter(array_contains(termArr, col("token")))
    val dfs = toks.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfMicro: Map[String, Long] = terms.map { t =>
      val df = dfs.getOrElse(t, 0L).toDouble
      t -> math.round(math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0) * 1e6)
    }.toMap
    val tfFactor = {
      val tf = col("tf").cast("double")
      tf * (k1 + 1.0) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / lit(avgdl)))
    }
    val termMicro = round(element_at(typedLit(idfMicro), col("token"))
      * tfFactor).cast("long")
    toks.groupBy(col("doc_id"), col("len"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), termMicro.as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"), sum(col("s")).as("score_micro"))
      .select(col("doc_id"), col("n_terms_matched"), col("score_micro"),
              (col("score_micro").cast("double") / 1e6).as("bm25"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(k)
  }

  /** Flesch readability per document: reading-ease and Flesch–Kincaid
    * grade from exact integer counts — words (whitespace tokens),
    * sentences (non-empty `[.!?]` segments, floored at 1 so unpunctuated
    * docs read as one sentence), syllables (vowel-run heuristic
    * `[aeiouy]+` over the lowercased text — vowel runs never span the
    * token separator, so the whole-text count equals the per-word sum).
    * The standard surface-form quality signal next to [[qualityColumns]]'
    * lexical ratios: training-corpus audits bin on it to spot
    * machine-garbled or keyword-stuffed segments.
    *
    * Pure map-side column arithmetic — no shuffle, no UDF; both scores are
    * IEEE doubles from the three integers, rounded once at 6.
    */
  def readability(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = size(tokens(col(textCol)))
    val sentences = greatest(lit(1),
      size(filter(split(col(textCol), "[.!?]"), s => length(trim(s)) > 0)))
    val syllables = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0)))
    val wD = col("n_words").cast("double")
    docs.select(col("doc_id"), words.cast("long").as("n_words"),
                sentences.cast("long").as("n_sentences"),
                syllables.cast("long").as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835) - lit(1.015) * (wD / col("n_sentences"))
          - lit(84.6) * (col("n_syllables") / wD), 6).as("flesch_ease"),
        round(lit(0.39) * (wD / col("n_sentences"))
          + lit(11.8) * (col("n_syllables") / wD) - lit(15.59), 6).as("fk_grade"))
  }
}
