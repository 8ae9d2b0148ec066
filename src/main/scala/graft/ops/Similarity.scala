package graft.ops

import org.apache.spark.sql.graft.VectorExpressions.cosineSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and a sign-random-projection LSH
  * variant as the scale path.
  *
  * Scale design (100 TB): the query set is always the broadcast side — the
  * corpus streams map-side; cosine is a codegen'd native expression
  * ([[graft.functions.CosineSimilarity]]); top-k per query is a ranking
  * window over (query, candidate-bucket) partitions. The LSH variant prunes
  * the corpus to matching sign-buckets before scoring, turning an O(N·Q)
  * scan into O(N + collisions).
  */
object Similarity {

  /** Component i of hyperplane j: two rounds of multiply/xor-shift integer
    * mixing of (j, i), mapped to [-1, 1). Pure 64-bit integer arithmetic plus
    * one exact power-of-two division — bit-identical in ANY engine with
    * BIGINT ops, which is what lets the DuckDB oracles rebuild the very same
    * planes in SQL and hash-match the LSH operators end to end. (An earlier
    * version used `sin(j·7919 + i·104729)`: libm argument reduction on inputs
    * that large differs across implementations, so the sign of a near-zero
    * dot product could flip between engines.)
    *
    * Intermediates stay below 2^63: x0 < 2^24, x0·2654435761 < 2^56,
    * (x2 & 0x7FFFFFFF)·1597334677 < 2^62.
    */
  def planeComponent(j: Int, i: Int): Double = {
    val x0 = j.toLong * 104729L + i.toLong * 7919L + 12345L
    val x1 = (x0 * 2654435761L) & 0xFFFFFFFFL
    val x2 = x1 ^ (x1 >> 16)
    val x3 = ((x2 & 0x7FFFFFFFL) * 1597334677L) & 0xFFFFFFFFL
    val h = x3 ^ (x3 >> 13)
    h.toDouble / 2147483648.0 - 1.0
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH — fixed, seedless,
    * reproducible across runs and engines (see [[planeComponent]]).
    */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(j => (0 until dim).map(i => planeComponent(j, i)))

  /** Sign-bucket table: one row per (vector, table) with the packed sign
    * bits of that table's hyperplanes. A pure map-side projection: the
    * codegen'd [[org.apache.spark.sql.graft.SignLshBuckets]] expression
    * computes every table's bucket in one pass over the vector (planes
    * pre-materialized at plan time), then `posexplode` fans out to the
    * (vector, table) shape the bucket equi-joins consume. No shuffle, no
    * aggregate — earlier formulations (a broadcast plane-relation join with a
    * packing hash aggregate; before that, interpreted HOF lambdas, ~6×
    * slower) re-touched each embedding ×(nTables·bits).
    *
    * Null embeddings produce no bucket rows (the expression is null-safe and
    * `posexplode` drops the null array): a vector with no embedding cannot
    * be a near-dup candidate of anything, by construction rather than by
    * relying on the cosine rescore to reject bucket-0 collisions.
    */
  def signBuckets(vectors: DataFrame, nTables: Int, bitsPerTable: Int,
                  dim: Int): DataFrame =
    vectors.select(
      col("vec_id"), col("embedding"),
      posexplode(org.apache.spark.sql.graft.VectorExpressions
          .signLshBuckets(col("embedding"), nTables, bitsPerTable, dim))
        .as(Seq("t", "bucket")))

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors by (rounded cosine desc, vec_id asc) — rounding pins the
    * rank order across engines. Queries are broadcast; corpus streams.
    *
    * Ranking happens in the [[org.apache.spark.sql.graft.TopKPairsAgg]] aggregator, not a window: a
    * window partitioned by `q_id` would shuffle all N×Q scored rows onto Q
    * partition keys (one task per query holding the whole corpus's scores —
    * the 100 TB killer shape); the aggregator participates in partial
    * aggregation, so every map task reduces its slice to ≤ k rows per query
    * before the shuffle, and the shuffle carries ≤ k·tasks rows per query.
    * Tie order (score desc, id asc) matches the window form exactly.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val scored = corpus.select(col("vec_id"), col("embedding")).crossJoin(q)
      .select(col("q_id"), col("vec_id"),
              round(cosineSim(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009) —
    * the standard serving shape for RAG-style search: a VECTOR ranking
    * (exact cosine top-kCand via the [[cosineTopK]] partial-agg scan) and
    * a LEXICAL ranking (distinct-token overlap with the query document)
    * fuse per query as Σ 1/(k0 + rank) over the lists the doc appears in.
    * Rank fusion needs no score calibration between modalities — exactly
    * why serving stacks default to RRF over weighted-score sums.
    *
    * Determinism/portability: both ranks derive from total orders
    * ((cos desc, id) / (shared desc, id)), shared-token counts are exact
    * BIGINTs, and the fused score is 1/(k0+r_vec) + 1/(k0+r_text) in one
    * fixed double association rounded once at 6 (ties → doc_id), so the
    * whole report hash-matches a relational twin.
    *
    * Scale shape: queries are a bounded batch (the broadcast-queries
    * contract). The vector scan leaves ≤ kCand rows per query per map
    * task through the partial top-k aggregate; the lexical side is ONE
    * corpus token explode + a literal token→queries map lookup (map-side
    * semi — the query vocabulary is batch-bounded) + one (q, doc) count
    * aggregate reduced by the same partial top-k, with ranks read off
    * the ordered top-k arrays by posexplode — no corpus-wide window or
    * sort anywhere. The rank windows at the end run over ≤ 2·kCand rows
    * per query.
    */
  /** Hard ceiling on the (query doc, distinct token) rows
    * [[hybridRrfSearch]] will collect for its plan-literal token map —
    * ~100 query docs × ~1k distinct tokens. Above it the op fails loud
    * instead of building an unbounded driver collect (the
    * [[KnnAuditBudget]] bounded-input convention).
    */
  val HybridQueryTokenBudget: Int = 100000

  def hybridRrfSearch(docs: DataFrame, emb: DataFrame, qMax: Long,
                      kCand: Int = 20, kOut: Int = 10,
                      k0: Int = 60): DataFrame = {
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val vecRank = cosineTopK(emb.filter(col("vec_id") < qMax),
                             emb.filter(col("vec_id") >= qMax), kCand)
      .withColumn("r_vec", row_number().over(wv).cast("long"))
      .select(col("q_id"), col("vec_id").as("doc_id"), col("r_vec"))
    // query token sets ride as a literal token → [query ids] map — the
    // pqTopK plan-literal convention (a query batch is driver-small by
    // construction); a corpus token not in any query explodes to nothing.
    // The contract is ENFORCED, not assumed (the KnnAuditBudget
    // convention): collect through a limit of budget+1 rows and fail loud
    // if the batch exceeds it — a corpus-sized "query batch" must error,
    // never silently build an unbounded driver collect + giant plan
    // literal.
    val qTokRows = docs.filter(col("doc_id") < qMax)
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .limit(HybridQueryTokenBudget + 1).collect()
    require(qTokRows.length <= HybridQueryTokenBudget,
      s"hybridRrfSearch: the query batch (doc_id < $qMax) explodes to more " +
      s"than $HybridQueryTokenBudget (doc, token) rows — the query side " +
      "must be a bounded batch (broadcast-queries contract); pass a " +
      "smaller qMax or pre-trim the query documents")
    val tokMap: Map[String, Seq[Long]] = qTokRows
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1).sorted.toSeq }
    def tk(id: Column, s: Column) =
      org.apache.spark.sql.graft.TopKPairsAgg.topkPairs(kCand, id, s)
    val textRank = docs.filter(col("doc_id") >= qMax)
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .select(col("doc_id"),
              explode(element_at(typedLit(tokMap), col("tok"))).as("q_id"))
      .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("shared"))
      .groupBy(col("q_id"))
      .agg(tk(col("doc_id"), col("shared").cast("double")).as("tkl"))
      .select(col("q_id"), posexplode(col("tkl")).as(Seq("p", "e")))
      .select(col("q_id"), col("e._1").as("doc_id"),
              (col("p") + 1).cast("long").as("r_text"))
    val one = lit(1.0)
    vecRank.join(textRank, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(one / (lit(k0.toLong) + col("r_vec")), lit(0.0)) +
        coalesce(one / (lit(k0.toLong) + col("r_text")), lit(0.0)), 6))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("rrf_score").desc, col("doc_id"))))
      .filter(col("__rk") <= kOut).drop("__rk")
  }

  /** Recall@k CURVE of the sign-LSH ANN against the exact top-k, at
    * several k in one pass — the eval a pipeline reads before choosing
    * the ANN's operating point (recall@1 says "is the nearest neighbor
    * found", recall@10 says "is the candidate pool usable"; a single-k
    * recall number hides the shape between them).
    *
    * Both ranked lists are computed ONCE at max(ks) and every k is a
    * bracket over the joined rank pairs — no per-k re-scan. The joined
    * relation is ≤ |queries|·max(ks) rows (driver-bounded per the
    * broadcast-queries contract), so the per-k aggregate is trivially
    * small at any corpus size; n_queries rides a 1-row broadcast.
    */
  def annRecallCurve(queries: DataFrame, corpus: DataFrame,
                     ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1: $ks")
    val kMax = ks.max
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    // Round-13 surgery: `ex` had THREE relational consumers (the rank
    // join, the per-k exact-pair denominators, and the query total) and
    // each re-executed the full cosineTopK subtree — the plan audit read
    // 3× the queries+corpus scans for a ≤|queries|·kMax-row relation.
    // Fix = the blessed tiny-intermediate localCheckpoint (ex is
    // driver-bounded by the broadcast-queries contract) + folding the
    // hits and exact-pair counts into ONE aggregate over ex LEFT JOIN an:
    // an unmatched exact pair keeps ra NULL, so `when(ra <= k, 1)` counts
    // exactly the old inner-join hits while count(*) over the same
    // re <= k rows is the old denominator (an is unique per (q_id,
    // vec_id) — the old inner join already relied on that).
    val ex = cosineTopK(queries, corpus, kMax)
      .withColumn("re", row_number().over(w))
      .select(col("q_id"), col("vec_id"), col("re"))
      .localCheckpoint()
    val an = annTopK(queries, corpus, kMax)
      .withColumn("ra", row_number().over(w))
      .select(col("q_id"), col("vec_id"), col("ra"))
    val totals = ex.agg(countDistinct(col("q_id")).as("n_queries"))
    val kArr = array(ks.map(lit(_)): _*)
    // denominator = exact pairs actually RANKED at each k (Σ_q min(k,
    // |exact list for q|)), not k·n_queries: when the corpus holds fewer
    // than k vectors the exact list is short and a perfect ANN must still
    // read recall 1.0 (k·n_queries would cap it below 1 — round-9 ADVICE).
    // Equal to k·n_queries whenever |corpus| >= max(ks).
    val per = ex.join(an, Seq("q_id", "vec_id"), "left")
      .select(explode(kArr).as("k"), col("re"), col("ra"))
      .filter(col("re") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(when(col("ra") <= col("k"), 1L).otherwise(0L)).as("n_hits"),
           count(lit(1)).as("n_exact"))
    totals.select(explode(kArr).as("k"), col("n_queries"))
      .join(per, Seq("k"), "left")
      .select(col("k"), col("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_exact"), lit(0L)) > 0L,
          round(coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_exact"), 6)).as("recall"))
      .orderBy(col("k"))
  }

  /** Integer log2-discount table for [[annNdcgCurve]]: discₖ(i) =
    * round(10⁶ / log2(i+1)) for ANN rank i, computed ONCE here in driver
    * Scala and injected as the SAME literals into both the Spark plan and
    * the DuckDB twin (the Poisson-threshold convention) — rank gains are
    * then pure BIGINT arithmetic with zero cross-engine float surface.
    */
  def ndcgDiscountsMicro(kMax: Int): Seq[Long] =
    (1 to kMax).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** Micro-averaged binary-relevance NDCG@k curve of the sign-LSH ANN
    * against the exact cosine ranking — the rank-POSITION complement of
    * [[annRecallCurve]]: recall@k only asks whether exact-top-k items
    * appear anywhere in the ANN's top-k; NDCG also charges the ANN for
    * ranking them low (a hit at ANN rank 1 earns disc(1), at rank 10 only
    * disc(10) — Järvelin & Kekäläinen 2002). Relevant = exact-top-k
    * membership; gains are the integer [[ndcgDiscountsMicro]] micro-units,
    * so per-k DCG/IDCG are exact BIGINT sums over the joined rank pairs.
    *
    * Micro-averaging (Σ DCG / Σ IDCG across queries, ONE mirrored double
    * division per k) rather than per-query NDCG means: a per-query mean
    * would sum Q doubles in engine-dependent order — the exact
    * nondeterminism the BIGINT convention exists to avoid — and weighs a
    * 1-relevant-item query equally with a k-item one. Both ranked lists
    * are computed once at max(ks); every k is a bracket over the same
    * pairs (the [[annRecallCurve]] shape, ≤ |queries|·max(ks) rows).
    */
  def annNdcgCurve(queries: DataFrame, corpus: DataFrame,
                   ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1: $ks")
    val kMax = ks.max
    val discArr = array(ndcgDiscountsMicro(kMax).map(lit(_)): _*)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    // Round-13 surgery (the annRecallCurve shape, same reasoning): `ex`
    // had three consumers re-executing cosineTopK each — localCheckpoint
    // the ≤|queries|·kMax-row rank relation once, and fold DCG + IDCG
    // into ONE aggregate over ex LEFT JOIN an (an unmatched exact pair
    // keeps ra NULL, so `when(ra <= k, disc(ra))` contributes exactly the
    // old inner-join DCG terms; IDCG sums disc(re) over the same
    // re ≤ k rows — IDCG@k = Σ_q Σ_{i=1..|exact∩top-k|} disc(i),
    // row-at-a-time; exact long sums either way).
    val ex = cosineTopK(queries, corpus, kMax)
      .withColumn("re", row_number().over(w))
      .select(col("q_id"), col("vec_id"), col("re"))
      .localCheckpoint()
    val an = annTopK(queries, corpus, kMax)
      .withColumn("ra", row_number().over(w))
      .select(col("q_id"), col("vec_id"), col("ra"))
    val kArr = array(ks.map(lit(_)): _*)
    val per = ex.join(an, Seq("q_id", "vec_id"), "left")
      .select(explode(kArr).as("k"), col("re"), col("ra"))
      .filter(col("re") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(when(col("ra") <= col("k"), element_at(discArr, col("ra"))))
             .as("dcg_micro"),
           sum(element_at(discArr, col("re"))).as("idcg_micro"))
    val totals = ex.agg(countDistinct(col("q_id")).as("n_queries"))
    totals.select(explode(kArr).as("k"), col("n_queries"))
      .join(per, Seq("k"), "left")
      .select(col("k"), col("n_queries"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"))
      .withColumn("ndcg",
        when(col("idcg_micro") > 0L,
          round(col("dcg_micro").cast("double")
            / col("idcg_micro").cast("double"), 6)))
      .orderBy(col("k"))
  }

  /** Per-label embedding-norm audit: vector counts, zero-norm counts, and
    * mean/median L2 norms — the "are these embeddings even populated, and
    * did one label's encoder drift" sanity pass that runs before any ANN
    * work trusts the space. Norms accumulate per vector in array order
    * (identical fold order in any engine), then micro-round to BIGINT
    * before the per-label sum so mean is an exact-integer division; the
    * median interpolates over the same BIGINT micro-norms. Pure map-side
    * scan + one ≤|labels|-row aggregate.
    */
  def embeddingNormStats(embeddings: DataFrame): DataFrame = {
    val norm = sqrt(aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nm = round(norm * lit(1e6)).cast("long")
    embeddings.select(col("label"), nm.as("nm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           sum(when(col("nm") === 0L, 1L).otherwise(0L)).as("n_zero"),
           round(sum(col("nm")).cast("double") / count(lit(1)) / lit(1e6), 6)
             .as("mean_norm"),
           round(expr("percentile(nm, 0.5)") / lit(1e6), 6).as("p50_norm"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k highest-cosine corpus vectors whose `label` DIFFERS
    * from the query's — the negatives a contrastive loss learns the most
    * from (closest in embedding space while semantically wrong). Same
    * plan family as [[cosineTopK]]: queries broadcast, the corpus
    * streams once, and the label-mismatch predicate runs BEFORE the
    * cosine so same-label rows never pay the dot product; the ranking
    * tail is the partial-aggregating [[org.apache.spark.sql.graft.TopKPairsAgg]] (map-side reduce to
    * k rows per query — no per-query ranking window).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("label").as("q_label")))
    val scored = corpus.select(col("vec_id"), col("embedding"), col("label"))
      .crossJoin(q)
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"),
              round(cosineSim(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Shared ranking tail: (q_id, vec_id, cos_sim) → k best per query via
    * the partial-aggregating native [[org.apache.spark.sql.graft
    * .TopKPairsAgg]] (see [[cosineTopK]] scale note; the expression
    * replaced the `TopKByScore` udaf face — identical order and ties,
    * ~25 µs/row of encoder boxing removed).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    scored.groupBy(col("q_id"))
      .agg(org.apache.spark.sql.graft.TopKPairsAgg
        .topkPairs(k, col("vec_id"), col("cos_sim")).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e._1").as("vec_id"), col("e._2").as("cos_sim"))
  }

  /** SQ8 scalar-quantization ANN (the faiss `SQ8` index family): every
    * dimension maps to an 8-bit code against per-dimension [min, max]
    * trained on the CORPUS (queries clamp into the trained range — the
    * deployment asymmetry is deliberate), and similarity is the SYMMETRIC
    * quantized dot product — an exact BIGINT per pair, which makes this
    * the one ANN variant whose scores carry NO floating-point surface at
    * all (PQ/IVF rescore in doubles; SQ8 ranks on integers). 4× memory
    * cut vs float32 with near-exact ranking — the standard first step
    * before PQ when recall matters.
    *
    * Shape: the 64-row dim-stats aggregate collects driver-side (dim- not
    * corpus-bounded, the centroid precedent); quantization is a map-side
    * codegen'd HOF over each vector; scoring streams the corpus once
    * against broadcast queries through the same partial top-k aggregate as
    * [[cosineTopK]] — ≤ k rows per query leave every map task. Code
    * arithmetic: `floor` in double then clamp in BIGINT, mirrored
    * operation for operation in the twin; constant dimensions code to 0.
    */
  /** L2-normalized micro-unit components: each vector scales to unit norm
    * (the standard cosine-ANN preconditioning — inner product then IS
    * cosine), and each component rounds half-up to integer MICRO-UNITS —
    * after this one mirrored rounding (the [[embeddingNormStats]] norm
    * discipline) the ENTIRE quantization pipeline is integer arithmetic,
    * immune to engine ulp drift. Zero vectors map to all-zero.
    */
  private def sq8Norm(c: Column): Column =
    sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** `norm` MUST be a plain column reference (pre-computed via
    * [[sq8Norm]] in a withColumn), NOT the aggregate expression itself:
    * a lambda-embedded aggregate re-expands per element and the 64-element
    * transform then carries a ~16k-node tree — measured as ~2.5 s of pure
    * plan-build/codegen per sq8 row before this hoist.
    */
  private def sq8MicroCol(c: Column, norm: Column): Column =
    transform(c, x => when(norm === 0.0, lit(0L))
      .otherwise(round(x.cast("double") / norm * lit(1e6)).cast("long")))

  /** Corpus-trained per-dimension [min, max] ladder over the micro-unit
    * components — dim-bounded driver collect (the centroid precedent).
    */
  private def sq8Ladder(corpus: DataFrame): Array[(Long, Long)] = {
    // the two sq8 rows share one trained ladder instead of re-scanning
    val slot = TrainedArtifactCache.slot[Array[(Long, Long)]]("sq8-ladder", corpus)
    slot.get.getOrElse(slot.put {
      val stats = corpus
        .withColumn("__nrm", sq8Norm(col("embedding")))
        .select(posexplode(sq8MicroCol(col("embedding"), col("__nrm")))
          .as(Seq("d", "v")))
        .groupBy(col("d")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      (0 until stats.size).map(stats).toArray
    })
  }

  /** 8-bit code + decode (×255) per dimension, all BIGINT: clamp into the
    * trained range FIRST (so the integer division sees a non-negative
    * numerator — `div` truncation and `//` flooring agree there, and
    * out-of-range QUERY components saturate exactly like faiss), then
    * code = (x−mn)·255 / (mx−mn) and dec255 = mn·255 + code·(mx−mn).
    */
  private def sq8Dec255(micro: Column, ladder: Array[(Long, Long)]): Column = {
    val mins = lit(ladder.map(_._1))
    val maxs = lit(ladder.map(_._2))
    transform(micro, (x, i) => {
      val mn = element_at(mins, i + 1)
      val mx = element_at(maxs, i + 1)
      val xc = least(greatest(x, mn), mx)
      // floor of the double quotient IS the integer quotient here: the
      // numerator (≤ 2·10⁶·255) is double-exact and the rounding error
      // of the division (~2⁻⁵² relative) is orders below the 1/(mx−mn)
      // distance to the nearest boundary — and floor()-then-widen is the
      // one form Spark (truncating cast) and DuckDB (rounding cast)
      // mirror exactly
      val code = when(mx === mn, lit(0L))
        .otherwise(floor(((xc - mn) * lit(255L)).cast("double")
                           / (mx - mn).cast("double")))
      mn * lit(255L) + code * (mx - mn)
    })
  }

  /** SQ8 scalar-quantization ANN (the faiss `SQ8` index family) for
    * COSINE ranking: vectors L2-normalize, components snap to the
    * micro-unit grid, each dimension quantizes to an 8-bit code against
    * the corpus-trained [min, max] ladder, and similarity is the dot of
    * DECODED codes — an exact BIGINT per pair (bound: 64 dims ×
    * (255·10⁶)² ≈ 4.2·10¹⁸ < 2⁶³), surfaced as `approx_cos` through one
    * mirrored double division chain. 4× memory cut vs float32; the
    * recall row below measures the quantization loss against the exact
    * cosine ranking.
    *
    * Shape: the dim-bounded ladder collects driver-side (the centroid
    * precedent); quantization is a map-side codegen'd HOF over each
    * vector; scoring streams the corpus once against broadcast queries
    * through the same partial top-k aggregate as [[cosineTopK]] — ≤ k
    * rows per query leave every map task.
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val ladder = sq8Ladder(corpus)
    val (mins, maxs) = (ladder.map(_._1), ladder.map(_._2))
    // query batch decodes at plan-build through the SAME native kernel the
    // corpus scan runs (Sq8Decode — the pqTopK literal convention); the
    // corpus side is ONE codegen'd Sq8Scores pass + the shared partial
    // top-k aggregate. The former HOF decode/dot chain was
    // CodegenFallback — a lambda frame per element per row.
    val qRows = queries
      .select(col("vec_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .sq8Decode(col("embedding"), mins, maxs).as("qc"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    val qIds = lit(qRows.map(_._1))
    val scored = corpus
      .select(col("vec_id"),
        posexplode(org.apache.spark.sql.graft.VectorExpressions
          .sq8Scores(col("embedding"), mins, maxs, qRows.map(_._2)))
          .as(Seq("qi", "cos_sim")))
      .select(element_at(qIds, col("qi") + 1).as("q_id"),
              col("vec_id"), col("cos_sim"))
    topKPerQuery(scored, k).withColumnRenamed("cos_sim", "approx_cos")
  }


  /** Per-query recall of the SQ8 quantized top-k against the exact
    * brute-force top-k in ONE corpus action (the [[pqRecall]] fusion on
    * the SQ8 surface): each corpus row projects its exact all-query
    * cosines AND its integer quantized dots map-side, one partial-agg
    * pass keeps both top-k lists. Query codes are fixed at plan-build
    * from the same trained [min,max] ladder the corpus quantizes
    * against — the identical double expression the twin evaluates in SQL.
    * Returns (q_id, n_exact, n_hit, recall), unordered.
    */
  def sq8Recall(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val ladder = sq8Ladder(corpus)
    // query decode vectors fix at plan-build — integer arithmetic end to
    // end after the shared micro-unit rounding, so the driver-side fold
    // cannot drift from the executor/twin forms
    val (mins, maxs) = (ladder.map(_._1), ladder.map(_._2))
    val qRows = queries
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions
          .sq8Decode(col("embedding"), mins, maxs).as("qc"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
                 r.getSeq[Long](2).toArray))
      .sortBy(_._1)
    val qIds = lit(qRows.map(_._1))
    val cosArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      qRows.map { case (_, qv, _) =>
        round(cosineSim(lit(qv), col("embedding")), 6) }): _*)
    val scored = corpus
      .select(col("vec_id"), cosArr.as("__exact"),
              posexplode(org.apache.spark.sql.graft.VectorExpressions
                .sq8Scores(col("embedding"), mins, maxs, qRows.map(_._3)))
                .as(Seq("qi", "approx_score")))
      .select(col("qi"), col("vec_id"),
              element_at(col("__exact"), col("qi") + 1).as("cos_sim"),
              col("approx_score"))
    dualTopKRecall(scored, qIds, k)
  }

  /** Exact cosine near-dup pairs above a threshold (vec_a < vec_b). The
    * brute-force O(N²) form — the exact *baseline* (recall oracle for specs
    * and small-SF audits); the default scale path is [[lshNearDupPairs]].
    */
  def nearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val a = embeddings.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = embeddings.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    // threshold inside the join condition: the nested-loop join then only
    // materializes surviving rows (tiny selectivity) instead of all N²/2
    // candidate rows with both embedding arrays attached. The surviving
    // pairs re-evaluate the cosine once in the projection below — that
    // duplicate work is survivors-only (≪ N²) and is the price of keeping
    // the threshold IN the join; hoisting the cosine to a column before
    // the filter would move the threshold out of the join condition and
    // materialize the full candidate product (considered, rejected).
    a.join(b, col("vec_a") < col("vec_b") &&
              round(cosineSim(col("emb_a"), col("emb_b")), 6) >= threshold)
      .select(col("vec_a"), col("vec_b"),
              round(cosineSim(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
  }

  /** `bitsPerTable` sized to hold expected bucket occupancy at
    * `targetOccupancy` as the corpus grows: per-table candidate work is
    * Σ_buckets c², i.e. ≈ n·occupancy for uniform buckets — linear in n
    * only if occupancy is held constant, which takes bits ≈
    * log₂(n/occupancy). With bits FIXED, occupancy grows ∝ n and pair work
    * ∝ n²— measured: the 16×8 default that runs 0.7 s on the sf0.1 corpus
    * (2 k vectors, occupancy ≈ 8) took 18.6 s on a 9× replica (occupancy
    * ≈ 70, 27× the time). Auto-sizing (bits 8 → 12 at 9×) restores the
    * linear path. Recall per table drops as bits widen — production
    * compensates by raising `nTables` with log n (the standard LSH
    * recall/cost trade); the defaults here reproduce the pinned 16×8 at
    * the test corpus size.
    */
  def autoBitsPerTable(n: Long, targetOccupancy: Int = 8): Int = {
    // smallest b with 2^b ≥ n/occupancy, clamped [4, 24] — PURE INTEGER
    // comparison, mathematically identical to ceil(log2(n/occupancy)) but
    // with no float-log boundary risk: a 1-ulp log disagreement at an exact
    // power of two would flip the bucket width between engines, and the
    // `embedding_neardup_auto` oracle recomputes these bits in SQL.
    val b = (0 to 24).find(b => (targetOccupancy.toLong << b) >= n).getOrElse(24)
    math.max(4, math.min(24, b))
  }

  /** [[lshNearDupPairs]] with `bitsPerTable` auto-sized from the corpus
    * count (one cheap count job locally; persisted table metadata at
    * cluster scale).
    */
  def lshNearDupPairsAuto(embeddings: DataFrame, threshold: Double,
                          nTables: Int = 16, dim: Int = 64): DataFrame =
    lshNearDupPairs(embeddings, threshold, nTables,
                    autoBitsPerTable(embeddings.count()), dim)

  /** Near-dup pairs via sign-LSH bucketing + exact cosine rescore — the
    * 100 TB pairs path replacing the O(N²) [[nearDupPairs]] scan. Candidate
    * generation is a self-equi-join on (table, bucket): shuffle ∝ collisions,
    * never N². Collided pairs are deduped across tables (each pair pays the
    * cosine once) and rescored with the exact codegen'd [[cosineSim]], so
    * every emitted pair genuinely clears the threshold; what is approximate
    * is recall only. Sign-LSH collision probability is (1 − θ/π)^bits per
    * table — steep in angle, so recall is high for true near-dups (θ small)
    * and intentionally low for weakly-similar pairs; size `nTables` ×
    * `bitsPerTable` to the similarity band that matters (defaults: 16×8,
    * ≈94% recall at cosine 0.8, ~14× candidate pruning on uniform vectors).
    * Prefer [[lshNearDupPairsAuto]] for growing corpora: FIXED bits make
    * bucket occupancy ∝ n and pair work quadratic (the measured 9× finding —
    * see [[autoBitsPerTable]]).
    *
    * The bucket table is checkpointed: both join sides derive from it, and
    * without materialization the plane-projection pipeline runs once per
    * side. At cluster scale it would be a persisted intermediate, bucketed
    * by (t, bucket). Embeddings ride along on the bucket rows (fixed 64-float
    * payload) — one shuffle, no re-join against the corpus per side.
    */
  def lshNearDupPairs(embeddings: DataFrame, threshold: Double,
                      nTables: Int = 16, bitsPerTable: Int = 8, dim: Int = 64): DataFrame = {
    val buckets = signBuckets(embeddings, nTables, bitsPerTable, dim).localCheckpoint()
    val l = buckets.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
                           col("t"), col("bucket"))
    val r = buckets.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
                           col("t"), col("bucket"))
    // Score and threshold BEFORE the pair-dedup: a pair colliding in several
    // tables pays the (cheap, map-side) cosine once per collision, but the
    // dedup shuffle then carries only the few skinny surviving rows instead
    // of every candidate with two 64-float arrays attached. Same result —
    // the cosine is a pure function of the pair, so filter∘distinct commutes.
    l.join(r, Seq("t", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
              round(cosineSim(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .dropDuplicates("vec_a", "vec_b")
  }

  /** SemDeDup-style semantic dedup (cluster-then-dedup over embeddings):
    * cluster the corpus with the fixed-point [[kmeansCentroids]], generate
    * candidate pairs ONLY within a cluster — the scale bound: pairwise work
    * is Σ_c n_c² instead of the corpus's N², and nCentroids grows with the
    * corpus so per-cluster membership stays bounded — score candidates with
    * the exact rounded cosine, take connected components over the
    * ≥ `threshold` pairs ([[Dedup.dupClusters]]: min-label propagation),
    * and keep the lowest `vec_id` per component. What is approximate is
    * recall only (cross-cluster near-dups are not candidates — the
    * SemDeDup trade); every removal is exact-cosine-verified.
    * Deterministic end to end (fixed-point centroids, rounded cosines,
    * min-label survivors), so a DuckDB twin reproduces it exactly — the
    * `semantic_dedup` catalog row. Returns survivors:
    * (vec_id, cluster_id, centroid_sim).
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
                    nCentroids: Int = 16, iters: Int = 1, dim: Int = 64): DataFrame = {
    val centroids = trainQuantizers(embeddings, None, iters, dim,
                                    nCentroids = Some(nCentroids)).centroids
    // referenced three times (both pair-join sides + the survivor base):
    // one scan-shaped materialization, the lshNearDupPairs discipline
    val a = argmaxAssignLocal(embeddings, centroids).localCheckpoint()
    val l = a.select(col("vec_id").as("vec_a"), col("cluster_id"),
                     col("embedding").as("emb_a"))
    val r = a.select(col("vec_id").as("vec_b"), col("cluster_id"),
                     col("embedding").as("emb_b"))
    val pairs = l.join(r, Seq("cluster_id"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(cosineSim(col("emb_a"), col("emb_b")), 6) >= threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val losers = Dedup.dupClusters(pairs)
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as("vec_id"))
    a.join(losers, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster_id"), col("cos_sim").as("centroid_sim"))
  }

  /** Deterministic fixed-iteration k-means over an embedding corpus
    * (cosine objective): initialized from the `k` lowest `vec_id`s, then
    * `iters` Lloyd rounds — assign each vector to its max-cosine centroid
    * (the NearestCentroid kernel, centroids as plan literals), recompute
    * centroids as the component-wise mean, one lane per dimension in a
    * single aggregate grouped by (space, cluster): the map side combines
    * straight down to `k` rows per task. Trained by [[trainQuantizers]],
    * which caches the centroids per corpus and shares them with every IVF
    * entry point. Every corpus-side step is a deterministic distributed
    * DataFrame op; the only driver-side data is the centroid relation
    * itself (≤ k rows). No RNG anywhere. Returns (cluster_id, centroid:
    * array<float>) as a LocalRelation — free to reference from any number
    * of consumers.
    *
    * The mean is computed in FIXED POINT: each lane sums
    * `round(component · 10⁶)` as exact 64-bit integers (order-independent —
    * a float `avg` depends on reduction order and is NOT portable across
    * engines or even across partitionings), then divides by `n · 10⁶` in
    * double and rounds to float. Every step is an exact-or-IEEE-defined
    * operation on identical inputs, so the centroids — and therefore the
    * whole clustering — are bit-identical in any engine with BIGINT + IEEE
    * arithmetic; the `ivf_assign` catalog row hash-pins this against a
    * DuckDB twin. Magnitudes: |component| ≤ ~10, ×10⁶ ≤ 2^24, summed over
    * ≤ 2^39 rows stays < 2^63.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int,
                      dim: Int = 64): DataFrame =
    centroidsDF(corpus.sparkSession,
      trainQuantizers(corpus, None, iters, dim, nCentroids = Some(k)).centroids)

  /** Local centroid array → (cluster_id, centroid float[]) LocalRelation. */
  private def centroidsDF(spark: org.apache.spark.sql.SparkSession,
                          cents: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    cents.map { case (id, c) => (id, c.toSeq) }.toSeq
      .toDF("cluster_id", "centroid")
      .select(col("cluster_id"), col("centroid").cast("array<float>").as("centroid"))
  }

  // ── ANN index lifecycle ────────────────────────────────────────────
  // A serving pipeline trains an index once and loads it per job; the
  // in-session memos amortize within a JVM, these persist across them.
  // Layout: <path>/centroids (cluster_id, centroid float[]) +
  // <path>/meta (config + fingerprint), both parquet. Float lanes
  // roundtrip parquet bit-identically, and the fingerprint — a
  // deterministic integer fold over the config and the centroids' RAW
  // FLOAT BITS — makes a config mismatch or a corrupted/partial file a
  // loud error at load, never a silently different ranking.

  /** Train (or reuse the memoized) IVF centroids for `corpus` and persist
    * them under `path`. Small by construction (k·dim floats).
    */
  def saveIvfIndex(spark: SparkSession, path: String, corpus: DataFrame,
                   nCentroids: Int, iters: Int, dim: Int = 64): Unit = {
    val cents = trainQuantizers(corpus, None, iters, dim,
                                nCentroids = Some(nCentroids)).centroids
    import spark.implicits._
    saveIndex(spark, path, "centroids",
      cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }.toDF("cluster_id", "centroid"),
      Seq((nCentroids, iters, dim, ivfIndexFingerprint(nCentroids, iters, dim, cents)))
        .toDF("n_centroids", "iters", "dim", "fingerprint"))
  }

  /** Publish an index's payload dir and `meta` by one [[Commit]]: a
    * re-save replaces the old index only once the new one is whole. */
  private def saveIndex(spark: SparkSession, path: String, payloadRel: String,
                        payload: DataFrame, meta: DataFrame): Unit =
    Commit(spark, s"$path/${Commit.Staging}", path) { txn =>
      payload.coalesce(1).write.parquet(s"$txn/$payloadRel")
      meta.coalesce(1).write.parquet(s"$txn/meta")
      Seq(payloadRel, "meta")
    }

  /** Load IVF centroids persisted by [[saveIvfIndex]], validating the
    * requested config against the stored one and the centroid bits
    * against the stored fingerprint. Returns the exact array
    * [[ivfTopKWithIndex]]/[[ivfAssignments]]-style consumers take —
    * bit-identical to the trained build (spec-pinned in SimilaritySpec).
    */
  def loadIvfIndex(spark: SparkSession, path: String, nCentroids: Int,
                   iters: Int, dim: Int = 64): Array[(Long, Array[Float])] = {
    val meta = spark.read.parquet(s"$path/meta").collect()
    require(meta.length == 1, s"loadIvfIndex: expected 1 meta row at $path, " +
      s"found ${meta.length}")
    val m = meta(0)
    val stored = (m.getAs[Int]("n_centroids"), m.getAs[Int]("iters"),
                  m.getAs[Int]("dim"))
    require(stored == ((nCentroids, iters, dim)),
      s"loadIvfIndex: index at $path was trained with (nCentroids, iters, " +
      s"dim) = $stored, caller requested (${nCentroids}, ${iters}, ${dim})")
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getAs[Long]("cluster_id"),
                 r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
      .sortBy(_._1)
    val fp = ivfIndexFingerprint(nCentroids, iters, dim, cents)
    require(fp == m.getAs[Long]("fingerprint"),
      s"loadIvfIndex: fingerprint mismatch at $path (stored " +
      s"${m.getAs[Long]("fingerprint")}, recomputed $fp) — corrupted or " +
      "partially written index")
    cents
  }

  /** The ONE deterministic integer fold every index fingerprint uses
    * (31-mix from a large-prime seed; collision-safe enough for
    * corruption detection, exactly reproducible anywhere). Callers
    * flatten (config ++ payload bits) into the iterator — keeping a
    * single algorithm keeps the fingerprint discipline identical across
    * index kinds.
    */
  private def indexFingerprint(values: Iterator[Long]): Long =
    values.foldLeft(1125899906842597L)((h, x) => h * 31 + x)

  private def ivfIndexFingerprint(nCentroids: Int, iters: Int, dim: Int,
                                  cents: Array[(Long, Array[Float])]): Long =
    indexFingerprint(
      Iterator(nCentroids.toLong, iters.toLong, dim.toLong) ++
      cents.sortBy(_._1).iterator.flatMap { case (cid, v) =>
        Iterator(cid) ++
          v.iterator.map(f => java.lang.Float.floatToRawIntBits(f).toLong)
      })

  /** Persist the corpus-trained SQ8 [min, max] ladder (see [[sq8Ladder]])
    * under `path` — the quantizer face of the index lifecycle. Layout:
    * <path>/ladder (d, mn, mx) + <path>/meta (dim + fingerprint).
    */
  def saveSq8Index(spark: SparkSession, path: String,
                   corpus: DataFrame): Unit = {
    val ladder = sq8Ladder(corpus)
    import spark.implicits._
    saveIndex(spark, path, "ladder",
      ladder.zipWithIndex.map { case ((mn, mx), d) => (d, mn, mx) }.toSeq.toDF("d", "mn", "mx"),
      Seq((ladder.length, sq8IndexFingerprint(ladder))).toDF("dim", "fingerprint"))
  }

  /** Load an SQ8 ladder persisted by [[saveSq8Index]] (fingerprint-
    * validated, bit-identical to the trained build).
    */
  def loadSq8Index(spark: SparkSession, path: String): Array[(Long, Long)] = {
    val meta = spark.read.parquet(s"$path/meta").collect()
    require(meta.length == 1, s"loadSq8Index: expected 1 meta row at $path")
    val ladder = spark.read.parquet(s"$path/ladder").collect()
      .map(r => (r.getAs[Int]("d"), (r.getAs[Long]("mn"), r.getAs[Long]("mx"))))
      .sortBy(_._1).map(_._2)
    require(ladder.length == meta(0).getAs[Int]("dim"),
      s"loadSq8Index: ${ladder.length} ladder rows for dim " +
      s"${meta(0).getAs[Int]("dim")} at $path")
    val fp = sq8IndexFingerprint(ladder)
    require(fp == meta(0).getAs[Long]("fingerprint"),
      s"loadSq8Index: fingerprint mismatch at $path — corrupted or " +
      "partially written index")
    ladder
  }

  private def sq8IndexFingerprint(ladder: Array[(Long, Long)]): Long =
    indexFingerprint(
      Iterator(ladder.length.toLong) ++
      ladder.iterator.flatMap { case (mn, mx) => Iterator(mn, mx) })

  /** Persist the trained PQ codebooks (see [[pqCodebooks]]) under `path`
    * — the product-quantizer face of the index lifecycle. Layout:
    * <path>/books (subspace, code, centroid float[]) + <path>/meta
    * (config + fingerprint).
    */
  def savePqIndex(spark: SparkSession, path: String, corpus: DataFrame,
                  m: Int, codesPerBook: Int, iters: Int,
                  dim: Int = 64): Unit = {
    val books = pqCodebooks(corpus, m, codesPerBook, iters, dim)
    import spark.implicits._
    saveIndex(spark, path, "books",
      books.zipWithIndex.flatMap { case (book, s) =>
        book.map { case (code, v) => (s, code, v.toSeq) } }.toSeq
        .toDF("subspace", "code", "centroid"),
      Seq((m, codesPerBook, iters, dim, pqIndexFingerprint(m, codesPerBook, iters, dim, books)))
        .toDF("m", "codes_per_book", "iters", "dim", "fingerprint"))
  }

  /** Load PQ codebooks persisted by [[savePqIndex]] (config- and
    * fingerprint-validated; float lanes roundtrip parquet bit-identically,
    * so a search against the loaded books equals the in-session build —
    * spec-pinned).
    */
  def loadPqIndex(spark: SparkSession, path: String, m: Int,
                  codesPerBook: Int, iters: Int,
                  dim: Int = 64): Array[Array[(Long, Array[Float])]] = {
    require(m >= 1 && codesPerBook >= 1,
      s"loadPqIndex: m and codesPerBook must be >= 1 (got m=$m, " +
      s"codesPerBook=$codesPerBook) — an m=0 index has no codebooks to load")
    val meta = spark.read.parquet(s"$path/meta").collect()
    require(meta.length == 1, s"loadPqIndex: expected 1 meta row at $path")
    val mt = meta(0)
    val stored = (mt.getAs[Int]("m"), mt.getAs[Int]("codes_per_book"),
                  mt.getAs[Int]("iters"), mt.getAs[Int]("dim"))
    require(stored == ((m, codesPerBook, iters, dim)),
      s"loadPqIndex: index at $path was trained with (m, codesPerBook, " +
      s"iters, dim) = $stored, caller requested " +
      s"(${m}, ${codesPerBook}, ${iters}, ${dim})")
    val rows = spark.read.parquet(s"$path/books").collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Long]("code"),
                 r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
    val books = Array.tabulate(m) { s =>
      rows.filter(_._1 == s).map(r => (r._2, r._3)).sortBy(_._1)
    }
    val fp = pqIndexFingerprint(m, codesPerBook, iters, dim, books)
    require(fp == mt.getAs[Long]("fingerprint"),
      s"loadPqIndex: fingerprint mismatch at $path — corrupted or " +
      "partially written index")
    books
  }

  /** [[pqTopK]] against PRE-TRAINED codebooks (see [[loadPqIndex]]):
    * same ADC scoring kernel, no training jobs.
    */
  def pqTopKWithIndex(queries: DataFrame, corpus: DataFrame, k: Int,
                      books: Array[Array[(Long, Array[Float])]])
      : DataFrame = {
    // dimensions derive from the LOADED books, never a caller argument —
    // a disagreeing dim would silently truncate the driver-side dot
    // tables (wrong ranking) or stride past the centroid lanes. Shape is
    // VALIDATED first: an empty or ragged codebook must produce the same
    // descriptive failure style as the query-dim guard below, not a bare
    // NoSuchElementException / mis-strided scoring.
    require(books.nonEmpty && books.forall(_.nonEmpty),
      s"pqTopKWithIndex: codebooks must be non-empty (got m=${books.length}" +
      s"${if (books.exists(_.isEmpty)) ", with at least one empty book" else ""})" +
      " — retrain or reload the index")
    val subDim = books.head.head._2.length
    require(books.forall(_.forall(_._2.length == subDim)),
      s"pqTopKWithIndex: ragged codebooks — every centroid must have the " +
      s"same lane count (first book's first centroid has $subDim lanes)")
    val dim = subDim * books.length
    val qRows = collectInputs(Some(queries), corpus, seedN = 0)._1
    qRows.find(_._2.length != dim).foreach { case (id, v) =>
      throw new IllegalArgumentException(
        s"pqTopKWithIndex: query $id has dimension ${v.length}, the loaded " +
        s"index is ${books.length} subspaces x $subDim lanes = $dim")
    }
    val scoresCol = adcScoresCol(qRows, books, subDim)
    val qIds = lit(qRows.map(_._1))
    val scored = corpus
      .withColumn("__codes", pqCodesCol(books))
      .select(col("vec_id"), posexplode(scoresCol).as(Seq("qi", "cos_sim")))
      .select(element_at(qIds, col("qi") + 1).as("q_id"),
              col("vec_id"), col("cos_sim"))
    topKPerQuery(scored, k).withColumnRenamed("cos_sim", "adc_score")
  }

  private def pqIndexFingerprint(m: Int, codesPerBook: Int, iters: Int,
                                 dim: Int,
                                 books: Array[Array[(Long, Array[Float])]])
      : Long =
    indexFingerprint(
      Iterator(m.toLong, codesPerBook.toLong, iters.toLong, dim.toLong) ++
      books.iterator.flatMap(_.sortBy(_._1).iterator.flatMap {
        case (code, v) =>
          Iterator(code) ++
            v.iterator.map(f => java.lang.Float.floatToRawIntBits(f).toLong)
      }))

  /** What [[trainQuantizers]] returns: the query batch in vec_id order,
    * the coarse centroids and the PQ books — each empty when not asked for.
    */
  private final case class Trained(queries: Array[(Long, Array[Float])],
                                   centroids: Array[(Long, Array[Float])],
                                   books: Array[Array[(Long, Array[Float])]])

  /** The one quantizer trainer behind every k-means entry point: a coarse
    * k-means of `nCentroids` centroids and/or `m` PQ books of `codesPerBook`
    * codes over `dim/m`-lane subspaces (`pq = (m, codesPerBook)`), each
    * trained on `corpus` by `iters` rounds of [[fixedPointLloyd]], plus
    * the collected query batch when one is given.
    *
    * Each quantizer is looked up in [[TrainedArtifactCache]] ("centroids"
    * and "pq-books", keyed on the corpus and the quantizer's own config)
    * and stored under its own key, so a quantizer trained for one entry
    * point serves every other on the same corpus. When all hit, only the
    * query batch collects (no job at all without one). Otherwise ONE
    * collect brings the seed — the lowest-vec_id corpus rows, as many as
    * the largest missed `k`; a quantizer of k codes seeds from the first
    * k, code id = rank in vec_id order — with the query batch riding
    * along, and only the missed quantizers train, in one job per round.
    * The centroid relation and books are driver-small by construction
    * (every consumer ships them as plan literals), so they stay local
    * arrays between rounds.
    */
  private def trainQuantizers(corpus: DataFrame, queries: Option[DataFrame],
                              iters: Int, dim: Int,
                              nCentroids: Option[Int] = None,
                              pq: Option[(Int, Int)] = None): Trained = {
    pq.foreach { case (m, _) =>
      require(m >= 1 && dim % m == 0, s"dim $dim not divisible by m $m") }
    val centSlot = nCentroids.map(k => TrainedArtifactCache
      .slot[Array[(Long, Array[Float])]]("centroids", corpus, k, iters, dim))
    val bookSlot = pq.map { case (m, codes) => TrainedArtifactCache
      .slot[Array[Array[(Long, Array[Float])]]]("pq-books", corpus, m, codes, iters, dim) }
    val cachedCents = centSlot.flatMap(_.get)
    val cachedBooks = bookSlot.flatMap(_.get)
    val centMiss = nCentroids.filter(_ => cachedCents.isEmpty)
    val pqMiss = pq.filter(_ => cachedBooks.isEmpty)
    val seedN = (centMiss ++ pqMiss.map(_._2)).maxOption.getOrElse(0)
    val (qRows, seed) = collectInputs(queries, corpus, seedN)
    def init(k: Int) = seed.take(k).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val (cents, books) = fixedPointLloyd(corpus,
      centMiss.map(init),
      pqMiss.map { case (m, codes) =>
        val subDim = dim / m
        Array.tabulate(m) { s => init(codes).map { case (id, v) =>
          (id, v.slice(s * subDim, (s + 1) * subDim)) } } },
      iters, dim)
    Trained(qRows,
      cachedCents.orElse(centSlot.zip(cents).map { case (slot, c) => slot.put(c) })
        .getOrElse(Array.empty),
      cachedBooks.orElse(bookSlot.zip(books).map { case (slot, b) => slot.put(b) })
        .getOrElse(Array.empty))
  }

  /** The query batch and the `seedN` lowest-vec_id corpus embeddings, both
    * in vec_id order, in ONE collect: the two sides ride a side-tagged
    * union, so the seed never pays a scheduler round-trip of its own.
    * Either side may be absent (no queries; `seedN` = 0).
    */
  private def collectInputs(queries: Option[DataFrame], corpus: DataFrame,
                            seedN: Int)
      : (Array[(Long, Array[Float])], Array[Array[Float]]) = {
    def tagged(df: DataFrame, side: Int) =
      df.select(lit(side).as("__side"), col("vec_id"), col("embedding"))
    val sides = queries.map(tagged(_, 1)).toSeq ++ Option.when(seedN > 0)(
      tagged(corpus.select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(seedN), 0))
    val (q, s) = sides.reduceOption(_.unionAll(_))
      .fold(Array.empty[org.apache.spark.sql.Row])(_.collect())
      .partition(_.getInt(0) == 1)
    (q.map(r => (r.getLong(1), r.getSeq[Float](2).toArray)).sortBy(_._1),
     s.sortBy(_.getLong(1)).map(_.getSeq[Float](2).toArray))
  }

  /** `iters` fixed-point Lloyd rounds over every quantizer given an init
    * (see [[trainQuantizers]]) in ONE aggregate job per round, whatever is
    * trained: one corpus scan explodes each row into one (space, code,
    * lanes) sub-row per space — PQ subspace s < m with its
    * [[pqCodesCol]] code and `dim/m` lanes, the coarse space s = m with
    * its NearestCentroid cluster id and all `dim` lanes — and one
    * groupBy(space, code) computes every centroid update as the
    * [[kmeansCentroids]] fixed-point mean: each lane sums
    * `round(x · 10⁶)` as exact BIGINTs, divided once by `n · 10⁶`. Lane p
    * is guarded by `p <= size(sub)` (a PQ sub-row is narrower than the
    * widest space) and the driver cuts each space back to its width. A
    * group's arithmetic does not depend on which other spaces train
    * beside it, so a quantizer comes out bit-identical alone or together.
    * Aggregate state is (m·codesPerBook + nCentroids) groups × lanes,
    * never corpus-sized. Codes that lose all members in a round drop out
    * of their book — the twins' GROUP BY has the identical semantics.
    */
  private def fixedPointLloyd(corpus: DataFrame,
      cents: Option[Array[(Long, Array[Float])]],
      books: Option[Array[Array[(Long, Array[Float])]]],
      iters: Int, dim: Int)
      : (Option[Array[(Long, Array[Float])]], Option[Array[Array[(Long, Array[Float])]]]) = {
    val m = books.fold(0)(_.length)
    val subDim = if (m == 0) dim else dim / m
    val meanLanes = (1 to (if (cents.isDefined) dim else subDim)).map(p =>
      (sum(round(when(lit(p) <= size(col("sub")), element_at(col("sub"), p))
             * lit(1e6), 0).cast("long")).cast("double")
         / (count(lit(1)) * lit(1e6))).cast("float"))
    if (cents.isEmpty && books.isEmpty) (cents, books)
    else (1 to iters).foldLeft((cents, books)) { case ((cs, bs), _) =>
      val codes = bs.map(b => "__codes" -> pqCodesCol(b)) ++
        cs.map(c => "__coarse" -> nearestCentroidCol(c))
      val spaces = bs.toSeq.flatMap(_ => (0 until m).map { s =>
          struct(element_at(col("__codes"), s + 1).as("code"),
                 slice(col("embedding"), s * subDim + 1, subDim).as("sub")) }) ++
        cs.map(_ => struct(col("__coarse.cluster_id").as("code"),
                           col("embedding").as("sub")))
      val updated = corpus.withColumns(codes.toMap)
        .select(posexplode(array(spaces: _*)).as(Seq("s", "sc")))
        .select(col("s"), col("sc.code").as("code"), col("sc.sub").as("sub"))
        .groupBy(col("s"), col("code"))
        .agg(array(meanLanes: _*).as("centroid"))
        .collect().groupBy(_.getInt(0))
      // null-safe lane read: slots past a PQ sub-row's width are null
      def book(s: Int, width: Int) = updated.getOrElse(s, Array.empty)
        .map(r => (r.getLong(1),
                   r.getSeq[java.lang.Float](2).take(width).map(_.floatValue).toArray))
        .sortBy(_._1)
      (cs.map(_ => book(m, dim)), bs.map(_ => Array.tabulate(m)(book(_, subDim))))
    }
  }

  /** Nearest-centroid assignment as a pure map-side PROJECTION: the
    * centroid table is driver-small by construction (it is the thing every
    * formulation collects for broadcast anyway), so instead of
    * crossJoin(broadcast) + argmax-aggregate — k× row expansion, a
    * SortAggregate, and a shuffle — the k cosines and the running argmax
    * are compiled into one codegen'd expression chain over centroid
    * LITERALS (the [[org.apache.spark.sql.graft.VectorExpressions
    * .SignLshBuckets]] pattern: small reference data rides in the plan, the
    * corpus is touched exactly once, nothing shuffles). At 100 TB this is
    * the difference between a scan-shaped assignment and a corpus-wide
    * aggregate per Lloyd round; locally it removes ~3 jobs + a broadcast
    * per round (ivf_assign 2.2 → ~0.9 s at sf0.1).
    *
    * Ties break on lower cluster_id: the kernel tests strict `>` in
    * ascending cluster order, so the first maximum wins. The cosine is
    * rounded to 6 decimals before the argmax — the engine-portability
    * trick every oracle'd cosine comparison here uses. The kernel is one
    * expression node at any centroid count. Returns
    * (vec_id, cluster_id, cos_sim, embedding).
    */
  private def argmaxAssignLocal(vectors: DataFrame,
                                cents: Array[(Long, Array[Float])]): DataFrame =
    vectors.select(col("vec_id"), nearestCentroidCol(cents).as("__nc"), col("embedding"))
      .select(col("vec_id"),
              col("__nc.cluster_id").as("cluster_id"),
              col("__nc.cos_sim").as("cos_sim"),
              col("embedding"))

  /** ONE codegen'd primitive loop per row ([[org.apache.spark.sql.graft
    * .NearestCentroid]] — centroids as a codegen reference object): k
    * rounded cosines, running argmax, ties → lowest cluster_id (`cents`
    * sorted ascending). Replaces a composed array/array_max/array_position
    * triple, whose three array references re-evaluated the k 64-lane
    * cosines up to 3× per row (measured 0.44 → 0.19 s on the sf0.1
    * assignment stage); value parity with the composed form is pinned in
    * GraftExpressionsSpec (identical accumulation order, identical
    * BigDecimal HALF_UP rounding). A struct of (cluster_id, cos_sim).
    */
  private def nearestCentroidCol(cents: Array[(Long, Array[Float])]): Column =
    org.apache.spark.sql.graft.VectorExpressions.nearestCentroid(
      col("embedding"), cents.map(_._1), cents.map(_._2))

  /** Per-vector IVF assignment surface — (vec_id, cluster_id, cos_sim):
    * [[kmeansCentroids]] then one argmax pass that also emits the winning
    * (rounded) cosine. This is the driver-oracle face of the IVF family: the
    * fixed-point centroid arithmetic makes every step engine-portable, so a
    * DuckDB twin reproduces k-means init → Lloyd update → assignment and
    * hash-matches exactly (the `ivf_assign` catalog row) — the correctness
    * pin for the machinery [[ivfTopK]] composes.
    */
  def ivfAssignments(corpus: DataFrame, nCentroids: Int, iters: Int,
                     dim: Int = 64): DataFrame = {
    val centroids = trainQuantizers(corpus, None, iters, dim,
                                    nCentroids = Some(nCentroids)).centroids
    // One literal-projection argmax pass — scan-shaped, no join, no shuffle,
    // and deliberately UNSORTED: an assignment table is a join input, not a
    // report, and a global range sort here would add a bounds-sampling job
    // plus an exchange that every downstream consumer re-partitions away
    // anyway. Presentation ordering belongs to the caller (the `ivf_assign`
    // catalog row applies the standard report-bound TakeOrdered, which
    // top-Ks inside the scan stage — no sampling pass at any scale).
    argmaxAssignLocal(corpus, centroids)
      .select(col("vec_id"), col("cluster_id"), col("cos_sim"))
  }

  /** Assign-only incremental index maintenance — the APPEND half of the
    * index lifecycle: a NEW corpus batch is assigned against a LOADED
    * index's centroids ([[loadIvfIndex]]) without retraining, and the
    * result unions into the existing posting relation (the
    * `incremental_dedup_check` convention applied to ANN). Because the
    * argmax kernel reads only the centroid array, assign-only over
    * unchanged centroids is identical to a full-rebuild assignment —
    * spec-pinned in SimilaritySpec and hash-pinned by the
    * `ivf_incremental_assign` catalog row. Scale shape: one scan-shaped
    * codegen argmax pass over the batch, centroids ride as a broadcast
    * literal; no shuffle, no training job chain.
    */
  def ivfAssignWithIndex(batch: DataFrame,
                         cents: Array[(Long, Array[Float])]): DataFrame = {
    require(cents.nonEmpty,
      "ivfAssignWithIndex: empty centroid index — retrain or reload")
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      s"ivfAssignWithIndex: ragged centroid index (first centroid has " +
      s"$dim lanes)")
    // batch vectors are distributed, so the loaded-index dim guard runs
    // IN-PLAN (the raise_error convention) — a short vector must not
    // silently assign on a truncated cosine, a long one must not AIOOBE
    val guarded = batch.filter(
      when(size(col("embedding")) === dim, lit(true))
        .otherwise(raise_error(concat(
          lit("ivfAssignWithIndex: batch vector "),
          col("vec_id").cast("string"), lit(" has dimension "),
          size(col("embedding")).cast("string"),
          lit(s", the loaded index is $dim-dimensional"))).isNull))
    argmaxAssignLocal(guarded, cents)
      .select(col("vec_id"), col("cluster_id"), col("cos_sim"))
  }

  /** Approximate NN via IVF (inverted-file index): cluster the corpus with
    * [[kmeansCentroids]], assign each corpus vector to its nearest centroid,
    * probe each query's `nProbe` nearest clusters, and exact-rescore only
    * the vectors in probed clusters. The 100 TB shape: the centroid table is
    * broadcast metadata, the corpus assignment is the partitioning key
    * (cluster-partitioned layout on disk), and a query touches
    * `nProbe / nCentroids` of the corpus instead of all of it.
    *
    * The k-means + assignment machinery is hash-pinned by the `ivf_assign`
    * catalog row (fixed-point centroid arithmetic — see [[kmeansCentroids]]);
    * the composed top-k surface is recall-bounded in SimilaritySpec against
    * exact top-k, and the hash-checked catalog scale paths stay
    * [[lshNearDupPairs]]/[[annTopK]].
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 3): DataFrame = {
    // driver-side query batch + centroid array in one fused collect:
    // every consumer below reads them job-free
    val Trained(qRows, cents, _) = trainQuantizers(corpus, Some(queries), iters,
      dim = 64, nCentroids = Some(nCentroids))
    ivfTopKScore(qRows, corpus, k, nProbe, cents)
  }

  /** [[ivfTopK]] against a PRE-TRAINED centroid index (see
    * [[loadIvfIndex]]): same scoring pipeline, no training job chain —
    * the serving shape of a pipeline that persists its index once and
    * loads it per job.
    */
  def ivfTopKWithIndex(queries: DataFrame, corpus: DataFrame, k: Int,
                       nProbe: Int,
                       cents: Array[(Long, Array[Float])]): DataFrame = {
    val qRows = collectInputs(Some(queries), corpus, seedN = 0)._1
    // queries must match the loaded index's dimension — a shorter vector
    // would silently probe/score on truncated cosines, a longer one AIOOBE
    val dim = cents.head._2.length
    qRows.find(_._2.length != dim).foreach { case (id, v) =>
      throw new IllegalArgumentException(
        s"ivfTopKWithIndex: query $id has dimension ${v.length}, the " +
        s"loaded index is $dim-dimensional")
    }
    ivfTopKScore(qRows, corpus, k, nProbe, cents)
  }

  private def ivfTopKScore(qRows: Array[(Long, Array[Float])],
                           corpus: DataFrame, k: Int, nProbe: Int,
                           cents: Array[(Long, Array[Float])]): DataFrame = {
    val corpusIdx = argmaxAssignLocal(corpus, cents)
    // Queries ride as plan literals (the pqTopK/ivfpqTopK convention —
    // a query batch is driver-small by construction in the serving shape
    // this models): probes rank driver-side with the exact rounded-cosine
    // twin of the executor kernel, and the rescore is one fused corpus
    // scan — literal-cosine posexplode + probed-cluster filter +
    // partial-agg top-k. Scores are bit-identical to the former
    // queryIdx ⋈ corpusIdx join form (same kernel, IEEE-commutative
    // operands), so catalog hashes are unchanged; the join form cost 7
    // more scheduler round-trips at the bench profile (1.33 → ~0.7 s at
    // sf0.1). At a query volume too large for plan literals, fall back to
    // the broadcast-join form ([[cosineTopK]]'s scale note applies).
    val probed = probedClusters(qRows, cents, nProbe)
    val qIds = lit(qRows.map(_._1))
    val probedLit = typedLit(probed)
    val cosArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      qRows.map { case (_, qv) =>
        round(cosineSim(lit(qv), col("embedding")), 6) }): _*)
    val scored = corpusIdx
      .select(col("vec_id"), col("cluster_id"),
              posexplode(cosArr).as(Seq("qi", "cos_sim")))
      .filter(array_contains(
        element_at(probedLit, (col("qi") + 1).cast("int")), col("cluster_id")))
      .select(element_at(qIds, col("qi") + 1).as("q_id"),
              col("vec_id"), col("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Each query's `nProbe` nearest clusters, ranked driver-side with the
    * exact rounded-cosine twin of the executor kernel (ties → lower id).
    */
  private def probedClusters(qRows: Array[(Long, Array[Float])],
                             cents: Array[(Long, Array[Float])],
                             nProbe: Int): Seq[Seq[Long]] =
    qRows.toSeq.map { case (_, qv) =>
      cents.map { case (cid, cv) => (cid, roundedLocal(cosLocal(qv, cv))) }
        .sortBy { case (cid, cs) => (-cs, cid) }.take(nProbe).map(_._1).toSeq
    }

  /** Per-query recall of the IVF-probed top-k against the exact brute-force
    * top-k, in ONE corpus action: the exact cosine of every (query, corpus)
    * pair is computed once — it IS both the ground-truth score and the IVF
    * rescore ([[ivfTopK]] scores probed candidates with the identical
    * kernel) — and a single partial-agg pass keeps BOTH top-k lists per
    * query: the overall one, and one where non-probed candidates are
    * demoted to a −2 sentinel (below any cosine) and filtered after, which
    * reproduces ivfTopK's probed-only ranking exactly (ties and all). The
    * former two-sided form — a full [[cosineTopK]] action, a full
    * [[ivfTopK]] action, and an outer-join — paid the k-means job chain
    * twice plus three more scheduler round-trips for byte-identical
    * output. Returns (q_id, n_exact, n_hit, recall), unordered.
    */
  def ivfRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 3): DataFrame = {
    val Trained(qRows, cents, _) = trainQuantizers(corpus, Some(queries), iters,
      dim = 64, nCentroids = Some(nCentroids))
    val corpusIdx = argmaxAssignLocal(corpus, cents)
    val probed = probedClusters(qRows, cents, nProbe)
    val qIds = lit(qRows.map(_._1))
    val probedLit = typedLit(probed)
    val cosArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      qRows.map { case (_, qv) =>
        round(cosineSim(lit(qv), col("embedding")), 6) }): _*)
    val scored = corpusIdx
      .select(col("vec_id"), col("cluster_id"),
              posexplode(cosArr).as(Seq("qi", "cos_sim")))
      .select(col("qi"), col("vec_id"), col("cos_sim"),
              when(array_contains(
                     element_at(probedLit, (col("qi") + 1).cast("int")),
                     col("cluster_id")),
                   col("cos_sim")).otherwise(lit(-2.0)).as("approx_score"))
    dualTopKRecall(scored, qIds, k)
  }

  /** Shared recall tail: (qi, vec_id, cos_sim, approx_score) → per-query
    * (q_id, n_exact, n_hit, recall) in ONE partial-agg pass holding both
    * top-k lists. `approx_score` is the approximate method's ranking score
    * with non-candidates demoted to the −2 sentinel (below any cosine or
    * ADC value, both ≥ −1 by Cauchy–Schwarz); sentinel entries pad the
    * approximate list only when fewer than k candidates exist and are
    * filtered before the id intersection — reproducing the method's
    * candidates-only ranking exactly, ties and all.
    */
  private def dualTopKRecall(scored: DataFrame, qIds: Column, k: Int): DataFrame = {
    def topk(id: Column, s: Column) =
      org.apache.spark.sql.graft.TopKPairsAgg.topkPairs(k, id, s)
    scored.groupBy(col("qi"))
      .agg(topk(col("vec_id"), col("cos_sim")).as("tk_exact"),
           topk(col("vec_id"), col("approx_score")).as("tk_approx"))
      .select(
        element_at(qIds, col("qi") + 1).as("q_id"),
        size(col("tk_exact")).cast("long").as("n_exact"),
        size(array_intersect(
          expr("transform(tk_exact, e -> e._1)"),
          expr("transform(filter(tk_approx, e -> e._2 > -1.5D), e -> e._1)")))
          .cast("long").as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
  }

  /** Per-query recall of the PQ ADC top-k against the exact brute-force
    * top-k in ONE corpus action ([[ivfRecall]]'s fusion applied to the PQ
    * surface): the scan computes each row's codes → all-query ADC scores
    * AND the exact all-query cosines (both map-side projections), and one
    * partial-agg pass keeps both top-k lists. Returns
    * (q_id, n_exact, n_hit, recall), unordered.
    */
  def pqRecall(queries: DataFrame, corpus: DataFrame, k: Int,
               m: Int = 16, codesPerBook: Int = 16, iters: Int = 1,
               dim: Int = 64): DataFrame = {
    val subDim = dim / m
    val Trained(qRows, _, books) = trainQuantizers(corpus, Some(queries), iters,
      dim, pq = Some((m, codesPerBook)))
    val scoresCol = adcScoresCol(qRows, books, subDim)
    val qIds = lit(qRows.map(_._1))
    val cosArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      qRows.map { case (_, qv) =>
        round(cosineSim(lit(qv), col("embedding")), 6) }): _*)
    // __exact rides the generate as a once-per-input-row array; the
    // exploded rows then index it — NOT re-evaluate it per (row, query)
    val scored = corpus
      .withColumn("__codes", pqCodesCol(books))
      .select(col("vec_id"), cosArr.as("__exact"),
              posexplode(scoresCol).as(Seq("qi", "approx_score")))
      .select(col("qi"), col("vec_id"),
              element_at(col("__exact"), col("qi") + 1).as("cos_sim"),
              col("approx_score"))
    dualTopKRecall(scored, qIds, k)
  }

  /** Per-query recall of the composed IVFPQ top-k against the exact
    * brute-force top-k in ONE corpus action: codes, all-query ADC scores,
    * coarse cluster, probed-cluster sentinel demotion, and the exact
    * cosines all ride the same scan. Returns (q_id, n_exact, n_hit,
    * recall), unordered.
    */
  def ivfpqRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                  nCentroids: Int = 16, nProbe: Int = 4,
                  m: Int = 16, codesPerBook: Int = 16, iters: Int = 1,
                  dim: Int = 64): DataFrame = {
    val subDim = dim / m
    // the missed quantizers train in ONE job per round; on full memo
    // hits only the query batch collects
    val Trained(qRows, cents, books) = trainQuantizers(corpus, Some(queries),
      iters, dim, nCentroids = Some(nCentroids), pq = Some((m, codesPerBook)))
    val corpusIdx = argmaxAssignLocal(corpus, cents)
    val probed = probedClusters(qRows, cents, nProbe)
    val scoresCol = adcScoresCol(qRows, books, subDim)
    val qIds = lit(qRows.map(_._1))
    val probedLit = typedLit(probed)
    val cosArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      qRows.map { case (_, qv) =>
        round(cosineSim(lit(qv), col("embedding")), 6) }): _*)
    val scored = corpusIdx
      .withColumn("__codes", pqCodesCol(books))
      .select(col("vec_id"), col("cluster_id"), cosArr.as("__exact"),
              posexplode(scoresCol).as(Seq("qi", "adc")))
      .select(col("qi"), col("vec_id"),
              element_at(col("__exact"), col("qi") + 1).as("cos_sim"),
              when(array_contains(
                     element_at(probedLit, (col("qi") + 1).cast("int")),
                     col("cluster_id")),
                   col("adc")).otherwise(lit(-2.0)).as("approx_score"))
    dualTopKRecall(scored, qIds, k)
  }

  /** Product-quantization codebooks (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): the `dim`-dim embedding space is
    * split into `m` contiguous subspaces of `dim/m` lanes; each subspace gets
    * its own `k`-entry codebook trained by the same fixed-point Lloyd update
    * as [[kmeansCentroids]] (exact BIGINT lane sums → engine-portable
    * centroids), with rounded-cosine argmax as the subspace assignment metric
    * so every primitive is one the DuckDB twins already hash-pin.
    *
    * Trained by [[trainQuantizers]]: ONE collect seeds all `m` books (the
    * k lowest vec_ids, sliced driver-side), and each Lloyd round is ONE
    * job — a map-side posexplode to (subspace, code, subvector) rows and a
    * single partial-agg fixed-point mean grouped by (subspace, code).
    * Shuffle ∝ m·k·subDim aggregate lanes, never corpus-sized; the corpus
    * is scanned once per round regardless of m. The books are cached per
    * corpus and shared with every PQ and IVFPQ entry point.
    *
    * Returns one book per subspace: (code id, centroid) sorted by id.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, k: Int, iters: Int,
                  dim: Int = 64): Array[Array[(Long, Array[Float])]] =
    trainQuantizers(corpus, None, iters, dim, pq = Some((m, k))).books

  /** All `m` subspace codes in one expression node ([[org.apache.spark.sql
    * .graft.PqEncodeCodes]]): rounded-cosine argmax per subspace, ties →
    * lowest code. (The first cut built this as m·k `round(cosineSim(slice))`
    * literal-argmax columns — hash-identical, but the 256-node tree cost
    * more in analysis + codegen than the whole sf0.1 corpus scan: pq_codes
    * 3.2 s vs DuckDB 0.55. One kernel node makes the plan constant-size in
    * m·k.)
    */
  private def pqCodesCol(books: Array[Array[(Long, Array[Float])]]): Column =
    org.apache.spark.sql.graft.VectorExpressions.pqEncodeCodes(
      col("embedding"), books.map(_.map(_._2)), books.map(_.map(_._1)))

  /** PQ encoding surface — (vec_id, c0..c{m-1}): each corpus vector reduced
    * to `m` small code ids, one kernel projection. Pure map-side (no join,
    * no shuffle); at 100 TB this is the column a PQ index persists —
    * m·log₂k bits/vector vs 256 bytes for the raw float[64].
    */
  def pqEncode(corpus: DataFrame, books: Array[Array[(Long, Array[Float])]],
               dim: Int = 64): DataFrame =
    corpus.withColumn("__codes", pqCodesCol(books))
      .select(col("vec_id") +: books.indices.map(s =>
        element_at(col("__codes"), s + 1).as(s"c$s")): _*)

  /** Approximate NN via PQ asymmetric distance computation (the ADC of
    * Jégou et al. adapted to cosine): queries stay full-precision; each
    * corpus vector is its `m` codes, and the score is the exact cosine
    * between the query and the RECONSTRUCTION v̂ = (c_{code_0},…,c_{code_m}):
    *
    *   score = Σ_s dot(q_s, c_s) / (‖q‖ · sqrt(Σ_s ‖c_s‖²))
    *
    * assembled entirely from per-(subspace, code) lookup tables — rounded
    * subvector dot products and rounded codeword norm² — computed
    * driver-side and shipped as plan literals, plus the rounded query norm.
    * (An equal-weight Σ_s cos(q_s, c_s) surrogate was tried first and
    * measured recall 0.10 vs exact top-5 at sf0.001; discarding the
    * subspace norms flattens exactly the magnitude structure the ranking
    * needs. The true-reconstruction cosine reweights each subspace by its
    * codeword norm for free — same table machinery.)
    *
    * Defaults from a (m, k, iters) recall sweep vs exact top-5 at
    * sf0.001/sf0.01 (near-uniform synthetic embeddings —
    * PQ's worst case, no cluster structure): recall tracks code bits
    * m·log₂k almost regardless of how they're split — 4×16/16 bits 0.10 /
    * 0.13, 8×16/32 bits 0.18 / 0.18, 16×16/64 bits 0.28 / 0.35, with
    * extra Lloyd rounds worth ≤0.05 everywhere (uniform data has no
    * centroid structure to converge to). 16 subspaces × 16 codes × one
    * round is the knee; real clustered embeddings sit well above this
    * floor at the same bit budget.
    *
    * 100 TB shape: codebooks + tables are driver-small by construction
    * (m·k centroids / Q·m·k doubles); the corpus pass is two fused narrow
    * projections (codes, then table lookups) with NO embedding arithmetic —
    * the m·k dot products per row collapse to m array indexings — and
    * ranking is the partial-aggregating [[org.apache.spark.sql.graft.TopKPairsAgg]], so the shuffle
    * carries ≤ k·tasks rows per query (see [[cosineTopK]]'s scale note).
    *
    * Every table entry replicates Spark's `round(_, 6)` exactly
    * (BigDecimal HALF_UP — [[roundedLocal]]); the downstream +, *, sqrt, /
    * are IEEE-defined on identical doubles in any engine, and the final
    * score is rounded again, so the DuckDB twin reproduces the ranking
    * bit-for-bit (the `pq_ann_topk` row).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 16, codesPerBook: Int = 16, iters: Int = 1,
             dim: Int = 64): DataFrame = {
    val subDim = dim / m
    val Trained(qRows, _, books) = trainQuantizers(corpus, Some(queries), iters,
      dim, pq = Some((m, codesPerBook)))
    // one kernel node per stage — codes, then all-query ADC scores
    // ([[org.apache.spark.sql.graft.PqAdcScores]]); the per-query explode
    // indexes a literal q_id array by score position
    val scoresCol = adcScoresCol(qRows, books, subDim)
    val qIds = lit(qRows.map(_._1))
    val scored = corpus
      .withColumn("__codes", pqCodesCol(books))
      .select(col("vec_id"), posexplode(scoresCol).as(Seq("qi", "cos_sim")))
      .select(element_at(qIds, col("qi") + 1).as("q_id"),
              col("vec_id"), col("cos_sim"))
    topKPerQuery(scored, k).withColumnRenamed("cos_sim", "adc_score")
  }

  /** All-query ADC score array for a `__codes` row: the driver-side dot /
    * norm² tables ([[pqTopK]]'s scaladoc) baked into one
    * [[org.apache.spark.sql.graft.VectorExpressions.pqAdcScores]] kernel.
    */
  private def adcScoresCol(qRows: Array[(Long, Array[Float])],
                           books: Array[Array[(Long, Array[Float])]],
                           subDim: Int): Column = {
    // query-independent codeword norm² tables, one per subspace
    val n2Tabs: Array[Array[Double]] = books.map(_.map { case (_, c) =>
      roundedLocal(dotLocal(c, c)) })
    // per-query subvector dot tables + rounded query norm
    val dotTabs: Array[(Double, Array[Array[Double]])] =
      qRows.map { case (_, qv) =>
        val qn = roundedLocal(math.sqrt(dotLocal(qv, qv)))
        (qn, books.zipWithIndex.map { case (book, s) =>
          val qSub = qv.slice(s * subDim, (s + 1) * subDim)
          book.map { case (_, c) => roundedLocal(dotLocal(qSub, c)) }
        })
      }
    org.apache.spark.sql.graft.VectorExpressions.pqAdcScores(
      col("__codes"), books.map(_.map(_._1)),
      dotTabs.map(_._2), n2Tabs, dotTabs.map(_._1))
  }

  /** IVF + PQ composed (the IVFPQ index of Jégou et al. as deployed in
    * inverted-file ANN services): the coarse quantizer prunes candidates —
    * a query scores only corpus vectors in its `nProbe` probed clusters —
    * and PQ asymmetric distance replaces exact scoring inside them. Both
    * halves are the already-hash-pinned machineries ([[ivfTopK]]'s
    * fixed-point coarse k-means + assignment, [[pqTopK]]'s books, codes and
    * ADC tables) composed without new arithmetic, so the result is exactly
    * reproducible relationally (the `ivfpq_ann_topk` row).
    *
    * Query probes are ranked driver-side with the identical rounded-cosine
    * (the [[roundedLocal]]/[[cosLocal]] twins of the executor kernel) and
    * shipped as one literal array-of-arrays; the candidate restriction is a
    * filter on `cluster_id ∈ probed(q)`. 100 TB shape: `cluster_id` is the
    * corpus partitioning column, so that filter IS partition pruning — a
    * query reads nProbe/nCentroids of the corpus from disk; the local form
    * keeps one fused scan (codes → ADC scores → probe filter → partial-agg
    * top-k) with the filter bounding what reaches the k·tasks-row shuffle.
    */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 16, codesPerBook: Int = 16, iters: Int = 1,
                dim: Int = 64): DataFrame = {
    val subDim = dim / m
    // one collect feeds the query batch AND the missed quantizers' seeds
    // (coarse k-means wants the nCentroids lowest vec_ids, PQ the
    // codesPerBook lowest — prefixes of the same sorted seed); they train
    // in ONE job per round, and on full memo hits only the query batch
    // collects
    val Trained(qRows, cents, books) = trainQuantizers(corpus, Some(queries),
      iters, dim, nCentroids = Some(nCentroids), pq = Some((m, codesPerBook)))
    val corpusIdx = argmaxAssignLocal(corpus, cents)
    val probed = probedClusters(qRows, cents, nProbe)
    val scoresCol = adcScoresCol(qRows, books, subDim)
    val qIds = lit(qRows.map(_._1))
    val probedLit = typedLit(probed)
    val scored = corpusIdx
      .withColumn("__codes", pqCodesCol(books))
      .select(col("vec_id"), col("cluster_id"),
              posexplode(scoresCol).as(Seq("qi", "cos_sim")))
      .filter(array_contains(
        element_at(probedLit, (col("qi") + 1).cast("int")), col("cluster_id")))
      .select(element_at(qIds, col("qi") + 1).as("q_id"),
              col("vec_id"), col("cos_sim"))
    topKPerQuery(scored, k).withColumnRenamed("cos_sim", "adc_score")
  }

  /** Driver-side twin of [[org.apache.spark.sql.graft.VectorExpressions
    * .CosineSimilarity]]: one loop accumulating dot/na/nb, then
    * `dot / (sqrt(na)·sqrt(nb))` — the association order is part of the
    * hash-pinned contract.
    */
  private[graft] def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Sequential double dot product — the same loop order as
    * [[org.apache.spark.sql.graft.VectorExpressions.CosineSimilarity]] (and,
    * empirically pinned by every rounded-cosine catalog row, as DuckDB's
    * list arithmetic).
    */
  private def dotLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    dot
  }

  /** Driver-side twin of Spark's `round(_, 6)` on DoubleType — one shared
    * implementation with the executor kernels.
    */
  private[graft] def roundedLocal(x: Double): Double =
    org.apache.spark.sql.graft.PqUtil.round6(x)

  /** Approximate NN via multi-table sign-LSH: `nTables` independent hash
    * tables of `bitsPerTable` sign bits each; a corpus vector is a candidate
    * when it collides with the query in *any* table (union-of-tables is the
    * standard recall amplifier — one wide table recalls almost nothing on
    * near-uniform embeddings). Equi-join on (table, bucket) replaces the
    * cross join; candidates are deduped before scoring so each pair pays the
    * cosine once. This is the IVF/LSH 100 TB path.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nTables: Int = 8, bitsPerTable: Int = 4, dim: Int = 64): DataFrame = {
    val qb = broadcast(signBuckets(queries, nTables, bitsPerTable, dim)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              col("t"), col("bucket")))
    val cands = signBuckets(corpus, nTables, bitsPerTable, dim)
      .join(qb, Seq("t", "bucket"))
      .select(col("q_id"), col("q_emb"), col("vec_id"), col("embedding"))
      .dropDuplicates("q_id", "vec_id")
    val scored = cands.select(col("q_id"), col("vec_id"),
        round(cosineSim(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Mutual-kNN graph audit: build the directed k-nearest-neighbor graph
    * over an embedding set (exact cosine, the [[cosineTopK]] kernel with
    * the corpus as its own query set) and report its symmetry structure —
    * node count, directed edge count, MUTUAL pair count (a↔b both in each
    * other's top-k), and the mean rank-1 / mean top-k cosine. Mutuality is
    * the standard embedding-health probe: hubness (a few vectors in
    * everyone's top-k that reciprocate almost nothing) shows up as a low
    * mutual fraction long before any downstream ANN recall number moves
    * (Radovanović et al. 2010).
    *
    * Quadratic BY DESIGN, like [[nearDupPairs]]: the all-pairs scoring is
    * the exact baseline, deployed over a bounded audit slice next to the
    * ANN path at scale (the catalog face runs a deterministic half-slice);
    * for a full-corpus graph at 100 TB the edge list composes from
    * [[ivfTopK]]/[[annTopK]] instead — this op's aggregate tail is
    * edge-bounded (n·k rows) either way. The pairs scan itself streams
    * map-side against a broadcast of the (small, audit-sized) node set;
    * ranking is the partial-aggregating [[org.apache.spark.sql.graft.TopKPairsAgg]]; the mutual join
    * and the final means run on the n·k edge relation, which is
    * localCheckpointed once and read three times (edge count via the
    * mutual join's build side, rank-1 head, micro-cosine sums).
    *
    * Determinism: cosines are the rounded-6 convention; their SUMS move as
    * exact micro-units (round(cos·10⁶) BIGINT — rounded-double addition
    * is order-sensitive in the last ulp, integer addition is not), divided
    * back to doubles only in the single-row final projection. Rank-1 per
    * node = row_number over (cos desc, dst asc) on the edge relation —
    * the k-boundary and rank ties both carry the pinned total order.
    *
    * Emits one row: (n_nodes, n_edges, n_mutual_pairs, mean_top1_cos,
    * mean_topk_cos).
    */
  /** Caller contract for [[knnGraphStats]]: the input is a FIXED AUDIT
    * SAMPLE, never the corpus — the op is O(n²) by design (exact mutual-kNN
    * ground truth) and its `repartition(defaultParallelism)` round-robins
    * the sampled side, which is only acceptable because n is bounded by
    * this budget. The knn_mutual_graph catalog row draws exactly this many
    * vectors (md5-ordered — a deterministic uniform draw).
    */
  val KnnAuditBudget: Int = 1000

  /** Edge ceiling for [[knnGraphStats]]' driver-complete report tail. */
  val KnnDriverEdgeLimit = 4000000L

  def knnGraphStats(embeddings: DataFrame, k: Int): DataFrame = {
    // materialize the node set once — it feeds both the broadcast build and
    // the probe scan (an un-checkpointed sample would re-run its upstream
    // plan, e.g. a TakeOrdered draw, for each consumer) — and spread the
    // probe side across the session's cores: a limit/sample upstream
    // arrives as ONE partition, which would serialize the whole O(n²)
    // scoring scan onto a single task (measured: 14 single-task stages
    // before, the pairs stage alone ~1 s; scan parallelism is the entire
    // point of the broadcast design)
    val spark = embeddings.sparkSession
    val nodes = embeddings.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val right = broadcast(nodes
      .select(col("vec_id").as("dst"), col("embedding").as("emb_b")))
    val scored = nodes
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id").as("q_id"), col("embedding"))
      .crossJoin(right)
      .filter(col("q_id") =!= col("dst"))
      .select(col("q_id"), col("dst").as("vec_id"),
              round(cosineSim(col("embedding"), col("emb_b")), 6).as("cos_sim"))
    val edges = topKPerQuery(scored, k)
      .withColumn("cos_u", round(col("cos_sim") * 1e6).cast("long"))
      .localCheckpoint()
    // Distributed report tail — the fallback shape past the driver bound,
    // and the semantics reference the driver tail below mirrors exactly.
    def distTail(e: DataFrame): DataFrame = {
      val mutual = e.select(col("q_id").as("a"), col("vec_id").as("b"))
        .join(e.select(col("vec_id").as("a"), col("q_id").as("b")),
              Seq("a", "b"))
        .agg((count(lit(1)) / 2).cast("long").as("n_mutual_pairs"))
      val top1 = e
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rk") === 1)
        .agg(sum(col("cos_u")).as("s1"), count(lit(1)).as("n1"))
      e.agg(count(lit(1)).as("n_edges"),
            countDistinct(col("q_id")).as("n_nodes"),
            sum(col("cos_u")).as("sk"))
        .crossJoin(mutual).crossJoin(top1)
        .select(col("n_nodes"), col("n_edges"), col("n_mutual_pairs"),
          round(col("s1").cast("double") / (col("n1").cast("double") * 1e6), 6)
            .as("mean_top1_cos"),
          round(col("sk").cast("double") / (col("n_edges").cast("double") * 1e6), 6)
            .as("mean_topk_cos"))
    }
    // Driver-complete report tail: the edge relation is n·k rows — bounded
    // by the audit-sample caller contract ([[KnnAuditBudget]]), orders of
    // magnitude under this probe bound — yet the relational tail pays a
    // self-join, a window, three aggregates and two cross-joins for a
    // 1-row report. Below the bound the checkpointed edges collect ONCE and
    // mutuality/rank-1/means fold in driver longs + doubles mirroring the
    // column chain exactly (same IEEE op order, BigDecimal HALF_UP at 6;
    // SimilaritySpec pins driver ≡ distributed bit-identity). Past it: the
    // distributed tail over the same checkpoint, the probe's bounded
    // collect being the usual guard cost.
    val probe = DriverTail.collectWithin(edges, KnnDriverEdgeLimit) match {
      case Some(rows) => rows
      case None => return distTail(edges)
    }
    val nEdges = probe.length.toLong
    val nNodes = probe.iterator.filter(!_.isNullAt(0))
      .map(_.getLong(0)).toSet.size.toLong
    def sumU(rows: Iterator[org.apache.spark.sql.Row]): Option[Long] = {
      var any = false; var s = 0L
      rows.foreach { r => if (!r.isNullAt(3)) { any = true; s += r.getLong(3) } }
      if (any) Some(s) else None
    }
    val sk = sumU(probe.iterator)
    // mutual pairs: (a,b) joined against the reversed edge multiset on key
    // equality (inner join — NULL keys never match), then count/2 through
    // the same double Divide + long cast the column chain performs
    def key(r: org.apache.spark.sql.Row, i: Int, j: Int): Option[(Long, Long)] =
      if (r.isNullAt(i) || r.isNullAt(j)) None
      else Some((r.getLong(i), r.getLong(j)))
    val fwd = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    probe.foreach(r => key(r, 0, 1).foreach(k0 =>
      fwd.update(k0, fwd.getOrElse(k0, 0L) + 1L)))
    var matches = 0L
    probe.foreach(r => key(r, 1, 0).foreach(k0 =>
      matches += fwd.getOrElse(k0, 0L)))
    val nMutual = (matches.toDouble / 2.0).toLong
    // rank-1 per q_id group (window partitions include the NULL-q_id group,
    // matching partitionBy semantics): first by cos_sim desc NULLS LAST,
    // then vec_id asc NULLS FIRST
    val byQ = probe.groupBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val rank1 = byQ.valuesIterator.map(_.minBy { r =>
      (if (r.isNullAt(2)) (1, 0.0) else (0, -r.getDouble(2)),
       if (r.isNullAt(1)) (0, 0L) else (1, r.getLong(1)))
    }).toSeq
    val s1 = sumU(rank1.iterator)
    val n1 = rank1.length.toLong
    def meanOf(s: Option[Long], denom: Long): Any = s match {
      case Some(v) => DriverTail.round6(v.toDouble / (denom.toDouble * 1e6)): java.lang.Double
      case None => null
    }
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        nNodes, nEdges, nMutual, meanOf(s1, n1), meanOf(sk, nEdges))),
      distTail(edges).schema)
  }
  /** Fisher class-scatter decomposition of an embedding corpus by label
    * (Fisher 1936's discriminant ratio at corpus grain): per class the
    * within-class sum of squares Σ|x − μ_c|², the between-class
    * contribution n_c·|μ_c − μ|², and their ratio — the "are my sources /
    * quality tiers actually separable in embedding space" screen a
    * curation pipeline runs before trusting any embedding-based filter.
    *
    * Exactness/portability: everything that AGGREGATES is exact — 64
    * fixed-point lane sums (round(x·10⁶) BIGINTs, the [[kmeansCentroids]]
    * convention), one decimal(38,0) Σ|x|² accumulator (per-row squared
    * norms reach 2⁵⁴, corpus sums outgrow 2⁶³ — HUGEINT on the twin), and
    * counts. The double chain exists ONLY in the final per-class
    * projection (≤|labels| rows): means are one cast per exact integer,
    * and both quadratic forms are ASCENDING-DIM LEFT FOLDS over the lane
    * arrays (Spark `aggregate(sequence(1, dim), …)` ≡ DuckDB
    * `list_reduce([0.0] ∥ list_transform(range(…)))`) so every IEEE
    * operation happens in the same order on both engines. One corpus
    * pass, partial-agg friendly; nothing downstream scales with rows.
    */
  def embeddingClassScatter(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    def xi(p: Int) =
      round(element_at(col("embedding"), p) * lit(1e6), 0).cast("long")
    val rowNorm2 = (1 to dim).map(p => xi(p) * xi(p)).reduce(_ + _)
    // ONE corpus job: the per-class relation is ≤|labels| rows, so it
    // collects and the global sums fold driver-side in the same exact Long
    // adds the former second aggregate performed — a DataFrame `tot` here
    // re-ran the corpus aggregate a second time as the crossJoin's
    // broadcast build (measured: 7 jobs → 2)
    val perClass = embeddings
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
           sum(rowNorm2.cast("decimal(38,0)")).as("q"),
           array((1 to dim).map(p => sum(xi(p))): _*).as("s"))
    val rows = perClass.collect()
    val nt = rows.map(_.getLong(1)).sum
    val st = new Array[Long](dim)
    rows.foreach { r =>
      val sArr = r.getSeq[Long](3)
      var i = 0
      while (i < dim) { st(i) += sArr(i); i += 1 }
    }
    val nD = col("n").cast("double")
    val ntD = lit(nt).cast("double")
    val stLit = lit(st)
    def fold(f: (Column, Column) => Column): Column =
      aggregate(sequence(lit(1), lit(dim)), lit(0.0),
        (acc, p) => acc + f(element_at(col("s"), p).cast("double"),
                            element_at(stLit, p).cast("double")))
    val muNorm2 = fold((sd, _) => {
      val m = sd / (nD * lit(1e6)); m * m })
    val within = col("q").cast("double") / lit(1e12) - nD * muNorm2
    val between = nD * fold((sd, td) => {
      val d = sd / (nD * lit(1e6)) - td / (ntD * lit(1e6)); d * d })
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), perClass.schema)
      .select(col("label"), col("n").as("n_vecs"),
        round(within, 6).as("within_ss"),
        round(between, 6).as("between_ss"),
        when(within =!= 0.0, round(between / within, 6)).as("fisher_ratio"))
      .orderBy(col("label"))
  }

  /** k-center greedy coreset (Gonzalez 1985's farthest-point traversal —
    * the 2-approximation behind coreset selection à la Sener & Savarese
    * 2018): pick the lowest-vec_id vector, then repeatedly the corpus
    * vector FARTHEST from the selected set (equivalently: minimal maximum
    * rounded cosine to any selected center, ties → lower vec_id) — the
    * "k maximally diverse exemplars" primitive a curation pipeline uses
    * for eval-set seeding and diversity-aware subsampling.
    *
    * Shape: the selected set is k driver-held vectors BY CONSTRUCTION
    * (they are the output), so each round is ONE scan-shaped aggregate —
    * selected centers ride as plan literals ([[argmaxAssignLocal]]'s
    * convention), the per-row max-cosine folds into a single
    * min(struct(ms, vec_id, embedding)) partial aggregate, and the round
    * collects exactly one row. k−1 jobs total: the k-means job-chain
    * family (Bench's jobchain_floor set). Determinism: rounded-6 cosines,
    * struct ordering (ms asc, vec_id asc) — the DuckDB twin unrolls the
    * same k−1 stages with ORDER BY ms, vec_id LIMIT 1 and hash-matches
    * the whole traversal.
    */
  def kCenterCoreset(corpus: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val firstRow = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(1).collect()
    var selected = firstRow.toVector.map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, Option.empty[Double]))
    var exhausted = selected.isEmpty
    while (selected.size < k && !exhausted) {
      val ms = array_max(array(selected.map { case (_, c, _) =>
        round(cosineSim(col("embedding"), lit(c)), 6) }: _*))
      val pick = corpus
        .filter(!col("vec_id").isin(selected.map(_._1): _*))
        .agg(min(struct(ms.as("ms"), col("vec_id"),
                        col("embedding"))).as("m"))
        .collect()
      if (pick.isEmpty || pick(0).isNullAt(0)) exhausted = true
      else {
        val st = pick(0).getStruct(0)
        selected :+= ((st.getLong(1), st.getSeq[Float](2).toArray,
                       Some(st.getDouble(0))))
      }
    }
    selected.zipWithIndex
      .map { case ((id, _, msOpt), i) => (i + 1L, id, msOpt) }
      .toDF("rank", "vec_id", "max_sim")
  }
}
