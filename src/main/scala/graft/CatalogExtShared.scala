package graft

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the training-data-pipeline extension catalog: the
  * DuckDB twin-SQL fragments (shingles, MinHash, SimHash, sign-LSH, k-means,
  * PQ codebooks, NB scoring, winnowing, mixture weights) spliced into many
  * oracle strings across the three catalog chunk objects. Split out of the
  * former single-file CatalogExt (round 13) purely mechanically.
  */
private[graft] object CatalogExtShared {

  type QueryFn = (SparkSession, String) => DataFrame

  /** DuckDB fragment: distinct whitespace tokens of `text`. */
  private[graft] val sqlTokens = "string_split(text, ' ')"

  /** DuckDB fragment: the exact daily-revenue-cents series (twin of
    * [[graft.ops.Stats]]' shared dailyRevenue input) — splice as a CTE body.
    */
  private[graft] val sqlDailyRevenue =
    """SELECT CAST(o_orderdate AS DATE) AS day,
      |                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |         FROM orders GROUP BY 1""".stripMargin

  /** DuckDB CTE chain for the SQ8 family (twin of
    * [[graft.ops.Similarity.sq8TopK]]/sq8Recall): L2-normalize →
    * micro-unit grid (the ONE mirrored rounding) → corpus-trained BIGINT
    * [min,max] ladder → clamp-then-floor 8-bit codes → decoded (×255)
    * integer dots, one double division chain at the end. Splice after
    * `WITH `; produces CTE `s(q_id, vec_id, approx_cos)`. Pre-stripped
    * (no margin pipes) so the outer stripMargin can't eat it.
    */
  private[graft] val sqlSq8Ctes: String = Seq(
    "nv AS (SELECT vec_id,",
    "              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm,",
    "              CAST(embedding AS DOUBLE[]) AS emb",
    "       FROM embeddings),",
    "x0 AS (SELECT vec_id, nrm, generate_subscripts(emb, 1) - 1 AS d, unnest(emb) AS v FROM nv),",
    "x AS (SELECT vec_id, d,",
    "             CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT)",
    "                  ELSE CAST(round(v / nrm * 1000000.0) AS BIGINT) END AS xm",
    "      FROM x0),",
    "st AS (SELECT d, CAST(MIN(xm) AS BIGINT) AS mn, CAST(MAX(xm) AS BIGINT) AS mx",
    "       FROM x WHERE vec_id >= 8 GROUP BY 1),",
    "dc AS (SELECT x.vec_id, x.d,",
    "              CASE WHEN mx = mn THEN mn * 255",
    "                   ELSE mn * 255 + CAST(floor(CAST((least(greatest(xm, mn), mx) - mn) * 255 AS DOUBLE)",
    "                          / CAST(mx - mn AS DOUBLE)) AS BIGINT) * (mx - mn)",
    "              END AS dec255",
    "       FROM x JOIN st USING (d)),",
    "s AS (SELECT q.vec_id AS q_id, c.vec_id,",
    "             round(CAST(SUM(q.dec255 * c.dec255) AS DOUBLE) / 65025.0 / 1e12, 6) AS approx_cos",
    "      FROM dc q JOIN dc c ON q.d = c.d",
    "      WHERE q.vec_id < 8 AND c.vec_id >= 8",
    "      GROUP BY 1, 2)").mkString("\n")

  /** DuckDB fragment: word n-gram shingle list with the <n-token fallback —
    * mirrors [[TextAnalysis.shingles]].
    */
  private[graft] def sqlShingles(n: Int): String =
    s"""CASE WHEN len($sqlTokens) >= $n
       |  THEN list_transform(range(1, len($sqlTokens) - ${n - 2}),
       |                      i -> array_to_string(($sqlTokens)[i:i+${n - 1}], ' '))
       |  ELSE [text] END""".stripMargin

  /** DuckDB: per-doc MinHash component i over distinct 3-gram shingles
    * (mirrors [[Dedup.minhashSignature]]).
    */
  private[graft] def sqlMinhash(i: Int): String =
    s"list_min(list_transform(list_distinct(${sqlShingles(3)}), t -> md5(t || '#$i')))"

  /** DuckDB simhash-32: explode-form twin of the Spark HOF pipeline in
    * [[Dedup.simhash32]]. Bit b of the per-token 32-bit hash (md5 first 8 hex
    * chars) votes ±1; fingerprint packs the sign bits.
    */
  private[graft] val sqlSimhash: String = {
    val bitSums = (0 until 32)
      .map(b => s"CAST(SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$b")
      .mkString(",\n         ")
    val pack = (0 until 32)
      .map(b => s"(CASE WHEN s$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($sqlTokens) AS t FROM documents),
       |hs AS (
       |  SELECT doc_id, CAST(CAST('0x' || substr(md5(t), 1, 8) AS UBIGINT) AS BIGINT) AS h FROM toks),
       |bitsums AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM hs GROUP BY doc_id)
       |SELECT doc_id, $pack AS simhash
       |FROM bitsums ORDER BY doc_id""".stripMargin
  }

  private[graft] val stopListSql: String =
    TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** DuckDB twin of [[Similarity.signBuckets]] as CTE text (to splice after
    * `WITH `): rebuilds the integer-hash hyperplanes
    * ([[Similarity.planeComponent]] — pure BIGINT ops, bit-identical across
    * engines), dots each embedding against them, and packs per-table sign
    * bits into a bucket. Produces CTE `buckets(vec_id, t, bucket)`.
    * Built with explicit newline joins, not stripMargin, so it can be
    * interpolated into stripMargin'd oracle strings safely.
    */
  /** Shared DuckDB sign-LSH pipeline (planes → dots → buckets). The integer
    * hash chain mirrors [[graft.ops.Similarity.planeComponent]] bit for
    * bit; the two faces below differ ONLY in where `bits` comes from
    * (a literal vs the `nb` CTE), injected through `bitsExpr` and the
    * inner SELECT/FROM — one copy, so a hash or bucket-packing fix cannot
    * drift between the fixed and auto oracles (round-7 review finding).
    */
  private[graft] def sqlSignBucketsCore(bitsExpr: String, innerSelect: String,
                                 innerFrom: String): String = Seq(
    s"planes AS (",
    s"  SELECT CAST(j // $bitsExpr AS BIGINT) AS t, CAST(j % $bitsExpr AS BIGINT) AS p, i,",
    s"         CAST(CAST(h AS DOUBLE) / 2147483648.0 - 1.0 AS FLOAT) AS w",
    s"  FROM (",
    s"    SELECT $innerSelect,",
    s"           (j * 104729 + i * 7919 + 12345) AS x0,",
    s"           (x0 * 2654435761) & 4294967295 AS x1,",
    s"           xor(x1, x1 >> 16) AS x2,",
    s"           ((x2 & 2147483647) * 1597334677) & 4294967295 AS x3,",
    s"           xor(x3, x3 >> 13) AS h",
    s"    FROM $innerFrom)),",
    s"dots AS (",
    s"  SELECT e.vec_id, pl.t, pl.p,",
    s"         SUM(CAST(e.embedding[pl.i + 1] AS DOUBLE) * CAST(pl.w AS DOUBLE)) AS dot",
    s"  FROM embeddings e CROSS JOIN planes pl",
    s"  GROUP BY 1, 2, 3),",
    s"buckets AS (",
    s"  SELECT vec_id, t,",
    s"         CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket",
    s"  FROM dots GROUP BY 1, 2)").mkString("\n")

  private[graft] def sqlSignBuckets(nTables: Int, bits: Int, dim: Int = 64): String =
    sqlSignBucketsCore(bits.toString, "j, i",
      s"range(${nTables * bits}) a(j) CROSS JOIN range($dim) b(i)")

  /** [[sqlSignBuckets]] with `bits` COMPUTED from the corpus count the same
    * way [[graft.ops.Similarity.autoBitsPerTable]] does — smallest b with
    * 2^b ≥ count/8, clamped [4, 24], as a pure integer comparison (no
    * float log whose 1-ulp boundary behavior could diverge between
    * engines). Planes are generated to the 24-bit maximum and filtered to
    * `nTables · bits`, so the CTE shape stays static while the bucket
    * width tracks the corpus. Produces CTEs `nb(bits)` and
    * `buckets(vec_id, t, bucket)`.
    */
  private[graft] def sqlSignBucketsAuto(nTables: Int, dim: Int = 64): String = Seq(
    s"nb AS (",
    s"  SELECT GREATEST(4, LEAST(24, (",
    s"    SELECT MIN(b) FROM range(25) tb(b)",
    s"    WHERE (CAST(8 AS BIGINT) << b) >= (SELECT COUNT(*) FROM embeddings)))) AS bits),").mkString("\n") +
    "\n" + sqlSignBucketsCore("bits", "j, i, bits",
      s"range(${nTables * 24}) a(j) CROSS JOIN range($dim) b(i) CROSS JOIN nb\n    WHERE j < $nTables * bits")

  /** DuckDB fragment: exact cosine between two embedding-table aliases. */
  private[graft] def sqlCos(a: String, b: String): String =
    s"round(list_cosine_similarity(CAST($a.embedding AS DOUBLE[]), CAST($b.embedding AS DOUBLE[])), 6)"

  /** DuckDB twin of [[Similarity.kmeansCentroids]] + final assignment as CTE
    * text (to splice after `WITH `). Reproduces, step by step: seed centroids
    * from the `k` lowest corpus vec_ids; per-iteration rounded-cosine argmax
    * assignment (ties → lower cluster_id); the FIXED-POINT Lloyd update —
    * per-lane `SUM(CAST(round(e·10⁶) AS BIGINT))` (exact, order-independent)
    * divided by `n·10⁶` in double, rounded to float. Every operation is
    * either exact integer arithmetic or an IEEE-defined double/float op on
    * identical inputs, so the centroid bits — and the assignment built on
    * them — match Spark's exactly. Produces CTEs `corpus(vec_id, emb)` and
    * `cent$iters(cluster_id, centroid)`.
    */
  private[graft] def sqlKmeans(corpusFilter: String, k: Int, iters: Int,
                        dim: Int = 64): String =
    sqlKmeansCorpus(
      s"SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE $corpusFilter",
      k, iters, dim)

  /** [[sqlKmeans]] with a caller-supplied corpus SELECT (vec_id, emb) —
    * for rows that stage/augment the corpus before clustering. `prefix`
    * namespaces every emitted CTE (`${prefix}corpus`, `${prefix}cent$i`, …)
    * so one statement can host several independent clusterings — the PQ
    * twin instantiates it once per subspace.
    */
  private[graft] def sqlKmeansCorpus(corpusSelect: String, k: Int, iters: Int,
                              dim: Int = 64, prefix: String = ""): String = {
    val init = Seq(
      s"${prefix}corpus AS (",
      s"  $corpusSelect),",
      s"${prefix}cent0 AS (",
      s"  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster_id,",
      s"         emb AS centroid",
      s"  FROM (SELECT vec_id, emb FROM ${prefix}corpus ORDER BY vec_id LIMIT $k))")
    val steps = (1 to iters).flatMap { i =>
      Seq(
        s",${prefix}asg$i AS (",
        s"  SELECT vec_id, cluster_id, emb FROM (",
        s"    SELECT c.vec_id, kk.cluster_id, c.emb,",
        s"           row_number() OVER (PARTITION BY c.vec_id",
        s"             ORDER BY round(list_cosine_similarity(c.emb, kk.centroid), 6) DESC,",
        s"                      kk.cluster_id) AS rn",
        s"    FROM ${prefix}corpus c CROSS JOIN ${prefix}cent${i - 1} kk) WHERE rn = 1),",
        s"${prefix}cent$i AS (",
        s"  SELECT cluster_id, list(CAST(lane AS DOUBLE) ORDER BY pos) AS centroid FROM (",
        s"    SELECT cluster_id, pos,",
        s"           CAST(CAST(SUM(fp) AS DOUBLE) / (COUNT(*) * 1000000.0) AS FLOAT) AS lane",
        s"    FROM (SELECT cluster_id, unnest(range(1, ${dim + 1})) AS pos,",
        s"                 CAST(round(unnest(emb) * 1000000.0) AS BIGINT) AS fp",
        s"          FROM ${prefix}asg$i)",
        s"    GROUP BY cluster_id, pos)",
        s"  GROUP BY cluster_id)")
    }
    (init ++ steps).mkString("\n")
  }

  /** PQ subspace count shared by the Spark side and the DuckDB twins of the
    * pq_* rows — pqTopK's measured default (recall sweep in its scaladoc).
    */
  private[graft] val pqM = 16

  /** DuckDB twin of the PQ machinery ([[Similarity.pqCodebooks]] /
    * [[Similarity.pqEncode]]): one [[sqlKmeansCorpus]] instance per subspace
    * over the sliced corpus (`pqsrc`, emitted here too), plus per-subspace
    * encode CTEs `pq${s}enc(vec_id, code)` — rounded-cosine argmax against
    * the trained book, ties → lower code, exactly [[Similarity.pqCodeExpr]].
    */
  private[graft] def sqlPqBooks(corpusFilter: String, m: Int, k: Int,
                         iters: Int, dim: Int): String = {
    val subDim = dim / m
    val books = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      sqlKmeansCorpus(
        s"SELECT vec_id, emb[$lo:$hi] AS emb FROM pqsrc",
        k, iters, subDim, prefix = s"pq$s")
    }
    val encs = (0 until m).map { s =>
      s"""pq${s}enc AS (
         |  SELECT vec_id, cluster_id AS code FROM (
         |    SELECT c.vec_id, kk.cluster_id,
         |           row_number() OVER (PARTITION BY c.vec_id
         |             ORDER BY round(list_cosine_similarity(c.emb, kk.centroid), 6) DESC,
         |                      kk.cluster_id) AS rn
         |    FROM pq${s}corpus c CROSS JOIN pq${s}cent$iters kk) WHERE rn = 1)""".stripMargin
    }
    (Seq(s"""pqsrc AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            |  FROM embeddings WHERE $corpusFilter)""".stripMargin)
      ++ books ++ encs).mkString(",\n")
  }

  /** Shared CTE chain for the pq_* rows (to splice after `WITH `): the
    * [[sqlPqBooks]] training + encode chain over `vec_id >= 8`, queries `q`
    * with rounded norms, per-subspace rounded dot tables `qt$s` and
    * codeword-norm² tables `nt$s`, and the ADC-scored relation `scored`
    * (q_id, vec_id, adc_score) with Spark's left-fold association
    * parenthesized explicitly — the twin of [[graft.ops.Similarity.pqTopK]]
    * before its top-k.
    */
  private[graft] lazy val sqlPqScoredCtes: String = {
    val subDim = 64 / pqM
    val qtCtes = (0 until pqM).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      s"qt$s AS (SELECT q.q_id, kk.cluster_id AS code, " +
      s"round(list_inner_product(q.emb[$lo:$hi], kk.centroid), 6) AS t " +
      s"FROM q CROSS JOIN pq${s}cent1 kk)"
    }.mkString(",\n")
    val ntCtes = (0 until pqM).map { s =>
      s"nt$s AS (SELECT cluster_id AS code, " +
      s"round(list_inner_product(centroid, centroid), 6) AS n2 " +
      s"FROM pq${s}cent1)"
    }.mkString(",\n")
    // Lookup tables folded to (code→value) LISTS rather than joinable
    // relations: a first cut joined all 16 qt + 16 nt tables into the
    // scored FROM directly, and DuckDB's join reorderer — free to start by
    // chaining the tiny qt tables on q_id alone — went combinatorial on
    // the 3× replica (>230 s; 1.2 s at 1×). With one 8-row `qtab` (all
    // per-query lists pre-joined on q_id — ≤8-row intermediates in ANY
    // order) and one 1-row `ntab`, every join order the optimizer can pick
    // is safe, and the per-row lookup is list indexing — the relational
    // mirror of the Spark kernel's table indexing.
    val tlJoins = (0 until pqM).map { s =>
      s"tl$s AS (SELECT q_id, list(code ORDER BY code) AS cs$s, " +
      s"list(t ORDER BY code) AS ts$s FROM qt$s GROUP BY q_id)"
    }.mkString(",\n")
    val nlCtes = (0 until pqM).map { s =>
      s"nl$s AS (SELECT list(code ORDER BY code) AS ncs$s, " +
      s"list(n2 ORDER BY code) AS ns$s FROM nt$s)"
    }.mkString(",\n")
    val qtabJoins = (0 until pqM).map(s => s"JOIN tl$s USING (q_id)").mkString(" ")
    val ntabCross = (1 until pqM).map(s => s"CROSS JOIN nl$s").mkString(" ")
    // left-fold parenthesization — Spark's reduce(_ + _) association
    def foldSum(terms: Seq[String]): String = terms.reduce((a, b) => s"($a + $b)")
    val dotSum = foldSum((0 until pqM).map(s =>
      s"qtab.ts$s[list_position(qtab.cs$s, c.c$s)]"))
    val n2Sum = foldSum((0 until pqM).map(s =>
      s"ntab.ns$s[list_position(ntab.ncs$s, c.c$s)]"))
    val encJoins = (1 until pqM)
      .map(s => s"JOIN pq${s}enc e$s USING (vec_id)").mkString(" ")
    s"""${sqlPqBooks("vec_id >= 8", pqM, 16, 1, 64)},
       |q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS emb,
       |             round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
       |                                           CAST(embedding AS DOUBLE[]))), 6) AS qn
       |      FROM embeddings WHERE vec_id < 8),
       |$qtCtes,
       |$ntCtes,
       |$tlJoins,
       |$nlCtes,
       |codes AS (
       |  SELECT vec_id, ${(0 until pqM).map(s => s"e$s.code AS c$s").mkString(", ")}
       |  FROM pq0enc e0 $encJoins),
       |qtab AS (SELECT q.q_id, q.qn, ${(0 until pqM).map(s => s"cs$s, ts$s").mkString(", ")}
       |         FROM q $qtabJoins),
       |ntab AS (SELECT * FROM nl0 $ntabCross),
       |scored AS (
       |  SELECT qtab.q_id, c.vec_id,
       |         CASE WHEN $n2Sum = 0 THEN CAST(0 AS DOUBLE)
       |              ELSE round($dotSum / (qtab.qn * sqrt($n2Sum)), 6)
       |         END AS adc_score
       |  FROM codes c CROSS JOIN qtab CROSS JOIN ntab)""".stripMargin
  }

  /** Shared CTE chain for the Naive-Bayes quality rows (to splice after
    * `WITH `): the full fit+score twin of
    * [[graft.ops.TextAnalysis.nbClassifierScores]] at refLang='en',
    * vocabSize=50, ending in `nbdoc(doc_id, lang, n_tokens, logodds_unats,
    * mean_logodds_unats)`.
    */
  private[graft] lazy val sqlNbScoredCtes: String =
    s"""toks AS (
       |  SELECT doc_id, lang, unnest($sqlTokens) AS t FROM documents),
       |cls AS (
       |  SELECT t,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
       |         CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cb,
       |         COUNT(*) AS ct
       |  FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(cb) AS BIGINT) AS nb FROM cls),
       |w AS (
       |  SELECT t,
       |         CAST(round(ln((nb + 50) / (cb + 1.0)) * 1000000) AS BIGINT)
       |           - CAST(round(ln((nr + 50) / (cr + 1.0)) * 1000000) AS BIGINT) AS wt
       |  FROM (SELECT t, cr, cb FROM cls ORDER BY ct DESC, t ASC LIMIT 50)
       |  CROSS JOIN tot),
       |oov AS (
       |  SELECT CAST(round(ln((nb + 50) / 1.0) * 1000000) AS BIGINT)
       |           - CAST(round(ln((nr + 50) / 1.0) * 1000000) AS BIGINT) AS wt
       |  FROM tot),
       |nbtok AS (
       |  SELECT k.doc_id, k.lang, COALESCE(w.wt, o.wt) AS wt
       |  FROM toks k LEFT JOIN w ON k.t = w.t CROSS JOIN oov o),
       |nbdoc AS (
       |  SELECT doc_id, lang, COUNT(*) AS n_tokens,
       |         CAST(SUM(wt) AS BIGINT) AS logodds_unats,
       |         CAST(SUM(wt) AS DOUBLE) / COUNT(*) AS mean_logodds_unats
       |  FROM nbtok GROUP BY 1, 2)""".stripMargin

  /** Shared CTE chain for the winnowing rows (to splice after `WITH `):
    * the twin of [[graft.ops.Dedup.winnowingFingerprints]] at k=4, w=4,
    * ending in `wfp(doc_id, pos, gram_hash)` — per-frame string min over
    * hash || padded descending position (rightmost-tie rule), full frames
    * plus the pos-0 short-doc fallback.
    */
  private[graft] lazy val sqlWinnowCtes: String =
    s"""wgl AS (SELECT doc_id, ${sqlShingles(4)} AS gl FROM documents),
       |wgrams AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5(gl[i]) AS h
       |  FROM (SELECT doc_id, gl, unnest(range(1, len(gl) + 1)) AS i FROM wgl)),
       |wframed AS (
       |  SELECT doc_id, pos,
       |         min(h || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0'))
       |           OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
       |         count(*) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS nf,
       |         count(*) OVER (PARTITION BY doc_id) AS total
       |  FROM wgrams),
       |wsel AS (
       |  SELECT DISTINCT doc_id, sel FROM wframed
       |  WHERE nf = 4 OR (total < 4 AND pos = 0)),
       |wfp AS (
       |  SELECT doc_id,
       |         CAST(999999999 - CAST(substr(sel, 33, 9) AS BIGINT) AS BIGINT) AS pos,
       |         substr(sel, 1, 32) AS gram_hash
       |  FROM wsel)""".stripMargin

  /** DuckDB twin of [[Curation.hashBucket]]: first 8 md5 hex chars of the
    * stringified key as an integer, mod `mod`.
    */
  private[graft] def sqlHashBucket(key: String, mod: Int): String =
    s"CAST(CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % $mod"

  private[graft] val sqlHashBucket100: String = sqlHashBucket("doc_id", 100)

  /** Target mixture proportions for `weighted_mixture_sample` — values whose
    * decimal literals parse to identical doubles in Scala and DuckDB (every
    * short decimal does: both round to nearest).
    */
  private[graft] val mixtureWeights: Map[String, Double] =
    Map("de" -> 0.15, "en" -> 0.4, "es" -> 0.1, "fr" -> 0.1, "zh" -> 0.25)

  private[graft] val sqlMixtureWeights: String =
    mixtureWeights.toSeq.sorted
      .map { case (g, wt) => s"('$g', CAST($wt AS DOUBLE))" }.mkString(", ")

}
