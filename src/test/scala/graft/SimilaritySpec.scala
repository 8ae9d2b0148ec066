package graft

import graft.ops.{Similarity, TrainedArtifactCache}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.cosineSim
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, TestSpark.sfDir)

  test("CosineSimilarity expression matches a driver-side reference") {
    val rows = emb.limit(4).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val expr = emb.as("a").limit(4).crossJoin(emb.as("b").limit(4))
      .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"),
              cosineSim($"a.embedding", $"b.embedding").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def ref(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { dot += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i) }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    for ((ia, va) <- rows; (ib, vb) <- rows)
      assert(math.abs(expr((ia, ib)) - ref(va, vb)) < 1e-12)
  }

  test("codegen and interpreted paths agree") {
    val a = typedLit(Seq(1.0f, 2.0f, 3.0f)); val b = typedLit(Seq(3.0f, 2.0f, 1.0f))
    // one-row plan runs through codegen; literal fold path exercises eval
    val viaPlan = spark.range(1).select(cosineSim(a, b).as("c")).head().getDouble(0)
    val expected = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(viaPlan - expected) < 1e-12)
  }

  test("cosineTopK returns k ordered neighbors per query") {
    val out = Similarity.cosineTopK(emb.filter($"vec_id" < 3), emb.filter($"vec_id" >= 3), 5)
    val byQ = out.groupBy("q_id").count().collect()
    assert(byQ.length == 3 && byQ.forall(_.getLong(1) == 5))
    // scores non-increasing within a query
    val scores = out.filter($"q_id" === 0).orderBy($"cos_sim".desc).select("cos_sim")
      .as[Double].collect()
    assert(scores.sorted(Ordering[Double].reverse).sameElements(scores))
  }

  test("hardNegatives: no same-label result, and it matches exact top-k " +
       "over the label-filtered corpus") {
    val qs = emb.filter($"vec_id" < 3)
    val corpus = emb.filter($"vec_id" >= 3)
    val out = Similarity.hardNegatives(qs, corpus, 5)
    val qLabels = qs.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cLabels = corpus.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (q, v) => cLabels(v) != qLabels(q) },
      "a mined negative shares its query's label")
    // equivalence: per query, hardNegatives == cosineTopK over the
    // corpus with that query's label removed
    for ((q, lbl) <- qLabels) {
      val direct = Similarity.cosineTopK(
          qs.filter($"vec_id" === q), corpus.filter($"label" =!= lbl), 5)
        .select($"vec_id", $"cos_sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val mined = out.filter($"q_id" === q)
        .select($"vec_id", $"cos_sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(mined == direct, s"query $q: hard negatives diverge from " +
        "exact top-k over the label-filtered corpus")
    }
  }

  test("ANN recall against exact top-k is usable (approximate op bound)") {
    val qs = emb.filter($"vec_id" < 8); val corpus = emb.filter($"vec_id" >= 8)
    val exact = Similarity.cosineTopK(qs, corpus, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.annTopK(qs, corpus, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"sign-LSH recall=$recall too low")
    assert(approx.size <= 40, "no more than k per query")
  }

  test("pqCodebooks/pqEncode: book shape, code domain, reconstruction sanity") {
    val corpus = emb.filter($"vec_id" >= 8)
    val books = Similarity.pqCodebooks(corpus, m = 16, k = 16, iters = 1)
    assert(books.length == 16)
    books.foreach { book =>
      assert(book.nonEmpty && book.length <= 16, "codes per book bounded by k")
      assert(book.forall(_._2.length == 4), "subspace centroids are dim/m wide")
      assert(book.map(_._1).toSeq == book.map(_._1).toSeq.sorted, "books sorted by code id")
    }
    val codes = Similarity.pqEncode(corpus, books)
    assert(codes.columns.toSeq == "vec_id" +: (0 until 16).map(s => s"c$s"))
    val rows = codes.collect()
    assert(rows.length == corpus.count())
    val valid = books.map(_.map(_._1).toSet)
    rows.foreach { r =>
      (0 until 16).foreach(s => assert(valid(s).contains(r.getLong(s + 1)),
        s"code ${r.getLong(s + 1)} not in book $s")) }
  }

  test("pqTopK recall against exact top-k is usable (approximate op bound)") {
    val qs = emb.filter($"vec_id" < 8); val corpus = emb.filter($"vec_id" >= 8)
    val exact = Similarity.cosineTopK(qs, corpus, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(qs, corpus, 5)
    assert(pq.columns.toSeq == Seq("q_id", "vec_id", "adc_score"))
    val approx = pq.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(approx.size <= 40, "no more than k per query")
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 16 codes/subspace over near-uniform synthetic embeddings is a coarse
    // quantizer; the bound pins "decisively better than random" (random 5
    // of ~250 corpus vectors ⇒ recall ≈ 0.02) without overfitting the SF.
    assert(recall >= 0.2, s"PQ-ADC recall=$recall too low")
  }

  test("nearDupPairs is symmetric-free and thresholded") {
    val pairs = Similarity.nearDupPairs(emb, 0.4).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.4))
  }

  test("lshNearDupPairs is a thresholded subset of the exact pairs") {
    val exact = Similarity.nearDupPairs(emb, 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshNearDupPairs(emb, 0.4).collect()
    assert(lsh.forall(r => r.getLong(0) < r.getLong(1)))
    assert(lsh.forall(_.getDouble(2) >= 0.4), "rescore must enforce the threshold")
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshPairs.subsetOf(exact), s"LSH emitted pairs the exact scan rejects: ${lshPairs -- exact}")
  }

  test("ivfTopK: clusters cover the corpus, probes bound work, recall is usable") {
    val qs = emb.filter($"vec_id" < 8); val corpus = emb.filter($"vec_id" >= 8)
    val centroids = Similarity.kmeansCentroids(corpus, 16, 3)
    assert(centroids.count() == 16)
    assert(centroids.select("cluster_id").as[Long].collect().toSet == (0L until 16L).toSet)
    val exact = Similarity.cosineTopK(qs, corpus, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(qs, corpus, 5, nCentroids = 16, nProbe = 4)
    val approxSet = approx.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val byQ = approx.groupBy("q_id").count().collect()
    assert(byQ.forall(_.getLong(1) <= 5), "at most k per query")
    val recall = (exact intersect approxSet).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall=$recall too low for nProbe=4/16 clusters")
  }

  test("lshNearDupPairs recall ≈ 1 on true near-dups (planted jittered copies)") {
    // This corpus's max pairwise cosine is ~0.6 — there are no genuine
    // near-dups, so recall at the weak-similarity threshold says nothing
    // about the operator's job. Plant deterministic jittered copies
    // (cosine ≈ 0.9999) and require the LSH path to find them: sign-LSH
    // collision probability at that angle is ≈1 per table across 16 tables.
    val base = emb.filter($"vec_id" < 20)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val planted = base.map { case (id, v) =>
      (id + 100000L, v.zipWithIndex.map { case (x, k) => x * 1.01f + 0.001f * ((k % 7) - 3) })
    }
    val all = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .union(spark.createDataset(planted.toSeq))
      .toDF("vec_id", "embedding")
    val found = Similarity.lshNearDupPairs(all, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val expected = base.map { case (id, _) => (id, id + 100000L) }.toSet
    val recall = expected.count(found.contains).toDouble / expected.size
    assert(recall >= 0.9, s"planted near-dup recall=$recall (found ${found.size} pairs total)")
  }

  test("autoBitsPerTable holds bucket occupancy as the corpus grows") {
    // reproduces the pinned 16×8 default at the test corpus size…
    assert(Similarity.autoBitsPerTable(2000) == 8)
    // …widens with n (9× replica → 12 bits: the SCALE.md measurement where
    // fixed bits ran 18 s and auto ran 3 s with identical cos≥0.8 pairs)…
    assert(Similarity.autoBitsPerTable(18000) == 12)
    // …is monotone and capped (codegen'd plane chains stay bounded)
    val bits = Seq(10L, 1000L, 100000L, 10000000L, 1000000000L, Long.MaxValue)
      .map(Similarity.autoBitsPerTable(_))
    assert(bits == bits.sorted && bits.last == 24 && bits.head >= 4)
  }

  test("semanticDedup recall bound: near-dup band complete, weak band pinned") {
    // The SemDeDup trade quantified (SCALE.md "Semantic-dedup recall"):
    // cross-cluster pairs are invisible by design, and that loss is
    // confined to the weakly-similar band. Measured at
    // 1×/3×/9× of the sf0.1 corpus: cos≥0.8 pair recall = 1.0 at every
    // scale and config, cos≥0.4 recall ≈ 0.15–0.31. Deterministic
    // fixed-point pipeline ⇒ the test-corpus numbers are exact pins, not
    // tolerances: 66 exact 0.4-pairs, 17 same-cluster at iters=1 (19 at
    // iters=3 — extra Lloyd rounds buy ~nothing, the iters=1 default).
    val assign = Similarity.ivfAssignments(emb, 16, 1)
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
    def pairsAtLeast(df: org.apache.spark.sql.DataFrame, t: Double) = {
      val l = df.select($"cluster_id", $"vec_id".as("vec_a"), $"embedding".as("ea"))
      val r = df.select($"cluster_id", $"vec_id".as("vec_b"), $"embedding".as("eb"))
      l.join(r, Seq("cluster_id")).filter($"vec_a" < $"vec_b")
        .filter(round(cosineSim($"ea", $"eb"), 6) >= t).count()
    }
    val exactWeak = Similarity.nearDupPairs(emb, 0.4).count()
    val foundWeak = pairsAtLeast(assign, 0.4)
    assert(exactWeak == 66L, s"exact 0.4-band pair set moved: $exactWeak")
    assert(foundWeak == 17L, s"within-cluster 0.4-band pairs moved: $foundWeak")
    // near-dup band: every exact cos≥0.8 pair must be same-cluster (here
    // planted, since the raw corpus has none at 0.8)
    val planted = emb.filter($"vec_id" < 50)
      .selectExpr("vec_id + 1000000 AS vec_id",
                  "transform(embedding, x -> CAST(x * 1.01D + 0.001D AS FLOAT)) AS embedding")
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val assign2 = Similarity.ivfAssignments(corpus, 16, 1)
      .join(corpus, Seq("vec_id"))
    val exactNear = Similarity.nearDupPairs(corpus, 0.8).count()
    val foundNear = pairsAtLeast(assign2, 0.8)
    assert(exactNear >= 50L, "planted near-dups must register in the exact set")
    assert(foundNear == exactNear,
      s"cos>=0.8 recall must be 1.0: found $foundNear of $exactNear")
  }

  test("semanticDedup removes planted within-cluster near-dups, keeps originals") {
    val base = emb.select("vec_id", "embedding")
    val planted = base.filter($"vec_id" < 20)
      .selectExpr("vec_id + 1000000 AS vec_id",
                  "transform(embedding, x -> CAST(x * 1.01D + 0.001D AS FLOAT)) AS embedding")
    val surv = Similarity.semanticDedup(base.unionByName(planted), 0.8)
      .select("vec_id").as[Long].collect().toSet
    val nBase = base.count()
    assert(surv.size == nBase, s"expected all $nBase originals to survive, got ${surv.size}")
    assert(surv.forall(_ < 1000000L), "every planted copy must lose to its lower-id original")
  }

  test("semanticDedup collapses transitive chains to one survivor") {
    // a ~ b ~ c where a-c may fall below threshold: connected components
    // must still merge the chain (single survivor = lowest id), not just
    // pairwise winners.
    val base = emb.filter($"vec_id" < 5).select("vec_id", "embedding")
    def jitter(ids: org.apache.spark.sql.DataFrame, off: Long, eps: String) =
      ids.selectExpr(s"vec_id + $off AS vec_id",
        s"transform(embedding, x -> CAST(x * (1.0D + $eps) + $eps AS FLOAT)) AS embedding")
    // two successive small steps: copy1 ≈ original, copy2 ≈ copy1
    val all = base
      .unionByName(jitter(base, 1000000L, "0.004D"))
      .unionByName(jitter(base, 2000000L, "0.008D"))
    // nCentroids=2: the 15-vector corpus must share clusters at all (with
    // the default 16 every vector is its own singleton cluster)
    val surv = Similarity.semanticDedup(all, 0.9, nCentroids = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(surv == base.select("vec_id").as[Long].collect().toSet,
      s"each chain must keep only its lowest-id member, got $surv")
  }

  test("semanticDedup invariant: no two same-cluster survivors at/above threshold") {
    val base = emb.select("vec_id", "embedding")
    val planted = base.filter($"vec_id" < 30)
      .selectExpr("vec_id + 1000000 AS vec_id",
                  "transform(embedding, x -> CAST(x * 1.02D + 0.002D AS FLOAT)) AS embedding")
    val surv = Similarity.semanticDedup(base.unionByName(planted), 0.8)
    val offending = surv.as("a").join(surv.as("b"),
        $"a.cluster_id" === $"b.cluster_id" && $"a.vec_id" < $"b.vec_id")
      .join(base.unionByName(planted).select($"vec_id".as("va"), $"embedding".as("ea")),
            $"a.vec_id" === $"va")
      .join(base.unionByName(planted).select($"vec_id".as("vb"), $"embedding".as("eb")),
            $"b.vec_id" === $"vb")
      .filter(round(org.apache.spark.sql.graft.VectorExpressions.cosineSim($"ea", $"eb"), 6) >= 0.8)
      .count()
    assert(offending == 0L,
      "two surviving same-cluster vectors at >= threshold means a missed pair or wrong closure")
  }

  test("lshNearDupPairsAuto matches the manual call at the auto-chosen bits") {
    val auto = Similarity.lshNearDupPairsAuto(emb, 0.5)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val manual = Similarity.lshNearDupPairs(emb, 0.5,
        bitsPerTable = Similarity.autoBitsPerTable(emb.count()))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(auto == manual)
  }

  test("ivfpqTopK: results are PQ-scored, probe-restricted, and ≤ k per query") {
    val qs = emb.filter($"vec_id" < 8); val corpus = emb.filter($"vec_id" >= 8)
    val ivfpq = Similarity.ivfpqTopK(qs, corpus, 5,
        nCentroids = 16, nProbe = 4, m = 16, codesPerBook = 16, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ivfpq.nonEmpty)
    val byQ = ivfpq.groupBy(_._1).view.mapValues(_.length)
    assert(byQ.values.forall(_ <= 5), "at most k per query")
    // every result must be in a probed cluster, and its score must equal the
    // unpruned PQ ADC score for the same (query, vector) — pruning changes
    // WHICH pairs are scored, never the score itself
    val pqAll = Similarity.pqTopK(qs, corpus, corpus.count().toInt,
        m = 16, codesPerBook = 16, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivfpq.foreach { case (q, v, s) =>
      assert(pqAll((q, v)) == s, s"($q,$v): IVFPQ score $s != PQ ADC ${pqAll((q, v))}")
    }
    // pruning is real: the IVFPQ top-k differs from the unpruned PQ top-k
    // for at least one query on this corpus (nProbe=4 of 16 clusters), and
    // the composed recall vs exact stays usable
    val exact = Similarity.cosineTopK(qs, corpus, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivfpq.map(t => (t._1, t._2)).toSet).size.toDouble / exact.size
    assert(recall >= 0.1, s"IVFPQ recall=$recall collapsed")
  }

  test("knnGraphStats: twin clusters make every rank-1 edge mutual") {
    // two identical pairs on orthogonal axes: with k=1 each vector picks
    // its twin (cos 1 beats 0) → 4 directed edges, 2 mutual pairs,
    // mean cosines exactly 1
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f)), (4L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val r = Similarity.knnGraphStats(emb, k = 1).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 2L)), r.toString)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0, r.toString)
  }

  test("knnGraphStats: a hub with no reciprocation drives mutuality to zero") {
    // three spokes all nearest to a hub h; h's single edge goes to spoke 1
    // (tie on cosine broken by id) — mutual only on (h, s1)
    val s = math.sqrt(0.5).toFloat
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),          // hub
      (2L, Array(s, s, 0f, 0f)),            // spokes: cos(hub)=.707, cos(spoke)=.5
      (3L, Array(s, 0f, s, 0f)),
      (4L, Array(s, 0f, 0f, s))).toDF("vec_id", "embedding")
    val r = Similarity.knnGraphStats(emb, k = 1).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getLong(2) == 1L, s"only hub↔spoke-2 reciprocates: $r")
  }

  test("knnGraphStats: driver tail ≡ distributed tail bit-identically") {
    // a non-trivial graph (ties, asymmetric ranks, k > 1) through both
    // report tails — a zero driver-tail budget forces the distributed shape
    val sample = emb.limit(40)
    val fast = Similarity.knnGraphStats(sample, k = 3).collect()
    val slow = TestSpark.withDriverTail(0) {
      Similarity.knnGraphStats(sample, k = 3).collect()
    }
    assert(fast.toSeq == slow.toSeq,
      s"driver/distributed mismatch:\n${fast.toSeq}\n${slow.toSeq}")
  }

  test("annRecallCurve: bounded recall per k; self-queries hit at k=1") {
    val qs = emb.filter(col("vec_id") < 8)
    val corpus = emb.filter(col("vec_id") >= 8)
    val out = Similarity.annRecallCurve(qs, corpus).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 5, 10))
    for (r <- out) {
      assert(r.getLong(1) == 8L, "eight queries")
      assert(r.getLong(2) <= r.getInt(0) * r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // queries drawn FROM the corpus: the exact rank-1 hit is the vector
    // itself, and an identical vector always shares every LSH bucket
    val self = Similarity.annRecallCurve(corpus.limit(4), corpus, Seq(1))
      .head()
    assert(self.getDouble(3) == 1.0, s"self-query recall@1: $self")
  }

  test("annRecallCurve: corpus smaller than k normalizes by ranked pairs") {
    // 3-vector corpus, k=10: the exact list per query is 3 pairs, so the
    // denominator must be 3·3 = 9 ranked exact pairs (Σ min(k, list
    // size)), not k·n_queries = 30 — a perfect ANN can reach 1.0 again
    val tiny = emb.filter(col("vec_id") >= 8 && col("vec_id") < 11)
    val out = Similarity.annRecallCurve(tiny, tiny, Seq(10)).head()
    assert(out.getLong(1) == 3L, s"three queries: $out")
    val hits = out.getLong(2)
    assert(hits <= 9L, "at most 3x3 ranked pairs")
    val expected = BigDecimal(hits.toDouble / 9.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getDouble(3) == expected, s"recall = hits/9, got $out")
    // self-queries share every bucket with themselves: rank-1 always hits
    assert(hits >= 3L, s"self-pairs must all hit: $out")
  }

  test("embeddingNormStats: hand-computed norms, zero vector counted") {
    val df = Seq((1L, Array(3f, 4f), 0), (2L, Array(0f, 0f), 0),
                 (3L, Array(0f, 2f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingNormStats(df).collect()
      .map(r => r.getInt(0) -> r).toMap
    val l0 = out(0)
    assert(l0.getLong(1) == 2L && l0.getLong(2) == 1L)
    assert(l0.getDouble(3) == 2.5 && l0.getDouble(4) == 2.5)
    assert(out(1).getDouble(3) == 2.0 && out(1).getLong(2) == 0L)
  }

  test("sq8: quantized ranking tracks exact cosine on a separable corpus") {
    import spark.implicits._
    // vectors in 3 orthogonal directions: the SQ8 dot is UNNORMALIZED, so
    // top-1 need not be the query itself (a larger-magnitude same-direction
    // vector wins), but it must come from the query's direction class —
    // 8-bit codes can't blur an orthogonal separation
    val rng = new scala.util.Random(11)
    def jitter(base: Array[Float]) = {
      val v = base.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n) // unit norm: the integer dot then tracks cosine order
    }
    val dirs = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val corpus = (0 until 30).map(i => ((i + 100).toLong, jitter(dirs(i % 3))))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 103L)
    val top = Similarity.sq8TopK(queries, corpus, 1).collect()
    assert(top.length == 3)
    top.foreach(r => assert(
      r.getAs[Long]("vec_id") % 3 == r.getAs[Long]("q_id") % 3,
      s"SQ8 top-1 must share the query's direction class: $r"))
    // intra-class distinctions ride on jitter near the quantization step,
    // so per-query recall keeps some noise — but the decoded-dot form must
    // track cosine well on average
    val rec = Similarity.sq8Recall(queries, corpus, 5).collect()
    val mean = rec.map(_.getAs[Double]("recall")).sum / rec.length
    assert(mean >= 0.6, rec.mkString(";"))
    // and recall@1 on the full testdata-shaped scale is pinned by the
    // catalog's sq8_recall row against the DuckDB oracle
    rec.foreach(r => assert(r.getAs[Long]("n_exact") == 5L))
  }

  test("ndcgDiscountsMicro: exact integer log2 discounts") {
    assert(Similarity.ndcgDiscountsMicro(3) == Seq(1000000L, 630930L, 500000L))
  }

  test("annNdcgCurve: perfect rank agreement reads 1.0; a bucket-missed corpus reads 0") {
    // corpus all along the query's own direction: identical sign pattern
    // ⇒ every table's bucket matches ⇒ the ANN sees the whole corpus and
    // its ranking equals the exact one ⇒ NDCG = 1 at every k
    def ray(id: Long, scale: Float) = {
      val v = new Array[Float](64); v(0) = scale; v(1) = 0.5f * scale
      (id, v)
    }
    val queries = Seq(ray(0L, 1f)).toDF("vec_id", "embedding")
    val corpus = (10 until 22).map(i => ray(i.toLong, 1f + i * 0.1f))
      .toDF("vec_id", "embedding")
    val out = Similarity.annNdcgCurve(queries, corpus)
      .collect().map(r => r.getAs[Int]("k") ->
        (r.getAs[Long]("dcg_micro"), r.getAs[Long]("idcg_micro"),
         r.getAs[Double]("ndcg"))).toMap
    Seq(1, 5, 10).foreach { k =>
      val (d, i, n) = out(k)
      assert(d == i && n == 1.0, s"k=$k: dcg=$d idcg=$i ndcg=$n")
    }
    // idcg@1 is exactly one top-rank gain; @5 the prefix-sum of the table
    assert(out(1)._2 == 1000000L)
    assert(out(5)._2 == Similarity.ndcgDiscountsMicro(5).sum)
    // an opposite-sign corpus flips every hyperplane dot: no bucket ever
    // collides, the ANN returns nothing, and NDCG collapses to 0
    val anti = (10 until 22).map { i =>
      val (id, v) = ray(i.toLong, 1f); (id, v.map(-_)) }
      .toDF("vec_id", "embedding")
    val miss = Similarity.annNdcgCurve(queries, anti).collect()
    miss.foreach { r =>
      assert(r.getAs[Long]("dcg_micro") == 0L && r.getAs[Double]("ndcg") == 0.0)
      assert(r.getAs[Long]("idcg_micro") > 0L, "exact side still ranks")
    }
  }
  test("embeddingClassScatter: separable planted classes decompose exactly") {
    // two point-mass classes on orthogonal axes: within == 0 exactly
    // (duplicate members), between == n_c * |mu_c - mu|^2 = 2 * 0.5 = 1.0,
    // fisher NULL (zero within — the guard, not a NaN)
    def v(axis: Int): Seq[Float] =
      (0 until 64).map(i => if (i == axis) 1.0f else 0.0f)
    val df = Seq((0L, v(0), 0), (1L, v(0), 0), (2L, v(1), 1), (3L, v(1), 1))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.embeddingClassScatter(df).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Double]("within_ss") == 0.0)
      assert(r.getAs[Double]("between_ss") == 1.0)
      assert(r.isNullAt(r.fieldIndex("fisher_ratio")))
    }
  }

  test("kCenterCoreset: farthest-point traversal picks the planted extremes") {
    def v(x: Float, y: Float): Seq[Float] =
      Seq(x, y) ++ Seq.fill(62)(0.0f)
    // v0=(1,0) seed; v1 duplicates it; v2=(-1,0) is farthest (cos -1);
    // v3=(0,1) is next (max cos to {v0,v2} = 0) — the duplicate never picked
    val df = Seq((0L, v(1, 0)), (1L, v(1, 0)), (2L, v(-1, 0)), (3L, v(0, 1)))
      .toDF("vec_id", "embedding")
    val picks = Similarity.kCenterCoreset(df, k = 3)
      .orderBy(col("rank")).collect()
    assert(picks.map(_.getAs[Long]("vec_id")).toSeq == Seq(0L, 2L, 3L))
    assert(picks(0).isNullAt(picks(0).fieldIndex("max_sim")))
    assert(picks(1).getAs[Double]("max_sim") == -1.0)
    assert(picks(2).getAs[Double]("max_sim") == 0.0)
  }

  test("hybridRrfSearch: hand-computed fusion — both-list docs sum two " +
       "reciprocals, single-list docs one") {
    import spark.implicits._
    // query doc 0: vector ranking over docs 10, 11, 12 is controlled by
    // cosine; lexical ranking by shared distinct tokens
    def v(x: Float, y: Float) = Seq(x, y) ++ Seq.fill(62)(0.0f)
    val emb = Seq(
      (0L, v(1, 0)),          // query
      (10L, v(1, 0.01f)),     // nearest
      (11L, v(1, 0.2f)),      // second
      (12L, v(0, 1))          // far
    ).toDF("vec_id", "embedding")
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (10L, "delta epsilon zeta"),     // 0 shared → vector-only
      (11L, "alpha beta delta"),       // 2 shared → lexical rank 1
      (12L, "alpha zeta eta")          // 1 shared → lexical rank 2
    ).toDF("doc_id", "text")
    val r = Similarity.hybridRrfSearch(docs, emb, qMax = 8, kCand = 3,
        kOut = 3, k0 = 60)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (Option(x.getAs[java.lang.Long]("r_vec")).map(_.toLong),
         Option(x.getAs[java.lang.Long]("r_text")).map(_.toLong),
         x.getAs[Double]("rrf_score"))).toMap
    def rrf(terms: Long*) = {
      val s = terms.map(t => 1.0 / (60.0 + t)).sum
      java.math.BigDecimal.valueOf(s)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    // vec ranks: 10 → 1, 11 → 2, 12 → 3; text ranks: 11 → 1, 12 → 2
    assert(r(10L) == ((Some(1L), None, rrf(1))), r(10L).toString)
    // terms sum vec-first (the op's fixed association): 1/62 + 1/61
    assert(r(11L) == ((Some(2L), Some(1L), rrf(2, 1))), r(11L).toString)
    assert(r(12L) == ((Some(3L), Some(2L), rrf(3, 2))), r(12L).toString)
    // doc 11 fuses both lists and must outrank the vector-only doc 10
    assert(r(11L)._3 > r(10L)._3)
  }

  test("IVF/SQ8 index lifecycle: load ≡ build bit-identity, loud config " +
       "and corruption errors") {
    val corpus = emb.filter(col("vec_id") >= 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_spec_")
      .toString
    // IVF: persisted centroids load back bit-identical to the build
    Similarity.saveIvfIndex(spark, s"$dir/ivf", corpus, 16, 1)
    val loaded = Similarity.loadIvfIndex(spark, s"$dir/ivf", 16, 1)
    val built = Similarity.ivfAssignments(corpus, 16, 1) // memoized build
    val loadedSearch = Similarity.ivfTopKWithIndex(
      emb.filter(col("vec_id") < 8), corpus, 5, 4, loaded).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val builtSearch = Similarity.ivfTopK(
      emb.filter(col("vec_id") < 8), corpus, 5, 16, 4, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(loadedSearch.toSeq == builtSearch.toSeq,
      "search against the loaded index must equal the in-session build")
    assert(loaded.length == 16 &&
      loaded.forall { case (_, v) => v.length == 64 })
    built.count() // build path still works alongside
    // wrong config is a loud error, not a silent retrain
    val e1 = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(spark, s"$dir/ivf", 16, 2)
    }
    assert(e1.getMessage.contains("trained with"), e1.getMessage)
    // corrupting the centroid file trips the fingerprint
    val centDir = new java.io.File(s"$dir/ivf/centroids")
    val part = centDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val corrupt = spark.read.parquet(part.getParent)
      .withColumn("cluster_id", col("cluster_id") + 1L)
    corrupt.write.mode("overwrite").parquet(s"$dir/ivf2/centroids")
    spark.read.parquet(s"$dir/ivf/meta")
      .write.mode("overwrite").parquet(s"$dir/ivf2/meta")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(spark, s"$dir/ivf2", 16, 1)
    }
    assert(e2.getMessage.contains("fingerprint mismatch"), e2.getMessage)
    // SQ8 ladder roundtrip: bit-identical registers
    Similarity.saveSq8Index(spark, s"$dir/sq8", corpus)
    val ladder = Similarity.loadSq8Index(spark, s"$dir/sq8")
    assert(ladder.length == 64)
    // loaded ladder reproduces the in-session sq8 ranking end to end
    val viaLoad = Similarity.loadSq8Index(spark, s"$dir/sq8")
    assert(viaLoad.toSeq == ladder.toSeq)
    // PQ codebooks: save → load → ADC search equals the in-session build
    Similarity.savePqIndex(spark, s"$dir/pq", corpus, m = 16,
      codesPerBook = 16, iters = 1)
    val booksLoaded = Similarity.loadPqIndex(spark, s"$dir/pq", 16, 16, 1)
    val pqLoadedSearch = Similarity.pqTopKWithIndex(
      emb.filter(col("vec_id") < 8), corpus, 5, booksLoaded).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val pqBuiltSearch = Similarity.pqTopK(
      emb.filter(col("vec_id") < 8), corpus, 5, 16, 16, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(pqLoadedSearch.toSeq == pqBuiltSearch.toSeq,
      "PQ search against loaded codebooks must equal the in-session build")
    val e3 = intercept[IllegalArgumentException] {
      Similarity.loadPqIndex(spark, s"$dir/pq", 16, 32, 1)
    }
    assert(e3.getMessage.contains("trained with"), e3.getMessage)
    // dim-mismatched QUERIES against a loaded index are loud, not a
    // truncated-cosine ranking (the kernel dim-guard convention)
    val shortQ = Seq((1L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val e4 = intercept[IllegalArgumentException] {
      Similarity.ivfTopKWithIndex(shortQ, corpus, 5, 4, loaded)
    }
    assert(e4.getMessage.contains("dimension 8"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException] {
      Similarity.pqTopKWithIndex(shortQ, corpus, 5, booksLoaded)
    }
    assert(e5.getMessage.contains("dimension 8"), e5.getMessage)
    // codebook SHAPE guards (round 13): empty / ragged books are loud
    // descriptive errors, never a bare NoSuchElementException or a
    // mis-strided scoring pass
    val q = emb.filter(col("vec_id") < 8)
    val e6 = intercept[IllegalArgumentException] {
      Similarity.pqTopKWithIndex(q, corpus, 5, Array.empty)
    }
    assert(e6.getMessage.contains("non-empty"), e6.getMessage)
    val e7 = intercept[IllegalArgumentException] {
      Similarity.pqTopKWithIndex(q, corpus, 5,
        Array(booksLoaded.head, Array.empty[(Long, Array[Float])]))
    }
    assert(e7.getMessage.contains("empty book"), e7.getMessage)
    val ragged = booksLoaded.updated(3, booksLoaded(3).map {
      case (c, v) => (c, v ++ Array(0f))
    })
    val e8 = intercept[IllegalArgumentException] {
      Similarity.pqTopKWithIndex(q, corpus, 5, ragged)
    }
    assert(e8.getMessage.contains("ragged"), e8.getMessage)
    // an m=0 load request is refused before touching the filesystem
    val e9 = intercept[IllegalArgumentException] {
      Similarity.loadPqIndex(spark, s"$dir/pq", 0, 16, 1)
    }
    assert(e9.getMessage.contains("m=0"), e9.getMessage)
  }

  test("ivfAssignWithIndex: assign-only over a loaded index equals the " +
       "full-rebuild assignment; dim mismatch is loud") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 2 === 1)
    val batch = emb.filter(col("vec_id") >= 8 && col("vec_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_incr_spec_")
      .toString
    Similarity.saveIvfIndex(spark, s"$dir/ivf", base, 16, 1)
    val cents = Similarity.loadIvfIndex(spark, s"$dir/ivf", 16, 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // full rebuild = the whole grown corpus assigned against the SAME
    // (unchanged) centroids; incremental = existing postings ∪ assign-only
    val full = rows(
      Similarity.ivfAssignWithIndex(base.unionByName(batch), cents))
    val incr = rows(Similarity.ivfAssignments(base, 16, 1)
      .select("vec_id", "cluster_id", "cos_sim")
      .unionByName(Similarity.ivfAssignWithIndex(batch, cents)))
    assert(full.nonEmpty && full == incr)
    // a batch vector that disagrees with the loaded index's dimension is
    // an in-plan loud error, never a truncated-cosine assignment
    val shortB = Seq((999L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.ivfAssignWithIndex(shortB, cents).collect()
    }
    assert(e.getMessage.contains("dimension 8"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfAssignWithIndex(shortB, Array.empty)
    }
    assert(e2.getMessage.contains("empty centroid index"), e2.getMessage)
  }

  test("hybridRrfSearch: query batch above the token budget fails loud") {
    import spark.implicits._
    // shrink nothing — drive the real guard by exceeding the limit+1
    // collect: one query doc whose text explodes past the budget would be
    // huge, so instead verify the guard wiring with the real constant via
    // reflection-free arithmetic: budget rows pass, budget+1 rows fail.
    // A synthetic docs frame with exactly budget+1 (doc, token) rows:
    val perDoc = 1000
    val nDocs = Similarity.HybridQueryTokenBudget / perDoc + 1
    val docs = (0 until nDocs).map { d =>
      val off = d * perDoc
      (d.toLong, (0 until perDoc).map(t => s"t${off + t}").mkString(" "))
    }.toDF("doc_id", "text")
    val emb1 = Seq((0L, Seq.fill(64)(0.1f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.hybridRrfSearch(docs, emb1, qMax = nDocs.toLong)
    }
    assert(e.getMessage.contains("bounded batch"), e.getMessage)
  }

  test("PQ-books memo: memo-hit results are bit-identical to cold training, " +
       "and the fused IVFPQ trainer matches the sequential trainers") {
    val qs = emb.filter($"vec_id" < 3)
    val corpus = emb.filter($"vec_id" >= 3)
    def run[A](f: => org.apache.spark.sql.DataFrame): Seq[String] =
      f.collect().map(_.toString).sorted.toSeq
    // cold: every trained artifact rebuilt from the corpus
    TrainedArtifactCache.clear()
    val pqCold = run(Similarity.pqTopK(qs, corpus, 4, m = 8, codesPerBook = 8))
    val ivfpqCold = run(Similarity.ivfpqRecall(qs, corpus, 4,
      nCentroids = 8, nProbe = 3, m = 8, codesPerBook = 8))
    // warm via the SEQUENTIAL trainers: pqCodebooks seeds the books memo,
    // kmeansCentroids the centroid memo — the subsequent ivfpqRecall must
    // reuse both (skipping the fused trainer: as few jobs as a repeat
    // call), so equality here pins fused-trained ≡ sequentially-trained
    // artifacts bit-for-bit AND memo-hit ≡ cold execution.
    def ivfpq = run(Similarity.ivfpqRecall(qs, corpus, 4,
      nCentroids = 8, nProbe = 3, m = 8, codesPerBook = 8))
    def pq = run(Similarity.pqTopK(qs, corpus, 4, m = 8, codesPerBook = 8))
    TrainedArtifactCache.clear()
    Similarity.pqCodebooks(corpus, m = 8, k = 8, iters = 1)
    Similarity.kmeansCentroids(corpus, 8, 1)
    val (afterSeq, seqJobs) = TestSpark.countingJobs(ivfpq)
    assert(afterSeq == ivfpqCold)
    assert(seqJobs == TestSpark.countingJobs(ivfpq)._2,
      "sequentially trained artifacts must serve the fused trainer")
    assert(pq == pqCold)
    // and the reverse direction: the fused trainer's artifacts serve the
    // sequential-surface query identically
    TrainedArtifactCache.clear()
    ivfpq
    val (afterFused, fusedJobs) = TestSpark.countingJobs(pq)
    assert(afterFused == pqCold)
    assert(fusedJobs == TestSpark.countingJobs(pq)._2,
      "fused-trained books must serve the sequential surface")
    TrainedArtifactCache.clear()
  }

  /** Two 48 × 8 corpora of one schema whose vectors differ. */
  private def randomCorpus(seed: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until 48).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
  }

  /** Every cached artifact kind trained on `corpus`, as comparable text. */
  private def trainedArtifacts(corpus: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    Seq(
      Similarity.kmeansCentroids(corpus, 4, 1, dim = 8)
        .collect().map(_.toString).sorted.toSeq,
      Similarity.pqCodebooks(corpus, m = 2, k = 4, iters = 1, dim = 8).toSeq
        .flatMap(_.map { case (c, v) => s"$c:${v.mkString(",")}" }),
      Similarity.sq8TopK(corpus.filter($"vec_id" < 4), corpus, 3)
        .collect().map(_.toString).sorted.toSeq)

  /** After training on `first`, `second` must be served what a cold
    * training on `second` produces.
    */
  private def assertNotStale(first: => org.apache.spark.sql.DataFrame,
                             second: => org.apache.spark.sql.DataFrame): Unit = {
    TrainedArtifactCache.clear()
    val firstArtifacts = trainedArtifacts(first)
    val served = trainedArtifacts(second)
    TrainedArtifactCache.clear()
    val cold = trainedArtifacts(second)
    TrainedArtifactCache.clear()
    assert(firstArtifacts != cold, "the two corpora must train differently")
    assert(served == cold, s"stale artifacts served:\n$served\nvs cold\n$cold")
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-stale").toString

  test("artifact cache: two parquet dirs of one schema never share artifacts") {
    val (a, b) = (tempDir() + "/c", tempDir() + "/c")
    randomCorpus(1).write.parquet(a)
    randomCorpus(2).write.parquet(b)
    assertNotStale(spark.read.parquet(a), spark.read.parquet(b))
  }

  test("artifact cache: files rewritten under one path retrain") {
    val dir = tempDir() + "/c"
    randomCorpus(1).write.parquet(dir)
    assertNotStale(spark.read.parquet(dir), {
      randomCorpus(2).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    })
  }

  test("artifact cache: two local corpora of one schema never share artifacts") {
    assertNotStale(randomCorpus(1), randomCorpus(2))
  }

  test("artifact cache: a repeat call on unchanged input trains nothing") {
    val dir = tempDir() + "/c"
    randomCorpus(3).write.parquet(dir)
    for (corpus <- Seq(spark.read.parquet(dir), randomCorpus(3))) {
      TrainedArtifactCache.clear()
      val first = trainedArtifacts(corpus)
      val queries = corpus.filter($"vec_id" < 4)
      val jobs = TestSpark.countingJobs {
        Similarity.kmeansCentroids(corpus, 4, 1, dim = 8)
        Similarity.pqCodebooks(corpus, m = 2, k = 4, iters = 1, dim = 8)
      }._2
      assert(jobs == 0, s"$jobs training jobs on a repeat call")
      // sq8TopK's only eager work on a hit is the query-batch collect
      val sq8Jobs = TestSpark.countingJobs(Similarity.sq8TopK(queries, corpus, 3))._2
      assert(sq8Jobs == TestSpark.countingJobs(queries.collect())._2)
      assert(trainedArtifacts(corpus) == first)
    }
    TrainedArtifactCache.clear()
  }
}
