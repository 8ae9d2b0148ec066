package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.sfDir)

  test("exactDupGroups finds planted byte-dups") {
    val crafted = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "other text"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(crafted).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n") == 2 && groups.head.getAs[Long]("canonical_id") == 1L)
  }

  test("minhash signature: unigram mode is order-insensitive, shingle mode is not") {
    val crafted = Seq((1L, "a b c d e"), (2L, "e d c b a"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    def sigs(shingleN: Int) = {
      val sig = Dedup.minhashSignature(col("text"), 4, shingleN)
      crafted.select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
        .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getString)).toMap
    }
    val uni = sigs(1)
    assert(uni(1L) == uni(2L), "unigram minhash sees the same token set")
    assert(uni(1L) != uni(3L))
    val tri = sigs(3)
    assert(tri(1L) != tri(2L), "3-gram shingles capture order")
  }

  test("LSH candidate pairs contain the planted near-dups found by jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "corpus plants near-dups")
    val cands = Dedup.lshCandidatePairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = (exact intersect cands).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall over jaccard>=0.9 pairs was $recall")
  }

  test("simhash: identical texts collide, near texts are close in Hamming") {
    val crafted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different words nothing shared whatsoever here at all")
    ).toDF("doc_id", "text")
    val fp = crafted.select(col("doc_id"), Dedup.simhash32(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) == fp(2L))
    assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L)))
  }

  test("minhash signature estimates Jaccard (sketch calibration)") {
    // estimate = fraction of matching signature components; over the corpus
    // pair sample it must track exact 3-gram Jaccard within sketch error
    val sigs = Dedup.minhashSignatureTable(docs, 8).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(exact.nonEmpty)
    val errs = exact.map { case ((a, b), j) =>
      val est = sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 8.0
      math.abs(est - j)
    }
    assert(errs.sum / errs.length <= 0.25,
      s"mean |minhash estimate - jaccard| = ${errs.sum / errs.length}")
  }

  test("dupClusters: transitive chains collapse to the component minimum") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dupClusters: refuses to return partial labels on non-convergence") {
    // a 5-hop chain cannot converge in 1 iteration of min-label propagation;
    // a zero driver-tail budget forces the distributed loop (the local
    // union-find path always converges)
    val chain = (1L to 5L).sliding(2).map(w => (w.head, w.last)).toSeq
      .toDF("doc_a", "doc_b")
    TestSpark.withDriverTail(0) {
      intercept[IllegalStateException] {
        Dedup.dupClusters(chain, maxIters = 1)
      }
    }
  }

  test("dupClusters: local union-find and distributed loop agree") {
    // two chains, a triangle-with-tail, and a singleton pair — exercises
    // path compression, min-through-chain, and string ids on both paths
    val pairs = Seq(
      ("d07", "d03"), ("d03", "d09"), ("d09", "d01"),
      ("x2", "x1"), ("x2", "x3"), ("x1", "x3"), ("x3", "x4"),
      ("solo_b", "solo_a")).toDF("doc_a", "doc_b")
    val local = Dedup.dupClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = TestSpark.withDriverTail(0) {
      Dedup.dupClusters(pairs).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(local == dist)
    assert(local("d07") == "d01" && local("d01") == "d01")
    assert(local("x4") == "x1" && local("solo_a") == "solo_a" &&
           local("solo_b") == "solo_a")
  }

  test("dupClusters: an always-local Long.MaxValue threshold cannot overflow the probe") {
    // regression: a threshold + 1 overflowing to
    // Long.MinValue made the probe limit(0) and silently reported an empty
    // dup graph; DriverTail clamps every budget below Int.MaxValue before
    // the +1
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = TestSpark.withDriverTail(Long.MaxValue) {
      Dedup.dupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("ngram jaccard equals a driver-side reference on crafted docs") {
    val crafted = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text")
    // 4 shared 3-grams ("a b c","b c d","c d e"), sizes 4 and 4 → 3/(4+4-3)=0.6
    val out = Dedup.ngramJaccardPairs(crafted, 3, 0.1).collect()
    assert(out.length == 1)
    assert(math.abs(out.head.getDouble(2) - 0.6) < 1e-12)
  }

  test("maxShingleDf cap: df-filtered Jaccard recalls the near-dup pairs") {
    val full = Dedup.ngramJaccardPairs(docs, 3, 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(full.nonEmpty)
    val capped = Dedup.ngramJaccardPairs(docs, 3, 0.9, maxShingleDf = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = (full intersect capped).size.toDouble / full.size
    assert(recall >= 0.9, s"df-capped Jaccard lost near-dups: recall=$recall")
  }

  test("simhashNearDups: identical texts pair at hamming 0, distinct texts don't pair") {
    val crafted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),        // byte-identical: hamming 0
      (3L, "alpha beta gamma delta epsilon eta"),          // one token swapped: near
      (4L, "quick brown fox jumps over lazy dog pack")     // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.simhashNearDups(crafted)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.get((1L, 2L)).contains(0L), s"identical docs must pair at 0: $out")
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L },
      s"unrelated doc must not pair within hamming 3: $out")
  }

  test("simhashNearDups pigeonhole recall: every pair within maxHamming is found") {
    // exhaustive check against the fingerprint table on a corpus slice
    val docs = Tables.documents(spark, TestSpark.sfDir).limit(120)
    val fp = Dedup.simhashTable(docs, 60).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (for {
      (a, ha) <- fp.toSeq; (b, hb) <- fp.toSeq if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashNearDups(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == expect, s"blocking lost pairs: missing=${expect -- got} extra=${got -- expect}")
  }

  test("incrementalLshDups agrees with the self-join restricted to cross pairs") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val ex = docs.filter(col("doc_id") % 5 =!= 0)
    val cross = Dedup.incrementalLshDups(inc, ex)
      .select("doc_id", "dup_of").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    // self-join over the whole corpus, keeping only pairs that straddle
    // the split — must be exactly the incremental result
    val self = Dedup.lshCandidatePairs(docs)
      .as[(Long, Long)].collect()
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(cross == self, s"incremental=$cross self=$self")
    assert(cross.nonEmpty, "fixture should plant at least one cross-split near-dup")
  }

  test("incrementalLshDups n_bands is bounded by the band count and positive") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val out = Dedup.incrementalLshDups(
      docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0))
    val bad = out.filter(col("n_bands") < 1 || col("n_bands") > 4).count()
    assert(bad == 0)
  }

  test("maxShingleDf semantics: exact Jaccard over the df-filtered universe") {
    // 'x y z' appears in all three docs (df=3 > cap) → excluded from the
    // measure entirely; docs 1/2 then share 'a b c','b c d' of sizes 3/3
    val crafted = Seq(
      (1L, "a b c d x y z"), (2L, "a b c d x y z"), (3L, "q r s t x y z")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(crafted, 3, 0.1, maxShingleDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // capped universe for docs 1,2: {a b c, b c d, c d x(df2), d x y(df2)} +
    // shared all 4 → jaccard 1.0; doc 3 shares nothing under the cap
    assert(out.keySet == Set((1L, 2L)))
    assert(math.abs(out((1L, 2L)) - 1.0) < 1e-12)
  }

  test("containmentPairs: subset dup scores 1.0 where jaccard would miss it") {
    // B's 3-gram set {abc, bcd} ⊂ A's {abc, bcd, cde, def}: containment_b
    // = 1.0 while jaccard is only 0.5; C is disjoint
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d"), (3L, "q r s t u")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.keySet == Set((1L, 2L)), s"got ${out.keySet}")
    val r = out((1L, 2L))
    assert(r.getLong(2) == 2L, "two shared shingles")
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 1.0)
    // symmetric check: the jaccard gate at the same threshold finds nothing
    assert(Dedup.ngramJaccardPairs(docs, 3, 0.9).count() == 0L)
  }

  test("dropBoilerplateLines: shared lines go, unique lines keep order, empty docs survive") {
    val crafted = Seq(
      (1L, "nav home about\nreal prose one\ncopyright footer"),
      (2L, "nav home about\nreal prose two\ncopyright footer"),
      (3L, "nav home about\ncopyright footer"),
      (4L, "solo document line")
    ).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(crafted, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((1L, 2L, "real prose one")))
    assert(out(2L) == ((1L, 2L, "real prose two")))
    // every line boilerplate → empty text, row still present
    assert(out(3L) == ((0L, 2L, "")))
    assert(out(4L) == ((1L, 0L, "solo document line")))
  }

  test("dropBoilerplateLines preserves multi-line order and within-doc repeats") {
    val crafted = Seq(
      (1L, "keep A\nshared\nkeep B\nkeep A\nkeep C"),
      (2L, "shared\nunrelated")
    ).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(crafted, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // 'keep A' repeats within doc 1 only (one distinct doc) → both kept,
    // original positions preserved
    assert(out(1L) == "keep A\nkeep B\nkeep A\nkeep C")
    assert(out(2L) == "unrelated")
  }

  test("duplicateSpans: maximal cross-doc spans via gaps-and-islands") {
    // docs 1 and 2 share "a b c d" (4 tokens) at different offsets; doc 3 is
    // disjoint. With n=3 the shared region yields 2 consecutive duplicated
    // windows per doc, which must merge into ONE maximal 4-token span.
    val crafted = Seq(
      (1L, "x1 x2 a b c d y1 y2"),
      (2L, "a b c d z1 z2 z3 z4"),
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(crafted, n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 2L, 4L), (2L, 0L, 4L)))
  }

  test("duplicateSpans: within-doc-only repeats don't count, short docs are safe") {
    val crafted = Seq(
      (1L, "a b c a b c a b c"), // repeats only within itself
      (2L, "u v"),               // shorter than n — must not blow up
      (3L, "d e f g h")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(crafted, n = 3, minDocs = 2).count() == 0)
  }

  test("duplicateSpans: two disjoint shared regions stay separate islands") {
    // doc 1 shares its head with doc 2 and its tail with doc 3; the gap
    // between them must produce two spans for doc 1, not one merged span.
    val crafted = Seq(
      (1L, "a b c GAP1 GAP2 GAP3 x y z"),
      (2L, "a b c q1 q2 q3 q4 q5 q6"),
      (3L, "r1 r2 r3 r4 r5 r6 x y z")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(crafted, n = 3, minDocs = 2)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((0L, 3L), (6L, 3L)))
  }

  test("spanDedupedDocs: owner keeps the span, later docs lose it, counts agree") {
    val crafted = Seq(
      (1L, "a b c d e x1 x2 x3"),   // owner of the shared 5-token run
      (2L, "y1 y2 a b c d e y3"),   // loses tokens 2..6
      (3L, "p q r s t u v w")       // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupedDocs(crafted, n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((8L, 0L, "a b c d e x1 x2 x3")))
    assert(out(2L) == ((8L, 5L, "y1 y2 y3")))
    assert(out(3L) == ((8L, 0L, "p q r s t u v w")))
  }

  test("spanDedupedDocs: a fully-duplicated doc survives as an empty-text row") {
    val crafted = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupedDocs(crafted, n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((0L, "a b c d e")))
    assert(out(2L) == ((5L, "")))
  }

  test("spanDedupedDocs composes with duplicateSpans: rewritten corpus has no cross-doc spans left") {
    // Every dup window's surviving copies live only in its owner doc, so
    // post-rewrite cross-doc windows can only be NEW ones formed at removal
    // seams (tokens made adjacent by a dropped span). Zero here is a
    // property of this corpus (seam grams don't collide); a corpus where
    // they did would need a second detection/removal round — the standard
    // iterate-to-fixpoint story, not a defect of either half.
    val cleaned = Dedup.spanDedupedDocs(docs, n = 8)
      .select(col("doc_id"), col("clean_text").as("text"))
    assert(Dedup.duplicateSpans(cleaned, n = 8, minDocs = 2).count() == 0,
      "removal must clear every detectable duplicated window")
  }

  test("duplicate_spans catalog row finds the corpus's planted near-dup spans") {
    val spans = Dedup.duplicateSpans(docs, n = 8, minDocs = 2)
    assert(spans.count() > 0, "planted near-dups share >=8-token runs")
    // every span is at least the window length and starts in-bounds
    val bad = spans.filter(col("span_tokens") < 8 || col("span_start") < 0).count()
    assert(bad == 0)
  }

  test("winnowingFingerprints: guarantee, density bound, rightmost tie, short docs") {
    import org.apache.spark.sql.functions._
    // docs 1 and 2 share a run of w+k-1 = 7 tokens ("s1..s7") at different
    // offsets — the paper's guarantee demands a shared fingerprint
    val docs = Seq(
      (1L, "a b c s1 s2 s3 s4 s5 s6 s7 d e f g h i j k"),
      (2L, "s1 s2 s3 s4 s5 s6 s7 x y z w1 w2 w3 w4 w5"),
      (3L, "t t t t t t t t"), // all-identical grams: tie rule everywhere
      (4L, "p q")              // shorter than k tokens: fallback fingerprint
    ).toDF("doc_id", "text")
    val fp = graft.ops.Dedup.winnowingFingerprints(docs, 4, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = fp.groupBy(_._1)
    assert(byDoc(1L).map(_._3).toSet.intersect(byDoc(2L).map(_._3).toSet).nonEmpty,
      "7-token shared run must share a selected fingerprint")
    // density: selected <= ceil(2/(w+1) * positions) + slack; doc 1 has 15
    // gram positions -> far fewer than 15 selections
    assert(byDoc(1L).length < 15 && byDoc(1L).length >= 3)
    // doc 3: every gram identical => every frame's min ties => rightmost
    // wins => selections are frame ends; first full frame selects pos 3,
    // sliding by one selects each subsequent position
    assert(byDoc(3L).map(_._2).sorted.toSeq == Seq(3L, 4L),
      s"tie rule: expected rightmost-of-frame positions, got ${byDoc(3L).map(_._2).sorted.toSeq}")
    // doc 4 (< k tokens): exactly one fallback fingerprint at pos 0
    assert(byDoc(4L).toSeq == Seq((4L, 0L, byDoc(4L).head._3)))
    // every doc fingerprinted
    assert(byDoc.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("dupWindowStats agrees with duplicateSpans window-for-window on the corpus") {
    // a maximal span of L tokens is exactly L − n + 1 duplicated windows,
    // so per-doc Σ(span_tokens − n + 1) must equal n_dup_windows — the two
    // operators share the dup head but diverge after it, making this a
    // real cross-check of the island reconstruction
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val n = 8
    val fromSpans = Dedup.duplicateSpans(docs, n, 2)
      .groupBy("doc_id")
      .agg(sum(col("span_tokens") - n + 1).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stats = Dedup.dupWindowStats(docs, n, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    stats.foreach { case (doc, nw, nd, frac) =>
      assert(nd == fromSpans.getOrElse(doc, 0L),
        s"doc $doc: $nd dup windows vs spans-derived ${fromSpans.get(doc)}")
      assert(nd <= nw && math.abs(frac - nd.toDouble / nw) == 0.0)
    }
    assert(stats.map(_._3).sum == fromSpans.values.sum)
  }

  test("editDistanceRescore: subset of LSH candidates, exact sims, threshold filter") {
    val cands = Dedup.lshCandidatePairs(docs, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rescored = Dedup.editDistanceRescore(docs, 8, 2, 0.8).collect()
    assert(rescored.nonEmpty, "corpus plants near-dups — rescore must keep some")
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rescored.foreach { r =>
      val (a, b, dist, sim) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(cands((a, b)), s"($a,$b) not an LSH candidate")
      assert(sim >= 0.8)
      // exact distance check against a reference DP implementation
      val (ta, tb) = (texts(a), texts(b))
      val dp = Array.tabulate(ta.length + 1)(i => i)
      for (j <- 1 to tb.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to ta.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
                           prev + (if (ta(i - 1) == tb(j - 1)) 0 else 1))
          prev = cur
        }
      }
      assert(dist == dp(ta.length), s"($a,$b): levenshtein $dist vs DP ${dp(ta.length)}")
      val expSim = BigDecimal(1.0 - dist.toDouble / math.max(ta.length, tb.length))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(sim == expSim)
    }
  }

  test("minhashCalibration: identical docs land at m=k with zero error") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // verbatim
      (3L, "completely different text with no shared shingles at all"),
      (4L, "another unrelated document about entirely other things"))
      .toDF("doc_id", "text")
    val rows = Dedup.minhashCalibration(df, k = 8, rowsPerBand = 2).collect()
    // the verbatim pair must surface at m=8 with exact jaccard 1, err 0
    val full = rows.find(_.getLong(0) == 8L)
    assert(full.isDefined, s"no m=8 bucket: ${rows.mkString(";")}")
    assert(full.get.getDouble(2) == 1.0 && full.get.getDouble(3) == 0.0,
      full.get.toString)
    // every candidate pair matched at least one full band
    assert(rows.forall(_.getLong(0) >= 2L), "band match implies >= rowsPerBand")
    assert(rows.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("symDeleteMatch: every 1-edit type is recalled, distance-2 is rejected") {
    import spark.implicits._
    val clean = Seq((1L, "alphabet"), (2L, "spark"), (3L, "duckdb"))
      .toDF("clean_id", "clean_name")
    val dirty = Seq(
      (10L, 1L, "alphabet"),  // identity (distance 0)
      (11L, 1L, "alphabe"),   // deletion
      (12L, 2L, "sparks"),    // insertion
      (13L, 2L, "spork"),     // substitution
      (14L, 3L, "duckXY"))    // distance 2 -> must NOT match
      .toDF("dirty_id", "source_id", "dirty_name")
    val out = graft.ops.Dedup.symDeleteMatch(dirty, clean).collect()
      .map(r => r.getAs[Long]("dirty_id") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Boolean]("source_recovered"))).toMap
    assert(out(10L) == ((1L, true)) && out(11L) == ((1L, true)))
    assert(out(12L) == ((1L, true)) && out(13L) == ((1L, true)))
    assert(out(14L) == ((0L, false)), out.toString)
  }

  test("fellegiSunterLinkage: three-band decisions score exactly from the m/u weights") {
    import spark.implicits._
    val Seq((wNa, wNd), (wTa, wTd), (wSa, wSd)) = graft.ops.Dedup.fsWeights
    val clean = Seq(
      (1L, "alice", 10L, "SEG1"),   // the true source of dirty 101
      (2L, "alicx", 11L, "SEGX"),   // name-plausible doppelganger, fields off
      (3L, "ba", 99L, "SEGZ"))      // lev-2 key collision for dirty 102
      .toDF("clean_id", "clean_name", "c_nation", "c_segment")
    val dirty = Seq(
      (101L, 1L, "alic", 10L, "SEG1"), // e dropped from alice
      (102L, 3L, "ab", 98L, "SEGY"))   // transposition: lev 2 from "ba"
      .toDF("dirty_id", "source_id", "dirty_name", "d_nation", "d_segment")
    val out = graft.ops.Dedup.fellegiSunterLinkage(dirty, clean).collect()
      .map(r => r.getAs[String]("decision") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_true_pairs"),
         r.getAs[Long]("min_score_micro"), r.getAs[Long]("max_score_micro"))).toMap
    // all-agree true pair: full agreement weight, match band
    assert(out("match") == ((1L, 1L, wNa + wTa + wSa, wNa + wTa + wSa)), out.toString)
    // name agrees, both fields disagree: positive but under the match bar
    assert(out("possible") == ((1L, 0L, wNa + wTd + wSd, wNa + wTd + wSd)))
    // the lev-2 blocking collision: everything disagrees — and it IS the
    // true pair (a transposition), the miss this audit exists to surface
    assert(out("non_match") == ((1L, 1L, wNd + wTd + wSd, wNd + wTd + wSd)))
  }
  test("tfCosinePairs: weights separate repetition depth; minDot floors noise") {
    val docs = Seq(
      (1L, "x1 y1 x1 y1 x1 y1 x1 y1"),   // bigram tf: (x1 y1)=4, (y1 x1)=3
      (2L, "x1 y1 x1 y1 x1 y1 x1 y1"),   // identical -> cosine 1.0
      (3L, "x1 y1 z1 w1 q1 r1 s1 t1"),   // shares one bigram, dot 4 < minDot
      (4L, "x1 y1 x1 y1"))               // same SET as 1, shallower tf
      .toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.tfCosinePairs(docs, 2, 0.5,
        maxShingleDf = 10, minDot = 5L)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("dot"), r.getAs[Double]("cosine"))).toMap
    // (1,2) exact dup: dot 4*4+3*3 = 25, cosine 1.0
    assert(pairs((1L, 2L)) == ((25L, 1.0)))
    // (1,4)/(2,4): set-identical but tf-shallower -> cosine strictly < 1
    // (Jaccard would say 1.0); dot 4*2+3*1 = 11
    assert(pairs((1L, 4L))._1 == 11L)
    assert(pairs((1L, 4L))._2 < 1.0 && pairs((1L, 4L))._2 > 0.9)
    // doc 3 shares only one bigram (dot 4) -> floored by minDot
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
    assert(pairs.size == 3) // (1,2), (1,4), (2,4)
  }
}
