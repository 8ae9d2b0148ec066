package graft

import graft.ops.Curation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.sfDir)

  test("assignSplit is a pure function of the key — stable under repartitioning") {
    val base = docs.select(col("doc_id"), Curation.assignSplit(col("doc_id")).as("split"))
    val shuffled = docs.repartition(7, col("source"))
      .select(col("doc_id"), Curation.assignSplit(col("doc_id")).as("split"))
    assert(base.join(shuffled, "doc_id")
      .filter(base("split") =!= shuffled("split")).count() == 0,
      "a document moved across splits after repartitioning")
  }

  test("assignSplit hits the target fractions within hash noise") {
    val n = docs.count().toDouble
    val bySplit = docs.select(Curation.assignSplit(col("doc_id")).as("split"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(bySplit.getOrElse("train", 0L) / n - 0.80) < 0.10)
    assert(math.abs(bySplit.getOrElse("val", 0L) / n - 0.10) < 0.07)
    assert(math.abs(bySplit.getOrElse("test", 0L) / n - 0.10) < 0.07)
    assert(bySplit.values.sum == n.toLong, "every doc is assigned exactly one split")
  }

  test("packSequences: seq assignment follows the concat-and-chunk running offset") {
    val budget = 512
    val packed = Curation.packSequences(docs, budget).collect()
    // recompute offsets per shard in doc_id order and check each row's seq_id
    packed.groupBy(_.getAs[String]("shard")).foreach { case (_, rows) =>
      var off = 0L
      rows.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("seq_id") == off / budget,
          s"doc ${r.getAs[Long]("doc_id")} packed into the wrong sequence")
        off += r.getAs[Int]("n_tokens")
      }
    }
    assert(packed.map(_.getAs[Int]("n_tokens").toLong).sum ==
      docs.select(sum(size(split(col("text"), " ")))).as[Long].head(),
      "packing must conserve tokens")
  }

  test("packingManifest: every sequence except a shard's last is filled past the budget boundary") {
    val budget = 512
    val manifest = Curation.packingManifest(docs, budget).collect()
    manifest.groupBy(_.getAs[String]("shard")).foreach { case (_, rows) =>
      val byId = rows.sortBy(_.getAs[Long]("seq_id"))
      // concat-and-chunk: a sequence only opens when the running offset
      // crosses its boundary, so seq ids are increasing and doc counts
      // positive; token totals bound below by 1 doc
      assert(byId.map(_.getAs[Long]("seq_id")).distinct.length == byId.length)
      assert(byId.forall(_.getAs[Long]("n_docs") > 0))
    }
  }

  test("weightedSample hits target proportions, keeps the binding group whole, drops unweighted groups") {
    val docsBig = Tables.documents(spark, "/root/testdata/sf0.01")
    val weights = Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.25)
    val out = Curation.weightedSample(docsBig, weights, groupCol = "lang").cache()
    val before = docsBig.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.keySet.subsetOf(weights.keySet), "unweighted groups must be dropped")
    // binding group: the lang with smallest n/w keeps EXACTLY everything —
    // its rate is pinned to mod, not routed through double floor arithmetic
    val binding = weights.keys.minBy(l => before(l) / weights(l))
    assert(after(binding) == before(binding),
      s"binding group $binding lost documents: ${after(binding)} of ${before(binding)}")
    // proportions track the weights within hash noise
    val total = after.values.sum.toDouble
    weights.foreach { case (l, w) =>
      assert(math.abs(after.getOrElse(l, 0L) / total - w / weights.values.sum) < 0.08,
        s"$l mixture share off target: ${after.getOrElse(l, 0L) / total} vs $w")
    }
    out.unpersist()
  }

  test("weightedSample binding group survives fractional weights whose scale rounds badly") {
    // n_binding/w = 3/0.1 = 29.999999999999996 as a double: floor-based rate
    // arithmetic would land on 9999/10000 and drop hash-unlucky docs
    val docs3 = Seq((1L, "a"), (2L, "a"), (3L, "a"),
                    (4L, "b"), (5L, "b"), (6L, "b"), (7L, "b"), (8L, "b"))
      .toDF("doc_id", "grp")
    val out = Curation.weightedSample(docs3, Map("a" -> 0.1, "b" -> 0.001),
      groupCol = "grp")
    assert(out.filter($"grp" === "a").count() == 3,
      "the binding group must keep every document")
  }

  test("assignSplit partitions every key for any valid (train,val) percentages") {
    val keys = docs.select(col("doc_id"))
    for ((tr, va) <- Seq((80, 10), (90, 5), (0, 100), (100, 0), (60, 0))) {
      val n = keys.count()
      val bySplit = keys.select(Curation.assignSplit(col("doc_id"), tr, va).as("s"))
        .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bySplit.values.sum == n, s"($tr,$va): docs lost or duplicated")
      if (tr == 0) assert(!bySplit.contains("train"), s"($tr,$va): train must be empty")
      if (tr + va == 100) assert(!bySplit.contains("test"), s"($tr,$va): test must be empty")
    }
    intercept[IllegalArgumentException] { Curation.assignSplit(col("doc_id"), 80, 30) }
  }

  test("packSequences conserves docs and tokens for any budget") {
    val rnd = new scala.util.Random(42)
    val nDocs = docs.count()
    val toks = docs.select(sum(size(split(col("text"), " ")))).as[Long].head()
    (0 until 3).foreach { _ =>
      val budget = 1 + rnd.nextInt(4096)
      val packed = Curation.packSequences(docs, budget)
      assert(packed.count() == nDocs, s"budget=$budget: docs lost")
      assert(packed.select(sum(col("n_tokens"))).as[Long].head() == toks,
        s"budget=$budget: tokens not conserved")
      // seq ids are non-negative and (within a shard) non-decreasing in doc_id
      assert(packed.filter(col("seq_id") < 0).count() == 0)
    }
  }

  test("packSequences is a pure function of the input multiset even with duplicate doc_ids") {
    // ids collide heavily (8 ids over 40 docs, some with identical text):
    // ties order by (doc_id, n_tokens), and rows equal in both are
    // interchangeable — so any permutation / partitioning of the same
    // multiset must pack to the identical output multiset
    (0 until 3).foreach { trial =>
      val rnd = new scala.util.Random(7 + trial)
      val rows = Seq.fill(40) {
        (rnd.nextInt(8).toLong,
         List.fill(1 + rnd.nextInt(6))("w" + rnd.nextInt(4)).mkString(" "),
         "s" + rnd.nextInt(2))
      }
      def run(rs: Seq[(Long, String, String)], parts: Int) =
        Curation.packSequences(
            rs.toDF("doc_id", "text", "source").repartition(parts), budget = 5)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
          .sorted
      assert(run(rows, 3).toSeq == run(rnd.shuffle(rows), 7).toSeq,
        s"trial $trial: packing output depends on row order with duplicate ids")
    }
  }

  test("packedText: seq texts in seq order reconstruct each shard's doc concat exactly") {
    val packed = Curation.packedText(docs, budget = 512).collect()
    val docsByShard = docs.select(col("source"), col("doc_id"), col("text")).collect()
      .groupBy(_.getString(0))
    packed.groupBy(_.getAs[String]("shard")).foreach { case (shard, rows) =>
      val whole = rows.sortBy(_.getAs[Long]("seq_id"))
        .map(_.getAs[String]("seq_text")).mkString(" ")
      val expect = docsByShard(shard).sortBy(_.getLong(1)).map(_.getString(2)).mkString(" ")
      assert(whole == expect, s"shard $shard: packed text does not reconstruct the corpus")
    }
  }

  test("stratifiedSample: k per full stratum, subset-monotone in k, stable under repartitioning") {
    val s10 = Curation.stratifiedSample(docs, 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val by = s10.groupBy(_._1)
    counts.foreach { case (lang, n) =>
      assert(by(lang).length == math.min(10L, n), s"$lang sample size off") }
    // the min-hash prefix property: a smaller k samples a subset
    val s5 = Curation.stratifiedSample(docs, 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(s5.subsetOf(s10.toSet), "k=5 must be a prefix of k=10")
    val again = Curation.stratifiedSample(docs.repartition(7), 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == s10.toSet, "sample moved under repartitioning")
  }

  test("contaminationReport flags exactly the train docs sharing eval shingles; decontaminatedTrain drops them") {
    // classify ids by the real hash split, then plant a leaked text into two
    // train docs and one eval doc; remaining train docs get fully
    // id-specific tokens (no cross-doc 5-gram can exist)
    val ids = (1L to 200L).toSeq
    val splits = ids.toDF("doc_id")
      .select(col("doc_id"), Curation.assignSplit(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainIds = ids.filter(splits(_) == "train")
    val evalIds = ids.filter(splits(_) != "train")
    val leak = "alpha beta gamma delta epsilon zeta eta theta" // 4 distinct 5-grams
    val docs = (trainIds.take(2).map(id => (id, leak)) ++
        evalIds.take(1).map(id => (id, leak)) ++
        trainIds.slice(2, 5).map(id => (id, s"a$id b$id c$id d$id e$id f$id")))
      .toDF("doc_id", "text")
    val rep = Curation.contaminationReport(docs).collect()
    assert(rep.map(_.getLong(0)).toSet == trainIds.take(2).toSet,
      "exactly the leaked train docs are flagged")
    assert(rep.forall(_.getAs[Long]("max_shared") == 4),
      "an identical 8-token doc shares all 4 of its 5-gram shingles")
    val dec = Curation.decontaminatedTrain(docs).select("doc_id").as[Long].collect().toSet
    assert(dec == trainIds.slice(2, 5).toSet,
      "decontaminated train = train minus flagged, nothing else")
  }

  test("writeShards round-trips the packed dataset through a shard-partitioned layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val packed = Curation.packedText(docs, budget = 512)
    Curation.writeShards(packed, dir)
    val back = spark.read.parquet(dir)
    // partition discovery restores the shard column; content identical
    assert(back.columns.toSet == packed.columns.toSet)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("shard"), r.getAs[Long]("seq_id"),
       r.getAs[Long]("n_docs"), r.getAs[String]("seq_text"))
    assert(back.collect().map(key).toSet == packed.collect().map(key).toSet)
    // one directory per shard (hive layout)
    val shardDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).toSet
    assert(shardDirs == packed.select("shard").distinct().collect()
      .map(r => s"shard=${r.getString(0)}").toSet)
  }

  test("curation ops are total on an empty corpus") {
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    assert(Curation.packSequences(empty, 8).count() == 0)
    assert(Curation.packedText(empty, 8).count() == 0)
    assert(Curation.packingManifest(empty, 8).count() == 0)
    assert(Curation.contaminationReport(empty).count() == 0)
    assert(Curation.decontaminatedTrain(empty).count() == 0)
    assert(Curation.stratifiedSample(empty, 5).count() == 0)
    assert(Curation.balancedSample(empty).count() == 0)
    assert(Curation.weightedSample(empty, Map("en" -> 1.0)).count() == 0)
  }

  test("decontamination partitions the train split: kept ⊎ flagged = train") {
    val train = docs.filter(Curation.assignSplit(col("doc_id")) === "train")
    val flagged = Curation.contaminationReport(docs).select("doc_id")
    val kept = Curation.decontaminatedTrain(docs)
    assert(kept.count() + flagged.count() == train.count(),
      "every flagged doc is a train doc and is removed exactly once")
    assert(kept.join(flagged, Seq("doc_id"), "left_semi").count() == 0,
      "kept and flagged are disjoint")
  }

  test("contaminationSpans: only eval docs reported, and every span's text exists in train") {
    val spans = Curation.contaminationSpans(docs, n = 8)
    assert(spans.count() > 0, "planted near-dups straddle the hash split")
    // every reported doc is val/test by the same assignSplit
    val wrongSplit = spans
      .join(docs.select(col("doc_id"),
        Curation.assignSplit(col("doc_id")).as("true_split")), Seq("doc_id"))
      .filter(col("split") =!= col("true_split") || col("split") === "train")
      .count()
    assert(wrongSplit == 0)
    // soundness: the first 8-token window of each reported span appears
    // verbatim in some train doc
    val trainText = docs
      .filter(Curation.assignSplit(col("doc_id")) === "train")
      .select(col("text").as("train_text"))
    val firstWindows = spans
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .select(concat_ws(" ",
        slice(split(col("text"), " "), col("span_start").cast("int") + 1, lit(8))).as("w"))
    val missing = firstWindows.join(trainText,
        col("train_text").contains(col("w")), "left_anti").count()
    assert(missing == 0, "a reported span's window must exist in train")
  }

  test("balancedSample keeps the minority group whole and downsamples the rest deterministically") {
    val out = Curation.balancedSample(docs).cache()
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minLang = before.minBy(_._2)._1
    assert(after(minLang) == before(minLang), "smallest group must keep everything")
    after.foreach { case (lang, kept) =>
      assert(kept <= before(lang), s"$lang grew")
    }
    // deterministic: a second evaluation returns the identical doc set
    val again = Curation.balancedSample(docs)
    assert(out.select("doc_id").except(again.select("doc_id")).count() == 0)
    assert(again.select("doc_id").except(out.select("doc_id")).count() == 0)
    out.unpersist()
  }

  test("chunkDocs: window/stride boundaries, trailing tail, reconstruction") {
    // 11 tokens, window 4, stride 2 → starts 0,2,4,6,8,10 (⌈11/2⌉ = 6 chunks)
    val toks = (1 to 11).map(i => s"t$i")
    val crafted = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val chunks = Curation.chunkDocs(crafted, window = 4, stride = 2)
      .orderBy("chunk_idx").collect()
    assert(chunks.length == 6)
    val texts = chunks.map(_.getAs[String]("chunk_text"))
    assert(texts(0) == "t1 t2 t3 t4")
    assert(texts(1) == "t3 t4 t5 t6")
    assert(texts(4) == "t9 t10 t11")      // short tail kept
    assert(texts(5) == "t11")             // last start < n
    assert(chunks.map(_.getAs[Long]("n_tokens")).toSeq == Seq(4L, 4L, 4L, 4L, 3L, 1L))
    // stride == window → exact partition, concatenation reconstructs the doc
    val exact = Curation.chunkDocs(crafted, window = 4, stride = 4)
      .orderBy("chunk_idx").collect().map(_.getAs[String]("chunk_text"))
    assert(exact.mkString(" ") == toks.mkString(" "))
  }

  test("chunkDocs hash-only form carries the md5 of the text form") {
    val crafted = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val withText = Curation.chunkDocs(crafted, 3, 2)
      .select("chunk_idx", "chunk_text", "chunk_hash").collect()
    withText.foreach { r =>
      assert(r.getString(2) ==
        java.security.MessageDigest.getInstance("MD5")
          .digest(r.getString(1).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }
    val hashOnly = Curation.chunkDocs(crafted, 3, 2, withText = false)
    assert(hashOnly.columns.toSeq ==
      Seq("doc_id", "chunk_idx", "n_tokens", "chunk_hash"))
  }

  test("curriculumPhases: monotone phases, near-balanced quartiles, two-scan shape") {
    val scored = graft.ops.TextAnalysis.nbClassifierScores(
      Tables.documents(spark, TestSpark.sfDir))
    val out = Curation.curriculumPhases(scored, phases = 4)
      .select(col("doc_id"), col("phase"), col("mean_logodds_unats"))
      .collect().map(r => (r.getInt(1), r.getDouble(2)))
    val byPhase = out.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byPhase.keySet.subsetOf(Set(1, 2, 3, 4)))
    // phase 1 holds the top scores: every phase k score >= every k+1 score
    (1 to 3).foreach { k =>
      for (hi <- byPhase.get(k); lo <- byPhase.get(k + 1))
        assert(hi.min >= lo.max, s"phase $k floor ${hi.min} < phase ${k + 1} ceil ${lo.max}")
    }
    // quartiles are near-balanced (exact balance bends only on score ties)
    val n = out.length
    byPhase.foreach { case (p, xs) =>
      assert(xs.length >= n / 8 && xs.length <= n, s"phase $p badly skewed: ${xs.length}/$n")
    }
  }

  test("dsirWeights: target docs score higher than background on average") {
    val out = Curation.dsirWeights(docs, targetSources = Seq("src0", "src1"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Double]("mean_logweight_unats")))
    val (tgt, bg) = out.partition { case (s, _) => s == "src0" || s == "src1" }
    assert(tgt.nonEmpty && bg.nonEmpty)
    // the estimator's defining property: E[log w] under the target model
    // exceeds E[log w] under the raw model (KL(t||r) + KL-gap, both >= 0
    // up to smoothing noise) — importance weights must rank the target
    // domain above the background it is being selected from
    val tgtMean = tgt.map(_._2).sum / tgt.length
    val bgMean = bg.map(_._2).sum / bg.length
    assert(tgtMean > bgMean,
      s"target mean $tgtMean not above background mean $bgMean")
  }

  test("dsirWeights: scoring is order/partition-invariant and feature-exact") {
    val base = Curation.dsirWeights(docs, Seq("src0", "src1"))
    val shuffled = Curation.dsirWeights(docs.repartition(7, col("source")), Seq("src0", "src1"))
    assert(base.exceptAll(shuffled).isEmpty && shuffled.exceptAll(base).isEmpty,
      "weights changed under repartitioning")
    // n_feats equals the doc's bigram count (n_tokens - 1, docs have >= 2 tokens)
    val bad = Curation.dsirWeights(docs, Seq("src0", "src1"))
      .join(docs.select(col("doc_id"), size(split(col("text"), " ")).as("nt")), "doc_id")
      .filter(col("n_feats") =!= greatest(col("nt") - 1, lit(1)))
      .count()
    assert(bad == 0, s"$bad docs with wrong feature counts")
  }

  test("temperatureWeights: alpha=1 is proportional, alpha<1 flattens the head") {
    // 'big' has 9x the tokens of 'small'
    val df = Seq(
      (1L, "big", ("t " * 89).trim),   // 89 tokens
      (2L, "small", "a b c d e f g h i j")  // 10 tokens
    ).toDF("doc_id", "lang", "text")
    def probs(alpha: Double): Map[String, (Double, Double)] =
      Curation.temperatureWeights(df, alpha).collect()
        .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(5))).toMap
    val prop = probs(1.0)
    // alpha = 1: sampling prob == raw share (up to the micro rounding)
    prop.foreach { case (_, (p, q)) => assert(math.abs(p - q) < 1e-5) }
    val flat = probs(0.5)
    // alpha < 1 moves mass from the head to the tail
    assert(flat("big")._2 < flat("big")._1, "head domain must lose mass")
    assert(flat("small")._2 > flat("small")._1, "tail domain must gain mass")
    // sampling probs still sum to 1 (exact integer denominator)
    assert(math.abs(flat.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("crossSourceOverlap: exact shared-gram counts and Jaccard on crafted sources") {
    // 3-gram universe per source: A = {abc, bcd}, B = {abc, bcd} (full
    // overlap), C = {abc, xyq} via a separate doc — A∩C = {abc}
    val docs = Seq(
      (1L, "a b c d", "A"),
      (2L, "a b c d", "B"),
      (3L, "a b c", "C"),
      (4L, "x y q", "C"))
      .toDF("doc_id", "text", "source")
    val out = Curation.crossSourceOverlap(docs, 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // A and B each have {abc, bcd}; C has {abc, xyq}
    assert(out(("A", "B")) == ((2L, 1.0)), "identical gram sets → jaccard 1")
    assert(out(("A", "C")) == ((1L, round6(1.0 / 3))), "1 shared of 3 distinct")
    assert(out(("B", "C")) == ((1L, round6(1.0 / 3))))
    assert(!out.contains(("A", "A")), "no self pairs")
    assert(out.keys.forall { case (a, b) => a < b }, "canonical pair order")
  }

  test("crossSourceOverlap: driver report tail is bit-identical to the " +
       "relational tail") {
    // a zero driver-tail budget forces the checkpoint + broadcast-joins
    // tail; the default takes the driver fast path — same rows, same doubles
    val docs = Seq(
      (1L, "a b c d e", "A"),
      (2L, "a b c x y", "B"),
      (3L, "p q r s t", "C"),
      (4L, "a b c d e p q r", "C"),
      (5L, null.asInstanceOf[String], "A"))
      .toDF("doc_id", "text", "source")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1))
    val driver = Curation.crossSourceOverlap(docs, 3)
      .collect().sortBy(key).toSeq
    val dist = TestSpark.withDriverTail(0) {
      Curation.crossSourceOverlap(docs, 3).collect().sortBy(key).toSeq
    }
    assert(driver == dist, s"driver=$driver dist=$dist")
    // empty corpus: both tails emit the 0-row schema-correct report
    val empty = docs.filter(lit(false))
    assert(Curation.crossSourceOverlap(empty, 3).collect().isEmpty)
    assert(TestSpark.withDriverTail(0) {
      Curation.crossSourceOverlap(empty, 3).collect().isEmpty
    })
  }

  test("temperatureWeights: driver tail is bit-identical to the relational " +
       "tail; NULL token sums fall back") {
    val docs = Seq(
      (1L, "big", ("t " * 89).trim),
      (2L, "small", "a b c d e f g h i j"),
      (3L, "mid", ("u " * 30).trim))
      .toDF("doc_id", "lang", "text")
    def key(r: org.apache.spark.sql.Row) = r.getString(0)
    for (alpha <- Seq(0.5, 0.7, 1.0)) {
      val driver = Curation.temperatureWeights(docs, alpha)
        .collect().sortBy(key).toSeq
      val dist = TestSpark.withDriverTail(0) {
        Curation.temperatureWeights(docs, alpha).collect().sortBy(key).toSeq
      }
      assert(driver == dist, s"alpha=$alpha driver=$driver dist=$dist")
    }
    // a group whose every text is NULL gives a NULL n_tokens: the driver
    // tail must decline and the distributed NULL propagation (pinned
    // here) must be what the default path returns too
    val withNull = docs.unionByName(
      Seq((4L, "ghost", null.asInstanceOf[String])).toDF("doc_id", "lang", "text"))
    val driverN = Curation.temperatureWeights(withNull, 0.7)
      .collect().sortBy(key).toSeq
    val distN = TestSpark.withDriverTail(0) {
      Curation.temperatureWeights(withNull, 0.7).collect().sortBy(key).toSeq
    }
    assert(driverN == distN, s"driver=$driverN dist=$distN")
    assert(driverN.exists(r => r.getString(0) == "ghost" && r.isNullAt(2)),
      s"NULL-text group must keep its NULL token count: $driverN")
  }

  test("labelAgreement: hand-computed kappa on a known confusion matrix") {
    // n11=3, n10=1, n01=2, n00=2 → po=.625, pa=.5, pb=.625, pe=.5, κ=.25
    val labeled = Seq(
      (true, true), (true, true), (true, true), (true, false),
      (false, true), (false, true), (false, false), (false, false)
    ).toDF("a", "b")
    val r = Curation.labelAgreement(labeled, col("a"), col("b")).head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 3L && r.getLong(2) == 1L
      && r.getLong(3) == 2L && r.getLong(4) == 2L)
    assert(r.getDouble(5) == 0.625 && r.getDouble(6) == 0.5)
    assert(r.getDouble(7) == 0.25)
  }

  test("labelAgreement: kappa is NULL (not 0) when both raters are constant") {
    val allPos = Seq((true, true), (true, true), (true, true)).toDF("a", "b")
    val r = Curation.labelAgreement(allPos, col("a"), col("b")).head()
    assert(r.getDouble(5) == 1.0, "perfect observed agreement")
    assert(r.isNullAt(7), "pe = 1 → kappa undefined")
  }

  test("labelAgreement: NULL labels are excluded so the cells partition n_docs") {
    // same confusion matrix as the hand-computed test, plus three rows
    // carrying a NULL on one or both sides — they must not inflate n_docs
    val labeled = Seq[(java.lang.Boolean, java.lang.Boolean)](
      (true, true), (true, true), (true, true), (true, false),
      (false, true), (false, true), (false, false), (false, false),
      (null, true), (false, null), (null, null)
    ).toDF("a", "b")
    val r = Curation.labelAgreement(labeled, col("a"), col("b")).head()
    assert(r.getLong(0) == 8L, s"n_docs must exclude NULL-label rows: ${r.getLong(0)}")
    assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(0),
      "confusion cells must partition n_docs")
    assert(r.getDouble(7) == 0.25, "kappa unchanged by the NULL rows")
  }

  test("clusterAwareSplitAssign: zero cross-split dup pairs by construction, " +
       "unclustered docs keep their id-hash split") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val pairs = graft.ops.Dedup.ngramJaccardPairs(docs, 3, 0.5)
    assert(pairs.count() > 0, "corpus must plant near-dups for this test")
    val assign = Curation.clusterAwareSplitAssign(docs, pairs)
      .select(col("doc_id"), col("canonical_id"), col("split"))
      .localCheckpoint()
    // the leakage property: no dup pair straddles a split
    val a = assign.select(col("doc_id").as("doc_a"), col("split").as("sa"))
    val b = assign.select(col("doc_id").as("doc_b"), col("split").as("sb"))
    val crossing = pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(crossing == 0L, s"cluster routing must kill split leakage: $crossing")
    // unclustered docs are identical to plain id-hash assignment
    val drifted = assign.filter(col("canonical_id").isNull)
      .filter(col("split") =!= Curation.assignSplit(col("doc_id"))).count()
    assert(drifted == 0L, "unclustered docs must not move")
  }

  test("weightedSampleNoReplace: keys match a driver-side A-ES reference") {
    val docs = (1L to 50L).map(i => (i, 10L + i)).toDF("doc_id", "w")
    val out = Curation.weightedSampleNoReplace(docs, 10, col("w")).collect()
    assert(out.length == 10)
    assert(out.map(_.getLong(2)).toSeq == out.map(_.getLong(2)).toSeq.sorted,
      "rows arrive in ascending key order")
    // recompute the deterministic key driver-side for every returned row
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, w: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1L).toDouble / 4294967296.0
      math.round(-math.log(u) / w * 1e9)
    }
    for (r <- out)
      assert(r.getLong(2) == key(r.getLong(0), r.getLong(1)),
        s"key mismatch for doc ${r.getLong(0)}")
    // monotonicity contract: scaling every weight up scales keys down,
    // so the all-equal-weight sample is pure hash order
    val eq = Curation.weightedSampleNoReplace(
      docs.withColumn("w", lit(7L)), 50, col("w")).collect()
    assert(eq.map(_.getLong(0)).toSet == (1L to 50L).toSet)
  }

  test("rankNormalizedQuality: per-lang percentile spans [0,1], rank order " +
       "follows the score") {
    val df = Seq((1L, "a", "en"), (2L, "a a b b c", "en"),
                 (3L, "the of and a in on for", "en"), (4L, "x", "de"))
      .toDF("doc_id", "text", "lang")
    val out = Curation.rankNormalizedQuality(df).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(out(4L)._2 == 0.0, "single doc in its lang sits at percentile 0")
    val en = Seq(1L, 2L, 3L).map(out)
    assert(en.map(_._2).toSet == Set(0.0, 0.5, 1.0), s"en pctiles: $en")
    // percentile order must agree with score order
    assert(en.sortBy(_._1).map(_._2) == en.map(_._2).sorted)
  }

  test("splitLeakage: canonical split pairs, shares sum to 1, cross flags") {
    // pick one real id per split so the hash assignment is exercised
    val byId = (0L until 200L).map(i =>
      i -> null).toMap.keys.toSeq.toDF("doc_id")
      .select(col("doc_id"), Curation.assignSplit(col("doc_id")).as("s"))
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    val (tr, va, te) = (byId("train"), byId("val"), byId("test"))
    val pairs = Seq(
      (tr, tr), (tr, va), (tr, va), (va, te), (tr, te), (te, te)
    ).toDF("doc_a", "doc_b")
    val out = Curation.splitLeakage(pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getBoolean(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(("train", "train")) == ((false, 1L, round6(1.0 / 6))))
    assert(out(("train", "val")) == ((true, 2L, round6(2.0 / 6))))
    assert(out(("test", "val")) == ((true, 1L, round6(1.0 / 6))),
      "split pair is canonicalized by name order")
    assert(out(("test", "train")) == ((true, 1L, round6(1.0 / 6))))
    assert(out(("test", "test")) == ((false, 1L, round6(1.0 / 6))))
    // each share is independently rounded to 6 places → sum is 1 ± n·5e-7
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-5)
  }

  test("mixtureDrift: hash split reads ~zero drift; a split-correlated " +
       "grouping reads large drift") {
    val quiet = Curation.mixtureDrift(docs, "source", col("doc_id"))
      .collect()
    assert(quiet.map(_.getString(0)).toSet == Set("val", "test"))
    for (r <- quiet) {
      val (kl, js, tvd) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // KL/JS ≥ 0 up to per-group micro-nat rounding (≤ 1 per group)
      assert(kl >= -10L && js >= -10L && tvd >= 0L)
      assert(tvd <= 500000L, "TVD is at most 1/2 in micro units")
      // val/test hold ~10% of the corpus each, so per-source share noise
      // at the test SF (~150 held-out docs) is a few percent per source;
      // the bound separates sampling noise from real drift (≥ 0.5 below)
      assert(tvd < 350000L, s"hash split should show <0.35 TVD, got $tvd")
    }
    // adversarial grouping: the group IS the split → maximal drift
    val skewed = (0L until 2000L).toDF("doc_id")
      .select(col("doc_id"),
        when(Curation.assignSplit(col("doc_id")) === "train", "a")
          .otherwise("b").as("g"))
    val loud = Curation.mixtureDrift(skewed, "g", col("doc_id")).collect()
    assert(loud.forall(_.getLong(2) > 500000L),
      "split-correlated grouping must read large KL")
  }

  test("mixtureDrift: driver-complete tail is bit-identical to the distributed tail") {
    // a zero driver-tail budget forces the distributed path; the default
    // takes the driver fast path — every micro-nat term, the exact long
    // sums, and the rounded nats columns must agree bit-for-bit
    val driver = Curation.mixtureDrift(docs, "source", col("doc_id"))
      .collect().toSeq
    val dist = TestSpark.withDriverTail(0) {
      Curation.mixtureDrift(docs, "source", col("doc_id"))
        .orderBy(col("split")).collect().toSeq
    }
    assert(driver == dist, s"driver=$driver dist=$dist")
    // empty input: both tails emit the 0-row schema-correct report
    val empty = docs.filter(lit(false))
    assert(Curation.mixtureDrift(empty, "source", col("doc_id"))
             .collect().isEmpty)
    assert(TestSpark.withDriverTail(0) {
      Curation.mixtureDrift(empty, "source", col("doc_id")).collect().isEmpty
    })
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
