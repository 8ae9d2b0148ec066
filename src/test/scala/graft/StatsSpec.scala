package graft

import graft.ops.Stats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fit(rows: Seq[(String, Long, Long)]) =
    Stats.pearsonOlsFixed(rows.toDF("g", "x", "y"), Seq("g"), col("x"), col("y"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
         Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap

  test("hllMergeShards: shard-merged estimate equals the single-pass estimate") {
    // idx/rho are pure functions of the key, so per-shard max-merge must
    // reproduce the single-pass register state EXACTLY — the mergeability
    // property the 100 TB deployment relies on
    val df = (1 to 900).map(i => (i.toLong % 331, s"shard${i % 7}"))
      .toDF("k", "shard")
    val merged = graft.ops.Stats.hllMergeShards(df, "k", "shard").collect()(0)
    val single = graft.ops.Stats.hllDistinct(df, "k").collect()(0)
    assert(merged.getAs[Long]("n_shards") == 7L)
    assert(merged.getAs[Long]("n_registers_set") == single.getAs[Long]("n_registers_set"))
    assert(merged.getAs[Double]("hll_estimate") == single.getAs[Double]("hll_estimate"))
  }

  test("cmsTopTokens: one-sided error, exact ranking on a skewed corpus") {
    // "alpha" dominates; CMS must (a) never under-count — overcount >= 0 on
    // every reported row (the CMS guarantee) — and (b) rank the true heavy
    // hitter first at this tiny load factor
    val docs = ((1 to 200).map(_ => "alpha beta") ++ (1 to 50).map(_ => "gamma delta"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val top = graft.ops.Stats.cmsTopTokens(docs, k = 4).collect()
    assert(top.forall(_.getAs[Long]("overcount") >= 0L))
    assert(top.forall(r => r.getAs[Long]("cms_estimate") >= r.getAs[Long]("exact_count")))
    val first = top.head
    assert((first.getAs[String]("token") == "alpha" || first.getAs[String]("token") == "beta")
           && first.getAs[Long]("exact_count") == 200L, first.toString)
  }

  test("kmvOverlap: exact when sets fit the sketch; estimates near truth beyond it") {
    import org.apache.spark.sql.functions.col
    // small case: 60 vs 50 keys with 30 shared — everything fits in k=256,
    // so every estimate must be EXACT and jaccard the literal ratio
    val a1 = (1L to 60L).toDF("k")
    val b1 = (31L to 80L).toDF("k")
    val s = graft.ops.Stats.kmvOverlap(a1, b1, "k", k = 256).collect()(0)
    assert(s.getAs[Long]("n_a_exact") == 60 && s.getAs[Long]("n_b_exact") == 50)
    assert(s.getAs[Long]("n_both_exact") == 30)
    assert(s.getAs[Double]("est_a") == 60.0 && s.getAs[Double]("est_b") == 50.0)
    assert(s.getAs[Double]("est_union") == 80.0)
    assert(s.getAs[Double]("est_intersection") == 30.0, s.toString)
    // large case: 8k vs 6k keys, 2k shared — sketch-estimated; KMV with
    // k=256 has ~1/sqrt(k) ≈ 6% typical error, assert a loose 25% band
    val a2 = (1L to 8000L).toDF("k")
    val b2 = (6001L to 12000L).toDF("k")
    val t = graft.ops.Stats.kmvOverlap(a2, b2, "k", k = 256).collect()(0)
    def near(v: Double, truth: Double) = math.abs(v - truth) <= 0.25 * truth
    assert(near(t.getAs[Double]("est_a"), 8000.0), t.toString)
    assert(near(t.getAs[Double]("est_union"), 12000.0), t.toString)
    assert(near(t.getAs[Double]("est_intersection"), 2000.0), t.toString)
  }

  test("pearsonOlsFixed: raises loudly when BIGINT moment headroom is exhausted") {
    // x = 3.01e9 on a single row: x² ≈ 9.06e18 still fits BIGINT (no ANSI
    // error, no wrap — the result would be numerically fine), but it
    // exceeds the 9.0e18 per-row-product margin the proof needs — the
    // query must FAIL (visible) rather than run without provable headroom
    import org.apache.spark.sql.functions.col
    val df = Seq((3010000000L, 1L))
      .toDF("x", "y").withColumn("g", org.apache.spark.sql.functions.lit("a"))
    val ex = intercept[Exception] {
      graft.ops.Stats.pearsonOlsFixed(df, Seq("g"), col("x"), col("y")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("headroom exhausted")), ex.toString)
  }

  private def dayOrders(rows: Seq[(Int, Double)]) =
    // (day offset from 2024-01-01, o_totalprice) — one order per row
    rows.zipWithIndex.map { case ((d, p), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(
         java.time.LocalDate.of(2024, 1, 1).plusDays(d).atStartOfDay()), p)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")

  test("cusumChangepoint: locates a planted level shift exactly") {
    // 10 days at $100 then 10 days at $300: the max |n·prefix − t·total|
    // must land on the boundary day (t = 10), and the two segment means
    // must be the exact planted levels in cents
    val orders = dayOrders((0 until 10).map(d => (d, 100.0)) ++
                           (10 until 20).map(d => (d, 300.0)))
    val r = graft.ops.Stats.cusumChangepoint(orders).collect()(0)
    assert(r.getAs[Long]("n_days") == 20L)
    assert(r.getAs[Long]("cp_index") == 10L, r.toString)
    assert(r.getAs[java.sql.Date]("cp_day").toString == "2024-01-10")
    assert(r.getAs[Long]("mean_before_cents") == 10000L)
    assert(r.getAs[Long]("mean_after_cents") == 30000L)
  }

  test("dailyRevenueAcf: weekly-periodic series peaks at lag 7") {
    // period-7 sawtooth over 8 full weeks: lag-7 pairs repeat the value
    // exactly (acf = 1); lag 1..6 pairs mix phases (acf < 1)
    val orders = dayOrders((0 until 56).map(d => (d, 100.0 + 50.0 * (d % 7))))
    val acf = graft.ops.Stats.dailyRevenueAcf(orders).collect()
      .map(r => r.getAs[Long]("lag") -> r.getAs[Double]("acf")).toMap
    assert(acf(7L) == 1.0, acf.toString)
    (1L to 6L).foreach(l => assert(acf(l) < 1.0, s"lag $l: ${acf(l)}"))
  }

  test("seasonalNaiveBacktest: zero error on a perfectly periodic series") {
    val periodic = dayOrders((0 until 28).map(d => (d, 100.0 + 10.0 * (d % 7))))
    val r0 = graft.ops.Stats.seasonalNaiveBacktest(periodic).collect()(0)
    assert(r0.getAs[Long]("n_scored") == 21L)
    assert(r0.getAs[Long]("mae_cents") == 0L && r0.getAs[Double]("wape") == 0.0)
    // a one-day $50 spike in the scored region: MAE feels it twice (the
    // spike day errs vs last week, and next week errs vs the spike)
    val spiked = dayOrders((0 until 28).map(d =>
      (d, if (d == 14) 150.0 else 100.0)))
    val r1 = graft.ops.Stats.seasonalNaiveBacktest(spiked).collect()(0)
    assert(r1.getAs[Long]("mae_cents") == math.round(2 * 5000.0 / 21))
    assert(r1.getAs[Double]("bias_cents") == 0.0, r1.toString)
  }

  test("bootstrapMeanCi: degenerate series collapses the CI; real spread brackets the mean") {
    // constant $100 days: every resample mean is exactly 10000 cents, so
    // the CI is the point — any deviation means the weights leaked noise
    val flat = dayOrders((0 until 60).map(d => (d, 100.0)))
    val r = graft.ops.Stats.bootstrapMeanCi(flat).collect()(0)
    assert(r.getAs[Long]("mean_cents") == 10000L)
    assert(r.getAs[Long]("n_boot") == 201L)
    assert(r.getAs[Double]("ci_lo_cents") == 10000.0)
    assert(r.getAs[Double]("ci_hi_cents") == 10000.0)
    // alternating 100/300: CI must bracket the 20000-cent mean strictly
    val mixed = dayOrders((0 until 60).map(d => (d, if (d % 2 == 0) 100.0 else 300.0)))
    val m = graft.ops.Stats.bootstrapMeanCi(mixed).collect()(0)
    assert(m.getAs[Double]("ci_lo_cents") < 20000.0 &&
           m.getAs[Double]("ci_hi_cents") > 20000.0, m.toString)
    assert(m.getAs[Double]("ci_hi_cents") - m.getAs[Double]("ci_lo_cents") < 8000.0)
    // the threshold ladder is strictly increasing and below 2^32
    val t = graft.ops.Stats.PoissonThresholds
    assert(t == t.sorted && t.last < 4294967296L && t.head > 1500000000L)
  }

  test("orderGapHazard: censored tails enter at-risk, never the event count") {
    // customer 1: orders on day 0, 35, 40 → gaps 35 (bin 1), 5 (bin 0),
    // censored tail 0 (bin 0). customer 2: one order on day 0 → censored
    // tail 40 (bin 1). corpus max day = 40.
    val orders = Seq((1L, 1L, 0), (2L, 1L, 35), (3L, 1L, 40), (4L, 2L, 0))
      .map { case (ok, ck, d) =>
        (ok, ck, java.sql.Timestamp.valueOf(
           java.time.LocalDate.of(2024, 1, 1).plusDays(d).atStartOfDay())) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val bins = graft.ops.Stats.orderGapHazard(orders).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    val b0 = bins(0L)
    assert(b0.getAs[Long]("n_at_risk") == 4L && b0.getAs[Long]("n_events") == 1L
           && b0.getAs[Long]("n_censored") == 1L)
    assert(b0.getAs[Double]("hazard") == 0.25)
    val b1 = bins(1L)
    assert(b1.getAs[Long]("n_at_risk") == 2L && b1.getAs[Long]("n_events") == 1L
           && b1.getAs[Long]("n_censored") == 1L)
    assert(b1.getAs[Double]("hazard") == 0.5)
  }

  test("mannWhitneyU: separation, symmetry, and tie handling") {
    def mw(rows: Seq[(String, Long)]) =
      graft.ops.Stats.mannWhitneyU(rows.toDF("flag", "v"), "flag", "A", "B",
        col("v")).collect()(0)
    // complete separation: every A above every B → U1 = n1·n2, AUC = 1
    val sep = mw(Seq(("A", 5L), ("A", 6L), ("A", 7L),
                     ("B", 1L), ("B", 2L), ("B", 3L)))
    assert(sep.getAs[Double]("u1") == 9.0 && sep.getAs[Double]("auc") == 1.0)
    assert(sep.getAs[Double]("z") > 1.9, sep.toString)
    // identical (all-tied) samples → U1 = n1·n2/2, AUC = 0.5, sigma = 0 →
    // z NULL (the tie correction removes all variance)
    val tied = mw(Seq(("A", 2L), ("A", 2L), ("B", 2L), ("B", 2L)))
    assert(tied.getAs[Double]("u1") == 2.0 && tied.getAs[Double]("auc") == 0.5)
    assert(tied.isNullAt(tied.fieldIndex("z")), tied.toString)
    // mirrored samples → AUC exactly 0.5, z = 0
    val sym = mw(Seq(("A", 1L), ("A", 3L), ("B", 1L), ("B", 3L)))
    assert(sym.getAs[Double]("auc") == 0.5 && sym.getAs[Double]("z") == 0.0)
  }

  test("pearsonOlsFixed: exact fits on crafted groups") {
    val out = fit(Seq(
      // perfect line y = 3x + 1 → corr 1, slope 3
      ("lin", 1L, 4L), ("lin", 2L, 7L), ("lin", 3L, 10L),
      // perfect anti-correlation y = -2x → corr -1, slope -2
      ("anti", 1L, -2L), ("anti", 2L, -4L), ("anti", 3L, -6L),
      // zero x-variance → both NULL
      ("flat", 5L, 1L), ("flat", 5L, 9L),
      // symmetric V shape → corr 0, slope 0
      ("v", -1L, 1L), ("v", 0L, 0L), ("v", 1L, 1L)))
    assert(out("lin") == ((3L, Some(1.0), Some(3.0))))
    assert(out("anti") == ((3L, Some(-1.0), Some(-2.0))))
    assert(out("flat") == ((2L, None, None)))
    assert(out("v") == ((3L, Some(0.0), Some(0.0))))
  }

  test("pearsonOlsFixed matches a driver-side reference on pseudo-random data") {
    val rows = (0 until 200).map { i =>
      val x = (i * 7919) % 97
      val y = 3 * x + ((i * 104729) % 31) - 15
      ("g", x.toLong, y.toLong)
    }
    val out = fit(rows)("g")
    val n = rows.size.toDouble
    val (sx, sy) = (rows.map(_._2).sum.toDouble, rows.map(_._3).sum.toDouble)
    val sxx = rows.map(r => r._2 * r._2).sum.toDouble
    val syy = rows.map(r => r._3 * r._3).sum.toDouble
    val sxy = rows.map(r => r._2 * r._3).sum.toDouble
    val (varX, varY, cov) = (n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out._2.contains(r6(cov / (math.sqrt(varX) * math.sqrt(varY)))))
    assert(out._3.contains(r6(cov / varX)))
    assert(out._2.get > 0.9, "strong planted correlation must be detected")
  }

  test("hllDistinct: estimate within the HLL error bound, partition-invariant") {
    val keys = spark.range(0, 20000).toDF("k")
    val row = Stats.hllDistinct(keys, "k").collect().head
    val (m, est, exact) = (row.getLong(0), row.getDouble(2), row.getLong(3))
    assert(m == 256L && exact == 20000L)
    // standard error is 1.04/sqrt(m) ≈ 6.5%; allow 4 sigma
    assert(math.abs(est - exact) / exact < 0.26, s"estimate $est vs $exact")
    // register max is associative/commutative: any partitioning hashes the same
    val row2 = Stats.hllDistinct(keys.repartition(17), "k").collect().head
    assert(row2.getDouble(2) == est, "estimate must not depend on partitioning")

    // small-cardinality input takes the linear-counting branch and stays sane
    val small = Stats.hllDistinct(spark.range(0, 40).toDF("k"), "k").collect().head
    assert(math.abs(small.getDouble(2) - 40.0) / 40.0 < 0.25,
      s"linear counting off: ${small.getDouble(2)}")
  }

  test("histogramQuantiles: estimates within one bin width of exact percentiles") {
    // uniform 1..1000 dollars in one group: exact percentiles known
    val df = (1 to 1000).map(i => ("g", i.toLong * 100)).toDF("g", "cents")
    val row = Stats.histogramQuantiles(df, Seq("g"), col("cents")).collect().head
    assert(row.getLong(1) == 1000L && row.getLong(2) == 100L && row.getLong(3) == 100000L,
      s"n/min/max wrong: $row")
    // the rank estimator lands inside the bin holding the ⌈q·n⌉-th order
    // stat; percentile_cont may interpolate into the adjacent bin → 2 widths
    val tol = 2.0 * (100000.0 - 100.0 + 1.0) / 1024.0 / 100.0
    val exact = Map(4 -> 500.5, 5 -> 900.1, 6 -> 990.01) // p50/p90/p99 of 1..1000
    for ((i, want) <- exact)
      assert(math.abs(row.getDouble(i) - want) <= tol,
        s"estimate ${row.getDouble(i)} vs exact $want (± $tol)")
  }

  test("histogramQuantiles: groups are independent; a point mass collapses the histogram") {
    val df = ((1 to 100).map(i => ("wide", i.toLong)) ++
              (1 to 50).map(_ => ("point", 42L))).toDF("g", "cents")
    val out = Stats.histogramQuantiles(df, Seq("g"), col("cents"))
      .collect().map(r => r.getString(0) -> r).toMap
    // all mass in bin 0 of a span-1 histogram: every quantile estimates
    // inside [lo, lo+span/bins] — i.e. 0.42 dollars ± one (tiny) bin
    assert(math.abs(out("point").getDouble(4) - 0.42) < 0.01, out("point").toString)
    assert(out("wide").getLong(1) == 100L)
    assert(out("wide").getDouble(4) > 0.40 && out("wide").getDouble(4) < 0.60,
      s"p50 of 1..100 cents: ${out("wide").getDouble(4)}")
  }

  test("histogramQuantiles: driver tail ≡ distributed tail bit-identically") {
    // mixed groups (multi-bin, point-mass, singleton) exercise every
    // interpolation branch; a zero driver-tail budget forces the
    // distributed tail so both paths run on identical input
    val df = ((1 to 1000).map(i => ("wide", i.toLong * 97)) ++
              (1 to 50).map(_ => ("point", 4200L)) ++
              Seq(("one", 123L))).toDF("g", "cents")
    val fast = Stats.histogramQuantiles(df, Seq("g"), col("cents")).collect()
    val slow = TestSpark.withDriverTail(0) {
      Stats.histogramQuantiles(df, Seq("g"), col("cents")).collect()
    }
    assert(fast.toSeq == slow.toSeq,
      s"driver/distributed mismatch:\n${fast.toSeq}\n${slow.toSeq}")
  }

  test("kaplanMeierRetention: driver tail ≡ distributed tail bit-identically") {
    // gaps, censored tails, tied durations and a censored-only duration
    // (d=0 row contributes to at-risk but emits no curve row) through both
    // curve tails; a zero driver-tail budget forces the distributed shape
    def d(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")
    val orders = Seq(
      (1L, 10L, d(1)), (1L, 11L, d(4)), (1L, 12L, d(10)),
      (2L, 20L, d(2)), (2L, 21L, d(5)),
      (3L, 30L, d(3)),
      (4L, 40L, d(1)), (4L, 41L, d(4))
    ).toDF("o_custkey", "o_orderkey", "o_orderdate")
    val fast = Stats.kaplanMeierRetention(orders).collect()
    val slow = TestSpark.withDriverTail(0) {
      Stats.kaplanMeierRetention(orders).collect()
    }
    assert(fast.nonEmpty && fast.toSeq == slow.toSeq,
      s"driver/distributed mismatch:\n${fast.toSeq}\n${slow.toSeq}")
  }

  test("madDailyOutliers: spike flagged through the MAD=0 mean-deviation fallback") {
    def d(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")
    // 30 identical days (count 5) + one 50-count day: median 5, MAD 0 —
    // the bare k·MAD rule would flag EVERY day; the MeanAD fallback must
    // flag exactly the spike
    val rows = (1 to 30).flatMap(i => Seq.fill(5)(("a", d(i)))) ++
               Seq.fill(50)(("a", d(31)))
    val out = Stats.madDailyOutliers(rows.toDF("g", "day"), "g", col("day"))
      .collect().map(r => r.getDate(1) -> r.getInt(6)).toMap
    assert(out(d(31)) == 1, "spike day must be flagged")
    assert((1 to 30).forall(i => out(d(i)) == 0), "steady days must not be flagged")
  }

  test("madDailyOutliers: constant series has zero scale and zero flags") {
    def d(i: Int) = java.sql.Date.valueOf(f"2024-02-${i}%02d")
    val rows = (1 to 14).flatMap(i => Seq.fill(3)(("c", d(i))))
    val out = Stats.madDailyOutliers(rows.toDF("g", "day"), "g", col("day")).collect()
    assert(out.forall(_.getInt(6) == 0))
    assert(out.forall(_.getDouble(5) == 0.0), "scale must be 0 on a constant series")
  }

  test("bloomPrescreenStats: no false negatives ever; occupancy and truth exact") {
    val build = (1L to 50L).map(i => Tuple1(i)).toDF("key")
    val probe = (1L to 100L).map(i => Tuple1(i)).toDF("key")
    val r = Stats.bloomPrescreenStats(build, probe, "key").collect().head
    assert(r.getLong(2) == 50L && r.getLong(4) == 100L, r.toString) // build keys, probes
    assert(r.getLong(3) >= 150L && r.getLong(3) <= 200L,
      s"50 keys × 4 hashes set ≤200 distinct bits: ${r.getLong(3)}")
    assert(r.getLong(6) == 50L, "ground truth members")
    // the Bloom guarantee: every member passes — pass = members + false pos
    assert(r.getLong(5) - r.getLong(7) == r.getLong(6), r.toString)
  }

  test("bloomPrescreenStats: a saturated tiny filter still never false-negatives") {
    // 100 keys into m=64 bits: occupancy ~1, false positives near-certain —
    // the guarantee under stress is one-sided error, nothing else
    val build = (1L to 100L).map(i => Tuple1(i)).toDF("key")
    val probe = (1L to 400L).map(i => Tuple1(i)).toDF("key")
    val r = Stats.bloomPrescreenStats(build, probe, "key", m = 64, k = 2)
      .collect().head
    assert(r.getLong(3) <= 64L, r.toString)
    assert(r.getLong(5) - r.getLong(7) == r.getLong(6), "one-sided error broken")
    assert(r.getLong(7) > 0L, "saturation must produce false positives")
  }

  test("madDailyOutliers: nonzero MAD uses the 1.4826 consistency constant") {
    def d(i: Int) = java.sql.Date.valueOf(f"2024-03-${i}%02d")
    // counts {1..11, 100} → median 6.5, sorted deviations
    // (0.5,0.5,1.5,…,5.5,93.5) → MAD = (2.5+3.5)/2 = 3.0, every value an
    // exact double half — the cross-engine exactness contract in miniature
    val rows = (1 to 11).flatMap(i => Seq.fill(i)(("m", d(i)))) ++
               Seq.fill(100)(("m", d(12)))
    val byDay = Stats.madDailyOutliers(rows.toDF("g", "day"), "g", col("day"))
      .collect().map(r => r.getDate(1) -> r).toMap
    val spike = byDay(d(12))
    assert(spike.getDouble(4) == 3.0, s"MAD: ${spike.getDouble(4)}")
    assert(spike.getDouble(5) == 1.4826 * spike.getDouble(4), "scale = 1.4826·MAD")
    assert(spike.getInt(6) == 1, "spike flagged")
  }

  test("benfordDigitAudit: digits from the decimal string, zero excluded, ppm math exact") {
    // amounts 1,19,25,347,9,0 → digits 1,1,2,3,9; the 0 row drops
    val df = Seq(1L, 19L, 25L, 347L, 9L, 0L).toDF("amt")
    val out = Stats.benfordDigitAudit(df, col("amt"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("1", "2", "3", "9"))
    assert(out("1").getLong(1) == 2L)
    // expected_ppm for digit 1 = round(log10(2)·1e6) = 301030
    assert(out("1").getLong(2) == 301030L)
    // deviation for digit 9: 1/5 observed vs log10(10/9) expected
    val want9 = math.round((1.0 / 5 - math.log10(10.0 / 9)) * 1e6)
    assert(out("9").getLong(3) == want9, s"dev9: ${out("9").getLong(3)}")
  }

  test("burstiness: metronome pins B = -1, bursty gaps push B positive") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user m: gaps all 60 s (σ=0 → B = -1); user b: 19 one-second gaps
    // then a 981 s silence — B is capped at (√(n−1)−1)/(√(n−1)+1) for a
    // single spike, so burstiness needs enough gaps to show
    val m = (0L to 5L).map(i => ("m", ts(i * 60), i))
    val b = ((0L to 19L) :+ 1000L).zipWithIndex.map { case (s, i) => ("b", ts(s), i.toLong) }
    val df = (m ++ b).toDF("user_id", "ts", "event_id")
    val out = Stats.burstiness(df).collect().map(r => r.getString(0) -> r).toMap
    assert(out("m").getLong(1) == 5L)
    assert(out("m").getDouble(2) == 60.0)
    assert(out("m").getDouble(3) == -1.0, s"metronome: ${out("m").getDouble(3)}")
    assert(out("b").getDouble(3) > 0.5, s"bursty: ${out("b").getDouble(3)}")
  }

  test("burstiness: custom tie-break column and floored pre-1970 seconds") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // no event_id column — the parameterized tie-break must be used
    val noEid = (0L to 3L).map(i => ("u", ts(i * 10), s"k$i"))
      .toDF("user_id", "ts", "row_key")
    val r = Stats.burstiness(noEid, eventIdCol = "row_key")
      .head()
    assert(r.getLong(1) == 3L && r.getDouble(2) == 10.0)
    // pre-1970: -0.5 s and -1.5 s must FLOOR to -1 and -2 (gap 1), not
    // truncate to 0 and -1 (gap 1) … distinguish with -0.5 vs 0.5: floor
    // gives seconds (-1, 0) → gap 1; truncation gives (0, 0) → gap 0
    val neg = Seq(("n", new java.sql.Timestamp(-500L), 0L),
                  ("n", new java.sql.Timestamp(500L), 1L))
      .toDF("user_id", "ts", "event_id")
    val g = Stats.burstiness(neg).head()
    assert(g.getLong(1) == 1L && g.getDouble(2) == 1.0,
      s"pre-1970 gap must floor to 1 s, got ${g.getDouble(2)}")
  }

  test("customerOrderGaps: hand-computed gaps with same-day ties") {
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${d}%02d 00:00:00")
    // cust 1: days 1, 4, 4, 10 -> gaps 3, 0, 6; cust 2: single order
    val orders = Seq((10L, 1L, day(1)), (11L, 1L, day(4)), (12L, 1L, day(4)),
                     (13L, 1L, day(10)), (14L, 2L, day(5)))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val r = Stats.customerOrderGaps(orders).head()
    assert(r.getLong(0) == 1L, "only cust 1 has gaps")
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(2) == 3.0, s"mean of 3,0,6: ${r.getDouble(2)}")
    assert(r.getDouble(3) == 3.0, "p50 of [0,3,6]")
  }

  test("userFeatureTable: hand-computed features and micro-nat entropy") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "purchase", 1.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 7L, "purchase", 1.0, "{}"),
      (3L, ts("2024-01-01 12:00:00"), 7L, "error", 1.0, "{}"),
      (4L, ts("2024-01-02 09:00:00"), 7L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Stats.userFeatureTable(events).head()
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L && r.getLong(3) == 1L)
    assert(r.getLong(4) == 3L, "three distinct types")
    // entropy of [.5,.25,.25]: each term rounds to 346574 micro-nats
    val t1 = math.round(0.5 * math.log(2.0) * 1e6)
    val t2 = math.round(0.25 * math.log(4.0) * 1e6)
    assert(r.getLong(5) == t1 + 2 * t2, s"entropy: ${r.getLong(5)}")
    assert(r.getLong(6) == 2L && r.getDouble(7) == 2.0)
  }

  test("winsorizedStats: hand-computed clips and means with interior cuts") {
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 100L)).toDF("grp", "v")
    // percentile(0.25) of [1,2,3,100] = 1.75 -> lo 2; percentile(0.75) =
    // 27.25 -> hi 27; clamp [2,2,3,27]; in-range {2,3}
    val r = Stats.winsorizedStats(df, "grp", col("v"), 0.25, 0.75).head()
    assert(r.getLong(1) == 4L && r.getLong(2) == 1L && r.getLong(3) == 1L)
    assert(r.getLong(4) == 2L && r.getLong(5) == 27L)
    assert(r.getDouble(6) == 8.5, s"winsorized mean: ${r.getDouble(6)}")
    assert(r.getDouble(7) == 2.5, s"trimmed mean: ${r.getDouble(7)}")
  }

  test("abConversionTest: arms partition users, statistics recompute exactly") {
    val events = Tables.events(spark, TestSpark.sfDir)
    val r = Stats.abConversionTest(events).head()
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val users = events.select("user_id").distinct().count()
    assert(na + nb == users, "arms must partition the user base")
    assert(ca <= na && cb <= nb)
    val pa = ca.toDouble / na; val pb = cb.toDouble / nb
    val pp = (ca + cb).toDouble / (na + nb)
    val se = math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    if (se > 0.0)
      assert(math.abs(r.getDouble(6) - (pa - pb) / se) < 1e-6,
        s"z: ${r.getDouble(6)} vs ${(pa - pb) / se}")
    else assert(r.isNullAt(6), "degenerate variance must yield NULL z")
    val half = (na + nb) / 2.0
    val srm = (na - half) * (na - half) / half + (nb - half) * (nb - half) / half
    assert(math.abs(r.getDouble(7) - srm) < 1e-6)
    assert(r.getBoolean(8) == (srm > 3.84))
  }

  test("wilsonRates: hand-computed interval at p=0.5, bounds stay in [0,1]") {
    val df = (1 to 100).map(i => ("g", i <= 50)).toDF("grp", "ok")
    val r = Stats.wilsonRates(df, "grp", col("ok")).head()
    assert(r.getLong(1) == 100L && r.getLong(2) == 50L && r.getDouble(3) == 0.5)
    val z2 = 1.96 * 1.96; val n = 100.0; val p = 0.5
    val denom = 1.0 + z2 / n
    val center = (p + z2 / (2.0 * n)) / denom
    val halfW = 1.96 * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / denom
    assert(math.abs(r.getDouble(4) - (center - halfW)) < 1e-6)
    assert(math.abs(r.getDouble(5) - (center + halfW)) < 1e-6)
    // extreme rate: a 1/3 success group keeps bounds inside [0,1]
    val ex = Stats.wilsonRates(Seq(("e", true), ("e", false), ("e", false))
      .toDF("grp", "ok"), "grp", col("ok")).head()
    assert(ex.getDouble(4) > 0.0 && ex.getDouble(5) < 1.0)
  }

  test("dowSeasonalOutliers: same-weekday mean, spike flags, trend immune") {
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${d}%02d 00:00:00")
    // 4 full weeks at $1/day, then day 29 (same weekday as 1,8,15,22) at $2
    val orders = ((1 to 28).map(d => (day(d), 1.0)) :+ (day(29), 2.0))
      .toDF("o_orderdate", "o_totalprice")
    val out = Stats.dowSeasonalOutliers(orders).collect()
    assert(out.take(7).forall(_.isNullAt(3)), "first week has no same-dow history")
    val d8 = out(7) // one same-dow lag (day 1)
    assert(d8.getLong(3) == 100L && d8.getDouble(4) == 0.0 && !d8.getBoolean(5))
    val d29 = out(28)
    assert(d29.getLong(3) == 100L, s"mean of 4 flat lags: ${d29.getLong(3)}")
    assert(d29.getDouble(4) == 1.0 && d29.getBoolean(5), "2x same-weekday day flags")
    // weekday index is engine-neutral integer arithmetic: 2024-01-01 = Monday
    assert(out.head.getInt(1) == 1, s"dow_idx of a Monday: ${out.head.getInt(1)}")
  }

  test("copurchaseLift: hand-computed support/confidence/lift on 3 baskets") {
    // o1 {A,B}, o2 {A,B}, o3 {A}: n=3, nA=3, nB=2, pair(A,B)=2
    val li = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L),
                 (3L, 12L)) // part 12 is also brand A — dedup via distinct
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((10L, "A"), (11L, "B"), (12L, "A")).toDF("p_partkey", "p_brand")
    val r = Stats.copurchaseLift(li, part).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getString(0) == "A" && row.getString(1) == "B")
    assert(row.getLong(2) == 2L && row.getLong(3) == 3L && row.getLong(4) == 2L)
    assert(row.getDouble(5) == 0.666667, "support 2/3")
    assert(row.getDouble(6) == 0.666667, "conf A->B 2/3")
    assert(row.getDouble(7) == 1.0, "conf B->A 2/2")
    assert(row.getDouble(8) == 1.0, "lift 2*3/(3*2)")
  }

  test("copurchaseLift: >64 brands takes the multi-word mask path with " +
       "identical semantics") {
    // 70-brand universe forces the 2-word array<long> basket; the active
    // pair (b00, b69) spans the word boundary (bit 0 of word 0, bit 5 of
    // word 1). Same basket structure as the 3-basket case above.
    val part = (0 until 70).map(i => (10L + i, f"b$i%02d"))
      .toDF("p_partkey", "p_brand")
    val li = Seq((1L, 10L), (1L, 79L), (2L, 10L), (2L, 79L), (3L, 10L),
                 (3L, 10L)) // duplicate brand in o3 — mask bit_or dedups
      .toDF("l_orderkey", "l_partkey")
    val r = Stats.copurchaseLift(li, part).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getString(0) == "b00" && row.getString(1) == "b69")
    assert(row.getLong(2) == 2L && row.getLong(3) == 3L && row.getLong(4) == 2L)
    assert(row.getDouble(5) == 0.666667 && row.getDouble(6) == 0.666667)
    assert(row.getDouble(7) == 1.0 && row.getDouble(8) == 1.0)
  }

  test("quantileSketchMerge: merge ≡ single-pass, DKW-bounded rank error, " +
       "exact when the sample holds everything") {
    // values 1..1000 with unique keys over 4 shards: value IS its rank, so
    // |est − exact| / n reads the rank error directly
    val df = (1 to 1000).map(i => (i.toLong, i % 4, i.toLong))
      .toDF("id", "shard", "v")
    def run(shard: org.apache.spark.sql.Column) =
      Stats.quantileSketchMerge(df, col("id"), col("v"), shard, k = 256)
        .collect().map(r => r.getAs[Double]("q") ->
          (r.getAs[Long]("est_value"), r.getAs[Long]("exact_value"),
           r.getAs[Long]("sample_m")))
    val merged = run(col("shard"))
    val single = run(lit("all"))
    // merge ≡ single-pass: the global bottom-k is the bottom-k of the
    // union of per-shard bottom-ks — estimates and sample size identical
    assert(merged.toSeq == single.toSeq, "shard-merge must equal single-pass")
    merged.foreach { case (q, (est, exact, m)) =>
      assert(m == 256L)
      assert(exact == math.ceil(q * 1000).toLong, s"exact rank quantile at $q")
      // DKW sampling bound at k=256, δ=0.05: ε ≈ 0.085 on rank; the fixed
      // md5 sample is one draw, allow 1.5ε
      assert(math.abs(est - exact) / 1000.0 <= 0.13,
        s"rank error at q=$q: est=$est exact=$exact")
    }
    // n ≤ k: the sample holds every row, the empirical quantile IS exact
    val tiny = (1 to 100).map(i => (i.toLong, i % 4, i.toLong))
      .toDF("id", "shard", "v")
    Stats.quantileSketchMerge(tiny, col("id"), col("v"), col("shard"), k = 256)
      .collect().foreach { r =>
        assert(r.getAs[Long]("est_value") == r.getAs[Long]("exact_value") &&
               r.getAs[Long]("abs_err") == 0L, r.toString)
      }
    // out-of-range values trip the packing guard loudly
    val neg = Seq((1L, 0, -5L), (2L, 0, 3L)).toDF("id", "shard", "v")
    val e = intercept[Exception] {
      Stats.quantileSketchMerge(neg, col("id"), col("v"), col("shard")).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("packing range"),
      String.valueOf(e.getMessage))
    // NULL measures would silently drop from the sample (min/max skip
    // NULLs) while still counting in n_rows — the register-count guard
    // makes that loud too
    val withNull = Seq((1L, 0, Some(5L)), (2L, 0, None), (3L, 1, Some(7L)))
      .toDF("id", "shard", "v")
    val e2 = intercept[Exception] {
      Stats.quantileSketchMerge(withNull, col("id"), col("v"), col("shard"))
        .collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("NULL"),
      String.valueOf(e2.getMessage))
    // empty input: 0-row schema-correct report (winsorizedStats convention)
    val empty = Stats.quantileSketchMerge(
      df.filter(lit(false)), col("id"), col("v"), col("shard"))
    assert(empty.columns.length == 9 && empty.count() == 0L)
    // the distributed exact-audit shape (the 100 TB prefix-sum form) is
    // value-identical to the default single-window audit
    val dist = Stats.quantileSketchMerge(df, col("id"), col("v"),
        col("shard"), k = 256, distributedExactAudit = true)
      .collect().map(_.toSeq).toSeq
    val dflt = Stats.quantileSketchMerge(df, col("id"), col("v"),
        col("shard"), k = 256)
      .collect().map(_.toSeq).toSeq
    assert(dist == dflt, "distributed exact audit must equal single-window")
  }

  test("giniConcentration: hand-computed on ties, zero on equal values") {
    val m = Seq(("g", 1L), ("g", 1L), ("g", 2L), ("eq", 5L), ("eq", 5L))
      .toDF("grp", "cents")
    val out = Stats.giniConcentration(m, "grp", col("cents")).collect()
      .map(r => r.getString(0) -> r).toMap
    // g: sorted 1,1,2 → ΣRX = 1+2+6 = 9; G = (18 − 4·4)/(3·4) = 1/6
    assert(out("g").getLong(1) == 3L && out("g").getLong(2) == 4L)
    assert(out("g").getDouble(3) == 0.166667, s"gini: ${out("g").getDouble(3)}")
    assert(out("eq").getDouble(3) == 0.0, "equal values → zero concentration")
  }

  test("winsorizedStats/rfmSegments: empty input yields a 0-row " +
       "schema-correct report, not an exception") {
    // the reliabilityBins convention: driver-side cut/anchor reads fall
    // through on the NULL aggregate row instead of NPE-ing
    val noOrders = Tables.orders(spark, TestSpark.sfDir).filter(lit(false))
    val ws = Stats.winsorizedStats(
      noOrders.select(col("o_custkey"), col("o_totalprice")),
      "o_custkey", graft.ops.Scalars.moneyCents(col("o_totalprice")))
    assert(ws.columns.length == 8 && ws.count() == 0L)
    val rfm = Stats.rfmSegments(noOrders)
    assert(rfm.columns.toSeq ==
      Seq("segment", "n_customers", "monetary_cents", "mean_recency_days"))
    assert(rfm.count() == 0L)
  }

  test("rfmSegments: segments partition customers and format is r-f-m") {
    val orders = Tables.orders(spark, TestSpark.sfDir)
    val out = Stats.rfmSegments(orders).collect()
    val nCust = orders.select("o_custkey").distinct().count()
    assert(out.map(_.getLong(1)).sum == nCust, "segments must partition customers")
    assert(out.forall(_.getString(0).matches("[1-5]-[1-5]-[1-5]")))
    assert(out.length > 1, "a real corpus spans more than one segment")
  }

  test("ewmaDailyAnomalies: flat series pins ewma, a 2x day flags") {
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${d}%02d 00:00:00")
    // 8 days at $1.00/day, day 9 at $2.00
    val orders = ((1 to 8).map(d => (day(d), 1.0)) :+ (day(9), 2.0))
      .toDF("o_orderdate", "o_totalprice")
    val out = Stats.ewmaDailyAnomalies(orders).collect()
    assert(out.head.isNullAt(2) && out.head.isNullAt(4), "day 1 has no history")
    val d2 = out(1) // one lag: ewma = 100 cents exactly
    assert(d2.getLong(2) == 100L && d2.getDouble(3) == 0.0 && !d2.getBoolean(4))
    val d9 = out(8) // seven equal lags: ewma = 100, dev = +1.0 → anomaly
    assert(d9.getLong(2) == 100L, s"ewma: ${d9.getLong(2)}")
    assert(d9.getDouble(3) == 1.0 && d9.getBoolean(4), "2x day must flag")
  }

  test("theilSenTrend: exact slope on a linear series; one spike cannot drag the median") {
    // rev = $100 + $2·d per day: every pairwise slope is exactly 200
    // cents/day, so both middle order statistics ARE the slope
    val linear = dayOrders((0 until 30).map(d => (d, 100.0 + 2.0 * d)))
    val r = Stats.theilSenTrend(linear).collect()(0)
    assert(r.getAs[Long]("n_days") == 30L)
    assert(r.getAs[Long]("n_pairs") == 435L) // C(30,2): gap 90 > 29 keeps all
    assert(r.getAs[Long]("n_up") == 435L && r.getAs[Long]("n_down") == 0L)
    assert(r.getAs[Double]("slope_lo") == 200.0 &&
           r.getAs[Double]("slope_hi") == 200.0)
    assert(r.getAs[Double]("sen_slope") == 200.0)
    // a 100x day-15 spike touches only 29 of 435 pairs: the median slope
    // must not move (the robustness property OLS lacks)
    val spiked = dayOrders((0 until 30).map(d =>
      (d, if (d == 15) 10000.0 else 100.0 + 2.0 * d)))
    val s = Stats.theilSenTrend(spiked).collect()(0)
    assert(s.getAs[Double]("sen_slope") == 200.0, s.toString)
  }

  test("theilSenTrend: rank-window cap bounds the pair relation") {
    val many = dayOrders((0 until 20).map(d => (d, 100.0)))
    val r = Stats.theilSenTrend(many, maxRankGap = 3).collect()(0)
    // gaps 1..3 over 20 days: 19 + 18 + 17 pairs
    assert(r.getAs[Long]("n_pairs") == 54L)
    assert(r.getAs[Long]("n_flat") == 54L && r.getAs[Double]("sen_slope") == 0.0)
  }

  test("cupedAdjustedLift: perfectly correlated covariate cancels the lift exactly") {
    // per-customer spend identical in pre and post period: Y = X ⇒ θ = 1,
    // ρ² = 1, and the adjusted lift is identically 0 whatever the raw
    // imbalance between the hash-assigned arms
    val orders = (1 to 40).flatMap { c =>
      Seq((c.toLong, java.sql.Date.valueOf("1995-03-01"), 100.0 + c),
          (c.toLong, java.sql.Date.valueOf("1997-03-01"), 100.0 + c))
    }.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r = Stats.cupedAdjustedLift(orders).collect()(0)
    assert(r.getAs[Long]("n_treat") > 0L && r.getAs[Long]("n_ctrl") > 0L)
    assert(r.getAs[Long]("n_treat") + r.getAs[Long]("n_ctrl") == 40L)
    assert(r.getAs[Double]("theta") == 1.0, r.toString)
    assert(r.getAs[Double]("rho2") == 1.0)
    assert(r.getAs[Double]("adj_lift") == 0.0, r.toString)
    assert(r.getAs[Double]("raw_lift") ==
      math.round((r.getAs[Double]("mean_y_treat") -
                  r.getAs[Double]("mean_y_ctrl")) * 1e6) / 1e6)
  }

  test("cupedAdjustedLift: uncorrelated covariate leaves the lift untouched") {
    // X constant across customers: var(X) = 0 ⇒ θ NULL, adjusted lift NULL
    // (no covariate signal to subtract), raw lift still reported
    val orders = (1 to 30).flatMap { c =>
      Seq((c.toLong, java.sql.Date.valueOf("1995-03-01"), 50.0),
          (c.toLong, java.sql.Date.valueOf("1997-03-01"), 100.0 + c))
    }.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r = Stats.cupedAdjustedLift(orders).collect()(0)
    assert(r.isNullAt(r.fieldIndex("theta")) && r.isNullAt(r.fieldIndex("adj_lift")))
    assert(!r.isNullAt(r.fieldIndex("raw_lift")))
  }

  test("sprtConversionMonitor: decisive streams cross the Wald boundary on the exact day") {
    val (w1, w0, up, lo) = Stats.sprtCoefficients(0.18, 0.22, 0.05, 0.05)
    def days(nDays: Int, urgentPerDay: Int, otherPerDay: Int) =
      (0 until nDays).flatMap { d =>
        val day = java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(d))
        (0 until urgentPerDay).map(_ => (day, "1-URGENT")) ++
          (0 until otherPerDay).map(_ => (day, "3-MEDIUM"))
      }.toDF("o_orderdate", "o_orderpriority")
    // all-urgent days climb by 10·w1 each: H1 accepted on day ⌈up/(10·w1)⌉
    val h1 = Stats.sprtConversionMonitor(days(30, 10, 0)).collect()(0)
    val expectH1 = (up + 10 * w1 - 1) / (10 * w1)
    assert(h1.getAs[String]("decision") == "accept_h1")
    assert(h1.getAs[Long]("decision_index") == expectH1, h1.toString)
    assert(h1.getAs[Long]("decision_llr_micronats") >= up)
    // all-failure days descend by 10·|w0|: H0 on day ⌈|lo|/(10·|w0|)⌉
    val h0 = Stats.sprtConversionMonitor(days(30, 0, 10)).collect()(0)
    val expectH0 = (-lo + 10 * -w0 - 1) / (10 * -w0)
    assert(h0.getAs[String]("decision") == "accept_h0")
    assert(h0.getAs[Long]("decision_index") == expectH0, h0.toString)
    // a two-day stream that never crosses keeps monitoring
    val cont = Stats.sprtConversionMonitor(days(2, 2, 8)).collect()(0)
    assert(cont.getAs[String]("decision") == "continue")
    assert(cont.isNullAt(cont.fieldIndex("decision_day")))
    assert(!cont.isNullAt(cont.fieldIndex("final_llr_micronats")))
  }

  test("psiDrift: identical slices read 0; disjoint supports skip every bin") {
    import org.apache.spark.sql.functions.col
    def df(rows: Seq[(Long, Int, Int)]) =
      rows.toDF("c", "ia", "ib")
    // same distribution on both sides: every bin term is exactly 0
    val same = df((1L to 100L).flatMap(v => Seq((v * 7, 1, 0), (v * 7, 0, 1))))
    val r0 = Stats.psiDrift(same, col("c"), col("ia") === 1, col("ib") === 1)
      .collect()(0)
    assert(r0.getAs[Long]("n_a") == 100L && r0.getAs[Long]("n_b") == 100L)
    assert(r0.getAs[Long]("psi_micronats") == 0L && r0.getAs[Double]("psi") == 0.0)
    assert(r0.getAs[Long]("n_bins_skipped") == 0L)
    // disjoint supports: every populated bin is one-sided → skipped
    val apart = df((1L to 50L).map(v => (v, 1, 0)) ++
                   (1L to 50L).map(v => (v + 1000000L, 0, 1)))
    val r1 = Stats.psiDrift(apart, col("c"), col("ia") === 1, col("ib") === 1)
      .collect()(0)
    assert(r1.getAs[Long]("n_bins_used") == 0L, r1.toString)
    assert(r1.getAs[Long]("psi_micronats") == 0L)
    assert(r1.getAs[Long]("n_bins_skipped") >= 2L)
    // a mild overlap with different shapes must read positive
    val shifted = df((1L to 100L).map(v => (v, 1, 0)) ++
                     (1L to 100L).map(v => (v + 30L, 0, 1)))
    val r2 = Stats.psiDrift(shifted, col("c"), col("ia") === 1, col("ib") === 1)
      .collect()(0)
    assert(r2.getAs[Long]("psi_micronats") > 0L, r2.toString)
  }

  test("psiDrift: driver report tail is bit-identical to the distributed " +
       "tail; empty grid falls back to the all-NULL contract") {
    import org.apache.spark.sql.functions.{col, lit}
    // mild overlap, different shapes — every column exercised (used,
    // skipped, positive micro-nat terms)
    val shifted = ((1L to 100L).map(v => (v * 3, 1, 0)) ++
                   (1L to 100L).map(v => (v * 3 + 90L, 0, 1)))
      .toDF("c", "ia", "ib")
    val driver = Stats.psiDrift(shifted, col("c"), col("ia") === 1,
        col("ib") === 1).collect().toSeq
    val dist = TestSpark.withDriverTail(0) {
      Stats.psiDrift(shifted, col("c"), col("ia") === 1,
        col("ib") === 1).collect().toSeq
    }
    assert(driver == dist, s"driver=$driver dist=$dist")
    // no rows in either slice: the keyless distributed aggregate emits its
    // single all-NULL-totals row; the driver tail must decline and match
    val empty = shifted.filter(lit(false))
    val dEmpty = Stats.psiDrift(empty, col("c"), col("ia") === 1,
        col("ib") === 1).collect().toSeq
    val xEmpty = TestSpark.withDriverTail(0) {
      Stats.psiDrift(empty, col("c"), col("ia") === 1,
        col("ib") === 1).collect().toSeq
    }
    assert(dEmpty == xEmpty, s"driver=$dEmpty dist=$xEmpty")
    assert(dEmpty.size == 1 && dEmpty.head.isNullAt(0), dEmpty.toString)
  }

  test("pearsonOlsWide: exact fit where the fixed variant's products overflow") {
    import org.apache.spark.sql.functions.col
    // |x| ~ 10¹¹ squares to 10²² — far past 2⁶³, inside decimal(38,0)
    val big = (1 to 20).map(i => (5000000000L * i, 10000000000L * i))
      .toDF("x", "y")
    val r = Stats.pearsonOlsWide(big, Nil, col("x"), col("y")).collect()(0)
    assert(r.getAs[Double]("corr") == 1.0 && r.getAs[Double]("slope") == 2.0)
    // the fixed variant must refuse (guard or ANSI overflow), never wrap
    val thrown = intercept[Exception] {
      Stats.pearsonOlsFixed(big, Nil, col("x"), col("y")).collect()
    }
    assert(thrown != null)
  }

  test("abcPartClasses: integer cross-multiplied cuts land exactly on 80/95") {
    // revenues 80/15/4/1 cents: cum shares 0.80 (A, boundary inclusive),
    // 0.95 (B, boundary inclusive), then C
    val li = Seq((1L, 0.80), (2L, 0.15), (3L, 0.04), (4L, 0.01))
      .toDF("l_partkey", "l_extendedprice")
    val out = Stats.abcPartClasses(li).collect()
      .map(r => r.getAs[String]("cls") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("revenue_cents"),
         r.getAs[Double]("revenue_share"))).toMap
    assert(out("A") == ((1L, 80L, 0.8)), out.toString)
    assert(out("B") == ((1L, 15L, 0.15)))
    assert(out("C") == ((2L, 5L, 0.05)))
  }

  test("conformalBacktestCoverage: exact-rank quantile and parity split") {
    // zero-residual periodic series: q = 0 and full coverage
    val periodic = dayOrders((0 until 35).map(d => (d, 100.0)))
    val r0 = Stats.conformalBacktestCoverage(periodic).collect()(0)
    assert(r0.getAs[Long]("n_cal") + r0.getAs[Long]("n_test") == 28L)
    assert(r0.getAs[Long]("q_cents") == 0L)
    assert(r0.getAs[Double]("coverage") == 1.0 && r0.getAs[Double]("target") == 0.9)
    // one $200 spike lands one 20000-cent residual in each half (the
    // lag-7 echo flips parity); the calibration max IS the ceil-rank pick
    val e0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    val spikeD = (20 to 21).find(d => (e0 + d) % 2 == 1).get // test-half day
    val spiked = dayOrders((0 until 35).map(d =>
      (d, if (d == spikeD) 300.0 else 100.0)))
    val r1 = Stats.conformalBacktestCoverage(spiked).collect()(0)
    assert(r1.getAs[Long]("n_cal") == 14L && r1.getAs[Long]("n_test") == 14L)
    // ceil(15·0.9) = 14 = n_cal: the rank picks the calibration max
    assert(r1.getAs[Long]("q_cents") == 20000L, r1.toString)
    assert(r1.getAs[Double]("coverage") == 1.0)
  }

  test("didEstimate: a common time shock cancels exactly") {
    // every customer grows by the same $50 pre→post: both deltas read
    // 5000 cents and the difference-in-differences is identically 0
    val orders = (1 to 40).flatMap { c =>
      Seq((c.toLong, java.sql.Date.valueOf("1995-03-01"), 100.0 + c),
          (c.toLong, java.sql.Date.valueOf("1997-03-01"), 150.0 + c))
    }.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r = Stats.didEstimate(orders).collect()(0)
    assert(r.getAs[Long]("n_treat") > 0L && r.getAs[Long]("n_ctrl") > 0L)
    assert(r.getAs[Double]("delta_treat") == 5000.0, r.toString)
    assert(r.getAs[Double]("delta_ctrl") == 5000.0)
    assert(r.getAs[Double]("did_cents") == 0.0)
  }

  test("qiniUpliftDeciles: universal conversion is a flat zero-uplift curve") {
    // every customer converts in the post period: treatment and control
    // rates are both 1 in every cumulative decile — uplift and qini 0
    val orders = (1 to 50).flatMap { c =>
      Seq((c.toLong, java.sql.Date.valueOf("1995-03-01"), 100.0 + c, "3-MEDIUM"),
          (c.toLong, java.sql.Date.valueOf("1997-03-01"), 50.0, "1-URGENT"))
    }.toDF("o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority")
    val out = Stats.qiniUpliftDeciles(orders).collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getAs[Long]("tc") == r.getAs[Long]("tn"))
      assert(r.getAs[Long]("cc") == r.getAs[Long]("cn"))
      val n = r.getAs[Long]("tn") + r.getAs[Long]("cn")
      assert(n == 5L, s"exact rank deciles must be balanced: $r")
      assert(r.getAs[Double]("uplift_cum") == 0.0)
      assert(r.getAs[Double]("qini_cum") == 0.0, r.toString)
    }
  }
  test("kaplanMeierRetention: hand-checked product-limit on a planted lifetable") {
    // 4 customers on a 10-day corpus (max day = day 10):
    //  A: orders day 0, 2        -> event gap 2, censored spell 8
    //  B: orders day 0, 2        -> event gap 2, censored spell 8
    //  C: orders day 0, 5        -> event gap 5, censored spell 5
    //  D: order  day 10          -> censored spell 0 (sets corpus max day)
    // grid: dur 0 (c=1, n=7), dur 2 (d=2, n=6), dur 5 (d=1,c=1, n=4),
    //       dur 8 (c=2, n=2); event rows only: dur 2 and dur 5
    //  S(2) = 1 - 2/6 = 2/3; S(5) = (2/3)(1 - 1/4) = 0.5
    val orders = Seq(
      (1L, 101L, "1995-01-01"), (1L, 102L, "1995-01-03"),
      (2L, 201L, "1995-01-01"), (2L, 202L, "1995-01-03"),
      (3L, 301L, "1995-01-01"), (3L, 302L, "1995-01-06"),
      (4L, 401L, "1995-01-11"))
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
      .select(col("o_custkey"), col("o_orderkey"),
              col("o_orderdate").cast("date").as("o_orderdate"))
    val km = Stats.kaplanMeierRetention(orders).collect()
    assert(km.map(_.getAs[Long]("dur_days")).toSeq == Seq(2L, 5L))
    val byDur = km.map(r => r.getAs[Long]("dur_days") -> r).toMap
    assert(byDur(2L).getAs[Long]("n_at_risk") == 6L)
    assert(byDur(2L).getAs[Long]("n_events") == 2L)
    assert(byDur(2L).getAs[Double]("survival") == 0.666667)
    assert(byDur(5L).getAs[Long]("n_at_risk") == 4L)
    assert(byDur(5L).getAs[Long]("n_censored") == 1L)
    assert(byDur(5L).getAs[Double]("survival") == 0.5)
  }
}
