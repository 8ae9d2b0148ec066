package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression armor: the properties SCALE.md claims —
  * pushdown reaching the scan, dims broadcast, partial aggregation — are
  * asserted here so a refactor can't silently regress them.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  test("pricing_summary pushes the shipdate filter to the parquet scan") {
    val p = plan("pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
  }

  test("incremental_since pushes the watermark onto the raw ns column") {
    val p = plan("incremental_since")
    assert(p.contains("GreaterThan(ts,"), p)
  }

  test("dimension joins broadcast (brand_revenue, nation_revenue)") {
    assert(plan("brand_revenue").contains("BroadcastHashJoin"))
    val nr = plan("nation_revenue")
    assert(nr.contains("BroadcastHashJoin"), nr)
  }

  test("aggregates are partial+final (map-side combine)") {
    val p = plan("daily_lifecycle_stats")
    assert(p.contains("partial_"), p)
  }

  test("scans prune columns (no full-width read for narrow projections)") {
    val p = plan("top_orders")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"), p)
  }

  test("semi/anti joins plan as join operators, not subquery re-scans") {
    assert(plan("customers_with_orders").contains("LeftSemi"))
    assert(plan("customers_without_orders").contains("LeftAnti"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("top_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bounded report outputs plan as TakeOrdered; corpus-sized outputs keep the range sort") {
    // structurally bounded (groups don't grow with the corpus): one
    // TakeOrderedAndProject stage, no range exchange + bound sampling
    Seq("daily_lifecycle_stats", "nation_revenue", "lifecycle_rollup",
        "pii_scrub_stats", "weighted_mixture_sample").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q lost its TakeOrdered plan:\n$p")
      assert(!p.contains("rangepartitioning"), s"$q still range-sorts:\n$p")
    }
    // corpus-sized outputs must NOT funnel through a single-reduce top-k
    Seq("dedup_lineitem", "minhash_signatures", "quality_scores").foreach { q =>
      val p = plan(q)
      assert(p.contains("rangepartitioning"), s"$q should keep the scalable range sort:\n$p")
      assert(!p.contains("TakeOrderedAndProject"), s"$q must not TakeOrdered a corpus-sized output:\n$p")
    }
  }

  test("mixture reports reference the rates relation once (no checkpoint barrier, no re-execution)") {
    // the rates subtree appears exactly once: one scan of documents feeds
    // the counts aggregate, one more feeds the corpus pass = 2 scans total
    val p = plan("weighted_mixture_sample")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 documents scans (rates + corpus), got $scans:\n$p")
  }

  test("additional_info_encode prunes the events scan to the three used columns") {
    val p = plan("additional_info_encode")
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,props:string>"), p)
  }

  test("throughput_from_logs aggregates partial+final over the line union") {
    val p = plan("throughput_from_logs")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cosine_topk ranks via partial-aggregating top-k, not a per-query window") {
    // a window partitioned by q_id puts one query's whole scored corpus on
    // one task; the TopKPairsAgg aggregate reduces map-side to ≤ k rows
    val p = plan("cosine_topk")
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"), p)
  }

  test("money aggregates run on integer cents — no per-row decimal casts") {
    // Scalars.moneySum/discountedSum: the aggregate buffer must be long
    // arithmetic; a decimal(18,2) cast in the plan means a BigDecimal
    // allocation per value (the round-2 allocation storm)
    for (q <- Seq("pricing_summary", "brand_revenue", "nation_revenue",
                  "supplier_nation_revenue", "daily_lifecycle_stats"))
      assert(!plan(q).toLowerCase.contains("as decimal"), s"$q re-grew a decimal cast")
  }

  test("additional_info_encode: single-pass encode expression above a narrow sort") {
    val p = plan("additional_info_encode")
    assert(p.contains("json_partition_encode"), p)
    assert(!p.contains("from_json"), "the interpreted HOF parse chain came back")
    // sort-early/project-late: the range sort's sampling pass must touch
    // only the scan columns, so the Sort sits BELOW the encode projection
    // (earlier in bottom-up plan text = larger offset in top-down toString)
    val sortAt = p.indexOf("Sort [")
    val encodeAt = p.indexOf("json_partition_encode")
    assert(sortAt > encodeAt,
      s"encode must be projected above the sort (sort@$sortAt encode@$encodeAt):\n$p")
  }

  test("signBuckets LSH queries carry no plane-relation join (pure projection)") {
    // ann_lsh_topk joins corpus and query bucket tables — exactly 1 join;
    // a second join means the broadcast plane relation came back
    val p = plan("ann_lsh_topk")
    assert(p.contains("sign_lsh_buckets"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("reconcile_disk_state: anti-join composition, no nested-loop joins") {
    // assert below the catalog entry's checkpoint boundary (a localCheckpoint
    // truncates the visible plan to a LogicalRDD)
    val p = CatalogCore.reconcilePipeline(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("curation queries: shard-partitioned packing window, partial-agg split manifest, broadcast rates") {
    val pack = plan("pack_sequences")
    // the packing window must partition on the shard key — a global
    // (unpartitioned) window would serialize the corpus through one task
    assert(pack.contains("Window") && pack.contains("windowspecdefinition(shard"), pack)
    val split = plan("split_manifest")
    assert(split.contains("partial_"), split)
    val mix = plan("lang_balanced_sample")
    // the keep-rate relation joins broadcast; the corpus side never shuffles
    // for the filter pass
    assert(mix.contains("BroadcastHashJoin"), mix)
  }

  test("LSH near-dup pairs plan has no nested-loop/cartesian join") {
    // the whole point of the bucketed path: candidate generation must be an
    // equi-join on (t, bucket), never an all-pairs scan (the exact baseline
    // embedding_neardup_pairs is the one allowed BroadcastNestedLoopJoin)
    val p = plan("embedding_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), p)
  }

  test("ivfTopK: one fused scan — literal argmax + literal-cosine explode, no join, no window") {
    // the session-5 shape (the pqTopK convention), round-11 kernel: corpus
    // assignment is the ONE-loop nearest_centroid expression (centroids as
    // a codegen reference object — replaced the composed array_max +
    // array_position argmax, which re-evaluated the k cosines up to 3×),
    // query probes rank DRIVER-side, and the rescore is a literal-cosine
    // posexplode + probed-cluster filter feeding the partial-agg top-k —
    // NO query-side join, NO ranking window, no shuffle beyond the k-row
    // aggregate. kmeans' interior runs at collect time and cannot appear.
    // The catalog's driver-hashed faces are ivf_assign / ivf_ann_topk /
    // ivf_recall.
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val p = graft.ops.Similarity
      .ivfTopK(emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8), 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("nearest_centroid"), p)
    assert(!p.toLowerCase.contains("sortmergejoin"), p)
    assert(!p.contains("BroadcastHashJoin"), "no query-side join remains: " + p)
    assert(!p.contains("Window"), "no ranking window remains: " + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ivf_assign: assignment is a scan-shaped literal projection — no join, no window, no aggregate") {
    val p = plan("ivf_assign")
    // the whole assignment pass is one projection over the corpus scan
    // (the nearest_centroid kernel over reference-object centroids — the
    // round-11 replacement for array_max + array_position) plus the output
    // sort: no ranking window anywhere (the k-means seed numbering runs at
    // centroid-collect time, outside this plan), no join of any kind, and
    // no aggregate in the final pass
    assert(p.contains("nearest_centroid"), p)
    assert(!p.contains("Window ["), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("catalog-wide lint: no query plans a non-broadcast cartesian product") {
    // tiny-relation crossJoin(broadcast(...)) plans as BroadcastNestedLoopJoin
    // (bounded by the broadcast side — fine); a bare CartesianProduct means a
    // full N×M shuffle product and is never acceptable in this catalog
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
    }
  }

  test("symdelete_fuzzy_match: variant-key equi-joins only, never a pair loop") {
    // the deletion-neighborhood contract: candidate generation must be a
    // hash/SMJ equi-join on the variant key — a nested loop here means the
    // provable-recall banding has silently degenerated to all-pairs
    val p = plan("symdelete_fuzzy_match")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p) // the len+1 variant explode is map-side
  }

  test("copurchase_link_prediction: driver fast path plans a LocalRelation; " +
       "the distributed fallback keeps equi anti-join + TakeOrdered") {
    // default: the support-pruned edge set fits the driver bounds, so the
    // wedge tail is a driver computation and the RESULT plan is a bare
    // local scan — zero further jobs (round 13)
    val p = plan("copurchase_link_prediction")
    assert(p.contains("LocalTableScan"), p)
    // fallback (driver tails forced off): the distributed tail's contract
    // is unchanged — equi anti-join, top-k as TakeOrdered, never a global
    // sort or a nested-loop join
    val pd = TestSpark.withDriverTail(0) {
      graft.ops.Graph.linkPrediction(
          Tables.lineitem(spark, TestSpark.sfDir), "l_orderkey", "l_partkey",
          minSupport = 2, k = 50)
        .queryExecution.executedPlan.toString
    }
    assert(!pd.contains("BroadcastNestedLoopJoin"), pd)
    assert(pd.contains("TakeOrderedAndProject"), pd)
  }

  test("linear_attribution: prior-window pair join is an equi-join with residual") {
    val p = plan("linear_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sq8_ann_topk: queries broadcast; ranking is the partial top-k aggregate") {
    val p = plan("sq8_ann_topk")
    // corpus streams against the k-row broadcast — the crossJoin is the
    // bounded BNLJ form, and the ranking never windows the N×Q score set
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topk_pairs"), p)
    assert(!p.contains("Window"), p)
  }

  test("capped_running_balance: one key exchange feeds both Lindley windows") {
    val p = plan("capped_running_balance")
    // two ordered windows + the rank window share the user_id partitioning:
    // exactly one shuffle on user_id may appear
    val exchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(p.contains("Window"), p)
    assert(exchanges <= 1, s"expected <= 1 user_id exchange, got $exchanges:\n$p")
  }

  test("packed_text: text rides the packing window — no join in the plan") {
    val p = plan("packed_text")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("decontamination_report: shuffle-hash inverted-index join, no nested loops") {
    val p = plan("decontamination_report")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("doc_chunks: map-side explode, no join") {
    val p = plan("doc_chunks")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
  }

  test("boilerplate_line_stats: broadcast flag join feeding one fused aggregate") {
    val p = plan("boilerplate_line_stats")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // reassembly + counts live in a single aggregate (collect_list ⇒
    // ObjectHashAggregate), not an aggregate-join-aggregate chain
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("bpe_merge_candidates: top-k plans as TakeOrdered, not a global sort") {
    val p = plan("bpe_merge_candidates")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("cosupply_triangles: driver fast path plans a LocalRelation; " +
       "the distributed fallback keeps equi-join wedges") {
    // default: the support-pruned edge set fits the driver bounds, so the
    // census tail is a driver computation and the RESULT plan is a bare
    // local scan — zero further jobs (round 13)
    val p = plan("cosupply_triangles")
    assert(p.contains("LocalTableScan"), p)
    // fallback (driver path forced off): candidate wedges come from
    // hash/SMJ equi-joins on src and close on (wa, wb) — an all-pairs or
    // nested-loop shape here is quadratic death on a skewed graph
    // (the 1-row count combines at the top are broadcast BNLJs — bounded)
    val pd = TestSpark.withDriverTail(0) {
      graft.ops.Graph.triangleStats(
          Tables.lineitem(spark, TestSpark.sfDir)
            .select(org.apache.spark.sql.functions.col("l_orderkey"),
                    org.apache.spark.sql.functions.col("l_partkey")),
          "l_orderkey", "l_partkey", minSupport = 2)
        .queryExecution.executedPlan.toString
    }
    assert(!pd.contains("CartesianProduct"), pd)
    assert(pd.contains("SortMergeJoin") || pd.contains("ShuffledHashJoin") ||
           pd.contains("BroadcastHashJoin"), pd)
  }

  test("orders_daily_gapfill: bounded sides broadcast; the corpus never joins") {
    // counts and grid are both groups×days relations: the left join must be
    // a BroadcastHashJoin (corpus touched only inside the counts aggregate)
    val p = plan("orders_daily_gapfill")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("partial_count"), "counts must partial-aggregate:\n" + p)
  }

  test("price_histogram_quantiles: bin counters hash-aggregate under broadcast bounds") {
    // round-14 driver tail: the default plan is the driver-assembled report
    // (LocalTableScan + the contract orderBy); the corpus work (bounds +
    // grid passes) runs as collect jobs during construction
    val p = plan("price_histogram_quantiles")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Scan parquet"), p)
    // distributed fallback keeps the round-13 shape pin: the corpus-sized
    // pass is the (group, bin) counter aggregate — all-long buffers, so it
    // must plan as a HashAggregate; bounds ride in broadcast
    val pd = TestSpark.withDriverTail(0)(plan("price_histogram_quantiles"))
    assert(pd.contains("BroadcastHashJoin"), pd)
    assert(pd.contains("HashAggregate") && pd.contains("partial_count"), pd)
    assert(!pd.contains("SortMergeJoin"), pd)
  }

  test("token_entropy: partial+final counts below the per-doc window total") {
    val p = plan("token_entropy")
    assert(p.contains("partial_"), p)
    assert(p.contains("Window"), p)
  }

  test("lsh_recall: inverted-index joins stay hash joins, no nested loops") {
    val p = plan("lsh_recall")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("duplicate_spans: codegen shingle explode, partial-agg dup head, no forced broadcast") {
    val df = SparkEntry.queries("duplicate_spans")(spark, TestSpark.sfDir)
    val p = df.queryExecution.executedPlan.toString
    // codegen'd WordShingles explode, not an interpreted HOF lambda
    assert(p.contains("word_shingles"), p)
    assert(!p.contains("lambdafunction"), p)
    // minDocs=2 dup head is min/max with map-side combine (shuffle ∝
    // distinct grams), NOT the two-exchange distinct aggregate
    assert(p.contains("partial_min"), p)
    assert(!p.contains("partial_count(distinct"), p)
    assert(!p.contains("CartesianProduct"), p)
    // no broadcast HINT in the logical plan (scale safety: the dup head
    // grows with corpus duplication) — AQE still picks a broadcast join at
    // this head size from runtime stats
    assert(!df.queryExecution.logical.toString.contains("ResolvedHint"), "no forced broadcast")
    df.write.mode("overwrite").format("noop").save()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "AQE should broadcast the small dup head at test SF")
  }

  test("interval join plans as an equi-join, never a nested loop") {
    // the whole point of the bucketed construction: a naive range-predicate
    // join would plan as BroadcastNestedLoop (O(probe x build) per key)
    val p = plan("error_context_stats")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("join"), "join must exist")
  }

  test("copurchase_lift shuffles the corpus exactly once (basket aggregate)") {
    // the adopted four-shape A/B winner: one groupBy(okey) exchange; pairs
    // explode map-side from the basket array, counts/totals broadcast —
    // a second corpus-sized exchange would mean the self-join form crept
    // back (the measured-worse 1.60 s shape)
    val df = SparkEntry.queries("copurchase_lift")(spark, TestSpark.sfDir)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), "dim joins must broadcast:\n" + p)
    val corpusExchanges = "Exchange hashpartitioning\\(okey".r.findAllIn(p).length
    assert(corpusExchanges <= 1, s"one okey exchange allowed, got $corpusExchanges:\n$p")
  }

  test("weighted_doc_sample plans as TakeOrdered over a map-side key scan") {
    val p = plan("weighted_doc_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      "A-ES keys are map-side; no hash exchange belongs here:\n" + p)
  }

  test("theil_sen_trend: pair generation is an offset equi-join, never a range loop") {
    // the rank-window pairing contract: days explode to ≤maxRankGap offset
    // rows and join BACK on the rank index as a hash join — a cartesian
    // here means the range-predicate form crept in and the relation is
    // days² again. (The 1-row report crossJoin IS allowed to plan as the
    // bounded BNLJ, like every other report join in the catalog.)
    val p = plan("theil_sen_trend")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), "pairing must stay an equi-join:\n" + p)
    assert(p.contains("Generate explode"), "offset explode must be map-side:\n" + p)
    // the checkpointed daily series: the corpus feeds ONE scan, both pair
    // sides and the day count reuse the ≤days-row local relation
    assert(!p.contains("FileScan"), "orders must not be rescanned past the checkpoint:\n" + p)
  }

  test("cuped_adjusted_lift: one customer-grain exchange feeds both report aggregates") {
    val df = SparkEntry.queries("cuped_adjusted_lift")(spark, TestSpark.sfDir)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), "customer grain must partial-aggregate:\n" + p)
  }

  test("l_diversity_audit: exact-distinct runs as a two-phase partial aggregate") {
    val p = plan("l_diversity_audit")
    assert(p.contains("partial_count(distinct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ann_ndcg: ranking rides the partial top-k aggregate, queries broadcast") {
    val p = plan("ann_ndcg")
    assert(p.contains("partial_topk_pairs"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lang_source_mi: one corpus scan feeds the bounded label grid") {
    val p = plan("lang_source_mi")
    assert(p.contains("partial_count"), "cell counts must map-side combine:\n" + p)
    assert("FileScan".r.findAllIn(p).length == 1,
      "marginals must ride the grid, not rescan the corpus:\n" + p)
  }

  test("ks_source_drift: one scan, argmax as TakeOrdered") {
    val p = plan("ks_source_drift")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("FileScan".r.findAllIn(p).length == 1, p)
  }

  test("sprt_conversion_monitor: walk consumers reuse the checkpointed series") {
    val p = plan("sprt_conversion_monitor")
    assert(!p.contains("FileScan"),
      "orders must not be rescanned past the checkpoint:\n" + p)
  }

  test("shapley_attribution: one corpus scan into the user-grain aggregate") {
    val p = plan("shapley_attribution")
    assert("FileScan".r.findAllIn(p).length == 1,
      "the coalition grid/pivot must ride the one user aggregate:\n" + p)
    assert(p.contains("partial_"), p)
  }

  test("psi_price_drift: driver report tail plans a LocalRelation") {
    // default: the ≤bins-row grid is collected once (the two documented
    // corpus passes — bounds + binning — run at collect time) and the
    // 1-row report is driver-assembled, so the RESULT plan is a bare
    // local scan: no single-partition window exchange, no keyless
    // aggregate stage (round 13). The distributed fallback's 2-scan /
    // broadcast-bounds contract is pinned by StatsSpec's
    // driver≡distributed test.
    val p = plan("psi_price_drift")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"),
      "report must be driver-assembled, not re-planned over the corpus:\n" + p)
  }

  test("qini_uplift_deciles: one scan to customer grain, decile grid windows") {
    val p = plan("qini_uplift_deciles")
    assert("FileScan".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_"), p)
  }

  test("good_turing_mass: the self-join rides the checkpointed fof table") {
    // the one corpus scan ran at checkpoint time; the presentation plan
    // must be FileScan-free (both fof consumers read the local relation)
    val p = plan("good_turing_mass")
    assert(!p.contains("FileScan"),
      "count-of-counts must not rescan the corpus:\n" + p)
  }

  test("fs_linkage_audit: blocking stays a variant-key equi-join") {
    val p = plan("fs_linkage_audit")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), "the len+1 variant explode is map-side:\n" + p)
  }

  test("abc_part_classes: one scan, cumulative cut over the part dimension") {
    val p = plan("abc_part_classes")
    assert("FileScan".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_"), p)
  }

  test("conformal_coverage: consumers reuse the checkpointed residual series") {
    val p = plan("conformal_coverage")
    assert(!p.contains("FileScan"),
      "orders must not be rescanned past the checkpoint:\n" + p)
  }

  test("did_estimate and chao1_vocab_estimate: single-scan report aggregates") {
    Seq("did_estimate", "chao1_vocab_estimate").foreach { name =>
      val p = plan(name)
      assert("FileScan".r.findAllIn(p).length == 1, s"$name:\n$p")
      assert(p.contains("partial_"), s"$name:\n$p")
    }
  }

  test("pagerank rounds stay off the catalog plan: result is a local relation") {
    // the small-graph path runs its rounds driver-chained over the one
    // checkpointed edge relation (Graph.pagerankFixed scaladoc); what the
    // catalog row plans over is the ≤n-row final state — a LocalTableScan
    // plus presentation sort, no join, no edge rescans
    val df = SparkEntry.queries("supplier_pagerank")(spark, TestSpark.sfDir)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Join"), "no join may survive in the presentation plan:\n" + p)
  }
}
