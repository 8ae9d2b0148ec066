package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType,
  LongType, ShortType, StringType, StructField, StructType}

/** Iterative graph computation as Pregel-style relational rounds: each
  * iteration joins per-node state onto the (large, partitioned) edge
  * relation and aggregates contributions by destination — the exact shape
  * a 1000-executor PageRank runs. The edge relation stays distributed at
  * any size; what varies with graph size is how the ≤n-row node state
  * travels, and [[pagerankFixed]] selects that BY MEASURED NODE COUNT
  * rather than by caller promise.
  */
object Graph {

  /** One rank unit = 1e12 — integer micro-units keep every contribution and
    * damping step in exact BIGINT arithmetic, so the result is
    * order-independent (float PageRank sums are not associative and cannot
    * hash-match across engines).
    */
  val RankBase = 1000000000000L

  /** Node-count ceiling for the driver-held node-state round shape. Two
    * constraints meet here: Σcontrib ≤ n_nodes·RankBase must survive the
    * ×85 damping step in signed 64-bit (breaks past ~10⁵ nodes at this
    * base), and per-round node state must be small enough to hold where
    * any broadcast join would hold it anyway — on the driver. Past the
    * ceiling [[pagerankFixed]] switches to the bucketed-join round shape
    * by code, not by documentation.
    */
  val BroadcastNodeLimit = 100000L

  /** Edge-count ceiling for the driver-complete fast path (round 10): at or
    * under it the whole edge list collects ONCE (≤ ~2M×2 boxed refs, the
    * same order as a broadcast edge relation would pin per executor) and
    * every damped round runs in driver arrays — zero per-round jobs, zero
    * per-round plan analyses. The threshold-guarded driver fast path with a
    * distributed fallback is the library's established shape
    * (Dedup.unionFind's probe, the PageRank node guard above); past the
    * ceiling the two distributed paths below self-select exactly as
    * before.
    */
  val DriverEdgeLimit = 2000000L

  /** Neighbor-degree ceiling for [[linkPrediction]]'s in-row wedge-pair
    * array. C(1024,2) ≈ 524k structs ≈ tens of MB per row — the largest
    * single-row allocation the explode path is allowed to build. Centers
    * above it stream their pairs through a self-join instead (same rows,
    * distributed across tasks).
    */
  val WedgeDegreeCap = 1024

  /** Total-wedge ceiling for [[linkPrediction]]'s driver-complete fast
    * path (round 13 — the [[DriverEdgeLimit]] pattern applied to the
    * wedge phase): after the support prune the edge relation is usually
    * tiny (3.6k edges at sf0.1, ~32k at the 9× replica), and the whole
    * symmetrize → wedge-count → anti-filter → jaccard → top-k tail is
    * five shuffles plus a checkpoint job over kilobytes. When the pruned
    * edges fit [[DriverEdgeLimit]] AND Σ C(d,2) fits this bound, that
    * tail runs in driver hash maps (sub-ms) and returns a LocalRelation;
    * past either bound the distributed path below runs exactly as
    * before. 2M wedge enumerations ≈ low hundreds of ms on the driver —
    * the same order the distributed tail's fixed job-chain costs.
    */
  val LinkPredDriverWedgeLimit = 2000000L

  /** Fixed-iteration damped PageRank over a directed edge list
    * `(src, dst)` (any equatable node type). Every node must appear as a
    * src (for the symmetrized bipartite graphs this serves, that holds by
    * construction; dangling nodes would need a mass-redistribution term).
    *
    * Integer semantics, identical on any engine: contribution = `rank div
    * out_degree` (floor), new rank = `(RankBase·15) div 100 +
    * (Σcontrib·85) div 100`.
    *
    * Plan shape. The edge-producing chain is scanned ONCE into a
    * dst-prehashed localCheckpoint; one in-memory distinct-count job then
    * measures the node count exactly and picks:
    *
    *  - **n ≤ [[BroadcastNodeLimit]]** (the dense bipartite graphs this
    *    serves): node state lives on the driver — exactly where a
    *    broadcast build would put it — and each round is ONE job: the
    *    state rides in as a broadcast LocalRelation (no build job, no
    *    nested lineage), `div`s are precomputed driver-side in the same
    *    Long arithmetic, the contribution aggregate reuses the
    *    checkpoint's dst partitioning exchange-free, and the ≤n-row result
    *    collects back. iters+3 jobs total and one edge-chain scan, where
    *    the relational form paid 14 jobs and two chain scans at the
    *    catalog row (JobAudit, sf0.1: ≈0.9 M edges, 16.5 k nodes) — the
    *    per-job scheduler floor, not data work, dominated it. The returned
    *    relation is LOCAL (≤n rows); presentation ordering is the
    *    caller's.
    *
    *  - **n > [[BroadcastNodeLimit]]**: classic bucketed-join Pregel —
    *    edges+degrees re-hashed on `src` (one in-memory exchange off the
    *    checkpoint, no chain re-scan), each round's state join pinned to
    *    sort-merge (this path exists precisely because state must not
    *    broadcast) reusing that src partitioning, one honest edge-wide
    *    exchange on `dst` per round, state localCheckpointed per round to
    *    keep lineage flat at any iteration count. RankBase headroom at
    *    huge n: drop the base a decade per 10× nodes (ranks are relative).
    */
  def pagerankFixed(edges: DataFrame, iters: Int,
                    broadcastNodeLimit: Long = BroadcastNodeLimit): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    // the edge-producing chain is scanned ONCE into an in-memory
    // checkpoint; the dst-prehash exchange the distributed rounds reuse is
    // deferred until a distributed path is actually chosen (the
    // driver-complete path collects, so prehashing would be a wasted
    // 0.1-0.2 s shuffle)
    val eRaw = edges.select(col("src"), col("dst")).localCheckpoint()
    // cheapest guard first: one in-memory count picks the driver-complete
    // path for small graphs (degree build, contributions, and ALL rounds in
    // driver arrays — the per-round broadcast rebuild + collect + plan
    // analysis was ~0.1-0.15 s/round of pure fixed cost at the bench
    // profile; identical Long arithmetic, so hashes are unchanged)
    val driverEdges = DriverTail.budget(spark, DriverEdgeLimit)
    if (driverEdges > 0 && eRaw.count() <= driverEdges) {
      val nodeType = eRaw.schema("src").dataType
      val edgeRows = eRaw.collect()
      // index nodes once; the rounds are then pure primitive-array loops
      // (boxed per-edge map lookups per round cost ~0.4 s at 0.9 M edges)
      val index = new java.util.HashMap[Any, Integer](edgeRows.length * 2)
      val nodes = scala.collection.mutable.ArrayBuffer[Any]()
      def idOf(v: Any): Int = {
        val got = index.get(v)
        if (got != null) got.intValue
        else { val i = nodes.length; index.put(v, i); nodes += v; i }
      }
      val srcIdx = new Array[Int](edgeRows.length)
      val dstIdx = new Array[Int](edgeRows.length)
      var k = 0
      while (k < edgeRows.length) {
        val r = edgeRows(k)
        srcIdx(k) = idOf(r.get(0)); dstIdx(k) = idOf(r.get(1)); k += 1
      }
      val n = nodes.length
      val deg = new Array[Long](n)
      srcIdx.foreach(deg(_) += 1)
      // exact join ∘ groupBy(dst) semantics of the relational rounds:
      // contribution = rank div d for rank-holding nodes with out-edges;
      // a node holds a rank next round iff ≥1 in-edge src contributed
      var rank = Array.fill(n)(RankBase)
      var has = deg.map(_ > 0L)
      for (_ <- 1 to iters) {
        val contrib = new Array[Long](n)
        val cHas = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          if (has(i) && deg(i) > 0L) { contrib(i) = rank(i) / deg(i); cHas(i) = true }
          i += 1
        }
        val acc = new Array[Long](n)
        val aHas = new Array[Boolean](n)
        var e = 0
        while (e < srcIdx.length) {
          val s = srcIdx(e)
          if (cHas(s)) { val d = dstIdx(e); acc(d) += contrib(s); aHas(d) = true }
          e += 1
        }
        i = 0
        while (i < n) {
          if (aHas(i)) rank(i) = RankBase * 15 / 100 + acc(i) * 85 / 100
          i += 1
        }
        has = aHas
      }
      val outRows = (0 until n).collect {
        case i if has(i) => Row(nodes(i), rank(i))
      }
      val outSchema = StructType(Seq(
        StructField("node", nodeType), StructField("rank", LongType, nullable = false)))
      return spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(outRows).asJava), outSchema)
    }
    // distributed paths: NOW pay the dst-prehash exchange their round
    // aggregates reuse exchange-free
    val e0 = eRaw.repartition(col("dst")).localCheckpoint()
    // exact node count in one in-memory job (a limit-capped degree collect
    // was tried first: CollectLimit's incremental partition scale-up cost
    // 2-3 jobs against the checkpoint for the same decision)
    val nNodes = e0.select(col("src")).distinct().count()

    if (nNodes > broadcastNodeLimit) {
      // ── huge-graph path: node state never leaves the cluster
      val deg = e0.groupBy("src").agg(count(lit(1)).as("d"))
      val edgesDeg = e0.join(deg, Seq("src"))
        .repartition(col("src"))
        .localCheckpoint()
      var ranks = deg.select(col("src").as("node"), lit(RankBase).as("rank"))
      for (r <- 1 to iters) {
        val state = ranks.hint("merge")
        val next = edgesDeg
          .join(state, edgesDeg("src") === state("node"))
          .select(col("dst"), expr("rank div d").as("__contrib"))
          .groupBy(col("dst"))
          .agg((lit(RankBase * 15 / 100) +
            expr("(sum(__contrib) * 85) div 100")).as("rank"))
          .select(col("dst").as("node"), col("rank"))
        ranks = if (r < iters) next.localCheckpoint() else next
      }
      return ranks
    }

    // ── driver-held path: collect the ≤n-row degree map (in-memory agg)
    val nodeType = e0.schema("src").dataType
    val deg: Map[Any, Long] =
      e0.groupBy("src").agg(count(lit(1)).as("d")).collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
    val contribSchema = StructType(Seq(
      StructField("node", nodeType), StructField("__contrib", LongType, nullable = false)))
    var ranks: Seq[(Any, Long)] = deg.keys.toSeq.map(_ -> RankBase)
    for (_ <- 1 to iters) {
      // contribution = rank div d, driver-side in the identical Long
      // arithmetic (both operands positive); rank-holding nodes with no
      // out-edges contribute nothing — same as the inner join they replace
      val contribRows = ranks.flatMap { case (node, rank) =>
        deg.get(node).map(d => Row(node, rank / d))
      }
      val state = broadcast(
        spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(contribRows).asJava), contribSchema))
      ranks = e0
        .join(state, e0("src") === state("node"))
        .groupBy(col("dst"))
        .agg((lit(RankBase * 15 / 100) +
          expr("(sum(__contrib) * 85) div 100")).as("rank"))
        .select(col("dst"), col("rank"))
        .collect().map(r => (r.get(0), r.getLong(1))).toSeq
    }
    val outSchema = StructType(Seq(
      StructField("node", nodeType), StructField("rank", LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(ranks.map { case (n, rk) => Row(n, rk) }).asJava), outSchema)
  }

  /** Exact triangle census of the co-occurrence graph: nodes are `itemCol`
    * values, an undirected edge joins two items that share a `basketCol`
    * value in at least `minSupport` baskets (the standard support prune of
    * market-basket analysis — without it a single hub basket densifies the
    * graph quadratically). Emits ONE row: node/edge/wedge/triangle counts
    * and the global clustering coefficient 3·T / Σ C(d,2).
    *
    * Algorithm — degree-ordered edge orientation (the MapReduce triangle
    * scheme of Suri & Vassilvitskii's "Counting Triangles and the Curse of
    * the Last Reducer", WWW'11): orient every edge from its (degree, id)-
    * smaller endpoint to the larger, enumerate wedges by self-joining
    * oriented edges on their source, close each wedge against the oriented
    * edge set. Every triangle is counted exactly once (at its unique
    * smallest vertex), and out-degrees after orientation are O(√m), so the
    * wedge relation — the only super-linear intermediate — is bounded by
    * Σ out² ≤ m^1.5 instead of the Σ d² a naive join pays on skewed
    * graphs. All three joins are equi-joins (hash/SMJ at any size, never a
    * nested loop); the pair aggregate shuffles ∝ co-occurring pairs, which
    * is the twin's cost too.
    *
    * The edge relation is the plan's only reuse point (degrees, both wedge
    * sides, closure) and is localCheckpointed once at ≤pairs rows; nothing
    * else materializes. Item/basket key types are caller's (any orderable
    * type — `<` supplies the canonical orientation tiebreak).
    */
  def triangleStats(baskets: DataFrame, basketCol: String, itemCol: String,
                    minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    // Edge build (round 13): per-basket sorted item arrays + map-side i<j
    // pair explode — the shape [[linkPrediction]] adopted in round 12
    // after a four-shape A/B (1.14 s vs the self-join's 1.60 s at sf0.1),
    // replacing the distinct + basket-key self-join
    // (collect_set dedups IN the one basket aggregate; the self-join form
    // paid the distinct shuffle PLUS two join-side exchanges for the same
    // pair multiset). Identical edges: each unordered item pair sharing a
    // basket counts once per basket with u < v, support-pruned the same.
    val edgesPre = graft.Tables.spreadHash(
        baskets.select(col(basketCol).as("bk"), col(itemCol).as("it"))
          // NULL basket keys silently dropped out of the old a.bk === b.bk
          // self-join; the groupBy form would instead merge them into one
          // synthetic (potentially huge) basket — filter restores the join
          // semantics (NULL items already drop inside collect_set, as the
          // old join's NULL-censored `<` comparison dropped them)
          .filter(col("bk").isNotNull),
        col("bk"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("is"))
      .select(explode(sortedPairs(col("is"))).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSupport)
      .select("u", "v")
    // Driver-complete tail (round 13 — [[linkPrediction]]'s guarded fast
    // path applied to the census): after the support prune the edge set is
    // usually tiny while the distributed tail pays ~12 single-task jobs
    // (deg, orientation checkpoint, wedge + closure joins, three report
    // aggregates — measured ~2.5 s of per-job floor at sf0.1). Same
    // probe, same bounds, same bit-exact integer counts; past either bound
    // the distributed path below runs exactly as before.
    val local = edgesOnDriver(edgesPre)
      .flatMap(triangleStatsDriver(baskets.sparkSession, edgesPre, _))
    if (local.isDefined) return local.get
    val edges = edgesPre.localCheckpoint()
    val deg = edges.select(col("u").as("x")).unionAll(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // orient u→v by (deg, id); carry the destination's order key for the
    // wedge-side comparison (wedge (a,b) must use the SAME total order the
    // orientation used, or triangles at equal-degree vertices double/vanish)
    val keyed = edges
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = keyed.select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, col("dv")).otherwise(col("du")).as("dd"))
      .localCheckpoint()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.dd") < col("e2.dd") ||
            (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("wa"), col("e2.dst").as("wb"))
    val tri = wedges.join(oriented,
        col("wa") === col("src") && col("wb") === col("dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeSide = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edgeSide = edges.agg(count(lit(1)).as("n_edges"))
    nodeSide.crossJoin(broadcast(edgeSide)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / nullif(col("n_wedges"), lit(0L)), 6)
          .as("clustering"))
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003) over
    * the same support-pruned co-occurrence graph as [[triangleStats]]:
    * for every NON-adjacent node pair sharing at least one neighbor, the
    * common-neighbor count and neighborhood Jaccard — "these two suppliers
    * never co-supply an order, but their order neighborhoods overlap" is
    * exactly the candidate edge a recommender or assortment planner ranks.
    * Top-k under the total order (common desc, jaccard desc, u, v).
    *
    * Shape: wedges enumerate at their CENTER — adjacency self-joined on
    * the center with endpoint order u < v, so each unordered candidate
    * pair aggregates once; the wedge relation is Σ C(d,2) rows (the same
    * n_wedges the triangle census reports — support pruning keeps it
    * near-linear in edges), reduced by one partial+final count before the
    * degree joins. Known edges leave via a left_anti equi-join. Jaccard =
    * common / (du + dv − common) from exact BIGINTs, one mirrored division.
    * Every join is an equi-join; the k-row result is TakeOrdered, never a
    * global sort.
    *
    * One WEDGE-CENTER aggregate serves everything (the round-11 verdict's
    * remaining-consumer item): basket pairs explode MAP-SIDE from
    * per-basket sorted item arrays (one corpus shuffle — measured 1.14 s
    * vs 1.60 s for the postings self-join at sf0.1), the
    * symmetrized adjacency reduces to per-center SORTED NEIGHBOR ARRAYS
    * in one aggregate, and that ≤|items|-row relation is the single
    * localCheckpoint: degrees are the array sizes (no aggregate), the
    * oriented edge set is a map-side explode of the u < v half, and the
    * candidate wedge pairs explode i<j from the same arrays exactly like
    * the basket pairs — NO self-join exists on the common path (the former
    * co-partitioned center self-join still re-read the full adjacency
    * twice and rebuilt hashed relations; the array explode reads the
    * checkpoint once per consumer at |items| rows, not |edges|). The
    * degree relation is bounded by the ITEM dimension, so both degree
    * attachments are explicit broadcasts of the same map.
    *
    * Skew guard (round 13): the per-row i<j array explode builds C(d,2)
    * structs INSIDE one row before exploding — fine for the bounded
    * degrees the support prune leaves, an executor-OOM cliff for a hub
    * item with, say, 50k neighbors (1.25e9 structs in a single row on a
    * single task). Centers above [[WedgeDegreeCap]] therefore route
    * through a posexplode + co-partitioned self-equi-join on the center
    * key: the same C(d,2) wedge pairs, but STREAMED through a join across
    * tasks instead of materialized in-row. Both branches read the same
    * localCheckpoint (no pipeline re-derivation), and the union feeds one
    * count aggregate, so the result is bit-identical whichever path a
    * center takes. Basket-side pair explode stays per-row: a basket's
    * item set is application-bounded (an order's line items), unlike item
    * popularity, and that relation is not checkpointed (a branch split
    * would re-run the whole basket aggregate per branch).
    */
  def linkPrediction(baskets: DataFrame, basketCol: String, itemCol: String,
                     minSupport: Long, k: Int,
                     wedgeDegreeCap: Int = WedgeDegreeCap): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(wedgeDegreeCap >= 2, s"wedgeDegreeCap must be >= 2, got $wedgeDegreeCap")
    // collect_set dedups IN the basket aggregate — a separate distinct()
    // would shuffle the corpus twice for the same sets. spreadHash on the
    // basket key: when the scan is a single row group, the hash exchange
    // both parallelizes the set-aggregate compute AND satisfies the
    // groupBy distribution (no second shuffle); at multi-row-group scale
    // it is a no-op.
    val edgesPre = graft.Tables.spreadHash(
        baskets.select(col(basketCol).as("bk"), col(itemCol).as("it"))
          // same NULL-basket-key guard as [[triangleStats]]' edge build:
          // the old self-join dropped NULL keys, the groupBy form would
          // merge them into one synthetic basket
          .filter(col("bk").isNotNull),
        col("bk"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("is"))
      .select(explode(sortedPairs(col("is"))).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSupport)
      .select("u", "v")
    // Driver-complete fast path (see [[LinkPredDriverWedgeLimit]]): probe
    // the pruned edge relation through a bounded limit-collect (the
    // pagerankFixed / unionFind threshold-probe shape). Only item types
    // whose driver ordering provably matches Spark's column ordering
    // qualify (integers; strings — UTF8String compares unsigned UTF-8
    // bytes, mirrored below); anything else falls through. On fallback
    // the distributed path re-derives edgesPre — acceptable because the
    // fallback IS the giant-graph case where the probe cost is noise.
    val local = edgesOnDriver(edgesPre)
      .flatMap(linkPredictionDriver(baskets.sparkSession, edgesPre, _, k))
    if (local.isDefined) return local.get
    // edgesPre rows are unique (u, v) pairs, so collect_list needs no
    // dedup; sort_array makes the neighbor order deterministic and gives
    // the i<j pair explode its total order for free. Symmetrization is a
    // MAP-SIDE 2-element explode, not a unionAll — the union form
    // re-derived the whole basket pipeline (scan + two aggregates) once
    // per branch inside the checkpoint job.
    val centers = edgesPre
      .select(explode(array(
        struct(col("v").as("c"), col("u").as("n")),
        struct(col("u").as("c"), col("v").as("n")))).as("e"))
      .groupBy(col("e.c").as("v"))
      .agg(sort_array(collect_list(col("e.n"))).as("ns"))
      .localCheckpoint()
    val deg = centers.select(col("v").as("x"),
                             size(col("ns")).cast("long").as("d"))
    val edges = centers.select(explode(col("ns")).as("u"), col("v"))
      .filter(col("u") < col("v"))
    // Degree routing (see scaladoc): low-degree centers keep the in-row
    // pair array; high-degree centers stream their deg² wedge pairs
    // through a self-equi-join on the center key. `ns` is sort_array'd,
    // so position order i<j IS value order u<v on both paths.
    val lowPairs = centers.filter(size(col("ns")) <= wedgeDegreeCap)
      .select(explode(sortedPairs(col("ns"))).as("p"))
    val hiExpl = centers.filter(size(col("ns")) > wedgeDegreeCap)
      .select(col("v").as("__c"), posexplode(col("ns")).as(Seq("__i", "__n")))
    val hiPairs = hiExpl.as("a").join(hiExpl.as("b"),
        col("a.__c") === col("b.__c") && col("a.__i") < col("b.__i"))
      .select(struct(col("a.__n").as("u"), col("b.__n").as("v")).as("p"))
    val cand = lowPairs.unionByName(hiPairs)
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("common"))
      .join(edges, Seq("u", "v"), "left_anti")
    cand
      .join(broadcast(deg.select(col("x").as("u"), col("d").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("x").as("v"), col("d").as("dv"))), Seq("v"))
      .select(col("u"), col("v"), col("common"), col("du"), col("dv"),
        round(col("common").cast("double") /
              (col("du") + col("dv") - col("common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("common").desc, col("jaccard").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Item types whose driver-side ordering provably equals Spark's column
    * ordering: integers (numeric order) and strings (UTF8String compares
    * unsigned UTF-8 bytes — mirrored exactly in [[linkPredictionDriver]]'s
    * comparator). Anything else keeps the distributed path.
    */
  private def linkPredDriverOrderable(edges: DataFrame): Boolean =
    edges.schema.head.dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType => true
      case _ => false
    }

  /** The pruned edge relation collected for a driver-complete tail: only
    * for driver-orderable item types and within the [[DriverEdgeLimit]]
    * budget, else None (the distributed tail runs).
    */
  private def edgesOnDriver(edgesPre: DataFrame): Option[Array[Row]] =
    if (!linkPredDriverOrderable(edgesPre)) None
    else DriverTail.collectWithin(edgesPre, DriverEdgeLimit)

  /** Map-side i<j pair explode over a SORTED array: every unordered element
    * pair once, with u < v under the array's sort order. Shared by
    * [[linkPrediction]] (basket pairs, wedge pairs) and [[triangleStats]]
    * (basket pairs).
    */
  private def sortedPairs(arr: Column): Column =
    flatten(transform(arr, (a, i) =>
      transform(slice(arr, i + 2, size(arr)), b =>
        struct(a.as("u"), b.as("v")))))

  /** The driver-complete tail of [[triangleStats]]: degrees, orientation,
    * wedge enumeration and closure over the ALREADY-BOUNDED pruned edge
    * set, in driver hash maps. Exact value parity with the distributed
    * tail: counts are exact longs; the orientation total order (degree,
    * then id) uses the same byte-exact comparator as
    * [[linkPredictionDriver]]; clustering mirrors Spark's
    * `round(3.0 * T / nullif(W, 0), 6)` double chain including HALF_UP
    * rounding and the NULL cases (no nodes → W is NULL as sum-over-empty;
    * W = 0 → NULL via nullif). Returns None when Σ C(d,2) exceeds the
    * wedge bound — the caller falls through to the distributed path.
    */
  private def triangleStatsDriver(spark: SparkSession, edgesPre: DataFrame,
                                  edges: Array[Row]): Option[DataFrame] = {
    val uType = edgesPre.schema.head.dataType
    val isString = uType == StringType
    def numL(a: Any): Long = a match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
    }
    def cmp(a: Any, b: Any): Int =
      if (isString) {
        val x = a.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        var c = 0
        while (i < n && c == 0) { c = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
        if (c != 0) c else x.length - y.length
      } else java.lang.Long.compare(numL(a), numL(b))
    val deg = new scala.collection.mutable.HashMap[Any, Long]()
    edges.foreach { r =>
      deg.update(r.get(0), deg.getOrElse(r.get(0), 0L) + 1L)
      deg.update(r.get(1), deg.getOrElse(r.get(1), 0L) + 1L)
    }
    val nNodes = deg.size.toLong
    val nEdges = edges.length.toLong
    val nWedges: Option[Long] =
      if (deg.isEmpty) None // sum() over an empty relation is NULL
      else Some(deg.valuesIterator.map(d => d * (d - 1L) / 2L).sum)
    if (nWedges.exists(_ > DriverTail.budget(spark, LinkPredDriverWedgeLimit)))
      return None
    // orient each edge from its (degree, id)-smaller endpoint; out-lists
    // and an oriented-edge set drive the wedge closure. A wedge (a, b) at
    // center s can only close through the oriented edge between a and b,
    // and orientation is a total order, so at most one direction exists —
    // membership of either direction is the closure test.
    val out = new scala.collection.mutable.HashMap[
      Any, scala.collection.mutable.ArrayBuffer[Any]]()
    val oset = new scala.collection.mutable.HashSet[(Any, Any)]()
    edges.foreach { r =>
      val u = r.get(0); val v = r.get(1)
      val du = deg(u); val dv = deg(v)
      val fwd = du < dv || (du == dv && cmp(u, v) < 0)
      val (s, d) = if (fwd) (u, v) else (v, u)
      out.getOrElseUpdate(s, new scala.collection.mutable.ArrayBuffer[Any]) += d
      oset += ((s, d))
    }
    var tri = 0L
    out.valuesIterator.foreach { ns =>
      val arr = ns.toArray
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          if (oset.contains((arr(i), arr(j))) || oset.contains((arr(j), arr(i))))
            tri += 1L
          j += 1
        }
        i += 1
      }
    }
    val clustering: Any = nWedges match {
      case Some(w) if w > 0L =>
        DriverTail.round6(3.0 * tri.toDouble / w.toDouble)
      case _ => null // W NULL (no nodes) or nullif(W, 0)
    }
    val schema = StructType(Seq(
      StructField("n_nodes", LongType, nullable = false),
      StructField("n_edges", LongType, nullable = false),
      StructField("n_wedges", LongType),
      StructField("n_triangles", LongType, nullable = false),
      StructField("clustering", DoubleType)))
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[Row] = List(
      Row(nNodes, nEdges, nWedges.map(Long.box).orNull, tri, clustering)).asJava
    Some(spark.createDataFrame(rows, schema))
  }

  /** The driver-complete wedge tail of [[linkPrediction]]: adjacency,
    * per-center wedge pair counts, known-edge anti-filter, jaccard, top-k
    * — all in driver hash maps over the ALREADY-BOUNDED pruned edge set.
    * Value parity with the distributed tail is exact: counts are exact
    * longs, jaccard uses the same BigDecimal HALF_UP rounding Spark's
    * `round` applies to doubles, and the total order (common desc,
    * jaccard desc, u, v) uses the byte-exact comparator above. Returns
    * None when Σ C(d,2) exceeds the wedge bound — the caller falls
    * through to the distributed path.
    */
  private def linkPredictionDriver(spark: SparkSession, edgesPre: DataFrame,
                                   edges: Array[Row], k: Int): Option[DataFrame] = {
    val uType = edgesPre.schema.head.dataType
    val isString = uType == StringType
    def numL(a: Any): Long = a match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
    }
    def cmp(a: Any, b: Any): Int =
      if (isString) {
        val x = a.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        var c = 0
        while (i < n && c == 0) { c = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
        if (c != 0) c else x.length - y.length
      } else java.lang.Long.compare(numL(a), numL(b))
    val nbrs = new scala.collection.mutable.HashMap[
      Any, scala.collection.mutable.ArrayBuffer[Any]]()
    val edgeSet = new scala.collection.mutable.HashSet[(Any, Any)]()
    edges.foreach { r =>
      val u = r.get(0); val v = r.get(1)
      nbrs.getOrElseUpdate(u, new scala.collection.mutable.ArrayBuffer[Any]) += v
      nbrs.getOrElseUpdate(v, new scala.collection.mutable.ArrayBuffer[Any]) += u
      edgeSet += ((u, v))
    }
    val nWedges = nbrs.valuesIterator
      .map(b => b.length.toLong * (b.length - 1L) / 2L).sum
    if (nWedges > DriverTail.budget(spark, LinkPredDriverWedgeLimit)) return None
    val common = new scala.collection.mutable.HashMap[(Any, Any), Long]()
    nbrs.valuesIterator.foreach { ns =>
      val arr = ns.toArray.sortWith((a, b) => cmp(a, b) < 0)
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val key = (arr(i), arr(j))
          common.update(key, common.getOrElse(key, 0L) + 1L)
          j += 1
        }
        i += 1
      }
    }
    val cands = common.iterator
      .filter { case (p, _) => !edgeSet.contains(p) }
      .map { case ((u, v), cm) =>
        val du = nbrs(u).length.toLong
        val dv = nbrs(v).length.toLong
        val jac = DriverTail.round6(cm.toDouble / (du + dv - cm).toDouble)
        (u, v, cm, du, dv, jac)
      }.toArray
    val ord = new Ordering[(Any, Any, Long, Long, Long, Double)] {
      def compare(a: (Any, Any, Long, Long, Long, Double),
                  b: (Any, Any, Long, Long, Long, Double)): Int = {
        var c = java.lang.Long.compare(b._3, a._3)
        if (c == 0) c = java.lang.Double.compare(b._6, a._6)
        if (c == 0) c = cmp(a._1, b._1)
        if (c == 0) c = cmp(a._2, b._2)
        c
      }
    }
    val top = cands.sorted(ord).take(k)
    val schema = StructType(Seq(
      StructField("u", uType), StructField("v", uType),
      StructField("common", LongType, nullable = false),
      StructField("du", LongType, nullable = false),
      StructField("dv", LongType, nullable = false),
      StructField("jaccard", DoubleType)))
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[Row] =
      top.map { case (u, v, cm, du, dv, j) => Row(u, v, cm, du, dv, j) }
        .toList.asJava
    Some(spark.createDataFrame(rows, schema))
  }
}
