package graft

import graft.ops.Graph
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int): Map[String, Long] =
    Graph.pagerankFixed(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("pagerankFixed: symmetric 2-cycle stays at the fixed point") {
    // a<->b: each node forwards its whole rank, so damping holds ranks at
    // exactly 15% base + 85% base = base every round
    val out = ranks(Seq("a" -> "b", "b" -> "a"), 3)
    assert(out == Map("a" -> Graph.RankBase, "b" -> Graph.RankBase))
  }

  test("pagerankFixed: star center accumulates rank, leaves stay symmetric") {
    val leaves = Seq("l1", "l2", "l3")
    val edges = leaves.flatMap(l => Seq("hub" -> l, l -> "hub"))
    val out = ranks(edges, 3)
    assert(out("hub") > out("l1"), "hub must out-rank a leaf")
    assert(leaves.map(out).distinct.size == 1, "leaves are symmetric")
  }

  test("pagerankFixed: one round matches the integer formula exactly") {
    // hub out-degree 2, leaves out-degree 1, all start at RankBase:
    //   leaf  <- 15% + 85% of (RankBase div 2)
    //   hub   <- 15% + 85% of (RankBase + RankBase)
    val edges = Seq("hub" -> "l1", "hub" -> "l2", "l1" -> "hub", "l2" -> "hub")
    val out = ranks(edges, 1)
    val base = Graph.RankBase
    assert(out("l1") == base * 15 / 100 + (base / 2) * 85 / 100)
    assert(out("hub") == base * 15 / 100 + (2 * base) * 85 / 100)
  }

  test("pagerankFixed: bucketed-join fallback selects by node count and matches broadcast path") {
    // broadcastNodeLimit = 0 forces every graph onto the huge-graph shape;
    // the two paths share the integer arithmetic, so ranks must be equal
    val edges = Seq("hub" -> "l1", "hub" -> "l2", "l1" -> "hub", "l2" -> "hub",
                    "l1" -> "l2", "l2" -> "l1")
    val df = edges.toDF("src", "dst")
    val viaDriver = Graph.pagerankFixed(df, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (viaBroadcast, viaBucketed) = TestSpark.withDriverTail(0) {
      (Graph.pagerankFixed(df, 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
       Graph.pagerankFixed(df, 3, broadcastNodeLimit = 0L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    assert(viaDriver == viaBroadcast, "driver-complete path shares the arithmetic")
    assert(viaBroadcast == viaBucketed)
  }

  test("pagerankFixed: path selection is visible in the returned plan") {
    val edges = Seq("a" -> "b", "b" -> "a").toDF("src", "dst")
    def finalPlan(limit: Long): String = TestSpark.withDriverTail(0) {
      Graph.pagerankFixed(edges, 1, broadcastNodeLimit = limit)
        .queryExecution.executedPlan.toString
    }
    // tiny edge list: the driver-complete path returns a local relation
    val driver = Graph.pagerankFixed(edges, 1)
      .queryExecution.executedPlan.toString
    assert(driver.contains("LocalTableScan") && !driver.contains("Join"), driver)
    // edge guard forced off, small-n: rounds are driver-chained with a
    // broadcast state relation, the result is still a local relation
    val small = finalPlan(100000L)
    assert(small.contains("LocalTableScan"), small)
    assert(!small.contains("Join"), "driver-held path leaves no join:\n" + small)
    // past the ceiling: relational rounds whose state join must NOT
    // broadcast (that is the point of the fallback)
    val large = finalPlan(0L)
    assert(large.contains("SortMergeJoin"), large)
    assert(!large.contains("BroadcastHashJoin"),
      "past the node ceiling the round must not broadcast node state:\n" + large)
  }

  test("pagerankFixed: total mass is conserved up to integer-floor loss") {
    // every div floors, so each round can only LOSE mass (never create it),
    // and by at most (n_edges + n_nodes) units per round
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a",
                    "b" -> "a", "c" -> "b", "a" -> "c")
    val out = ranks(edges, 3)
    val total = out.values.sum
    val ideal = 3 * Graph.RankBase
    assert(total <= ideal)
    assert(ideal - total <= 3L * (edges.size + out.size) * 100)
  }

  private def tri(baskets: Seq[(Long, String)], minSupport: Long) =
    Graph.triangleStats(baskets.toDF("bk", "it"), "bk", "it", minSupport)
      .collect().head

  test("triangleStats: a 4-clique basket counts C(4,3) triangles, clustering 1") {
    val row = tri(Seq(1L -> "a", 1L -> "b", 1L -> "c", 1L -> "d"), 1)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
      ((4L, 6L, 12L, 4L)), row.toString) // nodes, edges, ΣC(3,2) wedges, C(4,3)
    assert(row.getDouble(4) == 1.0)
  }

  test("triangleStats: a path has wedges but no triangles") {
    val row = tri(Seq(1L -> "a", 1L -> "b", 2L -> "b", 2L -> "c"), 1)
    assert(row.getLong(3) == 0L, row.toString)
    assert(row.getLong(2) == 1L, "one wedge at the path center")
    assert(row.getDouble(4) == 0.0)
  }

  test("triangleStats: equal-degree triangle survives the orientation tiebreak") {
    // K3 — every vertex degree 2, so orientation falls entirely to the id
    // tiebreak; a wedge-side comparison inconsistent with it would count
    // 0 or 2 instead of exactly 1
    val row = tri(Seq(1L -> "x", 1L -> "y", 2L -> "y", 2L -> "z", 3L -> "z", 3L -> "x"), 1)
    assert(row.getLong(3) == 1L, row.toString)
  }

  test("triangleStats: support prune drops single-co-occurrence edges") {
    // (a,b) co-occur twice, (b,c) once → minSupport 2 keeps one edge
    val baskets = Seq(1L -> "a", 1L -> "b", 2L -> "a", 2L -> "b", 3L -> "b", 3L -> "c")
    assert(tri(baskets, 2).getLong(1) == 1L)
    assert(tri(baskets, 1).getLong(1) == 2L)
  }

  test("triangleStats: driver-complete tail is bit-identical to the distributed tail") {
    import spark.implicits._
    // mixed shape: one triangle, open wedges, an equal-degree tiebreak,
    // and a support-pruned edge — exercises orientation + closure + NULLif
    val baskets = Seq(1L -> "a", 1L -> "b", 1L -> "c", 2L -> "b", 2L -> "c",
      2L -> "d", 3L -> "d", 3L -> "e", 4L -> "a", 4L -> "e").toDF("bk", "it")
    val driver = Graph.triangleStats(baskets, "bk", "it", 1).collect().toSeq
    val dist = TestSpark.withDriverTail(0) {
      Graph.triangleStats(baskets, "bk", "it", 1).collect().toSeq
    }
    assert(driver == dist, s"driver=$driver dist=$dist")
    // wedge-bound overflow falls through to the distributed path: a budget
    // of 7 holds the 7 pruned edges but not their Σ C(d,2) = 13 wedges
    val fallback = TestSpark.withDriverTail(7) {
      val df = Graph.triangleStats(baskets, "bk", "it", 1)
      assert(df.queryExecution.executedPlan.toString.contains("Join"),
        "wedge overflow must take the distributed tail")
      df.collect().toSeq
    }
    assert(fallback == dist)
    // empty edge set (support prunes everything): sum-over-empty NULLs
    // must agree between the LocalRelation and the distributed report
    val none = Graph.triangleStats(baskets, "bk", "it", 99).collect().toSeq
    val noneDist = TestSpark.withDriverTail(0) {
      Graph.triangleStats(baskets, "bk", "it", 99).collect().toSeq
    }
    assert(none == noneDist, s"driver=$none dist=$noneDist")
  }

  test("triangleStats: skewed hub graph — degree orientation keeps wedges off the hub") {
    // star of 6 leaves + one leaf-leaf closing edge: 1 triangle; the hub
    // (degree 6) must never be a wedge apex after orientation — its
    // out-degree is 0 under the (deg, id) order
    val star = (1 to 6).map(i => (i.toLong, "hub")) ++ (1 to 6).map(i => (i.toLong, s"l$i"))
    val closing = Seq(7L -> "l1", 7L -> "l2")
    val row = tri(star ++ closing, 1)
    assert(row.getLong(3) == 1L, row.toString)
    assert(row.getLong(0) == 7L && row.getLong(1) == 7L, row.toString)
  }

  test("linkPrediction: path graph predicts the closing edge, known edges excluded") {
    import spark.implicits._
    // a-b (x2 baskets), b-c (x2): candidates must be exactly (a,c) with
    // common = 1 (the shared neighbor b) and jaccard = 1/(1+1-1) = 1
    val baskets = Seq(1L -> "a", 1L -> "b", 2L -> "a", 2L -> "b",
                      3L -> "b", 3L -> "c", 4L -> "b", 4L -> "c")
      .toDF("bk", "it")
    val out = graft.ops.Graph.linkPrediction(baskets, "bk", "it",
      minSupport = 2, k = 10).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert(r.getAs[String]("u") == "a" && r.getAs[String]("v") == "c")
    assert(r.getAs[Long]("common") == 1L && r.getAs[Double]("jaccard") == 1.0)
    // triangle (all three edges present) → nothing left to predict
    val closed = baskets.unionAll(Seq(5L -> "a", 5L -> "c", 6L -> "a", 6L -> "c")
      .toDF("bk", "it"))
    assert(graft.ops.Graph.linkPrediction(closed, "bk", "it", 2, 10).count() == 0L)
  }

  test("linkPrediction: high-degree hub routes through the join path with identical results") {
    import spark.implicits._
    // hub item "h" co-occurs with 12 spokes (degree 12 > cap 2), spokes
    // pairwise share only the hub. Force every center above the cap and
    // compare bit-for-bit against the in-row array path.
    val spokes = (1 to 12).map(i => f"s$i%02d")
    val baskets = spokes.zipWithIndex.flatMap { case (s, i) =>
      Seq((i.toLong, "h"), (i.toLong, s), (i.toLong + 100L, "h"), (i.toLong + 100L, s))
    }.toDF("bk", "it")
    // a zero driver-tail budget forces the DISTRIBUTED path on both variants
    val (arrayPath, joinPath) = TestSpark.withDriverTail(0) {
      (graft.ops.Graph.linkPrediction(baskets, "bk", "it",
         minSupport = 2, k = 1000).collect().toSeq,
       graft.ops.Graph.linkPrediction(baskets, "bk", "it",
         minSupport = 2, k = 1000, wedgeDegreeCap = 2).collect().toSeq)
    }
    assert(arrayPath.nonEmpty)
    assert(arrayPath == joinPath,
      s"array=${arrayPath.mkString(";")} join=${joinPath.mkString(";")}")
    // every candidate is a spoke pair with common=1 (the hub), C(12,2)=66
    assert(arrayPath.length == 66, arrayPath.length.toString)
    assert(arrayPath.forall(_.getAs[Long]("common") == 1L))
    // the default call takes the driver-complete fast path (string items
    // route through the UTF-8-byte comparator) — bit-identical to the
    // distributed tail, including the jaccard rounding and the total order
    val driverPath = graft.ops.Graph.linkPrediction(baskets, "bk", "it",
      minSupport = 2, k = 1000).collect().toSeq
    assert(driverPath == arrayPath,
      s"driver=${driverPath.take(3).mkString(";")} vs dist=${arrayPath.take(3).mkString(";")}")
    // wedge-bound overflow falls through to the distributed path: a budget
    // of 12 holds the 12 hub-spoke edges but not their C(12,2) = 66 wedges
    val fallback = TestSpark.withDriverTail(12) {
      val df = graft.ops.Graph.linkPrediction(baskets, "bk", "it",
        minSupport = 2, k = 1000)
      assert(df.queryExecution.executedPlan.toString.contains("Join"),
        "wedge overflow must take the distributed tail")
      df.collect().toSeq
    }
    assert(fallback == arrayPath)
  }
}
