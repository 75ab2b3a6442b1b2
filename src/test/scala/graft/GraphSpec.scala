package graft

import graft.analytics.Graph
import org.apache.spark.sql.functions._

/** Goldens for the iterative graph operators (q162): PageRank checked
  * against a scalar reference implementation run over the same edge list,
  * plus the conservation invariant (ranks always sum to 1). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference PageRank — the textbook scalar loop. */
  private def refPageRank(edges: Seq[(String, String)], nodes: Seq[String],
                          iters: Int, d: Double = 0.85): Map[String, Double] = {
    val e = edges.distinct
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = r.collect { case (v, x) if !out.contains(v) => x }.sum
      val contrib = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v => v -> ((1.0 - d) / n +
        d * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    r
  }

  test("pageRank matches the scalar reference on a graph with a cycle, " +
       "a hub, and a dangling sink") {
    // a⇄b cycle, c→a and c→b hub fan-out, b→d with d dangling
    val edges = Seq("a" -> "b", "b" -> "a", "c" -> "a", "c" -> "b", "b" -> "d")
    val nodes = Seq("a", "b", "c", "d")
    val got = Graph.pageRank(edges.toDF("s", "t"), "s", "t",
        nodes.toDF("id"), "id", iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = refPageRank(edges, nodes, iters = 4)
    nodes.foreach { v =>
      assert(math.abs(got(v) - want(v)) < 1e-6,
        s"$v: got ${got(v)}, want ${want(v)}")
    }
    // the hub holds only the teleport share; the cycle nodes dominate
    assert(got("a") > got("c") && got("b") > got("c"))
  }

  test("pageRank conserves total rank (sum = 1) despite dangling nodes") {
    // every edge points into d; d has no out-edges, so without dangling
    // redistribution ~all rank would leak each iteration
    val edges = Seq("a" -> "d", "b" -> "d", "c" -> "d")
    val nodes = Seq("a", "b", "c", "d").toDF("id")
    for (iters <- Seq(1, 3, 5)) {
      val total = Graph.pageRank(edges.toDF("s", "t"), "s", "t",
        nodes, "id", iters = iters).agg(sum("rank")).head().getDouble(0)
      assert(math.abs(total - 1.0) < 1e-4, s"iters=$iters: sum $total")
    }
  }

  test("pageRank checkpointing: ranks ≡ un-checkpointed, and a 30-iter " +
       "plan stays bounded") {
    val edges = Seq("a" -> "b", "b" -> "a", "c" -> "a", "c" -> "b", "b" -> "d",
      "d" -> "e", "e" -> "a").toDF("s", "t")
    val nodes = Seq("a", "b", "c", "d", "e").toDF("id")
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // Equality leg at 6 iterations: the rank frame is referenced twice per
    // iteration, so an UN-checkpointed plan tree DOUBLES every round —
    // even ~10 unchecked iterations already stall Catalyst analysis for
    // minutes (measured), which is precisely the hang the checkpoint
    // exists to prevent (so the 30-iter leg runs checkpointed only and
    // asserts the plan bound instead).
    assert(ranksOf(Graph.pageRank(edges, "s", "t", nodes, "id", iters = 6,
        checkpointEvery = 2)) ==
      ranksOf(Graph.pageRank(edges, "s", "t", nodes, "id", iters = 6,
        checkpointEvery = 1000)))
    val checked30 = Graph.pageRank(edges, "s", "t", nodes, "id", iters = 30,
      checkpointEvery = 5)
    def planNodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case p => p }.size
    // ≤ checkpointEvery un-checkpointed tail iterations on top of a
    // materialized leaf: ~2^5·base ≈ 1.2k nodes — constant in `iters`,
    // where the unchecked plan would be 2^30·base
    assert(planNodes(checked30) < 2500,
      s"checkpointed 30-iter plan has ${planNodes(checked30)} nodes")
    assert(math.abs(ranksOf(checked30).values.sum - 1.0) < 1e-4)
  }

  test("pageRank tol early-stop converges to the full-run ranks") {
    val edges = Seq("a" -> "b", "b" -> "a", "c" -> "a", "c" -> "b", "b" -> "d")
      .toDF("s", "t")
    val nodes = Seq("a", "b", "c", "d").toDF("id")
    val early = Graph.pageRank(edges, "s", "t", nodes, "id", iters = 100,
        tol = 1e-7)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val full = Graph.pageRank(edges, "s", "t", nodes, "id", iters = 60,
        checkpointEvery = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // both are within the fixed point's rounding grain of each other
    full.foreach { case (v, r) =>
      assert(math.abs(early(v) - r) <= 2e-6, s"$v: early ${early(v)} vs $r")
    }
  }

  test("pageRank with tol on an empty node set returns empty, not an NPE") {
    val empty = Seq.empty[(String, String)].toDF("s", "t")
    val got = Graph.pageRank(empty, "s", "t",
      Seq.empty[String].toDF("id"), "id", iters = 10, tol = 1e-6)
    assert(got.count() == 0)
  }

  test("pageRank on a symmetric cycle is uniform") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a")
    val got = Graph.pageRank(edges.toDF("s", "t"), "s", "t",
        Seq("a", "b", "c").toDF("id"), "id", iters = 3)
      .collect().map(_.getDouble(1)).toSeq
    // output is rounded at 6 dp, so compare at that grain
    assert(got.forall(r => math.abs(r - 1.0 / 3) <= 5e-7))
  }

  test("triangles: K3 + pendant credits each corner once, direction-" +
    "and-duplicate-proof") {
    // edges deliberately duplicated and reversed — canonicalization absorbs
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L),
      (1L, 3L)).toDF("s", "t")
    val got = Graph.triangles(edges, "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // pendant 4 absent
  }

  test("clusteringCoeff: closed neighborhoods score 1, hub scores 1/3") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "t")
    val got = Graph.clusteringCoeff(edges, "s", "t")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getDouble(3) == 1.0 && got(2L).getDouble(3) == 1.0)
    assert(got(3L).getLong(1) == 3L &&
      got(3L).getDouble(3) == math.floor(2.0 / 6.0 * 1e6 + 0.5) / 1e6)
    assert(got(4L).getLong(2) == 0L && got(4L).isNullAt(3)) // deg 1
  }

  test("bfsHops: frontier expansion honors maxHops; unreachable absent") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 1L)).toDF("s", "t")
    val got = Graph.bfsHops(edges, "s", "t", Seq(1L).toDF("id"), "id",
        maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2)) // 4 beyond cap, 9 upstream
  }

  test("bfsHops: 500-hop chain — deep iteration stays analyzable " +
       "(lineage truncation) and labels every level exactly") {
    // a path graph is the adversarial shape: one hop per round, so without
    // per-round plan truncation the union/anti-join chain makes Catalyst
    // analysis quadratic in depth long before data size matters
    val n = 500
    val edges = (0L until n).map(i => (i, i + 1)).toDF("s", "t")
    val got = Graph.bfsHops(edges, "s", "t", Seq(0L).toDF("id"), "id",
        maxHops = n.toInt)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == n + 1)
    assert((0L to n).forall(i => got(i) == i.toInt))
  }

  test("modularity: two cliques bridged — hand Newman Q") {
    // K3 ∪ K3 + bridge: m=7, each community e=3, d=7
    // contribution = 3/7 − (7/14)² = 0.178571 → Q = 0.357142 (rounded sums)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("s", "t")
    val comm = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"),
      (6L, "B")).toDF("node", "c")
    val got = Graph.modularity(edges, "s", "t", comm, "node", "c")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("A").getLong(1) == 3L && got("A").getLong(2) == 7L &&
      got("A").getLong(3) == 7L)
    assert(got("A").getDouble(4) == 0.178571)
    assert(got.values.forall(_.getDouble(5) == 0.357142))
  }

  test("louvain: two triangles bridged converge to the ideal partition; " +
       "singleton guard breaks the symmetric swap") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("s", "t")
    val got = Graph.louvain(edges, "s", "t", rounds = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // hand-traced sweep under the monotone rule: round 1 collapses
    // {1,2,3} into c1 and scatters 4→c3, 5→c4, 6→c5; round 2 chains 5
    // into c3 and 6 into c4; round 3 folds 6 into c3 = {4,5,6} — the
    // fixpoint, and exactly the partition that maximizes Q (0.357142).
    // Without the restriction the right triangle livelocks (5↔6 swap).
    assert(got.size == 6)
    val cA = got(1L)._1
    assert(Seq(1L, 2L, 3L).forall(got(_)._1 == cA))
    val cB = got(4L)._1
    assert(Seq(4L, 5L, 6L).forall(got(_)._1 == cB))
    assert(cA != cB)
    assert(got.values.forall(_._2 == 3L))
    // the found partition scores the known-optimal modularity
    val comm = got.toSeq.map { case (v, (c, _)) => (v, c) }.toDF("node", "c")
    val q = Graph.modularity(edges, "s", "t", comm, "node", "c")
      .select("modularity").head().getDouble(0)
    assert(q == 0.357142)
  }

  test("louvain: symmetric singleton pair settles (no oscillation) and " +
       "isolated-in-community nodes keep a label") {
    // a single edge is the minimal swap trap: both endpoints want the
    // other's community every round without the guard
    val got = Graph.louvain(Seq((7L, 9L)).toDF("s", "t"), "s", "t", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 7L, 9L -> 7L))
  }

  test("louvainWeighted: coarse-graph gains respect self-loop mass — " +
       "strong communities resist the bridge, weak ones merge") {
    // hand arithmetic on the coarsened two-community graph (nodes 10, 20):
    // self-loops s each, bridge weight b; strengths k = b + 2s, W = 2s+b.
    // Node 20 joining c10: G = 2W·b − k², staying: G = 0 — so merge iff
    // 2(2s+b)b > (b+2s)².
    // s=3, b=2: G = 2·8·2 − 8·8 = −32 < 0 → stay separate.
    val strong = Graph.louvainWeighted(
        Seq((10L, 10L, 3L), (20L, 20L, 3L), (10L, 20L, 2L))
          .toDF("x", "y", "wt"), "x", "y", "wt", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(strong == Map(10L -> 10L, 20L -> 20L))
    // s=1, b=5: G = 2·7·5 − 7·7 = 21 > 0 → 20 folds into 10.
    val weak = Graph.louvainWeighted(
        Seq((10L, 10L, 1L), (20L, 20L, 1L), (10L, 20L, 5L))
          .toDF("x", "y", "wt"), "x", "y", "wt", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weak == Map(10L -> 10L, 20L -> 10L))
  }

  test("connectedComponents: min-id labels per component, sizes, and a " +
       "long path collapses in logarithmic rounds") {
    // components: {1,2,3} (triangle), {10,11} (edge), {20..29} (path)
    val edges = (Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)) ++
      (20L until 29L).map(i => (i, i + 1))).toDF("s", "t")
    val got = Graph.connectedComponents(edges, "s", "t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert((1L to 3L).forall(v => got(v) == ((1L, 3L))), got)
    assert(got(10L) == ((10L, 2L)) && got(11L) == ((10L, 2L)), got)
    assert((20L to 29L).forall(v => got(v) == ((20L, 10L))), got)
    assert(got.size == 15)
  }

  test("labelPropagation: bridged triangles settle to per-triangle " +
       "communities under the deterministic min-label tie-break") {
    // hand-replayed rounds: {1,2,3} converges to label 1; {4,5,6} to 3
    // (the bridge 3-4 pulls 4's community onto label 3 in round 3)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("s", "t")
    val got = Graph.labelPropagation(edges, "s", "t", rounds = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      4L -> ((3L, 3L)), 5L -> ((3L, 3L)), 6L -> ((3L, 3L))), got)
  }

  test("labelPropagation is partition-invariant") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L), (6L, 7L), (7L, 8L)).toDF("s", "t")
    val a = Graph.labelPropagation(edges, "s", "t", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Graph.labelPropagation(edges.repartition(7), "s", "t",
      rounds = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("louvainWeighted with unit weights equals louvain") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L), (3L, 5L)).toDF("s", "t")
    val a = Graph.louvain(edges, "s", "t", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Graph.louvainWeighted(edges.withColumn("wt", lit(1L)),
        "s", "t", "wt", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("louvainHierarchy: four disconnected bridged-triangle copies — " +
       "level 2 collapses to the known component partition, then stops") {
    // four DISCONNECTED copies of the two-triangles-and-a-bridge graph
    // (nodes 6p+1..6p+6, bridge (6p+3, 6p+4)). The known OPTIMAL
    // partition is one community per component: Q = 4*(7/28 - (14/56)^2)
    // = 0.75, beating the per-triangle split (8*(3/28) - 8*(7/56)^2 =
    // 0.732). The hierarchy must reach it and then stop: level 3's graph
    // is four isolated self-loop nodes, its sweep moves nothing, and the
    // fixpoint level is NOT emitted.
    //
    // Level 1's intermediate partition is W-dependent (gains scale with
    // the GLOBAL 2W, so with four copies the monotone sweep chains
    // across the bridge instead of resolving pure triangles as the
    // single-copy q=0.357142 fixture does) — pinned exactly below.
    val edges = (0L to 3L).flatMap { p =>
      val b = 6 * p
      Seq((b + 1, b + 2), (b + 2, b + 3), (b + 1, b + 3),
        (b + 4, b + 5), (b + 5, b + 6), (b + 4, b + 6),
        (b + 3, b + 4))
    }.toDF("s", "t")
    val got = Graph.louvainHierarchy(edges, "s", "t", maxLevels = 4,
        rounds = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val levels = got.keys.map(_._2).toSet
    assert(levels == Set(1, 2), s"expected exactly levels 1,2: $levels")
    def comm(l: Int) = (1L to 24L).map(v => got((v, l)))
    // level 1: per copy, {first five nodes} + {last node} (the sweep's
    // deterministic intermediate under global-W gains)
    val l1 = comm(1)
    (0 until 4).foreach { p =>
      val cp = l1.slice(6 * p, 6 * p + 6)
      assert(cp.take(5).toSet.size == 1 && cp(5) != cp.head, s"l1=$l1")
    }
    assert(l1.toSet.size == 8, s"l1=$l1")
    // level 2: the four connected components — the known-optimal Q=0.75
    val l2 = comm(2)
    assert(l2.grouped(6).map(_.toSet.size).forall(_ == 1), s"l2=$l2")
    assert(l2.toSet.size == 4, s"l2=$l2")
    // and that partition scores the known optimum on the original graph
    val part = (1L to 24L).map(v => (v, got((v, 2)))).toDF("node", "c")
    val q = Graph.modularity(edges, "s", "t", part, "node", "c")
      .select("modularity").head().getDouble(0)
    assert(q == 0.75, s"component partition must score Q=0.75, got $q")
  }

  test("communityGraph: coarsening aggregates parallel edges and keeps " +
       "intra-community self-loops; a second-level sweep runs on it") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L), (3L, 5L)).toDF("s", "t")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 20L)).toDF("id", "community")
    val cg = Graph.communityGraph(edges, "s", "t", labels, "id", "community")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 3 edges inside each triangle → self-loops; 2 bridges → weight-2 edge
    assert(cg == Map((10L, 10L) -> 3L, (20L, 20L) -> 3L, (10L, 20L) -> 2L))
  }

  test("kCore peels the pendant path and keeps the triangle with its " +
       "in-core degrees") {
    // triangle {1,2,3} with a path 3-4-5 hanging off: the 2-core is the
    // triangle alone, and the peel needs TWO rounds (5 first, then 4)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "t")
    val got = Graph.kCore(edges, "s", "t", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore converging on exactly the last allowed round returns the " +
       "core instead of throwing") {
    // the pendant-path peel drops 5, then 4, then confirms: two
    // shrinking rounds fit a budget of two
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "t")
    val got = Graph.kCore(edges, "s", "t", k = 2, maxRounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val e = intercept[IllegalStateException] {
      Graph.kCore(edges, "s", "t", k = 2, maxRounds = 1)
    }
    assert(e.getMessage.contains("(6 edges)"), e.getMessage)
  }

  test("kCore is empty on a tree (no 2-core) and total on a clique") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "t")
    assert(Graph.kCore(path, "s", "t", k = 2).isEmpty)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "t")
    val got = Graph.kCore(k4, "s", "t", k = 3).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("pageRankPersonalized: seeding every node recovers plain PageRank; " +
       "seed restarts conserve mass and concentrate it") {
    val edges = Seq("a" -> "b", "b" -> "a", "c" -> "a", "c" -> "b", "b" -> "d")
      .toDF("s", "t")
    val nodes = Seq("a", "b", "c", "d").toDF("id")
    val plain = Graph.pageRank(edges, "s", "t", nodes, "id", iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val allSeeds = Graph.pageRankPersonalized(edges, "s", "t", nodes, "id",
        seeds = nodes, iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(allSeeds == plain)
    val seeded = Graph.pageRankPersonalized(edges, "s", "t", nodes, "id",
        seeds = Seq("c").toDF("id"), iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(seeded.values.sum - 1.0) < 1e-5, seeded)
    // c holds all restart mass; d only receives via b — strictly less
    assert(seeded("c") > plain("c") && seeded("d") < plain("d"), seeded)
  }

  test("kTruss: bridges peel, triangles survive with in-truss supports; " +
       "K4 is a 4-truss but loses it with any edge removed") {
    // two triangles sharing node 3, plus a bridge to a pendant
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L)).toDF("s", "t")
    val got = Graph.kTruss(g, "s", "t", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (3L, 4L, 1L), (4L, 5L, 1L), (3L, 5L, 1L)))
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "t")
    assert(Graph.kTruss(k4, "s", "t", k = 4).count() == 6)
    assert(Graph.kTruss(k4.limit(5), "s", "t", k = 4).isEmpty)
  }

  test("assortativity: a star is perfectly disassortative, a cycle has " +
       "zero degree variance") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "t")
    val r = Graph.assortativity(star, "s", "t").head()
    assert(r.getLong(0) == 6L)   // 3 undirected edges, both directions
    assert(r.getDouble(1) == -1.0, s"star must score -1, got ${r.getDouble(1)}")
    // every degree equal → 0/0: the statistic is undefined — NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "t")
    assert(Graph.assortativity(cyc, "s", "t").head().isNullAt(1))
  }

  /** Driver-side reference HITS — the textbook alternating loop with L1
    * norms (no decimal quantization: the fixture values are exact). */
  private def refHits(edges: Seq[(String, String)], iters: Int)
      : Map[String, (Double, Double)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var h = nodes.map(_ -> 1.0).toMap
    var a = Map.empty[String, Double]
    for (_ <- 1 to iters) {
      val ar = e.groupBy(_._2).view.mapValues(_.map(p => h(p._1)).sum).toMap
      val as = ar.values.sum
      a = nodes.map(v => v -> ar.getOrElse(v, 0.0) / as).toMap
      val hr = e.groupBy(_._1).view.mapValues(_.map(p => a(p._2)).sum).toMap
      val hs = hr.values.sum
      h = nodes.map(v => v -> hr.getOrElse(v, 0.0) / hs).toMap
    }
    nodes.map(v => v -> (h(v), a(v))).toMap
  }

  test("hits: bipartite fixture matches the scalar loop; hub mass stays " +
    "on sources, authority mass on sinks, both L1-normalized") {
    val edges = Seq(("s1", "p1"), ("s1", "p2"), ("s2", "p1"))
    val got = Graph.hits(edges.toDF("src", "dst"), "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    val exp = refHits(edges, 3)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((v, (eh, ea)) <- exp) {
      assert(math.abs(got(v)._1 - r6(eh)) < 2e-6, s"hub $v")
      assert(math.abs(got(v)._2 - r6(ea)) < 2e-6, s"auth $v")
    }
    // bipartite: parts carry no hub mass, suppliers no authority mass
    assert(got("p1")._1 == 0.0 && got("p2")._1 == 0.0)
    assert(got("s1")._2 == 0.0 && got("s2")._2 == 0.0)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("hits leaves no CacheManager entries behind (edge caches " +
       "explicitly unpersisted)") {
    // the leak ADVICE flagged: eSrc/eDst were persisted and never
    // unpersisted — CacheManager holds DataFrame cache entries STRONGLY
    // until explicit unpersist (the ContextCleaner only frees block data
    // of GC'd RDDs), so every hits() call would pin two edge-sized
    // cached plans for the session's lifetime. localCheckpoint blocks
    // are ContextCleaner-managed and excluded here by construction (they
    // never enter the CacheManager).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("s", "t")
    val before = org.apache.spark.sql.GraftCacheProbe.cachedEntryCount(spark)
    Graph.hits(edges, "s", "t", iters = 2).collect()
    val after = org.apache.spark.sql.GraftCacheProbe.cachedEntryCount(spark)
    assert(after == before,
      s"hits leaked ${after - before} CacheManager entries")
  }

  test("labelPropagation: star graph — hub adopts the smallest spoke " +
       "label, spokes adopt the hub's; hand-replayed round 1") {
    // one hub (0) with distinct-labeled spokes is LPA's worst skew case:
    // round 1 gives the hub a degree-sized candidate set of all-distinct
    // labels (counts all 1 → smallest label wins)
    val n = 1000
    val edges = spark.range(1, n + 1)
      .select(lit(0L).as("s"), col("id").as("t"))
    val got = Graph.labelPropagation(edges, "s", "t", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == 1L, s"hub label ${got(0L)}")
    assert((1L to n).forall(got(_) == 0L))
  }
}
