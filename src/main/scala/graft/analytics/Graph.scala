package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph ranking as relational plans.
  *
  * The reference pipeline ranks entities by scalar aggregates (volume,
  * volatility — serve_part/main.py's summary tables); PageRank is the
  * graph-native generalisation: importance flows along edges instead of
  * being summed per row. Expressed Spark-first, one iteration is exactly
  * one equi-join + one aggregation — the shape Catalyst already knows how
  * to shuffle, co-partition and AQE-replan — so no custom execution (GraphX
  * RDDs, Pregel) is needed for the bounded iteration counts analytics use.
  */
object Graph {

  /** Power-iteration PageRank (Brin & Page, WWW'98) with dangling-mass
    * redistribution, over a DIRECTED edge list.
    *
    * rank_{t+1}(v) = (1−d)/N + d·( Σ_{u→v} rank_t(u)/outdeg(u) + D_t/N )
    *
    * where D_t is the total rank held by dangling (outdeg-0) nodes —
    * dropped instead of redistributed, ranks would leak and the vector
    * would no longer sum to 1 (checked in GraphSpec).
    *
    * Plan shape per iteration (the 100 TB story): contributions are ONE
    * shuffle — edges join ranks on src (both hash-partitioned on the same
    * key, so consecutive iterations reuse the exchange) then a map-side-
    * combined sum on dst; the dangling mass is a 1-row aggregate broadcast
    * back. Out-degrees are computed once, outside the loop.
    *
    * Plan-depth safety is CODE, not prose (round-6 ask): every
    * `checkpointEvery` iterations the rank frame is `localCheckpoint`ed
    * eagerly, cutting the logical plan back to a leaf — an analyst passing
    * iters=50 gets O(checkpointEvery)-deep plans, not an exponentially
    * nested one (same guard as `Bpe.train`/`Dedup.dedupClusters`).
    * `tol` > 0 adds an L1 early-stop: iteration ends when
    * Σ|rankₜ−rankₜ₋₁| < tol. The delta needs an action per iteration, so
    * each tested iteration also checkpoints — the honest cost of
    * convergence testing; leave tol=0 (the default) for fixed-iteration
    * analytics runs. GraphSpec pins checkpointed ≡ un-checkpointed at 30
    * iterations and early-stop ≡ full-run ranks.
    *
    * Emits (id, rank) with rank rounded at 6 dp — rounding ONLY at the
    * end keeps the fixed point exact while absorbing engine summation-
    * order noise at compare time. */
  def pageRank(edges: DataFrame, src: String, dst: String,
               nodes: DataFrame, id: String,
               iters: Int = 3, damping: Double = 0.85,
               checkpointEvery: Int = 8, tol: Double = 0.0): DataFrame = {
    require(checkpointEvery >= 1, s"checkpointEvery $checkpointEvery < 1")
    val e = edges.select(col(src).as("_src"), col(dst).as("_dst")).distinct()
    val v = nodes.select(col(id).as("id")).distinct()
    val n1 = v.agg(count(lit(1)).cast("double").as("_n"))
    val deg = e.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
    val srcs = e.select(col("_src")).distinct()

    var ranks = v.crossJoin(broadcast(n1))
      .select(col("id"), (lit(1.0) / col("_n")).as("r"))
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      it += 1
      val contrib = e.join(deg, "_src")
        .join(ranks, col("_src") === col("id"))
        .groupBy(col("_dst").as("id"))
        .agg(sum(col("r") / col("_deg")).as("_c"))
      val dangling = ranks.join(srcs, col("id") === col("_src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0.0)).as("_dm"))
      val prev = ranks
      ranks = v.join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit(1.0 - damping) / col("_n") + lit(damping) *
            (coalesce(col("_c"), lit(0.0)) + col("_dm") / col("_n"))).as("r"))
      if (tol > 0) {
        ranks = ranks.transform(graft.ops.Checkpoint.cut(_, eager = true)) // about to be acted on anyway
        // coalesce: sum over an EMPTY node set is NULL, and an empty graph
        // is trivially converged — not an NPE
        val delta = ranks.join(prev.withColumnRenamed("r", "_rp"), "id")
          .agg(coalesce(sum(abs(col("r") - col("_rp"))), lit(0.0)).as("d"))
          .head().getDouble(0)
        converged = delta < tol
      } else if (it % checkpointEvery == 0 && it < iters)
        ranks = ranks.transform(graft.ops.Checkpoint.cut(_, eager = true))
    }
    ranks.select(col("id"), round(col("r"), 6).as("rank"))
  }

  /** Personalized PageRank (Page et al. 1999 §6; the relatedness measure
    * behind "similar items" / seed-expansion recommendation): identical
    * power iteration to [[pageRank]] except the restart mass — and the
    * dangling mass — return to a SEED distribution s (uniform over
    * `seeds`) instead of uniform over all nodes:
    *
    *   rank_{t+1}(v) = (1−d)·s(v) + d·( Σ_{u→v} rank_t(u)/outdeg(u) + D_t·s(v) )
    *
    * Ranks still sum to 1 (GraphSpec pins conservation), but mass
    * concentrates around the seeds — and seeding EVERY node recovers
    * plain PageRank exactly (also pinned). Same plan shape and
    * checkpoint-every-k lineage contract as [[pageRank]]; the seed
    * vector is vertex-sized, materialized once, and joined back each
    * iteration in place of the 1/N constant. Emits (id, rank) at 6 dp. */
  def pageRankPersonalized(edges: DataFrame, src: String, dst: String,
                           nodes: DataFrame, id: String, seeds: DataFrame,
                           iters: Int = 3, damping: Double = 0.85,
                           checkpointEvery: Int = 8): DataFrame = {
    require(checkpointEvery >= 1, s"checkpointEvery $checkpointEvery < 1")
    val e = edges.select(col(src).as("_src"), col(dst).as("_dst")).distinct()
    val v = nodes.select(col(id).as("id")).distinct()
    val deg = e.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
    val srcs = e.select(col("_src")).distinct()
    val sd = seeds.select(col(id).as("id")).distinct()
    val ns = sd.agg(count(lit(1)).cast("double").as("_ns"))
    val sVec = v.join(sd.withColumn("_seed", lit(1)), Seq("id"), "left")
      .crossJoin(broadcast(ns))
      .select(col("id"), when(col("_seed").isNotNull, lit(1.0) / col("_ns"))
        .otherwise(lit(0.0)).as("s"))
      .transform(graft.ops.Checkpoint.cut(_, eager = true)) // reused twice per iteration — materialize once
    var ranks = sVec.select(col("id"), col("s").as("r"))
    var it = 0
    while (it < iters) {
      it += 1
      val contrib = e.join(deg, "_src")
        .join(ranks, col("_src") === col("id"))
        .groupBy(col("_dst").as("id"))
        .agg(sum(col("r") / col("_deg")).as("_c"))
      val dangling = ranks.join(srcs, col("id") === col("_src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0.0)).as("_dm"))
      ranks = sVec.join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit(1.0 - damping) * col("s") + lit(damping) *
            (coalesce(col("_c"), lit(0.0)) + col("_dm") * col("s"))).as("r"))
      if (it % checkpointEvery == 0 && it < iters)
        ranks = ranks.transform(graft.ops.Checkpoint.cut(_, eager = true))
    }
    ranks.select(col("id"), round(col("r"), 6).as("rank"))
  }

  /** Per-node triangle counts over an UNDIRECTED graph, by the
    * degree-oriented wedge algorithm (Latapy's compact-forward, TCS'08 —
    * the standard distributed formulation, cf. Suri & Vassilvitskii,
    * WWW'11): orient every edge from the (degree, id)-smaller endpoint to
    * the larger, enumerate wedges only at each node's oriented
    * out-neighbors, and close them against the oriented edge list. Raw
    * wedge counting does Σ deg(v)² work — a single celebrity node at
    * 100 TB means 10¹² wedges; orientation bounds out-degree by O(√m), so
    * total wedges fall to O(m^1.5), the known optimum for exact counting.
    * Each triangle is found exactly once (its two lowest-ordered members
    * form the wedge), then credited to all three corners.
    *
    * Plan shape: two self-joins of the oriented edge list on its join
    * keys plus one explode+count — all hash-shuffled equi-joins, no
    * cartesian. Emits (id, triangles), nodes in ≥1 triangle. */
  def triangles(edges: DataFrame, src: String, dst: String): DataFrame = {
    // canonical undirected edge set (a < b), self-loops dropped
    val und = edges.select(
        least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): u → v iff (deg_u, u) < (deg_v, v)
    val withDeg = und
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("u"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("v"))
    // wedges at u over ordered out-neighbor pairs, closed by v1 → v2
    val e1 = oriented.select(col("u"), col("v").as("v1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"))
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val tris = e1.join(e2, "u").filter(col("v1") < col("v2"))
      .join(closing, Seq("v1", "v2"))
    tris.select(explode(array(col("u"), col("v1"), col("v2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }

  /** Local clustering coefficient per node: C(v) = 2·T(v)/(deg(v)·(deg(v)−1))
    * over the canonical undirected simple graph — how close each node's
    * neighborhood is to a clique (Watts & Strogatz 1998). Composes
    * [[triangles]] with the degree frame (nodes without triangles get 0;
    * degree-1 nodes get NULL — the coefficient is undefined there). Same
    * plan shape as triangles plus one node-sized left join. */
  def clusteringCoeff(edges: DataFrame, src: String, dst: String): DataFrame = {
    val und = edges.select(
        least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(triangles(edges, src, dst), Seq("id"), "left")
      .na.fill(0L, Seq("triangles"))
      .withColumn("clustering",
        when(col("deg") >= 2,
          round(lit(2.0) * col("triangles") /
            (col("deg") * (col("deg") - lit(1L))).cast("double"), 6)))
  }

  /** Newman modularity of a node partition over an undirected simple
    * graph: Q = Σ_c ( e_c/m − (d_c/2m)² ) with e_c the intra-community
    * edge count, d_c the community degree sum, m the edge total (Newman &
    * Girvan 2004) — how much denser communities are than a random graph
    * with the same degrees. Emits one row per community with its
    * contribution plus the total Q attached (the q52 pattern);
    * contributions quantize to DECIMAL before the total so accumulation
    * order can't wiggle low bits. Everything is node- or community-sized
    * after the one edge aggregation — scale-safe by construction. */
  def modularity(edges: DataFrame, src: String, dst: String,
                 communities: DataFrame, id: String,
                 community: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = edges.select(
        least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val comm = communities
      .select(col(id).as("_id"), col(community).as("_c")).distinct()
    val total = und.agg(count(lit(1)).as("m"))
    val tagged = und
      .join(broadcast(comm.select(col("_id").as("a"), col("_c").as("_ca"))), Seq("a"))
      .join(broadcast(comm.select(col("_id").as("b"), col("_c").as("_cb"))), Seq("b"))
    val within = tagged.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("community"))
      .agg(count(lit(1)).as("e_within"))
    val degC = und.select(col("a").as("_id"))
      .union(und.select(col("b").as("_id")))
      .join(broadcast(comm), Seq("_id"))
      .groupBy(col("_c").as("community"))
      .agg(count(lit(1)).as("d_sum"))
    val md = col("m").cast("double")
    val frac = col("d_sum").cast("double") / (lit(2.0) * md)
    val perComm = degC.join(within, Seq("community"), "left")
      .na.fill(0L, Seq("e_within"))
      .crossJoin(broadcast(total))
      .withColumn("contribution",
        round(col("e_within").cast("double") / md - frac * frac, 6))
    perComm
      .withColumn("modularity",
        round(sum(col("contribution").cast("decimal(28,12)"))
          .over(Window.partitionBy()).cast("double"), 6))
      .select("community", "e_within", "d_sum", "m", "contribution",
        "modularity")
  }

  /** Minimum hop distance from a source set, by iterative frontier
    * expansion over a DIRECTED edge list (classic BFS as relational
    * algebra; GraphX/Pregel's sssp with unit weights). Iteration i joins
    * the CURRENT frontier (not the whole visited set) against the edges
    * and anti-joins out already-settled nodes, so per-round work is
    * proportional to the frontier — the standard level-synchronous BFS a
    * 1000-executor cluster runs; `maxHops` bounds the loop. Unreachable
    * nodes are absent from the output. Emits (id, hops).
    *
    * Deep-graph hardening (the `starClusters` pattern): each frontier is
    * eagerly `localCheckpoint`ed — it is consumed three times (emptiness
    * probe, settled union, next round's join), and without truncation the
    * logical plan grows a join level per hop, making Catalyst analysis
    * (not data) the bottleneck on path-shaped graphs. The settled set's
    * union chain is likewise truncated every `CheckpointEvery` hops. The
    * edge list is persisted once — it is re-joined every round. On a
    * cluster where executor loss must be survivable, swap for reliable
    * `checkpoint`. */
  def bfsHops(edges: DataFrame, src: String, dst: String,
              sources: DataFrame, id: String, maxHops: Int): DataFrame = {
    val CheckpointEvery = 8
    val e = edges.select(col(src).as("_s"), col(dst).as("_d")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var settled = sources.select(col(id).as("id")).distinct()
      .withColumn("hops", lit(0))
    var frontier = settled
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = frontier.join(e, frontier("id") === e("_s"))
        .select(col("_d").as("id")).distinct()
        .join(settled.select("id"), Seq("id"), "left_anti")
        .withColumn("hops", lit(hop))
        .transform(graft.ops.Checkpoint.cut(_, eager = true)) // materialize + truncate lineage
      settled = settled.union(frontier)
      if (hop % CheckpointEvery == 0)
        settled = settled.transform(graft.ops.Checkpoint.cut(_, eager = true))
    }
    // frontiers are materialized, so the returned plan no longer reads e
    e.unpersist()
    settled
  }

  /** Community DETECTION by synchronized Louvain local-move rounds (Blondel
    * et al. 2008 phase 1, in the synchronous distributed form of Ghosh et
    * al., IPDPS'18) — where [[modularity]] SCORES a given partition, this
    * FINDS one. Undirected simple graph (weighted form:
    * [[louvainWeighted]]); every node starts in its own community; each
    * round, every node simultaneously moves to the candidate community
    * with the best modularity gain.
    *
    * The gain of re-inserting node v (first removed from its own
    * community) into community c is ΔQ(v→c) = k_vc/m − k_v·Σtot(c\v)/2m²;
    * comparisons are invariant under scaling by the positive constant 2m²,
    * so the implementation ranks the INTEGER score
    *     G(c) = 2m·k_vc − k_v·(Σtot(c) − [c = own]·k_v)
    * (k_vc = edges from v into c, k_v = degree, Σtot = community degree
    * sum, m = edge count — all integers). Integer scores make the
    * tie-break total order exact and the whole sweep reproducible
    * cross-engine — no floating-point modularity arithmetic anywhere.
    * Ties prefer staying put, then the smallest community id, and all
    * moves apply synchronously — deterministic under any partitioning.
    * Fully synchronous greedy sweeps livelock on symmetric shapes (two
    * communities whose border nodes each greedily join the other side swap
    * forever — the swap pathology Lu, Halappanavar & Kalyanaraman's
    * minimum-label heuristic, ParCo'15, addresses for singletons). Here
    * the restriction is the MONOTONE generalisation: a node may move only
    * to a community with a SMALLER label than its current one. Every move
    * then strictly decreases the mover's label, so Σ labels is a strictly
    * decreasing potential — oscillation is impossible and a fixpoint is
    * guaranteed, with no asynchrony, coloring, or randomness (the
    * determinism requirement). The known bias: a locally-minimal-id node
    * never joins a larger-labeled community — it attracts instead, so
    * communities coalesce around their minimum-id member (which is also
    * what makes the output label canonical). GraphSpec pins the classic
    * two-triangles-and-a-bridge fixture to its ideal Q=0.357142 partition
    * in 3 rounds.
    *
    * Scale shape per round: one join of the symmetrized edges against the
    * label frame + a (v, community) count (the k_vc table, edge-shuffle
    * sized, map-side combined), one community-sized degree rollup
    * (broadcast), one window per node over its candidate communities
    * (partitions are candidate-list sized, ≈ avg degree). Labels
    * `localCheckpoint` each round — same lineage-truncation contract as
    * [[pageRank]]/[[bfsHops]]. Long arithmetic holds to m < 2⁶² / (2·max
    * community degree); beyond that cast the three factors to
    * decimal(38,0). Emits (id, community, community_size). Phase 2
    * (coarsening) = [[communityGraph]] + [[louvainWeighted]] on the
    * community graph (q247 composes the full two-level pipeline). */
  def louvain(edges: DataFrame, src: String, dst: String,
              rounds: Int): DataFrame =
    louvainCore(
      edges.select(
          least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .withColumn("w", lit(1L)),
      rounds)

  /** [[louvain]] over a WEIGHTED undirected edge list — the phase-2 entry
    * point: run it on [[communityGraph]]'s output (weights = collapsed
    * edge multiplicities, self-loops = internal community mass) and the
    * sweep optimizes the SAME modularity as re-running on the original
    * graph, at |communities| scale — Blondel et al.'s coarsening
    * equivalence. Parallel (a,b) rows pre-aggregate; self-loops are kept
    * (they enter node strength as 2·w, per the adjacency convention
    * A_vv = 2w_vv, and cancel in gain comparisons otherwise). Weights
    * must be positive integers (multiplicities) for the integer-exact
    * gain order; fractional weights need a fixed-point pre-scale. */
  def louvainWeighted(edges: DataFrame, src: String, dst: String,
                      weight: String, rounds: Int): DataFrame =
    louvainCore(
      edges.select(
          least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"),
          col(weight).cast("long").as("w"))
        .groupBy("a", "b").agg(sum("w").as("w")),
      rounds)

  /** Shared sweep over a canonical weighted edge frame (a ≤ b, weight w,
    * self-loops allowed). W = Σw (loops once); strength s_v = Σ_{u≠v}w_vu
    * + 2·w_vv; gain score G(c) = 2W·w_vc − s_v·(Σtot(c) − [c=own]·s_v) —
    * the unweighted form is the w ≡ 1 special case, so one implementation
    * serves both levels. */
  private def louvainCore(undRaw: DataFrame, rounds: Int): DataFrame = {
    val und = undRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = louvainSweep(und, rounds)
    und.unpersist()
    val sizes = labels.groupBy("c").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "c")
      .select(col("v").as("id"), col("c").as("community"),
        col("community_size"))
  }

  /** One phase-1 sweep block over a PERSISTED canonical weighted edge
    * frame: `rounds` synchronized local-move rounds, returning the final
    * label frame (v, c, k) — the FINAL labels are always
    * localCheckpoint-materialized, so the caller may unpersist `und`
    * immediately. `eagerRounds = false` makes the per-round intermediate
    * checkpoints LAZY: [[louvainHierarchy]] sets it for levels ≥ 2, where
    * the label frame is community-sized and a dedicated materialization
    * job per round is scheduler overhead — a lazy localCheckpoint still
    * truncates lineage (each round re-references `labels` ~3×, so
    * skipping truncation entirely compounds plan re-evaluation — measured
    * 6.8 → 11 s on the sf0.1 hierarchy) but materializes inside the next
    * round's first job instead of its own. The level, not a row count,
    * keys the choice, so replay stays deterministic. Factored out of
    * [[louvainCore]] so [[louvainHierarchy]] can run it per level. */
  private def louvainSweep(und: DataFrame, rounds: Int,
                           eagerRounds: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // every round's neighbor join scans sym — persist the DOUBLED frame
    // once instead of re-deriving union-of-two-projections from the
    // cached und per round (2|E| rows of three longs; freed below).
    // NOT pre-repartitioned on the join key: the r16 snapshot added a
    // `.repartition(col("u"))` here (the hits eSrc/eDst trade) and the
    // driver measured the family REGRESSING (q258 6.47→9.16 s) — the
    // extra exchange + its persist materialization cost more than the
    // per-round label-frame shuffle it saved, because the sweep's joins
    // are AQE-planned broadcasts at the community-sized scales where the
    // rounds run. Round-17 A/B on the driver methodology:
    // persist+repartition 7.40/8.01/8.09 s (q245/q247/q258), persist-only
    // 5.87/7.73/6.71 s, no-persist 5.57/9.80/9.26 s — persist-only wins
    // the family.
    val sym = und.filter(col("a") =!= col("b"))
      .select(col("a").as("v"), col("b").as("u"), col("w"))
      .union(und.filter(col("a") =!= col("b"))
        .select(col("b").as("v"), col("a").as("u"), col("w")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = sym.select(col("v"), col("w"))
      .unionByName(und.filter(col("a") === col("b"))
        .select(col("a").as("v"), (col("w") * 2).as("w")))
      .groupBy("v").agg(sum("w").as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = und.agg(sum("w").as("m"))
    // the node strength k rides inside the label frame: every round needs
    // it twice (community degree rollup, gain arithmetic), and carrying it
    // beats re-joining the degree table — one column against two shuffles
    var labels = deg.select(col("v"), col("v").as("c"), col("k"))
      .transform(graft.ops.Checkpoint.cut(_, eager = true))
    for (r <- 1 to rounds) {
      val ctot = labels.groupBy("c").agg(sum("k").as("ctot"))
      val nbr = sym
        .join(labels.select(col("v").as("u"), col("c").as("cand")), "u")
        .groupBy("v", "cand").agg(sum("w").as("kvc"))
      // own community rides as an explicit zero-edge candidate: a node with
      // no intra-community neighbor must still be able to stay put (the
      // sum-with-zero union re-aggregates in the SAME (v, cand) hash
      // partitioning, so the planner pipelines it onto nbr's exchange —
      // cheaper than an anti-join, which would consume nbr twice)
      val scored = nbr
        .unionByName(labels.select(col("v"), col("c").as("cand"),
          lit(0L).as("kvc")))
        .groupBy("v", "cand").agg(sum("kvc").as("kvc"))
        .join(labels, "v")
        // monotone move restriction (see scaladoc): only smaller-labeled
        // communities are candidates; the own-community row (cand = c)
        // always survives, so a node with no allowed move stays put —
        // applied BEFORE the community join, it halves the rows in flight
        .filter(col("cand") <= col("c"))
        .join(ctot.withColumnRenamed("c", "cand"), "cand")
        .crossJoin(broadcast(tot))
        .withColumn("g", lit(2) * col("m") * col("kvc") -
          col("k") * (col("ctot") -
            when(col("cand") === col("c"), col("k")).otherwise(lit(0L))))
      // per-node argmax as a PARTIAL-AGGREGABLE max_by, not a rank window:
      // a hub's candidate set is degree-sized, and a row_number partition
      // would hand one task all of it — max_by map-side-combines the hub's
      // rows before the shuffle. The ordering struct encodes the exact
      // window order (g desc, own-community first, smallest cand): struct
      // comparison is field-by-field and (g, own, −cand) determines cand
      // uniquely, so the pick is deterministic under any partitioning.
      val next = scored
        .groupBy("v").agg(max_by(struct(col("cand"), col("k")),
          struct(col("g"),
            when(col("cand") === col("c"), 1).otherwise(0),
            negate(col("cand")))).as("_b"))
        .select(col("v"), col("_b.cand").as("c"), col("_b.k").as("k"))
      labels =
        if (eagerRounds || r == rounds) next.transform(graft.ops.Checkpoint.cut(_, eager = true))
        else next.transform(graft.ops.Checkpoint.cut(_, eager = false))
    }
    deg.unpersist()
    sym.unpersist()
    labels
  }

  /** FULL Blondel recursion: sweep → coarsen → sweep … until a sweep makes
    * NO move (the labels fixpoint) or `maxLevels`. Emits (id, level,
    * community) for every level run — the level-ℓ community of each
    * ORIGINAL node, labels composed through the coarsening chain. A
    * zero-move level is NOT emitted (its partition duplicates the previous
    * level's), so the deepest emitted level is the recursion's fixpoint
    * partition.
    *
    * Stopping rule, deliberately: Blondel et al. stop "when no further
    * improvement" — which for their SEQUENTIAL sweep coincides with "no
    * node moved". Under this engine's SYNCHRONIZED monotone-label sweep
    * the per-level modularity is NOT monotone (simultaneous
    * individually-positive moves can overshoot, then recover at coarser
    * levels — measured on the purchase graph: Q·4W² goes 8.5M → 3.0M →
    * 6.6M → 28.7M over four levels), so a strict Q-improvement gate would
    * stop one level in and discard the far better deep partitions. The
    * no-moves fixpoint is the faithful counterpart: it terminates
    * (community count is non-increasing, every move strictly decreases
    * the mover's label) and it is INTEGER-EXACT — "did any coarse node
    * change label" is a count both engines replay identically, where a
    * floating-point Q comparison would be engine-dependent. Per-level
    * modularity remains available via [[modularity]].
    *
    * Scale shape per level: one [[louvainSweep]] (per-round edge-shuffle
    * joins), one edge-sized coarsen, one node-sized mapping join, and a
    * ONE-ROW moved-count aggregate collected to the driver (the bounded
    * control action, [[bfsHops]]' emptiness-probe contract). Level graphs
    * shrink geometrically in practice, so level 1 dominates cost. */
  def louvainHierarchy(edges: DataFrame, src: String, dst: String,
                       maxLevels: Int, rounds: Int): DataFrame = {
    require(maxLevels >= 1 && rounds >= 1,
      s"need maxLevels/rounds >= 1: ($maxLevels, $rounds)")
    var und = edges.select(
        least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .withColumn("w", lit(1L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var mapping: DataFrame = null   // (id, c) over ORIGINAL node ids
    var out: DataFrame = null       // accumulated (id, level, community)
    var level = 1
    var continue = true
    while (continue && level <= maxLevels) {
      // level ≥ 2 frames are community-sized — per-round checkpoints
      // there are pure scheduler overhead (keyed on the LEVEL, not a
      // row count, so replay stays deterministic)
      val lab = louvainSweep(und, rounds, eagerRounds = level == 1)
      val moved = lab.filter(col("v") =!= col("c")).limit(1).count() > 0
      if (level > 1 && !moved) {
        continue = false // fixpoint: this level duplicates the previous
      } else {
        mapping =
          (if (level == 1) lab.select(col("v").as("id"), col("c"))
           else mapping.join(lab.select(col("v").as("c"), col("c").as("_c2")),
               "c")
             .select(col("id"), col("_c2").as("c")))
          .transform(graft.ops.Checkpoint.cut(_, eager = true))
        val lvl = mapping.select(col("id"), lit(level).as("level"),
          col("c").as("community"))
        out = if (out == null) lvl else out.unionByName(lvl)
        if (level < maxLevels) {
          // coarsen: community endpoints, parallel edges summed, intra-
          // community mass (incl. existing self-loops) → self-loops
          val next = und
            .join(lab.select(col("v").as("a"), col("c").as("_ca")), "a")
            .join(lab.select(col("v").as("b"), col("c").as("_cb")), "b")
            .select(least(col("_ca"), col("_cb")).as("a"),
              greatest(col("_ca"), col("_cb")).as("b"), col("w"))
            .groupBy("a", "b").agg(sum("w").as("w"))
            .transform(graft.ops.Checkpoint.cut(_, eager = true))
          und.unpersist()
          und = next
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
        level += 1
      }
    }
    und.unpersist()
    out
  }

  /** Connected components over an arbitrary edge list — the named
    * first-class form of the alternating large-star/small-star
    * contraction (Kiveris et al., SoCC 2014) that already powers the
    * dedup-cluster family ([[graft.text.Dedup.starClusters]]): per round
    * two edge-shuffle-sized min-joins, geometric component collapse
    * (O(log d) rounds on diameter d), an exact decimal edge-fingerprint
    * fixpoint test, and eager `localCheckpoint` plan truncation. Labels
    * are the component MINIMUM id — deterministic under any
    * partitioning, recursive-CTE-replayable. Emits
    * (id, component, component_size) over the edge-endpoint node set. */
  def connectedComponents(edges: DataFrame, src: String,
                          dst: String): DataFrame = {
    val nodes = edges.select(col(src).as("_v"))
      .union(edges.select(col(dst).as("_v"))).distinct()
    graft.text.Dedup.starClusters(nodes,
        edges.select(col(src).as("id_a"), col(dst).as("id_b")), "_v")
      .select(col("_v").as("id"), col("cluster_id").as("component"),
        col("cluster_size").as("component_size"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara, Phys.
    * Rev. E 2007) — the cheap, parameter-free community detector that
    * complements [[louvain]] when modularity optimization is overkill:
    * every node starts as its own label and each round adopts the MOST
    * FREQUENT label among its neighbors, ties broken toward the smallest
    * label (the deterministic variant — no randomized sweep order, so
    * any engine replays it round-for-round). Fixed `rounds` rounds: the
    * synchronized min-label rule can 2-cycle on bipartite structures, so
    * the bounded-round contract IS the termination rule, mirroring the
    * [[louvainSweep]] design decision.
    *
    * Scale shape per round: one edge-shuffle join (labels onto the
    * symmetric neighbor list), one (node, label) count aggregate
    * (map-side combined), and one per-node argmax as a partial-aggregable
    * `max_by` — NOT a rank window, because a celebrity node's candidate
    * set is degree-sized (round 1: every neighbor carries a distinct
    * label) and a window would sort it in one task; max_by
    * map-side-combines it away. Ties toward the smaller label are encoded
    * in the ordering struct (_n, −cand), which determines cand uniquely —
    * deterministic under any partitioning. labels localCheckpoint each
    * round so lineage stays flat. Emits (id, community, community_size). */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds $rounds < 1")
    val und = edges.select(
        least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // persist WITHOUT pre-partitioning on the join key: the r16 snapshot
    // repartitioned by u here, which co-locates a celebrity hub's ENTIRE
    // doubled edge list on one task (u = hub for every spoke) — the exact
    // single-task skew shape the max_by rework exists to avoid, caught by
    // ScaleSpec's star-graph bound (one task read 103k of 100k candidate
    // rows). Upstream partitioning spreads the hub's rows, the per-round
    // join shuffles under AQE skew handling, and the candidate aggregate
    // map-side-combines before anything concentrates.
    val sym = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("v")).distinct()
      .select(col("v"), col("v").as("c"))
      .transform(graft.ops.Checkpoint.cut(_, eager = true))
    for (_ <- 1 to rounds) {
      labels = sym
        .join(labels.select(col("v").as("u"), col("c").as("cand")), "u")
        .groupBy("v", "cand").agg(count(lit(1)).as("_n"))
        .groupBy("v").agg(
          max_by(col("cand"), struct(col("_n"), negate(col("cand"))))
            .as("c"))
        .transform(graft.ops.Checkpoint.cut(_, eager = true))
    }
    // the final labels are checkpoint-materialized each round, so no live
    // plan references the edge cache anymore — free it (the CacheManager
    // never drops persisted entries on its own)
    sym.unpersist()
    val sizes = labels.groupBy("c").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "c")
      .select(col("v").as("id"), col("c").as("community"),
        col("community_size"))
  }

  /** Louvain phase 2 — coarsen: collapse each community to one vertex and
    * aggregate parallel edges into weights. Emits (ca, cb, weight) with
    * ca ≤ cb; intra-community edges become self-loops (ca = cb), which the
    * next level's gain arithmetic needs (they carry the collapsed
    * community's internal mass). One join-tag + one groupBy — edge-sized,
    * the same shuffle shape as a [[louvain]] round. */
  /** k-core: the maximal induced subgraph where every vertex keeps degree
    * ≥ k (Seidman 1983) — the standard "dense cohesive backbone" filter
    * (spam/bot rings in interaction graphs, well-connected concept cores
    * in co-occurrence graphs). Computed by the textbook peel: drop all
    * vertices below degree k, recompute degrees, repeat to fixpoint —
    * order-independent, so the result is deterministic under any
    * partitioning.
    *
    * Scale shape per round: one vertex-sized map-side-combined degree
    * count + two equi-joins filtering the edge list against the survivor
    * set (edge-shuffle sized, same contract as [[louvain]]'s rounds); the
    * edge frame is `localCheckpoint`ed each round so lineage stays flat.
    * Rounds = peel depth, ≤ the graph's degeneracy ordering length in the
    * worst case but small on heavy-tailed real graphs (the periphery
    * sheds in bulk). The fixpoint test rides the degree count it already
    * computes — survivor count unchanged ⟺ no edge dropped.
    *
    * Emits (id, core_deg) for members of the k-core, core_deg = degree
    * within the core (≥ k by construction). Empty when no k-core exists. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
            maxRounds: Int = 100): DataFrame = {
    val und = edges.select(
        least(col(src), col(dst)).as("lo"), greatest(col(src), col(dst)).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
    // the fixpoint test rides each round's own checkpoint job as an
    // observed EDGE count (§1 action-count): survivor sets are nested
    // under the peel, so "no edge dropped" ⟺ "no vertex dropped" ⟺
    // fixpoint — the old shape ran a separate keep.count() action per
    // round (a third evaluation of the degree aggregate on top of the
    // two the join already pays). Both Checkpoint.cut modes execute
    // through Dataset.withAction, which completes observed metrics.
    val obs0 = org.apache.spark.sql.Observation()
    var sym = und.select(col("lo").as("u"), col("hi").as("v"))
      .union(und.select(col("hi").as("u"), col("lo").as("v")))
      .observe(obs0, count(lit(1)).as("_n"))
      .transform(graft.ops.Checkpoint.cut(_, eager = true))
    var prev = obs0.get("_n").asInstanceOf[Long]
    var rounds = 0
    // convergence is tested BEFORE the round budget (kTruss's order): a
    // peel that settles on exactly the last allowed round returns
    while (true) {
      val keep = sym.groupBy("u").agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k).select("u")
      val obs = org.apache.spark.sql.Observation()
      sym = sym.join(keep, "u")
        .join(keep.select(col("u").as("v")), "v")
        .select("u", "v")
        .observe(obs, count(lit(1)).as("_n"))
        .transform(graft.ops.Checkpoint.cut(_, eager = true))
      val n = obs.get("_n").asInstanceOf[Long]
      if (n == prev || n == 0)
        // at the n == prev fixpoint every degree is ≥ k and the filter is
        // a no-op; on the n == 0 exit (no k-core) the result is empty
        return sym.groupBy(col("u").as("id"))
          .agg(count(lit(1)).as("core_deg")).filter(col("core_deg") >= k)
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"kCore: not converged after $maxRounds rounds ($n edges)")
      prev = n
      rounds += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** k-truss (Cohen 2008): the maximal subgraph where every EDGE sits in
    * ≥ k−2 triangles — the edge-level sharpening of [[kCore]] (every
    * k-truss is inside the (k−1)-core, but trussness demands actual
    * triangle cohesion, not just degree). The standard community-backbone
    * extractor: bridges and spurious links die first.
    *
    * Same peel-to-fixpoint scheme as [[kCore]], with the per-round degree
    * count replaced by a triangle-support count: each surviving edge
    * (u,v) counts common neighbors w through two adjacency joins (the
    * [[triangles]] join shape — shuffle ∝ edges × average degree per
    * round, the distributed k-truss standard). The surviving edge set is
    * `localCheckpoint`ed per round; the fixpoint test rides the support
    * count it already computes (edge sets are nested, so an unchanged
    * count IS the fixpoint). Edges with no triangle simply produce no
    * support row, which is exactly the ≥ k−2 ≥ 1 cut.
    *
    * Emits (lo, hi, support) for truss edges, support = in-truss triangle
    * count (≥ k−2 by construction); empty when no k-truss exists. */
  def kTruss(edges: DataFrame, src: String, dst: String, k: Int,
             maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var cur = edges.select(
        least(col(src), col(dst)).as("lo"), greatest(col(src), col(dst)).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
      .transform(graft.ops.Checkpoint.cut(_, eager = true))
    def supports(e: DataFrame): DataFrame = {
      val sym = e.select(col("lo").as("_u"), col("hi").as("_v"))
        .union(e.select(col("hi").as("_u"), col("lo").as("_v")))
      e.join(sym.select(col("_u").as("_u1"), col("_v").as("_w1")),
          col("lo") === col("_u1"))
        .join(sym.select(col("_u").as("_u2"), col("_v").as("_w2")),
          col("hi") === col("_u2") && col("_w2") === col("_w1"))
        .groupBy("lo", "hi").agg(count(lit(1)).as("support"))
    }
    var prev = -1L
    var rounds = 0
    while (true) {
      // ONE evaluation of the triangle-support join per round: the
      // surviving edge set is checkpointed directly and its count rides
      // the checkpoint job as an observed metric (§1 action-count). The
      // old shape paid the support join TWICE per round — once under
      // keep.count(), once re-evaluated inside the next round's
      // checkpoint — plus a separate probe action.
      val obs = org.apache.spark.sql.Observation()
      val keep = supports(cur).filter(col("support") >= k - 2)
        .observe(obs, count(lit(1)).as("_n"))
        .transform(graft.ops.Checkpoint.cut(_, eager = true))
      val n = obs.get("_n").asInstanceOf[Long]
      if (n == prev || n == 0)
        // at the fixpoint `keep`'s supports were computed against the
        // final edge set itself — emit them directly
        return keep.select(col("lo"), col("hi"), col("support"))
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"kTruss: not converged after $maxRounds rounds ($n edges)")
      prev = n
      cur = keep.select("lo", "hi")
      rounds += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — positive on social
    * graphs (hubs befriend hubs), negative on technological/co-purchase
    * graphs (hubs serve the periphery). One degree rollup + one edge join
    * + one 6-sufficient-statistic aggregate: two shuffles total, every
    * sum an exact BIGINT until the final one-row double arithmetic (the
    * op order of which is pinned identically in the oracle). Sums fit a
    * long while Σ deg(u)·deg(v) < 2⁶³ — beyond that (≳10¹⁴ edge-degree
    * products) cast the three sums to decimal(38,0). Emits one row
    * (m_edges = directed pair count, assortativity rounded at 6 dp). */
  def assortativity(edges: DataFrame, src: String, dst: String): DataFrame = {
    val und = edges.select(
        least(col(src), col(dst)).as("lo"), greatest(col(src), col(dst)).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
    val sym = und.select(col("lo").as("u"), col("hi").as("v"))
      .union(und.select(col("hi").as("u"), col("lo").as("v")))
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
    val pairs = sym
      .join(deg, "u").withColumnRenamed("d", "dj")
      .join(deg.select(col("u").as("v"), col("d").as("dk")), "v")
    val agged = pairs.agg(
      count(lit(1)).as("m"),
      sum(col("dj") * col("dk")).as("sjk"),
      sum(col("dj")).as("sj"), sum(col("dk")).as("sk"),
      sum(col("dj") * col("dj")).as("sjj"),
      sum(col("dk") * col("dk")).as("skk"))
    val num = col("m").cast("double") * col("sjk").cast("double") -
      col("sj").cast("double") * col("sk").cast("double")
    val d1 = col("m").cast("double") * col("sjj").cast("double") -
      col("sj").cast("double") * col("sj").cast("double")
    val d2 = col("m").cast("double") * col("skk").cast("double") -
      col("sk").cast("double") * col("sk").cast("double")
    // zero degree variance (regular graphs) → the statistic is undefined:
    // NULL, guarded BEFORE the division (ANSI mode raises on 0/0)
    agged.select(col("m").as("m_edges"),
      round(when(d1 > 0 && d2 > 0, num / (sqrt(d1) * sqrt(d2))), 6)
        .as("assortativity"))
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM 1999) over a DIRECTED
    * edge list: alternating power iteration a ← Aᵀh, h ← A·a with L1
    * normalization each half-step, so both vectors stay probability-
    * scaled (on a bipartite src→dst graph the two sides carry hub and
    * authority mass respectively — the buyer/seller, supplier/part,
    * query/document duality PageRank's single score can't separate).
    *
    * Cross-engine exactness: every cross-row sum — the neighbor
    * aggregation AND the L1 norm — runs in DECIMAL over values that are
    * themselves bit-identical doubles (each iteration's score is one
    * pinned division of two exact-decimal-derived doubles), so the whole
    * iteration is engine-order-independent and the DuckDB oracle replays
    * it CTE-for-CTE.
    *
    * Plan shape per iteration (the 100 TB story): the deduplicated edge
    * frame is hash-partitioned ONCE per join key (a by-src and a by-dst
    * cached copy — the GraphX trade: 2× edge storage buys zero edge
    * movement per iteration) and every iteration join is a SHUFFLED HASH
    * join that moves only the node-sized score frame; the build side is
    * pinned to the scores via the shuffle_hash hint, because left to
    * stats the planner builds-left on the edge frame — i.e. BROADCASTS
    * THE EDGES, which is quadratically wrong at cluster scale (and was
    * 6× slower at sf0.1). Each half-step's raw neighbor sums are
    * `localCheckpoint`ed: every raw-sum frame is consumed TWICE (its L1
    * norm and the score join), so an un-truncated plan re-evaluates
    * the whole prefix 4× per level — exponential in `iters` (the q281
    * lesson, applied at construction). The cuts are LAZY except the last
    * half-step's (no dedicated materialization job each — the norm's
    * broadcast thread computes and persists them; the final eager cut
    * restores the unpersist-safety contract below). The checkpointed frames are
    * node-sized, never edge-sized, and each iteration's frames fall out
    * of reference scope when the loop variables are reassigned, so the
    * ContextCleaner frees their blocks. The two cached edge copies are
    * explicitly unpersisted after the loop — the final h/a plans derive
    * only from the checkpointed raw sums, so the edge caches are dead
    * weight the CacheManager would otherwise pin for the session's
    * lifetime (it holds persisted entries until explicit unpersist,
    * regardless of plan liveness). Emits (id, hub, authority) at 6 dp
    * over the node set (union of endpoints). */
  def hits(edges: DataFrame, src: String, dst: String,
           iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters $iters < 1")
    val Dec = "decimal(28,12)"
    val MemDisk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(src).as("_src"), col(dst).as("_dst")).distinct()
      .transform(graft.ops.Checkpoint.cut(_, eager = true))
    // persist (not checkpoint) the partitioned copies: an InMemoryRelation
    // keeps its outputPartitioning, so the per-iteration joins read the
    // cache with NO exchange on the edge side; a localCheckpoint would
    // drop the partitioning under AQE and re-shuffle the edges every join
    val eSrc = e.repartition(col("_src")).persist(MemDisk)
    val eDst = e.repartition(col("_dst")).persist(MemDisk)
    val v = e.select(col("_src").as("id"))
      .union(e.select(col("_dst").as("id"))).distinct()
      .transform(graft.ops.Checkpoint.cut(_, eager = true))
    // the iteration runs on COMPACT score frames — only nodes with a
    // nonzero raw sum. A zero-score node contributes exactly 0 to every
    // downstream DECIMAL sum and 0 to the L1 norm, so dropping its row is
    // arithmetic-identity (the oracle's zero-filled replay hashes the
    // same); the node-set zero-fill happens ONCE at the end instead of
    // twice per iteration
    var h = v.select(col("id"), lit(1.0).as("h"))
    var a: DataFrame = null
    var it = 0
    while (it < iters) {
      it += 1
      // LAZY cuts: each raw-sum frame is consumed twice (L1 norm + score
      // join) so it must be truncated and computed once — but a lazy
      // localCheckpoint does both WITHOUT a dedicated materialization job
      // per half-step: the norm's broadcast-exchange thread computes and
      // persists the checkpoint, the score join then reads the persisted
      // blocks (6 fewer driver actions per hits call; values identical)
      val aRaw = eSrc.join(h.hint("shuffle_hash"), col("_src") === col("id"))
        .groupBy(col("_dst").as("id"))
        .agg(sum(col("h").cast(Dec)).cast("double").as("_ar"))
        .transform(graft.ops.Checkpoint.cut(_, eager = false))
      val aN = aRaw.agg(sum(col("_ar").cast(Dec)).cast("double").as("_s"))
      a = aRaw.crossJoin(broadcast(aN))
        .select(col("id"),
          (col("_ar") / when(col("_s") > 0, col("_s"))).as("a"))
      // the LAST half-step cuts EAGERLY: materializing hRaw forces aRaw
      // through its lazy checkpoint too (hRaw's plan consumes it), so by
      // the time the loop exits and the edge caches are unpersisted below,
      // no live plan references eSrc/eDst anymore — the unpersist-safety
      // contract the eager-everywhere version provided
      val hRaw = eDst.join(a.hint("shuffle_hash"), col("_dst") === col("id"))
        .groupBy(col("_src").as("id"))
        .agg(sum(col("a").cast(Dec)).cast("double").as("_hr"))
        .transform(graft.ops.Checkpoint.cut(_, eager = it == iters))
      val hN = hRaw.agg(sum(col("_hr").cast(Dec)).cast("double").as("_s"))
      h = hRaw.crossJoin(broadcast(hN))
        .select(col("id"),
          (col("_hr") / when(col("_s") > 0, col("_s"))).as("h"))
    }
    // the final h/a derive from the eagerly-checkpointed raw sums, so the
    // partitioned edge caches are no longer referenced by any live plan —
    // drop them now (the CacheManager never frees them on its own)
    eSrc.unpersist()
    eDst.unpersist()
    v.join(h, Seq("id"), "left").join(a, Seq("id"), "left")
      .select(col("id"), round(coalesce(col("h"), lit(0.0)), 6).as("hub"),
        round(coalesce(col("a"), lit(0.0)), 6).as("authority"))
  }

  def communityGraph(edges: DataFrame, src: String, dst: String,
                     labels: DataFrame, id: String,
                     community: String): DataFrame = {
    val und = edges.select(
        least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val lab = labels.select(col(id), col(community)).distinct()
    und
      .join(lab.select(col(id).as("a"), col(community).as("_ca")), "a")
      .join(lab.select(col(id).as("b"), col(community).as("_cb")), "b")
      .select(least(col("_ca"), col("_cb")).as("ca"),
        greatest(col("_ca"), col("_cb")).as("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("weight"))
  }
}
