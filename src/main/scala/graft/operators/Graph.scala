package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge DataFrames — PageRank with a
  * FIXED-POINT deterministic accumulation.
  *
  * The float hazard in distributed PageRank is the per-node
  * contribution sum: double addition is order-dependent, and shuffle
  * arrival order is not. Instead of the sorted-fold idiom (which
  * materializes a per-node list — hostile to hot nodes at scale), each
  * contribution is rounded ONCE to a 1e-12 fixed-point long
  * (`round(c · 1e12) → BIGINT`); the per-node sum is then plain
  * integer addition — associative, commutative, map-side combinable,
  * and bit-identical in any execution order and any engine. Total
  * scaled mass per node is bounded by Σ pr = 1 → ≤ ~1e12, so overflow
  * is impossible by construction regardless of in-degree. This is the
  * deterministic-distributed-sum device that SCALES: a hot node is a
  * hot integer counter, not a giant collected list.
  *
  * Iteration (damping d, N nodes, out-degree per source):
  *   pr⁰(v)   = 1/N
  *   prᵏ⁺¹(v) = (1−d)/N + d · (Σ_{u→v} fix(prᵏ(u)/outdeg(u))) / 1e12
  *
  * The caller supplies a DIRECTED edge list; dangling nodes (no
  * out-edges) leak rank mass by design here — pass a symmetrized edge
  * list (as the catalog's bipartite customer↔supplier graph does) when
  * conservation matters. All arithmetic is the same operation tree the
  * DuckDB oracle replicates, so the differential covers every
  * iteration of the trainer, not just the final ranking.
  *
  * Scale shape per iteration: one equi-join of the pr frame onto the
  * edge list (both keyed by src — co-partitioned across iterations
  * under the same key), one integer-keyed aggregate, one left join
  * back to the node frame. Nodes/edges/out-degrees are computed once
  * and cached; the N-row count is a 1-row broadcast.
  *
  * Edge-set precondition, shared by every operator here: an edge frame
  * is a SET of rows — each operator uses its (src, dst) or (a, b)
  * projection as given, with no defensive `distinct()`. The catalog's
  * builders ([[purchaseEdges]], [[directedPurchaseEdges]],
  * [[graft.operators.Itemsets.pairEdges]] and its symmetrization) are
  * sets by construction. [[boruvkaTrace]] additionally takes CANONICAL
  * edges: `src < dst`, no self-loops, one `w` per pair (as
  * [[supplierAffinityEdges]] builds them). A caller holding arbitrary
  * rows calls `.distinct()` (or canonicalizes) itself.
  */
object Graph {

  private val Scale = 1e12

  /** (node, pr): PageRank after `iters` rounds on edges (src, dst).
    *
    * Iterative-lineage discipline: without truncation the k-th
    * iteration's logical plan NESTS all previous ones — by iteration 5
    * the tree holds ~70 joins and ~300 aggregates, and analysis/codegen
    * dominate runtime (measured at sf0.1: 10.0 s unbounded-lineage →
    * 5.9 s with truncation → 4.6 s with the pinned edge partitioning
    * below). Each iteration therefore ends in `localCheckpoint()`,
    * materializing the (|nodes|-row) pr frame and restarting lineage —
    * the same per-superstep persistence cadence GraphX/Pregel uses.
    * The out-degreed edge list is joined once and cached; every
    * iteration reuses it.
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
               damping: Double = 0.85,
               localEdgeCap: Long = 2000000L): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    // HYBRID FINISH (r14, VERDICT r13 #1 — see [[hits]]): the 1e-12
    // long contribution sums make each round exact, so the driver
    // replay is bit-identical. r15 restructure (VERDICT r14 #3): ONE
    // eager localCheckpoint of the distinct pair frame (the
    // duplicateClusters discipline — the gate must count an
    // ALREADY-MATERIALIZED frame), then the gate count, the driver
    // collect, AND the over-cap distributed substrate (eOut + nodes)
    // all read the same blocks: the substrate chain executes exactly
    // once on every path. pageRankLocal derives outdeg itself, so the
    // driver path never builds the outdeg join / repartition / cache.
    // r17: the finish also covers STRING node keys (textRank's word
    // graph — the one catalog consumer the LongType gate excluded):
    // PageRank's arithmetic never reads key VALUES, so a driver-side
    // dictionary encoding is bit-neutral (LocalFinish.pageRankCore doc).
    val strType = org.apache.spark.sql.types.StringType
    val allStr = e0.schema("src").dataType == strType &&
      e0.schema("dst").dataType == strType
    val eligible = localEdgeCap > 0 &&
      (LocalFinish.allLong(e0, "src", "dst") || allStr)
    val e = if (eligible) e0.localCheckpoint() else e0
    if (eligible && allStr) {
      LocalFinish.collectStringPairsBounded(e, localEdgeCap,
          "src", "dst") match {
        case Some((flat, names)) =>
          Console.err.println("[graft] pageRank: driver finish (str)")
          LocalFinish.release(e)
          return LocalFinish.pageRankLocalStr(edges.sparkSession, flat,
            names, iters, damping)
        case None => // over cap: distributed loop below, on the blocks
      }
    } else if (eligible) {
      LocalFinish.collectLongsBounded(e, localEdgeCap,
          "src", "dst") match {
        case Some(flat) =>
          Console.err.println("[graft] pageRank: driver finish")
          LocalFinish.release(e) // collected; blocks are dead (ADVICE r15)
          return LocalFinish.pageRankLocal(edges.sparkSession, flat,
            iters, damping)
        case None => // over cap: distributed loop below, on the blocks
      }
    }
    // Cache the out-degreed edges PRE-PARTITIONED AND PRE-SORTED on the
    // join key: InMemoryRelation preserves both properties, so each
    // iteration's sort-merge join exchanges and sorts only the tiny pr
    // side — the big side never moves again (the "reuse a partitioning
    // across stages" rule applied across checkpoint boundaries, where
    // plan-level exchange reuse cannot see).
    val eOut = e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), Seq("src"))
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    val nrow = nodes.agg(count(lit(1)).as("n"))
    var pr = nodes.crossJoin(broadcast(nrow))
      .select(col("node"), (lit(1.0) / col("n")).as("pr"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = eOut
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("pr") / col("outdeg") * Scale).cast("long").as("c"))
      val sums = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("s"))
      val prev = pr
      pr = nodes.join(sums, Seq("node"), "left")
        .crossJoin(broadcast(nrow))
        .select(col("node"),
          ((lit(1.0) - damping) / col("n") +
            lit(damping) * (coalesce(col("s"), lit(0L)).cast("double") /
              Scale)).as("pr"))
        .localCheckpoint()
      // The new round's EAGER checkpoint materialized reading prev —
      // prev is dead. Deterministic release instead of ContextCleaner
      // GC (r17 cache-hygiene): peak storage in the fixpoint stays
      // O(2 frames), not O(iters), which is what matters at 100 TB.
      LocalFinish.release(prev)
      // (Checkpointing every SECOND superstep instead was tried in r8
      // and benched 1.12× — the 2-deep plans cost more than the saved
      // job launches; see PLANS.md "Probe-batching probe".)
    }
    // The result is the final rank checkpoint alone: the loop
    // substrate (out-degreed edge cache, node cache, and — on the
    // eligible path — the gate checkpoint, all materialized by round
    // 1) is dead. `e` is released only when it is the loop's OWN
    // checkpoint — when ineligible, e = e0 and its plan may embed a
    // CALLER-owned checkpoint that must survive.
    eOut.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    if (eligible) LocalFinish.release(e)
    pr.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** PERSONALIZED PageRank (random walk with restart to a SEED set —
    * Jeh & Widom '03): the teleport mass lands only on `seeds`, so the
    * stationary distribution ranks every node by graph PROXIMITY to
    * the seed set instead of global centrality. This is the
    * graph-side curation selector (rank a corpus by closeness to a
    * trusted seed slice) and the classic related-items primitive.
    *
    *   pr⁰(v)   = [v ∈ S] / |S|
    *   prᵏ⁺¹(v) = (1−d)·[v ∈ S]/|S| + d · Σ_{u→v} prᵏ(u)/outdeg(u)
    *
    * Same fixed-point 1e-12 long contribution sums, per-iteration
    * `localCheckpoint`, and cached pre-partitioned out-degreed edges
    * as [[pageRank]] (see its scaladoc for why each is load-bearing);
    * the seed indicator is a left join onto the node frame computed
    * once, and |S| is a 1-row broadcast. Dangling nodes leak mass by
    * design — symmetrize when conservation matters. `seeds` must be
    * non-empty: an empty seed set has no stationary distribution (and
    * under ANSI mode the 1/|S| teleport fails loudly as a division by
    * zero rather than returning an all-NULL ranking).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5,
                           damping: Double = 0.85,
                           localEdgeCap: Long = 2000000L): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    val sd = seeds.select(col("node")).distinct()
    // HYBRID FINISH (r14, VERDICT r13 #1 — see [[hits]]): exact
    // replay incl. the whole-seed-frame |S| (seeds outside the graph
    // count toward the teleport denominator on both paths). r15
    // restructure (VERDICT r14 #3, checkpoint rationale at
    // [[pageRank]]): one eager checkpoint of the pair frame; gate,
    // driver collect, and over-cap substrate share the blocks —
    // pprLocal derives outdeg itself. Seed frame gated too (ADVICE
    // r14): corpus-sized seeds fall through.
    val eligible = localEdgeCap > 0 &&
      LocalFinish.allLong(e0, "src", "dst") &&
      LocalFinish.allLong(sd, "node")
    val e = if (eligible) e0.localCheckpoint() else e0
    if (eligible) {
      (LocalFinish.collectLongsBounded(e, localEdgeCap, "src", "dst"),
       LocalFinish.collectLongsBounded(sd, localEdgeCap, "node")) match {
        case (Some(flat), Some(seedArr)) =>
          Console.err.println("[graft] personalizedPageRank: driver finish")
          LocalFinish.release(e) // collected; blocks are dead (ADVICE r15)
          return LocalFinish.pprLocal(edges.sparkSession, flat,
            seedArr, iters, damping)
        case _ => // over cap: distributed loop below, on the blocks
      }
    }
    val eOut = e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), Seq("src"))
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val tagged = nodes
      .join(sd.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("is_seed"), lit(0)).as("is_seed"))
      .cache()
    val nsrow = sd.agg(count(lit(1)).as("ns"))
    var pr = tagged.crossJoin(broadcast(nsrow))
      .select(col("node"),
        (col("is_seed").cast("double") / col("ns")).as("pr"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = eOut
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("pr") / col("outdeg") * Scale).cast("long").as("c"))
      val sums = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("s"))
      val prev = pr
      pr = tagged.join(sums, Seq("node"), "left")
        .crossJoin(broadcast(nsrow))
        .select(col("node"),
          ((lit(1.0) - damping) * col("is_seed").cast("double") / col("ns") +
            lit(damping) * (coalesce(col("s"), lit(0L)).cast("double") /
              Scale)).as("pr"))
        .localCheckpoint()
      LocalFinish.release(prev) // materialized by the new round; dead
    }
    // Result = final rank checkpoint; loop substrate is dead (see
    // [[pageRank]] — release(e) only when it is the loop's OWN
    // checkpoint).
    eOut.unpersist(blocking = false)
    tagged.unpersist(blocking = false)
    if (eligible) LocalFinish.release(e)
    pr.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** EDGE-WEIGHTED PageRank: contributions proportional to edge weight
    * instead of split uniformly — prᵏ(u)·w(u→v)/wsum(u) with wsum the
    * source's total out-weight. This is the form a purchase/citation/
    * link-strength graph actually needs: a customer who bought from a
    * supplier 40 times should push 40× the rank of a one-off. The
    * unweighted [[pageRank]] is the w≡1 special case.
    *
    * Same determinism device as [[pageRank]] (see its scaladoc): each
    * contribution is rounded ONCE to a 1e-12 fixed-point long and the
    * per-node sum is integer addition — order-free, map-side
    * combinable, hot-node-safe. pr·w/wsum ≤ pr keeps total scaled
    * mass ≤ ~1e12, so overflow stays impossible regardless of weights.
    * Same per-iteration `localCheckpoint()` lineage truncation and
    * cached pre-partitioned weighted edge list.
    *
    * `edges` must carry (src, dst, weight ≥ 0, integer-typed so wsum
    * is exact); parallel edges should be pre-aggregated (the catalog's
    * co-purchase builder does this with one keyed count).
    */
  def weightedPageRank(edges: DataFrame, iters: Int = 5,
                       damping: Double = 0.85,
                       localEdgeCap: Long = 2000000L): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"), col("weight"))
    // HYBRID FINISH (r14, VERDICT r13 #1 — see [[hits]]): per-edge
    // round(pr·w/wsum·1e12) longs replayed exactly (memoized per
    // (source, weight)); weight must be LongType or the gate falls
    // through to the distributed loop. r15 restructure (VERDICT r14
    // #3, checkpoint rationale at [[pageRank]]): one eager checkpoint
    // of the caller's weighted-edge chain; gate, driver collect, and
    // over-cap substrate share the blocks — weightedPageRankLocal
    // derives wsum itself.
    val eligible = localEdgeCap > 0 &&
      LocalFinish.allLong(e0, "src", "dst", "weight")
    val e = if (eligible) e0.localCheckpoint() else e0
    if (eligible) {
      LocalFinish.collectLongsBounded(e, localEdgeCap,
          "src", "dst", "weight") match {
        case Some(flat) =>
          Console.err.println("[graft] weightedPageRank: driver finish")
          LocalFinish.release(e) // collected; blocks are dead (ADVICE r15)
          return LocalFinish.weightedPageRankLocal(edges.sparkSession,
            flat, iters, damping)
        case None => // over cap: distributed loop below, on the blocks
      }
    }
    val eOut = e.join(
        e.groupBy(col("src")).agg(sum(col("weight")).as("wsum")),
        Seq("src"))
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    val nrow = nodes.agg(count(lit(1)).as("n"))
    var pr = nodes.crossJoin(broadcast(nrow))
      .select(col("node"), (lit(1.0) / col("n")).as("pr"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = eOut
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("pr") * col("weight") / col("wsum") * Scale)
            .cast("long").as("c"))
      val sums = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("s"))
      val prev = pr
      pr = nodes.join(sums, Seq("node"), "left")
        .crossJoin(broadcast(nrow))
        .select(col("node"),
          ((lit(1.0) - damping) / col("n") +
            lit(damping) * (coalesce(col("s"), lit(0L)).cast("double") /
              Scale)).as("pr"))
        .localCheckpoint()
      LocalFinish.release(prev) // materialized by the new round; dead
    }
    // Result = final rank checkpoint; loop substrate is dead (see
    // [[pageRank]]).
    eOut.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    if (eligible) LocalFinish.release(e)
    pr.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** Symmetrized WEIGHTED purchase graph: weight(c↔s) = number of
    * lineitems supplier s shipped on customer c's orders — the
    * co-purchase strength the weighted walk should follow. One keyed
    * count instead of [[purchaseEdges]]' DISTINCT; same namespacing.
    */
  def weightedPurchaseEdges(orders: DataFrame,
                            lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2L).as("c"),
        (col("l_suppkey") * 2L + 1L).as("s"))
      .agg(count(lit(1)).as("weight"))
    pairs.select(col("c").as("src"), col("s").as("dst"), col("weight"))
      .unionByName(
        pairs.select(col("s").as("src"), col("c").as("dst"),
          col("weight")))
  }

  /** Symmetrized bipartite purchase graph: customer c ↔ supplier s for
    * every distinct (o_custkey, l_suppkey) pair — node ids namespaced
    * as 2·custkey / 2·suppkey+1. An edge set: each direction's pairs
    * are distinct, and the two directions cannot share a row (a
    * customer→supplier edge starts at an even id, its reverse at an
    * odd one).
    */
  def purchaseEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2L).as("c"),
        (col("l_suppkey") * 2L + 1L).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** GRAPH degree profile — the one-pass structural summary (degree
    * histogram in log₂ buckets + node/edge totals) that decides which
    * graph algorithm variant to run before running it: a heavy tail
    * (high max bucket) means salting/forward-degree tricks matter; a
    * flat profile means the plain keyed plans win. Buckets are
    * ⌊log₂ degree⌋ — integer-exact via the same binary-string-length
    * idiom as the HDR sketch.
    *
    * Scale shape: one keyed degree count over the (symmetrized) edge
    * list, one ~60-row bucket aggregate — the histogram is
    * bucket-count-sized regardless of graph size.
    */
  def degreeProfile(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("src"), col("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
    deg
      .withColumn("bucket",
        (length(bin(col("degree"))) - 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"),
        sum(col("degree")).as("n_edge_ends"))
  }

  /** TRIANGLE enumeration over an ordered edge list (a < b): the
    * compact-forward join — e(a,b) ⋈ e(b,c) extends each edge by its
    * higher endpoint, e(a,c) closes the wedge. Ordering every edge
    * low→high means each triangle is produced exactly ONCE (as
    * a < b < c), no post-dedup, and the wedge fan-out is bounded by
    * the FORWARD degree — the standard trick that makes distributed
    * triangle counting survive power-law graphs (a hub's wedges are
    * split across its lower-id neighbors instead of all landing on
    * the hub).
    *
    * Scale shape: two hash equi-joins on single keys ((b), then
    * (a, c)), all shuffles keyed — never a cartesian; output rows are
    * the triangles themselves. Top-`k` via TakeOrderedAndProject for
    * a deterministic bounded result.
    */
  def triangles(edges: DataFrame, k: Int = 100): DataFrame = {
    // The upstream edge derivation (e.g. the pairEdges prune chain —
    // two joins + two aggregates) feeds THREE join legs; uncached it
    // re-runs per leg (the r2 shingle-index lesson, PLANS.md). EAGER
    // localCheckpoint (r14, measured): one materializing job, every
    // leg reads checkpoint blocks, and — unlike the old cache +
    // output-checkpoint + unpersist scaffolding — no extra jobs exist
    // just to make an unpersist safe (blocks free via ContextCleaner
    // when the frame goes out of scope, the duplicateClusters
    // discipline). The swap cut the one-shot consumers ~2× at sf0.1
    // (gini 3.9→1.4 s, assortativity 2.2→1.3 s probe, PLANS.md).
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("ta"), col("e1.b").as("tb"),
        col("e2.b").as("tc"))
      .join(e.as("e3"),
        col("ta") === col("e3.a") && col("tc") === col("e3.b"))
      .select(col("ta").as("a"), col("tb").as("b"), col("tc").as("c"))
      .orderBy(col("a"), col("b"), col("c"))
      .limit(k)
  }

  /** k-TRUSS decomposition (Cohen '08) — the EDGE-level sibling of
    * [[kCore]]'s node peel: keep only edges supported by ≥ k−2
    * triangles, recompute (removals destroy other edges' triangles),
    * iterate to the unique fixpoint. Defined for k ≥ 3 only
    * (enforced below): at k ≤ 2 "≥ 0 triangles" keeps every edge,
    * but the triangle join never emits triangle-free edges. A truss is a stronger cohesion
    * cut than a core (every surviving tie is embedded in triangles,
    * not merely incident to a busy node), which is exactly the
    * hub-artifact filter co-occurrence graphs need before community
    * readouts.
    *
    * Per round: one compact-forward triangle enumeration over the
    * CANONICAL (a < b) edge set (two keyed joins — [[triangles]]'
    * audited shape, no limit), a 3-projection union + keyed count
    * for per-edge support, one filter. [[kCore]]'s edge-count
    * fixpoint probe applies verbatim (peeling only removes edges, so
    * an unchanged count IS the unique fixpoint and the result is
    * bit-identical to `rounds` fixed iterations); each round ends in
    * `localCheckpoint()`. Output: surviving (a, b) edges with
    * support measured ON the surviving subgraph.
    */
  def kTruss(edges: DataFrame, k: Int = 4, rounds: Int = 5,
             localEdgeCap: Long = 2000000L): DataFrame = {
    // supports() enumerates only edges in ≥1 triangle, so triangle-free
    // edges vanish from the join regardless of the threshold — the peel
    // is only the k-truss for k ≥ 3 (where such edges are rightly cut).
    require(k >= 3, s"kTruss requires k >= 3 (got $k): for k <= 2 the " +
      "truss is the whole graph, which this triangle-join peel cannot " +
      "represent")
    def supports(e: DataFrame): DataFrame = {
      val t = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("ta"), col("e1.b").as("tb"),
          col("e2.b").as("tc"))
        .join(e.as("e3"),
          col("ta") === col("e3.a") && col("tc") === col("e3.b"))
        .select(col("ta"), col("tb"), col("tc"))
      t.select(col("ta").as("a"), col("tb").as("b"))
        .unionByName(t.select(col("tb").as("a"), col("tc").as("b")))
        .unionByName(t.select(col("ta").as("a"), col("tc").as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    var e = edges.select(col("a"), col("b")).localCheckpoint()
    var n = e.count()
    var r = 0
    var converged = false
    // HYBRID FINISH (r14, the kCore per-round gate): edge peeling
    // contracts monotonically and every support is an exact integer,
    // so under the cap LocalFinish.kTrussPeel runs the SAME loop over
    // the collected rows — bit-identical whether the budget or the
    // fixpoint stops it; the gate re-checks each round so a big graph
    // that peels down finishes its tail rounds driver-side.
    val driverEligible =
      localEdgeCap > 0 && LocalFinish.allLong(e, "a", "b")
    while (r < rounds && !converged) {
      if (driverEligible && n <= localEdgeCap) {
        val (out, used) = LocalFinish.kTrussPeel(e, k, rounds - r)
        Console.err.println(
          s"[graft] kTruss: ${r + used} peel rounds (cap $rounds, " +
            s"driver finish after $r)")
        LocalFinish.release(e) // collected; blocks are dead (ADVICE r15)
        return out
      }
      val prev = e
      e = supports(e).filter(col("support") >= k - 2)
        .select(col("a"), col("b"))
        .localCheckpoint()
      // The peeled round's EAGER checkpoint materialized reading prev
      // — prev is dead (r17 cache-hygiene).
      LocalFinish.release(prev)
      val n2 = e.count()
      r += 1
      converged = n2 == n
      n = n2
    }
    Console.err.println(s"[graft] kTruss: $r peel rounds (cap $rounds)")
    e.join(supports(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** MULTI-SOURCE BFS hop distance: the minimum number of edges from
    * any node in `seeds` to each reachable node, cut off at `maxHops`
    * rounds — the graph-proximity primitive underneath "within k hops
    * of a trusted slice" curation cuts and reachability audits. Where
    * [[personalizedPageRank]] ranks by continuous proximity, this is
    * the discrete version: an exact integer distance, no float
    * arithmetic anywhere, so the differential is trivially
    * bit-identical.
    *
    * FRONTIER discipline (the property that makes distributed BFS
    * scale — Pregel's canonical example): round k joins the edge list
    * against only the nodes FIRST reached at round k−1, not the whole
    * reached set, so total join work across all rounds is O(Σ frontier
    * out-degree) = O(|E|) — each edge is expanded at most once from
    * its source's discovery round. Newly seen nodes are separated
    * with a keyed left-anti join against the reached set; the reached
    * frame grows monotonically and each round ends in
    * `localCheckpoint()` (the iterative-lineage discipline
    * [[pageRank]] documents). The edge list is cached pre-partitioned
    * on src so every round's sort-merge join moves only the frontier.
    *
    * Input is a DIRECTED edge list — symmetrize for undirected
    * distance (as the catalog's purchase graph does). Output:
    * (node, dist) for every node within `maxHops` of a seed; nodes
    * beyond the cutoff are absent, not NULL-rowed.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
              maxHops: Int = 4,
              localEdgeCap: Long = 2000000L): DataFrame = {
    val ed0 = edges.select(col("src"), col("dst"))
    val sd = seeds.select(col("node")).distinct()
    // HYBRID FINISH (r14/r15 — see [[hits]]): hop distances are exact
    // integers and the frontier loop never needs more than set
    // arithmetic, so the driver replay is trivially bit-identical.
    // r15 restructure (VERDICT r14 #3, checkpoint rationale at
    // [[pageRank]]): one eager checkpoint of the distinct pair frame;
    // gate, driver collect, and the over-cap repartitioned cache all
    // read the blocks. Seed frame is gated too (ADVICE r14): a
    // corpus-sized seed frame beside a small edge graph falls through
    // to the distributed loop, not an unbounded collect.
    val eligible = localEdgeCap > 0 &&
      LocalFinish.allLong(ed0, "src", "dst") &&
      LocalFinish.allLong(sd, "node")
    val ed = if (eligible) ed0.localCheckpoint() else ed0
    bfsHopsPrepared(ed, sd, eligible, maxHops, localEdgeCap,
      releaseOnDriverFinish = true)
  }

  /** [[bfsHops]] on a PREPARED input: `ed` is the (src, dst)
    * projection of an edge set (checkpointed when `eligible`), `sd` the
    * distinct seed frame. Lets [[diameterTwoSweep]]'s over-cap path
    * run both sweeps on ONE materialization without each sweep
    * re-projecting and re-checkpointing the blocks.
    * `releaseOnDriverFinish` must be true ONLY when the caller never
    * reads `ed` again after a driver finish: [[bfsHops]] owns its
    * frame (true); [[diameterTwoSweep]] reuses `ed` across two sweeps
    * whose lazy plans may re-read the blocks (false). */
  private[operators] def bfsHopsPrepared(ed: DataFrame, sd: DataFrame,
                                         eligible: Boolean, maxHops: Int,
                                         localEdgeCap: Long,
                                         releaseOnDriverFinish: Boolean =
                                           false): DataFrame = {
    if (eligible) {
      (LocalFinish.collectLongsBounded(ed, localEdgeCap, "src", "dst"),
       LocalFinish.collectLongsBounded(sd, localEdgeCap, "node")) match {
        case (Some(flat), Some(seedArr)) =>
          Console.err.println("[graft] bfsHops: driver finish")
          if (releaseOnDriverFinish) LocalFinish.release(ed)
          return LocalFinish.bfsLocal(ed.sparkSession, flat,
            seedArr, maxHops)
        case _ => // over cap: distributed loop below, on the blocks
      }
    }
    val e = ed
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .cache()
    var reached = sd
      .withColumn("dist", lit(0))
      .localCheckpoint()
    for (k <- 1 to maxHops) {
      val frontier = reached.filter(col("dist") === (k - 1))
        .select(col("node").as("src"))
      val cand = e.join(frontier, Seq("src"))
        .select(col("dst").as("node")).distinct()
      val fresh = cand.join(reached, Seq("node"), "left_anti")
        .withColumn("dist", lit(k))
      val prev = reached
      reached = reached.unionByName(fresh).localCheckpoint()
      LocalFinish.release(prev) // materialized by the new round; dead
    }
    // The result is the final reached checkpoint; the repartitioned
    // edge cache is loop scaffolding (r17 cache-hygiene). ed itself is
    // caller-owned and untouched.
    e.unpersist(blocking = false)
    reached
  }

  /** TWO-SWEEP DIAMETER lower bound (Magnien–Latapy–Habib '09 — the
    * standard cheap diameter estimate): BFS from a seed set, restart
    * a second BFS from the farthest node reached (min-id tie-break),
    * and report that sweep's eccentricity — for many real graphs the
    * bound is the exact diameter, at the cost of exactly two
    * [[bfsHops]] walks instead of an all-pairs computation. The
    * "how many hops wide is this graph really" read the BFS operator
    * alone doesn't give.
    *
    * Output (1 row): the sweep-2 start node, the seed set's
    * eccentricity bound, the diameter lower bound, and how many
    * nodes sweep 2 reached (an unreached component shows up here,
    * not as a silently-small diameter). Determinism: hop counts are
    * integers; the farthest pick is (dist desc, node asc).
    */
  def diameterTwoSweep(edges: DataFrame, seeds: DataFrame,
                       maxHops: Int = 6,
                       localEdgeCap: Long = 2000000L): DataFrame = {
    // r15 (VERDICT r14 #3): under the cap, BOTH sweeps replay on ONE
    // bounded edge collect — the whole query is two gate jobs (edges +
    // seeds) plus the driver loop. Over the cap, BOTH sweeps consume
    // the same checkpointed pair frame, so the caller's edge
    // substrate (at sf1: the orders⋈lineitem symmetrize join) executes
    // exactly once.
    val ed0 = edges.select(col("src"), col("dst"))
    val sd = seeds.select(col("node")).distinct()
    val eligible = localEdgeCap > 0 &&
      LocalFinish.allLong(ed0, "src", "dst") &&
      LocalFinish.allLong(sd, "node")
    val ed = if (eligible) ed0.localCheckpoint() else ed0
    if (eligible) {
      (LocalFinish.collectLongsBounded(ed, localEdgeCap, "src", "dst"),
       LocalFinish.collectLongsBounded(sd, localEdgeCap, "node")) match {
        case (Some(flat), Some(seedArr)) =>
          Console.err.println("[graft] diameterTwoSweep: driver finish")
          LocalFinish.release(ed) // collected; blocks are dead (ADVICE r15)
          return LocalFinish.diameterLocal(edges.sparkSession, flat,
            seedArr, maxHops)
        case _ => // over cap: composed distributed path below
      }
    }
    val s1 = bfsHopsPrepared(ed, sd, eligible, maxHops, localEdgeCap)
    val far = s1.orderBy(col("dist").desc, col("node").asc).limit(1)
      .localCheckpoint()
    val s2 = bfsHopsPrepared(ed, far.select(col("node")), eligible,
      maxHops, localEdgeCap)
    s2.agg(max(col("dist")).as("diameter_lb"),
        count(lit(1)).as("n_reached"))
      .crossJoin(broadcast(far.select(col("node").as("far_node"),
        col("dist").as("ecc_seed_lb"))))
      .select(col("far_node"), col("ecc_seed_lb"),
        col("diameter_lb"), col("n_reached"))
  }

  /** HITS hubs & authorities (Kleinberg '99): the mutually-recursive
    * pair auth(v) = Σ_{u→v} hub(u), hub(v) = Σ_{v→u} auth(u), each
    * L1-normalized per half-step — on a bipartite purchase graph the
    * authority side ranks suppliers by how strongly well-connected
    * customers buy from them while the hub side ranks customers by how
    * much they buy from authoritative suppliers. The classic second
    * centrality beside PageRank, and the one that needs a DIRECTED
    * edge list (run it on [[directedPurchaseEdges]]; a symmetrized
    * list collapses hubs onto authorities by construction).
    *
    * Determinism is the [[pageRank]] fixed-point device at 1e-9: each
    * contribution is rounded ONCE to a long; per-node sums and the L1
    * normalizer are then plain integer addition — order-free and
    * bit-identical cross-engine — and the normalized score is one
    * long/long double division both engines share. Post-normalization
    * Σ score = 1, so Σ_edges hub(src) ≤ max-outdeg and the scaled
    * total stays ≤ ~max-outdeg·1e9: overflow needs a single node with
    * ~10⁹ out-edges before the counter is at risk — document-scale
    * safe. (The auth half-step reads the PREVIOUS hub frame; the hub
    * half-step reads the JUST-normalized auth frame — the textbook
    * sequential update, mirrored exactly by the oracle.)
    *
    * Scale shape per iteration: the edge list is cached TWICE, once
    * pre-partitioned on src and once on dst, so the auth step's join
    * (keyed by src) and the hub step's join (keyed by dst) each move
    * only the score frame — the big side never reshuffles (the
    * two-copy analog of [[pageRank]]'s pinned-partitioning cache).
    * Two round-latency devices on top (measured: 12.5 → ~7 s at
    * sf0.1): score frames stay SPARSE — hub over source nodes only,
    * auth over destination nodes only; an absent score is an exact
    * zero contribution, so the dense left-join densification is
    * deferred to the single output projection — and the intermediate
    * auth frame is LAZY (single consumer inside the iteration), so
    * only the hub frame checkpoints per round: 5 checkpoint rounds
    * for 10 half-steps. The per-iteration plan stays constant-depth
    * (two joins, two aggregates), so the r8 probe-batching lesson
    * about NESTED plan growth does not apply.
    */
  def hits(edges: DataFrame, iters: Int = 5,
           localEdgeCap: Long = 2000000L): DataFrame = {
    val HScale = 1e9
    val e0 = edges.select(col("src"), col("dst"))
    // HYBRID FINISH (r14, VERDICT r13 #1): the fixed-point device
    // makes every half-step exact (long contribution sums, one
    // long/long division), so LocalFinish.hitsLocal replays the loop
    // bit-identically — and this loop NEVER contracts, so under the
    // cap the whole 2·iters-join schedule collapses to one collect.
    // r15 restructure (VERDICT r14 #3, checkpoint rationale at
    // [[pageRank]]): one eager checkpoint; gate, driver collect, and
    // the over-cap eBySrc/eByDst/nodes substrate all read the blocks;
    // HybridFinishSpec pins driver ≡ distributed.
    val eligible = localEdgeCap > 0 && LocalFinish.allLong(e0, "src", "dst")
    val e = if (eligible) e0.localCheckpoint() else e0
    if (eligible) {
      LocalFinish.collectLongsBounded(e, localEdgeCap,
          "src", "dst") match {
        case Some(flat) =>
          Console.err.println("[graft] hits: driver finish")
          LocalFinish.release(e) // collected; blocks are dead (ADVICE r15)
          return LocalFinish.hitsLocal(edges.sparkSession, flat, iters)
        case None => // over cap: distributed loop below, on the blocks
      }
    }
    val eBySrc = e.repartition(col("src")).sortWithinPartitions(col("src"))
      .cache()
    val eByDst = e.repartition(col("dst")).sortWithinPartitions(col("dst"))
      .cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    val nrow = nodes.agg(count(lit(1)).as("n"))
    // Sparse init: sinks hold 1/N too in the dense formulation, but a
    // sink's hub never reaches any edge — contribution-identical.
    var hub = e.select(col("src").as("node")).distinct()
      .crossJoin(broadcast(nrow))
      .select(col("node"), (lit(1.0) / col("n")).as("hub"))
      .localCheckpoint()
    var auth: DataFrame = null
    for (it <- 1 to iters) {
      // Every dst node has >= 1 in-edge and the hub frame covers every
      // src, so aSums' support is EXACTLY the dst node set — no
      // densifying left join needed until the output edge.
      val aSums = eBySrc
        .join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("hub") * HScale).cast("long").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      val aTot = aSums.agg(sum(col("s")).as("t"))
      val a = aSums.crossJoin(broadcast(aTot))
        .select(col("node"),
          (col("s").cast("double") / col("t").cast("double")).as("auth"))
      // Lazy mid-iteration: `a` has ONE consumer (hSums) except on the
      // final round, where the output also reads it — checkpoint then.
      auth = if (it == iters) a.localCheckpoint() else a
      val hSums = eByDst
        .join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"),
          round(col("auth") * HScale).cast("long").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      val hTot = hSums.agg(sum(col("s")).as("t"))
      val prevHub = hub
      hub = hSums.crossJoin(broadcast(hTot))
        .select(col("node"),
          (col("s").cast("double") / col("t").cast("double")).as("hub"))
        .localCheckpoint()
      LocalFinish.release(prevHub) // materialized by the new round; dead
    }
    // The output joins read the final hub/auth checkpoints and the
    // node cache — only the two edge caches are dead here. nodes is
    // referenced by the returned (lazy) plan, and e must survive with
    // it: the node cache's lineage recomputes from e's blocks.
    eBySrc.unpersist(blocking = false)
    eByDst.unpersist(blocking = false)
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("hub"), lit(0.0)), 6).as("hub"),
        round(coalesce(col("auth"), lit(0.0)), 6).as("auth"))
  }

  /** DIRECTED bipartite purchase edges customer → supplier (one edge
    * per distinct trading pair, nodes namespaced as in
    * [[purchaseEdges]]) — the directed substrate [[hits]] needs:
    * customers are the only sources (hubs), suppliers the only sinks
    * (authorities). An edge set (it ends in `distinct()`).
    */
  def directedPurchaseEdges(orders: DataFrame,
                            lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2L).as("src"),
        (col("l_suppkey") * 2L + 1L).as("dst"))
      .distinct()

  /** Seeded LABEL PROPAGATION (the semi-supervised community/category
    * spreader — Zhu & Ghahramani '02 shape, synchronous rounds):
    * starting from a PINNED seed labeling, each round every node
    * adopts the MAJORITY label among its in-neighbors' previous-round
    * labels, ties broken to the SMALLEST label; seed nodes never
    * change. After k rounds a node's label is the dominant seed
    * community within k hops — the cheap graph-side classifier for
    * "color the corpus by proximity to labeled slices" curation, the
    * discrete complement of [[personalizedPageRank]]'s continuous
    * proximity and [[bfsHops]]'s distance.
    *
    * Fully integer/deterministic by construction: label counts are
    * integer aggregates, the argmax is (max count, then min label) —
    * no floats anywhere, so the differential is trivially
    * bit-identical. Per round: one keyed join (edges pre-partitioned
    * on src, cached — only the label frame moves), a (node, label)
    * count, a per-node max, and the tie-break filter+min — all keyed
    * shuffles; each round ends in `localCheckpoint()` (see
    * [[pageRank]]'s iterative-lineage discipline). Nodes with no
    * labeled in-neighbor after `rounds` rounds are absent from the
    * output, not NULL-rowed (the [[bfsHops]] convention). Pass a
    * symmetrized edge list for undirected spreading.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
                       rounds: Int = 3,
                       localEdgeCap: Long = 2000000L): DataFrame = {
    // HYBRID FINISH (r13, the boruvkaTrace template): each round is
    // ~4 keyed shuffles over the FULL edge frame (this loop never
    // contracts), so when the frame fits under the cap the whole
    // fixed-round schedule is job latency. LocalFinish.labelPropLocal
    // emulates the loop exactly — per-(dst,label) long counts, (max
    // count, min label) winner, seeds pinned, MULTI-label seed nodes
    // spreading every seed row — so the result set is bit-identical
    // (HybridFinishSpec pins it, duplicate-seed case included).
    //
    // r15 restructure (the [[pageRank]] checkpoint rationale applied
    // here too): the gate counts an eager CHECKPOINT of the distinct
    // pair frame, so the driver path never builds the repartitioned
    // cache it would discard, and the over-cap loop builds that cache
    // FROM the blocks (substrate executes once on every path).
    // `.distinct()` on the seeds makes duplicate seed ROWS a no-op on
    // both paths; a node seeded with several DIFFERENT labels keeps
    // and spreads all of them, identically on both paths.
    val sd = seeds.select(col("node"), col("label")).distinct()
      .localCheckpoint()
    val e0 = edges.select(col("src"), col("dst"))
    val eligible = localEdgeCap > 0 &&
      LocalFinish.allLong(e0, "src", "dst") &&
      LocalFinish.allLong(sd, "node", "label")
    val e1 = if (eligible) e0.localCheckpoint() else e0
    if (eligible &&
        e1.count() <= localEdgeCap && sd.count() <= localEdgeCap) {
      Console.err.println("[graft] labelPropagation: driver finish")
      val out = LocalFinish.labelPropLocal(e1, sd, rounds)
      LocalFinish.release(e1) // collected; blocks are dead (ADVICE r15)
      LocalFinish.release(sd)
      return out
    }
    val e = e1
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .cache()
    var lab = sd
    for (_ <- 1 to rounds) {
      val counts = e
        .join(lab.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val mx = counts.groupBy(col("node")).agg(max(col("cnt")).as("mx"))
      val win = counts.join(mx, Seq("node"))
        .filter(col("cnt") === col("mx"))
        .groupBy(col("node")).agg(min(col("label")).as("label"))
      val prev = lab
      lab = sd.unionByName(
          win.join(sd.select(col("node")), Seq("node"), "left_anti"))
        .localCheckpoint()
      // prev is dead once the new round materialized — except round
      // 0, where lab IS the seed checkpoint that every later round
      // still unions in (r17 cache-hygiene).
      if (prev ne sd) LocalFinish.release(prev)
    }
    // Result = final label checkpoint; seed checkpoint, repartitioned
    // edge cache, and (on the eligible path) the gate checkpoint are
    // loop scaffolding. (rounds=0 returns sd itself — don't kill it.)
    e.unpersist(blocking = false)
    if (lab ne sd) LocalFinish.release(sd)
    if (eligible) LocalFinish.release(e1)
    lab
  }

  /** K-CORE decomposition by iterative peeling (Seidman '83; the
    * distributed form follows Montresor et al.'s degree-pruning
    * rounds): repeatedly delete nodes of degree < `k` until the
    * remaining subgraph — the k-core — is stable. Cores are the
    * standard graph-cleaning cut (drop the sparse fringe before
    * running expensive community/embedding passes) and the degeneracy
    * ordering behind triangle/clique bounds.
    *
    * Convergence-probed with a deterministic result (r9, measured):
    * peel until the edge COUNT stops changing or `rounds` is hit.
    * Peeling only ever removes edges, so an unchanged count means the
    * edge SET is unchanged — the probe detects the exact unique
    * fixpoint, not a heuristic threshold, and the result is
    * bit-for-bit what `rounds` fixed iterations produce (identical
    * fixpoint when converged; identical non-converged prefix when the
    * cap bites first). This reverses the r8 rejection after an A/B
    * measurement (PLANS.md "kCore early-stop probe"): at sf0.1 the
    * peel converges in 3 rounds, so the probe trades 4 cheap count
    * jobs on checkpointed edges for 9 full peel rounds — min 2.76 →
    * 2.49 s, med 2.94 → 2.54 s in alternating same-JVM runs. The r8
    * probe-batching lesson warned against RESTRUCTURING plans around
    * probes; a count on an already-checkpointed frame has no such
    * cost. At oracle scales (sf0.01, converges in 10) it is a wash;
    * at corpus scale every skipped round is a full shuffle saved.
    *
    * Input must be SYMMETRIZED (src, dst) edges. Per round: one
    * degree aggregate + two left-semi joins, all keyed shuffles; each
    * round ends in `localCheckpoint()` (the iterative-lineage
    * discipline [[pageRank]] documents). Output: (node, degree) of
    * the surviving subgraph.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 12,
            localEdgeCap: Long = 2000000L): DataFrame = {
    var e = edges.select(col("src"), col("dst")).localCheckpoint()
    var n = e.count()
    // HYBRID FINISH (r13, the boruvkaTrace template): peeling only
    // deletes rows, so the edge frame contracts monotonically and the
    // already-counted checkpoint gives the gate for free. Under the
    // cap, LocalFinish.kCorePeel runs the SAME loop (degree ≥ k over
    // src, both-endpoint filter, row-count convergence probe, same
    // round budget) over the collected rows — bit-identical output
    // whether the budget or the fixpoint stops it (peeling is
    // deterministic), pinned by HybridFinishSpec. Above the cap the
    // distributed peel below is unchanged (the 100 TB path); it also
    // re-checks the gate each round, so a big graph that peels down
    // finishes its tail rounds driver-side instead of paying
    // job-latency on a near-empty frame.
    var r = 0
    var converged = false
    val driverEligible = localEdgeCap > 0 && LocalFinish.allLong(e, "src", "dst")
    while (r < rounds && !converged) {
      if (driverEligible && n <= localEdgeCap) {
        val (out, used) = LocalFinish.kCorePeel(e, k, rounds - r)
        Console.err.println(
          s"[graft] kCore: ${r + used} peel rounds (cap $rounds, " +
            s"driver finish after $r)")
        LocalFinish.release(e) // collected; blocks are dead (ADVICE r15)
        return out
      }
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      val prev = e
      e = e.join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
      // The peeled round's EAGER checkpoint materialized reading prev
      // — prev is dead (r17 cache-hygiene).
      LocalFinish.release(prev)
      val n2 = e.count()
      r += 1
      converged = n2 == n
      n = n2
    }
    Console.err.println(s"[graft] kCore: $r peel rounds (cap $rounds)")
    e.select(col("src").as("node")).groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — how close each node's
    * neighborhood is to a clique: lcc(v) = 2·T(v) / (d(v)·(d(v)−1)),
    * with T(v) the number of triangles through v. The community-density
    * read underneath "is this co-occurrence cluster a real topic or a
    * hub artifact" curation calls (Watts–Strogatz small-world metric).
    *
    * Reuses [[triangles]]' compact-forward enumeration (each triangle
    * exactly once as a < b < c, wedge fan-out bounded by FORWARD
    * degree) — per-node counts are then one union + keyed aggregate
    * over the triangle rows, and the degree frame is a second keyed
    * aggregate over the symmetrized edges. lcc for degree-1 nodes is
    * 0.0 by convention (no possible wedge), not NULL.
    *
    * Scale shape: the two equi-joins of the enumeration (the dominant,
    * already-audited cost), a |nodes|-keyed count, a |nodes|⋈|nodes|
    * equi-join — all keyed shuffles, integer-exact until the one final
    * division. Input: ordered edges (a < b), deduplicated upstream.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    // Five consumers of the edge frame (three enumeration legs + two
    // degree-union scans) — eager localCheckpoint, or pay the
    // pairEdges chain 5× (see [[triangles]]' scaffolding note).
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val t = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("ta"), col("e1.b").as("tb"),
        col("e2.b").as("tc"))
      .join(e.as("e3"),
        col("ta") === col("e3.a") && col("tc") === col("e3.b"))
      .select(col("ta"), col("tb"), col("tc"))
    val triPerNode = t.select(col("ta").as("node"))
      .unionByName(t.select(col("tb").as("node")))
      .unionByName(t.select(col("tc").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(triPerNode, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double")
            / (col("degree").cast("double")
              * (col("degree") - 1).cast("double")), 6))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** DEGREE ASSORTATIVITY — Newman's r: the Pearson correlation of the
    * endpoint degrees over every edge end (both orientations of each
    * undirected edge). r > 0 = hubs link to hubs (social-graph shape),
    * r < 0 = hubs link to leaves (star/bipartite shape) — the one
    * number that says whether degree-aware tricks (salting, forward
    * orientation) will matter on this graph before running anything
    * expensive on it.
    *
    * Determinism: degrees are exact longs, so all five correlation
    * sums shuffle as integers (n ≤ 2|E| edge ends; Σd·d ≤ |E|·dmax²
    * stays inside Long for any graph this engine's edge lists hold);
    * the closed-form double math happens once on the 1-row result —
    * the [[graft.query.Analytics.trendSlope]] discipline. Symmetry
    * makes Σx = Σy and Σx² = Σy², so one pair of sums serves both
    * margins.
    *
    * Scale shape: one keyed degree aggregate, two keyed equi-joins of
    * the edge list against the |nodes|-sized degree frame, one global
    * 1-row aggregate with map-side partials. Input: ordered edges
    * (a < b), deduplicated upstream.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    // Three consumers (two degree-union scans + the edge join leg) —
    // eager localCheckpoint (see [[triangles]]' scaffolding note).
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val joined = e
      .join(deg.select(col("node").as("a"), col("degree").as("da")),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")),
        Seq("b"))
    val s = joined.agg(
      count(lit(1)).as("m"),
      sum(col("da") + col("db")).as("sx"),
      sum(col("da") * col("da") + col("db") * col("db")).as("sxx"),
      sum(col("da") * col("db") * 2L).as("sxy"))
    val n = col("m").cast("double") * 2.0
    val sxD = col("sx").cast("double")
    val num = n * col("sxy").cast("double") - sxD * sxD
    val den = n * col("sxx").cast("double") - sxD * sxD
    s.select(col("m").as("n_edges"),
      round(when(den =!= lit(0.0), num / den), 6).as("assortativity"))
  }

  /** DEGREE GINI — inequality of the degree distribution in one
    * number ([[graft.operators.CorpusStats.giniOfValues]] over node
    * degrees): 0 = regular graph, →1 = a few hubs own the edges. The
    * cheapest pre-flight for "will degree-aware tricks matter here"
    * (the continuous companion to [[degreeProfile]]'s histogram).
    */
  def degreeGini(edges: DataFrame): DataFrame = {
    // Two degree-union scans of the (possibly expensive) edge chain —
    // eager localCheckpoint (see [[triangles]]' scaffolding note).
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("v"))
    CorpusStats.giniOfValues(deg.select(col("v")))
      .withColumnRenamed("n_units", "n_nodes")
      .withColumnRenamed("total", "n_edge_ends")
  }

  /** HUB EDGE SHARE — the fraction of edges touching the top-`k`
    * degree nodes: the direct answer to "how much of this graph's
    * join work lands on hubs" (a high share says salt/forward-orient
    * BEFORE running anything quadratic-in-degree). Hubs via the
    * distributed take-ordered top (degree desc, node — total order),
    * broadcast back as two membership flags; integer counts, one
    * division.
    */
  def hubShare(edges: DataFrame, k: Int = 100): DataFrame = {
    // Three consumers (two degree-union scans + the flag join) —
    // eager localCheckpoint (see [[triangles]]' scaffolding note).
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val hubs = deg.orderBy(col("degree").desc, col("node").asc)
      .limit(k).select(col("node"))
    val flagged = e
      .join(broadcast(hubs.select(col("node").as("a"),
        lit(1L).as("ha"))), Seq("a"), "left")
      .join(broadcast(hubs.select(col("node").as("b"),
        lit(1L).as("hb"))), Seq("b"), "left")
    val tot = deg.agg(count(lit(1)).as("n_nodes"))
    flagged.agg(count(lit(1)).as("n_edges"),
      sum(when(col("ha").isNotNull || col("hb").isNotNull, 1L)
        .otherwise(0L)).as("n_hub_edges"))
      .crossJoin(broadcast(tot))
      .select(col("n_nodes"), col("n_edges"), col("n_hub_edges"),
        round(col("n_hub_edges").cast("double")
          / col("n_edges").cast("double"), 6).as("hub_share"))
  }

  /** NEWMAN MODULARITY of a node partition (Newman & Girvan '04):
    * Q = Σ_c (e_c/m − (d_c/2m)²) — how much denser each community is
    * than a degree-preserving random rewiring. The standard "was this
    * clustering worth anything" audit over whatever partition the
    * caller supplies ([[labelPropagation]] labels here; dedup cluster
    * ids, shard assignments, any (node, label) frame works).
    *
    * Arithmetic contract: with SYMMETRIZED edges every undirected edge
    * appears twice, so `sym_total` = 2m, per-community `degree_sum` =
    * d_c and `within2` = 2·e_c are EXACT integer counts, and both the
    * per-community contribution and the total Q are one double
    * division over exact integers, rounded 6 dp — bit-stable
    * cross-engine (Q from Σwithin2 and Σd_c², never a float sum of
    * per-community doubles, so summation order cannot perturb it).
    * Nodes absent from `communities` count as singletons via
    * `node + singletonOffset` (a partition must cover every endpoint
    * or Q's null model is wrong).
    *
    * Scale shape: two broadcast-or-keyed label joins onto the edge
    * list, ONE keyed aggregate to |communities| rows (map-side
    * partials absorb hot communities), a 1-row total broadcast
    * (allowlisted). The per-community frame is localCheckpoint'd so
    * its two consumers (rows + totals) don't re-run the edge chain.
    * Output: (community, degree_sum, within2, contribution) per
    * community plus a community = -1 total row whose contribution IS
    * Q. At 2m beyond ~3·10⁹ the Σd² term needs the decimal monoid
    * ([[graft.operators.AggState]] idiom) — documented, not defaulted.
    */
  /** PER-COMMUNITY CONDUCTANCE φ(c) = cut(c) / min(vol(c), 2m−vol(c))
    * — the boundary-quality companion to [[modularity]]'s density
    * read: a community can beat the null model (positive Q
    * contribution) while still leaking half its edges; φ is the
    * number bounding how well it would serve as a PARTITION (random-
    * walk escape probability, sharding locality). Same integer
    * surface as modularity: vol = symmetrized degree sum, cut =
    * vol − within2, one division rounded 6 dp. Same plan shape (one
    * keyed aggregate + a 1-row total broadcast, allowlisted);
    * singletons via the same offset convention.
    */
  def conductance(edges: DataFrame, communities: DataFrame,
                  singletonOffset: Long = 1000000L): DataFrame = {
    val per = communityEdgeStats(edges, communities, singletonOffset)
    val tot = per.agg(sum(col("degree_sum")).as("t"))
    per.crossJoin(broadcast(tot))
      .select(col("community"), col("degree_sum").as("volume"),
        (col("degree_sum") - col("within2")).as("cut"),
        round((col("degree_sum") - col("within2")).cast("double")
          / least(col("degree_sum"), col("t") - col("degree_sum"))
            .cast("double"), 6).as("conductance"))
  }

  /** Shared (community, degree_sum, within2) aggregate under
    * [[modularity]] and [[conductance]] — one edge-list scan with the
    * label joins, localCheckpoint'd for its multiple consumers.
    */
  private def communityEdgeStats(edges: DataFrame,
      communities: DataFrame, singletonOffset: Long): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val lab = communities.select(col("node"), col("label"))
    e.join(lab.select(col("node").as("src"), col("label").as("lsrc")),
        Seq("src"), "left")
      .join(lab.select(col("node").as("dst"), col("label").as("ldst")),
        Seq("dst"), "left")
      .select(
        coalesce(col("lsrc"), col("src") + singletonOffset).as("csrc"),
        coalesce(col("ldst"), col("dst") + singletonOffset).as("cdst"))
      .groupBy(col("csrc").as("community"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(when(col("csrc") === col("cdst"), 1L).otherwise(0L))
          .as("within2"))
      .localCheckpoint()
  }

  /** HASH-SHARD EDGE CUT — the partitioning-locality audit for a
    * graph workload: assign nodes to `shards` by a deterministic
    * content hash (the q_shard_assign idiom collapsed to one mod) and
    * report how many symmetrized edges cross shards. cut_fraction ≈
    * 1 − 1/shards says hashing is as bad as random for this graph
    * (expected — hash ignores structure); anything materially lower
    * means the id space already encodes locality. The number that
    * prices "just hash-partition it" against a community-aware
    * layout ([[conductance]] over [[labelPropagation]] labels gives
    * the achievable contrast). One projection + one aggregate.
    */
  def hashShardCut(edges: DataFrame, shards: Int = 16): DataFrame = {
    def shardOf(c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(c.cast("string"), lit(":shard"))),
        1, 15), 16, 10).cast("long") % shards
    val ed = edges.select(col("src"), col("dst"))
    // Hash per NODE and join back: |V| md5s instead of 2|E| (measured
    // 15.8 -> 3.3 s min at sf1), and the node-attribute join is the
    // shape that survives when the shard map is a real table instead
    // of a hash. NO broadcast hint: the node set is data-sized (|V|
    // rows), so forcing it into executor memory is exactly the
    // scale bug the 1-row-broadcast discipline exists to prevent —
    // AQE still auto-broadcasts when the measured side is under the
    // threshold, so the small-graph fast path is not lost.
    val nodes = ed.select(col("src").as("node"))
      .unionByName(ed.select(col("dst").as("node"))).distinct()
      .select(col("node"), shardOf(col("node")).as("shard"))
    val e = ed
      .join(nodes.select(col("node").as("src"),
        col("shard").as("sa")), Seq("src"))
      .join(nodes.select(col("node").as("dst"),
        col("shard").as("sb")), Seq("dst"))
    e.agg(count(lit(1)).as("n_edges2"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
          .as("n_cut2"))
      .select(col("n_edges2"), col("n_cut2"),
        round(col("n_cut2").cast("double")
          / col("n_edges2").cast("double"), 6).as("cut_fraction"))
  }

  def modularity(edges: DataFrame, communities: DataFrame,
                 singletonOffset: Long = 1000000L): DataFrame = {
    val per = communityEdgeStats(edges, communities, singletonOffset)
    val tot = per.agg(sum(col("degree_sum")).as("t"),
      sum(col("within2")).as("sw"),
      sum(col("degree_sum") * col("degree_sum")).as("sdd"))
    per.crossJoin(broadcast(tot))
      .select(col("community"), col("degree_sum"), col("within2"),
        round(col("within2").cast("double") / col("t")
          - (col("degree_sum").cast("double") / col("t"))
            * (col("degree_sum").cast("double") / col("t")), 6)
          .as("contribution"))
      .unionByName(tot.select(lit(-1L).as("community"),
        col("t").as("degree_sum"), col("sw").as("within2"),
        round(col("sw").cast("double") / col("t")
          - col("sdd").cast("double")
            / (col("t").cast("double") * col("t").cast("double")), 6)
          .as("contribution")))
  }

  /** 1-WEISFEILER-LEHMAN color refinement (Weisfeiler & Leman '68 /
    * the WL-test round every GNN paper benchmarks against): start
    * with degree as the node color, then repeatedly re-color each
    * node by hashing (own color | sorted multiset of neighbor
    * colors). The per-round DISTINCT-color count is the refinement
    * curve — how much structural identity the graph's neighborhoods
    * carry (it saturates exactly when 1-WL can no longer split
    * nodes), and the colors themselves are the canonical
    * neighborhood-shape keys used for (sub)graph dedup.
    *
    * Determinism: the multiset is a SORTED integer array rendered to
    * one string, hashed by the 60-bit md5 fingerprint — canonical in
    * any engine; no float anywhere. `maxDegree` drops super-hub
    * nodes from the refinement (their collected neighbor list is the
    * one degree-bounded state in the plan — the documented hot-key
    * cap, mirrored by the twin).
    *
    * Scale shape per round: one keyed join of the color frame onto
    * the symmetrized edges, one per-node sorted collect (state
    * bounded by capped degree), one projection; the output is
    * `rounds`+1 rows of counts. Lineage truncates per round.
    */
  def wlColors(edges: DataFrame, rounds: Int = 2,
               maxDegree: Int = 1000,
               localEdgeCap: Long = 2000000L): DataFrame = {
    val (sym, frames) = wlRefine(edges, rounds, maxDegree, localEdgeCap)
    // The color frames are self-contained on both paths (driver-built
    // locals / eager checkpoints); this reader never touches sym (r17
    // cache-hygiene — it was the one resident orphan here).
    LocalFinish.release(sym)
    def stats(round: Int, cs: DataFrame): DataFrame =
      cs.agg(count(lit(1)).as("n_nodes"),
          countDistinct(col("c")).as("n_colors"))
        .select(lit(round).as("round"), col("n_nodes"),
          col("n_colors"))
    frames.zipWithIndex
      .map { case (f, i) => stats(i, f) }
      .reduce(_ unionByName _)
  }

  /** The shared refinement loop under [[wlColors]] and [[wlClasses]]:
    * the checkpointed symmetrized edge frame plus the color frame
    * after every round (index 0 = degree colors). Eager
    * localCheckpoint instead of cache + caller unpersist (see
    * [[triangles]]' scaffolding note).
    */
  private def wlRefine(edges: DataFrame, rounds: Int, maxDegree: Int,
                       localEdgeCap: Long = 2000000L)
      : (DataFrame, Seq[DataFrame]) = {
    import graft.functions.TextOps
    val e = edges.select(col("a"), col("b"))
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    // HYBRID FINISH (r15): every refinement round is 2 keyed shuffles
    // + a checkpoint over a never-contracting node frame, and the
    // color update is string/integer-exact (md5 fingerprint over the
    // sorted neighbor-color list), so under the cap the whole loop
    // replays driver-side bit-identically (LocalFinish.wlRefineLocal;
    // gate count reads the checkpoint blocks the loop shares).
    if (localEdgeCap > 0 && LocalFinish.allLong(sym, "src", "dst") &&
        sym.count() <= localEdgeCap) {
      Console.err.println("[graft] wlRefine: driver finish")
      // No release(sym) here (ADVICE r15 survey): sym is part of the
      // RETURN value. Both current callers release it themselves (r17)
      // — neither reads it after the refinement frames exist.
      return (sym, LocalFinish.wlRefineLocal(sym, rounds, maxDegree))
    }
    var colors = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
      .filter(col("degree") <= maxDegree)
      .select(col("node"), col("degree").cast("long").as("c"))
      .localCheckpoint()
    var frames = Vector(colors)
    for (_ <- 1 to rounds) {
      val nb = sym
        .join(colors.select(col("node").as("dst"), col("c").as("cn")),
          Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sort_array(collect_list(col("cn"))).as("ns"))
      colors = colors
        .join(nb, Seq("node"), "left")
        .select(col("node"), TextOps.fingerprint64(
          concat(col("c").cast("string"), lit("|"),
            coalesce(array_join(
              transform(col("ns"), _.cast("string")), ","), lit(""))))
          .as("c"))
        .localCheckpoint()
      frames = frames :+ colors
    }
    (sym, frames)
  }

  /** WL STRUCTURAL-EQUIVALENCE CLASSES — the subgraph-dedup readout
    * over [[wlColors]]' final refinement: nodes sharing the final
    * color have (1-WL-)indistinguishable rooted neighborhoods, so
    * each class is a set of structurally-identical local subgraphs —
    * the graph analog of the media exact-dedup digest group. Top-`k`
    * classes by size with the minimal node id as the canonical
    * representative (the dedup keeper rule), selected on the exact
    * integer (n desc, color) order.
    */
  def wlClasses(edges: DataFrame, rounds: Int = 2,
                maxDegree: Int = 1000, k: Int = 20,
                localEdgeCap: Long = 2000000L): DataFrame = {
    val (sym, frames) = wlRefine(edges, rounds, maxDegree, localEdgeCap)
    LocalFinish.release(sym) // unused by this reader — see wlColors
    frames.last.groupBy(col("c").as("color"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("keeper_node"))
      .orderBy(col("n_nodes").desc, col("color"))
      .limit(k)
  }

  /** ADAMIC-ADAR link prediction (Adamic & Adar '03, "Friends and
    * neighbors on the Web") over an ordered edge list (a < b): for
    * every non-adjacent pair (x, y) sharing at least one neighbor,
    * score AA(x,y) = Σ_{z ∈ Γ(x)∩Γ(y)} 1/ln(deg z) — common neighbors
    * weighted inversely by how promiscuous they are. Output: the top-k
    * predicted edges (x < y, not currently edges) with their common-
    * neighbor count and score.
    *
    * Determinism: 1/ln(deg) is a float, and a distributed float sum is
    * order-dependent. The PageRank device applies: each middle node's
    * weight is rounded ONCE to a 1e6 fixed-point long
    * (`round(1e6/ln(deg))`), the per-pair reduction is integer
    * addition, and the final score is one division — bit-identical in
    * any execution order and in the DuckDB twin (the only float op is
    * one `ln` per node on an exact integer degree, the probed-parity
    * surface shared with the KN/PPMI trainers).
    *
    * Scale shape: wedge enumeration is edges⋈edges on the shared
    * middle node — one keyed shuffle, fan-out Σ deg(z)². A hub z of
    * degree d contributes d² wedge rows while its AA weight 1/ln(d)
    * tends to 0, so `maxHubDegree` drops super-hub MIDDLE nodes
    * (endpoints keep them) — the same hot-key cap as the dedup
    * index's `maxDocFreq`, bounding the worst key's fan-out while
    * perturbing only the least-informative addends. The existing-edge
    * exclusion is a broadcast-free keyed anti-join, and top-k is a
    * TakeOrdered on the integer (score, x, y) total order — no global
    * sort.
    */
  def adamicAdar(edges: DataFrame, maxHubDegree: Int = 1000,
                 k: Int = 100): DataFrame = {
    // Three consumers of the (possibly expensive) edge chain: the two
    // wedge legs and the anti-join. Cache, then release after the
    // node-bounded result materializes (r9 advisor discipline).
    val e = edges.select(col("a"), col("b")).cache()
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    // Eligible middles: degree ≥ 2 (a degree-1 node closes no wedge;
    // ln 1 = 0 would also divide by zero) and under the hub cap.
    val mids = deg
      .filter(col("degree") >= 2 && col("degree") <= maxHubDegree)
      .select(col("node"),
        round(lit(1e6) / log(col("degree").cast("double")))
          .cast("long").as("w"))
    val wedges = sym.join(mids, sym("dst") === mids("node"))
      .select(col("src").as("x"), col("node").as("z"), col("w"))
      .join(sym.select(col("src").as("z2"), col("dst").as("y")),
        col("z") === col("z2"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("sw"))
    // Top-k on the EXACT integer (sw desc, x, y) total order — the
    // k-boundary never depends on a cross-engine float rounding.
    val out = wedges
      .join(e, wedges("x") === e("a") && wedges("y") === e("b"),
        "left_anti")
      .orderBy(col("sw").desc, col("x"), col("y"))
      .limit(k)
      .select(col("x"), col("y"), col("n_common"),
        round(col("sw").cast("double") / 1e6, 6).as("aa_score"))
      .localCheckpoint()
    e.unpersist()
    out
  }

  /** BORŮVKA spanning forest (Borůvka 1926 — THE distributed MST
    * algorithm: Kruskal/Prim serialize on a global edge order or a
    * single frontier; Borůvka's "every component grabs its lightest
    * outgoing edge" is embarrassingly parallel per round). With
    * integer weights totally ordered by the CANONICAL key
    * (w, least(src,dst), greatest(src,dst)) — the same key for both
    * orientations of an undirected edge — the forest is UNIQUE, so
    * the trace is engine-exact.
    *
    * PARTIAL contraction by GROUP-LEVEL hooking + pointer doubling
    * (the Shiloach–Vishkin device): each group hooks onto
    * min(self, partner-of-its-picked-edge) — parents strictly
    * decrease along chains, so the hooking graph is a forest with no
    * cycle case at all — then `propSteps` pointer-doubling jumps
    * contract chains of length ≤ 2^propSteps, and nodes relabel
    * through one join on the old label. Because groups move
    * ATOMICALLY (a whole label class adopts one parent), label
    * classes only ever MERGE, and every class stays CONNECTED via
    * picked forest edges — which keeps the cut property valid for
    * every pick (the min edge leaving a connected vertex set is in
    * the MST) and makes "intra-label" PERMANENT, so the edge
    * frontier can safely shed settled edges each round. A full
    * connected-components fixpoint per round would be cheaper in
    * rounds but is not a fixed plan; this trade is what makes the
    * whole trace twin-able as `rounds` unrolled SQL blocks.
    *
    * Returns the per-round merge trace (round, n_groups at round
    * start, n_new_edges, new_weight): deterministic whether or not
    * the forest has converged by round `rounds`; a converged graph
    * shows n_groups = #components and n_new_edges = 0 at the tail.
    * Input: CANONICAL (src, dst, w) edges — src < dst, no self-loops,
    * one integer w per pair.
    *
    * Scale shape per round: two keyed joins of the |V|-row label
    * frame onto the LIVE edge frontier (NO broadcast hints — labels
    * are data-sized; AQE may still broadcast small graphs), one
    * keyed min-struct aggregate, one anti join; the parent table and
    * pointer jumps are |groups|-sized. The frontier and the label
    * frame are localCheckpoint'ed every round (the duplicateClusters
    * lineage lesson).
    *
    * HYBRID FINISH: Borůvka halves the group count every round, so
    * after a few distributed rounds the CONTRACTED graph (one min
    * edge per current-group pair, by the same canonical total order)
    * is tiny even when |V| and |E| are cluster-sized. Once the group
    * count is ≤ `localGroupCap` AND the contracted pair frame fits
    * under `localEdgeCap` rows, both are collected and the remaining
    * rounds run driver-side as an EXACT emulation of the same loop —
    * same canonical pick, same min(g, partner) hooking, same
    * `propSteps` PARTIAL pointer-doubling contraction, same dedup +
    * anti-join against the forest — so the trace stays bit-identical
    * to the unrolled SQL twin while the per-round job latency (the
    * whole cost of late rounds, whose frames are near-empty)
    * disappears. The collects are CONSTANT-bounded (caps, and
    * ≤ rounds×groups cross-forest edges), never data-sized; weights
    * are integral by the trace contract (new_weight is a BIGINT
    * sum), so the long-typed local fold is exact.
    */
  def boruvkaTrace(edges: DataFrame, rounds: Int = 8,
                   propSteps: Int = 2, localGroupCap: Long = 10000L,
                   localEdgeCap: Long = 500000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"), col("w"))
      .localCheckpoint()
    val sym = e.unionByName(e.select(col("dst").as("src"),
      col("src").as("dst"), col("w"))).localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint()
    var mst = e.filter(lit(false)).localCheckpoint()
    // sym, labels, and the empty-forest init (all EAGER) have
    // materialized — the canonical edge checkpoint is never read
    // again (r17 cache-hygiene: q_mst's two resident orphans were e
    // and sym).
    LocalFinish.release(e)
    // The live edge frontier: an edge whose endpoints share a label
    // stays intra-group forever (labels only merge), so each round
    // keeps only the surviving CROSS-label edges — the frame shrinks
    // to near-empty within a few rounds, making late rounds ~free.
    var frontier = sym
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    var done = false
    // n_groups for the next round, folded out of this round's stat
    // collect (countDistinct over the checkpointed parent table) so
    // each distributed round after the first runs one fewer job.
    var nGroupsNext = -1L
    // Driver-side finish state: contracted (g1, g2, w, s1, s2) pair
    // minima keyed by at-switch labels — a FLAT stride-5 Array[Long]
    // (r12 ADVICE: 2M boxed Tuple5 cost hundreds of MB of driver
    // heap; 5 longs/row in one primitive array cost 40 B/row) —
    // at-switch-label → current label, and the canonical forest edges
    // still crossing groups.
    var localPairs: Array[Long] = null
    var localCur: scala.collection.mutable.HashMap[Long, Long] = null
    var localMst: scala.collection.mutable.HashSet[(Long, Long)] = null
    // Gate-retry memory (r12 ADVICE): once the edge gate fails at G
    // groups, don't re-pay the contraction + count() every remaining
    // round — the contracted pair frame shrinks with the group count,
    // so retry only once the groups have at least halved.
    var nextGateGroups = localGroupCap
    // One driver-side round: the distributed loop body verbatim over
    // the collected contracted graph (min over pair minima IS the
    // group min because the canonical key is a total order on edges).
    def driverRound(r: Int): Unit = {
      val nGroups = localCur.valuesIterator.toSet.size.toLong
      val best =
        scala.collection.mutable.HashMap.empty[Long, (Long, Long, Long, Long)]
      def propose(g: Long, w: Long, s1: Long, s2: Long, h: Long): Unit = {
        val keep = best.get(g) match {
          case Some((bw, b1, b2, _)) =>
            bw < w || (bw == w && (b1 < s1 || (b1 == s1 && b2 <= s2)))
          case None => false
        }
        if (!keep) best(g) = (w, s1, s2, h)
      }
      var pi = 0
      while (pi < localPairs.length) {
        val a = localCur(localPairs(pi)); val b = localCur(localPairs(pi + 1))
        if (a != b) {
          val w = localPairs(pi + 2)
          val s1 = localPairs(pi + 3); val s2 = localPairs(pi + 4)
          propose(a, w, s1, s2, b); propose(b, w, s1, s2, a)
        }
        pi += 5
      }
      if (best.isEmpty) {
        stats += ((r.toLong, nGroups, 0L, 0L)); done = true
      } else {
        val picked = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        best.valuesIterator.foreach { case (w, s1, s2, _) =>
          picked((s1, s2)) = w }
        val newEdges = picked.filterNot { case (k, _) => localMst(k) }
        stats += ((r.toLong, nGroups, newEdges.size.toLong,
          newEdges.valuesIterator.sum))
        newEdges.keysIterator.foreach(localMst += _)
        val groups = localCur.valuesIterator.toSet
        var par = groups.iterator.map { g =>
          g -> (best.get(g) match {
            case Some((_, _, _, h)) => math.min(g, h)
            case None => g
          })
        }.toMap
        for (_ <- 1 to propSteps) {
          val p0 = par; par = p0.map { case (g, p) => g -> p0(p) }
        }
        val p1 = par
        localCur.mapValuesInPlace((_, l) => p1(l))
      }
    }
    for (r <- 1 to rounds) if (done) {
      // Converged: no cross-label edges means no picks, identity
      // parents, and unchanged labels — every remaining round is
      // exactly this row (the kCore fixpoint-probe argument), so the
      // trace fills without jobs and stays bit-identical to the
      // twin's fixed unroll.
      stats += ((r.toLong, stats.last._2, 0L, 0L))
    } else if (localPairs != null) {
      driverRound(r)
    } else {
      val nGroups = if (nGroupsNext >= 0L) nGroupsNext
        else labels.select(col("label")).distinct().count()
      val cross = frontier.select(col("src"), col("dst"), col("w"))
        .join(labels.select(col("node").as("src"),
          col("label").as("la")), Seq("src"))
        .join(labels.select(col("node").as("dst"),
          col("label").as("lb")), Seq("dst"))
        .filter(col("la") =!= col("lb"))
        .localCheckpoint()
      // cross (EAGER) materialized reading the previous frontier —
      // round 1's is sym itself; both are dead now.
      LocalFinish.release(frontier)
      frontier = cross
      if (cross.isEmpty) {
        stats += ((r.toLong, nGroups, 0L, 0L))
        done = true
      } else {
      if (nGroups <= nextGateGroups) {
        // Contract: the canonical-min edge per unordered current-group
        // pair — ≤ groups² rows in theory, frontier-bounded in
        // practice; the count() gate keeps the collect constant-sized.
        val contracted = cross.groupBy(
            least(col("la"), col("lb")).as("g1"),
            greatest(col("la"), col("lb")).as("g2"))
          .agg(min(struct(col("w"),
            least(col("src"), col("dst")).as("s1"),
            greatest(col("src"), col("dst")).as("s2"))).as("m"))
          .select(col("g1").cast("long").as("g1"),
            col("g2").cast("long").as("g2"),
            col("m.w").cast("long").as("w"),
            col("m.s1").cast("long").as("s1"),
            col("m.s2").cast("long").as("s2"))
          .localCheckpoint()
        if (contracted.count() <= localEdgeCap) {
          // Forest edges still crossing groups (the partial-contraction
          // long-chain case): ≤ one pick per group per round, so the
          // collect is ≤ rounds × localGroupCap rows.
          val crossMst = mst
            .join(labels.select(col("node").as("src"),
              col("label").as("la")), Seq("src"))
            .join(labels.select(col("node").as("dst"),
              col("label").as("lb")), Seq("dst"))
            .filter(col("la") =!= col("lb"))
            .select(col("src").cast("long").as("s1"),
              col("dst").cast("long").as("s2"))
          val rowsC = contracted.collect()
          localPairs = new Array[Long](rowsC.length * 5)
          var ci = 0
          while (ci < rowsC.length) {
            val row = rowsC(ci)
            localPairs(5 * ci) = row.getLong(0)
            localPairs(5 * ci + 1) = row.getLong(1)
            localPairs(5 * ci + 2) = row.getLong(2)
            localPairs(5 * ci + 3) = row.getLong(3)
            localPairs(5 * ci + 4) = row.getLong(4)
            ci += 1
          }
          localCur = scala.collection.mutable.HashMap(
            labels.select(col("label").cast("long")).distinct()
              .collect().map(x => x.getLong(0) -> x.getLong(0))
              .toSeq: _*)
          localMst = scala.collection.mutable.HashSet(
            crossMst.collect()
              .map(x => (x.getLong(0), x.getLong(1))).toSeq: _*)
          // Switch complete: every remaining round is driver-side and
          // the trace is built from `stats`, so no frame is ever read
          // again — drop their checkpoint blocks now instead of
          // waiting for GC (ADVICE r15). release() walks the plan, so
          // mst's union-of-checkpoints frees each leaf.
          LocalFinish.release(contracted)
          LocalFinish.release(frontier)
          LocalFinish.release(labels)
          LocalFinish.release(mst)
        } else nextGateGroups = nGroups / 2
      }
      if (localPairs != null) {
        driverRound(r)
      } else {
      // Pick per group by the CANONICAL edge key (w, least, greatest):
      // the two orientations of one undirected edge carry the same
      // key, so two mutually-picking groups provably select the SAME
      // cross edge even under tied weights, and the distinct/anti-join
      // dedup below keeps the forest invariant. (Keying on the raw
      // orientation-dependent (w, src, dst) let tied parallel cross
      // edges both enter and close a cycle.) (w, s1, s2) is already a
      // total order on edges — lb rides along only as the hook partner.
      val pickg = cross.groupBy(col("la"))
        .agg(min(struct(col("w"),
          least(col("src"), col("dst")).as("s1"),
          greatest(col("src"), col("dst")).as("s2"),
          col("lb"))).as("m"))
      val newE = pickg
        .select(col("m.s1").as("src"), col("m.s2").as("dst"),
          col("m.w").as("w"))
        .distinct()
        .join(mst, Seq("src", "dst"), "left_anti")
        .localCheckpoint()
      // Group-level hooking: parent(g) = min(g, partner) strictly
      // decreases along chains, so the hooking graph is a forest.
      var par = labels.select(col("label").as("g")).distinct()
        .join(pickg.select(col("la").as("g"),
          least(col("la"), col("m.lb")).as("p")), Seq("g"), "left")
        .select(col("g"), coalesce(col("p"), col("g")).as("p"))
      for (_ <- 1 to propSteps) {
        par = par.as("a")
          .join(par.select(col("g").as("g2"), col("p").as("p2")),
            col("a.p") === col("g2"))
          .select(col("a.g").as("g"), col("p2").as("p"))
      }
      par = par.localCheckpoint()
      // One collect for the round stat AND next round's group count
      // (two 1-row aggregates crossJoined — the allowlisted shape).
      val agg = newE.agg(count(lit(1)).as("n"),
          coalesce(sum(col("w")), lit(0L)).as("sw"))
        .crossJoin(par.agg(countDistinct(col("p")).as("ng")))
        .collect().head
      stats += ((r.toLong, nGroups, agg.getAs[Long]("n"),
        agg.getAs[Long]("sw")))
      nGroupsNext = agg.getAs[Long]("ng")
      // mst stays a UNION of ≤ `rounds` checkpointed frames — shallow
      // lineage without its own per-round checkpoint job.
      mst = mst.unionByName(newE)
      val prevLabels = labels
      labels = labels
        .join(par.select(col("g").as("label"), col("p")), Seq("label"))
        .select(col("node"), col("p").as("label"))
        .localCheckpoint()
      // The label update (EAGER) and the stat collect were par's last
      // readers; the superseded label frame is dead with it.
      LocalFinish.release(par)
      LocalFinish.release(prevLabels)
      }
      }
    }
    // The trace is driver-held; whatever the loop still holds
    // (frontier/labels/forest — all this function's own checkpoints)
    // is dead. No-ops for frames the driver-switch already dropped.
    LocalFinish.release(frontier)
    LocalFinish.release(labels)
    LocalFinish.release(mst)
    stats.toSeq
      .toDF("round", "n_groups", "n_new_edges", "new_weight")
  }

  /** The catalog's Borůvka instance: the MAXIMUM-affinity spanning
    * forest (the Chow–Liu backbone shape) over the supplier co-order
    * graph — w = −(co-order count) turns max affinity into min
    * weight; suppliers per order are line-count-bounded (≤ 7), so
    * the within-order pair join is never quadratic in data size.
    */
  def supplierAffinityEdges(lineitem: DataFrame): DataFrame =
    // r17 lean core (the [[graft.operators.Itemsets.pairEdges]]
    // within-basket shape): one keyed shuffle collapses each order to
    // its sorted distinct supplier set (collect_set = the old
    // pre-distinct), pairs explode per order bounded by (suppliers/
    // order)², and the pair aggregate is the only other exchange. The
    // replaced self-join ran the scan+distinct TWICE (the broadcast
    // build side can't reuse the probe side's exchange) and paid the
    // join fan-out; output is identical — per order, the distinct
    // supplier pairs s1 < s2, counted across orders, w = −count.
    lineitem
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("s"))).as("xs"))
      .select(explode(expr(
        """flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs) - i - 1), y ->
          |    struct(x AS src, y AS dst))))""".stripMargin)).as("p"))
      .groupBy(col("p.src").as("src"), col("p.dst").as("dst"))
      .agg((-count(lit(1))).as("w"))
}
