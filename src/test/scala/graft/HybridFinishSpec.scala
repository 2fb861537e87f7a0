package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}

/** Driver-finish / distributed parity for the contracting iterative
  * family (VERDICT r12 #1): every operator that grew a cap-gated
  * driver finish in r13 must produce a result set IDENTICAL to its
  * distributed loop. `localEdgeCap = 0` disables the hybrid, so each
  * test runs the same input down both paths and compares sorted rows.
  * Graphs are seeded-random with tied structures (multiple components,
  * chains, cliques, isolated self-loops) to exercise the tie-break
  * and node-set edge cases, not just the happy path.
  */
class HybridFinishSpec extends SparkSpec {
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toSeq.sortBy(_.mkString("|"))

  private def assertSame(hybrid: DataFrame, dist: DataFrame): Unit = {
    assert(hybrid.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(sorted(hybrid) === sorted(dist))
  }

  /** Seeded random pair graph: chains + a clique + isolated nodes. */
  private def randomPairs(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val chains = (1 to n).map { _ =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
      (a, b)
    }
    // A 5-clique far from the random block, plus one self-loop pair.
    val clique = for (i <- 900L to 904L; j <- 900L to 904L if i < j)
      yield (i, j)
    (chains ++ clique ++ Seq((777L, 777L)))
      .toDF("doc_a", "doc_b")
  }

  test("duplicateClusters: driver finish == distributed fixpoint") {
    val pairs = randomPairs(13, 300)
    assertSame(
      Dedup.duplicateClusters(pairs),
      Dedup.duplicateClusters(pairs, localEdgeCap = 0L))
  }

  test("duplicateClusters keeps self-loop-only nodes on both paths") {
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("doc_a", "doc_b")
    for (cap <- Seq(0L, 1000L)) {
      val out = Dedup.duplicateClusters(pairs, localEdgeCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(out === Seq((1L, 1L), (2L, 1L), (5L, 5L)), s"cap=$cap")
    }
  }

  test("connectedComponentsStar: driver finish == distributed fixpoint") {
    val pairs = randomPairs(29, 300)
    assertSame(
      Dedup.connectedComponentsStar(pairs),
      Dedup.connectedComponentsStar(pairs, localEdgeCap = 0L))
  }

  test("connectedComponentsStar drops self-loop-only nodes on both paths") {
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("doc_a", "doc_b")
    for (cap <- Seq(0L, 1000L)) {
      val out = Dedup.connectedComponentsStar(pairs, localEdgeCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(out === Seq((1L, 1L), (2L, 1L)), s"cap=$cap")
    }
  }

  /** Symmetrized random graph for the kCore/labelProp tests. */
  private def randomEdges(seed: Int, n: Int): DataFrame = {
    val p = randomPairs(seed, n)
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  test("kCore: driver finish == distributed peel (converged)") {
    val e = randomEdges(41, 400)
    assertSame(Graph.kCore(e, 3), Graph.kCore(e, 3, localEdgeCap = 0L))
  }

  test("kCore: budget-capped prefix matches round for round") {
    val e = randomEdges(53, 400)
    for (budget <- 1 to 3)
      assertSame(Graph.kCore(e, 3, rounds = budget),
        Graph.kCore(e, 3, rounds = budget, localEdgeCap = 0L))
  }

  test("labelPropagation: driver finish == distributed rounds") {
    val e = randomEdges(67, 400)
    val seeds = Seq((0L, 10L), (3L, 20L), (900L, 30L), (77L, 20L))
      .toDF("node", "label")
    for (rounds <- 1 to 3)
      assertSame(
        Graph.labelPropagation(e, seeds, rounds),
        Graph.labelPropagation(e, seeds, rounds, localEdgeCap = 0L))
  }

  test("labelPropagation tie-break (max count, then min label) on both paths") {
    // Node 9 hears label 1 once (from 1) and label 2 once (from 2):
    // tie on count → min label 1. Node 8 hears label 2 twice → 2.
    val e = Seq((1L, 9L), (2L, 9L), (2L, 8L), (3L, 8L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 1L), (2L, 2L), (3L, 2L)).toDF("node", "label")
    for (cap <- Seq(0L, 1000L)) {
      val out = Graph.labelPropagation(e, seeds, rounds = 1,
          localEdgeCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(out === Seq((1L, 1L), (2L, 2L), (3L, 2L), (8L, 2L), (9L, 1L)),
        s"cap=$cap")
    }
  }

  test("labelPropagation: duplicate and multi-label seeds on both paths") {
    // Node 1 is seeded TWICE with the same label (exact dup — a no-op
    // after the distinct) and node 2 carries TWO different labels:
    // the distributed lab frame keeps both of node 2's rows forever
    // and spreads both each round; the driver emulation must too.
    val e = Seq((1L, 9L), (2L, 9L), (2L, 8L), (9L, 7L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 5L), (1L, 5L), (2L, 3L), (2L, 6L))
      .toDF("node", "label")
    for (rounds <- 1 to 3)
      assertSame(
        Graph.labelPropagation(e, seeds, rounds),
        Graph.labelPropagation(e, seeds, rounds, localEdgeCap = 0L))
    // Pin the round-1 set: node 9 hears {5 (from 1), 3 and 6 (from
    // 2)} — tie on count, min label 3; node 8 hears {3, 6} → 3; node
    // 2's two seed rows both survive.
    val out = Graph.labelPropagation(e, seeds, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out === Seq((1L, 5L), (2L, 3L), (2L, 6L), (8L, 3L), (9L, 3L)))
  }

  test("hits: driver finish == distributed fixed-point rounds") {
    // Directed, NOT symmetrized — hubs and authorities must differ.
    val e = randomPairs(71, 500)
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    for (iters <- Seq(1, 3, 5))
      assertSame(Graph.hits(e, iters),
        Graph.hits(e, iters, localEdgeCap = 0L))
  }

  test("pageRank: driver finish == distributed fixed-point rounds") {
    val e = randomEdges(79, 500)
    for (iters <- Seq(1, 5))
      assertSame(Graph.pageRank(e, iters),
        Graph.pageRank(e, iters, localEdgeCap = 0L))
    // Dangling mass: a directed chain with a pure sink.
    val chain = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    assertSame(Graph.pageRank(chain),
      Graph.pageRank(chain, localEdgeCap = 0L))
  }

  test("personalizedPageRank: driver finish == distributed, " +
    "off-graph seeds count toward |S|") {
    val e = randomEdges(83, 500)
    // 5000 is not a node of the graph — it still inflates |S| in the
    // teleport denominator on both paths.
    val seeds = Seq(0L, 3L, 17L, 5000L).toDF("node")
    for (iters <- Seq(1, 5))
      assertSame(Graph.personalizedPageRank(e, seeds, iters),
        Graph.personalizedPageRank(e, seeds, iters, localEdgeCap = 0L))
  }

  test("weightedPageRank: driver finish == distributed, " +
    "per-(src,weight) memoized rounds") {
    val rnd = new scala.util.Random(97)
    val e = (1 to 600).map { _ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong,
        (rnd.nextInt(5) + 1).toLong)
    }.toDF("src", "dst", "weight")
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
    for (iters <- Seq(1, 5))
      assertSame(Graph.weightedPageRank(e, iters),
        Graph.weightedPageRank(e, iters, localEdgeCap = 0L))
  }

  test("bfsHops: driver finish == distributed frontier rounds") {
    val e = randomEdges(101, 400)
    // 4444 is an off-graph seed — it must still appear at dist 0.
    val seeds = Seq(0L, 17L, 4444L).toDF("node")
    for (hops <- Seq(1, 2, 4))
      assertSame(Graph.bfsHops(e, seeds, hops),
        Graph.bfsHops(e, seeds, hops, localEdgeCap = 0L))
  }

  test("diameterTwoSweep: one-collect driver finish == composed sweeps") {
    val e = randomEdges(103, 400)
    val seeds = Seq(0L, 23L).toDF("node")
    for (hops <- Seq(2, 6))
      assertSame(Graph.diameterTwoSweep(e, seeds, hops),
        Graph.diameterTwoSweep(e, seeds, hops, localEdgeCap = 0L))
    // Empty seed set: both paths produce the same empty frame.
    val none = Seq.empty[Long].toDF("node")
    assertSame(Graph.diameterTwoSweep(e, none, 4),
      Graph.diameterTwoSweep(e, none, 4, localEdgeCap = 0L))
  }

  test("wlColors/wlClasses: driver WL refinement == distributed rounds") {
    // a<b pairs with a clique (degree variety) + hub-capped drop path.
    val p = randomPairs(109, 300)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    for (rounds <- Seq(1, 2, 3)) {
      assertSame(Graph.wlColors(p, rounds),
        Graph.wlColors(p, rounds, localEdgeCap = 0L))
      assertSame(Graph.wlClasses(p, rounds),
        Graph.wlClasses(p, rounds, localEdgeCap = 0L))
    }
    // maxDegree binding: hubs drop from the color frame on both paths.
    assertSame(Graph.wlClasses(p, 2, maxDegree = 3),
      Graph.wlClasses(p, 2, maxDegree = 3, localEdgeCap = 0L))
  }

  test("over-cap fallback (cap=1): checkpoint-gated distributed path " +
    "== ineligible path (cap=0)") {
    // cap=1 takes the THIRD path: eligible, checkpoint built, gate
    // FAILS, distributed loop runs on the checkpoint blocks — distinct
    // from both the driver finish (default cap) and the ineligible
    // path (cap=0, no checkpoint). r15's gate restructure made this
    // path real; pin it for every restructured operator.
    val e = randomEdges(131, 300)
    val seeds = Seq(0L, 17L).toDF("node")
    val labels = Seq((0L, 10L), (3L, 20L)).toDF("node", "label")
    val w = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (1L, 3L, 5L))
      .toDF("src", "dst", "weight")
    val pairs = randomPairs(137, 200)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    assertSame(Graph.pageRank(e, 2, localEdgeCap = 1L),
      Graph.pageRank(e, 2, localEdgeCap = 0L))
    assertSame(Graph.personalizedPageRank(e, seeds, 2, localEdgeCap = 1L),
      Graph.personalizedPageRank(e, seeds, 2, localEdgeCap = 0L))
    assertSame(Graph.weightedPageRank(w, 2, localEdgeCap = 1L),
      Graph.weightedPageRank(w, 2, localEdgeCap = 0L))
    assertSame(Graph.hits(e, 2, localEdgeCap = 1L),
      Graph.hits(e, 2, localEdgeCap = 0L))
    assertSame(Graph.bfsHops(e, seeds, 3, localEdgeCap = 1L),
      Graph.bfsHops(e, seeds, 3, localEdgeCap = 0L))
    assertSame(Graph.diameterTwoSweep(e, seeds, 4, localEdgeCap = 1L),
      Graph.diameterTwoSweep(e, seeds, 4, localEdgeCap = 0L))
    assertSame(Graph.labelPropagation(e, labels, 2, localEdgeCap = 1L),
      Graph.labelPropagation(e, labels, 2, localEdgeCap = 0L))
    assertSame(Graph.wlColors(pairs, 2, localEdgeCap = 1L),
      Graph.wlColors(pairs, 2, localEdgeCap = 0L))
    assertSame(Graph.wlClasses(pairs, 2, localEdgeCap = 1L),
      Graph.wlClasses(pairs, 2, localEdgeCap = 0L))
  }

  test("kTruss: driver finish == distributed peel (incl. budget cap)") {
    // Ordered a < b edges with an embedded clique (survives k=3) and
    // chains (peel away).
    val p = randomPairs(107, 400)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    for (budget <- Seq(1, 2, 5))
      assertSame(Graph.kTruss(p, 3, budget),
        Graph.kTruss(p, 3, budget, localEdgeCap = 0L))
  }

  test("Quantizer.fit: driver k-means == distributed Lloyd loop") {
    val rnd = new scala.util.Random(113)
    // Duplicate vectors + a tight pair of clusters to exercise the
    // (d2, cell) tie-break and the sorted-fold means.
    val vecs = (0L until 300L).map { id =>
      val base = if (id % 2 == 0) 0.0 else 10.0
      val e = Array.fill(8)((base + rnd.nextInt(100) / 100.0).toFloat)
      (id, e.toSeq)
    }.toDF("vec_id", "embedding")
    for (iters <- Seq(1, 3)) {
      val driver = graft.operators.Quantizer.fit(vecs, 4, iters)
      val dist = graft.operators.Quantizer.fit(vecs, 4, iters,
        localFitCap = 0L)
      assertSame(driver, dist)
    }
  }

  test("boruvkaTrace: primitive-array driver finish keeps the trace") {
    // A weighted graph with tied weights across two components; the
    // lowered default cap + gate-retry path must reproduce the fully
    // distributed trace exactly (the r12 canonical-key guarantee).
    val rnd = new scala.util.Random(71)
    val e = (1 to 200).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong,
        (rnd.nextInt(5) + 1).toLong)
    }.filter(t => t._1 != t._2).toDF("src", "dst", "w")
    assertSame(
      Graph.boruvkaTrace(e, rounds = 6),
      Graph.boruvkaTrace(e, rounds = 6, localGroupCap = 0L))
  }

  test("graph hybrid gates at the cap boundary: cap = n-1, n, n+1 " +
    "match the distributed result, and the driver finish starts at n") {
    // n is the row count each gate compares with the cap: the caller's
    // edge rows, except wlColors, whose gate counts the symmetrized
    // pairs (2 x the a < b input). The seed frames stay far below n,
    // so the edge gate is the binding one. The stderr path line shows
    // which side of the boundary each run took.
    val e = randomEdges(139, 200)
    val d = randomPairs(149, 200)
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a").as("src"), col("doc_b").as("dst")).distinct()
    val p = randomPairs(151, 200)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a").as("a"), col("doc_b").as("b")).distinct()
    val seeds = Seq(0L, 17L).toDF("node")
    val labels = Seq((0L, 10L), (3L, 20L)).toDF("node", "label")
    val (nE, nD, nP) = (e.count(), d.count(), p.count())
    val gates: Seq[(String, Long, Long => DataFrame, String)] = Seq(
      ("pageRank", nE, c => Graph.pageRank(e, 2, localEdgeCap = c),
        "[graft] pageRank: driver finish"),
      ("personalizedPageRank", nE,
        c => Graph.personalizedPageRank(e, seeds, 2, localEdgeCap = c),
        "[graft] personalizedPageRank: driver finish"),
      ("hits", nD, c => Graph.hits(d, 2, localEdgeCap = c),
        "[graft] hits: driver finish"),
      ("bfsHops", nE, c => Graph.bfsHops(e, seeds, 3, localEdgeCap = c),
        "[graft] bfsHops: driver finish"),
      ("diameterTwoSweep", nE,
        c => Graph.diameterTwoSweep(e, seeds, 4, localEdgeCap = c),
        "[graft] diameterTwoSweep: driver finish"),
      ("labelPropagation", nE,
        c => Graph.labelPropagation(e, labels, 2, localEdgeCap = c),
        "[graft] labelPropagation: driver finish"),
      ("kCore", nE, c => Graph.kCore(e, 3, localEdgeCap = c),
        "driver finish after 0)"),
      ("kTruss", nP, c => Graph.kTruss(p, 3, localEdgeCap = c),
        "driver finish after 0)"),
      ("wlColors", 2 * nP, c => Graph.wlColors(p, 2, localEdgeCap = c),
        "[graft] wlRefine: driver finish"))
    for ((name, n, run, driverLine) <- gates) {
      val dist = run(0L)
      val distRows = sorted(dist)
      for (cap <- Seq(n - 1, n, n + 1)) {
        val err = new java.io.ByteArrayOutputStream()
        val out = Console.withErr(err)(run(cap))
        assert(out.schema.map(f => (f.name, f.dataType)) ===
          dist.schema.map(f => (f.name, f.dataType)), s"$name at cap $cap")
        assert(sorted(out) === distRows, s"$name at cap $cap, n = $n")
        assert(err.toString.contains(driverLine) === (cap >= n),
          s"$name at cap $cap, n = $n: ${err.toString}")
      }
    }
  }
}
