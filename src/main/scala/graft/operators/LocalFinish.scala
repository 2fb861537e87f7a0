package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** CAP-GATED DRIVER FINISHES for the contracting iterative family —
  * the [[Graph.boruvkaTrace]] hybrid template (r12) generalized per
  * VERDICT r12 #1. The shape shared by connected components, k-core
  * peeling and seeded label propagation: every distributed round is a
  * full job barrier (2-4 keyed shuffles + a localCheckpoint + a count)
  * over a frame that is either already small (near-dup pair graphs are
  * pairs-sized, not corpus-sized) or contracts monotonically (peeling
  * only deletes). At local[32] the late rounds are pure job-launch
  * latency; on a 1000-executor cluster they are pure scheduling
  * round-trips. So: once the frame provably fits under an explicit row
  * cap, collect it ONCE into primitive arrays and run the remaining
  * rounds as an EXACT emulation of the same loop — same integer
  * arithmetic, same tie-breaks, same round budget — producing a result
  * bit-identical to the distributed fixpoint (each caller's scaladoc
  * argues why). Above the cap nothing changes: the documented
  * distributed loop runs, so the 100 TB path is untouched.
  *
  * Two disciplines inherited from the Borůvka finish:
  *  - the gate is a count() on an ALREADY-CHECKPOINTED frame (one
  *    cheap job, no recomputation of the expensive upstream), and the
  *    collect reads the same checkpoint blocks;
  *  - driver state is primitive (`Array[Long]`, `LongMap`) — the r12
  *    ADVICE heap lesson: 2M boxed tuples cost hundreds of MB, 2M
  *    longs in flat arrays cost 32 MB.
  *
  * Type gate: the emulations compare and min() node/label values as
  * longs, so the driver path only fires when every keyed column is
  * LongType (every catalog substrate is); anything else falls back to
  * the distributed loop rather than risking a schema or collation
  * mismatch with the DuckDB twin.
  */
object LocalFinish {

  /** All columns LongType — the driver-path eligibility gate. */
  def allLong(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType == LongType)

  /** Collect long columns as one flat row-major array: row i's value
    * for `cols(j)` sits at `i * cols.size + j` (stride 2 for edge
    * pairs, 3 for weighted edges, 1 for a seed column).
    */
  def collectLongs(df: DataFrame, cols: String*): Array[Long] =
    toLongs(df.select(cols.map(col): _*).collect(), cols.size)

  /** BOUNDED [[collectLongs]] for driver-finish gates (r15); None means
    * "over cap — take the distributed path". A parallel count() gates,
    * then a parallel collect() reads the SAME frame — the second action
    * skips the recomputation of any shuffle map stage in the frame's
    * lineage (Spark reuses shuffle files across jobs on one RDD), so the
    * pair cost is ~one reduce pass over an already-written shuffle. The
    * driver path still skips the distributed substrate (join +
    * repartition + sort + cache) entirely.
    *
    * NOT limit(cap+1): a capped collect plans CollectLimitExec, whose
    * executeCollect gathers partitions in SERIAL scale-up waves
    * (1, 4, 16, ... single-threaded row copying) — measured at sf1 as
    * a 2x regression on the graph family (pagerank 22 → 42 s cold)
    * versus the parallel count+collect pair.
    */
  def collectLongsBounded(df: DataFrame, cap: Long,
                          cols: String*): Option[Array[Long]] =
    collectBounded(df, cap, cols)(toLongs(_, cols.size))

  /** The count gate shared by the bounded collects. */
  private def collectBounded[T](df: DataFrame, cap: Long, cols: Seq[String])
      (read: Array[Row] => T): Option[T] = {
    val proj = df.select(cols.map(col): _*)
    if (proj.count() > cap) None else Some(read(proj.collect()))
  }

  private def toLongs(rows: Array[Row], width: Int): Array[Long] = {
    val out = new Array[Long](rows.length * width)
    var k = 0
    var r = 0
    while (r < rows.length) {
      val row = rows(r)
      var j = 0
      while (j < width) { out(k) = row.getLong(j); j += 1; k += 1 }
      r += 1
    }
    out
  }

  /** Drop the storage blocks behind a `localCheckpoint`ed frame whose
    * LAST reader has finished (ADVICE r15): every driver-finish path
    * returns a driver-BUILT result, so the gate checkpoint (up to
    * localEdgeCap rows per query) would otherwise stay resident until
    * ContextCleaner notices the dead reference at the next GC — a
    * silent storage-memory tax on long multi-query sessions. The
    * unpersist is async (blocking = false) and schedules NO job, so
    * the r14 lesson ("no extra jobs exist just to make an unpersist
    * safe") is respected. Call ONLY when the frame can never be read
    * again: a localCheckpoint has no lineage to recompute from, so a
    * released frame is unrecoverable by design. No-op on frames that
    * are not checkpoint-backed.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Spark's `round(double, scale)` EXACTLY — RoundBase goes through
    * the shortest-decimal-repr BigDecimal with HALF_UP, which is NOT
    * `math.round` (floor(x+0.5) differs on reprs like
    * 0.49999999999999994). Every fixed-point emulation below must
    * round through this, or the driver finish silently diverges from
    * the distributed aggregates on boundary values.
    */
  private def sparkRound(x: Double, scale: Int): Double =
    scala.math.BigDecimal(x)
      .setScale(scale, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** `round(x).cast("long")` — the scaled-contribution device. */
  private def roundToLong(x: Double): Long = sparkRound(x, 0).toLong

  /** The distinct sorted node set of a stride-2 edge array. */
  private def nodeIds(flat: Array[Long]): Array[Long] = {
    val seen = new scala.collection.mutable.LongMap[Unit]()
    var i = 0
    while (i < flat.length) { seen(flat(i)) = (); i += 1 }
    val out = new Array[Long](seen.size)
    var j = 0
    seen.foreachKey { k => out(j) = k; j += 1 }
    java.util.Arrays.sort(out)
    out
  }

  /** CONNECTED COMPONENTS, min-label contract: (doc_id, canonical_id =
    * component min) for every node incident to `edges`. Union-find with
    * path halving + a min-per-root pass — the unique CC fixpoint both
    * [[Dedup.duplicateClusters]]' min-label propagation and
    * [[Dedup.connectedComponentsStar]]'s star rounds converge to, so
    * emulation here is output-identity, not trace-identity (neither
    * operator exposes its rounds in the result).
    *
    * `edges` must be two long columns (any orientation, duplicates and
    * self-loops fine — a self-loop registers the node, unions nothing).
    */
  def minComponents(edges: DataFrame, aCol: String, bCol: String,
                    outId: String, outCanonical: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val flat = collectLongs(edges, aCol, bCol)
    val idx = new scala.collection.mutable.LongMap[Int]()
    var nNodes = 0
    var i = 0
    while (i < flat.length) {
      if (!idx.contains(flat(i))) { idx(flat(i)) = nNodes; nNodes += 1 }
      i += 1
    }
    val ids = new Array[Long](nNodes)
    idx.foreachEntry((id, j) => ids(j) = id)
    val parent = Array.tabulate(nNodes)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    i = 0
    while (i < flat.length) {
      val ra = find(idx(flat(i)))
      val rb = find(idx(flat(i + 1)))
      if (ra != rb) {
        // Union by smaller NODE ID at the root — keeps find() depth
        // fine (halving amortizes) and lets the min pass stay trivial.
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
      i += 2
    }
    val minOf = new Array[Long](nNodes)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var j = 0
    while (j < nNodes) {
      val r = find(j)
      if (ids(j) < minOf(r)) minOf(r) = ids(j)
      j += 1
    }
    val out = new Array[(Long, Long)](nNodes)
    j = 0
    while (j < nNodes) { out(j) = (ids(j), minOf(find(j))); j += 1 }
    out.toSeq.toDF(outId, outCanonical)
  }

  /** K-CORE PEEL, exact emulation of [[Graph.kCore]]'s distributed
    * loop from the current edge frame: per round, degree over `src`,
    * keep src-nodes of degree ≥ k, keep rows with BOTH endpoints kept,
    * converge when the row count stops changing, stop at the remaining
    * round budget — so a budget-capped non-converged prefix matches
    * the distributed prefix row-for-row (peeling is deterministic).
    * Returns ((node, degree) of survivors, rounds consumed).
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._
    var flat = collectLongs(edges, "src", "dst")
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val deg = new scala.collection.mutable.LongMap[Long]()
      var i = 0
      while (i < flat.length) {
        deg(flat(i)) = deg.getOrElse(flat(i), 0L) + 1L
        i += 2
      }
      val next = new Array[Long](flat.length)
      var n = 0
      i = 0
      while (i < flat.length) {
        if (deg.getOrElse(flat(i), 0L) >= k &&
            deg.getOrElse(flat(i + 1), 0L) >= k) {
          next(n) = flat(i); next(n + 1) = flat(i + 1); n += 2
        }
        i += 2
      }
      converged = n == flat.length
      flat = java.util.Arrays.copyOf(next, n)
      r += 1
    }
    val deg = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    while (i < flat.length) {
      deg(flat(i)) = deg.getOrElse(flat(i), 0L) + 1L
      i += 2
    }
    val out = deg.toSeq.sortBy(_._1).toDF("node", "degree")
    (out, r)
  }

  /** SEEDED LABEL PROPAGATION, exact emulation of
    * [[Graph.labelPropagation]]'s fixed-round loop: per round, each
    * labeled node spreads its label along out-edges; each receiving
    * node takes the (max count, then min label) winner; seed nodes
    * keep their seed label(s) forever; non-seed nodes carry the
    * current round's winner. Counts, max and min are all exact longs
    * — the same integers the distributed aggregates produce.
    *
    * Duplicate-seed semantics (r13 ADVICE): the distributed `lab`
    * frame is `sd ∪ (win anti-join sd.nodes)`, so a node seeded with
    * SEVERAL distinct labels keeps every seed row in the output and
    * spreads each of them every round; the winner computed for a seed
    * node is discarded. The driver state mirrors that exactly — a
    * per-node label LIST for seeds, a single winner for non-seeds.
    * Per-(dst, label) counts live in nested LongMaps (the r12 boxed
    * driver-heap lesson: no tuple keys at 2M-edge scale).
    */
  def labelPropLocal(edges: DataFrame, seeds: DataFrame,
                     rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val flat = collectLongs(edges, "src", "dst")
    val seedArr = collectLongs(seeds, "node", "label")
    // Seed node → every distinct seed label it carries (the caller
    // distincts the frame, so lists hold no duplicates).
    val seedLab = new scala.collection.mutable.LongMap[List[Long]]()
    var i = 0
    while (i < seedArr.length) {
      seedLab(seedArr(i)) = seedArr(i + 1) :: seedLab.getOrElse(seedArr(i), Nil)
      i += 2
    }
    // Current-round winners for NON-seed nodes only.
    var win = new scala.collection.mutable.LongMap[Long]()
    for (_ <- 1 to rounds) {
      val cnt = new scala.collection.mutable.LongMap[
        scala.collection.mutable.LongMap[Long]]()
      i = 0
      while (i < flat.length) {
        val src = flat(i); val dst = flat(i + 1)
        val ls = seedLab.getOrNull(src)
        if (ls != null) {
          var rest = ls
          while (rest.nonEmpty) {
            val m = cnt.getOrElseUpdate(dst,
              new scala.collection.mutable.LongMap[Long]())
            m(rest.head) = m.getOrElse(rest.head, 0L) + 1L
            rest = rest.tail
          }
        } else win.get(src).foreach { l =>
          val m = cnt.getOrElseUpdate(dst,
            new scala.collection.mutable.LongMap[Long]())
          m(l) = m.getOrElse(l, 0L) + 1L
        }
        i += 2
      }
      // (max count, min label) winner per receiving non-seed node;
      // winners are recomputed fresh each round, exactly like the
      // distributed win frame.
      val next = new scala.collection.mutable.LongMap[Long]()
      cnt.foreachEntry { (node, m) =>
        if (!seedLab.contains(node)) {
          var bc = 0L; var bl = 0L; var first = true
          m.foreachEntry { (l, c) =>
            if (first || c > bc || (c == bc && l < bl)) {
              bc = c; bl = l; first = false
            }
          }
          next(node) = bl
        }
      }
      win = next
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    seedLab.foreachEntry((n, ls) => ls.foreach(l => out += ((n, l))))
    win.foreachEntry((n, l) => out += ((n, l)))
    out.sortBy(identity).toSeq.toDF("node", "label")
  }

  // ---------------------------------------------------------------------
  // SCORE-PROPAGATION FAMILY (r14, VERDICT r13 #1): hits / pageRank /
  // personalizedPageRank / weightedPageRank all run a FIXED number of
  // rounds whose only non-integer steps are (a) one long/long or
  // long/Scale double division per node and (b) one Spark-round of a
  // scaled double to a LONG per contribution — the fixed-point device
  // each operator's scaladoc documents. Both are order-free, so a
  // driver emulation that replays the identical IEEE expression trees
  // (same operand order, same [[sparkRound]]) is bit-identical to the
  // distributed fixpoint; HybridFinishSpec pins each pairing. The
  // loops never contract, so unlike the CC family the WHOLE schedule
  // moves driver-side when the edge frame fits under the cap.
  // ---------------------------------------------------------------------

  /** HITS, exact emulation of [[Graph.hits]]: per round (sequential
    * half-steps), auth sums round(hub·1e9) longs over in-edges then
    * L1-normalizes; hub sums round(auth·1e9) longs over out-edges
    * ditto. Contributions depend only on the source node's score, so
    * the per-edge Spark-round collapses to one round per node.
    * `flat` is the caller's bounded gate collect: the driver path
    * never builds the distributed substrate.
    */
  def hitsLocal(spark: SparkSession, flat: Array[Long], iters: Int)
      : DataFrame = {
    import spark.implicits._
    val nodes = nodeIds(flat)
    val n = nodes.length
    var hub = new scala.collection.mutable.LongMap[Double]()
    var i = 0
    while (i < flat.length) { hub(flat(i)) = 1.0 / n; i += 2 }
    var auth = new scala.collection.mutable.LongMap[Double]()
    for (_ <- 1 to iters) {
      val clH = new scala.collection.mutable.LongMap[Long]()
      hub.foreachEntry((nd, h) => clH(nd) = roundToLong(h * 1e9))
      val aS = new scala.collection.mutable.LongMap[Long]()
      i = 0
      while (i < flat.length) {
        aS(flat(i + 1)) = aS.getOrElse(flat(i + 1), 0L) + clH(flat(i))
        i += 2
      }
      var aTot = 0L
      aS.foreachValue(aTot += _)
      val a = new scala.collection.mutable.LongMap[Double]()
      aS.foreachEntry((nd, s) => a(nd) = s.toDouble / aTot.toDouble)
      auth = a
      val clA = new scala.collection.mutable.LongMap[Long]()
      a.foreachEntry((nd, v) => clA(nd) = roundToLong(v * 1e9))
      val hS = new scala.collection.mutable.LongMap[Long]()
      i = 0
      while (i < flat.length) {
        hS(flat(i)) = hS.getOrElse(flat(i), 0L) + clA(flat(i + 1))
        i += 2
      }
      var hTot = 0L
      hS.foreachValue(hTot += _)
      val h = new scala.collection.mutable.LongMap[Double]()
      hS.foreachEntry((nd, s) => h(nd) = s.toDouble / hTot.toDouble)
      hub = h
    }
    nodes.toSeq.map(nd => (nd,
        sparkRound(hub.getOrElse(nd, 0.0), 6),
        sparkRound(auth.getOrElse(nd, 0.0), 6)))
      .toDF("node", "hub", "auth")
  }

  /** PageRank, exact emulation of [[Graph.pageRank]]: per round each
    * node's contribution round(pr/outdeg·1e12) (one Spark-round per
    * SOURCE node — the per-edge value is per-source constant) sums as
    * longs per destination; pr' = (1−d)/n + d·(s/1e12). `flat` is
    * pre-collected, as for [[hitsLocal]].
    */
  def pageRankLocal(spark: SparkSession, flat: Array[Long], iters: Int,
                    damping: Double): DataFrame = {
    import spark.implicits._
    val (nodes, pr) = pageRankCore(flat, iters, damping)
    nodes.toSeq.map(nd => (nd, sparkRound(pr(nd), 6))).toDF("node", "pr")
  }

  /** The arithmetic shared by the long- and string-keyed PageRank
    * finishes. Every per-round value (round(pr/outdeg·1e12) long
    * contributions, per-destination LONG sums, the (1−d)/n + d·s/1e12
    * update) is independent of the node KEY VALUES — only the graph
    * structure enters — so a driver-side dictionary encoding of
    * non-long keys cannot perturb a single bit of the result.
    */
  private def pageRankCore(flat: Array[Long], iters: Int,
      damping: Double): (Array[Long],
        scala.collection.mutable.LongMap[Double]) = {
    val nodes = nodeIds(flat)
    val n = nodes.length
    val outdeg = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    while (i < flat.length) {
      outdeg(flat(i)) = outdeg.getOrElse(flat(i), 0L) + 1L; i += 2
    }
    val pr = new scala.collection.mutable.LongMap[Double]()
    nodes.foreach(nd => pr(nd) = 1.0 / n)
    for (_ <- 1 to iters) {
      val cl = new scala.collection.mutable.LongMap[Long]()
      outdeg.foreachEntry((nd, od) =>
        cl(nd) = roundToLong(pr(nd) / od * 1e12))
      val sums = new scala.collection.mutable.LongMap[Long]()
      i = 0
      while (i < flat.length) {
        sums(flat(i + 1)) = sums.getOrElse(flat(i + 1), 0L) + cl(flat(i))
        i += 2
      }
      nodes.foreach { nd =>
        pr(nd) = (1.0 - damping) / n +
          damping * (sums.getOrElse(nd, 0L).toDouble / 1e12)
      }
    }
    (nodes, pr)
  }

  /** BOUNDED two-STRING-column collect for the string-keyed PageRank
    * finish (r17): the [[collectLongsBounded]] gate, then a
    * driver-side dictionary encoding — first occurrence order, which
    * is arbitrary but irrelevant because [[pageRankCore]]'s arithmetic
    * never reads key values. Returns the stride-2 encoded pairs + the
    * id→string table.
    */
  def collectStringPairsBounded(df: DataFrame, cap: Long, a: String,
      b: String): Option[(Array[Long], Array[String])] =
    collectBounded(df, cap, Seq(a, b)) { rows =>
      val idx = new scala.collection.mutable.AnyRefMap[String, Long]()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      def id(s: String): Long = idx.getOrElseUpdate(s,
        { val nid = names.length.toLong; names += s; nid })
      val out = new Array[Long](rows.length * 2)
      var i = 0
      while (i < rows.length) {
        out(2 * i) = id(rows(i).getString(0))
        out(2 * i + 1) = id(rows(i).getString(1))
        i += 1
      }
      (out, names.toArray)
    }

  /** String-keyed PageRank finish: [[pageRankCore]] over the encoded
    * pairs, decoded back through the dictionary on output. */
  def pageRankLocalStr(spark: SparkSession, flat: Array[Long],
      names: Array[String], iters: Int, damping: Double): DataFrame = {
    import spark.implicits._
    val (nodes, pr) = pageRankCore(flat, iters, damping)
    nodes.toSeq.map(nd => (names(nd.toInt), sparkRound(pr(nd), 6)))
      .toDF("node", "pr")
  }

  /** Personalized PageRank, exact emulation of
    * [[Graph.personalizedPageRank]]: init and teleport mass are
    * is_seed/|S| (|S| counts the WHOLE distinct seed frame, including
    * seeds outside the graph, exactly like the distributed ns
    * broadcast); contribution device as [[pageRankLocal]]. Both
    * `flat` and `seedArr` are pre-collected, as for [[hitsLocal]].
    */
  def pprLocal(spark: SparkSession, flat: Array[Long],
               seedArr: Array[Long], iters: Int,
               damping: Double): DataFrame = {
    import spark.implicits._
    val nodes = nodeIds(flat)
    val ns = seedArr.length
    val isSeed = new scala.collection.mutable.LongMap[Unit]()
    seedArr.foreach(s => isSeed(s) = ())
    val outdeg = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    while (i < flat.length) {
      outdeg(flat(i)) = outdeg.getOrElse(flat(i), 0L) + 1L; i += 2
    }
    def seedInd(nd: Long): Double = if (isSeed.contains(nd)) 1.0 else 0.0
    val pr = new scala.collection.mutable.LongMap[Double]()
    nodes.foreach(nd => pr(nd) = seedInd(nd) / ns)
    for (_ <- 1 to iters) {
      val cl = new scala.collection.mutable.LongMap[Long]()
      outdeg.foreachEntry((nd, od) =>
        cl(nd) = roundToLong(pr(nd) / od * 1e12))
      val sums = new scala.collection.mutable.LongMap[Long]()
      i = 0
      while (i < flat.length) {
        sums(flat(i + 1)) = sums.getOrElse(flat(i + 1), 0L) + cl(flat(i))
        i += 2
      }
      nodes.foreach { nd =>
        pr(nd) = (1.0 - damping) * seedInd(nd) / ns +
          damping * (sums.getOrElse(nd, 0L).toDouble / 1e12)
      }
    }
    nodes.toSeq.map(nd => (nd, sparkRound(pr(nd), 6))).toDF("node", "pr")
  }

  /** MULTI-SOURCE BFS, exact emulation of [[Graph.bfsHops]]'s frontier
    * loop: integer hop distances, frontier-only expansion, newly seen
    * nodes get round k — all set arithmetic, trivially bit-identical.
    * Seeds outside the edge list still appear at dist 0 (the reached
    * frame starts from the seed set on both paths). Both the edge
    * array and the seed array come from the caller's bounded gate
    * collects — the driver path never builds the distributed substrate
    * (repartition + sort + cache) it would immediately discard.
    */
  def bfsLocal(spark: SparkSession, flat: Array[Long],
               seedArr: Array[Long], maxHops: Int): DataFrame = {
    import spark.implicits._
    val dist = bfsDist(flat, seedArr, maxHops)
    val out = new Array[(Long, Int)](dist.size)
    var j = 0
    dist.foreachEntry((nd, d) => { out(j) = (nd, d); j += 1 })
    out.sortBy(_._1).toSeq.toDF("node", "dist")
  }

  /** The frontier loop itself: integer hop distances over a flat
    * stride-2 edge array — set arithmetic only, order-independent. */
  private def bfsDist(flat: Array[Long], seedArr: Array[Long],
                      maxHops: Int)
      : scala.collection.mutable.LongMap[Int] = {
    val dist = new scala.collection.mutable.LongMap[Int]()
    seedArr.foreach(s => dist(s) = 0)
    var frontier: Array[Long] = seedArr.distinct
    var k = 1
    while (k <= maxHops && frontier.nonEmpty) {
      val inF = new scala.collection.mutable.LongMap[Unit]()
      frontier.foreach(f => inF(f) = ())
      val fresh = new scala.collection.mutable.LongMap[Unit]()
      var i = 0
      while (i < flat.length) {
        if (inF.contains(flat(i)) && !dist.contains(flat(i + 1)))
          fresh(flat(i + 1)) = ()
        i += 2
      }
      val fr = new Array[Long](fresh.size)
      var j = 0
      fresh.foreachKey { nd => dist(nd) = k; fr(j) = nd; j += 1 }
      frontier = fr
      k += 1
    }
    dist
  }

  /** TWO-SWEEP DIAMETER, exact emulation of
    * [[Graph.diameterTwoSweep]]'s composition: sweep 1 from the seed
    * set, far node = (max dist, min node) — the distributed
    * orderBy(dist desc, node asc).limit(1) — then sweep 2 from the
    * far node; output row (far_node, ecc_seed_lb, diameter_lb,
    * n_reached) with the distributed path's exact column types. An
    * empty seed set yields the distributed path's empty frame. */
  def diameterLocal(spark: SparkSession, flat: Array[Long],
                    seedArr: Array[Long], maxHops: Int): DataFrame = {
    import spark.implicits._
    val s1 = bfsDist(flat, seedArr, maxHops)
    if (s1.isEmpty)
      return Seq.empty[(Long, Int, Int, Long)]
        .toDF("far_node", "ecc_seed_lb", "diameter_lb", "n_reached")
    var farNode = Long.MaxValue
    var farDist = -1
    s1.foreachEntry { (nd, d) =>
      if (d > farDist || (d == farDist && nd < farNode)) {
        farDist = d; farNode = nd
      }
    }
    val s2 = bfsDist(flat, Array(farNode), maxHops)
    var dia = 0
    s2.foreachEntry((_, d) => if (d > dia) dia = d)
    Seq((farNode, farDist, dia, s2.size.toLong))
      .toDF("far_node", "ecc_seed_lb", "diameter_lb", "n_reached")
  }

  /** WL COLOR REFINEMENT, exact emulation of [[Graph.wlRefine]]'s
    * loop (r15): colors start as the degree over the SYMMETRIZED pair
    * stream (nodes over `maxDegree` dropped); each round every
    * surviving node's color becomes
    * fingerprint64("c|cn₁,cn₂,…") over its ASCENDING-sorted surviving
    * neighbor colors (no eligible neighbor → "c|", the distributed
    * coalesce-to-empty). fingerprint64 is the first 15 hex chars of
    * the lowercase md5 of the UTF-8 string, parsed base 16 — exactly
    * [[graft.functions.TextOps.fingerprint64]]'s conv(substring(md5))
    * tree, so every round is string/integer-exact. Returns one
    * (node, c) frame per round INCLUDING round 0, matching the
    * distributed frames list; both readouts ([[Graph.wlColors]]'
    * per-round stats, [[Graph.wlClasses]]' top classes) aggregate
    * these frames identically on either path.
    */
  def wlRefineLocal(sym: DataFrame, rounds: Int, maxDegree: Int)
      : Seq[DataFrame] = {
    val spark = sym.sparkSession
    import spark.implicits._
    val flat = collectLongs(sym, "src", "dst")
    val md = java.security.MessageDigest.getInstance("MD5")
    def fp64(s: String): Long = {
      md.reset()
      val h = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val sb = new StringBuilder(15)
      var i = 0
      // 15 hex chars = 7.5 bytes — build from the first 8 bytes.
      while (sb.length < 15) {
        sb.append("%02x".formatLocal(java.util.Locale.ROOT, h(i)))
        i += 1
      }
      java.lang.Long.parseLong(sb.substring(0, 15), 16)
    }
    val deg = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    while (i < flat.length) {
      deg(flat(i)) = deg.getOrElse(flat(i), 0L) + 1L; i += 2
    }
    var colors = new scala.collection.mutable.LongMap[Long]()
    deg.foreachEntry((n, d) => if (d <= maxDegree) colors(n) = d)
    def toFrame(cs: scala.collection.mutable.LongMap[Long]): DataFrame = {
      val out = new Array[(Long, Long)](cs.size)
      var j = 0
      cs.foreachEntry((n, c) => { out(j) = (n, c); j += 1 })
      out.sortBy(_._1).toSeq.toDF("node", "c")
    }
    var frames = Vector(toFrame(colors))
    for (_ <- 1 to rounds) {
      val nbr = new scala.collection.mutable.LongMap[
        scala.collection.mutable.ArrayBuffer[Long]]()
      i = 0
      while (i < flat.length) {
        val s = flat(i); val d = flat(i + 1)
        if (colors.contains(s) && colors.contains(d))
          nbr.getOrElseUpdate(s,
            new scala.collection.mutable.ArrayBuffer[Long]()) += colors(d)
        i += 2
      }
      val next = new scala.collection.mutable.LongMap[Long]()
      colors.foreachEntry { (n, c) =>
        val ns = nbr.get(n).map(_.sorted.mkString(",")).getOrElse("")
        next(n) = fp64(c.toString + "|" + ns)
      }
      colors = next
      frames = frames :+ toFrame(colors)
    }
    frames
  }

  /** k-TRUSS PEEL, exact emulation of [[Graph.kTruss]]'s distributed
    * loop from the current canonical (a < b) edge frame: per round,
    * forward-triangle support per edge (each triangle a<b<c adds one
    * to (a,b), (b,c), (a,c)), keep support ≥ k−2, converge on an
    * unchanged edge count, stop at the remaining round budget; the
    * returned frame carries each survivor's support ON the surviving
    * subgraph (0 where no triangle — matching the distributed left
    * join's coalesce). Returns (result, rounds consumed).
    */
  def kTrussPeel(edges: DataFrame, k: Int, rounds: Int)
      : (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._
    var flat = collectLongs(edges, "a", "b")

    // forward adjacency (a → sorted higher neighbors) of the current
    // edge array; support counts in nested primitive maps.
    def supports(fl: Array[Long])
        : scala.collection.mutable.LongMap[
            scala.collection.mutable.LongMap[Long]] = {
      val adj = new scala.collection.mutable.LongMap[
        scala.collection.mutable.ArrayBuffer[Long]]()
      var i = 0
      while (i < fl.length) {
        adj.getOrElseUpdate(fl(i),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += fl(i + 1)
        i += 2
      }
      val sorted = new scala.collection.mutable.LongMap[Array[Long]]()
      adj.foreachEntry { (n, buf) =>
        val arr = buf.toArray; java.util.Arrays.sort(arr); sorted(n) = arr
      }
      val sup = new scala.collection.mutable.LongMap[
        scala.collection.mutable.LongMap[Long]]()
      def bump(x: Long, y: Long): Unit = {
        val m = sup.getOrElseUpdate(x,
          new scala.collection.mutable.LongMap[Long]())
        m(y) = m.getOrElse(y, 0L) + 1L
      }
      i = 0
      while (i < fl.length) {
        val a = fl(i); val b = fl(i + 1)
        val na = sorted.getOrNull(a)
        val nb = sorted.getOrNull(b)
        if (na != null && nb != null) {
          // sorted-merge intersection of forward neighborhoods
          var p = 0; var q = 0
          while (p < na.length && q < nb.length) {
            if (na(p) < nb(q)) p += 1
            else if (na(p) > nb(q)) q += 1
            else {
              val c = na(p)
              bump(a, b); bump(b, c); bump(a, c)
              p += 1; q += 1
            }
          }
        }
        i += 2
      }
      sup
    }

    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val sup = supports(flat)
      val next = new Array[Long](flat.length)
      var n = 0
      var i = 0
      while (i < flat.length) {
        val s = sup.getOrNull(flat(i))
        val sv = if (s == null) 0L else s.getOrElse(flat(i + 1), 0L)
        if (sv >= k - 2) {
          next(n) = flat(i); next(n + 1) = flat(i + 1); n += 2
        }
        i += 2
      }
      converged = n == flat.length
      flat = java.util.Arrays.copyOf(next, n)
      r += 1
    }
    val finalSup = supports(flat)
    val out = new Array[(Long, Long, Long)](flat.length / 2)
    var i = 0
    while (i < flat.length) {
      val s = finalSup.getOrNull(flat(i))
      out(i / 2) = (flat(i), flat(i + 1),
        if (s == null) 0L else s.getOrElse(flat(i + 1), 0L))
      i += 2
    }
    (out.toSeq.sortBy(t => (t._1, t._2)).toDF("a", "b", "support"), r)
  }

  /** LLOYD'S K-MEANS, exact emulation of [[Quantizer.fit]]'s
    * distributed loop over pre-collected (vec_id, e: Array[Double])
    * rows: init = the k lowest-id vectors as cells 0..k-1; assignment
    * = argmin over cells (ascending) of the SEQUENTIAL left-fold
    * Σ(x−y)² with the (d2, cell) tie-break; re-estimation = per
    * (cell, dim) the ASCENDING-sorted sequential left-fold sum divided
    * by the count — the exact IEEE trees `aggregate`/`sort_array`
    * evaluate distributed, so the trained centroids (and every DuckDB
    * twin that replicates the training) are bit-identical. Cells that
    * lose all members drop from the frame, ids never renumber.
    */
  def kmeansLocal(spark: org.apache.spark.sql.SparkSession,
                  rows: Array[org.apache.spark.sql.Row],
                  k: Int, iters: Int): DataFrame = {
    import spark.implicits._
    val n = rows.length
    val ids = new Array[Long](n)
    val vs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      ids(i) = rows(i).getLong(0)
      vs(i) = rows(i).getSeq[Double](1).toArray
      i += 1
    }
    // sort vectors by vec_id for the lowest-id init
    val order = Array.range(0, n).sortBy(ids)
    var cells: Array[Int] = Array.range(0, math.min(k, n))
    var cents: Array[Array[Double]] =
      order.take(math.min(k, n)).map(vs)
    for (_ <- 1 to iters) {
      // assignment: per vector, min (d2, cell) over ascending cells
      val asg = new Array[Int](n)
      i = 0
      while (i < n) {
        val e = vs(i)
        var best = -1
        var bestD = 0.0
        var c = 0
        while (c < cells.length) {
          val ct = cents(c)
          var d = 0.0
          var j = 0
          while (j < e.length) {
            val t = e(j) - ct(j); d += t * t; j += 1
          }
          if (best < 0 || d < bestD) { best = c; bestD = d }
          c += 1
        }
        asg(i) = best
        i += 1
      }
      // re-estimation: sorted sequential fold per (cell, dim)
      val dim = if (n > 0) vs(0).length else 0
      val newCells = scala.collection.mutable.ArrayBuffer.empty[Int]
      val newCents = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      var c = 0
      while (c < cells.length) {
        val members = (0 until n).filter(asg(_) == c)
        if (members.nonEmpty) {
          val ct = new Array[Double](dim)
          var j = 0
          while (j < dim) {
            val vals = members.map(m => vs(m)(j)).toArray
            java.util.Arrays.sort(vals)
            var s = 0.0
            var q = 0
            while (q < vals.length) { s += vals(q); q += 1 }
            ct(j) = s / vals.length
            j += 1
          }
          newCells += cells(c)
          newCents += ct
        }
        c += 1
      }
      cells = newCells.toArray
      cents = newCents.toArray
    }
    cells.indices.map(c => (cells(c), cents(c).toSeq))
      .toDF("cell", "centroid")
      // match the distributed frame's nullable element type exactly
      .select(col("cell"),
        col("centroid").cast("array<double>").as("centroid"))
  }

  /** PQ SUBSPACE TRAINERS, exact emulation of
    * [[graft.operators.ProductQuant.fit]]'s distributed loop over
    * pre-collected (vec_id, e: Array[Double]) FULL vectors: the m
    * subspace codebooks are trained independently over the local
    * `ds`-dim slices e[s·ds .. s·ds+ds). Init = the `ksub` lowest-id
    * vectors' subvectors as cells 0..ksub−1; assignment = per
    * (vector, subspace) argmin over that subspace's surviving cells
    * (ascending) of the SEQUENTIAL left-fold Σ(x−y)² with the
    * (d2, cell) tie-break; re-estimation = per (subspace, cell, pos)
    * the ASCENDING-sorted sequential left-fold sum divided by the
    * count — the exact IEEE trees the distributed
    * `zip_with`/`aggregate`/`sort_array` pipeline evaluates, so the
    * trained codebooks (and every DuckDB twin replicating the
    * training) are bit-identical. Cells that lose all members drop
    * from that subspace's codebook, ids never renumber — exactly the
    * distributed groupBy semantics.
    */
  def pqKmeansLocal(spark: SparkSession,
                    rows: Array[org.apache.spark.sql.Row],
                    m: Int, ksub: Int, iters: Int, ds: Int): DataFrame = {
    import spark.implicits._
    val n = rows.length
    val ids = new Array[Long](n)
    val vs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      ids(i) = rows(i).getLong(0)
      vs(i) = rows(i).getSeq[Double](1).toArray
      i += 1
    }
    val order = Array.range(0, n).sortBy(ids)
    val k0 = math.min(ksub, n)
    // Per-subspace codebook: ascending cell ids + parallel centroids.
    val cellIds = Array.fill(m)(Array.range(0, k0))
    val cents = Array.tabulate(m) { s =>
      Array.tabulate(k0) { c =>
        java.util.Arrays.copyOfRange(vs(order(c)), s * ds, s * ds + ds)
      }
    }
    for (_ <- 1 to iters) {
      var s = 0
      while (s < m) {
        val cb = cents(s)
        val off = s * ds
        // assignment: argmin (d2, cell) — ascending cells, strict <
        val asg = new Array[Int](n)
        i = 0
        while (i < n) {
          val e = vs(i)
          var best = -1
          var bestD = 0.0
          var c = 0
          while (c < cb.length) {
            val ct = cb(c)
            var d = 0.0
            var j = 0
            while (j < ds) { val t = e(off + j) - ct(j); d += t * t; j += 1 }
            if (best < 0 || d < bestD) { best = c; bestD = d }
            c += 1
          }
          asg(i) = best
          i += 1
        }
        // re-estimation: sorted sequential fold per (cell, pos)
        val keepIds = scala.collection.mutable.ArrayBuffer.empty[Int]
        val keepCts = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        var c = 0
        while (c < cellIds(s).length) {
          val members = (0 until n).filter(asg(_) == c)
          if (members.nonEmpty) {
            val ct = new Array[Double](ds)
            var j = 0
            while (j < ds) {
              val vals = members.map(mm => vs(mm)(off + j)).toArray
              java.util.Arrays.sort(vals)
              var sum = 0.0
              var q = 0
              while (q < vals.length) { sum += vals(q); q += 1 }
              ct(j) = sum / vals.length
              j += 1
            }
            keepIds += cellIds(s)(c)
            keepCts += ct
          }
          c += 1
        }
        cellIds(s) = keepIds.toArray
        cents(s) = keepCts.toArray
        s += 1
      }
    }
    (for (s <- 0 until m; c <- cellIds(s).indices)
      yield (s, cellIds(s)(c), cents(s)(c).toSeq))
      .toDF("m", "cell", "centroid")
      // match the distributed frame's nullable element type exactly
      .select(col("m"), col("cell"),
        col("centroid").cast("array<double>").as("centroid"))
  }

  /** Weighted PageRank, exact emulation of [[Graph.weightedPageRank]]:
    * contribution round(pr·w/wsum·1e12) per EDGE — Spark-rounds are
    * memoized per (source, weight) in nested LongMaps (the boxed-key
    * heap lesson), since a source's contribution is per-weight
    * constant within a round. `flat` is pre-collected, as for
    * [[hitsLocal]], and stride-3 (src, dst, weight).
    */
  def weightedPageRankLocal(spark: SparkSession, flat: Array[Long],
                            iters: Int, damping: Double): DataFrame = {
    import spark.implicits._
    val pairView = new Array[Long](flat.length / 3 * 2)
    var i = 0
    var j = 0
    while (i < flat.length) {
      pairView(j) = flat(i); pairView(j + 1) = flat(i + 1)
      i += 3; j += 2
    }
    val nodes = nodeIds(pairView)
    val n = nodes.length
    val wsum = new scala.collection.mutable.LongMap[Long]()
    i = 0
    while (i < flat.length) {
      wsum(flat(i)) = wsum.getOrElse(flat(i), 0L) + flat(i + 2); i += 3
    }
    val pr = new scala.collection.mutable.LongMap[Double]()
    nodes.foreach(nd => pr(nd) = 1.0 / n)
    for (_ <- 1 to iters) {
      val cl = new scala.collection.mutable.LongMap[
        scala.collection.mutable.LongMap[Long]]()
      val sums = new scala.collection.mutable.LongMap[Long]()
      i = 0
      while (i < flat.length) {
        val src = flat(i); val dst = flat(i + 1); val w = flat(i + 2)
        val perW = cl.getOrElseUpdate(src,
          new scala.collection.mutable.LongMap[Long]())
        val c = perW.getOrElse(w, {
          val v = roundToLong(pr(src) * w / wsum(src) * 1e12)
          perW(w) = v
          v
        })
        sums(dst) = sums.getOrElse(dst, 0L) + c
        i += 3
      }
      nodes.foreach { nd =>
        pr(nd) = (1.0 - damping) / n +
          damping * (sums.getOrElse(nd, 0L).toDouble / 1e12)
      }
    }
    nodes.toSeq.map(nd => (nd, sparkRound(pr(nd), 6))).toDF("node", "pr")
  }
}
