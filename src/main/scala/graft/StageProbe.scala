package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** STAGE-LEVEL wall-time attribution for the catalog's slowest
  * queries (VERDICT r14 #3/#7) — the dedupPipelineAudit timing device
  * promoted to a standalone diagnostic main, so a perf question about
  * a composed query ("is it the substrate, a leg, or the fusion?")
  * is answered by measurement instead of inference from anchor
  * deltas. Each named probe times its stages COLD (fresh plans, SQL
  * cache cleared between stages) and prints one table row per stage.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StageProbe
  *        [probe ...]"  (default: all probes)
  *
  * The stage timings are diagnostic, not benchmarks: stages share the
  * JVM and build on warmed executor code, so compare stages WITHIN a
  * probe, not across runs. One throwaway warm-up action runs before
  * the first timed stage (VERDICT r15 #4): without it the first stage
  * of the first probe absorbs JVM/JIT/codegen warm-up and reads
  * LARGER than the full composed run (the r15 dedup_winnow table
  * needed a "JVM-cold first probe" caveat — this removes the class).
  */
object StageProbe {

  private def timed(label: String)(body: => Long): (String, Double, Long) = {
    val t0 = System.nanoTime()
    val n = body
    (label, (System.nanoTime() - t0) / 1e9, n)
  }

  /** Probe registry as a static (name, body) list so `main` can
    * validate CLI args BEFORE paying Spark startup (ADVICE r15: a
    * typo used to crash with a bare NoSuchElementException after the
    * session was already up). Each body returns one
    * (stage label, seconds, rows materialized) row per stage.
    */
  private val probeDefs: Seq[(String,
      (SparkSession, String) => Seq[(String, Double, Long)])] = {
    import graft.queries.Tables
    def docs(spark: SparkSession, d: String) = Tables.documents(spark, d)
    Seq(
      "link_predict" -> ((spark: SparkSession, d: String) => {
        val edges = graft.operators.Itemsets.pairEdges(
          Tables.lineitem(spark, d), "l_orderkey", "l_partkey")
        val s1 = timed("substrate:pairEdges")(edges.count())
        spark.sqlContext.clearCache()
        val s2 = timed("full:adamicAdar")(
          graft.operators.Graph.adamicAdar(edges).count())
        Seq(s1, s2)
      }),
      "hybrid_rrf" -> ((spark: SparkSession, d: String) => {
        val s1 = timed("leg:bm25TopK")(
          graft.operators.Retrieval.bm25TopK(docs(spark, d), 10).count())
        spark.sqlContext.clearCache()
        val s2 = timed("leg:hashedTextTopK")(
          graft.operators.Similarity.hashedTextTopK(
            docs(spark, d).filter(col("doc_id") % 100 === 0 &&
              col("doc_id") < 1000000L), docs(spark, d), 10).count())
        spark.sqlContext.clearCache()
        val s3 = timed("full:rrfFusion")(
          graft.operators.Retrieval.rrfFusion(docs(spark, d)).count())
        Seq(s1, s2, s3)
      }),
      "rm3_rescore" -> ((spark: SparkSession, d: String) => {
        val s1 = timed("leg:bm25TopK(first pass)")(
          graft.operators.Retrieval.bm25TopK(docs(spark, d), 5).count())
        spark.sqlContext.clearCache()
        val s2 = timed("stage:rm3ExpansionTerms")(
          graft.operators.Retrieval.rm3ExpansionTerms(docs(spark, d))
            .count())
        spark.sqlContext.clearCache()
        val s3 = timed("full:rm3Rescore")(
          graft.operators.Retrieval.rm3Rescore(docs(spark, d)).count())
        Seq(s1, s2, s3)
      }),
      "dedup_winnow_verified" -> ((spark: SparkSession, d: String) => {
        val s1 = timed("stage:winnowCandidatePairs")(
          graft.operators.Dedup.winnowCandidatePairs(
            graft.operators.Dedup.withNearDuplicates(docs(spark, d)))
            .count())
        spark.sqlContext.clearCache()
        val s2 = timed("full:winnowVerifiedPairs")(
          graft.operators.Dedup.winnowVerifiedPairs(
            graft.operators.Dedup.withNearDuplicates(docs(spark, d)))
            .count())
        Seq(s1, s2)
      }),
      // q_dedup_pipeline (VERDICT r15 #3): the three-stage funnel.
      // Stages mirror dedupPipelineAudit's internal segments but COLD
      // and standalone, so "is it the exact stage, the pair index, or
      // the fixpoint?" is read off one table. The corpus construction
      // matches the catalog registration (withNearDuplicates + every
      // 40th doc re-injected as an exact copy).
      "dedup_pipeline" -> ((spark: SparkSession, d: String) => {
        import graft.operators.Dedup
        def corpus = {
          val d0 = docs(spark, d)
          Dedup.withNearDuplicates(d0).unionByName(
            d0.filter(col("doc_id") % 40 === 0)
              .select((col("doc_id") + 2000000L).as("doc_id"),
                col("text")))
        }
        def kept = {
          val c = corpus
          c.groupBy(graft.functions.TextOps.fingerprintMd5(col("text"))
              .as("fp"))
            .agg(min(col("doc_id")).as("doc_id"))
            .join(c, Seq("doc_id"))
            .select(col("doc_id"), col("text"))
        }
        val s1 = timed("stage:exact_keep(fingerprint)")(kept.count())
        spark.sqlContext.clearCache()
        val s2 = timed("stage:jaccardPairs(on kept)")(
          Dedup.exactJaccardPairs(kept).count())
        spark.sqlContext.clearCache()
        val s3 = timed("stage:cluster_fixpoint")(
          Dedup.clusterRepresentatives(kept,
            Dedup.exactJaccardPairs(kept))
            .filter(col("is_rep")).count())
        spark.sqlContext.clearCache()
        val s4 = timed("full:dedupPipelineAudit")(
          Dedup.dedupPipelineAudit(corpus).count())
        Seq(s1, s2, s3, s4)
      }),
      // q_modularity (r16): the slowest remaining query without a
      // stage table — substrate (purchase edges), the LP fixpoint on
      // it, then the full composed Q readout, so "is it the edges,
      // the rounds, or the stats?" reads off one table.
      "modularity" -> ((spark: SparkSession, d: String) => {
        import graft.queries.Tables
        import graft.operators.Graph
        def edges = Graph.purchaseEdges(
          Tables.orders(spark, d), Tables.lineitem(spark, d))
        def seeds = Tables.supplier(spark, d)
          .filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") * 2L + 1L).as("node"),
            col("s_nationkey").cast("long").as("label"))
        val s1 = timed("substrate:purchaseEdges")(edges.count())
        spark.sqlContext.clearCache()
        val s2 = timed("stage:labelPropagation")(
          Graph.labelPropagation(edges, seeds).count())
        spark.sqlContext.clearCache()
        val s3 = timed("full:modularity")({
          val e = edges.localCheckpoint()
          Graph.modularity(e, Graph.labelPropagation(e, seeds)).count()
        })
        Seq(s1, s2, s3)
      }),
      // q_mst (r17): substrate (supplier co-order affinity edges) vs
      // the Borůvka hybrid on top of it — "is it the self-join pair
      // generation or the contraction rounds?" off one table.
      "mst" -> ((spark: SparkSession, d: String) => {
        import graft.queries.Tables
        import graft.operators.Graph
        val s1 = timed("substrate:supplierAffinityEdges")(
          Graph.supplierAffinityEdges(Tables.lineitem(spark, d)).count())
        spark.sqlContext.clearCache()
        val s2 = timed("full:boruvkaTrace")(
          Graph.boruvkaTrace(Graph.supplierAffinityEdges(
            Tables.lineitem(spark, d))).count())
        Seq(s1, s2)
      }),
      // q_dedup_jaccard (r17): the uncapped exact chain decomposed —
      // index explode, pair self-join + count, then the full chain
      // with the sizes attach — so the next cut targets the stage
      // that actually owns the wall-clock.
      "dedup_jaccard" -> ((spark: SparkSession, d: String) => {
        import graft.operators.Dedup
        def corpus = Dedup.withNearDuplicates(docs(spark, d))
        val s1 = timed("stage:shingleIndex")(
          Dedup.shingleIndex(corpus).count())
        spark.sqlContext.clearCache()
        val s2 = timed("stage:pairIntersections")({
          val sh = Dedup.shingleIndex(corpus)
          sh.as("a")
            .join(sh.as("b"),
              col("a.shingle") === col("b.shingle") &&
                col("a.doc_id") < col("b.doc_id"))
            .groupBy(col("a.doc_id").as("doc_a"),
              col("b.doc_id").as("doc_b"))
            .agg(count(lit(1)).as("intersect_n"))
            .count()
        })
        spark.sqlContext.clearCache()
        val s3 = timed("full:exactJaccardPairs")(
          Dedup.exactJaccardPairs(corpus).count())
        Seq(s1, s2, s3)
      }),
      // q_dup_rate_by_source (VERDICT r15 #3): pair generation vs the
      // id-mapping/aggregation readout on top of it.
      "dup_rate_by_source" -> ((spark: SparkSession, d: String) => {
        import graft.operators.Dedup
        val s1 = timed("stage:nearDup_substrate")(
          Dedup.withNearDuplicates(docs(spark, d)).count())
        spark.sqlContext.clearCache()
        val s2 = timed("stage:jaccardPairs")(
          Dedup.exactJaccardPairs(
            Dedup.withNearDuplicates(docs(spark, d))).count())
        spark.sqlContext.clearCache()
        val s3 = timed("full:dupRateBySource")(
          Dedup.dupRateBySource(docs(spark, d)).count())
        Seq(s1, s2, s3)
      }))
  }

  private val probeNames: Seq[String] = probeDefs.map(_._1)

  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(probeNames.contains)
    if (unknown.nonEmpty) {
      Console.err.println(
        s"StageProbe: unknown probe(s): ${unknown.mkString(", ")}\n" +
          s"valid probes: ${probeNames.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    // Throwaway warm-up (VERDICT r15 #4): a scan + string explode +
    // hash aggregate + take-ordered over the documents table — the
    // shapes every probe's first stage otherwise pays JIT/codegen for.
    val (_, wsec, _) = timed("warmup") {
      graft.queries.Tables.documents(spark, sfDir)
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(5).count()
    }
    println(f"warmup (untimed stage)            ${wsec}%8.2f s")
    spark.sqlContext.clearCache()
    val byName = probeDefs.toMap
    val names = if (args.isEmpty) probeNames.sorted else args.toSeq
    names.foreach { n =>
      println(s"\n== $n (sf=$sfDir) ==")
      byName(n)(spark, sfDir).foreach { case (label, sec, rows) =>
        println(f"  $label%-32s ${sec}%8.2f s  ($rows%d rows)")
      }
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
