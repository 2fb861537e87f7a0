package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** r17 pins — the sf1 oracle-differential fix wave. The maxDocFreq
  * hot-shingle cap on [[Dedup.exactJaccardPairs]] is RECALL-ONLY:
  * capped candidate generation, EXACT per-candidate verification
  * through the full index. The first full sf1 differential caught the
  * ≤r16 form scoring capped intersections against uncapped sizes —
  * 0/1269 true pairs survived at cap 50 on the salted substrate, and
  * 39/1269 were lost at candidate level (every shared shingle hot).
  * These tests construct both regimes at toy scale and would fail on
  * the old form.
  */
class Round17OpsSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSet

  test("exact-Jaccard cap is recall-only: a pair sharing hot AND rare " +
    "shingles survives with bit-identical EXACT counts") {
    // 12 boilerplate clones make every boiler trigram hot (df = 14
    // with the mixed docs); the mixed pair (200, 201) overlaps on six
    // hot trigrams plus three rare ones. The <=r16 capped form scored
    // it 3/16 < 0.7 and dropped it; recall-only semantics re-verify
    // the candidate exactly: 9/10.
    val boiler = "h1 h2 h3 h4 h5 h6 h7 h8"
    val corpus = ((1L to 12L).map(i => (i, boiler)) ++ Seq(
      200L -> (boiler + " u1 u2 u3"),
      201L -> (boiler + " u1 u2 u3 u4"))).toDF("doc_id", "text")
    val uncapped = pairs(Dedup.exactJaccardPairs(corpus))
    val capped = pairs(Dedup.exactJaccardPairs(corpus,
      maxDocFreq = Some(10)))
    assert(capped.subsetOf(uncapped), "cap invented pairs")
    assert(capped.contains((200L, 201L, 9L, 10L)),
      s"mixed hot+rare pair must survive the cap with exact counts: $capped")
    // clone-clone pairs share ONLY hot shingles -> the documented
    // recall loss, and the only loss
    assert(uncapped -- capped ==
      (1L to 12L).flatMap(i => ((i + 1) to 12L).map(j =>
        (i, j, 6L, 6L))).toSet,
      "cap lost something beyond the all-hot clone family")
  }

  test("exact-Jaccard cap no-op when nothing is hot: bit-identical " +
    "pair set, and the capped plan's scores are never approximated") {
    val corpus = Seq(
      300L -> "red orange yellow green blue indigo violet ultraviolet",
      301L -> "orange yellow green blue indigo violet ultraviolet",
      302L -> "one two three four five six seven").toDF("doc_id", "text")
    val uncapped = pairs(Dedup.exactJaccardPairs(corpus))
    val capped = pairs(Dedup.exactJaccardPairs(corpus,
      maxDocFreq = Some(10)))
    assert(capped == uncapped && uncapped.nonEmpty)
  }

  test("uncapped defaults across the jaccard-pair consumers: " +
    "splitLeakage and dupRateBySource match their explicitly-uncapped " +
    "forms (the r17 oracle-parity defaults)") {
    val docs = graft.queries.Tables.documents(spark,
      "/root/testdata/sf0.001")
    val sl = Dedup.splitLeakage(
      Dedup.withNearDuplicates(docs)).collect().map(_.toSeq).toSet
    val slExplicit = Dedup.splitLeakage(
      Dedup.withNearDuplicates(docs), maxDocFreq = None)
      .collect().map(_.toSeq).toSet
    assert(sl == slExplicit && sl.nonEmpty)
    val dr = Dedup.dupRateBySource(docs).collect().map(_.toSeq).toSet
    val drExplicit = Dedup.dupRateBySource(docs, maxDocFreq = None)
      .collect().map(_.toSeq).toSet
    assert(dr == drExplicit && dr.nonEmpty)
  }

  // ---- r17 optimization round: ProductQuant.fit hybrid finish ----

  private lazy val emb = graft.queries.Tables.embeddings(spark,
    "/root/testdata/sf0.001")

  test("ProductQuant.fit: driver finish == distributed loop, " +
    "bit-identical codebook (schema + every centroid double)") {
    import graft.operators.ProductQuant
    val corpus = emb.filter(col("vec_id") >= 10)
    val driver = ProductQuant.fit(corpus)
    val dist = ProductQuant.fit(corpus, localFitCap = 0L)
    assert(driver.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Double](2).toVector)).sortBy(t => (t._1, t._2)).toSeq
    assert(rows(driver) === rows(dist))
  }

  test("ProductQuant.fit driver finish: cell-drop and ksub>n edge " +
    "cases match the distributed groupBy semantics") {
    import graft.operators.ProductQuant
    // 6 vectors, ksub=16 > n: init keeps cells 0..5; two identical
    // far-away vectors force early cells to lose all members in some
    // subspace only if distances tie — exercise drop + tie-break by
    // making vecs coincide.
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 6L).map { i =>
      (i, (0 until 64).map(d =>
        if (i < 2) 1.0 else rnd.nextDouble() * 10).toArray.toSeq)
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Double](2).toVector)).sortBy(t => (t._1, t._2)).toSeq
    val driver = ProductQuant.fit(vecs, ksub = 16)
    val dist = ProductQuant.fit(vecs, ksub = 16, localFitCap = 0L)
    assert(rows(driver) === rows(dist))
  }

  test("ProductQuant.fit driver finish on the RESIDUAL frame: " +
    "bit-identical codebook (the ivfPqResidualTopK trainer input, " +
    "where the collect also runs the coarse-assign substrate once)") {
    import graft.operators.{ProductQuant, Quantizer}
    val corpus = emb.filter(col("vec_id") >= 10)
    val cells = Quantizer.fit(corpus, 8, 3).cache()
    val residuals = Quantizer.assign(corpus, cells)
      .join(broadcast(cells), Seq("cell"))
      .select(col("vec_id"),
        zip_with(transform(col("embedding"), _.cast("double")),
          col("centroid"), _ - _).as("embedding"))
    def cbRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Double](2).toVector)).sortBy(t => (t._1, t._2)).toSeq
    assert(cbRows(ProductQuant.fit(residuals)) ===
      cbRows(ProductQuant.fit(residuals, localFitCap = 0L)))
    cells.unpersist()
  }

  test("pageRank string-keyed driver finish == distributed loop " +
    "(the textRank word graph path), bit-identical ranks") {
    import graft.operators.Graph
    val rnd = new scala.util.Random(31)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val pairs = (1 to 400).map { _ =>
      (words(rnd.nextInt(words.length)), words(rnd.nextInt(words.length)))
    }.filter(p => p._1 != p._2).toDF("src", "dst").distinct()
    val sym = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0),
        r.getDouble(1))).sortBy(_._1).toSeq
    val driver = Graph.pageRank(sym, 5)
    val dist = Graph.pageRank(sym, 5, localEdgeCap = 0L)
    assert(driver.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(rows(driver) === rows(dist) && rows(driver).nonEmpty)
  }

  // ---- r17 optimization round: lean-core pair folds ----

  test("supplierAffinityEdges fold == the replaced distinct self-join " +
    "form, identical (src, dst, w) multiset on real lineitem") {
    import graft.operators.Graph
    val li = graft.queries.Tables.lineitem(spark,
      "/root/testdata/sf0.001")
    val pairs = li
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
      .distinct()
    val old = pairs.as("x").join(pairs.as("y"),
        col("x.ok") === col("y.ok") && col("x.s") < col("y.s"))
      .groupBy(col("x.s").as("src"), col("y.s").as("dst"))
      .agg((-count(lit(1))).as("w"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet
    val neu = Graph.supplierAffinityEdges(li)
    assert(neu.schema.map(f => (f.name, f.dataType)) ===
      old.schema.map(f => (f.name, f.dataType)))
    assert(rows(neu) === rows(old) && rows(neu).nonEmpty)
  }

  test("exactJaccardPairs posting fold == the replaced postings " +
    "self-join form, identical scored pair set on the near-dup corpus") {
    val corpus = Dedup.withNearDuplicates(
      graft.queries.Tables.documents(spark, "/root/testdata/sf0.001"))
    val shAll = Dedup.shingleIndex(corpus)
    val interOld = shAll.as("a")
      .join(shAll.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("intersect_n"))
    val sz = shAll.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val old = interOld
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("union_n",
        col("sa.sz") + col("sb.sz") - col("intersect_n"))
      .filter(col("intersect_n") * 10 >= col("union_n") * 7)
      .select(col("doc_a"), col("doc_b"), col("intersect_n"),
        col("union_n"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    val neu = Dedup.exactJaccardPairs(corpus)
    assert(neu.schema.map(f => (f.name, f.dataType)) ===
      old.schema.map(f => (f.name, f.dataType)))
    assert(rows(neu) === rows(old) && rows(neu).nonEmpty)
  }

  test("winnowCandidatePairs posting fold == the replaced fp-keyed " +
    "self-join form, identical (doc_a, doc_b, shared_fps) set") {
    import graft.functions.TextOps
    val corpus = Dedup.withNearDuplicates(
      graft.queries.Tables.documents(spark, "/root/testdata/sf0.001"))
    val fps = corpus.select(col("doc_id"),
      explode(TextOps.winnowNative(col("text"), 3, 4)).as("fp"))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select(col("fp"))
    val pruned = fps.join(rare, Seq("fp"))
    val a = pruned.select(col("fp"), col("doc_id").as("doc_a"))
    val b = pruned.select(col("fp"), col("doc_id").as("doc_b"))
    val old = a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet
    val neu = Dedup.winnowCandidatePairs(corpus)
    assert(neu.schema.map(f => (f.name, f.dataType)) ===
      old.schema.map(f => (f.name, f.dataType)))
    assert(rows(neu) === rows(old) && rows(neu).nonEmpty)
  }

  test("prefixFilteredPairs == exactJaccardPairs scored pair set " +
    "(the shared output contract survives the r17 candidate fold)") {
    val corpus = Dedup.withNearDuplicates(
      graft.queries.Tables.documents(spark, "/root/testdata/sf0.001"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    val viaPrefix = rows(Dedup.prefixFilteredPairs(corpus))
    val viaExact = rows(Dedup.exactJaccardPairs(corpus))
    assert(viaPrefix === viaExact && viaPrefix.nonEmpty)
  }

  // Graph operators use their edge frame as given (Graph's scaladoc):
  // each production edge builder must hand them a set of rows.
  test("production graph edge builders return sets at sf0.001 " +
    "(purchaseEdges, directedPurchaseEdges, pairEdges, q_kcore's " +
    "symmetrized pairs)") {
    import graft.operators.{Graph, Itemsets}
    val d = "/root/testdata/sf0.001"
    val o = graft.queries.Tables.orders(spark, d)
    val li = graft.queries.Tables.lineitem(spark, d)
    val p = Itemsets.pairEdges(li, "l_orderkey", "l_partkey")
    val builders = Seq(
      "purchaseEdges" -> Graph.purchaseEdges(o, li),
      "directedPurchaseEdges" -> Graph.directedPurchaseEdges(o, li),
      "pairEdges" -> p,
      "symmetrized pairEdges" ->
        p.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(p.select(col("b").as("src"), col("a").as("dst"))))
    for ((name, e) <- builders) {
      val n = e.count()
      assert(n > 0, s"$name is empty")
      assert(e.distinct().count() === n, s"$name repeats a row")
    }
  }

  test("supplierAffinityEdges is canonical at sf0.001: src < dst on " +
    "every row, no (src, dst) pair repeats") {
    import graft.operators.Graph
    val e = Graph.supplierAffinityEdges(
      graft.queries.Tables.lineitem(spark, "/root/testdata/sf0.001"))
    val n = e.count()
    assert(n > 0)
    assert(e.filter(col("src") >= col("dst")).count() === 0L)
    assert(e.select(col("src"), col("dst")).distinct().count() === n)
  }
}
