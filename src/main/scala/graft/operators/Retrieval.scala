package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Lexical retrieval scoring — BM25 (Robertson–Spärck Jones), the
  * sparse complement of the dense-ANN family in [[Similarity]]: rank
  * documents for a query set by term-frequency × inverse-document-
  * frequency with the BM25 saturation and length normalization:
  *
  *   score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *   idf(t)      = ln((N − df + 0.5)/(df + 0.5) + 1)        (Lucene form)
  *
  * Here the query set is derived from the corpus itself (the first
  * `queryTerms` distinct tokens of every `queryEvery`-th document), so
  * the whole trainer-free pipeline is a pure function of the corpus the
  * DuckDB oracle replicates end to end.
  *
  * Float surface: idf and the per-term score are scalar double
  * arithmetic (ln probed bit-identical JVM↔DuckDB, same
  * parenthesization both sides); the per-(query, doc) sum folds the
  * term scores VALUE-sorted (sorted-fold idiom — same multiset → same
  * fold, ties are exact duplicates so order within ties is immaterial);
  * the emitted score is rounded to 6 dp.
  *
  * Scale shape: the corpus token stream is semi-joined against the
  * BROADCAST distinct-query-term set before anything shuffles — at
  * 100 TB the tf aggregate sees only tokens that can ever score, a
  * |terms|-selective filter pushed to the scan side. df falls out of
  * tf (one more tiny aggregate over matched terms only); N/total_dl is
  * a 1-row broadcast; the final ranking is a per-query top-k window
  * (rows ≤ matched docs per query), never a global sort. A hot term is
  * a hot counter cell in the partial aggregate, not a hot join row.
  */
object Retrieval {

  /** (query_id, doc_id, rnk, score): BM25 top-k documents per derived
    * query. Documents with no query term overlap never appear.
    *
    * `queryCap` pins the derived panel to the base key universe
    * (doc_id < cap) so the QUERY COUNT stays fixed as the corpus
    * grows — the IR-benchmark contract (a TREC topic set does not grow
    * with the collection). Without it the r8 sf1 probe measured the
    * %-derived panel scaling WITH the corpus: both retrieval legs then
    * do |queries|×|corpus| work — quadratic in data by benchmark
    * construction, not plan shape (q_hybrid_rrf: 176× on 10× data).
    * At the oracle scales every doc_id is below the cap, so the clause
    * is a no-op the DuckDB twin mirrors verbatim.
    */
  def bm25TopK(docs: DataFrame, k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75,
               queryEvery: Int = 100, queryTerms: Int = 3,
               queryCap: Long = 1000000L): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    bm25Scores(toks, derivedQueryTerms(toks, queryEvery, queryTerms,
        queryCap), k1, b)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("score"))
  }

  /** The corpus-derived query panel: first `queryTerms` DISTINCT
    * tokens of every `queryEvery`-th doc below the cap
    * (array_distinct preserves first occurrence).
    */
  private def derivedQueryTerms(toks: DataFrame, queryEvery: Int,
                                queryTerms: Int, queryCap: Long)
      : DataFrame =
    toks
      .filter(col("doc_id") % queryEvery === 0 && col("doc_id") < queryCap)
      .select(col("doc_id").as("query_id"),
        explode(slice(array_distinct(col("t")), 1, queryTerms)).as("token"))

  /** The BM25 scoring chain for an ARBITRARY (query_id, token) term
    * set — factored so the RM3 second pass can re-score with
    * expansion terms through the identical operation tree.
    * Returns (query_id, doc_id, score) for every doc sharing ≥ 1
    * term with the query.
    */
  private def bm25Scores(toks: DataFrame, qterms0: DataFrame,
                         k1: Double, b: Double): DataFrame = {
    // r17 (guide §2.4: duplicated subtrees): the qterms panel is
    // referenced TWICE below (distinct semi-join build + score join),
    // and each broadcast build replays the panel's full derivation —
    // a filtered corpus scan for the derived panel, and in
    // rm3Rescore's SECOND pass the whole expansion chain including
    // its corpus-sized feedback join. The panel is |queries|·terms
    // rows (metadata-sized at any scale: the queryCap pins the panel
    // cardinality), so checkpoint it eagerly and let both references
    // read blocks. Residue is class-1 referenced (the returned plan
    // reads the checkpoint) — swept by the harness, allowlisted in
    // CacheHygiene.expectedResidue.
    val qterms = qterms0.localCheckpoint()
    // 1-row corpus stats: N and total token count (integer-exact).
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("t")).cast("long")).as("total_dl"))
    // Corpus token stream, pre-filtered to query terms BEFORE the tf
    // shuffle; dl rides along to avoid a second corpus-sized join.
    val tok = toks
      .select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("token"))
      .join(broadcast(qterms.select("token").distinct()), Seq("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // All scalar arithmetic happens ENGINE-side (lit() + Column ops, the
    // same operation tree as the oracle SQL) so both engines round each
    // intermediate identically — no Scala-compile-time constant folding
    // that the SQL twin can't reproduce.
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    val idf =
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val termScore = tf
      .join(broadcast(df_), Seq("token"))
      .join(broadcast(qterms), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (idf * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl)))
          .as("ts"))
    termScore.groupBy(col("query_id"), col("doc_id"))
      .agg(round(aggregate(sort_array(collect_list(col("ts"))),
        lit(0.0), _ + _), 6).cast(DecimalType(18, 6)).as("score"))
  }

  /** TEXTRANK keyword extraction (Mihalcea & Tarau '04): PageRank
    * over the word ADJACENCY graph (undirected co-occurrence at
    * window 2 — consecutive token pairs), top-`k` corpus keywords by
    * stationary rank. The graph-centrality keyword signal beside the
    * frequency family (tf-idf / PPMI / distinctive-terms): a term
    * that BRIDGES many contexts outranks a term that merely repeats
    * inside one.
    *
    * Reuses [[graft.operators.Graph.pageRank]] wholesale — the
    * fixed-point integer contribution sums, per-iteration
    * checkpoints, and pinned edge partitioning all apply unchanged
    * with STRING node keys. The adjacency pairs come from one array
    * transform per document (no shuffle before the distinct); the
    * top-k boundary orders on the ROUNDED rank with the token string
    * as tie-break, so the cut is engine-exact.
    */
  def textRank(docs: DataFrame, iters: Int = 5, k: Int = 20)
      : DataFrame = {
    val pairs = docs
      .select(split(col("text"), " ").as("t"))
      .select(explode(expr(
        """transform(slice(t, 1, size(t) - 1),
          |  (x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))"""
          .stripMargin)).as("p"))
      .filter(col("p.w1") =!= col("p.w2"))
      .select(least(col("p.w1"), col("p.w2")).as("a"),
        greatest(col("p.w1"), col("p.w2")).as("b"))
      .distinct()
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    // sym is the edge set pageRank requires: distinct a < b pairs,
    // emitted once per direction, so the two branches never overlap.
    Graph.pageRank(sym, iters)
      .orderBy(col("pr").desc, col("node").asc)
      .limit(k)
      .select(col("node").as("token"), col("pr"))
  }

  /** RAKE keyphrase extraction (Rose et al. '10, "Rapid Automatic
    * Keyword Extraction") — [[textRank]]'s phrase-level sibling:
    * candidate phrases are the maximal stopword-free token runs
    * (the islands-and-gaps window trick: pos − row_number is
    * constant within a run), each word scores degree/frequency
    * (degree = Σ length of phrases containing it, frequency = its
    * phrase occurrences), and a phrase scores the sum of its words'
    * scores. Multi-word domain phrases beat single hot words — the
    * complementary failure mode to PageRank centrality.
    *
    * Determinism: degree and frequency are exact integer counts; the
    * word score snaps ONCE to a 1e-6 fixed-point long, so the phrase
    * sum is an order-free integer sum and the top-k boundary is an
    * exact integer order with the phrase-string tie-break.
    *
    * Scale shape: one posexplode + per-DOC window (state bounded by
    * document length), two keyed aggregates (word stats, phrase
    * instances), a phrase-keyed rollup, a k-row cut.
    */
  def rakeKeyphrases(docs: DataFrame, k: Int = 15): DataFrame = {
    val phrases = rakeCandidates(docs)
    val wstats = phrases
      .select(explode(col("words")).as("word"),
        size(col("words")).as("plen"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wfp",
        round(lit(1e6) * col("deg").cast("double")
          / col("freq").cast("double")).cast("long"))
    phrases
      .select(col("doc_id"), col("grp"), col("phrase"),
        explode(col("words")).as("word"))
      .join(wstats.select(col("word"), col("wfp")), Seq("word"))
      .groupBy(col("doc_id"), col("grp"), col("phrase"))
      .agg(sum(col("wfp")).as("sfp"), count(lit(1)).as("n_words"))
      .groupBy(col("phrase"))
      .agg(max(col("n_words")).as("n_words"),
        count(lit(1)).as("n_occurrences"), max(col("sfp")).as("sfp"))
      .orderBy(col("sfp").desc, col("phrase").asc)
      .limit(k)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        round(col("sfp").cast("double") / lit(1e6), 6).as("score"))
  }

  /** Candidate phrases shared by [[rakeKeyphrases]] and
    * [[distinctivePhrases]]: the maximal stopword-free token runs per
    * document (pos − row_number is constant within a run), with the
    * ordered word array and the space-joined phrase string. One
    * posexplode + one per-DOC window (state bounded by document
    * length) + one keyed aggregate.
    */
  private[graft] def rakeCandidates(docs: DataFrame): DataFrame = {
    val stop = graft.functions.TextOps.Stopwords
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "token")
      .filter(!col("token").isin(stop: _*) && col("token") =!= "")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), (col("pos") - col("rn")).as("grp"))
      .agg(sort_array(collect_list(struct(col("pos"), col("token"))))
        .as("ws"))
      .select(col("doc_id"), col("grp"),
        transform(col("ws"), _.getField("token")).as("words"))
      .withColumn("phrase", concat_ws(" ", col("words")))
  }

  /** DISTINCTIVE PHRASES by weighted log-odds with an informative
    * Dirichlet prior (Monroe, Colaresi & Quinn '08, "Fightin'
    * Words") — the standard two-corpus comparison readout, here over
    * [[rakeCandidates]] phrase instances: which candidate phrases are
    * over-represented in the English slice (corpus A, lang = 'en')
    * versus the rest (corpus B), with pooled-rate shrinkage so rare
    * phrases don't dominate the way they do under the raw
    * log-odds-ratio or PMI?
    *
    * For phrase w with instance counts y_aw / y_bw, corpus totals
    * n_a / n_b, and informative prior α_w = α0·(y_aw+y_bw)/(n_a+n_b):
    *
    *   δ_w  = ln[(y_aw + α_w) / (n_a + α0 − y_aw − α_w)]
    *        − ln[(y_bw + α_w) / (n_b + α0 − y_bw − α_w)]
    *   σ²_w ≈ 1/(y_aw + α_w) + 1/(y_bw + α_w),   z_w = δ_w / σ_w
    *
    * Top-k by |z| with δ's sign giving the direction.
    *
    * Determinism: the counts are exact integers; δ and z are per-row
    * double trees over those integers (no order-dependent folds); the
    * rank key is the rounded DECIMAL(18,6) |z| with the phrase-string
    * tie-break — the exact-boundary device.
    *
    * Scale shape: the [[rakeCandidates]] per-doc window, one
    * phrase-keyed count aggregate, one 1-row total crossJoin
    * broadcast (allowlisted shape), a k-row cut.
    */
  def distinctivePhrases(docs: DataFrame, k: Int = 20,
                         alpha0: Double = 100.0): DataFrame =
    distinctiveFinish(
      rakeCandidates(docs)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").as("is_a")), Seq("doc_id"))
        .groupBy(col("phrase"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ya"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("yb")),
      k, alpha0)

  /** The Monroe log-odds surface over a finished (phrase, ya, yb)
    * count table — a pure function of the counts (the prior and the
    * corpus totals re-derive from Σya/Σyb), so the streaming twin
    * splits at this joint exactly like the decay/CUSUM families.
    */
  private[graft] def distinctiveFinish(counts: DataFrame, k: Int,
                                       alpha0: Double): DataFrame = {
    val tot = counts.agg(sum(col("ya")).as("na"),
      sum(col("yb")).as("nb"))
    counts.crossJoin(broadcast(tot))
      .withColumn("aw", (lit(alpha0)
        * (col("ya") + col("yb")).cast("double")
        / (col("na") + col("nb")).cast("double")))
      .withColumn("delta", (
        log((col("ya").cast("double") + col("aw"))
          / (col("na").cast("double") + lit(alpha0)
            - col("ya").cast("double") - col("aw")))
        - log((col("yb").cast("double") + col("aw"))
          / (col("nb").cast("double") + lit(alpha0)
            - col("yb").cast("double") - col("aw")))))
      .withColumn("z", (col("delta")
        / sqrt(lit(1.0) / (col("ya").cast("double") + col("aw"))
          + lit(1.0) / (col("yb").cast("double") + col("aw")))))
      .withColumn("zr", round(abs(col("z")), 6)
        .cast(DecimalType(18, 6)))
      .orderBy(col("zr").desc, col("phrase").asc)
      .limit(k)
      .select(col("phrase"), col("ya").as("n_en"),
        col("yb").as("n_other"),
        round(col("delta"), 6).as("log_odds"),
        round(col("z"), 6).as("z_score"))
  }

  /** QUERY-LIKELIHOOD retrieval with DIRICHLET smoothing (Zhai &
    * Lafferty '01) — the language-modeling alternative to [[bm25TopK]]
    * over the SAME derived query panel: rank by
    * P(q|d) = Π_t (tf + μ·p(t|C)) / (dl + μ), computed in the
    * efficient log decomposition that enumerates only MATCHING terms:
    *
    *   score = Σ_{t∈q, tf>0} ln(1 + tf·|C| / (μ·cf_t))
    *         + |q|·ln(μ / (dl + μ))
    *
    * (cf_t = corpus frequency, |C| = total corpus tokens). Docs
    * sharing no query term are not scored — the same contract as
    * BM25, and the reason the doc-length prior must ride inside the
    * score: it re-ranks matched docs by length exactly as the full
    * product would.
    *
    * Determinism: the per-term lns are one shared double tree; the
    * per-(query, doc) Σ is the sorted-fold device; the prior is one
    * more add; the rounded DECIMAL(18,6) is the rank key (exact
    * boundary). Scale shape: identical to the BM25 chain — corpus
    * tokens broadcast-semi-joined to query terms BEFORE the tf
    * shuffle; cf/nq are term-vocabulary-sized broadcasts.
    */
  def qlDirichletTopK(docs: DataFrame, k: Int = 5, mu: Double = 300.0,
                      queryEvery: Int = 100, queryTerms: Int = 3,
                      queryCap: Long = 1000000L): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    // r17: the panel is referenced THREE times here (semi-join build,
    // score join, nq aggregate) — same checkpoint rationale as
    // bm25Scores.
    val qterms = derivedQueryTerms(toks, queryEvery, queryTerms,
      queryCap).localCheckpoint()
    val stats = toks.agg(sum(size(col("t")).cast("long"))
      .as("total_dl"))
    val tok = toks
      .select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("token"))
      .join(broadcast(qterms.select("token").distinct()), Seq("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val cf = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    val nq = qterms.groupBy(col("query_id")).agg(count(lit(1)).as("nq"))
    val term = tf
      .join(broadcast(cf), Seq("token"))
      .join(broadcast(qterms), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("dl"),
        log(lit(1.0)
          + (col("tf").cast("double") * col("total_dl").cast("double"))
            / (lit(mu) * col("cf").cast("double"))).as("ts"))
    term.groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("dl")).as("dl"),
        aggregate(sort_array(collect_list(col("ts"))),
          lit(0.0), _ + _).as("s1"))
      .join(broadcast(nq), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(col("s1") + col("nq").cast("double")
          * log(lit(mu) / (col("dl").cast("double") + lit(mu))), 6)
          .cast(DecimalType(18, 6)).as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("score"))
  }

  /** PSEUDO-RELEVANCE-FEEDBACK query expansion (the RM3 candidate
    * stage, Lavrenko & Croft '01 shape): per query, the `m` most
    * frequent terms across its [[bm25TopK]] top-`k0` feedback
    * documents, EXCLUDING the query's own terms — the classic
    * recall lever when the first-pass vocabulary is too narrow.
    * Counting is exact integers; ties break on the token string.
    *
    * Scale shape: the feedback set is |queries|·k0 rows — broadcast
    * onto the corpus token stream, so only feedback documents' tokens
    * ever aggregate (the same pre-filter asymmetry as the BM25 tf
    * pass); the per-query rank window sees ≤ the feedback docs'
    * vocabulary. The expensive part remains the first-pass retrieval
    * itself.
    */
  def rm3ExpansionTerms(docs: DataFrame, k0: Int = 5, m: Int = 5,
                        queryEvery: Int = 100,
                        queryCap: Long = 1000000L): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val scored = bm25Scores(toks,
      derivedQueryTerms(toks, queryEvery, 3, queryCap), 1.2, 0.75)
    rm3ExpansionFromScores(toks, scored, k0, m, queryEvery, queryCap)
  }

  /** The expansion-term selection from an ALREADY-SCORED first pass —
    * factored out (VERDICT r14 #2) so [[rm3Rescore]] computes the
    * first-pass BM25 chain ONCE and shares it between the feedback-doc
    * selection here and its own `s1` interpolation leg, instead of
    * running the identical scored frame twice. The rank window over
    * `scored` is byte-identical to [[bm25TopK]]'s (score desc, doc_id
    * asc), so the feedback set is unchanged.
    */
  private def rm3ExpansionFromScores(toks: DataFrame, scored: DataFrame,
                                     k0: Int, m: Int, queryEvery: Int,
                                     queryCap: Long): DataFrame = {
    val fb = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= k0)
      .select(col("query_id"), col("doc_id"))
    val qterms = toks
      .filter(col("doc_id") % queryEvery === 0 && col("doc_id") < queryCap)
      .select(col("doc_id").as("query_id"),
        explode(slice(array_distinct(col("t")), 1, 3)).as("token"))
    // r17 (guide: join first, explode after): the fb join keys on
    // doc_id, so attach it to the 1-row-per-doc token ARRAYS and
    // explode only the feedback docs' tokens — |fb| explodes instead
    // of the whole corpus token stream. Same (query_id, token)
    // multiset, so fb_tf is unchanged.
    toks.join(broadcast(fb), Seq("doc_id"))
      .select(col("query_id"), explode(col("t")).as("token"))
      .groupBy(col("query_id"), col("token"))
      .agg(count(lit(1)).as("fb_tf"))
      .join(qterms, Seq("query_id", "token"), "left_anti")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("fb_tf").desc, col("token").asc)))
      .filter(col("rnk") <= m)
      .select(col("query_id"), col("token"), col("fb_tf"), col("rnk"))
  }

  /** RM3 SECOND-PASS RESCORING — the full pseudo-relevance-feedback
    * loop: first-pass BM25, [[rm3ExpansionTerms]], then a second
    * BM25 pass scored with the EXPANSION term set through the
    * identical chain, blended rank-time as
    * α·score₁ + (1−α)·score₂ (the RM3 interpolation, both sides
    * coalescing a missing leg to 0). α stays an ENGINE-side
    * expression (lit(1.0) − lit(α)) so no Scala constant folding can
    * diverge from the twin's literal tree.
    *
    * Scale shape: two [[bm25TopK]]-shaped scoring legs (each with
    * its own documented 100 TB asymmetry) + a per-query full-outer
    * blend over ≤ (matched docs per leg) rows and one top-k window.
    */
  def rm3Rescore(docs: DataFrame, k: Int = 5, k0: Int = 5, m: Int = 5,
                 alpha: Double = 0.6, k1: Double = 1.2,
                 b: Double = 0.75, queryEvery: Int = 100,
                 queryCap: Long = 1000000L): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    // ONE first pass (VERDICT r14 #2): the scored frame feeds BOTH the
    // feedback-doc selection and the s1 leg. Eager localCheckpoint so
    // neither consumer replays the BM25 chain (the r14 "job count IS
    // the cost model" discipline). The feedback pass now scores with
    // the caller's (k1, b) — the standard RM3 formulation; at the
    // catalog's default-parameter call this is value-identical to the
    // old default-scored feedback pass.
    val scored = bm25Scores(toks,
        derivedQueryTerms(toks, queryEvery, 3, queryCap), k1, b)
      .localCheckpoint()
    val s1 = scored
      .select(col("query_id"), col("doc_id"), col("score").as("s1"))
    val s2 = bm25Scores(toks,
        rm3ExpansionFromScores(toks, scored, k0, m, queryEvery, queryCap)
          .select(col("query_id"), col("token")), k1, b)
      .select(col("query_id"), col("doc_id"), col("score").as("s2"))
    s1.join(s2, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(lit(alpha) * coalesce(col("s1").cast("double"), lit(0.0))
          + (lit(1.0) - lit(alpha))
            * coalesce(col("s2").cast("double"), lit(0.0)), 6)
          .as("rm3_score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rm3_score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        col("rm3_score"))
  }

  /** HYBRID retrieval by reciprocal-rank fusion (Cormack et al. '09):
    * fuse the [[bm25TopK]] lexical ranking with a dense ranking
    * ([[Similarity.hashedTextTopK]]'s hashing-trick cosine) over the
    * SAME derived query set, score(d) = Σ_lists 1/(kRrf + rank_list(d)).
    * RRF is the standard production hybrid because it needs no score
    * calibration between lists — only ranks — and a document strong in
    * either modality surfaces. kRrf = 60 per the original paper.
    *
    * Scale shape: each list is already a per-query top-`depth` (never
    * the full scored corpus), so the fusion's full-outer join touches
    * ≤ 2·depth rows per query — |queries|·2·depth total, metadata-sized
    * regardless of corpus size. The expensive parts are the two
    * retrievals themselves, each with its own documented 100 TB shape;
    * either side swaps for a real ANN index / inverted index without
    * touching the fusion.
    *
    * Float surface: each RRF term is one double division on small
    * integers, summed in fixed (lexical, dense) order, rounded to 6 dp
    * — bit-stable cross-engine without sorted folds.
    */
  def rrfFusion(docs: DataFrame, k: Int = 5, depth: Int = 10,
                kRrf: Int = 60, queryEvery: Int = 100,
                queryCap: Long = 1000000L): DataFrame = {
    val lex = bm25TopK(docs, depth, queryEvery = queryEvery,
        queryCap = queryCap)
      .select(col("query_id"), col("doc_id"), col("rnk").as("rb"))
    val dense = Similarity.hashedTextTopK(
        docs.filter(col("doc_id") % queryEvery === 0 &&
          col("doc_id") < queryCap), docs, depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("rd"))
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(coalesce(lit(1.0) / (lit(kRrf) + col("rb")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rd")), lit(0.0)), 6)
          .as("rrf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("rrf"))
  }
}
