package graft

import org.apache.spark.sql.functions._
import graft.query.Analytics
import graft.queries.Tables
import graft.streaming.Events

/** General-analytics operator catalog: window functions, set operations,
  * ROLLUP, pivot (query/Analytics.scala) — surface beyond the reference,
  * each with an exact DuckDB twin.
  */
object AnalyticsCatalog {
  type Q = RelationalCatalog.Q
  private val eventsSql = ScaleCatalog.eventsSql

  /** Shared CTE chain for the WL twins: the co-order pair graph
    * symmetrized, degree colors, and two unrolled re-coloring rounds
    * over sorted neighbor lists + the 60-bit md5 fingerprint.
    */
  private val wlCtesSql =
    """items AS (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
      |  FROM lineitem),
      |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
      |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
      |p AS (
      |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
      |  ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS (
      |  SELECT a AS src, b AS dst FROM p
      |  UNION ALL SELECT b AS src, a AS dst FROM p),
      |n0 AS (
      |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM sym GROUP BY 1 HAVING COUNT(*) <= 1000),
      |nb1 AS (
      |  SELECT s.src AS node, list(n0.c ORDER BY n0.c) AS ns
      |  FROM sym s JOIN n0 ON s.dst = n0.node GROUP BY 1),
      |c1 AS (
      |  SELECT n0.node, ('0x' || substr(md5(n0.c::VARCHAR || '|' ||
      |    COALESCE(array_to_string(list_transform(ns,
      |      x -> x::VARCHAR), ','), '')), 1, 15))::BIGINT AS c
      |  FROM n0 LEFT JOIN nb1 ON n0.node = nb1.node),
      |nb2 AS (
      |  SELECT s.src AS node, list(c1.c ORDER BY c1.c) AS ns
      |  FROM sym s JOIN c1 ON s.dst = c1.node GROUP BY 1),
      |c2 AS (
      |  SELECT c1.node, ('0x' || substr(md5(c1.c::VARCHAR || '|' ||
      |    COALESCE(array_to_string(list_transform(ns,
      |      x -> x::VARCHAR), ','), '')), 1, 15))::BIGINT AS c
      |  FROM c1 LEFT JOIN nb2 ON c1.node = nb2.node)""".stripMargin
  private val invSql = RelationalCatalog.invSql
  private val custSql = RelationalCatalog.custSql

  val queries: Map[String, Q] = Map(
    // Window rank: top-3 users by exact total per event type.
    "q_topn_per_group" -> ((s, d) =>
      Analytics.topNPerGroup(Events.typed(Tables.events(s, d)))),

    // Window running frame: cumulative total per user over event time.
    "q_running_totals" -> ((s, d) =>
      Analytics.runningTotals(Events.typed(Tables.events(s, d)))),

    // INTERSECT / EXCEPT over customer ids, tagged.
    "q_set_ops" -> ((s, d) =>
      Analytics.segmentSetOps(Tables.customers(s, d), Tables.invoices(s, d),
        "BUILDING", "1997-03-01", "1997-04-01")),

    // Value-quartile bucketing (percentile boundaries, no global window).
    "q_quartiles" -> ((s, d) =>
      Analytics.quartiles(Tables.invoices(s, d))),

    // lag: per-user inter-event gaps in seconds.
    "q_event_deltas" -> ((s, d) =>
      Analytics.eventDeltas(Events.typed(Tables.events(s, d)))),

    // ROLLUP subtotals over (currency, status).
    "q_rollup" -> ((s, d) =>
      Analytics.revenueRollup(Tables.invoices(s, d))),

    // CUBE: all four grouping sets in one pass.
    "q_cube" -> ((s, d) =>
      Analytics.revenueCube(Tables.invoices(s, d))),

    // RANGE frame: trailing 7-day spend per customer.
    "q_trailing_7d" -> ((s, d) =>
      Analytics.trailing7d(Tables.invoices(s, d))),

    // FULL OUTER join: month-over-month customer activity.
    "q_full_outer" -> ((s, d) =>
      Analytics.monthOverMonth(Tables.invoices(s, d))),

    // Exact COUNT(DISTINCT) per day (Expand-based distinct aggregation).
    "q_daily_active" -> ((s, d) =>
      Analytics.dailyActive(Events.typed(Tables.events(s, d)))),

    // Grouped value quartiles: per-currency boundaries, keyed join-back.
    "q_quartiles_by_currency" -> ((s, d) =>
      Analytics.quartilesByGroup(Tables.invoices(s, d))),

    // arg-max family: latest invoice per customer via struct-ordered max.
    "q_latest_per_customer" -> ((s, d) =>
      Analytics.latestInvoicePerCustomer(Tables.invoices(s, d))),

    // Pivot: segment rows × fixed status columns.
    "q_status_pivot" -> ((s, d) =>
      Analytics.statusPivot(Tables.invoices(s, d), Tables.customers(s, d))),

    // As-of join (union-and-carry composition): each click gets the
    // user's latest purchase value at-or-before it. Oracle uses DuckDB's
    // NATIVE ASOF LEFT JOIN — independent algorithm, same answer.
    "q_asof_join" -> ((s, d) => {
      val e = Events.typed(Tables.events(s, d))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("v")).cast(Tables.Money).as("purchase_value"))
      graft.operators.TemporalJoin.asofJoin(clicks, purchases,
        "user_id", "ts", Seq("purchase_value"))
    }),

    // The spark.sql TEXT surface over registered views — same semantics
    // as the DataFrame monthly summary, expressed as SQL.
    "q_sql_monthly" -> ((s, d) => {
      graft.queries.Views.register(s, d)
      s.sql("""
        SELECT '1997-03' AS month,
          COALESCE(MIN(currency), 'USD') AS currency,
          CAST(COALESCE(SUM(bill_total), 0) AS DECIMAL(18,2)) AS sum_bill_total,
          COUNT(*) AS count_invoices
        FROM invoices i JOIN customers c ON i.customer_id = c.id
        WHERE invoice_date >= DATE'1997-03-01'
          AND invoice_date < DATE'1997-04-01'""")
    }),

    // Time-series resample: hourly forward-fill grid per user (as-of
    // composition; NULL before the first event).
    "q_resample_ffill" -> ((s, d) =>
      graft.operators.Resample.hourlyCarryForward(
        Events.typed(Tables.events(s, d)))),

    // Range join (time-bucketed equi-prejoin): events × their session
    // intervals; oracle is the plain inequality join over gap islands.
    "q_range_join" -> ((s, d) => {
      val e = Events.typed(Tables.events(s, d))
      val sessions = Events.sessions(e)
        .select(col("user_id"), col("session_start"), col("session_end"))
      graft.operators.TemporalJoin.bucketedRangeJoin(
        e.select(col("event_id"), col("user_id"), col("ts")), sessions,
        "user_id", "ts", "session_start", "session_end")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("session_start"))
    })
,

    // LEFT ANTI: customers with NO invoice in the month window.
    "q_anti_join" -> ((s, d) =>
      Analytics.inactiveCustomers(Tables.customers(s, d),
        Tables.invoices(s, d), "1997-03-01", "1997-04-01")),

    // LEFT SEMI: customers with at least one invoice in the window.
    "q_semi_join" -> ((s, d) =>
      Analytics.activeCustomers(Tables.customers(s, d),
        Tables.invoices(s, d), "1997-03-01", "1997-04-01")),

    // lag/lead: per-customer invoice cadence (days between invoices).
    "q_invoice_cadence" -> ((s, d) =>
      Analytics.invoiceCadence(Tables.invoices(s, d))),

    // Explicit GROUPING SETS: (currency) and (status) subtotals only.
    "q_grouping_sets" -> ((s, d) =>
      Analytics.revenueGroupingSets(Tables.invoices(s, d))),

    // percent_rank / cume_dist within currency.
    "q_percent_rank" -> ((s, d) =>
      Analytics.percentRanks(Tables.invoices(s, d))),

    // Correlation / covariance / regression slope from exact sums.
    "q_corr_by_currency" -> ((s, d) =>
      Analytics.corrByGroup(Tables.invoices(s, d))),

    // Cohort retention triangle (first-invoice month x month offset).
    "q_retention_cohort" -> ((s, d) =>
      Analytics.retentionCohorts(Tables.invoices(s, d))),

    // Unpivot: melt the status pivot back to long form.
    "q_unpivot" -> ((s, d) =>
      Analytics.statusUnpivot(Tables.invoices(s, d),
        Tables.customers(s, d))),

    // Ordered conversion funnel: view → click → purchase, strict
    // event-time ordering per user; n_users per stage.
    "q_funnel" -> ((s, d) =>
      Analytics.funnel(Events.typed(Tables.events(s, d)))),

    // Funnel conversion latency: first-view → purchase lag
    // percentiles for completing users — discrete order statistics
    // on exact integer seconds.
    "q_funnel_latency" -> ((s, d) =>
      Analytics.funnelLatency(Events.typed(Tables.events(s, d)))),

    // k-anonymity suppression on the customer dimension's
    // (nationkey, segment) quasi-identifiers, k = 10.
    "q_k_anonymity" -> ((s, d) =>
      Analytics.kAnonymize(Tables.customer(s, d))),

    // l-diversity audit over the same QI groups: distinct and
    // entropy diversity of the account-balance band, fixed-point
    // -p ln p integer sums, group-bounded output.
    "q_l_diversity" -> ((s, d) =>
      Analytics.lDiversity(Tables.customer(s, d))),

    // Salted skew join: orders fact spread over 16 salt buckets,
    // customer dim replicated per bucket — same result as the plain
    // join (the oracle IS the plain join), different physical shape.
    "q_skew_join" -> ((s, d) => {
      val orders = Tables.orders(s, d).select(
        col("o_custkey").as("custkey"), col("o_orderkey"),
        col("o_totalprice").cast(Tables.Money).as("price"))
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
      graft.operators.SkewJoin
        .saltedInnerJoin(orders, cust, "custkey", Seq("o_orderkey"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("price")).as("revenue"))
    }),

    // 5-iteration PageRank over the symmetrized customer↔supplier
    // purchase graph. Fixed-point (1e-12 long) contribution
    // accumulation — order-free integer sums, hot-node-safe — with
    // every iteration of the trainer inside the differential.
    "q_pagerank" -> ((s, d) =>
      graft.operators.Graph.pageRank(graft.operators.Graph.purchaseEdges(
        Tables.orders(s, d), Tables.lineitem(s, d)))),

    // TextRank corpus keywords: PageRank over the word-adjacency
    // graph (window 2), rounded-rank top-20 with token tie-break.
    "q_textrank" -> ((s, d) =>
      graft.operators.Retrieval.textRank(Tables.documents(s, d))),

    // Edge-WEIGHTED PageRank over the co-purchase graph: edge weight =
    // lineitem count between the customer and supplier, so rank flows
    // proportionally to purchase volume instead of splitting uniformly
    // across partners. Same fixed-point integer contribution sums as
    // q_pagerank; every trainer iteration inside the differential.
    "q_pagerank_weighted" -> ((s, d) =>
      graft.operators.Graph.weightedPageRank(
        graft.operators.Graph.weightedPurchaseEdges(
          Tables.orders(s, d), Tables.lineitem(s, d)))),

    // Personalized PageRank seeded at every 5th supplier: random walk
    // with restart over the purchase graph ranks every customer by
    // proximity to the seed slice — the graph-side curation selector.
    // Same fixed-point integer sums as q_pagerank; every iteration
    // inside the differential. (Seed predicate is suppkey-mod, not
    // nationkey: nation 0 has NO suppliers at sf0.001, and an empty
    // seed set is a division by zero — the mod slice is non-empty at
    // every scale.)
    "q_ppr" -> ((s, d) =>
      graft.operators.Graph.personalizedPageRank(
        graft.operators.Graph.purchaseEdges(
          Tables.orders(s, d), Tables.lineitem(s, d)),
        Tables.supplier(s, d).filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") * 2L + 1L).as("node")))),

    // Multi-source BFS from the same supplier seed slice: exact
    // integer hop distance to everything within 4 hops of the slice —
    // the discrete sibling of q_ppr's continuous proximity ranking.
    // Frontier-only expansion each round; every round's reached set
    // is inside the differential (the final frame contains all of
    // them via the dist column).
    "q_bfs_hops" -> ((s, d) =>
      graft.operators.Graph.bfsHops(
        graft.operators.Graph.purchaseEdges(
          Tables.orders(s, d), Tables.lineitem(s, d)),
        Tables.supplier(s, d).filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") * 2L + 1L).as("node")))),

    // Two-sweep diameter lower bound on the same purchase graph:
    // BFS, restart from the farthest node, report its eccentricity.
    "q_diameter" -> ((s, d) =>
      graft.operators.Graph.diameterTwoSweep(
        graft.operators.Graph.purchaseEdges(
          Tables.orders(s, d), Tables.lineitem(s, d)),
        Tables.supplier(s, d).filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") * 2L + 1L).as("node")))),

    // HITS hubs & authorities over the DIRECTED customer→supplier
    // purchase graph: authorities rank suppliers by how strongly
    // well-connected customers buy from them, hubs rank customers
    // symmetrically — the second classic centrality beside PageRank,
    // and the one that needs edge direction. Fixed-point 1e-9 long
    // contribution sums + exact integer L1 normalizers; every
    // half-step of all 5 iterations inside the differential.
    "q_hits" -> ((s, d) =>
      graft.operators.Graph.hits(
        graft.operators.Graph.directedPurchaseEdges(
          Tables.orders(s, d), Tables.lineitem(s, d)))),

    // Seeded label propagation: every 5th supplier seeds its nation
    // as a label (the q_ppr seed slice), 3 synchronous majority
    // rounds spread it across the symmetrized purchase graph —
    // "color the corpus by proximity to labeled slices" as exact
    // integer counts with a (max count, min label) tie-break; no
    // floats anywhere in the differential.
    "q_label_prop" -> ((s, d) =>
      graft.operators.Graph.labelPropagation(
        graft.operators.Graph.purchaseEdges(
          Tables.orders(s, d), Tables.lineitem(s, d)),
        Tables.supplier(s, d).filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") * 2L + 1L).as("node"),
            col("s_nationkey").cast("long").as("label")))),

    // Newman modularity of the label-propagation partition on the
    // purchase graph: per-community degree sums / within-edge counts
    // as exact integers, Q from Σwithin and Σd² (never a float sum of
    // per-community terms), one double division rounded 6 dp. The
    // "was this clustering worth anything" audit — partition +
    // modularity both inside the differential.
    "q_modularity" -> ((s, d) => {
      // Eager checkpoint: the purchase-edge chain feeds BOTH the LP
      // partition and the community stats — uncheckpointed it ran
      // twice (r14 substrate audit, PLANS.md). purchaseEdges is an
      // edge set, as both operators require, so neither re-distincts.
      val edges = graft.operators.Graph.purchaseEdges(
        Tables.orders(s, d), Tables.lineitem(s, d)).localCheckpoint()
      val lp = graft.operators.Graph.labelPropagation(edges,
        Tables.supplier(s, d).filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") * 2L + 1L).as("node"),
            col("s_nationkey").cast("long").as("label")))
      val out = graft.operators.Graph.modularity(edges, lp)
      // modularity() checkpointed its per-community stats EAGERLY, so
      // both substrate frames are dead already (r17 cache-hygiene).
      graft.operators.LocalFinish.release(edges)
      graft.operators.LocalFinish.release(lp)
      out
    }),

    // One-sided CUSUM drift monitor over daily per-type totals:
    // S_t via the prefix-sum-minus-running-min closed form, mean
    // reference as a rational — exact integer arithmetic end to end.
    "q_cusum" -> ((s, d) =>
      graft.query.Analytics.cusumDrift(Tables.events(s, d))),

    // Kaplan-Meier survival of order-completion durations per
    // priority, right-censored at the as-of date: cumulative product
    // via 1e6 fixed-point ln sums over priority-partitioned windows.
    "q_survival_km" -> ((s, d) =>
      graft.query.Analytics.kaplanMeier(
        Tables.orders(s, d), Tables.lineitem(s, d))),

    // Nelson-Aalen cumulative hazard over the same right-censored
    // durations: additive d/n fixed-point terms + exp(-H) survival.
    "q_nelson_aalen" -> ((s, d) =>
      graft.query.Analytics.nelsonAalen(
        Tables.orders(s, d), Tables.lineitem(s, d))),

    // Theil-Sen robust trend: median pairwise slope of the daily
    // per-type series — calendar-bounded pair join, rank median.
    "q_theil_sen" -> ((s, d) =>
      graft.query.Analytics.theilSen(Tables.events(s, d))),

    // Mann-Kendall trend test over the same daily series: exact
    // integer S and tie sum, single /18 variance division,
    // continuity-corrected z — Theil-Sen's significance companion.
    "q_mann_kendall" -> ((s, d) =>
      graft.query.Analytics.mannKendall(Tables.events(s, d))),

    // Kendall tau-b between the view/purchase daily series: exact
    // integer concordance S and tie sums over the calendar-bounded
    // pair frame, full tie-corrected variance, z readout.
    "q_kendall_tau" -> ((s, d) =>
      graft.query.Analytics.kendallTau(Tables.events(s, d))),

    // Granger causality (lag-1, both directions) over the same
    // day-aligned pair: nested OLS via exact HUGEINT Gram moments +
    // Cramer solves, F against the asymptotic chi2(1) cut.
    "q_granger" -> ((s, d) =>
      graft.query.Analytics.granger(Tables.events(s, d))),

    // Per-nation Mann-Kendall (VERDICT r12 #4, the per-segment form):
    // events key to the customer nation over a broadcast dim; every
    // window and pair join partitions by (nation, event_type) — the
    // partitioned form of the day-index panel, no global window.
    "q_mann_kendall_by_nation" -> ((s, d) =>
      graft.query.Analytics.mannKendallByNation(
        Tables.events(s, d), Tables.customer(s, d))),

    // Per-nation Kendall tau-b: the view/purchase concordance per
    // customer nation — the pair panel becomes a nation equi-join
    // (calendar-bounded within each segment), the combine plain key
    // joins; nothing for the plan-audit allowlist.
    "q_kendall_tau_by_nation" -> ((s, d) =>
      graft.query.Analytics.kendallTauByNation(
        Tables.events(s, d), Tables.customer(s, d))),

    // Per-nation Granger (lag-1, both directions): one 14-moment
    // aggregate per nation, day-index window partitioned by nation.
    "q_granger_by_nation" -> ((s, d) =>
      graft.query.Analytics.grangerByNation(
        Tables.events(s, d), Tables.customer(s, d))),

    // Simple exponential smoothing of the daily per-type series:
    // order-dependent recursion via the sorted-fold device (t-ordered
    // list fold, first-element seed), source-literal α/1−α.
    "q_ses" -> ((s, d) =>
      graft.query.Analytics.sesForecast(Tables.events(s, d))),

    // Holt's linear level+trend smoothing over the same series: the
    // same fold with a (level, trend, sse) state and the 1-step
    // forecast L+T readout.
    "q_holt" -> ((s, d) =>
      graft.query.Analytics.holtForecast(Tables.events(s, d))),

    // Per-nation SES (r13 VERDICT #6): the same sorted fold keyed by
    // (nation, event_type) over the shared broadcast-nation daily
    // rollup — the segment-key delegation discipline, zero new plan
    // shapes.
    "q_ses_by_nation" -> ((s, d) =>
      graft.query.Analytics.sesByNation(
        Tables.events(s, d), Tables.customer(s, d))),

    // Per-nation Holt — the (level, trend, sse) fold on the same
    // segmented series.
    "q_holt_by_nation" -> ((s, d) =>
      graft.query.Analytics.holtByNation(
        Tables.events(s, d), Tables.customer(s, d))),

    // Two-proportion z-test on order conversion (>=1 order after the
    // split date) under the ':prop' md5 lottery — the binary-outcome
    // member of the experiment family.
    "q_prop_ztest" -> ((s, d) =>
      graft.query.Analytics.propZTest(
        Tables.customer(s, d), Tables.orders(s, d))),

    // McNemar's paired test on the same units' pre/post conversion
    // flip: discordant counts b/c, continuity-corrected 1-df chi2.
    "q_mcnemar" -> ((s, d) =>
      graft.query.Analytics.mcnemar(
        Tables.customer(s, d), Tables.orders(s, d))),

    // Two-sample log-rank test (urgent vs rest) over the KM/NA
    // durations: hypergeometric E and V per event time, t-sorted
    // folds, 1-df chi-square readout.
    "q_logrank" -> ((s, d) =>
      graft.query.Analytics.logRank(
        Tables.orders(s, d), Tables.lineitem(s, d))),

    // Cox proportional-hazards ratio (urgent vs rest, Breslow ties):
    // 3 Newton steps on the partial likelihood over the shared
    // log-rank risk frame — e^beta snapped to 6 dp per step, t-sorted
    // U/I folds, Wald z readout. The regression member of the
    // survival family.
    "q_cox_hr" -> ((s, d) =>
      graft.query.Analytics.coxHazardRatio(
        Tables.orders(s, d), Tables.lineitem(s, d))),

    // Benford first-digit audit on order totals in integer cents:
    // observed vs log10(1+1/d) shares + per-digit chi-square terms.
    "q_benford" -> ((s, d) =>
      graft.query.Analytics.benford(Tables.orders(s, d))),

    // Lag-1..7 autocorrelation of the daily per-type series: integer
    // dollar deviations, exact lag-product sums, one division/row.
    "q_acf" -> ((s, d) =>
      graft.query.Analytics.acf(Tables.events(s, d))),

    // Day-of-week seasonality profile per type: epoch-day mod 7
    // grain, exact-quotient indexes, decimal-summed variance split.
    "q_seasonality" -> ((s, d) =>
      graft.query.Analytics.seasonality(Tables.events(s, d))),

    // mSPRT always-valid sequential test on the daily view-purchase
    // diff: mixture likelihood ratio per day, running-min p.
    "q_msprt" -> ((s, d) =>
      graft.query.Analytics.msprt(Tables.events(s, d))),

    // Sinkhorn OT between two segments' band distributions: add-one
    // smoothed masses, |i-j| ground cost, 5 scaling rounds with
    // sorted folds everywhere.
    "q_sinkhorn" -> ((s, d) =>
      graft.query.Analytics.sinkhorn(Tables.customer(s, d))),

    // BH FDR step-up over per-nation segment x balance-band
    // chi-square tests: closed-form even-df p, cross-multiplied
    // p(k) <= k*alpha/m rule on the tiny ranked frame.
    "q_bh_fdr" -> ((s, d) =>
      graft.query.Analytics.bhFdr(Tables.customer(s, d))),

    // Split-conformal interval per priority: hash train/cal/test
    // split, n-scaled integer residuals, exact ceil((n+1)(1-a)) rank
    // pick, measured test coverage.
    "q_conformal" -> ((s, d) =>
      graft.query.Analytics.conformalInterval(Tables.orders(s, d))),

    // Conformalized quantile regression per priority: train-slice
    // [5%, 95%] rank-pick quantiles, signed two-sided nonconformity
    // (can narrow the band), clamped rank pick, measured coverage.
    "q_conformal_qr" -> ((s, d) =>
      graft.query.Analytics.conformalQuantile(Tables.orders(s, d))),

    // Paired sign-flip permutation test on daily view-purchase cents
    // diffs: 64 hash-signed replicates, integer sums, add-one p.
    "q_sign_flip" -> ((s, d) =>
      graft.query.Analytics.signFlipTest(Tables.events(s, d))),

    // Chi-square feature selection per language over document token
    // presence: exact 2x2 contingency counts, one shared double tree,
    // per-label top-10 on the exact quotient.
    "q_chi2_features" -> ((s, d) =>
      graft.operators.TextClassify.chi2Features(Tables.documents(s, d))),

    // Ljung-Box portmanteau over the acf table: 1e-12 fixed-point
    // r^2/(n-k) terms, chi-square(7) 5% gate on the rounded Q.
    "q_ljung_box" -> ((s, d) =>
      graft.query.Analytics.ljungBox(Tables.events(s, d))),

    // Lagged cross-correlation view->purchase on calendar-aligned
    // daily deviations: exact integer lag products, lags -7..7.
    "q_ccf" -> ((s, d) =>
      graft.query.Analytics.ccf(Tables.events(s, d))),

    // Pettitt rank changepoint per type: U_t by the exact doubled-
    // rank collapse, earliest argmax day, approximate significance.
    "q_pettitt" -> ((s, d) =>
      graft.query.Analytics.pettitt(Tables.events(s, d))),

    // Mann-Whitney U per nation: midranks in integer doubled-rank
    // space, standard tie correction, nation-partitioned windows.
    "q_mann_whitney" -> ((s, d) =>
      graft.query.Analytics.mannWhitney(Tables.customer(s, d))),

    // Kruskal-Wallis H per nation over all five segments: the same
    // doubled-rank midranks, seg-ordered sorted fold, tie-corrected.
    "q_kruskal_wallis" -> ((s, d) =>
      graft.query.Analytics.kruskalWallis(Tables.customer(s, d))),

    // CUPED pre-period covariate adjustment: hash-split arms, theta
    // and per-arm adjusted means closed-form from one conditional
    // aggregate pass; variance reduction = corr^2 exactly.
    "q_cuped" -> ((s, d) =>
      graft.query.Analytics.cuped(
        Tables.customer(s, d), Tables.orders(s, d))),

    // Difference-in-differences (panel form): per-customer pre/post
    // spend, hash arms, effect = Welch on the per-unit change —
    // nets out the common time shock and unit effects.
    "q_did" -> ((s, d) =>
      graft.query.Analytics.diffInDiff(
        Tables.customer(s, d), Tables.orders(s, d))),

    // Borůvka max-affinity spanning forest over the supplier
    // co-order graph: per-round merge trace (groups, new edges, new
    // weight), unique forest by the canonical (w, least, greatest)
    // edge total order (orientation-independent, so tied parallel
    // cross edges can't double-enter).
    "q_mst" -> ((s, d) =>
      graft.operators.Graph.boruvkaTrace(
        graft.operators.Graph.supplierAffinityEdges(
          Tables.lineitem(s, d)))),

    // t-closeness audit over the l-diversity QI groups and bands:
    // exact cumulative-difference EMD to the global distribution,
    // rational 0.15 breach threshold by cross-multiplication.
    "q_t_closeness" -> ((s, d) =>
      graft.query.Analytics.tCloseness(Tables.customer(s, d))),

    // Spearman rank correlation per nation (acctbal vs total spend):
    // doubled-rank midranks, DECIMAL-summed rank products, Pearson
    // closed form over ranks.
    "q_spearman" -> ((s, d) =>
      graft.query.Analytics.spearman(
        Tables.customer(s, d), Tables.orders(s, d))),

    // Empirical-Bayes shrinkage of per-nation mean balances: exact
    // per-group moments, method-of-moments tau^2, sorted-fold group
    // sums, partial pooling toward the grand mean.
    "q_eb_shrinkage" -> ((s, d) =>
      graft.query.Analytics.ebShrinkage(Tables.customer(s, d))),

    // Cohort LTV curves: members summed first, so cumulative spend
    // per age is one per-(cohort, month) prefix sum; integer-month
    // grain, exact cents, one division per row.
    "q_ltv_cohorts" -> ((s, d) =>
      graft.query.Analytics.ltvCohorts(Tables.orders(s, d))),

    // Multi-feature OLS by one Gram-matrix pass + 3x3 Cramer solve:
    // extendedprice ~ quantity + discount over lineitem, with R^2.
    "q_ols_multi" -> ((s, d) =>
      graft.query.Analytics.olsMulti(Tables.lineitem(s, d))),

    // Minimum detectable effect at 80% power / 5% alpha over
    // per-customer post-period spend: exact integer moments, one
    // shared closed-form double tree.
    "q_mde" -> ((s, d) =>
      graft.query.Analytics.mde(
        Tables.customer(s, d), Tables.orders(s, d))),

    // Sample-ratio-mismatch guardrail: distinct event users through
    // the 90/10 hash lottery, chi-square of observed arm counts vs
    // design in 1e6 fixed point, df=1 alpha=0.01 alarm.
    "q_srm" -> ((s, d) =>
      graft.query.Analytics.srmCheck(
        graft.query.Analytics.srmAssignments(Tables.events(s, d)),
        "arm", Seq(9, 1))),

    // Per-community conductance over the same LP partition — the
    // boundary-quality companion to q_modularity (cut / min-side
    // volume, exact integers, one division).
    "q_conductance" -> ((s, d) => {
      // Shared-substrate checkpoint of the purchase edge set — see
      // q_modularity.
      val edges = graft.operators.Graph.purchaseEdges(
        Tables.orders(s, d), Tables.lineitem(s, d)).localCheckpoint()
      val lp = graft.operators.Graph.labelPropagation(edges,
        Tables.supplier(s, d).filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") * 2L + 1L).as("node"),
            col("s_nationkey").cast("long").as("label")))
      val out = graft.operators.Graph.conductance(edges, lp)
      // conductance() checkpointed its per-community stats EAGERLY, so
      // both substrate frames are dead already (r17 cache-hygiene).
      graft.operators.LocalFinish.release(edges)
      graft.operators.LocalFinish.release(lp)
      out
    }),

    // Hash-shard edge cut: the partitioning-locality audit — fraction
    // of purchase-graph edges crossing a 16-way content-hash shard
    // assignment (prices "just hash-partition it" vs community-aware
    // layout). One projection + one aggregate.
    "q_edge_cut" -> ((s, d) =>
      graft.operators.Graph.hashShardCut(
        graft.operators.Graph.purchaseEdges(
          Tables.orders(s, d), Tables.lineitem(s, d)))),

    // Exact distinct suppliers per returnflag via dense-bitmap
    // aggregation: the shuffle carries one |dict|/8-byte bitmap per
    // group per partition, never the (group, key) pair stream
    // countDistinct plans. Dictionary-encoded (r8): the bitmap is
    // sized by distinct-key CARDINALITY, so re-strided/sparse key
    // domains (the sf1 probe's 10x key shift) cost bits per distinct
    // key, not per unit of key span.
    "q_bitmap_distinct" -> ((s, d) =>
      graft.operators.Sketch.bitmapDistinctDict(
        Tables.lineitem(s, d), "l_returnflag", "l_suppkey")),

    // Bloom runtime-filtered fact⋈dim join: high-balance customers'
    // key set compressed to a ~10-bits-per-key filter that drops
    // non-joining orders BEFORE the shuffle-hash join; output provably
    // the plain inner join (the differential gates exactly that).
    // Auto-sized (r8): a FIXED m decays to a pass-everything no-op as
    // the key set grows — the sf1 probe measured exactly that.
    "q_bloom_join" -> ((s, d) => {
      val dim = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"))
      graft.operators.Bloom.filteredJoinAuto(
        Tables.orders(s, d), "o_custkey", dim, "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // First-order Markov transitions over per-user event sequences:
    // counts + row-normalized probabilities, one lead window + one
    // |types|² aggregate.
    "q_transition_matrix" -> ((s, d) =>
      Analytics.transitionMatrix(Events.typed(Tables.events(s, d)))),

    // Interval union per user: deterministic value-derived durations,
    // running-max island detection, integer epoch-micros throughout.
    "q_interval_merge" -> ((s, d) => {
      val e = Events.typed(Tables.events(s, d))
      val iv = e.select(col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) +
          (pmod((col("v") * 100).cast("long"), lit(3600L)) + 60L)
            * 1000000L).as("end_us"))
      Analytics.mergeIntervals(iv, "user_id", "start_us", "end_us")
    }),

    // Frequent part pairs across orders: a-priori item prune (≥5
    // orders), within-basket pair join, top-20 by support with lift.
    "q_cooccurrence" -> ((s, d) =>
      graft.operators.Itemsets.frequentPairs(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey")),

    // Directed association rules over the same basket pair counts:
    // exact rational min-confidence gate, confidence-quotient top-20.
    "q_assoc_rules" -> ((s, d) =>
      graft.operators.Itemsets.associationRules(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey")),

    // ε-DP Laplace-noised counts over the customer QI groups — the
    // additive-noise release next to q_k_anonymity's suppression one;
    // seeded inverse-CDF noise keeps the mechanism differential-gated.
    "q_dp_counts" -> ((s, d) =>
      Analytics.dpNoisyCounts(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"))),

    // Watermark late-data accounting: arrival-order replay against the
    // per-user high-water mark, 10-min allowance — the sizing input
    // for a streaming withWatermark budget.
    "q_late_data" -> ((s, d) =>
      Events.lateDataStats(Events.typed(Tables.events(s, d)))),

    // Grouped OLS trend of extended price over ship date: exact sums
    // through the shuffle, five doubles of closed-form math at the end.
    "q_trend_slope" -> ((s, d) =>
      Analytics.trendSlope(Tables.lineitem(s, d), "l_returnflag",
        col("l_shipdate"), col("l_extendedprice").cast(Tables.Money))),

    // Join-degree skew profile of lineitem⋈part on partkey: top-10
    // keys by output contribution + estimated join size — the salted
    // vs plain join decision input, without running the join.
    "q_join_degree" -> ((s, d) =>
      Analytics.joinDegreeProfile(Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey")),

    // AMS F₂ self-join size of lineitem on partkey from count-min
    // state: the planner statistic q_join_degree reads exactly, here
    // answered from 3×256 mergeable counters (what survives when the
    // per-key count table is itself too big to keep) — exact F₂ rides
    // along so the differential gates the one-sided estimator.
    "q_selfjoin_size" -> ((s, d) =>
      graft.operators.Sketch.cmsSelfJoinSize(
        Tables.lineitem(s, d), "l_partkey")),

    // Rolling z-score anomaly on daily event volume per type: trailing
    // 7-day mean/std from exact window sums, |z| > 2 flag.
    "q_rolling_anomaly" -> ((s, d) =>
      Analytics.rollingAnomaly(Events.typed(Tables.events(s, d)))),

    // Triangles of the co-order part graph (pairs sharing ≥2 orders):
    // compact-forward enumeration over low→high edges — each triangle
    // exactly once, wedge fan-out bounded by forward degree.
    "q_triangles" -> ((s, d) =>
      graft.operators.Graph.triangles(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // 1-WL color refinement on the same co-order part graph: degree
    // colors hashed with sorted neighbor multisets, 2 rounds — the
    // refinement curve + canonical neighborhood-shape keys.
    "q_wl_colors" -> ((s, d) =>
      graft.operators.Graph.wlColors(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // WL structural-equivalence classes: top final-color groups with
    // the min-node keeper — the subgraph-dedup readout.
    "q_wl_classes" -> ((s, d) =>
      graft.operators.Graph.wlClasses(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // Adamic-Adar link prediction on the same co-order part graph:
    // top non-adjacent pairs by Σ 1/ln(deg) over common neighbors —
    // wedge join on the middle node, hub-capped, fixed-point integer
    // score sum, top-k chosen on the exact integer order.
    "q_link_predict" -> ((s, d) =>
      graft.operators.Graph.adamicAdar(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // 3-core of the same co-order part graph by convergence-probed
    // peeling (edge-count fixpoint probe, 12-round cap — result
    // bit-identical to fixed-12, r9 measurement in PLANS.md): the
    // graph-cleaning cut that drops the sparse fringe before the
    // expensive passes. Per round one degree aggregate + two
    // left-semi joins, localCheckpoint lineage truncation. The
    // symmetrized pairs stay an edge set: src < dst in one branch,
    // src > dst in the other.
    "q_kcore" -> ((s, d) => {
      val p = graft.operators.Itemsets.pairEdges(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey")
      graft.operators.Graph.kCore(
        p.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(p.select(col("b").as("src"), col("a").as("dst"))),
        3)
    }),

    // 3-truss of the same co-order part graph: edge-level peel by
    // triangle support (>= 1), convergence-probed like q_kcore;
    // output support measured on the surviving subgraph. (k = 4 is
    // empty on this graph at the oracle scales — the pair prune
    // already thins triangles.)
    "q_ktruss" -> ((s, d) =>
      graft.operators.Graph.kTruss(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"),
        k = 3)),

    // Welch's t between two customer segments on account balance —
    // one conditional-aggregate pass, closed form in doubles.
    "q_ab_test" -> ((s, d) =>
      Analytics.welchTTest(Tables.customer(s, d), "c_mktsegment",
        "BUILDING", "MACHINERY",
        col("c_acctbal").cast(Tables.Money))),

    // Poisson-bootstrap CI on per-source mean doc length: B = 64
    // content-hash-weighted replicates, integer cell sums, rank-based
    // [2nd smallest, 2nd largest] band over the replicate means.
    "q_bootstrap_ci" -> ((s, d) =>
      Analytics.bootstrapCI(Tables.documents(s, d), "source",
        col("doc_id"), col("n_chars"))),

    // Median-of-means robust mean of the same metric: 32 hash
    // buckets per source, exact bucket means, rank-median.
    "q_median_of_means" -> ((s, d) =>
      Analytics.medianOfMeans(Tables.documents(s, d), "source",
        col("doc_id"), col("n_chars"))),

    // Top event-type trigrams over per-user ordered paths: two leads
    // on one sort, |types|³-bounded aggregate, top-20.
    "q_path_trigrams" -> ((s, d) =>
      Analytics.pathTrigrams(Events.typed(Tables.events(s, d)))),

    // Right-to-erasure dry run: cascade delete counts (customer →
    // orders → lineitem) from broadcast-key left joins — every table
    // scanned once, nothing rewritten.
    "q_purge_audit" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val ords = Tables.orders(s, d)
      val delCust = cust.filter(col("c_acctbal") < -900)
        .select(col("c_custkey").as("key"))
      val delOrd = ords
        .join(broadcast(delCust), col("o_custkey") === col("key"))
        .select(col("o_orderkey").as("key"))
      Analytics.purgeAudit(Seq(
        ("customer", cust, "c_custkey", delCust),
        ("orders", ords, "o_custkey", delCust),
        ("lineitem", Tables.lineitem(s, d), "l_orderkey", delOrd)))
    }),

    // Degree profile of the purchase graph: log₂-bucket histogram +
    // per-bucket min/max/ends — the pre-flight read that decides
    // whether the heavy-tail plan variants are needed.
    "q_graph_profile" -> ((s, d) =>
      graft.operators.Graph.degreeProfile(
        graft.operators.Graph.purchaseEdges(
          Tables.orders(s, d), Tables.lineitem(s, d)))),

    // Rate-limit sampling: at most 2 events per (user, day) in
    // arrival order — the hot-key ingest throttle, deterministic
    // (~43% of (user, day) groups exceed the cap on this substrate).
    "q_rate_limit" -> ((s, d) =>
      graft.operators.Sampling.rateLimit(
        Events.typed(Tables.events(s, d)), "user_id", "ts",
        "event_id", "1 day", 2)),

    // Point-in-time feature join: each order sees the customer-segment
    // VERSION valid at its own order date (v2 from 1995-07-01 for
    // every third customer) — the leakage-free feature-store join.
    "q_pit_features" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val v1 = cust.select(col("c_custkey").as("custkey"),
        col("c_mktsegment").as("segment"),
        lit("1992-01-01").cast("date").as("valid_from"),
        when(col("c_custkey") % 3 === 0,
          lit("1995-07-01").cast("date")).as("valid_to"))
      val v2 = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("custkey"),
          concat(col("c_mktsegment"), lit("-V2")).as("segment"),
          lit("1995-07-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"))
      graft.operators.TemporalJoin.pointInTime(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate")),
        "o_custkey", "o_orderdate", v1.unionByName(v2), "custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("segment"))
    }),

    // Local clustering coefficient of the co-order part graph: per
    // node, triangles through it vs possible wedges — the community-
    // density read (is a cluster a topic or a hub artifact) on the
    // same compact-forward enumeration q_triangles audits.
    "q_clustering_coeff" -> ((s, d) =>
      graft.operators.Graph.clusteringCoefficient(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // Degree assortativity (Newman's r) of the same graph: Pearson
    // correlation of endpoint degrees over every edge end — one
    // number that says hub-to-hub vs hub-to-leaf before any
    // degree-sensitive algorithm runs.
    "q_assortativity" -> ((s, d) =>
      graft.operators.Graph.assortativity(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // Winsorized price statistics per return flag: clip at the exact
    // p05/p95 order statistics (integer-index selection — no
    // percentile-interpolation ambiguity), then the robust mean
    // beside the clip counts.
    "q_winsorize" -> ((s, d) =>
      Analytics.winsorize(Tables.lineitem(s, d), "l_returnflag",
        col("l_extendedprice").cast(Tables.Money))),

    // Degree Gini of the co-order part graph: inequality of the
    // degree distribution — the continuous companion to the log2
    // degree histogram (will degree-aware tricks matter here?).
    "q_degree_gini" -> ((s, d) =>
      graft.operators.Graph.degreeGini(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // Hub edge share of the same graph: fraction of edges touching
    // the top-100 degree nodes — how much join work lands on hubs.
    "q_hub_share" -> ((s, d) =>
      graft.operators.Graph.hubShare(
        graft.operators.Itemsets.pairEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // Join-strategy advisor for lineitem⋈part on partkey: the degree
    // statistics folded into the broadcast/salt/shuffle decision —
    // statistics-only, never runs the join it advises on; integer
    // threshold arithmetic, no float verdict boundary.
    "q_join_advisor" -> ((s, d) =>
      Analytics.joinAdvisor(Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey")),

    // Time-decayed event counts (30-day half-life): recency weighting
    // with DYADIC weights 2^-k carried as integers 2^(20-k) — exact
    // sums at any scale, one division, no exp() parity surface.
    "q_decay_counts" -> ((s, d) =>
      Analytics.decayCounts(Events.typed(Tables.events(s, d)))),

    // The spark.sql TEXT surface over the EXTENSION views (VERDICT r9
    // #5 — q_sql_monthly proved the path for the AR slice only):
    // decayed counts expressed as SQL over the registered events_typed
    // view, same dyadic integer weights, same single division.
    "q_sql_decay_counts" -> ((s, d) => {
      graft.queries.Views.register(s, d)
      s.sql("""
        WITH ref AS (
          SELECT MAX(CAST(ts AS DATE)) AS r FROM events_typed)
        SELECT /*+ BROADCAST(ref) */ event_type,
          COUNT(*) AS n_events,
          round(CAST(SUM(CASE
            WHEN datediff(r, CAST(ts AS DATE)) DIV 30 <= 20
            THEN shiftleft(CAST(1 AS BIGINT),
              20 - (datediff(r, CAST(ts AS DATE)) DIV 30))
            ELSE 0 END) AS DOUBLE) / 1048576.0, 6) AS decayed_count
        FROM events_typed CROSS JOIN ref
        GROUP BY event_type""")
    }),

    // SQL-text CUSUM (the fixed 0-seeded closed form as dialect
    // text over the typed view — v is the Money decimal, so the
    // cents snap is CAST(v * 100 AS BIGINT); the twin mirrors the
    // decimal path explicitly).
    "q_sql_cusum" -> ((s, d) => {
      graft.queries.Views.register(s, d)
      s.sql("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            SUM(CAST(v * 100 AS BIGINT)) AS x
          FROM events_typed GROUP BY 1, 2),
        stats AS (
          SELECT event_type, SUM(x) AS sumx, COUNT(*) AS n
          FROM daily GROUP BY 1),
        w AS (
          SELECT /*+ BROADCAST(s) */ d.event_type, d.day, d.x,
            s.sumx, s.n,
            row_number() OVER (PARTITION BY d.event_type
              ORDER BY d.day) AS t,
            SUM(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day
              ROWS UNBOUNDED PRECEDING) AS ps
          FROM daily d JOIN stats s ON d.event_type = s.event_type),
        p AS (SELECT *, ps * n - t * sumx AS p FROM w),
        m AS (SELECT *, LEAST(CAST(0 AS BIGINT),
            MIN(p) OVER (PARTITION BY event_type ORDER BY day
              ROWS UNBOUNDED PRECEDING)) AS pmin
          FROM p)
        SELECT event_type, day, x AS day_total_cents,
          p - pmin AS cusum_scaled,
          (p - pmin) > 2 * sumx AS alarm
        FROM m""")
    })
  )

  /** Machine-unrolled DuckDB twin of [[graft.query.Analytics
    * .sinkhorn]]: `iters` alternating-scaling rounds, each grid sum
    * an ORDER BY-keyed list fold (the kruskalWallis idiom).
    */
  private def sinkhornSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""kv$t AS (
         |  SELECT i, list_reduce(list_transform(
         |      list(struct_pack(k := j, t := kk * v) ORDER BY j),
         |      s -> s.t), (x, y) -> x + y) AS kv
         |  FROM grid JOIN v${t - 1} USING (j) GROUP BY i),
         |u$t AS (
         |  SELECT ab.band AS i, a / kv AS u
         |  FROM ab JOIN kv$t ON ab.band = kv$t.i),
         |ku$t AS (
         |  SELECT j, list_reduce(list_transform(
         |      list(struct_pack(k := i, t := kk * u) ORDER BY i),
         |      s -> s.t), (x, y) -> x + y) AS ku
         |  FROM grid JOIN u$t USING (i) GROUP BY j),
         |v$t AS (
         |  SELECT ab.band AS j, b / ku AS v
         |  FROM ab JOIN ku$t ON ab.band = ku$t.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH banded AS (
       |  SELECT c_mktsegment AS seg,
       |    (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)
       |      // 100000 AS band
       |  FROM customer
       |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
       |counts AS (
       |  SELECT band,
       |    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cb
       |  FROM banded GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
       |    CAST(SUM(cb) AS BIGINT) AS nb, COUNT(*) AS bcnt
       |  FROM counts),
       |ab AS MATERIALIZED (
       |  SELECT band, na, nb,
       |    CAST(ca + 1 AS DOUBLE) / CAST(na + bcnt AS DOUBLE) AS a,
       |    CAST(cb + 1 AS DOUBLE) / CAST(nb + bcnt AS DOUBLE) AS b
       |  FROM counts CROSS JOIN tot),
       |grid AS MATERIALIZED (
       |  SELECT x.band AS i, y.band AS j,
       |    CAST(ABS(x.band - y.band) AS DOUBLE) AS c,
       |    exp(-CAST(ABS(x.band - y.band) AS DOUBLE) / 1.0) AS kk
       |  FROM ab x CROSS JOIN ab y),
       |v0 AS (SELECT band AS j, 1.0 AS v FROM ab),
       |$rounds,
       |terms AS (
       |  SELECT g.i, g.j, u * kk * v * c AS t,
       |    g.i * 100 + g.j AS ij
       |  FROM grid g JOIN u$iters USING (i) JOIN v$iters USING (j))
       |SELECT na AS n_a, nb AS n_b, $iters AS iters,
       |  round(list_reduce(list_transform(
       |    list(struct_pack(k := ij, t := t) ORDER BY ij),
       |    s -> s.t), (x, y) -> x + y), 6) AS sinkhorn_cost
       |FROM terms CROSS JOIN tot GROUP BY na, nb""".stripMargin
  }

  /** One Granger direction's CTE chain over the shared 14-moment g:
    * a rename projection mapping the direction's target/own/cause
    * roles onto the standard (sy, syy, s1, s2, …) names, then the
    * Cramer solve and RSS chain — mirrors Analytics.granger's dir()
    * tree for tree.
    */
  private def grangerLegSql(id: String, sy: String, syy: String,
                            s1: String, s2: String, s11: String,
                            s12: String, s22: String, s1y: String,
                            s2y: String,
                            keyCols: Seq[String] = Nil): String = {
    val ks = keyCols.map(k => s"$k, ").mkString
    s"""m$id AS (
       |  SELECT ${ks}n, $sy AS sy, $syy AS syy, $s1 AS s1, $s2 AS s2,
       |    $s11 AS s11, $s12 AS s12, $s22 AS s22, $s1y AS s1y,
       |    $s2y AS s2y
       |  FROM g),
       |d$id AS (
       |  SELECT *,
       |    CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
       |      - s1 * (s1 * s22 - s12 * s2)
       |      + s2 * (s1 * s12 - s11 * s2) AS det,
       |    sy * (s11 * s22 - s12 * s12)
       |      - s1 * (s1y * s22 - s12 * s2y)
       |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
       |    CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y)
       |      - sy * (s1 * s22 - s12 * s2)
       |      + s2 * (s1 * s2y - s1y * s2) AS det1,
       |    CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12)
       |      - s1 * (s1 * s2y - s1y * s2)
       |      + sy * (s1 * s12 - s11 * s2) AS det2
       |  FROM m$id),
       |r$id AS (
       |  SELECT *,
       |    syy - ((det0 / det) * sy + (det1 / det) * s1y
       |      + (det2 / det) * s2y) AS rss1,
       |    CAST(n AS DOUBLE) * s11 - s1 * s1 AS den0,
       |    (CAST(n AS DOUBLE) * s1y - s1 * sy)
       |      / (CAST(n AS DOUBLE) * s11 - s1 * s1) AS a1
       |  FROM d$id),
       |f$id AS (
       |  SELECT *,
       |    syy - (((sy - a1 * s1) / CAST(n AS DOUBLE)) * sy
       |      + a1 * s1y) AS rss0
       |  FROM r$id)""".stripMargin
  }

  /** One Cox Newton step: evaluate the t-ordered U/I folds over the
    * `ev` risk frame at the previous CTE's beta (e^beta snapped to
    * 6 dp — the one libm call feeds a rounded rational), then the
    * update beta' = beta + U/I. The weight subtree
    * (n1·eb)/(n2 + n1·eb) is written out verbatim in each term so
    * both engines evaluate the identical IEEE tree Spark's
    * coxHazardRatio builds.
    */
  private def coxStepSql(k: Int, prev: String): String = {
    val w = """((CAST(n1 AS DOUBLE) * b.eb)
       |        / (CAST(n2 AS DOUBLE) + CAST(n1 AS DOUBLE) * b.eb))"""
      .stripMargin
    s"""s$k AS (
       |  SELECT MAX(b.beta) AS b0,
       |    COALESCE(list_reduce(list_transform(
       |      list(struct_pack(k := t, v :=
       |        CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE)
       |        * $w) ORDER BY t),
       |      s -> s.v), (x, y) -> x + y), 0e0) AS u,
       |    COALESCE(list_reduce(list_transform(
       |      list(struct_pack(k := t, v :=
       |        CAST(d AS DOUBLE)
       |        * $w
       |        * (1e0 - $w)) ORDER BY t),
       |      s -> s.v), (x, y) -> x + y), 0e0) AS i
       |  FROM ev CROSS JOIN
       |    (SELECT beta, round(exp(beta), 6) AS eb FROM $prev) b),
       |b$k AS (
       |  SELECT b0 + CASE WHEN i > 0e0 THEN u / i ELSE 0e0 END AS beta
       |  FROM s$k)""".stripMargin
  }

  /** One Granger direction's readout row(s) over its f-CTE. */
  private def grangerOutSql(id: String, label: String,
                            keyCols: Seq[String] = Nil): String = {
    val ks = keyCols.map(k => s"$k, ").mkString
    s"""SELECT $ks'$label' AS direction, n AS n_obs,
       |  round(CASE WHEN det <> 0.0 AND den0 <> 0.0 AND rss1 > 0.0
       |    THEN (rss0 - rss1) * (CAST(n AS DOUBLE) - 3.0) / rss1
       |    END, 6) AS f_stat,
       |  COALESCE(CASE WHEN det <> 0.0 AND den0 <> 0.0
       |      AND rss1 > 0.0
       |    THEN (rss0 - rss1) * (CAST(n AS DOUBLE) - 3.0) / rss1
       |      > 3.841459 END, false) AS significant
       |FROM f$id""".stripMargin
  }

  /** Machine-unrolled DuckDB twin of [[graft.operators.Graph
    * .boruvkaTrace]]: `rounds` blocks of (cross-label edges → per-
    * group row_number pick → canonical-dedup anti join → forest
    * union → stat row → group hooking + `propSteps` pointer-doubling
    * jumps → node relabel), mirroring the Spark loop body CTE for
    * CTE (the twin filters the FULL edge list per round where Spark
    * keeps a shrinking frontier — identical sets, since atomic group
    * merges make intra-label permanent). MATERIALIZED everywhere so
    * DuckDB doesn't exponentially inline the round chain.
    */
  private def boruvkaSql(rounds: Int, propSteps: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s
        |  FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT x.s AS src, y.s AS dst, -COUNT(*) AS w
        |  FROM pairs x JOIN pairs y ON x.ok = y.ok AND x.s < y.s
        |  GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        |  SELECT src, dst, w FROM e
        |  UNION ALL SELECT dst, src, w FROM e),
        |lab0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, src AS label FROM sym),
        |mst0 AS MATERIALIZED (
        |  SELECT src, dst, w FROM e WHERE 1 = 0)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |cross$r AS MATERIALIZED (
        |  SELECT la.label AS gl, lb.label AS glb, s.src, s.dst, s.w
        |  FROM sym s
        |  JOIN lab${r - 1} la ON s.src = la.node
        |  JOIN lab${r - 1} lb ON s.dst = lb.node
        |  WHERE la.label <> lb.label),
        |pick$r AS MATERIALIZED (
        |  SELECT gl, glb, src, dst, w, row_number() OVER (
        |    PARTITION BY gl
        |    ORDER BY w, LEAST(src, dst), GREATEST(src, dst)) AS rk
        |  FROM cross$r),
        |cand$r AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(src, dst) AS src,
        |    GREATEST(src, dst) AS dst, w
        |  FROM pick$r WHERE rk = 1),
        |newe$r AS MATERIALIZED (
        |  SELECT c.src, c.dst, c.w FROM cand$r c
        |  LEFT JOIN mst${r - 1} m
        |    ON c.src = m.src AND c.dst = m.dst
        |  WHERE m.src IS NULL),
        |mst$r AS MATERIALIZED (
        |  SELECT * FROM mst${r - 1}
        |  UNION ALL SELECT * FROM newe$r),
        |stat$r AS MATERIALIZED (
        |  SELECT CAST($r AS BIGINT) AS round,
        |    (SELECT COUNT(DISTINCT label) FROM lab${r - 1})
        |      AS n_groups,
        |    (SELECT COUNT(*) FROM newe$r) AS n_new_edges,
        |    (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) FROM newe$r)
        |      AS new_weight),
        |par${r}p0 AS MATERIALIZED (
        |  SELECT g.g, COALESCE(LEAST(h.gl, h.glb), g.g) AS p
        |  FROM (SELECT DISTINCT label AS g FROM lab${r - 1}) g
        |  LEFT JOIN (SELECT gl, glb FROM pick$r WHERE rk = 1) h
        |    ON g.g = h.gl)""".stripMargin)
      for (s <- 1 to propSteps) {
        sb.append(s""",
          |par${r}p$s AS MATERIALIZED (
          |  SELECT a.g, b.p FROM par${r}p${s - 1} a
          |  JOIN par${r}p${s - 1} b ON a.p = b.g)""".stripMargin)
      }
      sb.append(s""",
        |lab$r AS MATERIALIZED (
        |  SELECT l.node, p.p AS label
        |  FROM lab${r - 1} l JOIN par${r}p$propSteps p
        |    ON l.label = p.g)""".stripMargin)
    }
    sb.append("\n" + (1 to rounds)
      .map(r => s"SELECT * FROM stat$r")
      .mkString("\nUNION ALL "))
    sb.toString
  }

  /** The acf CTE chain (Analytics.acf twin) ending in
    * `acft(event_type, lag, n_terms, acf)` — shared by q_acf and the
    * Ljung-Box readout built on it.
    */
  private val acfCtesSql =
    """daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, x, row_number() OVER (
      |    PARTITION BY event_type ORDER BY day) AS t
      |  FROM daily),
      |stats AS (
      |  SELECT event_type, CAST(SUM(x) AS BIGINT) AS s,
      |    COUNT(*) AS n
      |  FROM idx GROUP BY 1),
      |dev AS (
      |  SELECT idx.event_type, t,
      |    CAST(round((CAST(x AS DOUBLE)
      |      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0)
      |      AS BIGINT) AS d
      |  FROM idx JOIN stats ON idx.event_type = stats.event_type),
      |num AS (
      |  SELECT a.event_type, l.lag,
      |    CAST(SUM(a.d * b.d) AS BIGINT) AS num,
      |    COUNT(*) AS n_terms
      |  FROM dev a
      |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
      |  JOIN dev b ON a.event_type = b.event_type
      |    AND b.t = a.t + l.lag
      |  GROUP BY 1, 2),
      |den AS (
      |  SELECT event_type, CAST(SUM(d * d) AS BIGINT) AS den
      |  FROM dev GROUP BY 1),
      |acft AS (
      |  SELECT num.event_type, lag, n_terms,
      |    round(CASE WHEN den <> 0
      |      THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END, 6)
      |      AS acf
      |  FROM num JOIN den ON num.event_type = den.event_type)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // Borůvka twin: the round loop unrolled (8 rounds × 2 label
    // steps), same canonical (w, least, greatest) pick order, same
    // canonical dedup.
    "q_mst" -> boruvkaSql(8, 2),
    "q_topn_per_group" ->
      s"""WITH $eventsSql,
         |t AS (
         |  SELECT event_type, user_id,
         |    CAST(ROUND(SUM(v), 2) AS DECIMAL(18,2)) AS total,
         |    COUNT(*) AS n_events
         |  FROM e GROUP BY 1, 2),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY event_type ORDER BY total DESC, user_id) AS INT) AS rnk
         |  FROM t)
         |SELECT event_type, user_id, total, n_events, rnk
         |FROM r WHERE rnk <= 3""".stripMargin,

    "q_running_totals" ->
      s"""WITH $eventsSql
         |SELECT user_id, event_id, ts,
         |  CAST(ROUND(SUM(v) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 2)
         |    AS DECIMAL(18,2)) AS running_total
         |FROM e""".stripMargin,

    "q_set_ops" ->
      s"""WITH cust AS ($custSql), inv AS ($invSql),
         |seg AS (SELECT id FROM cust WHERE segment = 'BUILDING'),
         |act AS (
         |  SELECT DISTINCT customer_id AS id FROM inv
         |  WHERE invoice_date >= DATE '1997-03-01'
         |    AND invoice_date < DATE '1997-04-01')
         |SELECT id, 'both' AS op
         |FROM (SELECT id FROM seg INTERSECT SELECT id FROM act)
         |UNION ALL
         |SELECT id, 'seg_only' AS op
         |FROM (SELECT id FROM seg EXCEPT SELECT id FROM act)""".stripMargin,

    // Value quartiles via discrete percentile boundaries — mirrors the
    // engine's boundary-broadcast plan (DuckDB quantile_disc picks the
    // same order statistic as SQL percentile_disc for quarter fractions).
    "q_quartiles" ->
      s"""WITH inv AS ($invSql),
         |c AS (
         |  SELECT quantile_disc(bill_total, 0.25) AS c1,
         |         quantile_disc(bill_total, 0.50) AS c2,
         |         quantile_disc(bill_total, 0.75) AS c3
         |  FROM inv)
         |SELECT invoice_number, bill_total,
         |  CAST(1 + (bill_total > c1)::INT + (bill_total > c2)::INT
         |         + (bill_total > c3)::INT AS INT) AS quartile
         |FROM inv CROSS JOIN c""".stripMargin,

    "q_event_deltas" ->
      s"""WITH $eventsSql
         |SELECT user_id, event_id, ts,
         |  CAST(floor(date_part('epoch', ts)) AS BIGINT)
         |    - CAST(floor(date_part('epoch',
         |        lag(ts, 1) OVER (PARTITION BY user_id
         |          ORDER BY ts, event_id))) AS BIGINT) AS gap_seconds
         |FROM e""".stripMargin,

    "q_rollup" ->
      s"""WITH inv AS ($invSql)
         |SELECT currency, status, COUNT(*) AS n,
         |  CAST(ROUND(SUM(bill_total), 2) AS DECIMAL(18,2)) AS revenue
         |FROM inv GROUP BY ROLLUP (currency, status)""".stripMargin,

    "q_cube" ->
      s"""WITH inv AS ($invSql)
         |SELECT currency, status, COUNT(*) AS n,
         |  CAST(ROUND(SUM(bill_total), 2) AS DECIMAL(18,2)) AS revenue
         |FROM inv GROUP BY CUBE (currency, status)""".stripMargin,

    // Same integer-days order key as the engine (DuckDB RANGE over an
    // INTERVAL on dates would also work; the shared key keeps the two
    // frames definitionally identical).
    "q_trailing_7d" ->
      s"""WITH inv AS ($invSql)
         |SELECT customer_id, invoice_number, invoice_date,
         |  CAST(ROUND(SUM(bill_total) OVER (PARTITION BY customer_id
         |    ORDER BY invoice_date - DATE '1992-01-01'
         |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
         |    AS DECIMAL(18,2)) AS trailing_7d
         |FROM inv""".stripMargin,

    "q_daily_active" ->
      s"""WITH $eventsSql
         |SELECT CAST(ts AS DATE) AS day,
         |  COUNT(DISTINCT user_id) AS active_users,
         |  COUNT(*) AS n_events
         |FROM e GROUP BY 1""".stripMargin,

    "q_quartiles_by_currency" ->
      s"""WITH inv AS ($invSql),
         |c AS (
         |  SELECT currency,
         |         quantile_disc(bill_total, 0.25) AS c1,
         |         quantile_disc(bill_total, 0.50) AS c2,
         |         quantile_disc(bill_total, 0.75) AS c3
         |  FROM inv GROUP BY 1)
         |SELECT invoice_number, inv.currency, bill_total,
         |  CAST(1 + (bill_total > c1)::INT + (bill_total > c2)::INT
         |         + (bill_total > c3)::INT AS INT) AS quartile
         |FROM inv JOIN c ON inv.currency = c.currency""".stripMargin,

    // Unnamed-struct max: row() compares lexicographically; numeric
    // field access (m[1], m[2]) because DuckDB zip/row structs are
    // unnamed.
    "q_latest_per_customer" ->
      s"""WITH inv AS ($invSql),
         |m AS (
         |  SELECT customer_id,
         |    max(row(invoice_date, invoice_number)) AS m
         |  FROM inv GROUP BY 1)
         |SELECT customer_id, m[1] AS last_date, m[2] AS last_invoice
         |FROM m""".stripMargin,

    "q_full_outer" ->
      s"""WITH inv AS ($invSql),
         |a AS (
         |  SELECT customer_id, COUNT(*) AS n_mar FROM inv
         |  WHERE invoice_date >= DATE '1997-03-01'
         |    AND invoice_date < DATE '1997-04-01' GROUP BY 1),
         |b AS (
         |  SELECT customer_id, COUNT(*) AS n_apr FROM inv
         |  WHERE invoice_date >= DATE '1997-04-01'
         |    AND invoice_date < DATE '1997-05-01' GROUP BY 1)
         |SELECT COALESCE(a.customer_id, b.customer_id) AS customer_id,
         |  a.n_mar, b.n_apr
         |FROM a FULL OUTER JOIN b ON a.customer_id = b.customer_id""".stripMargin,

    "q_status_pivot" ->
      s"""WITH inv AS ($invSql)
         |SELECT c.c_mktsegment AS segment,
         |  COUNT(*) FILTER (WHERE status = 'F') AS F,
         |  COUNT(*) FILTER (WHERE status = 'O') AS O,
         |  COUNT(*) FILTER (WHERE status = 'P') AS P
         |FROM inv JOIN customer c ON inv.customer_id = c.c_custkey
         |GROUP BY 1""".stripMargin,

    "q_sql_monthly" ->
      s"""WITH inv AS ($invSql)
         |SELECT '1997-03' AS month,
         |  COALESCE(MIN(currency), 'USD') AS currency,
         |  CAST(ROUND(COALESCE(SUM(bill_total), 0), 2) AS DECIMAL(18,2)) AS sum_bill_total,
         |  COUNT(*) AS count_invoices
         |FROM inv JOIN customer c ON inv.customer_id = c.c_custkey
         |WHERE invoice_date >= DATE '1997-03-01'
         |  AND invoice_date < DATE '1997-04-01'""".stripMargin,

    "q_asof_join" ->
      s"""WITH $eventsSql,
         |l AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
         |r AS (
         |  SELECT user_id, ts, CAST(MAX(v) AS DECIMAL(18,2)) AS purchase_value
         |  FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
         |SELECT l.event_id, l.user_id, l.ts, r.purchase_value
         |FROM l ASOF LEFT JOIN r
         |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    "q_resample_ffill" ->
      s"""WITH $eventsSql,
         |spans AS (
         |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
         |    date_trunc('hour', MAX(ts)) AS t1
         |  FROM e GROUP BY 1),
         |grid AS (
         |  SELECT user_id,
         |    unnest(generate_series(t0, t1, INTERVAL '1 hour')) AS ts
         |  FROM spans),
         |r AS (
         |  SELECT user_id, ts, CAST(MAX(v) AS DECIMAL(18,2)) AS state_v
         |  FROM e GROUP BY 1, 2)
         |SELECT g.user_id, g.ts, r.state_v
         |FROM grid g ASOF LEFT JOIN r
         |  ON g.user_id = r.user_id AND g.ts >= r.ts""".stripMargin,

    "q_range_join" ->
      s"""WITH $eventsSql,
         |m AS (
         |  SELECT user_id, ts,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
         |         THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |g AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m),
         |s AS (
         |  SELECT user_id, MIN(ts) AS session_start,
         |    MAX(ts) + INTERVAL '30 minutes' AS session_end
         |  FROM g GROUP BY user_id, sid)
         |SELECT e.event_id, e.user_id, e.ts, s.session_start
         |FROM e JOIN s ON e.user_id = s.user_id
         |  AND e.ts >= s.session_start AND e.ts < s.session_end""".stripMargin,

    "q_anti_join" ->
      s"""WITH cust AS ($custSql), inv AS ($invSql)
         |SELECT id, name, segment FROM cust c
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM inv i WHERE i.customer_id = c.id
         |    AND i.invoice_date >= DATE '1997-03-01'
         |    AND i.invoice_date < DATE '1997-04-01')""".stripMargin,

    "q_semi_join" ->
      s"""WITH cust AS ($custSql), inv AS ($invSql)
         |SELECT id, name, segment FROM cust c
         |WHERE EXISTS (
         |  SELECT 1 FROM inv i WHERE i.customer_id = c.id
         |    AND i.invoice_date >= DATE '1997-03-01'
         |    AND i.invoice_date < DATE '1997-04-01')""".stripMargin,

    "q_invoice_cadence" ->
      s"""WITH inv AS ($invSql)
         |SELECT customer_id, invoice_number, invoice_date,
         |  CAST(date_diff('day', lag(invoice_date) OVER w, invoice_date)
         |    AS INT) AS days_since_prev,
         |  CAST(date_diff('day', invoice_date, lead(invoice_date) OVER w)
         |    AS INT) AS days_to_next
         |FROM inv WINDOW w AS (
         |  PARTITION BY customer_id
         |  ORDER BY invoice_date, invoice_number)""".stripMargin,

    "q_grouping_sets" ->
      s"""WITH inv AS ($invSql)
         |SELECT currency, status, COUNT(*) AS n,
         |  CAST(ROUND(SUM(bill_total), 2) AS DECIMAL(18,2)) AS revenue
         |FROM inv
         |GROUP BY GROUPING SETS ((currency), (status))""".stripMargin,

    "q_percent_rank" ->
      s"""WITH inv AS ($invSql)
         |SELECT invoice_number, currency, bill_total,
         |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
         |FROM inv
         |WINDOW w AS (PARTITION BY currency ORDER BY bill_total)""".stripMargin,

    // Statistics from EXACT sums, double formula mirrored verbatim from
    // Analytics.corrByGroup (same operation order => same doubles);
    // round(.,6) absorbs the one divergence point, the >2^53-unscaled
    // decimal->double cast of the squared sums.
    "q_corr_by_currency" ->
      s"""WITH inv AS ($invSql),
         |sums AS (
         |  SELECT currency, COUNT(*) AS n,
         |    SUM(terms_days) AS sx, SUM(bill_total) AS sy,
         |    SUM(bill_total * terms_days) AS sxy,
         |    SUM(terms_days * terms_days) AS sx2,
         |    SUM(bill_total * bill_total) AS sy2
         |  FROM inv GROUP BY 1),
         |d AS (
         |  SELECT currency, n, CAST(n AS DOUBLE) AS nd,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sx2 AS DOUBLE) AS sx2d,
         |    CAST(sy2 AS DOUBLE) AS sy2d
         |  FROM sums)
         |SELECT currency, n,
         |  CASE WHEN nd * sx2d - sxd * sxd > 0
         |        AND nd * sy2d - syd * syd > 0 THEN
         |    ROUND((nd * sxyd - sxd * syd) /
         |      (sqrt(nd * sx2d - sxd * sxd) * sqrt(nd * sy2d - syd * syd)), 6)
         |  END AS corr,
         |  CASE WHEN nd > 1 THEN
         |    ROUND((nd * sxyd - sxd * syd) / (nd * (nd - 1.0)), 6)
         |  END AS covar_samp,
         |  CASE WHEN nd * sx2d - sxd * sxd > 0 THEN
         |    ROUND((nd * sxyd - sxd * syd) / (nd * sx2d - sxd * sxd), 6)
         |  END AS beta
         |FROM d""".stripMargin,

    "q_retention_cohort" ->
      s"""WITH inv AS ($invSql),
         |f AS (
         |  SELECT customer_id,
         |    date_trunc('month', MIN(invoice_date)) AS cohort_month
         |  FROM inv GROUP BY 1),
         |a AS (
         |  SELECT DISTINCT customer_id,
         |    date_trunc('month', invoice_date) AS act_month
         |  FROM inv)
         |SELECT strftime(cohort_month, '%Y-%m') AS cohort,
         |  CAST(date_diff('month', cohort_month, act_month) AS INT)
         |    AS month_offset,
         |  COUNT(*) AS n_customers
         |FROM a JOIN f USING (customer_id)
         |GROUP BY 1, 2""".stripMargin,

    "q_unpivot" ->
      s"""WITH inv AS ($invSql),
         |p AS (
         |  SELECT c.c_mktsegment AS segment,
         |    COUNT(*) FILTER (WHERE status = 'F') AS f,
         |    COUNT(*) FILTER (WHERE status = 'O') AS o,
         |    COUNT(*) FILTER (WHERE status = 'P') AS p
         |  FROM inv JOIN customer c ON inv.customer_id = c.c_custkey
         |  GROUP BY 1)
         |SELECT segment, 'F' AS status, f AS n FROM p
         |UNION ALL SELECT segment, 'O', o FROM p
         |UNION ALL SELECT segment, 'P', p.p FROM p""".stripMargin,

    // Stagewise frontiers: MIN per user filtered by strict event-time
    // order against the previous stage — the funnel contract exactly.
    "q_funnel" ->
      s"""WITH $eventsSql,
         |s1 AS (
         |  SELECT user_id, MIN(ts) AS ts FROM e
         |  WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (
         |  SELECT e.user_id, MIN(e.ts) AS ts
         |  FROM e JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'click' AND e.ts > s1.ts GROUP BY 1),
         |s3 AS (
         |  SELECT e.user_id, MIN(e.ts) AS ts
         |  FROM e JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > s2.ts GROUP BY 1)
         |SELECT 1 AS stage, 'view' AS step,
         |  (SELECT COUNT(*) FROM s1) AS n_users
         |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
         |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)""".stripMargin,

    // Funnel-latency twin: the funnel frontier chain + integer-second
    // lags (date_diff counts boundary crossings == the cast-long
    // floor difference) and discrete order statistics.
    "q_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS ts FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS ts FROM e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.ts
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS ts FROM e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.ts
        |       GROUP BY 1),
        |lags AS (
        |  SELECT date_diff('second', s1.ts, s3.ts) AS lag_s
        |  FROM s1 JOIN s3 ON s1.user_id = s3.user_id)
        |SELECT COUNT(*) AS n_converted,
        |  quantile_disc(lag_s, 0.5) AS p50_s,
        |  quantile_disc(lag_s, 0.9) AS p90_s,
        |  quantile_disc(lag_s, 0.99) AS p99_s,
        |  MAX(lag_s) AS max_s
        |FROM lags""".stripMargin,

    "q_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS qi_n
        |  FROM customer GROUP BY 1, 2)
        |SELECT c.c_custkey,
        |  CASE WHEN g.qi_n >= 10 THEN c.c_nationkey END AS nation_qi,
        |  CASE WHEN g.qi_n >= 10 THEN c.c_mktsegment END AS segment_qi,
        |  g.qi_n < 10 AS suppressed
        |FROM customer c JOIN g USING (c_nationkey, c_mktsegment)""".stripMargin,

    // l-diversity twin: same integer band (offset keeps the dividend
    // positive so // and DIV agree), same fixed-point entropy terms,
    // same 1098612 = round(1e6·ln 3) threshold.
    "q_l_diversity" ->
      """WITH banded AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)
        |      // 100000 AS band
        |  FROM customer),
        |cells AS (
        |  SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS cnt
        |  FROM banded GROUP BY 1, 2, 3),
        |groups AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS n_distinct_sv
        |  FROM cells GROUP BY 1, 2),
        |terms AS (
        |  SELECT cells.c_nationkey, cells.c_mktsegment, n,
        |    n_distinct_sv,
        |    CAST(round((-1000000.0 * (CAST(cnt AS DOUBLE) / n))
        |      * ln(CAST(cnt AS DOUBLE) / n)) AS BIGINT) AS term
        |  FROM cells JOIN groups USING (c_nationkey, c_mktsegment)),
        |ent AS (
        |  SELECT c_nationkey, c_mktsegment, n, n_distinct_sv,
        |    CAST(SUM(term) AS BIGINT) AS entropy_fp
        |  FROM terms GROUP BY 1, 2, 3, 4)
        |SELECT c_nationkey, c_mktsegment, n, n_distinct_sv,
        |  round(CAST(entropy_fp AS DOUBLE) / 1000000.0, 6) AS entropy,
        |  n_distinct_sv >= 3 AS distinct_ok,
        |  entropy_fp >= 1098612 AS entropy_ok
        |FROM ent""".stripMargin,

    // The PLAIN join — the salted plan must be result-identical.
    "q_skew_join" ->
      """SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
        |  SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin,

    // PageRank twin: same symmetrized edge build, same fixed-point
    // round→BIGINT contribution (SUM over integers is order-free in
    // both engines), same damping arithmetic tree per iteration.
    "q_pagerank" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |o AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e
         |  UNION ALL SELECT dst AS node FROM e)),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |p0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
         |${(1 to 5).map(prIterSql).mkString(",\n")}
         |SELECT node, round(pr, 6) AS pr FROM p5""".stripMargin,

    // TextRank twin: the pagerank scaffold over the word-adjacency
    // graph (1-based t[i]/t[i+1] in DuckDB == element_at i+1/i+2 in
    // Spark), same five prIterSql iterations, rounded-rank top-20.
    "q_textrank" ->
      s"""WITH toks AS (
         |  SELECT string_split(text, ' ') AS t FROM documents),
         |seq AS (
         |  SELECT t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)),
         |prs AS (
         |  SELECT DISTINCT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b
         |  FROM seq WHERE w1 <> w2),
         |e AS (SELECT a AS src, b AS dst FROM prs
         |      UNION ALL SELECT b AS src, a AS dst FROM prs),
         |o AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e
         |  UNION ALL SELECT dst AS node FROM e)),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |p0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
         |${(1 to 5).map(prIterSql).mkString(",\n")}
         |SELECT node AS token, round(pr, 6) AS pr FROM p5
         |ORDER BY round(pr, 6) DESC, node LIMIT 20""".stripMargin,

    // Weighted-PageRank twin: the pagerank scaffold with the keyed
    // lineitem COUNT as edge weight (no DISTINCT) and out-WEIGHT sums;
    // contribution arithmetic tree identical to the Spark side.
    "q_pagerank_weighted" ->
      s"""WITH pairs AS (
         |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
         |    COUNT(*) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |e AS (SELECT c AS src, s AS dst, w FROM pairs
         |      UNION ALL SELECT s AS src, c AS dst, w FROM pairs),
         |o AS (SELECT src, SUM(w) AS wsum FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e
         |  UNION ALL SELECT dst AS node FROM e)),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |p0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
         |${(1 to 5).map(wprIterSql).mkString(",\n")}
         |SELECT node, round(pr, 6) AS pr FROM p5""".stripMargin,

    // PPR twin: the pagerank CTE scaffold with a seed-indicator node
    // frame and seed-restricted teleport; same fixed-point iteration
    // arithmetic, parenthesization-identical.
    "q_ppr" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |o AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |sd AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
         |       WHERE s_suppkey % 5 = 0),
         |nodes AS (
         |  SELECT n.node,
         |    CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
         |  FROM (SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM e
         |    UNION ALL SELECT dst AS node FROM e)) n
         |  LEFT JOIN sd ON n.node = sd.node),
         |nn AS (SELECT COUNT(*) AS ns FROM sd),
         |p0 AS (SELECT node, CAST(is_seed AS DOUBLE) / ns AS pr
         |       FROM nodes CROSS JOIN nn),
         |${(1 to 5).map(pprIterSql).mkString(",\n")}
         |SELECT node, round(pr, 6) AS pr FROM p5""".stripMargin,

    // BFS twin: same frontier expansion unrolled — round k extends
    // only from nodes first reached at k-1, dedups, and anti-joins
    // away the already-reached. Pure integer arithmetic; order-free.
    "q_bfs_hops" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |d0 AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node, 0 AS dist
         |       FROM supplier WHERE s_suppkey % 5 = 0),
         |${(1 to 4).map(bfsIterSql).mkString(",\n")}
         |SELECT node, dist FROM d4""".stripMargin,

    // Two-sweep diameter twin: the bfs chain twice under independent
    // CTE prefixes, the (dist DESC, node) restart pick in between.
    "q_diameter" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |d0 AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node, 0 AS dist
         |       FROM supplier WHERE s_suppkey % 5 = 0),
         |${(1 to 6).map(bfsIterSqlNamed("d")).mkString(",\n")},
         |far AS (SELECT node, dist FROM d6
         |        ORDER BY dist DESC, node LIMIT 1),
         |f0 AS (SELECT node, 0 AS dist FROM far),
         |${(1 to 6).map(bfsIterSqlNamed("f")).mkString(",\n")}
         |SELECT far.node AS far_node,
         |  CAST(far.dist AS INT) AS ecc_seed_lb,
         |  (SELECT CAST(MAX(dist) AS INT) FROM f6) AS diameter_lb,
         |  (SELECT COUNT(*) FROM f6) AS n_reached
         |FROM far""".stripMargin,

    // HITS twin: directed customer→supplier edges, then 5 unrolled
    // iterations of the sequential (auth from hub, hub from fresh
    // auth) half-steps — 1e-9 fixed-point contribution sums, exact
    // integer L1 totals, identical division tree. Final frame joins
    // the round-5 hub and auth per node.
    "q_hits" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e
         |  UNION ALL SELECT dst AS node FROM e)),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |h0 AS (SELECT node, 1.0 / n AS hub FROM nodes CROSS JOIN nn),
         |${(1 to 5).map(hitsIterSql).mkString(",\n")}
         |SELECT h5.node, round(h5.hub, 6) AS hub, round(a5.auth, 6) AS auth
         |FROM h5 JOIN a5 ON h5.node = a5.node""".stripMargin,

    // Label-propagation twin: the q_ppr seed slice labeled by nation,
    // 3 unrolled majority rounds with the same (max count, min label)
    // tie-break and pinned seeds. Integer-only.
    "q_label_prop" ->
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |seeds AS MATERIALIZED (SELECT DISTINCT s_suppkey * 2 + 1 AS node,
         |    CAST(s_nationkey AS BIGINT) AS label
         |  FROM supplier WHERE s_suppkey % 5 = 0),
         |l0 AS (SELECT node, label FROM seeds),
         |${(1 to 3).map(lpIterSql).mkString(",\n")}
         |SELECT node, label FROM l3""".stripMargin,

    // Modularity twin: the same 3 unrolled LP rounds, then the same
    // exact-integer (degree_sum, within2) aggregate and the identical
    // division parenthesization; singleton labels for unlabeled
    // endpoints via the same +1000000 offset.
    "q_modularity" ->
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |seeds AS MATERIALIZED (SELECT DISTINCT s_suppkey * 2 + 1 AS node,
         |    CAST(s_nationkey AS BIGINT) AS label
         |  FROM supplier WHERE s_suppkey % 5 = 0),
         |l0 AS (SELECT node, label FROM seeds),
         |${(1 to 3).map(lpIterSql).mkString(",\n")},
         |lab AS MATERIALIZED (SELECT node, label FROM l3),
         |le AS (
         |  SELECT COALESCE(ls.label, e.src + 1000000) AS csrc,
         |         COALESCE(ld.label, e.dst + 1000000) AS cdst
         |  FROM e LEFT JOIN lab ls ON e.src = ls.node
         |         LEFT JOIN lab ld ON e.dst = ld.node),
         |per AS MATERIALIZED (
         |  SELECT csrc AS community, COUNT(*) AS degree_sum,
         |    CAST(SUM(CASE WHEN csrc = cdst THEN 1 ELSE 0 END)
         |      AS BIGINT) AS within2
         |  FROM le GROUP BY 1),
         |tot AS (SELECT CAST(SUM(degree_sum) AS BIGINT) AS t,
         |    CAST(SUM(within2) AS BIGINT) AS sw,
         |    CAST(SUM(degree_sum * degree_sum) AS BIGINT) AS sdd
         |  FROM per)
         |SELECT community, degree_sum, within2,
         |  round(CAST(within2 AS DOUBLE) / t
         |    - (CAST(degree_sum AS DOUBLE) / t)
         |      * (CAST(degree_sum AS DOUBLE) / t), 6) AS contribution
         |FROM per CROSS JOIN tot
         |UNION ALL
         |SELECT -1, t, sw,
         |  round(CAST(sw AS DOUBLE) / t
         |    - CAST(sdd AS DOUBLE)
         |      / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6)
         |FROM tot""".stripMargin,

    // Kruskal-Wallis twin: same doubled-rank midranks, seg-ordered
    // list fold (list_reduce's first-element seed == 0.0 + x0 in
    // IEEE), same tie-corrected H tree.
    "q_kruskal_wallis" ->
      """WITH base AS (
        |  SELECT c_nationkey, c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
        |  FROM customer),
        |ranked AS (
        |  SELECT c_nationkey, seg,
        |    2 * rank() OVER (PARTITION BY c_nationkey ORDER BY v)
        |      + COUNT(*) OVER (PARTITION BY c_nationkey, v) - 1 AS r2
        |  FROM base),
        |grp AS (
        |  SELECT c_nationkey, seg, COUNT(*) AS ng,
        |    CAST(SUM(r2) AS BIGINT) AS s2g
        |  FROM ranked GROUP BY 1, 2),
        |ties AS (
        |  SELECT c_nationkey,
        |    CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tie3
        |  FROM (SELECT c_nationkey, v, COUNT(*) AS tc
        |        FROM base GROUP BY 1, 2)
        |  GROUP BY 1),
        |folded AS (
        |  SELECT c_nationkey, CAST(SUM(ng) AS BIGINT) AS n,
        |    COUNT(*) AS n_groups,
        |    list_reduce(list_transform(
        |      list(struct_pack(seg := seg, ng := ng, s2g := s2g)
        |        ORDER BY seg),
        |      g -> CAST(g.s2g AS DOUBLE) * CAST(g.s2g AS DOUBLE)
        |        / (4.0 * CAST(g.ng AS DOUBLE))),
        |      (a, b) -> a + b) AS sr2
        |  FROM grp GROUP BY 1)
        |SELECT f.c_nationkey, n, n_groups,
        |  round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |    * sr2 - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h,
        |  round(CASE WHEN 1.0 - CAST(tie3 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) > 0.0
        |    THEN (12.0 / (CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) + 1.0)) * sr2
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |      / (1.0 - CAST(tie3 AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
        |    END, 6) AS h_tie_corrected
        |FROM folded f JOIN ties ON f.c_nationkey = ties.c_nationkey""".stripMargin,

    // Mann-Whitney twin: same doubled-rank midranks, same tie sum,
    // same normal-approximation double tree.
    "q_mann_whitney" ->
      """WITH base AS (
        |  SELECT c_nationkey, c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |ranked AS (
        |  SELECT c_nationkey, seg,
        |    2 * rank() OVER (PARTITION BY c_nationkey ORDER BY v)
        |      + COUNT(*) OVER (PARTITION BY c_nationkey, v) - 1 AS r2
        |  FROM base),
        |g AS (
        |  SELECT c_nationkey,
        |    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN r2 ELSE 0 END)
        |      AS BIGINT) AS s2a
        |  FROM ranked GROUP BY 1),
        |ties AS (
        |  SELECT c_nationkey,
        |    CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tie3
        |  FROM (SELECT c_nationkey, v, COUNT(*) AS tc
        |        FROM base GROUP BY 1, 2)
        |  GROUP BY 1),
        |d AS (
        |  SELECT g.c_nationkey, na, nb,
        |    CAST(s2a - na * (na + 1) AS DOUBLE) / 2.0 AS ua,
        |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
        |      * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
        |        - CAST(tie3 AS DOUBLE)
        |          / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |            * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)
        |              - 1.0))) AS sigma2
        |  FROM g JOIN ties ON g.c_nationkey = ties.c_nationkey)
        |SELECT c_nationkey, na, nb,
        |  round(CASE WHEN na > 0 AND nb > 0 THEN ua END, 6) AS u_a,
        |  round(CASE WHEN na > 0 AND nb > 0 AND sigma2 > 0.0
        |    THEN (ua - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
        |      / sqrt(sigma2) END, 6) AS z
        |FROM d""".stripMargin,

    // CUPED twin: same integer-dollar sums, same md5 arm lottery,
    // identical double tree for theta / adjusted means / corr^2.
    "q_cuped" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE)
        |        < DATE '1996-01-01'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE)
        |        >= DATE '1996-01-01'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |units AS (
        |  SELECT c.c_custkey, COALESCE(x, 0) AS x, COALESCE(y, 0) AS y,
        |    ('0x' || substr(md5(c.c_custkey::VARCHAR || ':cuped'),
        |      1, 15))::BIGINT % 2 AS arm
        |  FROM customer c LEFT JOIN per ON c.c_custkey = per.o_custkey),
        |g AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT)
        |      AS sxa,
        |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
        |      AS sya,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT)
        |      AS sxb,
        |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
        |      AS syb
        |  FROM units),
        |d AS (
        |  SELECT *,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
        |  FROM g)
        |SELECT n, na, nb,
        |  round(CASE WHEN varxn <> 0.0 THEN covn / varxn END, 6)
        |    AS theta,
        |  round(CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE)
        |    - CAST(sya AS DOUBLE) / CAST(na AS DOUBLE), 6)
        |    AS diff_raw,
        |  round(CASE WHEN varxn <> 0.0 THEN
        |    (CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE)
        |      - (covn / varxn)
        |        * (CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) - xbar))
        |    - (CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
        |      - (covn / varxn)
        |        * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) - xbar))
        |    END, 6) AS diff_adj,
        |  round(CASE WHEN varxn <> 0.0 AND varyn <> 0.0
        |    THEN covn * covn / (varxn * varyn) END, 6)
        |    AS var_reduction
        |FROM d""".stripMargin,

    // Theil-Sen twin: same daily series and dense index, same exact-
    // quotient slopes, same floor/ceil rank median.
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS t
        |  FROM daily),
        |pairs AS (
        |  SELECT a.event_type, a.t AS t1, b.t AS t2,
        |    CAST(b.x - a.x AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
        |      / 100.0 AS slope
        |  FROM idx a JOIN idx b ON a.event_type = b.event_type
        |    AND a.t < b.t),
        |ranked AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope ASC, t1 ASC, t2 ASC) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS c
        |  FROM pairs)
        |SELECT event_type, CAST(MAX(c) AS BIGINT) AS n_pairs,
        |  round(AVG(slope), 6) AS sen_slope
        |FROM ranked
        |WHERE rk = floor((c + 1) / 2.0) OR rk = ceil((c + 1) / 2.0)
        |GROUP BY 1""".stripMargin,

    // Benford twin: same integer-cents leading digit, same ln-ratio
    // expected shares and chi-square terms.
    "q_benford" ->
      """WITH digits AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |    COUNT(*) AS n_obs
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM digits)
        |SELECT digit, n_obs,
        |  round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS obs_share,
        |  round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
        |    AS exp_share,
        |  round((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE)
        |      * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
        |    * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE)
        |      * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
        |    / (CAST(n AS DOUBLE)
        |      * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))), 6)
        |    AS chi2_term
        |FROM digits CROSS JOIN tot""".stripMargin,

    // ACF twin: same integer-dollar deviation snap, same exact lag
    // products and denominator, null on constant series.
    "q_acf" ->
      s"""WITH $acfCtesSql
         |SELECT event_type, lag, n_terms, acf FROM acft""".stripMargin,

    // Seasonality twin: same epoch-day mod 7 grain, same exact
    // quotients, HUGEINT squared-deviation sums.
    "q_seasonality" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      % 7 AS BIGINT) AS dow
        |  FROM events GROUP BY 1, 2, 4),
        |tot AS (
        |  SELECT event_type, CAST(SUM(x) AS BIGINT) AS sx,
        |    COUNT(*) AS n
        |  FROM daily GROUP BY 1),
        |bydow AS (
        |  SELECT event_type, dow, CAST(SUM(x) AS BIGINT) AS sd,
        |    COUNT(*) AS nd
        |  FROM daily GROUP BY 1, 2),
        |sst AS (
        |  SELECT d.event_type,
        |    CAST(SUM(CAST(n * x - sx AS HUGEINT) * (n * x - sx))
        |      AS DOUBLE) AS sst
        |  FROM daily d JOIN tot USING (event_type) GROUP BY 1)
        |SELECT b.event_type, dow, nd AS n_days,
        |  round(CAST(sd * n AS DOUBLE) / CAST(nd * sx AS DOUBLE), 6)
        |    AS dow_index,
        |  round(CASE WHEN sst > 0.0
        |    THEN CAST(CAST(n * sd - nd * sx AS HUGEINT)
        |        * (n * sd - nd * sx) AS DOUBLE)
        |      / CAST(nd AS DOUBLE) / sst END, 6) AS var_share
        |FROM bydow b JOIN tot USING (event_type)
        |JOIN sst ON sst.event_type = b.event_type""".stripMargin,

    // mSPRT twin: same daily diff, same HUGEINT variance, the same
    // lambda tree and running-min always-valid p.
    "q_msprt" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(round(value * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT)
        |    - CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS d
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |stats AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(d) AS BIGINT) AS s
        |  FROM daily),
        |varn AS (
        |  SELECT CAST(SUM(CAST(n * d - s AS HUGEINT) * (n * d - s))
        |      AS DOUBLE)
        |    / CAST(n * n * n AS DOUBLE) AS sig2
        |  FROM daily CROSS JOIN stats GROUP BY n),
        |run AS (
        |  SELECT day,
        |    row_number() OVER (ORDER BY day) AS t,
        |    CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cs
        |  FROM daily),
        |lam AS (
        |  SELECT day, t,
        |    CAST(cs AS DOUBLE) / CAST(t AS DOUBLE) AS xbar,
        |    sqrt(1.0 / (1.0 + CAST(t AS DOUBLE)))
        |      * exp(CAST(t AS DOUBLE)
        |        * (CAST(cs AS DOUBLE) / CAST(t AS DOUBLE))
        |        * (CAST(cs AS DOUBLE) / CAST(t AS DOUBLE))
        |        / (2.0 * sig2 * (1.0 + 1.0 / CAST(t AS DOUBLE))))
        |      AS lambda
        |  FROM run CROSS JOIN varn),
        |pv AS (
        |  SELECT *, LEAST(1.0, 1.0 / MAX(lambda) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)) AS p_av
        |  FROM lam)
        |SELECT day, CAST(t AS BIGINT) AS n_days_so_far,
        |  round(xbar, 6) AS cum_mean_cents,
        |  round(lambda, 6) AS lambda,
        |  round(p_av, 6) AS p_always_valid,
        |  p_av < 0.05 AS reject_at_5pct
        |FROM pv""".stripMargin,

    // Sinkhorn twin: 5 unrolled scaling rounds, ORDER BY-keyed list
    // folds for every grid sum, same smoothed masses and kernel tree.
    "q_sinkhorn" -> sinkhornSql(5),

    // BH-FDR twin: same grid enumeration with zero-obs cells, same
    // fixed-point chi-square, same closed-form even-df survival and
    // cross-multiplied step-up.
    "q_bh_fdr" ->
      """WITH banded AS (
        |  SELECT c_nationkey, c_mktsegment AS seg,
        |    (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)
        |      // 400000 AS band
        |  FROM customer),
        |cells AS (
        |  SELECT c_nationkey, seg, band, COUNT(*) AS obs
        |  FROM banded GROUP BY 1, 2, 3),
        |rowt AS (
        |  SELECT c_nationkey, seg, CAST(SUM(obs) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1, 2),
        |colt AS (
        |  SELECT c_nationkey, band, CAST(SUM(obs) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1, 2),
        |tot AS (
        |  SELECT c_nationkey, CAST(SUM(obs) AS BIGINT) AS n
        |  FROM cells GROUP BY 1),
        |grid AS (
        |  SELECT r.c_nationkey, r.seg, c.band, r.rt, c.ct, t.n,
        |    CAST(COALESCE(cells.obs, 0) AS BIGINT) AS obs
        |  FROM rowt r
        |  JOIN colt c ON r.c_nationkey = c.c_nationkey
        |  JOIN tot t ON r.c_nationkey = t.c_nationkey
        |  LEFT JOIN cells ON cells.c_nationkey = r.c_nationkey
        |    AND cells.seg = r.seg AND cells.band = c.band),
        |terms AS (
        |  SELECT c_nationkey, n, seg, band,
        |    CAST(round(1e6
        |      * CAST(n * obs - rt * ct AS DOUBLE)
        |      * CAST(n * obs - rt * ct AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(rt * ct AS DOUBLE)))
        |      AS BIGINT) AS tfp
        |  FROM grid),
        |chi AS (
        |  SELECT c_nationkey, n, COUNT(DISTINCT seg) AS r,
        |    COUNT(DISTINCT band) AS c,
        |    CAST(SUM(tfp) AS BIGINT) AS sfp
        |  FROM terms GROUP BY 1, 2),
        |withp AS (
        |  SELECT c_nationkey, n,
        |    (r - 1) * (c - 1) AS df,
        |    CAST(sfp AS DOUBLE) / 1e6 AS chi2,
        |    CASE WHEN (r - 1) * (c - 1) % 2 = 0
        |        AND (r - 1) * (c - 1) >= 2
        |      THEN exp(-(CAST(sfp AS DOUBLE) / 1e6 / 2.0)) * (1.0
        |        + CASE WHEN (r - 1) * (c - 1) >= 4
        |            THEN CAST(sfp AS DOUBLE) / 1e6 / 2.0 ELSE 0.0 END
        |        + CASE WHEN (r - 1) * (c - 1) >= 6
        |            THEN (CAST(sfp AS DOUBLE) / 1e6 / 2.0)
        |              * (CAST(sfp AS DOUBLE) / 1e6 / 2.0) / 2.0
        |            ELSE 0.0 END
        |        + CASE WHEN (r - 1) * (c - 1) >= 8
        |            THEN (CAST(sfp AS DOUBLE) / 1e6 / 2.0)
        |              * (CAST(sfp AS DOUBLE) / 1e6 / 2.0)
        |              * (CAST(sfp AS DOUBLE) / 1e6 / 2.0) / 6.0
        |            ELSE 0.0 END)
        |      END AS p_raw
        |  FROM chi),
        |mt AS (
        |  SELECT CAST(SUM(CASE WHEN p_raw IS NOT NULL THEN 1 ELSE 0
        |    END) AS BIGINT) AS mt FROM withp),
        |ranked AS (
        |  SELECT w.*, mt,
        |    row_number() OVER (ORDER BY p_raw, c_nationkey) AS k
        |  FROM withp w CROSS JOIN mt WHERE p_raw IS NOT NULL),
        |flags AS (
        |  SELECT *, p_raw * 20.0 * CAST(mt AS DOUBLE)
        |    <= CAST(k AS DOUBLE) * 1.0 AS ok
        |  FROM ranked),
        |ks AS (
        |  SELECT COALESCE(MAX(CASE WHEN ok THEN k END), 0) AS kstar
        |  FROM flags)
        |SELECT c_nationkey, n, df, round(chi2, 6) AS chi2,
        |  round(p_raw, 6) AS p_value, CAST(k AS INT) AS k_rank,
        |  k <= kstar AS rejected
        |FROM flags CROSS JOIN ks""".stripMargin,

    // Conformal twin: same md5 slice lottery, same n-scaled integer
    // residuals, same integer rank boundary and coverage count.
    "q_conformal" ->
      """WITH base AS MATERIALIZED (
        |  SELECT o_orderpriority AS priority,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y,
        |    ('0x' || substr(md5(o_orderkey::VARCHAR || ':conf'),
        |      1, 15))::BIGINT % 4 AS slice
        |  FROM orders),
        |train AS (
        |  SELECT priority, CAST(SUM(y) AS BIGINT) AS sy,
        |    COUNT(*) AS nt
        |  FROM base WHERE slice <= 1 GROUP BY 1),
        |cal AS (
        |  SELECT b.priority, nt, ABS(nt * y - sy) AS r
        |  FROM base b JOIN train USING (priority) WHERE slice = 2),
        |caln AS (SELECT priority, COUNT(*) AS nc FROM cal GROUP BY 1),
        |qhat AS (
        |  SELECT c.priority, nc, r AS qr FROM (
        |    SELECT priority, r, row_number() OVER (
        |      PARTITION BY priority ORDER BY r) AS rk FROM cal) c
        |  JOIN caln USING (priority)
        |  WHERE rk = LEAST(nc, nc + 1 - (nc + 1) * 1 // 20)),
        |test AS (
        |  SELECT b.priority, nc, nt, sy, qr, COUNT(*) AS n_test,
        |    CAST(SUM(CASE WHEN ABS(nt * y - sy) <= qr
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |  FROM base b JOIN train USING (priority)
        |  JOIN qhat USING (priority)
        |  WHERE slice = 3 GROUP BY 1, 2, 3, 4, 5)
        |SELECT priority, nc AS n_cal, n_test,
        |  round(CAST(sy AS DOUBLE) / CAST(nt AS DOUBLE) / 100.0, 6)
        |    AS yhat_dollars,
        |  round(CAST(qr AS DOUBLE) / CAST(nt AS DOUBLE) / 100.0, 6)
        |    AS qhat_dollars,
        |  round(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
        |    AS coverage
        |FROM test""".stripMargin,

    // CQR twin: same md5 ':cqr' split, same integer rank-pick train
    // quantiles (lo = max(1, ceil(nt/20)), hi mirrored), same signed
    // nonconformity, same clamped qhat rank, integer coverage.
    "q_conformal_qr" ->
      """WITH base AS MATERIALIZED (
        |  SELECT o_orderpriority AS priority,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y,
        |    ('0x' || substr(md5(o_orderkey::VARCHAR || ':cqr'),
        |      1, 15))::BIGINT % 4 AS slice
        |  FROM orders),
        |train AS (
        |  SELECT priority, y, row_number() OVER (
        |    PARTITION BY priority ORDER BY y) AS rk
        |  FROM base WHERE slice <= 1),
        |tn AS (SELECT priority, COUNT(*) AS nt FROM train GROUP BY 1),
        |bounds AS (
        |  SELECT t.priority,
        |    MAX(CASE WHEN rk = GREATEST(1, (nt * 1 + 19) // 20)
        |      THEN y END) AS qlo,
        |    MAX(CASE WHEN rk = nt + 1 - GREATEST(1, (nt * 1 + 19) // 20)
        |      THEN y END) AS qhi
        |  FROM train t JOIN tn USING (priority)
        |  GROUP BY 1),
        |cal AS (
        |  SELECT b.priority, GREATEST(qlo - y, y - qhi) AS e
        |  FROM base b JOIN bounds USING (priority) WHERE slice = 2),
        |caln AS (SELECT priority, COUNT(*) AS nc FROM cal GROUP BY 1),
        |qhat AS (
        |  SELECT c.priority, nc, e AS qhat FROM (
        |    SELECT priority, e, row_number() OVER (
        |      PARTITION BY priority ORDER BY e) AS rk FROM cal) c
        |  JOIN caln USING (priority)
        |  WHERE rk = LEAST(nc, nc + 1 - (nc + 1) * 1 // 10)),
        |test AS (
        |  SELECT b.priority, nc, qlo, qhi, qhat, COUNT(*) AS n_test,
        |    CAST(SUM(CASE WHEN y >= qlo - qhat AND y <= qhi + qhat
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |  FROM base b JOIN bounds USING (priority)
        |  JOIN qhat USING (priority)
        |  WHERE slice = 3 GROUP BY 1, 2, 3, 4, 5)
        |SELECT priority, nc AS n_cal, n_test,
        |  round(CAST(qlo AS DOUBLE) / 100.0, 6) AS qlo_dollars,
        |  round(CAST(qhi AS DOUBLE) / 100.0, 6) AS qhi_dollars,
        |  round(CAST(qhat AS DOUBLE) / 100.0, 6) AS qhat_dollars,
        |  round(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
        |    AS coverage
        |FROM test""".stripMargin,

    // Sign-flip twin: same daily cents diffs, same md5-parity signs,
    // same integer extremity count and add-one p.
    "q_sign_flip" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(round(value * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT)
        |    - CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS d
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |obs AS (
        |  SELECT COUNT(*) AS n_days, CAST(SUM(d) AS BIGINT) AS obs
        |  FROM daily),
        |reps AS (
        |  SELECT b.b,
        |    CAST(SUM((2 * (('0x' || substr(md5(day::VARCHAR || ':pt'
        |        || b.b::VARCHAR), 1, 15))::BIGINT % 2) - 1) * d)
        |      AS BIGINT) AS fsum
        |  FROM daily CROSS JOIN
        |    (SELECT unnest(generate_series(0, 63)) AS b) b
        |  GROUP BY 1)
        |SELECT n_days, obs AS obs_diff_cents,
        |  CAST(SUM(CASE WHEN ABS(fsum) >= ABS(obs) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_extreme,
        |  round(CAST(SUM(CASE WHEN ABS(fsum) >= ABS(obs)
        |      THEN 1 ELSE 0 END) + 1 AS DOUBLE) / 65.0, 6) AS p_value
        |FROM reps CROSS JOIN obs
        |GROUP BY n_days, obs""".stripMargin,

    // Chi-square feature twin: same distinct presence counts, same
    // 2x2 closed form and exact-quotient rank.
    "q_chi2_features" ->
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, lang AS label, unnest(
        |    list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |nn AS (SELECT COUNT(*) AS nn FROM documents),
        |per_label AS (
        |  SELECT lang AS label, COUNT(*) AS n_c
        |  FROM documents GROUP BY 1),
        |global AS (
        |  SELECT token, COUNT(*) AS g FROM items
        |  GROUP BY 1 HAVING COUNT(*) >= 5),
        |a AS (
        |  SELECT label, items.token, COUNT(*) AS a
        |  FROM items JOIN global USING (token)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT label, token, a, g,
        |    CAST(a * (nn - n_c - g + a) - (n_c - a) * (g - a)
        |      AS DOUBLE) AS adbc,
        |    CAST(nn AS DOUBLE) AS nnd, CAST(n_c AS DOUBLE) AS ncd,
        |    CAST(nn - n_c AS DOUBLE) AS nycd, CAST(g AS DOUBLE) AS gd,
        |    CAST(nn - g AS DOUBLE) AS ngd
        |  FROM a JOIN global USING (token) JOIN per_label USING (label)
        |  CROSS JOIN nn),
        |guarded AS (
        |  SELECT label, token, a, g,
        |    CASE WHEN nnd > gd AND nnd > ncd
        |      THEN nnd * adbc * adbc / (ncd * nycd * gd * ngd)
        |      ELSE 0.0 END AS chi2_raw
        |  FROM scored),
        |ranked AS (
        |  SELECT label, token, a, g, chi2_raw,
        |    CAST(row_number() OVER (PARTITION BY label
        |      ORDER BY chi2_raw DESC, token) AS INT) AS rnk
        |  FROM guarded)
        |SELECT label, token, a AS df_label, g AS df_global, rnk,
        |  round(chi2_raw, 6) AS chi2
        |FROM ranked WHERE rnk <= 10""".stripMargin,

    // Ljung-Box twin: the shared acf CTE chain, the same 1e-12
    // fixed-point terms, the same rounded-Q gate.
    "q_ljung_box" ->
      s"""WITH $acfCtesSql,
         |terms AS (
         |  SELECT event_type, n_terms + lag AS n, acf,
         |    CAST(round(1e12 * acf * acf / CAST(n_terms AS DOUBLE))
         |      AS BIGINT) AS termfp
         |  FROM acft)
         |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
         |  COUNT(*) AS m_lags,
         |  round(CASE WHEN
         |      SUM(CASE WHEN acf IS NULL THEN 1 ELSE 0 END) = 0
         |    THEN CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) + 2 AS DOUBLE)
         |      * (CAST(SUM(termfp) AS DOUBLE) / 1e12) END, 6)
         |    AS q_stat,
         |  CASE WHEN SUM(CASE WHEN acf IS NULL THEN 1 ELSE 0 END) = 0
         |    THEN round(CAST(MAX(n) AS DOUBLE)
         |      * CAST(MAX(n) + 2 AS DOUBLE)
         |      * (CAST(SUM(termfp) AS DOUBLE) / 1e12), 6) > 14.067140
         |    END AS significant
         |FROM terms GROUP BY 1""".stripMargin,

    // Kaplan-Meier twin: same duration/censor split, same at-risk
    // window arithmetic, same 1e6 fixed-point ln terms and sentinel.
    "q_survival_km" ->
      """WITH comp AS (
        |  SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE)
        |    AS completion
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT o_orderpriority AS priority,
        |    CASE WHEN completion <= DATE '1998-06-01'
        |      THEN datediff('day', CAST(o_orderdate AS DATE),
        |        completion)
        |      ELSE datediff('day', CAST(o_orderdate AS DATE),
        |        DATE '1998-06-01') END AS t,
        |    CASE WHEN completion <= DATE '1998-06-01'
        |      THEN 1 ELSE 0 END AS ev
        |  FROM orders JOIN comp ON o_orderkey = l_orderkey
        |  WHERE CAST(o_orderdate AS DATE) <= DATE '1998-06-01'),
        |times AS (
        |  SELECT priority, t, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(SUM(1 - ev) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |tot AS (
        |  SELECT priority, COUNT(*) AS n_total FROM base GROUP BY 1),
        |risk AS (
        |  SELECT times.priority, t, d, c,
        |    CAST(n_total - (SUM(d + c) OVER (PARTITION BY
        |      times.priority ORDER BY t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) - d - c) AS BIGINT) AS n_risk
        |  FROM times JOIN tot ON times.priority = tot.priority),
        |terms AS (
        |  SELECT priority, t, d, c, n_risk,
        |    CASE WHEN d = 0 THEN 0
        |         WHEN d = n_risk THEN -1000000000000
        |         ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE)
        |           / CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT)
        |    END AS lnterm
        |  FROM risk)
        |SELECT priority, t AS t_days, n_risk, d AS n_events,
        |  c AS n_censored,
        |  round(exp(CAST(SUM(lnterm) OVER (PARTITION BY priority
        |    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS DOUBLE) / 1000000.0), 6) AS survival
        |FROM terms
        |QUALIFY d > 0""".stripMargin,

    // Nelson-Aalen twin: the q_survival_km CTE chain with additive
    // 1e6 fixed-point d/n terms in place of the ln device; exp(-H)
    // finishes the Fleming-Harrington column.
    "q_nelson_aalen" ->
      """WITH comp AS (
        |  SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE)
        |    AS completion
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT o_orderpriority AS priority,
        |    CASE WHEN completion <= DATE '1998-06-01'
        |      THEN datediff('day', CAST(o_orderdate AS DATE),
        |        completion)
        |      ELSE datediff('day', CAST(o_orderdate AS DATE),
        |        DATE '1998-06-01') END AS t,
        |    CASE WHEN completion <= DATE '1998-06-01'
        |      THEN 1 ELSE 0 END AS ev
        |  FROM orders JOIN comp ON o_orderkey = l_orderkey
        |  WHERE CAST(o_orderdate AS DATE) <= DATE '1998-06-01'),
        |times AS (
        |  SELECT priority, t, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(SUM(1 - ev) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |tot AS (
        |  SELECT priority, COUNT(*) AS n_total FROM base GROUP BY 1),
        |risk AS (
        |  SELECT times.priority, t, d, c,
        |    CAST(n_total - (SUM(d + c) OVER (PARTITION BY
        |      times.priority ORDER BY t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) - d - c) AS BIGINT) AS n_risk
        |  FROM times JOIN tot ON times.priority = tot.priority),
        |terms AS (
        |  SELECT priority, t, d, c, n_risk,
        |    CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |      * 1e6) AS BIGINT) AS hterm
        |  FROM risk),
        |sums AS (
        |  SELECT priority, t, d, c, n_risk,
        |    CAST(SUM(hterm) OVER (PARTITION BY priority ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS hsum
        |  FROM terms)
        |SELECT priority, t AS t_days, n_risk, d AS n_events,
        |  c AS n_censored,
        |  round(CAST(hsum AS DOUBLE) / 1000000.0, 6) AS cum_hazard,
        |  round(exp(-CAST(hsum AS DOUBLE) / 1000000.0), 6)
        |    AS fh_survival
        |FROM sums
        |WHERE d > 0""".stripMargin,

    // Mann-Kendall twin: same daily cents rollup, exact integer S
    // and tie sum, one /18 division, continuity-corrected z.
    "q_mann_kendall" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS t
        |  FROM daily),
        |s AS (
        |  SELECT a.event_type,
        |    CAST(SUM(CASE WHEN b.x > a.x THEN 1
        |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM idx a JOIN idx b
        |    ON a.event_type = b.event_type AND a.t < b.t
        |  GROUP BY 1),
        |nd AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
        |ties AS (
        |  SELECT event_type,
        |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT event_type, x, COUNT(*) AS tc
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |vz AS (
        |  SELECT nd.event_type, n, COALESCE(s_stat, 0) AS s_stat,
        |    CAST(n * (n - 1) * (2 * n + 5) - tsum AS DOUBLE) / 18.0
        |      AS var_s
        |  FROM nd JOIN ties USING (event_type)
        |  LEFT JOIN s ON nd.event_type = s.event_type),
        |z AS (
        |  SELECT event_type, n, s_stat, var_s,
        |    CASE WHEN var_s > 0 THEN
        |      CASE WHEN s_stat > 0
        |             THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |           WHEN s_stat < 0
        |             THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |           ELSE 0.0 END END AS zv
        |  FROM vz)
        |SELECT event_type, n AS n_days, s_stat,
        |  round(var_s, 6) AS var_s, round(zv, 6) AS z,
        |  COALESCE(ABS(zv) > 1.959964, false) AS significant
        |FROM z""".stripMargin,

    // Per-nation MK twin: the same chain with the customer-nation
    // broadcast join in front and (nation, event_type) keys all the
    // way down — the PARTITION BY mirrors Spark's segmented window.
    "q_mann_kendall_by_nation" ->
      """WITH seg AS MATERIALIZED (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation, event_type,
        |    ts, value
        |  FROM events JOIN customer ON user_id = c_custkey),
        |daily AS MATERIALIZED (
        |  SELECT nation, event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM seg GROUP BY 1, 2, 3),
        |idx AS (
        |  SELECT nation, event_type, x, row_number() OVER (
        |    PARTITION BY nation, event_type ORDER BY day) AS t
        |  FROM daily),
        |s AS (
        |  SELECT a.nation, a.event_type,
        |    CAST(SUM(CASE WHEN b.x > a.x THEN 1
        |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM idx a JOIN idx b
        |    ON a.nation = b.nation AND a.event_type = b.event_type
        |      AND a.t < b.t
        |  GROUP BY 1, 2),
        |nd AS (SELECT nation, event_type, COUNT(*) AS n
        |       FROM daily GROUP BY 1, 2),
        |ties AS (
        |  SELECT nation, event_type,
        |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT nation, event_type, x, COUNT(*) AS tc
        |        FROM daily GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |vz AS (
        |  SELECT nd.nation, nd.event_type, n,
        |    COALESCE(s_stat, 0) AS s_stat,
        |    CAST(n * (n - 1) * (2 * n + 5) - tsum AS DOUBLE) / 18.0
        |      AS var_s
        |  FROM nd JOIN ties USING (nation, event_type)
        |  LEFT JOIN s ON nd.nation = s.nation
        |    AND nd.event_type = s.event_type),
        |z AS (
        |  SELECT nation, event_type, n, s_stat, var_s,
        |    CASE WHEN var_s > 0 THEN
        |      CASE WHEN s_stat > 0
        |             THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |           WHEN s_stat < 0
        |             THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |           ELSE 0.0 END END AS zv
        |  FROM vz)
        |SELECT nation, event_type, n AS n_days, s_stat,
        |  round(var_s, 6) AS var_s, round(zv, 6) AS z,
        |  COALESCE(ABS(zv) > 1.959964, false) AS significant
        |FROM z""".stripMargin,

    // Per-nation tau-b twin: the q_kendall_tau chain with the nation
    // key on every CTE, the pair join keyed on nation, and the
    // combine as key joins (LEFT for one-day segments with no pairs).
    "q_kendall_tau_by_nation" ->
      """WITH seg AS MATERIALIZED (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation, event_type,
        |    ts, value
        |  FROM events JOIN customer ON user_id = c_custkey
        |  WHERE event_type IN ('view', 'purchase')),
        |daily AS MATERIALIZED (
        |  SELECT nation, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(round(value * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS hx,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS hy
        |  FROM seg GROUP BY 1, 2),
        |d2 AS MATERIALIZED (
        |  SELECT nation, day, x, y FROM daily
        |  WHERE hx = 1 AND hy = 1),
        |pairs AS (
        |  SELECT a.nation, CAST(SUM(
        |      CASE WHEN a.x > b.x THEN 1
        |           WHEN a.x < b.x THEN -1 ELSE 0 END
        |      * CASE WHEN a.y > b.y THEN 1
        |             WHEN a.y < b.y THEN -1 ELSE 0 END) AS BIGINT)
        |      AS s,
        |    COUNT(*) AS n0
        |  FROM d2 a JOIN d2 b
        |    ON a.nation = b.nation AND a.day < b.day
        |  GROUP BY 1),
        |tx AS (
        |  SELECT nation,
        |    CAST(SUM(tc * (tc - 1) // 2) AS BIGINT) AS n_x,
        |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS v_x,
        |    CAST(SUM(tc * (tc - 1)) AS BIGINT) AS p1_x,
        |    CAST(SUM(tc * (tc - 1) * (tc - 2)) AS BIGINT) AS p2_x
        |  FROM (SELECT nation, x, COUNT(*) AS tc FROM d2 GROUP BY 1, 2)
        |  GROUP BY 1),
        |ty AS (
        |  SELECT nation,
        |    CAST(SUM(tc * (tc - 1) // 2) AS BIGINT) AS n_y,
        |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS v_y,
        |    CAST(SUM(tc * (tc - 1)) AS BIGINT) AS p1_y,
        |    CAST(SUM(tc * (tc - 1) * (tc - 2)) AS BIGINT) AS p2_y
        |  FROM (SELECT nation, y, COUNT(*) AS tc FROM d2 GROUP BY 1, 2)
        |  GROUP BY 1),
        |nn AS (SELECT nation, COUNT(*) AS n FROM d2 GROUP BY 1),
        |vv AS (
        |  SELECT nn.nation, s, COALESCE(n0, 0) AS n0, n, n_x, n_y,
        |    CASE WHEN n >= 3 THEN
        |      CAST(n * (n - 1) * (2 * n + 5) - v_x - v_y AS DOUBLE)
        |        / 18.0
        |      + CAST(p1_x * p1_y AS DOUBLE)
        |        / (2.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |      + CAST(p2_x * p2_y AS DOUBLE)
        |        / (9.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
        |          * (CAST(n AS DOUBLE) - 2.0))
        |    ELSE 0.0 END AS var_s
        |  FROM nn JOIN tx USING (nation) JOIN ty USING (nation)
        |  LEFT JOIN pairs ON nn.nation = pairs.nation),
        |dd AS (
        |  SELECT *,
        |    sqrt(CAST(n0 - n_x AS DOUBLE) * CAST(n0 - n_y AS DOUBLE))
        |      AS den
        |  FROM vv)
        |SELECT nation, n AS n_days, s AS s_stat,
        |  round(CASE WHEN den > 0
        |    THEN CAST(s AS DOUBLE) / den END, 6) AS tau_b,
        |  round(CASE WHEN var_s > 0
        |    THEN CAST(s AS DOUBLE) / sqrt(var_s) END, 6) AS z,
        |  COALESCE(CASE WHEN var_s > 0
        |    THEN ABS(CAST(s AS DOUBLE) / sqrt(var_s)) > 1.959964 END,
        |    false) AS significant
        |FROM dd""".stripMargin,

    // SES twin: the order-dependent recursion as a RECURSIVE CTE —
    // each step reads ONLY the previous iteration's row, sidestepping
    // DuckDB list_reduce's unreliable struct-field aliasing (measured:
    // a (level, sse) struct fold updated sse against the NEW level;
    // probe in PLANS.md). Identical IEEE tree to Spark's snapshot
    // fold; α/1−α are source double literals (3e-1/7e-1 — a bare 0.3
    // parses as DECIMAL(2,1) and poisons the arithmetic).
    "q_ses" ->
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS MATERIALIZED (
        |  SELECT event_type, CAST(x AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS t
        |  FROM daily),
        |nn AS (SELECT event_type, COUNT(*) AS n FROM idx GROUP BY 1),
        |rec AS (
        |  SELECT event_type, t, x AS level, 0e0 AS sse
        |  FROM idx WHERE t = 1
        |  UNION ALL
        |  SELECT i.event_type, i.t,
        |    3e-1 * i.x + 7e-1 * r.level,
        |    r.sse + (i.x - r.level) * (i.x - r.level)
        |  FROM rec r JOIN idx i
        |    ON i.event_type = r.event_type AND i.t = r.t + 1)
        |SELECT n.event_type, n.n AS n_days,
        |  round(r.level, 6) AS level,
        |  round(CASE WHEN n.n > 1
        |    THEN sqrt(r.sse / CAST(n.n - 1 AS DOUBLE)) END, 6) AS rmse
        |FROM rec r JOIN nn n
        |  ON r.event_type = n.event_type AND r.t = n.n""".stripMargin,

    // Holt twin: the same recursive-CTE device with the (level,
    // trend, sse) state; the repeated newLevel subtree is written out
    // verbatim so both engines evaluate the identical IEEE tree.
    "q_holt" ->
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS MATERIALIZED (
        |  SELECT event_type, CAST(x AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS t
        |  FROM daily),
        |nn AS (SELECT event_type, COUNT(*) AS n FROM idx GROUP BY 1),
        |rec AS (
        |  SELECT event_type, t, x AS level, 0e0 AS trend, 0e0 AS sse
        |  FROM idx WHERE t = 1
        |  UNION ALL
        |  SELECT i.event_type, i.t,
        |    3e-1 * i.x + 7e-1 * (r.level + r.trend),
        |    2e-1 * ((3e-1 * i.x + 7e-1 * (r.level + r.trend))
        |        - r.level)
        |      + 8e-1 * r.trend,
        |    r.sse + (i.x - (r.level + r.trend))
        |      * (i.x - (r.level + r.trend))
        |  FROM rec r JOIN idx i
        |    ON i.event_type = r.event_type AND i.t = r.t + 1)
        |SELECT n.event_type, n.n AS n_days,
        |  round(r.level, 6) AS level,
        |  round(r.trend, 6) AS trend,
        |  round(r.level + r.trend, 6) AS forecast_next,
        |  round(CASE WHEN n.n > 1
        |    THEN sqrt(r.sse / CAST(n.n - 1 AS DOUBLE)) END, 6) AS rmse
        |FROM rec r JOIN nn n
        |  ON r.event_type = n.event_type AND r.t = n.n""".stripMargin,

    // Per-nation SES twin: the q_ses recursive-CTE device with the
    // nation key riding every CTE and the recursion keyed on
    // (nation, event_type).
    "q_ses_by_nation" ->
      """WITH RECURSIVE seg AS MATERIALIZED (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation, event_type,
        |    ts, value
        |  FROM events JOIN customer ON user_id = c_custkey),
        |daily AS MATERIALIZED (
        |  SELECT nation, event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM seg GROUP BY 1, 2, 3),
        |idx AS MATERIALIZED (
        |  SELECT nation, event_type, CAST(x AS DOUBLE) AS x,
        |    row_number() OVER (
        |      PARTITION BY nation, event_type ORDER BY day) AS t
        |  FROM daily),
        |nn AS (SELECT nation, event_type, COUNT(*) AS n
        |       FROM idx GROUP BY 1, 2),
        |rec AS (
        |  SELECT nation, event_type, t, x AS level, 0e0 AS sse
        |  FROM idx WHERE t = 1
        |  UNION ALL
        |  SELECT i.nation, i.event_type, i.t,
        |    3e-1 * i.x + 7e-1 * r.level,
        |    r.sse + (i.x - r.level) * (i.x - r.level)
        |  FROM rec r JOIN idx i
        |    ON i.nation = r.nation AND i.event_type = r.event_type
        |      AND i.t = r.t + 1)
        |SELECT n.nation, n.event_type, n.n AS n_days,
        |  round(r.level, 6) AS level,
        |  round(CASE WHEN n.n > 1
        |    THEN sqrt(r.sse / CAST(n.n - 1 AS DOUBLE)) END, 6) AS rmse
        |FROM rec r JOIN nn n
        |  ON r.nation = n.nation AND r.event_type = n.event_type
        |    AND r.t = n.n""".stripMargin,

    // Per-nation Holt twin: same keyed recursion with the (level,
    // trend, sse) state; the newLevel subtree written out verbatim.
    "q_holt_by_nation" ->
      """WITH RECURSIVE seg AS MATERIALIZED (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation, event_type,
        |    ts, value
        |  FROM events JOIN customer ON user_id = c_custkey),
        |daily AS MATERIALIZED (
        |  SELECT nation, event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM seg GROUP BY 1, 2, 3),
        |idx AS MATERIALIZED (
        |  SELECT nation, event_type, CAST(x AS DOUBLE) AS x,
        |    row_number() OVER (
        |      PARTITION BY nation, event_type ORDER BY day) AS t
        |  FROM daily),
        |nn AS (SELECT nation, event_type, COUNT(*) AS n
        |       FROM idx GROUP BY 1, 2),
        |rec AS (
        |  SELECT nation, event_type, t, x AS level, 0e0 AS trend,
        |    0e0 AS sse
        |  FROM idx WHERE t = 1
        |  UNION ALL
        |  SELECT i.nation, i.event_type, i.t,
        |    3e-1 * i.x + 7e-1 * (r.level + r.trend),
        |    2e-1 * ((3e-1 * i.x + 7e-1 * (r.level + r.trend))
        |        - r.level)
        |      + 8e-1 * r.trend,
        |    r.sse + (i.x - (r.level + r.trend))
        |      * (i.x - (r.level + r.trend))
        |  FROM rec r JOIN idx i
        |    ON i.nation = r.nation AND i.event_type = r.event_type
        |      AND i.t = r.t + 1)
        |SELECT n.nation, n.event_type, n.n AS n_days,
        |  round(r.level, 6) AS level,
        |  round(r.trend, 6) AS trend,
        |  round(r.level + r.trend, 6) AS forecast_next,
        |  round(CASE WHEN n.n > 1
        |    THEN sqrt(r.sse / CAST(n.n - 1 AS DOUBLE)) END, 6) AS rmse
        |FROM rec r JOIN nn n
        |  ON r.nation = n.nation AND r.event_type = n.event_type
        |    AND r.t = n.n""".stripMargin,

    // Two-proportion z twin: same ':prop' md5 lottery, integer cells,
    // same pooled-variance double tree.
    "q_prop_ztest" ->
      """WITH conv AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'),
        |units AS (
        |  SELECT CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS cv,
        |    ('0x' || substr(md5(c_custkey::VARCHAR || ':prop'),
        |      1, 15))::BIGINT % 2 AS arm
        |  FROM customer LEFT JOIN conv ON c_custkey = o_custkey),
        |g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN arm = 1 THEN cv ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(SUM(CASE WHEN arm = 0 THEN cv ELSE 0 END) AS BIGINT)
        |      AS c2
        |  FROM units),
        |fin AS (
        |  SELECT *,
        |    CASE WHEN n1 > 0
        |      THEN CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS p1,
        |    CASE WHEN n2 > 0
        |      THEN CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) END AS p2,
        |    CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS pp
        |  FROM g),
        |zz AS (
        |  SELECT *,
        |    (p1 - p2) / sqrt(pp * (1.0 - pp)
        |      * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
        |      AS zv,
        |    n1 > 0 AND n2 > 0 AND pp > 0.0 AND pp < 1.0 AS ok
        |  FROM fin)
        |SELECT n1 AS n_treat, n2 AS n_control, c1 AS conv_treat,
        |  c2 AS conv_control, round(p1, 6) AS rate_treat,
        |  round(p2, 6) AS rate_control,
        |  round(CASE WHEN ok THEN zv END, 6) AS z,
        |  COALESCE(CASE WHEN ok THEN ABS(zv) > 1.959964 END, false)
        |    AS significant
        |FROM zz""".stripMargin,

    // McNemar twin: same per-customer pre/post flags, integer
    // discordant cells, corrected numerator squared in BIGINT, one
    // double division.
    "q_mcnemar" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN CAST(o_orderdate AS DATE)
        |      < DATE '1996-01-01' THEN 1 ELSE 0 END) AS pre,
        |    MAX(CASE WHEN CAST(o_orderdate AS DATE)
        |      >= DATE '1996-01-01' THEN 1 ELSE 0 END) AS post
        |  FROM orders GROUP BY 1),
        |units AS (
        |  SELECT COALESCE(pre, 0) AS pre, COALESCE(post, 0) AS post
        |  FROM customer LEFT JOIN per ON c_custkey = o_custkey),
        |g AS (
        |  SELECT COUNT(*) AS n_units,
        |    CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM units),
        |f AS (
        |  SELECT *, GREATEST(ABS(b - c) - 1, 0) AS d FROM g)
        |SELECT n_units, b AS pre_only, c AS post_only,
        |  round(CASE WHEN b + c > 0 THEN
        |    CAST(d * d AS DOUBLE) / CAST(b + c AS DOUBLE) END, 6)
        |    AS chi2,
        |  COALESCE(CASE WHEN b + c > 0 THEN
        |    CAST(d * d AS DOUBLE) / CAST(b + c AS DOUBLE) > 3.841459
        |    END, false) AS significant
        |FROM f""".stripMargin,

    // DiD twin: same per-customer pre/post integer dollars, md5 ':did'
    // arms, HUGEINT sum of squared changes, same Welch-on-diffs tree.
    "q_did" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE)
        |        >= DATE '1996-01-01'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS post,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE)
        |        < DATE '1996-01-01'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS pre
        |  FROM orders GROUP BY 1),
        |units AS (
        |  SELECT COALESCE(post, 0) AS post, COALESCE(pre, 0) AS pre,
        |    COALESCE(post, 0) - COALESCE(pre, 0) AS dif,
        |    ('0x' || substr(md5(c_custkey::VARCHAR || ':did'),
        |      1, 15))::BIGINT % 2 AS arm
        |  FROM customer LEFT JOIN per ON c_custkey = o_custkey),
        |g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nt,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    CAST(SUM(CASE WHEN arm = 1 THEN pre ELSE 0 END)
        |      AS BIGINT) AS pre_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN pre ELSE 0 END)
        |      AS BIGINT) AS pre_c,
        |    CAST(SUM(CASE WHEN arm = 1 THEN post ELSE 0 END)
        |      AS BIGINT) AS post_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN post ELSE 0 END)
        |      AS BIGINT) AS post_c,
        |    CAST(SUM(CASE WHEN arm = 1
        |      THEN CAST(dif AS HUGEINT) * dif ELSE 0 END) AS DOUBLE)
        |      AS qt,
        |    CAST(SUM(CASE WHEN arm = 0
        |      THEN CAST(dif AS HUGEINT) * dif ELSE 0 END) AS DOUBLE)
        |      AS qc
        |  FROM units),
        |sol AS (
        |  SELECT *, post_t - pre_t AS dt, post_c - pre_c AS dc
        |  FROM g),
        |fin AS (
        |  SELECT *,
        |    CAST(dt AS DOUBLE) / CAST(nt AS DOUBLE)
        |      - CAST(dc AS DOUBLE) / CAST(nc AS DOUBLE) AS did,
        |    GREATEST((qt - (CAST(dt AS DOUBLE) * CAST(dt AS DOUBLE))
        |        / CAST(nt AS DOUBLE))
        |        / (CAST(nt AS DOUBLE) - 1.0), 0.0)
        |      / CAST(nt AS DOUBLE)
        |    + GREATEST((qc - (CAST(dc AS DOUBLE) * CAST(dc AS DOUBLE))
        |        / CAST(nc AS DOUBLE))
        |        / (CAST(nc AS DOUBLE) - 1.0), 0.0)
        |      / CAST(nc AS DOUBLE) AS se2
        |  FROM sol)
        |SELECT nt AS n_treat, nc AS n_control,
        |  round(CAST(pre_t AS DOUBLE) / CAST(nt AS DOUBLE), 6)
        |    AS pre_mean_t,
        |  round(CAST(pre_c AS DOUBLE) / CAST(nc AS DOUBLE), 6)
        |    AS pre_mean_c,
        |  round(CAST(post_t AS DOUBLE) / CAST(nt AS DOUBLE), 6)
        |    AS post_mean_t,
        |  round(CAST(post_c AS DOUBLE) / CAST(nc AS DOUBLE), 6)
        |    AS post_mean_c,
        |  round(did, 6) AS did_dollars,
        |  round(CASE WHEN nt > 1 AND nc > 1 AND se2 <> 0.0
        |    THEN did / sqrt(se2) END, 6) AS t_stat,
        |  COALESCE(CASE WHEN nt > 1 AND nc > 1 AND se2 <> 0.0
        |    THEN ABS(did / sqrt(se2)) > 1.959964 END, false)
        |    AS significant
        |FROM fin""".stripMargin,

    // Granger twin: the kendall day pivot + day-index lag join, both
    // legs' Gram/Cramer/RSS chains machine-generated to mirror the
    // Spark trees, chi2(1)-cut readout unioned.
    "q_granger" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT CAST(ts AS DATE) AS day,
         |    CAST(SUM(CASE WHEN event_type = 'view'
         |      THEN CAST(round(value * 100, 0) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS x,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100, 0) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS y,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS hx,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS hy
         |  FROM events WHERE event_type IN ('view', 'purchase')
         |  GROUP BY 1),
         |d2 AS (SELECT day, x, y FROM daily WHERE hx = 1 AND hy = 1),
         |idx AS (
         |  SELECT x, y, row_number() OVER (ORDER BY day) AS t
         |  FROM d2),
         |lagf AS MATERIALIZED (
         |  SELECT c.x AS x, c.y AS y, p.x AS xl, p.y AS yl
         |  FROM idx c JOIN idx p ON c.t = p.t + 1),
         |g AS MATERIALIZED (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(yl AS HUGEINT)) AS DOUBLE) AS l1,
         |    CAST(SUM(CAST(xl AS HUGEINT)) AS DOUBLE) AS l2,
         |    CAST(SUM(CAST(yl AS HUGEINT) * yl) AS DOUBLE) AS l11,
         |    CAST(SUM(CAST(yl AS HUGEINT) * xl) AS DOUBLE) AS l12,
         |    CAST(SUM(CAST(xl AS HUGEINT) * xl) AS DOUBLE) AS l22,
         |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS ty,
         |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS tx,
         |    CAST(SUM(CAST(yl AS HUGEINT) * y) AS DOUBLE) AS y1,
         |    CAST(SUM(CAST(xl AS HUGEINT) * y) AS DOUBLE) AS y2,
         |    CAST(SUM(CAST(xl AS HUGEINT) * x) AS DOUBLE) AS x1,
         |    CAST(SUM(CAST(yl AS HUGEINT) * x) AS DOUBLE) AS x2,
         |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS qy,
         |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS qx
         |  FROM lagf),
         |${grangerLegSql("a", "ty", "qy", "l1", "l2", "l11", "l12",
             "l22", "y1", "y2")},
         |${grangerLegSql("b", "tx", "qx", "l2", "l1", "l22", "l12",
             "l11", "x1", "x2")}
         |${grangerOutSql("a", "view->purchase")}
         |UNION ALL
         |${grangerOutSql("b", "purchase->view")}""".stripMargin,

    // Per-nation Granger twin: the q_granger chain with the customer
    // nation key on every CTE — PARTITION BY nation day index, lag
    // join on (nation, t), per-nation Gram moments; the leg/readout
    // SQL is the same machine-generated tree with the key threaded
    // through (SELECT * keeps it on every intermediate CTE).
    "q_granger_by_nation" ->
      s"""WITH seg AS MATERIALIZED (
         |  SELECT CAST(c_nationkey AS BIGINT) AS nation, event_type,
         |    ts, value
         |  FROM events JOIN customer ON user_id = c_custkey
         |  WHERE event_type IN ('view', 'purchase')),
         |daily AS MATERIALIZED (
         |  SELECT nation, CAST(ts AS DATE) AS day,
         |    CAST(SUM(CASE WHEN event_type = 'view'
         |      THEN CAST(round(value * 100, 0) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS x,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100, 0) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS y,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS hx,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS hy
         |  FROM seg GROUP BY 1, 2),
         |d2 AS (SELECT nation, day, x, y FROM daily
         |       WHERE hx = 1 AND hy = 1),
         |idx AS (
         |  SELECT nation, x, y, row_number() OVER (
         |    PARTITION BY nation ORDER BY day) AS t
         |  FROM d2),
         |lagf AS MATERIALIZED (
         |  SELECT c.nation AS nation, c.x AS x, c.y AS y,
         |    p.x AS xl, p.y AS yl
         |  FROM idx c JOIN idx p
         |    ON c.nation = p.nation AND c.t = p.t + 1),
         |g AS MATERIALIZED (
         |  SELECT nation, COUNT(*) AS n,
         |    CAST(SUM(CAST(yl AS HUGEINT)) AS DOUBLE) AS l1,
         |    CAST(SUM(CAST(xl AS HUGEINT)) AS DOUBLE) AS l2,
         |    CAST(SUM(CAST(yl AS HUGEINT) * yl) AS DOUBLE) AS l11,
         |    CAST(SUM(CAST(yl AS HUGEINT) * xl) AS DOUBLE) AS l12,
         |    CAST(SUM(CAST(xl AS HUGEINT) * xl) AS DOUBLE) AS l22,
         |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS ty,
         |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS tx,
         |    CAST(SUM(CAST(yl AS HUGEINT) * y) AS DOUBLE) AS y1,
         |    CAST(SUM(CAST(xl AS HUGEINT) * y) AS DOUBLE) AS y2,
         |    CAST(SUM(CAST(xl AS HUGEINT) * x) AS DOUBLE) AS x1,
         |    CAST(SUM(CAST(yl AS HUGEINT) * x) AS DOUBLE) AS x2,
         |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS qy,
         |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS qx
         |  FROM lagf GROUP BY 1),
         |${grangerLegSql("a", "ty", "qy", "l1", "l2", "l11", "l12",
             "l22", "y1", "y2", Seq("nation"))},
         |${grangerLegSql("b", "tx", "qx", "l2", "l1", "l22", "l12",
             "l11", "x1", "x2", Seq("nation"))}
         |${grangerOutSql("a", "view->purchase", Seq("nation"))}
         |UNION ALL
         |${grangerOutSql("b", "purchase->view", Seq("nation"))}""".stripMargin,

    // Kendall tau-b twin: same day-aligned cents pivot, exact integer
    // concordance and tie sums, same variance/denominator trees.
    "q_kendall_tau" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(round(value * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS hx,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS hy
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |d2 AS MATERIALIZED (
        |  SELECT day, x, y FROM daily WHERE hx = 1 AND hy = 1),
        |pairs AS (
        |  SELECT CAST(SUM(
        |      CASE WHEN a.x > b.x THEN 1
        |           WHEN a.x < b.x THEN -1 ELSE 0 END
        |      * CASE WHEN a.y > b.y THEN 1
        |             WHEN a.y < b.y THEN -1 ELSE 0 END) AS BIGINT)
        |      AS s,
        |    COUNT(*) AS n0
        |  FROM d2 a JOIN d2 b ON a.day < b.day),
        |tx AS (
        |  SELECT CAST(SUM(tc * (tc - 1) // 2) AS BIGINT) AS n_x,
        |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS v_x,
        |    CAST(SUM(tc * (tc - 1)) AS BIGINT) AS p1_x,
        |    CAST(SUM(tc * (tc - 1) * (tc - 2)) AS BIGINT) AS p2_x
        |  FROM (SELECT x, COUNT(*) AS tc FROM d2 GROUP BY 1)),
        |ty AS (
        |  SELECT CAST(SUM(tc * (tc - 1) // 2) AS BIGINT) AS n_y,
        |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS v_y,
        |    CAST(SUM(tc * (tc - 1)) AS BIGINT) AS p1_y,
        |    CAST(SUM(tc * (tc - 1) * (tc - 2)) AS BIGINT) AS p2_y
        |  FROM (SELECT y, COUNT(*) AS tc FROM d2 GROUP BY 1)),
        |nn AS (SELECT COUNT(*) AS n FROM d2),
        |vv AS (
        |  SELECT s, n0, n, n_x, n_y,
        |    CASE WHEN n >= 3 THEN
        |      CAST(n * (n - 1) * (2 * n + 5) - v_x - v_y AS DOUBLE)
        |        / 18.0
        |      + CAST(p1_x * p1_y AS DOUBLE)
        |        / (2.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |      + CAST(p2_x * p2_y AS DOUBLE)
        |        / (9.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
        |          * (CAST(n AS DOUBLE) - 2.0))
        |    ELSE 0.0 END AS var_s,
        |    sqrt(CAST(n0 - n_x AS DOUBLE) * CAST(n0 - n_y AS DOUBLE))
        |      AS den
        |  FROM pairs CROSS JOIN tx CROSS JOIN ty CROSS JOIN nn)
        |SELECT n AS n_days, s AS s_stat,
        |  round(CASE WHEN den > 0
        |    THEN CAST(s AS DOUBLE) / den END, 6) AS tau_b,
        |  round(CASE WHEN var_s > 0
        |    THEN CAST(s AS DOUBLE) / sqrt(var_s) END, 6) AS z,
        |  COALESCE(CASE WHEN var_s > 0
        |    THEN ABS(CAST(s AS DOUBLE) / sqrt(var_s)) > 1.959964 END,
        |    false) AS significant
        |FROM vv""".stripMargin,

    // Log-rank twin: the q_survival_km duration CTEs collapsed to one
    // shared event-time frame with BOTH groups' at-risk windows, the
    // same hypergeometric E/V trees, t-ordered list_reduce folds.
    "q_logrank" ->
      """WITH comp AS (
        |  SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE)
        |    AS completion
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT (o_orderpriority = '1-URGENT') AS ga,
        |    CASE WHEN completion <= DATE '1998-06-01'
        |      THEN datediff('day', CAST(o_orderdate AS DATE),
        |        completion)
        |      ELSE datediff('day', CAST(o_orderdate AS DATE),
        |        DATE '1998-06-01') END AS t,
        |    CASE WHEN completion <= DATE '1998-06-01'
        |      THEN 1 ELSE 0 END AS ev
        |  FROM orders JOIN comp ON o_orderkey = l_orderkey
        |  WHERE CAST(o_orderdate AS DATE) <= DATE '1998-06-01'),
        |times AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN ga THEN ev ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN ga THEN 1 - ev ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(SUM(CASE WHEN ga THEN 0 ELSE ev END) AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 - ev END) AS BIGINT)
        |      AS c2
        |  FROM base GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(d1 + c1) AS BIGINT) AS n1tot,
        |    CAST(SUM(d2 + c2) AS BIGINT) AS n2tot
        |  FROM times),
        |risk AS (
        |  SELECT t, d1, d2,
        |    n1tot, n2tot,
        |    CAST(n1tot - (SUM(d1 + c1) OVER (ORDER BY t ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) - d1 - c1)
        |      AS BIGINT) AS n1,
        |    CAST(n2tot - (SUM(d2 + c2) OVER (ORDER BY t ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) - d2 - c2)
        |      AS BIGINT) AS n2
        |  FROM times CROSS JOIN tot),
        |ev AS (
        |  SELECT t, d1, n1tot, n2tot, d1 + d2 AS d, n1, n2,
        |    n1 + n2 AS n
        |  FROM risk WHERE d1 + d2 > 0),
        |terms AS (
        |  SELECT t, d1, n1tot, n2tot,
        |    CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE) AS e1,
        |    CASE WHEN n > 1 THEN
        |      CAST(d * n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        * CAST(n - d AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * CAST(n - 1 AS DOUBLE))
        |      ELSE 0.0 END AS v
        |  FROM ev),
        |agg AS (
        |  SELECT MAX(n1tot) AS n1, MAX(n2tot) AS n2,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    COALESCE(list_reduce(list_transform(
        |      list(struct_pack(k := t, v := e1) ORDER BY t),
        |      s -> s.v), (x, y) -> x + y), 0.0) AS e1s,
        |    COALESCE(list_reduce(list_transform(
        |      list(struct_pack(k := t, v := v) ORDER BY t),
        |      s -> s.v), (x, y) -> x + y), 0.0) AS vsum
        |  FROM terms)
        |SELECT n1, n2, o1 AS observed_a, round(e1s, 6) AS expected_a,
        |  round(CASE WHEN vsum > 0 THEN
        |    (CAST(o1 AS DOUBLE) - e1s) * (CAST(o1 AS DOUBLE) - e1s)
        |      / vsum END, 6) AS chi2,
        |  COALESCE(CASE WHEN vsum > 0 THEN
        |    (CAST(o1 AS DOUBLE) - e1s) * (CAST(o1 AS DOUBLE) - e1s)
        |      / vsum > 3.841459 END, false) AS significant
        |FROM agg""".stripMargin,

    // Cox twin: the q_logrank duration/risk CTE prefix + machine-
    // generated Newton steps (coxStepSql) — each step evaluates the
    // t-ordered U/I folds at the previous beta's 6-dp-snapped e^beta,
    // exactly the Spark iteration tree.
    "q_cox_hr" ->
      s"""WITH comp AS (
         |  SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE)
         |    AS completion
         |  FROM lineitem GROUP BY 1),
         |base AS (
         |  SELECT (o_orderpriority = '1-URGENT') AS ga,
         |    CASE WHEN completion <= DATE '1998-06-01'
         |      THEN datediff('day', CAST(o_orderdate AS DATE),
         |        completion)
         |      ELSE datediff('day', CAST(o_orderdate AS DATE),
         |        DATE '1998-06-01') END AS t,
         |    CASE WHEN completion <= DATE '1998-06-01'
         |      THEN 1 ELSE 0 END AS ev
         |  FROM orders JOIN comp ON o_orderkey = l_orderkey
         |  WHERE CAST(o_orderdate AS DATE) <= DATE '1998-06-01'),
         |times AS (
         |  SELECT t,
         |    CAST(SUM(CASE WHEN ga THEN ev ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(SUM(CASE WHEN ga THEN 1 - ev ELSE 0 END) AS BIGINT)
         |      AS c1,
         |    CAST(SUM(CASE WHEN ga THEN 0 ELSE ev END) AS BIGINT) AS d2,
         |    CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 - ev END) AS BIGINT)
         |      AS c2
         |  FROM base GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(d1 + c1) AS BIGINT) AS n1tot,
         |    CAST(SUM(d2 + c2) AS BIGINT) AS n2tot
         |  FROM times),
         |risk AS (
         |  SELECT t, d1, d2,
         |    CAST(n1tot - (SUM(d1 + c1) OVER (ORDER BY t ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW) - d1 - c1)
         |      AS BIGINT) AS n1,
         |    CAST(n2tot - (SUM(d2 + c2) OVER (ORDER BY t ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW) - d2 - c2)
         |      AS BIGINT) AS n2
         |  FROM times CROSS JOIN tot),
         |ev AS MATERIALIZED (
         |  SELECT t, d1, d1 + d2 AS d, n1, n2
         |  FROM risk WHERE d1 + d2 > 0),
         |b0 AS (SELECT 0e0 AS beta),
         |${coxStepSql(1, "b0")},
         |${coxStepSql(2, "b1")},
         |${coxStepSql(3, "b2")},
         |${coxStepSql(4, "b3")},
         |cnts AS (
         |  SELECT CAST(SUM(d) AS BIGINT) AS n_events,
         |    CAST(SUM(d1) AS BIGINT) AS events_a
         |  FROM ev)
         |SELECT n_events, events_a,
         |  round(CASE WHEN i > 0e0 THEN b0 END, 6) AS beta,
         |  round(CASE WHEN i > 0e0 THEN exp(b0) END, 6)
         |    AS hazard_ratio,
         |  round(CASE WHEN i > 0e0 THEN 1e0 / sqrt(i) END, 6) AS se,
         |  round(CASE WHEN i > 0e0 THEN b0 * sqrt(i) END, 6) AS z,
         |  COALESCE(CASE WHEN i > 0e0
         |    THEN ABS(b0 * sqrt(i)) > 1.959964 END, false)
         |    AS significant
         |FROM s4 CROSS JOIN cnts""".stripMargin,

    // CCF twin: same calendar-day alignment, same integer-dollar
    // deviation snap, same exact lag products.
    "q_ccf" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS n
        |  FROM daily GROUP BY 1),
        |dev AS MATERIALIZED (
        |  SELECT d.event_type, d.day,
        |    CAST(round((CAST(x AS DOUBLE)
        |      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0)
        |      AS BIGINT) AS dd
        |  FROM daily d JOIN stats USING (event_type)),
        |dx AS (SELECT day, dd FROM dev WHERE event_type = 'view'),
        |dy AS (SELECT day AS day2, dd AS d2 FROM dev
        |       WHERE event_type = 'purchase'),
        |lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
        |num AS (
        |  SELECT lag, CAST(SUM(dd * d2) AS BIGINT) AS num,
        |    COUNT(*) AS n_terms
        |  FROM dx CROSS JOIN lags
        |  JOIN dy ON dy.day2 = dx.day + CAST(lag AS INTEGER)
        |  GROUP BY 1),
        |den AS (
        |  SELECT (SELECT CAST(SUM(dd * dd) AS BIGINT) FROM dx) AS sxx,
        |    (SELECT CAST(SUM(d2 * d2) AS BIGINT) FROM dy) AS syy)
        |SELECT CAST(lag AS INTEGER) AS lag, n_terms,
        |  round(CASE WHEN sxx > 0 AND syy > 0
        |    THEN CAST(num AS DOUBLE)
        |      / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))
        |    END, 6) AS ccf
        |FROM num CROSS JOIN den""".stripMargin,

    // Pettitt twin: same doubled-rank collapse V_t = r2 - n - 1,
    // same cumulative U, same earliest-argmax day and p approx.
    "q_pettitt" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |tt AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) AS t FROM daily),
        |r AS (
        |  SELECT *,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS r2,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM tt),
        |u AS (
        |  SELECT event_type, day, t, n,
        |    -CAST(SUM(r2 - n - 1) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS u
        |  FROM r QUALIFY t < n),
        |k AS (
        |  SELECT event_type, CAST(MAX(ABS(u)) AS BIGINT) AS k_stat,
        |    MAX(n) AS n
        |  FROM u GROUP BY 1),
        |cp AS (
        |  SELECT u.event_type, MIN(day) AS cp
        |  FROM u JOIN k ON u.event_type = k.event_type
        |    AND ABS(u.u) = k.k_stat
        |  GROUP BY 1)
        |SELECT k.event_type, n AS n_days, k_stat,
        |  CASE WHEN k_stat > 0 THEN cp END AS cp_day,
        |  round(LEAST(2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE)
        |    * CAST(k_stat AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 1.0), 6)
        |    AS p_approx,
        |  LEAST(2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE)
        |    * CAST(k_stat AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 1.0) < 0.05
        |    AS significant
        |FROM k JOIN cp USING (event_type)""".stripMargin,

    // t-closeness twin: same bands, same exact cumulative-difference
    // EMD numerator, same cross-multiplied breach test.
    "q_t_closeness" ->
      """WITH banded AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)
        |      // 100000 AS band
        |  FROM customer),
        |cells AS (
        |  SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS cnt
        |  FROM banded GROUP BY 1, 2, 3),
        |groups AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(SUM(cnt) AS BIGINT) AS n
        |  FROM cells GROUP BY 1, 2),
        |gbands AS (
        |  SELECT band, CAST(SUM(cnt) AS BIGINT) AS gcnt
        |  FROM cells GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(gcnt) AS BIGINT) AS nn, COUNT(*) AS m
        |  FROM gbands),
        |filled AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.n, b.band, b.gcnt,
        |    CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt, nn, m
        |  FROM groups g CROSS JOIN gbands b CROSS JOIN tot
        |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
        |    AND c.c_mktsegment = g.c_mktsegment AND c.band = b.band),
        |r AS (
        |  SELECT c_nationkey, c_mktsegment, n, nn, m,
        |    nn * CAST(SUM(cnt) OVER w AS BIGINT)
        |      - n * CAST(SUM(gcnt) OVER w AS BIGINT) AS rr
        |  FROM filled
        |  WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
        |    ORDER BY band ROWS UNBOUNDED PRECEDING))
        |SELECT c_nationkey, c_mktsegment, n,
        |  round(CAST(SUM(ABS(rr)) AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)
        |      * CAST(m - 1 AS DOUBLE)), 6) AS t_emd,
        |  CAST(SUM(ABS(rr)) AS BIGINT) * 20 > 3 * n * nn * (m - 1)
        |    AS breach
        |FROM r GROUP BY 1, 2, 3, nn, m""".stripMargin,

    // Spearman twin: same doubled-rank midranks (rank() + tie count
    // windows), HUGEINT rank-product sums -> DOUBLE, same closed form.
    "q_spearman" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice, 0) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x,
        |    COALESCE(y, 0) AS y
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |ranked AS (
        |  SELECT c_nationkey,
        |    2 * rank() OVER (PARTITION BY c_nationkey ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY c_nationkey, x) - 1 AS rx,
        |    2 * rank() OVER (PARTITION BY c_nationkey ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY c_nationkey, y) - 1 AS ry
        |  FROM base),
        |g AS (
        |  SELECT c_nationkey, COUNT(*) AS n,
        |    CAST(SUM(rx) AS BIGINT) AS sx,
        |    CAST(SUM(ry) AS BIGINT) AS sy,
        |    CAST(SUM(rx * rx) AS DOUBLE) AS sxx,
        |    CAST(SUM(ry * ry) AS DOUBLE) AS syy,
        |    CAST(SUM(rx * ry) AS DOUBLE) AS sxy
        |  FROM ranked GROUP BY 1)
        |SELECT c_nationkey, n,
        |  round(CASE WHEN
        |      (CAST(n AS DOUBLE) * sxx
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |      AND (CAST(n AS DOUBLE) * syy
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN (CAST(n AS DOUBLE) * sxy
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * sxx
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * syy
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    END, 6) AS rho
        |FROM g""".stripMargin,

    // EB twin: same exact moments, same ORDER BY-keyed group folds,
    // same method-of-moments tree and pooling weight.
    "q_eb_shrinkage" ->
      """WITH per AS MATERIALIZED (
        |  SELECT c_nationkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT))
        |      AS BIGINT) AS s,
        |    CAST(SUM(CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT)
        |      AS HUGEINT) * CAST(round(c_acctbal * 100, 0) AS BIGINT))
        |      AS DOUBLE) AS sxx
        |  FROM customer GROUP BY 1),
        |g AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(s) AS BIGINT) AS ss, COUNT(*) AS kk,
        |    list_reduce(list_transform(
        |      list(struct_pack(k := c_nationkey, t := sxx)
        |        ORDER BY c_nationkey), x -> x.t),
        |      (a, b) -> a + b) AS sumsxx,
        |    list_reduce(list_transform(
        |      list(struct_pack(k := c_nationkey,
        |          t := CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |            / CAST(n AS DOUBLE))
        |        ORDER BY c_nationkey), x -> x.t),
        |      (a, b) -> a + b) AS sumssn,
        |    list_reduce(list_transform(
        |      list(struct_pack(k := c_nationkey,
        |          t := CAST(n * n AS DOUBLE))
        |        ORDER BY c_nationkey), x -> x.t),
        |      (a, b) -> a + b) AS sumn2
        |  FROM per),
        |sol AS (
        |  SELECT nn, kk,
        |    CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) AS gmean,
        |    (sumsxx - sumssn)
        |      / (CAST(nn AS DOUBLE) - CAST(kk AS DOUBLE)) AS sig2,
        |    GREATEST(0.0,
        |      (sumssn - (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
        |          * (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
        |          * CAST(nn AS DOUBLE)
        |        - CAST(kk - 1 AS DOUBLE) * ((sumsxx - sumssn)
        |          / (CAST(nn AS DOUBLE) - CAST(kk AS DOUBLE))))
        |      / (CAST(nn AS DOUBLE) - sumn2 / CAST(nn AS DOUBLE)))
        |      AS tau2
        |  FROM g)
        |SELECT c_nationkey, n,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
        |    AS raw_mean_dollars,
        |  round(CASE WHEN tau2 + sig2 / CAST(n AS DOUBLE) > 0.0
        |    THEN tau2 / (tau2 + sig2 / CAST(n AS DOUBLE))
        |    ELSE 0.0 END, 6) AS weight,
        |  round((gmean + (CASE WHEN tau2 + sig2 / CAST(n AS DOUBLE)
        |      > 0.0
        |    THEN tau2 / (tau2 + sig2 / CAST(n AS DOUBLE))
        |    ELSE 0.0 END)
        |    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - gmean))
        |    / 100.0, 6) AS shrunk_mean_dollars
        |FROM per CROSS JOIN sol""".stripMargin,

    // LTV twin: same integer-month grain, same members-first
    // cumulative, same single division.
    "q_ltv_cohorts" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST(year(CAST(o_orderdate AS DATE)) * 12
        |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |firstmo AS (
        |  SELECT o_custkey, CAST(MIN(m) AS BIGINT) AS cohort
        |  FROM base GROUP BY 1),
        |csize AS (
        |  SELECT cohort, COUNT(*) AS n_customers
        |  FROM firstmo GROUP BY 1),
        |monthly AS (
        |  SELECT cohort, m, CAST(SUM(cents) AS BIGINT) AS sp
        |  FROM base JOIN firstmo USING (o_custkey) GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort, m,
        |    CAST(SUM(sp) OVER (PARTITION BY cohort ORDER BY m
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumsp
        |  FROM monthly)
        |SELECT cohort AS cohort_month, m - cohort AS age_months,
        |  n_customers,
        |  round(CAST(cumsp AS DOUBLE) / CAST(n_customers AS DOUBLE)
        |    / 100.0, 6) AS avg_ltv_dollars
        |FROM cum JOIN csize USING (cohort)""".stripMargin,

    // OLS twin: same exact HUGEINT moments, the same 3x3 Cramer
    // determinant trees and R^2 decomposition.
    "q_ols_multi" ->
      """WITH base AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |  FROM base),
        |sol AS (
        |  SELECT n, sy, s1y, s2y, syy,
        |    CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
        |      - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12)
        |      - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y)
        |      - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12)
        |      - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM g)
        |SELECT n,
        |  round(CASE WHEN det <> 0.0 THEN det0 / det / 100.0 END, 6)
        |    AS beta0_dollars,
        |  round(CASE WHEN det <> 0.0 THEN det1 / det / 100.0 END, 6)
        |    AS beta1_per_qty,
        |  round(CASE WHEN det <> 0.0 THEN det2 / det / 100.0 END, 6)
        |    AS beta2_per_pct,
        |  round(CASE WHEN det <> 0.0
        |      AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0.0
        |    THEN ((det0 / det) * sy + (det1 / det) * s1y
        |        + (det2 / det) * s2y
        |        - sy * sy / CAST(n AS DOUBLE))
        |      / (syy - sy * sy / CAST(n AS DOUBLE)) END, 6) AS r2
        |FROM sol""".stripMargin,

    // MDE twin: same per-customer integer outcomes, HUGEINT second
    // moment, same pinned z constants and closed form.
    "q_mde" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE)
        |        >= DATE '1996-01-01'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |units AS (
        |  SELECT COALESCE(y, 0) AS y
        |  FROM customer LEFT JOIN per ON c_custkey = o_custkey),
        |g AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |  FROM units)
        |SELECT n AS n_units,
        |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS mean_spend,
        |  round(sqrt((CAST(n AS DOUBLE) * syy
        |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS sigma,
        |  round(2.801586 * 2.0 * sqrt((CAST(n AS DOUBLE) * syy
        |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    / sqrt(CAST(n AS DOUBLE)), 6) AS mde_abs,
        |  round(CASE WHEN sy > 0
        |    THEN 2.801586 * 2.0 * sqrt((CAST(n AS DOUBLE) * syy
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |      / sqrt(CAST(n AS DOUBLE))
        |      / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) END, 6)
        |    AS mde_rel
        |FROM g""".stripMargin,

    // SRM twin: same md5 lottery, same integer deviation and 1e6
    // fixed-point chi-square contributions, same -1 total row.
    "q_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR
        |      || ':srm'), 1, 15))::BIGINT % 10 < 9
        |    THEN 0 ELSE 1 END AS arm
        |  FROM u),
        |obs AS (SELECT arm, COUNT(*) AS n_obs FROM a GROUP BY 1),
        |design AS (
        |  SELECT 0 AS arm, CAST(9 AS BIGINT) AS p
        |  UNION ALL SELECT 1, CAST(1 AS BIGINT)),
        |tot AS (SELECT COUNT(*) AS n FROM a),
        |per AS (
        |  SELECT design.arm,
        |    CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_obs, p, n,
        |    CAST(round(1e6
        |      * CAST(COALESCE(n_obs, 0) * 10 - n * p AS DOUBLE)
        |      * CAST(COALESCE(n_obs, 0) * 10 - n * p AS DOUBLE)
        |      / (10.0 * CAST(n AS DOUBLE) * CAST(p AS DOUBLE)))
        |      AS BIGINT) AS contrib_fp
        |  FROM design LEFT JOIN obs USING (arm) CROSS JOIN tot)
        |SELECT CAST(arm AS BIGINT) AS arm, n_obs,
        |  round(CAST(n AS DOUBLE) * CAST(p AS DOUBLE) / 10.0, 6)
        |    AS expected,
        |  round(CAST(contrib_fp AS DOUBLE) / 1e6, 6) AS contribution,
        |  CAST(NULL AS DOUBLE) AS chi2, CAST(NULL AS BOOLEAN) AS alarm
        |FROM per
        |UNION ALL
        |SELECT -1, CAST(SUM(n_obs) AS BIGINT),
        |  CAST(SUM(n_obs) AS DOUBLE),
        |  CAST(NULL AS DOUBLE),
        |  round(CAST(SUM(contrib_fp) AS DOUBLE) / 1e6, 6),
        |  CAST(SUM(contrib_fp) AS BIGINT) > 6634897
        |FROM per""".stripMargin,

    // CUSUM twin: same daily cents totals, same n-scaled prefix sum
    // and 0-seeded running min (Page's P0 = 0 term) over the per-type
    // day sort, same 2·Σx alarm.
    "q_cusum" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |stats AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS sumx,
        |    COUNT(*) AS n
        |  FROM daily GROUP BY 1),
        |w AS (
        |  SELECT d.event_type, d.day, d.x, s.sumx, s.n,
        |    row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY d.day) AS t,
        |    CAST(SUM(d.x) OVER (PARTITION BY d.event_type
        |      ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ps
        |  FROM daily d JOIN stats s USING (event_type)),
        |p AS (SELECT *, ps * n - t * sumx AS p FROM w),
        |m AS (SELECT *, LEAST(CAST(0 AS BIGINT),
        |    CAST(MIN(p) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS pmin
        |  FROM p)
        |SELECT event_type, day, x AS day_total_cents,
        |  p - pmin AS cusum_scaled,
        |  (p - pmin) > 2 * sumx AS alarm
        |FROM m""".stripMargin,

    // Conductance twin: the modularity CTE chain with the
    // cut / min-side-volume division instead of the null-model terms.
    "q_conductance" ->
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |seeds AS MATERIALIZED (SELECT DISTINCT s_suppkey * 2 + 1 AS node,
         |    CAST(s_nationkey AS BIGINT) AS label
         |  FROM supplier WHERE s_suppkey % 5 = 0),
         |l0 AS (SELECT node, label FROM seeds),
         |${(1 to 3).map(lpIterSql).mkString(",\n")},
         |lab AS MATERIALIZED (SELECT node, label FROM l3),
         |le AS (
         |  SELECT COALESCE(ls.label, e.src + 1000000) AS csrc,
         |         COALESCE(ld.label, e.dst + 1000000) AS cdst
         |  FROM e LEFT JOIN lab ls ON e.src = ls.node
         |         LEFT JOIN lab ld ON e.dst = ld.node),
         |per AS MATERIALIZED (
         |  SELECT csrc AS community, COUNT(*) AS degree_sum,
         |    CAST(SUM(CASE WHEN csrc = cdst THEN 1 ELSE 0 END)
         |      AS BIGINT) AS within2
         |  FROM le GROUP BY 1),
         |tot AS (SELECT CAST(SUM(degree_sum) AS BIGINT) AS t FROM per)
         |SELECT community, degree_sum AS volume,
         |  degree_sum - within2 AS cut,
         |  round(CAST(degree_sum - within2 AS DOUBLE)
         |    / CAST(least(degree_sum, t - degree_sum) AS DOUBLE), 6)
         |    AS conductance
         |FROM per CROSS JOIN tot""".stripMargin,

    // Edge-cut twin: same md5 shard assignment, one aggregate.
    "q_edge_cut" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs
        |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |s AS (
        |  SELECT ('0x' || substr(md5(CAST(src AS VARCHAR) || ':shard'),
        |      1, 15))::BIGINT % 16 AS sa,
        |    ('0x' || substr(md5(CAST(dst AS VARCHAR) || ':shard'),
        |      1, 15))::BIGINT % 16 AS sb
        |  FROM e)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges2,
        |  CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cut2,
        |  round(CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS cut_fraction
        |FROM s""".stripMargin,

    // The bitmap is exact, so the oracle is the plain COUNT(DISTINCT).
    "q_bitmap_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_distinct
        |FROM lineitem GROUP BY 1""".stripMargin,

    // The bloom prefilter is output-transparent (no false negatives;
    // false positives die in the join) — the oracle is the plain join.
    "q_bloom_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000""".stripMargin,

    // Transition twin: same lead window / (ts, event_id) order, same
    // long/long double division rounded 6 dp.
    "q_transition_matrix" ->
      s"""WITH $eventsSql,
         |s AS (
         |  SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to_type
         |  FROM e),
         |c AS (
         |  SELECT from_type, to_type, COUNT(*) AS n FROM s
         |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
         |      FROM c GROUP BY 1)
         |SELECT from_type, to_type, n,
         |  round(CAST(n AS DOUBLE) / tot, 6) AS p
         |FROM c JOIN t USING (from_type)""".stripMargin,

    // Interval twin: same value-derived duration (explicit positive
    // mod, matching Spark's pmod), same running-max island windows.
    "q_interval_merge" ->
      s"""WITH $eventsSql,
         |iv AS (
         |  SELECT user_id, epoch_us(ts) AS start_us,
         |    epoch_us(ts)
         |      + (((CAST(v * 100 AS BIGINT) % 3600) + 3600) % 3600 + 60)
         |        * 1000000 AS end_us
         |  FROM e),
         |fl AS (
         |  SELECT *, CASE WHEN start_us > COALESCE(MAX(end_us) OVER (
         |      PARTITION BY user_id ORDER BY start_us, end_us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      -9223372036854775808) THEN 1 ELSE 0 END AS new_island
         |  FROM iv),
         |isl AS (
         |  SELECT *, CAST(SUM(new_island) OVER (
         |      PARTITION BY user_id ORDER BY start_us, end_us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS island
         |  FROM fl)
         |SELECT user_id, island, MIN(start_us) AS island_start,
         |  MAX(end_us) AS island_end, COUNT(*) AS n_intervals
         |FROM isl GROUP BY 1, 2""".stripMargin,

    // Co-occurrence twin: same a-priori prune / within-basket pair
    // join / 1-row basket total; lift is the identical single double
    // division.
    "q_cooccurrence" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |freq AS (
        |  SELECT it, COUNT(*) AS n_item FROM items
        |  GROUP BY 1 HAVING COUNT(*) >= 5),
        |fi AS (
        |  SELECT items.bk, items.it, freq.n_item
        |  FROM items JOIN freq USING (it)),
        |pairs AS (
        |  SELECT a.it AS a, b.it AS b, a.n_item AS n_a, b.n_item AS n_b
        |  FROM fi a JOIN fi b ON a.bk = b.bk AND a.it < b.it),
        |tot AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM items),
        |agg AS (
        |  SELECT a, b, n_a, n_b, COUNT(*) AS n_ab
        |  FROM pairs GROUP BY 1, 2, 3, 4)
        |SELECT a, b, n_ab, n_a, n_b,
        |  round(CAST(n_ab * n_baskets AS DOUBLE) / (n_a * n_b), 6)
        |    AS lift
        |FROM agg CROSS JOIN tot
        |ORDER BY n_ab DESC, a, b LIMIT 20""".stripMargin,

    // Association-rules twin: the q_cooccurrence CTE chain unfolded
    // into both directions, same rational confidence gate and
    // quotient ordering.
    "q_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |freq AS (
        |  SELECT it, COUNT(*) AS n_item FROM items
        |  GROUP BY 1 HAVING COUNT(*) >= 5),
        |fi AS (
        |  SELECT items.bk, items.it, freq.n_item
        |  FROM items JOIN freq USING (it)),
        |pairs AS (
        |  SELECT a.it AS a, b.it AS b, a.n_item AS n_a, b.n_item AS n_b
        |  FROM fi a JOIN fi b ON a.bk = b.bk AND a.it < b.it),
        |tot AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM items),
        |agg AS (
        |  SELECT a, b, n_a, n_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM pairs GROUP BY 1, 2, 3, 4),
        |dirs AS (
        |  SELECT a AS ante, b AS cons, n_a AS n_ante, n_b AS n_cons,
        |    n_ab FROM agg
        |  UNION ALL
        |  SELECT b, a, n_b, n_a, n_ab FROM agg)
        |SELECT ante, cons, n_ab, n_ante, n_cons,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6)
        |    AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_ante AS DOUBLE), 6)
        |    AS confidence,
        |  round(CAST(n_ab * n_baskets AS DOUBLE)
        |    / CAST(n_ante * n_cons AS DOUBLE), 6) AS lift
        |FROM dirs CROSS JOIN tot
        |WHERE n_ab * 10 >= n_ante
        |ORDER BY CAST(n_ab AS DOUBLE) / CAST(n_ante AS DOUBLE) DESC,
        |  ante, cons
        |LIMIT 20""".stripMargin,

    // DP-counts twin: same md5-seeded u ∈ (−½, ½) and inverse-CDF
    // Laplace term, identical parenthesization.
    "q_dp_counts" ->
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |u AS (
        |  SELECT *,
        |    (('0x' || substr(md5(CAST(c_nationkey AS VARCHAR) || '|'
        |        || c_mktsegment), 1, 15))::BIGINT + 0.5)
        |      / 1152921504606846976.0 - 0.5 AS u
        |  FROM c)
        |SELECT c_nationkey, c_mktsegment, n,
        |  round(n - (1.0 / 1.0) * sign(u) * ln(1.0 - 2.0 * abs(u)), 6)
        |    AS noisy_n
        |FROM u""".stripMargin,

    // Late-data twin: same arrival-order high-water-mark window and
    // 10-min allowance, integer epoch-micros.
    "q_late_data" ->
      s"""WITH $eventsSql,
         |hw AS (
         |  SELECT event_type,
         |    COALESCE(MAX(epoch_us(ts)) OVER (
         |      PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      -4611686018427387904) AS hwm_us,
         |    epoch_us(ts) AS ts_us
         |  FROM e),
         |l AS (
         |  SELECT event_type,
         |    greatest(hwm_us - 600000000 - ts_us, 0) AS late_us
         |  FROM hw)
         |SELECT event_type, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_late,
         |  MAX(late_us) AS max_late_us
         |FROM l GROUP BY 1""".stripMargin,

    // OLS twin: exact integer/decimal sums, then the identical
    // double-precision closed form (same parenthesization both sides).
    "q_trend_slope" ->
      """WITH t AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1992-01-01' AS BIGINT)
        |      AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(y * x) AS sxy, SUM(x * x) AS sxx
        |  FROM t GROUP BY 1)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
        |    AS intercept
        |FROM s""".stripMargin,

    // Join-degree twin: two degree aggregates, degree-frame join,
    // 1-row total, same top-10 cut.
    "q_join_degree" ->
      """WITH da AS (
        |  SELECT l_partkey AS key, COUNT(*) AS da
        |  FROM lineitem GROUP BY 1),
        |db AS (
        |  SELECT p_partkey AS key, COUNT(*) AS db FROM part GROUP BY 1),
        |j AS (
        |  SELECT da.key, da.da, db.db, da.da * db.db AS contrib
        |  FROM da JOIN db ON da.key = db.key),
        |tot AS (SELECT CAST(SUM(contrib) AS BIGINT) AS est_rows FROM j)
        |SELECT key, da, db, contrib, est_rows,
        |  round(CAST(contrib AS DOUBLE) / est_rows, 6) AS share
        |FROM j CROSS JOIN tot
        |ORDER BY contrib DESC, key LIMIT 10""".stripMargin,

    // F₂ twin: the same md5-salted (key, row) bucketing as the CMS
    // oracles, squared-cell inner product min'd over rows, exact F₂
    // from the same per-key count frame.
    "q_selfjoin_size" ->
      """WITH cnt AS (
        |  SELECT l_partkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1),
        |rb AS (
        |  SELECT k, n, r,
        |    ('0x' || substr(md5(k::VARCHAR || ':cms:' || r), 1, 15))::BIGINT
        |      % 256 AS b
        |  FROM cnt CROSS JOIN range(3) t(r)),
        |cells AS (
        |  SELECT r, b, CAST(SUM(n) AS BIGINT) AS cell
        |  FROM rb GROUP BY 1, 2),
        |est AS (
        |  SELECT MIN(ip) AS cms_f2_est FROM (
        |    SELECT r, CAST(SUM(cell * cell) AS BIGINT) AS ip
        |    FROM cells GROUP BY 1)),
        |exact AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
        |    COUNT(*) AS n_distinct,
        |    CAST(SUM(n * n) AS BIGINT) AS exact_f2
        |  FROM cnt)
        |SELECT n_rows, n_distinct, exact_f2, cms_f2_est,
        |  round(CAST(cms_f2_est - exact_f2 AS DOUBLE)
        |    / CAST(exact_f2 AS DOUBLE), 6) AS rel_err
        |FROM exact CROSS JOIN est""".stripMargin,

    // Rolling-anomaly twin: same trailing range frame, same one-pass
    // variance with the 0-clamp, same parenthesization.
    "q_rolling_anomaly" ->
      s"""WITH $eventsSql,
         |daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(SUM(v) AS DECIMAL(18,2)) AS x
         |  FROM e GROUP BY 1, 2),
         |dd AS (
         |  SELECT *, CAST(day - DATE '1992-01-01' AS BIGINT) AS d
         |  FROM daily),
         |st AS (
         |  SELECT event_type, day, x,
         |    COUNT(x) OVER wt AS n,
         |    SUM(x) OVER wt AS sx,
         |    SUM(x * x) OVER wt AS sxx
         |  FROM dd
         |  WINDOW wt AS (PARTITION BY event_type ORDER BY d
         |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         |calc AS (
         |  SELECT event_type, day, x, CAST(n AS BIGINT) AS n,
         |    CAST(x AS DOUBLE) AS xd, CAST(sx AS DOUBLE) AS sxd,
         |    CAST(sxx AS DOUBLE) AS sxxd, CAST(n AS DOUBLE) AS nd
         |  FROM st),
         |zc AS (
         |  SELECT event_type, day, x, n,
         |    CASE WHEN n >= 2 AND
         |        greatest((sxxd - (sxd * sxd) / nd) / (nd - 1.0), 0.0) > 0
         |      THEN round((xd - sxd / nd)
         |        / sqrt(greatest((sxxd - (sxd * sxd) / nd)
         |          / (nd - 1.0), 0.0)), 6)
         |    END AS z
         |  FROM calc)
         |SELECT event_type, day, x, n, z,
         |  COALESCE(abs(z) > 2.0, false) AS anomaly
         |FROM zc""".stripMargin,

    // Triangle twin: the pairEdges prune chain + the two compact-
    // forward joins, same (a, b, c) order and cut.
    "q_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
        |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
        |p AS (
        |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
        |  ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |t AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM p e1 JOIN p e2 ON e1.b = e2.a
        |    JOIN p e3 ON e1.a = e3.a AND e2.b = e3.b)
        |SELECT a, b, c FROM t ORDER BY a, b, c LIMIT 100""".stripMargin,

    // WL twin: the shared pair-graph + 2-round re-coloring chain.
    "q_wl_colors" ->
      s"""WITH $wlCtesSql
         |SELECT 0 AS round, COUNT(*) AS n_nodes,
         |  COUNT(DISTINCT c) AS n_colors FROM n0
         |UNION ALL SELECT 1, COUNT(*), COUNT(DISTINCT c) FROM c1
         |UNION ALL SELECT 2, COUNT(*), COUNT(DISTINCT c) FROM c2""".stripMargin,

    // WL classes twin: the same chain's final colors grouped, exact
    // (n desc, color) top-20 boundary.
    "q_wl_classes" ->
      s"""WITH $wlCtesSql,
         |cls AS (
         |  SELECT c AS color, COUNT(*) AS n_nodes,
         |    MIN(node) AS keeper_node
         |  FROM c2 GROUP BY 1)
         |SELECT color, n_nodes, keeper_node FROM cls
         |ORDER BY n_nodes DESC, color LIMIT 20""".stripMargin,

    // Adamic-Adar twin: the same pair CTEs symmetrized, one ln per
    // node rounded once to 1e6 fixed point, integer wedge sums, and
    // the top-k boundary on the exact (sw, x, y) order.
    "q_link_predict" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
        |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
        |p AS (
        |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
        |  ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION ALL SELECT b AS src, a AS dst FROM p),
        |deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY 1),
        |mids AS (
        |  SELECT node,
        |    CAST(round(1e6 / ln(CAST(degree AS DOUBLE))) AS BIGINT) AS w
        |  FROM deg WHERE degree >= 2 AND degree <= 1000),
        |wedges AS (
        |  SELECT e1.src AS x, e2.dst AS y,
        |    COUNT(*) AS n_common, SUM(m.w) AS sw
        |  FROM sym e1 JOIN mids m ON e1.dst = m.node
        |    JOIN sym e2 ON m.node = e2.src
        |  WHERE e1.src < e2.dst
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT x, y, n_common, sw FROM wedges w
        |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.a = w.x AND p.b = w.y)
        |  ORDER BY sw DESC, x, y LIMIT 100)
        |SELECT x, y, n_common, round(sw / 1e6, 6) AS aa_score
        |FROM top""".stripMargin,

    // K-core twin: the triangles pair CTEs symmetrized, then the same
    // 12 peel rounds unrolled (MATERIALIZED — DuckDB inlines CTEs, and
    // each round references the previous twice; without it the chain
    // re-evaluates exponentially).
    "q_kcore" -> {
      val peel = (0 until 12).map(i =>
        s"""k$i AS MATERIALIZED (
           |  SELECT src FROM e$i GROUP BY 1 HAVING COUNT(*) >= 3),
           |e${i + 1} AS MATERIALIZED (
           |  SELECT src, dst FROM e$i
           |  WHERE src IN (SELECT src FROM k$i)
           |    AND dst IN (SELECT src FROM k$i))""".stripMargin)
        .mkString(",\n")
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
         |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
         |p AS (
         |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
         |  ON a.bk = b.bk AND a.it < b.it
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e0 AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM p
         |  UNION ALL SELECT b AS src, a AS dst FROM p),
         |$peel
         |SELECT src AS node, COUNT(*) AS degree FROM e12 GROUP BY 1""".stripMargin
    },

    // k-truss twin: the q_kcore pair base, 5 unrolled peel rounds of
    // (compact-forward triangles -> 3-projection support -> filter),
    // final support on the surviving set.
    "q_ktruss" -> {
      def tri(i: Int, src: String) =
        s"""tr$i AS MATERIALIZED (
           |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
           |  FROM $src e1 JOIN $src e2 ON e1.b = e2.a
           |  JOIN $src e3 ON e1.a = e3.a AND e2.b = e3.b),
           |supp$i AS MATERIALIZED (
           |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
           |    SELECT ta AS a, tb AS b FROM tr$i
           |    UNION ALL SELECT tb, tc FROM tr$i
           |    UNION ALL SELECT ta, tc FROM tr$i)
           |  GROUP BY 1, 2)""".stripMargin
      val peel = (0 until 5).map(i =>
        tri(i, s"e$i") + s""",
          |e${i + 1} AS MATERIALIZED (
          |  SELECT a, b FROM supp$i WHERE support >= 1)""".stripMargin)
        .mkString(",\n")
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
         |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
         |e0 AS MATERIALIZED (
         |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
         |  ON a.bk = b.bk AND a.it < b.it
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |$peel,
         |${tri(9, "e5")}
         |SELECT e.a, e.b, COALESCE(s.support, 0) AS support
         |FROM e5 e LEFT JOIN supp9 s ON e.a = s.a AND e.b = s.b""".stripMargin
    },

    // Welch twin: same conditional sums and the same closed form.
    // Poisson-bootstrap twin: the same 60-bit lottery per (doc_id,
    // replicate), the same CDF cut points, integer cell sums, and the
    // same rank rule over the exact quotients.
    "q_bootstrap_ci" ->
      """WITH d AS (
        |  SELECT source, doc_id, n_chars AS x FROM documents),
        |reps AS (
        |  SELECT d.source, d.x, b.b,
        |    ('0x' || substr(md5(d.doc_id::VARCHAR || ':bs'
        |        || b.b::VARCHAR), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM d CROSS JOIN
        |    (SELECT unnest(generate_series(0, 63)) AS b) b),
        |wts AS (
        |  SELECT source, b, x,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         ELSE 7 END AS w
        |  FROM reps),
        |cells AS (
        |  SELECT source, b, CAST(SUM(w) AS BIGINT) AS n,
        |    CAST(SUM(w * x) AS BIGINT) AS s
        |  FROM wts GROUP BY 1, 2 HAVING SUM(w) > 0),
        |ranked AS (
        |  SELECT source, b,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ASC,
        |        b ASC) AS rk,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(s AS DOUBLE) / CAST(n AS DOUBLE) DESC,
        |        b DESC) AS rkd
        |  FROM cells),
        |base AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(x) AS BIGINT) AS sx
        |  FROM d GROUP BY 1)
        |SELECT base.source, n_docs,
        |  round(CAST(sx AS DOUBLE) / n_docs, 6) AS mean_metric,
        |  round(lo.m, 6) AS ci_lo, round(hi.m, 6) AS ci_hi
        |FROM base
        |JOIN (SELECT source, m FROM ranked WHERE rk = 2) lo
        |  USING (source)
        |JOIN (SELECT source, m FROM ranked WHERE rkd = 2) hi
        |  USING (source)""".stripMargin,

    // Median-of-means twin: same 32-bucket lottery, exact bucket
    // means, floor/ceil rank median over the populated buckets.
    "q_median_of_means" ->
      """WITH d AS (
        |  SELECT source, doc_id, n_chars AS x FROM documents),
        |cells AS (
        |  SELECT source,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':mom'), 1, 15))
        |      ::BIGINT % 32 AS bkt,
        |    COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s
        |  FROM d GROUP BY 1, 2),
        |ranked AS (
        |  SELECT source, bkt,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ASC,
        |        bkt ASC) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS c
        |  FROM cells),
        |med AS (
        |  SELECT source, AVG(m) AS mom,
        |    CAST(MAX(c) AS BIGINT) AS n_buckets
        |  FROM ranked
        |  WHERE rk = floor((c + 1) / 2.0) OR rk = ceil((c + 1) / 2.0)
        |  GROUP BY 1),
        |base AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(x) AS BIGINT) AS sx
        |  FROM d GROUP BY 1)
        |SELECT base.source, n_docs, n_buckets,
        |  round(CAST(sx AS DOUBLE) / n_docs, 6) AS mean_metric,
        |  round(mom, 6) AS mom_metric
        |FROM base JOIN med USING (source)""".stripMargin,

    "q_ab_test" ->
      """WITH s AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1
        |      ELSE 0 END) AS BIGINT) AS na,
        |    SUM(CASE WHEN c_mktsegment = 'BUILDING'
        |      THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS sa,
        |    SUM(CASE WHEN c_mktsegment = 'BUILDING'
        |      THEN CAST(c_acctbal AS DECIMAL(18,2))
        |        * CAST(c_acctbal AS DECIMAL(18,2)) END) AS qa,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1
        |      ELSE 0 END) AS BIGINT) AS nb,
        |    SUM(CASE WHEN c_mktsegment = 'MACHINERY'
        |      THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS sb,
        |    SUM(CASE WHEN c_mktsegment = 'MACHINERY'
        |      THEN CAST(c_acctbal AS DECIMAL(18,2))
        |        * CAST(c_acctbal AS DECIMAL(18,2)) END) AS qb
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |c AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) AS sad, CAST(qa AS DOUBLE) AS qad,
        |    CAST(sb AS DOUBLE) AS sbd, CAST(qb AS DOUBLE) AS qbd,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
        |  FROM s),
        |v AS (
        |  SELECT na, nb, sad, sbd, nad, nbd,
        |    greatest((qad - (sad * sad) / nad) / (nad - 1.0), 0.0) / nad
        |      AS sea,
        |    greatest((qbd - (sbd * sbd) / nbd) / (nbd - 1.0), 0.0) / nbd
        |      AS seb
        |  FROM c)
        |SELECT na AS n_a, nb AS n_b,
        |  round(sad / nad, 6) AS mean_a,
        |  round(sbd / nbd, 6) AS mean_b,
        |  round((sad / nad - sbd / nbd) / sqrt(sea + seb), 6) AS t_stat,
        |  round(((sea + seb) * (sea + seb))
        |    / ((sea * sea) / (nad - 1.0) + (seb * seb) / (nbd - 1.0)), 6)
        |    AS df
        |FROM v""".stripMargin,

    // Trigram twin: two leads over the same per-user sort.
    "q_path_trigrams" ->
      s"""WITH $eventsSql,
         |t AS (
         |  SELECT event_type AS t1,
         |    lead(event_type, 1) OVER wt AS t2,
         |    lead(event_type, 2) OVER wt AS t3
         |  FROM e
         |  WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT t1, t2, t3, COUNT(*) AS n FROM t
         |WHERE t3 IS NOT NULL
         |GROUP BY 1, 2, 3
         |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,

    // Purge-audit twin: same cascade derivation and left-join counts.
    "q_purge_audit" ->
      """WITH delc AS (
        |  SELECT DISTINCT c_custkey AS key FROM customer
        |  WHERE c_acctbal < -900),
        |delo AS (
        |  SELECT DISTINCT o_orderkey AS key
        |  FROM orders JOIN delc ON o_custkey = delc.key),
        |a AS (
        |  SELECT 'customer' AS table_name,
        |    CAST(SUM(CASE WHEN delc.key IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purged,
        |    CAST(SUM(CASE WHEN delc.key IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_kept
        |  FROM customer LEFT JOIN delc ON c_custkey = delc.key),
        |b AS (
        |  SELECT 'orders' AS table_name,
        |    CAST(SUM(CASE WHEN delc.key IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purged,
        |    CAST(SUM(CASE WHEN delc.key IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_kept
        |  FROM orders LEFT JOIN delc ON o_custkey = delc.key),
        |c2 AS (
        |  SELECT 'lineitem' AS table_name,
        |    CAST(SUM(CASE WHEN delo.key IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purged,
        |    CAST(SUM(CASE WHEN delo.key IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_kept
        |  FROM lineitem LEFT JOIN delo ON l_orderkey = delo.key)
        |SELECT * FROM a UNION ALL SELECT * FROM b
        |UNION ALL SELECT * FROM c2""".stripMargin,

    // Degree-profile twin: the pagerank edge CTE + one degree count +
    // the log₂ bucket (binary-string length, the HDR idiom).
    "q_graph_profile" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs
        |      UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY 1)
        |SELECT CAST(length(bin(degree)) - 1 AS INT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  MIN(degree) AS min_degree,
        |  MAX(degree) AS max_degree,
        |  CAST(SUM(degree) AS BIGINT) AS n_edge_ends
        |FROM deg GROUP BY 1""".stripMargin,

    // Rate-limit twin: day bucket + arrival-order row_number cap.
    "q_rate_limit" ->
      s"""WITH $eventsSql,
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY user_id, time_bucket(INTERVAL '1 day', ts)
         |    ORDER BY event_id) AS rn
         |  FROM e)
         |SELECT event_id, ts, user_id, event_type, v, props
         |FROM r WHERE rn <= 2""".stripMargin,

    // PIT twin: same two-version dimension build and the equi+range
    // validity predicate.
    "q_pit_features" ->
      """WITH v1 AS (
        |  SELECT c_custkey AS custkey, c_mktsegment AS segment,
        |    DATE '1992-01-01' AS valid_from,
        |    CASE WHEN c_custkey % 3 = 0 THEN DATE '1995-07-01' END
        |      AS valid_to
        |  FROM customer),
        |v2 AS (
        |  SELECT c_custkey AS custkey,
        |    c_mktsegment || '-V2' AS segment,
        |    DATE '1995-07-01' AS valid_from,
        |    CAST(NULL AS DATE) AS valid_to
        |  FROM customer WHERE c_custkey % 3 = 0),
        |dim AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT o_orderkey, o_custkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, segment
        |FROM orders JOIN dim ON o_custkey = custkey
        |  AND CAST(o_orderdate AS DATE) >= valid_from
        |  AND (valid_to IS NULL OR CAST(o_orderdate AS DATE) < valid_to)"""
        .stripMargin,

    // Clustering-coefficient twin: the q_triangles pair CTEs, the same
    // compact-forward enumeration (unlimited), per-node triangle
    // counts by 3-way union, symmetrized degree, identical double
    // tree (2.0·tri exact, deg·(deg−1) exact, one division).
    "q_clustering_coeff" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
        |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
        |p AS (
        |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
        |  ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |t AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM p e1 JOIN p e2 ON e1.b = e2.a
        |    JOIN p e3 ON e1.a = e3.a AND e2.b = e3.b),
        |tn AS (
        |  SELECT node, COUNT(*) AS n_tri FROM (
        |    SELECT a AS node FROM t
        |    UNION ALL SELECT b FROM t
        |    UNION ALL SELECT c FROM t)
        |  GROUP BY 1),
        |deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT a AS node FROM p UNION ALL SELECT b FROM p)
        |  GROUP BY 1)
        |SELECT deg.node, CAST(degree AS BIGINT) AS degree,
        |  CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN degree >= 2 THEN
        |    round(2.0 * CAST(COALESCE(n_tri, 0) AS DOUBLE)
        |      / (CAST(degree AS DOUBLE) * CAST(degree - 1 AS DOUBLE)), 6)
        |  ELSE 0.0 END AS lcc
        |FROM deg LEFT JOIN tn ON deg.node = tn.node""".stripMargin,

    // Assortativity twin: same pair/degree CTEs, exact integer
    // correlation sums over both edge orientations (symmetry folds
    // Σx=Σy into one pair), the identical closed-form double tree.
    "q_assortativity" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
        |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
        |p AS (
        |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
        |  ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT a AS node FROM p UNION ALL SELECT b FROM p)
        |  GROUP BY 1),
        |j AS (
        |  SELECT da.degree AS da, db.degree AS db
        |  FROM p JOIN deg da ON p.a = da.node
        |    JOIN deg db ON p.b = db.node),
        |s AS (
        |  SELECT COUNT(*) AS m, SUM(da + db) AS sx,
        |    SUM(da * da + db * db) AS sxx, SUM(da * db * 2) AS sxy
        |  FROM j)
        |SELECT CAST(m AS BIGINT) AS n_edges,
        |  round(CASE WHEN (CAST(m AS DOUBLE) * 2.0)
        |      * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
        |    ((CAST(m AS DOUBLE) * 2.0) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / ((CAST(m AS DOUBLE) * 2.0) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |  END, 6) AS assortativity
        |FROM s""".stripMargin,

    // Winsorize twin: identical integer-index order statistics
    // ((n·p+99) DIV 100 — never a float percentile boundary), the
    // same clip tree, exact decimal sums, one division to double.
    "q_winsorize" ->
      """WITH r AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v
        |  FROM lineitem),
        |rk AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS nn
        |  FROM r),
        |b AS (
        |  SELECT g,
        |    MAX(CASE WHEN rn = (nn * 5 + 99) // 100 THEN v END) AS lo,
        |    MAX(CASE WHEN rn = (nn * 95 + 99) // 100 THEN v END) AS hi
        |  FROM rk GROUP BY 1),
        |c AS (
        |  SELECT r.g,
        |    CASE WHEN v < lo THEN 1 ELSE 0 END AS is_lo,
        |    CASE WHEN v > hi THEN 1 ELSE 0 END AS is_hi,
        |    CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END
        |      AS cv,
        |    lo, hi
        |  FROM r JOIN b ON r.g = b.g)
        |SELECT g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(is_lo) AS BIGINT) AS n_clip_lo,
        |  CAST(SUM(is_hi) AS BIGINT) AS n_clip_hi,
        |  MIN(lo) AS lo, MIN(hi) AS hi,
        |  round(CAST(SUM(cv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS win_mean
        |FROM c GROUP BY 1""".stripMargin,

    // Degree-Gini twin: the pair CTEs, symmetrized degrees, then the
    // q_token_gini rank-free machinery over distinct degree values.
    "q_degree_gini" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
        |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
        |p AS (
        |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
        |  ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT node, COUNT(*) AS v FROM (
        |    SELECT a AS node FROM p UNION ALL SELECT b FROM p)
        |  GROUP BY 1),
        |cnts AS (SELECT v, COUNT(*) AS c FROM deg GROUP BY 1),
        |r AS (
        |  SELECT v, c,
        |    1 + COALESCE(SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS rstart
        |  FROM cnts),
        |rx AS (
        |  SELECT v * (c * rstart + (c * (c - 1)) // 2) AS rank_x,
        |    c, v * c AS vc
        |  FROM r),
        |s AS (SELECT SUM(c) AS n, SUM(vc) AS t, SUM(rank_x) AS srx
        |      FROM rx)
        |SELECT CAST(n AS BIGINT) AS n_nodes,
        |  CAST(t AS BIGINT) AS n_edge_ends,
        |  round(CASE WHEN n > 1 THEN
        |    2.0 * CAST(srx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)
        |  END, 6) AS gini
        |FROM s""".stripMargin,

    // Hub-share twin: same pair/degree CTEs, the top-100 cut
    // (degree DESC, node — total order), membership test, one
    // division.
    "q_hub_share" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |freq AS (SELECT it FROM items GROUP BY it HAVING COUNT(*) >= 2),
        |fi AS (SELECT items.bk, items.it FROM items JOIN freq USING (it)),
        |p AS (
        |  SELECT a.it AS a, b.it AS b FROM fi a JOIN fi b
        |  ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT a AS node FROM p UNION ALL SELECT b FROM p)
        |  GROUP BY 1),
        |hubs AS (SELECT node FROM deg
        |         ORDER BY degree DESC, node LIMIT 100),
        |fe AS (
        |  SELECT (a IN (SELECT node FROM hubs)
        |       OR b IN (SELECT node FROM hubs)) AS ish
        |  FROM p),
        |tot AS (SELECT COUNT(*) AS n_nodes FROM deg)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(COUNT(*) AS BIGINT) AS n_edges,
        |  CAST(SUM(CASE WHEN ish THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hub_edges,
        |  round(CAST(SUM(CASE WHEN ish THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS hub_share
        |FROM fe CROSS JOIN tot GROUP BY n_nodes""".stripMargin,

    // Advisor twin: two degree aggregates, the estimated-size join,
    // the same integer threshold ladder.
    "q_join_advisor" ->
      """WITH da AS (SELECT l_partkey AS key, COUNT(*) AS da
        |            FROM lineitem GROUP BY 1),
        |db AS (SELECT p_partkey AS key, COUNT(*) AS db
        |       FROM part GROUP BY 1),
        |j AS (SELECT da.key, da.da * db.db AS contrib
        |      FROM da JOIN db ON da.key = db.key),
        |s AS (SELECT SUM(contrib) AS est, MAX(contrib) AS top FROM j),
        |nl AS (SELECT COUNT(*) AS n_left FROM lineitem),
        |nr AS (SELECT COUNT(*) AS n_right FROM part)
        |SELECT CAST(n_left AS BIGINT) AS n_left,
        |  CAST(n_right AS BIGINT) AS n_right,
        |  CAST(est AS BIGINT) AS est_join_rows,
        |  CAST(top AS BIGINT) AS top_contrib,
        |  CASE WHEN n_right <= 100000 THEN 'broadcast_right'
        |       WHEN n_left <= 100000 THEN 'broadcast_left'
        |       WHEN top * 100 >= est * 20 THEN 'salted_shuffle'
        |       ELSE 'shuffle' END AS decision
        |FROM s CROSS JOIN nl CROSS JOIN nr""".stripMargin,

    // Decay twin: same day-difference half-life bucket, the same
    // integer 2^(20-k) weights, one division by 2^20. The SQL-text
    // variant computes the identical plan from the view, so one twin
    // gates both.
    "q_decay_counts" -> decayCountsSql,
    "q_sql_decay_counts" -> decayCountsSql,

    // SQL-text CUSUM twin: the decimal Money path spelled out
    // (round-to-2dp then x100), same 0-seeded running min.
    "q_sql_cusum" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(round(value, 2) AS DECIMAL(18,2))
        |      * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |stats AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS sumx,
        |    COUNT(*) AS n
        |  FROM daily GROUP BY 1),
        |w AS (
        |  SELECT d.event_type, d.day, d.x, s.sumx, s.n,
        |    row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY d.day) AS t,
        |    CAST(SUM(d.x) OVER (PARTITION BY d.event_type
        |      ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ps
        |  FROM daily d JOIN stats s USING (event_type)),
        |p AS (SELECT *, ps * n - t * sumx AS p FROM w),
        |m AS (SELECT *, LEAST(CAST(0 AS BIGINT),
        |    CAST(MIN(p) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS pmin
        |  FROM p)
        |SELECT event_type, day, x AS day_total_cents,
        |  p - pmin AS cusum_scaled,
        |  (p - pmin) > 2 * sumx AS alarm
        |FROM m""".stripMargin
  )

  private lazy val decayCountsSql: String =
    s"""WITH $eventsSql,
       |ref AS (SELECT MAX(CAST(ts AS DATE)) AS r FROM e),
       |w AS (
       |  SELECT event_type,
       |    CASE WHEN date_diff('day', CAST(ts AS DATE), r) // 30 <= 20
       |      THEN (1::BIGINT <<
       |        (20 - (date_diff('day', CAST(ts AS DATE), r) // 30)))
       |      ELSE 0 END AS wfp
       |  FROM e CROSS JOIN ref)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  round(CAST(SUM(wfp) AS DOUBLE) / 1048576.0, 6)
       |    AS decayed_count
       |FROM w GROUP BY 1""".stripMargin

  /** One PageRank iteration twin of Graph.pageRank's loop body:
    * fixed-point contributions from p{k-1}, integer per-node sum,
    * damped recombination over the full node frame.
    */
  private def prIterSql(k: Int): String = {
    val prev = s"p${k - 1}"
    s"""c$k AS (
       |  SELECT e.dst AS node,
       |    CAST(round($prev.pr / o.outdeg * 1e12) AS BIGINT) AS c
       |  FROM e JOIN o ON e.src = o.src
       |    JOIN $prev ON e.src = $prev.node),
       |s$k AS (SELECT node, SUM(c) AS s FROM c$k GROUP BY 1),
       |p$k AS (
       |  SELECT nodes.node,
       |    (1.0 - 0.85) / n
       |      + 0.85 * (CAST(COALESCE(s, 0) AS DOUBLE) / 1e12) AS pr
       |  FROM nodes LEFT JOIN s$k USING (node) CROSS JOIN nn)""".stripMargin
  }

  /** One WEIGHTED PageRank iteration twin (Graph.weightedPageRank):
    * contribution pr·w/wsum in the identical operation tree
    * (double·bigint → double, then ÷ bigint), same fixed-point long
    * rounding and damped recombination as [[prIterSql]].
    */
  private def wprIterSql(k: Int): String = {
    val prev = s"p${k - 1}"
    s"""c$k AS (
       |  SELECT e.dst AS node,
       |    CAST(round($prev.pr * e.w / o.wsum * 1e12) AS BIGINT) AS c
       |  FROM e JOIN o ON e.src = o.src
       |    JOIN $prev ON e.src = $prev.node),
       |s$k AS (SELECT node, SUM(c) AS s FROM c$k GROUP BY 1),
       |p$k AS (
       |  SELECT nodes.node,
       |    (1.0 - 0.85) / n
       |      + 0.85 * (CAST(COALESCE(s, 0) AS DOUBLE) / 1e12) AS pr
       |  FROM nodes LEFT JOIN s$k USING (node) CROSS JOIN nn)""".stripMargin
  }

  /** One PERSONALIZED PageRank iteration twin (Graph
    * .personalizedPageRank): seed-restricted teleport, same
    * fixed-point contribution arithmetic and left-associative
    * recombination as [[prIterSql]].
    */
  private def pprIterSql(k: Int): String = {
    val prev = s"p${k - 1}"
    s"""c$k AS (
       |  SELECT e.dst AS node,
       |    CAST(round($prev.pr / o.outdeg * 1e12) AS BIGINT) AS c
       |  FROM e JOIN o ON e.src = o.src
       |    JOIN $prev ON e.src = $prev.node),
       |s$k AS (SELECT node, SUM(c) AS s FROM c$k GROUP BY 1),
       |p$k AS (
       |  SELECT nodes.node,
       |    (1.0 - 0.85) * CAST(is_seed AS DOUBLE) / ns
       |      + 0.85 * (CAST(COALESCE(s, 0) AS DOUBLE) / 1e12) AS pr
       |  FROM nodes LEFT JOIN s$k USING (node) CROSS JOIN nn)""".stripMargin
  }

  /** One BFS round twin (Graph.bfsHops): expand the round-(k−1)
    * frontier, dedup destinations, anti-join the already-reached,
    * append at distance k. Integer-only — no float hazard at all.
    */
  private def bfsIterSql(k: Int): String = bfsIterSqlNamed("d")(k)

  /** One BFS frontier round under a caller-chosen CTE prefix — the
    * two-sweep diameter twin needs TWO independent walks. */
  private def bfsIterSqlNamed(p: String)(k: Int): String = {
    val prev = s"$p${k - 1}"
    // MATERIALIZED: each round references its predecessor twice
    // (carry + anti join) — inlined, the chain re-evaluates
    // exponentially (the two-sweep twin ran out of file handles).
    s"""${p}n$k AS MATERIALIZED (SELECT DISTINCT e.dst AS node
       |        FROM e JOIN $prev f ON e.src = f.node
       |        WHERE f.dist = ${k - 1}),
       |$p$k AS MATERIALIZED (SELECT node, dist FROM $prev
       |        UNION ALL
       |        SELECT ${p}n$k.node, ${k} AS dist FROM ${p}n$k
       |        LEFT JOIN $prev r ON ${p}n$k.node = r.node
       |        WHERE r.node IS NULL)""".stripMargin
  }

  /** One HITS iteration twin (Graph.hits): auth half-step from the
    * previous hub frame, hub half-step from the JUST-normalized auth
    * — per-edge contributions rounded once to 1e-9 longs, exact
    * integer L1 totals, one long/long double division per score; the
    * same sequential-update arithmetic tree as the Spark loop.
    */
  private def hitsIterSql(k: Int): String = {
    val prev = s"h${k - 1}"
    s"""sa$k AS MATERIALIZED (SELECT e.dst AS node,
       |    SUM(CAST(round(h.hub * 1e9) AS BIGINT)) AS s
       |  FROM e JOIN $prev h ON e.src = h.node GROUP BY 1),
       |ta$k AS MATERIALIZED (SELECT SUM(s) AS t FROM sa$k),
       |a$k AS MATERIALIZED (SELECT n.node,
       |    CAST(COALESCE(sa.s, 0) AS DOUBLE) / CAST(ta.t AS DOUBLE) AS auth
       |  FROM nodes n LEFT JOIN sa$k sa ON n.node = sa.node
       |  CROSS JOIN ta$k ta),
       |sh$k AS MATERIALIZED (SELECT e.src AS node,
       |    SUM(CAST(round(a.auth * 1e9) AS BIGINT)) AS s
       |  FROM e JOIN a$k a ON e.dst = a.node GROUP BY 1),
       |th$k AS MATERIALIZED (SELECT SUM(s) AS t FROM sh$k),
       |h$k AS MATERIALIZED (SELECT n.node,
       |    CAST(COALESCE(sh.s, 0) AS DOUBLE) / CAST(th.t AS DOUBLE) AS hub
       |  FROM nodes n LEFT JOIN sh$k sh ON n.node = sh.node
       |  CROSS JOIN th$k th)""".stripMargin
  }

  /** One label-propagation round twin (Graph.labelPropagation):
    * neighbor label counts, per-node max, (max count, min label)
    * tie-break, seeds pinned via anti-join. Integer-only.
    */
  private def lpIterSql(k: Int): String = {
    val prev = s"l${k - 1}"
    s"""c$k AS MATERIALIZED (SELECT e.dst AS node, l.label, COUNT(*) AS cnt
       |  FROM e JOIN $prev l ON e.src = l.node GROUP BY 1, 2),
       |m$k AS MATERIALIZED (SELECT node, MAX(cnt) AS mx FROM c$k GROUP BY 1),
       |l$k AS MATERIALIZED (SELECT node, label FROM seeds
       |  UNION ALL
       |  SELECT w.node, w.label FROM (
       |    SELECT c.node, MIN(c.label) AS label FROM c$k c
       |    JOIN m$k m ON c.node = m.node AND c.cnt = m.mx
       |    GROUP BY 1) w
       |  LEFT JOIN seeds sd ON w.node = sd.node
       |  WHERE sd.node IS NULL)""".stripMargin
  }
}
