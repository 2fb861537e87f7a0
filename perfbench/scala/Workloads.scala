package graftbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.api.ArServer
import graft.ingest.{IngestJob, Load}
import graft.query.{CustomerContact, Lookups, MonthlySummary, PastDue}

/** The AR ingest cycle: a first load of one snapshot, then a MERGE re-ingest
  * of the next, into one output directory.
  */
object Ingest {

  /** Both loads into `dir`; for each, what a check needs. In a traced run
    * each load calls IngestJob.run's own steps under their spans.
    */
  def cycle(ctx: Ctx, dir: String): Seq[Map[String, Any]] =
    Seq("create" -> "snap1.csv", "merge" -> "snap2.csv").map { case (kind, file) =>
      val csv = ctx.input(file)
      val t0 = Clock.now
      val stats = ctx.tracer.span("ingest.run", attrs = Map("kind" -> kind)) {
        if (ctx.traced) tracedRun(ctx, csv, dir) else IngestJob.run(ctx.spark, csv, dir)
      }
      val ms = (Clock.now - t0) * 1e3
      Map("kind" -> kind, "ms" -> ms, "csv_bytes" -> new File(csv).length,
        "resident_blocks" -> ctx.sweep(),
        "stats" -> Map("rows" -> stats.rows, "customers" -> stats.customers,
          "invoices" -> stats.invoices, "errors" -> stats.errors,
          "duplicates" -> stats.duplicates),
        "fact" -> factState(ctx, s"$dir/invoices"))
    }

  /** IngestJob.run's steps, each under its span, in the order run calls
    * them. Keep in step with IngestJob.run.
    */
  private def tracedRun(ctx: Ctx, csv: String, dir: String): IngestJob.IngestStats = {
    val t = ctx.tracer
    val r = t.span("ingest.prepare")(IngestJob.prepare(ctx.spark, csv))
    t.span("load.overwrite_dim")(Load.overwriteDim(r.dim, s"$dir/customers"))
    val factPath = s"$dir/invoices"
    if (new File(factPath).exists())
      t.span("load.merge_into")(Load.mergeInto(ctx.spark, factPath, r.fact, "invoice_number"))
    else t.span("load.fact_write")(r.fact.write.mode("overwrite").parquet(factPath))
    r.stats
  }

  /** Row count, an order-independent CRC over every row's key columns, and
    * the exact sum of `applied`, of the fact table as written.
    */
  private def factState(ctx: Ctx, path: String): Map[String, Any] = {
    def s(c: String) = coalesce(col(c).cast("string"), lit(""))
    val row = ctx.spark.read.parquet(path).agg(
      count(lit(1)),
      sum(crc32(concat_ws("|", col("invoice_number"), s("customer_id"), s("bill_total"),
        s("applied"), s("status"), s("due_date")).cast("binary"))),
      sum(col("applied"))).head()
    Map("rows" -> row.getLong(0), "crc" -> row.getLong(1),
      "applied" -> row.getDecimal(2).toPlainString)
  }
}

/** `ar_serve`: ArServer over the tables an ingest cycle wrote, under a
  * closed loop of HTTP clients that each wait for their reply.
  */
object ArServe {

  final case class Req(kind: String, path: String, status: String, frags: Seq[String]) {
    def params: Map[String, String] =
      path.split('?').drop(1).headOption.toSeq.flatMap(_.split('&')).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
  }

  val Clients = 4
  /** Requests per block of the plan; each block holds the mix exactly. */
  val Block = 100
  /** Requests of each kind in the one-client phase of an untraced run. */
  val Rounds = 3
  /** Endpoint kinds a direct query call can stand in for. */
  val QueryKinds = Seq("past_due", "month", "contact", "customer", "customer_list")

  def run(ctx: Ctx): Unit = {
    val src = Source.fromFile(ctx.input("plan.tsv"), "UTF-8")
    val plan = try src.getLines().map { l =>
      val f = l.split("\t", -1)
      Req(f(0), f(1), f(2), f.drop(3).toSeq)
    }.toVector finally src.close()
    val kinds = plan.map(_.kind).distinct

    // Set-up: an ingest cycle writes the tables, then three times open them
    // and start a server. The last server stays up.
    val dir = s"${ctx.work}/serve/tables"
    ctx.setTracing(ctx.traced)
    ctx.result("ingest") = Ingest.cycle(ctx, dir)
    ctx.setTracing(false)
    var server: ArServer = null
    var port = 0
    var tables: (DataFrame, DataFrame) = null
    val setups = (1 to 3).map { _ =>
      if (server != null) server.stop()
      val t0 = Clock.now
      val invoices = ctx.spark.read.parquet(s"$dir/invoices")
      val customers = ctx.spark.read.parquet(s"$dir/customers").select(
        col("customer_id").as("id"), col("name"), col("contact_name"),
        col("contact_phone"), col("contact_email"))
      tables = (invoices, customers)
      server = new ArServer(invoices, customers)
      port = server.start()
      Clock.now - t0
    }
    // Warm-up: one request of each kind, so that no measured request pays
    // for a first call.
    val t1 = Clock.now
    val client = newClient()
    kinds.foreach(k => send(client, port, plan.find(_.kind == k).get))
    ctx.result("warmup_s") = Clock.now - t1
    ctx.result("setup_s") = setups
    val next = new AtomicInteger(0)
    // 1 client, kinds in turn: per-endpoint round trips on an idle server
    val byKind = kinds.map(k => plan.filter(_.kind == k))
    val turns = Vector.tabulate(100 * byKind.size) { i =>
      val reqs = byKind(i % byKind.size)
      reqs(i / byKind.size % reqs.size)
    }
    try {
      ctx.startMeasuring()
      if (!ctx.traced) {
        closedLoop(ctx, port, turns, new AtomicInteger(0), 1, Double.PositiveInfinity, "c1",
          limit = Rounds * byKind.size)
        closedLoop(ctx, port, plan, next, Clients, ctx.seconds, "c4", block = Block)
      } else {
        ctx.setTracing(true)
        closedLoop(ctx, port, turns, new AtomicInteger(0), 1, ctx.seconds * 0.4, "c1")
        directQueries(ctx, tables._1, tables._2, plan, ctx.seconds * 0.2)
        // 4 clients, tracing toggled each second: traced minus untraced
        closedLoop(ctx, port, plan, next, Clients, ctx.seconds * 0.4, "c4", toggle = true)
        ctx.setTracing(false)
      }
      ctx.stopMeasuring()
    } finally server.stop()
  }

  private def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(30)).build()

  private def send(client: HttpClient, port: Int, r: Req): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      .timeout(Duration.ofSeconds(120)).build(), HttpResponse.BodyHandlers.ofString())

  /** `clients` threads, each sending its next request only after the reply
    * to the previous one has fully arrived, until the plan index `limit`, or
    * for `seconds` of wall time and then up to the end of the current block
    * of `block` requests.
    */
  private def closedLoop(ctx: Ctx, port: Int, plan: Vector[Req], next: AtomicInteger,
                         clients: Int, seconds: Double, phase: String, limit: Int = Int.MaxValue,
                         block: Int = 1, toggle: Boolean = false): Unit = {
    val start = Clock.now
    val deadline = start + seconds
    val stopAt = new AtomicInteger(limit)
    val threads = (1 to clients).map { _ =>
      new Thread(() => {
        val client = newClient()
        var i = next.getAndIncrement()
        while ({
          if (Clock.now >= deadline)  // every index below next.get is already handed out
            stopAt.compareAndSet(limit, (next.get + block - 1) / block * block)
          i < stopAt.get
        }) {
          if (toggle) ctx.setTracing(((Clock.now - start).toInt & 1) == 0)
          val r = plan(i % plan.size)
          val traced = ctx.tracer.enabled
          val (resp, _) = ctx.op(r.kind, traced, Map("phase" -> phase)) {
            ctx.tracer.span(s"api.${r.kind}", op = i.toLong + 1) {
              try Right(send(client, port, r)) catch { case e: Exception => Left(e) }
            }
          }
          resp match {
            case Left(e) => ctx.check(s"serve.${r.kind}", Some(s"${r.path}: $e"))
            case Right(x) =>
              val code = x.statusCode()
              val statusOk = if (r.status == "4xx") code >= 400 && code < 500 else code == r.status.toInt
              val missing = r.frags.filterNot(x.body().contains(_))
              ctx.check(s"serve.${r.kind}",
                if (!statusOk) Some(s"${r.path}: status $code, expected ${r.status}")
                else missing.headOption.map(m => s"${r.path}: body lacks $m"),
                wrong = statusOk)
          }
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** The query-layer calls each endpoint makes, called directly, kinds in
    * turn, each followed by its collect.
    */
  private def directQueries(ctx: Ctx, invoices: DataFrame, customers: DataFrame,
                            plan: Vector[Req], seconds: Double): Unit = {
    val byKind = QueryKinds.map(k => plan.filter(_.kind == k)).filter(_.nonEmpty)
    val deadline = Clock.now + seconds
    var i = 0
    while (Clock.now < deadline) {
      val reqs = byKind(i % byKind.size)
      val r = reqs(i / byKind.size % reqs.size)
      val p = r.params
      ctx.op(s"query.${r.kind}", traced = true, Map("phase" -> "q")) {
        ctx.tracer.span(s"query.${r.kind}", op = 1000000L + i) {
          r.kind match {
            case "past_due" =>
              PastDue.servePage(invoices, customers, lit(p("as_of")).cast("date"),
                p("limit").toInt, p.getOrElse("offset", "0").toInt,
                p.get("sort").contains("due_date.desc"))
            case "month" =>
              MonthlySummary.summary(invoices, customers, p("month"), p.get("customer_name")).collect()
            case "contact" =>
              CustomerContact.exists(customers, p("name")).collect()
              val page = CustomerContact.contacts(customers, invoices, p("name"),
                dimCols = Seq("contact_name", "contact_phone", "contact_email"))
              CustomerContact.contactsEnvelope(page)._1.collect()
            case "customer" =>
              Lookups.customerById(customers, r.path.stripPrefix("/customers/").toLong).limit(1).collect()
            case "customer_list" => Lookups.customerList(customers).collect()
          }
        }
      }
      i += 1
    }
  }
}

/** `catalog_sf001`: nine composed catalog queries, run in turn. */
object Catalog {

  def run(ctx: Ctx): Unit = {
    val dir = ctx.args("catalog")
    val queries = ctx.args("queries").split(',').toSeq
    // Warm-up: every query once, four at a time (JIT and codegen are
    // shared), then one sweep.
    val t0 = Clock.now
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try queries.map(q => pool.submit(new Runnable {
      def run(): Unit = runQuery(ctx, dir, queries, q, 0, traced = false, measured = false)
    })).foreach(_.get)
    finally pool.shutdown()
    ctx.sweep()
    ctx.result("setup_s") = Seq(Clock.now - t0)
    // Queries in turn until `seconds` have passed, at least one whole pass
    // (two in a traced run, whose even passes are traced).
    ctx.startMeasuring()
    val deadline = Clock.now + ctx.seconds
    val minimum = queries.size * (if (ctx.traced) 2 else 1)
    var k = 0
    while (k < minimum || Clock.now < deadline) {
      val pass = 1 + k / queries.size
      val traced = ctx.traced && pass % 2 == 0
      ctx.setTracing(traced)
      runQuery(ctx, dir, queries, queries(k % queries.size), pass, traced, measured = true)
      k += 1
    }
    ctx.setTracing(false)
    ctx.stopMeasuring()
    ctx.result("observed") = observed.toList
  }

  private val observed = ArrayBuffer[Map[String, Any]]()

  /** Build the frame (eager jobs run here), [force the physical plan,] then
    * collect. A measured run is followed by a sweep whose residue is
    * recorded with its answer.
    */
  private def runQuery(ctx: Ctx, dir: String, queries: Seq[String], q: String, pass: Int,
                       traced: Boolean, measured: Boolean): Unit = {
    val t = ctx.tracer
    val opId = pass * 100L + queries.indexOf(q)
    val (rows, ms) = ctx.op(q, traced, Map("pass" -> pass)) {
      t.span(s"catalog.$q", op = opId) {
        try {
          val df = t.span("catalog.build")(SparkEntry.queries(q)(ctx.spark, dir))
          if (traced) t.span("catalog.plan")(df.queryExecution.executedPlan)
          Right(t.span("catalog.action")(df.collect()))
        } catch { case e: Exception => Left(e) }
      }
    }
    if (measured) {
      val resident = ctx.sweep()
      rows match {
        case Left(e) =>
          ctx.check(s"catalog.$q", Some(e.toString))
          observed += Map("query" -> q, "pass" -> pass, "error" -> e.toString)
        case Right(rs) =>
          observed += Map("query" -> q, "pass" -> pass, "ms" -> ms, "traced" -> traced,
            "rows" -> rs.length, "fingerprint" -> Fingerprint(rs), "resident_blocks" -> resident)
      }
    }
  }
}

/** Order-independent, rounding-tolerant digest of a result: each row's
  * values in column-name order, floating values at 6 significant digits,
  * rows sorted, SHA-256 of the lines.
  */
object Fingerprint {
  private val mc = new java.math.MathContext(6)

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "nan" else if (d.isInfinite) d.toString else num(new java.math.BigDecimal(d))
    case f: Float => canon(f.toDouble)
    case d: java.math.BigDecimal => num(d)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  private def num(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.round(mc).stripTrailingZeros.toPlainString

  def apply(rows: Array[Row]): String = {
    val lines = rows.map { r =>
      val names = r.schema.fieldNames
      names.indices.sortBy(names(_)).map(i => canon(r.get(i))).mkString("|")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
