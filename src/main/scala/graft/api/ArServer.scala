package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.query.{CustomerContact, Lookups, MonthlySummary, PastDue}

/** The reference's 7-endpoint REST surface (`SURVEY.md §2.10`) over the
  * engine's query layer — JDK HttpServer, zero extra dependencies.
  * Response shapes mirror the Pydantic models (`app/models/invoices.py`,
  * `app/models/customers.py`): money as 2-dp decimal STRINGS, dates ISO,
  * NULLs as JSON null; 404 bodies are `{"detail": ...}` like FastAPI's.
  *
  * Route-ordering subtlety preserved (`SURVEY.md §2.10`): the reference
  * registers `/invoices/past-due` before `/invoices/{invoice_number}`;
  * JDK HttpServer's longest-prefix context matching gives the same
  * precedence, so `past-due` is never captured as an invoice number.
  *
  * `invoices` columns: invoice_number, customer_id, invoice_date,
  * due_date, bill_total, applied, status, currency (+ optionally
  * customer_terms, terms_days, customer_po_number, row_id→id).
  * `customers`: id, name (+ contact columns for the contact endpoints).
  *
  * Requests are handled in parallel on a fixed pool of daemon threads, as
  * many as the frames' session has default-parallelism slots, so at most
  * that many requests run Spark jobs at once. Handlers never cache or
  * unpersist the frames they are given.
  */
class ArServer(invoices: DataFrame, customers: DataFrame, port: Int = 0) {

  private val server = ArServer.create(port)

  private val handlers: ExecutorService = {
    val n = new AtomicInteger(0)
    Executors.newFixedThreadPool(
      invoices.sparkSession.sparkContext.defaultParallelism, (r: Runnable) => {
        val t = new Thread(r, s"ar-server-handler-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }
  server.setExecutor(handlers)

  // ---------------------------------------------------------------- JSON

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Pydantic-shape scalar: Decimal → 2-dp string, date → ISO string. */
  private def jval(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case d: java.math.BigDecimal => jstr(d.toPlainString)
    case d: java.sql.Date => jstr(d.toString)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case other => jstr(other.toString)
  }

  private def jobj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => jstr(k) + ": " + jval(v) }
      .mkString("{", ", ", "}")

  private def rowObj(r: Row, cols: Seq[String],
                     rename: Map[String, String] = Map.empty): String =
    jobj(cols.filter(c => r.schema.fieldNames.contains(c)).map { c =>
      val v = r.get(r.fieldIndex(c)) match {
        // invoice_number is a string in the reference contract
        case l: java.lang.Long if c == "invoice_number" => l.toString
        case x => x
      }
      rename.getOrElse(c, c) -> v
    })

  // -------------------------------------------------------------- plumbing

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def notFound(ex: HttpExchange, what: String): Unit =
    respond(ex, 404, jobj(Seq("detail" -> s"$what not found")))

  private def badRequest(ex: HttpExchange, why: String): Unit =
    respond(ex, 400, jobj(Seq("detail" -> why)))

  /** `limit`/`offset` validated the way FastAPI validates typed query
    * parameters: absent → the default; not an integer or out of range
    * → Left(detail), answered 422. `offset` is always ≥ 0.
    */
  private def pageParams(p: Map[String, String], defLimit: Int,
                         minLimit: Int, maxLimit: Int)
      : Either[String, (Int, Int)] = {
    def int(name: String, default: Int, lo: Int, hi: Int)
        : Either[String, Int] =
      p.get(name).fold[Either[String, Int]](Right(default)) { v =>
        v.toIntOption.filter(i => i >= lo && i <= hi).toRight(
          if (hi == Int.MaxValue) s"$name must be an integer >= $lo"
          else s"$name must be an integer in $lo..$hi")
      }
    for {
      limit <- int("limit", defLimit, minLimit, maxLimit)
      offset <- int("offset", 0, 0, Int.MaxValue)
    } yield (limit, offset)
  }

  private def unprocessable(ex: HttpExchange, why: String): Unit =
    respond(ex, 422, jobj(Seq("detail" -> why)))

  private def handle(path: String)(f: HttpExchange => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      try f(ex)
      catch {
        case NonFatal(e) =>
          respond(ex, 500, jobj(Seq("detail" ->
            Option(e.getMessage).getOrElse(e.getClass.getName))))
      })

  // -------------------------------------------------------------- endpoints

  /** GET /health (`app/main.py:11-13`). */
  handle("/health") { ex => respond(ex, 200, jobj(Seq("status" -> "ok"))) }

  private val pastDueCols = Seq("invoice_number", "customer_name",
    "invoice_date", "due_date", "bill_total", "applied", "outstanding",
    "currency", "status", "days_past_due")

  /** GET /invoices/past-due (`app/api/invoices.py:41-138`). */
  handle("/invoices/past-due") { ex =>
    val p = params(ex)
    pageParams(p, defLimit = 50, minLimit = 1, maxLimit = 200) match {
      case Left(why) => unprocessable(ex, why)
      case Right((limit, offset)) =>
        val asOf = p.get("as_of")
          .getOrElse(java.time.LocalDate.now(
            java.time.ZoneId.of("America/New_York")).toString)
        val desc = p.get("sort").contains("due_date.desc") // else asc (ref default)
        val env = PastDue.servePage(invoices, customers,
          lit(asOf).cast("date"), limit, offset, desc)
        respond(ex, 200,
          s"""{"items": [${env.items.map(rowObj(_, pastDueCols)).mkString(", ")}], """ +
            s""""total": ${env.total}, "limit": $limit, "offset": $offset}""")
    }
  }

  /** GET /invoices/summary/month (`app/api/invoices.py:176-233`). */
  handle("/invoices/summary/month") { ex =>
    val p = params(ex)
    p.get("month") match {
      case Some(m) if m.matches("""\d{4}-(0[1-9]|1[0-2])""") =>
        val row = MonthlySummary.summary(invoices, customers, m,
          p.get("customer_name")).collect().head
        respond(ex, 200, rowObj(row,
          Seq("month", "currency", "sum_bill_total", "count_invoices")))
      case _ => badRequest(ex, "month must be YYYY-MM")
    }
  }

  /** GET /invoices/{invoice_number} (`app/api/invoices.py:141-174`) —
    * reached only when no longer context matches (route-order contract).
    */
  handle("/invoices/") { ex =>
    val seg = ex.getRequestURI.getPath.stripPrefix("/invoices/")
    if (seg.isEmpty || seg.contains("/")) notFound(ex, "Invoice")
    else {
      val rows = invoices
        .filter(col("invoice_number").cast("string") === lit(seg))
        .join(broadcast(customers.select(col("id"),
          col("name").as("customer_name"))),
          col("customer_id") === col("id"), "inner")
        .limit(1).collect()
      if (rows.isEmpty) notFound(ex, "Invoice")
      else respond(ex, 200, rowObj(rows.head,
        Seq("row_id", "invoice_number", "customer_id", "customer_name",
          "invoice_date", "due_date", "customer_po_number", "bill_total",
          "applied", "status", "currency", "customer_terms", "terms_days"),
        rename = Map("row_id" -> "id")))
    }
  }

  private val customerCols = Seq("id", "name", "contact_name",
    "contact_phone", "contact_email")

  /** GET /customers/contact (`app/api/customers.py:52-119`). */
  handle("/customers/contact") { ex =>
    val p = params(ex)
    val paging = pageParams(p, defLimit = 10, minLimit = 0,
      maxLimit = Int.MaxValue)
    (p.get("name"), paging) match {
      case (None, _) => badRequest(ex, "name is required")
      case (_, Left(why)) => unprocessable(ex, why)
      case (Some(name), Right((limit, offset))) =>
        val n = CustomerContact.exists(customers, name)
          .collect().head.getLong(0)
        if (n == 0) notFound(ex, "Customer")
        else {
          val rows = CustomerContact.contacts(customers, invoices, name,
            dimCols = Seq("contact_name", "contact_phone", "contact_email"),
            limit = limit, offset = offset).collect()
          val contacts = rows.map(rowObj(_,
            Seq("contact_name", "contact_email", "contact_phone",
              "last_seen_invoice_date")))
          // quirk preserved: total = page length (`customers.py:118`)
          respond(ex, 200,
            s"""{"customer_name": ${jstr(name)}, "contacts": [${contacts.mkString(", ")}], "total": ${rows.length}}""")
        }
    }
  }

  /** GET /customers/ list + /customers/{id}
    * (`app/api/customers.py:19-49,122-152`).
    */
  handle("/customers/") { ex =>
    val seg = ex.getRequestURI.getPath.stripPrefix("/customers/")
    if (seg.isEmpty) {
      val rows = Lookups.customerList(customers).collect()
      respond(ex, 200,
        rows.map(rowObj(_, customerCols)).mkString("[", ", ", "]"))
    } else seg.toLongOption match {
      case None => notFound(ex, "Customer")
      case Some(id) =>
        val rows = Lookups.customerById(customers, id).limit(1).collect()
        if (rows.isEmpty) notFound(ex, "Customer")
        else respond(ex, 200, rowObj(rows.head, customerCols))
    }
  }

  /** Start; returns the bound port (pass 0 for ephemeral). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  /** Stop accepting requests, then let the handler pool wind down. */
  def stop(): Unit = { server.stop(0); handlers.shutdown() }
}

object ArServer {

  // The JDK server writes a response's headers and body as two segments.
  // With Nagle's algorithm on, the body waits for the client's delayed ACK
  // of the headers, which adds ≈ 40 ms to every response. The JDK reads
  // this property once, when its server configuration class loads, so it
  // is set here, before the first `HttpServer.create`.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private def create(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
}
