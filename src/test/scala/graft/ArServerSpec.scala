package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.functions._
import graft.api.ArServer
import graft.ingest.{Normalize, Parse}
import graft.sources.CsvSource

/** The REST façade over the reference's own ingested data, checked
  * against the README's documented request/response pairs.
  */
class ArServerSpec extends SparkSpec {

  private lazy val parsed = Parse.parsed(
    CsvSource.read(spark, ReferenceFixture.csv)).cache()
  private lazy val dim = Normalize.dimension(parsed).cache()
  private lazy val invoices = Normalize.fkResolve(parsed, dim).cache()
  private lazy val customers = dim.select(col("customer_id").as("id"),
    col("name"), col("contact_name"), col("contact_phone"),
    col("contact_email")).cache()

  private lazy val (server, port) = {
    val s = new ArServer(invoices, customers)
    (s, s.start())
  }

  private val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("GET /health") {
    assert(get("/health") == (200, """{"status": "ok"}"""))
  }

  test("GET /invoices/past-due matches the README golden envelope") {
    val (code, body) = get("/invoices/past-due?as_of=2025-03-01&limit=5&offset=0")
    assert(code == 200)
    assert(body.contains(""""total": 28"""))
    assert(body.contains(""""invoice_number": "DF2014658""""))
    assert(body.contains(""""bill_total": "9400.00""""))
    assert(body.contains(""""outstanding": "2261.10""""))
    assert(body.contains(""""days_past_due": 325"""))
  }

  test("GET /invoices/summary/month: golden numbers and 400 on bad month") {
    val (code, body) = get("/invoices/summary/month?month=2024-11")
    assert(code == 200)
    assert(body.contains(""""sum_bill_total": "318565.14""""))
    assert(body.contains(""""count_invoices": 143"""))
    val filtered = get("/invoices/summary/month?month=2024-11&customer_name=Lens%20%26%20Light")
    assert(filtered._2.contains(""""sum_bill_total": "4550.00""""))
    assert(get("/invoices/summary/month?month=2024-13")._1 == 400)
    assert(get("/invoices/summary/month")._1 == 400)
  }

  test("GET /invoices/{invoice_number}: detail and 404; route order holds") {
    val (code, body) = get("/invoices/DF2014658")
    assert(code == 200)
    assert(body.contains(""""customer_name": "LogicNest""""))
    assert(body.contains(""""bill_total": "9400.00""""))
    assert(get("/invoices/NOPE-123")._1 == 404)
    // '/invoices/past-due' must never be captured as an invoice number
    assert(get("/invoices/past-due?as_of=2025-03-01")._1 == 200)
  }

  test("GET /customers/contact: golden contact, quirk total, 404") {
    val (code, body) = get("/customers/contact?name=Lens%20%26%20Light")
    assert(code == 200)
    assert(body.contains(""""contact_name": "Angela Scott""""))
    assert(body.contains(""""contact_phone": "555-513-2964""""))
    assert(body.contains(""""last_seen_invoice_date": "2025-01-27""""))
    assert(body.contains(""""total": 1"""))
    assert(get("/customers/contact?name=No%20Such%20Co")._1 == 404)
    assert(get("/customers/contact")._1 == 400)
  }

  test("GET /customers/ list and /customers/{id}") {
    val (code, body) = get("/customers/")
    assert(code == 200)
    assert(body.startsWith("[") && body.contains(""""name": "Lens & Light""""))
    val one = get("/customers/1")
    assert(one._1 == 200 && one._2.contains(""""id": 1"""))
    assert(get("/customers/999999")._1 == 404)
    assert(get("/customers/notanumber")._1 == 404)
    server.stop()
  }
}
