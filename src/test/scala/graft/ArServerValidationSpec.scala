package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.BeforeAndAfterAll
import graft.api.ArServer

/** Query-parameter validation of the REST façade: `limit`/`offset` that
  * are not integers or fall out of range answer 422 with a
  * `{"detail": ...}` body, as FastAPI does, never a 500; a handler that
  * does fail answers 500 with a string `detail`. Runs over small in-memory
  * frames, so it needs no ingested fixture.
  */
class ArServerValidationSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val (server, port) = {
    import spark.implicits._
    val invoices = Seq(
      ("INV-1", 1L, "2024-10-01", "2024-11-01", "100.00", "0.00"),
      ("INV-2", 1L, "2024-10-05", "2024-11-05", "250.50", "50.50"),
      ("INV-3", 2L, "2024-10-09", "2024-11-09", "75.25", "0.00"))
      .toDF("invoice_number", "customer_id", "invoice_date", "due_date",
        "bill_total", "applied")
      .selectExpr("invoice_number", "customer_id",
        "CAST(invoice_date AS DATE) AS invoice_date",
        "CAST(due_date AS DATE) AS due_date",
        "CAST(bill_total AS DECIMAL(18,2)) AS bill_total",
        "CAST(applied AS DECIMAL(18,2)) AS applied",
        "'Open' AS status", "'USD' AS currency")
    val customers = Seq(
      (1L, "Acme", "Ann Lee", "555-0100", "ann@acme.test"),
      (2L, "Bolt", "Bo Chan", "555-0101", "bo@bolt.test"))
      .toDF("id", "name", "contact_name", "contact_phone", "contact_email")
    val s = new ArServer(invoices, customers)
    (s, s.start())
  }

  override def afterAll(): Unit = server.stop()

  private val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def assert422(path: String, detail: String): Unit = {
    val (code, body) = get(path)
    assert(code == 422, s"$path answered $code: $body")
    assert(body == s"""{"detail": "$detail"}""", s"$path body: $body")
  }

  private val pastDue = "/invoices/past-due?as_of=2025-03-01"

  test("past-due: non-integer or out-of-range limit/offset answer 422") {
    assert422(s"$pastDue&limit=abc", "limit must be an integer in 1..200")
    assert422(s"$pastDue&limit=1.5", "limit must be an integer in 1..200")
    assert422(s"$pastDue&limit=0", "limit must be an integer in 1..200")
    assert422(s"$pastDue&limit=201", "limit must be an integer in 1..200")
    assert422(s"$pastDue&offset=xyz", "offset must be an integer >= 0")
    assert422(s"$pastDue&offset=-1", "offset must be an integer >= 0")
    assert422(s"$pastDue&limit=99999999999",
      "limit must be an integer in 1..200")
  }

  test("past-due: valid and default limit/offset still serve the page") {
    val (code, body) = get(s"$pastDue&limit=2&offset=1")
    assert(code == 200, body)
    assert(body.contains(""""total": 3, "limit": 2, "offset": 1"""))
    assert(body.contains(""""invoice_number": "INV-2""""))
    assert(body.contains(""""invoice_number": "INV-3""""))
    assert(!body.contains(""""invoice_number": "INV-1""""))
    val (dCode, dBody) = get(pastDue)
    assert(dCode == 200, dBody)
    assert(dBody.contains(""""total": 3, "limit": 50, "offset": 0"""))
    assert(get(s"$pastDue&limit=200")._1 == 200)
  }

  test("contact: non-integer or negative limit/offset answer 422") {
    val contact = "/customers/contact?name=Acme"
    assert422(s"$contact&limit=abc", "limit must be an integer >= 0")
    assert422(s"$contact&limit=-1", "limit must be an integer >= 0")
    assert422(s"$contact&offset=-2", "offset must be an integer >= 0")
    assert422(s"$contact&offset=1e3", "offset must be an integer >= 0")
    // validation precedes the existence lookup, as in FastAPI
    assert422("/customers/contact?name=Nobody&limit=x",
      "limit must be an integer >= 0")
  }

  test("contact: valid paging serves, missing name is 400, unknown 404") {
    val (code, body) = get("/customers/contact?name=acme&limit=1&offset=0")
    assert(code == 200, body)
    assert(body.contains(""""contact_name": "Ann Lee""""))
    assert(body.contains(""""last_seen_invoice_date": "2024-10-05""""))
    assert(body.endsWith(""""total": 1}"""))
    val (eCode, eBody) = get("/customers/contact?name=Acme&offset=1")
    assert(eCode == 200 && eBody.contains(""""contacts": [], "total": 0"""),
      eBody)
    assert(get("/customers/contact?limit=5")._1 == 400)
    assert(get("/customers/contact?name=Nobody")._1 == 404)
  }

  test("a handler that throws answers 500 with a string detail") {
    // no `name` column, so the list query fails in analysis
    val broken = new ArServer(spark.range(1).toDF("id"), spark.range(1).toDF("id"))
    val p = broken.start()
    try {
      val resp = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/customers/")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 500, resp.body())
      assert(resp.body().matches("""\{"detail": ".+"\}"""), resp.body())
    } finally broken.stop()
  }
}
