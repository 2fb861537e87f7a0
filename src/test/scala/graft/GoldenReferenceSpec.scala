package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.{Normalize, Parse}
import graft.query.{CustomerContact, MonthlySummary, PastDue}

/** End-to-end parity against the reference's own data and documented
  * golden outputs (`/root/reference/README.md:101-221`,
  * `SOLUTION.md:231-236`): ingest `data/unicorn_inc.csv` through the full
  * pipeline, then hit the three analytics with the documented parameters.
  * This is the strongest parity signal available — the reference ships no
  * test suite (SURVEY.md §5.1), only these documented numbers.
  */
class GoldenReferenceSpec extends SparkSpec {

  private lazy val raw: DataFrame = {
    val df = graft.sources.CsvSource.read(spark, ReferenceFixture.csv)
    // single small file → one partition; monotonic id = file order
    assert(df.rdd.getNumPartitions == 1)
    df.cache()
  }

  private lazy val parsed = Parse.parsed(raw).cache()
  private lazy val dim = Normalize.dimension(parsed).cache()
  private lazy val withFk = Normalize.fkResolve(parsed, dim)
  private lazy val customers = dim.select(col("customer_id").as("id"),
    col("name"), col("contact_name"), col("contact_phone"),
    col("contact_email"))

  test("ingest stats: 3107 rows, 135 customers, 0 errors, 0 duplicates") {
    assert(parsed.count() == 3107)
    assert(dim.count() == 135)
    assert(Normalize.quarantine(raw).count() == 0)
    assert(Normalize.dupCheck(parsed).count() == 0)
  }

  test("past-due @2025-03-01: total 28; first item matches README") {
    val asOf = lit("2025-03-01").cast("date")
    assert(PastDue.total(parsed, asOf) == 28)
    val first = PastDue.page(
      PastDue.report(withFk, customers, asOf), limit = 5, offset = 0)
      .collect().head
    assert(first.getAs[String]("invoice_number") == "DF2014658")
    assert(first.getAs[String]("customer_name") == "LogicNest")
    assert(first.getAs[java.sql.Date]("due_date").toString == "2024-04-10")
    assertDecimal(first.getAs[Any]("bill_total"), "9400.00")
    assertDecimal(first.getAs[Any]("applied"), "7138.90")
    assertDecimal(first.getAs[Any]("outstanding"), "2261.10")
    assert(first.getAs[String]("currency") == "USD")
    assert(first.getAs[String]("status") == "Pending")
    assert(first.getAs[Int]("days_past_due") == 325)
  }

  test("monthly summary 2024-11: 318565.14 / 143 / USD") {
    val row = MonthlySummary.summary(withFk, customers, "2024-11")
      .collect().head
    assert(row.getAs[String]("month") == "2024-11")
    assert(row.getAs[String]("currency") == "USD")
    assertDecimal(row.getAs[Any]("sum_bill_total"), "318565.14")
    assert(row.getAs[Long]("count_invoices") == 143)
  }

  test("monthly summary 2024-11 for 'lens & light' (case-insens): 4550.00 / 2") {
    val row = MonthlySummary.summary(withFk, customers, "2024-11",
      Some("lens & light")).collect().head
    assertDecimal(row.getAs[Any]("sum_bill_total"), "4550.00")
    assert(row.getAs[Long]("count_invoices") == 2)
  }

  test("customer contact 'Lens & Light': exists, one contact row, quirk total") {
    assert(CustomerContact.exists(customers, "lens & light")
      .collect().head.getLong(0) == 1)
    val page = CustomerContact.contacts(customers, withFk, "Lens & Light",
      matchCol = "name",
      dimCols = Seq("contact_name", "contact_phone", "contact_email"))
    val (rows, total) = CustomerContact.contactsEnvelope(page)
    val r = rows.collect().head
    assert(r.getAs[String]("contact_name") == "Angela Scott")
    assert(r.getAs[String]("contact_phone") == "555-513-2964")
    assert(r.getAs[String]("contact_email") == "angela@lensandlight.com")
    assert(r.getAs[java.sql.Date]("last_seen_invoice_date").toString ==
      "2025-01-27")
    // the reference's envelope quirk: total = page length (customers.py:118)
    assert(total == 1)
  }

  test("servePage envelope: page items plus the pre-paging total") {
    val env = PastDue.servePage(withFk, customers,
      lit("2025-03-01").cast("date"), limit = 5, offset = 0)
    assert(env.items.length == 5)
    assert(env.total == 28)
    assert(env.items.head.getAs[String]("invoice_number") == "DF2014658")
  }

  test("C3: default as_of is a valid date (America/New_York today)") {
    val d = spark.range(1).select(PastDue.defaultAsOf.as("d"))
      .collect().head.get(0)
    assert(d != null && d.isInstanceOf[java.sql.Date])
  }
}
