package graft

import java.nio.file.Files
import graft.ingest.IngestJob

/** The whole ingest lifecycle: reference stats + idempotent re-ingest. */
class IngestJobSpec extends SparkSpec {

  test("full job reproduces the reference's ingest stats and is idempotent") {
    val out = Files.createTempDirectory("graft-ingest").toString
    val csv = ReferenceFixture.csv

    val stats = IngestJob.run(spark, csv, out)
    assert(stats.rows == 3107)
    assert(stats.customers == 135)
    assert(stats.invoices == 3107)
    assert(stats.errors == 0 && stats.errorExamples.isEmpty)
    assert(stats.duplicates == 0)

    def snapshot(): (Long, Long, Long) = {
      val cust = spark.read.parquet(s"$out/customers")
      val inv = spark.read.parquet(s"$out/invoices")
      (cust.count(), inv.count(),
        inv.selectExpr("sum(crc32(cast(concat_ws('|', invoice_number, " +
          "bill_total, applied, due_date) as binary)))").head.getLong(0))
    }
    val first = snapshot()
    assert(first._1 == 135 && first._2 == 3107)

    // re-ingest: state must be a no-op (SOLUTION.md:312-325)
    IngestJob.run(spark, csv, out)
    assert(snapshot() == first)
  }

  test("quarantine surfaces bad rows with examples, clean rows still load") {
    val p = Files.createTempFile("graft-dirty", ".csv")
    Files.writeString(p,
      graft.sources.CsvSource.Columns.mkString(",") + "\n" +
        "Acme,I1,01/02/2024,PO-1,100,50,Open,USD,Bob,555,b@x.com,Net 30,\n" +
        "Zeta,I2,01/03/2024,PO-2,oops,0,Open,USD,Zoe,556,z@x.com,Net 45,\n")
    val r = IngestJob.prepare(spark, p.toString)
    assert(r.stats.rows == 2)
    assert(r.stats.errors == 1)
    assert(r.stats.errorExamples.head.contains("oops"))
    assert(r.stats.duplicates == 0)
  }
}
