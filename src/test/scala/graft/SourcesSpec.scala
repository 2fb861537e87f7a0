package graft

import java.nio.file.Files
import graft.sources.{ArSchemas, CsvSource}

/** S1 CSV source contract + S3 DDL init. */
class SourcesSpec extends SparkSpec {

  test("S1: schema'd CSV read, header contract, no corrupt lines in ref data") {
    val raw = CsvSource.read(spark, ReferenceFixture.csv)
      .cache()
    assert(raw.columns.toSeq ==
      CsvSource.Columns ++ Seq("_corrupt_record", "row_id"))
    assert(raw.schema.fields.filter(_.name != "row_id")
      .forall(_.dataType.typeName == "string"))
    assert(CsvSource.corruptLines(raw).count() == 0)
    assert(raw.count() == 3107)
  }

  test("S1/T6: malformed CSV lines land in the corrupt-record quarantine") {
    val p = Files.createTempFile("graft-bad", ".csv")
    Files.writeString(p,
      CsvSource.Columns.mkString(",") + "\n" +
        "Acme,I1,01/02/2024,PO-1,100,50,Open,USD,Bob,555,b@x.com,Net 30,\n" +
        "\"unterminated,quote,row\n" +
        "Zeta,I2,01/03/2024,PO-2,200,0,Open,USD,Zoe,556,z@x.com,Net 45,\n")
    val raw = CsvSource.read(spark, p.toString).cache()
    assert(raw.count() >= 2)
    assert(CsvSource.corruptLines(raw).count() >= 1)
  }

  test("S3: init writes empty, correctly-typed tables") {
    val dir = Files.createTempDirectory("graft-ddl").toString
    ArSchemas.initTables(spark, dir)
    val cust = spark.read.parquet(s"$dir/customers")
    val inv = spark.read.parquet(s"$dir/invoices")
    assert(cust.count() == 0 && inv.count() == 0)
    assert(cust.schema.fieldNames.toSeq ==
      ArSchemas.customers.fieldNames.toSeq)
    assert(inv.schema("bill_total").dataType.typeName == "decimal(18,2)")
    assert(inv.schema("invoice_date").dataType.typeName == "date")
  }
}
