package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one named entry per implemented operator from SURVEY.md §2
  * (plus the scale extensions), each a DataFrame over the harness testdata
  * at `sfDir`. `oracleSql`: the DuckDB-runnable ANSI twin with IDENTICAL
  * output column names; omitted only for ops SQL can't express (those get a
  * rows-only check).
  */
object SparkEntry {

  /** Fixed as-of date for the past-due report (orders span 1995‥2001). */
  val AsOf = "1998-06-01"

  /** The local session the CLI mains (Bench, Verify, StageProbe,
    * Explain) run on: `local[cpus]` with as many shuffle partitions,
    * UTC session time, parquet nanos read as longs, and the graft
    * extensions; no UI. `cpus` defaults to `SPARK_GRAFT_CPUS` (32).
    */
  def localSession(cpus: String =
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_past_due")(spark, "/root/testdata/sf0.001")

  /** Catalog union, with driver-canonical output typing (see [[Canonical]]):
    * final projections carry DOUBLE, never DECIMAL — decimal arithmetic
    * stays inside the queries.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (RelationalCatalog.queries ++ IngestCatalog.queries ++
      PipelineCatalog.queries ++ ScaleCatalog.queries ++
      AnalyticsCatalog.queries).map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => Canonical.spark(fn(s, dir)))
    }

  def oracleSql: Map[String, String] =
    (RelationalCatalog.oracleSql ++ IngestCatalog.oracleSql ++
      PipelineCatalog.oracleSql ++ ScaleCatalog.oracleSql ++
      AnalyticsCatalog.oracleSql).map { case (name, sql) =>
      name -> Canonical.oracle(name, sql)
    }
}
