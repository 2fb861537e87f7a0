package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Tables.Money

/** Past-due aging report — the reference's flagship endpoint
  * `GET /invoices/past-due` (`app/api/invoices.py:41-138`).
  *
  * Operators covered (SURVEY.md §2): F1 past-due predicate, J1 fact⋈dim
  * inner join, C1 outstanding clamp, C2 days-past-due, O1 parametric sort,
  * O3 limit/offset, A1 count-before-page.
  *
  * Spark shape: one declarative plan — filter → broadcast hash join →
  * project → TakeOrderedAndProject. The dimension is broadcast (135 rows in
  * the reference; bounded in any star schema), so no shuffle of the fact
  * side; the filter and the 4-column read schema are pushed into the scan.
  */
object PastDue {

  /** C3: the reference defaults `as_of` to today in America/New_York
    * (`app/api/invoices.py:57-59`) regardless of server timezone. The
    * session runs UTC (harness contract), so shift explicitly.
    */
  def defaultAsOf: Column =
    to_date(convert_timezone(lit("UTC"), lit("America/New_York"),
      current_timestamp()))

  /** COALESCE(bill,0) - COALESCE(applied,0), exact decimal — the reference
    * computes this twice: as the filter (`app/api/invoices.py:70-79`) and,
    * clamped, as the output column (`invoices.py:107-113`).
    */
  private def rawOutstanding: Column =
    coalesce(col("bill_total"), lit(BigDecimal(0)).cast(Money)) -
      coalesce(col("applied"), lit(BigDecimal(0)).cast(Money))

  /** The report body: invoices past due as of `asOf`, joined to the
    * customer dimension, with outstanding/days_past_due derived columns,
    * deterministically ordered (due_date, then unique invoice_number —
    * SURVEY.md §7.3 hard part 3: the reference's bare `ORDER BY due_date`
    * leaves page composition planner-dependent).
    *
    * `invoices` must have: invoice_number, customer_id, invoice_date,
    * due_date, bill_total, applied. `customers` must have: id, name.
    */
  def report(invoices: DataFrame, customers: DataFrame, asOf: Column,
             descending: Boolean = false): DataFrame = {
    val pastDue = invoices
      .filter(rawOutstanding > lit(BigDecimal(0)) && col("due_date") < asOf)
    val dueOrder = if (descending) col("due_date").desc else col("due_date").asc
    val dim = customers.select(col("id"), col("name").as("customer_name"))
    Joins.dimJoin(pastDue, dim, col("customer_id") === col("id"))
      .select(
        col("invoice_number"),
        col("customer_name"),
        col("invoice_date"),
        col("due_date"),
        col("bill_total"),
        col("applied"),
        greatest(rawOutstanding, lit(BigDecimal(0)).cast(Money))
          .cast(Money).as("outstanding"),
        col("currency"),
        col("status"),
        datediff(asOf, col("due_date")).cast("int").as("days_past_due"))
      .orderBy(dueOrder, col("invoice_number").asc)
  }

  /** One page of the report — O3 LIMIT/OFFSET (`app/api/invoices.py:100-101`).
    * Spark collapses orderBy+limit to TakeOrderedAndProject (top-k per
    * partition, merge on driver — no global sort at scale).
    */
  def page(report: DataFrame, limit: Int, offset: Int): DataFrame =
    report.offset(offset).limit(limit)

  /** Pagination `total`: count of matching rows before paging — A1
    * (`app/api/invoices.py:82-83`; computed join-free there because J1 is a
    * non-filtering FK join — same here).
    */
  def total(invoices: DataFrame, asOf: Column): Long =
    invoices.filter(rawOutstanding > lit(BigDecimal(0)) && col("due_date") < asOf)
      .count()

  /** The reference's full page envelope (`{items, total}`): the page
    * collect and the `total` count, run as two queries over the frames
    * passed in, as the reference runs them (SURVEY.md §3.1, steps 6–7).
    * Nothing is cached here: Spark keys a cache by plan, so a per-call
    * `unpersist` would also drop a cache the caller, or a concurrent call,
    * holds on the same frame.
    */
  case class PageResult(items: Array[org.apache.spark.sql.Row], total: Long)

  def servePage(invoices: DataFrame, customers: DataFrame, asOf: Column,
                limit: Int, offset: Int,
                descending: Boolean = false): PageResult =
    PageResult(
      page(report(invoices, customers, asOf, descending), limit, offset).collect(),
      total(invoices, asOf))
}
