package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Dev utility: print the formatted physical plan of catalog queries.
  * Usage: runMain graft.Explain <sfDir> [queryName ...] (default: all).
  * The plan-audit notes derived from this live in PLANS.md.
  */
object Explain {
  /** Named SUBSTRATE plans for hybrid/driver-finished queries whose
    * catalog plan collapses to a LocalTableScan (the trace is computed
    * eagerly): the informative "before/after" plan for those lives in
    * the distributed substrate, so it is explainable by name here.
    */
  private val substrates: Map[String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "sub_mst_edges" -> ((s: SparkSession, d: String) =>
      graft.operators.Graph.supplierAffinityEdges(
        graft.queries.Tables.lineitem(s, d))))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try substrates.getOrElse(n, SparkEntry.queries(n))(spark, sfDir)
        .explain("formatted")
      catch { case NonFatal(e) => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
