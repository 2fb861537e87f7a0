package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Optional names beyond the two driver args: builder-local subset runs.
    val only: Set[String] = args.drop(2).toSet
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query storage residency (VERDICT r16 #2): queries with
    // resident blocks after materialization, name -> count. Expected
    // entries are CacheHygiene.expectedResidue; anything else is a
    // LEAK (stderr line from check()) — and the sweep inside check()
    // guarantees residue never carries across queries.
    val residue = scala.collection.mutable.LinkedHashMap[String, Int]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val n = CacheHygiene.check(spark, name)
      if (n > 0) residue(name) = n
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Residency report (VERDICT r16 #2): the full map for the probe
    // trail, plus a summary line. Unexpected (= leak) queries already
    // produced a stderr LEAK line each from check().
    val leaks = residue.keys.filterNot(CacheHygiene.expectedResidue).toSeq
    Files.writeString(Paths.get(s"$outDir/cache_hygiene.json"),
      residue.map { case (k, v) => s"${q(k)}: $v" }
        .mkString("{", ",", "}"))
    System.err.println(
      s"[verify] cache-hygiene: ${residue.size} queries with residue " +
        s"(${leaks.size} unexpected${
          if (leaks.nonEmpty) ": " + leaks.mkString(",") else ""})")
    spark.stop()
  }
}
