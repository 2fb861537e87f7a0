package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against graft's public entry
  * points and writes what it observed (operation timings, outputs to check,
  * spans and Spark counters) as one JSON document. perfbench/run.py turns
  * that document into checked metrics.
  *
  * Usage: graftbench.Main --workload W --inputs DIR --work DIR --seconds S
  *   --trace 0|1 --cpus N --out FILE [--queries q1,q2,... --catalog DIR]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val t0 = Clock.now
    val cpus = args("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args, work, Clock.now - t0)
    val code =
      try {
        args("workload") match {
          case "ar_serve" => ArServe.run(ctx)
          case "catalog_sf001" => Catalog.run(ctx)
        }
        Files.write(Paths.get(args("out")), Json(ctx.result).getBytes(UTF_8))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally spark.stop()
    // no thread the program or a client left behind may keep the JVM alive
    System.exit(code)
  }
}

/** Everything a workload shares: the session, its tracer and counters, and
  * the result document being filled in.
  */
final class Ctx(val spark: SparkSession, val args: Map[String, String],
                val work: String, sessionS: Double) {
  val traced: Boolean = args("trace") == "1"
  val seconds: Double = args("seconds").toDouble
  val counters: Counters = Counters.register(spark)
  val tracer = new Tracer(spark.sparkContext)
  val result = scala.collection.mutable.LinkedHashMap[String, Any]("session_s" -> sessionS)
  private val ops = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
  private val checks = scala.collection.mutable.LinkedHashMap[String, Array[Any]]()
  private var gc0 = 0.0
  @volatile private var measuring = false

  def input(name: String): String = Paths.get(args("inputs"), name).toAbsolutePath.toString

  def setTracing(on: Boolean): Unit = { tracer.enabled = on; counters.tracing = on }

  /** Time `f`; while measuring, record it as one operation. */
  def op[T](kind: String, traced: Boolean = false, attrs: Map[String, Any] = Map.empty)(f: => T): (T, Double) = {
    val t0 = Clock.now
    val v = f
    val ms = (Clock.now - t0) * 1e3
    if (measuring) ops.synchronized {
      ops += (Map("k" -> kind, "t0" -> t0, "ms" -> ms, "traced" -> traced) ++ attrs)
    }
    (v, ms)
  }

  /** One output check: failed when `error` is Some, wrong when the program
    * answered but the answer was not the expected one.
    */
  def check(name: String, error: Option[String], wrong: Boolean = false): Unit =
    checks.synchronized {
      val c = checks.getOrElseUpdate(name, Array[Any](0, 0, 0, ""))
      c(0) = c(0).asInstanceOf[Int] + 1
      error.foreach { e =>
        c(1) = c(1).asInstanceOf[Int] + 1
        if (wrong) c(2) = c(2).asInstanceOf[Int] + 1
        if (c(3) == "") c(3) = e.take(300)
      }
    }

  def startMeasuring(): Unit = {
    Counters.drain(spark)
    counters.resetPeak()
    gc0 = Counters.gcSeconds
    result("measure_t0") = Clock.now
    measuring = true
  }

  def stopMeasuring(): Unit = {
    measuring = false
    result("measure_t1") = Clock.now
    Counters.drain(spark)
    result("gc_s") = Counters.gcSeconds - gc0
    result("storage_peak_mb") = counters.peakBytes / 1048576.0
    result("resident_end") = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    result("ops") = ops.synchronized(ops.toList)
    result("checks") = checks.synchronized(checks.map { case (k, v) => k -> v.toSeq }.toMap)
    result("spans") = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "t0" -> s.t0, "t1" -> s.t1) ++ s.attrs)
    result("jobs") = counters.jobStats.map(j => Map("job" -> j.job, "span" -> j.span,
      "t0" -> j.t0, "t1" -> j.t1, "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9,
      "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes,
      "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
      "spill_bytes" -> j.spill))
    result("plans") = counters.planStats.map(p => Map("t1" -> p.t1, "plan_s" -> p.planS))
  }

  /** Count the RDD blocks still resident, then drop them, so no operation
    * inherits another's cache.
    */
  def sweep(): Int = {
    val sc = spark.sparkContext
    def resident = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
    val blocks = resident
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // removal can lag the calls above; the next operation starts empty
    val until = Clock.now + 10
    while (resident > 0 && Clock.now < until) Thread.sleep(10)
    blocks
  }
}

/** Minimal JSON writer for the result document. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
