package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}
import graft.api.ArServer
import graft.query.PastDue

/** The REST façade under concurrent clients. Requests run on a pool of
  * handler threads, so a body must not depend on what else is in flight,
  * a handler must leave the caller's caches alone, and `stop()` must leave
  * no handler thread behind. Runs over in-memory frames, so it needs no
  * ingested fixture.
  */
class ArServerConcurrencySpec extends SparkSpec
    with BeforeAndAfterAll with Eventually {

  /** 12 customers; customer 12 has no invoices. */
  private lazy val customers = spark.range(1, 13).selectExpr("id",
    "concat('Cust ', id) AS name",
    "concat('Contact ', id) AS contact_name",
    "concat('555-01', lpad(CAST(id AS STRING), 2, '0')) AS contact_phone",
    "concat('c', id, '@example.test') AS contact_email")

  /** 240 invoices, one a day from 2024-01-01, each due 30 days later; a
    * third paid in full, every tenth in CAD.
    */
  private lazy val invoices = spark.range(240).selectExpr(
    "concat('INV-', lpad(CAST(id AS STRING), 4, '0')) AS invoice_number",
    "id % 11 + 1 AS customer_id",
    "date_add(DATE'2024-01-01', CAST(id AS INT)) AS invoice_date",
    "date_add(DATE'2024-01-31', CAST(id AS INT)) AS due_date",
    "CAST(100 + id * 7.25 AS DECIMAL(18,2)) AS bill_total",
    "CAST(IF(id % 3 = 0, 100 + id * 7.25, id % 50) AS DECIMAL(18,2)) AS applied",
    "IF(id % 3 = 0, 'Closed', 'Open') AS status",
    "IF(id % 10 = 0, 'CAD', 'USD') AS currency",
    "id AS row_id")

  private lazy val (server, port) = {
    val s = new ArServer(invoices, customers)
    (s, s.start())
  }

  override def afterAll(): Unit = server.stop()

  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  private def get(port: Int, path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Runs `paths` on `threads` client threads at once; the answers in order. */
  private def concurrently(threads: Int, port: Int, paths: Seq[String])
      : Seq[(Int, String)] = {
    val pool = Executors.newFixedThreadPool(threads)
    try pool.invokeAll(paths.map(p => new Callable[(Int, String)] {
      def call(): (Int, String) = get(port, p)
    }).asJava).asScala.map(_.get(2, TimeUnit.MINUTES)).toSeq
    finally pool.shutdown()
  }

  private val mix = Seq(
    "/health",
    "/invoices/past-due?as_of=2024-06-01",
    "/invoices/past-due?as_of=2024-06-01&limit=7&offset=5",
    "/invoices/past-due?as_of=2024-09-01&sort=due_date.desc&limit=10",
    "/invoices/past-due?as_of=2024-09-01&sort=due_date.desc&limit=3&offset=40",
    "/invoices/summary/month?month=2024-03",
    "/invoices/summary/month?month=2024-03&customer_name=cust%204",
    "/invoices/summary/month?month=2024-12",
    "/customers/contact?name=Cust%203",
    "/customers/contact?name=CUST%2012",
    "/invoices/INV-0042",
    "/invoices/INV-0239",
    "/customers/7",
    "/customers/",
    "/invoices/NOPE-1",
    "/customers/999",
    "/customers/contact?name=Nobody",
    "/invoices/summary/month?month=2024-13",
    "/customers/contact?limit=5",
    "/invoices/past-due?as_of=2024-06-01&limit=abc",
    "/customers/contact?name=Cust%201&offset=-1")

  test("8 concurrent clients get the bodies one client gets, byte for byte") {
    val alone = mix.map(get(port, _))
    assert(alone.map(_._1).distinct.sorted == Seq(200, 400, 404, 422))
    val batch = Seq.fill(4)(mix).flatten
    val together = concurrently(8, port, batch)
    batch.zip(together).foreach { case (path, got) =>
      assert(got == alone(mix.indexOf(path)), path)
    }
  }

  test("PastDue.servePage leaves a frame the caller cached still cached") {
    val cached = invoices.filter("status = 'Open'").cache()
    def isCached: Boolean = spark.sharedState.cacheManager.lookupCachedData(
      cached.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    try {
      cached.count()
      assert(isCached)
      val env = PastDue.servePage(cached, customers,
        lit("2024-06-01").cast("date"), limit = 5, offset = 0)
      assert(env.items.length == 5)
      assert(isCached, "servePage dropped the caller's cache")
    } finally cached.unpersist()
  }

  test("the handler pool is bounded by default parallelism and stop() ends it") {
    def handlerThreads: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("ar-server-handler-")).toSet
    val before = handlerThreads
    val s = new ArServer(invoices, customers)
    val p = s.start()
    val answers = concurrently(8, p, Seq.fill(16)("/invoices/summary/month?month=2024-03"))
    assert(answers.forall(_._1 == 200))
    val pool = handlerThreads -- before
    assert(pool.nonEmpty)
    assert(pool.size <= spark.sparkContext.defaultParallelism)
    assert(pool.forall(_.isDaemon))
    s.stop()
    eventually(timeout(Span(10, Seconds))) {
      assert(pool.forall(!_.isAlive), pool.filter(_.isAlive).map(_.getName))
    }
  }
}
