package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into the program, recorded from outside.
  * Times are seconds since the run's clock origin.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      t0: Double, t1: Double, attrs: Map[String, Any])

/** Clock shared by spans (nanoTime) and listener events (epoch ms). */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epochMs0) / 1e3
}

/** Spans kept in memory and written out when the run ends. While a span is
  * open its id rides on the thread's Spark local properties, so every job
  * it submits carries the id into the listener's JobStart event.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[(Long, Long)]] { // (span id, op id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[T](name: String, op: Long = -1L, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val stack = open.get
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val opId = if (op >= 0) op else stack.headOption.map(_._2).getOrElse(0L)
      val id = ids.incrementAndGet()
      open.set((id, opId) :: stack)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.now
      try f
      finally {
        val t1 = Clock.now
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanKey, if (parent == 0) null else parent.toString)
        done.synchronized { done += Span(id, name, parent, opId, t0, t1, attrs) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)
}

object Tracer { val SpanKey = "graftbench.span" }

/** Spark counters per job, plus the storage the block manager holds. */
final case class JobStats(job: Int, span: Long, t0: Double, var t1: Double,
                          var tasks: Int = 0, var cpuNs: Long = 0,
                          var inputBytes: Long = 0, var outputBytes: Long = 0,
                          var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
                          var spill: Long = 0)

final case class PlanStats(t1: Double, planS: Double)

final class Counters extends SparkListener with QueryExecutionListener {
  @volatile var tracing = false
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = ArrayBuffer[PlanStats]()
  private val rddBlocks = new ConcurrentHashMap[String, Long]()
  private var stored = 0L
  @volatile private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, JobStats(e.jobId, span, Clock.fromEpochMs(e.time), Double.NaN))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1 = Clock.fromEpochMs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    for (j <- Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))) if m != null)
      j.synchronized {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  /** Cached and checkpointed RDD blocks, memory plus disk. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val old = Option(rddBlocks.put(b.blockId.name, size)).getOrElse(0L)
      stored += size - old
      if (stored > peak) peak = stored
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (tracing) {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans.synchronized {
        plans += PlanStats(Clock.fromEpochMs(phases.map(_.endTimeMs).max),
          phases.map(_.durationMs).sum / 1e3)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def resetPeak(): Unit = synchronized { peak = stored }
  def peakBytes: Long = peak
  def jobStats: Seq[JobStats] = jobs.values.asScala.toSeq.sortBy(_.job)
  def planStats: Seq[PlanStats] = plans.synchronized(plans.toList)
}

object Counters {
  def register(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}
