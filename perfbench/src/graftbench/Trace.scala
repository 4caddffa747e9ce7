package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are `System.nanoTime`; the clock
  * maps them onto epoch milliseconds so Spark's job events (epoch ms)
  * can be placed inside them. `op` is the operation the span belongs
  * to (-1 outside any operation). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and read when the run ends.
  * The benchmark calls `span` around each call into a layer; with
  * tracing off `span` only runs its body. Single client thread. */
final class Tracer {
  @volatile var active = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()

  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, layer, name, op, t0, t1)
      }
    }

  def nsOfEpochMs(ms: Double): Long = baseNs + ((ms - baseMs) * 1e6).toLong

  def all: Seq[Span] = spans.toSeq

  /** Self time of every span: its duration minus the part of it that
    * its children cover. */
  def selfTimes: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Intervals.union(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).toSeq)
      s.id -> ((s.endNs - s.startNs) - covered) / 1e9
    }.toMap
  }
}

object Intervals {
  /** Total length of the union of (start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-job record: wall interval (epoch ms) and summed task metrics. */
final class JobRec(val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** The `spark` layer: jobs, stages and tasks as the engine reports them.
  * Registered only by the benchmark, only while tracing. */
final class SparkCounters extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val rec = new JobRec(e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized { r.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          r.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  def all: Seq[JobRec] = jobs.values().asScala.toSeq
}

/** Counts the SQL actions the engine finished (QueryExecutionListener). */
final class ActionCounter extends QueryExecutionListener {
  val actions = new java.util.concurrent.atomic.AtomicLong()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    actions.incrementAndGet()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    actions.incrementAndGet()
}

/** The listeners a traced operation runs under. Attached before the
  * operation, drained and detached after it, so untraced operations
  * pay nothing. */
final class Listeners(spark: SparkSession) {
  val counters = new SparkCounters
  val actions = new ActionCounter
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(actions)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(actions)
    attached = false
  }
}
