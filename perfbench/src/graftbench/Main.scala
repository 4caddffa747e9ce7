package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Command line, as `run.py` passes it. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      inputs: Path, work: Path, out: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("inputs")), Paths.get(need("work")),
      Paths.get(need("out")))
  }
}

/** Latency/count bookkeeping for one kind of operation. */
final class OpStats {
  val lat = mutable.ArrayBuffer[Double]()       // every completed op, seconds
  val tracedLat = mutable.ArrayBuffer[Double]()
  val untracedLat = mutable.ArrayBuffer[Double]()
}

/** What a workload sees: the session, the inputs, the tracer and the
  * operation accounting. */
final class Ctx(val args: Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val expected: JsonNode = new ObjectMapper().readTree(args.inputs.resolve("expected.json").toFile)
  val tracer = new Tracer
  var spark: SparkSession = _
  var listeners: Listeners = _
  val ops = mutable.LinkedHashMap[String, OpStats]()
  val opSpans = mutable.ArrayBuffer[(Int, String, Boolean, Long, Long)]() // id, kind, traced, t0, t1
  /** Ops that only time single layers on their own (traced runs); they
    * are not workload traffic, so per-op figures leave them out. */
  val extraOps = mutable.Set[Int]()
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  private val opCount = mutable.Map[String, Int]().withDefaultValue(0)
  private var nextOp = 0
  val info = mutable.LinkedHashMap[String, (Double, String)]()  // named figures for the log

  def input(name: String): String = args.inputs.resolve(name).toString
  def dir(name: String): String = {
    val p = args.work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  def startSession(): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    listeners = new Listeners(spark)
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
  }

  /** A failed output check: counts against the current operation. */
  final class CheckFailed(msg: String) extends RuntimeException(msg)
  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Run one operation. With tracing on, every second operation of each
    * kind (or every second `group`, where a workload's operations come in
    * fixed rounds) runs under the span recorder and the Spark listeners,
    * starting with the second; the rest run bare, and the gap between the
    * two is the tracing overhead. An `extra` operation always runs traced.
    * A throw or a failed check counts the operation as failed. */
  def op[T](kind: String, group: Int = -1, extra: Boolean = false)(body: => T): Option[T] = {
    val traced = args.trace && (extra || (if (group >= 0) group else opCount(kind)) % 2 == 1)
    opCount(kind) += 1
    nextOp += 1
    attempted += 1
    val id = nextOp
    if (extra) extraOps += id
    if (traced) {
      listeners.attach()
      tracer.active = true
      tracer.op = id
    }
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.span("bench", "op:" + kind)(body))
      catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          if (failures.size < 20) failures += s"$kind#$id: ${e.toString.linesIterator.next().take(300)}"
          None
      }
    val t1 = System.nanoTime()
    if (traced) {
      tracer.active = false
      tracer.op = -1
      listeners.detach()
    }
    val st = ops.getOrElseUpdate(kind, new OpStats)
    if (res.isDefined) {
      val s = (t1 - t0) / 1e9
      st.lat += s
      (if (traced) st.tracedLat else st.untracedLat) += s
    }
    opSpans += ((id, kind, traced, t0, t1))
    res
  }

  /** A check made after the measured phase (read-backs); a failure
    * counts as one failed operation. */
  def postCheck(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        failures += s"check $what: ${e.toString.linesIterator.next().take(300)}"
    }
  }

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  /** Whether the measured loop goes on after `rounds` whole rounds. A
    * traced run makes at least three: bare, traced, bare, so that the
    * warm-up trend cancels out of the tracing overhead. */
  def more(rounds: Int, deadlineNs: Long): Boolean =
    System.nanoTime() < deadlineNs || (args.trace && rounds < 3)

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }
}

/** A workload: set-up (graft calls made before measuring), the measured
  * loop, the read-back checks and its end-to-end figures. */
trait Workload {
  /** Set-up after session start: the workload's graft set-up calls and a
    * warmup of the code paths it measures. */
  def setup(ctx: Ctx, round: Int): Unit
  /** Run whole rounds of operations until `deadlineNs` (see [[Ctx.more]]). */
  def measure(ctx: Ctx, deadlineNs: Long): Unit
  /** Read-back checks after the measured phase. */
  def check(ctx: Ctx): Unit = ()
  /** Items completed per second of the measured phase. */
  def throughput(ctx: Ctx): Double
  /** The operation kind whose latency is the workload's op latency. */
  def primaryOp: String
  /** The workload's own end-to-end figures under their workload-specific
    * names: (name, value, unit). */
  def named(ctx: Ctx): Seq[(String, Double, String)]
  /** Per-layer figures of this workload (trace runs). */
  def layerMetrics(ctx: Ctx, m: mutable.Map[String, Double]): Unit
}

object Main {
  /** Set-ups per run. Each extra one adds a warm set-up to every run, and
    * a full measurement (4 + 22 runs per workload) must end within 3,420 s. */
  private val Setups = 2

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val wl: Workload = args.workload match {
      case "etl_landing" => new EtlLanding
      case "curation_corpus" => new CurationCorpus
      case "index_serve" => new IndexServe
      case other => sys.error(s"unknown workload $other")
    }
    val ctx = new Ctx(args)
    val code = try run(wl, ctx) finally ctx.stop()
    System.exit(code)
  }

  private def run(wl: Workload, ctx: Ctx): Int = {
    val args = ctx.args
    // set up twice, a cold and a warm JVM; setup_s is their median. The
    // last set-up's state is what gets measured.
    val setupTimes = (1 to Setups).map { r =>
      val t0 = System.nanoTime()
      ctx.startSession()
      wl.setup(ctx, r)
      (System.nanoTime() - t0) / 1e9
    }
    setupTimes.zipWithIndex.foreach { case (t, i) => ctx.info(s"setup_${i + 1}_s") = (t, "s") }
    val mem = new MemSampler
    mem.start()
    val m0 = System.nanoTime()
    wl.measure(ctx, m0 + (args.seconds * 1e9).toLong)
    val measured = (System.nanoTime() - m0) / 1e9
    mem.finish()
    ctx.info("measured_s") = (measured, "s")
    wl.check(ctx)

    val metrics = mutable.LinkedHashMap[String, Double]()
    val units = Metrics.units
    if (!args.trace) {
      val lat = ctx.ops.get(wl.primaryOp).map(_.lat.toSeq).getOrElse(Nil)
      metrics("setup_s") = Stats.median(setupTimes)
      metrics("peak_heap_mb") = mem.peakLiveMb
      metrics("throughput_per_s") = wl.throughput(ctx)
      metrics("op_p50_s") = Stats.median(lat)
      val (p, tail) = Stats.tail(lat)
      metrics("op_tail_s") = tail
      ctx.info("op_samples") = (lat.size.toDouble, "count")
      ctx.info("op_tail_percentile") = (p, "pct")
      val common = Seq(("setup_s", metrics("setup_s"), "s"), ("peak_rss_mb", mem.peakRssMb, "MB"),
        ("peak_heap_mb", mem.peakLiveMb, "MB"),
        ("failed_ratio", ctx.failed.toDouble / math.max(ctx.attempted, 1), "ratio"))
      (common ++ wl.named(ctx)).foreach { case (k, v, u) => println(f"metric $k%-26s $v%.6f $u") }
    } else {
      Metrics.perLayer.foreach(n => metrics(n) = 0.0)
      Metrics.sparkLayer(ctx, metrics)
      Metrics.selfTimes(ctx, metrics)
      wl.layerMetrics(ctx, metrics)
      metrics("tracing_overhead_share") = ctx.ops.get(wl.primaryOp)
        .filter(s => s.tracedLat.nonEmpty && s.untracedLat.nonEmpty)
        .map(s => Stats.median(s.tracedLat.toSeq) / Stats.median(s.untracedLat.toSeq) - 1)
        .getOrElse(0.0)
      Metrics.writeSpans(ctx)
    }
    ctx.info.foreach { case (k, (v, u)) => println(f"info $k%-28s $v%.6f $u") }
    ctx.ops.foreach { case (k, st) => println(s"samples $k " + st.lat.map(x => f"$x%.3f").mkString(" ")) }
    ctx.failures.foreach(f => println(s"FAILED $f"))
    val json = new StringBuilder
    json ++= s"""{"correct": ${ctx.failed == 0}, "attempted": ${math.max(ctx.attempted, 1)}, """
    json ++= s""""failed": ${ctx.failed}, "metrics": {"""
    json ++= metrics.map { case (k, v) =>
      val u = units.getOrElse(k, "count")
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    json ++= "}}"
    Files.writeString(args.out, json.toString)
    if (ctx.failed == 0) 0 else 3
  }
}

/** Memory high-water marks over the measured phase: the process's
  * resident set (VmRSS, sampled from /proc/self/status) and the live
  * heap, i.e. heap in use right after each garbage collection. */
final class MemSampler extends Thread("mem-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var peakKb = 0L
  @volatile private var liveBytes = 0L
  private val gcListener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum
        liveBytes = math.max(liveBytes, after)
      }
  }
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  private def rssKb(): Long = {
    val it = scala.io.Source.fromFile("/proc/self/status")
    try it.getLines().find(_.startsWith("VmRSS:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally it.close()
  }
  override def start(): Unit = {
    beans.foreach(_.addNotificationListener(gcListener, null, null))
    super.start()
  }
  override def run(): Unit = while (running) {
    peakKb = math.max(peakKb, rssKb())
    Thread.sleep(20)
  }
  def finish(): Unit = {
    running = false
    join()
    peakKb = math.max(peakKb, rssKb())
    beans.foreach(b => scala.util.Try(b.removeNotificationListener(gcListener)))
    // the live set at the end counts too, should no collection have run
    System.gc()
    liveBytes = math.max(liveBytes,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakRssMb: Double = peakKb / 1024.0
  def peakLiveMb: Double = liveBytes / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** The tail: the highest whole percentile that leaves at least ten
    * samples above it. Where that percentile would fall below the
    * median (fewer than 20 samples), the maximum instead. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val p = if (n == 0) 100.0 else math.floor(100.0 * (n - 10) / n)
    if (p < 50) (100.0, if (xs.isEmpty) 0.0 else xs.max) else (p, pct(xs, p))
  }
}
