package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Analytics, Etl}
import graft.sources.{Ingest, RunReport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** etl_landing: the paper's own traffic. One client, closed loop. Each
  * round lands the generated day of small NDJSON files: list, route
  * (`Etl.validate`), batch (`Etl.manifestBatches`), write manifests, then
  * per manifest read (schema inference) -> cast to string ->
  * `RunReport.reportedWrite` to date-partitioned Parquet; invalid files
  * go through `Ingest.quarantineWrite`; then the four report reads.
  * Rounds repeat, each into fresh output directories, until the
  * measured time is up. The operation latency is per manifest. */
final class EtlLanding extends Workload {
  private final case class FileRec(docId: Long, date: String, bytes: Long, path: String,
                                   ext: String, rows: Long)
  private final case class Round(dir: String, manifests: Int)

  private val rounds = mutable.ArrayBuffer[Round]()
  private var filesLanded = 0L
  private var landingNs = 0L
  private var landing: Path = _
  private var rowsByName: Map[String, Long] = Map.empty

  private val baseSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", StringType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StructType(Seq(StructField("k", LongType)))),
    StructField("event_date", StringType)))

  def primaryOp: String = "manifest"

  private def load(ctx: Ctx): Unit = if (rowsByName.isEmpty) {
    landing = Paths.get(ctx.input("landing")).toAbsolutePath
    rowsByName = ctx.expected.get("files").elements().asScala
      .map(f => f.get("name").asText() -> f.get("rows").asLong()).toMap
  }

  /** The landing-zone listing (the reference lists its bucket prefix). */
  private def listFiles(): Seq[FileRec] = {
    val s = Files.walk(landing)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(landing.relativize(_).toString)
      .toSeq.sorted.zipWithIndex.map { case (rel, i) =>
        val p = landing.resolve(rel)
        FileRec(i.toLong, rel.takeWhile(_ != '/'), Files.size(p), p.toString,
          rel.substring(rel.lastIndexOf('.') + 1), rowsByName(rel))
      }
    finally s.close()
  }

  def setup(ctx: Ctx, round: Int): Unit = {
    load(ctx)
    land(ctx, ctx.dir(s"warm-$round"), measured = false, maxManifests = 2)
  }

  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    var r = 0
    do {
      land(ctx, ctx.dir(s"rounds/r$r"), measured = true, maxManifests = Int.MaxValue)
      r += 1
    } while (ctx.more(r, deadlineNs))
  }

  private def run[T](ctx: Ctx, measured: Boolean, kind: String)(body: => T): Option[T] =
    if (measured) ctx.op(kind)(body) else Some(body)

  private def land(ctx: Ctx, dir: String, measured: Boolean, maxManifests: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val exp = ctx.expected
    val expectedInvalid = exp.get("invalid").elements().asScala.map(_.asText()).toSet
    val reports = s"$dir/reports"
    val t0 = System.nanoTime()

    val plan = run(ctx, measured, "route") {
      val listing = ctx.span("bench", "list") { listFiles() }
      val df = listing.map(f => (f.docId, f.date, f.bytes, f.ext)).toDF("doc_id", "lang", "n_chars", "ext")
      val routed = ctx.span("operators.etl", "validate") {
        Etl.validate(df, exp.get("expected_bytes").asDouble(), exp.get("tolerance_pct").asDouble())
          .withColumn("status",
            when(col("ext").isin("ndjson", "json"), col("status")).otherwise(lit("quarantined")))
          .select("doc_id", "status").collect()
      }
      val bad = routed.filter(_.getString(1) != "valid").map(_.getLong(0)).toSet
      val byId = listing.map(f => f.docId -> f).toMap
      val invalid = bad.toSeq.sorted.map(byId)
      ctx.check(invalid.map(f => landing.relativize(Paths.get(f.path)).toString).toSet == expectedInvalid,
        s"routing quarantined ${invalid.size} files, planted ${expectedInvalid.size}")
      val valid = listing.filterNot(f => bad(f.docId))
      val validDf = valid.map(f => (f.docId, f.date, f.bytes)).toDF("doc_id", "lang", "n_chars")
      val batches = ctx.span("operators.etl", "manifest_batches") {
        Etl.manifestBatches(validDf, 10).collect()
      }
      val byDate = valid.groupBy(_.date)
      val manifests = ctx.span("sources", "write_manifests") {
        batches.toSeq.sortBy(b => (b.getString(0), b.getInt(1))).map { b =>
          val (date, id, lo, hi) = (b.getString(0), b.getInt(1), b.getLong(3), b.getLong(4))
          val members = byDate(date).filter(f => f.docId >= lo && f.docId <= hi)
          ctx.check(members.size == b.getLong(2), s"batch $date/$id lists ${b.getLong(2)} files")
          (Ingest.writeManifests(members.map(_.path), s"$dir/manifests/$date-$id", 10).head,
            members.map(_.rows).sum, members.size)
        }
      }
      (manifests, invalid)
    }

    plan.foreach { case (manifests, invalid) =>
      val todo = manifests.take(maxManifests)
      todo.zipWithIndex.foreach { case ((m, rows, _), i) =>
        run(ctx, measured, "manifest") {
          val df = ctx.span("sources", "read_ndjson") { Ingest.readNdjsonManifest(ctx.spark, m) }
          val str = ctx.span("sources", "cast_all_to_string") { Ingest.castAllToString(df) }
          val r = ctx.span("sources", "reported_write") {
            RunReport.reportedWrite(str, s"$dir/landed", 1, "landing", reports,
              partitionCol = Some("event_date"), runId = Some(s"landing-$i"))
          }
          ctx.check(r.status == "SUCCESS" && r.records_processed == rows,
            s"manifest $i reported ${r.records_processed} rows, expected $rows")
        }
      }
      run(ctx, measured, "quarantine") {
        val r = ctx.span("sources", "quarantine_write") {
          Ingest.quarantineWrite(
            Ingest.readNdjson(ctx.spark, invalid.map(_.path), Some(baseSchema)),
            s"$dir/quarantine", reports, reason = "invalid_file", runId = Some("quarantine"))
        }
        val want = invalid.map(_.rows).sum
        ctx.check(r.records_processed == want, s"quarantine reported ${r.records_processed}, expected $want")
      }
      if (measured) {
        landingNs += System.nanoTime() - t0
        filesLanded += todo.map(_._3).sum + invalid.size
      }
      run(ctx, measured, "report") {
        val events = ctx.span("sources", "read_reports") {
          RunReport.asEventLog(RunReport.readReports(ctx.spark, reports))
        }
        val daily = ctx.span("operators.etl", "daily_summary") { Analytics.dailySummary(events).collect() }
        ctx.span("operators.etl", "failed_events") { Analytics.failedEvents(events).collect() }
        ctx.span("operators.etl", "duration_stats") { Analytics.durationStats(events).collect() }
        ctx.span("operators.etl", "correlation_join") { Analytics.correlationJoin(events).collect() }
        val runs = daily.map(_.getAs[Long]("n_events")).sum
        val errors = daily.map(_.getAs[Long]("n_errors")).sum
        ctx.check(runs == todo.size + 1 && errors == 0,
          s"daily summary counts $runs runs / $errors errors, expected ${todo.size + 1} / 0")
      }
      if (measured) rounds += Round(dir, todo.size)
    }
  }

  def named(ctx: Ctx): Seq[(String, Double, String)] = {
    val lat = ctx.ops.get("manifest").map(_.lat.toSeq).getOrElse(Nil)
    Seq(("etl_files_per_s", throughput(ctx), "files/s"),
      ("etl_manifest_p50_s", Stats.median(lat), "s"),
      ("etl_manifest_tail_s", Stats.tail(lat)._2, "s"),
      ("etl_report_s", Stats.median(ctx.ops.get("report").map(_.lat.toSeq).getOrElse(Nil)), "s"))
  }

  def throughput(ctx: Ctx): Double = if (landingNs > 0) filesLanded / (landingNs / 1e9) else 0.0

  /** Read back what each round landed. */
  override def check(ctx: Ctx): Unit = {
    val exp = ctx.expected
    val valid = exp.get("valid").elements().asScala.map(_.asText()).toSet
    val invalid = exp.get("invalid").elements().asScala.map(_.asText()).toSet
    val perDate = exp.get("per_date_rows").fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    def rel(uri: String): String = landing.relativize(Paths.get(new java.net.URI(uri).getPath)).toString
    rounds.foreach { r =>
      ctx.postCheck(s"landed ${r.dir}") {
        val landed = ctx.spark.read.option("mergeSchema", "true")
          .option("basePath", s"${r.dir}/landed").parquet(s"${r.dir}/landed")
        val nonString = landed.schema.fields.filter(f => f.name != "event_date" && f.dataType != StringType)
        ctx.check(nonString.isEmpty, s"landed columns not string: ${nonString.map(_.name).mkString(",")}")
        val counts = landed.groupBy(col("event_date").cast("string")).count().collect()
          .map(x => x.getString(0) -> x.getLong(1)).toMap
        ctx.check(counts == perDate, s"landed rows per date $counts, generated $perDate")
        val sources = landed.select("_source_file").distinct().collect().map(x => rel(x.getString(0))).toSet
        ctx.check(sources == valid, s"landed ${sources.size} source files, ${valid.size} valid planted")
        val q = ctx.spark.read.parquet(s"${r.dir}/quarantine").select("_source_file").distinct()
          .collect().map(x => rel(x.getString(0))).toSet
        ctx.check(q == invalid, s"quarantined ${q.size} files, planted ${invalid.size}")
      }
    }
  }

  def layerMetrics(ctx: Ctx, m: mutable.Map[String, Double]): Unit = {
    def s(l: String, n: String) = Metrics.spanS(ctx, l, n)
    m("sources.read_ndjson_s") = s("sources", "read_ndjson")
    m("sources.read_ndjson_jobs") = Metrics.spanJobs(ctx, "sources", "read_ndjson")
    m("sources.reported_write_s") = s("sources", "reported_write")
    m("sources.reported_write_jobs") = Metrics.spanJobs(ctx, "sources", "reported_write")
    m("sources.quarantine_write_s") = s("sources", "quarantine_write")
    m("sources.read_reports_s") = s("sources", "read_reports")
    Seq("validate", "manifest_batches", "daily_summary", "failed_events", "duration_stats",
      "correlation_join").foreach(n => m(s"etl.${n}_s") = s("operators.etl", n))
    rounds.headOption.foreach { r =>
      val (nFiles, bytes) = dataFiles(Paths.get(s"${r.dir}/landed"))
      val ndjson = ctx.expected.get("valid").elements().asScala
        .map(v => Files.size(landing.resolve(v.asText()))).sum
      m("sources.write_amp") = bytes.toDouble / ndjson
      m("sources.output_files_per_manifest") = nFiles.toDouble / r.manifests
    }
  }

  private def dataFiles(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }
}
