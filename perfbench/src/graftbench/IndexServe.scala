package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.Exprs
import graft.operators.{Retrieval, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** index_serve: small-query latency over persisted indexes. One client,
  * closed loop. Set-up builds the BM25 index (`Retrieval.writeBm25Index`)
  * and the ANN index (`Similarity.writeAnnIndex`) over the generated
  * corpus embedded with `TextOps.embedFrame`. Each step reads both
  * artifacts and serves one batch of hybrid queries through
  * `Retrieval.rrfFusionServed`. Steps run in cycles: append an intake
  * batch to both indexes, then `ServesPerAppend` serves, so the first
  * read of each cycle misses the artifact cache and the next one hits.
  * The operation latency is per served batch. */
final class IndexServe extends Workload {
  private val ServesPerAppend = 4
  private val K = 5
  private var dir: String = _
  private var store: DataFrame = _
  private var nDocs = 0L
  private var queries: Map[Int, Seq[(Long, String)]] = Map.empty
  private var intake: Map[Int, Seq[Row]] = Map.empty
  private var nextIntake = 0
  private var served = 0L
  private var wallNs = 0L
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def primaryOp: String = "serve"

  def setup(ctx: Ctx, round: Int): Unit = {
    val spark = ctx.spark
    if (queries.isEmpty) {
      queries = spark.read.json(ctx.input("queries.ndjson")).collect().toSeq
        .map(r => (r.getAs[Long]("batch").toInt, (r.getAs[Long]("query_id"), r.getAs[String]("text"))))
        .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2) }
      intake = spark.read.schema(docSchema.add("batch", LongType)).json(ctx.input("intake.ndjson"))
        .collect().toSeq.groupBy(_.getAs[Long]("batch").toInt)
    }
    dir = ctx.dir(s"serve-$round")
    val docs = spark.read.schema(docSchema).json(ctx.input("docs.ndjson")).localCheckpoint()
    Retrieval.writeBm25Index(docs, s"$dir/bm25")
    store = TextOps.embedFrame(docs).localCheckpoint()
    Similarity.writeAnnIndex(store, s"$dir/ann")
    nDocs = ctx.expected.get("n_docs").asLong()
    nextIntake = 0
    // warm the append path, and the serve path with the read after an append
    append(ctx)
    serve(ctx, 0)
  }

  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    var cycle = 0
    do {
      val t0 = System.nanoTime()
      ctx.op("append", cycle)(append(ctx))
      (1 to ServesPerAppend).foreach { i =>
        val step = cycle * ServesPerAppend + i
        if (ctx.op("serve", cycle)(serve(ctx, step)).isDefined) served += queries(step % queries.size).size
      }
      wallNs += System.nanoTime() - t0
      cycle += 1
    } while (ctx.more(cycle, deadlineNs))
    if (ctx.args.trace) ctx.op("kernels", extra = true)(kernels(ctx))
  }

  private def serve(ctx: Ctx, step: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val bm = ctx.span("operators.retrieval", "read_bm25") { Retrieval.readBm25Index(spark, s"$dir/bm25") }
    val ann = ctx.span("operators.retrieval", "read_ann") { Similarity.readAnnIndex(spark, s"$dir/ann") }
    ctx.check(bm.nDocs == nDocs && ann.nCodes == nDocs,
      s"indexes hold ${bm.nDocs} docs / ${ann.nCodes} codes, expected $nDocs")
    val batch = queries(step % queries.size)
    val q = batch.toDF("query_id", "text")
    val rows = ctx.span("operators.retrieval", "fusion_serve") {
      Retrieval.rrfFusionServed(bm, ann, store, q, k = K,
        semQueries = Some(TextOps.embedFrame(q.withColumnRenamed("query_id", "doc_id"))),
        knownCorpusDim = Some(64))
        .select("query_id", "doc_id", "rank").collect()
    }
    val byQuery = rows.groupBy(_.getLong(0))
    ctx.check(batch.forall(b => byQuery.get(b._1).exists(_.length == K)),
      s"a query of batch $step did not return $K rows")
    val exact = ctx.expected.get("exact_queries")
    batch.map(_._1).filter(id => exact.has(id.toString)).foreach { id =>
      val top = byQuery(id).find(_.getInt(2) == 1).map(_.getLong(1))
      val want = exact.get(id.toString).asLong()
      ctx.check(top.contains(want), s"exact-match query $id ranked ${top.getOrElse(-1)} first, not $want")
    }
  }

  private def append(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rows = intake(nextIntake % intake.size)
    nextIntake += 1
    val b = spark.createDataFrame(rows.asJava, docSchema.add("batch", LongType))
      .drop("batch").localCheckpoint()
    val h = ctx.span("operators.retrieval", "append_bm25") {
      Retrieval.appendBm25Index(spark, b, s"$dir/bm25")
    }
    val emb = TextOps.embedFrame(b).localCheckpoint()
    val ha = ctx.span("operators.retrieval", "append_ann") {
      Similarity.appendAnnIndex(spark, emb, s"$dir/ann")
    }
    nDocs += rows.size
    ctx.check(h.exists(_.nDocs == nDocs) && ha.exists(_.nCodes == nDocs),
      s"append left ${h.map(_.nDocs)} docs / ${ha.map(_.nCodes)} codes, expected $nDocs")
    store = store.unionByName(emb).localCheckpoint()
  }

  /** The two vector kernels over the corpus vectors, with the index's
    * own quantizers as constants (traced runs only). */
  private def kernels(ctx: Ctx): Unit = {
    val idx = Similarity.readAnnIndex(ctx.spark, s"$dir/ann")
    def dotArr(a: Array[Double], b: Array[Double]) = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val cents = idx.cents.sortBy(_._1)
    val ids = cents.map(_._1)
    val cv = cents.map(_._2)
    val norms = cv.map(c => math.sqrt(dotArr(c, c)))
    val book = idx.book.sortBy(b => (b._1, b._2))
    val ccf = if (!idx.residual) Array.empty[Array[Double]]
      else cv.map(c => book.map { case (s, _, cb) => dotArr(c.slice(s * idx.dsub, (s + 1) * idx.dsub), cb) })
    val v = col("embedding").cast("array<double>")
    def noop(name: String)(c: org.apache.spark.sql.Column): Unit = ctx.span("functions", name) {
      store.select(c.as("k")).write.mode("overwrite").format("noop").save()
    }
    noop("cell_argmax")(Exprs.cellArgmax(v, ids, cv, norms))
    noop("pq_encode")(Exprs.pqEncodeVec(v, ids, cv, norms, cv.map(c => dotArr(c, c)),
      book.map(_._3), book.map(b => dotArr(b._3, b._3)), ccf,
      idx.m, idx.ks, idx.dsub, idx.residual, withError = false))
  }

  def named(ctx: Ctx): Seq[(String, Double, String)] = {
    val lat = ctx.ops.get("serve").map(_.lat.toSeq).getOrElse(Nil)
    Seq(("serve_p50_s", Stats.median(lat), "s"), ("serve_tail_s", Stats.tail(lat)._2, "s"),
      ("append_p50_s", Stats.median(ctx.ops.get("append").map(_.lat.toSeq).getOrElse(Nil)), "s"))
  }

  def throughput(ctx: Ctx): Double = if (wallNs > 0) served / (wallNs / 1e9) else 0.0

  def layerMetrics(ctx: Ctx, m: mutable.Map[String, Double]): Unit = {
    def s(n: String) = Metrics.spanS(ctx, "operators.retrieval", n)
    m("retrieval.read_bm25_s") = s("read_bm25")
    m("retrieval.read_ann_s") = s("read_ann")
    val reads = Metrics.spanJobCounts(ctx, "operators.retrieval", "read_bm25") ++
      Metrics.spanJobCounts(ctx, "operators.retrieval", "read_ann")
    m("retrieval.read_jobs") = if (reads.isEmpty) 0.0 else reads.sum.toDouble / reads.size
    m("retrieval.cache_hit_ratio") = if (reads.isEmpty) 0.0 else reads.count(_ == 0).toDouble / reads.size
    m("retrieval.fusion_serve_s") = s("fusion_serve")
    m("retrieval.serve_jobs") = Metrics.spanJobs(ctx, "operators.retrieval", "fusion_serve")
    m("retrieval.append_bm25_s") = s("append_bm25")
    m("retrieval.append_ann_s") = s("append_ann")
    m("functions.cell_argmax_s") = Metrics.spanS(ctx, "functions", "cell_argmax")
    m("functions.pq_encode_s") = Metrics.spanS(ctx, "functions", "pq_encode")
  }
}
