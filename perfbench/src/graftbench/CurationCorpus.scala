package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.Exprs
import graft.operators.{Corpus, Dedup, Pipeline, Similarity, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** curation_corpus: the LLM-data path. One client, closed loop. Each
  * pass runs `Pipeline.curationRecipe` over the generated corpus (planted
  * re-crawls, near-duplicates, boilerplate, low-quality docs, eval
  * copies) and `Similarity.semanticDedup` over the generated vectors
  * (planted near-duplicate clusters). The operation is one pass. A
  * traced run also times each recipe stage's public operator and the
  * text kernels on their own over the same corpus. */
final class CurationCorpus extends Workload {
  private var docs: DataFrame = _
  private var evalRef: DataFrame = _
  private var vecs: DataFrame = _
  private var passes = 0
  private var passNs = 0L
  private var recipeNs = 0L
  private var dedupNs = 0L
  private var digest: Option[String] = None
  private var keptRatio = 0.0
  private var dupPairs = 0.0

  def primaryOp: String = "pass"

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType))))

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def setup(ctx: Ctx, round: Int): Unit = {
    load(ctx)
    Pipeline.curationRecipe(docs, maxPerDomain = maxPerDomain(ctx), evalRef = Some(evalRef)).collect()
    Similarity.semanticDedup(vecs, tau = 0.9).collect()
  }

  private def load(ctx: Ctx): Unit = {
    val spark = ctx.spark
    docs = spark.read.schema(docSchema).json(ctx.input("docs.ndjson")).localCheckpoint()
    evalRef = spark.read.schema(docSchema).json(ctx.input("eval.ndjson")).localCheckpoint()
    vecs = spark.read.schema(vecSchema).json(ctx.input("vectors.ndjson")).localCheckpoint()
  }

  private def maxPerDomain(ctx: Ctx): Int = ctx.expected.get("max_per_domain").asInt()

  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    var rounds = 0
    do {
      val t0 = System.nanoTime()
      if (ctx.op("pass", rounds)(pass(ctx)).isDefined) {
        passNs += System.nanoTime() - t0
        passes += 1
      }
      rounds += 1
    } while (ctx.more(rounds, deadlineNs))
    if (ctx.args.trace) ctx.op("stages", extra = true)(stages(ctx))
  }

  private def pass(ctx: Ctx): Unit = {
    val exp = ctx.expected
    val n = exp.get("n_docs").asInt()
    val t0 = System.nanoTime()
    val rows = ctx.span("operators.curation", "recipe") {
      Pipeline.curationRecipe(docs, maxPerDomain = maxPerDomain(ctx), evalRef = Some(evalRef))
        .select("doc_id", "verdict", "kept_by").collect()
    }
    recipeNs += System.nanoTime() - t0
    val verdict = rows.map(r => r.getLong(0) -> (r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    ctx.check(rows.length == n && verdict.size == n && verdict.keySet == (0L until n).toSet,
      s"recipe returned ${rows.length} rows for ${verdict.size} docs, corpus has $n")
    exp.get("recrawls").elements().asScala.foreach { p =>
      val (dup, orig) = (p.get(0).asLong(), p.get(1).asLong())
      ctx.check(verdict(dup) == ("dup_exact", orig), s"re-crawl $dup of $orig came out ${verdict(dup)}")
    }
    exp.get("eval_copies").elements().asScala.foreach { e =>
      ctx.check(verdict(e.asLong())._1 == "contaminated", s"eval copy ${e.asLong()} came out ${verdict(e.asLong())}")
    }
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(verdict.toSeq.sortBy(_._1).mkString(";").getBytes("UTF-8")).map("%02x".format(_)).mkString
    ctx.check(digest.forall(_ == d), "recipe verdicts differ from the first pass of this run")
    digest = Some(d)
    keptRatio = verdict.values.count(_._1 == "kept").toDouble / n

    val t1 = System.nanoTime()
    val dd = ctx.span("operators.similarity", "semantic_dedup") {
      Similarity.semanticDedup(vecs, tau = 0.9).select("vec_id", "keep", "dup_of").collect()
    }
    dedupNs += System.nanoTime() - t1
    val nVec = exp.get("n_vectors").asInt()
    ctx.check(dd.length == nVec, s"semantic dedup returned ${dd.length} rows for $nVec vectors")
    val dropped = dd.filter(_.getInt(1) == 0).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val planted = exp.get("vec_clusters").elements().asScala.flatMap { c =>
      val ms = c.elements().asScala.map(_.asLong()).toSeq
      ms.tail.map(_ -> ms.head)
    }.toMap
    ctx.check(dropped == planted,
      s"semantic dedup dropped ${dropped.size} vectors, planted ${planted.size} cluster copies")
    dupPairs = dropped.size
  }

  /** Each recipe stage's public operator, and the text kernels, timed on
    * their own over the same corpus (traced runs only). */
  private def stages(ctx: Ctx): Unit = {
    def c[T](name: String)(body: => T): T = ctx.span("operators.curation", name)(body)
    c("dedup_exact") {
      noop(TextOps.fingerprint(docs).groupBy("fingerprint").agg(min(col("doc_id")).as("kept_by")))
    }
    c("line_correct") { noop(Dedup.lineCorrect(docs)) }
    c("quality_score") { noop(TextOps.qualityScore(docs)) }
    c("dedup_clusters") { noop(Dedup.dedupClusters(docs)) }
    c("domain_quota") { noop(Corpus.domainQuota(docs, maxPerDomain(ctx))) }
    c("heuristic_filter") { noop(TextOps.heuristicFilter(docs, minWords = 20, minStopwords = 1)) }
    c("perplexity_filter") { noop(Corpus.perplexityFilter(docs, "src0")) }
    c("decontaminate") {
      noop(TextOps.decontaminate(docs, evalRef))
      noop(Dedup.decontaminateNgram(docs, evalRef))
    }
    ctx.span("operators.similarity", "train_centroids") { Similarity.trainedCentroids(vecs) }
    val toks = split(col("text"), " ")
    def k(name: String)(c: org.apache.spark.sql.Column) =
      ctx.span("functions", name) { noop(docs.select(c.as("k"))) }
    k("minhash")(Exprs.minhashSig(Exprs.shingles(toks, 3), 16))
    k("simhash")(Exprs.simhash64(toks))
    k("token_signs")(Exprs.tokenSigns(toks, 64))
  }

  def named(ctx: Ctx): Seq[(String, Double, String)] = {
    val e = ctx.expected
    Seq(("curate_docs_per_s", if (recipeNs > 0) e.get("n_docs").asLong() * passes / (recipeNs / 1e9) else 0.0,
      "docs/s"),
      ("semdedup_vecs_per_s", if (dedupNs > 0) e.get("n_vectors").asLong() * passes / (dedupNs / 1e9) else 0.0,
        "vectors/s"))
  }

  def throughput(ctx: Ctx): Double =
    if (passNs > 0) ctx.expected.get("n_docs").asLong() * passes / (passNs / 1e9) else 0.0

  def layerMetrics(ctx: Ctx, m: mutable.Map[String, Double]): Unit = {
    Seq("recipe", "dedup_exact", "line_correct", "quality_score", "dedup_clusters", "domain_quota",
      "heuristic_filter", "perplexity_filter", "decontaminate")
      .foreach(n => m(s"curation.${n}_s") = Metrics.spanS(ctx, "operators.curation", n))
    m("curation.kept_ratio") = keptRatio
    m("similarity.train_centroids_s") = Metrics.spanS(ctx, "operators.similarity", "train_centroids")
    m("similarity.semantic_dedup_s") = Metrics.spanS(ctx, "operators.similarity", "semantic_dedup")
    m("similarity.dup_pairs") = dupPairs
    Seq("minhash", "simhash", "token_signs")
      .foreach(n => m(s"functions.${n}_s") = Metrics.spanS(ctx, "functions", n))
  }
}
