package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.sources.Tables

/** A training-data curation batch over 5,000 generated documents plus
  * seeded planted near-duplicate pairs and exact copies. Each pass runs
  * five operators with the cache cleared first; MinHash pairs are
  * collected (the pair list is what a curator reads), the other four
  * outputs go to the `noop` sink.
  */
final class Curate(ctx: Ctx) extends Workload {
  import Curate._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val docsPath = ctx.path("documents.parquet")

  private var texts: Map[Long, String] = Map.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var nDocs = 0L
  private val pairsSeen = ArrayBuffer.empty[(StepRec, Seq[(Long, Long, Double)])]
  private var bucketDrop = 0.0
  private var observations = 0

  def generate(): Unit = {
    val basePath = ctx.baseFile(s"documents-$Docs.parquet")(documents)
    base = spark.read.parquet(basePath)
    baseTexts = base.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  private var base: DataFrame = _
  private var baseTexts: Map[Long, String] = Map.empty

  private def documents: DataFrame = {
    val id = col("id")
    def h(k: Int) = pmod(xxhash64(id, lit(k)), lit(1000000L)).cast("double") / 1e6
    val vocab = array(Vocab.map(lit): _*)
    val n = (floor(h(1) * 93) + 8).cast("int")
    spark.range(0, Docs, 1, ctx.cores).select(
      id.as("doc_id"),
      array_join(transform(sequence(lit(1), n), i =>
        element_at(vocab, (pmod(xxhash64(id, i), lit(Vocab.length.toLong)) + 1).cast("int"))), " ").as("text"),
      element_at(array(Seq("en", "en", "de", "fr", "es", "zh").map(lit): _*),
        (h(2) * 6).cast("int") + 1).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Fixture: the batch's input, ingested the way a curator receives a
    * crawl. The base documents and the seeded plants are dropped as JSON
    * lines, which graft's sources layer opens (`Tables.open`, with schema
    * inference) and which are written as the batch's parquet input.
    * Near-duplicates differ from their source in one word of at least
    * 40; exact copies are verbatim.
    */
  def setUp(rep: Int): Unit = {
    val r = new scala.util.Random(ctx.seed)
    val long = baseTexts.filter(_._2.split(" ").length >= 40).keys.toSeq.sorted
    val sources = r.shuffle(long).take(NearPairs + ExactCopies)
    val near = sources.take(NearPairs).zipWithIndex.map { case (src, i) =>
      val words = baseTexts(src).split(" ")
      val at = r.nextInt(words.length)
      words(at) = Vocab.filterNot(_ == words(at))(r.nextInt(Vocab.length - 1))
      (NearBase + i, src, words.mkString(" "))
    }
    val exact = sources.drop(NearPairs).zipWithIndex.map { case (src, i) =>
      (ExactBase + i, src, baseTexts(src))
    }
    planted = near.map(p => (p._2, p._1))
    val plants = spark.createDataFrame((near ++ exact).map { case (i, _, t) => (i, t) })
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("planted").as("source"),
        length(col("text")).cast("long").as("n_chars"))
    val crawl = ctx.path(s"crawl$rep.jsonl")
    base.unionByName(plants).write.mode("overwrite").json(crawl)
    Tables.open(spark, crawl).repartition(1).write.mode("overwrite").parquet(docsPath)
    texts = baseTexts ++ (near ++ exact).map { case (i, _, t) => i -> t }
    nDocs = texts.size.toLong
  }

  private def docs: DataFrame = spark.read.parquet(docsPath)

  private def noop(s: StepRec, df: DataFrame): Unit = {
    observations += 1
    val obs = Observation(s"rows-$observations")
    tr.span("curate", "write_noop")(
      df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save())
    s.rows = obs.get("n").asInstanceOf[Long]
  }

  private def pass(input: => DataFrame): Unit = {
    spark.catalog.clearCache()
    tr.step("minhash_lsh", "curate") { s =>
      val df = tr.span("curate", "minhashLsh")(
        Dedup.minhashLsh(input, "doc_id", "text", onStats = st => bucketDrop = st.dropFraction))
      val rows = tr.span("curate", "collect")(df.collect().toSeq)
      s.rows = rows.length
      pairsSeen += ((s, rows.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))))
    }
    tr.step("exact", "curate")(s => noop(s, tr.span("curate", "exact")(Dedup.exact(input, "doc_id", "text"))))
    tr.step("quality_filter", "curate")(s =>
      noop(s, tr.span("curate", "qualityFilter")(Curation.qualityFilter(input, "doc_id", "text"))))
    tr.step("tfidf_keywords", "curate")(s =>
      noop(s, tr.span("curate", "tfidfKeywords")(TextAnalysis.tfidfKeywords(input, "doc_id", "text"))))
    tr.step("substring_dup_spans", "curate")(s =>
      noop(s, tr.span("curate", "substringDupSpans")(Dedup.substringDupSpans(input, "doc_id", "text"))))
  }

  /** None: a curation batch runs as a fresh job, so the JIT and code
    * generation its first pass pays are part of what its user waits for
    * (a warm-up pass on 500 documents costs more than a cold pass on the
    * whole batch, so it would not fit the run either).
    */
  def warmUp(): Unit = ()

  def runUnit(unit: Int): Unit = pass(docs)

  // ---- output checks ------------------------------------------------------

  private def shingles(t: String): Set[String] =
    t.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(texts(a)), shingles(texts(b)))
    (x & y).size.toDouble / (x | y).size
  }

  private var recall = 0.0

  def check(): Seq[Check] = {
    var found = 0L
    pairsSeen.foreach { case (s, pairs) =>
      val got = pairs.map(p => (p._1, p._2)).toSet
      val missed = planted.filterNot(p => got.contains((math.min(p._1, p._2), math.max(p._1, p._2))))
      found += planted.length - missed.length
      if (missed.nonEmpty) s.fail(s"${missed.length} planted pairs not found, e.g. ${missed.head}")
      pairs.find(p => jaccard(p._1, p._2) < Threshold - 1e-9).foreach(p =>
        s.fail(s"pair $p has recomputed Jaccard ${jaccard(p._1, p._2)} < $Threshold"))
    }
    recall = found.toDouble / math.max(1, planted.length * pairsSeen.length)
    Seq.empty
  }

  // ---- metrics ------------------------------------------------------------

  private def passMs(steps: Seq[StepRec]): Seq[Double] =
    steps.groupBy(_.unit).values.map(_.map(_.ms).sum).toSeq

  def named(): Seq[Metric] = {
    val passes = passMs(tr.steps.toSeq)
    Seq(
      Metric("curate_docs_per_s", nDocs * passes.length / (passes.sum / 1000), "docs/s", passes.length.toLong),
      Metric("curate_pass_p50_ms", Stats.median(passes), "ms", passes.length.toLong))
  }

  def layers(): Map[String, Double] = {
    val st = tr.steps.filter(_.traced).toSeq
    Ops.map(op => s"curate.stage_ms.$op" -> Stats.median(st.filter(_.kind == op).map(_.ms))).toMap ++ Map(
      "dedup.output_pairs" -> Stats.mean(pairsSeen.map(_._2.length.toDouble).toSeq),
      "dedup.bucket_drop_fraction" -> bucketDrop,
      "dedup.planted_recall" -> recall)
  }
}

object Curate {
  val Docs = 5000L
  val NearPairs = 25
  val ExactCopies = 10
  val NearBase = 1000000L
  val ExactBase = 2000000L
  val Threshold = 0.8
  val Ops = Seq("minhash_lsh", "exact", "quality_filter", "tfidf_keywords", "substring_dup_spans")
  val Vocab: Seq[String] = Seq("spark", "table", "query", "scan", "filter", "join", "group",
    "sort", "hash", "key", "value", "row", "column", "data", "stream", "batch", "window",
    "agg", "merge", "part", "line", "order", "customer", "vector", "index", "page", "file",
    "schema", "type", "cache", "plan", "stage", "task", "shuffle", "spill", "fast", "slow",
    "big", "small", "the", "a", "of", "to", "and", "in", "is", "for", "on", "with", "by")
}
