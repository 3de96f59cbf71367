package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.query.{PageRequest, Paginator, QueryEngine, SortSpec}

/** Editor sessions on a 150k-row lineitem-shaped parquet file through
  * [[QueryEngine]]: open, query, page turns, sort changes, searches, a
  * deep goto, a keyset walk, raw-file pages, inspection and two exports.
  *
  * The file is the same for every seed; the seed draws the query's date
  * window, the two sort orders, the search terms, and each session's
  * page positions.
  */
final class Browse(ctx: Ctx) extends Workload {
  import Browse._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var file: String = _
  private var warmFile: String = _

  // per-run script parameters, drawn once from the seed
  private val startDay = ctx.rng.nextInt(420)
  private val sortPool = Seq("l_extendedprice", "l_shipdate", "l_partkey", "l_orderkey")
  private val (sortA, sortB) = {
    val cols = ctx.rng.shuffle(sortPool).take(2)
    (SortSpec(cols(0), ctx.rng.nextBoolean()), SortSpec(cols(1), ctx.rng.nextBoolean()))
  }
  private val frequentTerm = Vocab(2 + ctx.rng.nextInt(3))
  private val rareTerm = Vocab(170 + ctx.rng.nextInt(30))
  private val sql =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
       |       l_discount, l_returnflag, l_shipdate, l_shipmode, l_comment
       |FROM read_parquet('path')
       |WHERE l_shipdate >= date_add(DATE '1992-01-01', $startDay)
       |  AND l_shipdate < date_add(DATE '1992-01-01', ${startDay + 2100})""".stripMargin

  /** A served page: which ordering it came from, where in that ordering
    * it starts, and the rows served.
    */
  private final case class Served(step: StepRec, source: String, sort: Option[SortSpec],
      offset: Long, rows: Seq[Row])
  private final case class Export(step: StepRec, format: String, dir: String,
      search: Option[String], sort: Option[SortSpec])
  private val served = ArrayBuffer.empty[Served]
  private val exports = ArrayBuffer.empty[Export]
  private var resultSchema: StructType = _
  private var rawSchema: StructType = _

  def generate(): Unit = {
    file = ctx.baseFile(s"lineitem-$Rows.parquet")(lineitem(Rows))
    warmFile = ctx.baseFile(s"lineitem-$WarmRows.parquet")(lineitem(WarmRows))
  }

  private def lineitem(rows: Long): DataFrame = {
    val id = col("id")
    def h(k: Int) = pmod(xxhash64(id, lit(k)), lit(1000000L)).cast("double") / 1e6
    def pick(k: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (h(k) * xs.length).cast("int") + 1)
    // skewed word ranks: rank = floor(200 * u^6), so low ranks are frequent
    // and high ranks rare
    def word(k: Int) = element_at(array(Vocab.map(lit): _*),
      (pow(h(k), 6.0) * Vocab.length).cast("int") + 1)
    spark.range(0, rows, 1, ctx.cores).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(xxhash64(id, lit(1)), lit(20000L)) + 1).as("l_partkey"),
      (pmod(xxhash64(id, lit(2)), lit(1000L)) + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      floor(h(3) * 50 + 1).cast("double").as("l_quantity"),
      round(h(4) * 100000 + 900, 2).as("l_extendedprice"),
      (floor(h(5) * 11) / 100).as("l_discount"),
      (floor(h(6) * 9) / 100).as("l_tax"),
      pick(7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(8, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + floor(h(9) * 2526).cast("long") * 86400 +
        floor(h(10) * 86400).cast("long")).as("l_shipdate"),
      pick(11, Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")).as("l_shipmode"),
      concat_ws(" ", (12 until 17).map(word): _*).as("l_comment"))
  }

  /** Fixture: the file opened and queried, its result cached by the
    * first page.
    */
  def setUp(rep: Int): Unit = {
    val e = new QueryEngine(spark, file)
    e.query(sql)
    resultSchema = e.paginator.page(PageRequest(1, Some(PageSize))).collect().head.schema
    rawSchema = e.data.schema
    e.close()
  }

  private def page(kind: String, source: String, pag: => Paginator, req: PageRequest): Unit =
    tr.step(kind, "page") { s =>
      val p = tr.span("query", "paginator")(pag)
      val df = tr.span("query", "page")(p.page(req))
      val rows = tr.span("query", "collect")(df.collect().toSeq)
      s.rows = rows.length
      served += Served(s, source, req.sortVector.headOption,
        (req.pageNumber - 1).toLong * PageSize, rows)
    }

  /** A keyset walk: the first page by number, then `more` pages after the
    * returned cursor. Each page is its own step.
    */
  private def walk(kind: String, source: String, pag: => Paginator, req: PageRequest,
      more: Int, category: String): Unit = {
    var cursor: Option[graft.query.PageCursor] = None
    var offset = (req.pageNumber - 1).toLong * PageSize
    var p: Paginator = null
    (0 to more).foreach { i =>
      if (i == 0 || cursor.isDefined) tr.step(if (i == 0) s"${kind}_first" else s"${kind}_next", category) { s =>
        if (p == null) p = tr.span("query", "paginator")(pag)
        val (rows, next) = tr.span("query", "pageWithCursor")(p.pageWithCursor(req, cursor))
        s.rows = rows.length
        served += Served(s, source, req.sortVector.headOption, offset, rows)
        cursor = next
        offset += rows.length
      }
    }
  }

  /** A session over a small file; nothing it served is checked. */
  def warmUp(): Unit = {
    session(-1, warmFile, WarmRows)
    served.clear()
    exports.clear()
  }

  def runUnit(unit: Int): Unit = session(unit, file, Rows)

  /** One editor session. */
  private def session(unit: Int, file: String, fileRows: Long): Unit = {
    val r = new scala.util.Random(ctx.seed * 7919 + unit)
    var engine: QueryEngine = null
    tr.step("open", "open") { _ => engine = tr.span("sources", "open")(new QueryEngine(spark, file)) }
    if (engine == null) return
    try {
      tr.step("query", "query") { s =>
        tr.span("query", "query")(engine.query(sql))
        val rows = tr.span("query", "collect")(
          engine.paginator.page(PageRequest(1, Some(PageSize))).collect().toSeq)
        s.rows = rows.length
        served += Served(s, "qr", None, 0, rows)
      }
      (2 to 6).foreach(n => page("page_offset", "qr", engine.paginator, PageRequest(n, Some(PageSize))))
      val first = 1 + r.nextInt(3)
      Seq(sortA -> first, sortB -> first, sortA -> (first + 1), sortB -> (first + 1)).foreach { case (sort, n) =>
        page("page_sorted", "qr", engine.paginator, PageRequest(n, Some(PageSize), sort = Some(sort)))
      }
      walk("search_frequent", s"search:$frequentTerm", engine.searchPaginator(frequentTerm),
        PageRequest(1, Some(PageSize)), 2, "search")
      walk("search_rare", s"search:$rareTerm", engine.searchPaginator(rareTerm),
        PageRequest(1, Some(PageSize)), 2, "search")
      val deep = (fileRows * ResultShare / PageSize * (0.5 + 0.4 * r.nextDouble())).toInt
      tr.step("page_goto", "page") { s =>
        val sort = if (r.nextBoolean()) sortA else sortB
        val req = PageRequest(deep, Some(PageSize), sort = Some(sort))
        val p = tr.span("query", "paginator")(engine.paginator)
        val df = tr.span("query", "gotoPage")(p.gotoPage(req))
        val rows = tr.span("query", "collect")(df.collect().toSeq)
        s.rows = rows.length
        served += Served(s, "qr", Some(sort), (deep - 1).toLong * PageSize, rows)
      }
      walk("page_cursor", "qr", engine.paginator,
        PageRequest(1, Some(PageSize), sort = Some(if (r.nextBoolean()) sortA else sortB)), 4, "page")
      page("raw_page", "raw", engine.dataPaginator, PageRequest(1, Some(PageSize)))
      (1 to 3).foreach(_ =>
        page("raw_page", "raw", engine.dataPaginator, PageRequest(2 + r.nextInt(200), Some(PageSize))))
      inspect(engine, r, fileRows)
      val sortE = if (r.nextBoolean()) sortA else sortB
      Seq(("csv", Some(sortE)), ("parquet", None)).foreach {
        case (fmt, sort) =>
          val search = Some(frequentTerm)
          val dir = ctx.path(s"exports/u$unit.$fmt")
          tr.step(s"export_$fmt", "export") { s =>
            tr.span("exporters", "export")(engine.export(fmt, dir, search = search, sort = sort))
            exports += Export(s, fmt, dir, search, sort)
          }.foreach(_ => tr.steps.last.attrs("bytes_written") = dirBytes(dir).toDouble)
      }
    } finally engine.close()
  }

  private def inspect(engine: QueryEngine, r: scala.util.Random, fileRows: Long): Unit = {
    tr.step("schema", "inspect") { s =>
      val rows = tr.span("query", "schema")(engine.schema.collect())
      s.rows = rows.length
      if (rows.map(_.getString(0)).toSeq != resultSchema.fieldNames.toSeq)
        s.fail("schema rows differ from the result's columns")
    }
    tr.step("metadata", "inspect") { s =>
      val rows = tr.span("query", "metadata")(engine.metadata.collect())
      s.rows = rows.length
      if (!rows.exists(x => x.getString(0) == "num_rows" && x.getString(1) == fileRows.toString))
        s.fail("metadata lacks num_rows = " + fileRows)
    }
    tr.step("copy_page", "inspect") { s =>
      val n = 1 + r.nextInt(20)
      val text = tr.span("query", "copyPage")(engine.copyPage(PageRequest(n, Some(PageSize))))
      val lines = text.split("\n").toSeq
      s.rows = lines.length - 1L
      if (lines.headOption.map(_.split("\t").toSeq) != Some(resultSchema.fieldNames.toSeq) ||
        lines.length != PageSize + 1)
        s.fail(s"copied page has ${lines.length} lines, want header + $PageSize")
    }
    tr.step("suggest", "inspect") { s =>
      val prefix = Seq("l_s", "ship", "price", "l_", "key", "disc")(r.nextInt(6))
      val got = tr.span("query", "suggestColumns")(engine.suggestColumns(prefix))
      s.rows = got.length
      val want = rawSchema.fieldNames.filter(_.toLowerCase.contains(prefix)).toSet
      if (got.toSet != want) s.fail(s"suggestions for '$prefix': $got, want $want")
    }
  }

  private def dirBytes(dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")).map(_.getLen).sum
  }

  // ---- output checks ------------------------------------------------------

  private def ridOf(schema: StructType): Column = xxhash64(schema.fieldNames.map(col).toSeq: _*)

  /** The query result computed by a different path than the engine's
    * cached `query_result`: a fresh read of the file and plain SQL.
    */
  private def plainResult(): DataFrame = {
    spark.read.parquet(file).createOrReplaceTempView("perfbench_src")
    spark.sql(sql.replace("read_parquet('path')", "perfbench_src"))
  }

  private def hit(df: DataFrame, term: String): Column =
    df.schema.fieldNames.map(c => col(c).cast("string").contains(term)).reduce(_ || _)

  private def sortKey(v: Any): Double = v match {
    case t: java.sql.Timestamp => (t.getTime / 1000).toDouble * 1e6 + t.getNanos / 1000
    case n: java.lang.Number => n.doubleValue
  }

  /** Every served page against one full collect of its source, ordered
    * on the driver (sort value, then row hash), and every export against
    * its source's row count and hash sum.
    */
  def check(): Seq[Check] = {
    val qr = plainResult()
    val terms = Seq(frequentTerm, rareTerm)
    // one narrow collect of the whole result: sort keys, row hash, term hits
    val all = qr.select((sortPool.map(col) ++ Seq(ridOf(qr.schema)) ++ terms.map(hit(qr, _))): _*)
      .collect()
    val rawRids = spark.read.parquet(file).select(ridOf(rawSchema)).collect().map(_.getLong(0)).sorted
    val rid = sortPool.length
    def ordered(src: String, sort: Option[SortSpec]): Array[Long] = src match {
      case "raw" => rawRids
      case _ =>
        val rows = if (src == "qr") all else {
          val t = rid + 1 + terms.indexOf(src.stripPrefix("search:"))
          all.filter(_.getBoolean(t))
        }
        val keyed = rows.map(x => (sort.fold(0.0)(s => sortKey(x.get(sortPool.indexOf(s.field)))), x.getLong(rid)))
        val sorted = if (sort.exists(!_.ascending)) keyed.sortBy(k => (-k._1, k._2)) else keyed.sorted
        sorted.map(_._2)
    }
    val orders = served.map(p => (p.source, p.sort)).distinct.map(k => k -> ordered(k._1, k._2)).toMap
    served.groupBy(p => if (p.source == "raw") "raw" else "qr").foreach { case (kind, ps) =>
      val schema = if (kind == "raw") rawSchema else resultSchema
      val rows = ps.zipWithIndex.flatMap { case (p, i) =>
        p.rows.zipWithIndex.map { case (row, j) => Row.fromSeq(Seq(i, j) ++ row.toSeq) }
      }
      val withPos = StructType(StructField("_p", IntegerType) +: StructField("_j", IntegerType) +: schema.fields)
      val hashed = spark.createDataFrame(rows.asJava, withPos)
        .select(col("_p"), col("_j"), ridOf(schema).as("rid")).collect()
        .groupBy(_.getInt(0)).map { case (i, rs) => i -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
      ps.zipWithIndex.foreach { case (p, i) =>
        val want = orders((p.source, p.sort)).slice(p.offset.toInt, p.offset.toInt + PageSize).toSeq
        val got = hashed.getOrElse(i, Seq.empty)
        if (got != want)
          p.step.fail(s"page of ${p.source} sort=${p.sort} at ${p.offset} differs from the ordered result " +
            s"(${got.length} rows served, ${want.length} expected)")
        if (p.source.startsWith("search:")) {
          val term = p.source.stripPrefix("search:")
          if (!p.rows.forall(_.toSeq.exists(v => v != null && String.valueOf(v).contains(term))))
            p.step.fail(s"a search hit lacks '$term'")
        }
      }
    }
    // every export reads back with its source's row count and hash sum
    exports.foreach { e =>
      val src = e.search.fold(all.toSeq)(t => all.filter(_.getBoolean(rid + 1 + terms.indexOf(t))).toSeq)
      val want = (src.length.toLong, src.map(x => BigInt(x.getLong(rid))).sum)
      val back = e.format match {
        case "csv" => spark.read.schema(resultSchema).option("header", "true").csv(e.dir)
        case _ => spark.read.parquet(e.dir)
      }
      val g = back.agg(count(lit(1)), sum(ridOf(back.schema).cast("decimal(38,0)"))).head()
      val got = (g.getLong(0), if (g.isNullAt(1)) BigInt(0) else BigInt(g.getDecimal(1).toBigInteger))
      e.step.rows = got._1
      if (got != want)
        e.step.fail(s"${e.format} export reads back ${got._1} rows hash ${got._2}, " +
          s"source has ${want._1} rows hash ${want._2}")
    }
    Seq.empty
  }

  // ---- metrics ------------------------------------------------------------

  def named(): Seq[Metric] = {
    val st = tr.steps.toSeq
    def ms(cat: String) = st.filter(_.category == cat).map(_.ms)
    Stats.latency("page", ms("page")) ++ Seq(
      Metric("search_p50_ms", Stats.median(ms("search")), "ms", ms("search").length.toLong),
      Metric("inspect_p50_ms", Stats.median(ms("inspect")), "ms", ms("inspect").length.toLong),
      Metric("export_p50_ms", Stats.median(ms("export")), "ms", ms("export").length.toLong),
      Metric("query_p50_ms", Stats.median(ms("query")), "ms", ms("query").length.toLong),
      Metric("open_p50_ms", Stats.median(ms("open")), "ms", ms("open").length.toLong))
  }

  def layers(): Map[String, Double] = {
    val st = tr.steps.filter(_.traced).toSeq
    val raw = st.filter(_.kind == "raw_page")
    val reads = st.filter(s => s.category == "page" || s.category == "search")
    val pages = st.filter(_.category == "page")
    val ex = tr.steps.filter(_.category == "export").toSeq
    def planOf(s: StepRec) = s.qe.map(_.planMs).sum
    def execOf(s: StepRec) = s.qe.map(_.execMs).sum
    val exRows = ex.map(_.rows).sum
    val exBytes = ex.map(_.attrs.getOrElse("bytes_written", 0.0)).sum
    Map(
      "sources.open_ms" -> Stats.median(st.filter(_.kind == "open").map(_.ms)),
      "sources.file_bytes_read" -> Stats.mean(raw.map(_.qe.map(_.fileBytes).sum.toDouble)),
      "sources.files_read" -> Stats.mean(raw.map(_.qe.map(_.filesRead).sum.toDouble)),
      "query.plan_ms" -> Stats.median(reads.map(planOf)),
      "query.exec_ms" -> Stats.median(reads.map(execOf)),
      "query.page_plan_share_pct" -> Stats.median(pages.map(s => 100 * planOf(s) / math.max(s.ms, 1e-6))),
      "query.jobs_per_step" -> Stats.mean(reads.map(_.counters.jobs.toDouble)),
      "query.rows_examined_per_row_returned" ->
        reads.map(_.qe.map(_.rowsExamined).sum).sum.toDouble / math.max(1L, reads.map(_.rows).sum),
      "exporters.write_ms" -> Stats.median(st.filter(_.category == "export").map(_.ms)),
      "exporters.bytes_written" -> Stats.mean(ex.map(_.attrs.getOrElse("bytes_written", 0.0))),
      "exporters.bytes_per_row" -> (if (exRows == 0) 0.0 else exBytes / exRows))
  }
}

object Browse {
  val Rows = 150000L
  val WarmRows = 5000L
  val PageSize = 50
  /** About 2100 of the 2526 ship days pass the query's date window. */
  val ResultShare = 0.8

  /** 200 four-letter words; none is a substring of another word's
    * neighbourhood because every word has the same length and the
    * comment separates words with single spaces.
    */
  val Vocab: Seq[String] = {
    val syl = for (c <- "bdfgklmnpr"; v <- "ao") yield s"$c$v"
    (0 until 200).map(i => syl(i % 20) + syl(i / 20 % 20))
  }
}
