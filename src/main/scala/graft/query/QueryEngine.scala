package graft.query

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** The reference's query workflow as a Spark-native engine
  * (reference: src/worker.ts QueryHelper + README `defaultQuery`):
  *
  *  - a file is "opened" and exposed to user SQL as `data` (the reference
  *    rewrites `FROM data` to `read_parquet('path')`; we register a temp
  *    view, which keeps the rewrite in the catalog instead of the string),
  *  - running a query caches the result as `query_result` so paging,
  *    searching and exporting re-use it without re-running the user SQL
  *    (the reference materializes a DuckDB `query_result` table;
  *    reference: src/worker.ts:294-310),
  *  - schema-driven column autocomplete
  *    (reference: tabular-document-editor.ts suggestions).
  *
  * Scale note: `persist(MEMORY_AND_DISK)` spills gracefully; on a cluster
  * the cached result is partition-distributed, so page N touches only the
  * partitions AQE needs for the offset/limit.
  */
final class QueryEngine(val spark: SparkSession, val path: String) {

  /** When `path` is a [[graft.operators.SnapshotTable]] root, the version
    * this engine is PINNED to — fixed at open time, so every query, page
    * and export sees one consistent snapshot even while upserts or
    * compactions commit new versions underneath (snapshot isolation).
    * None for plain files.
    */
  val pinnedVersion: Option[Long] =
    if (graft.operators.SnapshotTable.isTable(spark, path))
      graft.operators.SnapshotTable.currentVersion(spark, path)
    else None

  val data: DataFrame = pinnedVersion match {
    case Some(v) => graft.operators.SnapshotTable.read(spark, path, Some(v))
    case None => Tables.open(spark, path)
  }
  data.createOrReplaceTempView("data")

  /** A persisted result: `cached` is `frame` persisted, the user's
    * columns plus the paging tiebreaker when `tiebroken`; `visible` is
    * the user's columns alone, a projection that reads the same cache.
    * When the tiebreaker cannot be added (see [[query]]) both are the
    * same frame, and paging it fails as `new Paginator(visible)` does.
    */
  private final class Result(frame: DataFrame, val tiebroken: Boolean) {
    val cached: DataFrame = frame.persist(StorageLevel.MEMORY_AND_DISK)
    val visible: DataFrame = if (tiebroken) cached.drop(Paginator.RID) else cached
    def paginator: Paginator =
      if (tiebroken) new Paginator(visible, cached, overCache = true)
      else new Paginator(visible)
    def release(): Unit = cached.unpersist(blocking = false)
  }

  private var current: Option[Result] = None
  private var searchCached: Option[(String, Result)] = None

  def defaultQuery: String = "SELECT *\nFROM data\nLIMIT 1000"

  /** Run user SQL; result becomes the new `query_result`. Queries written
    * in the reference's placeholder style — `read_parquet('path')` /
    * `read_csv('path')` / `read_avro('path')` (reference:
    * src/worker.ts:236-241 rewrites the placeholder to the real reader
    * call) — are rewritten to the opened file's `data` view, which is the
    * same table the real reader call would produce.
    *
    * The PREVIOUS result's cache is released eagerly (the reference keeps
    * exactly one `query_result` table alive, worker.ts:236-310): a caller
    * still holding the old DataFrame keeps a valid plan but silently
    * recomputes on next use — hold at most the latest result.
    *
    * What is persisted is the result plus the paging tiebreaker
    * ([[Paginator.withTiebreaker]]), hashed once while the cache fills,
    * so [[paginator]] pages sort the cached column instead of hashing
    * every cached row per page. The returned frame, `queryResult` and
    * the `query_result` view are a projection of that cache without the
    * tiebreaker; calling `unpersist` on them does not release it
    * ([[close]] and the next `query` do).
    *
    * A result the tiebreaker cannot be built over — one that already
    * has a [[Paginator.RID]] column, repeats a column name, or holds a
    * type the hash does not take — is cached as it is: the query and
    * everything but paging work, and paging fails with the public
    * Paginator's error.
    */
  def query(sql: String): DataFrame = {
    close()
    val rewritten = QueryEngine.PathPlaceholder.replaceAllIn(sql, "data")
    val out = spark.sql(rewritten)
    val withRid =
      try Some(Paginator.withTiebreaker(out))
      catch { case _: IllegalArgumentException | _: AnalysisException => None }
    val r = withRid.fold(new Result(out, tiebroken = false))(new Result(_, tiebroken = true))
    r.visible.createOrReplaceTempView("query_result")
    current = Some(r)
    r.visible
  }

  private def dropSearchCache(): Unit = {
    searchCached.foreach(_._2.release())
    searchCached = None
  }

  private def result: Result = current.getOrElse { query(defaultQuery); current.get }

  /** The current query result with the free-text search applied,
    * materialized ONCE and re-used — the reference materializes the
    * filtered result as a `query_result_filtered` table and pages/counts
    * that (reference: src/worker.ts:134-180); re-filtering the corpus on
    * every page request would re-scan it each time at 100 TB.
    *
    * The filter runs over the cached result WITH its tiebreaker (the
    * predicate built from the user's columns only), so the searched
    * cache carries the tiebreaker too and [[searchPaginator]] pages hash
    * nothing. The same term returns the same frame. An empty term
    * returns the query result itself, whose cache only [[query]] and
    * [[close]] release.
    */
  def searchResult(term: String): DataFrame = searched(term).visible

  private def searched(term: String): Result = searchCached match {
    case Some((t, r)) if t == term => r
    case _ =>
      dropSearchCache()
      val base = result
      if (term == null || term.isEmpty) {
        base.visible.createOrReplaceTempView("query_result_filtered")
        base
      } else {
        val r = new Result(base.cached.filter(Search.predicate(base.visible, term)),
          base.tiebroken)
        r.visible.createOrReplaceTempView("query_result_filtered")
        searchCached = Some((term, r))
        r
      }
  }

  /** Paginator over the materialized searched result: page bounds and
    * page fetches both read the persisted filtered frame, so requests
    * need not re-carry the search term.
    */
  def searchPaginator(term: String): Paginator = searched(term).paginator

  def queryResult: DataFrame = result.visible

  /** Paginator over the current query result; its pages read the cached
    * tiebreaker (see [[query]]) and equal `new Paginator(queryResult)`'s.
    */
  def paginator: Paginator = result.paginator

  /** Paginator over the raw file (the reference's Data tab pages the file
    * directly; reference: src/duckdb-paginator.ts readFromFile).
    */
  def dataPaginator: Paginator = new Paginator(data)

  def schema: DataFrame = SchemaInspector.describe(queryResult)

  /** Footer metadata. For a snapshot table: one metadata block per LIVE
    * file of the pinned version, ALL footers read in one distributed
    * job over the manifest's file list
    * ([[MetadataInspector.filesMetadata]]) — a thousands-of-files
    * snapshot gets one flat scan plan, not a per-file unionAll tree.
    */
  def metadata: DataFrame = pinnedVersion match {
    case Some(v) =>
      MetadataInspector.filesMetadata(spark,
        graft.operators.SnapshotTable.files(spark, path, Some(v)))
    case None => MetadataInspector.fileMetadata(spark, path)
  }

  /** Range scan of the opened data, version-pinned and STATS-PRUNED when
    * the pinned snapshot carries stats for `column` — manifest-carried or
    * an attached skipping index
    * ([[graft.operators.SnapshotTable.scanBetween]]: files whose
    * [min,max] cannot intersect are never opened; results always equal
    * `data.filter(column between lo and hi)`, which a snapshot's `data`
    * prunes the same way). Plain files fall back to the filtered view —
    * parquet row-group pruning still applies via the pushed predicate.
    */
  def scanBetween(column: String, lo: Long, hi: Long): DataFrame =
    pinnedVersion match {
      case Some(v) =>
        graft.operators.SnapshotTable.scanBetween(
          spark, path, column, lo, hi, Some(v))._1
      case None =>
        import org.apache.spark.sql.functions.col
        data.filter(col(column).between(lo, hi))
    }

  /** Column-name autocomplete: case-insensitive prefix > substring rank
    * (reference: tabular-document-editor.ts editor completions).
    */
  def suggestColumns(prefix: String): Seq[String] = {
    val p = prefix.toLowerCase
    val cols = data.columns.toSeq
    if (p.isEmpty) cols
    else {
      val pre = cols.filter(_.toLowerCase.startsWith(p))
      val sub = cols.filter(c => !c.toLowerCase.startsWith(p) && c.toLowerCase.contains(p))
      pre ++ sub
    }
  }

  /** Export, dispatching on the reference's export-type names
    * (reference: src/worker.ts:268-330 — csv / json / ndjson / parquet /
    * excel). Mirrors the reference's export semantics:
    *
    *  - the active free-text search and sort are applied to the exported
    *    rows (reference: worker.ts:294-317 builds
    *    `SELECT * FROM query_result [WHERE <search>] [ORDER BY ...]`),
    *  - `tab = "schema"` exports the Schema tab itself — the DESCRIBE
    *    result of the opened file (reference: worker.ts:274-284 creates
    *    `schema_result` from `DESCRIBE SELECT * FROM read_xx(path)`).
    */
  def export(exportType: String, path: String,
             search: Option[String] = None,
             sort: Option[SortSpec] = None,
             tab: String = "query"): Unit = {
    import graft.exporters.Exporter
    import org.apache.spark.sql.functions.col
    val base =
      if (tab == "schema") SchemaInspector.describe(data) else queryResult
    val searched = search.filter(_.nonEmpty).fold(base)(Search.search(base, _))
    val frame = sort.fold(searched) { s =>
      searched.orderBy(if (s.ascending) col(s.field).asc else col(s.field).desc)
    }
    exportType.toLowerCase match {
      case "csv" => Exporter.csv(frame, path)
      case "json" => Exporter.json(frame, path)
      case "ndjson" => Exporter.ndjson(frame, path)
      case "parquet" => Exporter.parquet(frame, path)
      case "excel" | "xlsx" => Exporter.excel(frame, path)
      case other => throw new IllegalArgumentException(s"Unsupported export type: $other")
    }
  }

  /** Copy-to-clipboard rendering of one result page (reference copy
    * button): TSV text of the requested page.
    */
  def copyPage(req: PageRequest): String =
    graft.exporters.Exporter.toTsvString(paginator.page(req))

  def close(): Unit = {
    current.foreach(_.release())
    current = None
    dropSearchCache()
  }
}

object QueryEngine {
  /** The reference's reader-call placeholder (src/worker.ts:238):
    * `read_parquet('path')` etc., case-insensitive.
    */
  private val PathPlaceholder =
    "(?i)(?:read_parquet|read_csv|read_avro)\\('path'\\)".r
}
