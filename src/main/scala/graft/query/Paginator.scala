package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Sort direction + field, as the reference models it
  * (reference: src/paginator.ts:1-12 QueryObject/SortObject).
  */
final case class SortSpec(field: String, ascending: Boolean = true)

/** One page request. `pageSize=None` means "all" (reference page size
  * `all`); `search` applies the free-text filter before paging.
  * `sorts` is the multi-column form (lexicographic, e.g. grid sort by
  * (status, date)); when non-empty it takes precedence over `sort`.
  */
final case class PageRequest(
    pageNumber: Int = 1,
    pageSize: Option[Int] = Some(20),
    sort: Option[SortSpec] = None,
    search: Option[String] = None,
    sorts: Seq[SortSpec] = Nil) {
  /** The effective sort vector: `sorts` if given, else `sort` as a 1-vector. */
  def sortVector: Seq[SortSpec] = if (sorts.nonEmpty) sorts else sort.toSeq
}

/** Opaque position of the LAST row of a page in its total order: the
  * user sort values (one per sort column, empty when the request had no
  * sort) plus the synthetic tiebreaker, plus `dupSeen` — how many rows
  * content-identical to the cursor row (same sort values AND same rid,
  * i.e. full duplicates) have already been emitted up to and including
  * it. The tiebreaker is a content hash, so full-duplicate rows share a
  * rid; `dupSeen` is what lets a page boundary split a duplicate group
  * without dropping the remaining copies (the next page skips exactly
  * the emitted ones). Produced by [[Paginator.cursorOfPage]], consumed
  * by [[Paginator.pageAfter]] — the keyset (seek) handle that makes
  * "next page" O(page) at any depth.
  */
final case class PageCursor(sortValues: Seq[Any], rid: Long, dupSeen: Int = 1)

object PageCursor {
  /** Single-sort-column convenience constructor (the q56 shape). */
  def apply(sortValue: Option[Any], rid: Long): PageCursor =
    PageCursor(sortValue.toSeq, rid)
}

/** Scalable pagination over any DataFrame, mirroring the reference's
  * paginator semantics (reference: src/duckdb-paginator.ts:29-60 builds
  * `SELECT * FROM src [ORDER BY f dir] LIMIT n OFFSET m`) as a Spark plan:
  * filter → global sort → offset → limit. No driver-side collect; a
  * sorted page compiles to `TakeOrderedAndProject` (per-partition top-K,
  * not a full shuffle sort), and the source DataFrame can be cached by
  * the caller for repeated paging (QueryEngine does this for query
  * results).
  *
  * Pages are made stable by ONE synthetic tiebreaker — xxhash64 over all
  * columns — instead of sorting by every remaining column: the reference
  * inherits DuckDB's stable single-file scan order, which a distributed
  * engine must instead guarantee by a total order, and on a wide table a
  * single long comparison per tie is the scale-safe way to get one. A
  * value-derived hash is deterministic across jobs and partitionings
  * (unlike monotonically_increasing_id, which shifts with shuffle fetch
  * order on uncached inputs); rows identical in every column share a
  * hash, and any order among full duplicates is content-identical.
  *
  * Where the hash is computed: `new Paginator(df)` adds it to every page
  * plan, so each page hashes every row it sorts. [[QueryEngine]] instead
  * caches its result with the tiebreaker already attached
  * ([[Paginator.withTiebreaker]], the same hash over the same columns)
  * and pages it through the package-private constructor, which takes
  * `df` together with that frame (`withRid`) and trusts its column, so
  * a page turn over the cached result hashes no rows. Both give the
  * same pages. `overCache` says `withRid` is that in-memory cache, which
  * changes how a cursor page seeks (see `atOrAfterCursor`).
  */
final class Paginator private[query] (df: DataFrame, withRid: DataFrame,
    overCache: Boolean) {

  /** Pages `df`, hashing the tiebreaker in every page plan. */
  def this(df: DataFrame) = this(df, Paginator.withTiebreaker(df), overCache = false)

  private def normalized(search: Option[String]): Option[String] =
    search.filter(s => s != null && s.nonEmpty)

  /** Item count with the free-text search applied — the bound every page
    * navigation validates against, mirroring the reference's
    * `query_result_filtered` flow (reference: src/worker.ts:134-180
    * materializes the searched result and pages/counts THAT).
    */
  def totalItems(search: Option[String]): Long =
    normalized(search).fold(df)(s => df.filter(Search.predicate(df, s))).count()

  def totalItems: Long = totalItems(None)

  def totalPages(pageSize: Option[Int], search: Option[String]): Long = pageSize match {
    case None => 1L
    case Some(s) => math.ceil(totalItems(search).toDouble / s).toLong
  }

  def totalPages(pageSize: Option[Int]): Long = totalPages(pageSize, None)

  def page(req: PageRequest): DataFrame = {
    require(req.pageNumber >= 1, "Page number cannot be 0")
    // search predicate is built from the ORIGINAL columns so the synthetic
    // row id can't produce phantom matches
    val searched = normalized(req.search)
      .fold(withRid)(s => withRid.filter(Search.predicate(df, s)))
    // user sort columns (lexicographic), then the deterministic hash total
    // order (NOT the file's scan order — a distributed engine has no
    // stable natural order)
    val sorted = ordered(searched, req.sortVector)
    val paged = req.pageSize match {
      case Some(s) => sorted.offset((req.pageNumber - 1) * s).limit(s)
      case None => sorted
    }
    paged.drop(Paginator.RID)
  }

  // ---- keyset (seek) pagination ----------------------------------------
  //
  // page() above mirrors the reference's LIMIT/OFFSET semantics
  // (duckdb-paginator.ts:29-60), whose cost at page N is offset+limit rows
  // per partition — fine for a UI hopping around small results, wrong for
  // walking deep into 100 TB. The seek form replaces the offset with a
  // FILTER on the last-seen (sort value, tiebreaker): the predicate pushes
  // into the scan and the page compiles to a plain top-k
  // (TakeOrderedAndProject over the filtered rows), so "next page" costs
  // O(page) at ANY depth. Spec'd page-equal to the offset path and
  // plan-asserted in PlanSpec.
  //
  // Null sort values are not seekable (a null cursor comparison silently
  // drops rows): pageAfter requires them absent from every sort column —
  // the standard keyset contract (make the sort keys NOT NULL or coalesce).
  //
  // Full-duplicate rows share a rid (the tiebreaker is a content hash),
  // so "strictly after the cursor" alone would drop the remaining copies
  // whenever a page boundary splits a duplicate group. The cursor
  // therefore carries `dupSeen`: the seek filter is INCLUSIVE of the
  // cursor key and the page skips the first `dupSeen` rows — exactly the
  // already-emitted copies (any order among content-identical rows is
  // content-identical, so which physical copies are skipped is
  // unobservable). The skip compiles into the top-k's offset, so the
  // one-page TakeOrderedAndProject shape is preserved.

  private def searched(search: Option[String]): DataFrame =
    normalized(search).fold(withRid)(s => withRid.filter(Search.predicate(df, s)))

  /** Rows at or after `cursor` in the (sorts…, rid) lexicographic total
    * order — inclusive of rows equal to the cursor key (the caller skips
    * `dupSeen` of them via the top-k offset). The exact condition is a
    * disjunction involving the derived tiebreaker (not scannable), so a
    * REDUNDANT range conjunct on the LEADING sort column alone is added —
    * that one pushes into the parquet scan (min/max row-group pruning +
    * PushedFilters), which is where the depth-independence actually
    * comes from. `overCache` pages leave it out: cache batches are not
    * ordered by the sort column, so over QueryEngine's cached result it
    * prunes nothing; they bind the cursor's constants instead
    * ([[seekValue]]).
    */
  private def atOrAfterCursor(search: Option[String], sorts: Seq[SortSpec],
      cursor: PageCursor): DataFrame = {
    val base = searched(search)
    if (sorts.isEmpty) {
      base.filter(col(Paginator.RID) >= seekValue(cursor.rid))
    } else {
      require(cursor.sortValues.length == sorts.length, s"cursor has " +
        s"${cursor.sortValues.length} sort values but the request sorts by " +
        s"${sorts.length} columns")
      val sv = sorts.zip(cursor.sortValues)
      sv.foreach { case (s, v) =>
        require(v != null, s"null sort values are not seekable ('${s.field}')")
      }
      // lexicographic "at or after": fold from the innermost comparator out
      val cond = sv.foldRight(col(Paginator.RID) >= seekValue(cursor.rid)) {
        case ((s, v), inner) =>
          val c = seekValue(v)
          val strict = if (s.ascending) col(s.field) > c else col(s.field) < c
          strict || (col(s.field) === c && inner)
      }
      if (overCache) base.filter(cond)
      else {
        val (lead, lv) = sv.head
        val range =
          if (lead.ascending) col(lead.field) >= lit(lv) else col(lead.field) <= lit(lv)
        base.filter(range && cond)
      }
    }
  }

  /** A cursor constant of the seek filter. In `overCache` pages a
    * primitive-typed constant is a [[graft.plans.BoundValue]]: the
    * cache's batch pruning, which would prune nothing, then builds no
    * stats predicate for it, and the page compiles no class that only
    * its constants tell apart.
    */
  private def seekValue(v: Any): Column = v match {
    case _: java.lang.Number | _: java.lang.Boolean | _: java.util.Date |
        _: java.time.temporal.Temporal if overCache =>
      Literal(v) match {
        case Literal(x, dt) if CodeGenerator.isPrimitiveType(dt) =>
          ColumnBridge.column(graft.plans.BoundValue(x, dt))
        case _ => lit(v)
      }
    case _ => lit(v)
  }

  /** Driver-side value equality matching Catalyst `===` semantics for the
    * types a sort column can carry: Array[Byte] (BinaryType collects as a
    * JVM array — reference equality under `==`) compares element-wise;
    * -0.0 equals 0.0 and NaN equals NaN for float/double, as in Spark SQL.
    * Boxed-primitive `equals` gets BOTH float cases wrong in opposite
    * directions (-0.0 != 0.0, NaN == NaN is its only correct one), so the
    * duplicate arithmetic below must never use plain `==` on sort values:
    * an undercounted `inPage` under-skips and RE-SERVES rows on the next
    * page — the parity with cursorOfPage's Catalyst-side count breaks.
    */
  private def valEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: java.lang.Double, y: java.lang.Double) =>
      (x.isNaN && y.isNaN) || x.doubleValue == y.doubleValue
    case (x: java.lang.Float, y: java.lang.Float) =>
      (x.isNaN && y.isNaN) || x.floatValue == y.floatValue
    case (x, y) => x == y
  }

  private def valsEq(a: Seq[Any], b: Seq[Any]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => valEq(x, y) }

  private def ordered(df0: DataFrame, sorts: Seq[SortSpec]): DataFrame =
    df0.orderBy(sorts.map(s => if (s.ascending) col(s.field).asc else col(s.field).desc)
      :+ col(Paginator.RID).asc: _*)

  /** The page of rows strictly AFTER the `cursor` position in the
    * request's total order — `pageNumber` is ignored (the cursor is the
    * position). Requires a bounded pageSize. Exact under full-duplicate
    * rows: the filter is cursor-key-inclusive and the top-k skips the
    * `dupSeen` already-emitted copies.
    */
  def pageAfter(req: PageRequest, cursor: PageCursor): DataFrame = {
    val size = req.pageSize.getOrElse(
      throw new IllegalArgumentException("pageAfter requires a bounded pageSize"))
    ordered(atOrAfterCursor(req.search, req.sortVector, cursor), req.sortVector)
      .offset(cursor.dupSeen).limit(size).drop(Paginator.RID)
  }

  /** Cursor at the last row of the page `req` describes — or, with
    * `after` set, of the page following that cursor (so a deep walk
    * never pays an offset). None on an empty page.
    *
    * ONE bounded top-k job per step (r17): this is [[pageWithCursor]]
    * minus the served rows — the cursor arithmetic runs driver-side on
    * the page's own (pageSize-bounded) collected rows, where the
    * previous shape paid two extra jobs per step (an inverted-order
    * last-row probe plus an in-page duplicate count). Cursor-identical
    * by construction; the pageWithCursor↔cursorOfPage parity spec pins
    * it page-for-page.
    */
  def cursorOfPage(req: PageRequest, after: Option[PageCursor] = None): Option[PageCursor] =
    pageWithCursor(req, after)._2

  /** The SERVING path for a cursor walk: one bounded top-k job returns
    * the page's rows (tiebreaker stripped) AND the cursor for the next
    * page, derived driver-side from the page's own last row and its
    * in-page duplicate count — [[pageAfter]] + [[cursorOfPage]] fused,
    * removing cursorOfPage's two extra jobs per step (a sequential
    * N-page walk costs N jobs instead of 3N). The page must materialize
    * anyway to be served; the cursor is free once it has. Parity with
    * the cursorOfPage walk is spec-asserted page-for-page. The only
    * extra job left is the offset-entry prefix count when entering the
    * walk at pageNumber > 1 — the same paid-once entry cost
    * cursorOfPage documents.
    */
  def pageWithCursor(req: PageRequest, after: Option[PageCursor] = None)
      : (Seq[org.apache.spark.sql.Row], Option[PageCursor]) = {
    val size = req.pageSize.getOrElse(
      throw new IllegalArgumentException("pageWithCursor requires a bounded pageSize"))
    val sorts = req.sortVector
    val frame = after match {
      case Some(c) =>
        ordered(atOrAfterCursor(req.search, sorts, c), sorts)
          .offset(c.dupSeen).limit(size)
      case None =>
        ordered(searched(req.search), sorts)
          .offset((req.pageNumber - 1) * size).limit(size)
    }
    val rows = frame.collect().toSeq // ONE job; rows arrive in page order
    if (rows.isEmpty) (Seq.empty, None)
    else {
      val schema = frame.schema
      val ridIdx = schema.fieldIndex(Paginator.RID)
      val sortIdxs = sorts.map(s => schema.fieldIndex(s.field))
      val last = rows.last
      val rid = last.getLong(ridIdx)
      val values = sortIdxs.map(last.get)
      // same duplicate arithmetic as cursorOfPage, off the in-hand rows
      // (valEq, not ==: binary sort values collect as reference-compared
      // arrays and boxed -0.0 != 0.0 — both would under-skip)
      val inPage = rows.count(r => r.getLong(ridIdx) == rid &&
        sortIdxs.forall(i => valEq(r.get(i), last.get(i))))
      val carried = after match {
        case Some(c) if c.rid == rid && valsEq(c.sortValues, values) => c.dupSeen
        case Some(_) => 0
        case None if req.pageNumber > 1 =>
          val eq = sorts.zip(values).map { case (s, v) => col(s.field) === lit(v) }
            .foldLeft(col(Paginator.RID) === lit(rid))(_ && _)
          ordered(searched(req.search), sorts)
            .limit((req.pageNumber - 1) * size).filter(eq).count().toInt
        case None => 0
      }
      val keep = schema.fields.indices.filterNot(_ == ridIdx)
      val served = rows.map(r =>
        org.apache.spark.sql.Row.fromSeq(keep.map(r.get)))
      (served, Some(PageCursor(values, rid, inPage + carried)))
    }
  }

  def firstPage(req: PageRequest): DataFrame = page(req.copy(pageNumber = 1))
  def lastPage(req: PageRequest): DataFrame =
    page(req.copy(pageNumber = totalPages(req.pageSize, req.search).toInt.max(1)))
  def nextPage(req: PageRequest): DataFrame = {
    val tp = totalPages(req.pageSize, req.search)
    require(req.pageNumber <= tp, "No more pages available.")
    page(req)
  }
  def gotoPage(req: PageRequest): DataFrame = {
    val tp = totalPages(req.pageSize, req.search)
    require(req.pageNumber >= 1 && req.pageNumber <= tp, "Invalid page number.")
    page(req)
  }
}

object Paginator {
  /** Synthetic tiebreaker column name (dropped from every page). */
  val RID = "__graft_rid"

  /** `df` plus the tiebreaker column: xxhash64 over its hashable columns
    * in schema order. Maps aren't hashable (or orderable) in Spark, so
    * they are left out; ties then only collapse rows equal in all other
    * columns, which a map-keyed UI page can live with.
    */
  private[query] def withTiebreaker(df: DataFrame): DataFrame = {
    // the synthetic tiebreaker would silently replace (and then drop) a
    // user column of the same name, and the hash would cover the wrong data
    require(!df.columns.contains(RID),
      s"input already has a '$RID' column — rename it before paging")
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case a: ArrayType => hashable(a.elementType)
      case _ => true
    }
    val cols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => Search.column(f.name))
    df.withColumn(RID, if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*))
  }
}
