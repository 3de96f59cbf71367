package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.query._
import graft.sources.Tables

class PaginatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val orders = Tables.load(spark, TestSpark.sf, "orders")

  test("keyset walk equals offset pages under a non-unique sort (tiebreak live)") {
    // o_orderpriority has 5 distinct values over 1500 rows, so nearly
    // every page boundary falls INSIDE a tie group — the cursor's rid
    // tiebreak is what's actually exercised
    val p = new Paginator(orders)
    val req = PageRequest(pageSize = Some(97),
      sort = Some(SortSpec("o_orderpriority", ascending = false)))
    var cur: Option[PageCursor] = None
    for (k <- 2 to 6) {
      cur = p.cursorOfPage(req, cur)
      val seek = p.pageAfter(req, cur.get).collect().map(_.toSeq)
      val offs = p.gotoPage(req.copy(pageNumber = k)).collect().map(_.toSeq)
      assert(seek.toSeq == offs.toSeq, s"page $k differs between seek and offset")
    }
  }

  test("keyset walk composes with search and with the unsorted rid order") {
    val p = new Paginator(orders)
    val searched = PageRequest(pageSize = Some(40), search = Some("1-URGENT"),
      sort = Some(SortSpec("o_totalprice", ascending = true)))
    val c1 = p.cursorOfPage(searched)
    assert(p.pageAfter(searched, c1.get).collect().map(_.toSeq).toSeq ==
      p.gotoPage(searched.copy(pageNumber = 2)).collect().map(_.toSeq).toSeq)
    // no user sort: the walk follows the deterministic rid total order
    val unsorted = PageRequest(pageSize = Some(200))
    val c2 = p.cursorOfPage(unsorted)
    assert(c2.get.sortValues.isEmpty)
    assert(p.pageAfter(unsorted, c2.get).collect().map(_.toSeq).toSeq ==
      p.page(unsorted.copy(pageNumber = 2)).collect().map(_.toSeq).toSeq)
  }

  test("property: random sorts, directions and page sizes — seek walk equals offset pages") {
    val rnd = new scala.util.Random(43)
    val fields = Seq("o_orderpriority", "o_totalprice", "o_orderdate", "o_custkey")
    for (trial <- 0 until 6) {
      val req = PageRequest(
        pageSize = Some(50 + rnd.nextInt(150)),
        sort = Some(SortSpec(fields(rnd.nextInt(fields.length)), rnd.nextBoolean())))
      val p = new Paginator(orders)
      var cur = p.cursorOfPage(req)
      var k = 2
      while (cur.isDefined && k <= 4) {
        val seek = p.pageAfter(req, cur.get).collect().map(_.toSeq).toSeq
        val offs = p.page(req.copy(pageNumber = k)).collect().map(_.toSeq).toSeq
        assert(seek == offs, s"trial $trial ($req) page $k: seek != offset")
        cur = p.cursorOfPage(req, cur)
        k += 1
      }
    }
  }

  test("keyset walk is exact under FULL-DUPLICATE rows (dupSeen skip)") {
    // 15 distinct rows over 1500: every page boundary splits a duplicate
    // group (~100 copies each, page size 97 < group size), the worst case
    // for a content-hash tiebreaker — the cursor's dupSeen must skip
    // exactly the emitted copies, never the whole group
    val dupes = orders.select("o_orderpriority", "o_orderstatus")
    val p = new Paginator(dupes)
    val req = PageRequest(pageSize = Some(97),
      sort = Some(SortSpec("o_orderpriority", ascending = true)))
    var cur = p.cursorOfPage(req)
    var seekRows = p.page(req.copy(pageNumber = 1)).collect().map(_.toSeq).toSeq
    var k = 2
    while (cur.isDefined && k <= 16) {
      val seek = p.pageAfter(req, cur.get).collect().map(_.toSeq).toSeq
      val offs = p.page(req.copy(pageNumber = k)).collect().map(_.toSeq).toSeq
      assert(seek == offs, s"page $k differs between seek and offset under duplicates")
      seekRows ++= seek
      cur = p.cursorOfPage(req, cur)
      k += 1
    }
    // the walk covered the table exactly: no dropped or repeated copies
    assert(seekRows.size == 1500)
    assert(seekRows.groupBy(identity).view.mapValues(_.size).toMap ==
      dupes.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap)
    // an offset ENTRY deep into the walk also lands mid-group correctly
    val entry = p.cursorOfPage(req.copy(pageNumber = 5))
    assert(p.pageAfter(req, entry.get).collect().map(_.toSeq).toSeq ==
      p.page(req.copy(pageNumber = 6)).collect().map(_.toSeq).toSeq)
  }

  test("multi-column keyset cursor: (priority desc, date asc) walk equals offset pages") {
    val p = new Paginator(orders)
    val req = PageRequest(pageSize = Some(83), sorts = Seq(
      SortSpec("o_orderpriority", ascending = false),
      SortSpec("o_orderdate", ascending = true)))
    var cur = p.cursorOfPage(req)
    for (k <- 2 to 7) {
      assert(cur.isDefined)
      assert(cur.get.sortValues.length == 2)
      val seek = p.pageAfter(req, cur.get).collect().map(_.toSeq).toSeq
      val offs = p.page(req.copy(pageNumber = k)).collect().map(_.toSeq).toSeq
      assert(seek == offs, s"page $k differs between seek and offset on a 2-column sort")
      cur = p.cursorOfPage(req, cur)
    }
  }

  test("pageWithCursor: one job per page, cursor parity, exact under duplicates") {
    // the fused serving path must (a) return the same pages AND the same
    // cursors as the pageAfter+cursorOfPage walk, including across
    // duplicate-group-splitting boundaries, and (b) cost exactly ONE
    // Spark job per steady-state page instead of three
    val dupes = orders.select("o_orderpriority", "o_orderstatus")
    val p = new Paginator(dupes)
    val req = PageRequest(pageSize = Some(97),
      sort = Some(SortSpec("o_orderpriority", ascending = true)))
    // reference walk: cursorOfPage + pageAfter
    var refCur = p.cursorOfPage(req)
    var refPages = List(p.page(req.copy(pageNumber = 1)).collect().map(_.toSeq).toSeq)
    while (refCur.isDefined) {
      val pg = p.pageAfter(req, refCur.get).collect().map(_.toSeq).toSeq
      if (pg.nonEmpty) refPages :+= pg
      refCur = p.cursorOfPage(req, refCur)
    }
    // fused walk, with a job counter around the steady state
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    var (rows, cur) = p.pageWithCursor(req)
    var gotPages = List(rows.map(_.toSeq))
    var gotCursors = List(cur)
    spark.sparkContext.addSparkListener(listener)
    try {
      var steps = 0
      while (cur.isDefined && rows.nonEmpty) {
        val (r2, c2) = p.pageWithCursor(req, cur)
        rows = r2; cur = c2
        if (rows.nonEmpty) { gotPages :+= rows.map(_.toSeq); gotCursors :+= cur }
        steps += 1
      }
      // listener delivery is async: wait until the count stabilizes
      var last = -1
      var spins = 0
      while (jobs.get() != last && spins < 50) {
        last = jobs.get(); Thread.sleep(100); spins += 1
      }
      assert(jobs.get() == steps,
        s"fused walk must cost exactly one job per page: ${jobs.get()} jobs for $steps steps")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(gotPages == refPages.take(gotPages.length) && gotPages.flatten.size == 1500,
      "fused pages must equal the cursorOfPage walk and cover the table")
    // cursor parity step-for-step with cursorOfPage
    var c = p.cursorOfPage(req)
    gotCursors.dropRight(if (gotCursors.last.isEmpty) 1 else 0)
      .zipWithIndex.foreach { case (gc, i) =>
        assert(gc == c, s"cursor $i diverged: $gc vs $c")
        c = p.cursorOfPage(req, c)
      }
    // offset ENTRY at depth carries the pre-page duplicate prefix
    val (r5, c5) = p.pageWithCursor(req.copy(pageNumber = 5))
    assert(r5.map(_.toSeq) == p.page(req.copy(pageNumber = 5)).collect().map(_.toSeq).toSeq)
    assert(c5 == p.cursorOfPage(req.copy(pageNumber = 5)),
      "deep-entry cursor must match cursorOfPage's (dupSeen prefix carried)")
    // and an empty tail returns no cursor
    val end = p.cursorOfPage(PageRequest(pageSize = Some(1500),
      sort = Some(SortSpec("o_orderpriority", ascending = true))))
    assert(p.pageWithCursor(req, end) == ((Seq.empty, None)))
  }

  test("pageWithCursor duplicate arithmetic survives binary and -0.0 sort values") {
    // BinaryType sort values collect as Array[Byte] (reference-compared
    // under ==) and -0.0 vs 0.0 boxed doubles compare unequal — either
    // would collapse the driver-side inPage count to 1, under-skip, and
    // re-serve rows on the next page. The Catalyst-side cursorOfPage
    // count has neither problem, so the walk must stay page-identical.
    // binary: 7 distinct 2-byte keys over 1500 rows, single column ⇒
    // every group is FULL duplicates and every boundary splits one
    val bin = orders.select(
      unhex(lpad(hex(pmod(col("o_orderkey"), lit(7))), 4, "0")).as("bkey"))
    val pb = new Paginator(bin)
    val reqB = PageRequest(pageSize = Some(100),
      sort = Some(SortSpec("bkey", ascending = true)))
    var (rows, cur) = pb.pageWithCursor(reqB)
    var walked = rows.map(_.getAs[Array[Byte]](0).toSeq)
    var guard = 0
    while (cur.isDefined && rows.nonEmpty && guard < 40) {
      val (r2, c2) = pb.pageWithCursor(reqB, cur)
      rows = r2; cur = c2
      walked ++= rows.map(_.getAs[Array[Byte]](0).toSeq)
      guard += 1
    }
    val truth = bin.orderBy("bkey").collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
    assert(walked.size == 1500 && walked == truth,
      s"binary-key walk re-served or dropped rows (got ${walked.size} of 1500)")
    // -0.0 vs 0.0: same rid (hash normalizes), Catalyst === equal — the
    // group of zeros is one duplicate group the driver must count whole
    val dbl = orders.select(
      when(pmod(col("o_orderkey"), lit(5)) === 0, lit(0.0))
        .when(pmod(col("o_orderkey"), lit(5)) === 1, lit(-0.0))
        .otherwise(pmod(col("o_orderkey"), lit(5)).cast("double")).as("dkey"))
    val pd = new Paginator(dbl)
    val reqD = PageRequest(pageSize = Some(100),
      sort = Some(SortSpec("dkey", ascending = true)))
    def norm(v: Double): Double = if (v == 0.0) 0.0 else v
    var (rd, cd) = pd.pageWithCursor(reqD)
    var walkedD = rd.map(r => norm(r.getDouble(0)))
    guard = 0
    while (cd.isDefined && rd.nonEmpty && guard < 40) {
      val (r2, c2) = pd.pageWithCursor(reqD, cd)
      rd = r2; cd = c2
      walkedD ++= rd.map(r => norm(r.getDouble(0)))
      guard += 1
    }
    val truthD = dbl.orderBy("dkey").collect().map(r => norm(r.getDouble(0))).toSeq
    assert(walkedD.size == 1500 && walkedD == truthD,
      s"-0.0 walk re-served or dropped rows (got ${walkedD.size} of 1500)")
  }

  test("cursorOfPage is None past the end; pageAfter at the tail is the partial page") {
    val p = new Paginator(orders)
    val req = PageRequest(pageSize = Some(1000),
      sort = Some(SortSpec("o_orderkey", ascending = true)))
    val end = p.cursorOfPage(req.copy(pageNumber = 2)) // rows 1000..1499
    assert(end.isDefined)
    assert(p.pageAfter(req, end.get).count() == 0)
    assert(p.cursorOfPage(req, end).isEmpty, "no page after the last row")
    val c1 = p.cursorOfPage(req) // end of page 1
    assert(p.pageAfter(req, c1.get).count() == 500, "partial tail page")
  }

  test("pages are stable, disjoint, and cover the table") {
    val p = new Paginator(orders)
    val req = PageRequest(pageSize = Some(100), sort = Some(SortSpec("o_totalprice", ascending = false)))
    val total = p.totalItems
    assert(total == 1500)
    assert(p.totalPages(Some(100)) == 15)
    val page1 = p.page(req.copy(pageNumber = 1)).select("o_orderkey").collect().map(_.getLong(0))
    val page2 = p.page(req.copy(pageNumber = 2)).select("o_orderkey").collect().map(_.getLong(0))
    assert(page1.length == 100 && page2.length == 100)
    assert(page1.toSet.intersect(page2.toSet).isEmpty)
    // re-running the same page returns identical rows (stable total order)
    val page1Again = p.page(req.copy(pageNumber = 1)).select("o_orderkey").collect().map(_.getLong(0))
    assert(page1.sameElements(page1Again))
    // sort actually applied
    val prices = p.page(req.copy(pageNumber = 1)).select("o_totalprice").collect().map(_.getDouble(0))
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("pageSize=None returns everything (reference 'all')") {
    val p = new Paginator(orders)
    assert(p.page(PageRequest(pageSize = None)).count() == 1500)
    assert(p.totalPages(None) == 1)
  }

  test("invalid page numbers are rejected like the reference") {
    val p = new Paginator(orders)
    assertThrows[IllegalArgumentException](p.page(PageRequest(pageNumber = 0)))
    assertThrows[IllegalArgumentException](p.gotoPage(PageRequest(pageNumber = 9999, pageSize = Some(100))))
  }

  test("search composes with paging") {
    val p = new Paginator(orders)
    val res = p.page(PageRequest(pageSize = Some(10), search = Some("1-URGENT"),
      sort = Some(SortSpec("o_orderkey"))))
    assert(res.count() == 10)
    assert(res.select("o_orderpriority").collect().forall(_.getString(0) == "1-URGENT"))
  }

  test("page bounds reflect the active search, like the reference's filtered table") {
    // reference worker.ts:134-180 materializes query_result_filtered and
    // counts/pages THAT — bounds must shrink with the search
    val p = new Paginator(orders)
    val term = "1-URGENT"
    val n = orders.filter(col("o_orderpriority") === term).count()
    assert(n > 0 && n < p.totalItems)
    assert(p.totalItems(Some(term)) == n)
    val pageSize = 100
    val searchedPages = math.ceil(n.toDouble / pageSize).toLong
    assert(p.totalPages(Some(pageSize), Some(term)) == searchedPages)
    val req = PageRequest(pageSize = Some(pageSize), search = Some(term),
      sort = Some(SortSpec("o_orderkey")))
    // lastPage lands on the final NON-EMPTY page of the filtered set
    val last = p.lastPage(req).collect()
    assert(last.nonEmpty)
    assert(last.length == (n - (searchedPages - 1) * pageSize))
    // a page valid against the unfiltered count but past the filtered end
    // is rejected (it used to return silent empties)
    val pastFiltered = (searchedPages + 1).toInt
    assert(pastFiltered <= p.totalPages(Some(pageSize)))
    assertThrows[IllegalArgumentException](
      p.gotoPage(req.copy(pageNumber = pastFiltered)))
    assertThrows[IllegalArgumentException](
      p.nextPage(req.copy(pageNumber = pastFiltered)))
  }

  test("a pre-existing tiebreaker-named column is rejected, not clobbered") {
    val bad = orders.withColumn(Paginator.RID, lit(7L))
    val e = intercept[IllegalArgumentException](new Paginator(bad))
    assert(e.getMessage.contains(Paginator.RID))
  }
}

class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val customer = Tables.load(spark, TestSpark.sf, "customer")

  test("matches any column, string or cast") {
    val hits = Search.search(customer, "BUILDING")
    assert(hits.count() ==
      customer.filter(col("c_mktsegment") === "BUILDING").count())
    // numeric column match via cast
    val keyHit = Search.search(customer, "149")
    assert(keyHit.count() >= 1)
  }

  test("empty search returns the input unchanged") {
    assert(Search.search(customer, "").count() == customer.count())
    assert(Search.search(customer, null).count() == customer.count())
  }

  test("LIKE metacharacters are escaped (literal search)") {
    assert(Search.search(customer, "%").count() == 0)
    assert(Search.search(customer, "_").count() == 0)
  }
}

class QueryEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("FROM data + query_result caching + autocomplete") {
    val qe = new QueryEngine(spark, s"${TestSpark.sf}/orders.parquet")
    val res = qe.query("SELECT o_orderkey, o_totalprice FROM data WHERE o_totalprice > 100000")
    assert(res.count() > 0)
    // query_result visible to follow-up SQL, like the reference's temp table
    val n = spark.sql("SELECT count(*) AS n FROM query_result").first().getLong(0)
    assert(n == res.count())
    assert(qe.suggestColumns("o_order") == Seq("o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority")
      || qe.suggestColumns("o_order").toSet == Set("o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority"))
    assert(qe.suggestColumns("").length == 6)
    qe.close()
  }

  test("export + copyPage operate on the current query result") {
    val qe = new QueryEngine(spark, s"${TestSpark.sf}/nation.parquet")
    qe.query("SELECT n_nationkey, n_name FROM data WHERE n_nationkey < 5")
    val out = TestSpark.scratch("qe_export")
    qe.export("csv", s"$out/csv")
    assert(spark.read.option("header", "true").csv(s"$out/csv").count() == 5)
    qe.export("excel", s"$out/n.xlsx")
    assert(new java.io.File(s"$out/n.xlsx").length() > 0)
    assertThrows[IllegalArgumentException](qe.export("pdf", s"$out/x"))
    val tsv = qe.copyPage(PageRequest(pageSize = Some(3), sort = Some(SortSpec("n_nationkey"))))
    assert(tsv.linesIterator.size == 4) // header + 3 rows
    assert(tsv.startsWith("n_nationkey\tn_name"))
    qe.close()
  }

  test("export applies the active search and sort, like the reference") {
    // reference worker.ts:294-317: every export runs
    // SELECT * FROM query_result [WHERE <search LIKE>] [ORDER BY f dir]
    val qe = new QueryEngine(spark, s"${TestSpark.sf}/nation.parquet")
    qe.query("SELECT n_nationkey, n_name FROM data")
    val out = TestSpark.scratch("qe_export_searched")
    qe.export("csv", s"$out/csv", search = Some("TION_2"),
      sort = Some(SortSpec("n_nationkey", ascending = false)))
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$out/csv")
    val names = back.select("n_name").collect().map(_.getString(0)).toSet
    // NATION_2, NATION_20..24
    assert(names.nonEmpty && names.forall(_.contains("TION_2")))
    assert(back.count() == qe.queryResult.filter(
      org.apache.spark.sql.functions.col("n_name").contains("TION_2")).count())
    qe.close()
  }

  test("schema tab exports as a table, like the reference") {
    // reference worker.ts:274-284: exporting from the schema tab dumps
    // DESCRIBE SELECT * FROM read_parquet(path)
    val qe = new QueryEngine(spark, s"${TestSpark.sf}/nation.parquet")
    val out = TestSpark.scratch("qe_export_schema")
    qe.export("csv", s"$out/csv", tab = "schema")
    val back = spark.read.option("header", "true").csv(s"$out/csv")
    assert(back.columns.toSeq == Seq("column_name", "column_type", "null"))
    assert(back.count() == 3) // nation has 3 columns
    val types = back.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types("n_name") == "VARCHAR")
    qe.close()
  }

  test("read_parquet('path') placeholder queries are rewritten, like the reference") {
    // reference worker.ts:236-241: (read_parquet|read_csv|read_avro)('path')
    // is replaced with the real reader call on the opened file
    val qe = new QueryEngine(spark, s"${TestSpark.sf}/nation.parquet")
    val res = qe.query("SELECT n_nationkey FROM read_parquet('path') WHERE n_nationkey < 5")
    assert(res.count() == 5)
    // case-insensitive, and the other reader names map to the same file
    assert(qe.query("SELECT count(*) AS n FROM READ_CSV('path')").first().getLong(0) == 25)
    qe.close()
  }

  test("searchResult materializes the filtered frame once and pages it") {
    val qe = new QueryEngine(spark, s"${TestSpark.sf}/orders.parquet")
    qe.query("SELECT * FROM data")
    val n = qe.queryResult.filter(col("o_orderpriority") === "1-URGENT").count()
    val filtered = qe.searchResult("1-URGENT")
    assert(filtered.count() == n)
    // registered for follow-up SQL like the reference's table
    assert(spark.sql("SELECT count(*) AS n FROM query_result_filtered")
      .first().getLong(0) == n)
    // same term returns the SAME cached frame; a new term replaces it
    assert(qe.searchResult("1-URGENT") eq filtered)
    assert(qe.searchResult("2-HIGH") ne filtered)
    // paging over the filtered frame needs no per-request search
    val p = qe.searchPaginator("1-URGENT")
    assert(p.totalItems == n)
    val page = p.page(PageRequest(pageSize = Some(10), sort = Some(SortSpec("o_orderkey"))))
    assert(page.count() == 10)
    qe.close()
  }

  test("csv files are opened with the csv reader via QueryEngine") {
    val out = TestSpark.scratch("qe_csv")
    Tables.load(spark, TestSpark.sf, "region")
      .write.mode("overwrite").option("header", "true").csv(out)
    val qe = new QueryEngine(spark, s"$out/*.csv")
    assert(qe.data.count() == 5)
    assert(qe.data.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(qe.query("SELECT r_name FROM data ORDER BY r_regionkey").count() == 5)
    qe.close()
  }
}

class TableMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("mergeSchema read unions evolving file schemas") {
    val dir = TestSpark.scratch("evolving_table")
    val r = Tables.load(spark, TestSpark.sf, "region")
    r.write.mode("overwrite").parquet(dir)
    r.withColumn("r_comment", org.apache.spark.sql.functions.lit("added later"))
      .write.mode("append").parquet(dir)
    val merged = Tables.openMerged(spark, dir)
    assert(merged.columns.toSet == Set("r_regionkey", "r_name", "r_comment"))
    assert(merged.count() == 10)
    assert(merged.filter(org.apache.spark.sql.functions.col("r_comment").isNull).count() == 5)
  }

  test("compact rewrites a many-file table to few files, row-identical") {
    val dir = TestSpark.scratch("compact_table")
    val o = Tables.load(spark, TestSpark.sf, "orders")
    o.repartition(20).write.mode("overwrite").parquet(dir)
    def fileCount = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(fileCount == 20)
    Tables.compact(spark, dir, 2)
    assert(fileCount == 2)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1500)
    assert(back.agg(org.apache.spark.sql.functions.sum("o_orderkey")).first().getLong(0) ==
      o.agg(org.apache.spark.sql.functions.sum("o_orderkey")).first().getLong(0))
    // swap leaves no residue: neither the tmp dir nor the __old copy remain
    assert(!new java.io.File(dir + "__compact_tmp").exists())
    assert(!new java.io.File(dir + "__old").exists())
  }

  test("compact recovers a swap that crashed between its two renames") {
    val dir = TestSpark.scratch("compact_crashed")
    val o = Tables.load(spark, TestSpark.sf, "orders")
    o.repartition(5).write.mode("overwrite").parquet(dir)
    val original = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // the state a crash after `dir -> dir__old` leaves: no live dir, the
    // original aside, and a compacted copy that was never promoted
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    f.delete(new org.apache.hadoop.fs.Path(dir + "__old"), true)
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "__old")))
    o.limit(3).write.mode("overwrite").parquet(dir + "__compact_tmp")
    Tables.compact(spark, dir, 2)
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq == original)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 2)
    assert(!new java.io.File(dir + "__old").exists())
    assert(!new java.io.File(dir + "__compact_tmp").exists())
  }

  test("avro round-trips through open (Spark 4 bundles the avro source)") {
    val dir = TestSpark.scratch("avro_table")
    val r = Tables.load(spark, TestSpark.sf, "region")
    r.write.mode("overwrite").format(Tables.avroProvider).save(dir)
    val back = Tables.openAs(spark, dir, "avro")
    assert(back.count() == 5)
    assert(back.columns.toSeq == Seq("r_regionkey", "r_name"))
    // extension dispatch: a concrete .avro file path routes to the reader
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).head.getPath
    assert(Tables.open(spark, file).columns.contains("r_name"))
  }

  test("orc round-trips through open") {
    val dir = TestSpark.scratch("orc_table")
    val r = Tables.load(spark, TestSpark.sf, "region")
    r.write.mode("overwrite").orc(dir)
    val back = Tables.openAs(spark, dir, "orc")
    assert(back.count() == 5)
    assert(back.columns.toSeq == Seq("r_regionkey", "r_name"))
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".orc")).head.getPath
    assert(Tables.open(spark, file).columns.contains("r_name"))
  }

  test("unknown explicit format is rejected, s3 scheme is mapped to s3a") {
    val e = intercept[UnsupportedOperationException](
      Tables.openAs(spark, "/tmp/x.bin", "protobuf"))
    assert(e.getMessage.contains("unsupported format"))
    // s3:// must be rewritten to s3a:// before the reader sees it; with no
    // s3a connector configured the failure names the s3a path (not s3)
    val e2 = intercept[Exception](
      Tables.openAs(spark, "s3://bucket/key.parquet", "parquet").count())
    assert(!e2.getMessage.contains("s3://") || e2.getMessage.contains("s3a://"))
  }
}

class SchemaInspectorSpec extends AnyFunSuite {
  import org.apache.spark.sql.types._
  private lazy val spark = TestSpark.spark

  test("DuckDB-style type names") {
    assert(SchemaInspector.duckTypeName(LongType) == "BIGINT")
    assert(SchemaInspector.duckTypeName(StringType) == "VARCHAR")
    assert(SchemaInspector.duckTypeName(ArrayType(FloatType)) == "FLOAT[]")
    assert(SchemaInspector.duckTypeName(DecimalType(18, 2)) == "DECIMAL(18,2)")
    assert(SchemaInspector.duckTypeName(
      StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))))
      == "STRUCT(\"a\" INTEGER, \"b\" VARCHAR)")
  }

  test("describe emits one row per column") {
    val df = Tables.load(spark, TestSpark.sf, "lineitem")
    val desc = SchemaInspector.describe(df).collect()
    assert(desc.length == df.columns.length)
    assert(desc.map(_.getString(0)).toSeq == df.columns.toSeq)
    assert(desc.forall(_.getString(2) == "YES"))
  }

  test("describeParquet renders the file's logical types (DuckDB DESCRIBE strings)") {
    // footer-based: independent of session reader flags (inferTimestampNTZ
    // is off in TestSpark, yet the NTZ-micros l_shipdate must still render
    // as DuckDB's "TIMESTAMP", not "TIMESTAMP WITH TIME ZONE")
    val li = SchemaInspector.describeParquet(spark, s"${TestSpark.sf}/lineitem.parquet")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(li("l_orderkey") == ("BIGINT", "YES"))
    assert(li("l_linenumber") == ("INTEGER", "YES"))
    assert(li("l_quantity") == ("DOUBLE", "YES"))
    assert(li("l_returnflag") == ("VARCHAR", "YES"))
    assert(li("l_shipdate") == ("TIMESTAMP", "YES"))
    val emb = SchemaInspector.describeParquet(spark, s"${TestSpark.sf}/embeddings.parquet")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(emb("embedding") == "FLOAT[]")
  }

  test("nested leaf paths") {
    val sch = StructType(Seq(
      StructField("id", LongType),
      StructField("nest", StructType(Seq(StructField("x", IntegerType), StructField("y", StringType))))))
    assert(SchemaInspector.leafPaths(sch) ==
      Seq("id" -> "BIGINT", "nest.x" -> "INTEGER", "nest.y" -> "VARCHAR"))
  }

  test("leaf paths recurse through arrays and maps like the reference tree") {
    val sch = StructType(Seq(
      // LIST(STRUCT(...)) — the reference renders element fields as
      // expandable children; the leaf view must reach them
      StructField("tags", ArrayType(StructType(Seq(
        StructField("k", StringType),
        StructField("vals", ArrayType(IntegerType)))))),
      // scalar-element array stays one leaf, as DESCRIBE renders it
      StructField("emb", ArrayType(FloatType)),
      StructField("attrs", MapType(StringType,
        StructType(Seq(StructField("n", LongType)))))))
    assert(SchemaInspector.leafPaths(sch) == Seq(
      "tags[].k" -> "VARCHAR",
      "tags[].vals" -> "INTEGER[]",
      "emb" -> "FLOAT[]",
      "attrs.key" -> "VARCHAR",
      "attrs.value.n" -> "BIGINT"))
  }
}

class MetadataInspectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("footer metadata matches the table") {
    val path = s"${TestSpark.sf}/lineitem.parquet"
    val md = MetadataInspector.fileMetadata(spark, path).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(md("num_rows") == "6000")
    assert(md("num_row_groups").toInt >= 1)
    assert(md("created_by") != null)
    // real footer values, matching DuckDB parquet_file_metadata on the
    // arrow-written testdata: format v2, no encryption (NULL fields)
    assert(md("format_version") == "2")
    assert(md("encryption_algorithm") == null)
    assert(md("footer_signing_key_metadata") == null)
  }

  test("format_version is read from the footer, not assumed") {
    // Spark/parquet-mr writes format v1 while the arrow-written testdata
    // is v2 — reading both proves the field comes from the file
    val dir = TestSpark.scratch("meta_v1")
    Tables.load(spark, TestSpark.sf, "region").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val md = MetadataInspector.fileMetadata(spark, file).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(md("format_version") == "1")
    assert(md("num_rows") == "5")
  }

  test("directory metadata aggregates per-file footers distributively") {
    val dir = TestSpark.scratch("meta_dir")
    Tables.load(spark, TestSpark.sf, "orders").repartition(3)
      .write.mode("overwrite").parquet(dir)
    val md = MetadataInspector.directoryMetadata(spark, dir)
    val rows = md.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(2)).sum == 1500)
  }

  test("row-group detail has stats per column chunk") {
    val path = s"${TestSpark.sf}/orders.parquet"
    val rg = MetadataInspector.rowGroupMetadata(spark, path)
    assert(rg.count() >= 6) // 6 columns x >=1 row group
    val cols = rg.select("column").distinct().collect().map(_.getString(0)).toSet
    assert(cols.contains("o_orderkey"))
  }
}

/** Engine-level snapshot isolation: QueryEngine opened over a
  * [[graft.operators.SnapshotTable]] root pins the version current at
  * open time — queries, pages, range scans and metadata all read that
  * snapshot even while upserts and compactions commit new versions
  * underneath (the lakehouse reader contract, at the engine API).
  */
class QueryEngineSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.operators.SnapshotTable

  private def freshDir(name: String): String = {
    val d = s"${graft.Scratch.dir}/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  test("open/query/page stay stable while a compaction commits underneath") {
    import spark.implicits._
    val dir = freshDir("qe_snapshot")
    val base = (0 until 2000).map(i => (i.toLong, s"val$i", 0L))
      .toDF("k", "payload", "commit_v")
    SnapshotTable.create(spark, base.repartitionByRange(8, col("k")), dir)
    SnapshotTable.attachStats(spark, dir, Seq("k"))

    val qe = new QueryEngine(spark, dir)
    assert(qe.pinnedVersion.contains(1L))
    assert(qe.query("SELECT k, payload FROM data WHERE k < 100").count() == 100)
    // the engine's query scans only the file the pinned version's stats
    // keep for k < 100 (of 8)
    assert(TestSpark.filesScanned(qe.query("SELECT k, payload FROM data WHERE k < 100")) ==
      Seq(1L))
    val pageReq = PageRequest(pageSize = Some(25),
      sort = Some(SortSpec("k", ascending = false)), pageNumber = 3)
    val pageBefore = qe.dataPaginator.page(pageReq).collect().map(_.toSeq).toSeq

    // an upsert AND a z-order compaction commit underneath the open engine
    val ch = Seq((5L, "overwritten", 1L, false), (9999L, "new", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    SnapshotTable.compact(spark, dir, targetRecords = 500L)
    assert(SnapshotTable.currentVersion(spark, dir).contains(3L))

    // pinned reader: same page bytes, same query answers, old payloads
    val pageAfter = qe.dataPaginator.page(pageReq).collect().map(_.toSeq).toSeq
    assert(pageAfter == pageBefore,
      "page content changed under the pinned reader after a compaction")
    assert(qe.query("SELECT payload FROM data WHERE k = 5")
      .first().getString(0) == "val5")
    assert(qe.query("SELECT count(*) AS n FROM data").first().getLong(0) == 2000)

    // stats-pruned range scan serves the PINNED version (v1 stats exist;
    // the result equals the plain filtered view)
    val scanned = qe.scanBetween("k", 100, 180)
      .select("k").as[Long].collect().sorted.toSeq
    assert(scanned == (100L to 180L).toSeq)

    // a NEW engine opens the new current version and sees the upsert
    val qe2 = new QueryEngine(spark, dir)
    assert(qe2.pinnedVersion.contains(3L))
    assert(qe2.query("SELECT payload FROM data WHERE k = 5")
      .first().getString(0) == "overwritten")
    assert(qe2.query("SELECT count(*) AS n FROM data").first().getLong(0) == 2001)

    // metadata: one footer block per LIVE file of the pinned version,
    // built as ONE flat distributed footer scan — no per-file unionAll
    // tree in the plan (a thousands-of-files snapshot would otherwise
    // build a thousands-deep driver-side plan per metadata call)
    val md = qe2.metadata
    val fileRows = md.filter(col("key") === "file_name")
      .select("value").collect().map(_.getString(0)).toSet
    assert(fileRows == SnapshotTable.files(spark, dir, Some(3L)).toSet)
    assert(md.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "snapshot metadata must be one flat scan, not a union tree")
    assert(md.queryExecution.optimizedPlan.collectLeaves().size == 1,
      "snapshot metadata must have exactly one leaf scan")
    // content parity with the per-file form, block for block
    val perFile = SnapshotTable.files(spark, dir, Some(3L))
      .flatMap(f => graft.query.MetadataInspector.fileMetadata(spark, f)
        .collect().map(_.toSeq))
    assert(md.collect().map(_.toSeq).toSeq.sortBy(_.toString) ==
      perFile.sortBy(_.toString),
      "filesMetadata must emit exactly the per-file footer blocks")
    qe.close(); qe2.close()
  }

  test("Tables.open routes a snapshot root to the pinned current version") {
    import spark.implicits._
    val dir = freshDir("qe_snapshot_open")
    SnapshotTable.create(spark,
      (0 until 50).map(i => (i.toLong, s"v$i", 0L)).toDF("k", "payload", "commit_v"), dir)
    val opened = Tables.open(spark, dir)
    assert(opened.count() == 50)
    // plain files still open by extension
    assert(Tables.open(spark, s"${TestSpark.sf}/region.parquet").count() == 5)
  }
}

/** The engine caches its result with the paging tiebreaker attached and
  * pages that column; these pin that its pages are the public
  * Paginator's, that no page plan hashes, and that the column stays
  * hidden.
  */
class QueryEngineTiebreakerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  /** Orders with many full-duplicate rows and a map column that is a
    * function of the hashable columns (rows equal in every hashable
    * column are then equal in the map too, so every order among tied
    * rows is content-identical).
    */
  private lazy val file: String = {
    val base = Tables.load(spark, TestSpark.sf, "orders").select(
      col("o_orderpriority"), col("o_orderstatus"), (col("o_orderkey") % 40).as("k"),
      map(col("o_orderstatus"), col("o_orderkey") % 40).as("m"))
    val out = TestSpark.scratch("qe_tiebreak") + "/t.parquet"
    base.union(base.limit(400)).coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** Pages of a cursor walk (rows and cursors), `n` pages long. */
  private def walk(p: Paginator, req: PageRequest, n: Int): Seq[(Seq[Seq[Any]], Option[PageCursor])] =
    Iterator.iterate(p.pageWithCursor(req)) { case (_, c) => p.pageWithCursor(req, c) }
      .take(n).map { case (r, c) => (r.map(_.toSeq), c) }.toSeq

  private def hashesInPlan(df: DataFrame): (Int, Boolean) = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val hashes = plan.collect { case n => n.expressions.flatMap(_.collect {
        case h: org.apache.spark.sql.catalyst.expressions.XxHash64 => h
      }) }.flatten
      val cached = plan.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }.nonEmpty
      (hashes.size, cached)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("engine pages equal the public Paginator's: offset, sorted, multi-sort, goto, cursor, search") {
    val qe = new QueryEngine(spark, file)
    try {
      qe.query("SELECT * FROM data")
      val eng = qe.paginator
      val pub = new Paginator(qe.queryResult)
      assert(eng.totalItems == pub.totalItems)
      val size = Some(37)
      val sortK = SortSpec("k", ascending = false)
      val multi = Seq(SortSpec("o_orderpriority", ascending = false), SortSpec("k"))
      val reqs = (1 to 3).map(n => PageRequest(n, size)) ++
        (1 to 3).map(n => PageRequest(n, size, sort = Some(sortK))) ++
        Seq(2, 5, 30).map(n => PageRequest(n, size, sorts = multi))
      reqs.foreach(r => assert(rows(eng.page(r)) == rows(pub.page(r)), s"page differs for $r"))
      val last = pub.totalPages(size).toInt
      val goto = PageRequest(last - 1, size, sort = Some(sortK))
      assert(rows(eng.gotoPage(goto)) == rows(pub.gotoPage(goto)))
      assert(rows(eng.lastPage(goto)) == rows(pub.lastPage(goto)))
      Seq(PageRequest(1, size, sort = Some(sortK)), PageRequest(3, size, sorts = multi),
        PageRequest(1, size)).foreach { r =>
        assert(walk(eng, r, 6) == walk(pub, r, 6), s"cursor walk differs for $r")
      }
      val c = pub.cursorOfPage(PageRequest(2, size, sort = Some(sortK)))
      assert(eng.cursorOfPage(PageRequest(2, size, sort = Some(sortK))) == c)
      assert(rows(eng.pageAfter(PageRequest(1, size, sort = Some(sortK)), c.get)) ==
        rows(pub.pageAfter(PageRequest(1, size, sort = Some(sortK)), c.get)))
      // the search paginator pages the searched cache; the same pages come
      // from the public Paginator over the searched frame and from a
      // per-request search over the whole result
      val term = "HIGH"
      val es = qe.searchPaginator(term)
      val ps = new Paginator(qe.searchResult(term))
      assert(es.totalItems == pub.totalItems(Some(term)))
      Seq(PageRequest(1, size), PageRequest(2, size, sort = Some(sortK)),
        PageRequest(3, size, sorts = multi)).foreach { r =>
        val want = rows(pub.page(r.copy(search = Some(term))))
        assert(rows(es.page(r)) == want, s"search page differs for $r")
        assert(rows(ps.page(r)) == want)
      }
      val sr = PageRequest(1, size, sort = Some(sortK))
      assert(walk(es, sr, 4) == walk(ps, sr, 4))
    } finally qe.close()
  }

  test("an engine page plan hashes nothing; a public Paginator page plan does") {
    val qe = new QueryEngine(spark, file)
    try {
      qe.query("SELECT * FROM data")
      val req = PageRequest(2, Some(50), sort = Some(SortSpec("k")))
      assert(hashesInPlan(qe.paginator.page(req)) == ((0, true)))
      assert(hashesInPlan(qe.searchPaginator("HIGH").page(req)) == ((0, true)))
      val (publicHashes, _) = hashesInPlan(new Paginator(qe.queryResult).page(req))
      assert(publicHashes > 0, "the reference plan must hash, or the check above shows nothing")
    } finally qe.close()
  }

  test("the tiebreaker column never shows: results, views, schema, pages and exports") {
    val qe = new QueryEngine(spark, file)
    val rid = Paginator.RID
    try {
      val res = qe.query("SELECT * FROM data")
      val visible = Seq("o_orderpriority", "o_orderstatus", "k", "m")
      assert(res.columns.toSeq == visible)
      assert(qe.queryResult.columns.toSeq == visible)
      assert(spark.table("query_result").columns.toSeq == visible)
      assert(qe.searchResult("HIGH").columns.toSeq == visible)
      assert(spark.table("query_result_filtered").columns.toSeq == visible)
      assert(qe.schema.collect().map(_.getString(0)).toSeq == visible)
      assert(qe.paginator.page(PageRequest(1, Some(5))).columns.toSeq == visible)
      assert(qe.searchPaginator("HIGH").pageWithCursor(PageRequest(1, Some(5)))._1
        .forall(_.length == visible.length))
      assert(qe.copyPage(PageRequest(1, Some(5))).linesIterator.next().split("\t").toSeq == visible)
      val out = TestSpark.scratch("qe_tiebreak_export")
      qe.export("parquet", s"$out/pq", search = Some("HIGH"))
      assert(spark.read.parquet(s"$out/pq").columns.toSeq == visible)
      qe.export("json", s"$out/json", sort = Some(SortSpec("k")))
      assert(!spark.read.json(s"$out/json").columns.contains(rid))
      // the result's own rows, counted through the visible frame
      assert(res.count() == spark.read.parquet(file).count())
    } finally qe.close()
  }

  test("a result that already has the tiebreaker's name queries as before and refuses paging") {
    val qe = new QueryEngine(spark, s"${TestSpark.sf}/orders.parquet")
    try {
      val res = qe.query(s"SELECT o_orderkey, o_orderkey * 2 AS ${Paginator.RID} FROM data")
      assert(res.columns.toSeq == Seq("o_orderkey", Paginator.RID))
      assert(res.count() == 1500)
      assert(spark.table("query_result").columns.contains(Paginator.RID))
      val want = intercept[IllegalArgumentException](new Paginator(res)).getMessage
      assert(intercept[IllegalArgumentException](qe.paginator).getMessage == want)
      assert(intercept[IllegalArgumentException](qe.searchPaginator("1")).getMessage == want)
    } finally qe.close()
  }

  test("an unaliased expression's dotted name queries, pages and searches") {
    val qe = new QueryEngine(spark, s"${TestSpark.sf}/orders.parquet")
    try {
      val res = qe.query("SELECT o_orderkey, o_totalprice * 1.1 FROM data")
      val name = res.columns(1)
      assert(name.contains("."), name)
      assert(spark.table("query_result").count() == 1500)
      assert(qe.schema.collect().map(_.getString(0)).toSeq == Seq("o_orderkey", name))
      val pub = new Paginator(qe.queryResult)
      val req = PageRequest(3, Some(25), sort = Some(SortSpec("o_orderkey")))
      assert(rows(qe.paginator.page(req)) == rows(pub.page(req)))
      assert(hashesInPlan(qe.paginator.page(req)) == ((0, true)))
      assert(rows(qe.searchPaginator("7").page(req)) == rows(pub.page(req.copy(search = Some("7")))))
      // only the decimal column can render a '.', so every row matching
      // shows the search reads that column
      assert(qe.searchResult(".").count() == 1500)
    } finally qe.close()
  }

  test("a result the tiebreaker cannot be built over queries as before and refuses paging") {
    import org.apache.spark.sql.AnalysisException
    val orders = s"${TestSpark.sf}/orders.parquet"
    val width = spark.read.parquet(orders).columns.length
    val qe = new QueryEngine(spark, orders)
    try {
      // repeated column names (the hash cannot resolve them) and a VARIANT
      // column (the hash does not take it)
      Seq("SELECT * FROM data a JOIN data b ON a.o_orderkey = b.o_orderkey" -> 2 * width,
        """SELECT o_orderkey, parse_json('{"a": 1}') AS v FROM data""" -> 2).foreach {
        case (sql, cols) =>
          val res = qe.query(sql)
          assert(res.count() == 1500, sql)
          assert(spark.table("query_result").columns.length == cols, sql)
          assert(qe.schema.count() == cols, sql)
          // the messages hold plan expression ids, so compare the error class
          val want = intercept[AnalysisException](new Paginator(res)).getCondition
          assert(want != null)
          assert(intercept[AnalysisException](qe.paginator).getCondition == want, sql)
          assert(intercept[AnalysisException](qe.searchPaginator("1")).getCondition != null, sql)
      }
    } finally qe.close()
  }

  test("an empty search leaves the query result's cache in place") {
    def cached(view: String): Boolean =
      spark.table(view).queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.nonEmpty
    val qe = new QueryEngine(spark, file)
    try {
      qe.query("SELECT * FROM data")
      assert(qe.searchResult("") eq qe.queryResult)
      assert(qe.searchResult("HIGH").count() < qe.queryResult.count())
      assert(cached("query_result") && cached("query_result_filtered"))
      assert(qe.searchResult("").count() == qe.queryResult.count())
      assert(qe.searchResult("LOW").count() < qe.queryResult.count())
      assert(cached("query_result"))
      assert(hashesInPlan(qe.paginator.page(PageRequest(2, Some(50)))) == ((0, true)))
    } finally qe.close()
  }
}

/** Search leaves out columns whose text rendering cannot hold the term. */
class SearchAlphabetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.types._

  /** Edge values per pruned type, as SQL expressions of exactly that type. */
  private val edges: Seq[(DataType, Seq[String])] = Seq(
    ByteType -> Seq("CAST(-128 AS TINYINT)", "CAST(127 AS TINYINT)", "CAST(0 AS TINYINT)"),
    ShortType -> Seq("CAST(-32768 AS SMALLINT)", "CAST(32767 AS SMALLINT)"),
    IntegerType -> Seq("CAST(-2147483648 AS INT)", "CAST(2147483647 AS INT)"),
    LongType -> Seq("CAST('-9223372036854775808' AS BIGINT)", "CAST('9223372036854775807' AS BIGINT)"),
    FloatType -> Seq("CAST('-3.4028235E38' AS FLOAT)", "CAST('3.4028235E38' AS FLOAT)",
      "CAST('1.4E-45' AS FLOAT)", "CAST('-0.0' AS FLOAT)", "CAST('0.0' AS FLOAT)",
      "CAST('NaN' AS FLOAT)", "CAST('Infinity' AS FLOAT)", "CAST('-Infinity' AS FLOAT)",
      "CAST('1e-7' AS FLOAT)", "CAST('1e30' AS FLOAT)", "CAST('123.456' AS FLOAT)"),
    DoubleType -> Seq("CAST('-1.7976931348623157E308' AS DOUBLE)",
      "CAST('1.7976931348623157E308' AS DOUBLE)", "CAST('4.9E-324' AS DOUBLE)",
      "CAST('-0.0' AS DOUBLE)", "CAST('NaN' AS DOUBLE)", "CAST('Infinity' AS DOUBLE)",
      "CAST('-Infinity' AS DOUBLE)", "CAST('1e300' AS DOUBLE)", "CAST('1e-300' AS DOUBLE)",
      "CAST('-1e-300' AS DOUBLE)", "CAST('1e-7' AS DOUBLE)", "CAST('0.1' AS DOUBLE)"),
    DecimalType(38, 0) -> Seq("CAST('99999999999999999999999999999999999999' AS DECIMAL(38,0))",
      "CAST('-99999999999999999999999999999999999999' AS DECIMAL(38,0))"),
    DecimalType(38, 37) -> Seq("CAST('0.0000000000000000000000000000000000001' AS DECIMAL(38,37))",
      "CAST('-9.9999999999999999999999999999999999999' AS DECIMAL(38,37))",
      "CAST(0 AS DECIMAL(38,37))"),
    DecimalType(10, 10) -> Seq("CAST(0 AS DECIMAL(10,10))", "CAST('1e-10' AS DECIMAL(10,10))"),
    DecimalType(5, 2) -> Seq("CAST('-123.45' AS DECIMAL(5,2))"),
    DateType -> Seq("make_date(-44, 3, 15)", "make_date(12345, 1, 1)", "make_date(1, 1, 1)",
      "make_date(0, 12, 31)", "make_date(9999, 12, 31)"),
    TimestampType -> Seq("make_timestamp(-44, 3, 15, 10, 0, 0.5)",
      "make_timestamp(12345, 1, 1, 0, 0, 0)", "make_timestamp(1970, 1, 1, 0, 0, 0.000001)",
      "make_timestamp(2024, 2, 29, 23, 59, 59.999999)", "make_timestamp(-290000, 1, 1, 0, 0, 0)"),
    TimestampNTZType -> Seq("make_timestamp_ntz(-44, 3, 15, 10, 0, 0.5)",
      "make_timestamp_ntz(12345, 1, 1, 0, 0, 0)", "make_timestamp_ntz(1970, 1, 1, 0, 0, 0.000001)",
      "make_timestamp_ntz(2024, 2, 29, 23, 59, 59.999999)"),
    BooleanType -> Seq("true", "false"))

  test("each pruned type's alphabet holds every character Spark's cast renders for its edge values") {
    val rendered = edges.flatMap { case (dt, es) =>
      val df = spark.range(1).select(es.zipWithIndex.map { case (e, i) => expr(e).as(s"v$i") }: _*)
      df.schema.fields.zip(es).foreach { case (f, e) =>
        assert(f.dataType == dt, s"$e is ${f.dataType}, not $dt")
      }
      val alphabet = Search.castAlphabet(dt).getOrElse(fail(s"$dt has no alphabet"))
      val strs = df.select(df.columns.map(c => col(c).cast(StringType)): _*).head().toSeq
        .map(_.asInstanceOf[String])
      strs.zip(es).foreach { case (s, e) =>
        assert(s != null, e)
        val outside = s.filterNot(alphabet.contains)
        assert(outside.isEmpty, s"$dt renders $e as '$s', with '$outside' outside its alphabet")
      }
      strs
    }
    Seq("1.0E-7", "-0044-03-15", "+12345-01-01", "NaN", "-Infinity", "true").foreach { s =>
      assert(rendered.exists(_.contains(s)), s"no rendering contains $s: $rendered")
    }
    // open-ended renderings are always searched
    Seq(StringType, BinaryType, ArrayType(IntegerType), MapType(StringType, LongType),
      new StructType().add("a", IntegerType), CalendarIntervalType, DayTimeIntervalType(),
      YearMonthIntervalType(), NullType).foreach(dt => assert(Search.castAlphabet(dt).isEmpty, dt))
  }

  /** Every edge value, one row per value index, alongside string, binary
    * and complex columns. */
  private lazy val mixed = {
    val n = edges.map(_._2.length).max
    val typed = edges.zipWithIndex.map { case ((_, es), i) =>
      expr(s"element_at(array(${es.mkString(", ")}), CAST(id % ${es.length} + 1 AS INT))").as(s"c$i")
    }
    val strs = Seq("bada", "é-1", "50%", "a_b", "back\\\\slash", "+1:2.3E", "true", "NaN", "xInfinity")
    val s = expr(s"element_at(array(${strs.map(x => s"'$x'").mkString(", ")}), CAST(id % ${strs.length} + 1 AS INT))")
    spark.range(0, n + strs.length).select(Seq(col("id"), s.as("s"), s.cast("binary").as("bin"),
      struct(col("id").as("i"), s.as("t")).as("st"), array(col("id"), -col("id")).as("arr"),
      map(s, col("id")).as("mp")) ++ typed: _*)
  }

  test("pruned and unpruned search return the same rows for symbol, number and word terms") {
    val df = mixed
    val terms = Seq("1", "-", ".", "E", "NaN", "Infinity", "true", ":", "+", "%", "_", "\\", "é", "bada",
      "0.1", "-0044", "12345", "1.0E-7", "E+", "alse", " ")
    terms.foreach { t =>
      def ids(prune: Boolean) = df.filter(Search.predicate(df, t, prune)).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val unpruned = ids(prune = false)
      assert(ids(prune = true) == unpruned, s"term '$t'")
      assert(Search.search(df, t).count() == unpruned.length)
    }
    // some terms hit only through a number or date column, so the parity
    // above covers columns that pruning keeps
    val numericOnly = df.select(col("id") +: df.columns.filter(_.startsWith("c")).map(col): _*)
    Seq("Infinity", "-0044", "1.0E-7", "true").foreach { t =>
      assert(numericOnly.filter(Search.predicate(numericOnly, t, pruneByAlphabet = true)).count() > 0, t)
    }
  }

  test("a word search casts no number, date or boolean") {
    val df = mixed
    def casts(t: String) = df.filter(Search.predicate(df, t)).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.collect {
        case c: org.apache.spark.sql.catalyst.expressions.Cast => c.child.dataType
      }
    }.flatten
    assert(casts("bada").toSet == Set(BinaryType), "only the binary column is cast for a word")
    assert(casts("1").toSet.size > 10, "a digit is searched in every number and date column")
  }
}

/** `Tables.open` of one parquet file reads its schema from the footer on
  * the driver; it must be the schema Spark's inference gives.
  */
class OpenSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertSameOpen(f: String): Unit = {
    val inferred = spark.read.parquet(f).schema
    assert(Tables.open(spark, f).schema == inferred, f)
  }

  /** A parquet file written by parquet-hadoop alone: no Spark row
    * metadata, so the schema comes from the parquet types and the
    * session's reader flags. */
  private lazy val plainFile: String = {
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message plain {
        |  required int64 ts_nanos (TIMESTAMP(NANOS,true));
        |  optional int64 ts_micros_ntz (TIMESTAMP(MICROS,false));
        |  optional int64 ts_millis (TIMESTAMP(MILLIS,true));
        |  optional int96 legacy;
        |  required int32 i;
        |  optional int32 d (DATE);
        |  optional int32 small (INTEGER(16,true));
        |  optional binary s (STRING);
        |  optional binary raw;
        |  optional fixed_len_byte_array(16) dec (DECIMAL(38,4));
        |  optional int64 dec18 (DECIMAL(18,3));
        |  optional group lst (LIST) { repeated group list { optional int32 element; } }
        |  optional group mp (MAP) { repeated group key_value { required binary key (STRING); optional double value; } }
        |  optional group st { required int32 a; optional binary b (STRING); }
        |}""".stripMargin)
    val f = TestSpark.scratch("open_schema") + "/plain.parquet"
    Seq(f, f.replace("plain.parquet", ".plain.parquet.crc")).foreach(new java.io.File(_).delete())
    val conf = spark.sessionState.newHadoopConf()
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      .withType(schema).withConf(conf).build().close()
    f
  }

  test("driver-read schemas equal Spark's inferred ones for Spark-written files") {
    val dir = TestSpark.scratch("open_schema")
    val df = spark.range(0, 20).select(
      col("id"), // not null: written REQUIRED
      (col("id") * 1.5).cast("decimal(38,10)").as("dec"),
      (col("id") / 4).cast("decimal(9,2)").as("dec9"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      expr("to_timestamp_ntz('2024-01-01 10:00:00')").as("ntz"),
      to_date(timestamp_seconds(col("id") * 86400)).as("d"),
      struct(col("id").as("a"), array(col("id").cast("string")).as("b")).as("st"),
      map(col("id").cast("string"), col("id").cast("double")).as("m"),
      array(struct(col("id").as("x"))).as("arr"),
      col("id").cast("string").cast("binary").as("bin"),
      col("id").cast("float").as("f"), (col("id") % 2 === 0).as("b"),
      col("id").cast("tinyint").as("by"))
    Seq("INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS").foreach { tt =>
      val out = s"$dir/spark_$tt"
      withConf("spark.sql.parquet.outputTimestampType" -> tt) {
        df.coalesce(1).write.mode("overwrite").parquet(out)
      }
      val f = new java.io.File(out).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
      Seq("true", "false").foreach { ntz =>
        withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) { assertSameOpen(f) }
      }
      def json(d: org.apache.spark.sql.DataFrame) =
        d.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq
      assert(json(Tables.open(spark, f)) == json(spark.read.parquet(f)))
      // the directory and a glob keep Spark's inference
      assert(Tables.openAs(spark, out, "parquet").schema == spark.read.parquet(out).schema)
      assert(Tables.openAs(spark, s"$out/*.parquet", "parquet").schema == spark.read.parquet(f).schema)
    }
    Seq("events", "orders", "lineitem").foreach(t => assertSameOpen(s"${TestSpark.sf}/$t.parquet"))
  }

  test("driver-read schemas equal Spark's for a file without Spark's row metadata") {
    for (ntz <- Seq("true", "false"); binStr <- Seq("true", "false"))
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz,
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.parquet.binaryAsString" -> binStr) { assertSameOpen(plainFile) }
    // NANOS without nanosAsLong is unreadable: the open fails as Spark's does
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val want = intercept[Exception](spark.read.parquet(plainFile))
      val got = intercept[Exception](Tables.open(spark, plainFile))
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage)
    }
    // a missing file and a non-parquet file fail as Spark's read does
    val missing = TestSpark.scratch("open_schema") + "/missing.parquet"
    assert(intercept[Exception](Tables.open(spark, missing)).getClass ==
      intercept[Exception](spark.read.parquet(missing)).getClass)
    val junk = TestSpark.scratch("open_schema") + "/junk.parquet"
    java.nio.file.Files.write(java.nio.file.Paths.get(junk), "not parquet".getBytes("UTF-8"))
    assert(intercept[Exception](Tables.open(spark, junk).collect()).getClass ==
      intercept[Exception](spark.read.parquet(junk).collect()).getClass)
  }
}

/** Spark jobs per engine step on a parquet file: what the driver already
  * holds (the footer, the result's schema) is served without a job. */
class QueryEngineJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("open, schema and metadata run no Spark job; an engine page runs one") {
    val f = s"${TestSpark.sf}/orders.parquet"
    val (qe, openJobs) = TestSpark.jobsDuring(new QueryEngine(spark, f))
    try {
      assert(openJobs == 0, s"open ran $openJobs jobs")
      qe.query("SELECT * FROM data WHERE o_totalprice > 1000")
      qe.paginator.page(PageRequest(1, Some(50))).collect() // fills the cache
      val (schema, schemaJobs) = TestSpark.jobsDuring(qe.schema.collect())
      assert(schemaJobs == 0 && schema.length == qe.queryResult.columns.length,
        s"schema ran $schemaJobs jobs")
      val (meta, metaJobs) = TestSpark.jobsDuring(qe.metadata.collect())
      assert(metaJobs == 0 && meta.exists(_.getString(0) == "num_rows"), s"metadata ran $metaJobs jobs")
      Seq(PageRequest(2, Some(50)), PageRequest(3, Some(50), sort = Some(SortSpec("o_totalprice"))))
        .foreach { r =>
          val (rows, pageJobs) = TestSpark.jobsDuring(qe.paginator.page(r).collect())
          assert(pageJobs == 1 && rows.length == 50, s"page $r ran $pageJobs jobs")
        }
      val (_, rgJobs) = TestSpark.jobsDuring(MetadataInspector.rowGroupMetadata(spark, f).collect())
      assert(rgJobs == 0, s"row-group metadata ran $rgJobs jobs")
      val (_, dpJobs) = TestSpark.jobsDuring(SchemaInspector.describeParquet(spark, f).collect())
      assert(dpJobs == 0, s"describeParquet ran $dpJobs jobs")
    } finally qe.close()
  }
}
