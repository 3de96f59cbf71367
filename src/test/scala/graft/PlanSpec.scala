package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.query.Search
import graft.sources.Tables

/** Plan-shape assertions: the properties that matter at 100 TB — filters
  * and projections reaching the parquet scan, dims broadcasting, narrow
  * ops not shuffling — are asserted on the optimized plans, not hoped for.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Build + execute the plan with AQE off so the physical operator tree
    * is directly inspectable (AQE hides subtrees behind query stages).
    */
  private def executedNoAqe(mk: => org.apache.spark.sql.DataFrame): SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = mk
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q2: predicate and projection are pushed to the parquet scan") {
    val plan = formatted(SparkEntry.queries("q2_filter_project")(spark, TestSpark.sf))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(l_quantity"), "quantity predicate must reach the scan")
    assert(plan.contains("EqualTo(l_returnflag,R)"), "flag predicate must reach the scan")
    // projection pruning: untouched wide columns never leave the scan
    assert(!plan.contains("l_shipdate"), "unused columns must be pruned from ReadSchema")
  }

  test("q13: dimension joins execute as broadcast hash joins") {
    val plan = executedNoAqe(SparkEntry.queries("q13_broadcast_join")(spark, TestSpark.sf))
    val broadcasts = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(broadcasts.size == 2, s"expected 2 broadcast joins, got:\n$plan")
  }

  test("free-text search is a single scan stage - no shuffle") {
    val customer = Tables.load(spark, TestSpark.sf, "customer")
    val plan = executedNoAqe(Search.search(customer, "12"))
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"search must not shuffle:\n$plan")
  }

  test("q1: aggregation runs partial (map-side) then final, codegen'd") {
    val plan = executedNoAqe(SparkEntry.queries("q1_agg")(spark, TestSpark.sf))
    val s = plan.toString
    assert(s.contains("HashAggregate"), s)
    assert(s.contains("*("), "agg pipeline must be inside WholeStageCodegen")
  }

  test("quality filter and repetition scoring are single scan stages - no shuffle") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val filterPlan = executedNoAqe(
      graft.operators.Curation.qualityFilter(docs, "doc_id", "text"))
    assert(filterPlan.collect { case e: Exchange => e }.isEmpty,
      s"quality filter must not shuffle:\n$filterPlan")
    val repPlan = executedNoAqe(
      graft.operators.TextAnalysis.repetition(docs, "doc_id", "text"))
    assert(repPlan.collect { case e: Exchange => e }.isEmpty,
      s"repetition scoring must not shuffle:\n$repPlan")
    assert(repPlan.toString.contains("graft_top_token_count"),
      "mode-frequency must run as the native kernel")
  }

  test("persisted BM25 serving partition-prunes to the query terms' buckets") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val idx = TestSpark.scratch("bm25_planspec")
    val ip = new org.apache.hadoop.fs.Path(idx)
    ip.getFileSystem(spark.sessionState.newHadoopConf()).delete(ip, true)
    TextAnalysis.buildBm25Index(docs, "doc_id", "text", idx, nBuckets = 64)
    val served = TextAnalysis.bm25SearchIndexed(spark, idx, "doc_id",
      Seq("dup", "vector", "batch"), k = 20)
    // round trip is result-invisible
    val direct = TextAnalysis.bm25Search(docs, "doc_id", "text",
      Seq("dup", "vector", "batch"), k = 20)
    assert(served.collect().toSeq == direct.collect().toSeq,
      "persisted serving must equal the in-query path")
    // the postings scan must read only the probed bucket directories
    // (AQE hides scans behind query stages — use the no-AQE plan)
    val plan = executedNoAqe(TextAnalysis.bm25SearchIndexed(spark, idx,
      "doc_id", Seq("dup", "vector", "batch"), k = 20))
    val scan = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.toString.contains("postings") => f
    }
    assert(scan.nonEmpty, plan.toString)
    val parts = scan.head.selectedPartitions.partitionCount
    assert(parts <= 3 && parts >= 1,
      s"3 terms hash into <=3 of 64 buckets; scan read $parts partitions")
    // COMPACTION keeps the pruning: the merged single-fileset store must
    // still read only the probed bucket directories (a compaction that
    // lost the partitionBy layout would silently serve full scans)
    TextAnalysis.compactBm25Index(spark, idx)
    val cPlan = executedNoAqe(TextAnalysis.bm25SearchIndexed(spark, idx,
      "doc_id", Seq("dup", "vector", "batch"), k = 20))
    val cScan = cPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.toString.contains("postings") => f
    }
    assert(cScan.nonEmpty, cPlan.toString)
    val cParts = cScan.head.selectedPartitions.partitionCount
    assert(cParts <= 3 && cParts >= 1,
      s"post-compaction scan must stay bucket-pruned; read $cParts partitions")
  }

  test("funnel and cohort scan the events table ONCE (window/fold formulations, no self-join)") {
    val ev = Tables.load(spark, TestSpark.sf, "events")
    val funnelPlan = executedNoAqe(
      graft.operators.EventAnalytics.funnel(ev, "user_id", "ts",
        "event_type", "event_id", Seq("view", "click", "purchase")))
    val fScans = funnelPlan.collectLeaves().count(
      _.toString.contains("events.parquet"))
    assert(fScans == 1, s"funnel must scan events once, saw $fScans:\n$funnelPlan")
    val cohortPlan = executedNoAqe(
      graft.operators.EventAnalytics.cohortRetention(ev, "user_id", "ts"))
    val cScans = cohortPlan.collectLeaves().count(
      _.toString.contains("events.parquet"))
    assert(cScans == 1,
      s"cohort (window first-touch) must scan events once, saw $cScans:\n$cohortPlan")
  }

  test("IVF-PQ ADC scan broadcasts the query LUTs, never the corpus") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val model = graft.operators.PqIndex.train(emb, "vec_id", "embedding",
      nCells = 8, m = 8, kCodes = 16, iters = 1)
    val enc = graft.operators.PqIndex.encode(emb, "vec_id", "embedding", model)
    val plan = executedNoAqe(
      graft.operators.PqIndex.search(enc, emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", model, k = 5))
    val broadcasts = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(broadcasts.nonEmpty, s"probed queries must broadcast into the ADC scan:\n$plan")
    // the broadcast sides are the query rows (LUT + qdotc), never `codes`
    // (the corpus-sized encoded index) — spot the build side key columns
    broadcasts.foreach { b =>
      val buildSide = b.buildSide.toString
      val buildPlan = if (buildSide.contains("Left")) b.left else b.right
      assert(!buildPlan.output.exists(_.name == "codes"),
        s"encoded corpus must never be the broadcast side:\n$plan")
    }
  }

  test("PII scrub and URL filter are single scan stages - no shuffle") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val pii = executedNoAqe(
      graft.operators.Curation.redactPii(docs, "doc_id", "text"))
    assert(pii.collect { case e: Exchange => e }.isEmpty,
      s"redactPii must not shuffle:\n$pii")
    val urls = executedNoAqe(
      graft.operators.Curation.urlFilter(docs, "doc_id", "text", Seq("x.org")))
    assert(urls.collect { case e: Exchange => e }.isEmpty,
      s"urlFilter must not shuffle:\n$urls")
  }

  test("upsert merge is one key shuffle, not one per input") {
    val orders = Tables.load(spark, TestSpark.sf, "orders")
    val base = orders.withColumn("version", org.apache.spark.sql.functions.lit(1L))
    val changes = orders
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 100 === 0)
      .withColumn("version", org.apache.spark.sql.functions.lit(2L))
    val plan = executedNoAqe(graft.operators.Upsert.latestWins(
      base, changes, Seq("o_orderkey"), "version", "o_orderkey"))
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size == 1, s"latestWins must shuffle exactly once:\n$plan")
  }

  test("holdout split is one key shuffle; LM score has no cartesian join") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val hold = executedNoAqe(
      graft.operators.Curation.holdoutSplit(docs, "doc_id", "lang", 20))
    assert(hold.collect { case e: Exchange => e }.size == 1,
      s"holdout must shuffle exactly once:\n$hold")
    val lm = executedNoAqe(
      graft.operators.TextAnalysis.lmScore(docs, "doc_id", "text"))
    val cartesian = lm.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(cartesian.isEmpty, s"lmScore must not build a cartesian product:\n$lm")
    // bounded exchange count (incl. broadcast exchanges): pair agg, vocab
    // agg, scalar total, join-back broadcasts, doc re-group
    assert(lm.collect { case e: Exchange => e }.size <= 7, lm.toString)
  }

  test("stream-static enrichment broadcasts the reference dim") {
    val ev = Tables.load(spark, TestSpark.sf, "events")
    val plan = executedNoAqe(graft.streaming.EventStreams.enrichBatch(ev))
    val broadcasts = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(broadcasts.size == 1, s"weights dim must broadcast:\n$plan")
  }

  test("native expressions stay inside WholeStageCodegen") {
    import org.apache.spark.sql.functions._
    val plan = executedNoAqe(
      Tables.load(spark, TestSpark.sf, "embeddings")
        .select(graft.functions.expr.GraftFunctions
          .cosine(col("embedding"), col("embedding")).as("c"))
        .filter(col("c") > 0.99))
    val s = plan.toString
    assert(s.contains("graft_cosine"), s)
    assert(s.contains("*("), s"native expression must not break codegen:\n$s")
  }

  test("bucketed tables join without any shuffle") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.writeBucketed(Tables.load(spark, TestSpark.sf, "orders"), "orders_b", "o_orderkey", 4)
      Tables.writeBucketed(Tables.load(spark, TestSpark.sf, "lineitem"), "lineitem_b", "l_orderkey", 4)
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
      val plan = executedNoAqe(joined)
      val exchanges = plan.collect { case e: Exchange => e }
      // the only exchange allowed is the final groupBy on o_orderstatus;
      // the join itself must be shuffle-free
      assert(exchanges.size <= 1, s"bucketed join must not shuffle:\n$plan")
      assert(plan.toString.contains("SortMergeJoin"), plan.toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("date-partitioned layout prunes partitions on read") {
    import org.apache.spark.sql.functions._
    val path = TestSpark.scratch("events_partitioned")
    Tables.writeDatePartitioned(Tables.load(spark, TestSpark.sf, "events"), "ts", path)
    val read = spark.read.parquet(path).filter(col("dt") === "2024-01-05")
    val plan = formatted(read)
    assert(plan.contains("PartitionFilters"), plan)
    assert(read.count() > 0)
    val scan = read.queryExecution.executedPlan.collectLeaves().head
    val s = scan.toString
    assert(s.contains("dt"), s)
  }

  test("a sorted page compiles to TakeOrderedAndProject with one tiebreaker") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import graft.query.{PageRequest, Paginator, SortSpec}
    val lineitem = Tables.load(spark, TestSpark.sf, "lineitem")
    val pg = new Paginator(lineitem)
    val plan = executedNoAqe(
      pg.page(PageRequest(pageNumber = 3, pageSize = Some(20),
        sort = Some(SortSpec("l_extendedprice", ascending = false)))))
    val topk = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(topk.nonEmpty, s"sorted page must be per-partition top-K, not a full sort:\n$plan")
    // single synthetic tiebreaker, not all remaining columns: on a wide
    // table the old all-columns sort paid a full-row multi-key compare
    assert(topk.head.sortOrder.size == 2, topk.head.sortOrder.toString)
  }

  test("searched + sorted page: the search filter sits ON the scan, page is top-K, no extra shuffle") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, TakeOrderedAndProjectExec}
    import graft.query.{PageRequest, Paginator, SortSpec}
    val customer = Tables.load(spark, TestSpark.sf, "customer")
    val pg = new Paginator(customer)
    val plan = executedNoAqe(
      pg.page(PageRequest(pageNumber = 2, pageSize = Some(20),
        sort = Some(SortSpec("c_acctbal", ascending = false)),
        search = Some("12"))))
    // the whole composition is scan → (searched) filter → top-K: the
    // search must not force a separate stage (a shuffle before the
    // filter would stream the full table once per page)
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"searched page must not shuffle:\n$plan")
    val topk = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(topk.nonEmpty, s"searched sorted page must stay per-partition top-K:\n$plan")
    // the LIKE-disjunction filter evaluates directly over the scan
    // (same codegen stage — its child chain reaches the FileSourceScan
    // with no exchange in between), so pages run at scan throughput
    val filters = plan.collect { case f: FilterExec => f }
    assert(filters.nonEmpty, s"search filter missing:\n$plan")
    // Catalyst rewrites LIKE '%12%' to Contains(col, 12)
    val searchFilter = filters.find(_.condition.toString.contains("Contains"))
    assert(searchFilter.isDefined, s"LIKE search filter not found:\n$plan")
    def reachesScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: FileSourceScanExec => true
      case e if e.isInstanceOf[Exchange] => false
      case other => other.children.exists(reachesScan)
    }
    assert(reachesScan(searchFilter.get),
      s"search filter must sit over the scan, not above an exchange:\n$plan")
  }

  test("keyset page: cursor filter reaches the scan, top-k is ONE page deep") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import graft.query.{PageCursor, PageRequest, Paginator, SortSpec}
    val orders = Tables.load(spark, TestSpark.sf, "orders")
    val pg = new Paginator(orders)
    val req = PageRequest(pageSize = Some(50),
      sort = Some(SortSpec("o_orderkey", ascending = true)))
    val df = pg.pageAfter(req, PageCursor(Some(1000L), 0L))
    // the seek predicate must push into the parquet scan: that's what
    // makes deep pages O(page) — the offset form reads offset+limit rows
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fmt.contains("PushedFilters:") && fmt.contains("GreaterThanOrEqual(o_orderkey"),
      s"cursor range predicate must reach the scan:\n$fmt")
    val plan = executedNoAqe(df)
    val topk = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(topk.nonEmpty, s"keyset page must be a per-partition top-K:\n$plan")
    // the duplicate-exact seek filter is cursor-key-INCLUSIVE and the
    // dupSeen skip compiles into the top-k's offset: limit = page +
    // dupSeen, offset = dupSeen — still O(page) at any depth
    assert(topk.head.limit == 51 && topk.head.offset == 1,
      s"top-K must be one page + the dupSeen skip: ${topk.head.limit}/${topk.head.offset}")
  }

  test("pack shards: no single-task-per-group window over the corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val plan = executedNoAqe(
      graft.operators.Curation.packShards(docs, "doc_id", "text", "lang", 512,
        idsPerBucket = 16))
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, plan.toString)
    // every window either partitions by (group, bucket) — many tasks per
    // group — or runs over the tiny per-bucket aggregate, never a raw
    // whole-group cumsum
    windows.foreach { w =>
      val overAggregate = w.child.collect { case a: BaseAggregateExec => a }.nonEmpty
      assert(w.partitionSpec.size >= 2 || overAggregate,
        s"single-partition-per-group window over the corpus:\n$w")
    }
  }

  test("ANN top-k is two-stage: no qid-only window over the full candidate set") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val model = graft.operators.PqIndex.train(emb, "vec_id", "embedding",
      nCells = 8, m = 8, kCodes = 16, iters = 1)
    val enc = graft.operators.PqIndex.encode(emb, "vec_id", "embedding", model)
    val plans = Seq(
      "bruteforce" -> executedNoAqe(graft.operators.SimilaritySearch.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)),
      "lsh" -> executedNoAqe(graft.operators.SimilaritySearch.lshTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", dim, k = 5)),
      "ivf" -> executedNoAqe {
        val centroids = graft.operators.IvfIndex.train(emb, "vec_id", "embedding",
          nCells = 8, iters = 1)
        graft.operators.IvfIndex.search(
          graft.operators.IvfIndex.index(emb, "vec_id", "embedding", centroids),
          queries, "vec_id", "embedding", centroids, k = 5)
      },
      "ivfpq" -> executedNoAqe(graft.operators.PqIndex.search(
        enc, emb, "vec_id", "embedding", queries, "vec_id", "embedding", model, k = 5)))
    plans.foreach { case (name, plan) =>
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected window top-k:\n$plan")
      // a window partitioned by qid alone puts one query's candidates in
      // ONE task — it may only rank survivors of a prior (qid, salt) pass
      windows.foreach { w =>
        if (w.partitionSpec.size == 1) {
          val partialBelow = w.child.collect {
            case p: WindowExec if p.partitionSpec.size >= 2 => p
          }
          assert(partialBelow.nonEmpty,
            s"$name: qid-only window must rank pre-reduced survivors, " +
              s"not the full candidate set:\n$plan")
        }
      }
    }
  }

  test("range search: broadcast query batch, no pre-result shuffle, two-stage keyword top-k") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    // rangeSearch before its output sort: the scan side must see only a
    // broadcast of the query batch — no shuffle produces the result rows
    val rs = graft.operators.SimilaritySearch.rangeSearch(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", 0.2)
    val plan = executedNoAqe(rs)
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    // the only allowed shuffle is the final orderBy's range partitioning
    assert(shuffles.size <= 1 &&
      shuffles.forall(_.outputPartitioning.toString.contains("range")),
      s"range search must not shuffle before the result sort:\n$plan")
    assert(plan.toString.contains("BroadcastExchange") ||
      plan.toString.contains("BroadcastNestedLoopJoin") ||
      plan.toString.contains("BroadcastHashJoin") ||
      plan.toString.contains("Broadcast"),
      s"query batch must broadcast:\n$plan")
    // tfidfKeywords: per-doc top-k must be two-stage (the ANN contract)
    val kw = graft.operators.TextAnalysis.tfidfKeywords(
      Tables.load(spark, TestSpark.sf, "documents").limit(200), "doc_id", "text")
    val kwPlan = executedNoAqe(kw)
    val windows = kwPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      if (w.partitionSpec.size == 1) {
        val partialBelow = w.child.collect {
          case p: WindowExec if p.partitionSpec.size >= 2 => p
        }
        assert(partialBelow.nonEmpty,
          s"keyword top-k must rank pre-reduced survivors:\n$kwPlan")
      }
    }
  }

  test("LSH candidate dedup shuffles narrow (qid,id) pairs - no vectors") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.ArrayType
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val plan = executedNoAqe(graft.operators.SimilaritySearch.lshTopK(
      emb, "vec_id", "embedding", emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", dim, k = 5))
    // dropDuplicates(qid,id) compiles to aggregates grouped on two keys;
    // their inputs must not carry the dim-width vector columns
    val dedups = plan.collect {
      case a: BaseAggregateExec if a.groupingExpressions.size == 2 => a
    }
    assert(dedups.nonEmpty, s"expected a (qid,id) dedup aggregate:\n$plan")
    dedups.foreach { a =>
      assert(!a.child.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"candidate dedup must not shuffle vector columns:\n$plan")
    }
  }

  test("text_vocab: global top-k compiles to TakeOrderedAndProject, no full sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val plan = executedNoAqe(
      SparkEntry.queries("text_vocab")(spark, TestSpark.sf))
    assert(plan.collectFirst { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"vocab top-100 must be a partial-top-k merge, not a global sort:\n$plan")
    assert(plan.collectFirst {
      case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
      s"no full SortExec may appear under the limit:\n$plan")
  }

  test("substring dup spans: window hashes stay in-row; exchanges carry no token arrays") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    // BOTH kernel faces must hold the property: the gate ships
    // portableHash=true (md5 window strings) while production runs the
    // default rolling xxh64 kernel — either way the window hashing
    // happens WITHIN the row (one projection) and the shuffles carry only
    // narrow (id, pos, hash) / aggregate rows, never the per-doc token
    // arrays — the property that keeps the operator scan-bound at corpus
    // scale
    Seq(true, false).foreach { portable =>
      val plan = executedNoAqe(graft.operators.Dedup.substringDupSpans(
        docs, "doc_id", "text", window = 20, minDocs = 2,
        portableHash = portable))
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty,
        s"expected hash-frequency shuffles (portableHash=$portable):\n$plan")
      exchanges.foreach { e =>
        assert(!e.child.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"no exchange may carry token/window arrays (portableHash=$portable):\n${e.child.output}")
      }
    }
  }

  test("AQE splits skewed join partitions at runtime (skew=true)") {
    import org.apache.spark.sql.functions._
    // 90% of fact rows land on ONE join key — the skew no static plan
    // survives. With thresholds scaled to test data, AQE must replan the
    // sort-merge join with the oversized partition split (skew=true).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the fact side MUST arrive at the join shuffle from several map
      // tasks: skew splitting works at map-output granularity, so a
      // single-file scan (1 map task) leaves nothing to split — the same
      // single-partition-scan gotcha the dedup operators spread() around.
      // Payload columns ride along so the skewed partition's bytes clear
      // the detection threshold after column pruning.
      val li = Tables.load(spark, TestSpark.sf, "lineitem")
        .withColumn("k",
          when(col("l_orderkey") % 10 < 9, lit(0L)).otherwise(col("l_orderkey")))
        .select(col("k"), col("l_extendedprice"), col("l_quantity"),
          col("l_discount"), col("l_tax"))
        .repartition(8)
      // an independent dim: a dim derived from the fact side arrives
      // pre-partitioned on k and its join child is no Sort(ShuffleStage),
      // which the skew rule requires on both sides
      val dim = spark.range(0, 60000)
        .select(col("id").as("k"), (col("id") * 2).as("payload"))
      val joined = li.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s1"),
          sum("l_quantity").as("s2"), sum("payload").as("p"))
      joined.collect()
      val s = joined.queryExecution.executedPlan.toString
      assert(s.contains("isFinalPlan=true"), s)
      assert(s.contains("skew=true"),
        s"AQE must mark the skewed sort-merge join partitions split:\n$s")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SQL function registration (extensions + existing-session register)") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       graft_simhash64(array('spark', 'engine')) AS h,
        |       size(graft_word_shingles('a b c d', 2)) AS nsh,
        |       graft_sorted_intersect_size(array('a','b'), array('b','c')) AS i
        |""".stripMargin).first()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(r.getLong(1) != 0L)
    assert(r.getInt(2) == 3)
    assert(r.getInt(3) == 1)
  }
  test("q80 sessionize: ONE shuffle feeds both windows and the rollup") {
    val plan = executedNoAqe(
      SparkEntry.queries("q80_sessionize")(spark, TestSpark.sf))
    // windows (lag flag + running session number) and the final
    // groupBy(user, session) all reuse the single hash exchange on
    // user; the only other exchange is the output orderBy's range
    // partitioning
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2,
      s"sessionize must shuffle once (plus the output sort), got ${shuffles.size}:\n$plan")
    assert(shuffles.count(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]) == 1,
      s"exactly one hash shuffle on user:\n$plan")
  }

  test("q81 attribution: the type filter reaches the events scan") {
    val plan = formatted(
      SparkEntry.queries("q81_attribution")(spark, TestSpark.sf))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("In(event_type"),
      s"touch+conversion type filter must be pushed to the scan:\n$plan")
  }

  test("text_collocations: no forced broadcast of the unigram marginals") {
    // The PMI marginal joins must NOT carry a broadcast hint: at a
    // web-scale corpus the unigram table is 10⁸-10⁹ rows and a forced
    // broadcast OOMs executors. The only hinted subtrees allowed are the
    // two ONE-ROW scalar totals (b_total / t_total); the marginals are
    // semi-join-shrunk and left to AQE, which broadcasts them only when
    // they actually fit — the graceful-degradation contract.
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val df = graft.operators.TextAnalysis.collocations(docs, "text")
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 2,
      s"expected exactly the two scalar-total broadcast hints, got ${hints.size}")
    hints.foreach { h =>
      val cols = h.child.output.map(_.name).toSet
      assert(cols.subsetOf(Set("b_total", "t_total")),
        s"a non-scalar subtree is force-broadcast (columns $cols) — " +
          "the unigram marginals must stay AQE-sized")
    }
  }
}

class DateTimeFormatSpec extends AnyFunSuite {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._
  import graft.query.DateTimeFormat

  private lazy val spark = TestSpark.spark

  test("ISO8601, RFC2822 and custom patterns") {
    import spark.implicits._
    val df = Seq("2024-03-05 10:20:30.123").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val r = df.select(
      DateTimeFormat.format(col("ts"), TimestampType).as("iso"),
      DateTimeFormat.format(col("ts"), TimestampType, DateTimeFormat.RFC2822).as("rfc"),
      DateTimeFormat.format(col("ts"), TimestampType, "YYYY/MM/DD HH:mm").as("custom"),
      DateTimeFormat.format(col("ts"), DateType).as("dateonly")).first()
    assert(r.getString(0) == "2024-03-05T10:20:30.123Z")
    assert(r.getString(1).startsWith("Tue, 05 Mar 2024 10:20:30"))
    assert(r.getString(2) == "2024/03/05 10:20")
    assert(r.getString(3) == "2024-03-05")
  }
}
