package graft

import org.apache.spark.sql.functions._

import graft.Gate.t
import graft.operators.{AsOfJoin, MaterializedView, SnapshotTable}

/** Additional §2 operators: as-of join (custom operator Spark lacks),
  * cube aggregates, histogram binning, deterministic hash sampling.
  */
object ExtraQueries {

  /** This area's gates. Lazy, so a row's oracle SQL may read vals declared
    * further down: an eager table would read them as null while the object
    * initializes. */
  lazy val gates: Seq[Gate] = Seq(
    Gate("asof_join", """SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  c.event_id AS click_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin, (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
      AsOfJoin.leftAsOf(purchases, clicks,
        keyCols = Seq("user_id"), timeCol = "ts",
        rightOrder = "event_id", payload = Seq("event_id", "ts"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_event_id").as("click_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
        .orderBy("event_id")
    }),

    // the ASOF match nulled when older than the window: exact because
    // the as-of match is the newest candidate (nothing else can be
    // inside a window it missed)
    Gate("asof_join_tolerance", """SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.event_id END AS click_id,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR
        |       THEN strftime(c.ts, '%Y-%m-%d %H:%M:%S') END AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin, (s, dir) => {
      // bounded-staleness as-of join (pandas merge_asof `tolerance`):
      // each purchase takes its latest preceding click ONLY if it landed
      // within the last hour — stale matches null out. Exact without a
      // second pass: the as-of match IS the newest candidate, so an
      // out-of-window match proves no candidate is in-window. Same
      // single-shuffle union+window plan; the oracle is DuckDB's ASOF
      // with the same inclusive window test applied to its match.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
      AsOfJoin.leftAsOf(purchases, clicks,
        keyCols = Seq("user_id"), timeCol = "ts",
        rightOrder = "event_id", payload = Seq("event_id", "ts"),
        toleranceSeconds = Some(3600L))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_event_id").as("click_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
        .orderBy("event_id")
    }),

    Gate("asof_join_native", """SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  c.event_id AS click_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin, (s, dir) => {
      // Same as-of semantics through the custom Catalyst path: a
      // first-class LogicalPlan + planner Strategy + streaming merge exec
      // (plans.AsOfJoinPlan) instead of the union+window plan — one
      // shuffle per side, no null-padded union rows.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
      graft.plans.AsOfJoinNative.leftAsOf(purchases, clicks,
        keyCols = Seq("user_id"), timeCol = "ts",
        rightOrder = "event_id", payload = Seq("event_id", "ts"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_event_id").as("click_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
        .orderBy("event_id")
    }),

    Gate("q22_cube", """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS cnt
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin, (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("cnt"))
        .orderBy("status", "priority")),

    // same explicit grouping() bit arithmetic on both engines — the gid
    // column distinguishes a genuine NULL key from a rolled-up level
    Gate("q54_grouping_sets", """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
        |  count(1) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY gid, status, priority""".stripMargin, (s, dir) => {
      // explicit GROUPING SETS (the general form cube/rollup are sugar
      // for): per-(status, priority), per-status, and grand total — but
      // NOT per-priority, which only an explicit set list can express.
      // grouping_id disambiguates a real NULL group key from a
      // rolled-up level, the standard trap coalesce-only outputs hide.
      // gid from explicit grouping() bits (1 = rolled up), NOT the
      // engine-specific grouping_id() packing — bit order is then pinned
      // identically on both engines
      t(s, dir, "orders").createOrReplaceTempView("q54_orders")
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |  coalesce(o_orderpriority, 'ALL') AS priority,
          |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
          |  count(1) AS cnt
          |FROM q54_orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), ())
          |ORDER BY gid, status, priority""".stripMargin)
    }),

    // DISTINCT set semantics on both engines (INTERSECT/EXCEPT without
    // ALL); DataFrame intersect/except compile to the same
    Gate("q55_set_ops", """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin, (s, dir) => {
      // INTERSECT / EXCEPT (the set operators q10_union leaves out):
      // customers who placed an urgent order AND a low-priority order,
      // minus those who ever had an F-status order — exercised as
      // DataFrame intersect/except (DISTINCT set semantics)
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val low = o.filter(col("o_orderpriority") === "5-LOW")
        .select(col("o_custkey"))
      val failed = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      urgent.intersect(low).except(failed)
        .select(col("o_custkey").as("custkey"))
        .orderBy("custkey")
    }),

    Gate("q23_histogram", """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |  count(*) AS cnt, min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin, (s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("bucket")),

    Gate("q25_percentile", """SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem""".stripMargin, (s, dir) =>
      t(s, dir, "lineitem").agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"))),

    Gate("q26_corr", """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(corr(l_discount, l_extendedprice), 6) AS corr_disc_price
        |FROM lineitem""".stripMargin, (s, dir) =>
      t(s, dir, "lineitem").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(corr(col("l_discount"), col("l_extendedprice")), 6).as("corr_disc_price"))),

    Gate("q27_salted_agg", """SELECT o_orderstatus,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin, (s, dir) =>
      // Skew-safe two-phase aggregation; result identical to q8-style
      // direct groupBy, so the plain-SQL oracle applies.
      graft.operators.Salting.saltedSumCount(
        t(s, dir, "orders"), "o_orderstatus", "o_totalprice", "o_orderkey", salts = 8)
        .orderBy("o_orderstatus")),

    Gate("q28_stringagg", """SELECT l_orderkey,
        |  string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS line_numbers,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin, (s, dir) =>
      // group-concat over sorted elements: deterministic list aggregation
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(array_join(
          transform(array_sort(collect_list(col("l_linenumber"))), x => x.cast("string")),
          ",").as("line_numbers"),
          count(lit(1)).cast("long").as("n_lines"))
        .orderBy("l_orderkey")),

    Gate("q29_array_ops", """SELECT l_orderkey,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin, (s, dir) =>
      // build list -> filter -> transform -> aggregate, all on nested data
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(collect_list(col("l_quantity").cast("decimal(18,2)")).as("qs"))
        .select(col("l_orderkey"),
          size(col("qs")).cast("long").as("n"),
          sort_array(col("qs")).getItem(0).cast("double").as("min_qty"),
          expr("CAST(aggregate(qs, CAST(0 AS DECIMAL(28,2)), (acc, x) -> CAST(acc + x AS DECIMAL(28,2))) AS DOUBLE)")
            .as("sum_qty"))
        .orderBy("l_orderkey")),

    Gate("q30_nulls", """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'O') AS status_or_null,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
        |  o_orderstatus IS NOT DISTINCT FROM 'O' AS is_open
        |FROM orders ORDER BY o_orderkey""".stripMargin, (s, dir) =>
      // null semantics: nullif/coalesce/null-safe equality
      t(s, dir, "orders").select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_filled"),
        col("o_orderstatus") <=> lit("O").as("is_open"))
        .orderBy("o_orderkey")),

    Gate("q31_json_extract", """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
        |FROM events WHERE CAST(props->>'$.k' AS BIGINT) >= 50
        |ORDER BY event_id""".stripMargin, (s, dir) =>
      // semi-structured column: JSON field extraction + typed filter/agg
      // (the reference renders struct/JSON cells; this is the query path)
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") >= 50)
        .orderBy("event_id")),

    Gate("q32_regex", """SELECT doc_id,
        |  regexp_extract("text", '([a-z]+)', 1) AS first_word,
        |  CAST(len(string_split("text", ' ')) AS BIGINT) AS n_space_parts,
        |  substring(regexp_replace("text", '[aeiou]', '', 'g'), 1, 20) AS devoweled_prefix
        |FROM documents ORDER BY doc_id""".stripMargin, (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
        size(split(col("text"), " ", -1)).cast("long").as("n_space_parts"),
        regexp_replace(col("text"), "[aeiou]", "").substr(1, 20).as("devoweled_prefix"))
        .orderBy("doc_id")),

    Gate("q33_range_join", """SELECT p.event_id, p.user_id,
        |  (SELECT count(*) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts) AS n_matches
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin, (s, dir) => {
      // banded interval join: clicks within 30 min before each purchase
      val ev = t(s, dir, "events")
      graft.operators.RangeJoin.countPreceding(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", 1800L, "event_id")
        .select("event_id", "user_id", "n_matches")
        .orderBy("event_id")
    }),

    Gate("q34_stratified_sample", """SELECT doc_id, lang FROM documents
        |WHERE substring(sha256('strat' || CAST(doc_id AS VARCHAR)), 1, 2) <=
        |  CASE WHEN lang = 'en' THEN '40' WHEN lang = 'de' THEN '20' ELSE '0a' END
        |ORDER BY doc_id""".stripMargin, (s, dir) =>
      // per-stratum reproducible sampling: language-dependent hash cut —
      // the data-mixing primitive (different keep-rates per source/lang)
      t(s, dir, "documents")
        .filter(substring(sha2(concat(lit("strat"), col("doc_id").cast("string")), 256), 1, 2) <=
          when(col("lang") === "en", "40").when(col("lang") === "de", "20").otherwise("0a"))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    Gate("q37_range_window", """SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_7d_total,
        |  COUNT(*) OVER w AS trailing_7d_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // value-based (RANGE) sliding window: per customer, the trailing
      // 7-day order total — microsecond frame bounds so the inclusive
      // interval arithmetic is bit-identical to the oracle's INTERVAL
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
        .rangeBetween(-7L * 86400L * 1000000L, 0L)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("order_ts"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("trailing_7d_total"),
        count(lit(1)).over(w).cast("long").as("trailing_7d_orders"))
        .orderBy("o_orderkey")
    }),

    Gate("q38_upsert", """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice
        |FROM orders WHERE o_orderkey % 13 <> 0
        |ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // CDC merge: a deterministic change stream derived from the base —
      // every 7th key a status update (v2), every 13th a delete
      // tombstone (v3, so update+delete keys resolve delete-wins)
      val orders = t(s, dir, "orders")
      val base = orders.withColumn("version", lit(1L))
      val updates = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("version", lit(2L))
      val deletes = orders.filter(col("o_orderkey") % 13 === 0)
        .withColumn("version", lit(3L))
        .withColumn("_deleted", lit(true))
      graft.operators.Upsert.latestWins(base,
        updates.withColumn("_deleted", lit(false)).unionByName(deletes),
        keyCols = Seq("o_orderkey"), versionCol = "version", tieCol = "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    Gate("q39_bloom_join", """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin, (s, dir) => {
      // runtime-filter join: bloom of the selective dim side prunes the
      // fact scan BEFORE the shuffle; exact join removes false positives,
      // so the plain-join oracle applies
      val dim = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      graft.operators.BloomJoin.prunedJoin(
        t(s, dir, "orders"), "o_custkey", dim, "c_custkey",
        expectedItems = 100000L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    Gate("q40_window_funcs", """SELECT o_orderkey, o_custkey,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key,
        |  lead(o_orderkey, 1) OVER w AS next_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // ranking/distribution/navigation window breadth beyond q7:
      // ntile, percent_rank, cume_dist, first/nth value, lead
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        first(col("o_orderkey")).over(w).as("first_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"))
        .orderBy("o_orderkey")
    }),

    Gate("q41_grouped_percentile", """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin, (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    Gate("q42_minmax_by", """SELECT o_orderstatus,
        |  arg_max(o_totalprice, o_orderkey) AS latest_price,
        |  arg_min(o_totalprice, o_orderkey) AS first_price,
        |  max(o_totalprice) AS max_price,
        |  count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin, (s, dir) =>
      // argmin/argmax aggregates over a UNIQUE ordering key (o_orderkey),
      // so both engines pick the same row deterministically
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(max_by(col("o_totalprice"), col("o_orderkey")).as("latest_price"),
          min_by(col("o_totalprice"), col("o_orderkey")).as("first_price"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")),

    Gate("q43_partitioned_source", """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
        |  count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin, (s, dir) => {
      // date-partitioned layout round-trip: write events partitioned by
      // day (Tables.writeDatePartitioned), read the directory tree back,
      // aggregate per partition value. Partition PRUNING on this layout
      // is plan-asserted in PlanSpec; this gates the layout's round-trip
      // correctness against DuckDB on the original table.
      val out = s"${graft.Scratch.dir}/q43_part_events"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("value"))
      graft.sources.Tables.writeDatePartitioned(ev, "ts", out)
      s.read.parquet(out)
        .groupBy(date_format(col("dt"), "yyyy-MM-dd").as("dt"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
        .orderBy("dt")
    }),

    Gate("q44_bucketed_join", """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin, (s, dir) => {
      // bucketed-layout join: both sides pre-bucketed on the join key
      // (Tables.writeBucketed), so the join needs no exchange — the
      // co-located fact-fact join shape at 100 TB (shuffle-freeness is
      // plan-asserted in PlanSpec; the result gates against a plain join)
      graft.sources.Tables.writeBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "q44_orders_b", "o_custkey", 8)
      graft.sources.Tables.writeBucketed(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        "q44_customer_b", "c_custkey", 8)
      val o = s.table("q44_orders_b")
      val c = s.table("q44_customer_b")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_mktsegment")
    }),

    Gate("q45_salted_join", """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin, (s, dir) =>
      // skew-safe replicated join: the big side salts, the small side
      // replicates per salt — result identical to the plain join, so the
      // plain-SQL oracle applies (equivalence also spec'd in SaltingSpec)
      graft.operators.Salting.saltedJoin(
        t(s, dir, "orders"), t(s, dir, "customer"),
        "o_custkey", "c_custkey", saltSrc = "o_orderkey", salts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_mktsegment")),

    Gate("q24_sample_hash", """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substring(sha256(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '14'
        |ORDER BY o_orderkey""".stripMargin, (s, dir) =>
      // Deterministic, engine-portable sampling: sha2 of the key is
      // identical everywhere, so the ~8% sample is reproducible across
      // engines, runs and cluster sizes — the property a training-data
      // pipeline needs for holdout splits.
      t(s, dir, "orders")
        .filter(substring(sha2(col("o_orderkey").cast("string"), 256), 1, 2) <= "14")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    Gate("q46_schema_evolution", """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus ELSE 'N/A' END AS status
        |FROM orders ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // schema-evolution round-trip: later files of a dataset carry an
      // ADDED column (the standard lakehouse evolution path — at 100 TB
      // nobody rewrites old files when a column appears). mergeSchema
      // unions the per-file schemas; pre-evolution rows read the new
      // column as NULL, which the query must handle explicitly.
      val out = s"${graft.Scratch.dir}/q46_evolving_orders"
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(out)
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("append").parquet(out)
      graft.sources.Tables.openMerged(s, out)
        .select(col("o_orderkey"), col("o_totalprice"),
          coalesce(col("o_orderstatus"), lit("N/A")).as("status"))
        .orderBy("o_orderkey")
    }),

    Gate("q47_page_last", """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey
        |LIMIT 37
        |OFFSET (SELECT 37 * (CAST(ceil(count(*) / 37.0) AS BIGINT) - 1)
        |        FROM orders)""".stripMargin, (s, dir) => {
      // the paginator's jump-to-last flow under a driver hash: totalPages
      // derives from a count with the page-size ceiling, lastPage re-sorts
      // and offsets to (totalPages-1)*size — reference first/last/goto
      // paging (duckdb-paginator.ts:29-60). Page size 37 leaves a partial
      // final page, so the ceil arithmetic is what's actually gated. The
      // sort field is the unique key, making the pure-SQL mirror exact
      // (the hash tiebreaker for non-unique sorts is spec-covered in
      // QuerySurfaceSpec).
      import graft.query.{PageRequest, Paginator, SortSpec}
      val p = new Paginator(t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"))
      p.lastPage(PageRequest(pageSize = Some(37),
        sort = Some(SortSpec("o_orderkey", ascending = true))))
    }),

    // the keyset walk's page 11 must equal the offset page exactly —
    // seek is a pure execution-strategy change, never a semantic one
    Gate("q56_page_keyset", """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey
        |LIMIT 100 OFFSET 1000""".stripMargin, (s, dir) => {
      // keyset (seek) pagination, gated as a DEEP WALK: ten pages of 100
      // are traversed purely by cursor — each step filters on the
      // last-seen (sort value, tiebreaker) and takes a top-k, never
      // paying an offset (Paginator.pageAfter; plan shape asserted in
      // PlanSpec: pushed filter + TakeOrderedAndProject of ONE page).
      // This is the 100 TB answer to the reference's LIMIT/OFFSET
      // next-page (duckdb-paginator.ts:29-60): O(page) at any depth. The
      // sort field is unique, so the pure-SQL offset mirror is exact;
      // keyset == offset for non-unique sorts is spec-covered in
      // QuerySurfaceSpec.
      import graft.query.{PageRequest, Paginator, SortSpec}
      val p = new Paginator(t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"))
      val req = PageRequest(pageSize = Some(100),
        sort = Some(SortSpec("o_orderkey", ascending = true)))
      var cur = p.cursorOfPage(req) // end of page 1
      (0 until 9).foreach { _ => cur = p.cursorOfPage(req, cur) }
      p.pageAfter(req, cur.get) // page 11: rows 1000..1099 (in range at every SF)
    }),

    // two-column lexicographic order, unique on (priority, orderkey):
    // the multi-column cursor walk is a pure execution-strategy change
    Gate("q59_page_keyset_multi", """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |ORDER BY o_orderpriority DESC, o_orderkey
        |LIMIT 100 OFFSET 700""".stripMargin, (s, dir) => {
      // MULTI-COLUMN keyset pagination: real grids sort by (colA, colB) —
      // the cursor is a sort-VALUE VECTOR, the seek filter the
      // lexicographic "after" disjunction, and the redundant pushed range
      // conjunct rides the LEADING column (Paginator.atOrAfterCursor).
      // Gate: a 7-page pure-cursor walk under (o_orderpriority DESC,
      // o_orderkey ASC), then page 8 — (priority, orderkey) is unique, so
      // the pure-SQL offset mirror is exact; mixed directions and
      // duplicate rows are spec-covered in QuerySurfaceSpec. The walk
      // rides the fused SERVING path (pageWithCursor: page + next cursor
      // from one top-k job each — spec-asserted one-job-per-page and
      // cursor-identical to cursorOfPage), so the 7 steps cost 7 jobs.
      import graft.query.{PageRequest, Paginator, SortSpec}
      val p = new Paginator(t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice"))
      val req = PageRequest(pageSize = Some(100), sorts = Seq(
        SortSpec("o_orderpriority", ascending = false),
        SortSpec("o_orderkey", ascending = true)))
      var cur = p.pageWithCursor(req)._2 // end of page 1
      (0 until 6).foreach { _ => cur = p.pageWithCursor(req, cur)._2 }
      p.pageAfter(req, cur.get) // page 8: rows 700..799 of the 2-col order
    }),

    // the stats-bounded walk serves the same pages as plain offsets on
    // the unique key — file pruning is an I/O bound, not a semantics one
    Gate("q63_page_keyset_stats", """WITH a AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  ORDER BY o_orderkey LIMIT 100 OFFSET 1000),
        |d AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  ORDER BY o_orderkey DESC LIMIT 100 OFFSET 200)
        |SELECT 'asc' AS dirn, * FROM a
        |UNION ALL
        |SELECT 'desc' AS dirn, * FROM d
        |ORDER BY dirn, o_orderkey""".stripMargin, (s, dir) => {
      // FILE-BOUNDED keyset pagination: q56/q59's cursor walk still top-ks
      // the whole remainder past the cursor every page; on a key-clustered
      // snapshot table with per-file [min,max,n_rows,nulls] stats the page
      // becomes file-bounded — the walk reads only the 2-3 files that
      // provably contain it, at ANY table size (SkippingIndex.KeysetWalk;
      // flatness across a 10x corpus: the keyset_page row of the
      // committed BENCH_sf1_r13.json).
      // Gate: an 11-page ascending walk and a 3-page descending walk over
      // a snapshot of orders ([[Fixtures.walkedPages]]); both final pages
      // mirror pure-SQL offsets on the unique key. Stats collect once per
      // walk (from the attached index); each page is one bounded job.
      val tdir = Scratch.fresh(s, "q63_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 12)
      SnapshotTable.attachStats(s, tdir, Seq("o_orderkey"))
      Fixtures.walkedPages(SnapshotTable.keysetWalk(s, tdir, "o_orderkey"), "o_orderkey")
        .select("dirn", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("dirn", "o_orderkey")
    }),

    // the string-key stats-bounded walk serves the same pages as plain
    // offsets on the zero-padded unique key
    Gate("q64_page_keyset_str", """WITH b AS (
        |  SELECT 'K' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0') AS okey,
        |    o_custkey, o_totalprice
        |  FROM orders),
        |a AS (SELECT * FROM b ORDER BY okey LIMIT 100 OFFSET 1000),
        |d AS (SELECT * FROM b ORDER BY okey DESC LIMIT 100 OFFSET 200)
        |SELECT 'asc' AS dirn, * FROM a
        |UNION ALL
        |SELECT 'desc' AS dirn, * FROM d
        |ORDER BY dirn, okey""".stripMargin, (s, dir) => {
      // q63's FILE-BOUNDED keyset pagination under a STRING key — the
      // shape a real paging user (string doc_ids) hits first: per-file
      // STRING bounds attached from the BINARY/UTF8 footer stats of the
      // pinned snapshot, walked in UTF8String (unsigned byte) order
      // (exactness across the UTF-16/UTF-8 supplementary-character
      // divergence is spec-asserted). Zero-padded keys make lexicographic
      // order == numeric order, so the range-clustered layout gives tight
      // per-file bands and both final pages mirror pure-SQL offsets.
      val tdir = Scratch.fresh(s, "q64_table")
      val base = t(s, dir, "orders")
        .select(concat(lit("K"), lpad(col("o_orderkey").cast("string"), 9, "0")).as("okey"),
          col("o_custkey"), col("o_totalprice"))
      Fixtures.snapshot(s, tdir, base, "okey", 12)
      SnapshotTable.attachStats(s, tdir, Seq("okey"))
      Fixtures.walkedPages(SnapshotTable.keysetWalk(s, tdir, "okey"), "okey")
        .select("dirn", "okey", "o_custkey", "o_totalprice")
        .orderBy("dirn", "okey")
    }),

    // both snapshots replayed from orders alone: v1 is the base, v3 the
    // merged truth (updates/deletes/inserts by key mod 10) — commit,
    // file-pruned merge and compaction must all be content-invisible
    Gate("q57_snapshot", s"""WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         |${Fixtures.mixedSql("o_custkey", "o_custkey + 1000000")}
         |SELECT CAST(1 AS BIGINT) AS snap, * FROM b
         |UNION ALL
         |SELECT CAST(3 AS BIGINT) AS snap, * FROM mixed
         |ORDER BY snap, o_orderkey""".stripMargin, (s, dir) => {
      // versioned snapshot table, end-to-end: v1 = orders (key-clustered
      // files), v2 = file-pruned latest-wins upsert (updates for keys
      // ≡3 mod 10, tombstone deletes for ≡7, inserts at key+10M for ≡1),
      // v3 = compaction of v2. The gate reads BOTH v1 and v3 AFTER the
      // compaction — the pinned v1 snapshot must still equal the
      // pre-upsert truth (its files are untouched until vacuum), and v3
      // must equal the merged truth however the files were rewritten.
      // Both versions are plain SQL over orders, so the whole
      // manifest/commit/merge/compact machinery driver-hashes.
      val tdir = Scratch.fresh(s, "q57_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      val changes = Fixtures.changeMix(base, "o_custkey",
        col("o_custkey") + lit(1000000L))
      SnapshotTable.upsert(s, tdir, changes, "o_orderkey", "commit_v", "o_custkey")
      SnapshotTable.compact(s, tdir, targetRecords = 4096L)
      val v1 = SnapshotTable.read(s, tdir, Some(1L)).withColumn("snap", lit(1L))
      val v3 = SnapshotTable.read(s, tdir, Some(3L)).withColumn("snap", lit(3L))
      v1.unionByName(v3)
        .select("snap", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("snap", "o_orderkey")
    }),

    // schema evolution: v1 (old schema, read through an explicit NULL
    // column) and the evolved v2 replayed from orders — changed rows
    // carry the new column's values (inserts sit at key + 10M), every
    // surviving base row NULL
    Gate("q62_snapshot_evolve", s"""WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         |${Fixtures.mixedSql("o_custkey", "o_custkey + 1000000")}
         |SELECT CAST(1 AS BIGINT) AS snap, o_orderkey, o_custkey,
         |  o_totalprice, CAST(NULL AS VARCHAR) AS o_flag FROM b
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS snap, *,
         |  CASE WHEN o_orderkey % 10 = 3 THEN 'upd'
         |       WHEN o_orderkey >= 10000000 THEN 'ins' END AS o_flag
         |FROM mixed
         |ORDER BY snap, o_orderkey""".stripMargin, (s, dir) => {
      // SCHEMA EVOLUTION (ADD COLUMN) end-to-end: the upsert's change set
      // carries a column the table lacks (`o_flag`) — it joins version
      // 2's committed schema (manifest header), untouched files are
      // REUSED (never rewritten) and NULL-backfill it at read, and the
      // pinned v1 read keeps the OLD schema (spec-asserted in
      // SnapshotTableSpec; the gate reads v1 through an explicit NULL
      // column so both versions union and hash). Change mix: updates
      // (keys ≡3 mod 10, flagged 'upd'), tombstones (≡7), inserts at
      // key+10M (≡1, flagged 'ins'); every surviving base row — merged
      // or reused — must serve o_flag = NULL.
      val tdir = Scratch.fresh(s, "q62_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      val m = pmod(col("o_orderkey"), lit(10))
      val changes = Fixtures.changeMix(base, "o_custkey",
          col("o_custkey") + lit(1000000L))
        .withColumn("o_flag", when(m === 3, "upd").when(m === 1, "ins"))
      SnapshotTable.upsert(s, tdir, changes, "o_orderkey", "commit_v", "o_custkey")
      val v1 = SnapshotTable.read(s, tdir, Some(1L)).withColumn("snap", lit(1L))
        .withColumn("o_flag", lit(null).cast("string"))
      val v2 = SnapshotTable.read(s, tdir, Some(2L)).withColumn("snap", lit(2L))
      v1.select("snap", "o_orderkey", "o_custkey", "o_totalprice", "o_flag")
        .unionByName(
          v2.select("snap", "o_orderkey", "o_custkey", "o_totalprice", "o_flag"))
        .orderBy("snap", "o_orderkey")
    }),

    // the z-order-compacted snapshot scan must equal the plain filter —
    // clustering is a pure layout change, never a semantic one
    Gate("q67_snapshot_zorder", """SELECT l_partkey, count(*) AS n,
        |  CAST(sum(l_suppkey) AS BIGINT) AS sum_suppkey,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin, (s, dir) => {
      // LAYOUT MAINTENANCE on the snapshot path, end to end: a lineitem
      // snapshot re-clustered by z-order compaction
      // (SnapshotTable.compact(zOrderOn) — the OPTIMIZE ZORDER BY face),
      // then range-scanned through the version's attached stats
      // (attachStats + scanBetween). The clustering pass must be
      // CONTENT-INVISIBLE (the scan equals the plain filter however the
      // files were rewritten — the oracle is the plain filter over
      // lineitem) while the rewrite makes per-file l_partkey bands tight
      // enough to skip; the skip itself is an I/O property
      // (spec-asserted for Layout + SnapshotTable stats), never a
      // semantic one.
      val tdir = Scratch.fresh(s, "q67_table")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      // created UNCLUSTERED in the key (orderkey ranges): the z-order
      // compaction is what makes partkey scans skippable
      Fixtures.snapshot(s, tdir, li, "l_orderkey", 12)
      SnapshotTable.compact(s, tdir, targetRecords = 8192L,
        zOrderOn = Some(("l_partkey", "l_suppkey", 8)))
      SnapshotTable.attachStats(s, tdir, Seq("l_partkey"))
      val (scan, _) = SnapshotTable.scanBetween(s, tdir, "l_partkey", 100L, 300L)
      scan.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          sum("l_suppkey").cast("long").as("sum_suppkey"),
          sum("l_orderkey").cast("long").as("sum_orderkey"))
        .orderBy("l_partkey")
    }),

    // identical sorted-fold means, identical dense spine, identical ffill
    Gate("q74_resample", """WITH e AS (SELECT event_type AS series, date_trunc('hour', ts) AS bucket,
        |             "value"::DOUBLE AS v FROM events),
        |a AS (SELECT series, bucket,
        |        CASE WHEN count(v) > 0 THEN
        |          list_reduce(list_prepend(0.0,
        |              list_sort(list(v) FILTER (WHERE v IS NOT NULL))),
        |            (x, y) -> x + y) / count(v)
        |        END AS avg_v,
        |        count(*) AS n
        |      FROM e GROUP BY series, bucket),
        |b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM a),
        |sp AS (SELECT s.series, g.bucket
        |       FROM (SELECT DISTINCT series FROM a) s
        |       CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM b),
        |                     (SELECT hi FROM b), INTERVAL 1 HOUR)) AS bucket) g),
        |j AS (SELECT sp.series, sp.bucket, coalesce(a.n, 0) AS n, a.avg_v
        |      FROM sp LEFT JOIN a USING (series, bucket))
        |SELECT series, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
        |  CAST(n AS BIGINT) AS n, round(avg_v, 4) AS avg_v,
        |  round(last_value(avg_v IGNORE NULLS) OVER (
        |    PARTITION BY series ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS avg_v_ff
        |FROM j ORDER BY series, bucket""".stripMargin, (s, dir) => {
      // hourly resample with gap fill + forward fill over the 5
      // event_type series: dense regular grid (n=0 buckets explicit),
      // per-bucket mean via the SORTED fold (bit-identical across
      // engines/partitionings), ffill = last non-null over the dense
      // grid, NULL before a series' first observation
      graft.operators.EventAnalytics.resampleHourly(t(s, dir, "events"),
        "event_type", "ts", "value")
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("avg_v", round(col("avg_v"), 4))
        .withColumn("avg_v_ff", round(col("avg_v_ff"), 4))
    }),

    // the bloom-pruned point lookup must equal the plain equality filter
    Gate("q73_point_bloom", """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey = 97
        |ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // per-file BLOOM index point lookup — the skipping face min/max
      // stats can't serve: the table is clustered by o_orderkey, the
      // lookup is on o_custkey (every file's custkey [min,max] spans the
      // domain — range stats keep everything; the bloom keeps only files
      // that might hold the value, no false negatives, residual filter
      // removes false positives). Oracle = the plain equality filter:
      // skipping is an I/O property, never a semantic one (prune
      // evidence spec-asserted in SkippingIndex/SnapshotTable specs).
      val tdir = Scratch.fresh(s, "q73_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.create(s,
        base.repartitionByRange(12, col("o_orderkey")), tdir)
      SnapshotTable.attachBloom(s, tdir, "o_custkey",
        expectedItemsPerFile = 4096L)
      val (scan, _) = SnapshotTable.lookupPoint(s, tdir, "o_custkey", 97L)
      scan.orderBy("o_orderkey")
    }),

    // both lookups served through the INCREMENTALLY-maintained bloom
    // index must equal the plain equality filters over the merged truth
    Gate("q77_point_bloom_inc", """WITH m AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 500 AND 700
        |       THEN 9999999 ELSE o_custkey END AS o_custkey,
        |  o_totalprice FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM m
        |WHERE o_custkey IN (9999999, 97)
        |ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // INCREMENTAL bloom maintenance end to end (the attachStats
      // sibling for point indexes): v1 = orders key-clustered + bloom on
      // the non-clustered o_custkey, v2 = narrow upsert planting a rare
      // value, then attachBloomIncremental REUSES every untouched file's
      // bitmap and bloom-scans only v2's new files (reuse counts and
      // row-identity to a full build spec-asserted in SnapshotTableSpec).
      // The gate serves two lookups THROUGH the incremental index — the
      // planted value (lives only in rewritten files) and a pre-existing
      // one (served by REUSED bitmaps): a stale or missing reused bitmap
      // is a false negative and hash-mismatches the plain filter replay.
      val tdir = Scratch.fresh(s, "q77_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 12)
      SnapshotTable.attachBloom(s, tdir, "o_custkey",
        expectedItemsPerFile = 4096L)
      val changes = base.filter(col("o_orderkey").between(500L, 700L))
        .withColumn("o_custkey", lit(9999999L))
        .withColumn("commit_v", lit(1L))
        .withColumn("_deleted", lit(false))
      SnapshotTable.upsert(s, tdir, changes, "o_orderkey", "commit_v", "o_custkey")
      SnapshotTable.attachBloomIncremental(s, tdir, "o_custkey",
        expectedItemsPerFile = 4096L)
      val (planted, _) = SnapshotTable.lookupPoint(s, tdir, "o_custkey", 9999999L)
      val (reusedServe, _) = SnapshotTable.lookupPoint(s, tdir, "o_custkey", 97L)
      planted.unionByName(reusedServe)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // identical state machine over the identically-sorted per-user list:
    // strict-sequence funnel depth (bitmask step encoding — the same
    // fold the Spark side runs), then exact depth histogram
    Gate("q71_funnel", """WITH e AS (SELECT user_id AS u,
        |             struct_pack(ts := ts, id := event_id, t := event_type) AS ev
        |           FROM events
        |           WHERE event_type IN ('view', 'click', 'purchase')),
        |a AS (SELECT u, list_sort(list(ev)) AS evs FROM e GROUP BY u),
        |d AS (SELECT u, list_reduce(
        |        list_prepend({'st': CAST(0 AS BIGINT), 't0': CAST(NULL AS TIMESTAMP)},
        |          list_transform(evs, x ->
        |            {'st': CASE x.t WHEN 'view' THEN CAST(1 AS BIGINT)
        |                            WHEN 'click' THEN CAST(2 AS BIGINT)
        |                            WHEN 'purchase' THEN CAST(4 AS BIGINT)
        |                            ELSE CAST(0 AS BIGINT) END,
        |             't0': x.ts})),
        |        (acc, x) -> CASE WHEN acc.st < 3
        |            AND (x.st & (CAST(1 AS BIGINT) << CAST(acc.st AS INTEGER))) != 0
        |          THEN {'st': CAST(acc.st + 1 AS BIGINT),
        |                't0': CASE WHEN acc.st = 0 THEN x.t0 ELSE acc.t0 END}
        |          ELSE acc END).st AS depth
        |      FROM a)
        |SELECT depth, count(*) AS n_users FROM d
        |GROUP BY depth ORDER BY depth""".stripMargin, (s, dir) => {
      // ordered funnel (view -> click -> purchase): depth = how far each
      // user gets IN ORDER (step k counts only events after the event
      // completing step k-1). One shuffle + a codegen'd fold over the
      // time-sorted per-user array — not the k-way self-join. The oracle
      // replays the identical state machine over the identically-sorted
      // list, so the strict-sequence semantics hash-match end to end.
      graft.operators.EventAnalytics.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id",
        Seq("view", "click", "purchase"))
    }),

    // the SQL-face funnel is the same plan as q71 — same oracle replay
    Gate("q85_funnel_sql", """WITH e AS (SELECT user_id AS u,
        |             struct_pack(ts := ts, id := event_id, t := event_type) AS ev
        |           FROM events
        |           WHERE event_type IN ('view', 'click', 'purchase')),
        |a AS (SELECT u, list_sort(list(ev)) AS evs FROM e GROUP BY u),
        |d AS (SELECT u, list_reduce(
        |        list_prepend({'st': CAST(0 AS BIGINT), 't0': CAST(NULL AS TIMESTAMP)},
        |          list_transform(evs, x ->
        |            {'st': CASE x.t WHEN 'view' THEN CAST(1 AS BIGINT)
        |                            WHEN 'click' THEN CAST(2 AS BIGINT)
        |                            WHEN 'purchase' THEN CAST(4 AS BIGINT)
        |                            ELSE CAST(0 AS BIGINT) END,
        |             't0': x.ts})),
        |        (acc, x) -> CASE WHEN acc.st < 3
        |            AND (x.st & (CAST(1 AS BIGINT) << CAST(acc.st AS INTEGER))) != 0
        |          THEN {'st': CAST(acc.st + 1 AS BIGINT),
        |                't0': CASE WHEN acc.st = 0 THEN x.t0 ELSE acc.t0 END}
        |          ELSE acc END).st AS depth
        |      FROM a)
        |SELECT depth, count(*) AS n_users FROM d
        |GROUP BY depth ORDER BY depth""".stripMargin, (s, dir) => {
      // the funnel through its SQL FACE: registered as a table-valued
      // function (GraftExtensions.tableFunctions) and invoked from a
      // plain FROM clause — the reference's own interface is SQL, so
      // event analytics must be reachable without Scala. The TVF builder
      // resolves the view and returns the SAME analyzed plan the q71
      // Dataset path builds; both faces share one oracle.
      graft.GraftExtensions.register(s)
      t(s, dir, "events").createOrReplaceTempView("events_q85")
      s.sql(
        """SELECT * FROM graft_funnel('events_q85', 'user_id', 'ts',
          |'event_type', 'event_id', 'view,click,purchase')""".stripMargin)
    }),

    // the REPEATED-STEP + conversion-window funnel replayed by the same
    // greedy bitmask fold: view→click→view→purchase (view fills
    // positions 1 AND 3 → mask 5), steps 2..4 bounded to 14 days after
    // the event completing step 1
    Gate("q75_funnel_repeat", """WITH e AS (SELECT user_id AS u,
        |             struct_pack(ts := ts, id := event_id, t := event_type) AS ev
        |           FROM events
        |           WHERE event_type IN ('view', 'click', 'purchase')),
        |a AS (SELECT u, list_sort(list(ev)) AS evs FROM e GROUP BY u),
        |d AS (SELECT u, list_reduce(
        |        list_prepend({'st': CAST(0 AS BIGINT), 't0': CAST(NULL AS TIMESTAMP)},
        |          list_transform(evs, x ->
        |            {'st': CASE x.t WHEN 'view' THEN CAST(5 AS BIGINT)
        |                            WHEN 'click' THEN CAST(2 AS BIGINT)
        |                            WHEN 'purchase' THEN CAST(8 AS BIGINT)
        |                            ELSE CAST(0 AS BIGINT) END,
        |             't0': x.ts})),
        |        (acc, x) -> CASE WHEN acc.st < 4
        |            AND (x.st & (CAST(1 AS BIGINT) << CAST(acc.st AS INTEGER))) != 0
        |            AND (acc.st = 0 OR x.t0 <= acc.t0 + INTERVAL 14 DAY)
        |          THEN {'st': CAST(acc.st + 1 AS BIGINT),
        |                't0': CASE WHEN acc.st = 0 THEN x.t0 ELSE acc.t0 END}
        |          ELSE acc END).st AS depth
        |      FROM a)
        |SELECT depth, count(*) AS n_users FROM d
        |GROUP BY depth ORDER BY depth""".stripMargin, (s, dir) => {
      // REPEATED-step funnel with a conversion window: a step type may
      // recur (view→click→view→purchase — the bitmask encoding matches
      // an event against whatever position comes next, where the old
      // array_position encoding capped at the first repeat), and steps
      // 2..4 must land within 14 days of the event completing step 1.
      // Same single-shuffle greedy fold; the oracle replays it exactly.
      graft.operators.EventAnalytics.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id",
        Seq("view", "click", "view", "purchase"), withinDays = Some(14))
    }),

    // identical lag-gap flag + running session number + per-session
    // rollup; epoch-micros integer arithmetic, no float division
    Gate("q80_sessionize", """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS u, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, u,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY u, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |      FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events, min(u) AS session_start_us,
        |  max(u) - min(u) AS duration_us
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin, (s, dir) => {
      // gap-based sessionization (30-min inactivity window): one hash
      // shuffle on user feeds the lag-gap flag, the running session
      // number AND the per-session rollup (HashPartitioning(user)
      // clusters (user, session) — no second exchange). Epoch-micros
      // integer arithmetic end to end, so both engines agree exactly.
      graft.operators.EventAnalytics.sessionize(t(s, dir, "events"),
        "user_id", "ts", "event_id", gapSeconds = 1800L)
        .orderBy("user_id", "session_idx")
    }),

    // the same running struct-max fill-forward of the last touch (max
    // ignores NULLs in both engines; struct order = (ts, type, id), so
    // "latest" and same-instant ties resolve identically)
    Gate("q81_attribution", """WITH e AS (SELECT user_id, epoch_us(ts) AS u, event_id, event_type
        |           FROM events
        |           WHERE event_type IN ('view', 'click', 'purchase')),
        |t AS (SELECT *,
        |        max(CASE WHEN event_type IN ('view', 'click')
        |              THEN {'ts_us': u, 't': event_type, 'id': event_id} END)
        |          OVER (PARTITION BY user_id ORDER BY u, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |      FROM e)
        |SELECT event_id AS conversion_id, user_id, touch.t AS touch_type,
        |  touch.id AS touch_id, u - touch.ts_us AS gap_us
        |FROM t
        |WHERE event_type = 'purchase' AND touch IS NOT NULL
        |  AND u - touch.ts_us <= 7 * 86400000000
        |ORDER BY conversion_id""".stripMargin, (s, dir) => {
      // last-touch attribution: each purchase binds to the user's
      // latest preceding view/click within 7 days — the carried touch
      // is a running struct-max (portable ignore-NULLs fill-forward),
      // no self-join. Row-level assignment output: exact, no float
      // aggregation to diverge.
      graft.operators.EventAnalytics.attributeLastTouch(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        touchTypes = Seq("view", "click"), conversionType = "purchase",
        windowDays = 7)
        .orderBy("conversion_id")
    }),

    // identical lead window over the identically-ordered timeline
    Gate("q82_path_transitions", """WITH t AS (SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n FROM t
        |WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin, (s, dir) => {
      // Markov transition counts over each user's event timeline: one
      // shuffle + one lead window + a tiny-domain groupBy. The Sankey/
      // next-action primitive of product analytics.
      graft.operators.EventAnalytics.pathTransitions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("from_type", "to_type")
    }),

    // first-touch day per user, then distinct actives per (cohort, offset)
    Gate("q72_cohort", """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |           FROM events GROUP BY user_id)
        |SELECT f.cohort_day,
        |  date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, (s, dir) => {
      // cohort retention triangle: users bucketed by first-event day,
      // distinct actives per (cohort day, day offset). First-touch via a
      // partition-only window — the events table is scanned once and
      // shuffled once (the join formulation scans it twice).
      graft.operators.EventAnalytics.cohortRetention(t(s, dir, "events"),
        "user_id", "ts")
        .withColumn("day_offset", col("day_offset").cast("long"))
    }),

    // the q72 exact triangle with the q50 tolerance scheme: exact
    // distincts ride cross-engine; est_ok checks each engine's OWN
    // sketch (DuckDB's approx_count_distinct vs the persisted merged
    // DataSketches HLL) against the same exact counts
    Gate("q76_cohort_sketch", """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |           FROM events GROUP BY user_id)
        |SELECT f.cohort_day,
        |  date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
        |  count(DISTINCT e.user_id) AS exact_users,
        |  abs(approx_count_distinct(e.user_id) - count(DISTINCT e.user_id))
        |    / count(DISTINCT e.user_id) <= 0.05 AS est_ok
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, (s, dir) => {
      // the 100 TB face of q72: the retention triangle served from
      // PERSISTED per-(cohort_day, day_offset) HLL sketches — cohort
      // assignment derives once (same single-scan window as q72), the
      // ACTIVITY merges into the store in two arrival batches (event-id
      // parity — hll_union makes batching invisible, the q50
      // mergeable-summaries property), and the served estimates are
      // checked against exact distincts with the q50 tolerance-boolean
      // scheme (each engine validates its OWN sketch; exact counts ride
      // along cross-engine-hashable).
      import graft.operators.EventAnalytics
      import graft.streaming.SketchRollup
      val store = Scratch.fresh(s, "q76_sketches")
      val ev = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val assigned = ev
        .select(col("user_id"), col("event_id"), to_date(col("ts")).as("day"))
        .withColumn("cohort_day", min(col("day")).over(w))
        .withColumn("day_offset",
          datediff(col("day"), col("cohort_day")).cast("long"))
        .localCheckpoint(true)
      SketchRollup.mergeKeyedInto(s,
        assigned.filter(pmod(col("event_id"), lit(2L)) === 0L),
        Seq("cohort_day", "day_offset"), "user_id", store)
      SketchRollup.mergeKeyedInto(s,
        assigned.filter(pmod(col("event_id"), lit(2L)) === 1L),
        Seq("cohort_day", "day_offset"), "user_id", store)
      val served = EventAnalytics.cohortRetentionFromSketches(s, store)
      val exact = assigned.groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      served.join(exact, Seq("cohort_day", "day_offset"))
        .select(col("cohort_day"), col("day_offset"), col("exact_users"),
          (abs(col("est_users") - col("exact_users"))
            / col("exact_users") <= 0.05).as("est_ok"))
        .orderBy("cohort_day", "day_offset")
    }),

    // a range scan served through the incrementally-maintained stats
    // index must equal the plain filter over the merged truth
    Gate("q70_snapshot_stats_inc", s"""SELECT o_orderkey,
        |  ${Fixtures.narrowCustkeySql},
        |  o_totalprice
        |FROM orders WHERE o_orderkey BETWEEN 400 AND 900
        |ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // INCREMENTAL stats maintenance on the snapshot path, end to end:
      // v1 = orders key-clustered + full stats build, v2 = narrow upsert
      // (a few files rewritten), then attachStatsIncremental REUSES the
      // untouched files' stats rows and footer-scans only v2's new files
      // (O(new files) per commit — the property that keeps index
      // maintenance flat at millions of files; reuse counts
      // spec-asserted in SnapshotTableSpec). The gate serves a range
      // scan THROUGH the incrementally-built index — a stale or wrong
      // reused row yields wrong rows and hash-mismatches the plain
      // filter replay.
      val tdir = Scratch.fresh(s, "q70_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 12)
      SnapshotTable.attachStats(s, tdir, Seq("o_orderkey"))
      Fixtures.narrowUpsert(s, tdir, base)
      SnapshotTable.attachStatsIncremental(s, tdir, Seq("o_orderkey"))
      val (scan, _) = SnapshotTable.scanBetween(s, tdir, "o_orderkey", 400L, 900L)
      scan.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // pinned v1 = the pre-delete truth; v2 = DELETE FROM semantics
    // (rows deleted only where the predicate is TRUE)
    Gate("q68_snapshot_delete", """WITH v1 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |            FROM orders),
        |v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |       FROM orders
        |       WHERE NOT (o_orderkey BETWEEN 1000 AND 3000
        |                  AND o_orderstatus = 'F'))
        |SELECT CAST(1 AS BIGINT) AS snap, * FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS snap, * FROM v2
        |ORDER BY snap, o_orderkey""".stripMargin, (s, dir) => {
      // predicate DELETE on the snapshot path (DELETE FROM t WHERE ...),
      // end to end: v1 = orders key-clustered, v2 = copy-on-write delete
      // of a key band restricted by a non-key condition. The FIND scan
      // pushes the predicate to the parquet reader (row-group skip), the
      // REWRITE touches only files with matching rows, and the pinned v1
      // read must still equal the pre-delete truth — both versions are
      // plain SQL over orders, so the whole find/rewrite/commit path
      // driver-hashes. NULL-predicate rows are kept (SQL DELETE deletes
      // only where TRUE) — spec-asserted in SnapshotTableSpec.
      val tdir = Scratch.fresh(s, "q68_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.create(s,
        base.repartitionByRange(8, col("o_orderkey")), tdir)
      SnapshotTable.delete(s, tdir,
        col("o_orderkey").between(1000L, 3000L) && col("o_orderstatus") === "F")
      val v1 = SnapshotTable.read(s, tdir, Some(1L)).withColumn("snap", lit(1L))
      val v2 = SnapshotTable.read(s, tdir, Some(2L)).withColumn("snap", lit(2L))
      v1.unionByName(v2)
        .select("snap", "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("snap", "o_orderkey")
    }),

    // the as-of read at v1's publish instant is the pre-upsert truth;
    // the current read is the merged truth
    Gate("q79_snapshot_asof", narrowAsOfSql, (s, dir) => {
      // AS OF TIMESTAMP time travel end-to-end: v1 = orders, v2 = a
      // narrow upsert; readAsOf at v1's COMMIT INSTANT (the #committed:
      // header stamped inside the manifest — the exact value
      // versionAsOf keys on, strictly below v2's by construction, so
      // the resolution is deterministic at any commit cadence) must
      // resolve v1 and serve the PRE-upsert truth, while the current
      // read serves the merged truth. Both frames union into one gate
      // so a mis-resolved timestamp (v2 leaking into the as-of read, or
      // v1 serving post-upsert rows) hash-mismatches. Instant
      // monotonicity, mtime fallback and pre-create errors are spec'd
      // in SnapshotTableSpec.
      val tdir = Scratch.fresh(s, "q79_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      val v1PublishedAt = SnapshotTable.commitInstantOf(s, tdir, 1L)
      Fixtures.narrowUpsert(s, tdir, base)
      val asOf = SnapshotTable.readAsOf(s, tdir, v1PublishedAt)
        .withColumn("snap", lit(1L))
      val current = SnapshotTable.read(s, tdir).withColumn("snap", lit(2L))
      asOf.unionByName(current)
        .select("snap", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("snap", "o_orderkey")
    }),

    // the SQL-face time travel serves the same two truths as q79 —
    // same replay
    Gate("q87_snapshot_sql", narrowAsOfSql, (s, dir) => {
      // the lakehouse time-travel SQL FACE: graft_snapshot pins a
      // version from a plain FROM clause and graft_snapshot_asof
      // resolves an instant via the bisecting versionAsOf — one
      // spark.sql statement serves v1's pre-upsert truth (AS OF its
      // commit instant) unioned with the current merged truth; a
      // mis-resolved instant or a leaked version hash-mismatches.
      graft.GraftExtensions.register(s)
      val tdir = Scratch.fresh(s, "q87_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      val i1 = SnapshotTable.commitInstantOf(s, tdir, 1L)
      Fixtures.narrowUpsert(s, tdir, base)
      s.sql(
        s"""SELECT CAST(1 AS BIGINT) AS snap, o_orderkey, o_custkey,
           |  o_totalprice
           |FROM graft_snapshot_asof('$tdir', ${i1}L)
           |UNION ALL
           |SELECT CAST(2 AS BIGINT) AS snap, o_orderkey, o_custkey,
           |  o_totalprice
           |FROM graft_snapshot('$tdir')""".stripMargin)
        .orderBy("snap", "o_orderkey")
    }),

    // full recompute of the merged truth — the incrementally-refreshed
    // view must equal it exactly (cent-integer sums, no float order)
    Gate("q84_snapshot_mv", Fixtures.refreshedViewSql, (s, dir) => {
      // incrementally-maintained aggregate MATERIALIZED VIEW: create the
      // view at v1 (one full scan, paid once), upsert a mixed delta
      // (updates + inserts + deletes) into the table, refresh the view
      // from the CDC DELTA only — O(delta + |view|), no table rescan —
      // and serve it. Cent-integer sums make incremental maintenance
      // algebraically identical to recomputation, so the served view
      // hash-matches DuckDB's full recompute of the merged truth; any
      // drift (missed delete, double-applied update, float order) is a
      // mismatch. Refresh cost shape + no-op freshness spec'd.
      val tdir = Scratch.fresh(s, "q84_table")
      val mdir = Scratch.fresh(s, "q84_mv")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.refreshedView(s, tdir, mdir, base)
      MaterializedView.serve(s, mdir)
        .select(col("key").as("o_custkey"), col("n_rows"),
          col("sum_o_totalprice").as("sum_value"))
        .orderBy("o_custkey")
    }),

    // full recompute of the multi-aggregate view: per-column cents sums
    // and non-null-count-divided avgs, SQL NULL-sum semantics — the
    // incrementally-refreshed view must equal it exactly
    Gate("q86_mv_multi", """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_totalprice + 1.25 END AS o_fee
        |  FROM orders),
        |m AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 2.50
        |         ELSE o_fee END AS o_fee
        |  FROM b WHERE o_orderkey % 10 != 9)
        |SELECT o_custkey, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_o_totalprice,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / count(o_totalprice) AS avg_o_totalprice,
        |  CAST(sum(CAST(round(o_fee * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_o_fee,
        |  CAST(sum(CAST(round(o_fee * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / count(o_fee) AS avg_o_fee
        |FROM m GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin, (s, dir) => {
      // MULTI-AGGREGATE materialized view: one view maintains row count
      // plus per-column (non-null count, cents sum) for TWO value
      // columns, serving sum/avg each — the invertible-algebra family
      // (min/max deliberately excluded: no inverse). o_fee is NULL on
      // every 7th order key, so the avg's non-null-count divisor and the
      // SQL sum-of-nothing-is-NULL contract are both exercised; the
      // mixed upsert + delta-sized refresh (ignoreCols drops commit_v
      // churn) must equal DuckDB's full recompute exactly.
      val tdir = Scratch.fresh(s, "q86_table")
      val mdir = Scratch.fresh(s, "q86_mv")
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("o_totalprice") + lit(1.25)).as("o_fee"))
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      MaterializedView.create(s, tdir, mdir, "o_custkey",
        Seq("o_totalprice", "o_fee"))
      val upd = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_fee", col("o_totalprice") + lit(2.50))
        .withColumn("commit_v", lit(1L)).withColumn("_deleted", lit(false))
      val del = base.filter(col("o_orderkey") % 10 === 9)
        .withColumn("commit_v", lit(1L)).withColumn("_deleted", lit(true))
      SnapshotTable.upsert(s, tdir, upd.unionByName(del),
        "o_orderkey", "commit_v", "o_totalprice")
      MaterializedView.refresh(s, tdir, mdir, "o_orderkey", "o_custkey",
        Seq("o_totalprice", "o_fee"), ignoreCols = Seq("commit_v"))
      MaterializedView.serve(s, mdir)
        .select(col("key").as("o_custkey"), col("n_rows"),
          col("sum_o_totalprice"), col("avg_o_totalprice"),
          col("sum_o_fee"), col("avg_o_fee"))
        .orderBy("o_custkey")
    }),

    // v2 = merged truth WITH the status column; v4 = the post-drop,
    // post-second-upsert truth, status gone (NULL through the union)
    Gate("q91_snapshot_drop", s"""WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
         |             o_totalprice FROM orders),
         |${Fixtures.mixedSql("o_custkey", "o_custkey + 1000000")},
         |v4 AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 100.0
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM mixed)
         |SELECT CAST(2 AS BIGINT) AS snap, o_orderkey, o_custkey,
         |  o_totalprice, o_orderstatus FROM mixed
         |UNION ALL
         |SELECT CAST(4 AS BIGINT) AS snap, o_orderkey, o_custkey,
         |  o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus FROM v4
         |ORDER BY snap, o_orderkey""".stripMargin, (s, dir) => {
      // DROP COLUMN end-to-end (the pair of q62's ADD COLUMN): a
      // metadata-only commit removes o_orderstatus from the schema —
      // zero files rewritten, the pinned v2 read keeps the column WITH
      // its values, the post-drop read serves without it, and the table
      // stays writable (a further upsert lands on the narrowed schema).
      // The resurrection guard (re-adding a dropped name serves stale
      // values until compact) is spec-asserted in SnapshotTableSpec.
      val tdir = Scratch.fresh(s, "q91_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      val changes = Fixtures.changeMix(base, "o_custkey",
        col("o_custkey") + lit(1000000L))
      SnapshotTable.upsert(s, tdir, changes, "o_orderkey", "commit_v",
        "o_custkey")
      SnapshotTable.dropColumn(s, tdir, "o_orderstatus")
      // the table stays WRITABLE after the drop: a further upsert on
      // the narrowed schema commits v4
      val upd2 = base.filter(pmod(col("o_orderkey"), lit(10)) === 5)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("commit_v", lit(2L)).withColumn("_deleted", lit(false))
      SnapshotTable.upsert(s, tdir, upd2, "o_orderkey", "commit_v",
        "o_custkey")
      val v2 = SnapshotTable.read(s, tdir, Some(2L)).withColumn("snap", lit(2L))
      val v4 = SnapshotTable.read(s, tdir, Some(4L)).withColumn("snap", lit(4L))
        .withColumn("o_orderstatus", lit(null).cast("string"))
      v2.select("snap", "o_orderkey", "o_custkey", "o_totalprice",
          "o_orderstatus")
        .unionByName(v4.select("snap", "o_orderkey", "o_custkey",
          "o_totalprice", "o_orderstatus"))
        .orderBy("snap", "o_orderkey")
    }),

    // the SQL-served view equals q84's full recompute — same replay
    Gate("q93_mv_sql", Fixtures.refreshedViewSql, (s, dir) => {
      // the materialized view's SQL FACE: build + refresh the q84 view
      // through the Scala API, then SERVE it from a plain FROM clause —
      // `SELECT ... FROM graft_mv('<dir>')` returns the SAME analyzed
      // plan serve() builds (one code path, two faces), pinned to the
      // current committed view version. Same oracle as q84: the
      // SQL-served view must equal DuckDB's full recompute.
      graft.GraftExtensions.register(s)
      val tdir = Scratch.fresh(s, "q93_table")
      val mdir = Scratch.fresh(s, "q93_mv")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.refreshedView(s, tdir, mdir, base)
      s.sql(
        s"""SELECT key AS o_custkey, n_rows,
           |  sum_o_totalprice AS sum_value
           |FROM graft_mv('$mdir')
           |ORDER BY o_custkey""".stripMargin)
    }),

    // the SQL-face CDC feed equals q65's true-changes replay
    Gate("q94_changes_sql", changeFeedSql, (s, dir) => {
      // the CDC read's SQL FACE (`table_changes` from a FROM clause):
      // the q65 change mix committed as v2, then
      // graft_snapshot_changes('<dir>', key, 1, 2, 'commit_v') — the
      // same manifest-symmetric-difference plan the Scala changes()
      // builds, same oracle (only the TRUE changes; every carry-over
      // row the rewrite moved must stay silent).
      graft.GraftExtensions.register(s)
      val tdir = Scratch.fresh(s, "q94_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      val changes = Fixtures.changeMix(base, "o_custkey",
        col("o_custkey") + lit(1000000L))
      SnapshotTable.upsert(s, tdir, changes, "o_orderkey", "commit_v",
        "o_custkey")
      s.sql(
        s"""SELECT _change_type, o_orderkey, o_custkey, o_totalprice
           |FROM graft_snapshot_changes('$tdir', 'o_orderkey', 1, 2,
           |  'commit_v')
           |ORDER BY o_orderkey, _change_type""".stripMargin)
    }),

    // v1 = original truth under the OLD name; v3 = post-rename,
    // post-upsert truth — un-updated rows must carry their ORIGINAL
    // values under the new name (a value-losing rename NULLs them)
    Gate("q92_snapshot_rename", """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |             o_totalprice FROM orders)
        |SELECT CAST(1 AS BIGINT) AS snap, o_orderkey, o_custkey,
        |  o_totalprice, o_orderstatus AS status_out FROM b
        |UNION ALL
        |SELECT CAST(3 AS BIGINT) AS snap, o_orderkey, o_custkey,
        |  o_totalprice,
        |  CASE WHEN o_orderkey % 10 = 3 THEN 'X'
        |       ELSE o_orderstatus END AS status_out
        |FROM b
        |ORDER BY snap, o_orderkey""".stripMargin, (s, dir) => {
      // RENAME COLUMN — value-preserving (drop+add would NULL every old
      // row; a metadata-only rename is impossible under by-name file
      // resolution, so this is an honest full rewrite, the compact
      // cost). Every un-updated row must carry its ORIGINAL status
      // under the new name — a NULLed value or a leaked old column
      // hash-mismatches; the pinned v1 read keeps the old name, and the
      // table stays writable on the renamed schema.
      val tdir = Scratch.fresh(s, "q92_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      SnapshotTable.renameColumn(s, tdir, "o_orderstatus", "status")
      val m = pmod(col("o_orderkey"), lit(10))
      val upd = base.filter(m === 3)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("X").as("status"), col("o_totalprice"))
        .withColumn("commit_v", lit(1L)).withColumn("_deleted", lit(false))
      SnapshotTable.upsert(s, tdir, upd, "o_orderkey", "commit_v",
        "o_custkey")
      val v1 = SnapshotTable.read(s, tdir, Some(1L)).withColumn("snap", lit(1L))
        .withColumn("status_out", col("o_orderstatus"))
      val v3 = SnapshotTable.read(s, tdir, Some(3L)).withColumn("snap", lit(3L))
        .withColumn("status_out", col("status"))
      v1.select("snap", "o_orderkey", "o_custkey", "o_totalprice",
          "status_out")
        .unionByName(v3.select("snap", "o_orderkey", "o_custkey",
          "o_totalprice", "status_out"))
        .orderBy("snap", "o_orderkey")
    }),

    // the SQL face serves q72's triangle — same replay
    Gate("q89_cohort_sql", """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |           FROM events GROUP BY user_id)
        |SELECT f.cohort_day,
        |  date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, (s, dir) => {
      // the cohort triangle through its SQL FACE (graft_cohort TVF —
      // the q85 pattern): the builder resolves the view and returns the
      // SAME analyzed plan the q72 Dataset path builds; one code path,
      // two faces, one oracle. The outer SELECT re-imposes the order
      // (a projection over a sorted subquery carries no guarantee).
      graft.GraftExtensions.register(s)
      t(s, dir, "events").createOrReplaceTempView("events_q89")
      s.sql(
        """SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
          |  n_users
          |FROM graft_cohort('events_q89', 'user_id', 'ts')
          |ORDER BY cohort_day, day_offset""".stripMargin)
    }),

    // the SQL face serves q74's dense grid — same replay
    Gate("q90_resample_sql", """WITH e AS (SELECT event_type AS series, date_trunc('hour', ts) AS bucket,
        |             "value"::DOUBLE AS v FROM events),
        |a AS (SELECT series, bucket,
        |        CASE WHEN count(v) > 0 THEN
        |          list_reduce(list_prepend(0.0,
        |              list_sort(list(v) FILTER (WHERE v IS NOT NULL))),
        |            (x, y) -> x + y) / count(v)
        |        END AS avg_v,
        |        count(*) AS n
        |      FROM e GROUP BY series, bucket),
        |b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM a),
        |sp AS (SELECT s.series, g.bucket
        |       FROM (SELECT DISTINCT series FROM a) s
        |       CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM b),
        |                     (SELECT hi FROM b), INTERVAL 1 HOUR)) AS bucket) g),
        |j AS (SELECT sp.series, sp.bucket, coalesce(a.n, 0) AS n, a.avg_v
        |      FROM sp LEFT JOIN a USING (series, bucket))
        |SELECT series, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
        |  CAST(n AS BIGINT) AS n, round(avg_v, 4) AS avg_v,
        |  round(last_value(avg_v IGNORE NULLS) OVER (
        |    PARTITION BY series ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS avg_v_ff
        |FROM j ORDER BY series, bucket""".stripMargin, (s, dir) => {
      // the resample/forward-fill through its SQL FACE (graft_resample
      // TVF): identical plan to q74's Dataset path; the outer SELECT
      // applies the q74 gate's formatting (string bucket, rounded
      // doubles) so the same oracle replays it.
      graft.GraftExtensions.register(s)
      t(s, dir, "events").createOrReplaceTempView("events_q90")
      s.sql(
        """SELECT series, date_format(bucket, 'yyyy-MM-dd HH:mm:ss') AS bucket,
          |  n, round(avg_v, 4) AS avg_v, round(avg_v_ff, 4) AS avg_v_ff
          |FROM graft_resample('events_q90', 'event_type', 'ts', 'value')
          |ORDER BY series, bucket""".stripMargin)
    }),

    // full recompute of the multi-key view: group by the (cust bucket,
    // priority class) tuple after replaying the group-moving update and
    // the deletes — the incrementally-refreshed view must equal it
    // exactly (a missed pre-image subtraction on the old group or a
    // lost post-image on the new one mismatches)
    Gate("q88_mv_multikey", """WITH b AS (SELECT o_orderkey, o_custkey % 100 AS cust_b,
        |    substring(o_orderpriority, 1, 1) AS prio, o_totalprice
        |  FROM orders),
        |m AS (
        |  SELECT o_orderkey, cust_b,
        |    CASE WHEN o_orderkey % 10 = 3 THEN '9' ELSE prio END AS prio,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 250.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM b WHERE o_orderkey % 10 != 8)
        |SELECT cust_b, prio, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_o_totalprice,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / count(o_totalprice) AS avg_o_totalprice
        |FROM m GROUP BY cust_b, prio
        |ORDER BY cust_b, prio""".stripMargin, (s, dir) => {
      // MULTI-COLUMN group key: the view groups by the (cust bucket,
      // priority class) TUPLE, each key stored under its own name. The
      // update MOVES rows between groups (prio rewritten to '9'), so the
      // refresh must subtract the pre-image from the old key tuple and
      // add the post-image to the new one — the group-migration path a
      // single-key view never exercises; the delete mix and commit_v
      // ignoreCols ride along from q86. Must equal DuckDB's full
      // recompute of the merged truth exactly.
      val tdir = Scratch.fresh(s, "q88_table")
      val mdir = Scratch.fresh(s, "q88_mv")
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(100L)).as("cust_b"),
          substring(col("o_orderpriority"), 1, 1).as("prio"),
          col("o_totalprice"))
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      MaterializedView.create(s, tdir, mdir, Seq("cust_b", "prio"),
        Seq("o_totalprice"))
      val upd = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + lit(250.0))
        .withColumn("prio", lit("9"))
        .withColumn("commit_v", lit(1L)).withColumn("_deleted", lit(false))
      val del = base.filter(col("o_orderkey") % 10 === 8)
        .withColumn("commit_v", lit(1L)).withColumn("_deleted", lit(true))
      SnapshotTable.upsert(s, tdir, upd.unionByName(del),
        "o_orderkey", "commit_v", "o_totalprice")
      MaterializedView.refresh(s, tdir, mdir, "o_orderkey",
        Seq("cust_b", "prio"), Seq("o_totalprice"),
        ignoreCols = Seq("commit_v"))
      MaterializedView.serve(s, mdir)
        .select(col("cust_b"), col("prio"), col("n_rows"),
          col("sum_o_totalprice"), col("avg_o_totalprice"))
        .orderBy("cust_b", "prio")
    }),

    // source = pre-upsert truth (write independence), clone = merged
    Gate("q83_snapshot_clone", """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
        |SELECT CAST(1 AS BIGINT) AS snap, o_orderkey, o_custkey,
        |  o_totalprice FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS snap, o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 100000.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM b
        |ORDER BY snap, o_orderkey""".stripMargin, (s, dir) => {
      // metadata-only SHALLOW CLONE end-to-end: clone = src's v1 file
      // list verbatim (zero data copied), then an upsert on the CLONE —
      // the source must keep serving the pre-upsert truth (write
      // independence) while the clone serves the merged truth. Either
      // side leaking into the other hash-mismatches. Storage-dependence
      // (source vacuum hazard) and zero-copy evidence are spec'd.
      val src = Scratch.fresh(s, "q83_src")
      val dst = Scratch.fresh(s, "q83_clone")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, src, base, "o_orderkey", 8)
      SnapshotTable.shallowClone(s, src, dst)
      val changes = base.filter(col("o_orderkey") % 10 === 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
        .withColumn("commit_v", lit(1L))
        .withColumn("_deleted", lit(false))
      SnapshotTable.upsert(s, dst, changes, "o_orderkey", "commit_v",
        "o_totalprice")
      val srcRead = SnapshotTable.read(s, src).withColumn("snap", lit(1L))
      val cloneRead = SnapshotTable.read(s, dst).withColumn("snap", lit(2L))
      srcRead.unionByName(cloneRead)
        .select("snap", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("snap", "o_orderkey")
    }),

    // the post-vacuum current version must be the merged truth — a
    // vacuum that deleted a live (reused) file loses rows or fails the
    // read outright
    Gate("q78_snapshot_vacuum", s"""SELECT o_orderkey,
        |  ${Fixtures.narrowCustkeySql},
        |  o_totalprice
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // VACUUM end-to-end: v1 = orders key-clustered, v2 = narrow upsert
      // (a few files rewritten, most REUSED by both manifests), then
      // vacuum(keepLast = 1, grace = 0 — single writer, provably none in
      // flight) drops v1's manifest and deletes exactly the files only
      // v1 referenced. The gate serves the CURRENT version through the
      // post-vacuum table — a vacuum that deleted a still-referenced
      // (reused!) file yields a missing-file read error or lost rows and
      // hash-mismatches the merged truth. Retention/grace/orphan
      // semantics are spec-asserted in SnapshotTableSpec; this gates the
      // live-file safety property against the DuckDB replay.
      val tdir = Scratch.fresh(s, "q78_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 12)
      Fixtures.narrowUpsert(s, tdir, base)
      SnapshotTable.vacuum(s, tdir, keepLast = 1, graceMs = 0L)
      SnapshotTable.read(s, tdir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // v2 stays the post-delete truth after the restore (history is
    // preserved); v3 = v1 verbatim (the undo is a manifest-only commit)
    Gate("q69_snapshot_restore", """WITH v2 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |            WHERE o_orderkey NOT BETWEEN 1000 AND 3000),
        |v3 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
        |SELECT CAST(2 AS BIGINT) AS snap, * FROM v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT) AS snap, * FROM v3
        |ORDER BY snap, o_orderkey""".stripMargin, (s, dir) => {
      // RESTORE VERSION on the snapshot path: v1 = orders, v2 = delete of
      // a key band, v3 = restore(v1) — a manifest-only commit that
      // re-pins v1's immutable files as the new current version (no data
      // read or written, O(manifest) at any table size). The gate reads
      // v2 AND v3 after the restore: v2 must still be the post-delete
      // truth (history preserved — an undo is ordinary history), v3 must
      // equal v1 exactly. CDC-across-restore, vacuum keeping restored
      // files, and restore-after-vacuum failure are spec-asserted in
      // SnapshotTableSpec.
      val tdir = Scratch.fresh(s, "q69_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.create(s,
        base.repartitionByRange(8, col("o_orderkey")), tdir)
      SnapshotTable.delete(s, tdir, col("o_orderkey").between(1000L, 3000L))
      SnapshotTable.restore(s, tdir, 1L)
      val v2 = SnapshotTable.read(s, tdir, Some(2L)).withColumn("snap", lit(2L))
      val v3 = SnapshotTable.read(s, tdir, Some(3L)).withColumn("snap", lit(3L))
      v2.unionByName(v3)
        .select("snap", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("snap", "o_orderkey")
    }),

    // the timestamp keyset walk's final pages must equal the offset
    // pages exactly — seek is a pure execution-strategy change
    Gate("q66_page_keyset_micros", """WITH b AS (SELECT ts, event_id, "value" FROM events),
        |a AS (SELECT * FROM b ORDER BY ts LIMIT 100 OFFSET 1000),
        |d AS (SELECT * FROM b ORDER BY ts DESC LIMIT 100 OFFSET 200)
        |SELECT 'asc' AS dirn, * FROM a
        |UNION ALL
        |SELECT 'desc' AS dirn, * FROM d
        |ORDER BY dirn, ts""".stripMargin, (s, dir) => {
      // q63/q64's FILE-BOUNDED keyset pagination under a TIMESTAMP key —
      // the event-time paging shape (live dashboards walking an
      // ingestion-time-clustered table): cursors are the key's timestamp
      // values, per-file TIMESTAMP bounds come from the pinned version's
      // INT64 timestamp footer stats (normalized to micros), and the plan
      // predicate `ts > cursor` pushes down like any timestamp
      // comparison. events.ts is unique at every SF, so both final pages
      // mirror pure-SQL offsets exactly. MICROS output is required for
      // ordered footer stats (INT96 has none) — set for the snapshot
      // write, restored after.
      val tdir = Scratch.fresh(s, "q66_table")
      val base = t(s, dir, "events").select("ts", "event_id", "value")
      val prev = s.conf.get("spark.sql.parquet.outputTimestampType")
      try {
        s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        SnapshotTable.create(s, base.repartitionByRange(12, col("ts")), tdir)
      } finally s.conf.set("spark.sql.parquet.outputTimestampType", prev)
      Fixtures.walkedPages(SnapshotTable.keysetWalk(s, tdir, "ts"), "ts")
        .select("dirn", "ts", "event_id", "value")
        .orderBy("dirn", "ts")
    }),

    // the CDC feed replayed directly from orders: the oracle contains
    // ONLY the true changes, so every carry-over row the copy-on-write
    // rewrite moved into new files must be absent from the Spark side
    Gate("q65_snapshot_changes", changeFeedSql, (s, dir) => {
      // CDC READ end-to-end: the q57 change mix (updates ≡3 mod 10,
      // tombstones ≡7, inserts at key+10M for ≡1) committed as v2, then
      // SnapshotTable.changes(v1→v2) — the Delta-CDF-style feed derived
      // from the manifests' file-level symmetric difference alone (no
      // change log). The rewritten band files carry ~90% UNCHANGED
      // carry-over rows; the content diff must emit none of them, and
      // the oracle (the change mix replayed directly from orders) has
      // exactly the true changes, so the hash enforces that silence.
      // commit_v is ignoreCols: the merge bumps it on every winning row,
      // which is version churn, not a content change.
      val tdir = Scratch.fresh(s, "q65_table")
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, tdir, base, "o_orderkey", 8)
      val changes = Fixtures.changeMix(base, "o_custkey",
        col("o_custkey") + lit(1000000L))
      SnapshotTable.upsert(s, tdir, changes, "o_orderkey", "commit_v", "o_custkey")
      SnapshotTable.changes(s, tdir, "o_orderkey", 1L, 2L,
          ignoreCols = Seq("commit_v"))
        .select("_change_type", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey", "_change_type")
    }),

    // the string-key snapshot: v1 and the post-upsert v2 replayed from
    // orders with the same zero-padded key derivation
    Gate("q60_snapshot_strkey", """WITH b AS (
        |  SELECT 'K' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0') AS okey,
        |    o_custkey, o_totalprice, o_orderkey
        |  FROM orders),
        |v2 AS (
        |  SELECT okey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey,
        |    o_totalprice
        |  FROM b WHERE o_orderkey % 10 != 7
        |  UNION ALL
        |  SELECT 'Z' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0') AS okey,
        |    o_custkey, o_totalprice
        |  FROM b WHERE o_orderkey % 10 = 1)
        |SELECT CAST(1 AS BIGINT) AS snap, okey, o_custkey, o_totalprice FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS snap, okey, o_custkey, o_totalprice FROM v2
        |ORDER BY snap, okey""".stripMargin, (s, dir) => {
      // q57's machinery under a STRING merge key: file pruning rides the
      // parquet BINARY/UTF8 footer stats, folded as STRING bounds
      // (unsigned-byte order on both sides) instead of the INT64 ones.
      // Zero-padded keys make lexicographic order == numeric order, so
      // the key-clustered layout still gives tight per-file bands; the
      // 'Z' prefix puts inserts past every band (pure-insert path).
      // Narrow-band prune evidence is spec-asserted (SnapshotTableSpec);
      // the gate replays v1 and the post-upsert v2 in pure SQL.
      val tdir = Scratch.fresh(s, "q60_table")
      val o = t(s, dir, "orders")
      def k(prefix: String) = concat(lit(prefix),
        lpad(col("o_orderkey").cast("string"), 9, "0"))
      val base = o.select(k("K").as("okey"), col("o_custkey"), col("o_totalprice"))
      Fixtures.snapshot(s, tdir, base, "okey", 8)
      val m = pmod(col("o_orderkey"), lit(10))
      val changes = o.filter(m === 3)
        .select(k("K").as("okey"),
          (col("o_custkey") + lit(1000000L)).as("o_custkey"), col("o_totalprice"))
        .withColumn("_deleted", lit(false))
        .unionByName(o.filter(m === 7)
          .select(k("K").as("okey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("_deleted", lit(true)))
        .unionByName(o.filter(m === 1)
          .select(k("Z").as("okey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("_deleted", lit(false)))
        .withColumn("commit_v", lit(1L))
      SnapshotTable.upsert(s, tdir, changes, "okey", "commit_v", "o_custkey")
      val v1 = SnapshotTable.read(s, tdir, Some(1L)).withColumn("snap", lit(1L))
      val v2 = SnapshotTable.read(s, tdir, Some(2L)).withColumn("snap", lit(2L))
      v1.unionByName(v2)
        .select("snap", "okey", "o_custkey", "o_totalprice")
        .orderBy("snap", "okey")
    }),

    Gate("q61_snapshot_datekey", """WITH b AS (
        |  SELECT DATE '1990-01-01' + CAST(o_orderkey AS INT) AS dkey,
        |    o_custkey, o_totalprice, o_orderkey
        |  FROM orders),
        |v2 AS (
        |  SELECT dkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey,
        |    o_totalprice
        |  FROM b WHERE o_orderkey % 10 != 7
        |  UNION ALL
        |  SELECT DATE '1990-01-01' + CAST(o_orderkey + 1000000 AS INT) AS dkey,
        |    o_custkey, o_totalprice
        |  FROM b WHERE o_orderkey % 10 = 1)
        |SELECT CAST(1 AS BIGINT) AS snap, dkey, o_custkey, o_totalprice FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS snap, dkey, o_custkey, o_totalprice FROM v2
        |ORDER BY snap, dkey""".stripMargin, (s, dir) => {
      // q57's machinery under a DATE merge key: parquet stores DATE as
      // INT32 days-since-epoch, so file pruning rides the SAME long
      // footer-stats fold as integer keys — only the change keys get
      // day-encoded (SnapshotTable.upsert's DateType branch). Unique
      // consecutive dates keep range clustering == key order; inserts
      // land a million days past every band (pure-insert path).
      // Narrow-band prune evidence is spec-asserted (SnapshotTableSpec
      // DATE-key test); the gate replays v1 and post-upsert v2 in SQL.
      val tdir = Scratch.fresh(s, "q61_table")
      val o = t(s, dir, "orders")
      def k(off: Long) = date_add(to_date(lit("1990-01-01")),
        (col("o_orderkey") + lit(off)).cast("int"))
      val base = o.select(k(0).as("dkey"), col("o_custkey"), col("o_totalprice"))
      Fixtures.snapshot(s, tdir, base, "dkey", 8)
      val m = pmod(col("o_orderkey"), lit(10))
      val changes = o.filter(m === 3)
        .select(k(0).as("dkey"),
          (col("o_custkey") + lit(1000000L)).as("o_custkey"), col("o_totalprice"))
        .withColumn("_deleted", lit(false))
        .unionByName(o.filter(m === 7)
          .select(k(0).as("dkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("_deleted", lit(true)))
        .unionByName(o.filter(m === 1)
          .select(k(1000000L).as("dkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("_deleted", lit(false)))
        .withColumn("commit_v", lit(1L))
      SnapshotTable.upsert(s, tdir, changes, "dkey", "commit_v", "o_custkey")
      val v1 = SnapshotTable.read(s, tdir, Some(1L)).withColumn("snap", lit(1L))
      val v2 = SnapshotTable.read(s, tdir, Some(2L)).withColumn("snap", lit(2L))
      v1.unionByName(v2)
        .select("snap", "dkey", "o_custkey", "o_totalprice")
        .orderBy("snap", "dkey")
    }),

    // full replay of the z-order math: equal-width bucket + Morton
    // interleave (rendered by the same Layout helpers the Spark side
    // mirrors), then the per-z-block aggregate over the round-tripped
    // files' content
    Gate("q48_zorder", {
      import graft.operators.Layout.{zBucketSql, zInterleaveSql}
      s"""WITH b AS (
         |  SELECT min(l_partkey) AS pmin, max(l_partkey) - min(l_partkey) + 1 AS pspan,
         |         min(l_suppkey) AS smin, max(l_suppkey) - min(l_suppkey) + 1 AS sspan
         |  FROM lineitem
         |), bk AS (
         |  SELECT l_partkey, l_suppkey,
         |    ${zBucketSql("l_partkey", "pmin", "pspan", 8)} AS bx,
         |    ${zBucketSql("l_suppkey", "smin", "sspan", 8)} AS byy
         |  FROM lineitem, b
         |), z AS (
         |  SELECT l_partkey, l_suppkey,
         |    ${zInterleaveSql("bx", "byy", 8)} AS z
         |  FROM bk
         |)
         |SELECT CAST(floor(z / 256) AS BIGINT) AS z_block, count(*) AS n,
         |  CAST(sum(l_partkey) AS BIGINT) AS sum_partkey,
         |  CAST(sum(l_suppkey) AS BIGINT) AS sum_suppkey,
         |  min(z) AS z_min, max(z) AS z_max
         |FROM z GROUP BY z_block ORDER BY z_block""".stripMargin
    }, (s, dir) => {
      // z-order (Morton) clustered write on (l_partkey, l_suppkey) —
      // the multi-column data-skipping layout (per-file bounding boxes
      // tight in BOTH columns; skipping effectiveness is spec-asserted
      // in LayoutSpec). The gate round-trips the layout and aggregates
      // per 256-wide z-block, so the oracle replays the full bucket +
      // interleave arithmetic AND the written files' content.
      val out = s"${Scratch.dir}/q48_zorder_li"
      graft.operators.Layout.zOrderWrite(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", bits = 8, out, numFiles = 16)
      s.read.parquet(out)
        .groupBy(floor(col("z") / 256).as("z_block"))
        .agg(count(lit(1)).as("n"),
          sum("l_partkey").cast("long").as("sum_partkey"),
          sum("l_suppkey").cast("long").as("sum_suppkey"),
          min("z").as("z_min"), max("z").as("z_max"))
        .orderBy("z_block")
    }),

    // exact counts are cross-engine; the _ok booleans follow the
    // q18_approx scheme (each engine validates its own sketch — Spark's
    // persisted+merged DataSketches HLL vs DuckDB's approx_count_distinct,
    // both comfortably inside the 5% band)
    Gate("q50_sketch_rollup", """WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
        |d AS (
        |  SELECT day, count(*) AS n_events,
        |    count(DISTINCT user_id) AS exact_users,
        |    abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |      / count(DISTINCT user_id) <= 0.05 AS day_ok
        |  FROM ev GROUP BY day),
        |a AS (
        |  SELECT 'ALL' AS day, count(*) AS n_events,
        |    count(DISTINCT user_id) AS exact_users,
        |    abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |      / count(DISTINCT user_id) <= 0.05 AS day_ok
        |  FROM ev)
        |SELECT * FROM d UNION ALL SELECT * FROM a ORDER BY day""".stripMargin, (s, dir) => {
      // incremental distinct-count maintenance — the 100 TB pattern where
      // a pipeline keeps a tiny per-partition SKETCH table and answers
      // "distinct users over any day range" by merging persisted sketches
      // (mergeable-summaries property of HLL) instead of rescanning raw
      // events. The gate persists per-day DataSketches HLL sketches to
      // parquet, reads them back, and checks both the per-day estimates
      // and the merged-over-all-days estimate against exact distincts —
      // tolerance booleans per the q18_approx scheme (each engine checks
      // its OWN sketch; exact counts ride along cross-engine-hashable).
      val ev = t(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      val skDir = s"${Scratch.dir}/q50_sketches"
      ev.groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count(lit(1)).as("n_events"))
        .write.mode("overwrite").parquet(skDir)
      val sk = s.read.parquet(skDir)
      val exactDay = ev.groupBy("day")
        .agg(count_distinct(col("user_id")).as("exact_users"))
      val perDay = sk.join(exactDay, "day")
        .select(col("day"), col("n_events"), col("exact_users"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact_users"))
            / col("exact_users") <= 0.05).as("day_ok"))
      val exactAll = ev.agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("exact_users"))
      val allRow = sk
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .crossJoin(broadcast(exactAll))
        .select(lit("ALL").as("day"), col("n_events"), col("exact_users"),
          (abs(col("est") - col("exact_users"))
            / col("exact_users") <= 0.05).as("day_ok"))
      perDay.unionByName(allRow).orderBy("day")
    }),

    Gate("q49_compaction", """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT)) AS BIGINT) AS text_checksum,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin, (s, dir) => {
      // small-file compaction: 64 fragment files rewritten to
      // ceil(n/target) bounded files (file count + per-file row cap are
      // spec-asserted in LayoutSpec). The gate hashes the compacted
      // CONTENT per group — an md5-derived checksum both engines compute
      // identically — so lost or duplicated rows in the rewrite break
      // the driver hash.
      val frag = s"${Scratch.dir}/q49_frag"
      t(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(frag)
      val out = s"${Scratch.dir}/q49_compacted"
      graft.operators.Layout.compact(s.read.parquet(frag), 2000L, out)
      s.read.parquet(out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .cast("long").as("text_checksum"),
          sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("source")
    }),

    // the exact top-10 is cross-engine; bracket_ok/n_ok are TRUE by the
    // frequency sketch's deterministic guarantee (lb <= true <= ub
    // always) — DuckDB asserts the same literals the Spark side must
    // reproduce by actually satisfying the bracket
    Gate("q53_topk_rollup", """WITH c AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id),
        |r AS (SELECT user_id, exact_cnt,
        |        row_number() OVER (ORDER BY exact_cnt DESC, user_id) AS rank
        |      FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, user_id, exact_cnt,
        |  TRUE AS bracket_ok, TRUE AS n_ok
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin, (s, dir) => {
      // heavy-hitters rollup — the FREQUENCY member of the
      // mergeable-summaries trio (q50 distinct counts, q52 quantiles):
      // per-day frequent-items sketches of user_id (custom
      // TypedImperativeAggregate over DataSketches LongsSketch,
      // functions.expr.FreqSketchAgg) persisted to parquet; the range
      // answer MERGES the persisted sketches. The frequency guarantee is
      // DETERMINISTIC (lb <= true <= ub always), so bracket_ok is an
      // always-true mathematical certificate, not a tolerance; the exact
      // top-10 rides cross-engine and sk_n === n checks exact stream-
      // length tracking through serialize → parquet → merge.
      import org.apache.spark.sql.expressions.Window
      import graft.functions.expr.FreqFunctions
      val ev = t(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      val skDir = s"${Scratch.dir}/q53_freq"
      ev.groupBy("day")
        .agg(FreqFunctions.freqAgg(col("user_id")).as("sk"), count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(skDir)
      val sk = s.read.parquet(skDir)
      val merged = sk.agg(FreqFunctions.freqMerge(col("sk")).as("msk"),
        sum("n").as("n_events"))
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id").asc).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("exact_cnt").desc, col("user_id").asc)))
      top.crossJoin(broadcast(merged))
        .select(col("rank").cast("long").as("rank"), col("user_id"), col("exact_cnt"),
          FreqFunctions.freqBounds(col("msk"), col("user_id")).as("b"),
          FreqFunctions.freqN(col("msk")).as("sk_n"), col("n_events"))
        .select(col("rank"), col("user_id"), col("exact_cnt"),
          (col("b.lb") <= col("exact_cnt") && col("exact_cnt") <= col("b.ub"))
            .as("bracket_ok"),
          (col("sk_n") === col("n_events")).as("n_ok"))
        .orderBy("rank")
    }),

    // exact medians are cross-engine (q25 parity); the _ok booleans follow
    // the q18/q50 scheme — each engine validates its own sketch (Spark's
    // persisted+merged KLL vs DuckDB's t-digest approx_quantile), both
    // checked as the TRUE rank of their estimate vs the bound
    Gate("q52_quantile_rollup", """WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, "value" AS v FROM events),
        |d AS (
        |  SELECT day, count(*) AS n_events,
        |    round(quantile_cont(v, 0.5), 4) AS exact_p50,
        |    approx_quantile(v, 0.5) AS est
        |  FROM ev GROUP BY day),
        |dr AS (
        |  SELECT d.day, d.n_events, d.exact_p50,
        |    count(*) FILTER (WHERE ev.v <= d.est)::DOUBLE / count(*)::DOUBLE AS est_rank
        |  FROM ev JOIN d USING (day)
        |  GROUP BY d.day, d.n_events, d.exact_p50),
        |a AS (
        |  SELECT count(*) AS n_events,
        |    round(quantile_cont(v, 0.5), 4) AS exact_p50,
        |    approx_quantile(v, 0.5) AS est
        |  FROM ev),
        |ar AS (
        |  SELECT a.n_events, a.exact_p50,
        |    count(*) FILTER (WHERE ev.v <= a.est)::DOUBLE / count(*)::DOUBLE AS est_rank
        |  FROM ev CROSS JOIN a
        |  GROUP BY a.n_events, a.exact_p50)
        |SELECT day, n_events, exact_p50,
        |  TRUE AS n_ok,
        |  abs(est_rank - 0.5) <= 0.05 + 1.0 / n_events AS rank_ok
        |FROM dr
        |UNION ALL
        |SELECT 'ALL' AS day, n_events, exact_p50, TRUE AS n_ok,
        |  abs(est_rank - 0.5) <= 0.05 + 1.0 / n_events AS rank_ok
        |FROM ar
        |ORDER BY day""".stripMargin, (s, dir) => {
      // incremental QUANTILE maintenance — the percentile member of the
      // mergeable-summaries pattern (q50 covers distinct counts): per-day
      // KLL sketches of the event value (custom TypedImperativeAggregate
      // over the DataSketches library, functions.expr.KllSketchAgg)
      // persisted to parquet; the range answer MERGES the persisted
      // KB-sized sketches — no raw rescan. Exact interpolated medians
      // ride along cross-engine (the q25 percentile/quantile_cont
      // parity); each engine then checks its OWN sketch in the direction
      // the math guarantees: the TRUE normalized rank of the estimated
      // median (k=200 ⇒ rank error ~1.65% at 99% conf; the gate allows
      // 5% — ~3× the 99% bound, so KLL's RANDOMIZED compaction (no fixed
      // seed) and DuckDB's unbounded t-digest cannot intermittently flake
      // the hash gate — plus the 1/n granularity floor of small days;
      // round-8 advice). sk_n === n
      // exercises KLL's exact stream-length tracking through the
      // serialize → parquet → merge round-trip.
      import graft.functions.expr.KllFunctions
      val ev = t(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value").as("v"))
      val skDir = s"${Scratch.dir}/q52_kll"
      ev.groupBy("day")
        .agg(KllFunctions.kllAgg(col("v")).as("sk"), count(lit(1)).as("n_events"))
        .write.mode("overwrite").parquet(skDir)
      val sk = s.read.parquet(skDir)
      val estDay = sk.select(col("day"), col("n_events"),
        KllFunctions.kllQuantile(col("sk"), lit(0.5)).as("est"),
        KllFunctions.kllN(col("sk")).as("sk_n"))
      val rankDay = ev.join(broadcast(estDay.select("day", "est")), "day")
        .groupBy("day")
        .agg((count(when(col("v") <= col("est"), 1)) / count(lit(1))).as("est_rank"))
      val exactDay = ev.groupBy("day")
        .agg(round(expr("percentile(v, 0.5)"), 4).as("exact_p50"))
      val perDay = estDay.join(exactDay, "day").join(rankDay, "day")
        .select(col("day"), col("n_events"), col("exact_p50"),
          (col("sk_n") === col("n_events")).as("n_ok"),
          (abs(col("est_rank") - 0.5) <= lit(0.05) + lit(1.0) / col("n_events"))
            .as("rank_ok"))
      val estAll = sk.agg(KllFunctions.kllMerge(col("sk")).as("msk"),
          sum("n_events").as("n_events"))
        .select(col("n_events"),
          KllFunctions.kllQuantile(col("msk"), lit(0.5)).as("est"),
          KllFunctions.kllN(col("msk")).as("sk_n"))
      val exactAll = ev.agg(round(expr("percentile(v, 0.5)"), 4).as("exact_p50"))
      val allRow = ev.crossJoin(broadcast(estAll))
        .agg((count(when(col("v") <= col("est"), 1)) / count(lit(1))).as("est_rank"),
          first(col("n_events")).as("n_events"), first(col("sk_n")).as("sk_n"))
        .crossJoin(broadcast(exactAll))
        .select(lit("ALL").as("day"), col("n_events"), col("exact_p50"),
          (col("sk_n") === col("n_events")).as("n_ok"),
          (abs(col("est_rank") - 0.5) <= lit(0.05) + lit(1.0) / col("n_events"))
            .as("rank_ok"))
      perDay.unionByName(allRow).orderBy("day")
    }),

    // the pruned read must equal the plain filter — the skipping itself
    // is an I/O property (spec-asserted), never a semantic one
    Gate("q51_skipping_index", """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_partkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin, (s, dir) => {
      // file-level min/max data skipping, end-to-end: range-cluster
      // lineitem on l_partkey into 16 files, build the per-file footer
      // stats table (footer-only reads — no data scan), then answer a
      // narrow partkey band by reading ONLY the files the stats cannot
      // rule out, residual filter re-applied. The gate hashes the pruned
      // read's aggregate against a plain full-scan filter: pruning must
      // be invisible to results whatever the (sampling-based) range
      // boundaries did. The actual skipping (files_kept << 16 on this
      // layout) is spec-asserted in SkippingIndexSpec, not gated — file
      // boundaries are not engine-replayable.
      val data = s"${Scratch.dir}/q51_ranged_li"
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
          "l_extendedprice", "l_returnflag")
        .repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(data)
      // the AUTOMATIC path (round-9): the index is ATTACHED to the table
      // (an underscore subdir plain readers ignore) and scanBetween
      // consults it with no stats path at the call site — identical
      // results to the explicit prunedRead, which SkippingIndexSpec
      // asserts alongside the pruned file count
      graft.operators.SkippingIndex.attachStats(s, data, Seq("l_partkey"))
      val (pruned, _) = graft.operators.SkippingIndex.scanBetween(
        s, data, "l_partkey", 100L, 300L)
      pruned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_partkey").cast("long").as("sum_partkey"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),
  )

  /** Version 1 (before) and version 2 (after [[Fixtures.narrowUpsert]])
    * of the narrow-upsert table, unioned with their version numbers. */
  private val narrowAsOfSql =
    s"""WITH v1 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
       |v2 AS (SELECT o_orderkey, ${Fixtures.narrowCustkeySql},
       |         o_totalprice FROM orders)
       |SELECT CAST(1 AS BIGINT) AS snap, * FROM v1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS snap, * FROM v2
       |ORDER BY snap, o_orderkey""".stripMargin

  /** The q57 change mix as the CDC feed v1 -> v2 emits it. */
  private val changeFeedSql =
    """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
      |SELECT 'insert' AS _change_type, o_orderkey + 10000000 AS o_orderkey,
      |  o_custkey, o_totalprice
      |FROM b WHERE o_orderkey % 10 = 1
      |UNION ALL
      |SELECT 'delete' AS _change_type, o_orderkey, o_custkey, o_totalprice
      |FROM b WHERE o_orderkey % 10 = 7
      |UNION ALL
      |SELECT 'update_preimage' AS _change_type, o_orderkey, o_custkey,
      |  o_totalprice
      |FROM b WHERE o_orderkey % 10 = 3
      |UNION ALL
      |SELECT 'update_postimage' AS _change_type, o_orderkey,
      |  o_custkey + 1000000 AS o_custkey, o_totalprice
      |FROM b WHERE o_orderkey % 10 = 3
      |ORDER BY o_orderkey, _change_type""".stripMargin
}
