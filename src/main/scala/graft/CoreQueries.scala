package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Gate.t
import graft.sources.Tables
import graft.query.Search

/** §2-A relational surface: the reference's SQL/paging/search semantics
  * re-expressed as Spark DataFrame plans, one entry per SURVEY.md §2 row.
  *
  * Oracle-hash discipline (SURVEY §4): double aggregations go through
  * DECIMAL(18,2/4) so Spark and DuckDB produce bit-identical results; all
  * result sets carry a deterministic total order; timestamps are never
  * emitted raw (formatted or extracted instead).
  */
object CoreQueries {

  /** Exact sum of a double column: per-row cast to decimal, exact decimal
    * sum, final cast back — deterministic under any partitioning/ordering,
    * unlike a raw double sum.
    */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** This area's gates. Lazy, so a row's oracle SQL may read vals declared
    * further down: an eager table would read them as null while the object
    * initializes. */
  lazy val gates: Seq[Gate] = Seq(
    Gate("q1_agg", """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin, (s, dir) => {
      val l = t(s, dir, "lineitem")
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    Gate("q2_filter_project", """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin, (s, dir) => {
      // Predicate + projection pushdown: .explain shows PushedFilters +
      // a 5-column ReadSchema on the parquet scan.
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    Gate("q3_join_agg", """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      // Dim side (filtered customers) broadcasts; orders⋈lineitem shuffles
      // on the join key, partial aggs push map-side.
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("o_orderkey")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderkey")
    }),

    Gate("q4_sort_page", """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 50 OFFSET 100""".stripMargin, (s, dir) => {
      // The paginator's core plan: total order (unique tiebreaker) +
      // OFFSET/LIMIT — page 3 @ 50 rows (reference: duckdb-paginator.ts).
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(100).limit(50)
    }),

    Gate("q5_search", """SELECT * FROM customer
        |WHERE CAST(c_custkey AS TEXT) LIKE '%12%'
        |   OR c_name LIKE '%12%'
        |   OR CAST(c_nationkey AS TEXT) LIKE '%12%'
        |   OR CAST(c_acctbal AS TEXT) LIKE '%12%'
        |   OR c_mktsegment LIKE '%12%'
        |ORDER BY c_custkey""".stripMargin, (s, dir) => {
      // Free-text search semantics of the reference's search box: every
      // column cast to string, OR of LIKE '%12%' (worker.ts:294-310).
      val c = t(s, dir, "customer")
      Search.search(c, "12").orderBy("c_custkey")
    }),

    Gate("q6_distinct", """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin, (s, dir) =>
      t(s, dir, "orders").select("o_orderstatus", "o_orderpriority")
        .distinct().orderBy("o_orderstatus", "o_orderpriority")),

    Gate("q7_window", """SELECT o_orderkey, o_custkey,
        |  row_number() OVER w AS rn,
        |  rank() OVER w AS rnk,
        |  lag(o_orderkey, 1) OVER w AS prev_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, rn""".stripMargin, (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          // long-typed to match DuckDB's BIGINT window functions
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"),
          lag("o_orderkey", 1).over(w).as("prev_orderkey"))
        .orderBy("o_custkey", "rn")
    }),

    Gate("q8_having", """SELECT o_custkey, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 10
        |ORDER BY o_custkey""".stripMargin, (s, dir) =>
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
        .filter(col("cnt") >= 10)
        .orderBy("o_custkey")),

    Gate("q9_cte", """WITH co AS (
        |  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_custkey, c_name, total
        |FROM customer JOIN co ON c_custkey = o_custkey
        |WHERE total > (SELECT avg(total) FROM co)
        |ORDER BY c_custkey""".stripMargin, (s, dir) => {
      val co = t(s, dir, "orders").groupBy("o_custkey")
        .agg(dsum(col("o_totalprice")).as("total"))
      // Scalar subquery as a broadcast cross-join: no driver-side collect,
      // the single-row aggregate ships to executors with the plan.
      val avgTotal = co.agg(avg("total").as("avg_total"))
      t(s, dir, "customer")
        .join(co, col("c_custkey") === col("o_custkey"))
        .crossJoin(broadcast(avgTotal))
        .filter(col("total") > col("avg_total"))
        .select("c_custkey", "c_name", "total")
        .orderBy("c_custkey")
    }),

    Gate("q10_union", """SELECT c_custkey AS id, c_name AS name, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, s_name AS name, 'supplier' AS kind FROM supplier
        |ORDER BY kind, id""".stripMargin, (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"), lit("customer").as("kind"))
      val su = t(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"), lit("supplier").as("kind"))
      c.unionAll(su).orderBy("kind", "id")
    }),

    Gate("q11_expr", """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  upper(substr(o_orderpriority, 1, 1)) AS pri_code,
        |  concat(o_orderstatus, '-', o_orderpriority) AS status_pri,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  strftime(o_orderdate, '%Y-%m') AS order_month
        |FROM orders ORDER BY o_orderkey""".stripMargin, (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"),
        upper(substring(col("o_orderpriority"), 1, 1)).as("pri_code"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_pri"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        .orderBy("o_orderkey")),

    Gate("q12_struct", """SELECT o_orderkey,
        |  CAST(to_json(struct_pack(status := o_orderstatus,
        |                           priority := o_orderpriority,
        |                           cust := o_custkey)) AS VARCHAR) AS payload
        |FROM orders ORDER BY o_orderkey""".stripMargin, (s, dir) =>
      // Complex-value inspection: build a struct, render it as the JSON
      // string a reference user sees in the cell popup (backend.ts
      // convertObjectsToJSONStrings).
      t(s, dir, "orders").select(
        col("o_orderkey"),
        to_json(struct(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"),
          col("o_custkey").as("cust"))).as("payload"))
        .orderBy("o_orderkey")),

    Gate("q13_broadcast_join", """SELECT r_name, n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin, (s, dir) => {
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      su.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("total_bal"))
        .orderBy("r_name", "n_name")
    }),

    Gate("q14_semi_anti", """SELECT c_custkey, 'has_orders' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin, (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("tag"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("tag"))
      semi.unionAll(anti).orderBy("tag", "c_custkey")
    }),

    Gate("q15_topk_group", """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin, (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_orderpriority", "rn")
    }),

    Gate("q16_pivot", """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS unspecified,
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin, (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map(
          "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
          "4-NOT SPECIFIED" -> "unspecified", "5-LOW" -> "low"))
        .orderBy("o_orderstatus")),

    Gate("q17_stats", """SELECT col_name, cnt, min_val, max_val, sum_val FROM (
        |  SELECT 'l_quantity' AS col_name, count(*) AS cnt,
        |    CAST(min(l_quantity) AS DOUBLE) AS min_val, CAST(max(l_quantity) AS DOUBLE) AS max_val,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_val FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(*),
        |    CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(*),
        |    CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE),
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', count(*),
        |    CAST(min(l_tax) AS DOUBLE), CAST(max(l_tax) AS DOUBLE),
        |    CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem
        |) ORDER BY col_name""".stripMargin, (s, dir) => {
      // Column-statistics panel: one row per numeric column.
      val l = t(s, dir, "lineitem")
      def statsOf(cname: String): DataFrame =
        l.agg(count(lit(1)).as("cnt"),
          min(col(cname)).cast("double").as("min_val"),
          max(col(cname)).cast("double").as("max_val"),
          dsum(col(cname)).as("sum_val"))
          .select(lit(cname).as("col_name"), col("cnt"), col("min_val"), col("max_val"), col("sum_val"))
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(statsOf).reduce(_ unionAll _).orderBy("col_name")
    }),

    // tolerance booleans: each engine checks its OWN sketch against the
    // exact values (computation-mirroring, not result-hardcoding — the
    // exact counts hash across engines, and a sketch drifting past 5%
    // on either side fails the row)
    Gate("q18_approx", """SELECT
        |  count(DISTINCT l_orderkey) AS n_orders_exact,
        |  count(DISTINCT l_partkey) AS n_parts_exact,
        |  abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
        |    / count(DISTINCT l_orderkey) <= 0.05 AS orders_ok,
        |  abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |    / count(DISTINCT l_partkey) <= 0.05 AS parts_ok,
        |  abs(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
        |    / quantile_cont(l_extendedprice, 0.5) <= 0.05 AS median_ok,
        |  abs(approx_quantile(l_extendedprice, 0.95) - quantile_cont(l_extendedprice, 0.95))
        |    / quantile_cont(l_extendedprice, 0.95) <= 0.05 AS p95_ok
        |FROM lineitem""".stripMargin, (s, dir) =>
      // HLL + approximate quantiles as a DRIVER-HASHED gate: sketch
      // values are engine-specific, so the row emits tolerance BOOLEANS —
      // each engine checks its OWN sketch against the exact value it
      // computes from the same data, and both sides deterministically
      // land true (rsd 0.01 puts the 5% bound at ~5 sigma; DuckDB's
      // HLL / approx_quantile run ~1% error). The exact distinct counts
      // ride along as cross-engine-hashable integers. ApproxSpec keeps
      // the tighter independent bound assertions.
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_orderkey")).as("n_orders_exact"),
        countDistinct(col("l_partkey")).as("n_parts_exact"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("a_orders"),
        approx_count_distinct(col("l_partkey"), 0.01).as("a_parts"),
        expr("percentile(l_extendedprice, 0.5D)").as("m_exact"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("m_approx"),
        expr("percentile(l_extendedprice, 0.95D)").as("p95_exact"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("p95_approx"))
        .select(col("n_orders_exact"), col("n_parts_exact"),
          (abs(col("a_orders") - col("n_orders_exact")) / col("n_orders_exact") <= 0.05).as("orders_ok"),
          (abs(col("a_parts") - col("n_parts_exact")) / col("n_parts_exact") <= 0.05).as("parts_ok"),
          (abs(col("m_approx") - col("m_exact")) / col("m_exact") <= 0.05).as("median_ok"),
          (abs(col("p95_approx") - col("p95_exact")) / col("p95_exact") <= 0.05).as("p95_ok"))),

    Gate("q19_rollup", """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS cnt
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin, (s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("cnt"))
        .orderBy("status", "priority")),

    Gate("q20_csv_source", "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey", (s, dir) => {
      // CSV source round-trip: parquet truth → distributed CSV write →
      // header+inferSchema read (the reference's read_csv path).
      val out = s"${Scratch.dir}/q20_csv_region"
      t(s, dir, "region").write.mode("overwrite").option("header", "true").csv(out)
      // concrete dir, not a glob: glob reads trip Spark's FileStreamSink
      // probe, which logs a FileNotFoundException stack per read
      Tables.openAs(s, out, "csv")
        .select(col("r_regionkey").cast("int"), col("r_name"))
        .orderBy("r_regionkey")
    }),

    Gate("q21_json_source", """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // ndJSON source round-trip (the reference's ndjson export / JSON read).
      val out = s"${Scratch.dir}/q21_json_orders"
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").json(out)
      Tables.openAs(s, out, "json")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    Gate("q35_avro_source", "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey", (s, dir) => {
      // Avro source round-trip (the reference's read_avro path,
      // duckdb-backend.ts:155-156); Spark 4 bundles the avro source.
      val out = s"${Scratch.dir}/q35_avro_nation"
      t(s, dir, "nation").write.mode("overwrite")
        .format(Tables.avroProvider).save(out)
      Tables.openAs(s, out, "avro")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    Gate("q36_orc_source", "SELECT s_suppkey, s_name, s_nationkey FROM supplier ORDER BY s_suppkey", (s, dir) => {
      // ORC source round-trip (columnar alternative a lakehouse ingests
      // alongside parquet; Spark's reader is built in).
      val out = s"${Scratch.dir}/q36_orc_supplier"
      t(s, dir, "supplier").write.mode("overwrite").orc(out)
      Tables.openAs(s, out, "orc")
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    }),

    // the oracle reads the gate's ACTUAL written files: read_parquet
    // proves DuckDB decodes each codec to the same content, and
    // parquet_metadata proves the footer records what was requested
    // (literal scratch paths — table functions take paths, and Verify
    // runs before the oracle, same contract as meta_footer)
    Gate("q58_codecs", Seq("gzip", "snappy", "zstd").map { codec =>
      val g = s"${Scratch.dir}/q58_$codec/*.parquet"
      s"""SELECT '$codec' AS codec,
         |  (SELECT array_to_string(list_sort(list(DISTINCT compression)), ',')
         |   FROM parquet_metadata('$g')) AS footer_codecs,
         |  (SELECT count(*) FROM read_parquet('$g')) AS n,
         |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         |   FROM read_parquet('$g')) AS sum_qty""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY codec"), (s, dir) => {
      // compression-codec control on the WRITE side, verified at the
      // footer: the same lineitem slice written gzip/snappy/zstd must
      // (a) record the requested codec in every column chunk's footer
      // and (b) decode to identical content IN THE OTHER ENGINE — the
      // oracle re-reads the actual written files with read_parquet and
      // lists their codecs with parquet_metadata, so both the bytes and
      // the metadata cross the engine boundary. Codec choice is the
      // producer-side knob every lakehouse written by this library
      // exposes (size/CPU trade); the three covered codecs are the ones
      // both engines decode.
      val src = t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      Seq("gzip", "snappy", "zstd").map { codec =>
        val out = s"${Scratch.dir}/q58_$codec"
        src.coalesce(1).write.mode("overwrite")
          .option("compression", codec).parquet(out)
        val part = new java.io.File(out).listFiles()
          .map(_.getPath).filter(_.endsWith(".parquet")).sorted.head
        val footer = graft.query.MetadataInspector.rowGroupMetadata(s, part)
          .agg(array_join(array_sort(collect_set(col("codec"))), ",")
            .as("footer_codecs"))
        s.read.parquet(out)
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .crossJoin(footer)
          .select(lit(codec).as("codec"), col("footer_codecs"),
            col("n"), col("sum_qty"))
      }.reduce(_ unionByName _).orderBy("codec")
    }),

    Gate("meta_rowcount", "SELECT count(*) AS num_rows FROM lineitem", (s, dir) =>
      // Metadata tab num_rows (reference: backend.ts getMetaData).
      t(s, dir, "lineitem").agg(count(lit(1)).as("num_rows"))),

    // DESCRIBE over the registered view renders exactly the type strings
    // SchemaInspector.describeParquet derives from the parquet footer.
    Gate("schema_inspect", """SELECT column_name, column_type, "null"
        |FROM (DESCRIBE SELECT * FROM lineitem)""".stripMargin, (s, dir) =>
      // Schema tab: DESCRIBE-shaped table. Footer-based so the rendered
      // type is the FILE's logical type (what DuckDB's DESCRIBE shows),
      // not whatever a session reader flag maps a timestamp to.
      graft.query.SchemaInspector.describeParquet(s, s"$dir/lineitem.parquet")),

    // The footer fields the reference's metadata tab shows come straight
    // from DuckDB's parquet_file_metadata() (duckdb-backend.ts
    // getMetaDataImpl), so the oracle IS that function, unpivoted to the
    // gate's key/value shape. parquet_file_metadata takes a file path, not
    // a registered view, so the driver's verify path (always sf0.01 per
    // the harness contract) is named literally — the same file the Spark
    // gate reads through `dir`.
    Gate("meta_footer", """WITH m AS (SELECT * FROM parquet_file_metadata('/root/testdata/sf0.01/lineitem.parquet'))
        |SELECT key, value FROM (
        |  SELECT 'created_by' AS key, created_by::VARCHAR AS value FROM m
        |  UNION ALL SELECT 'encryption_algorithm', encryption_algorithm::VARCHAR FROM m
        |  UNION ALL SELECT 'footer_signing_key_metadata', footer_signing_key_metadata::VARCHAR FROM m
        |  UNION ALL SELECT 'format_version', format_version::VARCHAR FROM m
        |  UNION ALL SELECT 'num_row_groups', num_row_groups::VARCHAR FROM m
        |  UNION ALL SELECT 'num_rows', num_rows::VARCHAR FROM m
        |) ORDER BY key""".stripMargin, (s, dir) =>
      // Parquet footer metadata: the fields the reference's metadata tab
      // shows.
      graft.query.MetadataInspector.fileMetadata(s, s"$dir/lineitem.parquet")
        .filter(col("key") =!= "file_name") // path differs by environment
        .orderBy("key")),

    // drill-down parity: both engines read the SAME column-chunk
    // statistics out of the footer; parquet_metadata takes a file path,
    // so the driver's verify path (sf0.01 per the harness contract) is
    // named literally — the same file the Spark gate reads through `dir`
    Gate("meta_column_stats", """SELECT CAST(row_group_id AS BIGINT) AS row_group,
        |  path_in_schema AS col_name,
        |  CAST(num_values AS BIGINT) AS num_values,
        |  stats_min_value AS min_s, stats_max_value AS max_s,
        |  CAST(stats_null_count AS BIGINT) AS null_count
        |FROM parquet_metadata('/root/testdata/sf0.01/orders.parquet')
        |WHERE path_in_schema IN ('o_orderkey', 'o_custkey')
        |ORDER BY row_group, col_name""".stripMargin, (s, dir) =>
      // per-row-group column-chunk statistics (the drill-down level of
      // DuckDB's parquet_metadata(), and the raw material of q51's
      // data-skipping index). Gated on the INT64 columns, whose min/max
      // render identically across engines ("0", not "0.0"/binary).
      graft.query.MetadataInspector.rowGroupMetadata(s, s"$dir/orders.parquet")
        .filter(col("column").isin("o_orderkey", "o_custkey"))
        .select(col("row_group").cast("long").as("row_group"),
          col("column").as("col_name"),
          col("value_count").cast("long").as("num_values"),
          col("stats_min").as("min_s"), col("stats_max").as("max_s"),
          col("num_nulls").cast("long").as("null_count"))
        .orderBy("row_group", "col_name")),
  )

}

/** Scratch space for round-trip sources/exports — by default
  * `target/scratch` under the working directory, so each checkout writes
  * its own.
  *
  * The root is overridable (`-Dgraft.scratch.dir=…` or
  * `$SPARK_GRAFT_SCRATCH`) so CONCURRENT processes that both run the
  * query surface — the test suite's forked JVMs, `graft.Verify`, ad-hoc
  * tools — each get their OWN round-trip scratch: two processes sharing
  * one scratch rewrite each other's per-query dirs between a write and
  * its read-back (the r17 q58_codecs verify flake). Appending
  * `@pid` to the override substitutes the JVM's pid, which isolates
  * parallel forked test groups without per-group wiring.
  */
object Scratch {
  val dir: String = {
    val configured = sys.props.get("graft.scratch.dir")
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH"))
      .getOrElse(s"${sys.props("user.dir")}/target/scratch")
    val d = configured.replace("@pid",
      ProcessHandle.current().pid().toString)
    new java.io.File(d).mkdirs()
    d
  }

  /** `dir/name`, emptied: a gate rebuilds its tables there from nothing,
    * so a rerun never reads an earlier run's state. */
  def fresh(spark: SparkSession, name: String): String = {
    val d = s"$dir/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }
}

/** Setup the snapshot-table gates share, and its oracle-SQL replay. */
object Fixtures {

  /** Creates the snapshot table `tdir` from `base`: every row at
    * commit_v = 0, written as `files` files range-clustered on `key`, so
    * each file holds a narrow key band. */
  def snapshot(s: SparkSession, tdir: String, base: DataFrame, key: String,
      files: Int): Unit =
    graft.operators.SnapshotTable.create(s,
      base.withColumn("commit_v", lit(0L)).repartitionByRange(files, col(key)),
      tdir)

  /** The change set the q57 family upserts as commit_v = 1 over `base`
    * (orders rows keyed by o_orderkey): keys ≡3 (mod 10) set `updated` to
    * `update`, keys ≡7 are tombstones, and keys ≡1 are inserted again at
    * key + 10M, past every file's band. [[mixedSql]] replays it. */
  def changeMix(base: DataFrame, updated: String, update: Column): DataFrame = {
    val m = pmod(col("o_orderkey"), lit(10))
    base.filter(m === 3).withColumn(updated, update)
      .withColumn("_deleted", lit(false))
      .unionByName(base.filter(m === 7).withColumn("_deleted", lit(true)))
      .unionByName(base.filter(m === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        .withColumn("_deleted", lit(false)))
      .withColumn("commit_v", lit(1L))
  }

  /** [[changeMix]] merged into the oracle CTE `b` (orders rows with an
    * o_orderkey column), as the CTE `mixed` with b's columns in b's order;
    * `update` is the SQL of the updated column's new value. */
  def mixedSql(updated: String, update: String): String =
    s"""mixed AS (
       |  SELECT * REPLACE (CASE WHEN o_orderkey % 10 = 3 THEN $update
       |                         ELSE $updated END AS $updated)
       |  FROM b WHERE o_orderkey % 10 != 7
       |  UNION ALL
       |  SELECT * REPLACE (o_orderkey + 10000000 AS o_orderkey)
       |  FROM b WHERE o_orderkey % 10 = 1)""".stripMargin

  /** Upserts into `tdir` the narrow change the q70 family commits as
    * commit_v = 1 over `base` (orders o_orderkey, o_custkey,
    * o_totalprice): keys 500 to 700 get o_custkey + 1M, a few files'
    * worth. [[narrowCustkeySql]] replays it. */
  def narrowUpsert(s: SparkSession, tdir: String, base: DataFrame): Unit = {
    val changes = base.filter(col("o_orderkey").between(500L, 700L))
      .withColumn("o_custkey", col("o_custkey") + lit(1000000L))
      .withColumn("commit_v", lit(1L))
      .withColumn("_deleted", lit(false))
    graft.operators.SnapshotTable.upsert(s, tdir, changes, "o_orderkey",
      "commit_v", "o_custkey")
  }

  /** o_custkey after [[narrowUpsert]], as an oracle select item over orders. */
  val narrowCustkeySql: String =
    """CASE WHEN o_orderkey BETWEEN 500 AND 700
      |       THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey""".stripMargin

  /** The q84 view setup: the snapshot table `tdir` of `base` (orders
    * o_orderkey, o_custkey, o_totalprice), a materialized view at `mdir`
    * of o_totalprice per o_custkey, then one commit_v = 1 upsert (keys ≡2
    * (mod 10) get o_totalprice + 500, keys ≡6 are inserted again at key
    * + 10M, keys ≡8 are tombstones) refreshed into the view from its
    * change feed. [[refreshedViewSql]] recomputes the view. */
  def refreshedView(s: SparkSession, tdir: String, mdir: String,
      base: DataFrame): Unit = {
    snapshot(s, tdir, base, "o_orderkey", 8)
    graft.operators.MaterializedView.create(s, tdir, mdir, "o_custkey", "o_totalprice")
    def at(m: Int) = base.filter(col("o_orderkey") % 10 === m)
    def change(df: DataFrame, deleted: Boolean) =
      df.withColumn("commit_v", lit(1L)).withColumn("_deleted", lit(deleted))
    val upd = at(2).withColumn("o_totalprice", col("o_totalprice") + lit(500.0))
    val ins = at(6).withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
    graft.operators.SnapshotTable.upsert(s, tdir,
      change(upd, false).unionByName(change(ins, false))
        .unionByName(change(at(8), true)),
      "o_orderkey", "commit_v", "o_totalprice")
    graft.operators.MaterializedView.refresh(s, tdir, mdir, "o_orderkey",
      "o_custkey", "o_totalprice")
  }

  /** The 11th ascending and 3rd descending 100-row pages of `walk` over
    * `key`, each page's cursor the previous page's last key (from an
    * unbounded start), as one frame tagged `dirn` asc / desc: what the
    * keyset-walk gates q63, q64 and q66 return. */
  def walkedPages(walk: graft.operators.SkippingIndex.KeysetWalk, key: String): DataFrame = {
    def walkTo(pages: Int, ascending: Boolean): DataFrame = {
      var after: Option[Any] = None
      var page: DataFrame = null
      (0 until pages).foreach { _ =>
        page = walk.page(after, 100, ascending)._1
        val keys = page.select(key).collect()
        if (keys.nonEmpty) after = Some(keys.last.get(0))
      }
      page
    }
    walkTo(11, ascending = true).withColumn("dirn", lit("asc"))
      .unionByName(walkTo(3, ascending = false).withColumn("dirn", lit("desc")))
  }

  /** Full recompute of the [[refreshedView]] view over orders, with its
    * columns o_custkey, n_rows and sum_value (cent-integer sums). */
  val refreshedViewSql: String =
    """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      |m AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice + 500.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM b WHERE o_orderkey % 10 != 8
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
      |  FROM b WHERE o_orderkey % 10 = 6)
      |SELECT o_custkey, count(*) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |    / 100.0 AS sum_value
      |FROM m GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin
}
