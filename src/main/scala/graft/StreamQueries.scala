package graft

import org.apache.spark.sql.functions._

import graft.operators.{MaterializedView, SnapshotTable}
import graft.sources.Tables
import graft.streaming.{EventStreams, SketchRollup}

/** §2-D: batch-equivalent plans of the streaming operators, so the DuckDB
  * oracle applies; the readStream/state variants live in graft.streaming
  * and are spec-run against the same parquet.
  */
object StreamQueries {

  /** This area's gates. Lazy, so a row's oracle SQL may read vals declared
    * further down: an eager table would read them as null while the object
    * initializes. */
  lazy val gates: Seq[Gate] = Seq(
    Gate("stream_window_agg", """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, (s, dir) =>
      EventStreams.windowAggBatch(Tables.load(s, dir, "events"))),

    Gate("stream_session", """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 0
        |         WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin, (s, dir) =>
      EventStreams.sessionizeBatch(Tables.load(s, dir, "events"))),

    Gate("stream_dedup", """WITH r AS (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id AS first_event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin, (s, dir) =>
      EventStreams.dedupBatch(Tables.load(s, dir, "events"))),

    Gate("stream_static_join", s"""WITH w AS (SELECT * FROM (VALUES $WeightValuesSql) AS t(event_type, weight))
         |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         |  count(*) AS n_events,
         |  CAST(sum(CAST("value" AS DECIMAL(18,4)) * weight) AS DOUBLE) AS weighted_value
         |FROM events JOIN w USING (event_type)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, (s, dir) =>
      EventStreams.enrichBatch(Tables.load(s, dir, "events"))),

    Gate("stream_interval_join", """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT user_id, p_id, c_id
        |FROM p JOIN c USING (user_id)
        |WHERE c_ts >= p_ts - INTERVAL 30 MINUTE AND c_ts <= p_ts
        |ORDER BY p_id, c_id""".stripMargin, (s, dir) =>
      EventStreams.intervalJoinBatch(Tables.load(s, dir, "events"))),

    // native session_window face: identical sessions to stream_session's
    // gaps-and-islands (merge when gap <= 30 min), different output shape
    Gate("stream_session_window", """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 0
        |         WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin, (s, dir) =>
      EventStreams.sessionWindowBatch(Tables.load(s, dir, "events"))),

    // identical truth shape to q52 — the incremental store must serve the
    // same answers as the one-shot rollup (mergeability), and each
    // engine's own sketch stands in its guaranteed rank band
    Gate("stream_quantile_rollup", """WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, "value" AS v FROM events),
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
      // incremental QUANTILE-store maintenance: the q52 per-day KLL store
      // built from 3 arrival batches (event_id mod 3) via
      // mergeQuantilesInto — each update scans the NEW batch only and
      // re-merges the KB-sized store. The served answers must then stand
      // in the same q52 gates (exact medians cross-engine, store counts
      // exactly the arrivals, each engine's own estimate within the
      // guaranteed rank band) — mergeability across arrival batching,
      // driver-hashed.
      import graft.functions.expr.KllFunctions
      val store = Scratch.fresh(s, "stream_kll_store")
      val ev = Tables.load(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("value").as("v"), col("event_id"))
      (0 until 3).foreach { b =>
        SketchRollup.mergeQuantilesInto(s,
          ev.filter(pmod(col("event_id"), lit(3)) === b), store)
      }
      val sk = s.read.parquet(store)
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

    // identical truth shape to q53: the exact top-10 rides cross-engine,
    // the bracket and stream-length booleans are deterministic guarantees
    // the merged incremental store must uphold
    Gate("stream_topk_rollup", """WITH c AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id),
        |r AS (SELECT user_id, exact_cnt,
        |        row_number() OVER (ORDER BY exact_cnt DESC, user_id) AS rank
        |      FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, user_id, exact_cnt,
        |  TRUE AS bracket_ok, TRUE AS n_ok
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin, (s, dir) => {
      // incremental heavy-hitters store: the q53 per-day frequent-items
      // store built from 3 arrival batches via mergeTopkInto; the merged
      // store must still certify the exact top-10 (lb <= true <= ub is
      // deterministic) and track the exact stream length through
      // serialize → merge → serialize cycles across updates.
      import org.apache.spark.sql.expressions.Window
      import graft.functions.expr.FreqFunctions
      val store = Scratch.fresh(s, "stream_freq_store")
      val ev = Tables.load(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("user_id"), col("event_id"))
      (0 until 3).foreach { b =>
        SketchRollup.mergeTopkInto(s,
          ev.filter(pmod(col("event_id"), lit(3)) === b), store)
      }
      val merged = s.read.parquet(store)
        .agg(FreqFunctions.freqMerge(col("sk")).as("msk"),
          sum("n_events").as("n_events"))
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id").asc).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("exact_cnt").desc, col("user_id").asc)))
      top.crossJoin(broadcast(merged))
        .select(col("rank").cast("long").as("rank"), col("user_id"),
          col("exact_cnt"),
          FreqFunctions.freqBounds(col("msk"), col("user_id")).as("b"),
          FreqFunctions.freqN(col("msk")).as("sk_n"), col("n_events"))
        .select(col("rank"), col("user_id"), col("exact_cnt"),
          (col("b.lb") <= col("exact_cnt") && col("exact_cnt") <= col("b.ub"))
            .as("bracket_ok"),
          (col("sk_n") === col("n_events")).as("n_ok"))
        .orderBy("rank")
    }),

    // the replicated table replayed directly from orders: whatever the
    // feed's micro-batch slicing, the replica must land on exactly v2
    Gate("stream_snapshot_cdc", s"""WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         |${Fixtures.mixedSql("o_custkey", "o_custkey + 1000000")}
         |SELECT * FROM mixed ORDER BY o_orderkey""".stripMargin, (s, dir) => {
      // END-TO-END CDC replication through REAL structured streaming:
      // source snapshot upserted (the q57 change mix), its
      // SnapshotTable.changes(v1→v2) feed written as files, a replica
      // bootstrapped from the v1 read and tailed by maintainStream
      // (readStream + foreachBatch upsert, maxFilesPerTrigger=1 — each
      // feed file is its own micro-batch commit). The replica's final
      // content must equal the source's v2 HOWEVER the feed was
      // batched: per-key latest-wins makes arrival slicing invisible,
      // and the oracle replays v2 directly from orders.
      val srcDir = Scratch.fresh(s, "stream_cdc_src")
      val repDir = Scratch.fresh(s, "stream_cdc_rep")
      val feedDir = Scratch.fresh(s, "stream_cdc_feed")
      val ckpt = Scratch.fresh(s, "stream_cdc_ckpt")
      val base = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, srcDir, base, "o_orderkey", 8)
      val ch = Fixtures.changeMix(base, "o_custkey",
        col("o_custkey") + lit(1000000L))
      SnapshotTable.upsert(s, srcDir, ch, "o_orderkey", "commit_v", "o_custkey")
      // CDC feed → maintainStream's change-row shape (tombstones from
      // deletes, post-images upsert, pre-images drop)
      val feed = SnapshotTable.changes(s, srcDir, "o_orderkey", 1L, 2L,
          ignoreCols = Seq("commit_v"))
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("_deleted", col("_change_type") === "delete")
        .drop("_change_type")
        .withColumn("commit_v", lit(1L))
      feed.repartition(4).write.parquet(feedDir)
      SnapshotTable.create(s,
        SnapshotTable.read(s, srcDir, Some(1L))
          .repartitionByRange(8, col("o_orderkey")), repDir)
      val q = SnapshotTable.maintainStream(s, feedDir, feed.schema,
        repDir, "o_orderkey", "commit_v", "o_custkey", ckpt)
      q.awaitTermination()
      SnapshotTable.read(s, repDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // the continuously-refreshed view replayed as one full recompute of
    // the final truth: micro-batch slicing must be invisible (integer-
    // cents algebra + latest-wins)
    Gate("stream_mv", s"""WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         |${Fixtures.mixedSql("o_totalprice", "o_totalprice + 500.0")}
         |SELECT o_custkey, count(*) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         |    / 100.0 AS sum_value
         |FROM mixed GROUP BY o_custkey
         |ORDER BY o_custkey""".stripMargin, (s, dir) => {
      // CONTINUOUSLY-FRESH materialized view through real structured
      // streaming: a CDC feed tails into the replica table AND advances
      // the aggregate view in the same micro-batch (MaterializedView
      // .maintainStream — one delta-sized refresh per commit, never a
      // rescan). maxFilesPerTrigger=1 slices the feed into 2 arbitrary
      // micro-batches; latest-wins + integer-cents algebra make the
      // slicing invisible, so the served view must equal DuckDB's full
      // recompute of the final truth — a missed delete, double-applied
      // update or stale refresh hash-mismatches.
      val srcDir = Scratch.fresh(s, "stream_mv_src")
      val repDir = Scratch.fresh(s, "stream_mv_rep")
      val mvDir = Scratch.fresh(s, "stream_mv_view")
      val feedDir = Scratch.fresh(s, "stream_mv_feed")
      val ckpt = Scratch.fresh(s, "stream_mv_ckpt")
      val base = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Fixtures.snapshot(s, srcDir, base, "o_orderkey", 8)
      val ch = Fixtures.changeMix(base, "o_totalprice",
        col("o_totalprice") + lit(500.0))
      SnapshotTable.upsert(s, srcDir, ch, "o_orderkey", "commit_v",
        "o_totalprice")
      val feed = SnapshotTable.changes(s, srcDir, "o_orderkey", 1L, 2L,
          ignoreCols = Seq("commit_v"))
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("_deleted", col("_change_type") === "delete")
        .drop("_change_type")
        .withColumn("commit_v", lit(1L))
      feed.repartition(2).write.parquet(feedDir)
      SnapshotTable.create(s,
        SnapshotTable.read(s, srcDir, Some(1L))
          .repartitionByRange(8, col("o_orderkey")), repDir)
      MaterializedView.create(s, repDir, mvDir, "o_custkey", "o_totalprice")
      val q = MaterializedView.maintainStream(s, feedDir, feed.schema,
        repDir, mvDir, "o_orderkey", "commit_v", "o_totalprice",
        "o_custkey", "o_totalprice", ckpt)
      q.awaitTermination()
      MaterializedView.serve(s, mvDir)
        .select(col("key").as("o_custkey"), col("n_rows"),
          col("sum_o_totalprice").as("sum_value"))
        .orderBy("o_custkey")
    }),

    // exact counts cross-engine; `ok` follows the q50 scheme (each engine
    // inside its own sketch's 5% band). The one-shot DuckDB truth is
    // exactly what the 3-batch incremental store must reproduce.
    Gate("stream_sketch_rollup", """WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
        |d AS (
        |  SELECT day, count(*) AS n_events,
        |    count(DISTINCT user_id) AS exact_users,
        |    abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |      / count(DISTINCT user_id) <= 0.05 AS ok
        |  FROM ev GROUP BY day),
        |a AS (
        |  SELECT 'ALL' AS day, count(*) AS n_events,
        |    count(DISTINCT user_id) AS exact_users,
        |    abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |      / count(DISTINCT user_id) <= 0.05 AS ok
        |  FROM ev)
        |SELECT * FROM d UNION ALL SELECT * FROM a ORDER BY day""".stripMargin, (s, dir) => {
      // incremental sketch-store maintenance (streaming.SketchRollup):
      // the corpus ARRIVES in 3 batches (event_id mod 3 — deterministic),
      // each merged into the persisted per-day HLL store without
      // rescanning earlier arrivals; the served answers must then equal
      // the one-shot truth — mergeability makes arrival batching
      // invisible. n_events (exact through the store's counters) rides
      // cross-engine; est tolerance-checked per the q50 scheme. The
      // foreachBatch streaming face of the same maintainer is spec-run
      // in StreamingSpec.
      val store = Scratch.fresh(s, "stream_sk_store")
      val ev = Tables.load(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("user_id"), col("event_id"))
      (0 until 3).foreach { b =>
        SketchRollup.mergeInto(s,
          ev.filter(pmod(col("event_id"), lit(3)) === b), store)
      }
      val served = SketchRollup.serve(s, store)
      val exact = ev.groupBy("day")
        .agg(count_distinct(col("user_id")).as("exact_users"))
        .unionByName(ev.agg(count_distinct(col("user_id")).as("exact_users"))
          .select(lit("ALL").as("day"), col("exact_users")))
      served.join(exact, "day")
        .select(col("day"), col("n_events"), col("exact_users"),
          (abs(col("est_users") - col("exact_users"))
            / col("exact_users") <= 0.05).as("ok"))
        .orderBy("day")
    }),
  )

  /** VALUES list for the enrichment oracle, generated from the same
    * TypeWeights the Spark plan broadcasts — one source of truth.
    */
  private val WeightValuesSql = EventStreams.TypeWeights
    .map { case (t, w) => s"('$t', CAST($w AS DECIMAL(4,2)))" }
    .mkString(", ")
}
