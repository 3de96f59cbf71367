package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-sequence analytics over an events table — ordered funnels and
  * cohort retention, the classic product-analytics operators — expressed
  * as declarative single-shuffle Spark plans (no self-joins, no UDFs).
  */
object EventAnalytics {

  /** Ordered funnel: how deep each user gets through `steps` IN ORDER —
    * step k counts only events at or after the event that completed
    * step k-1 (the strict-sequence semantics product funnels mean, not
    * "did all types ever occur"). Steps MAY repeat an event type
    * (view→click→view→purchase): the fold encodes each event as a
    * BITMASK of the step positions its type fills and advances when the
    * next position's bit is set, so a repeated type matches wherever it
    * appears. `withinDays` adds the standard conversion window: steps
    * 2..k must land within that many days of the event that completed
    * step 1 (no bound on step 1 itself). Binding is GREEDY — each step
    * binds to the earliest qualifying event, no backtracking (the
    * classic single-pass funnel; a user whose early step-1 event times
    * out is not re-tried from a later one, and the oracle replays the
    * identical greedy fold). Returns one row per depth 0..k with the
    * number of users whose deepest completed step is EXACTLY that
    * depth; users with no funnel-step events at all do not appear.
    *
    * Plan shape — BOUNDED per-user state, the 100 TB requirement: the
    * scan keeps only the funnel's event types, ONE hash repartition on
    * user co-locates each user, a SPILL-BACKED secondary sort
    * (`sortWithinPartitions(user, ts, id, type)` — Spark's external
    * sort, never an in-memory array) lays each user's funnel events
    * out in time order, and a streaming state machine over the sorted
    * iterator runs the greedy fold with O(1) state per user
    * (depth + step-1 timestamp), emitting per-partition depth
    * histograms (≤ k+1 rows each) that a final tiny groupBy sums. A
    * bot user with 10⁸ step-type events costs sort spill, never an
    * unbounded `collect_list` buffer in one aggregation task — the
    * skewed-key scale-killer of the fold-over-collected-array shape.
    * The naive k-way self-join is worse still (k shuffles, skew
    * explosion).
    *
    * Why not prune instead of stream: the folklore fix — keep only the
    * earliest N events per (user, step-type), N = the type's repeat
    * count — is NOT exact. Steps [A,B,A] with events A@1,A@2,A@3,
    * B@100,A@200: greedy binds A@1, B@100, A@200 (depth 3), but the
    * earliest-2 prune of A drops A@200 (depth 2). Step i's binding is
    * the earliest qualifying event AFTER step i-1's, and that can sit
    * arbitrarily deep in its type's timeline — no per-type prefix is
    * safe. The state machine needs no prune: one ordered pass is
    * linear, exact, and constant-space (spec'd on a 10⁶-event whale
    * user against a driver-side replay).
    *
    * Ties in `ts` break by `idCol`, then `typeCol` — a total order, so
    * the pass is deterministic on any partitioning (and
    * engine-replayable: the oracle folds the same sorted list).
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, steps: Seq[String],
      withinDays: Option[Int] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.length <= 62,
      s"funnel depth is bounded by the 64-bit step mask, got ${steps.length} steps")
    withinDays.foreach(d => require(d >= 1, s"withinDays must be >= 1, got $d"))
    val types = steps.distinct
    val k = steps.length
    // conversion windows are day-time intervals: exactly d*86400s of
    // micros, the same fixed duration `ts + INTERVAL d DAY` adds
    val winMicros: Option[Long] = withinDays.map(_ * 86400L * 1000000L)
    // type -> bitmask of the step positions it fills (bit i = steps(i))
    def maskOf(t: String): Long =
      steps.zipWithIndex.collect { case (s, i) if s == t => 1L << i }.sum
    val maskCol = types.foldLeft(lit(0L))((acc, t) =>
      when(col(typeCol) === lit(t), lit(maskOf(t))).otherwise(acc))
    val sorted = events.filter(col(typeCol).isin(types: _*))
      .select(col(userCol).as("user"),
        unix_micros(col(tsCol).cast("timestamp")).as("tsus"),
        col(idCol).as("id"), col(typeCol).as("t"), maskCol.as("st"))
      .repartition(col("user"))
      // (tsus, id, t) asc nulls-first — the order array_sort gives
      // struct(ts, id, t), which the DuckDB oracle replays
      .sortWithinPartitions("user", "tsus", "id", "t")
    val partials = sorted.mapPartitions { it =>
      val hist = new Array[Long](k + 1)
      var cur: Any = null
      var open = false
      var depth = 0
      var t0: java.lang.Long = null
      def flush(): Unit = if (open) { hist(depth) += 1; depth = 0; t0 = null }
      it.foreach { r =>
        val u = r.get(0)
        if (!open || !java.util.Objects.equals(cur, u)) {
          flush(); cur = u; open = true
        }
        if (depth < k && ((r.getLong(4) >> depth) & 1L) != 0L) {
          val ts: java.lang.Long = if (r.isNullAt(1)) null else r.getLong(1)
          // `step1_ts + window >= ts` must be TRUE to advance (a NULL
          // timestamp fails it, matching SQL three-valued logic)
          val winOk = winMicros match {
            case None => true
            case Some(w) =>
              depth == 0 || (ts != null && t0 != null && ts <= t0 + w)
          }
          if (winOk) { if (depth == 0) t0 = ts; depth += 1 }
        }
      }
      flush()
      hist.iterator.zipWithIndex.collect {
        case (n, d) if n > 0 => (d.toLong, n)
      }
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong))
      .toDF("depth", "n")
    partials.groupBy("depth").agg(sum("n").as("n_users")).orderBy("depth")
  }

  /** Time-series RESAMPLE with gap fill: per `seriesCol`, hourly buckets
    * over the data's full time range — aggregated value where events
    * exist, an explicit empty bucket (n = 0) where they don't, and a
    * forward-filled value column (`last non-null` carried across gaps;
    * NULL before a series' first observation). The dashboard/feature
    * -engineering face every events store needs: a line chart or a
    * model join wants a dense, regular grid, not the sparse arrival
    * buckets.
    *
    * Plan shape: ONE scan + one (series, bucket) shuffle builds the
    * sparse aggregate; the dense spine derives from that already-small
    * frame (bounds + distinct series — no second scan of the events
    * table, and the identical agg subplan lets Catalyst reuse the
    * exchange), `sequence()` explodes the bucket range, a broadcast-
    * sized left join lands the values, and the forward fill is one
    * per-series window over the DENSE grid (buckets × series rows —
    * grid-sized, never event-sized). Determinism: the per-bucket mean
    * folds over the SORTED value list, so double addition happens in
    * one fixed order on any partitioning (the lmScore contract) and the
    * forward-filled copies are bit-identical too.
    */
  def resampleHourly(events: DataFrame, seriesCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val agg = events
      .select(col(seriesCol).as("series"),
        date_trunc("hour", col(tsCol)).as("bucket"),
        col(valueCol).cast("double").as("v"))
      .groupBy("series", "bucket")
      // collect_list drops NULL values, so the mean's divisor must be
      // the NON-NULL count (count(v)) — dividing by the row count would
      // silently bias the mean on NULL-bearing data. `n` stays the
      // bucket's ROW count (what "events that hour" means); a bucket of
      // only-NULL values has n > 0 and avg_v NULL.
      .agg(collect_list("v").as("vs"), count(col("v")).as("nv"),
        count(lit(1)).as("n"))
      .select(col("series"), col("bucket"),
        when(col("nv") > 0,
          expr("aggregate(array_sort(vs), cast(0.0 as double), (a, x) -> a + x)")
            / col("nv")).as("avg_v"),
        col("n"))
    val bounds = agg.agg(min("bucket").as("lo"), max("bucket").as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("bucket"))
      .crossJoin(broadcast(agg.select("series").distinct()))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine.join(agg, Seq("series", "bucket"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("avg_v_ff", last(col("avg_v"), ignoreNulls = true).over(w))
      .select("series", "bucket", "n", "avg_v", "avg_v_ff")
      .orderBy("series", "bucket")
  }

  /** Cohort retention: users bucketed by the DAY of their first event
    * (any type), then, per (cohort day, day offset), how many distinct
    * cohort members were active that many days later — the retention
    * triangle.
    *
    * Plan shape: first-touch rides a partition-only window
    * (`min(day) OVER (PARTITION BY user)`) so the events table is
    * SCANNED ONCE and shuffled once (by user) — the groupBy+self-join
    * formulation scans it twice and, when the per-user dimension
    * outgrows the broadcast threshold, shuffles it twice. The final
    * (cohort, offset) countDistinct is exact with the usual two-phase
    * partial — at 100 TB cardinality, the SKETCH-BACKED path is
    * [[cohortAssignments]] + [[graft.streaming.SketchRollup
    * .mergeKeyedInto]] (persisted per-(cohort, offset) HLL blobs,
    * activity merged batch by batch) served by
    * [[cohortRetentionFromSketches]] — the q76 gate.
    */
  def cohortRetention(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
    events.select(col(userCol), to_date(col(tsCol)).as("day"))
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** The activity rows the sketch-backed triangle aggregates: one
    * (user, cohort_day, day_offset) row per event, first-touch via the
    * same partition-only window as [[cohortRetention]] (events scanned
    * once). At 100 TB the user→cohort_day mapping is itself a
    * maintained dimension (the [[DedupStore]] shape: first-seen day per
    * user, appended per batch) — this one-pass derivation is its batch
    * form; activity batches then merge into the sketch store
    * INDEPENDENTLY ([[graft.streaming.SketchRollup.mergeKeyedInto]] —
    * HLL union makes batching invisible).
    */
  def cohortAssignments(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
    events.select(col(userCol).as("user_id"), to_date(col(tsCol)).as("day"))
      .withColumn("cohort_day", min(col("day")).over(w))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .select("user_id", "cohort_day", "day_offset")
  }

  /** The retention triangle SERVED from a persisted HLL sketch store
    * ([[graft.streaming.SketchRollup.mergeKeyedInto]] over
    * [[cohortAssignments]] rows): per (cohort_day, day_offset),
    * `est_users` = the merged sketch's estimate and `n_events` = the
    * activity row count — KB-sized blobs, no raw event rescan, the
    * answer any (cohort range × offset range) slice merges from. The
    * exact-vs-estimate tolerance is gated q50-style (each engine checks
    * its own sketch; exact counts ride along cross-engine-hashable).
    */
  def cohortRetentionFromSketches(spark: org.apache.spark.sql.SparkSession,
      storePath: String): DataFrame =
    graft.streaming.SketchRollup.read(spark, storePath)
      .select(col("cohort_day"), col("day_offset"),
        hll_sketch_estimate(col("sk")).as("est_users"), col("n_events"))
      .orderBy("cohort_day", "day_offset")

  /** Gap-based sessionization: a user's events split into sessions
    * wherever consecutive events (time order, id tiebreak) are more
    * than `gapSeconds` apart — the standard web-analytics session
    * definition (GA's 30-minute inactivity window). One row per
    * session: 1-based index in the user's timeline, event count, start
    * instant and span (epoch MICROS — integer arithmetic end to end, no
    * float division to diverge cross-engine).
    *
    * Plan shape: ONE hash shuffle on user feeds both window passes
    * (lag-gap flag, then the running sum that numbers sessions — same
    * partitioning, same sort, one exchange) AND the final
    * groupBy(user, session): HashPartitioning(user) already clusters
    * (user, session_idx), so Catalyst inserts no second exchange. Per-
    * user state is one window row — no arrays, no skew amplification;
    * a bot user costs sort spill, never memory.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapSeconds: Long = 1800L): DataFrame = {
    require(gapSeconds > 0, "session gap must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val us = unix_micros(col(tsCol))
    val newSession = when(
      lag(us, 1).over(w).isNull ||
        us - lag(us, 1).over(w) > gapSeconds * 1000000L, 1L).otherwise(0L)
    events
      .select(col(userCol), col(tsCol), col(idCol))
      .withColumn("_new_s", newSession)
      .withColumn("session_idx",
        sum(col("_new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(us).as("session_start_us"),
        (max(us) - min(us)).as("duration_us"))
  }

  /** Last-touch attribution: each conversion event binds to the LATEST
    * preceding event of a touch type by the same user within
    * `windowDays` — one row per attributed conversion (the assignment
    * itself; roll-ups are a groupBy away). The carried touch is a
    * running `max` of a (ts, type, id) struct over the user's ordered
    * preceding rows — max ignores NULLs in every engine, so this is the
    * portable "fill forward the last marketing touch" without IGNORE
    * NULLS window syntax; struct order (ts first) makes "latest" exact
    * and the (type, id) tail breaks same-instant ties deterministically.
    *
    * Plan shape: the scan keeps only touch + conversion types (pushed
    * filter), ONE hash shuffle on user, one window pass, then a plain
    * filter — no self-join (the join formulation shuffles the events
    * table twice and explodes on bot users).
    */
  def attributeLastTouch(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, touchTypes: Seq[String],
      conversionType: String, windowDays: Int): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    require(!touchTypes.contains(conversionType),
      "conversion type cannot also be a touch type")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val us = unix_micros(col(tsCol))
    val touch = max(when(col(typeCol).isin(touchTypes: _*),
      struct(us.as("ts_us"), col(typeCol).as("t"), col(idCol).as("id"))))
      .over(w)
    events
      .filter(col(typeCol).isin(touchTypes :+ conversionType: _*))
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("_touch", touch)
      .filter(col(typeCol) === conversionType && col("_touch").isNotNull &&
        us - col("_touch.ts_us") <= lit(windowDays.toLong * 86400000000L))
      .select(col(idCol).as("conversion_id"), col(userCol),
        col("_touch.t").as("touch_type"), col("_touch.id").as("touch_id"),
        (us - col("_touch.ts_us")).as("gap_us"))
  }

  /** Event-path transition matrix: counts of (event type → the user's
    * next event type) over every consecutive pair in each user's
    * timeline — the Markov first step of path/flow analysis (Sankey
    * feeds, next-action prediction baselines). One shuffle on user, one
    * `lead` window, one partial-aggregated groupBy on the (tiny)
    * type-pair domain.
    */
  def pathTransitions(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events
      .select(col(userCol), col(tsCol), col(idCol),
        col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
  }
}
