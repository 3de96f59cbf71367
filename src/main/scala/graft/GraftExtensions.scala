package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expr._

/** SparkSessionExtensions entry point: registers the graft native
  * expressions as SQL functions, so `spark.sql("SELECT graft_cosine(a,b)
  * ...")` works anywhere the library's Column API does; plans the native
  * as-of join ([[graft.plans.AsOfJoinStrategy]]); and binds filter
  * constants at run time ([[graft.plans.BindFilterConstants]]).
  *
  * The filter rule rewrites executed `Filter` conditions only: each
  * non-null int, long, short, byte, float, double, boolean, date or
  * timestamp literal compared in one becomes a `bound(v)` value read at
  * run time, so reads that differ only in such a constant (a point key, a
  * scan range, a page cursor) reuse generated code instead of compiling
  * new classes. Scans keep the literals, so parquet pushdown and pruning
  * are unchanged; strings, decimals, nulls, `IN` lists and `LIKE`
  * patterns are left as they are.
  *
  * Sessions built through [[GraftExtensions.withSessionDefaults]] get the
  * extension. Others add it with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((name, info, builder))
    }
    GraftExtensions.tableFunctions.foreach { case (name, info, builder) =>
      ext.injectTableFunction((name, info, builder))
    }
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectColumnar(_ => graft.plans.BindFilterConstants)
  }
}

object GraftExtensions {

  /** Library-recommended SESSION DEFAULTS — the performance confs the
    * operators are designed to run under, exposed so every entry point
    * (user sessions included) gets the same physical plans the bench
    * measures; r17 shipped the AQE threshold in the bench session only,
    * which made the optimization harness-scoped.
    *
    *  - `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m`:
    *    AQE's runtime sort-merge→shuffled-hash rewrite is OFF until this
    *    is set. With it, a sort-merge join whose MEASURED post-shuffle
    *    partitions all fit a 64 MB build map skips both sorts. The
    *    decision is per-join from runtime sizes, so at scale an
    *    oversized build side keeps sort-merge — scale-honest, not a
    *    local tune (a 64 MB/task build map is modest on any executor).
    *    Measured r17: −0.1..−0.5 s on each of the 10 SMJ-carrying
    *    queries, no regressions, results join-strategy-invariant.
    */
  val sessionDefaults: Map[String, String] = Map(
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")

  /** Library defaults that are STATIC confs: a session takes them only
    * from its builder, and `spark.conf.set` on a built session rejects
    * them.
    *
    *  - `spark.sql.codegen.cache.maxEntries=10000`: Spark's generated-code
    *    cache holds 100 classes, fewer than one cold curation pass
    *    compiles (about 111), so every later pass re-pays Janino
    *    compilation; sized at 10,000, repeated passes compile nothing. The
    *    cache is JVM-wide and sized once, when code generation first
    *    initializes in the JVM: a later builder, or a second session in
    *    the same JVM, cannot change it.
    */
  val staticDefaults: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  /** Apply [[sessionDefaults]] and [[staticDefaults]] to a session builder
    * and add the graft extension:
    * `GraftExtensions.withSessionDefaults(SparkSession.builder)...`. The
    * extension is added next to any `spark.sql.extensions` the caller set.
    */
  def withSessionDefaults(
      b: org.apache.spark.sql.SparkSession.Builder): org.apache.spark.sql.SparkSession.Builder =
    (sessionDefaults ++ staticDefaults).foldLeft(b.withExtensions(new GraftExtensions)) {
      case (bb, (k, v)) => bb.config(k, v)
    }

  /** The local session Bench, Verify and the specs run on, so all three
    * check the plans users get: the library defaults, `cores` task slots
    * and as many shuffle partitions, UTC session time, and the UI off.
    * Parquet timestamps are read the way `graft.sources.Tables.load`
    * expects: NANOS int64 as a long (`nanosAsLong`), and
    * TIMESTAMP(isAdjustedToUTC=false) as the stored micros taken as an
    * instant (`inferTimestampNTZ.enabled=false`), which is what DuckDB's
    * epoch_us sees.
    */
  def localSession(cores: Int): org.apache.spark.sql.SparkSession =
    withSessionDefaults(org.apache.spark.sql.SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  private def entry(name: String, usage: String)(builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo("graft", name, usage), builder)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("graft_cosine", "cosine similarity of two numeric arrays") {
      case Seq(a, b) => CosineSimilarity(a, b)
    },
    entry("graft_dot", "dot product of two numeric arrays") {
      case Seq(a, b) => DotProduct(a, b)
    },
    entry("graft_simhash64", "64-bit simhash of a token array") {
      case Seq(t) => SimHash64(t)
    },
    entry("graft_word_shingles", "sorted distinct word n-gram shingles of a string") {
      case Seq(t, n) => WordShingles(t, intArg(n, "graft_word_shingles"))
    },
    entry("graft_word_tokens", "lower-cased word tokens of a string") {
      case Seq(t) => WordTokens(t)
    },
    entry("graft_minhash_signature", "k-minhash signature of a shingle array") {
      case Seq(s, k) => MinHashSignature(s, intArg(k, "graft_minhash_signature"))
    },
    entry("graft_sorted_intersect_size", "intersection size of two sorted string arrays") {
      case Seq(a, b) => SortedIntersectSize(a, b)
    },
    entry("graft_top_token_count", "max multiplicity of any token in a token array") {
      case Seq(t) => TopTokenCount(t)
    },
    entry("graft_window_hashes", "rolling polynomial hash per w-token window of a token array") {
      case Seq(t, w) => WindowHashes(t, intArg(w, "graft_window_hashes"))
    },
    entry("graft_kll_agg", "KLL quantile sketch (binary) of double values; optional k") {
      case Seq(x) => KllSketchAgg(x)
      case Seq(x, k) => KllSketchAgg(x, intArg(k, "graft_kll_agg"))
    },
    entry("graft_kll_merge", "union of serialized KLL sketches; optional k") {
      case Seq(x) => KllMergeAgg(x)
      case Seq(x, k) => KllMergeAgg(x, intArg(k, "graft_kll_merge"))
    },
    entry("graft_kll_quantile", "quantile estimate at a rank from a serialized KLL sketch") {
      case Seq(s, r) => KllQuantile(s, r)
    },
    entry("graft_kll_rank", "normalized rank of a value in a serialized KLL sketch") {
      case Seq(s, v) => KllRankOf(s, v)
    },
    entry("graft_kll_n", "exact stream length a serialized KLL sketch saw") {
      case Seq(s) => KllCount(s)
    },
    entry("graft_freq_agg", "frequent-items sketch (binary) of bigint items; optional maxMapSize") {
      case Seq(x) => FreqSketchAgg(x)
      case Seq(x, m) => FreqSketchAgg(x, intArg(m, "graft_freq_agg"))
    },
    entry("graft_freq_merge", "union of serialized frequent-items sketches; optional maxMapSize") {
      case Seq(x) => FreqMergeAgg(x)
      case Seq(x, m) => FreqMergeAgg(x, intArg(m, "graft_freq_merge"))
    },
    entry("graft_freq_bounds", "certified (estimate, lb, ub) count bracket for an item") {
      case Seq(s, i) => FreqBounds(s, i)
    },
    entry("graft_freq_n", "exact stream length a serialized frequent-items sketch saw") {
      case Seq(s) => FreqStreamLength(s)
    },
  )

  private def strArg(e: Expression, fn: String): String = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string argument, got $other")
  }

  private def tvf(name: String, usage: String)(
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (new FunctionIdentifier(name), new ExpressionInfo("graft", name, usage), builder)

  /** Table-valued SQL faces of the event-analytics operators — the
    * reference's own interface is SQL (`FROM data`-style queries over
    * the open table), so funnel/sessionize/attribution/path analysis
    * must be reachable without Scala:
    * `SELECT * FROM graft_funnel('events', 'user_id', 'ts', 'event_type',
    * 'event_id', 'view,click,purchase')`. Each builder resolves the
    * named table/view in the ACTIVE session and returns the SAME
    * analyzed plan the Dataset API builds — one code path, two faces
    * (spec-asserted equal). Arguments must be literals (they are plan
    * parameters, not row expressions).
    *
    * SESSION ASSUMPTION: builders resolve the named table via
    * `SparkSession.active` — the session executing the query — not the
    * session the function was registered into. In the single-session
    * applications this library targets the two coincide; an application
    * juggling MULTIPLE SparkSessions must register the functions into
    * EACH session ([[register]]) and keep temp-view names meaningful in
    * the session that runs the SQL, or a builder can resolve a view
    * from (or fail against) the wrong session's catalog.
    */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    tvf("graft_funnel",
      "ordered funnel depth histogram: (table, user_col, ts_col, type_col, id_col, steps_csv[, within_days])") {
      args =>
        require(args.length == 6 || args.length == 7,
          s"graft_funnel takes 6 or 7 arguments, got ${args.length}")
        val s = args.take(6).map(strArg(_, "graft_funnel"))
        val within =
          if (args.length == 7) Some(intArg(args(6), "graft_funnel")) else None
        graft.operators.EventAnalytics.funnel(
          org.apache.spark.sql.SparkSession.active.table(s(0)),
          s(1), s(2), s(3), s(4),
          s(5).split(",").toSeq.map(_.trim).filter(_.nonEmpty), within)
          .queryExecution.analyzed
    },
    tvf("graft_sessionize",
      "gap sessionization: (table, user_col, ts_col, id_col, gap_seconds)") {
      args =>
        require(args.length == 5,
          s"graft_sessionize takes 5 arguments, got ${args.length}")
        val s = args.take(4).map(strArg(_, "graft_sessionize"))
        graft.operators.EventAnalytics.sessionize(
          org.apache.spark.sql.SparkSession.active.table(s(0)),
          s(1), s(2), s(3),
          intArg(args(4), "graft_sessionize").toLong)
          .queryExecution.analyzed
    },
    tvf("graft_attribution",
      "last-touch attribution: (table, user_col, ts_col, id_col, type_col, touch_csv, conversion_type, window_days)") {
      args =>
        require(args.length == 8,
          s"graft_attribution takes 8 arguments, got ${args.length}")
        val s = args.take(7).map(strArg(_, "graft_attribution"))
        graft.operators.EventAnalytics.attributeLastTouch(
          org.apache.spark.sql.SparkSession.active.table(s(0)),
          s(1), s(2), s(3), s(4),
          s(5).split(",").toSeq.map(_.trim).filter(_.nonEmpty), s(6),
          intArg(args(7), "graft_attribution"))
          .queryExecution.analyzed
    },
    tvf("graft_path_transitions",
      "event-type transition counts: (table, user_col, ts_col, id_col, type_col)") {
      args =>
        require(args.length == 5,
          s"graft_path_transitions takes 5 arguments, got ${args.length}")
        val s = args.map(strArg(_, "graft_path_transitions"))
        graft.operators.EventAnalytics.pathTransitions(
          org.apache.spark.sql.SparkSession.active.table(s(0)),
          s(1), s(2), s(3), s(4))
          .queryExecution.analyzed
    },
    tvf("graft_cohort",
      "cohort retention triangle: (table, user_col, ts_col)") {
      args =>
        require(args.length == 3,
          s"graft_cohort takes 3 arguments, got ${args.length}")
        val s = args.map(strArg(_, "graft_cohort"))
        graft.operators.EventAnalytics.cohortRetention(
          org.apache.spark.sql.SparkSession.active.table(s(0)), s(1), s(2))
          .queryExecution.analyzed
    },
    tvf("graft_resample",
      "hourly resample + forward fill: (table, series_col, ts_col, value_col)") {
      args =>
        require(args.length == 4,
          s"graft_resample takes 4 arguments, got ${args.length}")
        val s = args.map(strArg(_, "graft_resample"))
        graft.operators.EventAnalytics.resampleHourly(
          org.apache.spark.sql.SparkSession.active.table(s(0)),
          s(1), s(2), s(3))
          .queryExecution.analyzed
    },
    // the lakehouse time-travel SQL faces: `SELECT ... FROM
    // graft_snapshot('<dir>')` pins the current committed version,
    // ('<dir>', v) pins version v, and graft_snapshot_asof('<dir>',
    // epoch_ms) resolves AS OF TIMESTAMP via the bisecting
    // versionAsOf — the plan scans the pinned manifest's file list, so
    // concurrent commits/compactions are invisible to it exactly like
    // the Scala read()
    tvf("graft_snapshot",
      "pinned snapshot-table read: (table_dir[, version])") {
      args =>
        require(args.length == 1 || args.length == 2,
          s"graft_snapshot takes 1 or 2 arguments, got ${args.length}")
        val dir = strArg(args(0), "graft_snapshot")
        val v = if (args.length == 2)
          Some(intArg(args(1), "graft_snapshot").toLong) else None
        graft.operators.SnapshotTable.read(
          org.apache.spark.sql.SparkSession.active, dir, v)
          .queryExecution.analyzed
    },
    tvf("graft_snapshot_asof",
      "snapshot-table AS OF read: (table_dir, epoch_ms)") {
      args =>
        require(args.length == 2,
          s"graft_snapshot_asof takes 2 arguments, got ${args.length}")
        val dir = strArg(args(0), "graft_snapshot_asof")
        val ts = args(1) match {
          case Literal(v: Long, _) => v
          case Literal(v: Int, _) => v.toLong
          case other => throw new IllegalArgumentException(
            s"graft_snapshot_asof expects a literal epoch-ms long, got $other")
        }
        graft.operators.SnapshotTable.readAsOf(
          org.apache.spark.sql.SparkSession.active, dir, ts)
          .queryExecution.analyzed
    },
    // CDC as SQL: `SELECT * FROM graft_snapshot_changes('<dir>', 'key',
    // fromV, toV)` — the `table_changes` face; the plan reads only the
    // manifests' file symmetric difference, exactly the Scala changes()
    tvf("graft_snapshot_changes",
      "snapshot-table CDC read: (table_dir, key_col, from_version, to_version[, ignore_cols_csv])") {
      args =>
        require(args.length == 4 || args.length == 5,
          s"graft_snapshot_changes takes 4 or 5 arguments, got ${args.length}")
        val dir = strArg(args(0), "graft_snapshot_changes")
        val key = strArg(args(1), "graft_snapshot_changes")
        val ignore =
          if (args.length == 5)
            strArg(args(4), "graft_snapshot_changes").split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
          else Seq.empty[String]
        graft.operators.SnapshotTable.changes(
          org.apache.spark.sql.SparkSession.active, dir, key,
          intArg(args(2), "graft_snapshot_changes").toLong,
          intArg(args(3), "graft_snapshot_changes").toLong, ignore)
          .queryExecution.analyzed
    },
    // the materialized view's SQL face: `SELECT * FROM graft_mv('<dir>')`
    // serves the CURRENT committed view version (snapshot isolation —
    // a concurrent refresh is invisible to the pinned plan)
    tvf("graft_mv",
      "serve a materialized view's current version: (mv_dir)") {
      args =>
        require(args.length == 1,
          s"graft_mv takes 1 argument, got ${args.length}")
        graft.operators.MaterializedView.serve(
          org.apache.spark.sql.SparkSession.active,
          strArg(args(0), "graft_mv"))
          .queryExecution.analyzed
    },
  )

  /** Register the graft SQL functions into an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    all.foreach { case (name, info, builder) =>
      org.apache.spark.sql.graft.ColumnBridge.registerFunction(spark, name, info, builder)
    }
    tableFunctions.foreach { case (name, info, builder) =>
      org.apache.spark.sql.graft.ColumnBridge.registerTableFunction(
        spark, name, info, builder)
    }
  }
}
