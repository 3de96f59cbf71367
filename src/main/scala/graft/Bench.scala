package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line as the LAST stdout line (also written to
  * target/bench_last.json so a noisy harness can't lose it).
  *
  * The measurement defends itself against a contended host (round 6's driver
  * recorded 176s where the same commit re-ran at 57.6s):
  *   - each query is timed TWICE (cache-cleared before both) as two FULL
  *     SWEEPS of the suite — one query's samples land minutes apart, so a
  *     sustained contention window cannot inflate both — plus a THIRD
  *     tie-break sample when the two disagree >2x; the metric of record
  *     is the MIN, and all samples are emitted per query so run-to-run
  *     noise is visible in the artifact itself;
  *   - cpu count defaults to the host's availableProcessors (not a silent
  *     local[4] on a 32-core box);
  *   - an "env" block records availableProcessors, heap, and /proc/loadavg
  *     before and after the timed phase, so a loaded host self-diagnoses.
  *
  * Each query also gets a per-query warmup run before the timed runs, so
  * one-shot JIT/codegen/scan-init noise (a ~10s phantom on an 0.5s query in
  * round 1) can't skew a round's delta. Failures are surfaced in an "errors"
  * field instead of silently benching as time-to-throw.
  */
object Bench {
  private def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3).mkString(",")
    catch { case scala.util.control.NonFatal(_) => "unavailable" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val loadBefore = loadavg()
    val spark = GraftExtensions.localSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Session warmup: scan init paid once, outside any timed section. A
    // failure here (bad SF dir, unreadable table) is ONE clear crash, not
    // 90+ downstream per-query errors (round-6 verdict item).
    graft.sources.Tables.all.foreach(n =>
      graft.sources.Tables.load(spark, sfDir, n).count())
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query warmup: one untimed run; a failure here marks the query
    // errored and skips the timed runs (value -1).
    SparkEntry.queries.foreach { case (name, fn) =>
      try { fn(spark, sfDir).count(); () }
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      // drop each warmup's internally-persisted frames immediately: 90
      // warmups otherwise hold every dedup/ANN intermediate at once, and
      // the timed phase starts against a saturated storage pool (r5's
      // dedup timings ran ~2x their isolated cost from exactly this)
      spark.catalog.clearCache()
    }
    def timedRun(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // operators that persist() internally (the dedup family) would
      // otherwise hand the timed run a warm cache from a prior run via
      // CacheManager plan-matching — every timed sample must include
      // building those frames, and caches must not accumulate across
      // the 90+ queries sharing this session
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); () }
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      if (errors.contains(name)) -1.0 else (System.nanoTime() - t0) / 1e9
    }
    // Two timed samples per query, taken as two FULL SWEEPS over all
    // queries (sample 1 of every query, then sample 2) so one query's two
    // samples are minutes apart: min-of-2 then rejects a sustained
    // contention window (round 7's driver recorded ann_ivf at [15.9,
    // 10.9]s back-to-back where the same commit re-ran at ~1s — two
    // adjacent samples share any contention longer than one query).
    def sweep(): Map[String, Double] =
      SparkEntry.queries.map { case (name, fn) =>
        name -> (if (errors.contains(name)) -1.0 else timedRun(name, fn))
      }
    val sweep1 = sweep()
    val sweep2 = sweep()
    // A third sample arbitrates queries whose two samples disagree >2x
    // (q16_pivot spiked in rounds 6 AND 7): with samples minutes apart a
    // >2x gap means one of them hit interference — min-of-3 on just those
    // queries settles it without re-running the whole suite.
    val samples = SparkEntry.queries.keys.map { name =>
      val a = sweep1(name); val b = sweep2(name)
      val third =
        if (a > 0 && b > 0 && math.max(a, b) > 2 * math.min(a, b))
          Some(timedRun(name, SparkEntry.queries(name)))
        else None
      name -> ((a, b, third))
    }.toSeq
    val results = samples.map { case (name, (a, b, c)) =>
      // any errored sample marks the query errored (-1): a query that
      // fails nondeterministically must not bench as its lucky sample
      name -> (if (a < 0 || b < 0 || c.exists(_ < 0)) -1.0
        else (Seq(a, b) ++ c).min)
    }.toMap
    val loadAfter = loadavg()
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ").replace("\t", " ")
    // 3-decimal seconds: ~40% shorter line — a tail-window capture of an
    // 80+-query line must not truncate mid-JSON (BENCH_r04 parsed null)
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val samplesJson = samples.map { case (k, (a, b, c)) =>
      "\"" + k + "\":[" + (Seq(a, b) ++ c).map(r3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = r3(results.values.filter(_ >= 0).sum)
    val rt = Runtime.getRuntime
    // self-labeling contention flag: a loadavg above ~2 BEFORE the run
    // means something else was burning cores while we measured — the
    // artifact says so itself instead of leaving a reader to cross-check
    // env blocks (the r10 bench ran at loadavg 4.3 and carried a 2.9x
    // phantom on dedup_minhash that an idle re-run didn't reproduce)
    val contended =
      try loadBefore.split(",")(0).toDouble > 2.0
      catch { case scala.util.control.NonFatal(_) => false }
    if (contended)
      System.err.println(s"[bench] WARNING: loadavg_before=$loadBefore — " +
        "host was contended at start; numbers may carry interference " +
        "(artifact flagged contended:true); re-run idle to confirm regressions")
    val env = s"""{"available_processors":${rt.availableProcessors},""" +
      s""""spark_cpus":"$cpus","max_heap_mb":${rt.maxMemory / (1 << 20)},""" +
      s""""free_heap_mb":${rt.freeMemory / (1 << 20)},""" +
      s""""loadavg_before":"${esc(loadBefore)}","loadavg_after":"${esc(loadAfter)}",""" +
      s""""contended":$contended,"timing":"min_of_2_interleaved_sweeps_plus_tiebreak"}"""
    // self-adjudication: the artifact carries each sweep's own total and
    // the tie-break count, so a contended:true run documents ITS OWN
    // quiet estimate (the per-query min across sweeps minutes apart)
    // instead of needing a companion re-run artifact to arbitrate
    val sweep1Total = r3(sweep1.values.filter(_ >= 0).sum)
    val sweep2Total = r3(sweep2.values.filter(_ >= 0).sum)
    val nThird = samples.count(_._2._3.isDefined)
    val tiebreak = s"""{"sweep1_total":$sweep1Total,"sweep2_total":$sweep2Total,""" +
      s""""third_samples":$nThird,"note":"value sums per-query MINs across """ +
      """two full-suite sweeps taken minutes apart (plus a 3rd sample where """ +
      """they disagreed >2x); a contention window inflates at most one """ +
      """sweep, so value stands as the quiet estimate even when contended"}"""
    // queries that time a WRITTEN layout inside the query (gating a
    // round trip is the point of those entries): their numbers include
    // the one-time write/index-build cost, not just the read path
    val roundTrip = Seq("q43_partitioned_source", "q44_bucketed_join",
      "q46_schema_evolution", "ann_ivfpq_persisted", "q48_zorder",
      "q49_compaction", "q50_sketch_rollup", "q51_skipping_index",
      "q52_quantile_rollup", "q53_topk_rollup", "stream_sketch_rollup",
      "stream_quantile_rollup", "stream_topk_rollup",
      "dedup_incremental", "mm_manifest", "ann_ivfpq_append",
      "q57_snapshot", "dedup_incremental_minhash",
      "q60_snapshot_strkey", "q61_snapshot_datekey", "ann_ivfpq_delete",
      "q62_snapshot_evolve", "q63_page_keyset_stats", "q64_page_keyset_str",
      "q65_snapshot_changes", "q66_page_keyset_micros", "stream_snapshot_cdc",
      "q67_snapshot_zorder", "q68_snapshot_delete", "q69_snapshot_restore",
      "q70_snapshot_stats_inc", "text_bm25_indexed", "q77_point_bloom_inc",
      "q76_cohort_sketch", "text_bm25_append", "q78_snapshot_vacuum",
      "q79_snapshot_asof", "q83_snapshot_clone", "q84_snapshot_mv",
      "stream_mv", "q86_mv_multi", "q87_snapshot_sql",
      "text_collocations_inc", "q88_mv_multikey", "text_bm25_delete",
      "text_bm25_compact", "text_colloc_compact", "q91_snapshot_drop",
      "q92_snapshot_rename", "q93_mv_sql", "q94_changes_sql",
      "dedup_takedown")
      .filter(SparkEntry.queries.contains)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"round_trip_writes":$roundTrip,"tiebreak":$tiebreak,"env":$env,"sf":"$sfDir"}"""
    // the full two-sample record goes to the file artifact; the stdout line
    // stays min-only so the harness tail-window can't truncate mid-JSON
    val fileLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"samples":$samplesJson,"errors":$errJson,"round_trip_writes":$roundTrip,"tiebreak":$tiebreak,"env":$env,"sf":"$sfDir"}"""
    // short summary printed LAST: even if the harness tail-window clips the
    // full per-query line, the final line is ~100 bytes and always parses
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"sf":"$sfDir"}"""
    spark.stop()
    try {
      val out = java.nio.file.Paths.get("target/bench_last.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        fileLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => () }
    // last stdout lines, after spark.stop() so no late log can follow them
    println(line)
    println(summary)
  }
}
