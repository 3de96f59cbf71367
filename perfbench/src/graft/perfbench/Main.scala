package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** What a workload gives the harness. The harness times the set-up
  * repetitions and runs whole units (a session, a cycle, a pass) until
  * the measuring time is used up; the workload records its own steps
  * through the tracer and checks their outputs afterwards.
  */
trait Workload {
  /** Generate the seeded inputs (untimed). */
  def generate(): Unit
  /** One set-up of the fixture the units run against; timed by the harness. */
  def setUp(rep: Int): Unit
  /** Untimed work before set-up that runs every step of a unit once on
    * a small input, so set-up and measured units start with warm JIT and
    * code-generation caches, as in a long-running editor or writer; the
    * steps it records are dropped.
    */
  def warmUp(): Unit
  /** One unit of user work. */
  def runUnit(unit: Int): Unit
  /** Verify recorded outputs; marks failing steps and returns the
    * results of checks that belong to no single step.
    */
  def check(): Seq[Check]
  /** The workload's named end-to-end metrics (untraced figures). */
  def named(): Seq[Metric]
  /** The workload's layer metrics (traced steps only). */
  def layers(): Map[String, Double]
}

final case class Check(name: String, ok: Boolean, detail: String = "")

/** A named figure with its unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Long)

final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val work: String, data: String, val cores: Int) {
  val rng = new scala.util.Random(seed)
  def path(rel: String): String = s"$work/$rel"

  /** Time spent inside the measured loop on input preparation, which
    * the throughput figure leaves out.
    */
  var untimedNs = 0L
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** A seed-independent input file under the data directory, written
    * once per checkout as a single parquet file and reused by later runs.
    */
  def baseFile(name: String)(frame: => org.apache.spark.sql.DataFrame): String = {
    val target = new java.io.File(s"$data/$name")
    if (!target.exists()) {
      val tmp = s"$data/.$name.${ProcessHandle.current().pid()}"
      frame.repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      target.getParentFile.mkdirs()
      Files.move(part.toPath, target.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    target.getPath
  }
}

object Stats {
  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method): q in [0, 1].
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  /** Geometric mean; values are floored at 1 µs so a step that took no
    * measurable time cannot zero it.
    */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.length)

  /** Median and p90 latency metrics of one step category. */
  def latency(prefix: String, xs: Seq[Double]): Seq[Metric] =
    Seq(Metric(s"${prefix}_p50_ms", median(xs), "ms", xs.length.toLong),
      Metric(s"${prefix}_p90_ms", quantile(xs, 0.9), "ms", xs.length.toLong))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Main {
  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).mkString(",")
    catch { case NonFatal(_) => "unavailable" }

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  private def cpuTimes(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: graft.perfbench.Main --workload browse|snapshot_mix|curate " +
      "--seed N --seconds S --trace 0|1 --work DIR --data DIR --out DIR")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args.getOrElse("workload", usage("--workload is required"))
    val seed = args.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = args.get("seconds").map(_.toDouble).getOrElse(usage("--seconds is required"))
    val trace = args.get("trace").contains("1")
    val work = args.getOrElse("work", usage("--work is required"))
    val outDir = args.getOrElse("out", usage("--out is required"))
    val dataDir = args.getOrElse("data", usage("--data is required"))
    if (!Set("browse", "snapshot_mix", "curate").contains(workload))
      usage(s"unknown workload '$workload'")

    val nproc = Runtime.getRuntime.availableProcessors
    // one processor is left to the driver thread, the JIT and GC, so
    // Spark's task threads are not descheduled behind them
    val cores = math.max(1, math.min(nproc - 1, 4))
    val loadBefore = loadavg()
    val cpuBefore = cpuTimes()
    new java.io.File(work).mkdirs()

    val tSession = System.nanoTime()
    val spark = GraftExtensions.withSessionDefaults(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - tSession) / 1e9

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, seed, work, dataDir, cores)
    val w: Workload = workload match {
      case "browse" => new Browse(ctx)
      case "snapshot_mix" => new SnapshotMix(ctx)
      case "curate" => new Curate(ctx)
    }

    val tGen = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - tGen) / 1e9

    val tWarm = System.nanoTime()
    w.warmUp()
    tracer.steps.clear()
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val setups = (0 until 3).map { rep =>
      val t = System.nanoTime()
      w.setUp(rep)
      (System.nanoTime() - t) / 1e9
    }

    // whole units until the measuring time is used. A traced run traces
    // the even units, unit 0 as the untraced run measures it, and runs at
    // least three, so the overhead compares traced unit 2 with untraced
    // unit 1, both past the first unit
    val tLoop = System.nanoTime()
    val minUnits = if (trace) 3 else 1
    var unit = 0
    while (unit < minUnits || (System.nanoTime() - tLoop) / 1e9 < seconds) {
      tracer.unit = unit
      tracer.active = trace && unit % 2 == 0
      w.runUnit(unit)
      unit += 1
    }
    tracer.active = false
    val loopS = (System.nanoTime() - tLoop - ctx.untimedNs) / 1e9

    val tCheck = System.nanoTime()
    val checks =
      try w.check()
      catch { case NonFatal(e) => Seq(Check("checks_ran", ok = false, e.toString.take(300))) }
    val checkS = (System.nanoTime() - tCheck) / 1e9

    val steps = tracer.steps.toSeq
    val stepMs = steps.map(_.ms)
    val failedSteps = steps.count(!_.ok)
    val failedChecks = checks.count(!_.ok)
    val attempted = steps.length + checks.length
    val failed = failedSteps + failedChecks
    val completed = steps.count(_.ok)

    // the typical step latency weights every kind of step once: the
    // geometric mean of the kinds' median latencies. The median over all
    // steps of a mix falls in a gap between the latency clusters of
    // different kinds, so it jumps between them from run to run
    val kindP50 = steps.groupBy(_.kind).values.map(ss => Stats.median(ss.map(_.ms))).toSeq
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setups), "s", setups.length.toLong),
      Metric("kind_p50_gmean_ms", Stats.gmean(kindP50), "ms", stepMs.length.toLong),
      Metric("steps_per_s", completed / loopS, "1/s", completed.toLong))
    // a run has too few steps for a p90 with 10 samples beyond it, so the
    // p50 and p90 over all steps are reported but not bounded
    val named = Seq(
      Metric("error_rate", failed.toDouble / attempted, "failed/attempted", attempted.toLong),
      Metric("step_p50_ms", Stats.median(stepMs), "ms", stepMs.length.toLong),
      Metric("step_p90_ms", Stats.quantile(stepMs, 0.9), "ms", stepMs.length.toLong)) ++ w.named()
    val layers: Map[String, Double] = if (!trace) Map.empty else {
      val traced = steps.filter(_.traced)
      val n = math.max(1, traced.length).toDouble
      def tot(f: Counters => Long) = traced.map(s => f(s.counters)).sum / n
      val base = w.layers() ++ Map(
        "spark.jobs" -> tot(_.jobs), "spark.stages" -> tot(_.stages),
        "spark.tasks" -> tot(_.tasks), "spark.executor_cpu_ms" -> tot(_.cpuNs) / 1e6,
        "spark.gc_ms" -> tot(_.gcMs), "spark.shuffle_bytes" -> tot(_.shuffleBytes),
        "spark.spill_bytes" -> tot(_.spillBytes), "spark.records_read" -> tot(_.recordsRead))
      val self = tracer.selfMsByLayer()
      val selfM = Seq("bench", "sources", "query", "exporters", "store", "curate")
        .map(l => s"self_ms.$l" -> self.getOrElse(l, 0.0) / n).toMap
      // overhead: per step kind, traced median over untraced median in the
      // warm units, combined as a geometric mean over kinds seen both ways
      val ratios = steps.filter(_.unit > 0).groupBy(_.kind).toSeq.flatMap { case (_, ss) =>
        val (t, u) = ss.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None
        else Some(Stats.median(t.map(_.ms)) / math.max(1e-6, Stats.median(u.map(_.ms))))
      }
      val overheadPct =
        if (ratios.isEmpty) 0.0
        else (math.exp(ratios.map(math.log).sum / ratios.length) - 1) * 100
      base ++ selfM + ("trace.overhead_pct" -> overheadPct)
    }
    val loadAfter = loadavg()
    val cpuAfter = cpuTimes()
    val stealPct = 100.0 * (cpuAfter._1 - cpuBefore._1) / math.max(1L, cpuAfter._2 - cpuBefore._2)
    val contended =
      try loadBefore.split(",")(0).toDouble > nproc / 2.0
      catch { case NonFatal(_) => false }

    val rt = Runtime.getRuntime
    val provenance = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "nproc" -> nproc, "spark_cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> rt.maxMemory / (1 << 20),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "contended" -> contended, "cpu_steal_pct" -> stealPct,
      "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
      "source_hash" -> sys.env.getOrElse("PERFBENCH_SOURCE_HASH", "unknown"),
      "session_start_s" -> sessionStartS, "generate_s" -> genS,
      "warmup_s" -> warmS, "setup_samples_s" -> setups, "units" -> unit, "measure_wall_s" -> loopS,
      "check_s" -> checkS)
    def metricMap(ms: Seq[Metric]) = ms.map(m =>
      m.name -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit, "n" -> m.n)).toMap
    val stepKinds = steps.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> mutable.LinkedHashMap("n" -> ss.length,
        "p50_ms" -> Stats.median(ss.map(_.ms)),
        "samples_ms" -> ss.map(s => math.rint(s.ms * 10) / 10),
        "rows_mean" -> Stats.mean(ss.map(_.rows.toDouble)),
        "failed" -> ss.count(!_.ok))
    }.toMap
    val errors = steps.filterNot(_.ok).map(s => s"${s.kind}#${s.id}: ${s.error.getOrElse("")}") ++
      checks.filterNot(_.ok).map(c => s"check ${c.name}: ${c.detail}")
    val report = mutable.LinkedHashMap[String, Any](
      "provenance" -> provenance,
      "end_to_end" -> metricMap(endToEnd),
      "named" -> metricMap(named),
      "per_layer" -> layers,
      "step_kinds" -> stepKinds,
      "checks" -> checks.map(c => mutable.LinkedHashMap("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "errors" -> errors.take(50))

    new java.io.File(outDir).mkdirs()
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    Files.write(Paths.get(s"$outDir/$tag.json"), Json(report).getBytes(StandardCharsets.UTF_8))
    if (trace) {
      val stepLines = steps.map(s => Json(mutable.LinkedHashMap(
        "type" -> "step", "id" -> s.id, "kind" -> s.kind, "category" -> s.category,
        "unit" -> s.unit, "traced" -> s.traced, "ms" -> s.ms, "rows" -> s.rows, "ok" -> s.ok,
        "attrs" -> s.attrs, "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks,
        "qe" -> s.qe.map(q => mutable.LinkedHashMap("func" -> q.funcName, "plan_ms" -> q.planMs,
          "exec_ms" -> q.execMs, "rows_examined" -> q.rowsExamined, "files" -> q.filesRead,
          "file_bytes" -> q.fileBytes)))))
      val spanLines = tracer.spans.map(s => Json(mutable.LinkedHashMap(
        "type" -> "span", "id" -> s.id, "parent" -> s.parent, "step" -> s.step,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.write(Paths.get(s"$outDir/$tag.trace.jsonl"),
        (stepLines ++ spanLines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    tracer.close()
    spark.stop()

    // human-readable lines, then the full report, then the result line last
    val shown = if (trace) Seq.empty[Metric] else endToEnd ++ named
    shown.foreach(m => println(f"[perfbench] $workload%s ${m.name}%s = ${m.value}%.4f ${m.unit}%s (n=${m.n}%d)"))
    layers.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"[perfbench] $workload%s $k%s = $v%.4f") }
    errors.take(20).foreach(e => println(s"[perfbench] FAILED $e"))
    println(Json(Map("perfbench_report" -> report)))
    val metrics =
      if (trace) Layers.units.map { case (k, u) =>
        k -> mutable.LinkedHashMap("value" -> layers.getOrElse(k, 0.0), "unit" -> u) }.toMap
      else endToEnd.map(m => m.name -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit)).toMap
    println(Json(mutable.LinkedHashMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }
}

/** Every per-layer metric with its unit, in report order. A workload
  * reports 0 for a layer it leaves idle.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "sources.open_ms" -> "ms", "sources.file_bytes_read" -> "bytes", "sources.files_read" -> "count",
    "query.plan_ms" -> "ms", "query.exec_ms" -> "ms", "query.page_plan_share_pct" -> "%",
    "query.jobs_per_step" -> "count", "query.rows_examined_per_row_returned" -> "ratio",
    "exporters.write_ms" -> "ms", "exporters.bytes_written" -> "bytes",
    "exporters.bytes_per_row" -> "bytes/row",
    "store.upsert_plan_ms" -> "ms", "store.upsert_exec_ms" -> "ms",
    "store.files_rewritten" -> "count", "store.files_reused" -> "count", "store.write_amp" -> "ratio",
    "store.scan_files_kept_ratio" -> "ratio", "store.scan_plan_ms" -> "ms",
    "store.scan_prune_share_pct" -> "%", "store.compact_bytes_rewritten" -> "bytes",
    "store.versions" -> "count") ++
    Curate.Ops.map(op => s"curate.stage_ms.$op" -> "ms") ++ Seq(
    "dedup.output_pairs" -> "count", "dedup.bucket_drop_fraction" -> "ratio",
    "dedup.planted_recall" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.records_read" -> "count") ++
    Seq("bench", "sources", "query", "exporters", "store", "curate").map(l => s"self_ms.$l" -> "ms") :+
    ("trace.overhead_pct" -> "%")
}
