package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDirArg) = args
    // Verify gets its OWN round-trip scratch root (unless the caller set
    // one): a concurrently-running test suite or bench sharing
    // target/scratch rewrites a query's parquet between Verify's write
    // and DuckDB's re-read (the r17 q58_codecs flake). Must be set
    // before anything touches graft.Scratch (a lazy-initialized object).
    if (!sys.props.contains("graft.scratch.dir") &&
        !sys.env.contains("SPARK_GRAFT_SCRATCH"))
      System.setProperty("graft.scratch.dir",
        "/root/repo/target/scratch_verify")
    val spark = GraftExtensions.localSession(
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4))
    spark.sparkContext.setLogLevel("WARN")
    // local-iteration filter (unset on the driver): comma-separated query
    // names; both the parquet dumps and oracle_sql.json honor it so
    // tools/selfcheck.py runs on exactly the filtered set
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a filtered run goes to its OWN directory: writing a subset's
    // oracle_sql.json next to earlier full parquet dumps would make a
    // later selfcheck silently validate only the subset while the dir
    // looks fully populated
    val outDir = if (only.isDefined) {
      val d = outDirArg + "_only"
      System.err.println(s"[verify] SPARK_GRAFT_ONLY set — PARTIAL run, writing to $d")
      d
    } else outDirArg
    new java.io.File(outDir).mkdirs()
    def wanted(name: String) = only.forall(_.contains(name))
    // SQL-face gates re-register the graft functions per call; doing it
    // once up front keeps the parallel workers off the registry write path
    GraftExtensions.register(spark)
    // Queries run on a small THREAD POOL (guide §2.6: actions are only
    // sequential because the driver calls them sequentially): each
    // query's cold planning/codegen overlaps other queries' execution,
    // and store-gate commit latencies overlap each other. This is safe
    // because queries are independent — per-query scratch dirs, no
    // shared temp-view names (all view names are query-prefixed), one
    // shared session whose conf is fixed up front. Sequentially the
    // 178-query dump did not fit the driver's verify window (r17:
    // CORRECTNESS empty, run cut off); measured ~3x faster at 4 threads.
    val threads = sys.env.get("SPARK_GRAFT_VERIFY_THREADS")
      .map(_.toInt).getOrElse(4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val tasks = SparkEntry.queries.filter(kv => wanted(kv._1)).map {
      case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            spark.sparkContext.setJobDescription(s"verify: $name")
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
              System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
            } catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
          }
        })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
