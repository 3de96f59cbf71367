package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (Test/fork runs them in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftExtensions.localSession(4)

  val sf = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs, for specs that pin how many Spark
    * jobs a step costs. The listener bus is drained on both sides, so
    * earlier work is not charged to the body.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.TestListenerBus.drain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** The `numFiles` metric of every file scan of `df`, from a fresh
    * execution of it (re-running an executed plan resets its metrics but
    * does not list files again): scans inside a cached relation it read,
    * and under adaptive execution, included. */
  def filesScanned(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[Long] = p.collect {
      case s: FileSourceScanExec => Seq(s.metrics("numFiles").value)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val run = df.select("*")
    run.collect()
    scans(run.queryExecution.executedPlan)
  }

  def scratch(name: String): String = {
    val d = s"/root/repo/target/test-scratch/$name"
    new java.io.File(d).mkdirs()
    d
  }
}
