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

  def scratch(name: String): String = {
    val d = s"/root/repo/target/test-scratch/$name"
    new java.io.File(d).mkdirs()
    d
  }
}
