package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.Tables

/** Persisting dedup operators called concurrently on one session.
  * ngramJaccard and ngramContainment persist the same shingled `docs`
  * plan, so over separately read copies of one file Spark's CacheManager
  * serves both from one cache entry; neither may see a wrong row count.
  */
class DedupConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // a fresh read per call: equal plans, not one shared DataFrame
  private def docs(): DataFrame = Tables.load(spark, TestSpark.sf, "documents")

  private val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ngramJaccard" -> (df => Dedup.ngramJaccard(df, "doc_id", "text",
      shingleSize = 3, threshold = 0.5)),
    "ngramContainment" -> (df => Dedup.ngramContainment(df, "doc_id", "text",
      shingleSize = 3, threshold = 0.8)))

  test("concurrent ngram joins on one session return the sequential row counts") {
    spark.catalog.clearCache()
    val expected = ops.map { case (name, op) => name -> op(docs()).collect().length }.toMap
    assert(expected.values.forall(_ > 0), s"the input must yield pairs: $expected")
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the ngram joins persist their multi-consumer intermediates")
    spark.catalog.clearCache()
    val threads = 3
    val deadline = System.nanoTime() + 4000L * 1000 * 1000
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val results = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(String, Long)]] {
          def call(): Seq[(String, Long)] = {
            val got = Seq.newBuilder[(String, Long)]
            var i = 0
            // at least two calls per thread, then until the deadline
            while (i < 2 || (i < 12 && System.nanoTime() < deadline)) {
              val (name, op) = ops((t + i) % ops.length)
              // alternate the two result paths: an aggregate over the
              // plan, and the rows themselves
              val n = if (i % 2 == 0) op(docs()).count() else op(docs()).collect().length.toLong
              got += name -> n
              i += 1
            }
            got.result()
          }
        })
      }.flatMap(_.get())
      val wrong = results.filter { case (name, n) => n != expected(name) }
      assert(wrong.isEmpty, s"expected $expected, wrong results: $wrong of ${results.length}")
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }
}
