package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Bounds for q18_approx. The gate row now carries tolerance booleans
  * (each engine checks its own sketch against the exact value), so the
  * driver hash-verifies it; this spec keeps the independent, tighter
  * assertions on the raw sketch values themselves.
  * HLL++ (rsd 0.01) must land within 5% of exact distinct;
  * percentile_approx(accuracy=10000) must pick a value whose true rank is
  * within 1% of the requested quantile.
  */
class ApproxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val li = Tables.load(spark, TestSpark.sf, "lineitem")
  private lazy val gateRow = SparkEntry.queries("q18_approx")(spark, TestSpark.sf).first()
  private lazy val raw = li.agg(
    approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
    approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
    percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("median_price"),
    percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("p95_price")).first()

  test("gate booleans are all true") {
    Seq("orders_ok", "parts_ok", "median_ok", "p95_ok").foreach { c =>
      assert(gateRow.getAs[Boolean](c), s"$c is false")
    }
    assert(gateRow.getAs[Long]("n_orders_exact") > 0)
    assert(gateRow.getAs[Long]("n_parts_exact") > 0)
  }

  test("HLL distinct counts are within 5% of exact") {
    val exactOrders = li.select("l_orderkey").distinct().count()
    val exactParts = li.select("l_partkey").distinct().count()
    val approxOrders = raw.getAs[Long]("approx_orders")
    val approxParts = raw.getAs[Long]("approx_parts")
    assert(math.abs(approxOrders - exactOrders).toDouble / exactOrders < 0.05,
      s"approx_orders=$approxOrders exact=$exactOrders")
    assert(math.abs(approxParts - exactParts).toDouble / exactParts < 0.05,
      s"approx_parts=$approxParts exact=$exactParts")
  }

  test("approx percentiles are within rank tolerance of exact") {
    val n = li.count().toDouble
    def rankOf(v: Double): Double =
      li.filter(col("l_extendedprice") <= v).count() / n
    val median = raw.getAs[Double]("median_price")
    val p95 = raw.getAs[Double]("p95_price")
    assert(math.abs(rankOf(median) - 0.5) <= 0.01,
      s"median=$median trueRank=${rankOf(median)}")
    assert(math.abs(rankOf(p95) - 0.95) <= 0.01,
      s"p95=$p95 trueRank=${rankOf(p95)}")
    // the returned values are actual data values, not interpolations
    assert(li.filter(col("l_extendedprice") === median).count() > 0)
    assert(li.filter(col("l_extendedprice") === p95).count() > 0)
  }

  test("persisted HLL sketches merge losslessly (q50 mergeable-summary property)") {
    val ev = Tables.load(spark, TestSpark.sf, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
    // union of per-day sketches must estimate like one sketch over the
    // raw union — the property that lets a range query merge PERSISTED
    // per-partition sketches instead of rescanning raw data
    val perDay = ev.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = perDay
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est")).first().getLong(0)
    val oneShot = ev
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est")).first().getLong(0)
    val exact = ev.agg(count_distinct(col("user_id"))).first().getLong(0)
    assert(math.abs(merged - oneShot).toDouble / math.max(1L, oneShot) <= 0.01,
      s"merged=$merged vs one-shot=$oneShot")
    assert(math.abs(merged - exact).toDouble / exact <= 0.05,
      s"merged=$merged vs exact=$exact")
    // and the gate's booleans land true end-to-end through the parquet
    // round-trip of the sketch table
    val gate = SparkEntry.queries("q50_sketch_rollup")(spark, TestSpark.sf)
      .collect()
    assert(gate.nonEmpty && gate.forall(_.getAs[Boolean]("day_ok")))
    assert(gate.count(_.getAs[String]("day") == "ALL") == 1)
  }
}
