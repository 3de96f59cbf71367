package graft

import java.time.{Instant, LocalDate, LocalDateTime}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison, EqualTo, Expression, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapshotTable
import graft.plans.{BindFilterConstants, BoundValue}

/** The filter-constant rule: bound filters return the rows the predicate
  * selects, leave the literals it must not touch and the scan's pushed
  * filters alone, and let reads that differ only in a constant reuse the
  * generated classes of the first.
  */
class BindFilterConstantsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import BindFilterConstantsSpec.Typed
  private lazy val spark = TestSpark.spark

  private def floatCmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private val columns = Seq(
    Typed("i", IntegerType, Seq(Int.MinValue, -1, 0, 1, 42, Int.MaxValue, null),
      (a, b) => a.asInstanceOf[Int].compare(b.asInstanceOf[Int])),
    Typed("l", LongType, Seq(Long.MinValue, -1L, 0L, 1L, 123456789012L, Long.MaxValue, null),
      (a, b) => a.asInstanceOf[Long].compare(b.asInstanceOf[Long])),
    Typed("s", ShortType, Seq(Short.MinValue, (-3).toShort, 0.toShort, 7.toShort, Short.MaxValue),
      (a, b) => a.asInstanceOf[Short].compare(b.asInstanceOf[Short])),
    Typed("b", ByteType, Seq(Byte.MinValue, 0.toByte, 3.toByte, Byte.MaxValue, null),
      (a, b) => a.asInstanceOf[Byte].compare(b.asInstanceOf[Byte])),
    Typed("f", FloatType, Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
        Float.NegativeInfinity, 1.5f, -2.25f, null),
      (a, b) => floatCmp(a.asInstanceOf[Float].toDouble, b.asInstanceOf[Float].toDouble)),
    Typed("d", DoubleType, Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
        Double.NegativeInfinity, 2.5, -1e300, null),
      (a, b) => floatCmp(a.asInstanceOf[Double], b.asInstanceOf[Double])),
    Typed("z", BooleanType, Seq(true, false, null),
      (a, b) => a.asInstanceOf[Boolean].compare(b.asInstanceOf[Boolean])),
    Typed("dt", DateType, Seq(LocalDate.EPOCH, LocalDate.of(1969, 12, 31),
        LocalDate.of(1900, 1, 1), LocalDate.of(2024, 2, 29), null),
      (a, b) => a.asInstanceOf[LocalDate].compareTo(b.asInstanceOf[LocalDate])),
    Typed("ts", TimestampType, Seq(Instant.EPOCH, Instant.parse("1969-07-20T20:17:40Z"),
        Instant.ofEpochSecond(-1, 999999000), Instant.parse("2024-01-01T00:00:00.000001Z"), null),
      (a, b) => a.asInstanceOf[Instant].compareTo(b.asInstanceOf[Instant])),
    Typed("ntz", TimestampNTZType, Seq(LocalDateTime.of(1970, 1, 1, 0, 0),
        LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000),
        LocalDateTime.of(2024, 6, 1, 12, 30, 0, 1000), null),
      (a, b) => a.asInstanceOf[LocalDateTime].compareTo(b.asInstanceOf[LocalDateTime])))

  private val rows = columns.map(_.values.length).max * 2

  /** Row `r`'s value in column `c`: the values cycle down the rows. */
  private def valueAt(c: Typed, r: Int): Any = c.values(r % c.values.length)

  private lazy val table: DataFrame = {
    val schema = StructType(StructField("id", IntegerType) +:
      columns.map(c => StructField(c.name, c.dataType)))
    val data = (0 until rows).map(r => Row.fromSeq(r +: columns.map(valueAt(_, r))))
    val path = s"${TestSpark.scratch("bind_filter_constants")}/typed.parquet"
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def filterConditions(df: DataFrame): Seq[Expression] =
    collect(executed(df)) { case f: FilterExec => f.condition }

  private val ops: Seq[(String, (Column, Column) => Column, Int => Boolean)] = Seq(
    ("=", _ === _, _ == 0), ("<=>", _ <=> _, _ == 0), ("<", _ < _, _ < 0),
    ("<=", _ <= _, _ <= 0), (">", _ > _, _ > 0), (">=", _ >= _, _ >= 0))

  test("bound filters return the rows a driver-side evaluation selects, edge constants included") {
    for (c <- columns; k <- c.values if k != null; (name, op, holds) <- ops) {
      val df = table.filter(op(col(c.name), lit(k))).select("id")
      val conditions = filterConditions(df)
      val literalOperands = conditions.flatMap(_.collect {
        case cmp: BinaryComparison => cmp.children.filter(_.isInstanceOf[Literal])
      }.flatten)
      assert(literalOperands.isEmpty, s"${c.name} $name $k: unbound in $conditions")
      // the optimizer turns `z = true` into `z`, which leaves nothing to bind
      assert(c.dataType == BooleanType || conditions.exists(_.exists(_.isInstanceOf[BoundValue])),
        s"${c.name} $name $k: no bound constant in $conditions")
      val got = df.collect().map(_.getInt(0)).toSet
      val want = (0 until rows).filter { r =>
        val v = valueAt(c, r)
        v != null && holds(c.compare(v, k))
      }.toSet
      assert(got == want, s"${c.name} $name $k")
    }
  }

  test("null, string, decimal, IN and LIKE literals stay literals") {
    val t = table.withColumn("str", concat(lit("w"), col("id").cast("string")))
      .withColumn("dec", (col("id") / 4).cast("decimal(10,2)"))
    val df = t.filter(col("str") === "w3" || (col("dec") > lit(BigDecimal("1.50")) &&
      col("id").isin(1, 2, 9) && col("str").like("w_1") && col("i") > 0))
    val condition = filterConditions(df).reduce(And(_, _))
    val literals = condition.collect { case l: Literal => l.dataType }
    assert(literals.contains(StringType) && literals.exists(_.isInstanceOf[DecimalType]),
      condition)
    assert(condition.collect { case b: BoundValue => b.dataType } == Seq(IntegerType), condition)
    // a null comparison folds away before planning, so the rule is applied
    // to a filter that keeps one
    val filter = collect(executed(table.filter(col("i") > 0))) { case f: FilterExec => f }.head
    val nullEq = filter.copy(condition = EqualTo(filter.child.output.find(_.name == "i").get,
      Literal(null, IntegerType)))
    assert(BindFilterConstants.preColumnarTransitions(nullEq) == nullEq)
  }

  test("the scan's pushed filters carry the real constant") {
    val plan = executed(table.filter(col("l") === 123456789012L))
    val pushed = collect(plan) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
    assert(pushed.exists(_.contains("EqualTo(l,123456789012)")), pushed)
    val conditions = collect(plan) { case f: FilterExec => f.condition }
    assert(conditions.exists(_.exists {
      case BoundValue(v, LongType) => v == 123456789012L
      case _ => false
    }), conditions)
  }

  test("snapshot reads that differ only in their constants compile no classes after the first") {
    val dir = graft.Scratch.fresh(spark, "bind_filter_constants_table")
    val base = spark.range(0, 4000, 1, 2)
      .select((col("id") * 2).as("k"), (col("id") % 97).as("v"))
    Fixtures.snapshot(spark, dir, base, "k", 4)
    SnapshotTable.attachStats(spark, dir, Seq("k"))
    def compiled(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def lookup(key: Long) = SnapshotTable.lookupPoint(spark, dir, "k", key)._1.collect()
    def scan(lo: Long) = SnapshotTable.scanBetween(spark, dir, "k", lo, lo + 300)._1.collect()
    def pinned(lo: Long) = SnapshotTable.read(spark, dir, Some(1L))
      .filter(col("k").between(lo, lo + 300)).collect()
    Seq[(String, Long => Any)]("lookupPoint" -> lookup, "scanBetween" -> scan,
        "pinned read" -> pinned).foreach { case (name, read) =>
      read(10L)
      Seq(2002L, 5010L, 7000L).foreach { key =>
        assert(compiled(read(key)) == 0, s"$name($key) compiled classes")
      }
    }
  }
}

object BindFilterConstantsSpec {
  /** Values of one column, in row order, with the driver-side ordering
    * SQL compares them by: floats with NaN equal to NaN and above every
    * other value, and -0.0 equal to 0.0. */
  final case class Typed(name: String, dataType: DataType, values: Seq[Any],
      compare: (Any, Any) => Int)
}
