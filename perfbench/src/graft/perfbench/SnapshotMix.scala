package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SnapshotTable

/** A table writer and reader on one [[SnapshotTable]] built from a
  * 150k-row orders-shaped frame, range-clustered on the key. Each cycle:
  * upsert a change batch, refresh the stats index incrementally, run a
  * narrow range scan, four point lookups and two reads pinned to an
  * older version; every second cycle compacts and vacuums.
  *
  * The base rows are the same for every seed; the seed draws the change
  * batches (updates, tombstones and inserts over a key range, 1.5% of
  * the rows each) and the read keys.
  */
final class SnapshotMix(ctx: Ctx) extends Workload {
  import SnapshotMix._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var basePath: String = _
  private val changesPath = ctx.path("changes")
  private var dir: String = _
  private lazy val fs: FileSystem = new Path(ctx.work).getFileSystem(spark.sessionState.newHadoopConf())

  private final case class Read(step: StepRec, batches: Int, lo: Long, hi: Long, rows: Seq[Row])
  private val reads = ArrayBuffer.empty[Read]
  /** Number of change batches applied in each committed version. */
  private val batchesAt = mutable.Map(1L -> 0)
  private var applied = 0
  private var batchCount = 0

  private val Schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
    StructField("ver", LongType), StructField("tie", LongType)))
  private val cols = Schema.fieldNames.toSeq

  def generate(): Unit = {
    basePath = ctx.baseFile(s"orders-$Rows.parquet")(orders)
    changeBatches(2 * CyclesPerUnit)
  }

  private def orders: DataFrame = {
    val id = col("id")
    def h(k: Int) = pmod(xxhash64(id, lit(k)), lit(1000000L)).cast("double") / 1e6
    def pick(k: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (h(k) * xs.length).cast("int") + 1)
    spark.range(0, Rows, 1, ctx.cores).select(
      (id * 4 + 1).as("o_orderkey"),
      (pmod(xxhash64(id, lit(1)), lit(15000L)) + 1).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(h(3) * 400000 + 800, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + floor(h(4) * 2400).cast("long") * 86400).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"),
      lit(0L).as("ver"), lit(0L).as("tie"))
  }

  // the change batches are drawn from the seed, `n` at a time as the run
  // needs them: a driver-side key state keeps updates and tombstones on
  // keys that exist and inserts on keys never used
  private val keyRng = new scala.util.Random(ctx.seed)
  private val live = mutable.BitSet() ++ (0 until Rows.toInt).map(i => i * 4 + 1)
  private val used = mutable.BitSet() ++ live

  private def changeBatches(n: Int): Unit = {
    val r = keyRng
    val rows = ArrayBuffer.empty[Row]
    (batchCount + 1 to batchCount + n).foreach { b =>
      val lo = r.nextInt(KeySpace - BatchWidth)
      val inRange = (lo until lo + BatchWidth).filter(live.contains)
      val picked = r.shuffle(inRange).take(Updates + Tombstones)
      val fresh = r.shuffle((lo until lo + BatchWidth).filterNot(used.contains)).take(Inserts)
      var tie = 0L
      def row(k: Int, deleted: Boolean) = {
        tie += 1
        Row(b, k.toLong, (r.nextInt(15000) + 1).toLong, Seq("F", "O", "P")(r.nextInt(3)),
          math.rint(r.nextDouble() * 4e7) / 100, new java.sql.Timestamp((694224000L + r.nextInt(2400) * 86400L) * 1000),
          "3-MEDIUM", b.toLong, tie, deleted)
      }
      picked.take(Updates).foreach(k => rows += row(k, deleted = false))
      picked.drop(Updates).foreach { k => rows += row(k, deleted = true); live -= k }
      fresh.foreach { k => rows += row(k, deleted = false); live += k; used += k }
    }
    val withBatch = StructType(StructField("batch", IntegerType) +: Schema.fields :+
      StructField("_deleted", BooleanType))
    spark.createDataFrame(rows.asJava, withBatch).repartition(col("batch"))
      .write.mode("append").partitionBy("batch").parquet(changesPath)
    batchCount += n
  }

  def setUp(rep: Int): Unit = {
    dir = ctx.path(s"table$rep")
    SnapshotTable.create(spark,
      spark.read.parquet(basePath).repartitionByRange(Files, col("o_orderkey")), dir)
    SnapshotTable.attachStats(spark, dir, Seq("o_orderkey"))
    // the last repetition's table is the one the cycles run against
    if (rep > 0) fs.delete(new Path(ctx.path(s"table${rep - 1}")), true)
  }

  private def bytes(paths: Seq[String]): Long =
    paths.map(p => fs.getFileStatus(new Path(p)).getLen).sum

  private def collectRead(s: StepRec, batches: Int, lo: Long, hi: Long, record: Boolean)(
      df: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val plan = tr.span("store", "plan")(df)
    s.attrs("plan_ms") = (System.nanoTime() - t0) / 1e6
    val rows = tr.span("store", "collect")(plan.collect().toSeq)
    s.rows = rows.length
    if (record) reads += Read(s, batches, lo, hi, rows)
  }

  /** A cycle with a compaction on a small throwaway table. */
  def warmUp(): Unit = {
    val warm = ctx.path("warm")
    val small = spark.read.parquet(basePath).filter(col("o_orderkey") < WarmKeys)
    SnapshotTable.create(spark, small.repartitionByRange(4, col("o_orderkey")), warm)
    SnapshotTable.attachStats(spark, warm, Seq("o_orderkey"))
    val changes = small.filter(col("o_orderkey") < WarmKeys / 4)
      .withColumn("ver", lit(1L)).withColumn("_deleted", col("o_orderkey") % 8 === 1)
    cycle(warm, changes, 0, compact = true)
    fs.delete(new Path(warm), true)
  }

  /** A maintenance window: `CyclesPerUnit` cycles, the last one
    * followed by a compaction and vacuum.
    */
  def runUnit(unit: Int): Unit = (0 until CyclesPerUnit).foreach { i =>
    val b = unit * CyclesPerUnit + i + 1
    if (b > batchCount) ctx.untimed(changeBatches(CyclesPerUnit))
    cycle(dir, spark.read.parquet(s"$changesPath/batch=$b"), b, compact = i == CyclesPerUnit - 1)
    applied = b
  }

  /** One cycle on `table` applying change batch `b`; batch 0 is the
    * warm-up's, whose reads are not checked.
    */
  private def cycle(table: String, changes: DataFrame, b: Int, compact: Boolean): Unit = {
    val dir = table
    val record = b > 0
    val keys = if (record) KeySpace else WarmKeys.toInt
    val r = new scala.util.Random(ctx.seed * 7919 + b)
    val before = SnapshotTable.files(spark, dir).toSet
    tr.step("upsert", "upsert") { _ =>
      tr.span("store", "upsert")(SnapshotTable.upsert(spark, dir, changes, "o_orderkey", "ver", "tie"))
    }.foreach { c =>
      val s = tr.steps.last
      if (record) batchesAt(c.version) = b
      s.attrs("files_rewritten") = (c.files.length - c.filesReused).toDouble
      s.attrs("files_reused") = c.filesReused.toDouble
      s.attrs("bytes_written") = bytes(c.files.filterNot(before.contains)).toDouble
      s.attrs("change_bytes") = changes.inputFiles.toSeq.map(p => fs.getFileStatus(new Path(p)).getLen).sum.toDouble
    }
    tr.step("index", "index") { _ =>
      tr.span("store", "attachStatsIncremental")(
        SnapshotTable.attachStatsIncremental(spark, dir, Seq("o_orderkey")))
    }
    val v = SnapshotTable.currentVersion(spark, dir).get
    tr.step("scan", "scan") { s =>
      val lo = r.nextInt(keys - ScanWidth).toLong
      collectRead(s, batchesAt.getOrElse(v, 0), lo, lo + ScanWidth, record) {
        val (df, prune) = SnapshotTable.scanBetween(spark, dir, "o_orderkey", lo, lo + ScanWidth)
        prune.foreach(p => s.attrs("files_kept_ratio") = p.filesKept.toDouble / p.filesTotal)
        df
      }
    }
    (1 to Lookups).foreach(_ => tr.step("lookup", "scan") { s =>
      val key = r.nextInt(keys / 4) * 4L + 1
      collectRead(s, batchesAt.getOrElse(v, 0), key, key, record) {
        val (df, prune) = SnapshotTable.lookupPoint(spark, dir, "o_orderkey", key)
        prune.foreach(p => s.attrs("files_kept_ratio") = p.filesKept.toDouble / p.filesTotal)
        df
      }
    })
    (1 to PinnedReads).foreach(_ => tr.step("pinned", "scan") { s =>
      val pv = math.max(1L, v - 2)
      val lo = r.nextInt(keys - ScanWidth).toLong
      collectRead(s, batchesAt.getOrElse(pv, 0), lo, lo + ScanWidth, record)(
        SnapshotTable.read(spark, dir, Some(pv)).filter(col("o_orderkey").between(lo, lo + ScanWidth)))
    })
    if (compact) tr.step("compact", "compact") { _ =>
      val c = tr.span("store", "compact")(
        SnapshotTable.compact(spark, dir, TargetRecords, sortOn = Some("o_orderkey")))
      tr.span("store", "vacuum")(SnapshotTable.vacuum(spark, dir, keepLast = KeepVersions, graceMs = 0L))
      c
    }.foreach { c =>
      if (record) batchesAt(c.version) = b
      tr.steps.last.attrs("bytes_rewritten") = bytes(c.files).toDouble
    }
  }

  // ---- output checks ------------------------------------------------------

  private def hashed(df: DataFrame) = xxhash64(cols.map(df.col): _*).cast("decimal(38,0)")

  def check(): Seq[Check] = {
    // the replay: base rows as batch 0 plus every applied change batch;
    // per key the row of the highest batch wins and tombstones drop it
    val base = spark.read.parquet(basePath).withColumn("batch", lit(0))
      .withColumn("_deleted", lit(false))
    val changes = spark.read.parquet(changesPath).filter(col("batch") <= applied)
    base.unionByName(changes).createOrReplaceTempView("perfbench_all")
    val reqs = reads.zipWithIndex.map { case (rd, i) => Row(i, rd.batches, rd.lo, rd.hi) } :+
      Row(-1, applied, Long.MinValue, Long.MaxValue)
    spark.createDataFrame(reqs.asJava, StructType(Seq(StructField("req", IntegerType),
      StructField("nb", IntegerType), StructField("lo", LongType), StructField("hi", LongType))))
      .createOrReplaceTempView("perfbench_req")
    val hashCols = cols.mkString(", ")
    val expected = spark.sql(
      s"""SELECT req, count(*) AS n, sum(CAST(xxhash64($hashCols) AS DECIMAL(38,0))) AS h
         |FROM (SELECT r.req, a.*, row_number() OVER (PARTITION BY r.req, a.o_orderkey
         |                                        ORDER BY a.batch DESC) AS rn
         |      FROM perfbench_req r JOIN perfbench_all a
         |        ON a.o_orderkey BETWEEN r.lo AND r.hi AND a.batch <= r.nb)
         |WHERE rn = 1 AND NOT _deleted
         |GROUP BY req""".stripMargin)
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getDecimal(2))).toMap
    val served = reads.zipWithIndex.flatMap { case (rd, i) => rd.rows.map(x => Row.fromSeq(i +: x.toSeq)) }
    val got = spark.createDataFrame(served.asJava, StructType(StructField("req", IntegerType) +: Schema.fields))
      .groupBy("req").agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getDecimal(2))).toMap
    reads.zipWithIndex.foreach { case (rd, i) =>
      val want = expected.getOrElse(i, (0L, null))
      val have = got.getOrElse(i, (0L, null))
      if (want._1 != have._1 || want._2 != have._2)
        rd.step.fail(s"${rd.step.kind} [${rd.lo}, ${rd.hi}] after ${rd.batches} batches served " +
          s"${have._1} rows, the replay has ${want._1}")
    }
    val finalDf = SnapshotTable.read(spark, dir)
    val fin = finalDf.agg(count(lit(1)), sum(hashed(finalDf))).head()
    val want = expected.getOrElse(-1, (0L, null))
    Seq(Check("final_version_equals_replay",
      fin.getLong(0) == want._1 && fin.getDecimal(1) == want._2,
      s"table has ${fin.getLong(0)} rows, replay of $applied batches has ${want._1}"))
  }

  // ---- metrics ------------------------------------------------------------

  private def tableBytes: (Double, Double) = {
    val all = {
      val it = fs.listFiles(new Path(dir), true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
    (all.toDouble, bytes(SnapshotTable.files(spark, dir)).toDouble)
  }

  def named(): Seq[Metric] = {
    val st = tr.steps.toSeq
    def ms(cat: String) = st.filter(_.category == cat).map(_.ms)
    val (all, live) = tableBytes
    Seq(
      Metric("upsert_p50_ms", Stats.median(ms("upsert")), "ms", ms("upsert").length.toLong),
      Metric("index_p50_ms", Stats.median(ms("index")), "ms", ms("index").length.toLong),
      Metric("scan_p50_ms", Stats.median(ms("scan")), "ms", ms("scan").length.toLong),
      Metric("compact_p50_ms", Stats.median(ms("compact")), "ms", ms("compact").length.toLong),
      Metric("space_amp", all / live, "ratio", 1L))
  }

  def layers(): Map[String, Double] = {
    val all = tr.steps.toSeq
    val st = all.filter(_.traced)
    val ups = all.filter(_.kind == "upsert")
    val scans = st.filter(_.kind == "scan")
    def attr(ss: Seq[StepRec], k: String) = ss.flatMap(_.attrs.get(k))
    Map(
      "store.upsert_plan_ms" -> Stats.median(st.filter(_.kind == "upsert").map(_.qe.map(_.planMs).sum)),
      "store.upsert_exec_ms" -> Stats.median(st.filter(_.kind == "upsert").map(_.qe.map(_.execMs).sum)),
      "store.files_rewritten" -> Stats.mean(attr(ups, "files_rewritten")),
      "store.files_reused" -> Stats.mean(attr(ups, "files_reused")),
      "store.write_amp" -> attr(ups, "bytes_written").sum / math.max(1.0, attr(ups, "change_bytes").sum),
      "store.scan_files_kept_ratio" -> Stats.mean(attr(all.filter(_.kind == "scan"), "files_kept_ratio")),
      "store.scan_plan_ms" -> Stats.median(attr(scans, "plan_ms")),
      "store.scan_prune_share_pct" -> Stats.median(scans.map(s => 100 * s.attrs("plan_ms") / math.max(s.ms, 1e-6))),
      "store.compact_bytes_rewritten" -> Stats.mean(attr(all.filter(_.kind == "compact"), "bytes_rewritten")),
      "store.versions" -> SnapshotTable.versions(spark, dir).length.toDouble)
  }
}

object SnapshotMix {
  val Rows = 150000L
  val KeySpace: Int = (Rows * 4).toInt
  val Files = 16
  /** Key width of one change batch: about 2% of the key space. */
  val BatchWidth = 12000
  val Updates = 1500
  val Tombstones = 300
  val Inserts = 450
  val ScanWidth = 2000
  val Lookups = 4
  val PinnedReads = 2
  val CyclesPerUnit = 2
  val TargetRecords = 10000L
  val KeepVersions = 4
  val WarmKeys = 20000L
}
