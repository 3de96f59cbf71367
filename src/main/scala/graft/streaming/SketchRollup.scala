package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.FilesetLog

/** Incremental maintenance of a persisted sketch table — the streaming
  * half of the mergeable-summaries story (q50/q52/q53 build and merge
  * sketches in one batch job; this keeps the SAME store current as data
  * ARRIVES, without ever rescanning old raw data).
  *
  * The store is a tiny parquet table (day, sk, n_events): one
  * DataSketches HLL blob per day. Each incoming batch contributes its
  * own per-day partial sketches, which merge into the store by
  * hll_union_agg — mergeability makes arrival batching invisible: the
  * final store is the same whether the corpus arrived in 1 batch or
  * 1000 (the stream_sketch_rollup gate proves exactly that against the
  * one-shot DuckDB truth).
  *
  * At 100 TB the raw history is append-only and cold; the store is
  * KB-per-day and answers "distinct users over any day range" by
  * merging a handful of blobs. Each update costs one scan of the NEW
  * batch only — O(batch + store), never O(history).
  *
  * The store is a manifest log ([[graft.operators.FilesetLog]]): each
  * merge writes the re-merged rows as a new fileset under
  * `<store>/sketch/` and publishes them as the next version, so a crash
  * before the publish leaves the last committed version as it was (plus
  * orphan files the next merge's vacuum removes). A merge keeps the last
  * two versions. A store written before the log (a plain parquet
  * directory) reads as the version before the first commit. Single
  * maintainer (one writer), like every incremental-view maintainer.
  */
object SketchRollup {

  /** Merge one arrival batch (must carry `day` and `user_id`) into the
    * store at `storePath`. Reads the store (KB-sized), unions the
    * batch's partial sketches, re-merges per day, commits.
    */
  def mergeInto(spark: SparkSession, batch: DataFrame, storePath: String): Unit =
    mergeKeyedInto(spark, batch, Seq("day"), "user_id", storePath)

  /** The general per-KEYS form of [[mergeInto]]: one HLL sketch of
    * `valueCol` per distinct `keyCols` tuple (e.g. (cohort_day,
    * day_offset) for a retention triangle —
    * [[graft.operators.EventAnalytics.cohortRetentionFromSketches]]).
    * Same commit, same mergeability contract: the final store
    * is the same whether the activity arrived in 1 batch or 1000.
    */
  def mergeKeyedInto(spark: SparkSession, batch: DataFrame,
      keyCols: Seq[String], valueCol: String, storePath: String): Unit = {
    require(keyCols.nonEmpty, "mergeKeyedInto needs at least one key column")
    val incoming = batch.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("sk"),
        count(lit(1)).as("n_events"))
    mergeStore(spark, incoming, storePath) { existing =>
      existing.groupBy(keyCols.map(col): _*)
        .agg(hll_union_agg(col("sk")).as("sk"),
          sum("n_events").as("n_events"))
    }
  }

  /** KLL-quantile sibling of [[mergeInto]] — the QUANTILE member of the
    * mergeable trio kept current as data arrives (q52 builds the same
    * store in one batch job). `batch` must carry `day` and `v`.
    */
  def mergeQuantilesInto(spark: SparkSession, batch: DataFrame,
      storePath: String): Unit = {
    import graft.functions.expr.KllFunctions
    val incoming = batch.groupBy("day")
      .agg(KllFunctions.kllAgg(col("v")).as("sk"),
        count(lit(1)).as("n_events"))
    mergeStore(spark, incoming, storePath) { existing =>
      existing.groupBy("day")
        .agg(KllFunctions.kllMerge(col("sk")).as("sk"),
          sum("n_events").as("n_events"))
    }
  }

  /** Frequent-items sibling of [[mergeInto]] — the FREQUENCY member of
    * the trio (q53 builds the same store in one batch job). `batch` must
    * carry `day` and `user_id`.
    */
  def mergeTopkInto(spark: SparkSession, batch: DataFrame,
      storePath: String): Unit = {
    import graft.functions.expr.FreqFunctions
    val incoming = batch.groupBy("day")
      .agg(FreqFunctions.freqAgg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    mergeStore(spark, incoming, storePath) { existing =>
      existing.groupBy("day")
        .agg(FreqFunctions.freqMerge(col("sk")).as("sk"),
          sum("n_events").as("n_events"))
    }
  }

  /** Shared store-update shape: union the incoming per-day partials with
    * the current store (when one exists), re-merge via `remerge`, write
    * the result as a new fileset and publish it as the next version.
    */
  private def mergeStore(spark: SparkSession, incoming: DataFrame,
      storePath: String)(remerge: DataFrame => DataFrame): Unit = {
    val cur = FilesetLog.current(spark, storePath)
    val merged = rows(spark, storePath, cur).fold(incoming)(s => remerge(s.unionByName(incoming)))
    val v = cur.getOrElse(0L) + 1
    val files = FilesetLog.writeFileset(merged.coalesce(1),
      FilesetLog.fileset(storePath, SketchDir, v))
    FilesetLog.commit(spark, storePath, v, files.map(FilesetLog.Entry(SketchDir, None, _)))
    FilesetLog.vacuum(spark, storePath, Seq(SketchDir), keepLast = 2, graceMs = 0L)
  }

  private val SketchDir = "sketch"

  /** The rows of committed version `v`; without one, the parquet files
    * directly under `storePath` (a store written before it had a log).
    * Files under `sketch/` that no version lists (a merge stopped before
    * its publish) are never rows. None when there are no files.
    */
  private def rows(spark: SparkSession, storePath: String, v: Option[Long]): Option[DataFrame] = {
    val files = v match {
      case Some(n) => FilesetLog.entries(spark, storePath, n).map(_.file)
      case None =>
        val f = FilesetLog.fs(spark, storePath)
        val root = new Path(storePath)
        if (!f.exists(root)) Nil
        else f.listStatus(root).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString).sorted
    }
    Option.when(files.nonEmpty)(FilesetLog.read(spark, files))
  }

  /** The store's rows: the last committed version (or a plain parquet
    * store written before the log). Throws if there is no store. */
  def read(spark: SparkSession, storePath: String): DataFrame =
    rows(spark, storePath, FilesetLog.current(spark, storePath)).getOrElse(
      throw new IllegalArgumentException(s"no sketch store under $storePath"))

  /** Read the store and answer per-day estimates plus the merged-range
    * row — the serving query: merges persisted blobs, no raw scan.
    */
  def serve(spark: SparkSession, storePath: String): DataFrame = {
    val sk = read(spark, storePath)
    val perDay = sk.select(col("day"), col("n_events"),
      hll_sketch_estimate(col("sk")).as("est_users"))
    val all = sk.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"),
        sum("n_events").as("n_events"))
      .select(lit("ALL").as("day"), col("n_events"), col("est_users"))
    perDay.unionByName(all).orderBy("day")
  }

  /** Keep the store current from a file-arrival stream: every micro-batch
    * merges into the store via foreachBatch — exactly-once per batch is
    * inherited from the store commit being atomic plus Spark's
    * checkpointed batch IDs (a replayed batch re-merges the same rows —
    * HLL union is NOT idempotent per duplicate insert, but replay only
    * happens when the previous attempt failed BEFORE its publish, so the
    * store never double-counts a committed batch).
    */
  def maintainStream(spark: SparkSession, eventsDir: String,
      schema: org.apache.spark.sql.types.StructType,
      storePath: String, checkpoint: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(eventsDir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeInto(batch.sparkSession, batch, storePath)
      }
      .start()
}
