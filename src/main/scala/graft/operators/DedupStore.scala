package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact-dedup maintenance over a persisted content-hash
  * store — the continuous-ingest face of [[Dedup.exact]], and the
  * relational sibling of [[graft.streaming.SketchRollup]]'s
  * incremental-view pattern: a corpus that arrives in batches is
  * deduplicated against everything seen so far WITHOUT ever rescanning
  * history.
  *
  * The store is a MANIFEST-VERSIONED parquet table ([[FilesetLog]] — the
  * [[ManifestCommit]] pattern [[SnapshotTable]] and [[PqIndex]] use) of
  * (content_hash, keep_id, arrival_batch): one row per distinct content
  * hash ever seen, its keeper (first arrival wins; lowest id within the
  * arriving batch), and the batch that first contributed it. Each ingest
  * costs one anti-join of the NEW batch's hashes against the store plus
  * one new fileset + manifest commit — O(batch + store-join), never
  * O(history) raw-text rescans, and committed filesets are immutable
  * (a crash before the manifest publish leaves an invisible orphan for
  * [[vacuumStore]], never a half-visible append).
  *
  * Scale notes (100 TB): the store carries 40-byte hash rows, ~1/1000th
  * of the raw corpus; the per-batch anti-join is hash-keyed, so each
  * fileset is written hash-partitioned by content_hash and the batch
  * pre-partitions the same way. One fileset lands per ingest, so a
  * long-lived store accumulates small files — [[compactStore]] rewrites
  * the CURRENT version into ceil(n/target) hash-partitioned files as a
  * new commit (readers pinned to older versions undisturbed; old
  * filesets reclaimed by [[vacuumStore]]). Single-maintainer (one writer
  * at a time), like every incremental-view maintainer; a streaming
  * source plugs in through `foreachBatch(ingest(_, _, tag = batchId))`
  * exactly as SketchRollup.maintainStream does for sketches.
  */
object DedupStore {

  private val Kind = "D"
  private val TombKind = "X" // takedown tombstones: content hashes FORGOTTEN

  /** Ingest one arrival batch: survivors are the rows whose content hash
    * has never been seen (first-arrival-wins; within the batch the
    * lowest id wins), committed to the store as a new version tagged
    * with `tag`. Returns the batch's survivor rows (content_hash,
    * keep_id, arrival_batch), MATERIALIZED (localCheckpoint) before the
    * store commit so the returned frame cannot observe its own write.
    *
    * Replay contract (crash-recovery at-least-once): history EXCLUDES
    * any fileset already committed under this `tag`, and the commit
    * supersedes those lines — so a replayed batch recomputes the same
    * survivors and the store content stays exactly-once, whatever the
    * crash point (the superseded fileset becomes a vacuumable orphan).
    */
  def ingest(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, storePath: String, tag: Long): DataFrame = {
    require(tag >= 0, s"ingest tags are >= 0 (got $tag); " +
      s"${FilesetLog.CompactedTag} is reserved for compaction")
    val intra = batch
      .select(col(idCol).cast("long").as("keep_id"),
        sha2(col(textCol), 256).as("content_hash"))
      .groupBy("content_hash").agg(min("keep_id").as("keep_id"))
    val cur = FilesetLog.current(spark, storePath)
    val all = cur.map(FilesetLog.entries(spark, storePath, _)).getOrElse(Seq.empty)
    val hist = all.filterNot(_.tag.contains(tag)) // replay: own earlier commit superseded
    val histData = hist.filter(_.kind == Kind)
    val histTomb = hist.filter(_.kind == TombKind)
    // history = recorded hashes MINUS takedowns ([[takedown]]): a
    // forgotten hash is unseen again, so re-ingested content re-records
    // as a fresh first arrival — the "forget" contract
    val fresh =
      (if (histData.nonEmpty) {
         val seen0 = FilesetLog.read(spark, histData.map(_.file))
           .select("content_hash", "arrival_batch")
         val seen =
           (if (histTomb.isEmpty) seen0
            else seen0.join(
              FilesetLog.read(spark, histTomb.map(_.file))
                .select("content_hash", "arrival_batch"),
              Seq("content_hash", "arrival_batch"), "left_anti"))
             .select("content_hash")
         intra.join(seen, Seq("content_hash"), "left_anti")
       } else intra)
        .withColumn("arrival_batch", lit(tag))
        .localCheckpoint(true)
    // hash-partitioned fileset: at scale this is the bucketed-by-hash
    // layout that keeps the next ingest's anti-join co-located
    val v = cur.getOrElse(0L)
    val files = FilesetLog.writeFileset(
      fresh.repartition(col("content_hash")),
      FilesetLog.fileset(storePath, "data", v + 1))
    if (files.nonEmpty || hist.length != all.length)
      FilesetLog.commit(spark, storePath, v + 1,
        hist ++ files.map(FilesetLog.Entry(Kind, tag, _)))
    fresh
  }

  /** The store as a frame: one (content_hash, keep_id, arrival_batch)
    * row per distinct content currently REMEMBERED — the CURRENT
    * committed version's fixed file list, minus any [[takedown]]
    * tombstones (later commits invisible to this frame).
    */
  def read(spark: SparkSession, storePath: String): DataFrame = {
    val es = FilesetLog.currentEntries(spark, storePath)
    require(es.nonEmpty, s"no committed store under $storePath — ingest first")
    val data = FilesetLog.read(spark, es.filter(_.kind == Kind).map(_.file))
    val tomb = es.filter(_.kind == TombKind).map(_.file)
    // the mask is the ROW identity (content_hash, arrival_batch), not
    // the bare hash: a post-takedown RE-INGEST of the same content
    // writes a new row under a new batch tag, which must serve
    if (tomb.isEmpty) data
    else data.join(
      FilesetLog.read(spark, tomb).select("content_hash", "arrival_batch"),
      Seq("content_hash", "arrival_batch"), "left_anti")
  }

  /** TAKEDOWN — make the store FORGET content (copyright/PII removal,
    * the training-pipeline face every persisted dedup state needs): the
    * batch's content hashes are tombstoned in one atomic commit, so
    * their keepers leave [[read]]/[[survivors]] immediately (the doc AND
    * every duplicate it suppressed disappear from the survivor view),
    * and a LATER ingest of the same content re-records it as a fresh
    * first arrival — "forget", not "ban" (a standing ban is a content
    * filter, [[Curation]]'s job, not dedup state). Hashes the store
    * never saw (or already forgot) are a no-op — takedown lists replay.
    * Cost: one hash semi-join against the store, O(batch + store).
    * Tombstoned rows are physically reclaimed (and their hashes freed)
    * by [[compactStore]]; `tag` shares the single mutation tag space
    * with ingests (one maintainer), replayed tags supersede their own
    * commit — exactly-once. Returns the number of hashes tombstoned.
    */
  def takedown(spark: SparkSession, batch: DataFrame, textCol: String,
      storePath: String, tag: Long): Long = {
    require(tag >= 0, s"mutation tags are >= 0 (got $tag)")
    val cur = FilesetLog.current(spark, storePath).getOrElse(
      throw new IllegalArgumentException(
        s"no committed store under $storePath — ingest first"))
    val all = FilesetLog.entries(spark, storePath, cur)
    val hist = all.filterNot(_.tag.contains(tag)) // replay: supersede own commit
    val dataFiles = hist.filter(_.kind == Kind).map(_.file)
    val tombFiles = hist.filter(_.kind == TombKind).map(_.file)
    val hashes = batch.select(sha2(col(textCol), 256).as("content_hash"))
      .distinct()
    // the tombstone is the ROW identity (content_hash, arrival_batch)
    // of the rows present NOW — so a later re-ingest of the same
    // content (a fresh row under a new batch tag) is not masked
    val present0 =
      if (dataFiles.isEmpty) hashes.limit(0)
        .withColumn("arrival_batch", lit(0L))
      else FilesetLog.read(spark, dataFiles)
        .select("content_hash", "arrival_batch")
        .join(hashes, Seq("content_hash"), "left_semi")
    val present =
      (if (tombFiles.isEmpty) present0
       else present0.join(
         FilesetLog.read(spark, tombFiles)
           .select("content_hash", "arrival_batch"),
         Seq("content_hash", "arrival_batch"), "left_anti"))
        .localCheckpoint(true)
    val n = present.count()
    if (n == 0 && hist.length == all.length) return 0L
    val files = FilesetLog.writeFileset(
      present.repartition(col("content_hash")),
      FilesetLog.fileset(storePath, "tomb", cur + 1))
    FilesetLog.commit(spark, storePath, cur + 1,
      hist ++ files.map(FilesetLog.Entry(TombKind, tag, _)))
    n
  }

  /** Survivor view of a full corpus against the store: rows whose id is
    * a keeper. The serving-side join is hash-keyed and narrow.
    */
  def survivors(spark: SparkSession, corpus: DataFrame, idCol: String,
      storePath: String): DataFrame =
    corpus.join(read(spark, storePath).select(col("keep_id").as(idCol)), idCol)

  /** Rewrite the CURRENT version's rows into ceil(n/targetRecords)
    * files, still hash-partitioned by content_hash (the next ingest's
    * anti-join stays co-located), committed as a new version — the
    * small-file maintenance a per-batch-fileset store needs after ~10³
    * ingests. Content-invisible (spec'd: identical store rows and
    * survivors); crash-safe like every commit here (new fileset first,
    * atomic manifest publish second, old files live until
    * [[vacuumStore]]). Run by the single maintainer between ingests.
    */
  def compactStore(spark: SparkSession, storePath: String,
      targetRecords: Long): Long = {
    val v = FilesetLog.current(spark, storePath).getOrElse(
      throw new IllegalArgumentException(s"no store under $storePath"))
    // read() serves the current version MINUS takedown tombstones, so
    // compaction folds them in: tombstoned rows physically dropped, the
    // new version carries no X entries, and the forgotten hashes are
    // fully released
    val df = read(spark, storePath)
    val n = df.count()
    val nf = math.max(1L, (n + targetRecords - 1) / targetRecords).toInt
    val files = FilesetLog.writeFileset(
      df.repartition(nf, col("content_hash")),
      FilesetLog.fileset(storePath, "data", v + 1))
    FilesetLog.commit(spark, storePath, v + 1,
      files.map(FilesetLog.Entry(Kind, FilesetLog.CompactedTag, _)))
    v + 1
  }

  /** Drop old store versions and their unreferenced filesets (crashed or
    * superseded ingests included) — [[FilesetLog.vacuum]]'s grace-period
    * contract. Returns deleted paths.
    */
  def vacuumStore(spark: SparkSession, storePath: String, keepLast: Int = 1,
      graceMs: Long = SnapshotTable.DefaultVacuumGraceMs): Seq[String] =
    FilesetLog.vacuum(spark, storePath, Seq("data", "tomb"), keepLast, graceMs)

  /** Keep the store current from a file-arrival document stream: every
    * micro-batch dedups against the store and commits its genuinely-new
    * hashes, tagged with the checkpointed batch id (arrival order is
    * recorded in the store). Replay-safe: a re-run batch's history
    * excludes and supersedes its own earlier commit (see [[ingest]]), so
    * a committed batch is never double-recorded — the relational sibling
    * of SketchRollup.maintainStream's crash contract.
    */
  def maintainStream(spark: SparkSession, docsDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String, textCol: String,
      storePath: String, checkpoint: String,
      maxFilesPerTrigger: Int = 1): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batchId rides through as-is: arrival_batch is BIGINT in the
        // store, so checkpoints with large batch ids never wrap negative
        ingest(batch.sparkSession, batch, idCol, textCol, storePath, batchId)
        ()
      }
      .start()
}
