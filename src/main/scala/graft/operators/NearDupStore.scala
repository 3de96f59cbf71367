package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H}
import graft.functions.expr.GraftFunctions

/** Incremental NEAR-dup maintenance over a persisted MinHash-LSH store —
  * the near-duplicate sibling of [[DedupStore]] (which is exact-hash
  * only): a corpus arriving in batches is checked for near-duplicates
  * against everything seen so far WITHOUT rescanning history.
  *
  * The store is one MANIFEST-VERSIONED commit log ([[FilesetLog]], the
  * [[ManifestCommit]] pattern) over two logical tables that commit
  * TOGETHER:
  *  - buckets `B` (band, key, id): the LSH band index, each fileset
  *    written hash-partitioned by (band, key) so the per-batch candidate
  *    join is co-located at scale (the q44 bucketed-layout argument);
  *  - sigs `S` (id, sh, sz): each document's sorted 8-byte shingle
  *    hashes — ~a tenth of the raw text, and the ONLY thing verification
  *    needs, so raw history is never re-read.
  *
  * Each ingest: band the NEW docs with the same deterministic
  * (shingle → minhash → band) scheme as [[Dedup.minhashLsh]], join the
  * new band rows against old + new band rows (old-old pairs were
  * emitted by earlier ingests; a pair is emitted exactly once, by the
  * batch its LATER member arrives in), verify candidates by exact
  * shingle-set Jaccard, and commit the new filesets. Cost is
  * O(batch + matched buckets), never O(history). Because the banding is
  * a pure function of the text, the UNION of per-batch outputs equals
  * the one-shot [[Dedup.minhashLsh]] result on the full corpus (gated:
  * dedup_incremental_minhash against the brute-force Jaccard oracle).
  *
  * `maxBucket` caps candidate generation per (band, key) at the bucket's
  * CURRENT combined size — under incremental arrival a bucket crosses
  * the cap at some batch, so capped runs are arrival-dependent (the cap
  * exists to bound degenerate keys, not for exact parity; the gate runs
  * uncapped like dedup_simhash's).
  *
  * Id contract: ids must be unique WITHIN a batch (they are document
  * keys); across batches the store is FIRST-ARRIVAL-WINS like
  * [[DedupStore]] — an id already present in history is dropped from the
  * incoming batch (anti-join against the stored signature ids, an
  * id-only column-pruned read), so a re-delivered document can neither
  * store a second signature row nor duplicate verify-join output for
  * later pairs involving it.
  *
  * Crash contract: manifest lines carry the INGEST TAG, so a REPLAYED
  * batch (at-least-once recovery) recomputes against history that
  * excludes its own earlier commit and then supersedes those lines — the
  * store can never hold duplicate signature rows (which would duplicate
  * verify-join output for every later pair), and superseded filesets
  * become vacuumable orphans, never overwritten live data. Single
  * maintainer; [[maintainStream]] is the foreachBatch face with the
  * checkpointed batch id as the tag, emitting each batch's pairs into a
  * batch-scoped pairs directory the same overwrite-idempotent way.
  */
object NearDupStore {

  private def prep(batch: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    batch.select(
      col(idCol).cast("long").as("id"),
      H.shingles(col(textCol), shingleSize).as("sh"))
      .withColumn("sz", size(col("sh")))
      .withColumn("sig", GraftFunctions.minhashSignature(col("sh"), numHashes))

  /** The current version's band-index rows (band, key, id). */
  def buckets(spark: SparkSession, storePath: String): DataFrame =
    kindRead(spark, storePath, "B")

  /** The current version's signature rows (id, sh, sz). */
  def sigs(spark: SparkSession, storePath: String): DataFrame =
    kindRead(spark, storePath, "S")

  private def kindRead(spark: SparkSession, storePath: String,
      kind: String): DataFrame = {
    val es = FilesetLog.currentEntries(spark, storePath).filter(_.kind == kind)
    require(es.nonEmpty, s"no committed store under $storePath — ingest first")
    FilesetLog.read(spark, es.map(_.file))
  }

  /** Ingest one arrival batch; returns the batch's verified near-dup
    * pairs (a, b, jaccard) — all (new, new) and (new, old) pairs, a < b,
    * MATERIALIZED (localCheckpoint) before the store commit so the
    * returned frame cannot observe its own write.
    */
  def ingest(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, storePath: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = Int.MaxValue,
      tag: Long = -1L): DataFrame = {
    val rows = numHashes / bands
    val cur = FilesetLog.current(spark, storePath)
    val all = cur.map(FilesetLog.entries(spark, storePath, _)).getOrElse(Seq.empty)
    // batch tag: explicit (streaming batch id) or the next sequential
    // one; history EXCLUDES this tag's own earlier commit (the replay
    // case), which the new commit then supersedes
    val batchTag =
      if (tag >= 0L) tag
      else all.flatMap(_.tag).foldLeft(-1L)(math.max) + 1L
    val hist = all.filterNot(_.tag.contains(batchTag))
    val histSigFiles = hist.filter(_.kind == "S").map(_.file)
    val histBucketFiles = hist.filter(_.kind == "B").map(_.file)

    // first-arrival-wins: drop ids already in history — a re-delivered
    // document must not add a second signature row, which would
    // duplicate every later verify join it participates in. Id-only
    // column-pruned read of the sig filesets. The join key is the
    // EXPLICIT long cast on BOTH sides (prep's id normalization): a raw
    // string idCol against the store's bigint would coerce to double and
    // silently collide ids above 2^53.
    val fresh =
      if (histSigFiles.nonEmpty)
        batch.join(FilesetLog.read(spark, histSigFiles)
            .select(col("id").cast("long").as("__seen_id")),
          batch(idCol).cast("long") === col("__seen_id"), "left_anti")
      else batch
    val newDocs = prep(fresh, idCol, textCol, shingleSize, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBuckets = newDocs.select(col("id"),
      explode(H.lshBandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("id"))
    val oldBuckets =
      if (histBucketFiles.nonEmpty)
        Some(FilesetLog.read(spark, histBucketFiles).select("band", "key", "id"))
      else None
    val allBuckets = oldBuckets.fold(newBuckets)(_ unionByName newBuckets)
    // cap degenerate keys at their current combined size
    val capped =
      if (maxBucket == Int.MaxValue) allBuckets
      else {
        val small = allBuckets.groupBy("band", "key")
          .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= maxBucket)
          .select("band", "key")
        allBuckets.join(small, Seq("band", "key"), "left_semi")
      }
    // candidates: one side NEW, the other side anything — old-old pairs
    // were already emitted by the batch their later member arrived in
    val cand = newBuckets.select(col("band"), col("key"), col("id").as("na"))
      .join(capped.select(col("band"), col("key"), col("id").as("nb")),
        Seq("band", "key"))
      .filter(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .distinct()
    val allSigs =
      if (histSigFiles.nonEmpty)
        FilesetLog.read(spark, histSigFiles).select("id", "sh", "sz")
          .unionByName(newDocs.select("id", "sh", "sz"))
      else newDocs.select("id", "sh", "sz")
    val pairs = cand
      .join(allSigs.select(col("id").as("a"), col("sh").as("a_sh"), col("sz").as("a_sz")), "a")
      .join(allSigs.select(col("id").as("b"), col("sh").as("b_sh"), col("sz").as("b_sz")), "b")
      .withColumn("inter",
        GraftFunctions.sortedIntersectSize(col("a_sh"), col("b_sh")).cast("double"))
      .withColumn("jaccard", col("inter") / (col("a_sz") + col("b_sz") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
      .localCheckpoint(true)
    // store commit AFTER the pairs materialized: new filesets first
    // (buckets co-located by (band, key)), then the atomic manifest
    // publish superseding any replayed tag's lines
    val v = cur.getOrElse(0L)
    val bFiles = FilesetLog.writeFileset(
      newBuckets.repartition(col("band"), col("key")),
      FilesetLog.fileset(storePath, "buckets", v + 1))
    val sFiles = FilesetLog.writeFileset(
      newDocs.select("id", "sh", "sz"),
      FilesetLog.fileset(storePath, "sigs", v + 1))
    newDocs.unpersist()
    if (bFiles.nonEmpty || sFiles.nonEmpty || hist.length != all.length)
      FilesetLog.commit(spark, storePath, v + 1,
        hist ++ bFiles.map(FilesetLog.Entry("B", batchTag, _)) ++
          sFiles.map(FilesetLog.Entry("S", batchTag, _)))
    pairs
  }

  /** Rewrite the CURRENT version's buckets into ceil(nB/targetRecords)
    * (band, key)-partitioned files and its signatures into
    * ceil(nS/targetRecords) files, committed as one new version under
    * the reserved [[FilesetLog.CompactedTag]] — the small-file
    * maintenance a per-batch-fileset store needs. Content-invisible
    * (spec'd: identical pairs from post-compaction ingests); crash-safe
    * (new filesets first, atomic manifest publish, old files live until
    * [[vacuumStore]]). Run by the single maintainer BETWEEN ingests,
    * after the stream's checkpoint has committed every applied batch: a
    * batch replayed from before the compaction would find its rows
    * merged under the compacted tag and recompute as if already seen.
    */
  def compactStore(spark: SparkSession, storePath: String,
      targetRecords: Long): Long = {
    val v = FilesetLog.current(spark, storePath).getOrElse(
      throw new IllegalArgumentException(s"no store under $storePath"))
    val es = FilesetLog.entries(spark, storePath, v)
    def compactKind(kind: String, sub: String, parts: DataFrame => Int => DataFrame): Seq[String] = {
      val files = es.filter(_.kind == kind).map(_.file)
      if (files.isEmpty) Seq.empty
      else {
        val df = FilesetLog.read(spark, files)
        val n = df.count()
        val nf = math.max(1L, (n + targetRecords - 1) / targetRecords).toInt
        FilesetLog.writeFileset(parts(df)(nf),
          FilesetLog.fileset(storePath, sub, v + 1))
      }
    }
    val bFiles = compactKind("B", "buckets",
      df => nf => df.repartition(nf, col("band"), col("key")))
    val sFiles = compactKind("S", "sigs",
      df => nf => df.repartition(nf, col("id")))
    FilesetLog.commit(spark, storePath, v + 1,
      bFiles.map(FilesetLog.Entry("B", FilesetLog.CompactedTag, _)) ++
        sFiles.map(FilesetLog.Entry("S", FilesetLog.CompactedTag, _)))
    v + 1
  }

  /** Drop old store versions and their unreferenced filesets —
    * [[FilesetLog.vacuum]]'s grace-period contract over both tables.
    */
  def vacuumStore(spark: SparkSession, storePath: String, keepLast: Int = 1,
      graceMs: Long = SnapshotTable.DefaultVacuumGraceMs): Seq[String] =
    FilesetLog.vacuum(spark, storePath, Seq("buckets", "sigs"), keepLast, graceMs)

  /** Keep the store current from a file-arrival document stream: every
    * micro-batch runs one [[ingest]] tagged with the checkpointed batch
    * id, and its verified pairs land in `<storePath>/pairs/batch=<id>/`.
    * Replay-safe end to end: a re-run batch recomputes against history
    * that EXCLUDES its own tag's commit, supersedes it, and overwrites
    * exactly its own pairs directory — at-least-once execution,
    * exactly-once store and pair content.
    */
  def maintainStream(spark: SparkSession, docsDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String, textCol: String, storePath: String, checkpoint: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8,
      maxFilesPerTrigger: Int = 1): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingest(batch.sparkSession, batch, idCol, textCol, storePath,
          shingleSize, numHashes, bands, threshold, tag = batchId)
          .write.mode("overwrite").parquet(s"$storePath/pairs/batch=$batchId")
        ()
      }
      .start()

  /** Every verified pair the maintainer has emitted so far. */
  def pairs(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/pairs")
      .select("a", "b", "jaccard")
}
