package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, NearDupStore}
import graft.sources.Tables

class NearDupStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.load(spark, TestSpark.sf, "documents")

  private def freshStore(name: String): String = {
    val d = s"${graft.Scratch.dir}/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  test("interleaved arrival equals the one-shot operator, each pair exactly once") {
    // mod-3 batches interleave ids across the corpus (the gate uses
    // id ranges) — arrival ORDER must be invisible, because banding is a
    // pure function of the text and emission is by-later-member
    val store = freshStore("neardup-interleaved")
    val batches = (0 until 3).map(b =>
      NearDupStore.ingest(spark, docs.filter(pmod(col("doc_id"), lit(3)) === b),
        "doc_id", "text", store))
    val inc = batches.map(_.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq).reduce(_ ++ _)
    assert(inc.size == inc.distinct.size, "no pair may be emitted twice")
    val oneShot = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(oneShot.nonEmpty)
    assert(inc.toSet == oneShot,
      s"incremental union diverged: +${(inc.toSet -- oneShot).take(3)} -${(oneShot -- inc.toSet).take(3)}")
    spark.catalog.clearCache()
  }

  test("a replayed batch is idempotent: same pairs, no duplicate store rows") {
    val store = freshStore("neardup-replay")
    val b0 = docs.filter(col("doc_id") < 2000)
    val b1 = docs.filter(col("doc_id") >= 2000)
    NearDupStore.ingest(spark, b0, "doc_id", "text", store, tag = 0L)
    val first = NearDupStore.ingest(spark, b1, "doc_id", "text", store, tag = 1L)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val sigsBefore = NearDupStore.sigs(spark, store).count()
    // the crash-replay case: batch 1 runs again with the SAME tag —
    // history must exclude its own earlier commit, which the replay's
    // commit then supersedes, leaving the store content-identical
    val again = NearDupStore.ingest(spark, b1, "doc_id", "text", store, tag = 1L)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(again == first, "replay must emit the same pairs")
    assert(NearDupStore.sigs(spark, store).count() == sigsBefore,
      "replay must not grow the store")
    val ids = NearDupStore.sigs(spark, store).select("id")
    assert(ids.count() == ids.distinct().count(), "no duplicate signature rows")
  }

  test("streaming maintainer: chunked arrival reproduces the one-shot pair set") {
    import org.apache.spark.sql.expressions.Window
    val store = freshStore("neardup-stream")
    val chunkDir = freshStore("neardup-stream-chunks")
    val ranked = docs.withColumn("chunk",
      ntile(3).over(Window.orderBy("doc_id")))
    (1 to 3).foreach { c =>
      ranked.filter(col("chunk") === c).drop("chunk").coalesce(1)
        .write.mode(if (c == 1) "overwrite" else "append").parquet(chunkDir)
      Thread.sleep(1100)
    }
    val schema = spark.read.parquet(chunkDir).schema
    val q = NearDupStore.maintainStream(spark, chunkDir, schema,
      "doc_id", "text", store, freshStore("neardup-stream-ck"))
    q.awaitTermination(180000)
    val streamed = NearDupStore.pairs(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(oneShot.nonEmpty && streamed == oneShot)
    spark.catalog.clearCache()
  }

  test("a batch with no near-dups of history emits nothing but still lands in the store") {
    import spark.implicits._
    val store = freshStore("neardup-disjoint")
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val p1 = NearDupStore.ingest(spark, b1, "doc_id", "text", store)
    assert(p1.count() == 1, "the two overlapping docs are near-dups")
    // disjoint vocabulary: no candidates against history
    val b2 = Seq((3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    assert(NearDupStore.ingest(spark, b2, "doc_id", "text", store).count() == 0)
    // a later copy of doc 3 must match it THROUGH the store
    val b3 = Seq((4L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val p3 = NearDupStore.ingest(spark, b3, "doc_id", "text", store).collect()
    assert(p3.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 4L)))
    assert(p3.head.getDouble(2) == 1.0)
  }

  test("re-ingesting a known id is first-arrival-wins: no duplicate sigs, no pair inflation") {
    import spark.implicits._
    val store = freshStore("neardup-redelivery")
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    NearDupStore.ingest(spark, b1, "doc_id", "text", store)
    // doc 1 is RE-DELIVERED in a later batch (different tag — not the
    // crash-replay case) alongside a genuinely new near-dup of it: the
    // stale copy must be dropped, so the pair (1,2) appears exactly once
    val b2 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val p2 = NearDupStore.ingest(spark, b2, "doc_id", "text", store).collect()
    assert(p2.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)),
      s"redelivered id must not duplicate pairs: ${p2.toSeq}")
    val sigs = NearDupStore.sigs(spark, store)
    assert(sigs.filter(col("id") === 1L).count() == 1, "one signature row per id")
    // and a THIRD batch matching doc 1 still sees exactly one copy
    val b3 = Seq((5L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val p3 = NearDupStore.ingest(spark, b3, "doc_id", "text", store).collect()
    assert(p3.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 5L), (2L, 5L)))
  }

  test("compactStore: fewer files, identical content, post-compaction ingests emit the same pairs") {
    val store = freshStore("neardup-compact")
    val reference = freshStore("neardup-compact-ref")
    // the post-compaction batch must PROVABLY emit pairs (a pair is
    // emitted by its LATER member's batch): cut at the median later
    // member of the one-shot truth, so half the pairs land in b2
    val later = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .collect().map(_.getLong(1)).sorted
    assert(later.nonEmpty, "fixture needs near-dup pairs in the corpus")
    val cut = later(later.length / 2)
    val b0 = docs.filter(col("doc_id") < cut && pmod(col("doc_id"), lit(2)) === 0)
    val b1 = docs.filter(col("doc_id") < cut && pmod(col("doc_id"), lit(2)) === 1)
    val b2 = docs.filter(col("doc_id") >= cut)
    Seq(store, reference).foreach { st =>
      NearDupStore.ingest(spark, b0, "doc_id", "text", st, tag = 0L)
      NearDupStore.ingest(spark, b1, "doc_id", "text", st, tag = 1L)
      ()
    }
    val sigsBefore = NearDupStore.sigs(spark, store).orderBy("id")
      .select("id", "sz").collect().toSeq
    val bucketRowsBefore = NearDupStore.buckets(spark, store).count()
    val filesBefore = NearDupStore.sigs(spark, store).inputFiles.length +
      NearDupStore.buckets(spark, store).inputFiles.length
    NearDupStore.compactStore(spark, store, targetRecords = 1L << 20)
    // one file per table at this size: ceil(n/target) with a huge target
    assert(NearDupStore.sigs(spark, store).inputFiles.length == 1 &&
      NearDupStore.buckets(spark, store).inputFiles.length == 1,
      s"compaction must collapse the per-batch filesets (before: $filesBefore)")
    // content-invisible: identical signature rows and bucket cardinality
    assert(NearDupStore.sigs(spark, store).orderBy("id")
      .select("id", "sz").collect().toSeq == sigsBefore)
    assert(NearDupStore.buckets(spark, store).count() == bucketRowsBefore)
    // old filesets reclaim after the grace window; content unchanged
    val deleted = NearDupStore.vacuumStore(spark, store, keepLast = 1, graceMs = 0L)
    assert(deleted.nonEmpty, "superseded per-batch filesets must vacuum")
    assert(NearDupStore.sigs(spark, store).orderBy("id")
      .select("id", "sz").collect().toSeq == sigsBefore)
    // a post-compaction ingest joins the compacted history and emits
    // EXACTLY the pairs the uncompacted store would have
    val got = NearDupStore.ingest(spark, b2, "doc_id", "text", store, tag = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = NearDupStore.ingest(spark, b2, "doc_id", "text", reference, tag = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty && got == want,
      s"compaction changed pair emission: +${(got -- want).take(3)} -${(want -- got).take(3)}")
    spark.catalog.clearCache()
  }

  test("string ids above 2^53 don't collide in the first-arrival anti-join") {
    import spark.implicits._
    // 2^53 = 9007199254740992: the two ids below are DISTINCT longs but
    // EQUAL as doubles — a string-vs-bigint join key would coerce both
    // sides to double and silently drop the second document as 'seen'
    val store = freshStore("neardup-bigid")
    val b1 = Seq(("9007199254740992", "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    NearDupStore.ingest(spark, b1, "doc_id", "text", store)
    val b2 = Seq(("9007199254740993", "completely different words here now"))
      .toDF("doc_id", "text")
    NearDupStore.ingest(spark, b2, "doc_id", "text", store)
    val ids = NearDupStore.sigs(spark, store)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(9007199254740992L, 9007199254740993L),
      s"double-coerced join keys collapsed adjacent >2^53 ids: $ids")
  }
}
