package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkippingIndex
import graft.sources.Tables

class SkippingIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Hadoop Path, Spark's _metadata.file_path and df.inputFiles render the
  // same local file as file:/p, file:///p or /p — compare the path part
  private def norm(s: String): String = s.replaceFirst("^file:/+", "/")

  private lazy val (dataDir, statsDir): (String, String) = {
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val data = TestSpark.scratch("skip_ranged_li")
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(data)
    val stats = TestSpark.scratch("skip_stats")
    SkippingIndex.buildStats(spark, data, Seq("l_partkey"), stats)
    (data, stats)
  }

  test("stats table: one row per file, footer min/max covers the data exactly") {
    val stats = spark.read.parquet(statsDir).collect()
    val files = new java.io.File(dataDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(stats.length == files.length)
    // footer stats equal the actual per-file min/max (read back and check)
    val actual = spark.read.parquet(dataDir)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min("l_partkey").as("amin"), max("l_partkey").as("amax"),
        count(lit(1)).as("an"))
      .collect().map(r => (norm(r.getString(0)),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    stats.foreach { r =>
      val (amin, amax, an) = actual(norm(r.getAs[String]("file")))
      assert(r.getAs[Long]("l_partkey_min") == amin)
      assert(r.getAs[Long]("l_partkey_max") == amax)
      assert(r.getAs[Long]("n_rows") == an)
    }
  }

  test("pruned read skips most files on a range-clustered layout and equals the full scan") {
    // partkey domain at sf0.001 is [0,199]; a 10% band must prune hard
    val (lo, hi) = (10L, 30L)
    val (pruned, p) = SkippingIndex.prunedRead(spark, statsDir, "l_partkey", lo, hi)
    // a narrow band over 16 range-partitioned files must skip most of them
    assert(p.filesTotal == 16)
    assert(p.filesKept <= 4,
      s"expected heavy skipping on a range layout, kept ${p.filesKept}/16")
    // the scan reads ONLY the kept files
    assert(pruned.inputFiles.map(norm).toSet == p.kept.map(norm).toSet)
    // and the result is exactly the full-scan filter
    val full = spark.read.parquet(dataDir)
      .filter(col("l_partkey").between(lo, hi))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("attached index: scanBetween consults it automatically, invisibly to plain readers") {
    val data = TestSpark.scratch("skip_auto_li")
    Tables.load(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(data)
    val plainBefore = spark.read.parquet(data).count()
    SkippingIndex.attachStats(spark, data, Seq("l_partkey"))
    // the _-prefixed index dir is ignored by a plain directory read
    assert(spark.read.parquet(data).count() == plainBefore,
      "attaching the index must not change what a plain reader sees")
    val (lo, hi) = (10L, 30L)
    val (auto, pr) = SkippingIndex.scanBetween(spark, data, "l_partkey", lo, hi)
    assert(pr.isDefined && pr.get.filesTotal == 16 && pr.get.filesKept <= 4,
      s"auto path must prune like the explicit one: $pr")
    // the scan's actual input files ARE the pruned list (plan-level proof)
    assert(auto.inputFiles.map(norm).toSet == pr.get.kept.map(norm).toSet)
    val full = spark.read.parquet(data).filter(col("l_partkey").between(lo, hi))
    assert(auto.exceptAll(full).isEmpty && full.exceptAll(auto).isEmpty)
    // column not covered by the index -> plain scan, no pruning decision
    val (fallback, none) = SkippingIndex.scanBetween(spark, data, "l_orderkey", 0L, 10L)
    assert(none.isEmpty)
    assert(fallback.exceptAll(spark.read.parquet(data)
      .filter(col("l_orderkey").between(0L, 10L))).isEmpty)
    // a band no file can contain -> correctly-empty plain scan
    val (empty, zero) = SkippingIndex.scanBetween(spark, data, "l_partkey",
      100000000L, 100000001L)
    assert(zero.exists(_.filesKept == 0) && empty.count() == 0)
  }

  test("pruning is conservative: every row of the band is inside some kept file's interval") {
    val (lo, hi) = (50L, 52L)
    val p = SkippingIndex.prune(spark, statsDir, "l_partkey", lo, hi)
    val stats = spark.read.parquet(statsDir)
      .collect().map(r => r.getAs[String]("file") ->
        (r.getAs[Long]("l_partkey_min"), r.getAs[Long]("l_partkey_max"))).toMap
    // kept = exactly the intersecting intervals — no file with data in
    // the band is dropped, no provably-disjoint file is kept
    val expected = stats.filter { case (_, (mn, mx)) => mn <= hi && mx >= lo }.keySet
    assert(p.kept.toSet == expected)
  }

  test("a random (unclustered) layout keeps everything - the layout, not the index, is the lever") {
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_partkey")
    val data = TestSpark.scratch("skip_random_li")
    li.repartition(8).write.mode("overwrite").parquet(data)
    val stats = TestSpark.scratch("skip_random_stats")
    SkippingIndex.buildStats(spark, data, Seq("l_partkey"), stats)
    val p = SkippingIndex.prune(spark, stats, "l_partkey", 100L, 300L)
    assert(p.filesKept == p.filesTotal,
      "hash-partitioned files all span the whole domain - nothing can be skipped")
  }

  // ---- keyset pagination over the stats (KeysetWalk) -------------------

  private lazy val keysetDir: String = {
    // unique key, key-clustered: the serving layout KeysetWalk is for
    val o = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val d = TestSpark.scratch("keyset_orders")
    o.repartitionByRange(12, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(d)
    SkippingIndex.attachStats(spark, d, Seq("o_orderkey"))
    d
  }

  test("bloom index: point lookups skip files min/max cannot; all-NULL files skip; absent values keep nothing") {
    import spark.implicits._
    // 8 k-ranged files; tag = k mod 4000 puts each tag value in exactly
    // 2 files — min/max stats on tag span the domain in EVERY file
    // (useless), the bloom knows which 2 hold it
    val data = TestSpark.scratch("bloom_data")
    (0L until 8000L).toDF("k")
      .withColumn("tag", pmod(col("k"), lit(4000L)))
      .withColumn("tag", when(col("k") < 1500L, lit(null).cast("long"))
        .otherwise(col("tag"))) // the first file lands fully in the NULL
        // band (range boundaries are sampled ≈k=1000, the band covers
        // the slack), so at least one file is all-NULL tags
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(data)
    val idx = TestSpark.scratch("bloom_idx")
    SkippingIndex.buildBloomIndex(spark,
      spark.read.parquet(data).inputFiles.toSeq.sorted, "tag", idx,
      expectedItemsPerFile = 2000L, fpp = 0.01)
    // the all-NULL file's bloom is literally NULL (the hash is
    // null-gated, so BloomFilterAggregate sees no input and evals NULL)
    // — the skip below rides the NULL-bloom branch, not a lucky miss
    assert(spark.read.parquet(idx).filter(col("bloom").isNull).count() >= 1L)
    val p = SkippingIndex.pruneBloom(spark, idx, 3777L,
      org.apache.spark.sql.types.LongType)
    assert(p.filesTotal == 8)
    // tag 3777 lives at k=3777 and k=7777 -> 2 files (+ rare fp slack)
    assert(p.filesKept <= 3 && p.filesKept >= 2, s"$p")
    val got = spark.read.parquet(p.kept: _*).filter(col("tag") === 3777L)
      .select("k").as[Long].collect().toSet
    assert(got == Set(3777L, 7777L))
    // a value hashed into the all-NULL file's range: that file's bloom is
    // NULL and it is skipped (tag 500 exists ONLY at k=4500 — k=500 is
    // in the NULL band)
    val p2 = SkippingIndex.pruneBloom(spark, idx, 500L,
      org.apache.spark.sql.types.LongType)
    val got2 = spark.read.parquet(p2.kept: _*).filter(col("tag") === 500L)
      .select("k").as[Long].collect().toSet
    assert(got2 == Set(4500L))
    // absent value: bloom keeps (almost) nothing, and certainly not all
    val p3 = SkippingIndex.pruneBloom(spark, idx, 999999L,
      org.apache.spark.sql.types.LongType)
    assert(p3.filesKept <= 1, s"absent value must prune: $p3")
  }

  test("bloom probe is distributed: only (file, keep) booleans reach the driver, never bitmaps") {
    import spark.implicits._
    val data = TestSpark.scratch("bloom_dist_data")
    (0L until 4000L).toDF("k")
      .withColumn("tag", pmod(col("k"), lit(2000L)))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(data)
    val idx = TestSpark.scratch("bloom_dist_idx")
    SkippingIndex.buildBloomIndex(spark,
      spark.read.parquet(data).inputFiles.toSeq.sorted, "tag", idx,
      expectedItemsPerFile = 1000L, fpp = 0.01)
    // the probe frame — what pruneBloom collects — must be file-path
    // sized: at a million files a (file, bitmap) collect is a ~GB driver
    // pull per lookup; (file, boolean) is a few MB
    val probe = SkippingIndex.bloomProbeFrame(spark, idx, 777L,
      org.apache.spark.sql.types.LongType)
    val binaryCols = probe.schema.fields.filter(
      _.dataType == org.apache.spark.sql.types.BinaryType).map(_.name)
    assert(binaryCols.isEmpty,
      s"probe output must not carry bitmap columns, got: ${binaryCols.toSeq}")
    // and the distributed verdicts are the truth: tag 777 lives at
    // k=777 and k=2777 -> exactly those files' booleans are true
    val p = SkippingIndex.pruneBloom(spark, idx, 777L,
      org.apache.spark.sql.types.LongType)
    assert(p.filesKept >= 2 && p.filesKept <= 3, s"$p")
    assert(spark.read.parquet(p.kept: _*).filter(col("tag") === 777L)
      .select("k").as[Long].collect().toSet == Set(777L, 2777L))
  }

  test("bloom index on a STRING column: probe hashes the physical type the build hashed") {
    import spark.implicits._
    val data = TestSpark.scratch("bloom_str_data")
    (0L until 4000L).toDF("k")
      .withColumn("name", concat(lit("user-"), pmod(col("k"), lit(2000L))))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(data)
    val idx = TestSpark.scratch("bloom_str_idx")
    SkippingIndex.buildBloomIndex(spark,
      spark.read.parquet(data).inputFiles.toSeq.sorted, "name", idx,
      expectedItemsPerFile = 1000L, fpp = 0.01)
    // "user-321" lives at k=321 and k=2321 -> 2 of 8 files
    val p = SkippingIndex.pruneBloom(spark, idx, "user-321",
      org.apache.spark.sql.types.StringType)
    assert(p.filesKept >= 2 && p.filesKept <= 3, s"$p")
    val got = spark.read.parquet(p.kept: _*)
      .filter(col("name") === "user-321").select("k").as[Long].collect().toSet
    assert(got == Set(321L, 2321L))
    // supplementary characters survive the UTF8String hash bridge
    val data2 = TestSpark.scratch("bloom_str2")
    Seq((1L, "😀-x"), (2L, "plain")).toDF("k", "name")
      .repartition(2, col("k")).write.mode("overwrite").parquet(data2)
    val idx2 = TestSpark.scratch("bloom_str2_idx")
    SkippingIndex.buildBloomIndex(spark,
      spark.read.parquet(data2).inputFiles.toSeq.sorted, "name", idx2, 10L, 0.01)
    val p2 = SkippingIndex.pruneBloom(spark, idx2, "😀-x",
      org.apache.spark.sql.types.StringType)
    assert(spark.read.parquet(p2.kept: _*)
      .filter(col("name") === "😀-x").count() == 1L)
  }

  test("keyset walk: asc and desc page walks equal the offset pages, file-bounded") {
    val full = spark.read.parquet(keysetDir)
      .orderBy("o_orderkey").collect().map(_.getLong(0)).toSeq
    val walk = SkippingIndex.keysetWalk(spark, keysetDir, "o_orderkey")
    val size = 100
    // ascending
    var after = Long.MinValue
    var got = Seq.empty[Long]
    var maxKept = 0
    for (k <- 0 until 15) {
      val (df, p) = walk.page(after, size)
      val keys = df.collect().map(_.getAs[Long]("o_orderkey")).toSeq
      assert(keys == full.drop(k * size).take(size),
        s"asc page $k diverged from the offset slice")
      // the scan touches only the kept files, and few of them
      assert(df.inputFiles.map(norm).toSet.subsetOf(p.kept.map(norm).toSet))
      if (keys.nonEmpty) { after = keys.last; maxKept = math.max(maxKept, p.filesKept) }
      got ++= keys
    }
    assert(got == full, "asc walk must cover the table exactly")
    // ~125 rows/file: a 100-row page is provably inside 2-3 files
    assert(maxKept <= 4, s"pages must stay file-bounded, saw $maxKept/12 kept")
    // past-the-end cursor: the empty page from the stats alone
    val (tail, pTail) = walk.page(full.last, size)
    assert(tail.isEmpty && pTail.filesKept == 0,
      "a cursor past the data must serve the empty page without keeping files")
    // descending mirror
    after = Long.MaxValue
    got = Seq.empty
    val fullDesc = full.reverse
    for (k <- 0 until 15) {
      val (df, p) = walk.page(after, size, ascending = false)
      val keys = df.collect().map(_.getAs[Long]("o_orderkey")).toSeq
      assert(keys == fullDesc.drop(k * size).take(size),
        s"desc page $k diverged from the offset slice")
      assert(p.filesKept <= 4 || keys.isEmpty)
      if (keys.nonEmpty) after = keys.last
      got ++= keys
    }
    assert(got == fullDesc, "desc walk must cover the table exactly")
  }

  test("keyset page is exact under duplicate keys at any cursor (pruning never drops rows)") {
    // non-unique key: each page() is still exactly the full-sort page
    // above the cursor — the strict-cursor WALK contract needs a unique
    // key, but per-page pruning must be exact for any data
    val o = Tables.load(spark, TestSpark.sf, "orders")
      .select(pmod(col("o_orderkey"), lit(50)).as("k"), col("o_custkey"))
    val d = TestSpark.scratch("keyset_dupes")
    o.repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(d)
    val walk = SkippingIndex.keysetWalk(spark, d, "k") // no attached index: footer build
    val all = spark.read.parquet(d)
    for (after <- Seq(Long.MinValue, 0L, 17L, 24L, 25L, 48L, 49L)) {
      val (df, _) = walk.page(after, 60)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = all.filter(col("k") > after).orderBy("k").limit(60)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // duplicate keys make row order within a tie nondeterministic;
      // compare as sorted multisets (same keys, same rows)
      assert(got.sorted == want.sorted, s"page after=$after diverged")
    }
  }

  test("keyset walk: blind files (no usable stats) are read into every page; nulls never overcount") {
    import spark.implicits._
    val d = TestSpark.scratch("keyset_nulls")
    val p0 = new org.apache.hadoop.fs.Path(d)
    p0.getFileSystem(spark.sessionState.newHadoopConf()).delete(p0, true)
    // file A: keys 1..50 plus 100 NULL keys — min/max (1,50) but only 50
    // real rows: the certain-row bound must use n_rows - nulls, or the
    // walk stops at file A for a 120-row page and DROPS rows from B/C
    val fileA = ((1L to 50L).map(k => (Some(k), s"a$k")) ++
      (1 to 100).map(i => (None: Option[Long], s"n$i"))).toDF("k", "v")
    val fileB = (51L to 100L).map(k => (Some(k), s"b$k")).toDF("k", "v")
    // file C: ALL-null key column — no usable min/max, a blind file that
    // must be kept in every page (it can never be ruled out)
    val fileC = (1 to 20).map(i => (None: Option[Long], s"c$i")).toDF("k", "v")
    val fileD = (101L to 150L).map(k => (Some(k), s"d$k")).toDF("k", "v")
    Seq(fileA, fileB, fileC, fileD).foreach(
      _.coalesce(1).write.mode("append").parquet(d))
    val walk = SkippingIndex.keysetWalk(spark, d, "k")
    val (df, p) = walk.page(0L, 120)
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got == (1L to 120L), s"null-aware walk must serve keys 1..120, got ${got.size} rows")
    assert(p.filesKept == 4, s"A,B,D needed for certainty plus blind C: kept ${p.filesKept}")
    // a page fully answered by A+B still carries the blind file
    val (df2, p2) = walk.page(0L, 30)
    assert(df2.collect().map(_.getLong(0)).toSeq == (1L to 30L))
    assert(p2.kept.exists(f => spark.read.parquet(f).filter(col("k").isNull).count() == 20),
      "the blind all-null file must be kept in every page")
  }

  test("string keyset walk: exact across the UTF-16/UTF-8 order divergence, file-bounded") {
    import spark.implicits._
    val d = TestSpark.scratch("keyset_str")
    val p0 = new org.apache.hadoop.fs.Path(d)
    p0.getFileSystem(spark.sessionState.newHadoopConf()).delete(p0, true)
    // three files that straddle the divergence: an emoji (U+1F600,
    // UTF-8 F0 9F 98 80) sorts ABOVE U+FFFD in UTF-8 byte order (the
    // footer-stat and Spark-plan order) but BELOW it in java String
    // UTF-16 order — a walk ranking files with compareTo would judge the
    // emoji file "before the cursor" at a U+FFFD cursor and DROP its rows
    val fileA = (0 until 20).map(i => (f"a$i%02d", i.toLong)).toDF("k", "v")
    val fileC = (0 until 20).map(i => (f"z�$i%02d", 100L + i)).toDF("k", "v")
    val fileB = (0 until 20).map(i => (f"z😀$i%02d", 200L + i)).toDF("k", "v")
    Seq(fileA, fileC, fileB).foreach(_.coalesce(1).write.mode("append").parquet(d))
    val full = spark.read.parquet(d).orderBy("k").collect()
      .map(_.getString(0)).toSeq
    // sanity: Spark's own sort puts the emoji file LAST (UTF-8 order)
    assert(full.last.startsWith("z😀") && full(20).startsWith("z�"))
    val walk = SkippingIndex.keysetWalkString(spark, d, "k")
    var after: Option[String] = None
    var got = Seq.empty[String]
    for (p <- 0 until 4) {
      val (df, pr) = walk.page(after, 20)
      val keys = df.collect().map(_.getString(0)).toSeq
      assert(keys == full.drop(p * 20).take(20), s"asc page $p diverged")
      assert(pr.filesKept <= 2 || keys.isEmpty,
        s"20-row pages over 20-row files must stay file-bounded: ${pr.filesKept}")
      if (keys.nonEmpty) after = Some(keys.last)
      got ++= keys
    }
    assert(got == full, "asc walk must cover the table exactly")
    // descending from the open start: emoji file first
    val fullDesc = full.reverse
    after = None
    got = Seq.empty
    for (p <- 0 until 4) {
      val (df, _) = walk.page(after, 20, ascending = false)
      val keys = df.collect().map(_.getString(0)).toSeq
      assert(keys == fullDesc.drop(p * 20).take(20), s"desc page $p diverged")
      if (keys.nonEmpty) after = Some(keys.last)
      got ++= keys
    }
    assert(got == fullDesc, "desc walk must cover the table exactly")
  }

  test("long walk over string-typed attached stats falls back and fails clearly, not with a CCE") {
    import spark.implicits._
    val d = TestSpark.scratch("keyset_str_stats")
    val p0 = new org.apache.hadoop.fs.Path(d)
    p0.getFileSystem(spark.sessionState.newHadoopConf()).delete(p0, true)
    (0 until 100).map(i => (f"K$i%03d", i.toLong)).toDF("k", "v")
      .repartitionByRange(4, col("k")).write.mode("overwrite").parquet(d)
    // attach a STRING stats index for k at the conventional location
    SkippingIndex.attachStatsString(spark, d, Seq("k"))
    // the string walk consumes the attached index and pages exactly
    val walk = SkippingIndex.keysetWalkString(spark, d, "k")
    val full = spark.read.parquet(d).orderBy("k").collect().map(_.getString(0)).toSeq
    assert(walk.page(None, 30)._1.collect().map(_.getString(0)).toSeq == full.take(30))
    // a LONG range scan must not numerically compare the string index:
    // type-validated coverage falls back to the plain scan (no Prune)
    assert(SkippingIndex.scanBetween(spark, d, "k", 0L, 10L)._2.isEmpty,
      "long scanBetween over a string index must fall back, not consult it")
    // the LONG walk must not ClassCastException on the string stats: the
    // covered check rejects the type, the footer fallback names the
    // unsupported column type clearly
    val e = intercept[Exception](
      SkippingIndex.keysetWalk(spark, d, "k").page(Long.MinValue, 10)._1.collect())
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("INT32/INT64")),
      s"expected the statsRows type error, got: $messages")
  }

  test("timestamp keyset walk (micros cursors): pages equal the offset slices, file-bounded") {
    val d = TestSpark.scratch("keyset_ts")
    val p0 = new org.apache.hadoop.fs.Path(d)
    p0.getFileSystem(spark.sessionState.newHadoopConf()).delete(p0, true)
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      // MICROS output: the INT64 footer stats carry the annotation the
      // normalized micros fold needs (INT96 legacy throws there)
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      spark.range(1200)
        .select(timestamp_seconds(lit(1600000000L) + col("id") * 60L).as("ts"),
          col("id").as("v"))
        .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(d)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val walk = SkippingIndex.keysetWalkMicros(spark, d, "ts")
    val full = spark.read.parquet(d).select(unix_micros(col("ts")).as("us"))
      .orderBy("us").collect().map(_.getLong(0)).toSeq
    var after: Option[Long] = None
    var got = Seq.empty[Long]
    var maxKept = 0
    for (p <- 0 until 13) {
      val (df, pr) = walk.page(after, 100)
      val keys = df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(keys == full.drop(p * 100).take(100), s"asc page $p diverged")
      if (keys.nonEmpty) { after = Some(keys.last); maxKept = math.max(maxKept, pr.filesKept) }
      got ++= keys
    }
    assert(got == full, "asc walk must cover the table exactly")
    // 150 rows/file: a 100-row page is provably inside 2-3 files
    assert(maxKept <= 3, s"pages must stay file-bounded, saw $maxKept/8 kept")
    // descending mirror over the same cursor type
    after = None
    val (dd, _) = walk.page(after, 100, ascending = false)
    assert(dd.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq ==
      full.reverse.take(100), "desc first page diverged")
  }

  test("SnapshotTable.keysetWalkString pages a string-keyed pinned snapshot") {
    import graft.operators.SnapshotTable
    import spark.implicits._
    val d = TestSpark.scratch("keyset_snap_str")
    val p0 = new org.apache.hadoop.fs.Path(d)
    p0.getFileSystem(spark.sessionState.newHadoopConf()).delete(p0, true)
    val base = (0 until 2000).map(i => (f"K$i%06d", i.toLong, 0L))
      .toDF("k", "v", "commit_v")
    SnapshotTable.create(spark, base.repartitionByRange(10, col("k")), d)
    // version-scoped string index: the walk consults it instead of
    // re-reading footers (same pages either way — spec'd by paging)
    SnapshotTable.attachStatsString(spark, d, Seq("k"))
    val walk = SnapshotTable.keysetWalkString(spark, d, "k")
    val full = SnapshotTable.read(spark, d).orderBy("k").collect()
      .map(_.getString(0)).toSeq
    val (pg1, pr1) = walk.page(None, 200)
    assert(pg1.collect().map(_.getString(0)).toSeq == full.take(200))
    assert(pr1.filesKept <= 3, s"string snapshot page must be file-bounded: ${pr1.filesKept}/10")
    val (pg2, _) = walk.page(Some(full(199)), 200)
    assert(pg2.collect().map(_.getString(0)).toSeq == full.slice(200, 400))
  }

  test("SnapshotTable.keysetWalk serves pinned-version pages that survive a compaction") {
    import graft.operators.SnapshotTable
    val d = TestSpark.scratch("keyset_snap")
    val p0 = new org.apache.hadoop.fs.Path(d)
    p0.getFileSystem(spark.sessionState.newHadoopConf()).delete(p0, true)
    val o = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_totalprice").withColumn("commit_v", lit(0L))
    SnapshotTable.create(spark, o.repartitionByRange(10, col("o_orderkey")), d)
    SnapshotTable.attachStats(spark, d, Seq("o_orderkey"))
    val walk = SnapshotTable.keysetWalk(spark, d, "o_orderkey")
    val full = SnapshotTable.read(spark, d, Some(1L))
      .orderBy("o_orderkey").collect().map(_.getLong(0)).toSeq
    val (pg1, pr1) = walk.page(Long.MinValue, 200)
    assert(pg1.collect().map(_.getLong(0)).toSeq == full.take(200))
    assert(pr1.filesKept <= 4, s"snapshot page must be file-bounded, kept ${pr1.filesKept}/10")
    // rewrite the table; the in-flight walk still serves version-1 pages
    // (its file list was pinned at construction, files live until vacuum)
    SnapshotTable.compact(spark, d, targetRecords = 100000L)
    val (pg5, _) = walk.page(full(799), 200)
    assert(pg5.collect().map(_.getLong(0)).toSeq == full.slice(800, 1000),
      "a walk pinned before the compaction must still serve the old version")
  }
  test("keyset walk driver residency is O(files-walked): lazy stats pull, close() releases the cache") {
    import spark.implicits._
    val d = TestSpark.scratch("keyset_residency")
    val p0 = new org.apache.hadoop.fs.Path(d)
    p0.getFileSystem(spark.sessionState.newHadoopConf()).delete(p0, true)
    // 64 key-clustered files, ~100 rows each — a miniature of the
    // millions-of-files table where a per-walk full stats collect is
    // the scale hazard (verdict r14 #2)
    (0L until 6400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(64, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(d)
    // force the LAZY path (64 files would normally ride the bounded
    // eager array): this spec is the millions-of-files residency proof
    spark.conf.set("graft.keyset.eagerStatsMax", "0")
    val walk = try SkippingIndex.keysetWalk(spark, d, "k")
    finally spark.conf.set("graft.keyset.eagerStatsMax", "4096")
    val (pg, pr) = walk.page(Long.MinValue, 50)
    assert(pg.collect().map(_.getLong(0)).toSeq == (0L until 50L))
    assert(pr.filesTotal == 64)
    // one ~100-row file certainly covers the 50-row page: the walk
    // pulled that file plus one lookahead — NOT the 64-file stats table
    assert(walk.statsPulled <= 6,
      s"driver pulled ${walk.statsPulled} stats rows for a 2-file page over 64 files")
    // a mid-table cursor stays O(files-walked): candidates are filtered
    // executor-side before they ever reach the driver
    val before = walk.statsPulled
    val (pg2, _) = walk.page(3199L, 50)
    assert(pg2.collect().map(_.getLong(0)).toSeq == (3200L until 3250L))
    assert(walk.statsPulled - before <= 6,
      s"cursor page pulled ${walk.statsPulled - before} stats rows")
    // close() drops the sorted cache; pages still serve (re-sort lazily)
    walk.close()
    val (pg3, _) = walk.page(6300L, 50)
    assert(pg3.collect().map(_.getLong(0)).toSeq == (6301L until 6351L))
  }

  // ---- driver-side footer folds and index writes ----------------------

  /** Files with a long `k`, a string `s` and a MICROS timestamp `t`: four
    * key-ranged files, one ZERO-ROW file and one whose keys are all NULL
    * (its chunks record no non-null value).
    */
  private lazy val foldFiles: Seq[String] = {
    import spark.implicits._
    val d = TestSpark.scratch("fold_kinds")
    val p0 = new org.apache.hadoop.fs.Path(d)
    val fs = p0.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p0, true)
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val rows = spark.range(400).select(col("id").as("k"),
        format_string("s%04d", col("id")).as("s"),
        timestamp_seconds(lit(1600000000L) + col("id") * 60L).as("t"))
      rows.repartitionByRange(4, col("k")).write.parquet(s"$d/ranged")
      rows.limit(0).coalesce(1).write.parquet(s"$d/empty")
      Seq((None: Option[Long], None: Option[String], None: Option[java.sql.Timestamp]))
        .toDF("k", "s", "t").coalesce(1).write.parquet(s"$d/nulls")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    Seq("ranged", "empty", "nulls").flatMap(sub =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$d/$sub")).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).sorted.toSeq)
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("driver footer folds match a data aggregate per file for long, string and micros keys") {
    val files = foldFiles
    assert(files.length == 6, s"expected 4 ranged + 1 empty + 1 all-NULL file: $files")
    // the same (n_rows, min, max, nulls) computed from the DATA, one file
    // at a time: every file here has one row group, so footer min/max are
    // the data's (strings compare as unsigned bytes in both), and a
    // zero-row or all-NULL file aggregates to NULL bounds like its footer
    def fromData(f: String, key: org.apache.spark.sql.Column) = {
      val r = spark.read.parquet(f).select(key.as("x"))
        .agg(count(lit(1)), min("x"), max("x"), count(when(col("x").isNull, 1))).head()
      org.apache.spark.sql.Row(f, r.get(0), r.get(1), r.get(2), r.get(3))
    }
    val folds = Seq[(String, Seq[String] => org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.Column)](
      ("long", fl => SkippingIndex.statsRows(spark, fl, Seq("k")), col("k")),
      ("string", fl => SkippingIndex.statsRowsString(spark, fl, Seq("s")), col("s")),
      ("micros", fl => SkippingIndex.statsRowsMicros(spark, fl, Seq("t")), unix_micros(col("t"))))
    folds.foreach { case (kind, fold, key) =>
      val stats = fold(files)
      assert(isLocal(stats), s"$kind: the fold must be a local relation")
      val (got, want) = (stats.collect().toSeq, files.map(fromData(_, key)))
      assert(got == want, s"$kind: footer fold $got != data aggregate $want")
      // the zero-row file: 0 rows, NULL bounds; the all-NULL file: NULL
      // bounds, one null counted
      assert(got.map(r => (r.getLong(1), r.isNullAt(2), r.isNullAt(3), r.get(4))).takeRight(2) ==
        Seq((0L, true, true, 0L), (1L, true, true, 1L)), s"$kind: $got")
      assert(got.take(4).forall(r => !r.isNullAt(2) && !r.isNullAt(3)), s"$kind: $got")
    }
    val micros = SkippingIndex.statsRowsMicros(spark, files.take(1), Seq("t")).head()
    assert(micros.getLong(2) == 1600000000L * 1000000L, s"epoch micros expected: $micros")
  }

  test("a driver-written index reads back like a Spark-written one, through Spark and readIndex") {
    val files = foldFiles
    Seq(SkippingIndex.statsRows(spark, files, Seq("k")),
        SkippingIndex.statsRowsString(spark, files, Seq("s"))).zipWithIndex.foreach {
      case (stats, i) =>
        val rows = stats.collect().toSeq
        val (byDriver, bySpark) =
          (TestSpark.scratch(s"index_driver_$i"), TestSpark.scratch(s"index_spark_$i"))
        SkippingIndex.writeIndex(spark, byDriver, stats.schema, rows.reverse)
        stats.coalesce(1).write.mode("overwrite").parquet(bySpark)
        val (d, s) = (spark.read.parquet(byDriver), spark.read.parquet(bySpark))
        assert(d.schema == s.schema, s"${d.schema} != ${s.schema}")
        // the driver writes rows sorted by file, Spark in collect order
        assert(d.collect().toSeq == rows.sortBy(_.getString(0)))
        assert(s.collect().toSeq == rows)
        val (rd, rs) = (SkippingIndex.readIndex(spark, byDriver).get,
          SkippingIndex.readIndex(spark, bySpark).get)
        assert(rd.schema == rs.schema && rd.rows == rs.rows.sortBy(_.getString(0)))
        // the footer carries the index schema itself, nullability included
        val footer = graft.query.MetadataInspector.footer(spark,
          new java.io.File(byDriver).listFiles().map(_.getPath)
            .filter(p => p.endsWith(".parquet") && !new java.io.File(p).getName.startsWith("."))
            .head)
        assert(footer.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata") == stats.schema.json)
    }
  }
}

