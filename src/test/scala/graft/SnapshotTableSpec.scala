package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FilesetLog, SnapshotTable}
import graft.TestSpark.jobsDuring

class SnapshotTableSpec extends AnyFunSuite {
  import SnapshotTableSpec.KeyKind
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"${graft.Scratch.dir}/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  private def mkBase(n: Int) = (0 until n)
    .map(i => (i.toLong, s"val$i", 0L)).toDF("k", "payload", "commit_v")

  test("upsert is copy-on-write: only key-intersecting files rewritten, rest reused") {
    val dir = freshDir("snap-cow")
    // 8 key-clustered files over keys 0..7999 => each file covers ~1000 keys
    val c1 = SnapshotTable.create(spark,
      mkBase(8000).repartitionByRange(8, col("k")), dir)
    assert(c1.version == 1L && c1.files.size == 8)
    // change keys 100..119: one (maybe two) files affected
    val changes = (100 until 120)
      .map(i => (i.toLong, s"upd$i", 1L, false)).toDF("k", "payload", "commit_v", "_deleted")
    val c2 = SnapshotTable.upsert(spark, dir, changes, "k", "commit_v", "payload")
    assert(c2.version == 2L)
    assert(c2.filesReused >= 6,
      s"narrow-band upsert must reuse most files, reused only ${c2.filesReused} of 8")
    assert(c1.files.toSet.intersect(c2.files.toSet).size == c2.filesReused)
    // content: updated band has new payloads, rest untouched
    val got = SnapshotTable.read(spark, dir).orderBy("k")
      .select("k", "payload").as[(Long, String)].collect()
    assert(got.length == 8000)
    assert(got(105) == ((105L, "upd105")))
    assert(got(500) == ((500L, "val500")))
  }

  test("tombstones delete, inserts land, versions chain (upsert over upsert)") {
    val dir = freshDir("snap-chain")
    SnapshotTable.create(spark, mkBase(100).repartitionByRange(4, col("k")), dir)
    val ch1 = Seq((5L, "x", 1L, true), (200L, "new200", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    SnapshotTable.upsert(spark, dir, ch1, "k", "commit_v", "payload")
    // second upsert resurrects key 5 at a higher version — the stored
    // commit_v (keepVersionCol) is what makes this merge correct
    val ch2 = Seq((5L, "back", 2L, false)).toDF("k", "payload", "commit_v", "_deleted")
    SnapshotTable.upsert(spark, dir, ch2, "k", "commit_v", "payload")
    val got = SnapshotTable.read(spark, dir).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(got.size == 101 && got(5L) == "back" && got(200L) == "new200")
    assert(SnapshotTable.versions(spark, dir) == Seq(1L, 2L, 3L))
  }

  test("a pinned snapshot survives compaction; vacuum enforces retention") {
    val dir = freshDir("snap-pin")
    SnapshotTable.create(spark, mkBase(1000).repartition(16), dir)
    val v1Truth = SnapshotTable.read(spark, dir, Some(1L))
      .select("k", "payload").as[(Long, String)].collect().toSet
    val ch = Seq((1L, "upd", 1L, false)).toDF("k", "payload", "commit_v", "_deleted")
    SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    val c3 = SnapshotTable.compact(spark, dir, targetRecords = 600L)
    assert(c3.files.size == 2, s"1000 rows at 600/record-cap => 2 files: ${c3.files.size}")
    // v1 still reads the PRE-upsert truth after two rewrites of the table
    assert(SnapshotTable.read(spark, dir, Some(1L))
      .select("k", "payload").as[(Long, String)].collect().toSet == v1Truth)
    // v2 (pre-compaction) == v3 (post-compaction): layout-invisible
    assert(SnapshotTable.read(spark, dir, Some(2L)).orderBy("k").collect().toSeq ==
      SnapshotTable.read(spark, dir, Some(3L)).orderBy("k").collect().toSeq)
    // vacuum to the latest: old manifests and their unshared files go
    // (graceMs = 0: this test IS the no-writer-in-flight case)
    val deleted = SnapshotTable.vacuum(spark, dir, keepLast = 1, graceMs = 0L)
    assert(deleted.nonEmpty)
    assert(SnapshotTable.versions(spark, dir) == Seq(3L))
    assertThrows[IllegalArgumentException](SnapshotTable.files(spark, dir, Some(1L)))
    assert(SnapshotTable.read(spark, dir).count() == 1000)
  }

  test("a crashed commit (data without manifest) is invisible and vacuumable") {
    val dir = freshDir("snap-crash")
    SnapshotTable.create(spark, mkBase(50), dir)
    // simulate a writer that died after its data write, before its commit
    mkBase(5).write.mode("overwrite").parquet(s"$dir/data/v00099")
    assert(SnapshotTable.versions(spark, dir) == Seq(1L),
      "a data dir without a manifest must not be a version")
    assert(SnapshotTable.read(spark, dir).count() == 50)
    // default grace: the just-written orphans look like an IN-FLIGHT
    // writer's pre-publish data files — vacuum must leave them alone
    val spared = SnapshotTable.vacuum(spark, dir, keepLast = 1)
    assert(!spared.exists(_.contains("v00099")),
      "files younger than the grace period must survive vacuum " +
        "(an optimistic writer writes data BEFORE publishing its manifest)")
    assert(SnapshotTable.read(spark, dir).count() == 50)
    // grace elapsed (simulated with graceMs = 0): now they are orphans
    val deleted = SnapshotTable.vacuum(spark, dir, keepLast = 1, graceMs = 0L)
    assert(deleted.exists(_.contains("v00099")), "orphan files must be vacuumed")
    assert(SnapshotTable.read(spark, dir).count() == 50)
  }

  test("streaming CDC maintainer: micro-batched changes reach the one-shot truth; replay is content-idempotent") {
    val dir = freshDir("snap-stream")
    val chDir = freshDir("snap-stream-changes")
    val ck = freshDir("snap-stream-ck")
    SnapshotTable.create(spark, mkBase(100).repartitionByRange(4, col("k")), dir)
    // three arrival files: update band, tombstones, inserts
    (0 until 20).map(i => (i.toLong, s"u$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("overwrite").parquet(chDir)
    Thread.sleep(1100)
    (40 until 50).map(i => (i.toLong, "", 1L, true))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("append").parquet(chDir)
    Thread.sleep(1100)
    (500 until 510).map(i => (i.toLong, s"n$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("append").parquet(chDir)
    val schema = spark.read.parquet(chDir).schema
    val q = SnapshotTable.maintainStream(spark, chDir, schema, dir,
      "k", "commit_v", "payload", ck)
    q.awaitTermination(180000)
    def content() = SnapshotTable.read(spark, dir).select("k", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = content()
    assert(got.size == 100 - 10 + 10)
    assert(got.contains((5L, "u5")) && got.contains((505L, "n505")))
    assert(!got.exists(_._1 == 45L), "tombstoned keys must be gone")
    // replayed batch (the at-least-once case): content must not change —
    // only a version number is burned
    val vBefore = SnapshotTable.currentVersion(spark, dir).get
    SnapshotTable.upsert(spark, dir,
      (40 until 50).map(i => (i.toLong, "", 1L, true))
        .toDF("k", "payload", "commit_v", "_deleted"),
      "k", "commit_v", "payload")
    assert(content() == got, "re-applied batch must be content-idempotent")
    assert(SnapshotTable.currentVersion(spark, dir).get == vBefore + 1)
  }

  test("maintainStream(statsCols): every committed version carries a live skipping index") {
    val dir = freshDir("snap-stream-stats")
    val chDir = freshDir("snap-stream-stats-ch")
    val ck = freshDir("snap-stream-stats-ck")
    SnapshotTable.create(spark,
      mkBase(8000).repartitionByRange(8, col("k")), dir)
    SnapshotTable.attachStats(spark, dir, Seq("k"))
    // two arrival files, narrow key bands
    (100 until 140).map(i => (i.toLong, s"u$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("overwrite").parquet(chDir)
    Thread.sleep(1100)
    (9000L until 9020L).map(i => (i, s"n$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("append").parquet(chDir)
    val schema = spark.read.parquet(chDir).schema
    val q = SnapshotTable.maintainStream(spark, chDir, schema, dir,
      "k", "commit_v", "payload", ck, statsCols = Seq("k"))
    q.awaitTermination(180000)
    val vs = SnapshotTable.versions(spark, dir)
    assert(vs.length >= 3, s"expected per-file micro-batches: $vs")
    // every post-create version committed by the stream has an index,
    // and the CURRENT one serves pruned scans of the merged truth
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    vs.foreach { v =>
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$dir/stats/" + f"v$v%05d")), s"version $v missing its index")
    }
    val (scan, pr) = SnapshotTable.scanBetween(spark, dir, "k", 100L, 139L)
    assert(pr.exists(p => p.filesKept < p.filesTotal), s"$pr")
    assert(scan.select("payload").collect()
      .forall(_.getString(0).startsWith("u")))
    val (scan2, _) = SnapshotTable.scanBetween(spark, dir, "k", 9000L, 9019L)
    assert(scan2.count() == 20L)
  }

  test("maintainStream(bloomCol): every streamed version keeps a live point index") {
    val dir = freshDir("snap-stream-bloom")
    val chDir = freshDir("snap-stream-bloom-ch")
    val ck = freshDir("snap-stream-bloom-ck")
    SnapshotTable.create(spark,
      mkBase(8000).repartitionByRange(8, col("k")), dir)
    SnapshotTable.attachBloom(spark, dir, "payload", expectedItemsPerFile = 2000L)
    // two arrival files, narrow key bands — each commit rewrites a few
    // files; the in-stream attachBloomIncremental must reuse the rest
    (100 until 140).map(i => (i.toLong, s"u$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("overwrite").parquet(chDir)
    Thread.sleep(1100)
    (9000L until 9020L).map(i => (i, s"n$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("append").parquet(chDir)
    val schema = spark.read.parquet(chDir).schema
    val q = SnapshotTable.maintainStream(spark, chDir, schema, dir,
      "k", "commit_v", "payload", ck,
      bloomCol = Some("payload"), bloomExpectedItemsPerFile = 2000L)
    q.awaitTermination(180000)
    val vs = SnapshotTable.versions(spark, dir)
    assert(vs.length >= 3, s"expected per-file micro-batches: $vs")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    vs.foreach { v =>
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$dir/bloom/" + f"v$v%05d" + "_payload")),
        s"version $v missing its bloom index")
    }
    // a stream-written value serves PRUNED through the maintained index
    val (scan, pr) = SnapshotTable.lookupPoint(spark, dir, "payload", "u105")
    assert(pr.exists(p => p.filesKept < p.filesTotal), s"$pr")
    assert(scan.select("k").collect().map(_.getLong(0)).toSeq == Seq(105L))
    // an untouched value serves through REUSED bitmaps
    val (scan2, pr2) = SnapshotTable.lookupPoint(spark, dir, "payload", "val5000")
    assert(pr2.exists(p => p.filesKept < p.filesTotal), s"$pr2")
    assert(scan2.count() == 1L)
  }

  test("z-order compaction + per-version stats: snapshot scans skip files") {
    val dir = freshDir("snap-zorder")
    val rnd = new scala.util.Random(31)
    // random (x, y) rows: unclustered, so v1 files have wide ranges
    val rows = (0 until 20000).map(i =>
      (i.toLong, rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("k", "x", "y").withColumn("commit_v", lit(0L))
    SnapshotTable.create(spark, rows.repartition(16), dir)
    SnapshotTable.attachStats(spark, dir, Seq("x"), Some(1L))
    val p1 = SnapshotTable.scanBetween(spark, dir, "x", 0L, 63L, Some(1L))._2
    assert(p1.exists(_.filesKept == 16), "random layout cannot skip")
    // z-order compact -> v2: tight per-file boxes in BOTH x and y
    val c2 = SnapshotTable.compact(spark, dir, targetRecords = 1500L,
      zOrderOn = Some(("x", "y", 8)))
    SnapshotTable.attachStats(spark, dir, Seq("x"), Some(c2.version))
    val (zx, p2) = SnapshotTable.scanBetween(spark, dir, "x", 0L, 63L, Some(c2.version))
    assert(p2.exists(p => p.filesKept <= p.filesTotal / 2),
      s"z-ordered layout must skip at least half the files on a 1/16 x band: $p2")
    // and the pruned scan equals the full filter on the SAME snapshot
    val full = SnapshotTable.read(spark, dir, Some(c2.version))
      .filter(col("x").between(0L, 63L))
    assert(zx.exceptAll(full).isEmpty && full.exceptAll(zx).isEmpty)
    // v1's index is a different file set: still consulted independently
    assert(SnapshotTable.scanBetween(spark, dir, "x", 0L, 63L, Some(1L))
      ._2.exists(_.filesTotal == 16))
  }

  test("model check: random upsert/compact sequences match a driver-side model at every version") {
    // seeded random command sequence against an independent driver-side
    // model (key -> payload map with latest-wins semantics): after every
    // commit the CURRENT read matches the model, and at the end every
    // HISTORICAL version still matches the model's history — snapshot
    // isolation as a checked invariant, not a doc claim
    val rnd = new scala.util.Random(41)
    val dir = freshDir("snap-model")
    var model: Map[Long, String] = (0 until 50).map(i => i.toLong -> s"val$i").toMap
    SnapshotTable.create(spark,
      model.toSeq.map { case (k, p) => (k, p, 0L) }.toDF("k", "payload", "commit_v")
        .repartitionByRange(4, col("k")), dir)
    val history = scala.collection.mutable.Map[Long, Map[Long, String]](1L -> model)
    var v = 1L
    for (step <- 1 to 8) {
      if (rnd.nextInt(3) < 2) {
        // upsert: random mix of updates, deletes, inserts at a fresh version
        val chs = (0 until (1 + rnd.nextInt(8))).map { _ =>
          val key = rnd.nextInt(80).toLong
          (key, s"p${step}_$key", step.toLong, rnd.nextInt(4) == 0)
        }.groupBy(_._1).map(_._2.head).toSeq // one change per key per batch
        val c = SnapshotTable.upsert(spark, dir,
          chs.toDF("k", "payload", "commit_v", "_deleted"),
          "k", "commit_v", "payload")
        chs.foreach { case (k, p, _, del) =>
          model = if (del) model - k else model + (k -> p)
        }
        v = c.version
      } else {
        v = SnapshotTable.compact(spark, dir, 20L + rnd.nextInt(50)).version
      }
      history(v) = model
      val got = SnapshotTable.read(spark, dir).select("k", "payload")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == model, s"step $step (version $v) diverged from the model")
    }
    history.foreach { case (ver, snap) =>
      val got = SnapshotTable.read(spark, dir, Some(ver)).select("k", "payload")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == snap, s"historical version $ver no longer matches its model snapshot")
    }
  }

  test("STRING-key upsert prunes via BINARY/UTF8 footer stats and stays correct") {
    val dir = freshDir("snap-strkey")
    // zero-padded string keys: lexicographic order == numeric order, so
    // repartitionByRange gives tight per-file key bands the footer's
    // BINARY stats describe exactly
    val base = (0 until 8000)
      .map(i => (f"K$i%06d", s"val$i", 0L)).toDF("k", "payload", "commit_v")
    val c1 = SnapshotTable.create(spark,
      base.repartitionByRange(8, col("k")), dir)
    assert(c1.files.size == 8)
    val changes = (100 until 120)
      .map(i => (f"K$i%06d", s"upd$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val c2 = SnapshotTable.upsert(spark, dir, changes, "k", "commit_v", "payload")
    assert(c2.filesReused >= 6,
      s"string-key upsert must still FILE-PRUNE, reused only ${c2.filesReused} of 8")
    val got = SnapshotTable.read(spark, dir).select("k", "payload")
      .as[(String, String)].collect().toMap
    assert(got.size == 8000)
    assert(got("K000105") == "upd105" && got("K000500") == "val500")
  }

  test("DATE-key upsert prunes via INT32-days footer stats and stays correct") {
    val dir = freshDir("snap-datekey")
    // unique consecutive dates: range order == day order, tight bands
    val base = spark.range(8000)
      .select(date_add(to_date(lit("1990-01-01")), col("id").cast("int")).as("k"),
        concat(lit("val"), col("id")).as("payload"), lit(0L).as("commit_v"))
    val c1 = SnapshotTable.create(spark,
      base.repartitionByRange(8, col("k")), dir)
    assert(c1.files.size == 8)
    val changes = spark.range(100, 120)
      .select(date_add(to_date(lit("1990-01-01")), col("id").cast("int")).as("k"),
        concat(lit("upd"), col("id")).as("payload"), lit(1L).as("commit_v"),
        lit(false).as("_deleted"))
    val c2 = SnapshotTable.upsert(spark, dir, changes, "k", "commit_v", "payload")
    assert(c2.filesReused >= 6,
      s"date-key upsert must still FILE-PRUNE, reused only ${c2.filesReused} of 8")
    val got = SnapshotTable.read(spark, dir).select("k", "payload")
      .as[(java.sql.Date, String)].collect().toMap
    assert(got.size == 8000)
    assert(got(java.sql.Date.valueOf("1990-04-16")) == "upd105" &&
      got(java.sql.Date.valueOf("1991-05-16")) == "val500")
  }

  test("TIMESTAMP-key upsert prunes under MICROS output; INT96 degrades, never wrong") {
    def base = spark.range(8000)
      .select(timestamp_seconds(lit(1600000000L) + col("id") * 60L).as("k"),
        concat(lit("val"), col("id")).as("payload"), lit(0L).as("commit_v"))
    def changes = spark.range(100, 120)
      .select(timestamp_seconds(lit(1600000000L) + col("id") * 60L).as("k"),
        concat(lit("upd"), col("id")).as("payload"), lit(1L).as("commit_v"),
        lit(false).as("_deleted"))
    def verify(dir: String): Unit = {
      val got = SnapshotTable.read(spark, dir).select("k", "payload")
        .as[(java.sql.Timestamp, String)].collect().toMap
      assert(got.size == 8000)
      assert(got(new java.sql.Timestamp((1600000000L + 105 * 60) * 1000L)) == "upd105")
      assert(got(new java.sql.Timestamp((1600000000L + 500 * 60) * 1000L)) == "val500")
    }
    // MICROS output: INT64 footer stats carry the timestamp annotation
    // and the prune path engages
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    val dirM = freshDir("snap-tskey-micros")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      SnapshotTable.create(spark, base.repartitionByRange(8, col("k")), dirM)
      val c2 = SnapshotTable.upsert(spark, dirM, changes, "k", "commit_v", "payload")
      assert(c2.filesReused >= 6,
        s"timestamp-key upsert under MICROS output must FILE-PRUNE, " +
          s"reused only ${c2.filesReused} of 8")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    verify(dirM)
    // legacy INT96 output (the session default): no usable ordered
    // stats — pruning degrades to all-files-affected, result identical
    val dirI = freshDir("snap-tskey-int96")
    SnapshotTable.create(spark, base.repartitionByRange(8, col("k")), dirI)
    val cI = SnapshotTable.upsert(spark, dirI, changes, "k", "commit_v", "payload")
    assert(cI.filesReused == 0,
      "INT96 timestamps have no stats surface => every file is affected")
    verify(dirI)
  }

  test("an unsupported key type degrades to all-files-affected, never wrong") {
    val dir = freshDir("snap-dblkey")
    // DOUBLE keys have no stats surface here: pruning must silently give
    // up (filesReused == 0) while the merge stays exact
    val base = (0 until 400)
      .map(i => (i.toDouble, s"val$i", 0L)).toDF("k", "payload", "commit_v")
    SnapshotTable.create(spark, base.repartitionByRange(4, col("k")), dir)
    val changes = Seq((7.0, "upd7", 1L, false), (398.0, "upd398", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val c2 = SnapshotTable.upsert(spark, dir, changes, "k", "commit_v", "payload")
    assert(c2.filesReused == 0, "no stats surface => every file is affected")
    val got = SnapshotTable.read(spark, dir).select("k", "payload")
      .as[(Double, String)].collect().toMap
    assert(got.size == 400 && got(7.0) == "upd7" && got(398.0) == "upd398" &&
      got(100.0) == "val100")
  }

  test("optimistic concurrency: racing upserts on disjoint keys both commit, result == sequential") {
    val dir = freshDir("snap-race")
    SnapshotTable.create(spark,
      mkBase(2000).repartitionByRange(4, col("k")), dir)
    val chA = (0 until 50)
      .map(i => (i.toLong, s"A$i", 1L, false)).toDF("k", "payload", "commit_v", "_deleted")
    val chB = (1900 until 1950)
      .map(i => (i.toLong, s"B$i", 1L, false)).toDF("k", "payload", "commit_v", "_deleted")
    // genuinely concurrent writers: both read v1, race for v2 — the hard
    // -link publish lets exactly one win; the loser must CommitConflict
    // internally, rebase onto v2 and commit v3
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def racer(ch: org.apache.spark.sql.DataFrame) = pool.submit(
      new java.util.concurrent.Callable[SnapshotTable.Commit] {
        def call(): SnapshotTable.Commit = {
          gate.await(30, TimeUnit.SECONDS)
          SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
        }
      })
    val (fa, fb) = (racer(chA), racer(chB))
    gate.countDown()
    val (ca, cb) = (fa.get(120, TimeUnit.SECONDS), fb.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(Set(ca.version, cb.version) == Set(2L, 3L),
      s"both racers must commit distinct versions, got ${ca.version}/${cb.version}")
    val got = SnapshotTable.read(spark, dir).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(got.size == 2000)
    (0 until 50).foreach(i => assert(got(i.toLong) == s"A$i"))
    (1900 until 1950).foreach(i => assert(got(i.toLong) == s"B$i"))
    assert(got(1000L) == "val1000")
    // every committed version stays readable (no clobbered manifests)
    assert(SnapshotTable.read(spark, dir, Some(2L)).count() == 2000)
  }

  test("optimistic concurrency: a racing delete and upsert on disjoint keys both commit") {
    val dir = freshDir("snap-race-del")
    SnapshotTable.create(spark,
      mkBase(2000).repartitionByRange(4, col("k")), dir)
    val ch = (1900 until 1950)
      .map(i => (i.toLong, s"B$i", 1L, false)).toDF("k", "payload", "commit_v", "_deleted")
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val fDel = pool.submit(new java.util.concurrent.Callable[SnapshotTable.Commit] {
      def call(): SnapshotTable.Commit = {
        gate.await(30, TimeUnit.SECONDS)
        SnapshotTable.delete(spark, dir, col("k") < 50L)._1
      }
    })
    val fUp = pool.submit(new java.util.concurrent.Callable[SnapshotTable.Commit] {
      def call(): SnapshotTable.Commit = {
        gate.await(30, TimeUnit.SECONDS)
        SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
      }
    })
    gate.countDown()
    val (cd, cu) = (fDel.get(120, TimeUnit.SECONDS), fUp.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(Set(cd.version, cu.version) == Set(2L, 3L),
      s"racers must serialize into v2/v3, got ${cd.version}/${cu.version}")
    // whoever lost rebased: the final content carries BOTH effects
    val got = SnapshotTable.read(spark, dir).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(got.size == 2000 - 50)
    assert(!got.contains(10L))
    (1900 until 1950).foreach(i => assert(got(i.toLong) == s"B$i"))
    assert(got(1000L) == "val1000")
  }

  test("ADD COLUMN evolution: v2 NULL-backfills, pinned v1 keeps the OLD schema, pruning survives") {
    val dir = freshDir("snap-evolve")
    SnapshotTable.create(spark, mkBase(8000).repartitionByRange(8, col("k")), dir)
    // change set carries `tag`, a column the table lacks — narrow key band
    val changes = (100 until 120)
      .map(i => (i.toLong, s"upd$i", s"t$i", 1L, false))
      .toDF("k", "payload", "tag", "commit_v", "_deleted")
    val c2 = SnapshotTable.upsert(spark, dir, changes, "k", "commit_v", "payload")
    // evolution must not cost file pruning: only the intersecting band
    // rewrites, the rest is REUSED (and therefore never rewritten to
    // carry the new column physically)
    assert(c2.filesReused >= 6,
      s"evolving upsert must still FILE-PRUNE, reused only ${c2.filesReused} of 8")
    // v2: evolved committed schema; changed rows carry tag, every base
    // row — merged (k=500, same file as the band) or lazily backfilled
    // from a REUSED file (k=5000) — serves NULL
    val v2 = SnapshotTable.read(spark, dir)
    assert(v2.columns.contains("tag"), s"v2 schema must carry tag: ${v2.columns.toSeq}")
    val got = v2.select("k", "payload", "tag").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(got.size == 8000)
    assert(got(105L) == (("upd105", Some("t105"))))
    assert(got(500L) == (("val500", None)), "merged base row must serve NULL tag")
    assert(got(5000L) == (("val5000", None)), "reused-file row must NULL-backfill tag")
    // the PINNED v1 read keeps its own committed schema — no tag column
    assert(!SnapshotTable.read(spark, dir, Some(1L)).columns.contains("tag"),
      "pinned v1 must keep the pre-evolution schema")
    assert(SnapshotTable.schemaOf(spark, dir, Some(1L)) !=
      SnapshotTable.schemaOf(spark, dir, Some(2L)))
    // a later upsert on the evolved table (change set carries tag) merges
    // against the evolved schema; v1 STILL reads the old schema after it
    val ch3 = Seq((5000L, "again", "t5000", 2L, false))
      .toDF("k", "payload", "tag", "commit_v", "_deleted")
    SnapshotTable.upsert(spark, dir, ch3, "k", "commit_v", "payload")
    val v3 = SnapshotTable.read(spark, dir).select("k", "payload", "tag")
      .filter(col("k").isin(105L, 5000L)).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(v3(5000L) == (("again", Some("t5000"))) && v3(105L) == (("upd105", Some("t105"))))
    assert(!SnapshotTable.read(spark, dir, Some(1L)).columns.contains("tag"))
  }

  test("evolution rejects type changes loudly; change sets missing an existing column fail") {
    val dir = freshDir("snap-evolve-reject")
    SnapshotTable.create(spark, mkBase(100).repartitionByRange(4, col("k")), dir)
    // payload exists as STRING: an INT change column must throw the
    // documented IllegalArgumentException, not silently coerce
    val typeChange = Seq((5L, 99, 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val e = intercept[IllegalArgumentException](
      SnapshotTable.upsert(spark, dir, typeChange, "k", "commit_v", "payload"))
    assert(e.getMessage.contains("type changes rejected") &&
      e.getMessage.contains("payload"))
    // a change set MISSING an existing table column (payload) must fail
    // the merge's column resolution, never silently NULL existing data
    val missing = Seq((5L, 1L, false)).toDF("k", "commit_v", "_deleted")
    assertThrows[org.apache.spark.sql.AnalysisException](
      SnapshotTable.upsert(spark, dir, missing, "k", "commit_v", "payload"))
    // both rejected upserts left the table untouched at v1
    assert(SnapshotTable.versions(spark, dir) == Seq(1L))
    assert(SnapshotTable.read(spark, dir).count() == 100)
  }

  test("insert-only upsert (no file intersects) merges over the empty base") {
    val dir = freshDir("snap-insert")
    SnapshotTable.create(spark, mkBase(100).repartitionByRange(4, col("k")), dir)
    val ch = Seq((5000L, "n1", 1L, false), (5001L, "n2", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val c2 = SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    assert(c2.filesReused == 4, "no existing file covers the new keys — all reused")
    assert(SnapshotTable.read(spark, dir).count() == 102)
  }

  test("keysetWalk pages a pinned TIMESTAMP-keyed snapshot in file-bounded steps") {
    val dir = freshDir("snap-keyset-micros")
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val base = spark.range(4000)
        .select(timestamp_seconds(lit(1600000000L) + col("id") * 60L).as("ts"),
          col("id").as("payload"), lit(0L).as("commit_v"))
      SnapshotTable.create(spark,
        base.repartitionByRange(8, col("ts")), dir)
      // v2 rewrites a band — the v1-pinned walk must not see it
      val ch = spark.range(100, 110)
        .select(timestamp_seconds(lit(1600000000L) + col("id") * 60L).as("ts"),
          (col("id") + 100000L).as("payload"), lit(1L).as("commit_v"),
          lit(false).as("_deleted"))
      SnapshotTable.upsert(spark, dir, ch, "ts", "commit_v", "payload")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val walk = SnapshotTable.keysetWalk(spark, dir, "ts", version = Some(1L))
    var after: Option[Any] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 3).foreach { _ =>
      val (df, prune) = walk.page(after, 50, ascending = true)
      // 8 clustered files, 50-row pages: each page provably needs few files
      assert(prune.filesKept <= 2,
        s"file-bounded page read ${prune.filesKept} of ${prune.filesTotal}")
      val rows = df.select("ts", "payload").collect()
      assert(rows.length == 50)
      seen ++= rows.map(_.getLong(1))
      after = Some(rows.last.get(0))
    }
    // the v1-pinned walk serves ORIGINAL payloads straight through the
    // band v2 rewrote (rows 100..109)
    assert(seen.toSeq == (0L until 150L).toSeq)
  }

  test("predicate delete is copy-on-write: only files with matching rows rewritten; NULL cond keeps") {
    val dir = freshDir("snap-del")
    // key-clustered: the delete band 100..119 lives in one file of 8
    SnapshotTable.create(spark,
      mkBase(8000).repartitionByRange(8, col("k")), dir)
    val (c2, n) = SnapshotTable.delete(spark, dir,
      col("k") >= 100L && col("k") < 120L)
    assert(c2.version == 2L && n == 20L)
    assert(c2.filesReused >= 6,
      s"narrow delete must reuse most files, reused only ${c2.filesReused} of 8")
    val got = SnapshotTable.read(spark, dir).select("k").as[Long].collect().toSet
    assert(got.size == 7980 && !got.contains(105L) && got.contains(99L) && got.contains(120L))
    // SQL DELETE semantics: NULL predicate keeps the row
    val dir2 = freshDir("snap-del-null")
    SnapshotTable.create(spark,
      Seq((1L, "a", 0L), (2L, null.asInstanceOf[String], 0L))
        .toDF("k", "payload", "commit_v"), dir2)
    val (_, n2) = SnapshotTable.delete(spark, dir2, length(col("payload")) > 0)
    assert(n2 == 1L)
    assert(SnapshotTable.read(spark, dir2).count() == 1L) // NULL-cond row kept
    // a predicate matching nothing commits NO new version
    val before = SnapshotTable.versions(spark, dir)
    val (c3, n3) = SnapshotTable.delete(spark, dir, col("k") < 0L)
    assert(n3 == 0L && c3.version == c2.version)
    assert(SnapshotTable.versions(spark, dir) == before)
  }

  test("delete shows up in changes() as exactly the deleted pre-images") {
    val dir = freshDir("snap-del-cdc")
    SnapshotTable.create(spark,
      mkBase(2000).repartitionByRange(4, col("k")), dir)
    SnapshotTable.delete(spark, dir, col("k") >= 10L && col("k") < 15L)
    val ch = SnapshotTable.changes(spark, dir, "k", 1L, 2L,
      ignoreCols = Seq("commit_v"))
      .select("_change_type", "k").as[(String, Long)].collect().sorted
    // only the 5 deleted rows — the carried-over survivors of the
    // rewritten file are content-equal and silent
    assert(ch.toSeq == (10L until 15L).map(k => ("delete", k)))
  }

  test("delete after ADD COLUMN: NULL-backfilled old rows are kept by an evolved-column predicate") {
    val dir = freshDir("snap-del-evolve")
    SnapshotTable.create(spark,
      mkBase(2000).repartitionByRange(4, col("k")), dir)
    // evolve: flag only a narrow band; the untouched files' rows serve
    // NULL for `flag`
    val ch = (100 until 120).map(i => (i.toLong, s"u$i", 1L, false, "doomed"))
      .toDF("k", "payload", "commit_v", "_deleted", "flag")
    SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    // DELETE WHERE flag = 'doomed': NULL flags (1980 backfilled rows)
    // must be KEPT — SQL equality with NULL is never TRUE
    val (c3, n) = SnapshotTable.delete(spark, dir, col("flag") === "doomed")
    assert(n == 20L, s"deleted $n")
    val got = SnapshotTable.read(spark, dir, Some(c3.version))
    assert(got.count() == 1980L)
    assert(got.filter(col("k").between(100L, 119L)).count() == 0L)
    // the evolved schema survives the delete commit
    assert(got.columns.contains("flag"))
  }

  test("writes continue normally after a restore (the undo is ordinary history)") {
    val dir = freshDir("snap-restore-write")
    SnapshotTable.create(spark,
      mkBase(500).repartitionByRange(4, col("k")), dir) // v1
    SnapshotTable.delete(spark, dir, col("k") < 100L)   // v2
    SnapshotTable.restore(spark, dir, 1L)               // v3 == v1
    val ch = Seq((5L, "after", 2L, false), (900L, "new", 2L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val c4 = SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    assert(c4.version == 4L && c4.filesReused >= 2,
      s"post-restore upsert must still file-prune: $c4")
    val got = SnapshotTable.read(spark, dir).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(got.size == 501 && got(5L) == "after" && got(900L) == "new" &&
      got(50L) == "val50") // the restored band is present and writable-over
  }

  test("restore: manifest-only undo; history preserved; vacuum keeps restored files") {
    val dir = freshDir("snap-restore")
    SnapshotTable.create(spark,
      mkBase(1000).repartitionByRange(4, col("k")), dir) // v1
    val ch = Seq((5L, "upd5", 1L, false), (2000L, "new", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload") // v2
    SnapshotTable.delete(spark, dir, col("k") < 100L) // v3
    val c4 = SnapshotTable.restore(spark, dir, 1L) // v4 == v1 content
    assert(c4.version == 4L && c4.filesReused == c4.files.length)
    val v1 = SnapshotTable.read(spark, dir, Some(1L))
      .select("k", "payload").as[(Long, String)].collect().toSet
    val now = SnapshotTable.read(spark, dir)
      .select("k", "payload").as[(Long, String)].collect().toSet
    assert(now == v1)
    // intermediate history still pinned-readable
    assert(SnapshotTable.read(spark, dir, Some(3L)).count() == 901L)
    // CDC across the restore is the net UNDO of v1->v3
    val undo = SnapshotTable.changes(spark, dir, "k", 3L, 4L,
      ignoreCols = Seq("commit_v"))
      .groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    // keys 0..99 come back (incl. key 5, gone at v3, val5 again at v4);
    // key 2000 goes away; keys 100..999 are content-equal and silent
    assert(undo == Map("insert" -> 100L, "delete" -> 1L))
    // vacuum to the restore manifest only: v1's files stay (referenced
    // by v4), v2/v3-only files go, the table still reads
    val gone = SnapshotTable.vacuum(spark, dir, keepLast = 1, graceMs = 0L)
    assert(gone.nonEmpty)
    assert(SnapshotTable.read(spark, dir)
      .select("k", "payload").as[(Long, String)].collect().toSet == v1)
    // restoring to a vacuumed version fails loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, dir, 3L)
    }
  }

  test("compact(sortOn) re-establishes key clustering; plain compact does not promise it") {
    val dir = freshDir("snap-sortcompact")
    // 64 tiny UNCLUSTERED fragments
    SnapshotTable.create(spark, mkBase(8000).repartition(64), dir)
    SnapshotTable.compact(spark, dir, targetRecords = 1000L, sortOn = Some("k"))
    SnapshotTable.attachStats(spark, dir, Seq("k"))
    val (scan, pr) = SnapshotTable.scanBetween(spark, dir, "k", 2000L, 2499L)
    assert(pr.exists(p => p.filesKept < p.filesTotal && p.filesTotal >= 8),
      s"sortOn compaction must make range scans skip: $pr")
    assert(scan.count() == 500L)
    // content invariant vs the pre-compaction truth
    assert(SnapshotTable.read(spark, dir).count() == 8000L)
    assert(SnapshotTable.read(spark, dir).select("k").distinct().count() == 8000L)
    intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, dir, 1000L,
        zOrderOn = Some(("k", "commit_v", 8)), sortOn = Some("k"))
    }
  }
  test("carried manifest stats: a second upsert footer-scans only the first's new files") {
    val dir = freshDir("snap-carried-stats")
    val c1 = SnapshotTable.create(spark,
      mkBase(8000).repartitionByRange(8, col("k")), dir)
    val ch1 = (100 until 120).map(i => (i.toLong, s"u$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val s0 = SnapshotTable.pruneStatsScanned.get()
    val c2 = SnapshotTable.upsert(spark, dir, ch1, "k", "commit_v", "payload")
    val scanned1 = SnapshotTable.pruneStatsScanned.get() - s0
    // the FIRST upsert has no carried stats: it scans every live file
    assert(scanned1 == c1.files.length.toLong,
      s"first upsert scanned $scanned1 of ${c1.files.length}")
    // the SECOND upsert reuses the carried entries and scans only the
    // previous commit's new files — O(batch), not O(table)
    val newAtV2 = (c2.files.length - c2.filesReused).toLong
    val ch2 = (4000 until 4020).map(i => (i.toLong, s"w$i", 2L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val s1 = SnapshotTable.pruneStatsScanned.get()
    val c3 = SnapshotTable.upsert(spark, dir, ch2, "k", "commit_v", "payload")
    val scanned2 = SnapshotTable.pruneStatsScanned.get() - s1
    assert(scanned2 == newAtV2,
      s"second upsert scanned $scanned2 files, expected only the " +
        s"$newAtV2 new files of v2 (carried stats must cover the rest)")
    // pruning still engages off the carried entries (narrow band => most
    // files reused), and the content is the sequential truth
    assert(c3.filesReused >= 6, s"carried-stats prune must reuse files: $c3")
    val got = SnapshotTable.read(spark, dir).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(got.size == 8000 && got(105L) == "u105" && got(4010L) == "w4010" &&
      got(500L) == "val500")
  }

  test("carried manifest stats survive STRING keys with ,;:% and non-ASCII (header encoding)") {
    val dir = freshDir("snap-carried-str")
    // keys deliberately contain every character the header format uses
    // as a delimiter, plus a non-ASCII one — a mis-encoded entry would
    // misalign the header and silently disable (or corrupt) pruning
    def key(i: Int) = f"k,;:%%?$i%05d"
    val base = (0 until 4000).map(i => (key(i), s"val$i", 0L))
      .toDF("okey", "payload", "commit_v")
    val c1 = SnapshotTable.create(spark,
      base.repartitionByRange(8, col("okey")), dir)
    val ch1 = (100 until 120).map(i => (key(i), s"u$i", 1L, false))
      .toDF("okey", "payload", "commit_v", "_deleted")
    val c2 = SnapshotTable.upsert(spark, dir, ch1, "okey", "commit_v", "payload")
    val newAtV2 = (c2.files.length - c2.filesReused).toLong
    val ch2 = (3000 until 3020).map(i => (key(i), s"w$i", 2L, false))
      .toDF("okey", "payload", "commit_v", "_deleted")
    val s1 = SnapshotTable.pruneStatsScanned.get()
    val c3 = SnapshotTable.upsert(spark, dir, ch2, "okey", "commit_v", "payload")
    val scanned2 = SnapshotTable.pruneStatsScanned.get() - s1
    assert(scanned2 == newAtV2,
      s"string-key second upsert scanned $scanned2, expected $newAtV2 — " +
        "carried string stats must round-trip through the header encoding")
    assert(c3.filesReused >= 6, s"string carried-stats prune: $c3")
    val got = SnapshotTable.read(spark, dir).select("okey", "payload")
      .as[(String, String)].collect().toMap
    assert(got.size == 4000 && got(key(105)) == "u105" &&
      got(key(3010)) == "w3010" && got(key(500)) == "val500")
  }

  test("attachStats served from carried manifest stats is row-identical to a footer build") {
    val dir = freshDir("snap-stats-via-manifest")
    SnapshotTable.create(spark,
      mkBase(6000).repartitionByRange(6, col("k")), dir)
    val ch = (100 until 110).map(i => (i.toLong, s"u$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    // the upsert scans every v1 file for its prune and carries the
    // entries into v2's manifest
    SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    SnapshotTable.attachStats(spark, dir, Seq("k"))
    val idx = spark.read.parquet(s"$dir/stats/v00002")
    val full = graft.operators.SkippingIndex.statsRows(
      spark, SnapshotTable.files(spark, dir, Some(2L)), Seq("k"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("file").collect().map(_.toSeq).toSeq
    assert(canon(idx) == canon(full),
      "manifest-served index must equal the from-scratch footer build")
    // and it serves pruned scans exactly like the footer-built index
    val (scan, pr) = SnapshotTable.scanBetween(spark, dir, "k", 100L, 200L)
    assert(pr.exists(p => p.filesKept < p.filesTotal))
    assert(scan.count() == 101L)
  }

  test("upsert reads its manifest ONCE per attempt (memoized lines)") {
    val dir = freshDir("snap-manifest-reads")
    SnapshotTable.create(spark,
      mkBase(1000).repartitionByRange(4, col("k")), dir)
    FilesetLog.clearManifestCache()
    val ch = Seq((5L, "x", 1L, false)).toDF("k", "payload", "commit_v", "_deleted")
    val r0 = FilesetLog.manifestReads.get()
    SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    val reads = FilesetLog.manifestReads.get() - r0
    // one read of v1's manifest (files + schema + dropped + stats all
    // come from the memoized lines) — the commit itself reads nothing
    assert(reads <= 1L,
      s"upsert performed $reads full manifest reads; the memo allows 1")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("pruned scanBetween after dropColumn serves the committed columns, not the files'") {
    val dir = freshDir("snap-scan-drop")
    SnapshotTable.create(spark, mkBase(4000).repartitionByRange(4, col("k")), dir)
    val c = SnapshotTable.dropColumn(spark, dir, "payload")
    SnapshotTable.attachStats(spark, dir, Seq("k"))
    val (scan, pr) = SnapshotTable.scanBetween(spark, dir, "k", 100L, 199L)
    assert(pr.exists(p => p.filesKept < p.filesTotal), s"must prune: $pr")
    val want = SnapshotTable.read(spark, dir, Some(c.version))
      .filter(col("k").between(100L, 199L))
    assert(scan.columns.toSeq == want.columns.toSeq,
      s"dropped column resurfaced: ${scan.columns.mkString(",")}")
    assert(rowsOf(scan) == rowsOf(want) && rowsOf(scan).length == 100)
  }

  test("pruned scanBetween over files older than an ADD COLUMN serves the new column as NULL") {
    val dir = freshDir("snap-scan-add")
    SnapshotTable.create(spark, mkBase(8000).repartitionByRange(8, col("k")), dir)
    // the upsert adds `extra` and rewrites only the file holding 100..119
    val ch = (100 until 120).map(i => (i.toLong, s"u$i", 1L, s"x$i", false))
      .toDF("k", "payload", "commit_v", "extra", "_deleted")
    val c = SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    SnapshotTable.attachStatsIncremental(spark, dir, Seq("k"))
    // every file kept for 5000..5999 predates the column
    val (scan, pr) = SnapshotTable.scanBetween(spark, dir, "k", 5000L, 5999L)
    assert(pr.exists(p => p.filesKept < p.filesTotal &&
      p.kept.forall(_.contains("/data/v00001_"))),
      s"kept files must all predate the column: $pr")
    val want = SnapshotTable.read(spark, dir, Some(c.version))
      .filter(col("k").between(5000L, 5999L))
    assert(scan.columns.toSeq == want.columns.toSeq && scan.columns.contains("extra"),
      s"added column lost: ${scan.columns.mkString(",")}")
    assert(rowsOf(scan) == rowsOf(want) && rowsOf(scan).length == 1000)
  }

  test("driver-side index: build, refresh and planning run no job, the scan one") {
    val dir = freshDir("snap-jobs")
    SnapshotTable.create(spark, mkBase(8000).repartitionByRange(8, col("k")), dir)
    // 8 files, under the listing threshold: footers fold on the driver
    // and the index is written from it
    val (_, buildJobs) = jobsDuring(SnapshotTable.attachStats(spark, dir, Seq("k")))
    assert(buildJobs == 0, s"index build launched $buildJobs jobs")
    // a one-file upsert, then the incremental refresh of its index
    val ch = (100 until 110).map(i => (i.toLong, s"u$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val c = SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    val ((reused, scanned), refreshJobs) =
      jobsDuring(SnapshotTable.attachStatsIncremental(spark, dir, Seq("k")))
    assert(scanned == (c.files.length - c.filesReused).toLong &&
      reused == c.filesReused.toLong && reused >= 6L, s"narrow upsert expected: $c")
    assert(refreshJobs == 0, s"index refresh launched $refreshJobs jobs")
    val statsPath = f"$dir/stats/v${c.version}%05d"
    val (p, pruneJobs) = jobsDuring(
      graft.operators.SkippingIndex.prune(spark, statsPath, "k", 3000L, 3099L))
    assert(pruneJobs == 0, s"prune launched $pruneJobs jobs")
    assert(p.filesTotal == c.files.length && p.filesKept <= 2, s"$p")
    val ((scan, pr), planJobs) = jobsDuring(
      SnapshotTable.scanBetween(spark, dir, "k", 3000L, 3099L))
    assert(planJobs == 0, s"building the scan plan launched $planJobs jobs")
    assert(pr.contains(p))
    val (rows, collectJobs) = jobsDuring(scan.collect())
    assert(collectJobs == 1, s"collecting the scan launched $collectJobs jobs")
    assert(rows.length == 100)
  }

  test("index rewrites leave one part file; readers ignore a stale temp and see the old, no or the new index") {
    val dir = freshDir("snap-index-race")
    SnapshotTable.create(spark, mkBase(4000).repartitionByRange(6, col("k")), dir)
    SnapshotTable.attachStats(spark, dir, Seq("k"))
    val stats = new java.io.File(s"$dir/stats/v00001")
    def parts = stats.listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
    val index = graft.operators.SkippingIndex.readIndex(spark, stats.getPath).get
    assert(index.rows.length == 6 && parts.length == 1)
    // a writer that crashed mid-write leaves its dot-prefixed temp file
    java.nio.file.Files.write(new java.io.File(stats,
        ".part-00000-crashed.snappy.parquet.tmp").toPath, "PAR1 torn".getBytes)
    java.nio.file.Files.write(new java.io.File(stats,
        ".part-00001-crashed.snappy.parquet").toPath, "PAR1 torn".getBytes)
    assert(graft.operators.SkippingIndex.readIndex(spark, stats.getPath).contains(index))
    assert(spark.read.parquet(stats.getPath).count() == 6L)
    // the states a rewrite passes through, one at a time: the new file
    // written under its temp name (readers see the old index), the old
    // part deleted (no index), the temp renamed into place (the new one)
    val old = new java.io.File(stats, parts.head)
    val tmp = new java.io.File(stats, s".${old.getName}.tmp")
    java.nio.file.Files.copy(old.toPath, tmp.toPath)
    assert(graft.operators.SkippingIndex.readIndex(spark, stats.getPath).contains(index))
    assert(old.delete())
    assert(graft.operators.SkippingIndex.readIndex(spark, stats.getPath).isEmpty)
    assert(tmp.renameTo(new java.io.File(stats, "part-00000-renamed.snappy.parquet")))
    assert(graft.operators.SkippingIndex.readIndex(spark, stats.getPath).contains(index))
    // a part listed, then deleted by a rewrite before it is opened: the
    // read starts over from the new listing; a part missing from an
    // unchanged listing is an error
    val conf = spark.sessionState.newHadoopConf()
    val vanished = new org.apache.hadoop.fs.Path(old.getPath)
    def current = parts.toSeq.map(n => new org.apache.hadoop.fs.Path(new java.io.File(stats, n).getPath))
    val listings = Iterator(Seq(vanished)) ++ Iterator.continually(current)
    assert(graft.operators.SkippingIndex.readIndexListed(conf, stats.getPath,
      () => listings.next()).contains(index))
    intercept[java.io.IOException](graft.operators.SkippingIndex.readIndexListed(
      conf, stats.getPath, () => Seq(vanished)))
    // rewrites of the same version's index replace its one part file
    (1 to 3).foreach(_ => SnapshotTable.attachStats(spark, dir, Seq("k")))
    assert(parts.length == 1, s"rewrites must leave one part file: ${parts.toSeq}")
    assert(graft.operators.SkippingIndex.readIndex(spark, stats.getPath).contains(index))
  }

  /** Every page of an ascending or descending keyset walk of version `v`
    * over `key` (`size` rows each, each cursor the previous page's last
    * `Row.get(key)`) equals the offset slice of the sorted version, and
    * keeps fewer files than the version has. */
  private def assertWalkPages(dir: String, key: String, v: Long, size: Int,
      ascending: Boolean): Unit = {
    val sorted = SnapshotTable.read(spark, dir, Some(v))
      .orderBy(if (ascending) col(key).asc else col(key).desc)
      .select(key).collect().map(_.get(0)).toSeq
    val walk = SnapshotTable.keysetWalk(spark, dir, key, Some(v))
    var after: Option[Any] = None
    sorted.grouped(size).zipWithIndex.foreach { case (want, p) =>
      val (df, pr) = walk.page(after, size, ascending)
      val got = df.select(key).collect().map(_.get(0)).toSeq
      assert(got == want, s"$key ${if (ascending) "asc" else "desc"} page $p diverged")
      assert(pr.filesKept < pr.filesTotal, s"page $p must be file-bounded: $pr")
      after = Some(got.last)
    }
  }

  test("a STRING key's index is maintained incrementally and by maintainStream(statsCols)") {
    import graft.operators.SkippingIndex
    val dir = freshDir("snap-str-index")
    val chDir = freshDir("snap-str-index-ch")
    val ck = freshDir("snap-str-index-ck")
    def key(i: Int) = f"K$i%06d"
    SnapshotTable.create(spark, (0 until 8000).map(i => (key(i), s"val$i", 0L))
      .toDF("k", "payload", "commit_v").repartitionByRange(8, col("k")), dir)
    SnapshotTable.attachStats(spark, dir, Seq("k"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def assertIndexIsFullBuild(v: Long): Unit = {
      val index = spark.read.parquet(f"$dir/stats/v$v%05d")
      assert(index.schema("k_min").dataType == org.apache.spark.sql.types.StringType)
      assert(canon(index) == canon(SkippingIndex.statsRows(spark,
        SnapshotTable.files(spark, dir, Some(v)), Seq("k"))),
        s"v$v's string index must be row-identical to a full build")
    }
    // a narrow upsert, then the incremental refresh reuses the prior rows
    val ch = (100 until 140).map(i => (key(i), s"u$i", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    val c2 = SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    val (reused, scanned) = SnapshotTable.attachStatsIncremental(spark, dir, Seq("k"))
    assert(reused == c2.filesReused.toLong && reused >= 6L, s"reused=$reused of $c2")
    assert(scanned == (c2.files.length - c2.filesReused).toLong)
    assertIndexIsFullBuild(c2.version)
    // two streamed batches (an update band, then inserts past every
    // band), each committed with its index refreshed
    (2000 until 2020).map(i => (key(i), s"w$i", 2L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("overwrite").parquet(chDir)
    Thread.sleep(1100)
    (9000 until 9020).map(i => (key(i), s"n$i", 2L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
      .coalesce(1).write.mode("append").parquet(chDir)
    val q = SnapshotTable.maintainStream(spark, chDir, spark.read.parquet(chDir).schema,
      dir, "k", "commit_v", "payload", ck, statsCols = Seq("k"))
    q.awaitTermination(180000)
    val v = SnapshotTable.currentVersion(spark, dir).get
    assert(v == c2.version + 2, s"expected one commit per batch, at v$v")
    (c2.version + 1 to v).foreach(assertIndexIsFullBuild)
    assert(SnapshotTable.read(spark, dir).count() == 8020L)
    assertWalkPages(dir, "k", v, 1000, ascending = true)
  }

  /** Writes `dir`'s version 2 as version 1's files under a `#stats:`
    * header in the exact text earlier versions wrote: kind `long` for
    * integral keys and DATE day numbers, `string` (URL-encoded values) and
    * `micros` (epoch micros) — one `min,max,nulls,nrows` entry per file,
    * computed here from the data. */
  private def writeStatsManifest(dir: String, kind: String,
      bound: org.apache.spark.sql.Column): Unit = {
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/manifest/v00001.manifest")), "UTF-8")
      .split("\n").toSeq
    val files = lines.filterNot(_.startsWith("#"))
    val entries = files.map { f =>
      val r = spark.read.parquet(f).agg(min(bound), max(bound),
        count(when(col("k").isNull, 1)), count(lit(1))).head()
      def enc(v: Any) =
        if (kind == "string") java.net.URLEncoder.encode(v.toString, "UTF-8") else v.toString
      Seq(enc(r.get(0)), enc(r.get(1)), r.get(2), r.get(3)).mkString(",")
    }
    val stamp = lines.head.stripPrefix("#committed:").toLong + 1
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/manifest/v00002.manifest"),
      ((s"#committed:$stamp" +: lines.tail.filter(_.startsWith("#"))) ++
        Seq(s"#stats:$kind:k:" + entries.mkString(";")) ++ files)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  test("#stats: manifest headers in the existing long, string and micros text carry into the next upsert") {
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    val day0 = to_date(lit("1990-01-01"))
    // (kind, key of row i, the header's value of a key)
    val keys = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        org.apache.spark.sql.Column)](
      ("long", i => i, col("k")),
      ("long", i => date_add(day0, i.cast("int")), unix_date(col("k"))),
      ("string", i => format_string("K%06d", i), col("k")),
      ("micros", i => timestamp_seconds(lit(1600000000L) + i * 60L), unix_micros(col("k"))))
    keys.zipWithIndex.foreach { case ((kind, key, bound), n) =>
      val dir = freshDir(s"snap-stats-format-$n")
      try {
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        SnapshotTable.create(spark, spark.range(8000)
          .select(key(col("id")).as("k"), col("id").as("payload"), lit(0L).as("commit_v"))
          .repartitionByRange(8, col("k")), dir)
        writeStatsManifest(dir, kind, bound)
        val ch = spark.range(100, 120).select(key(col("id")).as("k"),
          (col("id") + 100000L).as("payload"), lit(1L).as("commit_v"), lit(false).as("_deleted"))
        val s0 = SnapshotTable.pruneStatsScanned.get()
        val c = SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
        assert(SnapshotTable.pruneStatsScanned.get() - s0 == 0L,
          s"$kind key #$n: the carried #stats:$kind: entries must cover every file")
        assert(c.version == 3L && c.filesReused >= 6, s"$kind key #$n must prune: $c")
      } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
      val got = SnapshotTable.read(spark, dir).select("payload").as[Long].collect().toSet
      assert(got == ((0L until 8000L).toSet -- (100L until 120L)) ++ (100100L until 100120L),
        s"$kind key #$n merged wrong")
    }
  }

  test("a LONG index over a timestamp key, in the writer's raw unit, is never consulted") {
    import graft.operators.SkippingIndex
    val dir = freshDir("snap-ts-long-index")
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      // MILLIS: the raw footer unit an earlier long index recorded
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      SnapshotTable.create(spark, spark.range(4000)
        .select(timestamp_seconds(lit(1600000000L) + col("id") * 60L).as("ts"),
          col("id").as("payload"), lit(0L).as("commit_v"))
        .repartitionByRange(8, col("ts")), dir)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    // what `attachStats(dir, Seq("ts"))` wrote when every index held
    // long min/max: the footer's raw MILLIS values
    val rows = SnapshotTable.files(spark, dir).map { f =>
      val r = spark.read.parquet(f).agg(count(lit(1)), unix_millis(min("ts")),
        unix_millis(max("ts")), count(when(col("ts").isNull, 1))).head()
      org.apache.spark.sql.Row(f, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    SkippingIndex.writeIndex(spark, s"$dir/stats/v00001",
      org.apache.spark.sql.types.StructType.fromDDL(
        "file STRING NOT NULL, n_rows BIGINT NOT NULL, ts_min BIGINT, ts_max BIGINT, ts_nulls BIGINT"),
      rows)
    // read as TIMESTAMP bounds the millis would sit in 1970 and rank
    // every file before the first cursor: the walk folds the footers
    assertWalkPages(dir, "ts", 1L, 300, ascending = true)
    assertWalkPages(dir, "ts", 1L, 300, ascending = false)
    // and the upsert prune footer-scans every file instead of reading it
    val ch = spark.range(100, 110)
      .select(timestamp_seconds(lit(1600000000L) + col("id") * 60L).as("ts"),
        (col("id") + 100000L).as("payload"), lit(1L).as("commit_v"), lit(false).as("_deleted"))
    val s0 = SnapshotTable.pruneStatsScanned.get()
    val c = SnapshotTable.upsert(spark, dir, ch, "ts", "commit_v", "payload")
    assert(SnapshotTable.pruneStatsScanned.get() - s0 == 8L && c.filesReused >= 6, s"$c")
    assert(SnapshotTable.read(spark, dir).filter(col("payload") >= 100000L).count() == 10L)
  }

  test("attachStats + keysetWalk page a DATE-keyed pinned snapshot, ascending and descending") {
    val dir = freshDir("snap-date-walk")
    SnapshotTable.create(spark, spark.range(4000)
      .select(date_add(to_date(lit("1960-01-01")), col("id").cast("int")).as("k"),
        col("id").as("payload"), lit(0L).as("commit_v"))
      .repartitionByRange(8, col("k")), dir)
    SnapshotTable.attachStats(spark, dir, Seq("k"))
    val index = graft.operators.SkippingIndex.readIndex(spark, s"$dir/stats/v00001").get
    assert(index.covered("k", org.apache.spark.sql.types.DateType), index.schema)
    assertWalkPages(dir, "k", 1L, 300, ascending = true)
    assertWalkPages(dir, "k", 1L, 300, ascending = false)
  }

  // ---- data skipping on every read ------------------------------------

  private val keyKinds = Seq(
    KeyKind("long", i => (i * 3).cast("long"), i => lit(i * 3L)),
    KeyKind("int", i => (i * 3).cast("int"), i => lit(i * 3)),
    KeyKind("date", i => date_add(to_date(lit("2020-01-01")), i.cast("int")),
      i => lit(java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong))),
    KeyKind("timestamp", i => timestamp_seconds(lit(1600000000L) + i * 60L),
      i => lit(java.time.Instant.ofEpochSecond(1600000000L + i * 60L))),
    KeyKind("string", i => format_string("k%05d", i), i => lit(f"k$i%05d")))

  /** An 8-file table of rows 0..799 keyed by `kind` (the key NULL on every
    * 97th row, `payload` = the row), range-clustered, with rows 300..319
    * upserted: version 2's untouched files have manifest-carried stats,
    * its rewritten file only the index attached after the upsert.
    * Timestamps are written as MICROS, which carry ordered stats.
    */
  private def skippingTable(kind: KeyKind, dir: String): Long = {
    def rows(from: Long, until: Long, v: Long) = spark.range(from, until).select(
      when(col("id") % 97 === 5, lit(null)).otherwise(kind.key(col("id"))).as("k"),
      col("id").as("payload"), lit(v).as("commit_v"))
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      SnapshotTable.create(spark, rows(0, 800, 0L).repartitionByRange(8, col("k")), dir)
      SnapshotTable.attachStats(spark, dir, Seq("k"))
      val c = SnapshotTable.upsert(spark, dir,
        rows(300, 320, 1L).withColumn("_deleted", lit(false)), "k", "commit_v", "payload")
      assert(c.filesReused >= 6, s"a narrow upsert: $c")
      SnapshotTable.attachStatsIncremental(spark, dir, Seq("k"))
      c.version
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  /** Version `v`'s files read as plain parquet under its committed schema. */
  private def rawRead(dir: String, v: Long): org.apache.spark.sql.DataFrame =
    spark.read.schema(SnapshotTable.schemaOf(spark, dir, Some(v)).get)
      .parquet(SnapshotTable.files(spark, dir, Some(v)): _*)

  test("read(v).filter(p) equals the plain parquet filter and scans only the files whose stats can match") {
    keyKinds.foreach { kind =>
      val dir = freshDir(s"snap-skip-${kind.name}")
      val v = skippingTable(kind, dir)
      val raw = rawRead(dir, v)
      // each file's row range over its non-NULL keys: keys ascend with the
      // row, so a predicate on keys is the same predicate on rows
      val ranges = raw.where(col("k").isNotNull).groupBy(input_file_name())
        .agg(min("payload"), max("payload")).collect().map(r => (r.getLong(1), r.getLong(2)))
      val nFiles = SnapshotTable.files(spark, dir, Some(v)).length
      assert(ranges.length == nFiles)
      val k = col("k")
      def has(i: Long): ((Long, Long)) => Boolean = { case (lo, hi) => lo <= i && i <= hi }
      val cases: Seq[(String, Column, Option[((Long, Long)) => Boolean])] = Seq(
        ("=", k === kind.at(100), Some(has(100))),
        ("<", k < kind.at(150), Some(_._1 < 150)),
        ("<=", k <= kind.at(150), Some(_._1 <= 150)),
        (">", k > kind.at(700), Some(_._2 > 700)),
        (">=", k >= kind.at(700), Some(_._2 >= 700)),
        ("between", k.between(kind.at(200), kind.at(260)), Some(r => r._1 <= 260 && r._2 >= 200)),
        ("IN", k.isin(kind.at(10), kind.at(500)), Some(r => has(10)(r) || has(500)(r))),
        ("AND", k >= kind.at(100) && k < kind.at(120), Some(r => r._2 >= 100 && r._1 < 120)),
        ("OR", k === kind.at(30) || k === kind.at(770), Some(r => has(30)(r) || has(770)(r))),
        ("<=>", k <=> kind.at(400), Some(has(400))),
        ("IS NULL", k.isNull, None))
      cases.foreach { case (name, p, canMatch) =>
        val got = SnapshotTable.read(spark, dir, Some(v)).filter(p)
        assert(rowsOf(got) == rowsOf(raw.filter(p)), s"${kind.name} $name")
        val want = canMatch.fold(nFiles)(ranges.count)
        assert(graft.TestSpark.filesScanned(got) == Seq(want.toLong),
          s"${kind.name} $name: the scan must read the $want of $nFiles files whose stats can match")
      }
      assert(SnapshotTable.read(spark, dir, Some(v)).inputFiles.length == nFiles)
    }
  }

  test("a cast, a UDF, NOT, a collated key, a compacted version, files older than an ADD COLUMN and a re-added dropped column keep every file") {
    def keepsAll(dir: String, v: Long, p: Column, what: String): Unit = {
      val got = SnapshotTable.read(spark, dir, Some(v)).filter(p)
      assert(rowsOf(got) == rowsOf(rawRead(dir, v).filter(p)), what)
      assert(graft.TestSpark.filesScanned(got) ==
        Seq(SnapshotTable.files(spark, dir, Some(v)).length.toLong), s"$what must read every file")
    }
    val dir = freshDir("snap-skip-keep")
    val v = skippingTable(keyKinds.head, dir)
    keepsAll(dir, v, col("k").cast("string") === "900", "a cast operand")
    keepsAll(dir, v, udf((x: Long) => x).apply(col("k")) === 900L, "a UDF operand")
    keepsAll(dir, v, !(col("k") === 900L), "NOT")
    // compact writes a version with neither carried stats nor an index
    val compacted = SnapshotTable.compact(spark, dir, 100L, sortOn = Some("k"))
    assert(!new java.io.File(f"$dir/stats/v${compacted.version}%05d").exists())
    keepsAll(dir, compacted.version, col("k") === 900L, "a compacted version")
    // ADD COLUMN: the files older than `extra` have no stats for it (their
    // rows are NULL); the key still prunes beside it
    val added = SnapshotTable.upsert(spark, dir, spark.range(600, 610).select(
        (col("id") * 3).as("k"), col("id").as("payload"), lit(2L).as("commit_v"),
        concat(lit("x"), col("id")).as("extra"), lit(false).as("_deleted")),
      "k", "commit_v", "payload")
    SnapshotTable.attachStatsIncremental(spark, dir, Seq("k"))
    keepsAll(dir, added.version, col("extra") === "x605", "a column newer than the files")
    keepsAll(dir, added.version, col("extra").isNull, "IS NULL on a column newer than the files")
    val both = SnapshotTable.read(spark, dir, Some(added.version))
      .filter(col("k") === 1815L && col("extra") === "x605")
    assert(rowsOf(both).length == 1 && graft.TestSpark.filesScanned(both).forall(
      _ < SnapshotTable.files(spark, dir, Some(added.version)).length))
    // DROP COLUMN, a rewrite, and the name added back with another type:
    // no file has stats for the new column
    SnapshotTable.dropColumn(spark, dir, "extra")
    SnapshotTable.compact(spark, dir, 100L, sortOn = Some("k"))
    val readded = SnapshotTable.upsert(spark, dir, spark.range(10, 20).select(
        (col("id") * 3).as("k"), col("id").as("payload"), lit(3L).as("commit_v"),
        col("id").as("extra"), lit(false).as("_deleted")),
      "k", "commit_v", "payload")
    keepsAll(dir, readded.version, col("extra") === 15L, "a dropped and re-added column")
    // a UTF8_LCASE key: an index of its binary min/max exists, and the
    // read must not use it ('K00100' equals 'k00100' but sorts below
    // every binary key)
    val dirC = freshDir("snap-skip-collated")
    SnapshotTable.create(spark, spark.range(800).select(
        collate(format_string("k%05d", col("id")), "UTF8_LCASE").as("k"), col("id").as("payload"))
      .repartitionByRange(8, col("k")), dirC)
    val statsSchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField("file", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false), StructField("k_min", StringType),
        StructField("k_max", StringType), StructField("k_nulls", LongType)))
    }
    graft.operators.SkippingIndex.writeIndex(spark, s"$dirC/stats/v00001", statsSchema,
      SnapshotTable.files(spark, dirC, Some(1L)).map { f =>
        val r = spark.read.parquet(f).agg(count(lit(1)),
          min(col("k").cast("string")), max(col("k").cast("string"))).head()
        org.apache.spark.sql.Row(f, r.getLong(0), r.getString(1), r.getString(2), 0L)
      })
    keepsAll(dirC, 1L, col("k") === "K00100", "a UTF8_LCASE key")
    assert(rowsOf(SnapshotTable.read(spark, dirC).filter(col("k") === "K00100")) == Seq("k00100|100"))
  }

  test("reads of one version are one relation: sameResult, cache hits and exchange reuse") {
    val dir = freshDir("snap-identity")
    SnapshotTable.create(spark, mkBase(2000).repartitionByRange(4, col("k")), dir)
    val c = SnapshotTable.upsert(spark, dir,
      Seq((5L, "u5", 1L, false)).toDF("k", "payload", "commit_v", "_deleted"),
      "k", "commit_v", "payload")
    def at(v: Long) = SnapshotTable.read(spark, dir, Some(v))
    assert(at(1L).sameSemantics(at(1L)) && at(1L).semanticHash() == at(1L).semanticHash())
    assert(!at(1L).sameSemantics(at(c.version)), "two versions must not be one relation")
    def cached(df: org.apache.spark.sql.DataFrame) = df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    val persisted = at(1L).persist()
    try {
      persisted.count()
      val other = at(1L).filter(col("k") < 10L)
      assert(cached(other).nonEmpty, "a second read of v1 must read the persisted one")
      assert(rowsOf(other).length == 10)
      assert(cached(at(c.version)).isEmpty, "a read of v2 must not read v1's cache")
    } finally persisted.unpersist(blocking = true)
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, value) => spark.conf.set(k, value) }
      val joined = at(1L).join(at(1L), "k")
      assert(joined.count() == 2000L)
      joined.collect()
      val plan = joined.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      val reused = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => e }
      assert(shuffles.length == 1 && reused.length == 1, s"one exchange, reused:\n$plan")
    } finally prev.foreach {
      case (k, Some(value)) => spark.conf.set(k, value)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SnapshotTableSpec {
  /** A key type of the data-skipping specs: row `i`'s key as a column and
    * as a literal; keys ascend with `i`. */
  final case class KeyKind(name: String, key: Column => Column, at: Int => Column)
}
