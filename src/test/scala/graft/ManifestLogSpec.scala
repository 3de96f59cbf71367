package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FilesetLog, NearDupStore, PqIndex, SnapshotTable}
import graft.streaming.SketchRollup

/** The one manifest log under every store: its entry grammar, writes
  * stopped between their data files and their publish, and manifests in
  * the text earlier versions of the stores wrote. */
class ManifestLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"${graft.Scratch.dir}/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private final class Stopped extends RuntimeException("stopped before publish")

  /** Runs `write` with the publish stopped: it must throw there, having
    * published nothing under `dir`. */
  private def stopBeforePublish(dir: String)(write: => Any): Unit = {
    val before = FilesetLog.versions(spark, dir)
    FilesetLog.beforePublish = _ => throw new Stopped
    try intercept[Stopped](write)
    finally FilesetLog.beforePublish = _ => ()
    assert(FilesetLog.versions(spark, dir) == before, s"a stopped write published under $dir")
  }

  private def writeText(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, text.getBytes("UTF-8"))
  }

  private def parquetFiles(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = f.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
  }

  /** The version's text rebuilt from its parsed headers and entries. */
  private def rendered(dir: String, v: Long): String = {
    val m = FilesetLog.manifest(spark, dir, v)
    (m.headers ++ m.entries.map(_.line)).mkString("\n") + "\n"
  }

  test("entry grammar: bare paths, kind + file, kind + tag + file") {
    import FilesetLog.Entry
    val cases = Seq(
      "file:/t/data/v00001_ab/part-0.parquet" -> Entry("", None, "file:/t/data/v00001_ab/part-0.parquet"),
      "file:/t/my dir/part 0.parquet" -> Entry("", None, "file:/t/my dir/part 0.parquet"),
      "/t/data/x.parquet" -> Entry("", None, "/t/data/x.parquet"),
      "D file:/t/data/cell=3/p.parquet" -> Entry("D", None, "file:/t/data/cell=3/p.parquet"),
      "T file:/t/a b/cell=0/p.parquet" -> Entry("T", None, "file:/t/a b/cell=0/p.parquet"),
      "B 7 file:/t/buckets/v00002_x/p.parquet" -> Entry("B", Some(7L), "file:/t/buckets/v00002_x/p.parquet"),
      "S -1 file:/t/s p/p.parquet" -> Entry("S", Some(-1L), "file:/t/s p/p.parquet"),
      """V 3 {"type":"struct","fields":[]}""" -> Entry("V", Some(3L), """{"type":"struct","fields":[]}"""))
    cases.foreach { case (line, want) =>
      assert(Entry.parse(line) == want, line)
      assert(want.line == line, line)
    }
  }

  test("a write stopped before its publish leaves the last version; the next call commits on it") {
    // SnapshotTable upsert and compact
    val dir = freshDir("mlog-stop-snap")
    SnapshotTable.create(spark, (0 until 200).map(i => (i.toLong, s"v$i", 0L))
      .toDF("k", "payload", "commit_v").repartitionByRange(4, col("k")), dir)
    val v1 = rows(SnapshotTable.read(spark, dir))
    val ch = Seq((5L, "upd", 1L, false), (500L, "new", 1L, false))
      .toDF("k", "payload", "commit_v", "_deleted")
    def upsert() = SnapshotTable.upsert(spark, dir, ch, "k", "commit_v", "payload")
    stopBeforePublish(dir)(upsert())
    assert(rows(SnapshotTable.read(spark, dir)) == v1)
    assert(upsert().version == 2L)
    val v2 = SnapshotTable.read(spark, dir).select("k", "payload").as[(Long, String)].collect().toMap
    assert(v2.size == 201 && v2(5L) == "upd" && v2(500L) == "new")
    val v2rows = rows(SnapshotTable.read(spark, dir))
    stopBeforePublish(dir)(SnapshotTable.compact(spark, dir, targetRecords = 100L))
    assert(rows(SnapshotTable.read(spark, dir)) == v2rows)
    assert(SnapshotTable.compact(spark, dir, targetRecords = 100L).version == 3L)
    assert(rows(SnapshotTable.read(spark, dir)) == v2rows)

    // PqIndex append and compact
    val emb = graft.sources.Tables.load(spark, TestSpark.sf, "embeddings")
    val model = PqIndex.train(emb, "vec_id", "embedding", nCells = 4, m = 8,
      kCodes = 16, iters = 1)
    val pq = freshDir("mlog-stop-pq")
    PqIndex.writeIndex(PqIndex.encode(emb.filter(col("vec_id") < 300), "vec_id", "embedding", model), pq)
    def index() = rows(PqIndex.readIndex(spark, pq).select("id", "cell"))
    val p1 = index()
    def append() = PqIndex.appendToIndex(emb.filter(col("vec_id") >= 300), "vec_id", "embedding",
      model, pq)
    stopBeforePublish(pq)(append())
    assert(index() == p1)
    append()
    assert(PqIndex.currentVersion(spark, pq).contains(2L) && index().length == emb.count())
    PqIndex.deleteFromIndex(spark, Seq(1L, 2L, 3L).toDF("id"), "id", pq)
    val p3 = index()
    assert(p3.length == emb.count() - 3)
    stopBeforePublish(pq)(PqIndex.compactIndex(spark, pq))
    assert(index() == p3 && PqIndex.currentVersion(spark, pq).contains(3L))
    PqIndex.compactIndex(spark, pq)
    assert(index() == p3 && PqIndex.currentVersion(spark, pq).contains(4L))

    // NearDupStore ingest
    val docs = graft.sources.Tables.load(spark, TestSpark.sf, "documents")
    val nd = freshDir("mlog-stop-neardup")
    NearDupStore.ingest(spark, docs.filter(col("doc_id") < 250), "doc_id", "text", nd, tag = 0L)
    val s1 = rows(NearDupStore.sigs(spark, nd).select("id"))
    def ingest() = NearDupStore.ingest(spark, docs.filter(col("doc_id") >= 250), "doc_id", "text",
      nd, tag = 1L)
    stopBeforePublish(nd)(ingest())
    assert(rows(NearDupStore.sigs(spark, nd).select("id")) == s1)
    ingest()
    assert(FilesetLog.current(spark, nd).contains(2L) &&
      NearDupStore.sigs(spark, nd).count() == docs.count())

    // each SketchRollup merge kind: a stopped merge, then the same merge
    // again, ends where a store that never stopped does
    val ev = graft.sources.Tables.load(spark, TestSpark.sf, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"),
        col("value").as("v"), col("event_type"), col("event_id"))
    val merges: Seq[(String, (DataFrame, String) => Unit, String => DataFrame)] = Seq(
      ("hll", (b, s) => SketchRollup.mergeInto(spark, b, s), s => SketchRollup.serve(spark, s)),
      ("keyed", (b, s) => SketchRollup.mergeKeyedInto(spark, b, Seq("day", "event_type"), "user_id", s),
        s => SketchRollup.read(spark, s).select(col("day"), col("event_type"),
          hll_sketch_estimate(col("sk")), col("n_events"))),
      ("kll", (b, s) => SketchRollup.mergeQuantilesInto(spark, b, s),
        s => SketchRollup.read(spark, s).select(col("day"), col("n_events"),
          graft.functions.expr.KllFunctions.kllN(col("sk")))),
      ("freq", (b, s) => SketchRollup.mergeTopkInto(spark, b, s),
        s => SketchRollup.read(spark, s).select(col("day"), col("n_events"),
          graft.functions.expr.FreqFunctions.freqN(col("sk")))))
    val b0 = ev.filter(pmod(col("event_id"), lit(2L)) === 0L)
    val b1 = ev.filter(pmod(col("event_id"), lit(2L)) === 1L)
    merges.foreach { case (name, merge, served) =>
      val store = freshDir(s"mlog-stop-sketch-$name")
      val clean = freshDir(s"mlog-stop-sketch-$name-clean")
      // a first merge stopped before its publish leaves no store: its
      // orphan files are not rows
      stopBeforePublish(store)(merge(b0, store))
      intercept[IllegalArgumentException](SketchRollup.read(spark, store))
      merge(b0, store)
      merge(b0, clean)
      merge(b1, clean)
      val after0 = rows(served(store))
      stopBeforePublish(store)(merge(b1, store))
      assert(rows(served(store)) == after0, name)
      merge(b1, store)
      assert(FilesetLog.current(spark, store).contains(2L), name)
      assert(rows(served(store)) == rows(served(clean)), name)
    }
  }

  test("manifests in the text earlier versions wrote read back unchanged") {
    // SnapshotTable: #committed, #schema, #dropped and a #stats header of
    // each kind, then bare file lines
    val dir = freshDir("mlog-compat-snap")
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
      StructField("t", TimestampType)))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def part(lo: Int) = spark.createDataFrame(
      (lo until lo + 10).map(i => Row(i.toLong, s"s$i", new java.sql.Timestamp(t0.getTime + i * 1000L)))
        .asJava, schema).coalesce(1)
    part(0).write.parquet(s"$dir/data/v00001_aaaa")
    part(10).write.parquet(s"$dir/data/v00001_bbbb")
    val files = parquetFiles(s"$dir/data")
    assert(files.length == 2)
    val micros = (i: Int) => (t0.getTime + i * 1000L) * 1000L
    val text = Seq(
      "#committed:1700000000000",
      "#schema:" + schema.json,
      "#dropped:gone,old",
      "#stats:long:k:0,9,0,10;10,19,0,10",
      "#stats:micros:t:" + s"${micros(0)},${micros(9)},0,10;${micros(10)},${micros(19)},0,10",
      "#stats:string:s:s0,s9,0,10;s10,s19,0,10") ++ files
    writeText(s"$dir/manifest/v00001.manifest", text.mkString("\n") + "\n")
    assert(rendered(dir, 1L) == text.mkString("\n") + "\n")
    assert(SnapshotTable.versions(spark, dir) == Seq(1L))
    assert(SnapshotTable.files(spark, dir) == files)
    assert(SnapshotTable.schemaOf(spark, dir).contains(schema))
    assert(SnapshotTable.droppedOf(spark, dir) == Seq("gone", "old"))
    assert(SnapshotTable.commitInstantOf(spark, dir, 1L) == 1700000000000L)
    assert(rows(SnapshotTable.read(spark, dir)) == rows(part(0).unionByName(part(10))))
    // the carried stats prune each column's scan to the one file that can match
    val snap = SnapshotTable.read(spark, dir)
    assert(TestSpark.filesScanned(snap.filter(col("k") === 15L)) == Seq(1L))
    assert(TestSpark.filesScanned(snap.filter(col("s") === "s3")) == Seq(1L))
    assert(TestSpark.filesScanned(snap.filter(col("t") === new java.sql.Timestamp(t0.getTime + 12000L))) ==
      Seq(1L))

    // PqIndex: D and T lines over cell-partitioned filesets
    val emb = graft.sources.Tables.load(spark, TestSpark.sf, "embeddings")
    val model = PqIndex.train(emb, "vec_id", "embedding", nCells = 4, m = 8,
      kCodes = 16, iters = 1)
    val enc = PqIndex.encode(emb, "vec_id", "embedding", model)
    val pq = freshDir("mlog-compat-pq")
    enc.write.partitionBy("cell").parquet(s"$pq/data/v00001_aaaa")
    enc.filter(col("id") < 5).select("id", "cell").write.partitionBy("cell")
      .parquet(s"$pq/tomb/v00002_bbbb")
    val data = parquetFiles(s"$pq/data")
    val tomb = parquetFiles(s"$pq/tomb")
    val pqText = (data.sorted.map("D " + _) ++ tomb.sorted.map("T " + _)).mkString("\n") + "\n"
    writeText(s"$pq/manifest/v00002.manifest", pqText)
    assert(rendered(pq, 2L) == pqText)
    assert(PqIndex.currentVersion(spark, pq).contains(2L))
    assert(rows(PqIndex.readIndex(spark, pq).select("id", "cell", "codes", "norm")) ==
      rows(enc.filter(col("id") >= 5).select("id", "cell", "codes", "norm")))

    // the fileset stores: sorted `<kind> <tag> <file>` lines
    val nd = freshDir("mlog-compat-neardup")
    val sigRows = Seq((1L, Seq("a b c"), 1), (2L, Seq("b c d"), 1)).toDF("id", "sh", "sz")
    sigRows.filter(col("id") === 1L).write.parquet(s"$nd/sigs/v00001_aaaa")
    sigRows.filter(col("id") === 2L).write.parquet(s"$nd/sigs/v00002_bbbb")
    Seq((0, 11L, 1L)).toDF("band", "key", "id").write.parquet(s"$nd/buckets/v00001_cccc")
    val ndLines = (parquetFiles(s"$nd/sigs").zipWithIndex.map { case (f, i) => s"S $i $f" } ++
      parquetFiles(s"$nd/buckets").map(f => s"B 0 $f")).sorted
    writeText(s"$nd/manifest/v00002.manifest", ndLines.mkString("\n") + "\n")
    assert(rendered(nd, 2L) == ndLines.mkString("\n") + "\n")
    assert(FilesetLog.entries(spark, nd, 2L).map(e => (e.kind, e.tag)) ==
      Seq(("B", Some(0L)), ("S", Some(0L)), ("S", Some(1L))))
    assert(rows(NearDupStore.sigs(spark, nd)) == rows(sigRows))
    assert(rows(NearDupStore.buckets(spark, nd)) == rows(Seq((0, 11L, 1L)).toDF("band", "key", "id")))

    // a sketch store written as a plain parquet directory serves, and a
    // merge into it commits on top of its rows
    val ev = graft.sources.Tables.load(spark, TestSpark.sf, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"), col("event_id"))
    val b0 = ev.filter(pmod(col("event_id"), lit(2L)) === 0L)
    val b1 = ev.filter(pmod(col("event_id"), lit(2L)) === 1L)
    val plain = freshDir("mlog-compat-sketch")
    b0.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"), count(lit(1)).as("n_events"))
      .coalesce(1).write.parquet(plain)
    val logged = freshDir("mlog-compat-sketch-log")
    SketchRollup.mergeInto(spark, b0, logged)
    assert(rows(SketchRollup.serve(spark, plain)) == rows(SketchRollup.serve(spark, logged)))
    SketchRollup.mergeInto(spark, b1, plain)
    SketchRollup.mergeInto(spark, b1, logged)
    assert(FilesetLog.current(spark, plain).contains(1L))
    assert(rows(SketchRollup.serve(spark, plain)) == rows(SketchRollup.serve(spark, logged)))
  }

  test("vacuum keeps referenced fileset roots and removes orphan filesets whole") {
    val dir = freshDir("mlog-vacuum")
    val f = FilesetLog.fs(spark, dir)
    val live = FilesetLog.fileset(dir, "roots", 1L)
    Seq((1L, 0)).toDF("id", "bucket").write.partitionBy("bucket").parquet(live)
    val orphan = FilesetLog.fileset(dir, "roots", 1L)
    Seq((2L, 0)).toDF("id", "bucket").write.partitionBy("bucket").parquet(orphan)
    val qualified = f.makeQualified(new org.apache.hadoop.fs.Path(live)).toString
    FilesetLog.commit(spark, dir, 1L, Seq(FilesetLog.Entry("R", 0L, qualified)))
    // young files survive the default grace
    assert(FilesetLog.vacuum(spark, dir, Seq("roots")).isEmpty)
    val gone = FilesetLog.vacuum(spark, dir, Seq("roots"), graceMs = 0L)
    assert(gone.nonEmpty && gone.forall(_.contains(new java.io.File(orphan).getName)), gone)
    assert(!f.exists(new org.apache.hadoop.fs.Path(orphan)), "an orphan fileset is removed whole")
    assert(spark.read.parquet(live).count() == 1L)
  }
}
