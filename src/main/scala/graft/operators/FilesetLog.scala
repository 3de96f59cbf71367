package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The manifest log under every store: a store version is one manifest,
  * `<dir>/manifest/vNNNNN.manifest`, published exclusively
  * ([[ManifestCommit]]) after the version's immutable data files are
  * written. The log alone lays out, lists, reads, publishes and vacuums
  * manifests; each store keeps only what its lines mean:
  *
  *  - [[SnapshotTable]]: `#committed:` / `#schema:` / `#dropped:` /
  *    `#stats:` headers, then one bare `<file>` entry per live file;
  *  - [[PqIndex]]: `D <file>` (encoded data) and `T <file>` (tombstone)
  *    entries;
  *  - the fileset stores ([[DedupStore]], [[NearDupStore]],
  *    [[MaterializedView]], the [[TextAnalysis]] stores,
  *    [[graft.streaming.SketchRollup]]): `<kind> <tag> <file>` entries,
  *    where `kind` names the logical table (NearDupStore's band index and
  *    signature sidecar commit together) and `tag` is the ingest batch
  *    that contributed the file (compaction writes [[CompactedTag]]).
  *
  * Why tags live in the MANIFEST and not in partition directories: a
  * replayed batch (crash-recovery at-least-once) must recompute against
  * history that EXCLUDES its own earlier, possibly-committed rows, and
  * then supersede them — with tagged manifest lines that is a pure
  * driver-side filter plus a commit that drops the old lines, leaving the
  * superseded files as vacuumable orphans. No overwrite of live data ever
  * happens, so a reader pinned to any committed version is undisturbed.
  *
  * A crash between a write's data files and its publish leaves orphan
  * files (invisible; removed by [[vacuum]]), never a half-visible version.
  */
private[graft] object FilesetLog {

  /** Reserved tag for compaction-written filesets: real ingest tags are
    * >= 0 (streaming batch ids), so a compacted store's next auto-tag is
    * still 0 and a replayed ingest can never collide with it.
    */
  val CompactedTag: Long = -1L

  /** One manifest entry: `<file>`, `<kind> <file>` or
    * `<kind> <tag> <file>`. A kind is one token without `/` or `:`, so a
    * bare absolute path never parses as one; the file is the rest of the
    * line (paths may hold spaces). Lines starting with `#` are headers,
    * not entries.
    */
  final case class Entry(kind: String, tag: Option[Long], file: String) {
    def line: String = (Seq(kind).filter(_.nonEmpty) ++ tag.map(_.toString) :+ file).mkString(" ")
  }

  object Entry {
    def apply(kind: String, tag: Long, file: String): Entry = Entry(kind, Some(tag), file)

    def parse(line: String): Entry = line.split(" ", 3) match {
      case Array(k, t, f) if isKind(k) && t.toLongOption.isDefined => Entry(k, t.toLongOption, f)
      case Array(k, rest @ _*) if isKind(k) && rest.nonEmpty => Entry(k, None, rest.mkString(" "))
      case _ => Entry("", None, line)
    }

    private def isKind(token: String): Boolean =
      token.nonEmpty && !token.exists(c => c == '/' || c == ':')
  }

  /** One committed version: its `#` header lines, in order, and its
    * entries, in order. */
  final case class Manifest(headers: Seq[String], entries: Seq[Entry]) {
    /** The payload of the first header starting with `prefix`. */
    def header(prefix: String): Option[String] =
      headers.find(_.startsWith(prefix)).map(_.drop(prefix.length))
  }

  private val ManifestRe = """v(\d+)\.manifest""".r

  private def manifestPath(dir: String, v: Long): Path =
    new Path(s"$dir/manifest/" + f"v$v%05d.manifest")

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** All committed versions, ascending (a fileset without a manifest —
    * a crashed write — is not a version).
    *
    * COST BOUND: one directory listing of `<dir>/manifest`, the read
    * path's only history-sized cost. Vacuum retention is its designed
    * bound: [[vacuum]] deletes the manifests below `keepLast`, so the
    * listing stays O(retained versions), not the store's lifetime commit
    * count.
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val md = new Path(s"$dir/manifest")
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq.flatMap(_.getPath.getName match {
      case ManifestRe(n) => Some(n.toLong)
      case _ => None
    }).sorted
  }

  def current(spark: SparkSession, dir: String): Option[Long] =
    versions(spark, dir).lastOption

  /** The status of version `v`'s manifest and its memo key: manifests
    * are immutable once published, and keying on (qualified path, mtime,
    * length) means a store recreated at the same path, or copied with
    * rewritten mtimes, never serves a stale memo entry. */
  private def status(spark: SparkSession, dir: String, v: Long): (FileSystem, FileStatus, String) = {
    val f = fs(spark, dir)
    val p = manifestPath(dir, v)
    val st =
      try f.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"version $v does not exist under $dir")
      }
    (f, st, s"${f.makeQualified(p)}#${st.getModificationTime}#${st.getLen}")
  }

  private def readBytes(f: FileSystem, st: FileStatus, n: Int): String = {
    val buf = new Array[Byte](n)
    val in = f.open(st.getPath)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8")
  }

  /** Version `v` parsed, memoized per (path, mtime, length): one write
    * otherwise reads the SAME manifest several times (files, schema,
    * dropped set, carried stats) — sub-ms on a local FS but a round trip
    * each on an object store.
    */
  def manifest(spark: SparkSession, dir: String, v: Long): Manifest = {
    val (f, st, key) = status(spark, dir, v)
    val cached = manifests.get(key)
    if (cached != null) cached
    else {
      manifestReads.incrementAndGet()
      val (headers, entries) = readBytes(f, st, st.getLen.toInt).split("\n")
        .map(_.trim).filter(_.nonEmpty).toSeq.partition(_.startsWith("#"))
      val m = Manifest(headers, entries.map(Entry.parse))
      if (manifests.size > 4096) manifests.clear()
      manifests.put(key, m)
      m
    }
  }

  private val manifests = new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  /** Test-visible cost evidence: full manifest reads performed (memo
    * misses). */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def clearManifestCache(): Unit = manifests.clear()

  /** The first line of version `v`'s manifest (read from a 64-byte
    * prefix, so its cost does not grow with the manifest) and the
    * manifest's mtime, memoized per (path, mtime, length). */
  def firstLine(spark: SparkSession, dir: String, v: Long): (String, Long) = {
    val (f, st, key) = status(spark, dir, v)
    val cached = firstLines.get(key)
    if (cached != null) cached
    else {
      headerReads.incrementAndGet()
      val res = (readBytes(f, st, math.min(st.getLen, 64L).toInt).takeWhile(_ != '\n').trim,
        st.getModificationTime)
      if (firstLines.size > 65536) firstLines.clear()
      firstLines.put(key, res)
      res
    }
  }

  private val firstLines = new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Test-visible cost evidence: manifest prefix reads performed (memo
    * misses). */
  private[graft] val headerReads = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def clearFirstLineCache(): Unit = firstLines.clear()

  def entries(spark: SparkSession, dir: String, v: Long): Seq[Entry] =
    manifest(spark, dir, v).entries

  def currentEntries(spark: SparkSession, dir: String): Seq[Entry] =
    current(spark, dir).map(entries(spark, dir, _)).getOrElse(Seq.empty)

  /** Runs before every publish, after the write's data files exist —
    * the point a crash leaves only orphans. Specs set it to stop a write
    * there. */
  @volatile private[graft] var beforePublish: Path => Unit = _ => ()

  /** Atomically publish version `v`: `headers`, then `es`, in the given
    * order. Throws [[SnapshotTable.CommitConflict]] if another writer
    * took `v` ([[ManifestCommit]]).
    */
  def publish(spark: SparkSession, dir: String, v: Long, headers: Seq[String],
      es: Seq[Entry]): Unit = {
    val target = manifestPath(dir, v)
    beforePublish(target)
    ManifestCommit.publish(fs(spark, dir), target,
      (headers ++ es.map(_.line)).mkString("\n") + "\n")
  }

  /** Publish `es` as version `v`, lines sorted. The fileset stores are
    * single-maintainer, so a conflict surfaces rather than rebases.
    */
  def commit(spark: SparkSession, dir: String, v: Long, es: Seq[Entry]): Unit =
    publish(spark, dir, v, Nil, es.sortBy(_.line))

  def nonce(): String = java.util.UUID.randomUUID.toString.take(8)

  /** A new writer-unique fileset directory `<dir>/<sub>/vNNNNN_<nonce>`
    * for a write aiming at version `v`: two writers racing for one
    * version land in different directories, so the loser's files never
    * clobber the winner's. */
  def fileset(dir: String, sub: String, v: Long): String =
    s"$dir/$sub/" + f"v$v%05d" + s"_${nonce()}"

  /** The parquet files under `root` at any depth, sorted by path. */
  private def parquetFiles(f: FileSystem, root: Path): Seq[FileStatus] =
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.flatMap { s =>
      if (s.isDirectory) parquetFiles(f, s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Seq(s)
      else Seq.empty
    }.sortBy(_.getPath.toString)

  /** Write `df` as one immutable fileset under `dest` and return the
    * written parquet files (possibly empty for an empty frame).
    */
  def writeFileset(df: DataFrame, dest: String, partitionBy: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Seq[String] = {
    val w = df.write.mode("overwrite").options(options)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(dest)
    parquetFiles(fs(df.sparkSession, dest), new Path(dest)).map(_.getPath.toString)
  }

  /** Read an explicit file list (empty ⇒ caller handles; the stores pass
    * a schema-bearing fallback where an empty history is legal).
    */
  def read(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.parquet(files: _*)

  /** Drop every version but the last `keepLast` and delete the parquet
    * files under `<dir>/<root>` (for each of `roots`) that no retained
    * entry references, itself or through its fileset directory — except
    * files younger than `graceMs`: a writer in flight writes its files
    * BEFORE its publish. An unreferenced fileset directory past the grace
    * whose every file goes is removed whole. `dropVersion` runs for each
    * dropped version (a store's version-scoped side files). Returns the
    * deleted files.
    */
  def vacuum(spark: SparkSession, dir: String, roots: Seq[String],
      keepLast: Int = 1,
      graceMs: Long = SnapshotTable.DefaultVacuumGraceMs,
      dropVersion: Long => Unit = _ => ()): Seq[String] = {
    require(keepLast >= 1, "keepLast >= 1")
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - keepLast))
    val referenced = keep.flatMap(entries(spark, dir, _)).map(_.file).toSet
    val horizon = System.currentTimeMillis() - graceMs
    val doomed = roots.flatMap { sub =>
      val root = new Path(s"$dir/$sub")
      if (!f.exists(root)) Seq.empty
      else f.listStatus(root).toSeq
        .filter(d => d.isDirectory && !referenced.contains(d.getPath.toString))
        .flatMap { d =>
          val leaves = parquetFiles(f, d.getPath)
          val gone = leaves.filter(s => s.getModificationTime <= horizon &&
            !referenced.contains(s.getPath.toString))
          if (gone.length == leaves.length && d.getModificationTime <= horizon)
            f.delete(d.getPath, true)
          else gone.foreach(s => f.delete(s.getPath, false))
          gone.map(_.getPath.toString)
        }
    }.sorted
    drop.foreach { v =>
      f.delete(manifestPath(dir, v), false)
      dropVersion(v)
    }
    doomed
  }
}
