package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-versioned fileset log — the small shared core of the
  * "write immutable files, then publish a pointer" commit pattern
  * ([[ManifestCommit]]) that [[SnapshotTable]] and [[PqIndex]] each carry
  * privately, factored for the incremental stores ([[DedupStore]],
  * [[NearDupStore]]): a store version is a manifest of
  * `<kind> <tag> <file>` lines, where `kind` names the logical table
  * (a store may hold several — NearDupStore's band index and signature
  * sidecar commit together) and `tag` is the ingest batch that
  * contributed the file (compaction writes [[CompactedTag]]).
  *
  * Why tags live in the MANIFEST and not in partition directories: a
  * replayed batch (crash-recovery at-least-once) must recompute against
  * history that EXCLUDES its own earlier, possibly-committed rows, and
  * then supersede them — with tagged manifest lines that is a pure
  * driver-side filter plus a commit that drops the old lines, leaving the
  * superseded files as vacuumable orphans. No overwrite of live data ever
  * happens, so a reader pinned to any committed version is undisturbed —
  * the same immutability contract as every manifest table here.
  */
private[operators] object FilesetLog {

  /** Reserved tag for compaction-written filesets: real ingest tags are
    * >= 0 (streaming batch ids), so a compacted store's next auto-tag is
    * still 0 and a replayed ingest can never collide with it.
    */
  val CompactedTag: Long = -1L

  final case class Entry(kind: String, tag: Long, file: String)

  private val ManifestRe = """v(\d+)\.manifest""".r

  private[operators] def manifestPath(dir: String, v: Long): Path =
    new Path(s"$dir/manifest/" + f"v$v%05d.manifest")

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** All committed versions, ascending (a fileset without a manifest —
    * a crashed ingest — is not a version).
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

  def entries(spark: SparkSession, dir: String, v: Long): Seq[Entry] = {
    val p = manifestPath(dir, v)
    val f = fs(spark, dir)
    require(f.exists(p), s"store version $v does not exist under $dir")
    val len = f.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = f.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8").split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      .map { line =>
        val Array(kind, tag, file) = line.split(" ", 3)
        Entry(kind, tag.toLong, file)
      }
  }

  def currentEntries(spark: SparkSession, dir: String): Seq[Entry] =
    current(spark, dir).map(entries(spark, dir, _)).getOrElse(Seq.empty)

  /** Atomically publish `es` as version `v` ([[ManifestCommit]] — throws
    * [[SnapshotTable.CommitConflict]] if another writer took `v`; the
    * stores are single-maintainer, so a conflict surfaces rather than
    * rebases).
    */
  def commit(spark: SparkSession, dir: String, v: Long, es: Seq[Entry]): Unit =
    ManifestCommit.publish(fs(spark, dir), manifestPath(dir, v),
      es.map(e => s"${e.kind} ${e.tag} ${e.file}").sorted.mkString("\n") + "\n")

  def nonce(): String = java.util.UUID.randomUUID.toString.take(8)

  /** Write `df` as one immutable fileset under `dest` and return the
    * written parquet files (possibly empty for an empty frame).
    */
  def writeFileset(df: DataFrame, dest: String): Seq[String] = {
    df.write.mode("overwrite").parquet(dest)
    val f = fs(df.sparkSession, dest)
    f.listStatus(new Path(dest))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Read an explicit file list (empty ⇒ caller handles; the stores pass
    * a schema-bearing fallback where an empty history is legal).
    */
  def read(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.parquet(files: _*)

  /** Drop every version but the last `keepLast` and delete files under
    * `dataSubdirs` that no retained manifest references — except files
    * younger than `graceMs` (an in-flight ingest writes its fileset
    * BEFORE its manifest publish; same hazard and default as
    * [[SnapshotTable.vacuum]]). Returns deleted paths.
    */
  def vacuum(spark: SparkSession, dir: String, dataSubdirs: Seq[String],
      keepLast: Int = 1,
      graceMs: Long = SnapshotTable.DefaultVacuumGraceMs): Seq[String] = {
    require(keepLast >= 1, "keepLast >= 1")
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - keepLast))
    val referenced = keep.flatMap(entries(spark, dir, _)).map(_.file).toSet
    val horizon = System.currentTimeMillis() - graceMs
    val onDisk = dataSubdirs.flatMap { sub =>
      val root = new Path(s"$dir/$sub")
      if (!f.exists(root)) Seq.empty
      else f.listStatus(root).toSeq.filter(_.isDirectory)
        .flatMap(d => f.listStatus(d.getPath).toSeq)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")
          && s.getModificationTime <= horizon)
        .map(_.getPath.toString)
    }
    val doomed = onDisk.filterNot(referenced.contains).sorted
    doomed.foreach(p => f.delete(new Path(p), false))
    drop.foreach(v => f.delete(manifestPath(dir, v), false))
    doomed
  }
}
