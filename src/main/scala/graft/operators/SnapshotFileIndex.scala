package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  PartitionDirectory}
import org.apache.spark.sql.types.{DataType, StructType}

/** The file index of a snapshot read ([[SnapshotTable.read]]): `files`
  * of `version`, cut per scan to the files whose min/max stats can satisfy
  * its data filters ([[prune]], [[SkippingIndex.mayMatch]]).
  *
  * A column's stats are looked up only when a data filter compares it with
  * a literal, and only from the version's carried manifest entries and then
  * its attached index ([[SnapshotTable.knownStatsRows]]) — never from
  * footers, so planning a read opens no data file. Each column's stats are
  * assembled once per index, and each file's status is fetched once, when
  * a scan first keeps the file. A file, column or predicate without stats
  * is kept.
  *
  * Two indexes are equal over the same qualified table dir, version and
  * file list, as `InMemoryFileIndex`es are over their root paths: repeated
  * reads of one version are one relation to the CacheManager and to
  * exchange reuse.
  */
private[operators] final class SnapshotFileIndex(spark: SparkSession, val dir: String,
    val version: Long, val files: Seq[String]) extends FileIndex {

  private val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
  private val qualifiedDir = fs.makeQualified(new Path(dir)).toString

  /** The version's attached stats index, read at most once. */
  private[operators] lazy val attached: Option[SkippingIndex.StatsIndex] =
    SnapshotTable.attachedIndex(spark, dir, version)

  /** (column, stats type) → file → [min, max] as Catalyst values, for the
    * files whose bounds are known. */
  private val bounds = new ConcurrentHashMap[(String, DataType), Map[String, (Any, Any)]]()

  private def boundsOf(column: String, st: DataType): Map[String, (Any, Any)] =
    bounds.computeIfAbsent((column, st), _ => {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(st)
      SnapshotTable.knownStatsRows(spark, dir, version, files, Seq(column -> st), attached)._1
        .collect { case r if !r.isNullAt(2) && !r.isNullAt(3) =>
          r.getString(0) -> (toCatalyst(r.get(2)), toCatalyst(r.get(3)))
        }.toMap
    })

  /** The files that can hold a row satisfying every one of `filters`
    * (`kept` sorted): the one answer to "which files can match" that every
    * snapshot read, [[SnapshotTable.scanBetween]] and
    * [[SnapshotTable.lookupPoint]] get. */
  def prune(filters: Seq[Expression]): SkippingIndex.Prune = {
    val kept = files.filter(f =>
      filters.forall(SkippingIndex.mayMatch(_, (c, st) => boundsOf(c, st).get(f))))
    SkippingIndex.Prune(files.length, kept.length, kept.sorted)
  }

  private val statuses = new ConcurrentHashMap[String, FileStatus]()

  private def status(f: String): FileStatus =
    statuses.computeIfAbsent(f, _ => fs.getFileStatus(new Path(f)))

  override def rootPaths: Seq[Path] = files.map(f => fs.makeQualified(new Path(f)))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = prune(dataFilters).kept.toSet
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(kept.contains).map(f => FileStatusWithMetadata(status(f)))))
  }

  override def inputFiles: Array[String] = rootPaths.map(_.toUri.toString).toArray

  /** Nothing to refresh: a version's files and their stats never change. */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(status(_).getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case o: SnapshotFileIndex =>
      o.qualifiedDir == qualifiedDir && o.version == version && o.files == files
    case _ => false
  }

  private lazy val hash = (qualifiedDir, version, files).hashCode

  override def hashCode: Int = hash
}
