package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.{DataType, DateType, LongType, StringType, StructField,
  StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Versioned snapshot table: the manifest layer that unifies
  * [[Upsert]] (CDC merge), [[Layout]] (compaction) and [[SkippingIndex]]
  * (file stats) into a table a reader can PIN while writers rewrite it —
  * the Delta/Iceberg snapshot-isolation shape re-expressed over plain
  * parquet + Spark plans.
  *
  * Layout: immutable data files under `<dir>/data/v<N>_<nonce>/`, one
  * writer-unique subdir per commit attempt, and version N's manifest in
  * the store's [[FilesetLog]]: `#` headers (commit instant, schema,
  * dropped columns, carried stats), then one entry per file that IS
  * version N (files may span many data dirs — upserts reuse untouched
  * files).
  *
  * Commit protocol (OPTIMISTIC concurrency): write the new data files
  * FIRST into a writer-unique directory, then publish the manifest with
  * an atomic EXCLUSIVE operation — hard link on POSIX (link(2) fails
  * with EEXIST), rename on HDFS (the namenode refuses a rename onto an
  * existing path) — so the version exists exactly when its manifest
  * does and exactly ONE racer can create it. A losing writer gets
  * [[CommitConflict]]; [[upsert]]/[[compact]] respond by REBASING:
  * re-read the new current version, recompute, retry. A crash
  * mid-commit (or a lost race) leaves orphan data files (invisible;
  * removed by [[vacuum]]) but never a corrupt, clobbered, or
  * half-visible version. Readers resolve `currentVersion` = max
  * manifest and read a FIXED file list, so a concurrent commit — which
  * only ADDS files and a new manifest — cannot disturb them; old
  * versions stay readable until vacuum. (An object store without atomic
  * create-exclusive needs a pointer swap or catalog on top, the same
  * caveat every lakehouse format documents.)
  *
  * Scale design: the interesting path is [[upsert]] — it does NOT
  * rewrite the table. Per-file key min/max stats (footer-only, via
  * [[SkippingIndex.statsRows]]) select the files whose key range
  * intersects the incoming change keys; ONLY those files' rows enter the
  * latest-wins merge, and the new manifest is (untouched files) ++ (new
  * files). On a key-clustered layout the cost is
  * O(affected files + changes), not O(table) — the file-level
  * copy-on-write MERGE every lakehouse implements, here as a Spark plan
  * (broadcast range semi-join for the file selection, one key shuffle
  * for the merge).
  */
object SnapshotTable {

  /** One committed version: its number, full live-file list, and how
    * many of those files were REUSED from the previous version (the
    * copy-on-write evidence — a full rewrite has filesReused == 0).
    */
  final case class Commit(version: Long, files: Seq[String], filesReused: Int)

  /** A writer lost the race for a version number: someone else committed
    * it first. [[upsert]]/[[compact]] catch this and REBASE — re-read the
    * new current version, recompute, retry (optimistic concurrency).
    */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** All committed versions, ascending ([[FilesetLog.versions]]: one
    * listing, bounded by vacuum retention; AS OF resolution within it is
    * O(log retained) header reads, [[versionAsOf]]). A data dir without a
    * manifest (crashed commit) is NOT a version.
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    FilesetLog.versions(spark, dir)

  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    versions(spark, dir).lastOption

  /** True iff `path` is a SnapshotTable root (has at least one committed
    * manifest). One directory listing — cheap enough for open-time
    * dispatch ([[graft.sources.Tables.open]] routes snapshot dirs here).
    */
  def isTable(spark: SparkSession, path: String): Boolean =
    try versions(spark, path).nonEmpty
    catch { case scala.util.control.NonFatal(_) => false }

  /** The live files of `version` (default: current). `#`-prefixed
    * manifest header lines (the version's schema) are not files.
    */
  def files(spark: SparkSession, dir: String, version: Option[Long] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $dir"))
    FilesetLog.manifest(spark, dir, v).entries.map(_.file)
  }

  /** The schema committed WITH `version` — what makes ADD COLUMN work:
    * version n+1's manifest carries the evolved schema, and [[read]]
    * scans n+1's files (old files included, REUSED not rewritten) under
    * it, NULL-backfilling the columns an old file predates. None for a
    * manifest from before schema headers existed (read then infers).
    */
  def schemaOf(spark: SparkSession, dir: String,
      version: Option[Long] = None): Option[StructType] = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $dir"))
    FilesetLog.manifest(spark, dir, v).header(SchemaHeader)
      .map(l => org.apache.spark.sql.types.DataType.fromJson(l).asInstanceOf[StructType])
  }

  private val SchemaHeader = "#schema:"
  private val DroppedHeader = "#dropped:"

  /** Column names DROPPED from the table whose physical data may still
    * live in this version's (un-rewritten) files — the resurrection
    * guard's state: re-adding such a name via upsert would serve STALE
    * values from old files instead of NULLs, so [[upsert]] refuses it
    * until a [[compact]] (full rewrite) clears the set. Carried as a
    * manifest header, propagated by every non-rewriting commit.
    */
  def droppedOf(spark: SparkSession, dir: String,
      version: Option[Long] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $dir"))
    FilesetLog.manifest(spark, dir, v).header(DroppedHeader)
      .map(_.split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
  }

  // ---- per-file key stats carried IN the manifest (#stats: headers) ----
  //
  // The Delta/Iceberg stats-in-manifest design, made LAZY so no commit
  // adds a footer read just to record stats: the per-file key stats an
  // upsert folds for its prune are carried forward in the NEW manifest
  // for every file the commit keeps, so the next upsert footer-scans only
  // the files no commit has needed yet — in steady state the previous
  // commit's new files: O(recent batch files) per upsert, not O(table).
  //
  // Format: one `#stats:<kind>:<urlencoded col>:` header per tracked
  // column, holding per-file `min,max,nulls,nrows` entries ALIGNED with
  // the manifest's file lines, `;`-separated; `?` = unknown field; string
  // values are URL-encoded (so `,;:` and newlines cannot corrupt the
  // line). kind ∈ long|string|micros is derived from the column's stats
  // type in one place ([[statsToken]]): integral keys and DATE day
  // numbers are `long`, TIMESTAMP epoch micros `micros`. Entries are
  // decoded as the stats type of the column the version's `#schema:`
  // commits, and a header whose kind is not that type's is ignored.
  //
  // Entries are verbatim footer folds of IMMUTABLE files, so carrying
  // them is equivalence, not estimation. A malformed or misaligned header
  // is ignored per column (footer scans instead): stats can only cost
  // pruning, never correctness.
  //
  // Carried stats serve every read, not just the next upsert: a version's
  // reads ([[read]], and so [[lookupPoint]], [[scanBetween]], the
  // graft_snapshot TVF and a QueryEngine over the table) go through a
  // [[SnapshotFileIndex]] that skips the files whose carried (else
  // attached-index) min/max cannot satisfy the scan's filters.

  private val StatsHeader = "#stats:"

  /** One file's carried key stats. `nRows` defined == "this file was
    * footer-scanned" ([[SkippingIndex.statsRows]] always reports n_rows);
    * a scanned file with `min`/`max` None has no usable stats (all-null
    * keys, statless chunks) — always affected, and never worth rescanning.
    */
  private[operators] final case class ManifestStat(min: Option[Any],
      max: Option[Any], nulls: Option[Long], nRows: Option[Long]) {
    def known: Boolean = nRows.isDefined
  }

  /** Carried stats per (column, stats type): file → stat. */
  private type CarriedStats = Map[(String, DataType), Map[String, ManifestStat]]

  /** The `#stats:` kind token of a stats type. */
  private def statsToken(st: DataType): String = st match {
    case StringType => "string"
    case TimestampType => "micros"
    case _ => "long"
  }

  /** One entry field: `?` when unknown, a string URL-encoded, any other
    * value as its Catalyst value (a long, DATE days, TIMESTAMP micros). */
  private def encField(v: Option[Any]): String =
    v.map(CatalystTypeConverters.convertToCatalyst) match {
      case None => "?"
      case Some(s: UTF8String) => java.net.URLEncoder.encode(s.toString, "UTF-8")
      case Some(x) => x.toString
    }

  private def decField(st: DataType, s: String): Option[Any] =
    if (s == "?") None
    else Some(SkippingIndex.external(st match {
      case StringType => java.net.URLDecoder.decode(s, "UTF-8")
      case DateType => s.toInt
      case _ => s.toLong
    }, st))

  /** Render `#stats:` headers for `fileList`. Columns with no known entry
    * among the listed files contribute nothing (header omitted).
    */
  private def statsHeaders(fileList: Seq[String], stats: CarriedStats): Seq[String] =
    stats.toSeq.sortBy { case ((c, st), _) => (c, statsToken(st)) }.flatMap {
      case ((colName, st), byFile) =>
        val entries = fileList.map(f => byFile.get(f).filter(_.known))
        if (!entries.exists(_.isDefined)) None
        else Some(StatsHeader + statsToken(st) + ":" +
          java.net.URLEncoder.encode(colName, "UTF-8") + ":" +
          entries.map {
            case Some(s) => Seq(s.min, s.max, s.nulls, s.nRows).map(encField).mkString(",")
            case None => "?,?,?,?"
          }.mkString(";"))
    }

  /** The carried per-file stats of `version`: (column, stats type) →
    * file → stat, covering only files with KNOWN entries. Corrupt or
    * misaligned headers, and headers whose kind is not the committed
    * column's, drop their column (conservative — callers fall back to
    * footer scans).
    */
  private[operators] def manifestStatsOf(spark: SparkSession, dir: String,
      version: Option[Long] = None): CarriedStats = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $dir"))
    val m = FilesetLog.manifest(spark, dir, v)
    val fl = m.entries.map(_.file)
    val schema = schemaOf(spark, dir, Some(v))
    m.headers.filter(_.startsWith(StatsHeader)).flatMap { l =>
      try {
        val Array(kind, encCol, payload) = l.drop(StatsHeader.length).split(":", 3)
        val colName = java.net.URLDecoder.decode(encCol, "UTF-8")
        val st = schema.flatMap(_.find(_.name == colName))
          .flatMap(f => SkippingIndex.statsTypeOf(f.dataType))
          .filter(statsToken(_) == kind)
        val entries = payload.split(";", -1)
        if (st.isEmpty || entries.length != fl.length) None
        else {
          val byFile = fl.zip(entries).flatMap { case (f, e) =>
            val p = e.split(",", -1)
            require(p.length == 4, s"bad stats entry: $e")
            val nr = decField(LongType, p(3)).map(_.asInstanceOf[Long])
            if (nr.isEmpty) None // unknown file — no entry
            else Some(f -> ManifestStat(decField(st.get, p(0)),
              decField(st.get, p(1)),
              decField(LongType, p(2)).map(_.asInstanceOf[Long]), nr))
          }.toMap
          Some((colName, st.get) -> byFile)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }.toMap
  }

  /** Restrict carried stats to `keep`'s files and drop emptied columns —
    * what every non-rewriting commit does to propagate stats forward.
    */
  private def carryStats(stats: CarriedStats, keep: Set[String]): CarriedStats =
    stats.map { case (ck, m) => ck -> m.filter(kv => keep.contains(kv._1)) }
      .filter(_._2.nonEmpty)

  /** Test-visible cost evidence: how many files upsert's prune submitted
    * for a footer-stats scan (the carried-stats design's O(recent batch)
    * claim — the spec asserts a second upsert scans only the first's new
    * files, not the table).
    */
  private[graft] val pruneStatsScanned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Read a PINNED snapshot (default: current). The plan scans a fixed
    * file list, so later commits/compactions are invisible to it; the
    * version's committed schema applies, so files written before an ADD
    * COLUMN serve NULL for the columns they predate (by-name resolution
    * — no mergeSchema footer sweep needed at plan time).
    *
    * Data skipping: the relation's file index ([[SnapshotFileIndex]]) is
    * built from the manifest, and each scan of it opens only the files
    * whose min/max stats can satisfy the scan's filters — comparisons of
    * a stats-typed column with a literal, IN, AND and OR
    * ([[SkippingIndex.mayMatch]]). The stats are the version's carried
    * manifest entries, else its attached index ([[attachStats]]), never
    * footers: planning does no per-file I/O. A file, column or predicate
    * without stats is always read. `inputFiles` lists every live file, and
    * two reads of one version are the same relation (`sameResult`, cache
    * hits, exchange reuse).
    */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $dir"))
    readFiles(spark, new SnapshotFileIndex(spark, dir, v, files(spark, dir, Some(v))))
  }

  /** The files of `index` (files of one version) read under the version's
    * committed schema: no footer inference, and a subset of the files
    * sees exactly the columns a full [[read]] does — a dropped column
    * stays dropped, an added one is NULL on files that predate it. A
    * manifest from before schema headers is read under the schema Spark
    * infers from the version's files.
    */
  private def readFiles(spark: SparkSession, index: SnapshotFileIndex): DataFrame = {
    val (dir, v) = (index.dir, Some(index.version))
    org.apache.spark.sql.graft.ColumnBridge.parquetRelation(spark, index,
      schemaOf(spark, dir, v).getOrElse(spark.read.parquet(files(spark, dir, v): _*).schema))
  }

  /** Write `df` as data files for a candidate version `v` and return
    * their paths, in a writer-unique directory ([[FilesetLog.fileset]]):
    * a racing loser's files become orphans, removed by [[vacuum]].
    */
  private def writeData(df: DataFrame, dir: String, v: Long,
      options: Map[String, String] = Map.empty): Seq[String] =
    FilesetLog.writeFileset(df, FilesetLog.fileset(dir, "data", v), options = options)

  private val CommittedHeader = "#committed:"

  /** The epoch-ms instant `v` became visible: the `#committed:` header
    * stamped INSIDE the manifest at publish — durable metadata that
    * survives a copy/rsync/restore of the table to new storage, unlike
    * the manifest file's mtime (which any copy rewrites, silently
    * losing the history timeline). Stamps are strictly increasing
    * across versions ([[commitManifest]] stamps
    * `max(wallclock, prev + 1)`), so `readAsOf(commitInstantOf(v))`
    * deterministically resolves `v` even when two commits land within
    * one clock tick. Manifests from before the header fall back to
    * mtime — the pre-header operational semantics, granularity caveats
    * and all.
    */
  def commitInstantOf(spark: SparkSession, dir: String, v: Long): Long =
    headerInstant(spark, dir, v)._2

  /** (carries `#committed:` header?, resolved instant) for version `v`,
    * from the manifest's first line alone ([[FilesetLog.firstLine]], a
    * bounded prefix read memoized per path, mtime and length) — the
    * header is always the FIRST line when present ([[commitManifest]]
    * writes it first), so AS OF resolution costs the same on a 10⁶-file
    * manifest as on a 10-file one.
    */
  private def headerInstant(spark: SparkSession, dir: String,
      v: Long): (Boolean, Long) = {
    val (first, mtime) = FilesetLog.firstLine(spark, dir, v)
    if (first.startsWith(CommittedHeader)) (true, first.drop(CommittedHeader.length).trim.toLong)
    else (false, mtime)
  }

  /** Atomically publish `fileList` as version `v`, or throw
    * [[CommitConflict]] if another writer committed `v` first — the
    * [[ManifestCommit]] exclusive-publish primitive (hard link on POSIX,
    * rename-without-replace on HDFS; IO failures surface as IOException,
    * never as a conflict). The manifest carries a `#committed:` commit
    * instant: `max(wallclock, predecessor instant + 1)`, so instants are
    * strictly increasing even under sub-ms commit bursts or a clock
    * stepping backward between commits (the predecessor is the latest
    * EXISTING version below `v` — a vacuumed prefix only ever removes
    * older, smaller instants, so the bound survives vacuum).
    */
  private def commitManifest(spark: SparkSession, dir: String, v: Long,
      fileList: Seq[String], schema: Option[StructType],
      dropped: Seq[String] = Seq.empty,
      stats: CarriedStats = Map.empty): Unit = {
    val prevInstant = versions(spark, dir).filter(_ < v).lastOption
      .map(pv => commitInstantOf(spark, dir, pv)).getOrElse(0L)
    val stamp = math.max(System.currentTimeMillis(), prevInstant + 1L)
    FilesetLog.publish(spark, dir, v,
      Seq(CommittedHeader + stamp) ++
        schema.map(s => SchemaHeader + s.json).toSeq ++
        (if (dropped.nonEmpty) Seq(DroppedHeader + dropped.sorted.mkString(","))
         else Seq.empty) ++
        statsHeaders(fileList, stats),
      fileList.map(FilesetLog.Entry("", None, _)))
  }

  /** Create version 1 from `df`. Pre-shape the frame for later pruning
    * (e.g. `df.repartitionByRange(n, col(key))` for tight per-file key
    * ranges) — create writes it as given.
    */
  def create(spark: SparkSession, df: DataFrame, dir: String): Commit = {
    require(currentVersion(spark, dir).isEmpty, s"table already exists under $dir")
    val fl = writeData(df, dir, 1L)
    commitManifest(spark, dir, 1L, fl, Some(df.schema))
    Commit(1L, fl, 0)
  }

  /** File-pruned latest-wins MERGE of `changes` (tombstones honored via
    * `deleteCol`) into the current version, committed as version n+1:
    *
    *  1. per-file [min,max] of `keyCol` ([[statsRowsVia]], on the
    *     driver, no job): manifest-carried, else the attached index, else
    *     footer-folded — an index refreshed per commit
    *     ([[attachStatsIncremental]]) leaves no footer to read;
    *  2. a file is AFFECTED iff some change key falls inside its range
    *     (stats × distinct-keys broadcast range join; files with no
    *     stats are conservatively affected);
    *  3. merge = [[Upsert.latestWins]] over (affected files' rows ∪
    *     changes) with versions kept, written as new files;
    *  4. manifest n+1 = untouched files ++ new files.
    *
    * Change rows whose keys land in NO existing file (pure inserts) are
    * in the merge input by construction.
    *
    * Key types: every key type with ordered footer stats
    * ([[SkippingIndex.statsTypeOf]]: integral, DATE, TIMESTAMP, STRING)
    * prunes by joining the change keys, cast to the stats type, against
    * per-file `kmin`/`kmax` of that type — Spark's own comparison, so
    * strings compare as unsigned bytes on both sides. Any OTHER key type,
    * or a stats build that fails (missing chunks, INT96 timestamps,
    * exotic physical types), degrades gracefully to ALL files affected:
    * correctness is preserved (the merge sees the whole table), only
    * pruning is lost.
    *
    * Schema evolution (ADD COLUMN): changes may carry columns the table
    * lacks — they become part of version n+1's committed schema
    * (manifest header), NULL on every row an old file serves and on
    * every merged base row; untouched files are REUSED, never rewritten.
    * A change column whose type differs from the table's is rejected
    * with IllegalArgumentException (no silent coercion); changes missing
    * an existing table column fail the merge's column resolution loudly.
    * Pinned reads of older versions keep their own committed schema.
    *
    * Concurrency: optimistic. The merge is computed against the current
    * version and committed with the exclusive manifest publish; a
    * [[CommitConflict]] (another writer took the version number) REBASES
    * — re-reads the new current version, recomputes the prune+merge, and
    * retries, up to `maxRetries` times. Losers' data files are orphans
    * until [[vacuum]]. Concurrent upserts therefore serialize into some
    * order of commits; latest-wins semantics make the result independent
    * of that order for disjoint keys (and versionCol-decided for
    * overlapping ones).
    */
  def upsert(spark: SparkSession, dir: String, changes: DataFrame,
      keyCol: String, versionCol: String, tieCol: String,
      deleteCol: String = "_deleted", maxRetries: Int = 5): Commit = {
    var attempt = 0
    while (true) {
      val v = currentVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no table under $dir — create() first"))
      val live = files(spark, dir, Some(v))
      val tableSchema = schemaOf(spark, dir, Some(v))
        .getOrElse(read(spark, dir, Some(v)).schema)
      val keyType = tableSchema(keyCol).dataType
      // SCHEMA EVOLUTION (ADD COLUMN): change columns the table lacks
      // evolve the schema — the merge output carries them, version n+1's
      // manifest commits the evolved schema, and the UNTOUCHED files
      // (reused, never rewritten) NULL-backfill them at read. A column
      // whose TYPE differs from the table's is rejected loudly — silent
      // coercion would corrupt the key/file-stat pruning contract and
      // every pinned reader's expectations.
      val changeFields = changes.schema.fields.filterNot(_.name == deleteCol)
      val baseByName = tableSchema.fields.map(f => f.name -> f).toMap
      val mismatched = changeFields.filter(f =>
        baseByName.get(f.name).exists(_.dataType != f.dataType))
      require(mismatched.isEmpty,
        "schema evolution accepts NEW nullable columns only; type changes rejected: " +
          mismatched.map(f => s"${f.name} (table " +
            s"${baseByName(f.name).dataType.simpleString}, changes " +
            s"${f.dataType.simpleString})").mkString(", "))
      val newFields = changeFields.filterNot(f => baseByName.contains(f.name))
      // RESURRECTION GUARD (the DROP COLUMN hazard): a "new" column whose
      // name was dropped earlier still has physical data in every
      // un-rewritten file — committing it back into the schema would
      // serve those STALE values (not NULLs) on old rows. Refuse until a
      // compact() (full rewrite) clears the dropped set.
      val dropped = droppedOf(spark, dir, Some(v))
      val resurrected = newFields.map(_.name).filter(dropped.contains)
      require(resurrected.isEmpty,
        s"column(s) ${resurrected.mkString(", ")} were DROPPED from this " +
          "table and their physical data still lives in old files — " +
          "re-adding the name would resurrect stale values on " +
          "un-rewritten rows; compact() the table first (a full rewrite " +
          "clears the dropped set) or use a new name")
      // the STATS side is the small one (a row per file) — broadcast it
      // and stream the change keys through, so the file selection scales
      // with changes, not files × keys; distinct file paths are the
      // collected FILE LIST (the standard driver-side index footprint).
      // The stats side is a LOCAL relation (manifest-carried entries,
      // the version's index rows, the footer-scanned remainder), so the
      // broadcast costs no job of its own.
      def pruneWith(stats: DataFrame, keys: DataFrame): Set[String] =
        keys.join(broadcast(stats),
            col("kmin").isNull || col("kmax").isNull ||
              (col("__k") >= col("kmin") && col("__k") <= col("kmax")))
          .select("file").distinct().collect().map(_.getString(0)).toSet
      // the key's stats type — None (no ordered footer stats for this
      // key type) degrades to all-files-affected
      val statsType = SkippingIndex.statsTypeOf(keyType)
      val priorStats = manifestStatsOf(spark, dir, Some(v))
      val (affected, keyStats) = statsType match {
        case None => (live.toSet, Map.empty[String, ManifestStat])
        case Some(st) => try {
          // footer-folds ONLY the files neither an earlier commit's carried
          // entries nor the version's index covers — without an index the
          // previous commit's new files, O(batch) not O(table); with one
          // refreshed per commit, none
          val (rows, folded) = statsRowsVia(spark, dir, v, live, Seq(keyCol -> st))
          pruneStatsScanned.addAndGet(folded.toLong)
          // LocalRelation (not an RDD): the broadcast build collects it
          // driver-side without launching a job
          val statsDf = spark.createDataFrame(rows.map(r => Row(r(0), r(2), r(3))).asJava,
            StructType(Seq(StructField("file", StringType, nullable = false),
              StructField("kmin", st, nullable = true),
              StructField("kmax", st, nullable = true))))
          (pruneWith(statsDf, changes.select(col(keyCol).cast(st).as("__k")).distinct()),
            rows.map(r => r.getString(0) -> ManifestStat(Option(r(2)), Option(r(3)),
              Option(r(4)).map(_.asInstanceOf[Long]), Some(r.getLong(1)))).toMap)
        } catch {
          // degrade, stay correct (and carry nothing — the next upsert
          // rescans from scratch, the pre-stats behavior)
          case scala.util.control.NonFatal(_) =>
            (live.toSet, Map.empty[String, ManifestStat])
        }
      }
      val untouched = live.filterNot(affected.contains)
      val baseRaw =
        if (affected.isEmpty)
          // no file intersects: inserts only — merge over an empty base
          // with the table's schema
          read(spark, dir, Some(v)).limit(0)
        else spark.read.schema(tableSchema).parquet(affected.toSeq.sorted: _*)
      // evolved columns join the base side as NULLs so latest-wins sees
      // one uniform schema; only the AFFECTED files' rows pay this —
      // untouched files backfill lazily at read via the committed schema
      val base = newFields.foldLeft(baseRaw)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
      val merged = Upsert.latestWins(base, changes, Seq(keyCol),
        versionCol, tieCol, deleteCol, keepVersionCol = true)
      val fl = writeData(merged, dir, v + 1)
      val all = (untouched ++ fl).sorted
      // carry stats forward for the files this commit KEEPS: the key
      // column's refreshed entries (carried ++ freshly scanned) plus
      // every other tracked column's carried entries; the commit's own
      // new files stay unknown — the next upsert that needs them scans
      // exactly those (lazy, no extra job here). Columns no longer in
      // the schema drop out.
      val statsForward = carryStats(
        statsType.fold(priorStats)(st => priorStats.updated((keyCol, st),
            priorStats.getOrElse((keyCol, st), Map.empty) ++ keyStats))
          .filter { case ((c, _), _) => merged.schema.fieldNames.contains(c) },
        untouched.toSet)
      try {
        commitManifest(spark, dir, v + 1, all, Some(merged.schema), dropped,
          statsForward)
        return Commit(v + 1, all, untouched.length)
      } catch {
        case e: CommitConflict =>
          if (attempt >= maxRetries) throw e
          attempt += 1 // rebase: loop re-reads the new current version
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Rewrite the CURRENT version's rows into ~ceil(n/targetRecords)
    * bounded files ([[Layout.compact]]'s arithmetic), committed as a new
    * version. Readers pinned to older versions are untouched — their
    * files are still on disk until [[vacuum]]. `n` is the sum of the
    * version's attached stats index `n_rows` (footer row counts, read on
    * the driver) when that index lists exactly the live files; otherwise
    * a count job over the version.
    *
    * `zOrderOn = Some((x, y, bits))` makes the rewrite a
    * [[Layout]] z-order CLUSTERING pass: files become contiguous Morton
    * intervals with tight per-file bounding boxes in both columns — the
    * layout maintenance that makes [[attachStats]]/[[scanBetween]]
    * actually skip.
    *
    * `sortOn = Some(col)` is the 1-D clustering variant: range-partition
    * + sort by `col`, so the rewrite PRESERVES (or establishes) the
    * key-clustered layout the table's pruning surfaces live on — upsert
    * file selection, [[scanBetween]], [[keysetWalk]] all degrade to
    * read-everything on a round-robin layout, so a maintenance pass of a
    * key-clustered table should always pass its cluster key here. The
    * default (neither option) is a plain bin-pack: fastest rewrite,
    * no ordering promise.
    */
  def compact(spark: SparkSession, dir: String, targetRecords: Long,
      zOrderOn: Option[(String, String, Int)] = None,
      sortOn: Option[String] = None,
      maxRetries: Int = 5): Commit = {
    require(zOrderOn.isEmpty || sortOn.isEmpty,
      "compact takes zOrderOn OR sortOn, not both")
    var attempt = 0
    while (true) {
      val v = currentVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no table under $dir"))
      val df = read(spark, dir, Some(v))
      val n = indexedRowCount(spark, dir, v).getOrElse(df.count())
      val nf = math.max(1L, (n + targetRecords - 1) / targetRecords).toInt
      val shaped = (zOrderOn, sortOn) match {
        case (Some((x, y, bits)), _) =>
          Layout.withZValue(df, x, y, bits)
            .repartitionByRange(nf, col("z"))
            .sortWithinPartitions("z")
            .drop("z")
        case (None, Some(c)) =>
          df.repartitionByRange(nf, col(c)).sortWithinPartitions(c)
        case _ => df.repartition(nf)
      }
      val fl = writeData(shaped, dir, v + 1,
        Map("maxRecordsPerFile" -> targetRecords.toString))
      try {
        commitManifest(spark, dir, v + 1, fl, Some(df.schema))
        return Commit(v + 1, fl, 0)
      } catch {
        case e: CommitConflict =>
          if (attempt >= maxRetries) throw e
          attempt += 1 // rebase onto whatever version won
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Predicate DELETE (the `DELETE FROM t WHERE cond` face), copy-on-
    * write: remove every current-version row matching `cond`, committed
    * as version n+1. Two phases, both file-bounded:
    *
    *  1. FIND — one scan of the pinned version groups matching rows by
    *     `input_file_name()`: the exact affected-file set plus the
    *     deleted-row count, in one job. `cond` pushes down to the
    *     parquet reader, so row-group min/max stats skip non-matching
    *     row groups on a clustered layout — the find costs the files
    *     the predicate CAN touch, and on a `cond` over the clustering
    *     key that is O(matching files), not O(table).
    *  2. REWRITE — only the affected files are re-read and written back
    *     with the survivors; every other file is REUSED in manifest
    *     n+1 (the [[Commit.filesReused]] evidence). A `cond` that
    *     evaluates to NULL keeps the row — SQL DELETE deletes only
    *     where the predicate is TRUE.
    *
    * A predicate matching nothing commits NO new version (the returned
    * commit is the current one, 0 rows deleted) — no empty churn in the
    * history. Concurrency is optimistic like [[upsert]]: a lost race
    * rebases onto the winner's version and re-runs both phases, up to
    * `maxRetries` times. Returns (commit, rows deleted). Downstream
    * [[changes]] between n and n+1 emits exactly the deleted rows as
    * `delete` pre-images — carried-over survivor rows are content-equal
    * and stay silent.
    */
  def delete(spark: SparkSession, dir: String, cond: Column,
      maxRetries: Int = 5): (Commit, Long) = {
    var attempt = 0
    while (true) {
      val v = currentVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no table under $dir"))
      val live = files(spark, dir, Some(v))
      val tableSchema = schemaOf(spark, dir, Some(v))
        .getOrElse(read(spark, dir, Some(v)).schema)
      val hits = read(spark, dir, Some(v)).filter(cond)
        .groupBy(input_file_name().as("__f")).agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val deleted = hits.map(_._2).sum
      if (hits.isEmpty) return (Commit(v, live, live.length), 0L)
      // input_file_name yields URI-encoded file: paths; manifests store
      // plain absolute paths — normalize through Hadoop Path
      val affected = hits.map { case (f, _) =>
        new Path(new java.net.URI(f)).toUri.getPath }.toSet
      val (touched, untouched) = live.partition(p =>
        affected.contains(new Path(p).toUri.getPath))
      require(touched.length == affected.size,
        s"delete resolved ${affected.size} affected files but matched " +
          s"${touched.length} manifest entries — path normalization bug")
      val survivors = readFiles(spark, new SnapshotFileIndex(spark, dir, v, touched.sorted))
        .filter(!coalesce(cond, lit(false)))
      val fl = writeData(survivors, dir, v + 1)
      val all = (untouched ++ fl).sorted
      try {
        // delete rewrites only the affected files: the dropped set's
        // physical data survives in the reused files — propagate it,
        // and carry the kept files' stats (zero jobs; the rewritten
        // survivors stay unknown until an upsert needs them)
        commitManifest(spark, dir, v + 1, all, Some(tableSchema),
          droppedOf(spark, dir, Some(v)),
          carryStats(manifestStatsOf(spark, dir, Some(v)), untouched.toSet))
        return (Commit(v + 1, all, untouched.length), deleted)
      } catch {
        case e: CommitConflict =>
          if (attempt >= maxRetries) throw e
          attempt += 1 // rebase: loop re-reads the winner's version
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** RESTORE VERSION: make the table's CURRENT content equal
    * `toVersion`'s by committing a NEW version n+1 whose manifest is
    * `toVersion`'s file list + schema verbatim — a pure manifest
    * operation over the immutable files, no data read or written,
    * O(manifest) whatever the table size. History is preserved (the
    * versions between `toVersion` and n stay pinned-readable; an undo
    * is ordinary history, not a rewrite), [[changes]] between n and n+1
    * emits exactly the net row diff of the undo, and [[vacuum]] keeps
    * the restored files alive because the NEW manifest references them.
    * Fails (manifest missing) if `toVersion` was already vacuumed away.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Long,
      maxRetries: Int = 5): Commit = {
    var attempt = 0
    while (true) {
      val v = currentVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no table under $dir"))
      val fl = files(spark, dir, Some(toVersion))
      val schema = schemaOf(spark, dir, Some(toVersion))
      val f = FilesetLog.fs(spark, dir)
      val missing = fl.filterNot(p => f.exists(new Path(p)))
      require(missing.isEmpty,
        s"cannot restore to v$toVersion — ${missing.length} of its data " +
          s"files were vacuumed (first: ${missing.headOption.getOrElse("")})")
      try {
        // the restored manifest is toVersion's verbatim — including its
        // dropped set (restoring PAST a drop legitimately undrops: the
        // old schema serves the still-present physical data again) and
        // its carried stats (same files, same immutable footers)
        commitManifest(spark, dir, v + 1, fl, schema,
          droppedOf(spark, dir, Some(toVersion)),
          manifestStatsOf(spark, dir, Some(toVersion)))
        return Commit(v + 1, fl, fl.length)
      } catch {
        case e: CommitConflict =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The file-level symmetric difference between two versions' manifests:
    * `removed` = files live at `fromV` but not `toV` (their rows are the
    * PRE-image candidates), `added` = files live at `toV` but not `fromV`
    * (POST-image candidates). Every file both versions share is
    * untouched by definition (immutable files) and contributes nothing
    * to the diff — this is what makes [[changes]] O(touched data), not
    * O(table).
    */
  final case class ChangedFiles(removed: Seq[String], added: Seq[String])

  def changedFiles(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): ChangedFiles = {
    val from = files(spark, dir, Some(fromV)).toSet
    val to = files(spark, dir, Some(toV)).toSet
    ChangedFiles((from -- to).toSeq.sorted, (to -- from).toSeq.sorted)
  }

  /** CDC READ: the row-level changes between two committed versions, as
    * a change feed a downstream consumer (or [[maintainStream]] on
    * another table) can apply — the `table_changes` face of the
    * snapshot format, derived ENTIRELY from the manifests + immutable
    * files, with no change log to maintain.
    *
    * One row per changed key per image, Delta-CDF-style `_change_type`:
    *  - `insert`            — key absent at `fromV`, present at `toV`
    *    (post-image values)
    *  - `delete`            — key present at `fromV`, absent at `toV`
    *    (pre-image values)
    *  - `update_preimage` / `update_postimage` — key present in both
    *    with any non-`ignoreCols` column changed (one row each)
    *
    * Unchanged rows — including the unchanged rows a copy-on-write
    * rewrite carried into new files, and everything a pure layout
    * change (compact / z-order) rewrote — are NOT emitted: the diff is
    * over CONTENT, so `changes` across a compaction-only commit is
    * empty.
    *
    * Scale shape: reads ONLY the manifests' symmetric difference
    * ([[changedFiles]]) — on a key-clustered table an upsert touches the
    * files its keys intersect, so the diff cost is O(touched files),
    * never O(table). One key-shuffle full-outer join between the two
    * sides, a null-safe struct comparison, one explode — no window, no
    * driver-side rows. Across MANY commits the endpoint diff yields the
    * NET change (intermediate flip-flops cancel); call per adjacent pair
    * for per-commit granularity. A diff spanning a compaction reads the
    * rewritten files but still emits only true changes.
    *
    * Schema evolution: the output carries `toV`'s committed columns
    * (minus `ignoreCols`); pre-images from files that predate an ADD
    * COLUMN serve NULL for it, exactly as a pinned read of `fromV`
    * would through an explicit NULL column. `ignoreCols` is for columns
    * whose churn is not a content change (e.g. the upsert's versionCol,
    * which rewrites bump on every winning change row).
    */
  def changes(spark: SparkSession, dir: String, keyCol: String,
      fromV: Long, toV: Long, ignoreCols: Seq[String] = Nil): DataFrame = {
    require(fromV < toV, s"changes needs fromV < toV, got $fromV >= $toV")
    val cf = changedFiles(spark, dir, fromV, toV)
    val toSchema = schemaOf(spark, dir, Some(toV))
      .getOrElse(read(spark, dir, Some(toV)).schema)
    val outCols = toSchema.fieldNames.toSeq
      .filterNot(c => ignoreCols.contains(c) && c != keyCol)
    require(outCols.contains(keyCol), s"key column $keyCol not in table schema")
    val valueCols = outCols.filterNot(_ == keyCol)
    def side(fl: Seq[String], v: Long): DataFrame = {
      val raw = readFiles(spark, new SnapshotFileIndex(spark, dir, v, fl))
      // pre-images predate any ADD COLUMN: serve NULL for columns the
      // from-side schema lacks, exactly like a pinned old-version read
      outCols.foldLeft(raw)((df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast(toSchema(c).dataType)))
        .select(outCols.map(col): _*)
    }
    val pre = side(cf.removed, fromV).alias("a")
    val post = side(cf.added, toV).alias("b")
    val joined = pre.join(post, col(s"a.$keyCol") === col(s"b.$keyCol"), "full_outer")
    def img(sideName: String, tpe: String) = struct(
      lit(tpe).as("_change_type") +:
        outCols.map(c => col(s"$sideName.$c").as(c)): _*)
    val aVals = struct(valueCols.map(c => col(s"a.$c")): _*)
    val bVals = struct(valueCols.map(c => col(s"b.$c")): _*)
    joined.select(explode(
      when(col(s"a.$keyCol").isNull, array(img("b", "insert")))
        .when(col(s"b.$keyCol").isNull, array(img("a", "delete")))
        .when(!(aVals <=> bVals),
          array(img("a", "update_preimage"), img("b", "update_postimage")))
        // unchanged row (copy-on-write carry-over): NULL array —
        // explode(NULL) emits zero rows, so it simply disappears
        .otherwise(lit(null))).as("_ch"))
      .select(col("_ch.*"))
  }

  private def statsDir(dir: String, v: Long): String =
    s"$dir/stats/" + f"v$v%05d"

  /** Version `v`'s row count from its attached index (sum of `n_rows`),
    * when the index lists exactly the version's live files. */
  private def indexedRowCount(spark: SparkSession, dir: String, v: Long): Option[Long] = {
    val live = files(spark, dir, Some(v)).toSet
    attachedIndex(spark, dir, v).flatMap { ix =>
      val iRows = ix.schema.fieldIndex("n_rows")
      if (ix.rows.length == live.size && ix.rows.map(_.getString(0)).toSet == live &&
          !ix.rows.exists(_.isNullAt(iRows))) Some(ix.rows.map(_.getLong(iRows)).sum)
      else None
    }
  }

  /** `cols` with the stats types of their committed column types
    * ([[SkippingIndex.statsTypesOf]]). */
  private def statsTypes(spark: SparkSession, dir: String, v: Long,
      cols: Seq[String]): Seq[(String, DataType)] =
    SkippingIndex.statsTypesOf(
      schemaOf(spark, dir, Some(v)).getOrElse(read(spark, dir, Some(v)).schema), cols)

  /** Version `v`'s attached stats index, None when it has none or it
    * cannot be read. */
  private[operators] def attachedIndex(spark: SparkSession, dir: String,
      v: Long): Option[SkippingIndex.StatsIndex] =
    try SkippingIndex.readIndex(spark, statsDir(dir, v))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Stats rows for `fl` over `cols` in [[SkippingIndex.statsRows]]'
    * shape, on the driver, each file's from the first source that knows
    * it for every column: the MANIFEST-CARRIED entries, else version `v`'s
    * attached index `index` (when it holds every stats column with its
    * type; read only when the manifest leaves a file unknown). Carried
    * entries and index rows are earlier footer folds of the same immutable
    * files, so both sources yield the same row. Also returns the files
    * neither knows. No footer is read.
    */
  private[operators] def knownStatsRows(spark: SparkSession, dir: String, v: Long,
      fl: Seq[String], cols: Seq[(String, DataType)],
      index: => Option[SkippingIndex.StatsIndex]): (Seq[Row], Seq[String]) = {
    val perCol = {
      val ms =
        try manifestStatsOf(spark, dir, Some(v))
        catch { case scala.util.control.NonFatal(_) => Map.empty: CarriedStats }
      cols.map(c => ms.getOrElse(c, Map.empty[String, ManifestStat]))
    }
    val covered =
      if (cols.isEmpty) Seq.empty
      else fl.filter(f => perCol.forall(_.get(f).exists(_.known)))
    val carried = covered.map { f =>
      Row.fromSeq(f +: perCol.head(f).nRows.get +: perCol.flatMap { m =>
        val s = m(f)
        Seq(s.min.orNull, s.max.orNull, s.nulls.map(Long.box).orNull)
      })
    }
    val coveredSet = covered.toSet
    val uncarried = fl.filterNot(coveredSet.contains)
    val schema = SkippingIndex.statsSchemaOf(cols)
    val indexed =
      if (uncarried.isEmpty) Seq.empty
      else index.filter(ix => schema.forall(f =>
          ix.schema.exists(g => g.name == f.name && g.dataType == f.dataType)))
        .fold(Seq.empty[Row]) { ix =>
          val order = schema.fieldNames.toSeq.map(ix.schema.fieldIndex)
          val wanted = uncarried.toSet
          ix.rows.filter(r => wanted.contains(r.getString(0))).map(r => Row.fromSeq(order.map(r.get)))
        }
    val indexedSet = indexed.map(_.getString(0)).toSet
    (carried ++ indexed, uncarried.filterNot(indexedSet.contains))
  }

  /** [[knownStatsRows]] with the files neither source knows footer-folded
    * ([[SkippingIndex.footerRows]]): stats rows for every file of `fl`.
    * Also returns how many files were footer-folded.
    */
  private def statsRowsVia(spark: SparkSession, dir: String, v: Long,
      fl: Seq[String], cols: Seq[(String, DataType)]): (Seq[Row], Int) = {
    val (known, rest) = knownStatsRows(spark, dir, v, fl, cols, attachedIndex(spark, dir, v))
    (known ++ (if (rest.isEmpty) Nil else SkippingIndex.footerRows(spark, rest, cols)),
      rest.length)
  }

  /** Build the [[SkippingIndex]] stats table for a version's live files
    * at the version-scoped stats location — each snapshot gets its own
    * index, because each snapshot is a different file set. Each column's
    * stats type is its committed type's ([[SkippingIndex.statsTypeOf]]).
    * Rows the manifest already carries (earlier upsert prunes over the
    * same immutable files) are reused ([[statsRowsVia]]); only the rest
    * pay a footer read, folded on the driver, and the rows are written
    * from the driver ([[SkippingIndex.writeIndex]]): the build runs no
    * Spark job.
    */
  def attachStats(spark: SparkSession, dir: String, cols: Seq[String],
      version: Option[Long] = None): Unit = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $dir"))
    val typed = statsTypes(spark, dir, v, cols)
    SkippingIndex.writeIndex(spark, statsDir(dir, v), SkippingIndex.statsSchemaOf(typed),
      statsRowsVia(spark, dir, v, files(spark, dir, Some(v)), typed)._1)
  }

  /** Metadata-only SHALLOW CLONE: commit a NEW table at `dstDir` whose
    * version-1 manifest is `srcDir`'s pinned file list + schema
    * VERBATIM — zero data read or written, O(manifest) at any table
    * size (the Delta `CREATE TABLE ... SHALLOW CLONE` semantics). The
    * clone is immediately independent for WRITES: upserts/deletes/
    * compactions on it write new files under ITS directory and never
    * touch the source (files are immutable, manifests reference
    * absolute paths). It stays dependent for STORAGE: cloned manifests
    * reference the source's data files, so a `vacuum` of the SOURCE can
    * delete files the clone still needs — the standard shallow-clone
    * retention hazard every lakehouse documents; deep-copy via
    * `create(spark, read(src), dst)` when the source's lifecycle is not
    * under your control.
    */
  def shallowClone(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None): Commit = {
    require(currentVersion(spark, dstDir).isEmpty,
      s"table already exists under $dstDir")
    val v = version.orElse(currentVersion(spark, srcDir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $srcDir"))
    val fl = files(spark, srcDir, Some(v))
    commitManifest(spark, dstDir, 1L, fl, schemaOf(spark, srcDir, Some(v)),
      droppedOf(spark, srcDir, Some(v)),
      // shared immutable files, shared footer stats — the clone's first
      // upsert prunes without rescanning the source's files
      manifestStatsOf(spark, srcDir, Some(v)))
    Commit(1L, fl, fl.length)
  }

  /** RENAME COLUMN — value-preserving schema evolution. A metadata-only
    * rename is impossible in this format (files resolve columns BY
    * NAME; renaming the schema field would NULL every old row, and
    * [[dropColumn]] + ADD loses the values), so rename is an honest
    * FULL REWRITE: every current row re-written under the new name,
    * committed as version n+1 — the [[compact]] cost, stated in the
    * API rather than hidden. The rewrite clears the `#dropped:` set
    * (no old physical bytes survive), so both the old name and any
    * previously-dropped name are immediately re-addable; pinned reads
    * of older versions keep the old name with its values. Optimistic
    * concurrency like every commit here.
    */
  def renameColumn(spark: SparkSession, dir: String, from: String, to: String,
      targetRecords: Long = 1L << 22, maxRetries: Int = 5): Commit = {
    require(!to.contains(","),
      "column names containing ',' are unsupported (dropped-set header)")
    require(from != to, "rename needs two different names")
    var attempt = 0
    while (true) {
      val v = currentVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no table under $dir"))
      val schema = schemaOf(spark, dir, Some(v))
        .getOrElse(read(spark, dir, Some(v)).schema)
      require(schema.fieldNames.contains(from),
        s"column $from is not in the table schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"column $to already exists in the table schema")
      val df = read(spark, dir, Some(v)).withColumnRenamed(from, to)
      val n = df.count()
      val nf = math.max(1L, (n + targetRecords - 1) / targetRecords).toInt
      val fl = writeData(df.repartition(nf), dir, v + 1,
        Map("maxRecordsPerFile" -> targetRecords.toString))
      try {
        // full rewrite: dropped set cleared (no stale bytes survive)
        commitManifest(spark, dir, v + 1, fl, Some(df.schema))
        return Commit(v + 1, fl, 0)
      } catch {
        case e: CommitConflict =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** DROP COLUMN — metadata-only schema evolution, the pair of upsert's
    * ADD COLUMN: commit version n+1 with the SAME file list and the
    * schema minus `colName`. No data is read or rewritten (O(manifest)
    * at any table size — the Delta column-mapping idea without the
    * indirection); [[read]]'s explicit-schema scan simply stops
    * projecting the column, and pinned reads of older versions keep it
    * with its values. RENAME = dropColumn + an upsert adding the new
    * name.
    *
    * The dropped NAME joins the manifest's `#dropped:` set: its
    * physical data still lives in every un-rewritten file, so
    * re-adding the same name would serve those STALE values on old
    * rows — [[upsert]] refuses exactly that until a [[compact]] (full
    * rewrite, which clears the set) releases the name. [[restore]] to a
    * pre-drop version undrops (old schema + still-present data — a pure
    * manifest operation both ways), and [[changes]] across a drop
    * commit is EMPTY: no file changed, and CDC diffs content under the
    * TO-version's columns.
    *
    * Concurrency: optimistic like every commit here — a lost race
    * rebases on the winner's schema and retries.
    */
  def dropColumn(spark: SparkSession, dir: String, colName: String,
      maxRetries: Int = 5): Commit = {
    require(!colName.contains(","),
      "column names containing ',' are unsupported (dropped-set header)")
    var attempt = 0
    while (true) {
      val v = currentVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no table under $dir"))
      val schema = schemaOf(spark, dir, Some(v))
        .getOrElse(read(spark, dir, Some(v)).schema)
      require(schema.fieldNames.contains(colName),
        s"column $colName is not in the table schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      require(schema.fields.length > 1, "cannot drop the table's only column")
      val fl = files(spark, dir, Some(v))
      val evolved = StructType(schema.fields.filterNot(_.name == colName))
      val dropped = (droppedOf(spark, dir, Some(v)) :+ colName).distinct
      try {
        // same files, so carried stats survive — minus the dropped
        // column's (its name leaves the schema)
        commitManifest(spark, dir, v + 1, fl, Some(evolved), dropped,
          manifestStatsOf(spark, dir, Some(v))
            .filter { case ((c, _), _) => c != colName })
        return Commit(v + 1, fl, fl.length)
      } catch {
        case e: CommitConflict =>
          if (attempt >= maxRetries) throw e
          attempt += 1 // rebase onto the winner's schema
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Resolve the newest version committed at or before `tsMillis` — the
    * `AS OF TIMESTAMP` face of time travel. A version's commit time is
    * its [[commitInstantOf]] instant: the `#committed:` header stamped
    * inside the manifest at publish — durable across table copies and
    * strictly increasing by construction. Manifests predating the
    * header fall back to mtime; a mixed timeline (header versions after
    * mtime versions, or a copied table whose old-manifest mtimes were
    * rewritten) is forced monotone by a running max, so the
    * version→instant mapping stays order-preserving and the answer is
    * always a valid version (never one "from the future"). None when
    * the table had no committed version yet at `tsMillis`.
    *
    * Cost: on an all-header timeline (any table only ever written by
    * this library) the resolution BISECTS — O(log versions) bounded
    * 64-byte header reads, memoized — instead of opening every
    * manifest; only a legacy mtime-bearing timeline pays the linear
    * running-max walk.
    */
  def versionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Option[Long] = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) None
    // Header manifests form a SUFFIX of any timeline this library wrote:
    // [[commitManifest]] has stamped `#committed:` on every publish since
    // the header existed, and versions only grow — so header-less
    // (legacy/pre-header) manifests can only sit BEFORE the first stamped
    // one. If the OLDEST retained manifest carries a header, every
    // retained instant is the stamped, STRICTLY-INCREASING value, and the
    // resolution is an exact lower-bound bisection: O(log versions)
    // bounded header reads (each cached), not a linear walk — a
    // 10⁶-commit table answers AS OF in ~20 header reads, not a million
    // file opens.
    else if (headerInstant(spark, dir, vs.head)._1) {
      if (commitInstantOf(spark, dir, vs.head) > tsMillis) None
      else {
        var lo = 0
        var hi = vs.length - 1
        while (lo < hi) {
          val mid = (lo + hi + 1) >>> 1
          if (commitInstantOf(spark, dir, vs(mid)) <= tsMillis) lo = mid
          else hi = mid - 1
        }
        Some(vs(lo))
      }
    } else {
      // mixed/legacy timeline (mtime fallbacks somewhere): mtimes are
      // order-preserving only under the running max, not strictly
      // monotone, so bisection can't be trusted — keep the linear walk
      var run = Long.MinValue
      vs.map { v =>
          run = math.max(run, commitInstantOf(spark, dir, v))
          (v, run)
        }
        .filter(_._2 <= tsMillis)
        .lastOption.map(_._1)
    }
  }

  /** [[read]] pinned to [[versionAsOf]]'s resolution of `tsMillis`.
    * Throws when no version is servable at that instant — and the error
    * distinguishes the two very different causes: the table genuinely
    * did not exist yet (first retained version is v1, committed later),
    * versus a version DID exist but the retained history no longer
    * reaches it because [[vacuum]] dropped the prefix (the remedy is
    * retention, not a different timestamp).
    */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    versionAsOf(spark, dir, tsMillis) match {
      case Some(v) => read(spark, dir, Some(v))
      case None =>
        val vs = versions(spark, dir)
        throw new IllegalArgumentException(
          if (vs.isEmpty)
            s"no snapshot table under $dir"
          else if (vs.head > 1L)
            s"versions below v${vs.head} of $dir were VACUUMED — a version " +
              s"may have been live at epoch-ms $tsMillis but its manifest " +
              s"is gone (earliest retained is v${vs.head}, committed at " +
              s"epoch-ms ${commitInstantOf(spark, dir, vs.head)}); keep " +
              "vacuum retention above the as-of horizon you need to serve"
          else
            s"no version of $dir existed yet at epoch-ms $tsMillis " +
              s"(v1 committed at epoch-ms ${commitInstantOf(spark, dir, 1L)})")
    }

  /** Incremental [[attachStats]]: build version `v`'s stats index by
    * REUSING the most recent older version's index rows (same columns and
    * stats types) for every file both manifests share, and stats rows
    * ([[statsRowsVia]]) for the files new in `v` only. Files are
    * immutable, so a row never goes stale, and an upsert or [[delete]]
    * touching a few files costs O(new files) footer reads, not O(table).
    * Reads, folds and the write all run on the driver: no Spark job.
    * Falls back to the full build when no older version carries an index
    * over the same columns. Returns (reused, scanned) file counts; the
    * index is row-identical to a full [[attachStats]] build.
    */
  def attachStatsIncremental(spark: SparkSession, dir: String,
      cols: Seq[String], version: Option[Long] = None): (Long, Long) = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $dir"))
    val typed = statsTypes(spark, dir, v, cols)
    val schema = SkippingIndex.statsSchemaOf(typed)
    def columns(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSet
    // same column set AND types: a string index over the same names
    // must not seed a long one
    val prior = versions(spark, dir).filter(_ < v).reverseIterator
      .map(attachedIndex(spark, dir, _))
      .collectFirst { case Some(ix) if columns(ix.schema) == columns(schema) => ix }
    val live = files(spark, dir, Some(v))
    prior match {
      case None =>
        attachStats(spark, dir, cols, Some(v))
        (0L, live.length.toLong)
      case Some(prev) =>
        val liveSet = live.toSet
        val prevFiles = prev.rows.map(_.getString(0)).toSet
        val newFiles = live.filterNot(prevFiles.contains)
        // prior rows in this index's column order
        val order = schema.fieldNames.toSeq.map(prev.schema.fieldIndex)
        val reused = prev.rows.filter(r => liveSet.contains(r.getString(0)))
          .map(r => Row.fromSeq(order.map(r.get)))
        // manifest-carried entries (earlier upsert prunes) cover part or
        // all of the new files — footer-scan only the remainder
        val fresh =
          if (newFiles.isEmpty) Seq.empty
          else statsRowsVia(spark, dir, v, newFiles, typed)._1
        SkippingIndex.writeIndex(spark, statsDir(dir, v), schema, reused ++ fresh)
        ((live.length - newFiles.length).toLong, newFiles.length.toLong)
    }
  }

  private def bloomDir(dir: String, v: Long, column: String): String =
    s"$dir/bloom/" + f"v$v%05d" + s"_$column"

  /** Canonical form of a file path for IDENTITY comparisons (never for
    * I/O): `input_file_name()`-derived strings are URI-ENCODED (a space
    * is `%20`) while manifest lines carry listStatus `Path.toString`
    * (unencoded) — decode the URI form so both land on one spelling.
    * Strings that don't parse as a URI (e.g. the unencoded form itself,
    * whose space is URI-illegal) pass through Path normalization as-is.
    */
  private def canonPath(s: String): String =
    try {
      val u = new java.net.URI(s)
      if (u.getScheme == null) new Path(s).toString
      else new Path(u).toString
    } catch { case scala.util.control.NonFatal(_) => new Path(s).toString }

  /** Attach a per-file BLOOM index for `column` to a version — point
    * lookups on columns the layout is NOT clustered by, where min/max
    * stats skip nothing ([[SkippingIndex.bloomRows]]; one distributed
    * scan, only (file, bitmap) rows persist). Version-scoped like
    * [[attachStats]]; files are immutable so the index never goes stale.
    * The scan is pinned to the version's COMMITTED schema: on a
    * schema-evolved table the indexed files can straddle an ADD COLUMN,
    * and per-call inference could resolve the column against the wrong
    * side.
    */
  def attachBloom(spark: SparkSession, dir: String, column: String,
      version: Option[Long] = None, expectedItemsPerFile: Long = 100000L,
      fpp: Double = 0.01): Unit = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $dir"))
    SkippingIndex.buildBloomIndex(spark, files(spark, dir, Some(v)), column,
      bloomDir(dir, v, column), expectedItemsPerFile, fpp,
      schemaOf(spark, dir, Some(v)))
  }

  /** Incremental [[attachBloom]] — the bloom sibling of
    * [[attachStatsIncremental]]: build version `v`'s bloom index for
    * `column` by REUSING the most recent older version's (file, bloom)
    * rows for every file both manifests share, bloom-scanning ONLY the
    * files new in `v` (files are immutable, so a bloom can never go
    * stale). A prior row is reusable only when it carries the SAME
    * sizing parameters (n_items, n_bits ride in every row) — a store
    * maintained under one (expectedItemsPerFile, fpp) pair stays
    * row-identical to a from-scratch build (spec-asserted); changed
    * parameters force the full build. On the steady-state upsert path
    * the per-commit cost is O(new files)' DATA (blooms need the values,
    * not just footers — heavier per file than stats, same flat growth).
    * Returns (reused, scanned) file counts.
    */
  def attachBloomIncremental(spark: SparkSession, dir: String, column: String,
      version: Option[Long] = None, expectedItemsPerFile: Long = 100000L,
      fpp: Double = 0.01): (Long, Long) = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $dir"))
    val f = FilesetLog.fs(spark, dir)
    val nBits = SkippingIndex.bloomNumBits(expectedItemsPerFile, fpp)
    val prior = versions(spark, dir).filter(_ < v).reverse.find { pv =>
      val bp = new Path(bloomDir(dir, pv, column))
      f.exists(bp) && (
        try spark.read.parquet(bp.toString).columns.toSet ==
          Set("file", "bloom", "n_items", "n_bits")
        catch { case scala.util.control.NonFatal(_) => false })
    }
    val live = files(spark, dir, Some(v))
    prior match {
      case None =>
        attachBloom(spark, dir, column, Some(v), expectedItemsPerFile, fpp)
        (0L, live.length.toLong)
      case Some(pv) =>
        val prev = spark.read.parquet(bloomDir(dir, pv, column))
          .filter(col("n_items") === expectedItemsPerFile && col("n_bits") === nBits)
        // one row per file on both sides — index-sized, not data-sized.
        // The prior index's file keys are input_file_name()-derived
        // (URI-ENCODED: a space is %20) while the manifest carries
        // listStatus Path.toString (unencoded) — compare CANONICAL
        // forms, or a path with any URI-encodable character silently
        // drops all reuse (every file rescanned each commit: the
        // O(new files) claim degrades to O(table) with no error).
        val prevFileStrs = prev.select("file").collect().map(_.getString(0))
        val liveCanon = live.map(canonPath).toSet
        val prevCanon = prevFileStrs.map(canonPath).toSet
        val keepPrev = prevFileStrs.filter(p => liveCanon.contains(canonPath(p)))
        val newFiles = live.filterNot(p => prevCanon.contains(canonPath(p)))
        // the reuse join matches prev's OWN strings (exact, no form
        // drift possible) against the canonically-surviving subset
        val keepDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            keepPrev.toSeq.map(org.apache.spark.sql.Row(_)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("file",
              org.apache.spark.sql.types.StringType, nullable = false))))
        val reused = prev.join(keepDf, "file")
        val fresh =
          if (newFiles.isEmpty) prev.limit(0)
          else SkippingIndex.bloomRows(spark, newFiles, column,
            expectedItemsPerFile, fpp, schemaOf(spark, dir, Some(v)))
        // write via a temp dir: the union READS the prior index, which
        // may BE the target dir when re-attaching the same version
        val out = bloomDir(dir, v, column)
        val tmp = out + s".tmp_${FilesetLog.nonce()}"
        // repartition(1), not coalesce(1): the new files' bloom builds
        // SCAN their column data — coalesce would serialize them all
        // into the single writer task
        reused.unionByName(fresh).repartition(1)
          .write.mode("overwrite").parquet(tmp)
        f.delete(new Path(out), true)
        require(f.rename(new Path(tmp), new Path(out)),
          s"could not move bloom index into place: $tmp -> $out")
        ((live.length - newFiles.length).toLong, newFiles.length.toLong)
    }
  }

  /** Point lookup `column = value` on a pinned snapshot. With the
    * version's attached bloom index, only files whose bloom might contain
    * the value are read (no false negatives — the result ALWAYS equals
    * the full-snapshot equality filter; false positives are removed by
    * the residual filter). The probe is DISTRIBUTED
    * ([[SkippingIndex.pruneBloom]] collects kept file paths, never
    * bitmaps), and kept files are read under the version's COMMITTED
    * schema — on a schema-evolved table the kept set can mix pre/post
    * ADD COLUMN files, where inference could resolve against an old
    * file and drop evolved columns. Without a bloom index it is
    * `read(v).filter(column = value)`: the files whose carried or
    * attached min/max cannot hold the value are skipped ([[read]]), so a
    * lookup on the clustering key reads one file. `value` must be
    * non-null and match the column's committed type (the bloom hashed the
    * physical type at build). The returned prune is the bloom's, None
    * without a bloom index.
    */
  def lookupPoint(spark: SparkSession, dir: String, column: String,
      value: Any,
      version: Option[Long] = None): (DataFrame, Option[SkippingIndex.Prune]) = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $dir"))
    val bp = new Path(bloomDir(dir, v, column))
    val equal = col(column) === lit(value)
    if (!FilesetLog.fs(spark, dir).exists(bp)) (read(spark, dir, Some(v)).filter(equal), None)
    else {
      val dt = schemaOf(spark, dir, Some(v))
        .getOrElse(read(spark, dir, Some(v)).schema)(column).dataType
      val p = SkippingIndex.pruneBloom(spark, bp.toString, value, dt)
      // the probe's kept paths are input_file_name()-derived; read the
      // manifest's own spelling of each
      val kept = p.kept.map(canonPath).toSet
      val fl = files(spark, dir, Some(v)).filter(f => kept.contains(canonPath(f)))
      (readFiles(spark, new SnapshotFileIndex(spark, dir, v, fl)).filter(equal), Some(p))
    }
  }

  /** Range scan of a pinned snapshot: `read(v).filter(column BETWEEN lo
    * AND hi)`, whose scan skips the files whose carried or attached
    * min/max cannot intersect the range ([[read]]). Building the plan runs
    * no Spark job, and the result always equals the full-snapshot filter,
    * columns included (after a DROP or ADD COLUMN too). The returned prune
    * is that scan's (its kept files), reported when the version's attached
    * index holds long stats for `column` — [[SkippingIndex.scanBetween]]'s
    * contract; None otherwise.
    */
  def scanBetween(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long,
      version: Option[Long] = None): (DataFrame, Option[SkippingIndex.Prune]) = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $dir"))
    val index = new SnapshotFileIndex(spark, dir, v, files(spark, dir, Some(v)))
    val scan = readFiles(spark, index).filter(col(column).between(lo, hi))
    // the filters the scan's file listing gets
    val p = index.attached.filter(_.covered(column, LongType)).map(_ =>
      index.prune(scan.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }))
    (scan, p)
  }

  /** A [[SkippingIndex.KeysetWalk]] over a PINNED snapshot version — the
    * serving path for deep keyset pagination of a key-clustered snapshot
    * table: per-page cost is file-bounded at any table size (see
    * [[SkippingIndex.KeysetWalk]] for the contract and the sf1 flat-page
    * probe evidence). The key is any column with ordered footer stats
    * (integral, DATE, TIMESTAMP, STRING); start with `page(None, …)` and
    * pass each page's last `Row.get(key)` as the next cursor. The stats
    * come from the manifest's carried entries, the version's attached
    * index ([[attachStats]]) when it holds the column's stats type, else
    * the footers (nothing written). The walk pins the version's FILE
    * LIST at construction, so later commits/compactions never disturb an
    * in-flight walk — the same snapshot-isolation contract as [[read]].
    */
  def keysetWalk(spark: SparkSession, dir: String, column: String,
      version: Option[Long] = None): SkippingIndex.KeysetWalk = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no table under $dir"))
    val typed = statsTypes(spark, dir, v, Seq(column))
    new SkippingIndex.KeysetWalk(spark, spark.createDataFrame(
      statsRowsVia(spark, dir, v, files(spark, dir, Some(v)), typed)._1.asJava,
      SkippingIndex.statsSchemaOf(typed)), column)
  }

  /** Keep the table current from a CDC change stream: every micro-batch
    * is applied as one [[upsert]] commit (the change rows carry
    * key/payload/version and optionally `_deleted` tombstones) — the
    * foreachBatch face, like [[DedupStore.maintainStream]] for the hash
    * store and SketchRollup's for the sketch stores.
    *
    * Crash contract: application is at-least-once but CONTENT-IDEMPOTENT
    * — latest-wins over the same (key, version) change rows re-applied
    * against the already-updated table selects the same winners (updates
    * and inserts reproduce themselves; a tombstone re-deletes an absent
    * key, a no-op), so a replayed batch can only burn a version number,
    * never produce a wrong row. Spec'd by applying one batch twice and
    * hashing the table. Single maintainer, like every incremental-view
    * maintainer here.
    *
    * `statsCols` closes the operational loop for a SERVED table: after
    * every micro-batch commit the new version's skipping index is
    * rebuilt via [[attachStatsIncremental]] — O(that batch's new files)
    * per commit, since every carried-over file reuses the previous
    * version's rows — so [[scanBetween]]/[[keysetWalk]] readers never
    * see a version whose index lags the data. Empty = no index
    * maintenance (the historical behavior). `bloomCol` does the same
    * for the POINT index ([[attachBloomIncremental]] — carried-over
    * files reuse the previous version's bitmaps, only the batch's new
    * files are bloom-scanned), so [[lookupPoint]] readers stay pruned
    * through a CDC stream too; None = no bloom maintenance.
    */
  def maintainStream(spark: SparkSession, changesDir: String,
      schema: org.apache.spark.sql.types.StructType,
      tableDir: String, keyCol: String, versionCol: String, tieCol: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 1,
      statsCols: Seq[String] = Nil,
      bloomCol: Option[String] = None,
      bloomExpectedItemsPerFile: Long = 100000L,
      bloomFpp: Double = 0.01): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(changesDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch frame is consumed three times per trigger (emptiness
        // probe, the upsert's prune-key distinct, the merge) — persist it
        // so the feed file is read once, not three times (the documented
        // foreachBatch-reuse pattern)
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (!b.isEmpty) {
            val c = upsert(b.sparkSession, tableDir, b,
              keyCol, versionCol, tieCol)
            if (statsCols.nonEmpty)
              attachStatsIncremental(b.sparkSession, tableDir, statsCols,
                Some(c.version))
            bloomCol.foreach(bc =>
              attachBloomIncremental(b.sparkSession, tableDir, bc,
                Some(c.version), bloomExpectedItemsPerFile, bloomFpp))
          }
        } finally { b.unpersist(); () }
        ()
      }
      .start()

  /** Default [[vacuum]] grace: unreferenced files younger than this are
    * kept — they may belong to an OPTIMISTIC writer that has written its
    * data files but not yet published its manifest (the commit protocol
    * writes data first). 24h, mirroring the safety margin every
    * lakehouse vacuum documents (Delta's retention check is 7 days by
    * default for time travel; the in-flight-writer hazard only needs to
    * cover a commit's write duration).
    */
  val DefaultVacuumGraceMs: Long = 24L * 60 * 60 * 1000

  /** Drop every version but the last `keepLast`, and delete data files no
    * retained manifest references (orphans from crashed commits
    * included) — EXCEPT files modified within the last `graceMs`: a
    * concurrent optimistic writer writes its data files BEFORE its
    * exclusive manifest publish, so a zero-grace vacuum racing it would
    * delete files its about-to-commit manifest references (an unreadable
    * version). Young orphans are left for the next vacuum. Returns the
    * deleted file paths. Run only when no reader is pinned below the
    * retention horizon — the same contract as every lakehouse VACUUM;
    * pass `graceMs = 0` only when provably no writer is in flight.
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
      graceMs: Long = DefaultVacuumGraceMs): Seq[String] = {
    val f = FilesetLog.fs(spark, dir)
    FilesetLog.vacuum(spark, dir, Seq("data"), keepLast, graceMs, { v =>
      f.delete(new Path(statsDir(dir, v)), true) // version-scoped index goes with it
      // bloom indexes are version-scoped too (one dir per indexed
      // column, bloom/vNNNNN_<col>) — without this they accumulate
      // unboundedly as versions are vacuumed away
      val bloomRoot = new Path(s"$dir/bloom")
      if (f.exists(bloomRoot))
        f.listStatus(bloomRoot).toSeq
          .filter(_.getPath.getName.startsWith(f"v$v%05d" + "_"))
          .foreach(s => f.delete(s.getPath, true))
    })
  }
}
