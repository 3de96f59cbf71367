package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.query.MetadataInspector

/** File-level min/max data-skipping index — the read-side complement of
  * [[Layout]]'s clustered writes (no reference counterpart: the reference
  * opens single files as-is, src/duckdb-backend.ts; this is what the
  * OPERATOR of a 100 TB table needs so selective queries touch a handful
  * of its files).
  *
  * The index is a tiny stats table (one row per data file: row count plus
  * per-column min/max) built from parquet FOOTERS only — column-chunk
  * statistics are already in every footer, so building the index costs
  * O(files) KB-sized footer reads, never a data scan. The footer fold
  * runs on the driver, one footer after another, each opened with the
  * session's Hadoop conf ([[graft.query.MetadataInspector.openReader]]):
  * a sub-millisecond footer read is far cheaper than scheduling a job
  * for it. The index
  * is written ([[writeIndex]]) and read ([[readIndex]]) on the DRIVER
  * with parquet-hadoop — no Spark job, no schema inference; it is ~150
  * bytes per data file and immutable once written. Query time, a
  * driver-side filter over its rows prunes
  * to the files whose [min,max] interval intersects the predicate and
  * only those are read, with the predicate re-applied as a residual
  * filter (pruning is file-granular; correctness never depends on it).
  *
  * This is exactly the mechanism behind lakehouse "data skipping"
  * (Delta/Iceberg file stats, Snowflake micro-partition pruning): on a
  * range-clustered or z-ordered layout a selective predicate keeps
  * files_kept ≈ selectivity × files_total; on a random layout it keeps
  * everything — which is why [[Layout.zOrderWrite]] exists.
  */
object SkippingIndex {

  /** One pruning decision, for callers that want the evidence (specs,
    * query logs): how many files the stats table held and how many
    * survived the interval test.
    */
  final case class Prune(filesTotal: Int, filesKept: Int, kept: Seq[String])

  /** A written stats index, read on the driver: its schema and rows (one
    * per data file, `file` first). `covered` is the one coverage test
    * every consumer applies — name AND type, so a long consumer never
    * numerically compares a string index (or the reverse).
    */
  final case class StatsIndex(schema: StructType, rows: IndexedSeq[Row]) {
    def covered(column: String, dt: DataType): Boolean =
      Seq(s"${column}_min", s"${column}_max").forall(n =>
        schema.fields.exists(f => f.name == n && f.dataType == dt))

    /** The rows as a local relation: collecting or broadcasting it runs
      * no job. */
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
  }

  /** The part files of a stats index at `root`, in name order: `.parquet`
    * files that are not hidden. [[writeIndex]]'s in-flight temp file is
    * dot-prefixed, so a reader never sees it, nor one left by a crash.
    */
  private def indexParts(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName)

  /** Read the stats index written at `path` on the driver — parquet-hadoop
    * record reads of its part files, no Spark job and no schema inference
    * (`spark.read.parquet` would run a footer job to infer the schema,
    * then one per action, to fetch a few KB). None when nothing is
    * there. Index columns are strings and longs ([[statsSchemaOf]]).
    */
  def readIndex(spark: SparkSession, path: String): Option[StatsIndex] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    readIndexListed(conf, path, () => indexParts(fs, root))
  }

  /** [[readIndex]] over the part files `list` returns. A part that
    * vanishes between listing and opening means a rewrite
    * ([[writeIndex]]) replaced the index: when the listing has changed
    * since, the read starts over from the new one. There is no retry
    * count — each retry follows a rewrite that landed while this read
    * was open. A part missing from an unchanged listing is an error.
    */
  private[graft] def readIndexListed(conf: Configuration, path: String,
      list: () => Seq[Path]): Option[StatsIndex] = {
    @annotation.tailrec
    def attempt(parts: Seq[Path]): Option[StatsIndex] = {
      val read =
        try Right(readParts(conf, path, parts))
        catch {
          // a vanished part (or its checksum file) surfaces as either
          // exception, depending on the file system
          case e @ (_: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException) =>
            Left(e)
        }
      read match {
        case Right(index) => index
        case Left(e) =>
          val now = list()
          if (now == parts) throw e else attempt(now)
      }
    }
    attempt(list())
  }

  private def readParts(conf: Configuration, path: String,
      parts: Seq[Path]): Option[StatsIndex] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    var schema: StructType = null
    val rows = IndexedSeq.newBuilder[Row]
    parts.foreach { p =>
      val reader = MetadataInspector.openReader(conf, p)
      try {
        val msg = reader.getFooter.getFileMetaData.getSchema
        val types = msg.getFields.asScala.map { f =>
          f.asPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64 => LongType
            case PrimitiveTypeName.BINARY => StringType
            case other => throw new IllegalArgumentException(
              s"stats index $path: column ${f.getName} has unsupported type $other")
          }
        }.toIndexedSeq
        if (schema == null) schema = StructType(msg.getFields.asScala.zip(types)
          .map { case (f, t) => StructField(f.getName, t, nullable = true) }.toSeq)
        require(schema.head.name == "file" && schema.head.dataType == StringType,
          s"stats index $path: first column must be the string `file`")
        val io = new ColumnIOFactory().getColumnIO(msg)
        var store = reader.readNextRowGroup()
        while (store != null) {
          val records = io.getRecordReader(store, new GroupRecordConverter(msg))
          var i = 0L
          while (i < store.getRowCount) {
            val g: Group = records.read()
            rows += Row.fromSeq(types.indices.map { c =>
              if (g.getFieldRepetitionCount(c) == 0) null
              else if (types(c) == LongType) g.getLong(c, 0)
              else g.getString(c, 0)
            })
            i += 1
          }
          store = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    Option(schema).map(StatsIndex(_, rows.result()))
  }

  /** Write `rows` ([[statsSchemaOf]]' shape, string and long columns) as
    * the stats index at `path`, on the driver: one snappy parquet file
    * written with parquet-hadoop, no Spark job. Rows are sorted by file
    * so rebuilds are deterministic. The file is written under a
    * dot-prefixed temp name, the index's previous part files are
    * deleted, and then the temp file is renamed into place, so a reader
    * ([[readIndex]], `spark.read.parquet`) sees the old index, no index
    * (every consumer then reads footers instead), or the whole new
    * index — never a partial file. Two writers racing on one path may
    * each leave a part file; the index is rebuilt per version by one
    * writer.
    */
  private[graft] def writeIndex(spark: SparkSession, path: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.Type.Repetition
    val msg = new MessageType("spark_schema", schema.fields.toSeq.map[Type] { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      f.dataType match {
        case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(f.name)
        case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case other => throw new IllegalArgumentException(
          s"stats index column ${f.name} has unsupported type ${other.simpleString}")
      }
    }.asJava)
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val name = s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet"
    val tmp = new Path(root, s".$name.tmp")
    try {
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(msg)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        // what Spark writes: spark.read.parquet restores the exact schema
        .withExtraMetaData(Map(
          "org.apache.spark.sql.parquet.row.metadata" -> schema.json).asJava)
        .build()
      try rows.sortBy(_.getString(0)).foreach { r =>
        val g = new SimpleGroup(msg)
        schema.fields.indices.foreach { i =>
          if (!r.isNullAt(i)) schema.fields(i).dataType match {
            case LongType => g.add(i, r.getLong(i))
            case _ => g.add(i, r.getString(i))
          }
        }
        writer.write(g)
      } finally writer.close()
      indexParts(fs, root).foreach(fs.delete(_, false))
      if (!fs.rename(tmp, new Path(root, name)))
        throw new java.io.IOException(s"could not rename $tmp into place")
    } catch {
      case e: Throwable =>
        scala.util.Try(fs.delete(tmp, false))
        throw e
    }
  }

  /** The stats-table schema per kind token (long | string | micros —
    * micros stats are longs). Shared with [[SnapshotTable]]'s
    * manifest-carried stats so locally-reconstructed rows are
    * shape-identical to a footer build's.
    */
  private[operators] def statsSchemaOf(cols: Seq[String], kind: String): StructType = {
    val vt: DataType = if (kind == "string") StringType else LongType
    StructType(
      StructField("file", StringType, nullable = false) +:
      StructField("n_rows", LongType, nullable = false) +:
      cols.flatMap(c => Seq(
        StructField(s"${c}_min", vt, nullable = true),
        StructField(s"${c}_max", vt, nullable = true),
        StructField(s"${c}_nulls", LongType, nullable = true))))
  }

  /** Per-column null count folded across a file's row groups: parquet
    * min/max stats IGNORE nulls while n_rows counts them, so any bound
    * of the form "this file certainly holds k rows in [min,max]" must
    * subtract the nulls ([[KeysetWalk]]'s certain-row arithmetic). NULL
    * when any chunk did not record num_nulls — consumers treat unknown
    * as "no certainty from this file", conservative like unknown min/max.
    */
  private def nullCount(
      stats: Seq[org.apache.parquet.column.statistics.Statistics[_]]): Any =
    if (stats.exists(s => s == null || !s.isNumNullsSet)) null
    else stats.map(_.getNumNulls).sum

  /** Build the stats table for integer-typed `cols` over every
    * `*.parquet` file under `dir`, and write it to `statsOut` (one small
    * parquet file — the index itself, [[writeIndex]]). Footer-only I/O
    * ([[statsRows]]).
    *
    * Min/max are the footer's column-chunk statistics folded across row
    * groups. Columns must be INT32/INT64 (stored as long) — the gate
    * surface; a chunk without statistics yields NULL min/max, which
    * [[prune]] treats as "cannot skip" (conservative, never wrong).
    */
  def buildStats(spark: SparkSession, dir: String, cols: Seq[String],
      statsOut: String): Unit =
    writeIndex(spark, statsOut, statsSchemaOf(cols, "long"),
      footerRows(spark, listParquet(spark, dir), cols, "long"))

  /** One file's stats row in [[statsSchemaOf]]' shape — file, n_rows,
    * then min, max and null count per column — folded from its footer's
    * column-chunk statistics across row groups. `kind` says how a chunk's
    * min/max become index values: `long` (INT32/INT64), `string`
    * (BINARY/UTF8 in unsigned byte order) or `micros` (INT64 timestamps
    * normalized to epoch micros). A chunk without statistics, or with no
    * non-null value, yields NULL min/max ("cannot skip").
    */
  private def footerRow(conf: Configuration, p: String, cols: Seq[String],
      kind: String): Row = {
    val reader = MetadataInspector.openReader(conf, new Path(p))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      val perCol = cols.flatMap { c =>
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == c)
        // a ZERO-ROW file has no row groups at all: no stats to read,
        // and no evidence the column name is wrong either — serve the
        // honest null-stat row (a "blind" file, which every pruning
        // layer already handles) instead of failing into the caller's
        // all-files-affected fallback
        require(chunks.nonEmpty || blocks.isEmpty, s"column $c not found in $p")
        val stats = chunks.map(_.getStatistics)
        val (mn, mx) =
          if (stats.isEmpty || stats.exists(s => s == null || !s.hasNonNullValue))
            (null, null)
          else kind match {
            case "string" => stringMinMax(c, stats)
            case "micros" => microsMinMax(c, chunks.head, stats)
            case _ => longMinMax(c, stats)
          }
        Seq(mn, mx, nullCount(stats))
      }
      Row.fromSeq(p +: nRows +: perCol)
    } finally reader.close()
  }

  private type Stats = Seq[org.apache.parquet.column.statistics.Statistics[_]]

  private def longMinMax(c: String, stats: Stats): (Any, Any) = {
    def asLong(v: Any): Long = v match {
      case i: java.lang.Integer => i.longValue
      case l: java.lang.Long => l.longValue
      case other => throw new IllegalArgumentException(
        s"$c: unsupported stats type ${other.getClass.getName} " +
          "(INT32/INT64 columns only)")
    }
    (stats.map(s => asLong(s.genericGetMin)).min,
      stats.map(s => asLong(s.genericGetMax)).max)
  }

  private def stringMinMax(c: String, stats: Stats): (Any, Any) = {
    def bin(v: Any): Array[Byte] = v match {
      case b: org.apache.parquet.io.api.Binary => b.getBytes
      case other => throw new IllegalArgumentException(
        s"$c: unsupported stats type ${other.getClass.getName} " +
          "(BINARY/UTF8 columns only)")
    }
    // fold across row groups in the SAME unsigned byte order the footer
    // stats are computed in (java String compareTo is UTF-16 code-unit
    // order and disagrees past the BMP)
    val ord = new Ordering[Array[Byte]] {
      def compare(a: Array[Byte], b: Array[Byte]): Int = {
        var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val d = (a(i) & 0xff) - (b(i) & 0xff)
          if (d != 0) return d
          i += 1
        }
        a.length - b.length
      }
    }
    (new String(stats.map(s => bin(s.genericGetMin)).min(ord), "UTF-8"),
      new String(stats.map(s => bin(s.genericGetMax)).max(ord), "UTF-8"))
  }

  private def microsMinMax(c: String,
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      stats: Stats): (Any, Any) = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    def asLong(v: Any): Long = v match {
      case l: java.lang.Long => l.longValue
      case other => throw new IllegalArgumentException(
        s"$c: unsupported stats type ${other.getClass.getName} " +
          "(INT64 timestamp columns only)")
    }
    val (mins, maxs) = (stats.map(s => asLong(s.genericGetMin)),
      stats.map(s => asLong(s.genericGetMax)))
    val unit = chunk.getPrimitiveType.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit
      case other => throw new IllegalArgumentException(
        s"$c: not a Timestamp-annotated column (annotation=$other; " +
          "INT96 legacy timestamps have no usable ordered stats)")
    }
    def toMicros(v: Long, ceil: Boolean): Long = unit match {
      case TimeUnit.MILLIS => Math.multiplyExact(v, 1000L)
      case TimeUnit.MICROS => v
      case TimeUnit.NANOS =>
        // addExact: a max stat within 999ns of Long.MaxValue must throw
        // (landing in the caller's all-files-affected degrade) rather
        // than wrap negative and shrink the interval into a wrong prune
        // — same contract as the MILLIS path's multiplyExact
        if (ceil) Math.floorDiv(Math.addExact(v, 999L), 1000L)
        else Math.floorDiv(v, 1000L)
    }
    (mins.map(toMicros(_, ceil = false)).min, maxs.map(toMicros(_, ceil = true)).max)
  }

  /** Footer-stats rows for `files` on the driver, in file order: one
    * in-process fold, no Spark job. What index writes, the upsert prune
    * and the keyset walks consume.
    */
  private[operators] def footerRows(spark: SparkSession, files: Seq[String],
      cols: Seq[String], kind: String): Seq[Row] = {
    require(files.nonEmpty, "footer stats need at least one file")
    val conf = spark.sessionState.newHadoopConf()
    files.map(footerRow(conf, _, cols, kind))
  }

  /** [[footerRows]] as a local relation: building, collecting or
    * broadcasting it runs no job. */
  private def footerFrame(spark: SparkSession, files: Seq[String],
      cols: Seq[String], kind: String): DataFrame =
    spark.createDataFrame(footerRows(spark, files, cols, kind).asJava,
      statsSchemaOf(cols, kind))

  /** The stats table for an EXPLICIT file list (no directory listing) —
    * the form a manifest-based table ([[SnapshotTable]]) consumes, since
    * its live files span several commit directories. Footer-only reads,
    * folded on the driver ([[footerRows]]).
    */
  def statsRows(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): DataFrame =
    footerFrame(spark, files, cols, "long")

  /** [[statsRows]] for STRING (parquet BINARY/UTF8) columns: min/max are
    * the footer's unsigned-lexicographic byte-order statistics rendered
    * as UTF-8 strings. Comparisons against them must happen in Spark
    * plans (UTF8String compares unsigned byte-wise, matching the footer's
    * stats order) — driver-side java.lang.String compareTo is UTF-16
    * code-unit order and disagrees on supplementary characters.
    */
  def statsRowsString(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): DataFrame =
    footerFrame(spark, files, cols, "string")

  /** [[statsRows]] for TIMESTAMP (parquet INT64 with a Timestamp logical
    * annotation) columns: min/max normalized to EPOCH MICROS whatever
    * unit the writer annotated (MILLIS×1000; MICROS as-is; NANOS
    * floor-divided for min and ceil-divided for max, so the interval can
    * only widen — conservative). INT96 timestamps (Spark's legacy
    * default output) carry no usable ordered statistics and THROW —
    * [[SnapshotTable.upsert]] catches that and degrades to
    * all-files-affected; writers who want timestamp-key pruning set
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`.
    */
  def statsRowsMicros(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): DataFrame =
    footerFrame(spark, files, cols, "micros")

  /** Evaluate the interval test over the stats table: keep files whose
    * [min,max] on `column` intersects [lo, hi], plus files with NULL
    * stats (unknown ⇒ cannot skip). A driver-side filter over the index
    * read by [[readIndex]] — zero Spark jobs; the index rows are the
    * same driver-side footprint every file index (Spark's own
    * InMemoryFileIndex, a Delta snapshot) carries.
    */
  def prune(spark: SparkSession, statsPath: String, column: String,
      lo: Long, hi: Long): Prune =
    prune(readIndex(spark, statsPath).getOrElse(
      throw new IllegalArgumentException(s"no stats index at $statsPath")),
      column, lo, hi)

  /** [[prune]] over an index already on the driver. */
  private[operators] def prune(index: StatsIndex, column: String,
      lo: Long, hi: Long): Prune = {
    require(index.covered(column, LongType),
      s"stats index has no long min/max for $column")
    val (iMin, iMax) = (index.schema.fieldIndex(s"${column}_min"),
      index.schema.fieldIndex(s"${column}_max"))
    val kept = index.rows.filter(r => r.isNullAt(iMin) || r.isNullAt(iMax) ||
        (r.getLong(iMin) <= hi && r.getLong(iMax) >= lo))
      .map(_.getString(0)).sorted
    Prune(index.rows.length, kept.length, kept)
  }

  /** Read only the files the stats table cannot rule out for
    * `column BETWEEN lo AND hi`, with the predicate re-applied as a
    * residual filter — result is ALWAYS exactly the full-scan filter,
    * whatever the layout did (pruning is an I/O optimization, not a
    * semantic one).
    */
  def prunedRead(spark: SparkSession, statsPath: String, column: String,
      lo: Long, hi: Long): (DataFrame, Prune) = {
    val p = prune(spark, statsPath, column, lo, hi)
    require(p.filesKept > 0,
      s"no file can contain $column in [$lo,$hi] — empty result; " +
        "read one file to keep the schema")
    val df = spark.read.parquet(p.kept: _*)
      .filter(col(column).between(lo, hi))
    (df, p)
  }

  /** One file's keyset-relevant stats: row count, [min, max] of the key
    * column (None = unknown ⇒ the file can never be skipped), and the
    * key column's null count (None = unknown ⇒ the file contributes no
    * CERTAINTY to the stop bound, though it still serves rows).
    */
  final case class FileStat(file: String, nRows: Long,
      min: Option[Long], max: Option[Long], nulls: Option[Long])

  /** [[FileStat]] for any key type `K` — the typed walk's stats row. */
  final case class FileStatOf[K](file: String, nRows: Long,
      min: Option[K], max: Option[K], nulls: Option[Long])

  /** The footer-stats order of STRING keys: unsigned UTF-8 byte
    * comparison, which is also UTF8String's (Spark plan) order — NOT
    * java.lang.String compareTo, whose UTF-16 code-unit order disagrees
    * on supplementary characters (an emoji sorts BELOW U+FFFF in UTF-16
    * but ABOVE it in UTF-8 bytes). The driver-side walk must rank files
    * in the same order the plans and footers use, or a cursor between
    * such keys includes/excludes the wrong files.
    */
  private[operators] val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
  }

  /** File-bounded keyset pagination over a KEY-CLUSTERED table — the
    * serving-side complement of [[graft.query.Paginator.pageWithCursor]]
    * for tables too large for its per-page top-k:
    *
    * pageWithCursor's seek filter (`column >= cursor`) row-group-prunes
    * everything BEFORE the cursor, but the top-k still scans the whole
    * remainder beyond it — a per-page cost that grows with table size
    * even though the page doesn't. With per-file [min, max, n_rows,
    * nulls] the page becomes file-bounded: walk candidate files in key
    * order and stop as soon as the included set PROVABLY contains `size`
    * rows strictly between the cursor and the next file's boundary —
    * every excluded file lies entirely beyond that boundary, so none can
    * hold any of the page's rows. Per-page cost is then
    * O(page ÷ rows-per-file) FILES at ANY table size — measured: the
    * `keyset_page` row of BENCH_sf1_r13.json (tools/ScaleProbe) shows
    * files_kept ≤ 8 per 1000-row page at BOTH sf0.1 and the 10× sf1
    * corpus (rows-per-file held constant, file count 32→320), with
    * median wall 69→107 ms/page — the residual growth is driver-side
    * planning over the larger file list, not data scanned; a
    * remainder-scanning top-k would have grown ~10×.
    *
    * Contracts and caveats:
    *  - the key column is INT32/INT64 (the long stats surface) and the
    *    CURSOR is a strict bound: `page(after, size)` serves the `size`
    *    smallest keys > `after` (ascending) or largest keys < `after`
    *    (descending). A deep walk feeds each page's last served key back
    *    as the next `after` — exact when the key is UNIQUE (the serving
    *    layout clusters by a unique key); under duplicate keys the
    *    strict cursor skips remaining copies of the boundary key, the
    *    standard keyset contract. Each PAGE is exact for any data.
    *  - NULL keys are never served (strict comparisons drop them), and
    *    never corrupt the stop bound: a file's certain-row contribution
    *    is n_rows MINUS the key's null count, because parquet min/max
    *    stats ignore nulls while n_rows counts them — a null-bearing
    *    file inside the walk interval would otherwise overcount, stop
    *    the walk early, and DROP rows from a later file. Files with
    *    unknown null counts contribute zero certainty (conservative).
    *  - files without usable min/max stats always qualify (unknown ⇒
    *    cannot skip) and are read into every page.
    *  - the residual filter + `orderBy limit size` make every page
    *    exactly the full-sort page whatever the stats said; pruning is
    *    an I/O bound, never a semantics change.
    *
    * The walk's stats come from an ATTACHED index, read whole on the
    * driver ([[readIndex]]), or from a footer fold on the driver
    * ([[footerRows]]): either way O(table files) rows are on the driver
    * while the walk is built. Above `graft.keyset.eagerStatsMax` files
    * the walk sorts them once into executor memory ([[StatsSource]]) and
    * each page pulls only the few candidate rows it actually walks
    * (`toLocalIterator` over the sorted cache). A cursor provably past
    * the data returns the correctly-empty page from the stats alone —
    * an empty relation, no table scan. Build via
    * [[SkippingIndex.keysetWalk]] (attached-stats dirs) or
    * [[SnapshotTable.keysetWalk]] (pinned snapshot versions); call
    * `close()` when done with a walk to drop its sorted stats cache.
    */
  final class KeysetWalk private[operators] (typed: TypedKeysetWalk[Long]) {

    /** The `size` smallest keys strictly above `after` (ascending) or
      * largest strictly below it (descending), with the pruning decision
      * as evidence. Start a walk from `Long.MinValue` / `Long.MaxValue`.
      */
    def page(after: Long, size: Int, ascending: Boolean = true): (DataFrame, Prune) =
      typed.page(Some(after), size, ascending)

    /** Drop the walk's sorted stats cache (see [[TypedKeysetWalk.close]]). */
    def close(): Unit = typed.close()

    /** Stats rows materialized on the driver so far (see
      * [[TypedKeysetWalk.statsPulled]]).
      */
    def statsPulled: Long = typed.statsPulled
  }

  /** The [[KeysetWalk]] machinery generalized over the key type: the
    * walk logic is ORDER arithmetic (candidate filter, key-order file
    * ranking, certain-row stop bound) plus one plan predicate, so a key
    * type needs only (a) a driver-side `Ordering[K]` that MATCHES the
    * footer-stats and Spark-plan order, and (b) the strict cursor
    * predicate as a Column. Instances: long keys ([[keysetWalk]],
    * `Ordering.Long`), string keys ([[keysetWalkString]],
    * [[Utf8Ordering]] — unsigned UTF-8 bytes, the BINARY footer-stat and
    * UTF8String order), timestamp keys ([[keysetWalkMicros]], epoch
    * micros from the normalized INT64 footer stats).
    *
    * `page(None, ...)` starts a walk with no cursor bound (the form key
    * types without a MinValue sentinel need); NULL keys are still never
    * served (explicit IsNotNull residual).
    */
  final class TypedKeysetWalk[K] private[operators] (spark: SparkSession,
      column: String, source: StatsSource[K], ord: Ordering[K],
      cursorPred: (K, Boolean) => org.apache.spark.sql.Column) {

    // per-walk cached schema: a walk serves MANY pages over the same
    // immutable file set, and each page's spark.read.parquet(...) would
    // otherwise re-infer the schema from a footer on the driver (tens of
    // ms per page — the r17 job profile put q63's per-page planning gap
    // above its page-job time). One inference per walk, same result:
    // every page reads files of the same pinned file set.
    private lazy val pageSchema = spark.read.parquet(source.anyFile).schema

    /** The `size` smallest keys strictly above `after` (ascending) or
      * largest strictly below it (descending); `None` = unbounded start.
      */
    def page(after: Option[K], size: Int, ascending: Boolean = true): (DataFrame, Prune) = {
      require(size > 0, "page size must be positive")
      // candidate files (could hold a key strictly beyond the cursor) in
      // key order, nearest-to-cursor first — pulled LAZILY from the
      // walk's sorted stats cache, so only the files this page actually
      // walks ever reach the driver
      val it = source.candidates(after, ascending)
      val included = scala.collection.mutable.ArrayBuffer.empty[FileStatOf[K]]
      var cur: FileStatOf[K] = if (it.hasNext) it.next() else null
      while (cur != null) {
        included += cur
        val nxt: FileStatOf[K] = if (it.hasNext) it.next() else null
        cur =
          if (nxt == null) null
          else {
            // rows CERTAINLY between the cursor and the next file's
            // boundary: files entirely inside the open interval contribute
            // their non-null rows (boundary-straddling files contribute an
            // unknown share and count as zero — a lower bound)
            val bound = if (ascending) nxt.min.get else nxt.max.get
            val certain = included.iterator
              .filter { s =>
                val pastCursor = after.forall(a =>
                  if (ascending) ord.gt(s.min.get, a) else ord.lt(s.max.get, a))
                pastCursor && (if (ascending) ord.lt(s.max.get, bound)
                               else ord.gt(s.min.get, bound))
              }
              .map(s => s.nRows - s.nulls.getOrElse(s.nRows))
              .sum
            if (certain >= size) null else nxt
          }
      }
      val kept = (included.map(_.file) ++ source.blind.map(_.file)).sorted.toSeq
      val p = Prune(source.totalFiles, kept.length, kept)
      val base =
        if (kept.isEmpty)
          // provably nothing beyond the cursor: the empty page served
          // from the stats alone — a false predicate on one file's
          // schema folds to an empty LocalRelation (zero scan jobs)
          spark.read.schema(pageSchema).parquet(source.anyFile).where(lit(false))
        else spark.read.schema(pageSchema).parquet(kept: _*)
      // NULL keys are never served: the strict cursor predicate drops
      // them; an unbounded start needs the explicit IsNotNull
      val pred = after.map(cursorPred(_, ascending)).getOrElse(col(column).isNotNull)
      val ordCol = if (ascending) col(column).asc else col(column).desc
      (base.filter(pred).orderBy(ordCol).limit(size), p)
    }

    /** Unpersist the walk's sorted stats cache. Safe to call more than
      * once; pages served after close still work (they re-sort lazily
      * without the cache).
      */
    def close(): Unit = source.close()

    /** Stats rows materialized on the driver so far — the residency
      * evidence the spec asserts: a page over a huge file list pulls
      * O(files-walked) rows, not O(files).
      */
    def statsPulled: Long = source.pulled.get()
  }

  /** Backing store for a walk's per-file stats, HYBRID by file count —
    * the fix for per-walk O(files) driver collects (the old
    * [[TypedKeysetWalk]] always materialized the full stats array; at
    * millions of files that is ~100 MB of driver heap PER WALK,
    * re-pulled on every walk):
    *
    *  - tables up to `graft.keyset.eagerStatsMax` files (default 4096 —
    *    a few hundred KB of driver heap, bounded) keep the eager array:
    *    page planning is pure driver memory, zero Spark jobs per page —
    *    the interactive-pagination latency the bench gates measure;
    *  - above the threshold the frame is sorted once per direction into
    *    executor cache and each page streams candidate rows through
    *    `toLocalIterator` with the cursor filter applied executor-side,
    *    so the walk itself holds only the rows a page actually walks.
    *
    * The walk's own residency is therefore bounded by
    * min(files, eagerStatsMax) + files-walked at ANY table size. The
    * stats it is built from are rows on the driver already (an attached
    * index or a driver-side footer fold, see [[KeysetWalk]]).
    *
    * Ordering note (lazy path): the executor-side sort must match the
    * walk's driver-side `Ordering[K]` — LongType sorts numerically
    * (`Ordering.Long`) and StringType sorts in unsigned UTF-8 byte
    * order (UTF8String.compareTo == [[Utf8Ordering]]), so the sorted
    * stream IS the order the stop-bound arithmetic assumes. A filter on
    * the sorted cache is a narrow op over range-partitioned sorted
    * partitions and `toLocalIterator` drains partitions in index order,
    * so the filtered stream stays globally sorted.
    */
  private[operators] final class StatsSource[K](spark: SparkSession,
      statsDf: DataFrame, column: String, get: (Row, Int) => K,
      ord: Ordering[K]) {

    private val normalized: DataFrame = {
      // a frame without the `_nulls` column (an index attached before
      // null counts existed) degrades to zero-certainty contributions —
      // more files per page, never a wrong one
      val withNulls =
        if (statsDf.columns.contains(s"${column}_nulls")) statsDf
        else statsDf.withColumn(s"${column}_nulls", lit(null).cast("long"))
      withNulls.select(col("file"), col("n_rows"),
        col(s"${column}_min").as("mn"), col(s"${column}_max").as("mx"),
        col(s"${column}_nulls").as("nls"))
    }

    private def toStat(r: Row): FileStatOf[K] = FileStatOf[K](
      r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(get(r, 2)),
      if (r.isNullAt(3)) None else Some(get(r, 3)),
      if (r.isNullAt(4)) None else Some(r.getLong(4)))

    private val eagerMax: Int =
      spark.conf.get("graft.keyset.eagerStatsMax", "4096").toInt

    /** Stats rows materialized on the driver (residency evidence). */
    val pulled = new java.util.concurrent.atomic.AtomicLong(0L)

    // eager path: ONE bounded job — collect limit(eagerMax+1) and decide
    // from the array itself (probe and payload in the same job; the old
    // shape ran a count THEN a full collect, evaluating the stats frame
    // twice — expensive when it is a COMPUTED footer-scan frame, not a
    // parquet read)
    private val eagerRows: Option[Array[FileStatOf[K]]] =
      if (eagerMax <= 0) None
      else {
        val probe = normalized.limit(eagerMax + 1).collect()
        // counted on BOTH branches: even when the probe overflows into
        // the lazy path, its eagerMax+1 rows were materialized on the
        // driver — the residency evidence this counter exists to carry
        pulled.addAndGet(probe.length.toLong)
        if (probe.length > eagerMax) None
        else Some(probe.map(toStat))
      }

    // lazy path: persist the normalized frame ONCE, up front — the blind
    // collect, the total count and the per-direction sorts all hit this
    // cache instead of re-evaluating the (possibly computed) stats frame
    // three times before any sorted cache exists. Unpersisted in close().
    private val lazyNormalized: Option[DataFrame] =
      if (eagerRows.isDefined) None
      else {
        normalized.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Some(normalized)
      }

    /** Files with no usable bounds (all-NULL or stats-less): they join
      * every page unconditionally — the degenerate few, never the table.
      */
    val blind: Array[FileStatOf[K]] = eagerRows match {
      case Some(arr) => arr.filter(s => s.min.isEmpty || s.max.isEmpty)
      case None =>
        val arr = lazyNormalized.get
          .where(col("mn").isNull || col("mx").isNull)
          .collect().map(toStat)
        pulled.addAndGet(arr.length.toLong)
        arr
    }

    val totalFiles: Int = eagerRows.map(_.length)
      .getOrElse(lazyNormalized.get.count().toInt)
    require(totalFiles > 0, "keyset walk needs at least one file")

    /** Any one file of the stats frame — schema donor for the provably-
      * empty page (lazy: only ever evaluated when a page comes back
      * empty).
      */
    lazy val anyFile: String =
      if (blind.nonEmpty) blind.head.file
      else eagerRows.map(_.head.file)
        .getOrElse(lazyNormalized.get.select("file").head().getString(0))

    private lazy val eagerKnown: Array[FileStatOf[K]] =
      eagerRows.get.filter(s => s.min.isDefined && s.max.isDefined)

    private lazy val known =
      lazyNormalized.get.where(col("mn").isNotNull && col("mx").isNotNull)
    // lazy path: sorted once per direction, cached distributed
    private lazy val ascFrame = {
      val d = known.orderBy(col("mn").asc)
      d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d
    }
    private lazy val descFrame = {
      val d = known.orderBy(col("mx").desc)
      d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d
    }
    // track which direction caches exist so close() only unpersists
    // frames that were actually built
    private var builtAsc = false
    private var builtDesc = false

    def candidates(after: Option[K], ascending: Boolean): Iterator[FileStatOf[K]] =
      eagerRows match {
        case Some(_) =>
          // pure driver memory: filter + sort exactly like the lazy
          // path's executor-side plan (same candidate set, same order)
          val cand = after match {
            case None => eagerKnown
            case Some(a) => eagerKnown.filter(s =>
              if (ascending) ord.gt(s.max.get, a) else ord.lt(s.min.get, a))
          }
          val sorted =
            if (ascending) cand.sortBy(_.min.get)(ord)
            else cand.sortBy(_.max.get)(ord.reverse)
          sorted.iterator
        case None =>
          val base = synchronized {
            if (ascending) { builtAsc = true; ascFrame }
            else { builtDesc = true; descFrame }
          }
          val filtered = after match {
            case None => base
            case Some(a) =>
              if (ascending) base.where(col("mx") > lit(a))
              else base.where(col("mn") < lit(a))
          }
          import scala.jdk.CollectionConverters._
          filtered.toLocalIterator().asScala.map { r =>
            pulled.incrementAndGet()
            toStat(r)
          }
      }

    def close(): Unit = synchronized {
      if (builtAsc) ascFrame.unpersist()
      if (builtDesc) descFrame.unpersist()
      lazyNormalized.foreach(_.unpersist())
    }
  }

  /** A [[KeysetWalk]] over `dir`: consults the attached stats index
    * ([[attachStats]]) when it covers `column`, otherwise builds the
    * stats in memory from the files' footers (a footer fold on the
    * driver, nothing written).
    */
  def keysetWalk(spark: SparkSession, dir: String, column: String): KeysetWalk = {
    // coverage includes the stats TYPE: a stats table attached for the
    // same column via statsRowsString passes the name check but would
    // ClassCastException inside the walk — a non-long index falls back
    // to the footer build, which throws its own clear error when the
    // column genuinely isn't INT32/INT64
    val df = readIndex(spark, statsPathFor(dir)).filter(_.covered(column, LongType))
      .map(_.frame(spark))
      .getOrElse(statsRows(spark, listParquet(spark, dir), Seq(column)))
    keysetWalkFromStats(spark, df, column)
  }

  /** A [[TypedKeysetWalk]] for a STRING-keyed clustered table (string
    * doc_ids, URL keys): per-file bounds from the parquet BINARY/UTF8
    * footer stats ([[statsRowsString]]), file ranking and cursor
    * candidacy in unsigned UTF-8 byte order ([[Utf8Ordering]]) — the
    * same order the footers and Spark's UTF8String comparisons use, so
    * the walk is exact across supplementary characters where UTF-16
    * compareTo would mis-rank files. Start a walk with `page(None, …)`.
    * Consults an attached stats index when it covers `column` with
    * STRING min/max; otherwise builds footer stats in memory.
    */
  def keysetWalkString(spark: SparkSession, dir: String,
      column: String): TypedKeysetWalk[String] = {
    val df = readIndex(spark, statsPathFor(dir)).filter(_.covered(column, StringType))
      .map(_.frame(spark))
      .getOrElse(statsRowsString(spark, listParquet(spark, dir), Seq(column)))
    keysetWalkStringFromStats(spark, df, column)
  }

  /** A [[TypedKeysetWalk]] for a TIMESTAMP-keyed clustered table (event
    * time, ingestion time): cursors are EPOCH MICROS, per-file bounds
    * come from the normalized INT64 timestamp footer stats
    * ([[statsRowsMicros]] — MILLIS/MICROS/NANOS all normalize; NANOS
    * bounds only widen, so pages stay exact while certainty is
    * conservative). INT96 legacy output has no usable ordered stats and
    * throws there. Always footer-built: an attached long-stats index is
    * unit-ambiguous for timestamps. Start with `page(None, …)`; the
    * plan predicate is `column > timestamp_micros(cursor)`, which pushes
    * down to the scan like any timestamp comparison.
    */
  def keysetWalkMicros(spark: SparkSession, dir: String,
      column: String): TypedKeysetWalk[Long] =
    keysetWalkMicrosFromStats(spark,
      statsRowsMicros(spark, listParquet(spark, dir), Seq(column)), column)

  /** [[keysetWalkMicros]] from an already-built [[statsRowsMicros]]
    * frame — [[SnapshotTable.keysetWalkMicros]]'s entry point for pinned
    * snapshot versions (the file list comes from the manifest there).
    */
  private[operators] def keysetWalkMicrosFromStats(spark: SparkSession,
      statsDf: DataFrame, column: String): TypedKeysetWalk[Long] =
    new TypedKeysetWalk[Long](spark, column,
      new StatsSource[Long](spark, statsDf, column, (r, i) => r.getLong(i),
        Ordering.Long),
      Ordering.Long,
      (a, asc) => {
        val c = timestamp_micros(lit(a))
        if (asc) col(column) > c else col(column) < c
      })

  private def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted.toSeq
    require(files.nonEmpty, s"no parquet files under $dir")
    files
  }

  /** Build a long-key [[KeysetWalk]] from a stats frame in [[statsRows]]'
    * shape. Rejects a stats frame whose min/max aren't LongType with a
    * clear error (e.g. one built by [[statsRowsString]] for the same
    * column name) instead of an opaque ClassCastException mid-walk.
    */
  private[operators] def keysetWalkFromStats(spark: SparkSession,
      statsDf: DataFrame, column: String): KeysetWalk = {
    val mt = statsDf.schema(s"${column}_min").dataType
    require(mt == LongType,
      s"long keyset walk needs LongType ${column}_min/_max stats, got " +
        s"${mt.simpleString} — string-keyed stats walk via keysetWalkString")
    new KeysetWalk(new TypedKeysetWalk[Long](spark, column,
      new StatsSource[Long](spark, statsDf, column, (r, i) => r.getLong(i),
        Ordering.Long),
      Ordering.Long,
      (a, asc) => if (asc) col(column) > a else col(column) < a))
  }

  /** [[keysetWalkFromStats]] for STRING-key stats frames
    * ([[statsRowsString]]' shape) — [[SnapshotTable.keysetWalkString]]'s
    * entry point for pinned snapshot versions.
    */
  private[operators] def keysetWalkStringFromStats(spark: SparkSession,
      statsDf: DataFrame, column: String): TypedKeysetWalk[String] = {
    val mt = statsDf.schema(s"${column}_min").dataType
    require(mt == StringType,
      s"string keyset walk needs StringType ${column}_min/_max stats, got " +
        s"${mt.simpleString} — long-keyed stats walk via keysetWalk")
    new TypedKeysetWalk[String](spark, column,
      new StatsSource[String](spark, statsDf, column, (r, i) => r.getString(i),
        Utf8Ordering),
      Utf8Ordering,
      (a, asc) => if (asc) col(column) > a else col(column) < a)
  }

  /** One-shot ascending keyset page (see [[KeysetWalk.page]]); a multi-
    * page walk should hold a [[keysetWalk]] so the stats collect once.
    */
  def keysetPage(spark: SparkSession, dir: String, column: String,
      after: Long, size: Int): (DataFrame, Prune) =
    keysetWalk(spark, dir, column).page(after, size)

  /** Conventional in-table location of the stats index: an
    * underscore-prefixed subdirectory, which Spark's file listing (like
    * every parquet reader's) IGNORES — so a plain
    * `spark.read.parquet(dir)` of the data is never polluted by its own
    * index, exactly how `_delta_log`/`_metadata` side-files coexist with
    * data.
    */
  def statsPathFor(dir: String): String = s"$dir/_graft_stats"

  /** Build the stats index AT the table — after this, [[scanBetween]]
    * consults it automatically.
    */
  def attachStats(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    buildStats(spark, dir, cols, statsPathFor(dir))

  /** [[attachStats]] for STRING columns: BINARY/UTF8 footer stats at the
    * conventional in-table location, consulted automatically by
    * [[keysetWalkString]]. A table has ONE attached index (long or
    * string — the stats column types decide which consumers engage;
    * every consumer validates the type and falls back rather than
    * miscompare).
    */
  def attachStatsString(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    writeIndex(spark, statsPathFor(dir), statsSchemaOf(cols, "string"),
      footerRows(spark, listParquet(spark, dir), cols, "string"))

  /** Scan `dir` for `column BETWEEN lo AND hi`, consulting an attached
    * stats index AUTOMATICALLY when one exists and covers `column`:
    * pruned file list + residual filter (the q51 machinery with the
    * explicit statsPath removed from the call site). Without a usable
    * index — none attached, or attached for other columns — it is a
    * plain filtered scan; and an index that prunes EVERYTHING yields the
    * correctly-empty plain scan (parquet row-group stats make it
    * footer-cheap). Returns the frame plus the pruning decision (None =
    * no index consulted). Results are ALWAYS the full-scan filter.
    */
  def scanBetween(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long): (DataFrame, Option[Prune]) = {
    // covered includes the stats TYPE: long bounds against a string
    // index (attachStatsString for the same column name) must fall back
    // to the plain scan, not numerically compare strings
    val p = readIndex(spark, statsPathFor(dir)).filter(_.covered(column, LongType))
      .map(prune(_, column, lo, hi))
    val files = p.filter(_.filesKept > 0).fold(Seq(dir))(_.kept)
    (spark.read.parquet(files: _*).filter(col(column).between(lo, hi)), p)
  }

  // ---------------------------------------------------------------------
  // Per-file BLOOM index: point lookups on NON-clustered columns.
  // Min/max stats skip nothing when every file's [min,max] spans the
  // column's domain — the usual fate of any column the layout was not
  // clustered by. A per-file bloom filter answers "can this file contain
  // v?" with no false negatives, so `col = v` lookups read only the
  // files that (probably) hold v — the Delta/Iceberg bloom-index shape.
  // ---------------------------------------------------------------------

  /** One (file, bloom, n_items, n_bits) row per data file: a bloom of
    * the file's non-null `column` values, built in ONE distributed scan
    * (groupBy input_file_name + BloomFilterAggregate — only the compact
    * bitmaps leave the executors). The hash is NULL-GATED (a NULL value
    * contributes nothing — XxHash64 alone would fold NULLs to the seed
    * constant), so a file whose column is entirely NULL gets a NULL
    * bloom — safely skippable for any equality lookup (`= v` is never
    * true on NULL). `file` holds input_file_name's URI form, directly
    * readable back by spark.read.parquet. `schema` pins the read schema
    * (a schema-evolved table's older files must be read under the
    * committed schema, not per-call inference — [[SnapshotTable
    * .attachBloom]] passes the version's committed schema).
    *
    * Sizing: `expectedItemsPerFile` should be the file's expected
    * DISTINCT count; bits follow the standard m = -n ln(p) / (ln 2)²,
    * so the index costs ~1.2 KB per file per 1k distincts at fpp 1% —
    * metadata-sized at any table size. The sizing parameters ride along
    * per row so an incremental rebuild ([[SnapshotTable
    * .attachBloomIncremental]]) can prove reused rows were built with
    * the same parameters.
    */
  def bloomRows(spark: SparkSession, files: Seq[String], column: String,
      expectedItemsPerFile: Long = 100000L, fpp: Double = 0.01,
      schema: Option[StructType] = None): DataFrame = {
    require(files.nonEmpty, "bloomRows needs at least one file")
    import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    val numBits = bloomNumBits(expectedItemsPerFile, fpp)
    val child = ColumnBridge.expression(col(column))
    // null-gate: BloomFilterAggregate skips NULL inputs, so an all-NULL
    // file aggregates to a NULL bloom (raw XxHash64 never returns NULL —
    // it hashes a NULL input to the seed, which would insert a constant)
    val hashed = If(IsNull(child), Literal(null, LongType), new XxHash64(Seq(child)))
    val agg = new BloomFilterAggregate(hashed,
      Literal(expectedItemsPerFile), Literal(numBits)).toAggregateExpression()
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    reader.parquet(files: _*)
      .groupBy(
        // canonical Hadoop-Path form: input_file_name's local-scheme URIs
        // say file:///, manifests and stats indexes say file:/ — one
        // dialect or incremental reuse joins match nothing
        regexp_replace(input_file_name(), "^file:/+", "file:/").as("file"))
      .agg(ColumnBridge.column(agg).as("bloom"))
      .withColumn("n_items", lit(expectedItemsPerFile))
      .withColumn("n_bits", lit(numBits))
  }

  /** The m = -n ln(p) / (ln 2)² sizing [[bloomRows]] applies. */
  private[operators] def bloomNumBits(expectedItemsPerFile: Long, fpp: Double): Long =
    math.max(64L, math.ceil(
      -expectedItemsPerFile * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

  /** [[bloomRows]] written to `indexOut` as the persisted index. */
  def buildBloomIndex(spark: SparkSession, files: Seq[String], column: String,
      indexOut: String, expectedItemsPerFile: Long = 100000L,
      fpp: Double = 0.01, schema: Option[StructType] = None): Unit =
    // repartition(1), not coalesce(1): each file's bloom build scans
    // that file's column data — coalesce would serialize every build
    // into the single writer task
    bloomRows(spark, files, column, expectedItemsPerFile, fpp, schema)
      .repartition(1).write.mode("overwrite").parquet(indexOut)

  /** The DISTRIBUTED probe plan behind [[pruneBloom]]: (file, keep)
    * booleans — the bitmaps are tested WHERE THEY SIT (the row-valued
    * [[graft.functions.expr.BloomBitmapMightContain]]; Spark's builtin
    * might_contain requires a foldable bitmap) and never leave the
    * executors. Exposed so the spec can assert the collected rows are
    * file-path-sized (no binary column).
    */
  private[graft] def bloomProbeFrame(spark: SparkSession, indexPath: String,
      value: Any, valueType: DataType): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.graft.ColumnBridge
    val h = ColumnBridge.column(new XxHash64(Seq(Literal.create(value, valueType))))
    spark.read.parquet(indexPath)
      .select(col("file"),
        // NULL bloom = all-NULL file: equality never matches NULL → skip
        coalesce(graft.functions.expr.GraftFunctions
          .bloomBitmapMightContain(col("bloom"), h), lit(false)).as("keep"))
  }

  /** Prune a persisted bloom index for `column = value`: keep exactly the
    * files whose bloom might contain the value (NULL blooms = all-NULL
    * files, skipped — equality never matches NULL). The probe hashes the
    * PHYSICAL type like the build did (XxHash64 over the typed literal),
    * so `value`'s type must match the indexed column's — 5 and 5L hash
    * apart (the [[BloomJoin.prunedJoin]] caveat). The probe runs as a
    * DISTRIBUTED filter over the index frame ([[bloomProbeFrame]]):
    * bitmaps are bloom-tested on the executors and only (file, keep)
    * booleans are collected — ~bytes per file, where collecting the
    * bitmaps themselves (a ~KB binary per file) would pull GBs to the
    * driver per lookup on a million-file table.
    */
  def pruneBloom(spark: SparkSession, indexPath: String, value: Any,
      valueType: DataType): Prune = {
    require(value != null, "point lookup of NULL never matches (SQL equality)")
    val rows = bloomProbeFrame(spark, indexPath, value, valueType).collect()
    val kept = rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq.sorted
    Prune(rows.length, kept.length, kept)
  }
}
