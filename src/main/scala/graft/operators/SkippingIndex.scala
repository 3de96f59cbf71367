package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation,
  IntLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryComparison,
  Expression, In, InSet, Literal, Or}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
    * there. Index columns are read as the types [[writeIndex]] writes:
    * longs, dates, timestamps and strings ([[statsSchemaOf]]).
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
    var schema: StructType = null
    val rows = IndexedSeq.newBuilder[Row]
    parts.foreach { p =>
      val reader = MetadataInspector.openReader(conf, p)
      try {
        val msg = reader.getFooter.getFileMetaData.getSchema
        val prims = msg.getFields.asScala.map(_.asPrimitiveType).toIndexedSeq
        val types = prims.map(t => parquetStatsType(t).getOrElse(
          throw new IllegalArgumentException(
            s"stats index $path: column ${t.getName} has unsupported type $t")))
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
              else external(catalystValue(prims(c), prims(c).getPrimitiveTypeName match {
                case PrimitiveTypeName.INT32 => g.getInteger(c, 0)
                case PrimitiveTypeName.INT64 => g.getLong(c, 0)
                case _ => g.getBinary(c, 0)
              }, ceil = false), types(c))
            })
            i += 1
          }
          store = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    Option(schema).map(StatsIndex(_, rows.result()))
  }

  /** Write `rows` ([[statsSchemaOf]]' shape) as the stats index at
    * `path`, on the driver: one snappy parquet file written with
    * parquet-hadoop, no Spark job. Rows are sorted by file
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
    import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
    import org.apache.spark.sql.internal.SQLConf.ParquetOutputTimestampType
    require(schema.forall(f => statsTypeOf(f.dataType).contains(f.dataType)),
      s"stats index columns must have stats types: ${schema.simpleString}")
    // the parquet schema Spark writes for it, timestamps as MICROS
    val msg = new SparkToParquetSchemaConverter(
      outputTimestampType = ParquetOutputTimestampType.TIMESTAMP_MICROS).convert(schema)
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
          if (!r.isNullAt(i)) CatalystTypeConverters.convertToCatalyst(r.get(i)) match {
            case d: Int => g.add(i, d)
            case l: Long => g.add(i, l)
            case s => g.add(i, s.toString)
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

  /** The stats type of a key column of type `dt`: the type its footer
    * min/max are held in, compared through that type's Catalyst
    * ordering. Integral keys widen to LongType; DATE, TIMESTAMP and
    * STRING keep their own type (UTF8String orders by unsigned bytes, the
    * order parquet computes BINARY stats in). None: no ordered footer
    * stats (floats, decimals, collated strings, nested types).
    */
  private[operators] def statsTypeOf(dt: DataType): Option[DataType] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(LongType)
    case DateType | TimestampType | StringType => Some(dt)
    case _ => None
  }

  /** The stats type of a parquet column ([[statsTypeOf]] of the type it
    * reads as). INT96 timestamps have none (no ordered statistics): write
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS` to prune. */
  private def parquetStatsType(t: PrimitiveType): Option[DataType] =
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64, null) => Some(LongType)
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64, i: IntLogicalTypeAnnotation)
          if i.isSigned => Some(LongType)
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) => Some(DateType)
      case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation)
          if ts.isAdjustedToUTC => Some(TimestampType)
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) => Some(StringType)
      case _ => None
    }

  /** A parquet statistic (or index value) of column type `t` as a
    * Catalyst value of its stats type: Long, Int days, epoch micros from
    * any annotated unit (NANOS floor-divided for a min, ceil-divided for
    * a max, so an interval only widens) or UTF8String. */
  private def catalystValue(t: PrimitiveType, v: Any, ceil: Boolean): Any =
    (t.getLogicalTypeAnnotation, v) match {
      case (_: DateLogicalTypeAnnotation, d: java.lang.Integer) => d.intValue
      case (ts: TimestampLogicalTypeAnnotation, l: java.lang.Long) => ts.getUnit match {
        case TimeUnit.MILLIS => Math.multiplyExact(l.longValue, 1000L)
        case TimeUnit.MICROS => l.longValue
        // addExact: a max within 999ns of Long.MaxValue must throw (the
        // caller's all-files-affected degrade) rather than wrap negative
        // and shrink the interval into a wrong prune
        case TimeUnit.NANOS =>
          if (ceil) Math.floorDiv(Math.addExact(l.longValue, 999L), 1000L)
          else Math.floorDiv(l.longValue, 1000L)
      }
      case (_, n: java.lang.Number) => n.longValue
      case (_, b: org.apache.parquet.io.api.Binary) => UTF8String.fromBytes(b.getBytes)
    }

  /** A Catalyst stats value as stats rows carry it: Long, LocalDate,
    * Instant or String — external values `createDataFrame` accepts
    * whatever the session's java8 datetime setting. */
  private[operators] def external(v: Any, dt: DataType): Any = dt match {
    case DateType => DateTimeUtils.daysToLocalDate(v.asInstanceOf[Int])
    case TimestampType => DateTimeUtils.microsToInstant(v.asInstanceOf[Long])
    case StringType => v.toString
    case _ => v
  }

  /** The stats-table schema over (column, stats type) pairs. Shared with
    * [[SnapshotTable]]'s manifest-carried stats so locally-reconstructed
    * rows are shape-identical to a footer build's.
    */
  private[operators] def statsSchemaOf(cols: Seq[(String, DataType)]): StructType =
    StructType(
      StructField("file", StringType, nullable = false) +:
      StructField("n_rows", LongType, nullable = false) +:
      cols.flatMap { case (c, vt) => Seq(
        StructField(s"${c}_min", vt, nullable = true),
        StructField(s"${c}_max", vt, nullable = true),
        StructField(s"${c}_nulls", LongType, nullable = true)) })

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

  /** Build the stats table for `cols` over every `*.parquet` file under
    * `dir`, and write it to `statsOut` (one small parquet file — the
    * index itself, [[writeIndex]]). Footer-only I/O ([[statsRows]]).
    */
  def buildStats(spark: SparkSession, dir: String, cols: Seq[String],
      statsOut: String): Unit = {
    val files = listParquet(spark, dir)
    val typed = footerStatsTypes(spark, files, cols)
    writeIndex(spark, statsOut, statsSchemaOf(typed), footerRows(spark, files, typed))
  }

  /** One file's stats row in [[statsSchemaOf]]' shape — file, n_rows,
    * then min, max and null count per column — folded from its footer's
    * column-chunk statistics across row groups in the stats type's
    * Catalyst ordering. A column whose parquet type has another stats
    * type throws. A chunk without statistics, or with no non-null value,
    * yields NULL min/max ("cannot skip").
    */
  private def footerRow(conf: Configuration, p: String,
      cols: Seq[(String, DataType)]): Row = {
    val reader = MetadataInspector.openReader(conf, new Path(p))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      val perCol = cols.flatMap { case (c, dt) =>
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == c)
        // a ZERO-ROW file has no row groups at all: no stats to read,
        // and no evidence the column name is wrong either — serve the
        // honest null-stat row (a "blind" file, which every pruning
        // layer already handles) instead of failing into the caller's
        // all-files-affected fallback
        require(chunks.nonEmpty || blocks.isEmpty, s"column $c not found in $p")
        chunks.headOption.map(_.getPrimitiveType).foreach(t => require(
          parquetStatsType(t).contains(dt),
          s"$c: parquet type $t has no ${dt.simpleString} footer stats"))
        val stats = chunks.map(_.getStatistics)
        val (mn, mx) =
          if (stats.isEmpty || stats.exists(s => s == null || !s.hasNonNullValue))
            (null, null)
          else {
            val t = chunks.head.getPrimitiveType
            val ord = PhysicalDataType.ordering(dt)
            (external(stats.map(s => catalystValue(t, s.genericGetMin, ceil = false)).min(ord), dt),
              external(stats.map(s => catalystValue(t, s.genericGetMax, ceil = true)).max(ord), dt))
          }
        Seq(mn, mx, nullCount(stats))
      }
      Row.fromSeq(p +: nRows +: perCol)
    } finally reader.close()
  }

  /** Each of `cols` with the stats type of its type in `schema`; a type
    * without ordered footer stats throws. */
  private[operators] def statsTypesOf(schema: StructType,
      cols: Seq[String]): Seq[(String, DataType)] =
    cols.map { c =>
      val dt = schema(c).dataType
      c -> statsTypeOf(dt).getOrElse(throw new IllegalArgumentException(
        s"$c: ${dt.simpleString} columns have no ordered footer stats"))
    }

  /** [[statsTypesOf]] the schema Spark reads from `files`' first footer. */
  private def footerStatsTypes(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): Seq[(String, DataType)] = {
    require(files.nonEmpty, "footer stats need at least one file")
    statsTypesOf(graft.sources.Tables.parquetFooterSchema(spark, files.head).getOrElse(
      throw new IllegalArgumentException(s"cannot read the footer of ${files.head}")), cols)
  }

  /** Footer-stats rows for `files` on the driver, in file order: one
    * in-process fold, no Spark job. */
  private[operators] def footerRows(spark: SparkSession, files: Seq[String],
      cols: Seq[(String, DataType)]): Seq[Row] = {
    require(files.nonEmpty, "footer stats need at least one file")
    val conf = spark.sessionState.newHadoopConf()
    files.map(footerRow(conf, _, cols))
  }

  /** [[footerRows]] as a local relation: building, collecting or
    * broadcasting it runs no job. */
  private def footerFrame(spark: SparkSession, files: Seq[String],
      cols: Seq[(String, DataType)]): DataFrame =
    spark.createDataFrame(footerRows(spark, files, cols).asJava, statsSchemaOf(cols))

  /** The stats table for an EXPLICIT file list (no directory listing),
    * as a local relation: footer-only reads folded on the driver
    * ([[footerRows]]). Each column's stats type is its type's in the
    * first file ([[statsTypeOf]]); any other type throws.
    */
  def statsRows(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): DataFrame =
    footerFrame(spark, files, footerStatsTypes(spark, files, cols))

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

  /** `v op c` as `c op' v`, by comparison symbol. */
  private val Flipped = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  /** Whether a file can hold a row satisfying `e`, where `bounds(column,
    * statsType)` is the column's [min, max] in the file as Catalyst values
    * of its stats type ([[statsTypeOf]]), None when unknown. Comparisons
    * (`=`, `<=>`, `<`, `<=`, `>`, `>=`) of a stats-typed column with a
    * non-null literal, `IN` lists of literals, and AND and OR of those are
    * tested in the stats type's Catalyst ordering; anything else — a cast
    * or UDF operand, NOT, IS NULL, a column without a stats type (a
    * collated string), unknown bounds — can match. `bounds` is asked only
    * about columns such a comparison names.
    */
  private[operators] def mayMatch(e: Expression,
      bounds: (String, DataType) => Option[(Any, Any)]): Boolean = {
    // `column op value` (op a comparison symbol), when the bounds are known
    def test(column: Expression, op: String, value: Any, valueType: DataType): Boolean =
      column match {
        case a: AttributeReference if value != null =>
          statsTypeOf(a.dataType).filter(st => statsTypeOf(valueType).contains(st))
            .flatMap(st => bounds(a.name, st).map((st, _))).forall { case (st, (mn, mx)) =>
              val o = PhysicalDataType.ordering(st)
              val v = if (st == LongType) value.asInstanceOf[Number].longValue else value
              op match {
                case "=" | "<=>" => o.lteq(mn, v) && o.lteq(v, mx)
                case "<" => o.lt(mn, v)
                case "<=" => o.lteq(mn, v)
                case ">" => o.gt(mx, v)
                case ">=" => o.gteq(mx, v)
                case _ => true
              }
            }
        case _ => true
      }
    e match {
      case And(l, r) => mayMatch(l, bounds) && mayMatch(r, bounds)
      case Or(l, r) => mayMatch(l, bounds) || mayMatch(r, bounds)
      case In(c, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists { case Literal(v, vt) => test(c, "=", v, vt); case _ => true }
      case InSet(c, set) => set.exists(v => test(c, "=", v, c.dataType))
      case b: BinaryComparison => (b.left, b.right) match {
        case (c, Literal(v, vt)) => test(c, b.symbol, v, vt)
        case (Literal(v, vt), c) => test(c, Flipped.getOrElse(b.symbol, b.symbol), v, vt)
        case _ => true
      }
      case _ => true
    }
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

  /** One file's keyset-relevant stats: row count, key [min, max] as
    * Catalyst values (None ⇒ the file can never be skipped) and null
    * count (None ⇒ no CERTAINTY toward the stop bound). */
  private[operators] final case class KeyStat(file: String, nRows: Long,
      min: Option[Any], max: Option[Any], nulls: Option[Long])

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
    * O(page ÷ rows-per-file) FILES at ANY table size (the `keyset_page`
    * row of BENCH_sf1_r13.json: files_kept ≤ 8 per 1000-row page at
    * sf0.1 and at the 10× sf1 corpus).
    *
    * Contracts and caveats:
    *  - the key column is any type with ordered footer stats
    *    ([[statsTypeOf]]). File bounds are ranked in the stats type's
    *    Catalyst ordering, the order the footers were folded in and the
    *    page plan sorts by (STRING: unsigned UTF-8 bytes).
    *  - the CURSOR is the key's external value and a strict bound:
    *    `page(Some(after), size)` serves the `size` smallest keys > `after`
    *    (ascending) or largest keys < `after` (descending); `None` starts
    *    an unbounded walk. A deep walk feeds each page's last row's
    *    `Row.get(key)` back as the next cursor — exact when the key is
    *    UNIQUE (the serving layout clusters by a unique key); under
    *    duplicate keys the strict cursor skips remaining copies of the
    *    boundary key, the standard keyset contract. Each PAGE is exact for
    *    any data.
    *  - NULL keys are never served, and never corrupt the stop bound: a
    *    file's certain-row contribution is n_rows MINUS the key's null
    *    count (min/max ignore nulls, n_rows counts them — overcounting
    *    would stop the walk early and DROP a later file's rows). Unknown
    *    null counts contribute zero certainty.
    *  - files without usable min/max stats always qualify (unknown ⇒
    *    cannot skip) and are read into every page.
    *  - the residual filter + `orderBy limit size` make every page
    *    exactly the full-sort page whatever the stats said; pruning is
    *    an I/O bound, never a semantics change.
    *
    * The stats come from an ATTACHED index or a driver-side footer fold;
    * above `graft.keyset.eagerStatsMax` files they are sorted once into
    * executor memory ([[StatsSource]]) and each page pulls only the rows
    * it walks. A cursor provably past the data gets the empty page from
    * the stats alone. Build via [[SkippingIndex.keysetWalk]] (dirs) or
    * [[SnapshotTable.keysetWalk]] (pinned versions); `close()` drops the
    * sorted stats cache.
    */
  final class KeysetWalk private[operators] (spark: SparkSession,
      statsDf: DataFrame, column: String) {

    private val source = new StatsSource(spark, statsDf, column)

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
    def page(after: Option[Any], size: Int, ascending: Boolean = true): (DataFrame, Prune) = {
      require(size > 0, "page size must be positive")
      val ord = source.ord
      val cursor = after.map(source.key)
      // candidate files (could hold a key strictly beyond the cursor) in
      // key order, nearest-to-cursor first — pulled LAZILY from the
      // walk's sorted stats cache, so only the files this page actually
      // walks ever reach the driver
      val it = source.candidates(after, ascending)
      val included = scala.collection.mutable.ArrayBuffer.empty[KeyStat]
      var cur: KeyStat = if (it.hasNext) it.next() else null
      while (cur != null) {
        included += cur
        val nxt: KeyStat = if (it.hasNext) it.next() else null
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
                val pastCursor = cursor.forall(a =>
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
      val pred = after.map(a => if (ascending) col(column) > lit(a) else col(column) < lit(a))
        .getOrElse(col(column).isNotNull)
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

  /** Backing store for a walk's per-file stats, HYBRID by file count so
    * a walk never holds O(files) rows at millions of files:
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
    * One order on both paths: the eager array is ranked with the stats
    * type's Catalyst ordering (`PhysicalDataType.ordering`), the ordering
    * the lazy path's executor-side sort of the same column uses. A filter
    * on that sorted cache is narrow and `toLocalIterator` drains
    * partitions in order, so the stream stays globally sorted.
    */
  private[operators] final class StatsSource(spark: SparkSession,
      statsDf: DataFrame, column: String) {

    private val statsType = statsDf.schema(s"${column}_min").dataType
    private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(statsType)

    /** The walk's key order: the stats type's Catalyst ordering. */
    val ord: Ordering[Any] = PhysicalDataType.ordering(statsType)

    /** A cursor (the key's external value) as a stats value; an Int,
      * Short or Byte key's cursor widens to its Long stats. */
    def key(cursor: Any): Any = cursor match {
      case n: java.lang.Number if statsType == LongType => n.longValue
      case v => toCatalyst(v)
    }

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

    private def toStat(r: Row): KeyStat = KeyStat(
      r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(toCatalyst(r.get(2))),
      if (r.isNullAt(3)) None else Some(toCatalyst(r.get(3))),
      if (r.isNullAt(4)) None else Some(r.getLong(4)))

    private val eagerMax: Int =
      spark.conf.get("graft.keyset.eagerStatsMax", "4096").toInt

    /** Stats rows materialized on the driver (residency evidence). */
    val pulled = new java.util.concurrent.atomic.AtomicLong(0L)

    // eager path: ONE bounded collect of limit(eagerMax+1) is both the
    // size probe and the payload (the stats frame is evaluated once)
    private val eagerRows: Option[Array[KeyStat]] =
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

    // lazy path: persist the normalized frame ONCE, up front, for the
    // blind collect, the total count and the per-direction sorts.
    // Unpersisted in close().
    private val lazyNormalized: Option[DataFrame] =
      if (eagerRows.isDefined) None
      else {
        normalized.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Some(normalized)
      }

    /** Files with no usable bounds (all-NULL or stats-less): they join
      * every page unconditionally — the degenerate few, never the table.
      */
    val blind: Array[KeyStat] = eagerRows match {
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

    private lazy val eagerKnown: Array[KeyStat] =
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

    /** Files that could hold a key strictly beyond the cursor `after`
      * (the key's external value), nearest first. */
    def candidates(after: Option[Any], ascending: Boolean): Iterator[KeyStat] =
      eagerRows match {
        case Some(_) =>
          // pure driver memory: filter + sort exactly like the lazy
          // path's executor-side plan (same candidate set, same order)
          val cand = after.map(key) match {
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

  /** A [[KeysetWalk]] over `dir` keyed by `column`: consults the attached
    * stats index ([[attachStats]]) when it covers `column` with the
    * stats type of the column's parquet type, otherwise builds the stats
    * in memory from the files' footers (a footer fold on the driver,
    * nothing written). An index of another stats type is never consulted.
    */
  def keysetWalk(spark: SparkSession, dir: String, column: String): KeysetWalk = {
    val files = listParquet(spark, dir)
    val typed = footerStatsTypes(spark, files, Seq(column))
    val df = readIndex(spark, statsPathFor(dir)).filter(_.covered(column, typed.head._2))
      .map(_.frame(spark))
      .getOrElse(footerFrame(spark, files, typed))
    new KeysetWalk(spark, df, column)
  }

  private def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted.toSeq
    require(files.nonEmpty, s"no parquet files under $dir")
    files
  }

  /** Conventional in-table location of the stats index: an
    * underscore-prefixed subdirectory, which Spark's file listing (like
    * every parquet reader's) IGNORES — so a plain
    * `spark.read.parquet(dir)` of the data is never polluted by its own
    * index, exactly how `_delta_log`/`_metadata` side-files coexist with
    * data.
    */
  def statsPathFor(dir: String): String = s"$dir/_graft_stats"

  /** Build the stats index AT the table — after this, [[scanBetween]]
    * (long columns) and [[keysetWalk]] consult it automatically. A table
    * has ONE attached index; each consumer checks the stats type of the
    * column it needs and falls back rather than miscompare.
    */
  def attachStats(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    buildStats(spark, dir, cols, statsPathFor(dir))

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
    // index over the same column name must fall back to the plain scan,
    // not numerically compare strings
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
