package graft.query

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Parquet footer metadata inspection, mirroring the reference's Metadata
  * tab (reference: src/duckdb-backend.ts getMetaDataImpl →
  * `parquet_file_metadata(...)`; src/backend.ts getMetaData picks
  * file_name/created_by/num_rows/num_row_groups/format_version). Reads the
  * footer directly with parquet-hadoop (already on Spark's classpath) —
  * footer-only I/O, no data scan.
  *
  * For a 100 TB multi-file table this runs per file; `fileMetadata` takes
  * any number of paths and returns one row per file, which a caller can
  * parallelize over a driver-side listing (footers are KB-sized).
  */
object MetadataInspector {

  private val schema = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** Open `path` for footer reads with the caller's Hadoop conf. The
    * one-argument `ParquetFileReader.open` (an `InputFile` alone) builds
    * a fresh `Configuration` per file (default resources parsed again,
    * ~12 ms), which costs far more than reading the footer.
    */
  def openReader(conf: Configuration, path: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf).build())

  def footer(spark: SparkSession, path: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = openReader(spark.sessionState.newHadoopConf(), new Path(path))
    try reader.getFooter finally reader.close()
  }

  /** The raw thrift footer. parquet-hadoop's converted metadata drops the
    * fields the reference's metadata tab shows verbatim (format version,
    * encryption algorithm, footer signing key), so read the footer struct
    * itself: tail 8 bytes = little-endian footer length + "PAR1" magic,
    * then the thrift-compact FileMetaData just before them.
    */
  def rawFooter(spark: SparkSession, path: String): org.apache.parquet.format.FileMetaData =
    readRawFooter(spark.sessionState.newHadoopConf(), path)

  private def readRawFooter(conf: Configuration,
      path: String): org.apache.parquet.format.FileMetaData = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    // magic(4) + footer + footerLen(4) + magic(4) is the minimum layout
    require(len >= 12, s"not a parquet file (too short, $len bytes): $path")
    val in = fs.open(p)
    try {
      val tail = new Array[Byte](8)
      in.readFully(len - 8, tail, 0, 8)
      require(tail(4) == 'P' && tail(5) == 'A' && tail(6) == 'R' && tail(7) == '1',
        s"not a parquet file (bad magic): $path")
      val footerLen = (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) |
        ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
      require(footerLen > 0 && footerLen <= len - 12,
        s"corrupt parquet footer length $footerLen (file is $len bytes): $path")
      in.seek(len - 8 - footerLen)
      org.apache.parquet.format.Util.readFileMetaData(in)
    } finally in.close()
  }

  /** Aggregated metadata over a multi-file table directory: one row per
    * file plus totals — the 100 TB shape where a "table" is thousands of
    * files. Footer reads parallelize across the cluster via a paths RDD
    * (each footer is KB-sized; no data pages are touched).
    */
  def directoryMetadata(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val fs = new Path(dir).getFileSystem(conf.value)
    val files = fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
    val rows = spark.sparkContext.parallelize(files.toSeq, math.max(1, math.min(files.length, 64)))
      .map { p =>
        val reader = openReader(conf.value, new Path(p))
        try {
          val f = reader.getFooter
          val blocks = f.getBlocks.asScala
          Row(p.substring(p.lastIndexOf('/') + 1),
            f.getFileMetaData.getCreatedBy,
            blocks.map(_.getRowCount).sum,
            blocks.size.toLong,
            blocks.map(_.getCompressedSize).sum)
        } finally reader.close()
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("file_name", StringType, nullable = false),
      StructField("created_by", StringType, nullable = true),
      StructField("num_rows", LongType, nullable = false),
      StructField("num_row_groups", LongType, nullable = false),
      StructField("compressed_bytes", LongType, nullable = false))))
  }

  /** Key/value metadata rows exactly as the reference's metadata tab shows
    * them (reference: src/backend.ts:52-82, fed by DuckDB's
    * parquet_file_metadata — duckdb-backend.ts:128-140). format_version /
    * encryption fields come from the raw thrift footer, matching
    * parquet_file_metadata's output: version as written (1 or 2), NULL
    * encryption fields for unencrypted files.
    */
  private def footerKvRows(path: String,
      raw: org.apache.parquet.format.FileMetaData): Seq[Row] = Seq(
    Row("file_name", path),
    Row("created_by", raw.getCreated_by),
    Row("num_rows", raw.getNum_rows.toString),
    Row("num_row_groups", raw.getRow_groupsSize.toString),
    Row("format_version", raw.getVersion.toString),
    Row("encryption_algorithm",
      if (raw.isSetEncryption_algorithm)
        raw.getEncryption_algorithm.getSetField.getFieldName
      else null),
    Row("footer_signing_key_metadata",
      if (raw.isSetFooter_signing_key_metadata)
        java.util.Base64.getEncoder.encodeToString(raw.getFooter_signing_key_metadata)
      else null))

  /** [[footerKvRows]] of one file, read on the driver, as a local
    * relation: collecting it runs no Spark job.
    */
  def fileMetadata(spark: SparkSession, path: String): DataFrame =
    spark.createDataFrame(footerKvRows(path, rawFooter(spark, path)).asJava, schema)

  /** [[fileMetadata]] for an EXPLICIT file list — one key/value block per
    * file, concatenated in list order, with every thrift footer read in
    * a SINGLE distributed job over a paths RDD (the
    * [[directoryMetadata]] shape). This is the form a manifest-based
    * table ([[graft.operators.SnapshotTable]]) consumes: a snapshot with
    * thousands of live files gets one flat scan plan and O(1) driver
    * work, not a reduce(unionAll) tree with a plan branch (and a
    * driver-side footer read) per file.
    */
  def filesMetadata(spark: SparkSession, paths: Seq[String]): DataFrame =
    if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val rows = spark.sparkContext
        .parallelize(paths, math.max(1, math.min(paths.length, 64)))
        .flatMap(p => footerKvRows(p, readRawFooter(conf.value, p)))
      spark.createDataFrame(rows, schema)
    }

  /** Per-row-group, per-column chunk detail: compression, sizes, value
    * counts and min/max statistics — the drill-down level DuckDB's
    * parquet_metadata() exposes. One footer read on the driver, returned
    * as a local relation.
    */
  def rowGroupMetadata(spark: SparkSession, path: String): DataFrame = {
    val f = footer(spark, path)
    val rows = f.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (b, gi) =>
      b.getColumns.asScala.toSeq.map { c =>
        Row(gi, c.getPath.toDotString, c.getPrimitiveType.getPrimitiveTypeName.name,
          c.getCodec.name, b.getRowCount, c.getValueCount,
          c.getTotalSize, c.getTotalUncompressedSize,
          Option(c.getStatistics).map(s => String.valueOf(s.genericGetMin)).orNull,
          Option(c.getStatistics).map(s => String.valueOf(s.genericGetMax)).orNull,
          Option(c.getStatistics).map(_.getNumNulls.toString).orNull)
      }
    }
    val sch = StructType(Seq(
      StructField("row_group", IntegerType, nullable = false),
      StructField("column", StringType, nullable = false),
      StructField("physical_type", StringType, nullable = false),
      StructField("codec", StringType, nullable = false),
      StructField("group_rows", LongType, nullable = false),
      StructField("value_count", LongType, nullable = false),
      StructField("compressed_bytes", LongType, nullable = false),
      StructField("uncompressed_bytes", LongType, nullable = false),
      StructField("stats_min", StringType, nullable = true),
      StructField("stats_max", StringType, nullable = true),
      StructField("num_nulls", StringType, nullable = true)))
    spark.createDataFrame(rows.asJava, sch)
  }
}
