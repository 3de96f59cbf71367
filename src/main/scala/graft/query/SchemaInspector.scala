package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Schema-as-table inspection, mirroring the reference's Schema tab
  * (reference: src/duckdb-backend.ts initializeSchema runs
  * `DESCRIBE SELECT * FROM query_result`; src/duckdb-schema-converter.ts
  * renders nested types). Emits DuckDB-style type strings so the surface
  * matches what reference users see.
  */
object SchemaInspector {

  /** DuckDB-style rendering of a Spark DataType
    * (cf. reference src/duckdb-schema-converter.ts parseTypeString, which
    * parses exactly these strings back into arrow types).
    */
  def duckTypeName(dt: DataType): String = dt match {
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case BinaryType => "BLOB"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP WITH TIME ZONE"
    case TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _) => s"${duckTypeName(e)}[]"
    case MapType(k, v, _) => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
    case StructType(fields) =>
      fields.map(f => s"""\"${f.name}\" ${duckTypeName(f.dataType)}""").mkString("STRUCT(", ", ", ")")
    case other => other.sql
  }

  /** DuckDB-style rendering of a parquet footer type — the mapping
    * DuckDB's own DESCRIBE applies when it opens a parquet file, so the
    * schema tab shows the file's schema independent of any Spark session
    * reader flag (`inferTimestampNTZ` / `nanosAsLong` change what SPARK
    * reads a timestamp as; the file's logical type is fixed).
    */
  def duckTypeName(t: org.apache.parquet.schema.Type): String = {
    import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation => L, PrimitiveType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    t match {
      case p: PrimitiveType =>
        (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
          case (_, s: L.StringLogicalTypeAnnotation) => "VARCHAR"
          case (_, _: L.EnumLogicalTypeAnnotation) => "VARCHAR"
          case (_, d: L.DecimalLogicalTypeAnnotation) =>
            s"DECIMAL(${d.getPrecision},${d.getScale})"
          case (_, _: L.DateLogicalTypeAnnotation) => "DATE"
          case (_, ts: L.TimestampLogicalTypeAnnotation) =>
            if (ts.isAdjustedToUTC) "TIMESTAMP WITH TIME ZONE"
            else ts.getUnit match {
              case L.TimeUnit.MILLIS => "TIMESTAMP_MS"
              case L.TimeUnit.NANOS => "TIMESTAMP_NS"
              case _ => "TIMESTAMP"
            }
          case (_, _: L.TimeLogicalTypeAnnotation) => "TIME"
          case (_, i: L.IntLogicalTypeAnnotation) =>
            val base = i.getBitWidth match {
              case 8 => "TINYINT"
              case 16 => "SMALLINT"
              case 32 => "INTEGER"
              case _ => "BIGINT"
            }
            if (i.isSigned) base else "U" + base
          case (_, _: L.UUIDLogicalTypeAnnotation) => "UUID"
          case (BOOLEAN, _) => "BOOLEAN"
          case (INT32, _) => "INTEGER"
          case (INT64, _) => "BIGINT"
          case (INT96, _) => "TIMESTAMP"
          case (FLOAT, _) => "FLOAT"
          case (DOUBLE, _) => "DOUBLE"
          case (BINARY, _) | (FIXED_LEN_BYTE_ARRAY, _) => "BLOB"
          case other => other._1.name
        }
      case g: GroupType => g.getLogicalTypeAnnotation match {
        case _: L.ListLogicalTypeAnnotation =>
          // standard 3-level list: group(LIST){ repeated group list { element } };
          // legacy 2-level: group(LIST){ repeated element }
          val repeated = g.getFields.get(0)
          val element = repeated match {
            case rg: GroupType if rg.getFieldCount == 1 && rg.getName == "list" =>
              rg.getFields.get(0)
            case e => e
          }
          s"${duckTypeName(element)}[]"
        case _: L.MapLogicalTypeAnnotation =>
          val kv = g.getFields.get(0).asGroupType()
          s"MAP(${duckTypeName(kv.getFields.get(0))}, ${duckTypeName(kv.getFields.get(1))})"
        case _ =>
          g.getFields.asScala
            .map(f => s"""\"${f.getName}\" ${duckTypeName(f)}""")
            .mkString("STRUCT(", ", ", ")")
      }
    }
  }

  private val describeSchema = StructType(Seq(
    StructField("column_name", StringType, nullable = false),
    StructField("column_type", StringType, nullable = false),
    StructField("null", StringType, nullable = false)))

  /** DESCRIBE of a parquet file from its footer alone (no data scan):
    * one row per column, types rendered exactly as DuckDB's DESCRIBE
    * renders them for the same file (reference: duckdb-backend.ts
    * initializeSchema). Repetition OPTIONAL → "YES", REQUIRED → "NO".
    * A local relation: collecting it runs no Spark job.
    */
  def describeParquet(spark: SparkSession, path: String): DataFrame = {
    val msg = MetadataInspector.footer(spark, path)
      .getFileMetaData.getSchema
    val rows = msg.getFields.asScala.toSeq.map { f =>
      Row(f.getName, duckTypeName(f),
        if (f.getRepetition == org.apache.parquet.schema.Type.Repetition.REQUIRED) "NO" else "YES")
    }
    spark.createDataFrame(rows.asJava, describeSchema)
  }

  /** One row per column: (column_name, column_type, null) — the DESCRIBE
    * shape the reference's schema tab paginates over. Built from the
    * schema alone as a local relation, so collecting it runs no Spark job.
    */
  def describe(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows = df.schema.fields.toSeq.map { f =>
      Row(f.name, duckTypeName(f.dataType), if (f.nullable) "YES" else "NO")
    }
    spark.createDataFrame(rows.asJava, describeSchema)
  }

  /** Flattened leaf paths (a.b.c; array elements as a[].b, map entries as
    * m.key / m.value) with types — the "struct tree" view the reference
    * shows when clicking a nested schema cell. Like the reference's tree
    * (duckdb-schema-converter.ts:201-206 renders LIST element fields as
    * expandable children, :287-306 parses LIST/MAP element types), the
    * recursion continues through arrays and maps whose elements carry
    * further structure; scalar-element arrays stay one leaf (`T[]`),
    * matching the flat DESCRIBE rendering.
    */
  def leafPaths(schema: StructType, prefix: String = ""): Seq[(String, String)] = {
    def nested(dt: DataType): Boolean = dt match {
      case _: StructType | _: MapType => true
      case ArrayType(e, _) => nested(e)
      case _ => false
    }
    def expand(path: String, dt: DataType): Seq[(String, String)] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => expand(s"$path.${f.name}", f.dataType))
      case ArrayType(e, _) if nested(e) => expand(s"$path[]", e)
      case MapType(k, v, _) =>
        expand(s"$path.key", k) ++ expand(s"$path.value", v)
      case leaf => Seq(path -> duckTypeName(leaf))
    }
    schema.fields.toSeq.flatMap { f =>
      val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      expand(path, f.dataType)
    }
  }
}
