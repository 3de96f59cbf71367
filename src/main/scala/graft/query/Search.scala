package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Free-text search within a result set, mirroring the reference's
  * behavior (reference: src/worker.ts:136-165): every column is matched
  * with `CAST(col AS TEXT) LIKE '%s%'`, OR-ed together; string columns
  * skip the cast.
  *
  * A column is left out of the OR when its text rendering cannot contain
  * the term: Spark's cast of an integral, floating, decimal, date,
  * timestamp or boolean value to string only ever emits characters of a
  * small fixed alphabet ([[castAlphabet]]), and a term with a character
  * outside it cannot be a substring of any such rendering. Dropping that
  * column's disjunct removes a cast and a LIKE per row and cannot change
  * which rows match. A word such as `bada` therefore casts no number or
  * date. String, binary and complex columns, and every other type, are
  * always matched.
  *
  * Compiles to ONE codegen'd filter over the scan — no shuffle, no
  * collect — so it runs at full scan throughput on any cluster size.
  */
object Search {

  private val Digits = ('0' to '9').toSet

  /** Every character Spark's cast to string can emit for a value of `dt`
    * (session time zone and locale do not change them), or None when the
    * rendering is open-ended. Numbers render as `-12`, `1.0E-7`, `NaN`,
    * `-Infinity` or `1E+10`; dates and timestamps as
    * `-0044-03-15 10:00:00.5` or `+12345-01-01`. The sets may hold more
    * than a type can emit, never less (pinned in QuerySurfaceSpec).
    */
  private[graft] def castAlphabet(dt: DataType): Option[Set[Char]] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(Digits + '-')
    case FloatType | DoubleType => Some(Digits ++ "-.E" ++ "NaInfity")
    case _: DecimalType => Some(Digits ++ "-.E+")
    case DateType => Some(Digits ++ "-+")
    case TimestampType | TimestampNTZType => Some(Digits ++ "-+:. ")
    case BooleanType => Some("truefals".toSet)
    case _ => None
  }

  /** The column named exactly `name`: `col` alone would read the dots in
    * a generated name such as `(price * 1.1)` as struct field access.
    */
  private[query] def column(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** LIKE-escape the user string (literal match, as in the reference). */
  private def likePattern(s: String): String =
    "%" + s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_") + "%"

  def predicate(df: DataFrame, searchString: String): Column =
    predicate(df, searchString, pruneByAlphabet = true)

  /** [[predicate]], optionally keeping every column (the reference's
    * literal form), so specs can check that pruning changes no hit.
    */
  private[graft] def predicate(df: DataFrame, searchString: String,
      pruneByAlphabet: Boolean): Column = {
    val pat = likePattern(searchString)
    def canHold(dt: DataType): Boolean = !pruneByAlphabet ||
      castAlphabet(dt).forall(a => searchString.forall(a.contains))
    val preds = df.schema.fields.filter(f => canHold(f.dataType)).map { f =>
      val c = f.dataType match {
        case StringType => column(f.name)
        // Complex values are matched on their JSON rendering, like the
        // reference matches the stringified cell content.
        case _: StructType | _: ArrayType | _: MapType => to_json(column(f.name))
        case _ => column(f.name).cast(StringType)
      }
      c.like(pat)
    }
    preds.reduceOption(_ || _).getOrElse(lit(false))
  }

  def search(df: DataFrame, searchString: String): DataFrame =
    if (searchString == null || searchString.isEmpty) df
    else df.filter(predicate(df, searchString))
}
