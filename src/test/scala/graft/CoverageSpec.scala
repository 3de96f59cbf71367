package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the judged coverage claim: every operator key listed in
  * SURVEY.md §2 must have a gate entry in SparkEntry.queries, every SURVEY
  * row is marked `sql` (each gate declares its DuckDB oracle), and the
  * gate table refuses a name declared twice.
  */
class CoverageSpec extends AnyFunSuite {

  private lazy val surveyRows: Seq[(String, String)] = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val s2 = text.split("## §2")(1).split("## §3")(0)
    // table rows: | `key` | description | oracle |, the oracle the last cell
    val row = raw"(?m)^\|\s*`([a-z0-9_]+)`\s*\|.*\|\s*([^|]+)\|\s*$$".r
    row.findAllMatchIn(s2).map(m => (m.group(1), m.group(2).trim)).toSeq
  }

  test("every SURVEY §2 operator key has a SparkEntry.queries gate entry") {
    assert(surveyRows.nonEmpty, "SURVEY §2 tables must parse")
    val keys = SparkEntry.queries.keySet
    val missing = surveyRows.map(_._1).filterNot(keys.contains)
    assert(missing.isEmpty, s"SURVEY §2 rows without a gate entry: $missing")
  }

  test("every queries entry is inventoried in SURVEY §2") {
    val inventoried = surveyRows.map(_._1).toSet
    val unlisted = SparkEntry.queries.keySet.filterNot(inventoried.contains)
    assert(unlisted.isEmpty, s"gate entries missing from SURVEY §2: $unlisted")
  }

  test("no gate query emits array/map/struct columns (driver hashes frames in pandas)") {
    // The driver's correctness harness loads each result into pandas and
    // sort_values + hashes it — numpy arrays (from array/map/struct
    // columns) are unhashable, so such a gate errors instead of being
    // checked (the r5 text_hash_embed failure). Guard the whole surface:
    // every gate output schema must be scalar/string only; vectors must
    // be rendered to deterministic strings before leaving the gate.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val spark = TestSpark.spark
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val bad = q(spark, TestSpark.sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
        bad
    }
    assert(offenders.isEmpty,
      s"gate outputs the driver cannot hash (stringify them): $offenders")
  }

  test("every SURVEY §2 row is marked sql") {
    val notSql = surveyRows.filterNot(_._2.startsWith("sql"))
    assert(notSql.isEmpty, s"SURVEY §2 rows not marked sql: $notSql")
  }

  test("the gate table serves each of the 178 names once, plan and oracle alike") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 178 && names.distinct.size == 178)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    assert(SparkEntry.oracleSql.values.forall(sql => sql != null && sql.trim.nonEmpty))
  }

  test("a gate table with a name declared twice throws") {
    def row(sql: String) = Gate("twice", sql, (s, dir) => s.range(1).toDF())
    val e = intercept[IllegalArgumentException] {
      Gate.table(Seq(row("SELECT 1")), Seq(row("SELECT 2")))
    }
    assert(e.getMessage.contains("twice"))
    assert(Gate.table(Seq(row("SELECT 1"))).map(_.name) == Seq("twice"))
  }
}
