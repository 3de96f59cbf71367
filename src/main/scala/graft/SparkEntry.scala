package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** One gated query: its name, the DuckDB SQL that must return the same
  * rows on the same parquet tables, and the Spark plan over the tables of
  * a scale-factor directory.
  */
final case class Gate(
    name: String,
    oracleSql: String,
    plan: (SparkSession, String) => DataFrame)

object Gate {

  /** Table `name` of the scale-factor directory `dir`, as the gates read it. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The area tables joined into one; a name declared twice throws. */
  def table(areas: Seq[Gate]*): Seq[Gate] = {
    val gates = areas.flatten
    val repeated = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty,
      s"gate declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    gates
  }
}

/** Driver contract — see SURVEY.md §2/§7.
  * The gate table is assembled from the per-area objects so each SURVEY
  * section stays reviewable on its own.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every gate of SURVEY.md §2, each declared once. */
  lazy val gates: Seq[Gate] = Gate.table(
    CoreQueries.gates, PipelineQueries.gates, StreamQueries.gates, ExtraQueries.gates)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.plan).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  lazy val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracleSql).toMap
}
