package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Pipeline, Relational}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory
  * each entry maps to.
  */
object SparkEntry {

  /** Every registered query group, concatenated. Order is stable.
    * Duplicate names fail fast: queries/oracleSql are Maps, so a
    * shadowed name would silently drop a query from execution AND from
    * the oracle gate while the gate still reports all-pass.
    */
  private def groups: Seq[Relational.Q] = {
    val gs = Relational.all ++ Pipeline.all
    val dups = gs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    gs
  }

  /** One JSON string escaper for every driver artifact (Verify's
    * oracle_sql.json): backslash, quote, and ALL control chars
    * (<0x20) — a stray tab/CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero a round's
    * results.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val q16 = groups.find(_.name == "q16_join_multi").get
    q16.build(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    groups.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
