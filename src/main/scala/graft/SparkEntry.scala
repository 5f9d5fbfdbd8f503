package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's map; `oracleSql` carries the
  * DuckDB-equivalent ANSI SQL for each oracled query (SURVEY.md §2 marks
  * which are oracle=YES). Column names are aliased identically on both
  * sides because the driver compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature query shape: top contributing users. */
  def entry(spark: SparkSession): DataFrame =
    operators.Aggs.topkGroups(spark, "/root/testdata/sf0.001")

  private[graft] def modules = Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])](
    (operators.Relational.queries, operators.Relational.oracle),
    (operators.Joins.queries,      operators.Joins.oracle),
    (operators.Aggs.queries,       operators.Aggs.oracle),
    (operators.Windows.queries,    operators.Windows.oracle),
    (operators.Scalars.queries,    operators.Scalars.oracle),
    (operators.Text.queries,       operators.Text.oracle),
    (operators.Events.queries,     operators.Events.oracle),
    (operators.Geo.queries,        operators.Geo.oracle),
    (operators.Sim.queries,        operators.Sim.oracle),
    (operators.Dedup.queries,      operators.Dedup.oracle),
    (operators.Skew.queries,       operators.Skew.oracle),
    (operators.Sketch.queries,     operators.Sketch.oracle),
    (operators.Link.queries,       operators.Link.oracle),
    (operators.Graph.queries,      operators.Graph.oracle),
    (operators.SqlReport.queries,  operators.SqlReport.oracle),
    (operators.Analytics.queries,  operators.Analytics.oracle),
    (operators.TpchFull.queries,   operators.TpchFull.oracle),
    (operators.Learn.queries,      operators.Learn.oracle),
    (operators.Nulls.queries,      operators.Nulls.oracle),
    (multimodal.Multimodal.queries, multimodal.Multimodal.oracle)
  )

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first installs [[GraftExtensions]] into the session, so a query's
    * plan never depends on which queries ran before it. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _).map { case (name, q) =>
      name -> { (s: SparkSession, d: String) => GraftExtensions.install(s); q(s, d) }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
