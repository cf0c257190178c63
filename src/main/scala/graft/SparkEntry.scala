package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` keys are named after SURVEY.md §2 operator rows: prefix a =
  * §2.5 aggregations, j = §2.4 joins, set = §2.7 set ops, f = §2.8 scalar
  * functions, p = §2.3 predicates, s and st = §2.1 scans + §2.9 streaming
  * shapes, v = §2.5 A7-A9 validators, and d, t, n, m = the LLM-data-
  * pipeline operators (dedup, text, nearest-neighbor, multimodal). Each
  * query takes (session, sf-directory) and reads the driver parquet
  * tables; `oracleSql` holds the DuckDB-equivalent statement with
  * identical output column names.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.CoreQueries.queries ++
      graft.queries.ValidationQueries.queries ++
      graft.queries.DedupQueries.queries ++
      graft.queries.SimilarityQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.MultimodalQueries.queries ++
      graft.queries.TpchQueries.queries ++
      graft.queries.ExtraQueries.queries ++
      graft.queries.TrainQueries.queries ++
      graft.queries.EventQueries.queries ++
      graft.queries.GovernanceQueries.queries

  /** The queries, sorted by name, whose names start with one of the
    * comma-separated `prefixes` (every query when None): the key filter
    * that `Bench`, `Verify` and `PlanDump` take as an argument. */
  def selected(prefixes: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val ps = prefixes.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => ps.forall(_.exists(n.startsWith)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.CoreQueries.oracle ++
      graft.queries.ValidationQueries.oracle ++
      graft.queries.DedupQueries.oracle ++
      graft.queries.SimilarityQueries.oracle ++
      graft.queries.TextQueries.oracle ++
      graft.queries.MultimodalQueries.oracle ++
      graft.queries.TpchQueries.oracle ++
      graft.queries.ExtraQueries.oracle ++
      graft.queries.TrainQueries.oracle ++
      graft.queries.EventQueries.oracle ++
      graft.queries.GovernanceQueries.oracle
}
