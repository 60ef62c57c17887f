package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Aggregates.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Serving a
    * row installs [[plans.OnePartition]] in a session built without
    * the extensions, so every session sizes a global sort to its input
    * and plans a one-split file scan as the one partition it is. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = (
    operators.Scans.queries ++
    operators.Filters.queries ++
    operators.Joins.queries ++
    operators.Aggregates.queries ++
    operators.Windows.queries ++
    operators.SortsSets.queries ++
    operators.ScalarFuncs.queries ++
    operators.LlmOps.queries ++
    operators.Udfs.queries ++
    operators.Reshape.queries ++
    operators.Subqueries.queries ++
    operators.Layout.queries ++
    operators.TimeSeries.queries ++
    operators.ModelPrep.queries ++
    operators.Graph.queries ++
    operators.Maintenance.queries ++
    operators.Analytics.queries ++
    operators.Curation.queries ++
    operators.Evaluation.queries ++
    operators.Warehouse.queries ++
    operators.Governance.queries ++
    multimodal.Multimodal.queries ++
    GraftCatalog.queries
  ).map { case (name, build) =>
    name -> { (spark: SparkSession, dir: String) =>
      plans.OnePartition.install(spark)
      build(spark, dir)
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    operators.Scans.oracle ++
    operators.Filters.oracle ++
    operators.Joins.oracle ++
    operators.Aggregates.oracle ++
    operators.Windows.oracle ++
    operators.SortsSets.oracle ++
    operators.ScalarFuncs.oracle ++
    operators.LlmOps.oracle ++
    operators.Udfs.oracle ++
    operators.Reshape.oracle ++
    operators.Subqueries.oracle ++
    operators.Layout.oracle ++
    operators.TimeSeries.oracle ++
    operators.ModelPrep.oracle ++
    operators.Graph.oracle ++
    operators.Maintenance.oracle ++
    operators.Analytics.oracle ++
    operators.Curation.oracle ++
    operators.Evaluation.oracle ++
    operators.Warehouse.oracle ++
    operators.Governance.oracle ++
    multimodal.Multimodal.oracle ++
    GraftCatalog.oracle
}
