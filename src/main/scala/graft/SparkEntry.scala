package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.cells._
import graft.tpch.{Gate, TpchModel}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query catalog lives in the gate registries of [[graft.tpch.Queries]]
  * and [[graft.tpch.PipelineQueries]]. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001 (SURVEY §7.2): slice on
    * customer region, drill down to month, aggregate sums + count through
    * the pruned snowflake join. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val b = TpchModel.browser(spark, "/root/testdata/sf0.001")
    b.aggregate(
      cell = Cell(PointCut("customer", Seq("ASIA"))),
      drilldown = Seq("date:month"),
      aggregates = Seq("quantity_sum", "price_sum", "fact_count")
    ).cells
  }

  /** Both gate catalogs: one entry per implemented operator from SURVEY.md
    * §2, plus the training-data pipeline operators (dedup / similarity /
    * text / multimodal / sessionization), each beside its DuckDB oracle. */
  private lazy val gates = Gate.registry(
    graft.tpch.Queries.registry ++ graft.tpch.PipelineQueries.registry: _*)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
