package graft.tpch

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness-gate query: its name, the Spark query over an
  * sf-directory of parquet tables, and the DuckDB SQL that replays it over
  * the same tables. */
final case class Gate(name: String,
    query: (SparkSession, String) => DataFrame, oracle: String)

object Gate {
  /** A gate catalog: `gates` in declaration order, once no name appears
    * twice. A name → query map built from a repeated name would silently
    * keep only the last of the two. */
  def registry(gates: Gate*): Seq[Gate] = {
    val repeated = gates.groupBy(_.name).collect {
      case (name, gs) if gs.size > 1 => name }
    require(repeated.isEmpty,
      "duplicate gate names: " + repeated.toSeq.sorted.mkString(", "))
    gates
  }
}
