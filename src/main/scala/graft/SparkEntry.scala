package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** The gate contract (SURVEY.md §7): one built frame plus one DuckDB
 * oracle per query.
 *
 * The registry of gate queries. Every gate is an operator from SURVEY.md
 * §2 expressed through the graft library, declared once as a
 * [[graft.gates.Gate]] (name, frame build, oracle) in the file of its main
 * operator family under `graft/gates/`:
 *  - `EtlGates`: goetl's ETL surface (GroupBy, Joins, Fuzzy, CDC, SCD,
 *    Sources, Sinks, Transforms, Filters, Window, Encode and the rest);
 *  - `StatsGates`: `Stats` estimators, indices and evaluation metrics;
 *  - `StatsTestGates`: `Stats` hypothesis tests and panels;
 *  - `TimeSeriesGates`: `TimeSeries` and its neighbours;
 *  - `TextGates`: `TextAnalysis`;
 *  - `StreamingGates`: `Streaming` and `ChangeFeed`;
 *  - `LlmGates`: `Dedup`, `Similarity`, `Sampling`, `Multimodal`;
 *  - `QualityGates`: `Quality` and `Privacy`;
 *  - `GraphGates`: `Graph`, `Centrality`, `Spatial`.
 * Their shared helpers live in `GateSupport`. [[queries]] and
 * [[oracleSql]] are derived from that one list; [[oracleSql]] holds the
 * DuckDB-equivalent SQL each frame is hash-compared against at sf0.01.
 *
 * Determinism conventions (double vs decimal):
 *  - any SUM/AVG over a double column goes through DECIMAL (exact in both
 *    engines for 2-decimal money values), then back to double;
 *  - window/sort orders always end in a unique key (orderkey, linenumber).
 */
object SparkEntry {

  private val gates: Seq[Gate] = Seq(EtlGates.gates, StatsGates.gates,
    StatsTestGates.gates, TimeSeriesGates.gates, TextGates.gates,
    StreamingGates.gates, LlmGates.gates, QualityGates.gates,
    GraphGates.gates).flatten

  locally {
    val twice = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(twice.isEmpty, s"gates declared twice: ${twice.toSeq.sorted.mkString(", ")}")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_groupby_agg")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  /** DuckDB-equivalent SQL per query (column names MUST match). An
   *  [[graft.gates.Oracle.AfterRun]] oracle appears once its gate has run. */
  def oracleSql: Map[String, String] =
    gates.flatMap { g =>
      val text = g.oracle match {
        case static: Oracle.Sql => Some(static.sql)
        case Oracle.AfterRun(sql) => sql()
        case Oracle.RowsOnly => None
      }
      text.map(g.name -> _)
    }.toMap
}
