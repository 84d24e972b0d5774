package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.contract._
import graft.contract.Shared.{dsum, t}

/** Driver contract: one named query per implemented operator (SURVEY.md §2
  * inventory + beyond-reference §7.2 step 9 extensions), each with its
  * DuckDB oracle twin. Every query is a [[graft.contract.ContractQuery]]
  * in one of the family objects under `graft.contract`, its builder
  * directly above its twin; `queries` and `oracleSql` are views of that
  * one registry.
  *
  * Determinism rules applied throughout (SURVEY.md §7.4):
  *  - every query ends in a total ORDER BY (unique tiebreaker columns);
  *  - double aggregates go through exact DECIMAL accumulation and are cast
  *    back to DOUBLE (order-independent, bit-identical to the oracle);
  *  - per-row double arithmetic is left raw (IEEE ops on identical inputs
  *    are bit-identical across engines);
  *  - column names are aliased identically on both sides.
  */
object SparkEntry {

  // ===================================================================
  // Flagship (driver smoke-checks rows > 0 on sf0.001).
  // The reference flagship shape (ref: README.md:132-141): left join +
  // filter + group-by + order-by-aggregate-desc.
  // ===================================================================
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.filter(col("c_acctbal") > 0)
      .join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_total"))
      .orderBy(col("sum_total").desc_nulls_last, col("c_mktsegment"))
  }

  /** Every contract query, family by family. Names are unique across
    * families (ContractSpec), so the maps below lose nothing. */
  lazy val contract: Seq[ContractQuery] = Seq(
    SourceQueries.queries, RelationalQueries.queries, TpchQueries.queries,
    AnalyticsQueries.queries, StreamingQueries.queries, TextQueries.queries,
    DedupQueries.queries, AnnQueries.queries, GraphQueries.queries,
    MultimodalQueries.queries, EvalQueries.queries).flatten

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    contract.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    contract.map(q => q.name -> q.oracle).toMap
}
