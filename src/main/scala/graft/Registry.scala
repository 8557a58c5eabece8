package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed to the driver's correctness gate.
  *
  * @param build  builds the Spark result for a scale-factor directory
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same
  *               parquet tables (None → driver records rows-only check)
  * @param doc    which SURVEY.md §2 operator(s) this exercises
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String)

object Registry {
  /** Every registered query: one list per domain package under `graft.ops`. */
  def all: Seq[(String, QueryDef)] =
    ops.relational.defs ++ ops.cdc.defs ++ ops.curation.defs ++
      ops.similarity.defs ++ ops.graph.defs ++ ops.stats.defs ++
      ops.media.defs ++ ops.streams.defs ++ ops.tableops.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, d) => n -> d.build }.toMap

  def oracleSql: Map[String, String] =
    all.collect { case (n, d) if d.oracle.isDefined => n -> d.oracle.get }.toMap
}
