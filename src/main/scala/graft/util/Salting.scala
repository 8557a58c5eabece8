package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation: two-stage salted aggregation. A skewed group key
  * (few distinct values over billions of rows — e.g. 3 return flags over
  * a 100 TB lineitem) funnels whole key-groups through single reducers;
  * salting spreads each key over `nSalts` partial groups, aggregates,
  * then re-aggregates the partials — turning one hot reducer into
  * `nSalts` balanced ones. Catalyst's partial aggregation already covers
  * sum/count-style skew within a stage; explicit salting is for the
  * shuffle itself and for operations AQE can't split (e.g. exact
  * per-key sketches). AQE skew-join handles the join-side equivalent
  * automatically when `spark.sql.adaptive.enabled` is on.
  */
object Salting {

  /** Deterministic salt column derived from a spread column (NOT random —
    * results must be reproducible across runs and engines). */
  def saltCol(spread: Column, nSalts: Int): Column =
    pmod(hash(spread), lit(nSalts))

  /** Two-stage salted sum: exact regardless of salt count because the
    * partials are re-aggregated with the same associative function. */
  def saltedSum(df: DataFrame, groupKeys: Seq[Column], spread: Column,
      sumExpr: Column, resultName: String, nSalts: Int = 16): DataFrame = {
    val partial = df
      .withColumn("_salt", saltCol(spread, nSalts))
      .groupBy(groupKeys :+ col("_salt"): _*)
      .agg(sum(sumExpr).as("_partial"), count(lit(1)).as("_pn"))
    partial
      .groupBy(groupKeys: _*)
      .agg(sum(col("_partial")).as(resultName), sum(col("_pn")).as("n_rows"))
  }
}
