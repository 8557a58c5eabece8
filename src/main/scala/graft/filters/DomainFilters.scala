package graft.filters

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Domain/entity path-regex routing — SURVEY §2.3 F1/F2 + §2.4 J3
  * (behavior of `common/filters/DomainFilterMatcher.java:72-95`: prefix
  * match on the filter dir, then regex on the path remainder, first match
  * wins; global ignore regex `core/filters/DomainManager.java:38`).
  *
  * Scale design: the filter registry is driver-side metadata (a handful
  * of user-registered rows), so [[route]] compiles it into a single
  * first-match `when` chain — pure whole-stage-codegen projection, zero
  * shuffle, zero join. For a *dynamic* filter table, [[routeJoin]] does
  * the broadcast nested-loop theta-join + `row_number` first-match
  * instead (still no shuffle of the event stream for the match itself).
  * Unmatched events are NOT dropped: they route to `IgnoreTx` so the
  * transaction watermark still advances (ref
  * `agent/namenode/SourceTransactionProcessor.java:29-39`).
  */
object DomainFilters {

  /** Registered filter (ref `common/filters/Filter.java:1-39`). */
  final case class Filter(domain: String, entity: String, dir: String,
      regex: String, priority: Int)

  /** Reference's global temp-file suppression regex
    * (`core/filters/DomainManager.java:38`). */
  val IgnoreRegex = "(.*)\\.(_*)COPYING(_*)|/tmp/(.*)|(.*)\\.hive-staging(.*)"

  /** Reference semantics (`DomainFilterMatcher.java:72-86`): prefix
    * match on the filter dir, strip the prefix, then strip ONE leading
    * '/' only if present — a false-prefix match (dir `/data/src1` vs
    * path `/data/src19/...`) keeps its full remainder (`9/...`), it is
    * not silently shortened by one char. */
  private def matches(f: Filter): Column = {
    val after = substring(col("path"), f.dir.length + 1, Int.MaxValue)
    val rem = when(after.startsWith("/"),
      substring(col("path"), f.dir.length + 2, Int.MaxValue)).otherwise(after)
    col("path").startsWith(f.dir) && rem.rlike(f.regex)
  }

  /** Route rows having a `path` column: adds `domain`/`entity`
    * (`_none`/`IgnoreTx` when unmatched); rows matching the global
    * ignore regex are suppressed entirely. */
  def route(events: DataFrame, filters: Seq[Filter]): DataFrame = {
    def target(domain: String, entity: String): Column =
      struct(lit(domain).as("domain"), lit(entity).as("entity"))
    // one chain yields both columns: each filter's regex runs once per row
    val routed = filters.sortBy(_.priority)
      .foldRight(target("_none", "IgnoreTx")) { (f, els) =>
        when(matches(f), target(f.domain, f.entity)).otherwise(els)
      }
    events
      .filter(!col("path").rlike(IgnoreRegex))
      .withColumn("__route", routed)
      .withColumn("domain", col("__route.domain"))
      .withColumn("entity", col("__route.entity"))
      .drop("__route")
  }

  /** Dynamic-registry variant: filters arrive as a DataFrame
    * (domain, entity, dir, regex, priority). Broadcast theta-join +
    * first-match dedup keyed on a synthetic unique row id — NOT on
    * `path`: multiple events routinely share a path (many transactions
    * per file), and a path-keyed window would keep one event per
    * distinct path and silently drop the rest. */
  def routeJoin(events: DataFrame, filters: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rid")).orderBy(col("priority").asc_nulls_last)
    val remMatches = expr(
      """CASE WHEN substring(path, length(dir) + 1, 1) = '/'
        |     THEN substring(path, length(dir) + 2)
        |     ELSE substring(path, length(dir) + 1) END rlike regex""".stripMargin)
    events
      .filter(!col("path").rlike(IgnoreRegex))
      .withColumn("__rid", monotonically_increasing_id())
      .join(broadcast(filters),
        col("path").startsWith(col("dir")) && remMatches,
        "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "__rid", "dir", "regex", "priority")
      .withColumn("domain", coalesce(col("domain"), lit("_none")))
      .withColumn("entity", coalesce(col("entity"), lit("IgnoreTx")))
  }
}
