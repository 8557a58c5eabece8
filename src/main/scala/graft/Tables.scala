package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.Column

/** Test-table access + shared numeric helpers.
  *
  * Oracle-parity note: the driver hash-compares our parquet output against
  * DuckDB running `oracleSql` on the same tables. Floating-point SUMs are
  * order-dependent, so every compared aggregate goes through an exact
  * DECIMAL accumulation and is cast back to DOUBLE at the very end — both
  * engines then produce bit-identical values.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The NTZ->LTZ fold below is only value-preserving under a UTC
    // session; a session built without it would silently time-shift
    // every instant, so fail loudly instead.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables.load requires spark.sql.session.timeZone=UTC " +
        "(the NTZ->LTZ timestamp normalization is only value-preserving in UTC)")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Timestamp normalization. Generator vintages differ: events.ts was
    // parquet TIMESTAMP(NANOS) (read as long under
    // spark.sql.legacy.parquet.nanosAsLong=true), and plain
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) columns read as
    // TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default. All
    // engine code and oracles assume session-tz (UTC) instants, so fold
    // both vintages to TimestampType — with the UTC session the
    // NTZ→LTZ cast is value-preserving, and DuckDB sees the same naive
    // values either way.
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.name == "ts" && f.dataType == LongType =>
        acc.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case (acc, f) if f.dataType == TimestampNTZType =>
        acc.withColumn(f.name, col(f.name).cast(TimestampType))
      case (acc, _) => acc
    }
  }

  /** Exact decimal sum of a double column, emitted as double. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)
}
