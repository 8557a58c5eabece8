package graft.ops
package tableops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HilbertIndex2
import graft.util.Ranks
import graft.Tables
import Tables.load

/** Space-filling-curve keys and file cuts shared by the layout audits. */
object LayoutKeys {

  // ------------------------------------------------------------- q228

  /** Shared bit-interleave arithmetic (Morton/Z-order key from the low
    * 16 bits of two keys) spelled with integer div/mod — the one token
    * the engines spell differently (`div` vs `//`) is a parameter, the
    * arithmetic is otherwise the same string on both. */
  private[ops] def zExpr(a: String, b: String, idiv: String): String =
    (0 until 16).map { i =>
      s"((($a) $idiv ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((($b) $idiv ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  // ------------------------------------------------------------- q284

  private[ops] val NumFiles = 64 // equal-row-count file cuts per scheme

  /** 16 unrolled Hilbert steps as chained CTEs (DuckDB side of
    * [[HilbertIndex2]]): each step consumes bit plane s of the
    * current (x, y), accumulates s²·((3·rx)⊕ry) with the ⊕ spelled
    * arithmetically, and applies the reflect+swap rotation. */
  private[ops] def hilbertSqlChain(firstCte: String): String = {
    val steps = (15 to 0 by -1).zipWithIndex.map { case (bit, idx) =>
      val sv = 1L << bit
      val prev = if (idx == 0) firstCte else s"hst${idx - 1}"
      s"""hst$idx AS (
         |  SELECT l_partkey, l_suppkey,
         |    CASE WHEN (y // $sv) % 2 = 0 THEN
         |      (CASE WHEN (x // $sv) % 2 = 1 THEN 65535 - y ELSE y END)
         |    ELSE x END AS x,
         |    CASE WHEN (y // $sv) % 2 = 0 THEN
         |      (CASE WHEN (x // $sv) % 2 = 1 THEN 65535 - x ELSE x END)
         |    ELSE y END AS y,
         |    d + $sv * $sv * (CASE WHEN (x // $sv) % 2 = 1
         |      THEN 3 - (y // $sv) % 2 ELSE (y // $sv) % 2 END) AS d
         |  FROM $prev)"""
        .stripMargin
    }
    steps.mkString(",\n")
  }

  /** (l_partkey, l_suppkey) scaled onto the full 2^16 grid (monotone,
    * exact integer arithmetic) — raw keys occupy a corner of the grid
    * otherwise and every row lands in file 0, making layouts vacuous.
    * Shared with q287's range-scan demo. */
  private[ops] def scaledBase(s: SparkSession, dir: String): DataFrame = {
    val raw = load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val maxes = raw.agg(max(col("l_partkey")).as("pk_mx"),
      max(col("l_suppkey")).as("sk_mx"))
    // pinned: q284 ranks this frame twice (once per scheme) and q287
    // once more — one scan instead of re-reading the parquet per rank
    graft.util.Pin(raw.crossJoin(broadcast(maxes)) // one-row scalar
      .withColumn("x", expr("l_partkey * 65536 div (pk_mx + 1)"))
      .withColumn("y", expr("l_suppkey * 65536 div (sk_mx + 1)")))
  }

  /** Assign each row of [[scaledBase]] to one of [[NumFiles]]
    * equal-row-count files along `key` order (ties beyond
    * (key, pk, sk) are interchangeable — equal tuples contribute
    * identical values to whichever file they land in). */
  private[ops] def rankedFiles(base: DataFrame, key: Column): DataFrame = {
    val nTot = base.agg(count(lit(1)).as("n_total"))
    Ranks.globalRank(base.withColumn("hk", key),
        "rnk", col("hk"), col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(nTot)) // one-row count scalar
      .withColumn("file", expr(s"(rnk - 1) * $NumFiles div n_total"))
  }

  /** The Hilbert key over the scaled grid (shared with q287). */
  private[ops] def hilbertKey: Column =
    HilbertIndex2(expr("CAST(x AS BIGINT)"), expr("CAST(y AS BIGINT)"))
}
