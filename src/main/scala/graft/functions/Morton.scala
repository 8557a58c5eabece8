package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** N-dimensional Morton (Z-order) key as a plain Column builder — the
  * bit-interleave space-filling curve
  * `ClusteredLayout.writeClusteredLayout` clusters on for N > 2 dims (2-D keeps the native Hilbert expression,
  * whose boxes are tighter; past ~4 dims per-dim RESOLUTION dominates
  * skipping quality, so interleave is the right cost point). Bit b of
  * dim i lands at position `b*N + i`; the unrolled shift/and/or terms
  * stay inside whole-stage codegen — no UDF, no boxing.
  *
  * Single authority for the interleave arithmetic: the layout writer
  * AND the q316 oracle gate both route through here, and the DuckDB
  * oracle states the identical arithmetic in div/mod form
  * (`((x // 2^b) % 2) * 2^(bN+i)` — equal to the shift form for the
  * non-negative inputs the scaling guarantees), the same
  * dialect-neutral device as graft_hilbert2's `3-ry` spelling. */
object Morton {

  /** @param dims BIGINT columns, each already scaled into [0, 2^bits)
    * @param bits  bits per dimension; dims.size * bits must be <= 63 */
  def key(dims: Seq[Column], bits: Int): Column = {
    require(dims.size * bits <= 63,
      s"${dims.size} dims x $bits bits exceeds a 64-bit key")
    (for { i <- dims.indices; b <- 0 until bits } yield
      shiftleft(shiftright(dims(i), b).bitwiseAND(lit(1L)),
        b * dims.size + i)).reduce(_ bitwiseOR _)
  }

  /** The identical arithmetic as ANSI SQL (DuckDB-safe div/mod form)
    * over pre-scaled integer column expressions. */
  def sql(dims: Seq[String], bits: Int): String =
    (for { i <- dims.indices; b <- 0 until bits } yield
      s"((${dims(i)} // ${1L << b}) % 2) * ${1L << (b * dims.size + i)}")
      .mkString("(", " + ", ")")
}
