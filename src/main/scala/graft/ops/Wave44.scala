package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.load

/** Forty-fourth wave (round 10): the streaming twin of q285's
  * Count-Min sketch —
  *
  *  - q286: STREAMING-MAINTAINED CMS COUNTERS. q285 measures the
  *    sketch's error; this gate proves the sketch can be MAINTAINED on
  *    the ingest stream, which is its entire reason to exist at 100 TB
  *    (heavy-hitter counting without a rescan — the q272 pattern,
  *    applied to frequencies instead of profiles). Each document
  *    micro-batch shingles executor-side, every shingle emits its 4
  *    (row, bucket) cells with the SAME stated LCG row hashes over the
  *    48-bit md5 key q285 states, and a `transformWithState` keyed
  *    counter per cell accumulates in typed ValueState. Counters are
  *    LINEAR (they sum), so streamed-from-increments equals
  *    batch-built-from-grouped-counts — exactly what the DuckDB
  *    oracle builds; the gate IS that equality, and the sum over any
  *    row is provably the corpus shingle total.
  *
  * Scale shape: state is ≤ 4×256 Long cells TOTAL (constant at any
  * corpus size), keyed (row,bucket) so the state store parallelizes
  * across 1024 keys; per batch each shingle touches exactly 4 cells
  * map-side before the keyed shuffle. */
object Wave44 {

  // ------------------------------------------------------------- q286

  // q285's sketch constants — referenced from Wave43 (the single
  // authority) so editing the batch sketch can never silently decouple
  // the streaming twin from the audits
  private val CmsW = Wave43.CmsW
  private val CmsA = Wave43.CmsA
  private val CmsB = Wave43.CmsB
  private val CmsP = Wave43.CmsP

  final case class CellIn(cell: String, inc: Long)
  final case class CellOut(cell: String, cnt: Long)

  /** Keyed counter: the minimal mergeable state (one Long per CMS
    * cell); each micro-batch folds its increments and emits the
    * running snapshot (the final value per cell is the max snapshot —
    * counts are monotone). */
  private class CellCounter
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, CellIn, CellOut] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(cell: String, it: Iterator[CellIn],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CellOut] = {
      var c = if (st.exists()) st.get() else 0L
      for (r <- it) c += r.inc
      st.update(c)
      Iterator(CellOut(cell, c))
    }
  }

  private def qStreamCms(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    // Pin state partitioning to 8 (the q129 lesson): a 32-thread bench
    // session otherwise opens 32 RocksDB stores per micro-batch for a
    // CMS whose whole state is CmsD x CmsW counter cells.
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
    val result = graft.streaming.StreamScratch.withRocksDb(s) {
      graft.streaming.StreamScratch.withScratch("graft_scms_") {
      tmp =>
        // 2 slices (was 8): counter folds are additive and batching-
        // invariant, so extra triggers only bought extra fixed RocksDB
        // store lifecycles (8c/32c ratio 0.68); two batches still prove
        // the cross-batch merge. Oracle re-verified.
        val raw = load(s, dir, "documents")
          .filter(size(split(col("text"), " ")) >= 3)
          .selectExpr("doc_id % 2 AS slice", "text AS value")
        val in = graft.streaming.SliceReplay.stage(tmp,
          raw.select(col("value"), col("slice")), 2)
        val out = graft.streaming.GateOut.dir()
        val q = s.readStream
          .option("maxFilesPerTrigger", 1)
          .text(in)
          .as[String]
          .flatMap { text =>
            // limit -1 keeps trailing empty tokens — matches Spark
            // split() / DuckDB string_split semantics exactly, so a
            // trailing/double space shingles identically to the oracle
            val ws = text.split(" ", -1)
            for {
              i <- 0 to ws.length - 3
              sh = s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}"
              kh = Wave39.md5Prefix48(sh)
              r <- CmsA.indices
            } yield CellIn(
              s"$r:${((CmsA(r) * kh + CmsB(r)) % CmsP) % CmsW}", 1L)
          }
          .groupByKey(_.cell)
          .transformWithState(new CellCounter, TimeMode.None(),
            OutputMode.Append(),
            org.apache.spark.sql.Encoders.product[CellOut])
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/chk")
          .format("parquet").option("path", out)
          .start()
        q.awaitTermination()
        s.read.parquet(out)
      }
    }
    // counts are monotone across snapshots: final value = max per cell
    result.groupBy(col("cell")).agg(max(col("cnt")).as("cnt"))
      .select(
        expr("CAST(split(cell, ':')[0] AS BIGINT)").as("row_i"),
        expr("CAST(split(cell, ':')[1] AS BIGINT)").as("b"),
        col("cnt"))
      .orderBy(col("row_i"), col("b"))
    }
  }

  /** The batch-built counter matrix (q285's counter CTEs, unioned with
    * their row index) — linearity makes it equal the streamed fold. */
  private val qStreamCmsSql = {
    val rows = CmsA.indices.map { i =>
      s"""SELECT $i AS row_i,
         |  ((${CmsA(i)} * kh + ${CmsB(i)}) % $CmsP) % $CmsW AS b,
         |  CAST(SUM(cnt) AS BIGINT) AS cnt
         |FROM exact GROUP BY 1, 2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w AS (
       |  SELECT string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT unnest(list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |  FROM w),
       |exact AS MATERIALIZED (
       |  SELECT sh, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(('0x' || substring(md5(sh), 1, 12)) AS BIGINT) AS kh
       |  FROM sh GROUP BY 1)
       |SELECT CAST(row_i AS BIGINT) AS row_i, CAST(b AS BIGINT) AS b,
       |  cnt
       |FROM ($rows)
       |ORDER BY row_i, b""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q286_stream_cms" -> QueryDef(qStreamCms, Some(qStreamCmsSql),
      "streaming-maintained Count-Min counters: transformWithState " +
        "keyed (row,bucket) cells over the shingle stream, 2 " +
        "micro-batches; linearity gates streamed == batch-built"))
}
