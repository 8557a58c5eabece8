package graft.ops
package tableops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Ranks
import graft.{QueryDef, Tables}
import Tables.load
import Hashing.md5Prefix48

/** Table profiles and column statistics, batch and streaming. */
object Profiling {

  /* Thirty-fifth wave (round 9):
    *
    *  - q263: ONE-PASS TABLE PROFILE — the Deequ-style column-statistics
    *    audit a platform runs before accepting a 100 TB drop: per
    *    column, row/null counts, EXACT distinct count, and the
    *    mergeable-sketch distinct ESTIMATE from the engine's own
    *    `graft_kmv` aggregate (the production path — at scale the exact
    *    branch is the one you delete, and the sketch moves ≤k values
    *    per (partition, column) through the shuffle). One melt
    *    (`stack`) scans the table once into (column, value) rows;
    *    values are canonicalized to strings both engines render
    *    identically (BIGINT/dates/flags), hashed by the md5-hex device
    *    (q166), and every statistic is oracle-gated — including the
    *    estimator itself.
    *  - q264: REAL AUDIO RESAMPLE ROUND-TRIP — q226's device on the
    *    audio axis: generated WAVs pushed through
    *    `Multimodal.resampleAudio` (real decode → integer decimation
    *    keep-every-3rd → WAV re-encode at rate/3), DECODED AGAIN and
    *    probed; the oracle replays the decimation arithmetic closed
    *    form, pinning the full decode→decimate→encode→decode chain
    *    bit-exactly.
    *
    * Scale shapes: q263 is one scan + a 5-group aggregate (columns are
    * the groups — map-side partials collapse each partition to 5 sketch
    * buffers); q264 decode is embarrassingly parallel, one bounded row
    * per document. */

  // ------------------------------------------------------------- q263

  private val ProfK = 256
  private val ProfM = 281474976710656L // 2^48, the 12-hex-char space

  private def qTableProfile(s: SparkSession, dir: String): DataFrame = {
    graft.functions.KmvSketch.register(s)
    load(s, dir, "lineitem").selectExpr(
      """stack(5,
        |  'l_partkey',    CAST(l_partkey AS STRING),
        |  'l_suppkey',    CAST(l_suppkey AS STRING),
        |  'l_quantity',   CAST(CAST(l_quantity AS BIGINT) AS STRING),
        |  'l_returnflag', CAST(l_returnflag AS STRING),
        |  'l_shipdate',   CAST(l_shipdate AS STRING)
        |) AS (col_name, v)""".stripMargin)
      .createOrReplaceTempView("graft_q263_melt")
    s.sql(s"""
      |SELECT col_name, n_rows, n_null, ndv_exact,
      |  CASE WHEN size(sk) < $ProfK THEN CAST(size(sk) AS BIGINT)
      |    ELSE (${ProfK - 1} * ${ProfM}L) div element_at(sk, size(sk))
      |    END AS ndv_est,
      |  min_s, max_s
      |FROM (
      |  SELECT col_name,
      |    COUNT(*) AS n_rows,
      |    COUNT(*) - COUNT(v) AS n_null,
      |    COUNT(DISTINCT v) AS ndv_exact,
      |    graft_kmv(CAST(conv(substring(md5(v), 1, 12), 16, 10)
      |      AS BIGINT), $ProfK) AS sk,
      |    MIN(v) AS min_s, MAX(v) AS max_s
      |  FROM graft_q263_melt
      |  GROUP BY col_name) t
      |ORDER BY col_name""".stripMargin)
  }

  /** q263's oracle. q272 drops the exact-distinct column
    * (`exactNdv = false`): exact NDV is unbounded state, deliberately not
    * maintained in streaming state. */
  private def profileSql(exactNdv: Boolean): String = {
    val ndvExact =
      if (exactNdv) "\n  CAST(COUNT(DISTINCT m.v) AS BIGINT) AS ndv_exact," else ""
    s"""WITH melt AS (
       |  SELECT 'l_partkey' AS col_name, CAST(l_partkey AS VARCHAR) AS v
       |    FROM lineitem
       |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR)
       |    FROM lineitem
       |  UNION ALL SELECT 'l_quantity',
       |    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) FROM lineitem
       |  UNION ALL SELECT 'l_returnflag', CAST(l_returnflag AS VARCHAR)
       |    FROM lineitem
       |  UNION ALL SELECT 'l_shipdate', CAST(l_shipdate AS VARCHAR)
       |    FROM lineitem),
       |h AS (
       |  SELECT col_name, v,
       |    CAST(('0x' || substring(md5(v), 1, 12)) AS BIGINT) AS hv
       |  FROM melt),
       |-- top-$ProfK per column via row_number, NOT
       |-- array_agg(DISTINCT .. ORDER BY ..)[1:k]: the array form
       |-- materializes a fully sorted multi-million-element list per
       |-- group and ground for ~30+ min on the 30M-row sf1 melt; the
       |-- windowed form is one sort + an early cut (same result)
       |hd AS (SELECT DISTINCT col_name, hv FROM h
       |       WHERE hv IS NOT NULL),
       |hr AS (SELECT col_name, hv, row_number() OVER
       |         (PARTITION BY col_name ORDER BY hv) AS rn FROM hd),
       |sk AS (
       |  SELECT col_name, array_agg(hv ORDER BY hv) AS sk
       |  FROM hr WHERE rn <= $ProfK GROUP BY 1)
       |SELECT m.col_name,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) - COUNT(m.v) AS BIGINT) AS n_null,$ndvExact
       |  CAST(CASE WHEN len(s.sk) < $ProfK THEN len(s.sk)
       |    ELSE (${ProfK - 1} * $ProfM) // s.sk[len(s.sk)] END
       |    AS BIGINT) AS ndv_est,
       |  MIN(m.v) AS min_s, MAX(m.v) AS max_s
       |FROM melt m JOIN sk s ON s.col_name = m.col_name
       |GROUP BY m.col_name, s.sk
       |ORDER BY m.col_name""".stripMargin
  }

  private val qTableProfileSql = profileSql(exactNdv = true)

  // ------------------------------------------------------------- q268

  /** Deterministic mode of v within (half, col): max count, ties to
    * the smallest value (q177's device). */
  private def qProfileDrift(s: SparkSession, dir: String): DataFrame = {
    val melted = load(s, dir, "orders").selectExpr(
      "CASE WHEN year(o_orderdate) >= 1996 THEN 'post' ELSE 'pre' END " +
        "AS half",
      """stack(3,
        |  'o_orderpriority', CAST(o_orderpriority AS STRING),
        |  'o_orderstatus',   CAST(o_orderstatus AS STRING),
        |  'o_shipyear',      CAST(year(o_orderdate) AS STRING)
        |) AS (col_name, v)""".stripMargin)
    val counts = melted.groupBy(col("half"), col("col_name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val tot = counts.groupBy(col("half"), col("col_name"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("ndv"))
    // mode tie rule: max count, tie → smallest value (q177's device)
    val top = counts.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("half"), col("col_name"))
          .orderBy(col("cnt").desc, col("v"))))
      .filter(col("rk") === 1)
      .select(col("half"), col("col_name"), col("v").as("top_v"),
        col("cnt").as("top_cnt"))
    val h = tot.join(top, Seq("half", "col_name"))
      .select(col("half"), col("col_name"), col("n"), col("ndv"),
        col("top_v"), expr("top_cnt * 1000000 div n").as("top_share_ppm"))
    val pre = h.filter(col("half") === "pre")
      .select(col("col_name"), col("n").as("n_pre"),
        col("ndv").as("ndv_pre"), col("top_v").as("top_v_pre"),
        col("top_share_ppm").as("top_share_pre_ppm"))
    val post = h.filter(col("half") === "post")
      .select(col("col_name"), col("n").as("n_post"),
        col("ndv").as("ndv_post"), col("top_v").as("top_v_post"),
        col("top_share_ppm").as("top_share_post_ppm"))
    pre.join(post, "col_name")
      .select(col("col_name"), col("n_pre"), col("n_post"),
        col("ndv_pre"), col("ndv_post"),
        (col("ndv_post") - col("ndv_pre")).as("ndv_delta"),
        col("top_v_pre"), col("top_share_pre_ppm"),
        col("top_v_post"), col("top_share_post_ppm"),
        (col("top_share_post_ppm") - col("top_share_pre_ppm"))
          .as("share_drift_ppm"))
      .orderBy(col("col_name"))
  }

  private val qProfileDriftSql =
    """WITH melted AS (
      |  SELECT CASE WHEN year(o_orderdate) >= 1996 THEN 'post'
      |    ELSE 'pre' END AS half, col_name, v FROM (
      |    SELECT o_orderdate, 'o_orderpriority' AS col_name,
      |      CAST(o_orderpriority AS VARCHAR) AS v FROM orders
      |    UNION ALL SELECT o_orderdate, 'o_orderstatus',
      |      CAST(o_orderstatus AS VARCHAR) FROM orders
      |    UNION ALL SELECT o_orderdate, 'o_shipyear',
      |      CAST(year(o_orderdate) AS VARCHAR) FROM orders)),
      |counts AS (
      |  SELECT half, col_name, v, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM melted GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT half, col_name,
      |    CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS ndv
      |  FROM counts GROUP BY 1, 2),
      |top AS (
      |  SELECT half, col_name, v AS top_v, cnt AS top_cnt FROM (
      |    SELECT *, row_number() OVER (PARTITION BY half, col_name
      |      ORDER BY cnt DESC, v) AS rk FROM counts) r
      |  WHERE rk = 1),
      |h AS (
      |  SELECT t.half, t.col_name, t.n, t.ndv, p.top_v,
      |    p.top_cnt * 1000000 // t.n AS top_share_ppm
      |  FROM tot t JOIN top p
      |    ON p.half = t.half AND p.col_name = t.col_name)
      |SELECT p.col_name, p.n AS n_pre, q.n AS n_post,
      |  p.ndv AS ndv_pre, q.ndv AS ndv_post,
      |  q.ndv - p.ndv AS ndv_delta,
      |  p.top_v AS top_v_pre, p.top_share_ppm AS top_share_pre_ppm,
      |  q.top_v AS top_v_post, q.top_share_ppm AS top_share_post_ppm,
      |  q.top_share_ppm - p.top_share_ppm AS share_drift_ppm
      |FROM h p JOIN h q ON p.col_name = q.col_name
      |WHERE p.half = 'pre' AND q.half = 'post'
      |ORDER BY p.col_name""".stripMargin

  final case class ProfIn(c: String, v: Option[String])
  final case class ProfState(n: Long, nulls: Long, sk: Seq[Long],
      minS: Option[String], maxS: Option[String])
  final case class ProfOut(col_name: String, n_rows: Long,
      n_null: Long, ndv_est: Long, min_s: String, max_s: String)

  /** Per-column profile state machine: every statistic is MERGEABLE
    * (counts add, min/max fold, the KMV sketch is a capped sorted
    * merge), which is exactly what lets the profile ride micro-batches
    * without rescans. */
  private class ProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, ProfIn, ProfOut] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[ProfState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[ProfState]("prof",
        org.apache.spark.sql.Encoders.product[ProfState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(c: String, it: Iterator[ProfIn],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ProfOut] = {
      var s0 = if (st.exists()) st.get()
        else ProfState(0L, 0L, Nil, None, None)
      var n = s0.n; var nulls = s0.nulls
      var minS = s0.minS; var maxS = s0.maxS
      val fresh = Seq.newBuilder[Long]
      for (r <- it) {
        n += 1
        r.v match {
          case None => nulls += 1
          case Some(v) =>
            fresh += md5Prefix48(v)
            if (minS.forall(v < _)) minS = Some(v)
            if (maxS.forall(v > _)) maxS = Some(v)
        }
      }
      val sk = (s0.sk ++ fresh.result()).distinct.sorted.take(ProfK)
      s0 = ProfState(n, nulls, sk, minS, maxS)
      st.update(s0)
      val est = if (sk.size < ProfK) sk.size.toLong
        else (ProfK - 1).toLong * ProfM / sk.last
      Iterator(ProfOut(c, n, nulls, est,
        minS.orNull, maxS.orNull))
    }
  }

  private def qStreamProfile(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import org.apache.spark.sql.types.{StringType, StructType}
    val schema = new StructType()
      .add("pk", StringType).add("sk", StringType).add("q", StringType)
      .add("rf", StringType).add("sd", StringType)
    // Pin the stream's state partitioning to 8 (captured at checkpoint
    // creation): the state alphabet is FIVE keys (the profiled
    // columns), but a 32-thread bench session otherwise opens 32
    // RocksDB stores per micro-batch — instantiation, snapshot and
    // commit per store are the cost, not the 5 keys of state (the
    // q129 lesson applied here).
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
    val result = graft.streaming.StreamScratch.withRocksDb(s) {
      graft.streaming.StreamScratch.withScratch("graft_sprof_") {
      tmp =>
        // Stage RAW rows (one json line per lineitem row), 2
        // time-ordered micro-batches (was 8: the KMV/min/max fold is
        // order- and batching-invariant, so extra triggers only bought
        // extra fixed RocksDB/commit lifecycles — 8c/32c ratio 0.74);
        // two batches still prove the cross-batch state merge. The
        // 5-way melt happens INSIDE the stream via flatMap. Staging
        // the pre-melted rows cost 5× the IO/parse and measured 25 s
        // at sf0.1 — the melt is free executor-side, the staging
        // bytes were the bottleneck.
        val raw = load(s, dir, "lineitem").selectExpr(
          "l_orderkey % 2 AS slice",
          "CAST(l_partkey AS STRING) AS pk",
          "CAST(l_suppkey AS STRING) AS sk",
          "CAST(CAST(l_quantity AS BIGINT) AS STRING) AS q",
          "CAST(l_returnflag AS STRING) AS rf",
          "CAST(l_shipdate AS STRING) AS sd")
        val in = graft.streaming.SliceReplay.stage(tmp,
          raw.select(to_json(struct(col("pk"), col("sk"), col("q"),
            col("rf"), col("sd"))).as("value"), col("slice")), 2)
        val out = graft.streaming.GateOut.dir()
        val q = s.readStream
          .option("maxFilesPerTrigger", 1)
          .text(in)
          .select(from_json(col("value"), schema).as("d"))
          .select(col("d.pk"), col("d.sk"), col("d.q"), col("d.rf"),
            col("d.sd"))
          .as[(Option[String], Option[String], Option[String],
            Option[String], Option[String])]
          .flatMap { case (pk, sk, q, rf, sd) =>
            Seq(ProfIn("l_partkey", pk), ProfIn("l_suppkey", sk),
              ProfIn("l_quantity", q), ProfIn("l_returnflag", rf),
              ProfIn("l_shipdate", sd))
          }
          .groupByKey(_.c)
          .transformWithState(new ProfileProcessor, TimeMode.None(),
            OutputMode.Append(),
            org.apache.spark.sql.Encoders.product[ProfOut])
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/chk")
          .format("parquet").option("path", out)
          .start()
        q.awaitTermination()
        s.read.parquet(out)
      }
    }
    // each micro-batch emitted a running snapshot; the final profile
    // per column is the row with the largest cumulative n_rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("col_name")).orderBy(col("n_rows").desc)
    result.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("ndv_est"), col("min_s"), col("max_s"))
      .orderBy(col("col_name"))
    }
  }

  private val qStreamProfileSql = profileSql(exactNdv = false)

  /* Forty-ninth wave (round 10): optimizer statistics export —
    *
    *  - q295: ANALYZE-GRADE COLUMN STATS — the equi-depth histogram +
    *    most-common-values pair every cost-based optimizer keeps per
    *    column (and what q289 showed uniformity-only stats get wrong).
    *    Three measure columns are melted to (col, value) on the exact
    *    cent/unit grid; each column's values are ranked by the
    *    DISTRIBUTED per-group prefix-scan ([[Ranks.prefixSum]] with the
    *    column name as the partition key — never a single-task global
    *    sort), cut into 16 equal-depth buckets by rank arithmetic, and
    *    each bucket reports its [lo, hi] bounds and count; beside the
    *    histogram, the 4 most common values per column (count desc,
    *    value asc — deterministic) with their frequencies. Histogram
    *    boundaries and MCVs are exactly the stats a 100-TB planner
    *    feeds its selectivity model; everything is rank arithmetic on
    *    integers, so both engines agree bit-for-bit.
    *
    * Scale shape: one melt scan, one range-partitioned prefix-scan per
    * the Ranks device (parallel at any size), one ≤(3×16)-row histogram
    * aggregate, one keyed top-4 window over per-value counts. */

  // ------------------------------------------------------------- q295

  private val HistBuckets = 16
  private val McvK = 4

  private def qColumnStats(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val melt = graft.util.Pin(Seq(
      li.select(lit("l_quantity").as("c"),
        expr("CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)").as("v")),
      li.select(lit("l_extendedprice").as("c"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)")
          .as("v")),
      li.select(lit("l_suppkey").as("c"), col("l_suppkey").as("v")))
      .reduce(_ unionByName _))
    val n = melt.groupBy(col("c")).agg(count(lit(1)).as("n"))
    // per-column global rank by (value): ties are interchangeable for
    // equi-depth bounds, counts per bucket are rank arithmetic either
    // way; the per-(value) pre-aggregate keeps the scan keyed
    val byVal = melt.groupBy(col("c"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = Ranks.prefixSum(byVal, Seq("c"), Seq(col("v")),
      col("cnt"), "cum")
    // a value spans ranks (cum-cnt, cum]; assign the value's rows to
    // buckets by slicing that rank interval on the 16 equal cuts
    val hist = ranked.join(broadcast(n), Seq("c"))
      .select(col("c"), col("v"), col("cnt"), col("cum"), col("n"),
        explode(expr(s"sequence(0, ${HistBuckets - 1})")).as("b"))
      // bucket b covers ranks (b*n div 16, (b+1)*n div 16]
      .withColumn("blo", expr(s"b * n div $HistBuckets"))
      .withColumn("bhi", expr(s"(b + 1) * n div $HistBuckets"))
      .filter(col("cum") > col("blo") &&
        col("cum") - col("cnt") < col("bhi"))
      .withColumn("in_bucket",
        least(col("cum"), col("bhi")) -
          greatest(col("cum") - col("cnt"), col("blo")))
      .groupBy(col("c"), col("b"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("in_bucket")).as("n_rows"))
      .select(col("c"), lit("hist").as("kind"),
        col("b").cast("long").as("idx"), col("lo"), col("hi"),
        col("n_rows"))
    val w = Window.partitionBy(col("c"))
      .orderBy(col("cnt").desc, col("v").asc)
    val mcv = byVal.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= McvK)
      .select(col("c"), lit("mcv").as("kind"),
        (col("rk") - 1).cast("long").as("idx"), col("v").as("lo"),
        col("v").as("hi"), col("cnt").as("n_rows"))
    hist.unionByName(mcv)
      .orderBy(col("c"), col("kind"), col("idx"))
  }

  private val qColumnStatsSql = {
    val melt =
      """SELECT 'l_quantity' AS c,
        |  CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS v
        |FROM lineitem
        |UNION ALL SELECT 'l_extendedprice',
        |  CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |FROM lineitem
        |UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem"""
        .stripMargin
    s"""WITH melt AS MATERIALIZED ($melt),
       |n AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n FROM melt
       |      GROUP BY 1),
       |bv AS MATERIALIZED (
       |  SELECT c, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM melt
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT c, v, cnt,
       |    CAST(SUM(cnt) OVER (PARTITION BY c ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM bv),
       |hist AS (
       |  SELECT c, 'hist' AS kind, CAST(b AS BIGINT) AS idx,
       |    MIN(v) AS lo, MAX(v) AS hi,
       |    CAST(SUM(LEAST(cum, (b + 1) * n.n // $HistBuckets) -
       |      GREATEST(cum - cnt, b * n.n // $HistBuckets)) AS BIGINT)
       |      AS n_rows
       |  FROM r JOIN n USING (c), range(0, $HistBuckets) t(b)
       |  WHERE cum > b * n.n // $HistBuckets
       |    AND cum - cnt < (b + 1) * n.n // $HistBuckets
       |  GROUP BY 1, 2, 3),
       |mcv AS (
       |  SELECT c, 'mcv' AS kind,
       |    CAST(row_number() OVER (PARTITION BY c
       |      ORDER BY cnt DESC, v) - 1 AS BIGINT) AS idx,
       |    v AS lo, v AS hi, cnt AS n_rows
       |  FROM bv QUALIFY row_number() OVER (PARTITION BY c
       |    ORDER BY cnt DESC, v) <= $McvK)
       |SELECT * FROM hist
       |UNION ALL SELECT * FROM mcv
       |ORDER BY c, kind, idx""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q263_table_profile" -> QueryDef(qTableProfile, Some(qTableProfileSql),
      "one-pass Deequ-style column profile: null/exact-distinct counts " +
        "+ the native graft_kmv distinct estimate, all oracle-gated"),
    "q268_profile_drift" -> QueryDef(qProfileDrift, Some(qProfileDriftSql),
      "two-snapshot column-profile drift: counts, exact NDV, " +
        "deterministic-mode top value and share shift"),
    "q272_stream_profile" -> QueryDef(qStreamProfile,
      Some(qStreamProfileSql),
      "q263's table profile maintained per micro-batch in " +
        "transformWithState typed state (mergeable counts/min/max/KMV " +
        "sketch); final streamed profile == batch statistics"),
    "q295_column_stats" -> QueryDef(qColumnStats, Some(qColumnStatsSql),
      "ANALYZE-grade column statistics: 16-bucket equi-depth " +
        "histogram (distributed per-column prefix-scan ranks, rank- " +
        "interval slicing) + 4 most-common values per column, all on " +
        "the exact integer grid"))
}
