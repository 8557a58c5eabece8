package graft.ops
package relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** Sessionization and within-session analytics, batch and streaming. */
object Sessions {

  /* Corpus/behavior operators rounding out the pipeline battery:
    *
    *   - q106: gap-based SESSIONIZATION of the event stream — the
    *     standard "new session after N idle time" reconstruction every
    *     analytics stack ships (and the batch restatement of what a
    *     streaming `mapGroupsWithState` session operator maintains).
    *   - q107: corpus-frequency BOILERPLATE REMOVAL — C4's "drop any
    *     line that appears in more than one document" rule at the chunk
    *     grain. Distinct from q90 (keep-first chunk dedup): a chunk seen
    *     in >= [[BoilerplateDf]] distinct docs is template text and is
    *     removed from EVERY document, including the first.
    *   - q108: ZIPF VOCABULARY-COVERAGE curve — cumulative corpus-token
    *     coverage of the top-k vocabulary, the sizing curve a tokenizer/
    *     vocab decision reads (integer-exact ppm).
    *
    * Scale shape: q106 is one shuffle on user_id; the session window and
    * the per-session aggregate reuse that partitioning. q107 is the q90
    * profile — one chunk-keyed aggregation plus one chunk-keyed join
    * back, nothing pairwise. q108's global rank window runs AFTER a
    * distributed TakeOrderedAndProject caps the vocabulary at
    * [[TopVocab]] rows, so the single-partition window is O(TopVocab)
    * regardless of corpus size; the corpus-wide totals come from a
    * separate full aggregate joined in as a broadcast scalar.
    */

  // --------------------------------------------------------------- q106

  /** Session-breaking idle gap, in microseconds. The synthetic event
    * stream is sparse per user (median inter-event gap ~7.3 h at the
    * gate SF), so the conventional 30-minute web gap would make every
    * event its own session and the operator would test nothing; 8⅓ h
    * splits the stream into ~2.2-event sessions — boundaries on both
    * sides of the cut. */
  private val SessionGapUs = 30_000_000_000L

  /** Events with their session number attached — the shared base of
    * q106 (session summaries) and q110 (within-session co-occurrence).
    * One shuffle on user_id; everything downstream reuses it. */
  private def sessionAssigned(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) <= SessionGapUs,
          lit(0L)).otherwise(lit(1L)))
      .withColumn("session_seq", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    sessionAssigned(s, dir)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        countDistinct(col("event_type")).cast(LongType).as("n_types"))
      .orderBy(col("user_id"), col("session_seq"))

  private val qSessionizeSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |s AS (SELECT user_id, event_id, event_type, us,
       |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id
       |                               ORDER BY us, event_id)
       |            <= $SessionGapUs
       |       THEN 0 ELSE 1 END AS new_sess
       |  FROM e),
       |x AS (SELECT user_id, event_type, us,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                      ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM s)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MIN(us) AS start_us, MAX(us) AS end_us,
       |  MAX(us) - MIN(us) AS duration_us,
       |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
       |FROM x GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  // --------------------------------------------------------------- q109

  /** One staged event record / FSM state / emitted session for the
    * streaming sessionizer. `types` is kept as a sorted-distinct Seq
    * (bounded by event-type cardinality, tiny) so the product encoder
    * stays simple and the count is exact. */
  final case class SessEvent(
      user_id: Long, event_id: Long, event_type: String, us: Long)
  final case class SessState(
      seq: Long, start: Long, last: Long, n: Long, types: Seq[String])
  final case class SessOut(
      user_id: Long, session_seq: Long, n_events: Long,
      start_us: Long, end_us: Long, n_types: Long)

  /** The per-user session FSM: extend the open session while the gap
    * stays inside [[SessionGapUs]], emit it and open a new one at the
    * first larger gap. Batches arrive in event-time order (the staging
    * below slices by time); inside a batch the iterator is unordered,
    * so it is sorted by (us, event_id) — the batch query's exact order.
    */
  private def sessionFsm(uid: Long, it: Iterator[SessEvent],
      st: org.apache.spark.sql.streaming.GroupState[SessState])
      : Iterator[SessOut] = {
    val evs = it.toSeq.sortBy(e => (e.us, e.event_id))
    var state = st.getOption
    val out = Seq.newBuilder[SessOut]
    for (e <- evs) state match {
      case Some(ss) if e.us - ss.last <= SessionGapUs =>
        state = Some(ss.copy(last = e.us, n = ss.n + 1,
          types = (ss.types :+ e.event_type).distinct.sorted))
      case Some(ss) =>
        out += SessOut(uid, ss.seq, ss.n, ss.start, ss.last,
          ss.types.size.toLong)
        state = Some(SessState(ss.seq + 1, e.us, e.us, 1L, Seq(e.event_type)))
      case None =>
        state = Some(SessState(1L, e.us, e.us, 1L, Seq(e.event_type)))
    }
    state.foreach(st.update)
    out.result().iterator
  }

  /** q109: STREAMING sessionization — q106 maintained live by a keyed
    * `flatMapGroupsWithState` FSM (the T5 keyed-state protocol applied
    * to behavioral data). The event log is staged as two event-time
    * slices replayed one file per micro-batch (mod-times pin the
    * order), so sessions spanning micro-batches genuinely exercise
    * cross-batch state carry; a final per-user sentinel slice at
    * `max(us) + 2·gap` closes every open session the way a passing
    * watermark would. Gate: identical to q106's batch oracle.
    *
    * Scale shape: state is ONE open session per user (few hundred
    * bytes), the classic RocksDB-backed keyed-FSM profile; each batch
    * shuffles only its own slice on user_id. */
  /** Stages the event log under `tmp/in` as two event-time slices
    * (mod-times pin the micro-batch replay order; was four — the FSM's
    * per-batch sort over time-disjoint slices makes the fold
    * batching-invariant, so extra triggers only bought extra fixed
    * lifecycle cost) plus a per-user sentinel slice at max(us) + 2·gap
    * that closes every open session the way a passing watermark would.
    * Sessions still span the remaining slice boundary, so cross-batch
    * state carry stays exercised. Shared by q109 and q124; both
    * oracle re-verified. */
  private def stageSessionInput(s: SparkSession, dir: String,
      tmp: String): Unit = {
    val ev = load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    // bounded collect: one min/max scalar pair for slice sizing
    val Array(minMax) = ev.agg(min(col("us")), max(col("us"))).collect()
    val (lo, hi) = (minMax.getLong(0), minMax.getLong(1))
    val step = (hi - lo) / 2 + 1
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(tmp), s.sparkContext.hadoopConfiguration)
    def stage(slice: DataFrame, i: Int): Unit = {
      slice.select(to_json(struct(col("user_id"), col("event_id"),
        col("event_type"), col("us"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$tmp/stage$i")
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/stage$i/part-*")).head.getPath
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/in"))
      val dst = new org.apache.hadoop.fs.Path(s"$tmp/in/slice-$i.txt")
      fs.rename(part, dst)
      // mod-time IS the replay order for the file source
      fs.setTimes(dst, 1000L * (i + 1), -1)
    }
    for (i <- 0 until 2)
      stage(ev.filter(col("us") >= lo + i.toLong * step &&
        col("us") < lo + (i + 1).toLong * step), i)
    stage(ev.select(col("user_id")).distinct()
      .select(col("user_id"), lit(-1L).as("event_id"),
        lit("__flush__").as("event_type"),
        lit(hi + 2 * SessionGapUs).as("us")), 2)
  }

  private val sessEventSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("us",
      org.apache.spark.sql.types.LongType)))

  /** The staged stream as a typed Dataset keyed by user. */
  private def sessionStream(s: SparkSession, tmp: String) = {
    import s.implicits._
    s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$tmp/in")
      .select(from_json(col("value"), sessEventSchema).as("d"))
      .select(col("d.user_id"), col("d.event_id"), col("d.event_type"),
        col("d.us"))
      .as[SessEvent]
      .groupByKey(_.user_id)
  }

  /** Runs a started streaming query to completion and returns the lazy
    * read-back of its GateOut sink — the emitted sessions never transit
    * the driver (the sink path must sit OUTSIDE the scratch scope). */
  private def finishSessions(s: SparkSession, out: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    q.awaitTermination()
    s.read.parquet(out)
  }

  private def sessionsToDF(sessions: DataFrame): DataFrame =
    sessions
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("duration_us"), col("n_types"))
      .orderBy(col("user_id"), col("session_seq"))

  private def qStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
    // pinned state partitioning + HDFS provider (StreamConfs): this
    // gate previously ran on the session's 32 shuffle partitions —
    // 32 state stores committed per micro-batch for a state that fits
    // a few hundred partitions' worth in one (the q129 lesson)
    graft.streaming.StreamConfs.withHdfsStateStore(s) {
    val sessions = graft.streaming.StreamScratch.withScratch("graft_ssess_") { tmp =>
      stageSessionInput(s, dir, tmp)
      val out = graft.streaming.GateOut.dir()
      val q = sessionStream(s, tmp)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(sessionFsm)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/chk")
        .format("parquet")
        .option("path", out)
        .start()
      finishSessions(s, out, q)
    }
    sessionsToDF(sessions)
    }
  }

  // --------------------------------------------------------------- q124

  /** The q109 session FSM restated on the `transformWithState` API —
    * Spark's current-generation arbitrary-stateful operator (typed
    * ValueState handles, RocksDB-only, timers available): the same
    * fold, the state in a named ValueState instead of GroupState. */
  private class SessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessEvent, SessOut] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[SessState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessState]("sess",
        org.apache.spark.sql.Encoders.product[SessState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, it: Iterator[SessEvent],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessOut] = {
      val evs = it.toSeq.sortBy(e => (e.us, e.event_id))
      var state = if (st.exists()) Some(st.get()) else None
      val out = Seq.newBuilder[SessOut]
      for (e <- evs) state match {
        case Some(ss) if e.us - ss.last <= SessionGapUs =>
          state = Some(ss.copy(last = e.us, n = ss.n + 1,
            types = (ss.types :+ e.event_type).distinct.sorted))
        case Some(ss) =>
          out += SessOut(uid, ss.seq, ss.n, ss.start, ss.last,
            ss.types.size.toLong)
          state = Some(SessState(ss.seq + 1, e.us, e.us, 1L,
            Seq(e.event_type)))
        case None =>
          state = Some(SessState(1L, e.us, e.us, 1L, Seq(e.event_type)))
      }
      state.foreach(st.update)
      out.result().iterator
    }
  }

  /** q124: q109 through `transformWithState` — proves the engine rides
    * the current stateful API (typed state handles over RocksDB), gated
    * against the same q106 oracle as the legacy-API and window
    * formulations. */
  private def qStreamSessionizeTws(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    // Pin state partitioning to 8 (the q129 lesson): a 32-thread
    // bench session otherwise opens 32 RocksDB stores per micro-batch
    // for a per-user FSM whose state fits a few hundred partitions'
    // worth in one — store instantiation/commit is the cost.
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
    // transformWithState requires the RocksDB state store provider —
    // scoped to this gate (restored on exit, see StreamScratch)
    val sessions = graft.streaming.StreamScratch.withRocksDb(s) {
      graft.streaming.StreamScratch.withScratch("graft_tws_") { tmp =>
      stageSessionInput(s, dir, tmp)
      val out = graft.streaming.GateOut.dir()
      val q = sessionStream(s, tmp)
        .transformWithState(new SessionProcessor, TimeMode.None(),
          OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[SessOut])
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/chk")
        .format("parquet")
        .option("path", out)
        .start()
      finishSessions(s, out, q)
      }
    }
    sessionsToDF(sessions)
    }
  }

  // --------------------------------------------------------------- q110

  /** q110: within-session event-type CO-OCCURRENCE — the A-Priori
    * pass-1/pass-2 (pair support + lift) restated on q106's sessions:
    * which behaviors happen together in one visit. Counts are session-
    * grained (distinct per session first), support and lift are
    * integer-exact ppm via DECIMAL(38,0) so a 100-TB session count
    * cannot overflow the lift numerator.
    *
    * Scale shape: the session-type table is the q106 shuffle reused;
    * the self-join is equi-keyed on the session (never all-pairs —
    * per-session fan-out is bounded by C(|type alphabet|, 2)); the
    * singleton-support and total-session tables are aggregate-bounded
    * broadcasts. */
  private def qSessionPairs(s: SparkSession, dir: String): DataFrame = {
    val st = sessionAssigned(s, dir)
      .select(col("user_id"), col("session_seq"), col("event_type").as("t"))
      .distinct()
    val nSessions = st.select(col("user_id"), col("session_seq")).distinct()
      .agg(count(lit(1)).cast(LongType).as("n_sessions"))
    val singles = st.groupBy(col("t"))
      .agg(count(lit(1)).cast(LongType).as("n_t"))
    val pairs = st.as("a")
      .join(st.as("b"), Seq("user_id", "session_seq"))
      .filter(col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).cast(LongType).as("n_pair"))
    pairs
      .join(broadcast(singles.withColumnRenamed("t", "type_a")
        .withColumnRenamed("n_t", "n_a")), "type_a")
      .join(broadcast(singles.withColumnRenamed("t", "type_b")
        .withColumnRenamed("n_t", "n_b")), "type_b")
      .crossJoin(broadcast(nSessions))
      .withColumn("support_ppm", expr(
        "CAST(CAST(n_pair AS DECIMAL(38,0)) * 1000000 div n_sessions AS BIGINT)"))
      .withColumn("lift_ppm", expr(
        "CAST(CAST(n_pair AS DECIMAL(38,0)) * n_sessions * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
      .select(col("type_a"), col("type_b"), col("n_pair"), col("n_a"),
        col("n_b"), col("n_sessions"), col("support_ppm"), col("lift_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  private val qSessionPairsSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |s AS (SELECT user_id, event_id, event_type, us,
       |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id
       |                               ORDER BY us, event_id)
       |            <= $SessionGapUs
       |       THEN 0 ELSE 1 END AS new_sess
       |  FROM e),
       |x AS (SELECT user_id, event_type,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                      ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM s),
       |st AS (SELECT DISTINCT user_id, session_seq, event_type AS t FROM x),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
       |       FROM (SELECT DISTINCT user_id, session_seq FROM st) u),
       |sing AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_t
       |         FROM st GROUP BY t),
       |p AS (SELECT a.t AS type_a, b.t AS type_b,
       |        CAST(COUNT(*) AS BIGINT) AS n_pair
       |      FROM st a JOIN st b
       |        ON a.user_id = b.user_id AND a.session_seq = b.session_seq
       |       AND a.t < b.t
       |      GROUP BY 1, 2)
       |SELECT p.type_a, p.type_b, p.n_pair,
       |  sa.n_t AS n_a, sb.n_t AS n_b, ns.n_sessions,
       |  CAST(CAST(p.n_pair AS HUGEINT) * 1000000 // ns.n_sessions
       |    AS BIGINT) AS support_ppm,
       |  CAST(CAST(p.n_pair AS HUGEINT) * ns.n_sessions * 1000000
       |       // (CAST(sa.n_t AS HUGEINT) * sb.n_t) AS BIGINT) AS lift_ppm
       |FROM p
       |JOIN sing sa ON sa.t = p.type_a
       |JOIN sing sb ON sb.t = p.type_b
       |CROSS JOIN ns
       |ORDER BY p.type_a, p.type_b""".stripMargin

  // --------------------------------------------------------------- q121

  /** q121: sessionization through Spark's BUILT-IN `session_window`
    * aggregate — the same reconstruction as q106 stated the way the
    * engine ships it (prefer the built-in operator when one exists;
    * q106/q109 exist to prove the window/FSM formulations against it).
    * Boundary semantics: session_window merges an event only while
    * gap < g (strict), so the oracle states `>= g` as the break rule;
    * window.end is last_us + g by definition, restated exactly as
    * max(us) + g. */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapUs microseconds"))
      .agg(count(lit(1)).cast(LongType).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us_excl"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  private val qSessionWindowSql =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
       |s AS (SELECT user_id, us,
       |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id
       |                               ORDER BY us, event_id)
       |            < $SessionGapUs
       |       THEN 0 ELSE 1 END AS new_sess
       |  FROM e),
       |x AS (SELECT user_id, us,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
       |                      ROWS UNBOUNDED PRECEDING) AS seq
       |  FROM s)
       |SELECT user_id, MIN(us) AS start_us,
       |  MAX(us) + $SessionGapUs AS end_us_excl,
       |  CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM x GROUP BY user_id, seq
       |ORDER BY user_id, start_us""".stripMargin

  /* Twentieth wave (round 8): journey, keyword, and data-quality
    * operators, each reusing a custom tier this engine already owns —
    * the q106 session device (q231), the TopKPerGroup physical operator
    * (q232), and the round-8 distributed prefix devices (q233 runs on
    * `Ranks.prefixMax`). House rules: integer/ppm exactness,
    * deterministic orders, DuckDB oracle per query, bounded outputs. */

  /** Session gap shared with q229 (30 minutes, microseconds). */
  private val GapUs = 1800L * 1000000L

  /** Events with a per-user 30-minute session id `sid` (q231/q236/q238). */
  private def sessionized(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("us"),
      col("event_id"))
    load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("brk", when(coalesce(col("us") - lag(col("us"), 1)
        .over(wu), lit(GapUs + 1)) > GapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(wu))
  }

  /** One session's events in order: the window q231/q236/q238 step. */
  private val inSession = Window.partitionBy(col("user_id"), col("sid"))
    .orderBy(col("us"), col("event_id"))

  /** [[sessionized]] for the oracles: the `sid` CTE. */
  private val SessionCtes =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |  FROM events),
       |o AS (
       |  SELECT *, lag(us) OVER
       |      (PARTITION BY user_id ORDER BY us, event_id) AS pus
       |  FROM e),
       |b AS (
       |  SELECT *, CASE WHEN pus IS NULL OR us - pus > $GapUs
       |    THEN 1 ELSE 0 END AS brk FROM o),
       |sid AS (
       |  SELECT *, SUM(brk) OVER
       |      (PARTITION BY user_id ORDER BY us, event_id) AS sid
       |  FROM b)""".stripMargin

  // ------------------------------------------------------------- q231

  /** q231: FIRST-ORDER MARKOV TRANSITIONS between event types within a
    * session — the user-journey matrix ("after a view, what happens
    * next?"): consecutive-event pairs per (user, 30-min session) via
    * one `lead` over the per-user shuffle, counted into the (from, to)
    * matrix (alphabet² bounded), with row-normalized probability in
    * exact ppm and each row's top destination flagged. The ORDERED
    * complement of q110's unordered co-occurrence. Terminal events
    * (session's last) emit no pair — the matrix is over observed
    * transitions, the standard convention. */
  private def qMarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val ev = sessionized(s, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(inSession))
      .filter(col("next_type").isNotNull)
    val m = ev.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(
        Window.partitionBy(col("from_type"))))
      .withColumn("p_ppm", expr("n * 1000000 div row_total"))
    m.withColumn("is_top", (row_number().over(
        Window.partitionBy(col("from_type"))
          .orderBy(col("n").desc, col("to_type"))) === 1))
      .select(col("from_type"), col("to_type"), col("n"), col("p_ppm"),
        col("is_top"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val qMarkovTransitionsSql =
    s"""$SessionCtes,
       |pairs AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id, sid
       |      ORDER BY us, event_id) AS to_type
       |  FROM sid),
       |m AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
       |    AS row_total
       |  FROM m)
       |SELECT from_type, to_type, n, n * 1000000 // row_total AS p_ppm,
       |  CAST(row_number() OVER (PARTITION BY from_type
       |    ORDER BY n DESC, to_type) AS INT) = 1 AS is_top
       |FROM r ORDER BY from_type, to_type""".stripMargin

  // ------------------------------------------------------------- q236

  /** q236: TOP SESSION PATHS — the 20 most common ordered event-type
    * trigrams inside a 30-minute session (q231's matrix extended one
    * step: "view → click → purchase" journeys, the report a funnel
    * designer actually reads). Two leads over the same per-user
    * session window; counting is alphabet³-bounded; the final top-20
    * is `orderBy.limit` → distributed TakeOrdered. */
  private def qTopPaths(s: SparkSession, dir: String): DataFrame = {
    sessionized(s, dir)
      .withColumn("t2", lead(col("event_type"), 1).over(inSession))
      .withColumn("t3", lead(col("event_type"), 2).over(inSession))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
        col("t3").as("step3"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  private val qTopPathsSql =
    s"""$SessionCtes,
       |tri AS (
       |  SELECT user_id, event_type AS step1,
       |    lead(event_type, 1) OVER w AS step2,
       |    lead(event_type, 2) OVER w AS step3
       |  FROM sid
       |  WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id))
       |SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM tri WHERE step3 IS NOT NULL
       |GROUP BY 1, 2, 3
       |ORDER BY n DESC, step1, step2, step3
       |LIMIT 20""".stripMargin

  // ------------------------------------------------------------- q238

  /** q238: TRANSITION DWELL TIME — for each within-session consecutive
    * event-type pair, how long the first state lasted: count, total,
    * truncated mean, and max, all in exact microseconds, plus each
    * from-state's share of total dwell in ppm. One lag + one lead over
    * the per-user shuffle; the matrix is alphabet²-bounded. The timing
    * complement of q231's probability matrix. */
  private def qDwellTime(s: SparkSession, dir: String): DataFrame = {
    val dw = sessionized(s, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(inSession))
      .withColumn("dwell_us", lead(col("us"), 1).over(inSession) - col("us"))
      .filter(col("to_type").isNotNull)
    val m = dw.groupBy(col("event_type").as("from_type"),
        col("to_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("dwell_us")).as("total_us"),
        max(col("dwell_us")).as("max_us"))
      .withColumn("mean_us", expr("total_us div n"))
    m.withColumn("from_total", sum(col("total_us")).over(
        Window.partitionBy(col("from_type"))))
      .withColumn("share_ppm", expr( // decimal: totals can pass 2^63/1e6
        "CAST(CAST(total_us AS DECIMAL(38,0)) * 1000000 div from_total" +
          " AS BIGINT)"))
      .select(col("from_type"), col("to_type"), col("n"), col("total_us"),
        col("mean_us"), col("max_us"), col("share_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val qDwellTimeSql =
    s"""$SessionCtes,
       |dw AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER w AS to_type,
       |    lead(us) OVER w - us AS dwell_us
       |  FROM sid
       |  WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id)),
       |m AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(dwell_us) AS BIGINT) AS total_us,
       |    CAST(MAX(dwell_us) AS BIGINT) AS max_us
       |  FROM dw WHERE to_type IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, to_type, n, total_us, total_us // n AS mean_us,
       |  max_us,
       |  CAST(CAST(total_us AS HUGEINT) * 1000000 // (SUM(total_us) OVER
       |    (PARTITION BY from_type)) AS BIGINT) AS share_ppm
       |FROM m ORDER BY from_type, to_type""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q106_sessionize" -> QueryDef(qSessionize, Some(qSessionizeSql),
      "gap-based event sessionization (T5 keyed window restatement)"),
    "q109_stream_sessionize" -> QueryDef(qStreamSessionize,
      Some(qSessionizeSql),
      "streaming flatMapGroupsWithState sessions == batch q106"),
    "q110_session_pairs" -> QueryDef(qSessionPairs, Some(qSessionPairsSql),
      "A-Priori pair support + lift on q106 sessions, integer-exact ppm"),
    "q121_session_window" -> QueryDef(qSessionWindow,
      Some(qSessionWindowSql),
      "built-in session_window aggregate vs the analytic restatement"),
    "q124_stream_sessions_tws" -> QueryDef(qStreamSessionizeTws,
      Some(qSessionizeSql),
      "transformWithState session FSM (typed ValueState) == batch q106"),
    "q231_markov_transitions" -> QueryDef(qMarkovTransitions,
      Some(qMarkovTransitionsSql),
      "ordered within-session transition matrix, exact ppm rows"),
    "q236_top_paths" -> QueryDef(qTopPaths, Some(qTopPathsSql),
      "top ordered session trigrams via TakeOrdered"),
    "q238_dwell_time" -> QueryDef(qDwellTime, Some(qDwellTimeSql),
      "within-session transition dwell-time matrix, exact micros"))
}
