package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import Tables.load

/** Corpus/behavior operators rounding out the pipeline battery:
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
object CorpusOps {

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

  // --------------------------------------------------------------- q107

  /** Chunk grain (tokens) and the doc-frequency cut: a 20-token chunk
    * present in >= 2 distinct documents is template text (53 such
    * chunks at the gate SF vs ~1.5k singletons — the rule
    * discriminates without emptying any document). */
  private val ChunkTokens = 20
  private val BoilerplateDf = 2

  private def chunks(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, CAST(ceil(size(ws) / $ChunkTokens.0) AS INT) - 1),
           |  i -> array_join(slice(ws, i * $ChunkTokens + 1, $ChunkTokens), ' '))"""
          .stripMargin)).as(Seq("idx", "chunk")))

  private def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val c = chunks(s, dir)
    val df = c.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
    c.join(df, "chunk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_chunks"),
        sum(when(col("df") >= BoilerplateDf, lit(1L)).otherwise(lit(0L)))
          .cast(LongType).as("n_removed"),
        array_join(expr(
          s"""transform(
             |  array_sort(collect_list(
             |    CASE WHEN df < $BoilerplateDf THEN struct(idx, chunk) END)),
             |  s -> s.chunk)""".stripMargin), " ").as("kept_text"))
      .orderBy(col("doc_id"))
  }

  private val qBoilerplateSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    unnest(range(0, CAST(ceil(len(ws) / $ChunkTokens.0) AS BIGINT)))
       |      AS idx,
       |    unnest(list_transform(
       |      range(0, CAST(ceil(len(ws) / $ChunkTokens.0) AS BIGINT)),
       |      i -> array_to_string(
       |        ws[i*$ChunkTokens+1 : i*$ChunkTokens+$ChunkTokens], ' ')))
       |      AS chunk
       |  FROM w),
       |d AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df
       |      FROM c GROUP BY chunk)
       |SELECT c.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN d.df >= $BoilerplateDf THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_removed,
       |  COALESCE(array_to_string(
       |    list(CASE WHEN d.df < $BoilerplateDf THEN c.chunk END
       |         ORDER BY c.idx), ' '), '') AS kept_text
       |FROM c JOIN d USING (chunk)
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // --------------------------------------------------------------- q108

  /** Vocabulary cap for the rank window (scale guard, not a semantic
    * limit: the synthetic vocab is far smaller) and the ranks the
    * coverage curve reports. */
  private val TopVocab = 1000
  private val ReportRanks = Seq(1L, 5L, 10L, 30L)

  private def qZipfCoverage(s: SparkSession, dir: String): DataFrame = {
    val counts = load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast(LongType).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast(LongType).as("total"))
    val w = Window.orderBy(col("cnt").desc, col("word"))
    counts.orderBy(col("cnt").desc, col("word")).limit(TopVocab)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .withColumn("cum_tokens", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rnk").isInCollection(ReportRanks))
      .crossJoin(broadcast(total))
      // DECIMAL(38,0) before the multiply: ppm of a 100-TB token count
      // would overflow BIGINT at the *1e6 step.
      .withColumn("coverage_ppm", expr(
        "CAST(CAST(cum_tokens AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)"))
      .select(col("rnk"), col("word"), col("cnt"), col("cum_tokens"),
        col("total"), col("coverage_ppm"))
      .orderBy(col("rnk"))
  }

  private val qZipfCoverageSql =
    s"""WITH wd AS (SELECT unnest(string_split(text, ' ')) AS word
       |            FROM documents),
       |c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
       |      FROM wd GROUP BY word),
       |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
       |r AS (SELECT word, cnt,
       |        ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk,
       |        SUM(cnt) OVER (ORDER BY cnt DESC, word
       |                       ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM c QUALIFY rnk <= $TopVocab)
       |SELECT CAST(rnk AS BIGINT) AS rnk, word, cnt,
       |  CAST(cum AS BIGINT) AS cum_tokens, total,
       |  CAST(CAST(cum AS HUGEINT) * 1000000 // total AS BIGINT)
       |    AS coverage_ppm
       |FROM r, t WHERE rnk IN (${ReportRanks.mkString(", ")})
       |ORDER BY rnk""".stripMargin

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

  // --------------------------------------------------------------- q111

  /** Embedding dimensionality and the quantization grid for the Gram
    * pass. floor(x·1024) is bit-identical in both engines: a FLOAT
    * widens to DOUBLE exactly and scaling by 2^10 is exact, so the
    * only rounding is the shared floor. Entry magnitude is bounded by
    * n·(1024·|x|)² ≈ n·2^20 — a 100-TB row count of ~10^12 stays two
    * orders inside BIGINT. */
  private val EmbedDim = 64

  /** q111: GRAM MATRIX of the (quantized) embedding table — the
    * covariance/PCA input pass of every embedding-space curation step
    * (whitening, SemDeDup cell shaping, spectral filtering). Each row
    * contributes its 64×64 outer product, flattened to 4096 longs;
    * [[graft.functions.LongVectorSum]] folds them map-side into ONE
    * 32-KiB buffer per partition, so the "shuffle" is a handful of
    * binary blobs — the mergeable-sketch shape — where the naive
    * posexplode plan would shuffle n·4096 rows. The driver-side
    * eigensolve on the 64×64 result is spec'd (power iteration), not
    * gated: the distributed part IS this aggregate. */
  private def qEmbedGram(s: SparkSession, dir: String): DataFrame = {
    val outer = load(s, dir, "embeddings")
      .select(expr(
        s"""flatten(transform(
           |  transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)),
           |  x -> transform(
           |    transform(embedding, y -> CAST(floor(CAST(y AS DOUBLE) * 1024) AS BIGINT)),
           |    y -> x * y)))""".stripMargin).as("op"))
    outer
      .agg(graft.functions.LongVectorSum.vecsum(col("op"), EmbedDim * EmbedDim)
        .as("g"))
      .select(posexplode(col("g")).as(Seq("idx", "g")))
      .select((col("idx") divide lit(EmbedDim)).cast(LongType).as("i"),
        pmod(col("idx"), lit(EmbedDim)).cast(LongType).as("j"), col("g"))
      .orderBy(col("i"), col("j"))
  }

  private val qEmbedGramSql =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
       |  FROM embeddings)
       |SELECT CAST(a.i - 1 AS BIGINT) AS i, CAST(b.j - 1 AS BIGINT) AS j,
       |  CAST(SUM(q.q[a.i] * q.q[b.j]) AS BIGINT) AS g
       |FROM q,
       |  unnest(range(1, $EmbedDim + 1)) AS a(i),
       |  unnest(range(1, $EmbedDim + 1)) AS b(j)
       |GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------- q112

  /** q112: STREAMING anomaly detection — q85's hourly z-scores kept
    * current as a maintained view. The (event_type, hour) count table
    * is an additive monoid, so [[graft.streaming.VersionedMaintenance]]
    * folds each micro-batch's partial counts into the state exactly
    * (state(id) = state(id−1) ⊕ counts(batch)); the z-score derivation
    * then runs on the maintained table only — #types × #hours rows,
    * never a rescan of the event history. Gate: the final version
    * pushed through q85's exact-DECIMAL moment math hash-matches q85's
    * own oracle.
    *
    * Scale shape: each batch costs one narrow agg of the batch plus a
    * merge against a state table bounded by wall-clock hours × type
    * alphabet — the materialized-view profile, same as q80. */
  private def qStreamRateAnomaly(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("us", LongType)))
    val result = graft.streaming.StreamScratch.withScratch("graft_srate_") { tmp =>
      val staged = load(s, dir, "events")
        .select(to_json(struct(col("event_type"),
          unix_micros(col("ts")).as("us"))).as("value"))
      // 2 maintenance batches (was the 4-file default): the hourly
      // count fold is an additive monoid — batching-invariant — so two
      // folds prove the state merge at half the fixed trigger cost.
      // Oracle re-verified.
      val hourly = graft.streaming.VersionedMaintenance
        .run(tmp, staged, schema, nFiles = 2) { (prev, batch) =>
          val delta = batch
            .withColumn("hour_us",
              col("us") - pmod(col("us"), lit(3600000000L)))
            .groupBy(col("event_type"), col("hour_us"))
            .agg(count(lit(1)).as("n"))
          prev.map(_.select(col("event_type"), col("hour_us"), col("n")))
            .getOrElse(delta.limit(0))
            .unionByName(delta)
            .groupBy(col("event_type"), col("hour_us"))
            .agg(sum(col("n")).as("n"))
        }
      // q85's exact-DECIMAL derivation, verbatim, on the maintained table
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("n").cast(DecimalType(38, 0))).as("s1"),
          sum(col("n").cast(DecimalType(38, 0)) * col("n")).as("s2"))
        .withColumn("mean", col("s1").cast(DoubleType) / col("n_hours"))
        .withColumn("variance",
          (col("s2").cast(DoubleType)
            - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
              / col("n_hours")) / col("n_hours"))
        .select(col("event_type"), col("mean"), col("variance"))
      // the maintained table lives in scratch — one distributed persist
      // into GateOut, never a driver collect
      graft.streaming.GateOut.persist(
        hourly.join(broadcast(stats), "event_type")
          .withColumn("z", (col("n").cast(DoubleType) - col("mean"))
            / sqrt(col("variance")))
          .filter(col("variance") > 0.0 && abs(col("z")) >= 2.0)
          .select(col("event_type"), timestamp_micros(col("hour_us")).as("hour"),
            col("n"), col("z")))
    }
    result.orderBy(col("event_type"), col("hour"))
  }

  // --------------------------------------------------------------- q113

  /** q113: per-type OLS TREND over the hourly event rate — the "is
    * this signal rising" regression a monitoring stack fits next to
    * q85/q104's outlier flags. All five moments (k, Σx, Σy, Σxy, Σx²)
    * accumulate in DECIMAL(38,0) — x is integer hours-since-epoch, y
    * an integer count, so numerator and denominator of the closed-form
    * slope are EXACT integers and the only float op is the final
    * division (then intercept reuses that one slope double) — the
    * q69/q70 determinism recipe applied to regression. Shape: hourly
    * agg, then a five-sum agg over hours×types rows; nothing bigger
    * than the q85 profile. */
  private def qRateTrend(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(38, 0)
    val hourly = load(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", (unix_micros(col("hour")) / lit(3600000000L))
        .cast(LongType))
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_hours"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("n").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("n")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      .filter(col("n_hours") >= 2)
      .withColumn("slope",
        (col("n_hours").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType)
          / (col("n_hours").cast(dec) * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType))
      .withColumn("intercept",
        (col("sy").cast(DoubleType) - col("slope") * col("sx").cast(DoubleType))
          / col("n_hours"))
      .select(col("event_type"), col("n_hours"), col("slope"),
        col("intercept"), (col("slope") > 0.0).as("rising"))
      .orderBy(col("event_type"))
  }

  private val qRateTrendSql =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |hx AS (SELECT event_type,
      |         CAST(epoch_us(hour) // 3600000000 AS BIGINT) AS x, n
      |       FROM hourly),
      |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |         SUM(CAST(x AS HUGEINT)) AS sx,
      |         SUM(CAST(n AS HUGEINT)) AS sy,
      |         SUM(CAST(x AS HUGEINT) * n) AS sxy,
      |         SUM(CAST(x AS HUGEINT) * x) AS sxx
      |       FROM hx GROUP BY 1
      |       HAVING COUNT(*) >= 2),
      |sl AS (SELECT event_type, n_hours, sx, sy,
      |         CAST(n_hours * sxy - sx * sy AS DOUBLE)
      |           / CAST(n_hours * sxx - sx * sx AS DOUBLE) AS slope
      |       FROM st)
      |SELECT event_type, n_hours, slope,
      |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n_hours
      |    AS intercept,
      |  slope > 0.0 AS rising
      |FROM sl ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q114

  /** q114: equi-width HISTOGRAM of a money column per group — the
    * ANALYZE-histogram primitive (q73's profile stops at min/max/ndv;
    * this is the bucket table an optimizer or drift monitor reads).
    * Money doubles carry exactly two decimals, so `round(v·100)` is an
    * exact integer of cents and every bin edge and assignment is pure
    * integer arithmetic — no float comparisons anywhere in the hash.
    * Shape: one stats agg (groups × 2 longs, broadcast back), one
    * (group, bin) count agg; two scans of the fact at worst, one with
    * scan reuse. */
  private val HistBins = 10L

  private def qPriceHistogram(s: SparkSession, dir: String): DataFrame = {
    val cents = load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
    val stats = cents.groupBy(col("l_returnflag"))
      .agg(min(col("c")).as("min_c"), max(col("c")).as("max_c"))
    cents.join(broadcast(stats), "l_returnflag")
      .withColumn("bin", least(lit(HistBins - 1),
        expr(s"(c - min_c) * $HistBins div (max_c - min_c + 1)")))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        min(col("min_c")).as("min_c"), min(col("max_c")).as("max_c"))
      .withColumn("lo_cents",
        expr(s"min_c + bin * (max_c - min_c + 1) div $HistBins"))
      .withColumn("hi_cents",
        expr(s"min_c + (bin + 1) * (max_c - min_c + 1) div $HistBins - 1"))
      .select(col("l_returnflag"), col("bin"), col("n"),
        col("lo_cents"), col("hi_cents"))
      .orderBy(col("l_returnflag"), col("bin"))
  }

  private val qPriceHistogramSql =
    s"""WITH cents AS (
       |  SELECT l_returnflag,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
       |  FROM lineitem),
       |st AS (SELECT l_returnflag, MIN(c) AS min_c, MAX(c) AS max_c
       |       FROM cents GROUP BY 1),
       |b AS (SELECT cents.l_returnflag,
       |        LEAST($HistBins - 1,
       |          (c - min_c) * $HistBins // (max_c - min_c + 1)) AS bin,
       |        min_c, max_c
       |      FROM cents JOIN st USING (l_returnflag))
       |SELECT l_returnflag, bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  min_c + bin * (max_c - min_c + 1) // $HistBins AS lo_cents,
       |  min_c + (bin + 1) * (max_c - min_c + 1) // $HistBins - 1
       |    AS hi_cents
       |FROM b GROUP BY l_returnflag, bin, min_c, max_c
       |ORDER BY l_returnflag, bin""".stripMargin

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

  // --------------------------------------------------------------- q122

  /** q122: TRIANGLE COUNTING on the near-dup candidate graph — the
    * second graph-analytics primitive next to q52's components
    * (triangles measure how clique-like a duplicate cluster is, which
    * separates "one template, many copies" from "chains of drift").
    * Node-iterator form: edges kept in canonical a<b orientation, one
    * self-join on the shared middle vertex, one membership join for
    * the closing edge — every join equi-keyed, each triangle counted
    * exactly once as a<b<c. Scale note: the candidate graph is
    * LSH-sparse by construction; the classic degree-ordered
    * orientation is exactly the a<b form used here. */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val e = Dedup.minhashCandidates(s, dir)
    val viaB = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), "b")
    viaB.join(e.select(col("doc_a").as("a"), col("doc_b").as("c")),
        Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
      .orderBy(col("a"), col("b"), col("c"))
  }

  private val qTrianglesSql =
    s"""WITH ${Dedup.candidatesCte}
       |SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |FROM cand e1
       |JOIN cand e2 ON e2.doc_a = e1.doc_b
       |JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
       |ORDER BY a, b, c""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q106_sessionize" -> QueryDef(qSessionize, Some(qSessionizeSql),
      "gap-based event sessionization (T5 keyed window restatement)"),
    "q109_stream_sessionize" -> QueryDef(qStreamSessionize,
      Some(qSessionizeSql),
      "streaming flatMapGroupsWithState sessions == batch q106"),
    "q107_boilerplate" -> QueryDef(qBoilerplate, Some(qBoilerplateSql),
      "corpus-frequency boilerplate chunk removal (C4 rule; != q90 keep-first)"),
    "q108_zipf_coverage" -> QueryDef(qZipfCoverage, Some(qZipfCoverageSql),
      "Zipf vocabulary-coverage curve, TopK-capped rank window, exact ppm"),
    "q110_session_pairs" -> QueryDef(qSessionPairs, Some(qSessionPairsSql),
      "A-Priori pair support + lift on q106 sessions, integer-exact ppm"),
    "q111_embed_gram" -> QueryDef(qEmbedGram, Some(qEmbedGramSql),
      "quantized Gram matrix via the LongVectorSum native aggregate"),
    "q112_stream_rate_anomaly" -> QueryDef(qStreamRateAnomaly,
      Some(Cdc.qRateAnomalySql),
      "streaming additive-moment maintenance == batch q85 z-scores"),
    "q113_rate_trend" -> QueryDef(qRateTrend, Some(qRateTrendSql),
      "per-type OLS trend, exact DECIMAL moments, one IEEE division"),
    "q114_price_histogram" -> QueryDef(qPriceHistogram,
      Some(qPriceHistogramSql),
      "equi-width money histogram, pure integer bin math (ANALYZE shape)"),
    "q121_session_window" -> QueryDef(qSessionWindow,
      Some(qSessionWindowSql),
      "built-in session_window aggregate vs the analytic restatement"),
    "q122_triangles" -> QueryDef(qTriangles, Some(qTrianglesSql),
      "triangle counting on the LSH candidate graph (a<b<c canonical)"),
    "q124_stream_sessions_tws" -> QueryDef(qStreamSessionizeTws,
      Some(qSessionizeSql),
      "transformWithState session FSM (typed ValueState) == batch q106"))
}
