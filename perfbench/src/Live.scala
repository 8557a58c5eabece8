package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.state.FileStateFSM
import graft.streaming.ChangeStreamPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Progress journal of the live query: one record per micro-batch, taken
  * when Spark reports the batch committed. */
final class ProgressLog extends StreamingQueryListener {
  final case class P(batchId: Long, rows: Long, atMs: Long,
      phases: Map[String, Long], stateRows: Long, stateMem: Long, commitMs: Long)
  val all = new ConcurrentLinkedQueue[P]()
  val processed = new AtomicLong(0)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
      ops.map(f).sum
    val ph = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    all.add(P(p.batchId, p.numInputRows, System.currentTimeMillis(), ph,
      st(_.numRowsTotal), st(_.memoryUsedBytes), st(_.commitTimeMs)))
    processed.addAndGet(p.numInputRows)
  }
  def batches: Seq[P] = all.asScala.toSeq
}

/** `live`: an open-loop generator publishes JSON-lines change files on a
  * fixed schedule while `ChangeStreamPipeline.decode` → `stateStream`
  * (RocksDB) → parquet `foreachBatch` sink runs with an as-fast-as-
  * possible trigger; then a fixed backlog is dropped in at once and
  * drained. */
object Live {
  private val TickMs = 100L
  private val Reps = 3

  final class Gen(seed: Long, keys: Int) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var tx = 0L
    private val cdf = {
      val w = (1 to keys).map(r => 1.0 / math.pow(r, 1.0))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def line(createdMs: Long): String = {
      tx += 1
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val key = math.min(keys - 1, if (i >= 0) i else -i - 1)
      val r = rnd.nextInt(100)
      val op = if (r < 10) "AddFile" else if (r < 80) "AppendFile"
        else if (r < 90) "CloseFile" else if (r < 92) "Error" else "IgnoreTx"
      val size = if (op == "AppendFile") 1L + rnd.nextInt(100000) else 0L
      s"""{"txId":$tx,"op":"$op","path":"/data/stream/f$key","mode":"New","sizeCents":$size,"ts":$createdMs}"""
    }
    def emitted: Long = tx
  }

  private final class Dirs(root: Path) {
    val in: Path = root.resolve("in"); val stage: Path = root.resolve("stage")
    val chk: Path = root.resolve("chk"); val out: Path = root.resolve("out")
    Seq(in, stage).foreach(Files.createDirectories(_))
    private var n = 0
    def publish(lines: Seq[String]): Unit = publishAll(Seq(lines))()

    /** Stage every file first, then run `before` and move them all in, so
      * the source sees them appear together. */
    def publishAll(files: Seq[Seq[String]])(before: => Unit = ()): Unit = {
      val staged = files.map { lines =>
        val name = f"events-$n%07d.json"; n += 1
        val st = stage.resolve(name)
        Files.write(st, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        st -> in.resolve(name)
      }
      before
      staged.foreach { case (st, to) => Files.move(st, to, StandardCopyOption.ATOMIC_MOVE) }
    }
  }

  def run(a: Args): Result = {
    val keys = math.max(100, (20000 * a.scale).toInt)
    val rate = math.max(200, (OfferedRate * a.scale).toInt) // events/s
    val burst = math.max(2000, (40000 * a.scale).toInt)
    val work = java.nio.file.Paths.get(a.work)
    val tr = new Tracer(s"live-${a.seed}")
    val sinkMs = new ConcurrentLinkedQueue[Double]()

    def start(spark: SparkSession, d: Dirs): StreamingQuery = {
      implicit val s: SparkSession = spark
      val raw = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
        .text(d.in.toString)
      ChangeStreamPipeline.stateStream(ChangeStreamPipeline.decode(raw)).toDF()
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          tr.unit = s"batch-$id"
          val t0 = System.nanoTime()
          if (tr.enabled) tr.span(spark, "state") {
            batch.persist(StorageLevel.MEMORY_AND_DISK).count()
          }
          tr.span(spark, "sink") { batch.write.mode("append").parquet(d.out.toString) }
          if (tr.enabled) batch.unpersist()
          sinkMs.add((System.nanoTime() - t0) / 1e6)
          ()
        }
        .option("checkpointLocation", d.chk.toString)
        .queryName("live")
        .start()
    }

    var gen: Gen = null
    var log: ProgressLog = null
    var query: StreamingQuery = null
    var dirs: Dirs = null
    def awaitProcessed(n: Long, timeoutS: Double): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (log.processed.get() < n && System.nanoTime() < end && query.isActive)
        Thread.sleep(5)
      log.processed.get() >= n
    }

    // setup = session start + stream start, until a priming event is through
    val (spark, _, setups) = Session.setupReps(a.work, Reps,
        (_: Unit) => query.stop()) { (s, i) =>
      log = new ProgressLog; s.streams.addListener(log)
      gen = new Gen(a.seed, keys)
      dirs = new Dirs(work.resolve(s"rep-$i"))
      query = start(s, dirs)
      dirs.publish(Seq(gen.line(System.currentTimeMillis())))
      require(awaitProcessed(gen.emitted, 60), "stream did not start")
    }
    Work.mark("set up")
    val tally = new TaskTally; spark.sparkContext.addSparkListener(tally)
    val base = gen.emitted // events published before the measured phase
    val basis = log.batches.size

    // ── steady phase: fixed offered rate, open loop ─────────────────
    val perTick = math.max(1, (rate * TickMs / 1000).toInt)
    val steadyS = a.seconds
    val ticks = (steadyS * 1000 / TickMs).toInt
    val due = new Array[Long](ticks); val cum = new Array[Long](ticks)
    var lateMax = 0.0
    val backlog = mutable.ArrayBuffer.empty[Long]
    val t0 = System.currentTimeMillis()
    for (k <- 0 until ticks) {
      due(k) = t0 + k * TickMs
      val now = System.currentTimeMillis()
      if (due(k) > now) Thread.sleep(due(k) - now)
      lateMax = math.max(lateMax, System.currentTimeMillis() - due(k).toDouble)
      dirs.publish((0 until perTick).map(_ => gen.line(due(k))))
      cum(k) = gen.emitted
      backlog += gen.emitted - log.processed.get()
    }
    val steadyOk = awaitProcessed(gen.emitted, 60)
    val steadyBatches = log.batches.drop(basis)

    // ── burst: a fixed backlog dropped in at once, then drained ─────
    def drain(traced: Boolean): Double = {
      tr.enabled = traced
      val lines = (0 until burst).map(_ => gen.line(System.currentTimeMillis()))
      var b0 = 0L
      dirs.publishAll(lines.grouped(math.max(1, burst / 4)).toSeq) { b0 = System.nanoTime() }
      val ok = awaitProcessed(gen.emitted, 120)
      tr.enabled = false
      require(ok, s"burst not drained: ${log.processed.get()} of ${gen.emitted}")
      (System.nanoTime() - b0) / 1e9
    }
    // three bursts; with tracing on, the middle one is traced
    val drains = (0 until 3).map(b => b -> drain(traced = a.trace && b == 1))
    val plainDrains = drains.filterNot(d => a.trace && d._1 == 1).map(_._2)
    val drainS = plainDrains.sum / plainDrains.size
    val drainTracedS = if (a.trace) Some(drains(1)._2) else None
    query.stop()
    Work.mark("measured")

    // ── lag of steady-phase events: commit time of the batch that
    // carried them minus the time they were due ────────────────────
    val commits = steadyBatches.filter(_.rows > 0)
    var ci = 0
    var processedSoFar = base
    val lags = mutable.ArrayBuffer.empty[(Double, Long)]
    // the first second (at most a third of the phase) is ramp-up
    val rampTicks = math.min((1000 / TickMs).toInt, ticks / 3)
    for (k <- 0 until ticks) {
      while (ci < commits.size && processedSoFar < cum(k)) {
        processedSoFar += commits(ci).rows; ci += 1
      }
      if (k >= rampTicks && processedSoFar >= cum(k) && ci > 0)
        lags += ((commits(ci - 1).atMs - due(k)).toDouble -> perTick.toLong)
    }
    val lagSamples = lags.flatMap { case (l, n) => Iterator.fill(n.toInt)(l) }
    // a growing backlog: the second half of the steady phase (after the
    // ramp) holds clearly more unprocessed events than the first half
    val settled = backlog.drop(rampTicks)
    val (h1, h2) = settled.splitAt(settled.size / 2)
    def mean(xs: Iterable[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val growing = mean(h2) > 1.5 * mean(h1) + rate * 0.5
    if (growing) System.err.println(s"[live] backlog grew during the steady phase: $backlog")

    // ── correctness: streamed end state == batch replay ────────────
    implicit val s: SparkSession = spark
    val cols = Seq("path", "state", "nOps", "nAppends", "dataSizeCents", "lastTxId").map(col)
    val w = Window.partitionBy(col("path")).orderBy(col("lastTxId").desc, col("nOps").desc)
    val streamed = spark.read.parquet(dirs.out.toString)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).select(cols: _*)
    val batchRaw = spark.read.schema(StructType(Seq(StructField("value", StringType))))
      .text(dirs.in.toString)
    val replayed = FileStateFSM.replayAll(ChangeStreamPipeline.decode(batchRaw)).toDF()
      .select(cols: _*)
    val mismatches = streamed.exceptAll(replayed).count() + replayed.exceptAll(streamed).count()
    val injected = gen.emitted
    val applied = log.processed.get()
    val correct = mismatches == 0 && steadyOk && !growing && applied == injected
    if (!correct) System.err.println(s"[live] mismatches=$mismatches steadyOk=$steadyOk " +
      s"growing=$growing applied=$applied injected=$injected")

    Work.mark("checked")
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "throughput_per_s" -> burst / drainS,
      "latency_p50_ms" -> Stats.pct(lagSamples, 0.5),
      "latency_p95_ms" -> Stats.pct(lagSamples, 0.95),
      "peak_rss_mb" -> Stats.peakRssMb())
    val busy = steadyBatches.filter(_.rows > 0)
    def ph(k: String) = Stats.median(busy.map(_.phases.getOrElse(k, 0L).toDouble))
    val phases = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    val unattributed = Stats.median(busy.map(b => b.phases.getOrElse("triggerExecution", 0L) -
      phases.map(b.phases.getOrElse(_, 0L)).sum).map(_.toDouble)) / 1e3
    val layers = Map(
      "stream.batches" -> busy.size.toDouble,
      "stream.rows_per_batch_p50" -> Stats.median(busy.map(_.rows.toDouble)),
      "stream.batch_ms_p50" -> ph("triggerExecution"),
      "stream.batch_ms_p95" -> Stats.pct(busy.map(_.phases.getOrElse("triggerExecution", 0L).toDouble), 0.95),
      "stream.state.rows" -> busy.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "stream.state.memory_bytes" -> busy.lastOption.map(_.stateMem.toDouble).getOrElse(0.0),
      "stream.state.commit_ms_p50" -> Stats.median(busy.map(_.commitMs.toDouble)),
      "stream.checkpoint_bytes" -> Stats.dirBytes(dirs.chk).toDouble,
      "stream.sink_ms_p50" -> Stats.median(sinkMs.asScala),
      "stream.backlog_events_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "stream.generator_late_ms_max" -> lateMax,
      "stream.lag_samples" -> lagSamples.size.toDouble,
      "stream.drain_events_per_s" -> burst / drainS) ++
      phases.map(p => s"stream.phase.${p}_ms_p50" -> ph(p)) ++
      drainTracedS.map(d => Map(
        "trace.overhead_ratio" -> d / drainS,
        "trace.unattributed_s" -> unattributed,
        "stream.traced.state_busy_s" -> tr.selfSeconds.getOrElse("state", 0.0),
        "stream.traced.sink_busy_s" -> tr.selfSeconds.getOrElse("sink", 0.0)) ++
        tally.metrics(_ != "-")).getOrElse(Map.empty)
    if (a.trace) tr.writeJson(s"${a.out}.spans.json")
    val res = Result(correct, injected - base, math.max(0L, injected - applied), e2e, layers,
      Map("offered_rate_per_s" -> rate.toString, "lag_samples" -> lagSamples.size.toString,
        "steady_batches" -> busy.size.toString, "burst_events" -> burst.toString,
        "drain_s" -> f"$drainS%.3f"))
    spark.stop()
    res
  }

  /** Offered rate of the steady phase, events/s. Fixed, so both sides of
    * a comparison see the same load. A burst drains at ~50k events/s on
    * a 4-core host, but each micro-batch also pays ~0.6 s of fixed cost,
    * so the steady queue is stable only well below half of that. */
  val OfferedRate = 8000
}
