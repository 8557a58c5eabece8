package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import graft.api.Graft
import graft.changeset.RangeMerge
import graft.convert.Formats
import graft.model.{ChangeEvent, Op}
import graft.streaming.ChangeDeltaCodec
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Seeded change-event generator over a fixed file population: the
  * base namespace, then Zipf-skewed batches of block appends (as
  * size-bearing `UpdateBlocks`), new blocks, closes, truncates, renames,
  * deletes and re-creates. */
final class DeltaGen(seed: Long, files: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var tx = 0L
  private var nextBlock = 1L << 32
  private final class F(val idx: Int, var path: String, var live: Boolean = true,
      var blocks: Vector[(Long, Long)] = Vector.empty, var renames: Int = 0)
  private val fs = Array.tabulate(files)(i => new F(i, EditLogGen.pathOf(i)))
  // Zipf(1.1) over file ranks, by inverse CDF on a precomputed table
  private val cdf = {
    val w = (1 to files).map(r => 1.0 / math.pow(r, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private def pick(): F = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    fs(math.min(files - 1, if (i >= 0) i else -i - 1))
  }
  private def ev(op: String, f: F): ChangeEvent = {
    tx += 1; ChangeEvent(tx, op, f.path, ts = 1700000000000L + tx)
  }
  private def newBlock(f: F): ChangeEvent = {
    val prev = f.blocks.lastOption.map(_._1).getOrElse(-1L)
    val id = nextBlock; nextBlock += 1
    val size = 256L + rnd.nextInt(1024)
    f.blocks :+= (id -> size)
    ev(Op.AddBlock, f).copy(blockId = id, startOffset = 0L, endOffset = size,
      prevBlockId = prev)
  }

  def base(): Seq[ChangeEvent] = fs.toSeq.flatMap { f =>
    Seq(ev(Op.AddFile, f), newBlock(f), ev(Op.CloseFile, f))
  }

  def next(): ChangeEvent = {
    val f = pick()
    val r = rnd.nextInt(100)
    if (!f.live) {
      f.live = true; f.blocks = Vector.empty; ev(Op.AddFile, f)
    } else if (f.blocks.isEmpty || r < 12) newBlock(f)
    else if (r < 62) {
      val (id, size) = f.blocks.last
      val grown = math.min(EditLogGen.BlockCap, size + 64 + rnd.nextInt(512))
      f.blocks = f.blocks.updated(f.blocks.size - 1, id -> grown)
      ev(Op.UpdateBlocks, f).copy(blockId = id, startOffset = size,
        endOffset = grown, sizeCents = (grown - size) * 100)
    } else if (r < 77) ev(Op.CloseFile, f)
    else if (r < 84) ev(Op.AppendFile, f)
    else if (r < 90) {
      val (id, size) = f.blocks.last
      f.blocks = f.blocks.updated(f.blocks.size - 1, id -> size / 2)
      ev(Op.TruncateBlock, f).copy(blockId = id, startOffset = 0L, endOffset = size / 2)
    } else if (r < 95) {
      f.renames += 1
      val src = f.path
      f.path = s"${EditLogGen.pathOf(f.idx)}.d${f.renames}"
      ev(Op.RenameFile, f).copy(srcPath = src)
    } else {
      f.live = false; ev(Op.DeleteFile, f)
    }
  }
}

object DeltaGen {
  val Namespace = "hdfs-nn1"

  def writeBatch(p: Path, events: Seq[ChangeEvent]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(p)))
    try events.foreach { e =>
      val k = ChangeDeltaCodec.keyOf(e).getBytes(StandardCharsets.UTF_8)
      val id = ChangeDeltaCodec.messageIdOf(e, Namespace).getBytes(StandardCharsets.UTF_8)
      val v = ChangeDeltaCodec.encode(e, Namespace)
      out.writeInt(k.length); out.write(k); out.writeInt(id.length); out.write(id)
      out.writeInt(v.length); out.write(v)
    } finally out.close()
  }

  /** A batch file's records as (key, message_id, value) rows. */
  def readBatch(p: Path): Seq[Row] = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(p)))
    def bytes(): Array[Byte] = { val b = new Array[Byte](in.readInt()); in.readFully(b); b }
    val out = mutable.ArrayBuffer.empty[Row]
    try while (in.available() > 0)
      out += Row(new String(bytes(), StandardCharsets.UTF_8),
        new String(bytes(), StandardCharsets.UTF_8), bytes())
    finally in.close()
    out.toSeq
  }

  val recordSchema: StructType = StructType(Seq(StructField("key", StringType),
    StructField("message_id", StringType), StructField("value", BinaryType)))

  private val ignore = java.util.regex.Pattern.compile(graft.filters.DomainFilters.IgnoreRegex)

  /** Driver-side mirror of the benchmark's three filters and the global
    * ignore rule: whether a path routes to an entity. */
  def routed(path: String): Boolean =
    !ignore.matcher(path).find() &&
      (path.startsWith("/data/sales/orders") || path.startsWith("/data/sales/returns") ||
        (path.startsWith("/data/logs/web") && path.contains(".json")))
}

/** `delta`: hcdc's file delta processor. A writer takes batches of
  * protobuf `DFSChangeDelta` envelopes through envelope decode, an
  * incremental replay onto the persisted state, routing, range merge,
  * slicing, the block sink and Avro conversion, while a reader thread
  * queries the same state store. */
object Delta {
  private val Reps = 3
  // the reader is a status poller: a short pause between its rounds
  private val ReaderPauseMs = 500L

  def run(a: Args): Result = {
    val files = math.max(200, (5000 * a.scale).toInt)
    val perBatch = math.max(100, (500 * a.scale).toInt)
    val nBatches = 80
    val work = Paths.get(a.work)
    val in = work.resolve("in"); Files.createDirectories(in)

    // ── inputs (generation and self-checks, untimed) ────────────────
    val gen = new DeltaGen(a.seed, files)
    val baseEvents = gen.base()
    val batches = (0 until nBatches).map(_ => (0 until perBatch).map(_ => gen.next()))
    batches.zipWithIndex.foreach { case (evs, i) =>
      evs.foreach { e =>
        val back = ChangeDeltaCodec.decode(ChangeDeltaCodec.encode(e, DeltaGen.Namespace),
          ChangeDeltaCodec.messageIdOf(e, DeltaGen.Namespace))
        require(back == e, s"envelope round trip failed: $e -> $back")
      }
      DeltaGen.writeBatch(in.resolve(f"batch-$i%04d.bin"), evs)
      // the changed data file this batch converts (JSON lines)
      val rows = (0 until 200).map(r =>
        s"""{"id":${i * 1000 + r},"path":"${evs(r % evs.size).path}","bytes":${r * 37 % 4096},"ok":${r % 3 == 0}}""")
      Files.write(in.resolve(f"data-$i%04d.json"), rows.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    }

    Work.mark("inputs ready")
    val (spark, graft, setups) = Session.setupReps(a.work, Reps) { (s, i) =>
      val g = new Graft(s, work.resolve(s"state-$i").toString)
      EditLogGen.filters.foreach(g.addFilter)
      import s.implicits._
      g.replay(s.createDataset(baseEvents))
      g
    }
    implicit val s: SparkSession = spark
    val tally = new TaskTally; spark.sparkContext.addSparkListener(tally)
    val tr = new Tracer(s"delta-${a.seed}")
    val replicas = work.resolve("replicas").toString
    val counts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val increments = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var versionsMax = 0

    def batch(i: Int): Unit = {
      val rows = DeltaGen.readBatch(in.resolve(f"batch-$i%04d.bin"))
      val ev = tr.span(spark, "codec") {
        val e = ChangeDeltaCodec.decodeRecords(
          spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), DeltaGen.recordSchema))
          .persist(StorageLevel.MEMORY_AND_DISK)
        if (tr.enabled) {
          counts("codec.records") += tr.boundary(e)
          counts("codec.bytes") += rows.map(_.getAs[Array[Byte]](2).length).sum
        }
        e
      }
      try {
        val i0 = System.nanoTime()
        tr.span(spark, "api.increment") { graft.replayIncrement(ev) }
        val incMs = (System.nanoTime() - i0) / 1e6
        // a compaction folds every version into one new base
        val after = graft.versions().size
        val compacted = after == 1
        versionsMax = math.max(versionsMax, if (compacted) Graft.AutoCompactAfter + 1 else after)
        increments += (incMs -> compacted)
        val routed = tr.span(spark, "filters") {
          val r = graft.route(ev.toDF()).filter(col("entity") =!= "IgnoreTx")
          if (tr.enabled) {
            counts("filters.rows_in") += ev.count()
            counts("filters.rows_routed") += tr.boundary(r)
          }
          r
        }
        val merged = tr.span(spark, "changeset.merge") {
          val m = Materialize.merge(Materialize.deltas(routed)); tr.boundary(m); m
        }
        val sliced = tr.span(spark, "changeset.slice") {
          val sl = Materialize.slice(merged); tr.boundary(sl); sl
        }
        tr.span(spark, "sink") { Materialize.sink(sliced, replicas) }
        tr.span(spark, "convert") {
          Formats.convert(spark, in.resolve(f"data-$i%04d.json").toString, "json",
            work.resolve(f"avro/data-$i%04d").toString, "avro")
        }
        if (tr.enabled) tr.span(spark, "trace.counters") {
          val sl = sliced.agg(count(lit(1)), sum(length(col("delta")))).head()
          counts("filters.rows_suppressed") += ev.count() -
            graft.route(ev.toDF()).count()
          counts("changeset.deltas_in") += Materialize.deltas(routed).count()
          counts("changeset.blocks_merged") += sl.getLong(0)
          counts("changeset.bytes_in") += merged.agg(sum(col("endOffset") + 1)).head().getLong(0)
          counts("changeset.bytes_out") += Option(sl.get(1)).map(_.toString.toDouble).getOrElse(0.0)
          counts("sink.files") += sliced.filter(length(col("delta")) > 0).count()
          counts("sink.bytes") += Option(sl.get(1)).map(_.toString.toDouble).getOrElse(0.0)
          counts("convert.files") += 1
          counts("convert.rows") += 200
          routed.unpersist(); merged.unpersist(); sliced.unpersist()
        }
      } finally ev.unpersist()
    }

    // ── reader thread: watermark, single-path lookup, snapshot status ─
    val stop = new AtomicBoolean(false)
    val readMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val reads = new AtomicLong(0); val readFailed = new AtomicLong(0)
    val probe = new java.util.SplittableRandom(a.seed ^ 0x5eadL)
    val reader = new Thread(() => {
      while (!stop.get()) {
        Thread.sleep(ReaderPauseMs)
        Seq[(String, () => Any)](
          "watermark" -> (() => graft.watermark()),
          "lookup" -> (() => graft.stateTable
            .filter(col("path") === EditLogGen.pathOf(probe.nextInt(files))).take(1)),
          "status" -> (() => graft.snapshotStatus().collect())
        ).foreach { case (name, q) =>
          if (!stop.get()) {
            val t0 = System.nanoTime()
            reads.incrementAndGet()
            try {
              tr.span(spark, s"api.read.$name")(q())
              readMs.synchronized {
                readMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
                  (System.nanoTime() - t0) / 1e6
              }
            } catch { case e: Exception =>
              readFailed.incrementAndGet()
              System.err.println(s"[delta] read $name failed: ${e.getMessage.take(200)}")
            }
          }
        }
      }
    }, "perfbench-reader")

    Work.mark("set up")
    batch(0) // warm-up batch, not measured
    Work.mark("warm")
    reader.start()
    val m = Work.measure(a.seconds, 2, a.trace, tr, maxUnits = nBatches - 1)(j => batch(j + 1))
    val done = 1 + m.units
    stop.set(true); reader.join()
    Work.mark("measured")

    // ── correctness ─────────────────────────────────────────────────
    val processed = batches.take(done)
    val got = graft.stateTable.collect().toSeq
    val f0 = System.nanoTime()
    val want = Fold.fold(baseEvents ++ processed.flatten)
    val foldSec = (System.nanoTime() - f0) / 1e9
    val bad = Fold.diff(got, want)
    val expected = processed.foldLeft(Map.empty[String, Array[Byte]]) { (acc, evs) =>
      val ds = evs.filter(e => DeltaGen.routed(e.path) && e.blockId >= 0 && Set(Op.AddBlock,
          Op.UpdateBlocks, Op.CloseFile, Op.TruncateBlock)(e.op))
      val deltas = ds.map(e => RangeMerge.Delta(e.blockId, e.txId, math.max(0L, e.startOffset),
        e.endOffset - 1, if (e.op == Op.TruncateBlock) RangeMerge.DeltaOp.Truncate
        else RangeMerge.DeltaOp.Append))
      val prev = ds.groupBy(_.blockId).map { case (b, es) => b -> es.map(_.prevBlockId).max }
      acc ++ Materialize.expected(deltas, prev)
    }
    val replicaBad = Materialize.replicaMismatches(replicas, expected)
    val lastSrc = in.resolve(f"data-${done - 1}%04d.json").toString
    val avroBack = Formats.Avro.read(spark, work.resolve(f"avro/data-${done - 1}%04d").toString)
    val src = spark.read.json(lastSrc)
    val avroOk = avroBack.count() == 200 &&
      src.select(avroBack.columns.toIndexedSeq.map(col): _*).exceptAll(avroBack).isEmpty
    val correct = bad.isEmpty && replicaBad == 0 && avroOk && m.failed == 0
    if (!correct) System.err.println(s"[delta] state mismatches=${bad.size} " +
      s"(e.g. ${bad.take(3)}) replica mismatches=$replicaBad avro=$avroOk " +
      s"failedBatches=${m.failed}")

    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "throughput_per_s" -> perBatch / Stats.median(m.plain),
      "latency_p50_ms" -> Stats.pct(m.plain, 0.5) * 1e3,
      "latency_p95_ms" -> Stats.pct(m.plain, 0.95) * 1e3,
      "peak_rss_mb" -> Stats.peakRssMb(),
      "read_p50_ms" -> Stats.pct(readMs.values.flatten, 0.5),
      "read_p90_ms" -> Stats.pct(readMs.values.flatten, 0.9))
    val nT = math.max(1, m.traced.size).toDouble
    val self = tr.selfSeconds
    val inc = increments.drop(1).map(_._1)
    val readLayers = readMs.toMap.map { case (n, xs) => s"api.read.${n}_ms_p50" -> Stats.median(xs) }
    val layers = counts.toMap.map { case (k, v) => k -> v / nT } ++ readLayers ++ Map(
      "codec.busy_s" -> self.getOrElse("codec", 0.0) / nT,
      "filters.busy_s" -> self.getOrElse("filters", 0.0) / nT,
      "changeset.merge_busy_s" -> self.getOrElse("changeset.merge", 0.0) / nT,
      "changeset.slice_busy_s" -> self.getOrElse("changeset.slice", 0.0) / nT,
      "sink.busy_s" -> self.getOrElse("sink", 0.0) / nT,
      "convert.busy_s" -> self.getOrElse("convert", 0.0) / nT,
      "api.increment_ms_p50" -> Stats.median(inc),
      "api.increment_ms_max" -> (if (inc.isEmpty) 0.0 else inc.max),
      "api.persist_bytes" -> Stats.dirBytes(work.resolve(s"state-${Reps - 1}")).toDouble,
      "api.versions_max" -> versionsMax.toDouble,
      "api.compactions" -> increments.count(_._2).toDouble,
      "api.compact_ms_max" -> increments.filter(_._2).map(_._1).maxOption.getOrElse(0.0),
      "api.read_failed" -> readFailed.get().toDouble,
      "state.driver_fold_events_per_s" -> (baseEvents.size + processed.map(_.size).sum) / foldSec) ++
      tally.metrics(k => k != "-" && !k.startsWith("api.read")).map { case (k, v) => k -> v / nT } ++
      Layers.traceSummary(tr, m.traced, m.plain)
    if (a.trace) tr.writeJson(s"${a.out}.spans.json")
    Work.mark("checked")
    val res = Result(correct, m.units.toLong + reads.get(),
      m.failed.toLong + readFailed.get(), e2e, Layers.withSinkRate(layers),
      Map("batches" -> m.plain.size.toString, "traced_batches" -> m.traced.size.toString,
        "reads" -> reads.get().toString, "reads_failed" -> readFailed.get().toString,
        "compactions" -> increments.count(_._2).toString))
    spark.stop()
    res
  }
}
