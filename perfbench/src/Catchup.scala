package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.Graft
import graft.changeset.{ChangeSetAssembler, RangeMerge}
import graft.ingest.EditLogDecoder
import graft.model.{ChangeEvent, FileState, Op}
import graft.state.FileStateFSM
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Driver-side reference fold shared by the CDC workloads: the same ×4
  * rename rule as `RenameExpander`, then the FSM transition per path in
  * txId order on one thread. */
object Fold {
  def expand(ev: ChangeEvent): Seq[ChangeEvent] =
    if (ev.op == Op.RenameFile && ev.srcPath.nonEmpty) {
      val b = ev.txId * 4
      Seq(ev.copy(op = Op.DeleteFile, path = ev.srcPath, srcPath = "", sizeCents = 0, txId = b),
        ev.copy(op = Op.AddFile, srcPath = "", sizeCents = 0, txId = b + 1),
        ev.copy(op = Op.AppendFile, srcPath = "", txId = b + 2),
        ev.copy(op = Op.CloseFile, srcPath = "", sizeCents = 0, txId = b + 3))
    } else Seq(ev.copy(txId = ev.txId * 4))

  def fold(events: Iterable[ChangeEvent],
      init: Map[String, FileState] = Map.empty): Map[String, FileState] = {
    val st = mutable.HashMap.empty[String, FileState] ++= init
    events.flatMap(expand).toSeq.sortBy(_.txId).foreach { e =>
      st(e.path) = FileStateFSM.transition(st.getOrElse(e.path, FileState(e.path)), e)
    }
    st.toMap
  }

  /** Paths whose persisted state differs from the reference fold. */
  def diff(got: Seq[FileState], want: Map[String, FileState]): Seq[String] = {
    val g = got.map(s => s.path -> s.copy(blocks = s.blocks.toVector)).toMap
    val w = want.map { case (p, s) => p -> s.copy(blocks = s.blocks.toVector) }
    (g.keySet ++ w.keySet).toSeq.filter(p => g.get(p) != w.get(p)).sorted
  }
}

/** Block-range materialization shared by `catchup` and `delta`: range
  * merge per block, slice the merged range out of the block bytes, and
  * publish replica files through the block sink. */
object Materialize {
  val blockBytes = udf((id: Long, len: Long) =>
    EditLogGen.blockBytes(id, math.min(len, EditLogGen.BlockCap).toInt))

  private val mergeUdaf = udaf(RangeMerge.agg, Encoders.product[RangeMerge.Delta])

  /** Block ops (events with a block id) as range-merge deltas; the
    * delta's end offset is inclusive. */
  def deltas(events: DataFrame): DataFrame =
    events.filter(col("blockId") >= 0 && col("op").isin(Op.AddBlock,
        Op.UpdateBlocks, Op.CloseFile, Op.TruncateBlock))
      .select(col("path"), col("blockId"), col("txId"), col("prevBlockId"),
        greatest(col("startOffset"), lit(0L)).as("startOffset"),
        (col("endOffset") - 1).as("endOffset"),
        when(col("op") === Op.TruncateBlock, lit(RangeMerge.DeltaOp.Truncate))
          .otherwise(lit(RangeMerge.DeltaOp.Append)).as("dop"))

  def merge(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("blockId"))
      .agg(mergeUdaf(col("blockId"), col("txId"), col("startOffset"),
          col("endOffset"), col("dop")).as("m"),
        max(col("prevBlockId")).as("prevBlockId"),
        max_by(col("path"), col("txId")).as("path"))
      .select(col("path"), col("blockId"), col("prevBlockId"),
        col("m.startOffset").as("startOffset"), col("m.endOffset").as("endOffset"),
        col("m.deleted").as("deleted"))

  def slice(merged: DataFrame): DataFrame =
    ChangeSetAssembler.sliceChangeSets(merged
      .withColumn("content", blockBytes(col("blockId"), col("endOffset") + 1)))

  def sink(sliced: DataFrame, dir: String): Unit =
    sliced.filter(length(col("delta")) > 0)
      .select(col("blockId").as("block_id"), col("prevBlockId").as("prev_block_id"),
        col("delta").as("data"))
      .write.format(classOf[graft.sources.BlockFileSink].getName)
      .mode("append").save(dir)

  /** Expected replica bytes for the given per-block deltas, from
    * `RangeMerge.fold` on the driver. */
  def expected(deltas: Seq[RangeMerge.Delta], prev: Map[Long, Long])
      : Map[String, Array[Byte]] =
    deltas.groupBy(_.blockId).toSeq.flatMap { case (id, ds) =>
      val m = RangeMerge.fold(ds.sortBy(_.txId))
      val bytes = EditLogGen.blockBytes(id,
        math.min(m.endOffset + 1, EditLogGen.BlockCap).toInt)
      val s = math.max(0L, m.startOffset).toInt
      val e = math.min(bytes.length.toLong, m.endOffset + 1).toInt
      if (m.deleted || e <= s) None
      else Some(ChangeSetAssembler.replicaFileName(id, prev.getOrElse(id, -1L)) ->
        java.util.Arrays.copyOfRange(bytes, s, e))
    }.toMap

  def replicaMismatches(dir: String, want: Map[String, Array[Byte]]): Int = {
    val p = Paths.get(dir)
    val got: Map[String, Array[Byte]] =
      if (!Files.isDirectory(p)) Map.empty
      else {
        val st = Files.list(p)
        try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".blk"))
          .map(f => f.getFileName.toString -> Files.readAllBytes(f)).toMap
        finally st.close()
      }
    (got.keySet ++ want.keySet).count(k =>
      !(got.contains(k) && want.contains(k) &&
        java.util.Arrays.equals(got(k), want(k))))
  }
}

/** `catchup`: replay a binary edit-log backlog the way a restarting
  * agent does. Each round decodes the segments, replays them into a
  * fresh persisted base (rename fan-out + FSM), routes the events
  * through the domain filters and materializes the `returns` share. */
object Catchup {
  def run(a: Args): Result = {
    val slots = math.max(200, (4000 * a.scale).toInt)
    val nOps = math.max(2000, (20000 * a.scale).toInt)
    val segments = 10
    val work = Paths.get(a.work)
    val edits = work.resolve("edits"); Files.createDirectories(edits)

    // ── inputs (generation and self-check, untimed) ─────────────────
    val segs = EditLogGen.backlog(a.seed, slots, nOps, segments)
    segs.foreach { case (name, ops) =>
      val bytes = EditLogWriter.segment(ops)
      val back = EditLogDecoder.decodeSegment(bytes)
      require(back.forall(_.crcOk) && back == ops,
        s"edit-log writer self-check failed on $name")
      Files.write(edits.resolve(name), bytes)
    }
    val allOps = segs.flatMap(_._2)
    val inputBytes = Stats.dirBytes(edits)

    Work.mark("inputs ready")
    val (spark, _, setups) = Session.setupReps(a.work, 3) { (s, _) =>
      val g = new Graft(s, work.resolve("setup-state").toString)
      EditLogGen.filters.foreach(g.addFilter)
      g.route(s.range(1).select(lit("/data/sales/orders/x").as("path"))).count()
    }
    import spark.implicits._
    val tally = new TaskTally; spark.sparkContext.addSparkListener(tally)
    val tr = new Tracer(s"catchup-${a.seed}")
    val counts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var lastRound = ""

    def round(i: Int): Unit = {
      val dir = work.resolve(s"round-$i").toString
      val graft = new Graft(spark, s"$dir/state")
      EditLogGen.filters.foreach(graft.addFilter)
      val ev = EditLogDecoder.read(spark, edits.toString)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        tr.span(spark, "ingest") {
          val n = tr.boundary(ev)
          if (tr.enabled) {
            counts("ingest.ops") += n
            counts("ingest.bytes") += inputBytes
            counts("ingest.segments_listed") += edits.toFile.list().length
            counts("ingest.segments_read") += segments
          }
        }
        tr.span(spark, "state") { graft.replay(ev) }
        val routed = tr.span(spark, "filters") {
          val r = graft.route(ev.toDF())
          r.write.parquet(s"$dir/routed")
          spark.read.parquet(s"$dir/routed")
        }
        val share = routed.filter(col("entity") === "returns")
        val merged = tr.span(spark, "changeset.merge") {
          val m = Materialize.merge(Materialize.deltas(share))
          tr.boundary(m); m
        }
        val sliced = tr.span(spark, "changeset.slice") {
          val sl = Materialize.slice(merged); tr.boundary(sl); sl
        }
        tr.span(spark, "sink") { Materialize.sink(sliced, s"$dir/replicas") }
        if (tr.enabled) tr.span(spark, "trace.counters") {
          counts("filters.rows_in") += ev.count()
          val r = routed.groupBy().agg(count(lit(1)),
            sum(when(col("entity") =!= "IgnoreTx", 1).otherwise(0))).head()
          counts("filters.rows_routed") += r.getLong(1)
          counts("filters.rows_suppressed") += ev.count() - r.getLong(0)
          val renames = ev.filter(col("op") === Op.RenameFile).count()
          counts("state.events_in") += ev.count()
          counts("state.rename_rows") += 3 * renames
          val st = graft.stateTable.agg(count(lit(1)), sum(col("nOps"))).head()
          counts("state.keys_out") += st.getLong(0)
          counts("state.events_applied") += st.getLong(1)
          val sl = sliced.agg(count(lit(1)), sum(length(col("delta")))).head()
          counts("changeset.deltas_in") += Materialize.deltas(share).count()
          counts("changeset.blocks_merged") += merged.count()
          counts("changeset.bytes_in") += merged.agg(sum(col("endOffset") + 1)).head().getLong(0)
          counts("changeset.bytes_out") += Option(sl.get(1)).map(_.toString.toDouble).getOrElse(0.0)
          counts("sink.files") += Option(Paths.get(s"$dir/replicas").toFile.list()).map(_.count(_.endsWith(".blk"))).getOrElse(0)
          counts("sink.bytes") += Stats.dirBytes(Paths.get(s"$dir/replicas"))
          merged.unpersist(); sliced.unpersist()
        }
      } finally ev.unpersist()
      lastRound = dir
    }

    Work.mark("set up")
    round(-1) // warm-up (JIT, codegen caches), not measured
    Work.mark("warm")
    val m = Work.measure(a.seconds, 2, a.trace, tr)(round)
    Work.mark("measured")

    // ── correctness on the last round's outputs ─────────────────────
    val graft = new Graft(spark, s"$lastRound/state")
    val got = graft.stateTable.collect().toSeq
    val f0 = System.nanoTime()
    val want = Fold.fold(allOps.filter(_.crcOk).map(EditLogDecoder.toChangeEvent))
    val foldSec = (System.nanoTime() - f0) / 1e9
    val bad = Fold.diff(got, want)
    val share = spark.read.parquet(s"$lastRound/routed").filter(col("entity") === "returns")
    val d = Materialize.deltas(share)
    val deltas = d.select(col("blockId"), col("txId"), col("startOffset"),
      col("endOffset"), col("dop").as("op")).as[RangeMerge.Delta].collect().toSeq
    val prev = d.groupBy("blockId").agg(max("prevBlockId")).as[(Long, Long)].collect().toMap
    val replicaBad = Materialize.replicaMismatches(s"$lastRound/replicas",
      Materialize.expected(deltas, prev))
    val decodedAll = EditLogDecoder.read(spark, edits.toString).count()
    val correct = bad.isEmpty && replicaBad == 0 && decodedAll == allOps.size &&
      m.failed == 0 && deltas.nonEmpty
    if (!correct) System.err.println(s"[catchup] state mismatches=${bad.size} " +
      s"(e.g. ${bad.take(3)}) replica mismatches=$replicaBad decoded=$decodedAll/" +
      s"${allOps.size} failedRounds=${m.failed} deltas=${deltas.size}")

    Work.mark("checked")
    val rounds = m.plain
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "throughput_per_s" -> allOps.size / Stats.median(rounds),
      "latency_p50_ms" -> Stats.pct(rounds, 0.5) * 1e3,
      "latency_p95_ms" -> Stats.pct(rounds, 0.95) * 1e3,
      "peak_rss_mb" -> Stats.peakRssMb())
    val nT = math.max(1, m.traced.size).toDouble
    val self = tr.selfSeconds
    val layers = counts.toMap.map { case (k, v) => k -> v / nT } ++ Map(
      "ingest.busy_s" -> self.getOrElse("ingest", 0.0) / nT,
      "state.busy_s" -> self.getOrElse("state", 0.0) / nT,
      "filters.busy_s" -> self.getOrElse("filters", 0.0) / nT,
      "changeset.merge_busy_s" -> self.getOrElse("changeset.merge", 0.0) / nT,
      "changeset.slice_busy_s" -> self.getOrElse("changeset.slice", 0.0) / nT,
      "sink.busy_s" -> self.getOrElse("sink", 0.0) / nT,
      "state.driver_fold_events_per_s" -> allOps.size / foldSec) ++
      tally.metrics(_ != "-").map { case (k, v) => k -> v / nT } ++
      Layers.traceSummary(tr, m.traced, m.plain)
    val res = Result(correct, allOps.size.toLong * m.units, m.failed.toLong * allOps.size,
      e2e, Layers.withSinkRate(layers),
      Map("rounds" -> m.plain.size.toString, "traced_rounds" -> m.traced.size.toString))
    if (a.trace) tr.writeJson(s"${a.out}.spans.json")
    spark.stop()
    res
  }
}
