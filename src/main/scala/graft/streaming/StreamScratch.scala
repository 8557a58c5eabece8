package graft.streaming

import org.apache.spark.sql.SparkSession

/** Scratch-directory scope for the streaming gate queries (q63 / q72 /
  * q77): stage inputs, run the stream, read the result back — and
  * delete the staged corpus + sink + checkpoint even when the stream
  * or the read-back THROWS, so a failed run never leaks a copy of the
  * event log under /tmp.
  *
  * CLUSTER-SAFE ROOT: `spark.graft.scratchDir` names a shared
  * (DFS/object-store) base every executor can reach — each scope then
  * gets a fresh unique subdirectory there, created and deleted through
  * the Hadoop FileSystem for that scheme. Unset (the default), scopes
  * live in a driver-local temp dir, which is only correct on
  * `local[*]`; on a real cluster executors cannot reach the driver's
  * /tmp, so deployments MUST set the conf (same pattern as
  * [[graft.util.Pin.DirKey]]). ScratchDirContractSpec runs a full gate
  * with both this root and [[GateOut]]'s on `mocks3://`. */
object StreamScratch {
  val ScratchKey = "spark.graft.scratchDir"
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def withScratch[T](prefix: String)(body: String => T)(
      implicit spark: SparkSession): T = {
    val tmp = spark.conf.getOption(ScratchKey) match {
      case None => java.nio.file.Files.createTempDirectory(prefix).toString
      case Some(base) =>
        val p = new org.apache.hadoop.fs.Path(base,
          prefix + java.util.UUID.randomUUID().toString)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
        p.toString
    }
    try body(tmp)
    finally {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(tmp), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
  }

  /** Scope the RocksDB state-store provider (required by
    * `transformWithState`) to one query on a SHARED session: the
    * previous provider — including "unset" — is restored on exit, so a
    * gate can never silently re-provider every later streaming query in
    * the same bench/verify session (the q129 contract,
    * factored out so every transformWithState gate uses it). */
  def withRocksDb[T](s: SparkSession)(body: => T): T =
    graft.GraftSession.withConf(s, ProviderKey -> RocksDbProvider)(body)
}

/** Caller-owned RESULT area for the streaming gates. A gate's final
  * result must outlive its scratch scope ([[StreamScratch.withScratch]]
  * deletes the staged input + checkpoint + sink on exit), but routing
  * it through the driver (`collect` + rebuild-a-local-DataFrame) makes
  * the gate's return path O(result) in driver memory — the one shape a
  * 100×-scale run would trip over even when the operator itself is
  * fully distributed. Instead the result lands HERE: either written
  * once by the stream's own file sink (point the sink at [[dir]]) or
  * by one distributed write ([[persist]]), and the gate returns a lazy
  * reader — result bytes move executor→FS→executor, never through the
  * driver. The area is deleted at JVM exit, not at gate exit.
  *
  * CLUSTER-SAFE ROOT: `spark.graft.gateDir` names a shared
  * (DFS/object-store) base; this JVM's results then live in a unique
  * subdirectory there, managed through that scheme's Hadoop FileSystem
  * and still deleted at JVM exit. Unset (the default), the area is a
  * driver-local temp dir — correct only on `local[*]`; cluster
  * deployments MUST set the conf. */
object GateOut {
  import org.apache.spark.sql.DataFrame
  val DirKey = "spark.graft.gateDir"
  private val counter = new java.util.concurrent.atomic.AtomicLong(0)
  /** One managed per-JVM subroot per configured base (the conf can in
    * principle differ between sessions sharing this JVM). */
  private val managed =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val localRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_gate_out_")
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      del(d.toFile)
    }
    d.toString
  }
  private def rootFor(s: SparkSession): String =
    s.conf.getOption(DirKey) match {
      case None => localRoot
      case Some(base) => managed.computeIfAbsent(base, { b =>
        val p = new org.apache.hadoop.fs.Path(b,
          "gate_out_" + java.util.UUID.randomUUID().toString)
        val hc = s.sparkContext.hadoopConfiguration
        p.getFileSystem(hc).mkdirs(p)
        sys.addShutdownHook {
          p.getFileSystem(hc).delete(p, true); ()
        }
        p.toString
      })
    }
  /** A fresh, unique result directory (not yet created) — hand it to a
    * stream's parquet file sink as the output path while the checkpoint
    * stays in scratch; the sink's one write IS the materialization. */
  def dir()(implicit s: SparkSession): String =
    s"${rootFor(s)}/r${counter.incrementAndGet()}"
  /** One distributed write of `df` into a fresh result dir; returns the
    * lazy read-back. For results computed FROM scratch-resident state
    * (versioned-maintenance tables, per-batch pair logs) rather than
    * written directly by a sink. */
  def persist(df: DataFrame): DataFrame = {
    val d = dir()(df.sparkSession)
    df.write.mode("overwrite").parquet(d)
    df.sparkSession.read.parquet(d)
  }
}

/** The streaming MAINTENANCE device shared by q77 (top-k) and q80
  * (additive aggregates): stage a table as JSON-line files, replay one
  * file per micro-batch, and fold each batch into a `batch=<id>`
  * VERSION of the maintained state — idempotent under retry because a
  * replayed batch recomputes its version from unchanged inputs
  * (state(id−1) + batch(id)). The caller supplies only the fold;
  * staging, replay, versioning, and last-version discovery live here
  * once, so a fix to the device reaches every maintained structure. */
object VersionedMaintenance {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, from_json, max}

  /** @param jsonRows one-string-column (`value`) frame of JSON lines
    * @param schema   parsed record schema
    * @param fold     (previous state version if any, new batch) → next
    *                 state version
    * @return the final state version */
  def run(tmp: String, jsonRows: DataFrame,
      schema: org.apache.spark.sql.types.StructType, nFiles: Int = 4)(
      fold: (Option[DataFrame], DataFrame) => DataFrame)(
      implicit s: SparkSession): DataFrame = {
    jsonRows.repartition(nFiles, col("value"))
      .write.mode("overwrite").text(s"$tmp/in")
    val cols = schema.fieldNames.toSeq
    val stream = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$tmp/in")
      .select(from_json(col("value"), schema).as("d"))
      .select(cols.map(c => col(s"d.$c").as(c)): _*)
    val query = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/chk")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val prev =
          if (id == 0) None
          else Some(batch.sparkSession.read
            .parquet(s"$tmp/state/batch=${id - 1}"))
        fold(prev, batch)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/state/batch=$id")
        ()
      }
      .start()
    query.awaitTermination()
    // bounded collect: one scalar (the last version id)
    val last = s.read.parquet(s"$tmp/state").agg(max(col("batch")))
      .collect()(0).getInt(0)
    s.read.parquet(s"$tmp/state/batch=$last")
  }
}

/** The ORDERED SLICE REPLAY device shared by the stream-gate queries
  * (q130 / q139 / q145 / q158): stage a (value, slice) frame as one
  * file per slice with mod-times in slice order — the file source then
  * replays them as in-order micro-batches, which is the premise every
  * watermark-correctness argument in those gates rests on. One
  * partitioned write stages all slices (repartition on the slice key
  * puts each slice wholly in one task, so `slice=i` holds exactly one
  * part file — the helper owns the repartition so that premise cannot
  * drift); the rename+mod-time loop just moves files into replay
  * order. Optional sentinel blobs become files AFTER the real slices.
  * A fix to this device reaches every stream gate at once. */
object SliceReplay {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col

  /** @param sliced    frame with a `value` string column and a `slice`
    *                  long column in [0, nSlices)
    * @param sentinels raw file contents appended after the last slice,
    *                  in order
    * @return the staged input directory for `readStream.text` */
  def stage(tmp: String, sliced: DataFrame, nSlices: Int,
      sentinels: Seq[String] = Nil)(implicit s: SparkSession): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(tmp), s.sparkContext.hadoopConfiguration)
    sliced.repartition(nSlices, col("slice"))
      .write.mode("overwrite").partitionBy("slice").text(s"$tmp/staged")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/in"))
    for (i <- 0 until nSlices) {
      val glob = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/staged/slice=$i/part-*"))
      if (glob.nonEmpty) { // a slice can be empty at tiny scales
        val dst = new org.apache.hadoop.fs.Path(s"$tmp/in/slice-$i.txt")
        fs.rename(glob.head.getPath, dst)
        fs.setTimes(dst, 1000L * (i + 1), -1)
      }
    }
    for ((blob, j) <- sentinels.zipWithIndex) {
      val p = new org.apache.hadoop.fs.Path(s"$tmp/in/sentinel-$j.txt")
      val os = fs.create(p)
      os.write(blob.getBytes("UTF-8"))
      os.close()
      fs.setTimes(p, 1000L * (nSlices + 1 + j), -1)
    }
    s"$tmp/in"
  }
}

/** Conf save/restore shared by the stateful stream gates: pin few
  * shuffle/state partitions (hundreds of keys of state) and the
  * HDFS-backed state store provider (q124/q129 leave the session on
  * RocksDB, which transformWithState requires but which costs a
  * per-store instantiation these small gates would pay hundreds of
  * times), restoring both even when the body throws.
  *
  * SINGLE-THREADED PER SESSION: the save/set/restore window mutates
  * session-global conf, so two gates running concurrently on one
  * SparkSession would race and leak the pinned values. The gate
  * batteries (Verify/Bench/specs) run queries sequentially per
  * session; if parallel query execution is ever introduced, gates
  * must either serialize around this helper or move to
  * `SparkSession.newSession()` per gate. */
object StreamConfs {
  def withHdfsStateStore[T](s: SparkSession, partitions: String = "8")(
      body: => T): T =
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> partitions,
      StreamScratch.ProviderKey -> ("org.apache.spark.sql.execution." +
        "streaming.state.HDFSBackedStateStoreProvider"))(body)
}
