package graft.util

import org.apache.spark.sql.Dataset

/** Lineage-truncation point for iterative and multiply-consumed plans
  * (PageRank rounds, connected-components star steps, posting-list
  * builds, registry compactions). Each round's plan would otherwise
  * nest the previous round's, growing the DAG without bound — the
  * classic iterative-Spark failure.
  *
  * Two modes, selected by `spark.graft.reliableCheckpoint`:
  *
  *  - `false` (default): `localCheckpoint(eager)` — blocks live on
  *    executor local storage. Fastest (no DFS round-trip), correct on
  *    `local[*]` and short cluster jobs, but NOT fault-tolerant: one
  *    executor loss discards its blocks and kills the job.
  *  - `true`: reliable `checkpoint(eager)` to the directory named by
  *    `spark.graft.checkpointDir` (point it at DFS on a cluster; a
  *    temp dir is created when unset, which keeps local runs working
  *    but is only as durable as that disk). Each pin costs one
  *    distributed write + read, and the job survives executor loss —
  *    the right trade for long iterative jobs at 100-TB scale, where
  *    losing round 29 of 30 to a preempted executor costs more than
  *    every checkpoint write combined.
  *
  * Semantics are otherwise identical (both truncate lineage and
  * materialize eagerly), so operators call [[Pin.apply]] and stay
  * agnostic; CheckpointModeSpec pins result-equality across modes. */
object Pin {
  val FlagKey = "spark.graft.reliableCheckpoint"
  val DirKey = "spark.graft.checkpointDir"

  def apply[T](df: Dataset[T]): Dataset[T] = {
    val s = df.sparkSession
    val reliable =
      s.conf.getOption(FlagKey).exists(_.trim.equalsIgnoreCase("true"))
    val ck =
      if (!reliable) df.localCheckpoint(eager = true)
      else {
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(s.conf.getOption(DirKey).getOrElse(
            java.nio.file.Files.createTempDirectory("graft_chk_").toString))
        df.checkpoint(eager = true)
      }
    capStats(ck)
  }

  /** Deterministic release of a pinned generation. Iterative loops
    * used to call `Dataset.unpersist`, which frees CACHE-MANAGER
    * entries but not the RDD-level blocks a local checkpoint holds —
    * those waited on the GC-driven ContextCleaner, i.e. dead
    * generations lingered until memory pressure happened to trigger a
    * collection (the q270 sf10 failure shape). This walks the plan to
    * the materialized `LogicalRDD` and unpersists the RDD itself; the
    * `Dataset.unpersist` call stays for reliable-checkpoint frames
    * that ARE cache-manager entries. */
  def release(ds: Dataset[_], blocking: Boolean = false): Unit = {
    ds.unpersist(blocking)
    org.apache.spark.sql.GraftSqlInternal.unpersistPinned(ds, blocking)
  }

  /** Row count past which iterative-loop pins go DISK_ONLY: two
    * MEMORY_AND_DISK generations of a ~240M-row frame exhaust a
    * 64 GiB heap mid-materialization (the q270 sf10 failure, measured
    * rounds 12-13). Every rung up to sf1 (≈2.4M directed edges on the
    * graph queries) stays on the fast in-memory path. Shared by every
    * iterative loop (q270 peel, q243 k-core, connected
    * components, PageRank) so the OOM class is retired once, not per
    * call site. */
  val SpillRows = 50000000L

  /** [[apply]] or [[spill]], chosen by a MEASURED row count — the
    * caller passes the size of the frame family it is about to pin
    * repeatedly (typically one cheap `count()` on an already-pinned
    * parent). Keeps small graphs on in-memory pins and routes
    * beyond-memory generations to disk. */
  def sized[T](rows: Long)(df: Dataset[T]): Dataset[T] =
    if (rows > SpillRows) spill(df) else apply(df)

  /** [[apply]] with DISK_ONLY block storage — for frames too large to
    * pin in block-store memory. The default local checkpoint holds
    * MEMORY_AND_DISK blocks: materializing generation N+1 while
    * generation N still occupies the heap is exactly how q270's sf10
    * peel (239M-row symmetric edge list) exhausted a 64 GiB driver
    * twice (rounds 12-13, OOM mid-materialization in the read-ahead
    * path). DISK_ONLY blocks stream from executor-local disk, the
    * heap stays free for the shuffles, `unpersist()` reclaims the
    * files through the block manager (no checkpoint directory to
    * garbage-collect, unlike the reliable mode), and lineage is
    * truncated the same way. The extra read cost is the right trade
    * only once the frame outgrows memory — callers gate on measured
    * size (see q270's peel bound). */
  def spill[T](df: Dataset[T]): Dataset[T] =
    capStats(df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY))

  /** LAYOUT pin for LOOP-INVARIANT join tables (guide §2.4): pin the
    * frame hash-partitioned on `key` (sorted within partitions) and
    * RE-ADVERTISE that layout on the materialized leaf, so every
    * downstream equi-join or aggregation keyed on `key` consumes the
    * one exchange paid here instead of re-shuffling the pinned blocks
    * per iteration. A plain [[apply]] under AQE loses the child's
    * output partitioning (the final adaptive plan's partitioning is
    * unknown at checkpoint time), which is why PageRank's pinned edge
    * table was re-exchanged-and-sorted every round (measured: 20
    * Exchanges in the 3-round q137 plan).
    *
    * The declaration is TRUE BY CONSTRUCTION: the frame is
    * materialized through `repartition(numParts, key)` +
    * `sortWithinPartitions(key)` — an explicit user repartition AQE
    * never coalesces — and the rewrap points at those same blocks.
    * `rows` gates the storage level exactly like [[sized]]. */
  def layout(df: Dataset[org.apache.spark.sql.Row], key: String,
      rows: Long = 0L): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val numParts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val staged = df
      .repartition(numParts, org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(key)
    val ck = sized(rows)(staged)
    org.apache.spark.sql.GraftSqlInternal.dataFrameFromInternalRddWithLayout(
      spark, ck.queryExecution.toRdd, df.schema, key, numParts,
      sorted = true)
  }

  /** Checkpointing preserves the child plan's size-in-bytes ESTIMATE.
    * Inside an iterative join loop that estimate compounds — Catalyst's
    * size-only join stat is the BigInt PRODUCT of the children, so a
    * pinned-self-join round SQUARES it; the digit count doubles per
    * round and planning time explodes exponentially (measured: the q291
    * pointer-jump loop hit 10-million-digit estimates and 40 s/round of
    * pure driver-side BigInteger.multiply by round 20, on constant-size
    * data). A materialized pin whose inherited estimate no longer fits
    * a Long is always garbage — re-wrap the SAME checkpointed
    * RDD[InternalRow] (zero copy) as a fresh leaf with default stats.
    * Honest small estimates (broadcast decisions downstream) pass
    * through untouched. */
  private def capStats[T](ck: Dataset[T]): Dataset[T] = {
    val sz = ck.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz.isValidLong) ck
    else {
      val fresh = org.apache.spark.sql.GraftSqlInternal
        .dataFrameFromInternalRdd(ck.sparkSession,
          ck.queryExecution.toRdd, ck.schema)
      fresh.as[T](ck.encoder)
    }
  }
}
