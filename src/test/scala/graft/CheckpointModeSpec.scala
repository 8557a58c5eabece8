package graft

import org.scalatest.funsuite.AnyFunSuite

/** The iterative operators (PageRank rounds, connected-components star
  * steps, posting-list builds) truncate lineage through
  * [[graft.util.Pin]], which defaults to `localCheckpoint` (executor-
  * local blocks — fast, but one executor loss kills a cluster job) and
  * switches to reliable `checkpoint()` under
  * `spark.graft.reliableCheckpoint=true` (one distributed write per
  * round; survives executor loss — the right trade for long 100-TB
  * iterative jobs). The modes must be SEMANTICALLY invisible: this spec
  * runs the checkpoint-heavy queries in both modes and pins
  * row-identical results. */
class CheckpointModeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val checkpointHeavy = Seq(
    "q137_pagerank", // per-round lineage truncation
    "q52_dedup_clusters", // CC label propagation rounds
    "q92_cluster_canonical", // CC + canonical pick
    "q140_ngram_containment") // df-capped posting-list pin

  private def runAll(): Map[String, Seq[String]] =
    checkpointHeavy.map { q =>
      q -> Registry.queries(q)(spark, dir)
        .collect().map(_.toString).toSeq // bounded collect: sf0.001 gate rows
    }.toMap

  test("reliable-checkpoint mode returns identical rows to local mode") {
    val baseline = runAll()
    GraftSession.withConf(spark, graft.util.Pin.FlagKey -> "true") {
      val reliable = runAll()
      for (q <- checkpointHeavy)
        assert(reliable(q) == baseline(q), s"$q diverged across modes")
      // the flag really engaged: a reliable checkpoint dir was set
      assert(spark.sparkContext.getCheckpointDir.nonEmpty,
        "reliable mode never set a checkpoint dir — flag not read?")
    }
  }

  test("DISK_ONLY spill pin: identical rows, blocks on disk, reclaimed") {
    import spark.implicits._
    val df = (1 to 10000).map(i => (i.toLong, (i % 97).toLong))
      .toDF("a", "b")
    val pinned = graft.util.Pin.spill(df)
    assert(pinned.collect().sortBy(_.getLong(0)).toSeq ==
      df.collect().sortBy(_.getLong(0)).toSeq)
    // truly DISK_ONLY: the materialized blocks live on disk, none in memory
    def diskOnly() = spark.sparkContext.getRDDStorageInfo.filter(i =>
      i.storageLevel.useDisk && !i.storageLevel.useMemory &&
        i.diskSize > 0)
    assert(diskOnly().nonEmpty,
      s"expected a DISK_ONLY materialized RDD, got " +
        spark.sparkContext.getRDDStorageInfo.toSeq)
    pinned.unpersist(blocking = true)
    assert(diskOnly().nonEmpty,
      "Dataset.unpersist must NOT reach checkpoint blocks (cache-" +
        "manager only) — if this starts reclaiming, Pin.release's " +
        "rationale is stale")
    graft.util.Pin.release(pinned, blocking = true)
    assert(diskOnly().isEmpty, "Pin.release must reclaim the spilled blocks")
  }

  test("Pin.sized routes past-the-gate frames to DISK_ONLY, small ones " +
      "to memory") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, (i % 7).toLong)).toDF("a", "b")
    def diskOnlyIds() = spark.sparkContext.getRDDStorageInfo.filter(i =>
      i.storageLevel.useDisk && !i.storageLevel.useMemory &&
        i.diskSize > 0).map(_.id).toSet
    val before = diskOnlyIds()
    // under the gate: a plain in-memory pin, no new DISK_ONLY blocks
    val small = graft.util.Pin.sized(graft.util.Pin.SpillRows)(df)
    assert(small.count() == 1000)
    assert(diskOnlyIds() == before,
      "a frame at/below SpillRows must pin in memory")
    // past the gate: DISK_ONLY blocks appear, rows identical, reclaimed
    val big = graft.util.Pin.sized(graft.util.Pin.SpillRows + 1)(df)
    assert(big.collect().map(_.getLong(0)).sorted.toSeq ==
      df.collect().map(_.getLong(0)).sorted.toSeq)
    assert((diskOnlyIds() -- before).nonEmpty,
      "a frame past SpillRows must pin DISK_ONLY")
    graft.util.Pin.release(big, blocking = true)
    graft.util.Pin.release(small, blocking = true)
    assert(diskOnlyIds() == before,
      "Pin.release must reclaim the gated spill blocks")
  }
}
