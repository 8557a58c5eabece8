package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.api.Graft
import graft.filters.DomainFilters.Filter
import graft.model.{ChangeEvent, FileLifecycle => L, FileState, Mode, Op}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class GraftApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs launched while `body` runs on this thread, counted by a
    * listener. A fence job in its own group marks the end: the listener
    * bus delivers job starts in order, so once the fence is seen every
    * job of `body` has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      body
      sc.setJobGroup(s"$group-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never observed")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  /** Five files with one block each, then three incremental batches:
    * appends, a chained new block, a size update, renames (one of a
    * renamed file), a delete, a re-create, a keeping truncate and a new
    * file. */
  private val baseEvents = (0 until 5).flatMap { i =>
    val t = 10L * i + 1
    Seq(ChangeEvent(t, Op.AddFile, s"/d/f$i"),
      ChangeEvent(t + 1, Op.AddBlock, s"/d/f$i", blockId = 100L + i,
        startOffset = 0L, endOffset = 128L),
      ChangeEvent(t + 2, Op.CloseFile, s"/d/f$i"))
  }
  private val incBatches = Seq(
    Seq(ChangeEvent(101, Op.AppendFile, "/d/f0", sizeCents = 100),
      ChangeEvent(102, Op.AddBlock, "/d/f1", blockId = 200L, prevBlockId = 101L,
        startOffset = 0L, endOffset = 64L),
      ChangeEvent(103, Op.RenameFile, "/d/f2.r", srcPath = "/d/f2", sizeCents = 700)),
    Seq(ChangeEvent(201, Op.UpdateBlocks, "/d/f1", blockId = 200L,
        startOffset = 64L, endOffset = 300L, sizeCents = 50),
      ChangeEvent(202, Op.DeleteFile, "/d/f3"),
      ChangeEvent(203, Op.RenameFile, "/d/f2.rr", srcPath = "/d/f2.r", sizeCents = 700),
      ChangeEvent(204, Op.AddFile, "/d/new")),
    Seq(ChangeEvent(301, Op.CloseFile, "/d/f1"),
      ChangeEvent(302, Op.AddFile, "/d/f3"),
      ChangeEvent(303, Op.TruncateBlock, "/d/f4", blockId = 104L,
        startOffset = 0L, endOffset = 64L),
      ChangeEvent(304, Op.CloseFile, "/d/new", sizeCents = 900)))

  private def byPath(g: Graft): Map[String, FileState] =
    g.stateTable.collect().map(st => st.path -> st).toMap

  test("facade: replay -> state table -> snapshot -> incremental replay -> watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_api_").toString
    val g = new Graft(spark, dir)
    g.addFilter(Filter("d1", "MOVIES", "/data/movies", ".*\\.parquet$", 1))

    val events = Seq(
      ChangeEvent(1, Op.AddFile, "/data/movies/p1.parquet"),
      ChangeEvent(2, Op.AppendFile, "/data/movies/p1.parquet", sizeCents = 400),
      ChangeEvent(3, Op.CloseFile, "/data/movies/p1.parquet"),
      ChangeEvent(4, Op.AddFile, "/data/other/x.csv"),
      ChangeEvent(5, Op.RenameFile, "/data/movies/p2.parquet",
        srcPath = "/data/other/x.csv")).toDS()
    g.replay(events)

    val st = g.stateTable.collect().map(s0 => s0.path -> s0).toMap
    assert(st("/data/movies/p1.parquet").state == L.Finalized)
    assert(st("/data/other/x.csv").state == L.Deleted) // rename fan-out ran
    assert(st("/data/movies/p2.parquet").state == L.Finalized)
    assert(g.watermark() == 5 * 4 + 3) // ×4 sub-tx grid

    val snap = g.snapshot(asOfTxId = 100).collect()
    // only live files matching the filter; dest of the rename included
    assert(snap.map(_.path).sorted.toSeq ==
      Seq("/data/movies/p1.parquet", "/data/movies/p2.parquet"))
    assert(snap.forall(e => e.mode == Mode.Snapshot && e.op == Op.CloseFile))

    val status = g.snapshotStatus().collect()
    assert(status.length == 1 && status(0).getLong(2) == 2)

    // incremental: delete p1 on top of persisted state
    g.replayIncrement(Seq(
      ChangeEvent(50, Op.DeleteFile, "/data/movies/p1.parquet")).toDS())
    val st2 = g.stateTable.collect().map(s0 => s0.path -> s0).toMap
    assert(st2("/data/movies/p1.parquet").state == L.Deleted)
    assert(st2("/data/movies/p2.parquet").state == L.Finalized) // untouched
    assert(g.snapshot(200).collect().map(_.path).toSeq ==
      Seq("/data/movies/p2.parquet"))
  }

  test("incremental persistence: deltas carry only touched paths; versions accumulate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_").toString
    val g = new Graft(spark, dir)
    val paths = (0 until 50).map(i => s"/data/f$i")
    g.replay(paths.zipWithIndex.map { case (p, i) =>
      ChangeEvent(i + 1, Op.AddFile, p)
    }.toDS())
    assert(g.versions() == Seq(0L))

    // 3 incremental batches, each touching ONE file
    (0 until 3).foreach { b =>
      g.replayIncrement(Seq(
        ChangeEvent(1000 + b, Op.CloseFile, s"/data/f$b")).toDS())
    }
    assert(g.versions() == Seq(0L, 1L, 2L, 3L))
    // delta versions are single-row tables — the world was NOT rewritten
    (1L to 3L).foreach { v =>
      assert(spark.read.parquet(s"$dir/files_v$v").count() == 1L,
        s"delta v$v should contain only the touched path")
    }
    val st = g.stateTable.collect().map(s0 => s0.path -> s0.state).toMap
    assert(st.size == 50)
    assert((0 until 3).forall(i => st(s"/data/f$i") == L.Finalized))
    assert((3 until 50).forall(i => st(s"/data/f$i") == L.New))

    // compaction folds everything into one base, same contents
    g.compact()
    assert(g.versions() == Seq(4L))
    val st2 = g.stateTable.collect().map(s0 => s0.path -> s0.state).toMap
    assert(st2 == st)
  }

  test("crash between write and commit leaves the previous version readable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_").toString
    val g = new Graft(spark, dir)
    g.replay(Seq(ChangeEvent(1, Op.AddFile, "/a")).toDS())
    assert(g.watermark() == 4L) // ×4 rename sub-tx grid

    // simulate a crashed writer: a files_v1 dir with data but NO _SUCCESS
    val crashed = new java.io.File(s"$dir/files_v1")
    Seq(ChangeEvent(99, Op.AddFile, "/ghost")).toDS()
      .toDF().write.parquet(crashed.toString)
    new java.io.File(crashed, "_SUCCESS").delete()

    // readers skip the uncommitted version entirely
    assert(g.versions() == Seq(0L))
    assert(g.stateTable.collect().map(_.path).toSeq == Seq("/a"))

    // ...and the next committed write lands in a FRESH version dir
    // (v2 — never reusing or overwriting the crashed v1)
    g.replayIncrement(Seq(ChangeEvent(2, Op.CloseFile, "/a")).toDS())
    assert(g.versions() == Seq(0L, 2L))
    assert(g.stateTable.collect().map(s0 => s0.path -> s0.state).toMap
      == Map("/a" -> L.Finalized))
  }

  test("1000-file namespace: 12 incremental batches write ~12 rows total, not 12000") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_").toString
    val g = new Graft(spark, dir)
    g.replay((0 until 1000).map(i =>
      ChangeEvent(i + 1, Op.AddFile, s"/ns/f$i")).toDS())
    (0 until 12).foreach { b =>
      g.replayIncrement(Seq(
        ChangeEvent(5000 + b, Op.AppendFile, s"/ns/f$b", sizeCents = 100)).toDS())
    }
    // auto-compaction kicked in (AutoCompactAfter = 8), so the version
    // chain stays bounded while the merged view stays correct
    assert(g.versions().size <= Graft.AutoCompactAfter + 1)
    val st = g.stateTable.collect()
    assert(st.length == 1000)
    assert(st.count(_.state == L.Updating) == 12)
    assert(g.watermark() == (5000L + 11L) * 4) // ×4 rename sub-tx grid
  }

  test("building stateTable over 3+ committed versions launches no Spark job") {
    import spark.implicits._
    val g = new Graft(spark, tmpDir("graft_jobs_"))
    g.replay(baseEvents.toDS())
    incBatches.take(2).foreach(b => g.replayIncrement(b.toDS()))
    assert(g.versions().size == 3)
    assert(jobsDuring(g.stateTable) == 0)
    assert(byPath(g).size == 8)
  }

  test("versions resolve by each file's own dir when stateDir contains files_v9/") {
    import spark.implicits._
    val root = tmpDir("graft_v9_")
    val g = new Graft(spark, s"$root/files_v9/store")
    g.replay((0 until 20).map(i => ChangeEvent(i + 1, Op.AddFile, s"/v/f$i")).toDS())
    g.replayIncrement((0 until 20).map(i =>
      ChangeEvent(100 + i, Op.CloseFile, s"/v/f$i")).toDS())
    g.replayIncrement((0 until 20 by 2).map(i =>
      ChangeEvent(200 + i, Op.DeleteFile, s"/v/f$i")).toDS())
    assert(g.versions() == Seq(0L, 1L, 2L))
    assert(g.stateTable.collect().map(st => st.path -> st.state).toMap ==
      (0 until 20).map(i =>
        s"/v/f$i" -> (if (i % 2 == 0) L.Deleted else L.Finalized)).toMap)
  }

  test("incremental batches with renames equal one batch replay") {
    import spark.implicits._
    val inc = new Graft(spark, tmpDir("graft_incr_"))
    inc.replay(baseEvents.toDS())
    incBatches.foreach(b => inc.replayIncrement(b.toDS()))
    val full = new Graft(spark, tmpDir("graft_full_"))
    full.replay((baseEvents ++ incBatches.flatten).toDS())
    val got = byPath(inc)
    assert(got == byPath(full))
    assert(got("/d/f2").state == L.Deleted && got("/d/f2.r").state == L.Deleted)
    assert(got("/d/f2.rr").state == L.Finalized && got("/d/f2.rr").dataSizeCents == 700)
    assert(got("/d/f1").blocks.map(_.blockId) == Seq(101L, 200L))
  }

  test("schema evolution: a version without blocks/chainKnown/nAppends reads back " +
    "with defaults and increments on it converge to a full replay") {
    import spark.implicits._
    val dir = tmpDir("graft_legacy_")
    val scratch = new Graft(spark, tmpDir("graft_legacy_src_"))
    scratch.replay(baseEvents.toDS())
    scratch.stateTable.toDF().drop("blocks", "chainKnown", "nAppends")
      .write.parquet(s"$dir/files_v0")

    val g = new Graft(spark, dir)
    val legacy = byPath(g)
    assert(legacy.size == 5)
    assert(legacy.values.forall(st =>
      st.blocks == Nil && !st.chainKnown && st.nAppends == 0L))
    val fresh = byPath(scratch)
    assert(legacy.values.forall(st => st.copy(blocks = Nil, chainKnown = true,
      nAppends = 0L) == fresh(st.path).copy(blocks = Nil, nAppends = 0L)))

    // the first delta version is written under the full schema; the
    // merged view reads the old and the new layout in one scan
    incBatches.foreach(b => g.replayIncrement(b.toDS()))
    val full = new Graft(spark, tmpDir("graft_legacy_full_"))
    full.replay((baseEvents ++ incBatches.flatten).toDS())
    // an unknown chain keeps what the legacy store never recorded
    // (block detail, append counts) unknown; everything it did record
    // converges
    def recorded(st: FileState) =
      (st.state, st.numBlocks, st.dataSizeCents, st.lastTxId, st.nOps)
    assert(byPath(g).map { case (p, st) => p -> recorded(st) } ==
      byPath(full).map { case (p, st) => p -> recorded(st) })
  }
}
