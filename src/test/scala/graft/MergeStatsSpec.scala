package graft

import graft.ops.StatsPlanner
import graft.ops.StatsPlanner.{Bucket, ColStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q320's tolerance gate (round-12 verdict stretch #8): the merged
  * histogram must stand in for a full recompute — estimates within
  * the equi-depth error budget — and the merge must preserve the
  * catalog invariants (exact total, non-decreasing bounds, exact
  * counts on disjoint domains). The merge ARITHMETIC itself is
  * oracle-gated by q320; this spec bounds the quality. */
class MergeStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"
  private val B = 16

  private def ev = Tables.load(spark, dir, "events").select(
    expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"),
    col("event_id").as("eid"))

  test("merged estimates track the full recompute within the equi-depth budget") {
    val base = ev.filter(pmod(col("eid"), lit(10)) =!= 0)
    val delta = ev.filter(pmod(col("eid"), lit(10)) === 0)
    val hBase = StatsPlanner.analyze(base, "vc", B)
    val hDelta = StatsPlanner.analyze(delta, "vc", B)
    val merged = ColStats(hBase.n + hDelta.n,
      StatsPlanner.mergeHistograms(hBase.buckets, hDelta.buckets, B))
    val full = StatsPlanner.analyze(ev, "vc", B)
    assert(merged.n == full.n, "merge must preserve the exact total")
    val mm = ev.agg(min(col("vc")), max(col("vc"))).collect().head
    val (vmin, vmax) = (mm.getLong(0), mm.getLong(1))
    for (j <- 1 to 9) {
      val t = vmin + j * (vmax - vmin) / 10
      val em = merged.estimateGt(t)
      val ef = full.estimateGt(t)
      val ppm = math.abs(em - ef) * 1000000L / full.n
      // each histogram is exact to one bucket (62500 ppm at B=16);
      // the merge stacks two of them
      assert(ppm <= 125000L, s"probe $j (t=$t): merged=$em full=$ef ppm=$ppm")
    }
  }

  test("merged buckets keep the catalog invariants") {
    val hA = StatsPlanner.analyze(
      ev.filter(pmod(col("eid"), lit(2)) === 0), "vc", B)
    val hB = StatsPlanner.analyze(
      ev.filter(pmod(col("eid"), lit(2)) =!= 0), "vc", B)
    val m = StatsPlanner.mergeHistograms(hA.buckets, hB.buckets, B)
    assert(m.map(_.n).sum == hA.n + hB.n)
    assert(m.forall(b => b.lo <= b.hi))
    // non-decreasing bounds — the equi-depth invariant (the round-12
    // advisory's corrected form)
    for (Seq(a, b) <- m.sliding(2))
      assert(a.lo <= b.lo && a.hi <= b.hi, s"$a !<= $b")
    // equal-mass cuts: every bucket within one of the ideal depth
    val ideal = (hA.n + hB.n) / B
    assert(m.forall(b => math.abs(b.n - ideal) <= 1), m.toString)
  }

  test("disjoint domains merge exactly") {
    // two synthetic single-bucket histograms over disjoint ranges:
    // any threshold between the domains must split them exactly
    val a = Seq(Bucket(0L, 100L, 1000L))
    val b = Seq(Bucket(1000L, 1100L, 3000L))
    val m = ColStats(4000L, StatsPlanner.mergeHistograms(a, b, 8))
    assert(m.estimateGt(500L) == 3000L, m.buckets.toString)
    assert(m.estimateGt(1100L) == 0L)
    assert(m.buckets.map(_.n).sum == 4000L)
    // all mass above the gap really sits in [1000, 1100]
    assert(m.buckets.filter(_.lo >= 1000L).map(_.n).sum == 3000L)
  }

  test("self-merge doubles every estimate exactly") {
    val h = StatsPlanner.analyze(ev, "vc", B)
    val m = ColStats(2 * h.n,
      StatsPlanner.mergeHistograms(h.buckets, h.buckets, B))
    val mm = ev.agg(min(col("vc")), max(col("vc"))).collect().head
    val (vmin, vmax) = (mm.getLong(0), mm.getLong(1))
    for (j <- 1 to 9) {
      val t = vmin + j * (vmax - vmin) / 10
      val em = m.estimateGt(t)
      val eh = h.estimateGt(t)
      // same shape, doubled mass: within one merged-bucket depth
      assert(math.abs(em - 2 * eh) <= 2 * h.n / B + 2,
        s"t=$t merged=$em 2x=$eh")
    }
  }

  test("mass guard forces a re-export when a hot value cracked neither " +
      "top-K (round-13 ask #8)") {
    import spark.implicits._
    // value 99 is the HOTTEST overall (18 rows) but each half ranks
    // four different values (10 rows each) above its 9 — the exact
    // blind spot mergeStatsExports documents: the plain merge loses it
    val half = (keys: Seq[Long]) =>
      (keys.flatMap(k => Seq.fill(10)(k)) ++ Seq.fill(9)(99L))
        .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "p")
    val a = half(Seq(1L, 2L, 3L, 4L))
    val b = half(Seq(5L, 6L, 7L, 8L))
    val sa = StatsPlanner.exportStats(a, "k", B, 4)
    val sb = StatsPlanner.exportStats(b, "k", B, 4)
    // the unguarded fold misses the hot value
    val plain = StatsPlanner.mergeStatsExports(sa, sb, "k", B, 4)
    assert(!StatsPlanner.mcvFromStats(plain, "k")._2.exists(_.v == 99L),
      "precondition: the plain merge must exhibit the documented blind spot")
    // the guarded fold detects the demoted mass and re-exports
    val (guarded, reExported) = StatsPlanner.mergeStatsBounded(
      sa, sb, "k", merges = 0,
      full = () => StatsPlanner.exportStats(a.unionAll(b), "k", B, 4))
    assert(reExported, "mass guard must fire on the lost-hot-value shape")
    val (n, mcv) = StatsPlanner.mcvFromStats(guarded, "k")
    assert(n == 98L)
    assert(mcv.headOption.map(_.v).contains(99L),
      s"re-export must surface the hot value: $mcv")
    // and a self-shaped fold (no demotion) stays incremental
    val (inc, reExported2) = StatsPlanner.mergeStatsBounded(
      sa, sa, "k", merges = 0,
      full = () => fail("guard must not fire on a mass-preserving fold"))
    assert(!reExported2)
    assert(StatsPlanner.fromStatsTable(inc, "k").n == 98L)
    // the merge budget fires regardless of mass
    val (_, reExported3) = StatsPlanner.mergeStatsBounded(
      sa, sa, "k", merges = 8,
      full = () => StatsPlanner.exportStats(a.unionAll(a), "k", B, 4))
    assert(reExported3, "merge budget must force the periodic re-export")
  }

  test("incrementalStats export feeds the skew planner end to end") {
    import spark.implicits._
    // sentinel skew in the BASE only; the delta slice is uniform —
    // the merged MCV tier must still flag the sentinel
    val base = (1 to 4000).map(i => (if (i % 4 == 0) 1L else i.toLong, i.toLong))
      .toDF("k", "p")
    val delta = (1 to 400).map(i => (i.toLong + 10000L, i.toLong))
      .toDF("k", "p")
    val oldStats = StatsPlanner.exportStats(base, "k", B, 4)
    val mergedStats = StatsPlanner.mergeStatsExports(oldStats,
      StatsPlanner.exportStats(delta, "k", B, 4), "k", B, 4)
    val (n, mcv) = StatsPlanner.mcvFromStats(mergedStats, "k")
    assert(n == 4400L)
    val hot = mcv.filter(_.n > n / 10L).map(_.v)
    assert(hot == Seq(1L), s"mcv=$mcv")
  }
}
