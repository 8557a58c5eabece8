package graft

import graft.ops.StatsPlanner
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CBO loop CLOSED (round-11 verdict ask #4): q314 reported
  * chosen-vs-optimal; this gate pins that [[graft.ops.StatsPlanner
  * .analyzedJoin]]'s histogram-driven decision actually REACHES the
  * executed physical plan, and that on both the skewed-tail and bulk
  * steps the decision equals the optimal-from-exact choice. */
class AnalyzedJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private def ev = Tables.load(spark, dir, "events").select(col("user_id"),
    expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
  private def cust = Tables.load(spark, dir, "customer")
    .select(col("c_custkey"), col("c_nationkey"))

  test("skewed tail: histogram chooses broadcast, plan IS BroadcastHashJoin, choice is optimal") {
    val (joined, est, plan) = StatsPlanner.analyzedJoin(ev, "vc", 24500L,
      cust, col("user_id") === col("c_custkey"))
    assert(plan == "broadcast", s"est=$est")
    // optimal-from-exact: the tail really is under the 5% budget
    val n = ev.count()
    val exact = ev.filter(col("vc") > 24500L).count()
    assert(exact <= n / 20, s"broadcast must be optimal: exact=$exact n=$n")
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), phys)
    assert(joined.count() == exact) // inner PK join preserves the fact side
  }

  test("bulk predicate: histogram chooses shuffle, plan IS SortMergeJoin, choice is optimal") {
    val (joined, est, plan) = StatsPlanner.analyzedJoin(ev, "vc", 1000L,
      cust, col("user_id") === col("c_custkey"))
    assert(plan == "shuffle", s"est=$est")
    val n = ev.count()
    val exact = ev.filter(col("vc") > 1000L).count()
    assert(exact > n / 20, s"shuffle must be optimal: exact=$exact n=$n")
    // the initial physical plan (pre-AQE) carries OUR pinned strategy —
    // at real scale AQE cannot flip this to broadcast either, because
    // the hint is on the un-broadcastable side
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("SortMergeJoin"), phys)
    assert(!phys.contains("BroadcastHashJoin"), phys)
  }

  test("catalog path: a persisted q295-shaped stats table drives the same decisions") {
    // ANALYZE once, plan many: export the histogram in the q295 shape,
    // read it back, and the decisions must equal the inline path's —
    // with ZERO fact scans at plan time.
    import spark.implicits._
    val st = StatsPlanner.analyze(ev, "vc")
    val export = st.buckets.zipWithIndex.map { case (b, i) =>
      ("vc", "hist", i.toLong, b.lo, b.hi, b.n)
    }.toDF("c", "kind", "idx", "lo", "hi", "n_rows")
      .unionByName(Seq(("vc", "mcv", 0L, 0L, 0L, 1L))
        .toDF("c", "kind", "idx", "lo", "hi", "n_rows")) // mcv rows ignored
    val dir2 = java.nio.file.Files.createTempDirectory("graft_stats_").toString
    export.write.mode("overwrite").parquet(dir2)
    val catalog = spark.read.parquet(dir2)
    val parsed = StatsPlanner.fromStatsTable(catalog, "vc")
    assert(parsed == st, "round-tripped stats must parse back exactly")
    val (j1, est1, plan1) = StatsPlanner.analyzedJoinFromStats(ev, "vc",
      24500L, cust, col("user_id") === col("c_custkey"), catalog, "vc")
    assert(plan1 == "broadcast" && est1 == st.estimateGt(24500L))
    assert(j1.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val (j2, est2, plan2) = StatsPlanner.analyzedJoinFromStats(ev, "vc",
      1000L, cust, col("user_id") === col("c_custkey"), catalog, "vc")
    assert(plan2 == "shuffle" && est2 == st.estimateGt(1000L))
    assert(j2.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
  }

  test("histogram estimate tracks exact within the straddle bucket on both steps") {
    val st = StatsPlanner.analyze(ev, "vc")
    assert(st.n == ev.count())
    // bucket counts partition the table and bounds are NON-DECREASING
    // in both endpoints (the equi-depth invariant — adjacent buckets
    // may share only a straddling boundary VALUE; round-12 advisory:
    // the old `a.hi <= b.lo || a.lo <= b.lo` was tautological)
    assert(st.buckets.map(_.n).sum == st.n)
    assert(st.buckets.sliding(2).forall {
      case Seq(a, b) => a.lo <= b.lo && a.hi <= b.hi; case _ => true })
    for (t <- Seq(24500L, 1000L)) {
      val exact = ev.filter(col("vc") > t).count()
      val est = st.estimateGt(t)
      // equi-depth error bound: at most one straddle bucket of rows
      val bucketRows = st.n / st.buckets.size + 1
      assert(math.abs(est - exact) <= bucketRows,
        s"t=$t est=$est exact=$exact bound=$bucketRows")
    }
  }
}
