package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the second relational battery (q115–q118). */
class Relational2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q115 grouping sets: levels aggregate consistently") {
    val out = Registry.queries("q115_grouping_sets")(spark, dir).collect()
    val byGid = out.groupBy(_.getLong(0))
    assert(byGid.keySet == Set(0L, 1L, 3L),
      "expected exactly the three declared grouping sets")
    val nOrders = spark.read.parquet(s"$dir/orders.parquet").count()
    // each level partitions the same order set
    for ((_, rows) <- byGid)
      assert(rows.map(_.getLong(3)).sum == nOrders)
    // status-level rows equal the sum of their leaf rows
    for (r <- byGid(1L)) {
      val leafN = byGid(0L).filter(_.getString(1) == r.getString(1))
        .map(_.getLong(3)).sum
      assert(r.getLong(3) == leafN, s"status ${r.getString(1)} level sum")
    }
    // grouped-out columns are NULL exactly per the bitmask
    assert(byGid(3L).forall(r => r.isNullAt(1) && r.isNullAt(2)))
    assert(byGid(1L).forall(r => !r.isNullAt(1) && r.isNullAt(2)))
  }

  test("q116 pivot: cells conserve the event stream") {
    val out = Registry.queries("q116_event_pivot")(spark, dir).collect()
    val events = spark.read.parquet(s"$dir/events.parquet")
    assert(out.length == events.select("user_id").distinct().count())
    val cellSum = out.map(r => (1 to 5).map(r.getLong).sum).sum
    assert(cellSum == events.count(), "pivot cells must tile the stream")
  }

  test("q117 window battery: frame semantics hold row-by-row") {
    val out = Registry.queries("q117_window_battery")(spark, dir).collect()
    assert(out.nonEmpty)
    for ((_, rows) <- out.groupBy(_.getString(2))) {
      // output order IS the window order, so linkage is checkable
      val sorted = rows.sortBy(r =>
        (r.getLong(3), r.getAs[Number](0).longValue,
          r.getAs[Number](1).longValue))
      val cs = sorted.map(_.getLong(3))
      val n = cs.length
      for ((r, i) <- sorted.zipWithIndex) {
        assert(r.getDouble(4) == (if (n == 1) 0.0 else {
          // percent_rank with a total order: rank == row position
          i.toDouble / (n - 1)
        }))
        assert(r.getDouble(5) == (i + 1).toDouble / n, "cume_dist")
        assert(r.getLong(6) >= 1 && r.getLong(6) <= 4)
        assert(r.getLong(7) == (if (i == 0) -1L else cs(i - 1)), "lag")
        assert(r.getLong(8) == (if (i == n - 1) -1L else cs(i + 1)), "lead")
        assert(r.getLong(9) == cs.head, "running first == partition head")
        if (n >= 3) assert(r.getLong(10) == cs(2), "nth_value(3)")
        assert(r.getLong(11) == cs.last, "full-frame last == partition max")
      }
    }
  }

  test("q119 unpivot: exact inverse of the pivot minus true zeros") {
    val long = Registry.queries("q119_event_unpivot")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val direct = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("user_id"), col("event_type")).count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(long == direct, "pivot∘unpivot must reproduce the long form")
  }

  test("q120 resample: spine is gapless and the trailing mean is exact") {
    val out = Registry.queries("q120_resample_ma")(spark, dir).collect()
    for ((_, rows) <- out.groupBy(_.getString(0))) {
      val sorted = rows.sortBy(_.getTimestamp(1).getTime)
      // gapless hour spine, identical span for every type
      for (w <- sorted.sliding(2) if w.length == 2)
        assert(w(1).getTimestamp(1).getTime - w(0).getTimestamp(1).getTime
          == 3600 * 1000L, "spine gap")
      val ns = sorted.map(_.getLong(2))
      assert(ns.contains(0L), "resampling must materialize an empty hour")
      for ((r, i) <- sorted.zipWithIndex) {
        val from = math.max(0, i - 2)
        val frame = ns.slice(from, i + 1)
        assert(r.getDouble(3) == frame.sum.toDouble / frame.length,
          s"ma3 at index $i")
      }
    }
    val spans = out.groupBy(_.getString(0)).values.map(_.length).toSet
    assert(spans.size == 1, "every type must share the full spine")
  }

  test("q125 salted join: MCV gate leaves the uniform key UNSALTED " +
      "(and salts only under real skew)") {
    // at gate SF the build side broadcasts (no exchange to inspect);
    // force the shuffled path a 100-TB fact-fact join would take
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = Registry.queries("q125_salted_join")(spark, dir)
      val plan = q.queryExecution.executedPlan.toString
      // l_orderkey is near-uniform, so the catalog's MCV tier must
      // flag NO hot key and the join must degrade to a PLAIN equi-join
      // — zero salt machinery on the cold path (the round-13 change:
      // the previous runtime-frequency form carried a (key, salt)
      // exchange unconditionally). The salted split under real skew is
      // pinned by SkewedJoinSpec on the sentinel-account data.
      assert(!plan.contains("__salt"),
        s"uniform keys must ride the unsalted plan:\n$plan")
      assert(plan.contains("hashpartitioning(l_orderkey"),
        s"the join must still shuffle on the key:\n$plan")
    }
  }

  test("q118 edit verify: DP ground truth on candidate pairs") {
    val out = Registry.queries("q118_edit_verify")(spark, dir).collect()
    assert(out.nonEmpty)
    val prefix = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 64).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Long = {
      val d = Array.tabulate(a.length + 1)(i => i.toLong)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j.toLong
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    for (r <- out) {
      val expected = lev(prefix(r.getLong(0)), prefix(r.getLong(1)))
      assert(r.getLong(2) == expected,
        s"pair (${r.getLong(0)},${r.getLong(1)}) distance")
      assert(r.getBoolean(3) == (expected <= 16L))
    }
    assert(out.map(_.getBoolean(3)).toSet == Set(true, false),
      "the threshold must split the candidate set to test anything")
  }
}
