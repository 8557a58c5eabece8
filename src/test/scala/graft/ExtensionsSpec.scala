package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cluster deployment path: with
  * `spark.sql.extensions=graft.functions.GraftExtensions` set at
  * context build (TestSpark sets it, the way a shared cluster passes
  * --conf), a FRESH session must expose the SQL function and plan the
  * custom operator with NO per-session registration calls. newSession()
  * rebuilds SessionState from the extensions, so it proves the
  * injection rather than some earlier suite's manual register/ensure. */
class ExtensionsSpec extends AnyFunSuite {

  test("extensions-injected session resolves graft_dot and plans TopKPerGroup") {
    val s2 = TestSpark.spark.newSession()

    // SQL-callable custom expression, no vec.register(...) call
    val d = s2.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(d == 11.0)

    // SQL-callable custom AGGREGATE: two +1 votes on bit0 (masks 1, 3)
    // outvote nothing; bit1 splits 1-1 → negative wins → fp = 1
    val fp = s2.sql(
      "SELECT graft_simhash(m, 4) AS fp FROM VALUES (1L), (3L), (0L) t(m)")
      .collect()(0).getLong(0)
    assert(fp == 1L, s"fp=$fp")

    // SQL-callable vector-sum aggregate: element-wise over two rows
    val vs = s2.sql(
      "SELECT graft_vecsum(v, 2) AS s FROM VALUES (array(1L, 10L)), " +
        "(array(2L, 20L)) t(v)")
      .collect()(0).getSeq[Long](0)
    assert(vs == Seq(3L, 30L), s"vecsum=$vs")

    // SQL-callable KMV sketch aggregate: 3 smallest distinct values
    val kmv = s2.sql(
      "SELECT graft_kmv(h, 3) AS sk FROM VALUES (9L), (5L), (5L), " +
        "(1L), (7L), (3L) t(h)")
      .collect()(0).getSeq[Long](0)
    assert(kmv == Seq(1L, 3L, 5L), s"kmv=$kmv")

    // SQL-callable exact integer sqrt (q162's stddev device)
    val iq = s2.sql(
      "SELECT graft_isqrt(x) AS s FROM VALUES (0L), (15L), (16L), " +
        "(9223372036854775807L) t(x) ORDER BY s")
      .collect().map(_.getLong(0)).toSeq
    assert(iq == Seq(0L, 3L, 4L, 3037000499L), s"isqrt=$iq")

    // the custom logical node plans through the INJECTED strategy —
    // TopK.ensure is deliberately not called on this session
    import s2.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    val plan = graft.plans.TopKPerGroup(
      Seq(GraftBridge.eagerExpression(col("g"))),
      Seq(SortOrder(GraftBridge.eagerExpression(col("id")), Ascending)),
      1, GraftBridge.logicalPlan(df))
    val q = GraftBridge.ofRows(s2, plan)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    val got = q.orderBy(col("g")).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (3L, "b")))

    // and the optimizer rule rides along: a group filter above the
    // node is pushed below it (then ConvertToLocalRelation folds it
    // straight into the local data — so no Filter survives AND group
    // "b" is gone before the top-k runs)
    val filtered = GraftBridge.ofRows(s2, plan).filter(col("g") =!= "b")
    val optimized = filtered.queryExecution.optimizedPlan
    val filterAbove = optimized.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }
    assert(filterAbove.isEmpty, s"filter was not pushed+folded:\n$optimized")
    assert(filtered.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a")))
  }

  test("graft_kmv composes in a join: two sketch branches meet on a key") {
    val s2 = TestSpark.spark.newSession()
    import s2.implicits._
    // two keyed corpora; group g=1 has overlap {10,11}, g=2 none
    val items = Seq(
      (1L, "L", 10L), (1L, "L", 11L), (1L, "L", 12L),
      (1L, "R", 10L), (1L, "R", 11L), (1L, "R", 13L),
      (2L, "L", 20L), (2L, "R", 21L))
      .toDF("g", "side", "h")
    items.createOrReplaceTempView("kmv_join_items")
    // BIGINT literal k exercises the Long-literal builder arm
    val got = s2.sql(
      """SELECT l.g AS g, l.sk AS lsk, r.sk AS rsk,
        |  size(array_intersect(l.sk, r.sk)) AS n_common
        |FROM (SELECT g, graft_kmv(h, 4L) AS sk FROM kmv_join_items
        |      WHERE side = 'L' GROUP BY g) l
        |JOIN (SELECT g, graft_kmv(h, 4L) AS sk FROM kmv_join_items
        |      WHERE side = 'R' GROUP BY g) r ON l.g = r.g
        |ORDER BY g""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getSeq[Long](2), r.getInt(3))).toList
    assert(got == List(
      (1L, Seq(10L, 11L, 12L), Seq(10L, 11L, 13L), 2),
      (2L, Seq(20L), Seq(21L), 0)), s"got=$got")
    // a non-literal k must fail with the named-function error, not NPE
    val err = intercept[Exception] {
      s2.sql("SELECT graft_kmv(h, g) FROM kmv_join_items GROUP BY g")
        .collect()
    }
    assert(err.getMessage.contains("graft_kmv"), err.getMessage)
    // out-of-range integer literals (either width) get the dedicated
    // range error, not the constructor's bare `requirement failed`
    // and not the misleading type-mismatch message
    for (bad <- Seq("0", "65537", "0L", "99999999999L")) {
      val e = intercept[Exception] {
        s2.sql(s"SELECT graft_kmv(h, $bad) FROM kmv_join_items GROUP BY g")
          .collect()
      }
      assert(e.getMessage.contains("out of range"),
        s"k=$bad: ${e.getMessage}")
    }
  }

  test("the MinHash band table is reachable from pure SQL and matches the battery") {
    val s2 = TestSpark.spark.newSession()
    import s2.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely different text with no overlap at all"),
      (4L, "xs")) // < 3 words: banding drops it
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("docs")
    // pure SQL, via the injected graft_minhash_bands (4 bands x 2 rows
    // = the battery's planner choice at threshold 0.5)
    val viaSql = s2.sql(
      """SELECT doc_id, explode(graft_minhash_bands(text, 4, 2)) AS band
        |FROM docs""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaBattery = graft.ops.MinHash.bandTable(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSql == viaBattery,
      "SQL band keys diverged from the DataFrame battery's bandTable")
    assert(viaSql.map(_._1) == Set(1L, 2L, 3L), "short doc must drop out")
    // near-dup docs 1/2 must collide on at least one band; 3 on none
    val byBand = viaSql.groupBy(_._2).values.map(_.map(_._1)).toSet
    assert(byBand.exists(g => g == Set(1L, 2L)),
      "near-duplicates failed to share a band bucket")
    assert(!viaSql.exists { case (id, b) =>
      id == 3L && viaSql.exists(p => p._1 != 3L && p._2 == b) },
      "disjoint doc must not collide")
    // and the SQL form survives whole-stage codegen (no interpreted
    // fallback) — checked over a FILE scan: the local-table form above
    // is constant-folded away by ConvertToLocalRelation (which itself
    // proves interpreted eval), so only a real scan exercises codegen
    val plan = s2.sql("SELECT graft_minhash_bands(text, 4, 2) FROM " +
      "parquet.`/root/testdata/sf0.001/documents.parquet`")
      .queryExecution.executedPlan.toString
    // "*(1) Project [graft_minhash_bands(...)" — the starred prefix is
    // the WholeStageCodegen stage marker in the executed-plan print
    assert(plan.contains("*(1) Project [graft_minhash_bands"), plan)
  }
}
