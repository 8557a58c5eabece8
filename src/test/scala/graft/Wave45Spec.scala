package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HilbertIndex2

/** Referees for wave 45: the range-scan pruning against a single-node
  * layout replica (soundness + a real pruning win), and the walks
  * against an independently-replayed deterministic walker. */
class Wave45Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q287 prunes soundly (pruned == full) and skips most files on clustered data") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_w45a_").toString
    val rng = new scala.util.Random(29)
    val rows = (1 to 5000).map { i =>
      (i.toLong, rng.nextInt(1000).toLong + 1L,
        rng.nextInt(400).toLong + 1L, 1, 1.0)
    }
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")

    val pkMx = rows.map(_._2).max; val skMx = rows.map(_._3).max
    val (lo1, hi1) = (pkMx * 20 / 100, pkMx * 30 / 100)
    val (lo2, hi2) = (skMx * 40 / 100, skMx * 60 / 100)
    val fullMatch = rows.count { case (_, p, s, _, _) =>
      p >= lo1 && p <= hi1 && s >= lo2 && s <= hi2
    }.toLong

    val got = Registry.queries("q287_hilbert_range_scan")(spark, tmp)
      .collect()
    assert(got.length == 64)
    val pruned = got.head.getAs[Long]("rows_in_rect_pruned")
    val full = got.head.getAs[Long]("rows_in_rect_full")
    val scanned = got.head.getAs[Long]("files_scanned")
    assert(full == fullMatch, s"full=$full want=$fullMatch")
    assert(pruned == full) // zone-map pruning soundness
    assert(scanned < 32, s"expected a real pruning win, scanned=$scanned")
    // every unscanned file reports zero matches (the box test is safe)
    for (r <- got if !r.getAs[Boolean]("scanned"))
      assert(r.getAs[Long]("n_match") == 0L)
    // replica cross-check of the per-file assignment itself
    def xy(p: Long, s: Long) =
      (p * 65536L / (pkMx + 1), s * 65536L / (skMx + 1))
    val sorted = rows.map { case (_, p, s, _, _) =>
      val (x, y) = xy(p, s); (HilbertIndex2.xy2d(x, y), p, s)
    }.sortBy(t => (t._1, t._2, t._3))
    val n = sorted.size
    val nRowsByFile = sorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 64L / n }
      .map { case (f, xs) => f -> xs.size.toLong }
    for (r <- got)
      assert(r.getAs[Long]("n_rows") ==
        nRowsByFile(r.getAs[Long]("file")))
  }

  test("q288 equals an independently replayed deterministic walker") {
    import spark.implicits._
    graft.ops.graph.CoPurchase.invalidateStrongEdges()
    val tmp = java.nio.file.Files.createTempDirectory("graft_w45b_").toString
    val rng = new scala.util.Random(31)
    // co-purchase fixture: 40 orders x 4 parts from a 30-part pool,
    // dense enough that support-2 edges exist
    val li = (1 to 40).flatMap { o =>
      rng.shuffle((1 to 30).toList).take(4)
        .map(p => (o.toLong, p.toLong, 1L, 1, 1.0))
    }
    li.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")

    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h48(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).take(12), 16)

    // NOTE: .collect{...=> pair} on a Map would REBUILD a Map and
    // silently dedupe by the pair's first element — filter+keys keeps
    // the full edge set
    val pairs = li.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).filter(_._2.size >= 2).keys
    val adj = (pairs.toSeq ++ pairs.toSeq.map(_.swap))
      .groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSeq }
    def next(t: Int, v: Long): Long =
      adj(v).minBy(w => (h48(s"t$t|$v|$w"), w))
    val want = adj.keys.toSeq.sorted.map { n0 =>
      val n1 = next(1, n0); val n2 = next(2, n1)
      val n3 = next(3, n2); val n4 = next(4, n3)
      (n0, n1, n2, n3, n4)
    }
    assert(want.nonEmpty, "fixture produced no support-2 edges")
    val got = Registry.queries("q288_random_walks")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    assert(got == want.toList, s"got=${got.take(5)}… want=${want.take(5)}…")
    graft.ops.graph.CoPurchase.invalidateStrongEdges()
  }
}
