package graft

import graft.ops.MinHash
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the seventh-wave battery (q184–q189): every
  * test recomputes the statistic with an independent driver-side brute
  * force (the tables are tiny at sf0.001) or checks a conservation /
  * monotonicity law the implementation cannot satisfy by accident. */
class Wave7Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q184 nDCG: matches a driver-side brute force, bounded by 1") {
    val out = Registry.queries("q184_ndcg")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("dcg_milli"), r.getAs[Long]("idcg_milli"),
          r.getAs[Long]("ndcg_ppm"))).toMap
    val log2m = Seq(1000000L, 1584962L, 2000000L, 2321928L, 2584962L,
      2807354L, 3000000L, 3169925L, 3321928L, 3459431L)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_chars")))
    val bySrc = docs.groupBy(_._1)
    assert(out.keySet == bySrc.keySet, "one row per source")
    for ((src, rows) <- bySrc) {
      def dcg(gains: Seq[Long]): Long =
        gains.take(10).zip(log2m).map { case (g, l) => g * 1000000L / l }.sum
      def gain(id: Long): Long = (1L << (id % 4).toInt) - 1
      val sys = rows.sortBy(t => (-t._3, t._2)).map(t => gain(t._2))
      val ideal = rows.map(t => gain(t._2)).sortBy(g => -g)
      val (d, i) = (dcg(sys), dcg(ideal))
      val n = if (i == 0) 0L else d * 1000000L / i
      assert(out(src) == ((d, i, n)), s"nDCG mismatch for $src")
      assert(n >= 0 && n <= 1000000, "nDCG is a ppm fraction of ideal")
    }
  }

  test("q185 AUC: matches brute-force pair counting with half-credit ties") {
    val out = Registry.queries("q185_group_auc")(spark, dir).collect()
      .map(r => r.getAs[Long]("segment") ->
        (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
          r.getAs[Long]("auc_ppm"))).toMap
    val ev = Tables.load(spark, dir, "events")
      .select(pmod(col("user_id"), lit(4)).as("seg"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("v"),
        (col("event_type") === "purchase").as("pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    for ((seg, rows) <- ev.groupBy(_._1)) {
      val pos = rows.filter(_._3).map(_._2)
      val neg = rows.filterNot(_._3).map(_._2)
      // doubled-U: every (pos, neg) pair scores 2 / 1 / 0
      val u2 = (for (p <- pos; n <- neg)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      val auc = (BigInt(u2) * 1000000 /
        (2 * BigInt(pos.size) * neg.size)).toLong
      assert(out(seg) == ((pos.size.toLong, neg.size.toLong, auc)),
        s"AUC mismatch for segment $seg")
    }
  }

  test("q186 URL canonicalization collapses every synthetic pair") {
    val out = Registry.queries("q186_url_normalize")(spark, dir).collect()
    val docsPerSrc = Tables.load(spark, dir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.length == docsPerSrc.size)
    for (r <- out) {
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_raw") == 2 * docsPerSrc(src),
        "two raw arrival forms per document")
      assert(r.getAs[Long]("n_canonical") == docsPerSrc(src),
        "each pair must collapse to ONE canonical URL")
      // u1 has case+port+fragment noise, u2 carries utm params:
      // neither arrival form IS its canonical form
      assert(r.getAs[Long]("n_already_canonical") == 0)
      assert(r.getAs[Boolean]("all_pairs_collapsed"))
    }
  }

  test("q187 novelty: ppm-bounded, doc counts conserved, mean within range") {
    val out = Registry.queries("q187_ngram_novelty")(spark, dir).collect()
    val evalDocs = Tables.load(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 1)
      .filter(size(split(col("text"), " ")) >= 5)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(_.getAs[String]("lang")).toSet == evalDocs.keySet)
    for (r <- out) {
      assert(r.getAs[Long]("n_docs") == evalDocs(r.getAs[String]("lang")),
        "every eligible odd doc must be scored")
      val (mn, mean, mx) = (r.getAs[Long]("min_novelty_ppm"),
        r.getAs[Long]("mean_novelty_ppm"), r.getAs[Long]("max_novelty_ppm"))
      assert(mn >= 0 && mx <= 1000000, "novelty is a ppm fraction")
      assert(mn <= mean && mean <= mx)
    }
  }

  test("q188 LSH sweep: candidates grow with bands; b4r2 = production plan") {
    val out = Registry.queries("q188_lsh_sweep")(spark, dir).collect()
      .map(r => r.getAs[String]("plan") -> r.getAs[Long]("n_candidates"))
      .toMap
    assert(out.keySet == Set("b8r1", "b4r2", "b2r4"))
    // more bands = lower effective threshold = a superset of candidates
    assert(out("b8r1") >= out("b4r2") && out("b4r2") >= out("b2r4"),
      "candidate count must be monotone in the band count")
    // the b4r2 plan IS the production q35 banding: counts must agree
    val bands = MinHash.bandTable(Tables.load(spark, dir, "documents"))
    val prod = bands.as("x")
      .join(bands.as("y"), col("x.band") === col("y.band") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    assert(out("b4r2") == prod,
      "sweep's b4r2 row must equal the production band table's pair count")
  }

  test("q189 lateness audit: matches a sequential driver-side scan") {
    val out = Registry.queries("q189_ooo_audit")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_late"),
          r.getAs[Long]("max_late_ms"),
          Option(r.getAs[java.lang.Long]("p99_late_ms")).map(_.toLong)))
      .toMap
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((typ, rows) <- ev.groupBy(_._1)) {
      var seen = Long.MinValue
      val late = rows.sortBy(_._2).map { case (_, _, us) =>
        val l = if (seen == Long.MinValue) 0L
                else math.max(seen - us, 0L) / 1000L
        seen = math.max(seen, us)
        l
      }
      val lateOnly = late.filter(_ > 0).sorted
      val p99 =
        if (lateOnly.isEmpty) None
        else Some(lateOnly((lateOnly.size * 99 + 99) / 100 - 1))
      assert(out(typ) == ((rows.size.toLong,
        lateOnly.size.toLong, late.max, p99)),
        s"lateness audit mismatch for $typ")
    }
  }
}
