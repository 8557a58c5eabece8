package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized cross-checks of the training-corpus operators against
  * independent brute-force reimplementations — the fixed-corpus gate
  * (q59/q61/q62) pins one dataset; these sample many. Corpora are small
  * (Spark jobs per sample), seeds come from ScalaCheck's generator. */
class TrainingPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  /** Write a synthetic documents table (gate schema) to a temp dir. */
  private def docsDir(docs: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_prop_").toString
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("gen"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private val genWord = Gen.oneOf("alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta", "theta", "iota", "kappa")

  private val genDoc: Gen[String] =
    Gen.choose(5, 25).flatMap(n => Gen.listOfN(n, genWord)).map(_.mkString(" "))

  /** Random corpus where ids multiple of 97 exist (the eval carve). */
  private val genCorpus: Gen[Seq[(Long, String, String)]] = for {
    n <- Gen.choose(6, 18)
    texts <- Gen.listOfN(n, genDoc)
    langs <- Gen.listOfN(n, Gen.oneOf("en", "de", "fr"))
  } yield texts.zip(langs).zipWithIndex.map { case ((t, l), i) =>
    // every third id lands on a 97-multiple so the eval set is nonempty
    val id = if (i % 3 == 0) 97L * (i + 1) else 97L * i + 1 + (i % 7)
    (id, t, l)
  }

  test("decontamination == brute-force 5-gram overlap on random corpora") {
    check(Prop.forAll(genCorpus) { docs =>
      val dir = docsDir(docs)
      val got = Registry.queries("q59_decontaminate")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      def grams(t: String): Set[String] =
        t.split(" ").sliding(5).filter(_.length == 5)
          .map(_.mkString(" ")).toSet
      val evalGrams = docs.filter(_._1 % 97 == 0).flatMap(d => grams(d._2)).toSet
      val want = docs.filterNot(_._1 % 97 == 0)
        .map { case (id, t, _) => id -> (grams(t) & evalGrams).size.toLong }
        .filter(_._2 > 0).toMap
      got == want
    }, n = 12)
  }

  test("rebalance == brute-force quota membership on random corpora") {
    check(Prop.forAll(genCorpus) { docs =>
      val dir = docsDir(docs)
      val got = Registry.queries("q62_lang_rebalance")(spark, dir)
        .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4)))
        .toMap
      val counts = docs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val target = counts.values.min
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val want = docs.groupBy(_._3).map { case (lang, ds) =>
        val n = counts(lang)
        val thresh = "%04x".format(
          math.floor(65536.0 * target / n).toInt)
        val kept = ds.filter { case (id, _, _) =>
          n == target || md5hex(s"bal:$id").substring(0, 4) < thresh }
        lang -> (kept.size.toLong, kept.map(_._1).sum)
      }
      got == want
    }, n = 12)
  }

  test("mixture sampling == brute-force ratio quotas on random corpora") {
    val ratios = Map("en" -> 0.40, "de" -> 0.15, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.15)
    val genAllLangs: Gen[Seq[(Long, String, String)]] = for {
      n <- Gen.choose(10, 25)
      texts <- Gen.listOfN(n, genDoc)
      langs <- Gen.listOfN(n, Gen.oneOf(ratios.keys.toSeq))
    } yield {
      // ensure every ratio language is present so the budget is finite
      val forced = ratios.keys.toSeq.zipWithIndex
        .map { case (l, i) => (1000L + i, s"seed text $i", l) }
      forced ++ texts.zip(langs).zipWithIndex
        .map { case ((t, l), i) => (i.toLong + 1, t, l) }
    }
    check(Prop.forAll(genAllLangs) { docs =>
      val dir = docsDir(docs)
      val got = Registry.queries("q79_source_mixture")(spark, dir)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val counts = docs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val budget = counts.map { case (l, n) => n / ratios(l) }.min
      val want = docs.groupBy(_._3).map { case (lang, ds) =>
        val n = counts(lang)
        val target = math.floor(budget * ratios(lang)).toLong
        val thresh = "%04x".format(math.floor(65536.0 * target / n).toInt)
        val kept = ds.filter { case (id, _, _) =>
          n == target || md5hex(s"mix:$id").substring(0, 4) < thresh }
        lang -> (target, kept.size.toLong, kept.map(_._1).sum)
      }
      got == want
    }, n = 10)
  }

  test("mixture with a missing ratio language is infeasible: keeps nothing") {
    // no 'zh' docs: T = min(n_k / r_k) = 0, so every target is 0 and
    // the report must show zero kept everywhere (claiming the mixture
    // was sampled while silently omitting a language would be wrong)
    val dir = docsDir(Seq(
      (1L, "alpha beta gamma", "en"), (2L, "delta epsilon zeta", "en"),
      (3L, "eta theta iota", "de"), (4L, "kappa lambda mu", "es"),
      (5L, "alpha gamma epsilon", "fr")))
    val got = Registry.queries("q79_source_mixture")(spark, dir).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L),
      got.mkString(", "))
  }

  test("quantization reconstruction error is within half a step") {
    // real embeddings through the PRODUCTION encode stage
    // (Training.quantizeCodes — not a copy of the formula): decode(code)
    // must sit within (mx-mn)/255/2 of x for every component — the
    // defining property of the scalar quantizer the checksum gate
    // cannot see directly
    val bad = graft.ops.curation.Training
      .quantizeCodes(spark, "/root/testdata/sf0.001")
      .withColumn("decoded",
        col("mn") + col("code") * (col("mx") - col("mn")) / 255.0)
      .withColumn("step", (col("mx") - col("mn")) / 255.0)
      .filter(abs(col("x") - col("decoded")) > col("step") * 0.5 + 1e-12)
    assert(bad.isEmpty)
  }
}
