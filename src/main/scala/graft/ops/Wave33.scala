package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.load

/** Thirty-third wave (round 9): two classic operators the battery did
  * not yet cover —
  *
  *  - q259: EXACT set-similarity self-join via PREFIX FILTERING (the
  *    AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
  *    WWW'08). MinHash LSH (q35) answers the same question
  *    approximately; this is the exact counterpart used when recall
  *    must be 1.0: order every doc's shingle set by ascending document
  *    frequency (rarest first), emit only the first
  *    |s| − ⌈t·|s|⌉ + 1 tokens as join keys (two sets with
  *    Jaccard ≥ t MUST share a prefix token under a common global
  *    order), join on those rare tokens, length-filter
  *    (t·max ≤ min), then verify candidates with an exact
  *    candidate-scoped intersection count — q35's verify device. The
  *    threshold test is pure integers (5·|∩| ≥ 3·|∪| for t = 0.6):
  *    no ppm truncation in the PREDICATE, ppm only in the report.
  *  - q260: ISOTONIC CALIBRATION (pool-adjacent-violators) of return
  *    rate vs order quantity, computed on the bounded quantity
  *    alphabet via the minimax characterization
  *    fit(i) = max_{j≤i} min_{k≥i} avg(y over bins j..k): one pass
  *    aggregates the fact table to ≤50 bins; the O(bins³) minimax is
  *    self-joins on that broadcast-bounded table. Averages live on a
  *    truncated integer micro grid — BOTH engines state the same
  *    truncation, so the fit is hash-gateable (and the monotonicity
  *    invariant max-over-growing-j / min-over-shrinking-k survives
  *    truncation, checked per row).
  *
  * Scale shapes: q259's join keys are each set's RAREST tokens, so
  * posting lists are short by construction (the frequent-token
  * explosion is exactly what the prefix filter removes); the df table
  * is vocabulary-sized; every join is equi-keyed. q260 reduces the
  * corpus in one map-side-combinable pass; everything after is
  * alphabet-bounded. */
object Wave33 {

  // ------------------------------------------------------------- q259

  /** Jaccard threshold t = 3/5; prefix length |s| − ⌈3|s|/5⌉ + 1.
    * Set elements are 3-word SHINGLES (q35's device, 0-based Spark /
    * 1-based DuckDB formulations proven there): on this corpus the
    * word vocabulary is ~31 tokens (median unigram df 3862/5000 docs —
    * measured), so unigram posting lists defeat any prefix filter,
    * while 3-shingles give 27k+ elements with max df 25. The same
    * choice production near-dup joins make, for the same reason. */
  private def qSetSimJoin(s: SparkSession, dir: String): DataFrame = {
    val st = setSimStages(s, dir)
    val nCands = st.cands.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_candidates"))
    val nPairs = st.pairs.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_verified"))
    st.pairs
      .orderBy(col("jacc_ppm").desc, col("a"), col("b")).limit(20)
      .crossJoin(broadcast(nCands)) // one-row stats frames
      .crossJoin(broadcast(nPairs))
      .select(col("a"), col("b"), col("sza"), col("szb"), col("inter"),
        col("uni"), col("jacc_ppm"), col("n_candidates"),
        col("n_verified"))
      .orderBy(col("jacc_ppm").desc, col("a"), col("b"))
  }

  /** The q259 pipeline's stage frames, exposed for the suffix-bound
    * spec (the candidate-cut ladder is recorded in BASELINE.md):
    * `cands` = survivors of prefix+length+positional filtering,
    * `verifyIn` = survivors of the histogram suffix bound,
    * `pairs` = exact-verified result pairs. */
  private[graft] final case class SetSimStages(
      cands: DataFrame, verifyIn: DataFrame, pairs: DataFrame)

  private[graft] def setSimStages(s: SparkSession, dir: String): SetSimStages = {
    // Pin: the shingle table feeds FOUR consumers (df counts, prefix
    // ranking, and both sides of the verify join) — one parse+explode
    // instead of four (the q241 shared-frame lesson)
    val toks = graft.util.Pin(load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(ws) - 3), " +
          "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))).as("w")))
    val dfreq = toks.groupBy(col("w")).agg(count(lit(1)).as("dfreq"))
    val ranked = toks.join(dfreq, "w")
      .withColumn("sz", count(lit(1)).over(
        Window.partitionBy(col("doc_id"))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("dfreq"), col("w"))))
    // ⌈3·sz/5⌉ = (3·sz + 4) div 5 — integer ceil, both engines;
    // Pinned: both sides of the candidate self-join read it
    val pre = graft.util.Pin(ranked
      .filter(col("pos") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("w"), col("sz"), col("pos")))
    val px = pre.select(col("doc_id").as("a"), col("w"),
      col("sz").as("sza"), col("pos").as("pa"))
    val py = pre.select(col("doc_id").as("b"), col("w"),
      col("sz").as("szb"), col("pos").as("pb"))
    // Pinned: the candidate table feeds both the n_candidates stat and
    // the suffix-bound join — one prefix self-join instead of two
    val cands = graft.util.Pin(px.join(py, "w")
      .filter(col("a") < col("b"))
      .filter(expr("3 * greatest(sza, szb) <= 5 * least(sza, szb)"))
      // PPJoin positional filter (exact): a shared prefix token at
      // positions (pa, pb) caps the achievable overlap at
      // 1 + min(sza − pa, szb − pb), which must reach
      // α = ⌈t/(1+t)·(sza+szb)⌉ = ⌈3(sza+szb)/8⌉
      .filter(expr("1 + least(sza - pa, szb - pb) >= " +
        "(3 * (sza + szb) + 7) div 8"))
      .select(col("a"), col("sza"), col("b"), col("szb"))
      .distinct())
    // Suffix-style pre-verify cut (PPJoin+'s idea — Xiao et al.,
    // WWW'08 §4 — realized as a HISTOGRAM-PARTITION bound, the
    // shuffle-friendly variant: partition the token space into 64
    // hash buckets once per doc; for any pair the achievable overlap
    // is ≤ Σᵢ min(hA[i], hB[i]), which must reach the same
    // α = ⌈3(sza+szb)/8⌉ the positional filter targets. The bound is
    // EXACT (a true pair can never be cut — Wave33Spec pins the
    // subset property), so the gate output — including n_candidates,
    // deliberately counted BEFORE this cut, PPJoin's own accounting
    // convention — is unchanged; only the verify join's input
    // shrinks: measured cut 99.6% at sf1 (687k → 2 561 candidates,
    // 2 560 true) and 99.1% at sf10 (8.15M → 75 218, 75 208 true) —
    // the bound is within a handful of pairs of the verify itself.
    // 64 buckets beat 8 (14% cut) and 32 (98.0%) on this corpus;
    // per-doc cost is 64 small ints, and the recursive per-pair
    // probe of the paper is replaced by two equi-joins on doc id.
    val SuffixBuckets = 64
    val histCols = (0 until SuffixBuckets).map(i =>
      sum(when(pmod(hash(col("w")), lit(SuffixBuckets)) === i, 1L).otherwise(0L))
        .as(s"h$i"))
    val hist = graft.util.Pin(toks.groupBy(col("doc_id"))
      .agg(histCols.head, histCols.tail: _*))
    val histA = hist.select(col("doc_id").as("a") +:
      (0 until SuffixBuckets).map(i => col(s"h$i").as(s"ha$i")): _*)
    val histB = hist.select(col("doc_id").as("b") +:
      (0 until SuffixBuckets).map(i => col(s"h$i").as(s"hb$i")): _*)
    val suffixBound = (0 until SuffixBuckets)
      .map(i => least(col(s"ha$i"), col(s"hb$i")))
      .reduce(_ + _)
    val verifyIn = cands.join(histA, "a").join(histB, "b")
      .filter(suffixBound >= expr("(3 * (sza + szb) + 7) div 8"))
      .select(col("a"), col("sza"), col("b"), col("szb"))
    val ta = toks.select(col("doc_id").as("a"), col("w"))
    val tb = toks.select(col("doc_id").as("b"), col("w"))
    // candidate-scoped exact verify (q35's device): only candidate
    // pairs ever materialize an intersection count
    val pairs = verifyIn.join(ta, "a").join(tb, Seq("b", "w"))
      .groupBy(col("a"), col("b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 3) // exact t = 3/5
      .withColumn("jacc_ppm", expr("inter * 1000000 div uni"))
    SetSimStages(cands, verifyIn, pairs)
  }

  private val qSetSimJoinSql =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |toks AS (
      |  SELECT DISTINCT doc_id, w
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(ws) - 1),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS w
      |        FROM ws)),
      |dfreq AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS dfreq FROM toks GROUP BY 1),
      |ranked AS (
      |  SELECT t.doc_id, t.w,
      |    CAST(COUNT(*) OVER (PARTITION BY t.doc_id) AS BIGINT) AS sz,
      |    row_number() OVER (PARTITION BY t.doc_id
      |      ORDER BY d.dfreq, t.w) AS pos
      |  FROM toks t JOIN dfreq d ON d.w = t.w),
      |pre AS (
      |  SELECT doc_id, w, sz, pos FROM ranked
      |  WHERE pos <= sz - (3 * sz + 4) // 5 + 1),
      |cands AS (
      |  SELECT DISTINCT x.doc_id AS a, x.sz AS sza,
      |    y.doc_id AS b, y.sz AS szb
      |  FROM pre x JOIN pre y ON x.w = y.w AND x.doc_id < y.doc_id
      |  WHERE 3 * greatest(x.sz, y.sz) <= 5 * least(x.sz, y.sz)
      |    AND 1 + least(x.sz - x.pos, y.sz - y.pos)
      |      >= (3 * (x.sz + y.sz) + 7) // 8),
      |pairs AS (
      |  SELECT c.a, c.b, c.sza, c.szb,
      |    CAST(COUNT(*) AS BIGINT) AS inter,
      |    c.sza + c.szb - CAST(COUNT(*) AS BIGINT) AS uni
      |  FROM cands c
      |  JOIN toks ta ON ta.doc_id = c.a
      |  JOIN toks tb ON tb.doc_id = c.b AND tb.w = ta.w
      |  GROUP BY 1, 2, 3, 4
      |  HAVING CAST(COUNT(*) AS BIGINT) * 5
      |    >= (c.sza + c.szb - CAST(COUNT(*) AS BIGINT)) * 3),
      |scored AS (
      |  SELECT a, b, sza, szb, inter, uni,
      |    inter * 1000000 // uni AS jacc_ppm
      |  FROM pairs)
      |SELECT a, b, sza, szb, inter, uni, jacc_ppm,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_candidates,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM scored) AS n_verified
      |FROM scored
      |ORDER BY jacc_ppm DESC, a, b LIMIT 20""".stripMargin

  // ------------------------------------------------------------- q260

  /** q260: isotonic fit of P(returnflag = 'R') vs l_quantity on the
    * truncated micro grid. */
  private def qIsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val bins = load(s, dir, "lineitem")
      .groupBy(col("l_quantity").cast("long").as("x"))
      .agg(count(lit(1)).as("w"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("sy"))
    // ≤50-row quantity alphabet: bounded global window (allow-listed)
    val wOrd = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = bins
      .withColumn("cw", sum(col("w")).over(wOrd))
      .withColumn("cs", sum(col("sy")).over(wOrd))
    val lo = pref.select(col("x").as("j"), col("cw").as("cwj"),
      col("cs").as("csj"), col("w").as("wj"), col("sy").as("syj"))
    val hi = pref.select(col("x").as("k"), col("cw").as("cwk"),
      col("cs").as("csk"))
    // all (j ≤ k) interval averages on the micro grid — ≤ 1275 rows
    val avgs = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("(csk - csj + syj) * 1000000 div (cwk - cwj + wj)")
          .as("avg_micro"))
    val mids = bins.select(col("x").as("i"))
    // minK(j, i) = min over k ≥ i; fit(i) = max over j ≤ i
    val fit = avgs.join(mids,
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("j"), col("i")).agg(min(col("avg_micro")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("iso_fit_micro"))
    bins.join(fit, col("x") === col("i"))
      .select(col("x"), col("w"), col("sy"),
        expr("sy * 1000000 div w").as("raw_rate_micro"),
        col("iso_fit_micro"))
      .withColumn("monotone_ok",
        coalesce(col("iso_fit_micro") >=
          lag(col("iso_fit_micro"), 1).over(Window.orderBy(col("x"))),
          lit(true)))
      .orderBy(col("x"))
  }

  private val qIsotonicCalibrationSql =
    """WITH bins AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(COUNT(*) AS BIGINT) AS w,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS sy
      |  FROM lineitem GROUP BY 1),
      |pref AS (
      |  SELECT x, w, sy,
      |    CAST(SUM(w) OVER (ORDER BY x) AS BIGINT) AS cw,
      |    CAST(SUM(sy) OVER (ORDER BY x) AS BIGINT) AS cs
      |  FROM bins),
      |avgs AS (
      |  SELECT lo.x AS j, hi.x AS k,
      |    (hi.cs - lo.cs + lo.sy) * 1000000
      |      // (hi.cw - lo.cw + lo.w) AS avg_micro
      |  FROM pref lo JOIN pref hi ON lo.x <= hi.x),
      |mins AS (
      |  SELECT a.j, m.x AS i, MIN(a.avg_micro) AS mn
      |  FROM avgs a JOIN bins m ON a.j <= m.x AND m.x <= a.k
      |  GROUP BY 1, 2),
      |fit AS (
      |  SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_fit_micro
      |  FROM mins GROUP BY 1)
      |SELECT b.x, b.w, b.sy,
      |  b.sy * 1000000 // b.w AS raw_rate_micro, f.iso_fit_micro,
      |  COALESCE(f.iso_fit_micro >= lag(f.iso_fit_micro, 1)
      |    OVER (ORDER BY b.x), TRUE) AS monotone_ok
      |FROM bins b JOIN fit f ON f.i = b.x
      |ORDER BY b.x""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q259_setsim_join" -> QueryDef(qSetSimJoin, Some(qSetSimJoinSql),
      "exact Jaccard>=0.6 self-join via df-ordered prefix filtering " +
        "(AllPairs/PPJoin), candidate-scoped verify"),
    "q260_isotonic_calibration" -> QueryDef(qIsotonicCalibration,
      Some(qIsotonicCalibrationSql),
      "isotonic (PAV) calibration of return rate vs quantity on the " +
        "bounded bin alphabet, minimax form, exact micro grid"))
}
