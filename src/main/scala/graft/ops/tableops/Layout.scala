package graft.ops
package tableops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.{QueryDef, Tables}
import Tables.load
import LayoutKeys.{hilbertKey, hilbertSqlChain, NumFiles, rankedFiles, scaledBase, zExpr}

/** Physical layout: Z-order, Hilbert and Morton clustering, pruning,
  * compaction, range splits and encodings. */
object Layout {

  // --------------------------------------------------------------- q128

  /** q128: Z-ORDER LAYOUT — cluster `lineitem` on the Morton interleave
    * of (`l_partkey`, `l_suppkey`) and report per-tile min/max statistics
    * plus whether a probe predicate (`l_partkey` in [500, 599]) can skip
    * the tile. A tile is the top `22-Shift` bits of the Z-key — a fixed
    * grid of the key space — so BOTH dimensions are range-bounded inside
    * every tile and the hit flags show the probe touching only the tiles
    * whose partkey band overlaps: min/max footer stats become 2-D
    * pruning, the thing single-column sort layout cannot give. */
  private val ZShift = 12
  private val ProbeLo = 500
  private val ProbeHi = 599

  private def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val z = graft.functions.bits.morton(col("l_partkey"), col("l_suppkey"))
    load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        shiftright(z, ZShift).as("tile"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"),
        max(col("l_suppkey")).as("max_supp"))
      .withColumn("probe_hit",
        when(col("min_part") <= ProbeHi && col("max_part") >= ProbeLo, 1L)
          .otherwise(0L))
      .orderBy(col("tile"))
  }

  private val qZorderLayoutSql =
    s"""WITH z AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(list_sum(list_transform(range(0, 11), i ->
       |      (((l_partkey >> i) & 1) << (2 * i))
       |      + (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT)
       |      >> $ZShift AS tile
       |  FROM lineitem)
       |SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp,
       |  CAST(CASE WHEN min(l_partkey) <= $ProbeHi
       |    AND max(l_partkey) >= $ProbeLo THEN 1 ELSE 0 END AS BIGINT)
       |    AS probe_hit
       |FROM z GROUP BY tile ORDER BY tile""".stripMargin

  /** q228: Z-ORDER LAYOUT AUDIT — interleave the low 16 bits of
    * (l_partkey, l_suppkey) into a Morton key, bucket the table by the
    * key's top bits, and report each heavy bucket's row count and
    * per-dimension extents. The point of Z-order is that every bucket
    * is a small axis-aligned box in (partkey, suppkey) space — so
    * min/max pruning skips files for BOTH predicates; the extents
    * (versus each dimension's global range) are exactly the
    * data-skipping win a layout rewrite would buy. The audit is one
    * map-side key computation + one groupBy + TakeOrdered(24): the
    * report you run BEFORE paying for a 100-TB re-sort.
    *
    * All arithmetic is div/mod/mult on BIGINT — bit-identical across
    * engines; the rank label windows over the 24 surviving rows
    * only. */
  private def qZOrderAudit(s: SparkSession, dir: String): DataFrame = {
    val z = zExpr("l_partkey % 65536", "l_suppkey % 65536", "div")
    val bucketed = load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("zb", expr(s"($z) div ${1L << 22}"))
      .groupBy(col("zb"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
        min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
      .withColumn("pk_extent", col("pk_max") - col("pk_min") + 1)
      .withColumn("sk_extent", col("sk_max") - col("sk_min") + 1)
    val ord = Seq(col("n_rows").desc, col("zb").asc)
    bucketed.orderBy(ord: _*).limit(24)
      .withColumn("rk", row_number().over(Window.orderBy(ord: _*)))
      .select(col("rk"), col("zb"), col("n_rows"), col("pk_min"),
        col("pk_max"), col("pk_extent"), col("sk_min"), col("sk_max"),
        col("sk_extent"))
      .orderBy(col("rk"))
  }

  private val qZOrderAuditSql = {
    val z = zExpr("l_partkey % 65536", "l_suppkey % 65536", "//")
    s"""WITH b AS (
       |  SELECT ($z) // ${1L << 22} AS zb,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
       |    MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max
       |  FROM lineitem GROUP BY 1),
       |top AS (
       |  SELECT *, pk_max - pk_min + 1 AS pk_extent,
       |    sk_max - sk_min + 1 AS sk_extent
       |  FROM b ORDER BY n_rows DESC, zb LIMIT 24)
       |SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, zb) AS INT)
       |    AS rk,
       |  zb, n_rows, pk_min, pk_max, pk_extent, sk_min, sk_max, sk_extent
       |FROM top ORDER BY rk""".stripMargin
  }

  // ------------------------------------------------------------- q245

  /** Compaction bin capacity in characters (the stand-in for target
    * file bytes). */
  private val BinChars = 4096L

  /** q245: COMPACTION plan per source. Files (documents) pack
    * greedily in (doc_id) order: a file's bin is its exclusive
    * prefix-sum div capacity — one source-partitioned window. The
    * report aggregates the plan per source: bins used vs the lower
    * bound ceil(total/capacity), mean fill ppm, and the heaviest
    * bin — the numbers an operator reads before running a rewrite.
    * Oversized single files (> capacity) legitimately overflow their
    * bin; they surface through max_bin_chars. */
  private def qCompactionBins(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val planned = load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("bin", expr(s"before div $BinChars"))
    val bins = planned.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("chars"))
    bins.groupBy(col("source"))
      .agg(sum(col("n_files")).as("n_files"),
        sum(col("chars")).as("total_chars"),
        count(lit(1)).as("n_bins"),
        max(col("chars")).as("max_bin_chars"),
        max(col("n_files")).as("max_bin_files"))
      .select(col("source"), col("n_files"), col("total_chars"),
        col("n_bins"),
        expr(s"(total_chars + ${BinChars - 1}) div $BinChars")
          .as("min_bins"),
        expr(s"total_chars * 1000000 div (n_bins * $BinChars)")
          .as("fill_ppm"),
        col("max_bin_chars"), col("max_bin_files"))
      .orderBy(col("source"))
  }

  private val qCompactionBinsSql =
    s"""WITH planned AS (
       |  SELECT source, doc_id, n_chars,
       |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      // $BinChars AS bin
       |  FROM documents),
       |bins AS (
       |  SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM planned GROUP BY 1, 2)
       |SELECT source, CAST(SUM(n_files) AS BIGINT) AS n_files,
       |  CAST(SUM(chars) AS BIGINT) AS total_chars,
       |  CAST(COUNT(*) AS BIGINT) AS n_bins,
       |  CAST((SUM(chars) + ${BinChars - 1}) // $BinChars AS BIGINT)
       |    AS min_bins,
       |  CAST(SUM(chars) * 1000000 // (COUNT(*) * $BinChars) AS BIGINT)
       |    AS fill_ppm,
       |  CAST(MAX(chars) AS BIGINT) AS max_bin_chars,
       |  CAST(MAX(n_files) AS BIGINT) AS max_bin_files
       |FROM bins GROUP BY 1 ORDER BY 1""".stripMargin

  /* Twenty-seventh wave (round 8): physical-layout planning — the two
    * reports a lakehouse optimizer reads before rewriting a table:
    *
    *  - q250: ZONE-MAP (min/max) PRUNING effectiveness. Given the q245
    *    compaction plan, how many bins would a predicate skip, and how
    *    much over-read survives inside the scanned bins? The number that
    *    decides whether a sort/cluster rewrite pays for itself.
    *  - q251: EXACT RANGE-SPLIT planning. Equal-depth partition
    *    boundaries for a range shuffle, computed EXACTLY with the
    *    engine's distributed prefix-sum device (`Ranks.prefixSum`) —
    *    what Spark's RangePartitioner estimates by sampling, as a
    *    deterministic oracle-checkable plan, with per-bucket skew ppm.
    *
    * House rules: integer exactness, deterministic orders, DuckDB
    * oracle per query, windows partitioned or provably bounded. */

  private val Thresholds = Seq(1000L, 3000L, 5000L)

  /** q250: zone-map pruning audit. Bins come from q245's greedy plan
    * (source-partitioned prefix-sum); each bin carries min/max n_chars
    * zone stats. For each `n_chars ≥ T` probe: bins pruned (max < T),
    * files scanned in surviving bins, exactly-matching files, and the
    * over-read share — scanned-but-not-matching, the cost zone maps
    * cannot remove without a sort. Thresholds ride an explode (×3
    * bounded blowup), never a join against the growing bins table. */
  private def qMinmaxPruning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val docs = load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val bins = docs
      .withColumn("before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("bin", expr(s"before div $BinChars"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), max(col("n_chars")).as("max_c"))
    val thArr = array(Thresholds.map(lit): _*)
    val audited = bins
      .select(col("n_files"), col("max_c"), explode(thArr).as("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_bins"),
        sum(when(col("max_c") < col("threshold"), 1L).otherwise(0L))
          .as("pruned_bins"),
        sum(when(col("max_c") >= col("threshold"), col("n_files"))
          .otherwise(0L)).as("scanned_files"))
    val matching = docs
      .select(explode(thArr).as("threshold"), col("n_chars"))
      .groupBy(col("threshold"))
      .agg(sum(when(col("n_chars") >= col("threshold"), 1L)
        .otherwise(0L)).as("matching_files"))
    audited.join(matching, Seq("threshold"))
      .select(col("threshold"), col("n_bins"), col("pruned_bins"),
        col("scanned_files"), col("matching_files"),
        expr("CASE WHEN scanned_files = 0 THEN 0 ELSE " +
          "(scanned_files - matching_files) * 1000000 div scanned_files" +
          " END").as("overread_ppm"))
      .orderBy(col("threshold"))
  }

  private val qMinmaxPruningSql = {
    val values = Thresholds.mkString("(", "), (", ")")
    s"""WITH planned AS (
       |  SELECT source, doc_id, n_chars,
       |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      // $BinChars AS bin
       |  FROM documents),
       |bins AS (
       |  SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
       |    CAST(MAX(n_chars) AS BIGINT) AS max_c
       |  FROM planned GROUP BY 1, 2),
       |th AS (SELECT * FROM (VALUES $values) v(threshold)),
       |audited AS (
       |  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_bins,
       |    CAST(SUM(CASE WHEN max_c < threshold THEN 1 ELSE 0 END)
       |      AS BIGINT) AS pruned_bins,
       |    CAST(SUM(CASE WHEN max_c >= threshold THEN n_files ELSE 0 END)
       |      AS BIGINT) AS scanned_files
       |  FROM bins CROSS JOIN th GROUP BY 1),
       |matching AS (
       |  SELECT threshold,
       |    CAST(SUM(CASE WHEN n_chars >= threshold THEN 1 ELSE 0 END)
       |      AS BIGINT) AS matching_files
       |  FROM documents CROSS JOIN th GROUP BY 1)
       |SELECT threshold, n_bins, pruned_bins, scanned_files,
       |  matching_files,
       |  CASE WHEN scanned_files = 0 THEN 0 ELSE
       |    (scanned_files - matching_files) * 1000000 // scanned_files
       |    END AS overread_ppm
       |FROM audited JOIN matching USING (threshold)
       |ORDER BY threshold""".stripMargin
  }

  // ------------------------------------------------------------- q251

  private val Buckets = 8L

  /** q251: exact equal-depth RANGE-SPLIT plan over l_partkey. Keys are
    * pre-aggregated (ties collapse — also shrinks the shuffle), the
    * global running row count comes from `Ranks.prefixSum` (range-
    * repartition + per-partition offsets: no single-task window), and
    * each key's bucket is `(cum−1)·B div N` by its END position — a
    * key never splits, so a mega-key's skew lands visibly in one
    * bucket's dev_ppm instead of being hidden by fractional math.
    * Output: per bucket the upper boundary key, key/row counts, and
    * the deviation from the ideal N/B in ppm of N. */
  private def qRangeSplits(s: SparkSession, dir: String): DataFrame = {
    val counts = load(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("key"))
      .agg(count(lit(1)).as("n"))
    val cum = graft.util.Ranks.prefixSum(counts, Seq.empty,
      Seq(col("key")), col("n"), "cum")
    val total = cum.agg(max(col("cum")).as("total")) // one-row scalar
    cum.crossJoin(broadcast(total))
      .withColumn("bucket",
        expr(s"(cum - 1) * $Buckets div total + 1"))
      .groupBy(col("bucket"))
      .agg(max(col("key")).as("upper_key"),
        count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
        max(col("total")).as("total"))
      .select(col("bucket"), col("upper_key"), col("n_keys"),
        col("n_rows"),
        expr(s"(n_rows - total div $Buckets) * 1000000 div total")
          .as("dev_ppm"))
      .orderBy(col("bucket"))
  }

  private val qRangeSplitsSql =
    s"""WITH counts AS (
       |  SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM lineitem GROUP BY 1),
       |cum AS (
       |  SELECT key, n, CAST(SUM(n) OVER (ORDER BY key
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum
       |  FROM counts),
       |tot AS (SELECT CAST(MAX(cum) AS BIGINT) AS total FROM cum)
       |SELECT (cum - 1) * $Buckets // total + 1 AS bucket,
       |  CAST(MAX(key) AS BIGINT) AS upper_key,
       |  CAST(COUNT(*) AS BIGINT) AS n_keys,
       |  CAST(SUM(n) AS BIGINT) AS n_rows,
       |  CAST((SUM(n) - total // $Buckets) * 1000000 // total AS BIGINT)
       |    AS dev_ppm
       |FROM cum, tot
       |GROUP BY 1, total ORDER BY 1""".stripMargin

  /* Fortieth wave (round 10): pixel-space image dedup plus three
    * storage-layout planning audits —
    *
    *  - q273: IMAGE NEAR-DUP JOIN VIA dHASH — pixel-space perceptual
    *    dedup, the production complement to embedding SemDeDup (q89):
    *    each image is REALLY encoded (PNG) and REALLY decoded
    *    (`javax.imageio`), a 9×8 nearest-neighbor grid is probed in ONE
    *    codec pass, and the 64-bit difference hash (bit = right pixel >
    *    left pixel) ships as FOUR 16-bit band integers — bit tricks stay
    *    inside 32-bit words (the q169 rule), and the bands double as the
    *    LSH keys: candidates are pairs sharing at least one EXACT band
    *    (equi-join on (band, value), never all-pairs), verified by
    *    total Hamming distance ≤ 6 via `bit_count(xor)`. The synthetic
    *    corpus pairs docs (2m, 2m+1) over a shared base image with a
    *    bottom-half-only perturbation, so true pairs keep their top two
    *    bands intact — banding recall is 1.0 BY CONSTRUCTION, and the
    *    oracle replays the whole pipeline closed form from the
    *    generative pixel formula (the q225/q253 device: the real codec
    *    path must reproduce the formula bit-exactly).
    *  - q274: POSTING-LIST DELTA + VARINT LAYOUT AUDIT — the classic IR
    *    compression decision: per term, doc-id posting lists are
    *    gap-encoded (lag over the sorted list) and each gap priced at
    *    its LEB128 varint width (a CASE ladder — integer-exact in both
    *    engines); the report compares raw fixed-8-byte postings to
    *    delta+varint bytes per term. Window is partitioned by term.
    *  - q275: DICTIONARY-ENCODING PLANNER — per column: raw bytes
    *    (Σ octet_length) vs dictionary bytes (distinct values' bytes +
    *    n·⌈log₂ ndv⌉ bits of indices, the bit width computed EXACTLY as
    *    the binary-string length of ndv−1), and the resulting
    *    recommendation — the encoding decision a 100-TB columnar writer
    *    makes per column chunk.
    *  - q276: BLOOM SIZING AUDIT, plan vs measured — for three
    *    (bits/key, k) plans the filter is emulated RELATIONALLY on both
    *    engines (positions = (h1 + i·h2) mod m from two md5-prefix
    *    hashes — double hashing, Kirsch–Mitzenmacher), membership = all
    *    k probe positions present in the member-set bit table, and the
    *    MEASURED false-positive rate on a disjoint probe keyspace is
    *    reported per plan. Planning-time audit on a sample by design:
    *    the bit table is rows here, bits in production (q59/q88 carry
    *    the native codegen filter).
    *
    * Scale shapes: q273's join is band-bucketed (collision volume
    * ~n²/2¹⁶ per band, never n²) and decode is one pass per image;
    * q274/q275 are one melt/explode + bounded-group aggregates; q276's
    * position tables are n·k rows, equi-joined. */

  // ------------------------------------------------------------- q274

  private def qPostingsVarint(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val gaps = toks
      .withColumn("prev", lag(col("doc_id"), 1).over(w))
      // first posting stores the doc id itself; followers store the gap
      .withColumn("gap", when(col("prev").isNull, col("doc_id"))
        .otherwise(col("doc_id") - col("prev")))
      .withColumn("vbytes", expr(
        """CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
          |WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
          |ELSE 5 END""".stripMargin).cast("long"))
    gaps.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("vbytes")).as("delta_bytes"),
        max(col("gap")).as("max_gap"))
      .select(col("term"), col("df"),
        (col("df") * 8).as("raw_bytes"), col("delta_bytes"),
        col("max_gap"),
        expr("delta_bytes * 1000000 div (df * 8)").as("size_ppm"))
      .orderBy(col("term"))
  }

  private val qPostingsVarintSql =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |t2 AS (SELECT * FROM toks WHERE len(term) > 0),
      |gaps AS (
      |  SELECT term,
      |    COALESCE(doc_id - lag(doc_id) OVER
      |      (PARTITION BY term ORDER BY doc_id), doc_id) AS gap
      |  FROM t2),
      |vb AS (
      |  SELECT term, gap,
      |    CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
      |      WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
      |      ELSE 5 END AS vbytes
      |  FROM gaps)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |  CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
      |  CAST(SUM(vbytes) AS BIGINT) AS delta_bytes,
      |  CAST(MAX(gap) AS BIGINT) AS max_gap,
      |  CAST(SUM(vbytes) * 1000000 // (COUNT(*) * 8) AS BIGINT)
      |    AS size_ppm
      |FROM vb GROUP BY term ORDER BY term""".stripMargin

  // ------------------------------------------------------------- q275

  private def qDictPlanner(s: SparkSession, dir: String): DataFrame = {
    // two low-ndv enum columns (dict wins), one mid-ndv key, one
    // unique key (dict loses) — keys string-cast so byte accounting
    // is engine-identical
    val MeltExpr =
      """stack(4,
        |  'o_orderpriority', o_orderpriority,
        |  'o_orderstatus',   o_orderstatus,
        |  'o_custkey_s',     CAST(o_custkey AS STRING),
        |  'o_orderkey_s',    CAST(o_orderkey AS STRING)
        |) AS (col_name, v)""".stripMargin
    load(s, dir, "orders").selectExpr(MeltExpr)
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("v")).as("ndv"),
        sum(octet_length(col("v")).cast("long")).as("raw_bytes"))
      .join(
        load(s, dir, "orders").selectExpr(MeltExpr)
          .select(col("col_name"), col("v")).distinct()
          .groupBy(col("col_name"))
          .agg(sum(octet_length(col("v")).cast("long"))
            .as("dict_value_bytes")),
        Seq("col_name"))
      .withColumn("idx_bits",
        when(col("ndv") <= 1, 0L)
          .otherwise(length(bin(col("ndv") - 1)).cast("long")))
      .withColumn("dict_bytes",
        col("dict_value_bytes") +
          expr("(n_rows * idx_bits + 7) div 8"))
      .select(col("col_name"), col("n_rows"), col("ndv"),
        col("raw_bytes"), col("dict_value_bytes"), col("idx_bits"),
        col("dict_bytes"),
        (col("dict_bytes") < col("raw_bytes")).as("dict_wins"),
        expr("dict_bytes * 1000000 div raw_bytes").as("size_ppm"))
      .orderBy(col("col_name"))
  }

  private val qDictPlannerSql =
    """WITH melt AS (
      |  SELECT 'o_orderpriority' AS col_name, o_orderpriority AS v
      |    FROM orders
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      |  UNION ALL SELECT 'o_custkey_s', CAST(o_custkey AS VARCHAR)
      |    FROM orders
      |  UNION ALL SELECT 'o_orderkey_s', CAST(o_orderkey AS VARCHAR)
      |    FROM orders),
      |base AS (
      |  SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
      |    CAST(SUM(strlen(v)) AS BIGINT) AS raw_bytes
      |  FROM melt GROUP BY 1),
      |dv AS (
      |  SELECT col_name,
      |    CAST(SUM(strlen(v)) AS BIGINT) AS dict_value_bytes
      |  FROM (SELECT DISTINCT col_name, v FROM melt) GROUP BY 1),
      |j AS (
      |  SELECT b.*, dv.dict_value_bytes,
      |    CAST(CASE WHEN b.ndv <= 1 THEN 0
      |      ELSE len(format('{:b}', b.ndv - 1)) END AS BIGINT)
      |      AS idx_bits
      |  FROM base b JOIN dv ON dv.col_name = b.col_name)
      |SELECT col_name, n_rows, ndv, raw_bytes, dict_value_bytes,
      |  idx_bits,
      |  CAST(dict_value_bytes + (n_rows * idx_bits + 7) // 8 AS BIGINT)
      |    AS dict_bytes,
      |  (dict_value_bytes + (n_rows * idx_bits + 7) // 8) < raw_bytes
      |    AS dict_wins,
      |  CAST((dict_value_bytes + (n_rows * idx_bits + 7) // 8)
      |    * 1000000 // raw_bytes AS BIGINT) AS size_ppm
      |FROM j ORDER BY col_name""".stripMargin

  /* Forty-third wave (round 10): space-filling-curve layout planning and
    * a frequency-sketch error audit —
    *
    *  - q284: HILBERT vs Z-ORDER LAYOUT AUDIT — the question a table
    *    layout rewrite asks before paying for a 100-TB re-sort: which
    *    clustering key gives tighter per-file bounding boxes in
    *    (l_partkey, l_suppkey) space? The Hilbert key is the native
    *    codegen'd [[graft.functions.HilbertIndex2]] (X7 tier — 16
    *    rotate/reflect bit planes inside whole-stage codegen); the
    *    Morton key is q228's pure div/mod interleave. Both layouts cut
    *    64 EQUAL-ROW-COUNT files along curve order (what a layout
    *    writer does) — NOT top-bit buckets, where both curves induce
    *    the same quadtree cells and the comparison is vacuous by
    *    construction. The sum-of-box-areas column IS the data-skipping
    *    win: smaller boxes ⇒ more files pruned by min/max zone maps on
    *    either predicate column (measured here: Hilbert ≈ 0.54× the
    *    Morton total box area at sf0.01). The DuckDB oracle states the
    *    identical Hilbert arithmetic as 16 unrolled CTE steps (no XOR
    *    dialect: (3·rx)⊕ry is spelled rx=1 ? 3−ry : ry on both
    *    engines).
    *  - q285: COUNT-MIN SKETCH ERROR AUDIT — before shipping a CMS for
    *    100-TB heavy-hitter counting, measure its overestimate on this
    *    corpus: a 4×256 sketch with stated LCG row hashes over the
    *    48-bit md5 key (every constant spelled identically in both
    *    engines), built FROM the exact per-shingle counts (summing
    *    counters from grouped counts is algebraically identical to
    *    streaming increments — CMS counters are linear), probed at the
    *    20 heaviest 3-word shingles; reports exact count, sketch
    *    estimate (min over the 4 rows), and overestimate ppm. Shingles,
    *    not unigrams — the 31-word synthetic vocab is degenerate
    *    (verify-skill note); 3-shingles give 27k+ keys against 1024
    *    counters, so collisions are real and the audit is informative.
    *
    * Scale shapes: q284 is two map-side key computations + two ≤1024-row
    * groupBys + limit(16) tops; q285 is one vocab-bounded exact groupBy,
    * four ≤256-row counter aggregates (broadcast to the 20 probes), no
    * join wider than the vocab table. */

  /** The q228 Morton interleave over the pre-scaled grid coordinates. */
  private def zKey(idiv: String): String =
    "(" + LayoutKeys.zExpr("x", "y", idiv) + ")"

  private def qHilbertAudit(s: SparkSession, dir: String): DataFrame = {
    val base = scaledBase(s, dir)
    // equal-row-count cuts (what a layout writer does: sort by the
    // curve key, cut into 64 files) — NOT top-bit buckets: at
    // power-of-two bucket boundaries Hilbert and Morton induce the
    // SAME quadtree cells (just renumbered) and the audit is vacuous;
    // the curves differ exactly when a file straddles a quadrant
    // boundary, where Morton's diagonal jump inflates the bounding box
    def audit(scheme: String, key: Column): DataFrame = {
      val files = rankedFiles(base, key)
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("pk_min"),
          max(col("l_partkey")).as("pk_max"),
          min(col("l_suppkey")).as("sk_min"),
          max(col("l_suppkey")).as("sk_max"))
        .withColumn("pk_extent", col("pk_max") - col("pk_min") + 1)
        .withColumn("sk_extent", col("sk_max") - col("sk_min") + 1)
        .withColumn("area", col("pk_extent") * col("sk_extent"))
      val summary = files.agg(
        sum(col("area").cast(DecimalType(38, 0)))
          .cast(LongType).as("total_area"),
        max(col("n_rows")).as("max_file_rows"))
      files.crossJoin(broadcast(summary)) // one-row scheme totals
        .select(lit(scheme).as("scheme"), col("file"), col("n_rows"),
          col("pk_extent"), col("sk_extent"), col("area"),
          col("total_area"), col("max_file_rows"))
    }
    val hil = audit("hilbert", hilbertKey)
    val zor = audit("zorder", expr(zKey("div")))
    hil.unionByName(zor).orderBy(col("scheme"), col("file"))
  }

  private val qHilbertAuditSql = {
    def filed(keySel: String, src: String) =
      s"""  SELECT file, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
         |    MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max
         |  FROM (
         |    SELECT l_partkey, l_suppkey,
         |      ((row_number() OVER (ORDER BY $keySel, l_partkey,
         |        l_suppkey)) - 1) * $NumFiles // n.n_total AS file
         |    FROM $src, n)
         |  GROUP BY 1""".stripMargin
    def report(bcte: String, scheme: String) =
      s"""  SELECT '$scheme' AS scheme, CAST(file AS BIGINT) AS file,
         |    n_rows,
         |    pk_max - pk_min + 1 AS pk_extent,
         |    sk_max - sk_min + 1 AS sk_extent,
         |    (pk_max - pk_min + 1) * (sk_max - sk_min + 1) AS area,
         |    t.total_area, t.max_file_rows
         |  FROM $bcte,
         |    (SELECT CAST(SUM((pk_max - pk_min + 1) *
         |         (sk_max - sk_min + 1)) AS BIGINT) AS total_area,
         |       MAX(n_rows) AS max_file_rows FROM $bcte) t"""
        .stripMargin
    s"""WITH mx AS (
       |  SELECT MAX(l_partkey) AS pk_mx, MAX(l_suppkey) AS sk_mx
       |  FROM lineitem),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM lineitem),
       |sc AS MATERIALIZED (
       |  SELECT l_partkey, l_suppkey,
       |    l_partkey * 65536 // (pk_mx + 1) AS x,
       |    l_suppkey * 65536 // (sk_mx + 1) AS y
       |  FROM lineitem, mx),
       |h0 AS (
       |  SELECT l_partkey, l_suppkey, x, y, CAST(0 AS BIGINT) AS d
       |  FROM sc),
       |${hilbertSqlChain("h0")},
       |hb AS MATERIALIZED (
       |${filed("d", "hst15")}),
       |zb AS MATERIALIZED (
       |${filed(zKey("//"), "sc")})
       |SELECT * FROM (
       |${report("hb", "hilbert")}
       |UNION ALL
       |${report("zb", "zorder")})
       |ORDER BY scheme, file""".stripMargin
  }

  /* Forty-fifth wave (round 10): the Hilbert layout USED (not just
    * audited), and the embedding-training graph precursor —
    *
    *  - q287: HILBERT RANGE-SCAN PRUNING — q284 measured that the
    *    Hilbert layout's files have tight bounding boxes; this query
    *    CASHES that in: a rectangle predicate (20–30% of the partkey
    *    domain × 40–60% of the suppkey domain) is answered by scanning
    *    ONLY the files whose zone-map box intersects the rectangle.
    *    The output carries both the pruned-scan match count and the
    *    full-scan match count side by side — their equality is the
    *    pruning-soundness proof, hash-gated cross-engine; files_scanned
    *    vs 64 is the measured data-skipping win a lakehouse gets from
    *    the layout (zone maps can only prune what the layout clusters).
    *  - q288: DETERMINISTIC RANDOM WALKS (DeepWalk's input stage) over
    *    the co-purchase graph: from every node, a 4-step walk where
    *    step t at node v moves to the neighbor w minimizing the stated
    *    48-bit md5 hash of "t{t}|v|w" — a pseudo-random but
    *    hash-gateable choice (the same device the battery uses
    *    everywhere randomness must replay: the choice is a FUNCTION of
    *    (t, v, w), so both engines walk identically). next(t, ·) is
    *    computed ONCE per node per step (walks are memoryless given
    *    the step index), so the whole corpus of walks is 4 equi-joins
    *    against 4 argmin tables — never a per-walk loop.
    *
    * Scale shapes: q287 is the q284 ranking (one range shuffle) + one
    * ≤64-row zone-map table + broadcast scalars; q288 is the shared
    * Pinned strongEdges device + 4 keyed argmin aggregates + 4
    * equi-joins — the standard distributed DeepWalk shape (each step
    * touches each edge once). */

  // ------------------------------------------------------------- q287

  // rectangle bounds as ppc (percent) of each key domain, stated once
  private val PkLoPct = 20L; private val PkHiPct = 30L
  private val SkLoPct = 40L; private val SkHiPct = 60L

  private def qHilbertRangeScan(s: SparkSession, dir: String): DataFrame = {
    val assigned = LayoutKeys.rankedFiles(LayoutKeys.scaledBase(s, dir),
      LayoutKeys.hilbertKey)
      .withColumn("lo1", expr(s"pk_mx * $PkLoPct div 100"))
      .withColumn("hi1", expr(s"pk_mx * $PkHiPct div 100"))
      .withColumn("lo2", expr(s"sk_mx * $SkLoPct div 100"))
      .withColumn("hi2", expr(s"sk_mx * $SkHiPct div 100"))
      .withColumn("m", col("l_partkey").between(col("lo1"), col("hi1"))
        && col("l_suppkey").between(col("lo2"), col("hi2")))
    val files = assigned.groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("pk_min"),
        max(col("l_partkey")).as("pk_max"),
        min(col("l_suppkey")).as("sk_min"),
        max(col("l_suppkey")).as("sk_max"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_match"),
        max(col("lo1")).as("lo1"), max(col("hi1")).as("hi1"),
        max(col("lo2")).as("lo2"), max(col("hi2")).as("hi2"))
      // zone-map pruning rule: scan iff the file's box intersects the
      // rectangle on BOTH dimensions
      .withColumn("scanned",
        col("pk_min") <= col("hi1") && col("pk_max") >= col("lo1") &&
          col("sk_min") <= col("hi2") && col("sk_max") >= col("lo2"))
    val totals = files.agg(
      sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"),
      sum(when(col("scanned"), col("n_match")).otherwise(0L))
        .as("rows_in_rect_pruned"),
      sum(col("n_match")).as("rows_in_rect_full"))
    files.crossJoin(broadcast(totals)) // one-row totals scalar
      .select(col("file"), col("scanned"), col("n_rows"),
        col("n_match"), col("files_scanned"),
        col("rows_in_rect_pruned"), col("rows_in_rect_full"))
      .orderBy(col("file"))
  }

  private val qHilbertRangeScanSql =
    s"""WITH mx AS (
       |  SELECT MAX(l_partkey) AS pk_mx, MAX(l_suppkey) AS sk_mx
       |  FROM lineitem),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM lineitem),
       |sc AS MATERIALIZED (
       |  SELECT l_partkey, l_suppkey,
       |    l_partkey * 65536 // (pk_mx + 1) AS x,
       |    l_suppkey * 65536 // (sk_mx + 1) AS y,
       |    pk_mx * $PkLoPct // 100 AS lo1, pk_mx * $PkHiPct // 100 AS hi1,
       |    sk_mx * $SkLoPct // 100 AS lo2, sk_mx * $SkHiPct // 100 AS hi2
       |  FROM lineitem, mx),
       |h0 AS (
       |  SELECT l_partkey, l_suppkey, x, y, CAST(0 AS BIGINT) AS d
       |  FROM sc),
       |${LayoutKeys.hilbertSqlChain("h0")},
       |hm AS (
       |  SELECT h.l_partkey, h.l_suppkey, h.d, s.lo1, s.hi1, s.lo2,
       |    s.hi2,
       |    h.l_partkey BETWEEN s.lo1 AND s.hi1
       |      AND h.l_suppkey BETWEEN s.lo2 AND s.hi2 AS m
       |  FROM hst15 h, (SELECT DISTINCT lo1, hi1, lo2, hi2 FROM sc) s),
       |f AS MATERIALIZED (
       |  SELECT file, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
       |    MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max,
       |    CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_match,
       |    MAX(lo1) AS lo1, MAX(hi1) AS hi1,
       |    MAX(lo2) AS lo2, MAX(hi2) AS hi2
       |  FROM (
       |    SELECT *, ((row_number() OVER (ORDER BY d, l_partkey,
       |      l_suppkey)) - 1) * ${LayoutKeys.NumFiles} // n.n_total AS file
       |    FROM hm, n)
       |  GROUP BY 1),
       |fs AS (
       |  SELECT *,
       |    pk_min <= hi1 AND pk_max >= lo1 AND sk_min <= hi2
       |      AND sk_max >= lo2 AS scanned
       |  FROM f),
       |t AS (
       |  SELECT CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END)
       |      AS BIGINT) AS files_scanned,
       |    CAST(SUM(CASE WHEN scanned THEN n_match ELSE 0 END)
       |      AS BIGINT) AS rows_in_rect_pruned,
       |    CAST(SUM(n_match) AS BIGINT) AS rows_in_rect_full
       |  FROM fs)
       |SELECT CAST(file AS BIGINT) AS file, scanned, n_rows, n_match,
       |  files_scanned, rows_in_rect_pruned, rows_in_rect_full
       |FROM fs, t ORDER BY file""".stripMargin

  // ------------------------------------------------------------- q316

  private val MBits = 8 // 8 bits/dim: 24-bit 3-D Morton key
  private val MCellShift = 4096L // key div 2^12 -> 4-bit/dim octree cells

  /** 3-D Morton layout audit: the EXACT scaling + interleave arithmetic
    * `Graft.writeClusteredLayout` clusters on for N>2 (single authority
    * `functions.Morton`), hash-gated against DuckDB — the N-dim
    * analogue of q128's 2-D Z-order gate. Each dim is scaled to the
    * 8-bit grid with the writer's formula, the 24-bit key is cut into
    * 4-bit-per-dim octree cells (key div 4096), and each cell reports
    * its row count and per-dim scaled bounds — which PROVE locality:
    * every cell's span is confined to its 16×16×16 box, exactly the
    * property zone-map pruning buys skipping from. One scan + one
    * bounded (≤4096-row) aggregate; the bounds scalars are a one-row
    * broadcast. */
  private def qMorton3Cells(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events").select(col("event_id"),
      col("user_id"),
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
    val side = (1L << MBits) - 1
    val mm = ev.agg(
      min(col("user_id")).as("mnu"), max(col("user_id")).as("mxu"),
      min(col("vc")).as("mnv"), max(col("vc")).as("mxv"),
      min(col("event_id")).as("mne"), max(col("event_id")).as("mxe"))
    val scaled = ev.crossJoin(broadcast(mm)) // one-row bounds scalar
      .withColumn("sx", expr(
        s"(user_id - mnu) * $side div greatest(mxu - mnu, 1)"))
      .withColumn("sy", expr(
        s"(vc - mnv) * $side div greatest(mxv - mnv, 1)"))
      .withColumn("sz", expr(
        s"(event_id - mne) * $side div greatest(mxe - mne, 1)"))
    scaled
      .withColumn("mkey", graft.functions.Morton.key(
        Seq(col("sx"), col("sy"), col("sz")), MBits))
      .withColumn("cell", expr(s"mkey div $MCellShift"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("sx")).as("sx_min"), max(col("sx")).as("sx_max"),
        min(col("sy")).as("sy_min"), max(col("sy")).as("sy_max"),
        min(col("sz")).as("sz_min"), max(col("sz")).as("sz_max"))
      .orderBy(col("cell"))
  }

  private val qMorton3CellsSql = {
    val side = (1L << MBits) - 1
    val morton = graft.functions.Morton.sql(Seq("sx", "sy", "sz"), MBits)
    s"""WITH mm AS (
       |  SELECT MIN(user_id) AS mnu, MAX(user_id) AS mxu,
       |    MIN(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS mnv,
       |    MAX(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS mxv,
       |    MIN(event_id) AS mne, MAX(event_id) AS mxe
       |  FROM events),
       |scaled AS (
       |  SELECT
       |    (user_id - mnu) * $side // greatest(mxu - mnu, 1) AS sx,
       |    (CAST(floor(value * 100.0 + 0.5) AS BIGINT) - mnv) * $side
       |      // greatest(mxv - mnv, 1) AS sy,
       |    (event_id - mne) * $side // greatest(mxe - mne, 1) AS sz
       |  FROM events, mm),
       |keyed AS (SELECT sx, sy, sz, $morton AS mkey FROM scaled)
       |SELECT mkey // $MCellShift AS cell,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  MIN(sx) AS sx_min, MAX(sx) AS sx_max,
       |  MIN(sy) AS sy_min, MAX(sy) AS sy_max,
       |  MIN(sz) AS sz_min, MAX(sz) AS sz_max
       |FROM keyed GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q128_zorder_layout" -> QueryDef(qZorderLayout, Some(qZorderLayoutSql),
      "Z-order layout: Morton tiles, per-tile stats, 2-D probe pruning"),
    "q228_zorder_audit" -> QueryDef(qZOrderAudit, Some(qZOrderAuditSql),
      "Morton-key bucket extents: the data-skipping layout audit"),
    "q245_compaction_bins" -> QueryDef(qCompactionBins,
      Some(qCompactionBinsSql),
      "file-compaction planner via source-partitioned prefix-sum bins"),
    "q250_minmax_pruning" -> QueryDef(qMinmaxPruning,
      Some(qMinmaxPruningSql),
      "zone-map pruning effectiveness audit over the compaction plan"),
    "q251_range_splits" -> QueryDef(qRangeSplits, Some(qRangeSplitsSql),
      "exact equal-depth range-split plan via distributed prefix sum"),
    "q274_postings_varint" -> QueryDef(qPostingsVarint,
      Some(qPostingsVarintSql),
      "posting-list delta + LEB128 varint layout audit per term: " +
        "gap-encode doc ids, price each gap at exact varint width, " +
        "compare to fixed-8-byte postings"),
    "q275_dict_planner" -> QueryDef(qDictPlanner, Some(qDictPlannerSql),
      "dictionary-encoding planner per column: raw bytes vs dict " +
        "values + ceil(log2 ndv)-bit indices (exact integer bit " +
        "width), emit the encoding recommendation"),
    "q284_hilbert_audit" -> QueryDef(qHilbertAudit,
      Some(qHilbertAuditSql),
      "Hilbert vs Z-order layout audit: native codegen'd " +
        "graft_hilbert2 key vs the Morton interleave, 64 " +
        "equal-row-count file cuts per scheme, per-file bounding " +
        "boxes + sum-of-box-areas (the min/max data-skipping win)"),
    "q287_hilbert_range_scan" -> QueryDef(qHilbertRangeScan,
      Some(qHilbertRangeScanSql),
      "Hilbert range-scan pruning: rectangle predicate answered from " +
        "only the files whose zone-map box intersects it; pruned == " +
        "full match count (soundness) gated beside the files-scanned " +
        "win"),
    "q316_morton3_cells" -> QueryDef(qMorton3Cells,
      Some(qMorton3CellsSql),
      "3-D Morton layout audit: writeClusteredLayout's N>2 scaling + " +
        "interleave arithmetic (single authority functions.Morton) " +
        "hash-gated; octree cells prove per-dim locality bounds"))
}
