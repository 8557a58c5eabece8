package graft.ops
package tableops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** Data integrity and anti-entropy: fingerprints, malformed rows,
  * dependencies, referential integrity, Merkle trees, Bloom filters and
  * hash rings. */
object Integrity {

  // ------------------------------------------------------------- q166

  /** q166: ADDITIVE TABLE FINGERPRINT — the reconciliation primitive
    * behind "is the replica byte-equal to the source?" at 100 TB: per
    * partition key, a row count plus a COMMUTATIVE checksum (sum of
    * each row's md5-prefix as a 60-bit integer) — addition is
    * order-independent, so the fingerprint needs no sort and two
    * engines/two copies can compute it shuffle-order-free. The sum
    * accumulates in DECIMAL(38)/HUGEINT and is released mod the
    * largest sub-2^63 prime — 10^8 60-bit terms overflow a BIGINT
    * accumulator, which ANSI Spark correctly refuses to wrap. Rows
    * serialize through EXACT types only (keys as integers, money as
    * DECIMAL(18,2) strings) — float-to-string is the one formatting
    * both engines may disagree on, so it is banned from fingerprints.
    * The gate's verdict column proves order-independence internally:
    * the checksum of a repartition-shuffled self equals the scan-order
    * checksum. */
  private def qTableFingerprint(s: SparkSession, dir: String): DataFrame = {
    def fp(rows: DataFrame): DataFrame = rows
      .select(col("l_returnflag"),
        expr("""CAST(conv(substring(md5(concat_ws('|',
          |  CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING),
          |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS STRING))),
          |  1, 15), 16, 10) AS BIGINT)""".stripMargin).as("h"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 9223372036854775783" +
          " AS BIGINT)").as("checksum"))
    val li = load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    val a = fp(li)
    val b = fp(li.repartition(13, col("l_linenumber"))) // scrambled order
      .withColumnRenamed("n", "n2").withColumnRenamed("checksum", "c2")
    a.join(b, "l_returnflag")
      .withColumn("order_independent",
        (col("n") === col("n2") && col("checksum") === col("c2")).cast("int"))
      .select(col("l_returnflag"), col("n"), col("checksum"),
        col("order_independent"))
      .orderBy(col("l_returnflag"))
  }

  private val qTableFingerprintSql =
    """WITH h AS (
      |  SELECT l_returnflag,
      |    CAST(('0x' || substring(md5(
      |      CAST(l_orderkey AS VARCHAR) || '|' ||
      |      CAST(l_linenumber AS VARCHAR) || '|' ||
      |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)),
      |      1, 15)) AS BIGINT) AS h
      |  FROM lineitem)
      |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(h AS HUGEINT)) % 9223372036854775783 AS BIGINT)
      |    AS checksum,
      |  CAST(1 AS INT) AS order_independent
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q167

  /** q167: MALFORMED-RECORD ROUTING (the DLQ error channel of SURVEY
    * F/K8, restated as a relational gate): a deterministic tenth of
    * the `props` JSON payloads is truncated mid-object; the parse
    * stage must route bad rows to counts (never drop, never throw)
    * while good rows keep aggregating. Spark: `from_json` yields null
    * on malformed input (PERMISSIVE); DuckDB: `json_valid` guards
    * `json_extract`. Reports per event type: totals, malformed count,
    * bad-rate ppm, and the k-sum over the GOOD rows only. */
  private def qMalformedRouting(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    load(s, dir, "events")
      .withColumn("raw",
        when(col("event_id") % 11 === 0,
          expr("substring(props, 1, length(props) - 1)")) // truncated JSON
          .otherwise(col("props")))
      .withColumn("k",
        from_json(col("raw"),
          StructType(Seq(StructField("k", LongType)))).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_bad"),
        sum(coalesce(col("k"), lit(0L))).as("k_sum"))
      .withColumn("bad_ppm", expr("n_bad * 1000000 div n"))
      .orderBy(col("event_type"))
  }

  private val qMalformedRoutingSql =
    """WITH r AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 11 = 0
      |      THEN substring(props, 1, length(props) - 1)
      |      ELSE props END AS raw
      |  FROM events),
      |p AS (
      |  SELECT event_type,
      |    CASE WHEN json_valid(raw)
      |      THEN CAST(json_extract(raw, '$.k') AS BIGINT) END AS k
      |  FROM r)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bad,
      |  CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS k_sum,
      |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // COUNT(*) AS bad_ppm
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /* Twenty-third wave (round 8): data-contract auditing and sketched set
    * arithmetic — three operators a training-data platform runs constantly:
    *
    *  - q239: FUNCTIONAL-DEPENDENCY VIOLATION audit. "Does l_partkey
    *    determine l_suppkey?" answered not as a boolean but as a repair
    *    plan: per violating key, how many rows disagree with the majority
    *    right-hand side (the minimum edits to restore the FD).
    *  - q240: STRATIFIED K-FOLD assignment. Deterministic arithmetic-hash
    *    folds (no RNG — re-runnable anywhere), audited per fold against
    *    the global language mix in exact ppm.
    *  - q241: KMV (k-minimum-values) DISTINCT-INTERSECTION sketch. The
    *    sketch estimate AND the exact answer side by side, with the same
    *    LCG hash emulated in the DuckDB oracle, so the estimator itself —
    *    not just its inputs — is oracle-gated. At 100 TB the exact branch
    *    is the one you delete; the sketch reads k=64 values per set.
    *
    * House rules: integer exactness (counts/ppm), deterministic orders,
    * DuckDB oracle per query, windows partitioned or provably bounded. */

  // ------------------------------------------------------------- q239

  /** q239: FD violation audit for the candidate dependency
    * l_partkey → l_suppkey. One map-side-combinable groupBy builds the
    * (lhs, rhs) contingency; a second groupBy folds it per key into
    * row count, distinct right-hand sides, and the majority-rhs row
    * count; `repair_rows = n_rows - majority_rows` is the classic
    * minimal-repair distance. Top-20 worst keys via TakeOrdered —
    * never a global sort. */
  private def qFdViolations(s: SparkSession, dir: String): DataFrame = {
    val pairs = load(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("partkey"), col("l_suppkey").as("supp"))
      .agg(count(lit(1)).as("cnt"))
    pairs.groupBy(col("partkey"))
      .agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_suppliers"),
        max(col("cnt")).as("majority_rows"))
      .filter(col("n_suppliers") > 1)
      .select(col("partkey"), col("n_rows"), col("n_suppliers"),
        col("majority_rows"),
        (col("n_rows") - col("majority_rows")).as("repair_rows"))
      .orderBy(col("repair_rows").desc, col("n_suppliers").desc,
        col("partkey"))
      .limit(20)
  }

  private val qFdViolationsSql =
    """WITH pairs AS (
      |  SELECT l_partkey AS partkey, l_suppkey AS supp,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |per_key AS (
      |  SELECT partkey, CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |    CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |    CAST(MAX(cnt) AS BIGINT) AS majority_rows
      |  FROM pairs GROUP BY 1)
      |SELECT partkey, n_rows, n_suppliers, majority_rows,
      |  n_rows - majority_rows AS repair_rows
      |FROM per_key WHERE n_suppliers > 1
      |ORDER BY repair_rows DESC, n_suppliers DESC, partkey
      |LIMIT 20""".stripMargin

  /* Thirty-seventh wave (round 9): the two data-contract audits a
    * platform runs on every drop, closing out the governance family —
    *
    *  - q267: REFERENTIAL-INTEGRITY audit. For every declared FK edge of
    *    the star schema, the orphan count (child keys with no parent),
    *    orphan ppm, and the smallest orphan key as a repair exemplar.
    *    Each edge is one distinct-child projection + one LEFT ANTI join
    *    (shuffle-hash on the key, the plan Spark picks for
    *    anti-join-at-scale) + a one-row aggregate; the report unions
    *    five bounded rows. On conforming TPC-H-shaped data every orphan
    *    count is zero — the spec twin injects orphans to pin the
    *    nonzero path.
    *  - q268: PROFILE DRIFT between two snapshots (pre/post-1996 order
    *    halves — q254's split): per column, row counts, exact distinct
    *    counts, and the deterministic-mode top value with its share —
    *    the drift report that catches a silent upstream distribution
    *    change. One melt (`stack`) per half; mode ties break on the
    *    value itself (q177's device) so the report is hash-stable.
    *
    * Scale shapes: q267 is five key-projected anti-joins (no fact-table
    * payload moves); q268 is two melt scans into alphabet-sized
    * aggregates. */

  // ------------------------------------------------------------- q267

  private def qRiAudit(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      // NULL FK is conventionally not an RI violation, and NULL parent
      // keys never satisfy a reference — filter both sides explicitly
      // so anti-join (Spark) and NOT IN (oracle) agree on dirty data.
      val orphans = child.select(col(ck).as("k"))
        .filter(col("k").isNotNull).distinct()
        .join(parent.select(col(pk).as("k")).filter(col("k").isNotNull),
          Seq("k"), "left_anti")
      val stats = child.agg(count(lit(1)).as("n_child"),
        countDistinct(col(ck)).as("n_child_keys"))
      val os = orphans.agg(
        coalesce(count(lit(1)), lit(0L)).as("n_orphan_keys"),
        min(col("k")).as("first_orphan"))
      stats.crossJoin(broadcast(os)) // two one-row frames
        .select(lit(name).as("fk_edge"), col("n_child"),
          col("n_child_keys"), col("n_orphan_keys"),
          expr("n_orphan_keys * 1000000 div n_child_keys")
            .as("orphan_key_ppm"),
          coalesce(col("first_orphan").cast("long"), lit(-1L))
            .as("first_orphan"))
    }
    val li = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    val p = load(s, dir, "part")
    val su = load(s, dir, "supplier")
    val n = load(s, dir, "nation")
    edge("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey")
      .unionByName(edge("lineitem.partkey->part", li, "l_partkey",
        p, "p_partkey"))
      .unionByName(edge("lineitem.suppkey->supplier", li, "l_suppkey",
        su, "s_suppkey"))
      .unionByName(edge("orders.custkey->customer", o, "o_custkey",
        c, "c_custkey"))
      .unionByName(edge("customer.nationkey->nation", c, "c_nationkey",
        n, "n_nationkey"))
      .orderBy(col("fk_edge"))
  }

  private val qRiAuditSql = {
    def edge(name: String, child: String, ck: String, parent: String,
        pk: String) =
      s"""SELECT '$name' AS fk_edge,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child) AS n_child,
         |  (SELECT CAST(COUNT(DISTINCT $ck) AS BIGINT) FROM $child)
         |    AS n_child_keys,
         |  CAST(COUNT(*) AS BIGINT) AS n_orphan_keys,
         |  CAST(COUNT(*) * 1000000 // (SELECT COUNT(DISTINCT $ck)
         |    FROM $child) AS BIGINT) AS orphan_key_ppm,
         |  CAST(COALESCE(MIN(k), -1) AS BIGINT) AS first_orphan
         |FROM (SELECT DISTINCT $ck AS k FROM $child
         |      WHERE $ck IS NOT NULL AND $ck NOT IN
         |        (SELECT $pk FROM $parent WHERE $pk IS NOT NULL)) t""".stripMargin
    Seq(
      edge("lineitem.orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      edge("lineitem.partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      edge("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      edge("orders.custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      edge("customer.nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  /* Thirty-eighth wave (round 9): anti-entropy support for the CDC
    * replication domain —
    *
    *  - q269: MERKLE RANGE-DIGEST TREE over the fact table. The sync
    *    primitive two replicas exchange to find divergent key ranges
    *    without shipping data (the Dynamo/Cassandra repair device, here
    *    over the orderkey space): 64 contiguous leaf ranges, 8 mid
    *    nodes, 1 root — each node carries its row count and an
    *    ORDER-INDEPENDENT content digest (exact DECIMAL(38,0) sum of
    *    per-row md5-prefix integers, the q166 fingerprint device made
    *    hierarchical). The WHOLE tree is ONE scan + ONE ROLLUP
    *    aggregate — levels fall out of the grouping sets, so comparing
    *    trees costs a 73-row exchange and a divergence drills down
    *    left-to-right. Digests ship as digit strings (atomic-schema
    *    contract; DuckDB HUGEINT and Spark DECIMAL(38,0) render
    *    identically).
    *
    * Scale shape: the range bound comes from one max() scalar
    * (broadcast, q70 shape); the rollup partial-aggregates map-side to
    * ≤73 rows per partition. At 100 TB this is the cheapest possible
    * replica-comparison pass: one read, no shuffle wider than the node
    * count. */

  private val Leaves = 64L
  private val Fanout = 8L

  private def qMerkleDigest(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val mx = li.agg(max(col("l_orderkey")).as("mx"))
    val rows = li.crossJoin(broadcast(mx)) // 1-row range-bound scalar
      .select(
        expr(s"l_orderkey * $Leaves div (mx + 1)").as("leaf"),
        // row digest: md5 prefix of the canonical row rendering,
        // 12 hex chars -> 48-bit int (the q166/q263 device)
        expr("CAST(conv(substring(md5(concat_ws('|', " +
          "CAST(l_orderkey AS STRING), CAST(l_partkey AS STRING), " +
          "CAST(l_suppkey AS STRING), " +
          "CAST(CAST(floor(l_quantity) AS BIGINT) AS STRING))), " +
          "1, 12), 16, 10) AS DECIMAL(38,0))").as("h"))
      .withColumn("mid", expr(s"leaf div $Fanout"))
    rows.rollup(col("mid"), col("leaf"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("digest"))
      .select(
        // level 2 = leaves, 1 = mid nodes, 0 = root
        when(col("leaf").isNotNull, lit(2L))
          .when(col("mid").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("level"),
        coalesce(col("leaf"), col("mid"), lit(0L)).as("node"),
        col("n_rows"),
        col("digest").cast("string").as("digest_s"))
      .orderBy(col("level"), col("node"))
  }

  private val qMerkleDigestSql =
    s"""WITH rows_ AS (
       |  SELECT l_orderkey * $Leaves
       |      // ((SELECT MAX(l_orderkey) FROM lineitem) + 1) AS leaf,
       |    CAST(CAST(('0x' || substring(md5(
       |      CAST(l_orderkey AS VARCHAR) || '|' ||
       |      CAST(l_partkey AS VARCHAR) || '|' ||
       |      CAST(l_suppkey AS VARCHAR) || '|' ||
       |      CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR)),
       |      1, 12)) AS BIGINT) AS HUGEINT) AS h
       |  FROM lineitem),
       |r2 AS (SELECT leaf, leaf // $Fanout AS mid, h FROM rows_)
       |SELECT
       |  CAST(CASE WHEN GROUPING(leaf) = 0 THEN 2
       |    WHEN GROUPING(mid) = 0 THEN 1 ELSE 0 END AS BIGINT) AS level,
       |  CAST(COALESCE(leaf, mid, 0) AS BIGINT) AS node,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(h) AS VARCHAR) AS digest_s
       |FROM r2 GROUP BY ROLLUP (mid, leaf)
       |ORDER BY level, node""".stripMargin

  // ------------------------------------------------------------- q271

  private val RepairLeaves = 64L

  /** 48-bit md5-prefix row digest of (file, last-tx) — q269's device. */
  private def stateDigest(f: String, last: String)
      : org.apache.spark.sql.Column =
    expr(s"CAST(conv(substring(md5(concat_ws('|', " +
      s"CAST($f AS STRING), CAST($last AS STRING))), 1, 12), 16, 10) " +
      "AS DECIMAL(38,0))")

  private def qMerkleRepair(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id").as("f"), col("event_id").as("tx"))
    val mxTx = ev.agg(max(col("tx"))).head().getLong(0) // metadata scalar
    val t1 = (mxTx * 0.4).toLong // q44's snapshot split
    val src = ev.groupBy(col("f")).agg(max(col("tx")).as("src_last"))
    val rep = ev.filter(col("tx") <= t1)
      .groupBy(col("f")).agg(max(col("tx")).as("rep_last"))
    val st = graft.util.Pin(src.join(rep, Seq("f"), "left")
      .select(col("f"), col("src_last"),
        coalesce(col("rep_last"), lit(-1L)).as("rep_last")))
    val mxF = st.agg(max(col("f"))).head().getLong(0) // metadata scalar
    val leafOf = expr(s"f * $RepairLeaves div ${mxF + 1}")
    val withLeaf = st.withColumn("leaf", leafOf)
    // per-leaf (count, order-independent digest) per replica side; the
    // replica's tree only covers files it holds (rep_last >= 0)
    val srcTree = withLeaf.groupBy(col("leaf")).agg(
      count(lit(1)).as("sn"),
      sum(stateDigest("f", "src_last")).as("sd"))
    val repTree = withLeaf.filter(col("rep_last") >= 0L)
      .groupBy(col("leaf")).agg(
        count(lit(1)).as("rn"),
        sum(stateDigest("f", "rep_last")).as("rd"))
    val divergent = srcTree.join(repTree, Seq("leaf"), "full_outer")
      .filter(!(col("sn") <=> col("rn")) || !(col("sd") <=> col("rd")))
      .select(col("leaf"))
    // drill-down: only files inside divergent leaves are compared
    val toRepair = withLeaf
      .join(broadcast(divergent), Seq("leaf"), "left_semi")
      .filter(col("src_last") =!= col("rep_last"))
    // the missing tx window's deltas, through the A1 range-merge
    // aggregator (append-only here, so the fold is min/max/max)
    import s.implicits._
    val deltas = ev.join(toRepair, Seq("f"))
      .filter(col("tx") > col("rep_last"))
      .select(col("f").as("blockId"), col("tx").as("txId"),
        ((col("tx") % 50) * 100).as("startOffset"),
        ((col("tx") % 50) * 100 + 100 + (col("f") % 37) * 10)
          .as("endOffset"),
        lit(graft.changeset.RangeMerge.DeltaOp.Append).as("op"))
      .as[graft.changeset.RangeMerge.Delta]
    val shipped = deltas.groupByKey(_.blockId)
      .agg(graft.changeset.RangeMerge.agg.toColumn)
      .map { case (f, m) =>
        (f, m.startOffset, m.endOffset, m.lastTxId)
      }
      .toDF("f", "ship_start", "ship_end", "ship_last_tx")
    val missing = ev.join(toRepair, Seq("f"))
      .filter(col("tx") > col("rep_last"))
      .groupBy(col("f")).agg(count(lit(1)).as("n_missing"))
    toRepair.join(missing, Seq("f")).join(shipped, Seq("f"))
      .select(col("f").as("file_id"), col("leaf"), col("src_last"),
        col("rep_last"), col("n_missing"), col("ship_start"),
        col("ship_end"), col("ship_last_tx"))
      .orderBy(col("file_id"))
  }

  private val qMerkleRepairSql =
    s"""WITH ev AS (SELECT user_id AS f, event_id AS tx FROM events),
       |t AS (SELECT CAST(floor(max(tx) * 0.4) AS BIGINT) AS t1 FROM ev),
       |src AS (SELECT f, max(tx) AS src_last FROM ev GROUP BY 1),
       |rep AS (SELECT f, max(tx) AS rep_last FROM ev, t
       |        WHERE tx <= t.t1 GROUP BY 1),
       |st AS MATERIALIZED (
       |  SELECT s.f, s.src_last, COALESCE(r.rep_last, -1) AS rep_last,
       |    s.f * $RepairLeaves // ((SELECT max(f) FROM ev) + 1) AS leaf
       |  FROM src s LEFT JOIN rep r ON r.f = s.f),
       |srct AS (
       |  SELECT leaf, COUNT(*) AS sn,
       |    SUM(CAST(('0x' || substring(md5(f || '|' || src_last), 1, 12))
       |      AS BIGINT)) AS sd
       |  FROM st GROUP BY 1),
       |rept AS (
       |  SELECT leaf, COUNT(*) AS rn,
       |    SUM(CAST(('0x' || substring(md5(f || '|' || rep_last), 1, 12))
       |      AS BIGINT)) AS rd
       |  FROM st WHERE rep_last >= 0 GROUP BY 1),
       |div AS (
       |  SELECT COALESCE(s.leaf, r.leaf) AS leaf
       |  FROM srct s FULL OUTER JOIN rept r ON s.leaf = r.leaf
       |  WHERE s.sn IS DISTINCT FROM r.rn OR s.sd IS DISTINCT FROM r.rd),
       |rp AS (
       |  SELECT st.* FROM st JOIN div ON div.leaf = st.leaf
       |  WHERE st.src_last <> st.rep_last),
       |ship AS (
       |  SELECT rp.f, rp.leaf, rp.src_last, rp.rep_last,
       |    CAST(COUNT(*) AS BIGINT) AS n_missing,
       |    CAST(MIN((e.tx % 50) * 100) AS BIGINT) AS ship_start,
       |    CAST(MAX((e.tx % 50) * 100 + 100 + (rp.f % 37) * 10)
       |      AS BIGINT) AS ship_end,
       |    CAST(MAX(e.tx) AS BIGINT) AS ship_last_tx
       |  FROM rp JOIN ev e ON e.f = rp.f AND e.tx > rp.rep_last
       |  GROUP BY 1, 2, 3, 4)
       |SELECT f AS file_id, leaf, src_last, rep_last, n_missing,
       |  ship_start, ship_end, ship_last_tx
       |FROM ship ORDER BY file_id""".stripMargin

  // ------------------------------------------------------------- q276

  /** The three candidate plans: (bits per key, number of hashes). */
  private val BloomPlans = Seq((8L, 6), (12L, 8), (16L, 11))

  private def qBloomAudit(s: SparkSession, dir: String): DataFrame = {
    // members: part keys; probes: a disjoint key namespace
    val members = graft.util.Pin(load(s, dir, "lineitem")
      .select(concat(lit("k"), col("l_partkey")).as("key")).distinct())
    val probes = graft.util.Pin(load(s, dir, "orders")
      .select(concat(lit("p"), col("o_orderkey")).as("key")).distinct())
    val nMembers = members.count() // plan-time scalar (bounded)
    import s.implicits._
    val plans = BloomPlans.toDF("bits_per_key", "k")
      .withColumn("m", col("bits_per_key") * nMembers)
    def h(tag: String) = expr(
      s"CAST(conv(substring(md5(concat('$tag', key)), 1, 12), 16, 10) " +
        "AS BIGINT)")
    def positions(keys: DataFrame): DataFrame = keys
      .withColumn("h1", h("h1|")).withColumn("h2", h("h2|"))
      .crossJoin(broadcast(plans)) // 3-row plan table
      .select(col("key"), col("bits_per_key"), col("k"), col("m"),
        explode(expr("transform(sequence(0, k - 1), " +
          "i -> pmod(h1 + i * h2, m))")).as("pos"))
    val bits = positions(members)
      .select(col("bits_per_key"), col("pos")).distinct()
    val probePos = positions(probes)
    val fp = probePos.join(bits, Seq("bits_per_key", "pos"), "left_semi")
      .groupBy(col("bits_per_key"), col("k"), col("key"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("k")) // all k positions set
      .groupBy(col("bits_per_key"), col("k"))
      .agg(count(lit(1)).as("n_fp"))
    val nProbes = probes.count()
    plans.join(fp, Seq("bits_per_key", "k"), "left")
      .select(col("bits_per_key"), col("k").cast("long").as("k"), col("m"),
        lit(nMembers).as("n_members"), lit(nProbes).as("n_probes"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        expr(s"coalesce(n_fp, 0) * 1000000 div $nProbes").as("fp_ppm"))
      .orderBy(col("bits_per_key"))
  }

  private val qBloomAuditSql = {
    val plans = BloomPlans.map { case (b, k) => s"($b, $k)" }
      .mkString(", ")
    s"""WITH members AS (
       |  SELECT DISTINCT 'k' || l_partkey AS key FROM lineitem),
       |probes AS (SELECT DISTINCT 'p' || o_orderkey AS key FROM orders),
       |nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM members),
       |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM probes),
       |plans AS (
       |  SELECT bits_per_key, k, bits_per_key * (SELECT n FROM nm) AS m
       |  FROM (VALUES $plans) t(bits_per_key, k)),
       |mh AS (
       |  SELECT key,
       |    CAST(('0x' || substring(md5('h1|' || key), 1, 12)) AS BIGINT)
       |      AS h1,
       |    CAST(('0x' || substring(md5('h2|' || key), 1, 12)) AS BIGINT)
       |      AS h2
       |  FROM members),
       |bits AS (
       |  SELECT DISTINCT p.bits_per_key, (mh.h1 + i.i * mh.h2) % p.m
       |    AS pos
       |  FROM mh, plans p, range(0, 16) i(i)
       |  WHERE i.i < p.k),
       |ph AS (
       |  SELECT key,
       |    CAST(('0x' || substring(md5('h1|' || key), 1, 12)) AS BIGINT)
       |      AS h1,
       |    CAST(('0x' || substring(md5('h2|' || key), 1, 12)) AS BIGINT)
       |      AS h2
       |  FROM probes),
       |pp AS (
       |  SELECT p.bits_per_key, p.k, ph.key,
       |    (ph.h1 + i.i * ph.h2) % p.m AS pos
       |  FROM ph, plans p, range(0, 16) i(i)
       |  WHERE i.i < p.k),
       |fp AS (
       |  SELECT pp.bits_per_key, pp.k, pp.key
       |  FROM pp JOIN bits b
       |    ON b.bits_per_key = pp.bits_per_key AND b.pos = pp.pos
       |  GROUP BY 1, 2, 3 HAVING COUNT(*) = MAX(pp.k)),
       |fpc AS (
       |  SELECT bits_per_key, k, CAST(COUNT(*) AS BIGINT) AS n_fp
       |  FROM fp GROUP BY 1, 2)
       |SELECT CAST(p.bits_per_key AS BIGINT) AS bits_per_key,
       |  CAST(p.k AS BIGINT) AS k, CAST(p.m AS BIGINT) AS m,
       |  (SELECT n FROM nm) AS n_members,
       |  (SELECT n FROM np) AS n_probes,
       |  COALESCE(f.n_fp, 0) AS n_fp,
       |  CAST(COALESCE(f.n_fp, 0) * 1000000 // (SELECT n FROM np)
       |    AS BIGINT) AS fp_ppm
       |FROM plans p LEFT JOIN fpc f
       |  ON f.bits_per_key = p.bits_per_key AND f.k = p.k
       |ORDER BY p.bits_per_key""".stripMargin
  }

  /* Forty-first wave (round 10): three distributed-systems planning
    * operators —
    *
    *  - q277: CONSISTENT-HASH RING AUDIT — the K2-sharding design
    *    question asked before any resharding: with 8 nodes × 16 vnodes
    *    on a 2⁴⁸ md5 ring, how balanced are the key assignments, and
    *    what fraction of keys move when node 8 joins? Assignment is the
    *    ring-successor rule (smallest vnode position ≥ the key's
    *    position, wrapping to the global min), computed WITHOUT a
    *    theta join: the ≤144 vnode positions are a driver-side literal
    *    array, the successor is `array_min(filter(...))` inside
    *    whole-stage codegen, and only the (position → node) attribution
    *    is a broadcast join. Consistent hashing's contract — ~1/(n+1)
    *    of keys move, only TO the new node — is what the oracle checks,
    *    and the spec asserts the no-stray-movement invariant directly.
    *  - q278: NEYMAN ALLOCATION — stratified-sampling design (allocate
    *    n=10 000 samples ∝ N_h·σ_h) entirely in gateable integers:
    *    per-stratum variance from DECIMAL(38,0) moment sums, σ as the
    *    corrected-floor integer sqrt (q162's device), and the final
    *    allocation by largest-remainder apportionment (q175's device,
    *    ties to the stratum name) so the parts sum to n exactly.
    *  - q279: WATERMARK-DELAY PLANNER — picks the allowed-lateness a
    *    streaming job should configure: per-entity event-time disorder
    *    (lateness vs the running per-key max over arrival order, q233's
    *    domain) is priced against a bounded candidate-delay table, and
    *    each delay reports its completeness ppm plus whether it is the
    *    MINIMAL candidate meeting the 99.9% completeness target —
    *    exactly the trade a `withWatermark` duration encodes.
    *
    * Scale shapes: q277 touches each key twice with a 144-element
    * codegen'd array probe (no join fan-out); q278 is one map-side
    * moment aggregate to a 5-row stratum table; q279 is one partitioned
    * running-max window + a 6-row broadcast delay table. */

  // ------------------------------------------------------------- q277

  private val RingNodes = 8
  private val RingVnodes = 16

  /** 48-bit md5-prefix ring position of a label (both engines state
    * the identical arithmetic). */
  private def md5pos(tag: String): org.apache.spark.sql.Column =
    expr(s"CAST(conv(substring(md5($tag), 1, 12), 16, 10) AS BIGINT)")

  private def qHashRing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def vnodeTable(nNodes: Int): DataFrame =
      (0 until nNodes).flatMap(n => (0 until RingVnodes).map(v => (n, v)))
        .toDF("node", "vn")
        .select(col("node"),
          md5pos("concat('n', node, '|v', vn)").as("pos"))
    val vn8 = vnodeTable(RingNodes)
    val vn9 = vnodeTable(RingNodes + 1)
    // bounded collect: ring metadata (<= 144 vnode positions) ->
    // driver literals for the codegen array probe
    def posArray(vn: DataFrame): String =
      vn.select(col("pos")).collect().map(_.getLong(0)).sorted
        .mkString("array(", "L,", "L)")
    val arr8 = posArray(vn8)
    val arr9 = posArray(vn9)
    val keys = load(s, dir, "lineitem")
      .select(col("l_orderkey")).distinct()
      .withColumn("kpos", md5pos("concat('k|', l_orderkey)"))
      // ring successor: smallest vnode position >= kpos, wrap to min
      .withColumn("apos8", expr(
        s"coalesce(array_min(filter($arr8, p -> p >= kpos)), " +
          s"array_min($arr8))"))
      .withColumn("apos9", expr(
        s"coalesce(array_min(filter($arr9, p -> p >= kpos)), " +
          s"array_min($arr9))"))
    val assigned = keys
      .join(broadcast(vn8.select(col("pos").as("apos8"),
        col("node").as("node8"))), Seq("apos8"))
      .join(broadcast(vn9.select(col("pos").as("apos9"),
        col("node").as("node9"))), Seq("apos9"))
    val ap = graft.util.Pin(assigned
      .select(col("l_orderkey"), col("node8"), col("node9")))
    val moved = ap.agg(
      count(lit(1)).as("n_keys"),
      coalesce(sum(when(col("node8") =!= col("node9"), 1L)
        .otherwise(0L)), lit(0L)).as("n_moved"))
      .select(col("n_keys"), col("n_moved"),
        expr("n_moved * 1000000 div n_keys").as("moved_ppm"))
    val before = ap.groupBy(col("node8").as("node"))
      .agg(count(lit(1)).as("keys_before"))
    val after = ap.groupBy(col("node9").as("node"))
      .agg(count(lit(1)).as("keys_after"))
    after.join(before, Seq("node"), "left")
      .select(col("node").cast(LongType).as("node"),
        coalesce(col("keys_before"), lit(0L)).as("keys_before"),
        col("keys_after"))
      .crossJoin(broadcast(moved)) // one-row totals frame
      .orderBy(col("node"))
  }

  private val qHashRingSql = {
    def vn(n: Int) =
      s"""SELECT node, CAST(('0x' || substring(
         |    md5('n' || node || '|v' || vn), 1, 12)) AS BIGINT) AS pos
         |  FROM range(0, $n) t1(node), range(0, $RingVnodes) t2(vn)"""
        .stripMargin
    s"""WITH vn8 AS MATERIALIZED (__VN8__),
       |vn9 AS MATERIALIZED (__VN9__),
       |k AS (
       |  SELECT DISTINCT l_orderkey,
       |    CAST(('0x' || substring(md5('k|' || l_orderkey), 1, 12))
       |      AS BIGINT) AS kpos
       |  FROM lineitem),
       |a AS MATERIALIZED (
       |  SELECT l_orderkey,
       |    COALESCE((SELECT MIN(pos) FROM vn8 WHERE pos >= k.kpos),
       |      (SELECT MIN(pos) FROM vn8)) AS apos8,
       |    COALESCE((SELECT MIN(pos) FROM vn9 WHERE pos >= k.kpos),
       |      (SELECT MIN(pos) FROM vn9)) AS apos9
       |  FROM k),
       |asg AS MATERIALIZED (
       |  SELECT a.l_orderkey, v8.node AS node8, v9.node AS node9
       |  FROM a JOIN vn8 v8 ON v8.pos = a.apos8
       |         JOIN vn9 v9 ON v9.pos = a.apos9),
       |mv AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |    CAST(COALESCE(SUM(CASE WHEN node8 <> node9 THEN 1 ELSE 0
       |      END), 0) AS BIGINT) AS n_moved
       |  FROM asg),
       |b AS (SELECT node8 AS node, CAST(COUNT(*) AS BIGINT)
       |        AS keys_before FROM asg GROUP BY 1),
       |af AS (SELECT node9 AS node, CAST(COUNT(*) AS BIGINT)
       |        AS keys_after FROM asg GROUP BY 1)
       |SELECT CAST(af.node AS BIGINT) AS node,
       |  COALESCE(b.keys_before, 0) AS keys_before, af.keys_after,
       |  mv.n_keys, mv.n_moved,
       |  CAST(mv.n_moved * 1000000 // mv.n_keys AS BIGINT) AS moved_ppm
       |FROM af LEFT JOIN b ON b.node = af.node, mv
       |ORDER BY node""".stripMargin
      .replace("__VN8__", vn(RingNodes))
      .replace("__VN9__", vn(RingNodes + 1))
  }

  // ------------------------------------------------------------- q290

  /** (edge id, child table, child col, parent table, parent col).
    * The last row is the deliberate false-positive control. */
  private val FkCandidates = Seq(
    ("li_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("li_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("li_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_cust", "orders", "o_custkey", "customer", "c_custkey"),
    ("cust_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supp_as_part_CTRL", "lineitem", "l_suppkey", "part", "p_partkey"))

  private def qFkDiscovery(s: SparkSession, dir: String): DataFrame = {
    val edges = FkCandidates.map {
      case (id, ct, cc, pt, pc) =>
        val child = load(s, dir, ct)
          .select(col(cc).cast(LongType).as("v")).distinct()
        val parent = load(s, dir, pt)
          .select(col(pc).cast(LongType).as("v"))
        val pStats = parent.agg(count(lit(1)).as("p_rows"),
          countDistinct(col("v")).as("p_distinct"))
        val shared = child.join(parent.distinct(), Seq("v"), "left_semi")
          .agg(count(lit(1)).as("d_shared"))
        val dChild = child.agg(count(lit(1)).as("d_child"))
        dChild.crossJoin(broadcast(shared)) // one-row per-edge scalars
          .crossJoin(broadcast(pStats))
          .select(lit(id).as("edge"),
            col("d_child"), col("d_shared"),
            expr("d_shared * 1000000 div d_child").as("containment_ppm"),
            (col("p_rows") === col("p_distinct")).as("parent_unique"),
            expr("d_shared * 1000000 div p_distinct").as("coverage_ppm"))
          .withColumn("is_fk_candidate",
            col("containment_ppm") === 1000000L && col("parent_unique"))
    }
    edges.reduce(_ unionByName _).orderBy(col("edge"))
  }

  private val qFkDiscoverySql = {
    val rows = FkCandidates.map { case (id, ct, cc, pt, pc) =>
      s"""SELECT '$id' AS edge,
         |  (SELECT CAST(COUNT(DISTINCT $cc) AS BIGINT) FROM $ct)
         |    AS d_child,
         |  (SELECT CAST(COUNT(DISTINCT c.$cc) AS BIGINT) FROM $ct c
         |     WHERE c.$cc IN (SELECT $pc FROM $pt)) AS d_shared,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $pt) AS p_rows,
         |  (SELECT CAST(COUNT(DISTINCT $pc) AS BIGINT) FROM $pt)
         |    AS p_distinct""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT edge, d_child, d_shared,
       |  CAST(d_shared * 1000000 // d_child AS BIGINT)
       |    AS containment_ppm,
       |  p_rows = p_distinct AS parent_unique,
       |  CAST(d_shared * 1000000 // p_distinct AS BIGINT)
       |    AS coverage_ppm,
       |  d_shared * 1000000 // d_child = 1000000
       |    AND p_rows = p_distinct AS is_fk_candidate
       |FROM ($rows)
       |ORDER BY edge""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q166_table_fingerprint" -> QueryDef(qTableFingerprint,
      Some(qTableFingerprintSql),
      "additive order-independent table fingerprint (reconciliation)"),
    "q167_malformed_routing" -> QueryDef(qMalformedRouting,
      Some(qMalformedRoutingSql),
      "malformed-JSON routing: PERMISSIVE parse, DLQ counts, good-row agg"),
    "q239_fd_violations" -> QueryDef(qFdViolations, Some(qFdViolationsSql),
      "functional-dependency violation audit with minimal-repair counts"),
    "q267_ri_audit" -> QueryDef(qRiAudit, Some(qRiAuditSql),
      "referential-integrity audit over the star schema's five FK " +
        "edges: orphan counts, ppm, repair exemplars"),
    "q269_merkle_digest" -> QueryDef(qMerkleDigest, Some(qMerkleDigestSql),
      "Merkle range-digest tree (64 leaves / 8 mids / root) in one " +
        "rollup pass — the replica anti-entropy comparison primitive"),
    "q271_merkle_repair" -> QueryDef(qMerkleRepair, Some(qMerkleRepairSql),
      "Merkle anti-entropy repair plan: 64-leaf digest trees over " +
        "source vs snapshot replica file-state, divergent-leaf " +
        "drill-down, missing tx windows through the A1 range-merge " +
        "aggregator into exact re-ship byte ranges"),
    "q276_bloom_audit" -> QueryDef(qBloomAudit, Some(qBloomAuditSql),
      "Bloom sizing audit, plan vs measured: double-hashing positions " +
        "emulated relationally on both engines, measured FP rate on a " +
        "disjoint probe keyspace per (bits/key, k) plan"),
    "q277_hash_ring" -> QueryDef(qHashRing, Some(qHashRingSql),
      "consistent-hash ring audit: 8x16-vnode md5 ring, successor " +
        "assignment via a codegen'd literal-array probe (no theta " +
        "join), balance per node and moved-key fraction when a ninth " +
        "node joins"),
    "q290_fk_discovery" -> QueryDef(qFkDiscovery, Some(qFkDiscoverySql),
      "foreign-key discovery by inclusion dependency: containment ppm " +
        "+ parent uniqueness + parent coverage per candidate edge, " +
        "with a deliberate nested-domain false-positive control"))
}
