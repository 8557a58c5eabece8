package graft.ops
package curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** Record linkage: URL canonicalization, blocking, fuzzy joins and golden
  * records. */
object EntityResolution {

  // ------------------------------------------------------------- q186

  /** q186: URL CANONICALIZATION + DEDUP — web-corpus hygiene: the same
    * page arrives once as its canonical URL and once utm-tagged from a
    * feed; normalization (lowercase scheme+host, strip default :443
    * port, drop the fragment, remove `utm_*` tracking params while
    * KEEPING meaningful ones) must collapse the pair. The corpus has
    * no URL column, so both arrival forms are synthesized
    * deterministically per document — the operator under test is the
    * canonicalizer, a pure projection + higher-order array filter that
    * runs scan-parallel at any scale; the dedup is one groupBy on the
    * canonical key. Gate: per source, raw count = 2× canonical count,
    * and every canonical URL carries exactly 2 raw forms. */
  private def qUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        concat(lit("HTTPS://"), upper(col("source")),
          lit(".Example.COM:443/"), col("lang"), lit("/doc/"), col("doc_id"),
          lit("?ref="), pmod(col("doc_id"), lit(7)), lit("#sec")).as("u1"),
        concat(lit("https://"), col("source"),
          lit(".example.com/"), col("lang"), lit("/doc/"), col("doc_id"),
          lit("?utm_source=feed&ref="), pmod(col("doc_id"), lit(7)),
          lit("&utm_campaign=w7")).as("u2"))
    val raw = d.select(col("source"), col("doc_id"),
      explode(array(col("u1"), col("u2"))).as("url"))
    val norm = raw
      // scheme+host+port: lowercase, strip default https port
      .withColumn("base", regexp_replace(
        lower(regexp_extract(col("url"), "^([^?#]*)", 1)), ":443/", "/"))
      .withColumn("qs", regexp_extract(col("url"), "\\?([^#]*)", 1))
      .withColumn("keep", expr(
        "array_join(filter(split(qs, '&'), p -> p NOT LIKE 'utm_%'), '&')"))
      .withColumn("canon", when(col("keep") === "", col("base"))
        .otherwise(concat(col("base"), lit("?"), col("keep"))))
    norm.groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("canon")).as("n_canonical"),
        countDistinct(when(col("url") === col("canon"), col("canon")))
          .as("n_already_canonical"))
      .withColumn("all_pairs_collapsed",
        col("n_raw") === col("n_canonical") * 2)
      .orderBy(col("source"))
  }

  private val qUrlNormalizeSql =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    'HTTPS://' || upper(source) || '.Example.COM:443/' || lang ||
      |      '/doc/' || doc_id || '?ref=' || (doc_id % 7) || '#sec' AS u1,
      |    'https://' || source || '.example.com/' || lang || '/doc/' ||
      |      doc_id || '?utm_source=feed&ref=' || (doc_id % 7) ||
      |      '&utm_campaign=w7' AS u2
      |  FROM documents),
      |raw AS (
      |  SELECT source, doc_id, unnest([u1, u2]) AS url FROM d),
      |n AS (
      |  SELECT source, url,
      |    replace(lower(regexp_extract(url, '^([^?#]*)', 1)),
      |      ':443/', '/') AS base,
      |    regexp_extract(url, '\?([^#]*)', 1) AS qs
      |  FROM raw),
      |k AS (
      |  SELECT source, url, base,
      |    array_to_string(list_filter(string_split(qs, '&'),
      |      p -> p NOT LIKE 'utm_%'), '&') AS keep
      |  FROM n),
      |c AS (
      |  SELECT source, url,
      |    CASE WHEN keep = '' THEN base
      |         ELSE base || '?' || keep END AS canon
      |  FROM k)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw,
      |  CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical,
      |  CAST(COUNT(DISTINCT CASE WHEN url = canon THEN canon END)
      |    AS BIGINT) AS n_already_canonical,
      |  COUNT(*) = COUNT(DISTINCT canon) * 2 AS all_pairs_collapsed
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /* Tenth wave (round 7): entity resolution — the record-linkage
    * operator family (canonicalize → block → score → link → quality
    * audit), distinct from text near-dup: keys are STRUCTURED fields,
    * and the engineering problem is keeping the pair space sub-quadratic
    * while provably bounding what the blocking can miss. */

  /** q200: ENTITY RESOLUTION with canonicalize-then-link + multi-pass
    * blocking + quality audit. A "dirty" duplicate of every customer
    * record is synthesized deterministically (case-noised name,
    * balance off by custkey%5−2 cents, and — for custkey%7=0 — a
    * WRONG nation, the records no same-nation blocking can reach).
    *
    * The reference side is CANONICALIZED first (exact dedup on the
    * field tuple, min-key representative): linking against raw
    * references makes the candidate space grow as duplication², the
    * classic ER scale trap (measured here: the 100× directory clones
    * every customer 100-fold and a raw-side link blew up 39× per
    * decade); against canonical entities the block sizes are
    * independent of duplication and the join is linear in the dirty
    * side. Blocking runs two passes on (nation, segment, 10-dollar
    * balance bucket), the second with buckets shifted half a width: a
    * ±2-cent perturbation can cross one bucket boundary but never both
    * (boundary families are ≥498 cents apart), so within-nation truth
    * is captured by construction and the measured recall shortfall is
    * EXACTLY the wrong-nation injections. A candidate links when the
    * case-folded names agree and the balances are within 2 cents; a
    * link is TRUE when it lands on the canonical representative of the
    * dirty record's own source group.
    *
    * Scale shape: canonicalization is one map-side-combinable groupBy;
    * candidates form only inside (nation, segment, bucket, pass)
    * blocks with a deduplicated canonical side — never clean×dirty;
    * the truth lookup is one equi-join on the field tuple. */
  private def qEntityResolution(s: SparkSession, dir: String): DataFrame = {
    val clean = load(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("nm"),
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"))
    val canon = clean.groupBy(col("nm"), col("nat"), col("seg"), col("cents"))
      .agg(min(col("key")).as("canon_key"))
    val dirty = clean
      .select(col("key"), upper(col("nm")).as("nm"),
        when(pmod(col("key"), lit(7)) === 0, pmod(col("nat") + 1, lit(25)))
          .otherwise(col("nat")).as("nat"),
        col("seg"),
        (col("cents") + pmod(col("key"), lit(5)) - 2).as("cents"))
    // each dirty record's expected canonical rep: via its own clean row
    val expected = clean.join(canon, Seq("nm", "nat", "seg", "cents"))
      .select(col("key").as("b_key"), col("canon_key").as("expected_key"))
    def blocks(side: DataFrame, pfx: String, keyCol: String) = {
      def pass(p: Long, shift: Long) = side.select(
        col(keyCol).as(s"${pfx}_key"), col("nm").as(s"${pfx}_nm"),
        col("cents").as(s"${pfx}_cents"), col("nat"), col("seg"),
        lit(p).as("pass"), expr(s"(cents + $shift) div 1000").as("bkt"))
      pass(0L, 0L).unionByName(pass(1L, 500L))
    }
    val cand = blocks(canon, "a", "canon_key")
      .join(blocks(dirty, "b", "key"), Seq("nat", "seg", "pass", "bkt"))
      .select(col("nat"), col("a_key"), col("b_key"), col("a_nm"),
        col("b_nm"), col("a_cents"), col("b_cents"))
      .distinct()
    val scored = cand
      .withColumn("link",
        (lower(col("a_nm")) === lower(col("b_nm"))) &&
          abs(col("a_cents") - col("b_cents")) <= 2)
      .join(broadcast_safe(expected), Seq("b_key"), "left")
      .withColumn("true_link",
        col("link") && col("a_key") === col("expected_key"))
    val truth = clean.groupBy(col("nat"))
      .agg(count(lit(1)).as("n_dirty"))
    scored.groupBy(col("nat"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("link"), 1L).otherwise(0L)).as("n_links"),
        sum(when(col("true_link"), 1L).otherwise(0L)).as("n_true_links"))
      .join(truth, Seq("nat"), "right")
      .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
      .withColumn("n_links", coalesce(col("n_links"), lit(0L)))
      .withColumn("n_true_links", coalesce(col("n_true_links"), lit(0L)))
      .withColumn("precision_ppm", expr(
        "CASE WHEN n_links = 0 THEN 0L " +
          "ELSE n_true_links * 1000000 div n_links END"))
      .withColumn("recall_ppm",
        expr("n_true_links * 1000000 div n_dirty"))
      .select(col("nat").as("nation"), col("n_dirty"),
        col("n_candidates"), col("n_links"), col("precision_ppm"),
        col("recall_ppm"))
      .orderBy(col("nation"))
  }

  /** The expected-rep lookup is corpus-sized, not a broadcast dim —
    * plain shuffle join (named so the intent reads at the call site). */
  private def broadcast_safe(df: DataFrame): DataFrame = df

  private val qEntityResolutionSql =
    """WITH clean AS (
      |  SELECT c_custkey AS key, c_name AS nm,
      |    CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |  FROM customer),
      |canon AS (
      |  SELECT nm, nat, seg, cents, MIN(key) AS canon_key
      |  FROM clean GROUP BY 1, 2, 3, 4),
      |dirty AS (
      |  SELECT key, upper(nm) AS nm,
      |    CASE WHEN key % 7 = 0 THEN (nat + 1) % 25 ELSE nat END AS nat,
      |    seg, cents + key % 5 - 2 AS cents
      |  FROM clean),
      |expected AS (
      |  SELECT clean.key AS b_key, canon.canon_key AS expected_key
      |  FROM clean JOIN canon USING (nm, nat, seg, cents)),
      |ab AS (
      |  SELECT canon_key AS a_key, nm, cents, nat, seg, 0 AS pass,
      |    cents // 1000 AS bkt FROM canon
      |  UNION ALL
      |  SELECT canon_key AS a_key, nm, cents, nat, seg, 1 AS pass,
      |    (cents + 500) // 1000 AS bkt FROM canon),
      |bb AS (
      |  SELECT key AS b_key, nm, cents, nat, seg, 0 AS pass,
      |    cents // 1000 AS bkt FROM dirty
      |  UNION ALL
      |  SELECT key AS b_key, nm, cents, nat, seg, 1 AS pass,
      |    (cents + 500) // 1000 AS bkt FROM dirty),
      |cand AS (
      |  SELECT DISTINCT a.nat, a.a_key, b.b_key,
      |    a.nm AS a_nm, b.nm AS b_nm,
      |    a.cents AS a_cents, b.cents AS b_cents
      |  FROM ab a JOIN bb b ON a.nat = b.nat AND a.seg = b.seg
      |    AND a.pass = b.pass AND a.bkt = b.bkt),
      |scored AS (
      |  SELECT c.nat, c.a_key, c.b_key,
      |    lower(a_nm) = lower(b_nm) AND abs(a_cents - b_cents) <= 2
      |      AS link,
      |    lower(a_nm) = lower(b_nm) AND abs(a_cents - b_cents) <= 2
      |      AND c.a_key = e.expected_key AS true_link
      |  FROM cand c LEFT JOIN expected e ON c.b_key = e.b_key),
      |agg AS (
      |  SELECT nat, CAST(COUNT(*) AS BIGINT) AS n_candidates,
      |    CAST(SUM(CASE WHEN link THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_links,
      |    CAST(SUM(CASE WHEN true_link THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_true_links
      |  FROM scored GROUP BY 1),
      |truth AS (
      |  SELECT nat, CAST(COUNT(*) AS BIGINT) AS n_dirty
      |  FROM clean GROUP BY 1)
      |SELECT truth.nat AS nation, n_dirty,
      |  COALESCE(n_candidates, 0) AS n_candidates,
      |  COALESCE(n_links, 0) AS n_links,
      |  CAST(CASE WHEN COALESCE(n_links, 0) = 0 THEN 0
      |       ELSE COALESCE(n_true_links, 0) * 1000000 // n_links END
      |    AS BIGINT) AS precision_ppm,
      |  CAST(COALESCE(n_true_links, 0) * 1000000 // n_dirty AS BIGINT)
      |    AS recall_ppm
      |FROM truth LEFT JOIN agg ON truth.nat = agg.nat
      |ORDER BY nation""".stripMargin

  /* Nineteenth wave (round 8): layout, retrieval, and interval
    * analytics — four operators a 100-TB platform runs around the core
    * curation pipeline, each built on a scale-safe device this round
    * hardened:
    *
    *  - q227: typo-tolerant vocabulary join (deletion-1 neighborhood
    *    blocking + exact Levenshtein verify — the FastSS device; the
    *    edit-distance complement of the shingle/minhash batteries).
    *  *  - q228: Z-ORDER layout audit (bit-interleaved clustering key +
    *    per-bucket extent report — the data-skipping layout check run
    *    before rewriting a 100-TB table's sort order).
    *  - q229: peak concurrent sessions via a DISTRIBUTED sweep-line —
    *    the interval staple, running on [[graft.util.Ranks.prefixSum]]
    *    instead of the per-group single-task window it classically
    *    compiles to.
    *  - q230: integer BM25-style retrieval over posting lists with a
    *    corpus-derived term set and TakeOrdered top-k.
    *
    * House rules throughout: integer/ppm exactness (no float in any
    * hashed column), deterministic ORDER BY + tie-breaks, DuckDB oracle
    * at every scale, unpartitioned windows only over audited bounded
    * tables. */

  // ------------------------------------------------------------- q227

  /** q227: TYPO-TOLERANT JOIN over the corpus vocabulary — all word
    * pairs at Levenshtein distance ≤ 1, found by DELETION-1
    * NEIGHBORHOOD blocking (FastSS k=1): each word emits itself plus
    * its single-character deletions; two words within distance 1 MUST
    * share a variant (substitution → same deletion at one position;
    * insertion/deletion → one word is a deletion of the other), so an
    * equi-join on the variant key finds every true pair, and an exact
    * `levenshtein` check discards hash-block false positives (distinct
    * words sharing a variant at distance 2, e.g. two different
    * substitutions at the same position are distance 2 but share that
    * position's deletion). The candidate set is equi-key bounded:
    * variants per word ≤ len+1, so the join is posting-list shaped —
    * never all-pairs. Name length capped to [4, 24]. Input: CUSTOMER
    * NAMES — a namespace dense in distance-1 neighborhoods (ids
    * differing in one digit), where the synthetic documents' word list
    * has none, so the verify stage does real work at every scale.
    * Output is the bounded top-20 names by neighbor count
    * (deterministic ties), not the pair list — the pair set grows with
    * the namespace. */
  private def qTypoJoin(s: SparkSession, dir: String): DataFrame = {
    val names = load(s, dir, "customer").select(col("c_name").as("w"))
      .distinct().filter(length(col("w")).between(4, 24))
    val variants = names.select(col("w"), explode(concat(
        array(col("w")),
        expr("transform(sequence(1, length(w)), " +
          "i -> concat(substring(w, 1, i - 1), substring(w, i + 1)))")))
      .as("v"))
    // verify BEFORE distinct: graft_within_edit1 is a one-pass native
    // predicate (the O(len^2) levenshtein DP on every candidate was
    // measured as the whole query cost), and the distinct then
    // deduplicates the smaller surviving set
    val pairs = variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.w") < col("b.w"))
      .select(col("a.w").as("wa"), col("b.w").as("wb"))
      .filter(graft.functions.WithinEdit1(col("wa"), col("wb")))
      .distinct()
    val neighbors = pairs.select(col("wa").as("w"))
      .unionByName(pairs.select(col("wb").as("w")))
      .groupBy(col("w")).agg(count(lit(1)).as("n_neighbors"))
    val ord = Seq(col("n_neighbors").desc, col("w").asc)
    neighbors.orderBy(ord: _*).limit(20)
      .withColumn("rk", row_number().over(Window.orderBy(ord: _*)))
      .select(col("rk"), col("w").as("name"), col("n_neighbors"))
      .orderBy(col("rk"))
  }

  private val qTypoJoinSql =
    """WITH names AS MATERIALIZED (
      |  SELECT DISTINCT c_name AS w FROM customer
      |  WHERE len(c_name) BETWEEN 4 AND 24),
      |variants AS MATERIALIZED (
      |  SELECT w, unnest(list_prepend(w,
      |    list_transform(range(1, len(w) + 1),
      |      i -> substr(w, 1, i - 1) || substr(w, i + 1)))) AS v
      |  FROM names),
      |pairs AS (
      |  SELECT DISTINCT a.w AS wa, b.w AS wb
      |  FROM variants a JOIN variants b
      |    ON a.v = b.v AND a.w < b.w),
      |ok AS (
      |  SELECT wa, wb FROM pairs WHERE levenshtein(wa, wb) <= 1),
      |nb AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_neighbors FROM (
      |    SELECT wa AS w FROM ok UNION ALL SELECT wb FROM ok) t
      |  GROUP BY 1),
      |top AS (
      |  SELECT * FROM nb ORDER BY n_neighbors DESC, w LIMIT 20)
      |SELECT CAST(row_number() OVER (ORDER BY n_neighbors DESC, w)
      |    AS INT) AS rk,
      |  w AS name, n_neighbors
      |FROM top ORDER BY rk""".stripMargin

  // ------------------------------------------------------------- q280

  /** itself + every single-character-deletion variant, tagged so the
    * join key carries the blocking nation. */
  private val DeletionVariants =
    "transform(sequence(0, length(c_name)), i -> CASE WHEN i = 0 " +
      "THEN c_name ELSE concat(substring(c_name, 1, i - 1), " +
      "substring(c_name, i + 1)) END)"

  /** Verified DISTINCT-name fuzzy pairs per nation: (c_nationkey,
    * name1 ≤ name2, dist ≤ 1); self-pairs (name1 == name2) mark
    * exact-duplicate groups. Shared by q280 (key expansion) and
    * q291's entity-resolution clustering. */
  private def fuzzyNamePairs(s: SparkSession, dir: String)
      : DataFrame = {
    val dn = graft.util.Pin(
      load(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_name"))
        .agg(count(lit(1)).as("cnt")))
    // explode the deletion-variant posting list ONCE and pin — both
    // sides of the blocking self-join read the same table
    val variants = graft.util.Pin(
      dn.select(col("c_nationkey"), col("c_name"),
        explode(expr(DeletionVariants)).as("v")))
    def side(tag: String): DataFrame =
      variants.withColumnRenamed("c_name", s"name$tag")
    // name1 == name2 keeps the self-pair (exact-duplicate groups);
    // name1 < name2 orients distinct-name pairs once
    side("1").join(side("2"), Seq("c_nationkey", "v"))
      .filter(col("name1") <= col("name2"))
      .select(col("c_nationkey"), col("name1"), col("name2"))
      .distinct() // a pair can share several deletion variants
      .withColumn("dist", levenshtein(col("name1"), col("name2"))
        .cast(LongType))
      .filter(col("dist") <= 1) // blocking is complete for d=1; verify
  }

  private def qFuzzyNameJoin(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    // collapse to DISTINCT (nation, name) before any blocking: record
    // linkage corpora carry duplicate-name groups (here: ScaleUp
    // replicas; in the wild: real exact dupes), and blocking on raw
    // rows makes every posting list |group|× longer and the candidate
    // join |group|²× wider for pairs that need no verify at all. The
    // name-level join is the verify stage; keys re-enter only in the
    // final output expansion, which is sized by the TRUE result.
    val cand = fuzzyNamePairs(s, dir)
    // expand verified NAME pairs back to key pairs (output-sized)
    def keys(tag: String): DataFrame =
      c.select(col("c_nationkey"), col("c_name").as(s"name$tag"),
        col("c_custkey").as(s"ka$tag"))
    cand.join(keys("1"), Seq("c_nationkey", "name1"))
      .join(keys("2"), Seq("c_nationkey", "name2"))
      // same-name groups: keep each unordered key pair once; distinct
      // names: every (ka1, ka2) appears exactly once already
      .filter(col("name1") =!= col("name2") || col("ka1") < col("ka2"))
      .select(
        least(col("ka1"), col("ka2")).as("k1"),
        greatest(col("ka1"), col("ka2")).as("k2"),
        when(col("ka1") < col("ka2"), col("name1"))
          .otherwise(col("name2")).as("name1"),
        when(col("ka1") < col("ka2"), col("name2"))
          .otherwise(col("name1")).as("name2"),
        col("dist"))
      .orderBy(col("k1"), col("k2"))
  }

  private val qFuzzyNameJoinSql =
    """SELECT a.c_custkey AS k1, b.c_custkey AS k2,
      |  a.c_name AS name1, b.c_name AS name2,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY k1, k2""".stripMargin

  /* Forty-seventh wave (round 10): the entity-resolution pipeline
    * COMPLETED —
    *
    *  - q291: GOLDEN-RECORD SELECTION (MDM survivorship). q280 finds
    *    likely-duplicate customer pairs; this query finishes the job a
    *    master-data system runs: collapse to (nation, name) group nodes
    *    (node id = the group's min custkey — collision-free by
    *    construction), connect fuzzy-matched names with the shared
    *    [[Components]] star-contraction device, fold exact-duplicate
    *    groups and isolated nodes in (a singleton name node with 2+
    *    customers IS a duplicate cluster), and elect one canonical
    *    record per multi-member cluster by the stated survivorship
    *    rule: most orders, tie → lowest key. The DuckDB oracle states
    *    reachability declaratively (recursive CTE over the same
    *    name-node graph — the q52 third-formulation pattern), so Spark
    *    label propagation and SQL transitive closure must agree on
    *    every cluster id, member count, and elected record.
    *
    * Scale shape: the match stage is q280's vocab-sized distinct-name
    * blocking; the cluster stage runs on NAME-GROUP nodes (≤ |distinct
    * names|, not |customers|); survivorship is one keyed window over
    * cluster members. Measured structure at sf0.01: 1 500 name nodes,
    * 795 components, max component 17 — the name graph stays sparse at
    * every SF because nation blocks it. */

  // ------------------------------------------------------------- q291

  private def qGoldenRecord(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    // one node per (nation, name) group; id = the group's min custkey
    val nodes = graft.util.Pin(
      c.groupBy(col("c_nationkey"), col("c_name"))
        .agg(min(col("c_custkey")).as("nid")))
    def nk(tag: String): DataFrame =
      nodes.select(col("c_nationkey"), col("c_name").as(s"name$tag"),
        col("nid").as(s"nid$tag"))
    val edges = fuzzyNamePairs(s, dir)
      .filter(col("name1") < col("name2"))
      .join(nk("1"), Seq("c_nationkey", "name1"))
      .join(nk("2"), Seq("c_nationkey", "name2"))
      .select(col("nid1").as("a"), col("nid2").as("b"))
    // the edit-distance name graph is chain-prone by construction
    // (name_k ~ name_k+1 chains) — go straight to star contraction
    val comp = Components.connectedComponents(edges, preferStar = true)
    // isolated name nodes keep their own id as the cluster id
    val labeled = nodes
      .join(comp.select(col("id").as("nid"), col("component")),
        Seq("nid"), "left")
      .select(col("c_nationkey"), col("c_name"),
        coalesce(col("component"), col("nid")).as("cluster_id"))
    val ordc = load(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val members = c.join(labeled, Seq("c_nationkey", "c_name"))
      .join(ordc, col("c_custkey") === col("o_custkey"), "left")
      .select(col("cluster_id"), col("c_nationkey"), col("c_custkey"),
        col("c_name"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    val sizes = members.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    // survivorship: most orders, tie -> lowest key (keyed window)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_orders").desc, col("c_custkey").asc)
    members.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(sizes, Seq("cluster_id"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_id"),
        col("c_nationkey").cast(LongType).as("nation"),
        col("n_members"),
        col("c_custkey").as("canonical_key"),
        col("c_name").as("canonical_name"),
        col("n_orders").as("canonical_orders"))
      .orderBy(col("cluster_id"))
  }

  private val qGoldenRecordSql =
    """WITH RECURSIVE g AS (
      |  SELECT c_nationkey AS nat, c_name AS nm, MIN(c_custkey) AS nid
      |  FROM customer GROUP BY 1, 2),
      |p AS (
      |  SELECT a.nid AS a, b.nid AS b FROM g a JOIN g b
      |  ON a.nat = b.nat AND a.nm < b.nm
      |  WHERE levenshtein(a.nm, b.nm) <= 1),
      |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
      |reach AS (
      |  SELECT nid AS node, nid AS r FROM g
      |  UNION
      |  SELECT re.node, e.b AS r FROM reach re JOIN e ON e.a = re.r),
      |comp AS (SELECT node, MIN(r) AS cluster_id FROM reach
      |         GROUP BY node),
      |ordc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      |         FROM orders GROUP BY 1),
      |mem AS (
      |  SELECT comp.cluster_id, c.c_nationkey, c.c_custkey, c.c_name,
      |    COALESCE(ordc.n_orders, 0) AS n_orders
      |  FROM customer c
      |  JOIN g ON g.nat = c.c_nationkey AND g.nm = c.c_name
      |  JOIN comp ON comp.node = g.nid
      |  LEFT JOIN ordc ON ordc.o_custkey = c.c_custkey),
      |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      |       FROM mem GROUP BY 1),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY cluster_id
      |    ORDER BY n_orders DESC, c_custkey) AS rk
      |  FROM mem)
      |SELECT m.cluster_id, CAST(m.c_nationkey AS BIGINT) AS nation,
      |  sz.n_members, m.c_custkey AS canonical_key,
      |  m.c_name AS canonical_name,
      |  CAST(m.n_orders AS BIGINT) AS canonical_orders
      |FROM rk m JOIN sz USING (cluster_id)
      |WHERE m.rk = 1 AND sz.n_members >= 2
      |ORDER BY cluster_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q186_url_normalize" -> QueryDef(qUrlNormalize, Some(qUrlNormalizeSql),
      "URL canonicalization + dedup (utm strip, case/port/fragment) as a scan-parallel projection"),
    "q200_entity_resolution" -> QueryDef(qEntityResolution,
      Some(qEntityResolutionSql),
      "record linkage: canonicalize-then-link, multi-pass balance-bucket blocking, per-nation precision/recall"),
    "q227_typo_join" -> QueryDef(qTypoJoin, Some(qTypoJoinSql),
      "deletion-1 neighborhood blocking + exact Levenshtein<=1 verify"),
    "q280_fuzzy_name_join" -> QueryDef(qFuzzyNameJoin,
      Some(qFuzzyNameJoinSql),
      "edit-distance fuzzy entity-resolution join at Levenshtein <= 1 " +
        "via FastSS deletion-neighborhood blocking (complete for d=1), " +
        "candidate-scoped verify, never all-pairs"),
    "q291_golden_record" -> QueryDef(qGoldenRecord,
      Some(qGoldenRecordSql),
      "MDM golden-record selection: fuzzy-matched name groups " +
        "clustered via star-contraction components (name-node graph, " +
        "vocab-sized), exact-dup groups folded in, one canonical " +
        "record per multi-member cluster by most-orders/lowest-key " +
        "survivorship"))
}
