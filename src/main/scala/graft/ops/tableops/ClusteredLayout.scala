package graft.ops
package tableops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HilbertIndex2, Morton}

/** The layout devices the q284/q287/q316 audits measure, as
  * user-callable operators: a space-filling-curve clustered writer with
  * a per-file zone-map manifest, and the scan that prunes on it.
  * Registers no query. */
object ClusteredLayout {

  /** Cluster `df` along a space-filling curve over `dims` integer
    * columns — the 2-D Hilbert expression for N = 2 (tightest boxes),
    * bit-interleave (Morton) for N > 2 at `min(16, 62/N)` bits per dim
    * (a 64-bit key holds up to N = 31 dims; beyond ~4 dims per-dim
    * resolution, not curve choice, dominates skipping quality). The per-file zone-map manifest
    * stores `<dim>_min`/`<dim>_max` for EVERY dim, so [[hilbertScan]]
    * prunes on any SUBSET of the dims — including a single-dim
    * predicate. Each of the `files` output files covers one contiguous
    * curve segment; the per-file zone map holds the real bounds read
    * back from the written files (the Delta/Iceberg stats analog).
    * Scale shape: one stats pass (one-row broadcast), one range shuffle
    * on the curve key, a per-partition sort, one aggregate over the
    * written files. */
  def writeClusteredLayout(df: DataFrame, dims: Seq[String],
      outDir: String, files: Int = 64): Unit = {
    require(dims.size >= 2, s"need >= 2 dims, got ${dims.mkString(",")}")
    val spark = df.sparkSession
    val mm = df.agg(
      min(col(dims.head)).cast("long").as(s"_mn0"),
      (max(col(dims.head)).cast("long").as(s"_mx0") +:
        dims.zipWithIndex.tail.flatMap { case (d, i) => Seq(
          min(col(d)).cast("long").as(s"_mn$i"),
          max(col(d)).cast("long").as(s"_mx$i")) }): _*)
    val bits =
      if (dims.size == 2) 16 else math.min(16, 62 / dims.size)
    val side = 1L << bits
    val scaled = df.crossJoin(broadcast(mm)) // one-row bounds scalar
      .transform { base =>
        dims.zipWithIndex.foldLeft(base) { case (acc, (d, i)) =>
          // scale in DECIMAL(38,0): the BIGINT form (range × 65535)
          // silently wraps for dim ranges ≥ ~2^47 and would quietly
          // destroy clustering quality (results stay exact only
          // because the scan re-filters) — round-12 advisory
          acc.withColumn(s"_h$i", expr(
            s"(CAST($d AS DECIMAL(38,0)) - _mn$i) * ${side - 1} " +
              s"div greatest(_mx$i - _mn$i, 1)"))
        }
      }
      .withColumn("_hk",
        if (dims.size == 2)
          HilbertIndex2(col("_h0"), col("_h1"))
        else Morton.key(
          dims.indices.map(i => col(s"_h$i")), bits))
    val helper = Seq("_hk") ++ dims.indices.map(i => s"_h$i") ++
      dims.indices.flatMap(i => Seq(s"_mn$i", s"_mx$i"))
    scaled.repartitionByRange(files, col("_hk"))
      .sortWithinPartitions(col("_hk"))
      .drop(helper: _*)
      .write.mode("overwrite").parquet(s"$outDir/data")
    // zone map from the files ON DISK, not the plan — what a lakehouse
    // reader would get from its stats manifest
    spark.read.parquet(s"$outDir/data")
      .groupBy(input_file_name().as("file"))
      .agg(min(col(dims.head)).as(s"${dims.head}_min"),
        (max(col(dims.head)).as(s"${dims.head}_max") +:
          dims.tail.flatMap(d => Seq(min(col(d)).as(s"${d}_min"),
            max(col(d)).as(s"${d}_max")))): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/zonemap")
  }

  /** Zone-map-pruned scan over a [[writeClusteredLayout]] table for a
    * conjunction of per-dim range predicates over ANY SUBSET of the
    * layout dims — a single-dim probe prunes on that dim's manifest
    * bounds alone (the curve keeps each file's per-dim spans narrow,
    * so 1-D predicates still skip; HilbertGraftApiSpec measures it).
    * Reads ONLY the files whose bounds intersect every predicate, then
    * applies the exact predicate on top. Returns (result, filesRead,
    * filesTotal). */
  def hilbertScan(spark: SparkSession, outDir: String,
      preds: Seq[(String, Long, Long)]): (DataFrame, Int, Int) = {
    require(preds.nonEmpty, "need at least one (dim, lo, hi) predicate")
    val zmDf = spark.read.parquet(s"$outDir/zonemap")
    val fields = zmDf.schema.fieldNames.toSet
    // Manifest back-compat (round-12 advisory): layouts written by the
    // pre-N-dim 2-D writer carry FIXED `xmin/xmax/ymin/ymax`
    // columns (always 2-D, dimX→x / dimY→y in call order) instead of
    // the current `<dim>_min`/`<dim>_max`. Map positionally for those —
    // and because a legacy manifest records no dim names, demand both
    // predicates so position is unambiguous.
    val legacy = !fields.contains(s"${preds.head._1}_min") &&
      fields.contains("xmin")
    if (legacy) require(preds.size == 2,
      "legacy 2-column zone map (xmin/xmax/ymin/ymax) records no dim " +
        "names; probe it with exactly the two (dimX, dimY) predicates " +
        "in write order")
    def bounds(d: String, i: Int): (String, String) =
      if (!legacy) (s"${d}_min", s"${d}_max")
      else if (i == 0) ("xmin", "xmax") else ("ymin", "ymax")
    // bounded collect: the zone-map manifest has one row per data file,
    // capped by the `files` count chosen at write time (default 64)
    val zm = zmDf.collect()
    // bounds columns inherit the DATA's dim type (IntegerType dims are
    // accepted by writeClusteredLayout) — read via Number, not a Long cast
    def nl(r: org.apache.spark.sql.Row, c: String): Long =
      r.getAs[Number](c).longValue()
    val hit = zm.filter { r =>
      preds.zipWithIndex.forall { case ((d, lo, hi), i) =>
        val (mn, mx) = bounds(d, i)
        nl(r, mx) >= lo && nl(r, mn) <= hi }
    }.map(_.getAs[String]("file"))
    val result =
      if (hit.isEmpty) spark.read.parquet(s"$outDir/data").limit(0)
      else spark.read.parquet(hit.toIndexedSeq: _*)
    val exact = preds.map { case (d, lo, hi) => col(d).between(lo, hi) }
      .reduce(_ && _)
    (result.filter(exact), hit.length, zm.length)
  }
}
