package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes a larger scale-factor directory from an existing one by
  * unioning k key-shifted replicas (`key' = key*k + i`, applied to BOTH
  * sides of every join key, so join cardinalities scale linearly like a
  * real TPC-H SF step; region/nation stay constant like real TPC-H
  * dims). Near-dup-sensitive columns are remapped per replica so the
  * duplicate STRUCTURE replicates instead of exploding quadratically
  * across replicas:
  *  - document words get a per-replica prefix (replica word spaces are
  *    disjoint — shingle/word-set/simhash relations stay within a
  *    replica, which also makes the corpus effectively multi-"language",
  *    the realistic shape of a 100-TB crawl);
  *  - embedding vectors are rotated by i positions (norm-preserving,
  *    breaks exact cross-replica ties, keeps coordinate distributions).
  *
  * BENCH-ONLY data: the DuckDB oracle never runs against it; it exists
  * to measure per-query scaling exponents (BASELINE.md records them).
  *
  * Usage: `sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10"`
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, kS) = args
    val k = kS.toInt
    val spark = GraftSession.local()

    // source through Tables.load so events.ts lands as a REAL timestamp
    // in the output (Tables.load normalizes both generator vintages —
    // nanos-as-long and micros-NTZ — to TimestampType), making the
    // scaled directory oracle-runnable too
    def src(t: String): DataFrame = Tables.load(spark, srcDir, t)
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit =
      write((0 until k).map(i => f(src(t), i)).reduce(_ unionAll _), t)

    write(src("region"), "region")
    write(src("nation"), "nation")
    replicate("customer")((d, i) => d.withColumn("c_custkey", col("c_custkey") * k + i))
    replicate("supplier")((d, i) => d.withColumn("s_suppkey", col("s_suppkey") * k + i))
    replicate("part")((d, i) => d.withColumn("p_partkey", col("p_partkey") * k + i))
    replicate("orders")((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") * k + i)
      .withColumn("o_custkey", col("o_custkey") * k + i))
    replicate("lineitem")((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") * k + i)
      .withColumn("l_partkey", col("l_partkey") * k + i)
      .withColumn("l_suppkey", col("l_suppkey") * k + i))
    replicate("events")((d, i) => d
      .withColumn("event_id", col("event_id") * k + i)
      .withColumn("user_id", col("user_id") * k + i))
    replicate("documents")((d, i) => d
      .withColumn("doc_id", col("doc_id") * k + i)
      .withColumn("text",
        if (i == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(lit(s"x$i"), w)), " ")))
    replicate("embeddings")((d, i) => d
      .withColumn("vec_id", col("vec_id") * k + i)
      .withColumn("embedding", {
        // rotate by i mod dim — a rotation past the vector length would
        // slice negative and kill the job at k > dim; replicas whose
        // rotation wraps to 0 duplicate replica 0's vectors exactly,
        // which real corpora also contain
        val dim = 64
        val r = i % dim
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), lit(r + 1), size(col("embedding")) - r),
          slice(col("embedding"), lit(1), lit(r)))
      }))

    System.err.println(s"[scaleup] wrote ${k}x $srcDir to $dstDir")
    spark.stop()
  }
}
