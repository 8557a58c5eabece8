package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q99,q100 runs the named
    // prefix subset. Unset (the driver's invocation) runs everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes backslash, quote and every control char, so a tab
    // or CR in builder-authored SQL cannot break the driver's json.load
    val json = util.Json.mapper.createObjectNode()
    SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .foreach { case (k, v) => json.put(k, v) }
    util.Json.mapper.writeValue(new java.io.File(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
