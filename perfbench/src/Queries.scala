package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `queries`: a closed loop over a fixed mix of registry queries, one at
  * a time, each forced through Spark's `noop` sink (every output column
  * is produced, nothing is collected). The tables are fixed, so each
  * query's result hash is pinned; the seed orders the mix. */
object Queries {
  val Mix: Seq[String] = Seq("q03", "q05", "q26", "q50", "q71", "q117", "q125", "q263")

  /** Order-independent hash of a result: row count and the sum of a
    * 64-bit hash of every row, doubles rounded to 9 decimals first. */
  def multisetHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`").cast(DoubleType), 9)
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def run(a: Args): Result = {
    val registry = graft.Registry.queries
    val mix = Mix.map(p => registry.keys.find(_.startsWith(p + "_"))
      .getOrElse(sys.error(s"query $p not in the registry")))
    val pinned: Map[String, String] = {
      val p = Paths.get(a.pins)
      if (!Files.exists(p)) Map.empty
      else "\"(q[0-9]+_[a-z0-9_]+)\"\\s*:\\s*\"([0-9:-]+)\"".r
        .findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
        .map(m => m.group(1) -> m.group(2)).toMap
    }
    // program-side preparation: the query tables' schemas
    val (spark, _, setups) = Session.setupReps(a.work, 3) { (s, _) =>
      graft.Tables.names.foreach(t => graft.Tables.load(s, a.tables, t).schema)
    }
    val tally = new TaskTally; spark.sparkContext.addSparkListener(tally)
    val tr = new Tracer(s"queries-${a.seed}")
    val rnd = new scala.util.Random(a.seed)

    Work.mark("set up")
    // correctness pass (also the warm-up): every query's multiset hash
    val hashes = mix.map { q =>
      val (n, h) = multisetHash(registry(q)(spark, a.tables))
      q -> s"$n:$h"
    }.toMap
    val wrong = mix.filter(q => !pinned.get(q).contains(hashes(q)))
    if (wrong.nonEmpty) System.err.println("[queries] hash mismatch (got vs pinned): " +
      wrong.map(q => s"$q ${hashes(q)} vs ${pinned.getOrElse(q, "-")}").mkString("; "))

    // measured passes: the mix in a seeded order, closed loop
    Work.mark("warm")
    val times = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val tracedTimes = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    var failed = 0L; var attempted = 0L
    val m = Work.measure(a.seconds, 1, a.trace, tr) { _ =>
      rnd.shuffle(mix).foreach { q =>
        val q0 = System.nanoTime()
        attempted += 1
        try tr.span(spark, s"ops.$q") {
          registry(q)(spark, a.tables).write.format("noop").mode("overwrite").save()
        } catch { case e: Exception =>
          failed += 1; System.err.println(s"[queries] $q failed: $e") }
        (if (tr.enabled) tracedTimes else times).getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - q0) / 1e9
      }
    }
    Work.mark("measured")
    val passes = m.plain
    val tracedPasses = m.traced

    val all = times.values.flatten.toSeq
    val perQuery = times.map { case (q, xs) => q -> Stats.median(xs) }
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "throughput_per_s" -> all.size / all.sum,
      "latency_p50_ms" -> Stats.pct(all, 0.5) * 1e3,
      "latency_p95_ms" -> Stats.pct(all, 0.95) * 1e3,
      "peak_rss_mb" -> Stats.peakRssMb(),
      "total_s" -> Stats.median(passes),
      "geomean_s" -> Stats.geomean(perQuery.values))
    val nT = math.max(1, tracedPasses.size).toDouble
    val opsTally = tally.metrics(_.startsWith("ops."))
    val layers = tracedTimes.map { case (q, xs) =>
        s"ops.${q.takeWhile(_ != '_')}.s" -> Stats.median(xs) } ++ Map(
      "ops.jobs" -> tally.jobs(_.startsWith("ops.")) / nT,
      "ops.tasks" -> opsTally("spark.tasks") / nT,
      "ops.shuffle_bytes" -> opsTally("spark.shuffle_write_bytes") / nT,
      "ops.spill_bytes" -> opsTally("spark.spill_bytes") / nT) ++
      opsTally.map { case (k, v) => k -> v / nT } ++
      Layers.traceSummary(tr, tracedPasses, passes)
    if (a.trace) tr.writeJson(s"${a.out}.spans.json")
    val res = Result(wrong.isEmpty && failed == 0, attempted, failed, e2e, layers.toMap,
      Map("passes" -> passes.size.toString, "traced_passes" -> tracedPasses.size.toString,
        "hashes" -> mix.map(q => s"$q=${hashes(q)}").mkString(","),
        "query_s" -> perQuery.toSeq.sortBy(-_._2).map { case (q, t) => f"$q=$t%.3f" }.mkString(",")))
    spark.stop()
    res
  }
}
