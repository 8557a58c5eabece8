package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Command line of one benchmark run (see perfbench/README.md). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, scale: Double,
    tables: String, pins: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", req("work"), req("out"),
      m.getOrElse("scale", "1").toDouble, m.getOrElse("tables", ""),
      m.getOrElse("pins", ""))
  }
}

/** What a workload hands back: the correctness verdict, the failure
  * denominator, end-to-end metrics and (traced runs) per-layer metrics.
  * `notes` is free-form detail written beside the result. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    notes: Map[String, String] = Map.empty)

object Session {
  /** The one session shape every workload uses: `local[4]`, the
    * registry's session settings, and every scratch location inside the
    * run's work directory. */
  def start(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up `reps` times and time each: the first repetition starts the
    * Spark context and a session, later ones a fresh session on the same
    * context (`newSession`, after `teardown` of what the previous `prep`
    * made); each then runs `prep`. The last session and its prepared
    * state are kept. */
  def setupReps[T](work: String, reps: Int)(prep: (SparkSession, Int) => T)
      : (SparkSession, T, Seq[Double]) = setupReps(work, reps, (_: T) => ())(prep)

  def setupReps[T](work: String, reps: Int, teardown: T => Unit)(
      prep: (SparkSession, Int) => T): (SparkSession, T, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: (SparkSession, T) = null
    for (i <- 0 until reps) {
      if (last != null) teardown(last._2)
      val t0 = System.nanoTime()
      val spark = if (last == null) start(work) else last._1.newSession()
      val v = prep(spark, i)
      times += (System.nanoTime() - t0) / 1e9
      last = (spark, v)
    }
    (last._1, last._2, times.toSeq)
  }
}

object Stats {
  /** Nearest-rank percentile, q in [0, 1]. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(f => Files.isRegularFile(f))
        .map(f => scala.util.Try(Files.size(f)).getOrElse(0L)).sum
      finally st.close()
    }
}

/** Span recorder. Spans are kept in memory and written once at the
  * end; each carries name, start, end, parent and the run id. When
  * tracing is off `span` just runs its body. The Spark local property
  * `perfbench.span` ties jobs to the enclosing span (see [[TaskTally]]). */
final class Tracer(val runId: String) {
  @volatile var enabled: Boolean = false
  final case class Span(id: Int, name: String, parent: Int, unit: String,
      lane: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val ids = new AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  @volatile var unit: String = ""

  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", s"$id:$name")
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, parent, unit, Thread.currentThread().getName, t0,
          System.nanoTime()))
        stack.set(stack.get().tail)
        sc.setLocalProperty("perfbench.span", prevProp)
      }
    }

  /** Force a lazy layer output at a span boundary (traced runs only):
    * cache plus count, so the layer's work lands in its own span. */
  def boundary[T](ds: Dataset[T]): Long =
    if (!enabled) -1L
    else { ds.persist(StorageLevel.MEMORY_AND_DISK); ds.count() }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Wall time of the given units that no top-level span of the
    * driving thread claims. */
  def unattributed(unitWall: Map[String, Double]): Double = {
    val claimed = spans.filter(s => s.parent == 0 && s.lane == "main").groupBy(_.unit)
      .map { case (u, ss) => u -> ss.map(_.seconds).sum }
    unitWall.map { case (u, w) => w - claimed.getOrElse(u, 0.0) }.sum
  }

  /** Self time per span name: duration minus the time its children cover. */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val childSum = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum }
  }

  def writeJson(path: String): Unit = {
    val body = spans.map { s =>
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},"unit":"${s.unit}","lane":"${s.lane}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}

/** Task-metric tally per span (jobs carry the span through the
  * `perfbench.span` local property). */
final class TaskTally extends SparkListener {
  final class Acc {
    var tasks, failures, runMs, cpuNs, gcMs, shRead, shWrite, spill = 0L
    var jobs, stages = 0L
  }
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val bySpan = new ConcurrentHashMap[String, Acc]()
  private def acc(span: String): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty("perfbench.span"))).map(_.split(":", 2)(1))
      .getOrElse("-")
    e.stageIds.foreach(s => stageSpan.put(s, span))
    acc(span).synchronized { acc(span).jobs += 1 }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageInfo.stageId, "-"))
    a.synchronized { a.stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, "-"))
    a.synchronized {
      a.tasks += 1
      if (!e.taskInfo.successful) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The `spark.*` per-layer metrics summed over the given spans
    * (all spans when `only` is empty). */
  def metrics(only: String => Boolean = _ => true): Map[String, Double] = {
    val as = bySpan.asScala.collect { case (k, v) if only(k) => v }
    def s(f: Acc => Long): Double = as.map(f).sum.toDouble
    Map(
      "spark.tasks" -> s(_.tasks),
      "spark.task_failures" -> s(_.failures),
      "spark.executor_run_s" -> s(_.runMs) / 1e3,
      "spark.executor_cpu_s" -> s(_.cpuNs) / 1e9,
      "spark.gc_s" -> s(_.gcMs) / 1e3,
      "spark.shuffle_read_bytes" -> s(_.shRead),
      "spark.shuffle_write_bytes" -> s(_.shWrite),
      "spark.spill_bytes" -> s(_.spill))
  }

  def jobs(only: String => Boolean): Double =
    bySpan.asScala.collect { case (k, v) if only(k) => v.jobs }.sum.toDouble
}

/** Per-layer bookkeeping shared by the workloads. */
object Layers {
  /** `trace.overhead_ratio` (median traced unit ÷ median untraced
    * unit, same run) and `trace.unattributed_s` per traced unit. */
  def traceSummary(tr: Tracer, traced: Map[String, Double],
      plain: Seq[Double]): Map[String, Double] =
    if (traced.isEmpty) Map.empty
    else Map(
      "trace.overhead_ratio" -> Stats.median(traced.values) / Stats.median(plain),
      "trace.unattributed_s" -> tr.unattributed(traced) / traced.size)

  def withSinkRate(m: Map[String, Double]): Map[String, Double] = {
    val busy = m.getOrElse("sink.busy_s", 0.0)
    m + ("sink.files_per_s" -> (if (busy > 0) m.getOrElse("sink.files", 0.0) / busy else 0.0))
  }
}

/** Helpers shared by the workloads. */
object Work {
  /** Log a phase boundary with the JVM's uptime (run log only). */
  def mark(phase: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s $phase")

  /** Untraced unit seconds, traced unit seconds by unit name, and the
    * number of units that threw. */
  final case class Measured(plain: Seq[Double], traced: Map[String, Double], failed: Int) {
    def units: Int = plain.size + traced.size
  }

  /** The measured closed loop: run units for `seconds`, never starting
    * one that the mean unit time says would end past the window, and at
    * least `minUnits` (two when tracing, so one of each kind). With
    * tracing on, every second unit is traced. A unit that throws counts
    * as failed and the loop goes on. */
  def measure(seconds: Double, minUnits: Int, trace: Boolean, tr: Tracer,
      maxUnits: Int = Int.MaxValue)(unit: Int => Unit): Measured = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.LinkedHashMap.empty[String, Double]
    var failed = 0
    val t0 = System.nanoTime()
    def used = (System.nanoTime() - t0) / 1e9
    var i = 0
    val atLeast = if (trace) math.max(2, minUnits) else minUnits
    while (i < maxUnits && (i < atLeast || used + used / i <= seconds)) {
      val on = trace && i % 2 == 1
      tr.enabled = on
      tr.unit = s"unit-$i"
      val u0 = System.nanoTime()
      try unit(i) catch { case e: Exception =>
        failed += 1; System.err.println(s"[perfbench] unit $i failed: $e") }
      val sec = (System.nanoTime() - u0) / 1e9
      if (on) traced(tr.unit) = sec else plain += sec
      i += 1
    }
    tr.enabled = false
    Measured(plain.toSeq, traced.toMap, failed)
  }

  def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k":$num""" }.mkString("{", ",", "}")

  def jsonStr(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":"${v.replaceAll("[\\\\\"\\p{Cntrl}]", " ")}"""" }
      .mkString("{", ",", "}")
}
