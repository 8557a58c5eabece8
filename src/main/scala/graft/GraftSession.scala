package graft

import org.apache.spark.sql.SparkSession

/** The one session contract of every main and of the test suite, and
  * the one way to scope a session conf to a block of work. */
object GraftSession {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the machine's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per thread, UTC session
    * time, nanosecond parquet timestamps read as longs (`Tables.load`
    * converts them), the graft SQL extensions (a static conf: it must be
    * set when the first context starts), no UI and WARN logging. */
  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with each `key -> value` set on the session, then put
    * every key back as it was (its previous value, or unset), also when
    * `body` throws. Session conf is global to the session, so scoped
    * blocks on one session must not run concurrently. A streaming query
    * copies the conf at `start()`, so starting it inside the block is
    * enough for the query to keep the scoped values. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.reverse.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
