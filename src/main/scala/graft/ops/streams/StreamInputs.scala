package graft.ops
package streams

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.Tables.load

/** Shared inputs for the streaming gates. */
object StreamInputs {

  /** Unique suffix source for in-memory sink names (q134/q172):
    * collision-free unlike abs(hashCode), safe for concurrent runs in
    * one session. */
  private[ops] val sinkNameCounter =
    new java.util.concurrent.atomic.AtomicLong(0)

  private val viewPurchaseSchema = new StructType()
    .add("user_id", LongType).add("event_id", LongType)
    .add("event_type", StringType).add("us", LongType)

  /** The stream-stream join gates' input (q130, q158): view and purchase
    * events staged in TIME order as `slices` JSON slices with ordered
    * mod-times ([[graft.streaming.SliceReplay]]), so the file source
    * replays them as in-order micro-batches — the premise the
    * watermark's state eviction is correct under. `sentinels(maxUs)`
    * become files after the last slice. Returns the staged directory. */
  private[ops] def stageViewsAndPurchases(s: SparkSession, dir: String,
      tmp: String, slices: Int,
      sentinels: Long => Seq[String] = _ => Nil): String = {
    val ev = load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .filter(col("event_type").isin("view", "purchase"))
    // bounded collect: one min/max scalar pair for slice sizing
    val Array(mm) = ev.agg(min(col("us")), max(col("us"))).collect()
    val (lo, step) =
      (mm.getLong(0), (mm.getLong(1) - mm.getLong(0)) / slices + 1)
    graft.streaming.SliceReplay.stage(tmp,
      ev.withColumn("slice", ((col("us") - lo) / step).cast(LongType))
        .select(to_json(struct(col("user_id"), col("event_id"),
          col("event_type"), col("us"))).as("value"), col("slice")),
      slices, sentinels(mm.getLong(1)))(s)
  }

  /** A [[stageViewsAndPurchases]] directory as a stream of parsed
    * event structs `d`, one slice per micro-batch. */
  private[ops] def readViewsAndPurchases(s: SparkSession,
      in: String): DataFrame =
    s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(in)
      .select(from_json(col("value"), viewPurchaseSchema).as("d"))
}
