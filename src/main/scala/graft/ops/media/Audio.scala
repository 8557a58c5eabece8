package graft.ops
package media

import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.{QueryDef, Tables}
import Tables.load

/** Real WAV decode, decode-health (batch and streaming) and resampling. */
object Audio {

  /* Thirty-first wave (round 9): REAL audio decode through the JDK's
    * built-in `javax.sound.sampled` — the round-8 verdict's "WAV/PCM
    * decode is pure-JDK, the audio branch is closable without any new
    * dependency" lead, the same move as round 8's ImageIO. Each query
    * GENERATES real mono 16-bit PCM WAV blobs on the executors from a
    * closed-form sample function of the document row, pushes them
    * through the production plumbing (`Multimodal.withMeta` /
    * `Multimodal.audioProbe`, both running the genuine
    * `AudioSystem` codec for real containers), and reports decoded
    * sample-rate/frame-count plus probed PCM sample values. The DuckDB
    * oracle recomputes every reported number from the same closed form —
    * a green hash proves the real encode → decode round-trip is
    * bit-exact (header parse, little-endian PCM16 frames, channel
    * layout), not just shaped right.
    *
    * Scale shape: codec work is embarrassingly parallel per row (the
    * decode stages add no shuffle); outputs are one bounded row per
    * document (q256) or one row per source (q257). Video remains the
    * only stubbed kind — ffmpeg-class codecs genuinely don't exist in
    * this sandbox. */

  // Shared generative signal: rate ∈ {8000, 12000, 16000} Hz,
  // n ∈ [5, 101] frames, sample(i) = ((13·doc_id + 37i) mod 2^16) −
  // 2^15 — closed-form in both engines, exercises the full signed-16
  // range including negative samples (sign/endianness bugs flip it).
  private def signalGeometry(s: SparkSession, dir: String) =
    load(s, dir, "documents").select(col("doc_id"),
      expr("CAST(8000 + (doc_id % 3) * 4000 AS INT)").as("rate"),
      expr("CAST(n_chars % 97 + 5 AS INT)").as("n"))

  private def sampleAt(id: Long)(i: Int): Int =
    (((id * 13 + i.toLong * 37) % 65536) - 32768).toInt

  /** q257/q262's per-row verdict: encode, corrupt every fifth blob
    * (the container magic survives — the 12-byte RIFF/WAVE preamble +
    * fmt tag — the fmt body does not), decode through the real codec
    * and probe the mid sample: (source, corrupt, |mid amplitude|). */
  private def healthProbe(id: Long, source: String, rate: Int, n: Int)
      : (String, Long, Long) = {
    val wav = Multimodal.encodeWav(rate, n, sampleAt(id))
    val blob = if (id % 5 == 0) wav.take(16) else wav
    Multimodal.audioProbe(blob, (_, nf) => Seq(nf / 2)) match {
      case Some((_, _, ps)) => (source, 0L, math.abs(ps.head).toLong)
      case None => (source, 1L, 0L)
    }
  }

  /** q257/q262's per-source report over (source, corrupt, abs_mid). */
  private def healthReport(probed: DataFrame): DataFrame =
    probed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_audio"),
        sum(col("corrupt")).as("n_corrupt"),
        sum(col("abs_mid").cast("decimal(38,0)")).as("sum_abs_mid"))
      .select(col("source"), col("n_audio"), col("n_corrupt"),
        expr("n_corrupt * 1000000 div n_audio").as("corrupt_ppm"),
        expr("CASE WHEN n_audio = n_corrupt THEN 0L ELSE " +
          "sum_abs_mid * 1000000 div (n_audio - n_corrupt) END")
          .as("mean_abs_mid_micro"))
      .orderBy(col("source"))

  // ------------------------------------------------------------- q256

  /** q256: REAL WAV DECODE — encode each document's generative PCM16
    * signal as a genuine RIFF/WAVE container (`AudioSystem.write`),
    * decode it back through `Multimodal.withMeta`'s real-audio path
    * (`AudioSystem.getAudioInputStream`), and probe first/mid/last
    * samples from the DECODED stream using the DECODED frame count.
    * The oracle recomputes rate, frame count, and all three sample
    * values from the closed form — any header misparse, endianness
    * swap, or sign error flips the hash. */
  private def qWavDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = signalGeometry(s, dir).as[(Long, Int, Int)]
      .map { case (id, rate, n) =>
        (id, Multimodal.encodeWav(rate, n, sampleAt(id)))
      }
      .toDF("id", "content")
    Multimodal.withMeta(blobs)
      .select(col("id"), col("meta.kind").as("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .map { case (id, kind, c) =>
        // one decode serves rate + frames + all three probes; the
        // probe indices come from the DECODED frame count
        val (rate, n, ps) = Multimodal.audioProbe(c,
          (_, n) => Seq(0, n / 2, n - 1))
          .getOrElse((-1, -1, Seq(-65536, -65536, -65536)))
        (id, kind, rate, n, ps(0), ps(1), ps(2))
      }
      .toDF("doc_id", "kind", "sample_rate", "n_frames",
        "s0", "smid", "send")
      .orderBy(col("doc_id"))
  }

  private val qWavDecodeSql =
    """SELECT doc_id, 'audio' AS kind,
      |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
      |  CAST(n_chars % 97 + 5 AS INT) AS n_frames,
      |  CAST((doc_id * 13) % 65536 - 32768 AS INT) AS s0,
      |  CAST((doc_id * 13 + ((n_chars % 97 + 5) // 2) * 37) % 65536
      |    - 32768 AS INT) AS smid,
      |  CAST((doc_id * 13 + (n_chars % 97 + 4) * 37) % 65536
      |    - 32768 AS INT) AS send
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- q257

  /** q257: AUDIO-CORPUS DECODE-HEALTH audit — q253's twin on the real
    * audio failure path. A deterministic fifth of the blobs is
    * CORRUPTED (RIFF/WAVE magic intact, fmt chunk truncated at 16
    * bytes), so the gate exercises `AudioSystem`'s
    * UnsupportedAudioFileException path — corrupt blobs must land in
    * `n_corrupt` via `audioProbe`'s None, never crash an executor,
    * never contribute to the amplitude sum. The oracle recomputes the
    * corruption rule and every valid mid-sample |amplitude| closed
    * form; sums route through DECIMAL(38,0)/HUGEINT (q254's device)
    * because Σ|s|·10⁶ passes 2^63 at large corpus scale. */
  private def qWavHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = load(s, dir, "documents").select(col("doc_id"),
      col("source"),
      expr("CAST(8000 + (doc_id % 3) * 4000 AS INT)").as("rate"),
      expr("CAST(n_chars % 97 + 5 AS INT)").as("n"))
    healthReport(src.as[(Long, String, Int, Int)]
      .map { case (id, source, rate, n) => healthProbe(id, source, rate, n) }
      .toDF("source", "corrupt", "abs_mid"))
  }

  private val qWavHealthSql =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars % 97 + 5 AS n,
      |    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS corrupt
      |  FROM documents),
      |p AS (
      |  SELECT source, corrupt,
      |    CASE WHEN corrupt = 1 THEN 0
      |      ELSE abs((doc_id * 13 + (n // 2) * 37) % 65536 - 32768)
      |      END AS abs_mid
      |  FROM d)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_audio,
      |  CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
      |  CAST(SUM(corrupt) * 1000000 // COUNT(*) AS BIGINT) AS corrupt_ppm,
      |  CAST(CASE WHEN COUNT(*) = SUM(corrupt) THEN 0 ELSE
      |    SUM(CAST(abs_mid AS HUGEINT)) * 1000000
      |      // (COUNT(*) - SUM(corrupt)) END AS BIGINT)
      |    AS mean_abs_mid_micro
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q262

  /** q262: q257's audio decode-health computed INSIDE a stream — the
    * encode → corrupt-every-fifth → real-codec decode runs per row in
    * micro-batches (2 file slices, AvailableNow; was 16 — the decode
    * is a STATELESS per-row map, so every extra trigger was pure fixed
    * lifecycle cost with zero semantic content), the verdict rows land
    * in the gate sink, the report aggregates the read-back. The oracle
    * is q257's: streaming == batch. */
  private def qStreamWavHealth(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val schema = new StructType()
      .add("doc_id", LongType).add("source", StringType)
      .add("rate", LongType).add("n", LongType)
    val result = graft.streaming.StreamScratch.withScratch("graft_swav_") { tmp =>
      val geo = load(s, dir, "documents").select(col("doc_id"),
        col("source"),
        expr("8000 + (doc_id % 3) * 4000").as("rate"),
        expr("n_chars % 97 + 5").as("n"),
        (col("doc_id") % 2).as("slice"))
      val in = graft.streaming.SliceReplay.stage(tmp,
        geo.select(to_json(struct(col("doc_id"), col("source"),
          col("rate"), col("n"))).as("value"), col("slice")), 2)
      val out = graft.streaming.GateOut.dir()
      val q = s.readStream
        .option("maxFilesPerTrigger", 1)
        .text(in)
        .select(from_json(col("value"), schema).as("d"))
        .select(col("d.doc_id").as("doc_id"), col("d.source").as("source"),
          col("d.rate").as("rate"), col("d.n").as("n"))
        .as[(Long, String, Long, Long)]
        .map { case (id, source, rate, n) =>
          // the REAL codec path, inside the micro-batch
          healthProbe(id, source, rate.toInt, n.toInt)
        }
        .toDF("source", "corrupt", "abs_mid")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/chk")
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
      s.read.parquet(out)
    }
    healthReport(result)
  }

  // ------------------------------------------------------------- q264

  /** Same generative signal family as q256. */
  private def qWavResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = load(s, dir, "documents").select(col("doc_id"),
        expr("CAST(8000 + (doc_id % 3) * 4000 AS INT)").as("rate"),
        expr("CAST(n_chars % 97 + 5 AS INT)").as("n"))
      .as[(Long, Int, Int)]
      .map { case (id, rate, n) =>
        (id, Multimodal.encodeWav(rate, n,
          i => (((id * 13 + i.toLong * 37) % 65536) - 32768).toInt))
      }
      .toDF("id", "content")
    Multimodal.resampleAudio(blobs, factor = 3)
      .select(col("id"), col("resampled"))
      .as[(Long, Array[Byte])]
      .map { case (id, r) =>
        val (rate, n, ps) = Multimodal.audioProbe(r,
          (_, n) => Seq(0, n / 2, n - 1))
          .getOrElse((-1, -1, Seq(-65536, -65536, -65536)))
        (id, rate, n, ps(0), ps(1), ps(2))
      }
      .toDF("doc_id", "rate2", "n2", "s0", "smid", "send")
      .orderBy(col("doc_id"))
  }

  /** Decimation replay: n' = ⌈n/3⌉, rate' = rate div 3, kept sample j
    * is original sample 3j. */
  private val qWavResampleSql =
    """WITH d AS (
      |  SELECT doc_id,
      |    (8000 + (doc_id % 3) * 4000) // 3 AS rate2,
      |    (n_chars % 97 + 5 + 2) // 3 AS n2,
      |    n_chars % 97 + 5 AS n
      |  FROM documents)
      |SELECT doc_id, CAST(rate2 AS INT) AS rate2, CAST(n2 AS INT) AS n2,
      |  CAST((doc_id * 13) % 65536 - 32768 AS INT) AS s0,
      |  CAST((doc_id * 13 + ((n2 // 2) * 3) * 37) % 65536 - 32768
      |    AS INT) AS smid,
      |  CAST((doc_id * 13 + ((n2 - 1) * 3) * 37) % 65536 - 32768
      |    AS INT) AS send
      |FROM d ORDER BY doc_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q256_wav_decode" -> QueryDef(qWavDecode, Some(qWavDecodeSql),
      "real javax.sound.sampled WAV decode through the multimodal meta path"),
    "q257_wav_health" -> QueryDef(qWavHealth, Some(qWavHealthSql),
      "per-source audio decode-health + amplitude audit over corrupted blobs"),
    "q262_stream_wav_health" -> QueryDef(qStreamWavHealth,
      Some(qWavHealthSql),
      "q257's audio decode-health inside Structured Streaming — " +
        "streaming == batch for the real codec path"),
    "q264_wav_resample" -> QueryDef(qWavResample, Some(qWavResampleSql),
      "real audio decode->integer decimation->re-encode->decode " +
        "round-trip, closed-form sample oracle"))
}
