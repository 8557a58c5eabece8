package graft.ops
package media

import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import Tables.load

/** Real AVI/Motion-PNG demux and decode-health. */
object Video {

  /* Thirty-sixth wave (round 9): REAL video decode for the MJPEG/MPNG
    * container class — the last codec stub closed with zero new
    * dependencies. Each query GENERATES spec-correct RIFF/AVI containers
    * on the executors (Motion-PNG frames — a registered AVI codec whose
    * frames are whole lossless PNGs), pushes them through the production
    * plumbing (`Multimodal.withMeta` reads geometry/frame count from the
    * REAL avih/strf headers; `Multimodal.demuxAvi` walks the real chunk
    * tree; frames decode through the REAL `javax.imageio` codec), and
    * probes decoded pixels. The DuckDB oracle recomputes every number
    * closed-form, so a green hash pins the whole
    * container→demux→frame→pixel chain bit-exactly. H.264-class
    * inter-frame codecs remain the one documented out-of-sandbox branch.
    *
    * Scale shape: demux+decode is embarrassingly parallel per row; one
    * bounded row per document (q265) / per source (q266). */

  // Shared generative geometry: f ∈ [2,5] frames, w ∈ [4,28],
  // h ∈ [4,20], frame k pixel gray(x,y) = (7·id + 31x + 17y + 97k)
  // mod 256 — closed-form in both engines, distinct per frame.
  private def gray(id: Long, k: Int)(x: Int, y: Int): Int =
    ((id * 7 + x * 31 + y * 17 + k * 97) % 256).toInt

  private def geometry(s: SparkSession, dir: String) =
    load(s, dir, "documents").select(col("doc_id"),
      col("source"),
      expr("CAST(n_chars % 25 + 4 AS INT)").as("w"),
      expr("CAST(doc_id % 17 + 4 AS INT)").as("h"),
      expr("CAST(doc_id % 4 + 2 AS INT)").as("f"))

  private def buildAvi(id: Long, w: Int, h: Int, f: Int): Array[Byte] =
    Multimodal.encodeAviMpng(w, h,
      (0 until f).map(k => gray(id, k) _))

  // ------------------------------------------------------------- q265

  /** q265: REAL AVI DECODE — geometry/frame count from the real
    * header walk (withMeta), then mid pixels of the FIRST and LAST
    * frames from the real demux + PNG decode, probed at coordinates
    * derived from the DECODED dimensions. */
  private def qAviDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = geometry(s, dir).as[(Long, String, Int, Int, Int)]
      .map { case (id, _, w, h, f) => (id, buildAvi(id, w, h, f)) }
      .toDF("id", "content")
    Multimodal.withMeta(blobs)
      .select(col("id"), col("meta.kind").as("kind"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.nFrames").as("n_frames"), col("content"))
      .as[(Long, String, Int, Int, Int, Array[Byte])]
      .map { case (id, kind, w, h, nf, c) =>
        // one demux serves both probes; frames decode via the real
        // PNG codec through decodeProbe on the frame payload
        val (n, p0, pl) = Multimodal.demuxAvi(c) match {
          case Some((dw, dh, _, frames)) if frames.nonEmpty =>
            def mid(fr: Array[Byte]): Int =
              Multimodal.decodeProbe(fr, (fw, fh) => Seq((fw / 2, fh / 2)))
                .map(_._3.head).getOrElse(-1)
            (frames.length, mid(frames.head), mid(frames.last))
          case _ => (-1, -1, -1)
        }
        (id, kind, w, h, nf, n, p0, pl)
      }
      .toDF("doc_id", "kind", "width", "height", "n_frames",
        "n_demuxed", "pmid_first", "pmid_last")
      .orderBy(col("doc_id"))
  }

  private val qAviDecodeSql =
    """WITH d AS (
      |  SELECT doc_id, n_chars % 25 + 4 AS w, doc_id % 17 + 4 AS h,
      |    doc_id % 4 + 2 AS f
      |  FROM documents)
      |SELECT doc_id, 'video' AS kind,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(f AS INT) AS n_frames, CAST(f AS INT) AS n_demuxed,
      |  CAST((doc_id * 7 + (w // 2) * 31 + (h // 2) * 17) % 256 AS INT)
      |    AS pmid_first,
      |  CAST((doc_id * 7 + (w // 2) * 31 + (h // 2) * 17
      |    + (f - 1) * 97) % 256 AS INT) AS pmid_last
      |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- q266

  /** q266: VIDEO-CORPUS DECODE-HEALTH — q253/q257's audit on the real
    * AVI failure path: a deterministic sixth of the containers is
    * truncated mid-movi (RIFF magic intact, chunk walk fails), so
    * corrupt blobs must land in `n_corrupt` via demuxAvi's None —
    * never crash, never contribute frames or brightness. Valid videos
    * contribute their frame count and first-frame mid pixel. */
  private def qVideoHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probed = geometry(s, dir).as[(Long, String, Int, Int, Int)]
      .map { case (id, source, w, h, f) =>
        val avi = buildAvi(id, w, h, f)
        val blob = if (id % 6 == 0) avi.take(20) else avi
        Multimodal.demuxAvi(blob) match {
          case Some((_, _, _, frames)) if frames.nonEmpty =>
            val p = Multimodal.decodeProbe(frames.head,
              (fw, fh) => Seq((fw / 2, fh / 2))).map(_._3.head).getOrElse(-1)
            (source, 0L, frames.length.toLong, p.toLong)
          case _ => (source, 1L, 0L, 0L)
        }
      }
      .toDF("source", "corrupt", "n_frames", "pmid")
    probed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("corrupt")).as("n_corrupt"),
        sum(col("n_frames")).as("total_frames"),
        // DECIMAL(38,0) matches DuckDB's HUGEINT SUM(int) — no 64-bit
        // overflow at corpus scale (q257's sum_abs_mid device).
        sum(col("pmid").cast("decimal(38,0)")).as("sum_mid"))
      .select(col("source"), col("n_videos"), col("n_corrupt"),
        expr("n_corrupt * 1000000 div n_videos").as("corrupt_ppm"),
        col("total_frames"),
        expr("CASE WHEN n_videos = n_corrupt THEN 0 ELSE " +
          "sum_mid * 1000000 div (n_videos - n_corrupt) END")
          .as("mean_mid_micro"))
      .orderBy(col("source"))
  }

  private val qVideoHealthSql =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars % 25 + 4 AS w,
      |    doc_id % 17 + 4 AS h, doc_id % 4 + 2 AS f,
      |    CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS corrupt
      |  FROM documents),
      |p AS (
      |  SELECT source, corrupt,
      |    CASE WHEN corrupt = 1 THEN 0 ELSE f END AS n_frames,
      |    CASE WHEN corrupt = 1 THEN 0
      |      ELSE (doc_id * 7 + (w // 2) * 31 + (h // 2) * 17) % 256
      |      END AS pmid
      |  FROM d)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_videos,
      |  CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
      |  CAST(SUM(corrupt) * 1000000 // COUNT(*) AS BIGINT) AS corrupt_ppm,
      |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
      |  CAST(CASE WHEN COUNT(*) = SUM(corrupt) THEN 0 ELSE
      |    SUM(pmid) * 1000000 // (COUNT(*) - SUM(corrupt)) END AS BIGINT)
      |    AS mean_mid_micro
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q265_avi_decode" -> QueryDef(qAviDecode, Some(qAviDecodeSql),
      "real RIFF/AVI demux + Motion-PNG frame decode through the " +
        "multimodal meta path, closed-form pixel oracles"),
    "q266_video_health" -> QueryDef(qVideoHealth, Some(qVideoHealthSql),
      "per-source video decode-health + frame/brightness audit over " +
        "corrupted containers"))
}
