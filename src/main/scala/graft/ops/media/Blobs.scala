package graft.ops
package media

import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.{QueryDef, Tables}
import Tables.load

/** Binary payload plumbing: metadata, features, frame sampling and raster
  * resize. */
object Blobs {

  private val kindExpr =
    when(col("lang") === "en", "image")
      .when(col("lang") === "de", "audio")
      .when(col("lang") === "zh", "video")
      .otherwise("unknown")

  /** Multimodal metadata decode, oracle-checked: binary blobs are
    * synthesized from document columns (kind←lang, width←n_chars,
    * height←doc_id), run through the real encode→mapPartitions-decode
    * path, and the oracle recomputes the same metadata directly from the
    * source columns. */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        kindExpr.as("kind"),
        (col("n_chars") % 1024).cast(IntegerType).as("w"),
        (col("doc_id") % 512).cast(IntegerType).as("h"))
    val withBin = src.as[(Long, String, String, String, Int, Int)]
      .map { case (id, _, text, kind, w, h) =>
        (id, Multimodal.encodeStubHeader(kind, w, h, rate = 0, frames = 0,
          text.getBytes("UTF-8")))
      }
      .toDF("id", "content")
    Multimodal.withMeta(withBin)
      .select(col("id").as("doc_id"), col("meta.kind").as("kind"),
        coalesce(col("meta.width"), lit(-1)).as("width"),
        coalesce(col("meta.height"), lit(-1)).as("height"),
        col("meta.sizeBytes").as("size_bytes"))
      .orderBy(col("doc_id"))
  }

  private val qMultimodalMetaSql =
    """SELECT doc_id,
      | CASE WHEN lang = 'en' THEN 'image' WHEN lang = 'de' THEN 'audio'
      |      WHEN lang = 'zh' THEN 'video' ELSE 'unknown' END AS kind,
      | CAST(n_chars % 1024 AS INT) AS width,
      | CAST(doc_id % 512 AS INT) AS height,
      | 16 + strlen(text) AS size_bytes
      |FROM documents ORDER BY doc_id""".stripMargin
  // strlen = BYTE length (the Spark side encodes text.getBytes("UTF-8"));
  // DuckDB length() counts characters and diverges on multi-byte text

  /** Multimodal feature extraction, oracle-checked: the 16-bin byte
    * histogram runs over the document's raw text bytes, so the oracle
    * recomputes every bin from `ord()` codes (ASCII corpus: code ==
    * byte) with the SAME float arithmetic — per-bin count as FLOAT,
    * float division by length, widened to double and summed in bin
    * order. Bit-exact across engines because both follow IEEE-754
    * single-precision division then exact double accumulation. */
  private def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withBin = load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, text.getBytes("UTF-8")) }
      .toDF("id", "content")
    Multimodal.withFeatures(withBin)
      .select(col("id").as("doc_id"),
        expr("aggregate(features, 0D, (a, x) -> a + CAST(x AS DOUBLE))")
          .as("feature_sum"),
        size(col("features")).as("dim"))
      .orderBy(col("doc_id"))
  }

  private val qMultimodalFeaturesSql = {
    val counts = (0 until 16)
      .map(b => s"COUNT(*) FILTER (WHERE bin = $b) AS c$b")
      .mkString(",\n   ")
    val terms = (0 until 16)
      .map(b => s"CAST(CAST(c$b AS FLOAT) / CAST(len AS FLOAT) AS DOUBLE)")
      .mkString(" + ")
    s"""WITH chars AS (
       |  SELECT doc_id, strlen(text) AS len,
       |   unnest(list_transform(range(1, CAST(strlen(text) + 1 AS INT)),
       |     i -> ord(substring(text, CAST(i AS INT), 1)) // 16)) AS bin
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, len,
       |   $counts
       |  FROM chars GROUP BY doc_id, len)
       |SELECT d.doc_id,
       |  COALESCE($terms, CAST(0 AS DOUBLE)) AS feature_sum,
       |  CAST(16 AS INT) AS dim
       |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Multimodal frame sampling, oracle-checked: "video" payloads are
    * the document text bytes, so every strided 64-byte frame the
    * distributed sampler emits is independently recomputable by the
    * oracle as a text substring (the corpus is ASCII, so byte slices ==
    * character slices; md5 of the frame pins the exact bytes). */
  private def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withBin = load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, Multimodal.encodeStubHeader("video", 320, 240, 30, 0,
          text.getBytes("UTF-8")))
      }
      .toDF("id", "content")
    Multimodal.sampleFrames(withBin, frameBytes = 64, stride = 2)
      .select(col("id").as("doc_id"),
        col("frameIdx").cast(LongType).as("frame_idx"),
        md5(col("frame")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  private val qMultimodalFramesSql =
    """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
      | md5(substring(text, CAST(f * 64 + 1 AS INT), 64)) AS frame_md5
      |FROM (
      |  SELECT doc_id, text,
      |   unnest(range(0, strlen(text) // 64, 2)) AS f
      |  FROM documents) t
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** q65: multimodal resize, oracle-checked end to end — "image" blobs
    * carry the document text as a w0×16 row-major raster (w0 =
    * byte-length/16, so the sample grid never leaves the payload);
    * nearest-neighbor resampling to 8×8 then re-decoding the rewritten
    * header exercises the full binary-in → binary-out contract, and the
    * oracle independently recomputes every sampled byte as a text
    * substring (ASCII corpus: byte == char) plus the pass-through rule
    * for non-image kinds. md5 over the payload pins the exact bytes. */
  private def qMultimodalResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = load(s, dir, "documents")
      .select(col("doc_id"), kindExpr.as("kind"), col("text"))
      .filter(length(col("text")) >= 16)
    val withBin = src.as[(Long, String, String)]
      .map { case (id, kind, text) =>
        val b = text.getBytes("UTF-8")
        (id, Multimodal.encodeStubHeader(kind, b.length / 16, 16,
          rate = 0, frames = 0, b))
      }
      .toDF("id", "content")
    val resized = Multimodal.resize(withBin, 8, 8)
      .select(col("id"), col("resized").as("content"))
    Multimodal.withMeta(resized)
      .select(col("id").as("doc_id"),
        length(col("content")).cast(LongType).as("out_len"),
        col("meta.width").as("out_w"), col("meta.height").as("out_h"),
        md5(expr("substring(content, 17, 1073741824)")).as("payload_md5"))
      .orderBy(col("doc_id"))
  }

  private val qMultimodalResizeSql =
    """WITH src AS (
      |  SELECT doc_id, lang, text, strlen(text) AS len,
      |   CAST(strlen(text) // 16 AS BIGINT) AS w0
      |  FROM documents WHERE strlen(text) >= 16),
      |img AS (
      |  SELECT doc_id,
      |   array_to_string(list_transform(range(0, 64),
      |     i -> substring(text,
      |       CAST((2 * (i // 8)) * w0 + ((i % 8) * w0) // 8 + 1 AS INT), 1)), '') AS p
      |  FROM src WHERE lang = 'en')
      |SELECT s.doc_id,
      |  CASE WHEN s.lang = 'en' THEN 80 ELSE 16 + s.len END AS out_len,
      |  CASE WHEN s.lang = 'en' THEN 8 ELSE CAST(s.w0 AS INT) END AS out_w,
      |  CASE WHEN s.lang = 'en' THEN 8 ELSE 16 END AS out_h,
      |  CASE WHEN s.lang = 'en' THEN md5(i.p) ELSE md5(s.text) END AS payload_md5
      |FROM src s LEFT JOIN img i USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q41_multimodal_meta" -> QueryDef(qMultimodalMeta, Some(qMultimodalMetaSql),
      "multimodal binary encode->decode metadata, cross-validated oracle"),
    "q42_multimodal_features" -> QueryDef(qMultimodalFeatures,
      Some(qMultimodalFeaturesSql),
      "multimodal feature extraction (byte-histogram, float-exact oracle)"),
    "q47_multimodal_frames" -> QueryDef(qMultimodalFrames, Some(qMultimodalFramesSql),
      "strided frame sampling over binary payloads, byte-exact oracle"),
    "q65_multimodal_resize" -> QueryDef(qMultimodalResize,
      Some(qMultimodalResizeSql),
      "nearest-neighbor raster resize, byte-exact oracle + pass-through rule"))
}
