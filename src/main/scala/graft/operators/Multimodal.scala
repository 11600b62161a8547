package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** One media asset: opaque `binary` payload + typed metadata. */
case class MediaRow(
    media_id: Long, kind: String, payload: Array[Byte],
    width: Int, height: Int, sample_rate: Int)

/** Decoded features for one asset (the output shape of the decode stage). */
/** Byte statistics are None for an EMPTY decoded buffer — the SQL twin
  * (an aggregate over zero elements) is NULL there, and 0.0/0 would
  * break oracle parity on the first zero-length document. */
case class MediaFeatures(
    media_id: Long, kind: String, n_bytes: Long,
    mean_byte: Option[Double], max_byte: Option[Int], thumb_md5: String)

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus the decode / feature-extract / resize / frame-sample
  * stages of a training-data pipeline.
  *
  * The Spark-side plumbing is real — schema, per-partition batch iteration,
  * deterministic outputs verified against the oracle; only the codec itself
  * is STUBBED (this container has no image/audio libraries): `decodeStub`
  * "decodes" a payload to its raw bytes. A real deployment swaps that one
  * function for a JNI/javax.imageio call — nothing else changes.
  *
  * Payloads here are synthesized deterministically from `documents.text`
  * (UTF-8 bytes), which keeps every byte-level result expressible in the
  * DuckDB oracle as string functions over `text`.
  *
  * Scale notes: each stage is a narrow per-partition map — no shuffle, so
  * 100 TB of video shards stream through executors at scan speed; metadata
  * predicates (kind/width/sample_rate) are plain columns, so partition
  * pruning and predicate pushdown still apply before any payload is touched.
  */
object Multimodal {

  /** Deterministic media table: payload = UTF-8 bytes of `text`; kind
    * cycles image/audio/video; plausible metadata derived from n_chars. */
  def mediaTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id".as("media_id"),
      element_at(lit(Array("image", "audio", "video")), ($"doc_id" % 3 + 1).cast("int"))
        .as("kind"),
      $"text".cast("binary").as("payload"),
      (lit(8) + ($"n_chars" % 8)).cast("int").as("width"),
      (($"n_chars" / 8) + 1).cast("int").as("height"),
      lit(16000).as("sample_rate"))
  }

  /** The stubbed codec: a real implementation would hand `payload` to an
    * image/audio decoder; the deterministic fake returns the payload bytes
    * as the "sample buffer". Signature and batch shape are what production
    * code would use. */
  def decodeStub(payload: Array[Byte]): Array[Byte] = payload

  /** m01 — metadata scan: payload untouched; pure columnar metadata. */
  private def m01Meta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .select($"media_id", $"kind", length($"payload").as("n_bytes"),
        $"width", $"height", $"sample_rate")
      .orderBy($"media_id")
  }

  private val m01Sql =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  length(text) AS n_bytes,
      |  (8 + (n_chars % 8))::INT AS width,
      |  ((n_chars // 8) + 1)::INT AS height,
      |  16000 AS sample_rate
      |FROM documents ORDER BY media_id""".stripMargin

  /** m02 — decode + feature extraction through the typed Dataset API:
    * per-partition iteration (the batch shape a vectorized decoder wants),
    * features = byte statistics of the decoded buffer + a 64-byte thumbnail
    * hash (the "resize" stage: deterministic crop standing in for a real
    * scaler). */
  private def m02DecodeFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media: Dataset[MediaRow] = mediaTable(s, dir).as[MediaRow]
    media.mapPartitions { rows =>
      // per-partition setup — the reason this is mapPartitions: one
      // digest instance per partition (digest() resets it per call),
      // not a provider lookup + allocation per media row
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { m =>
        val buf = decodeStub(m.payload)
        var sum = 0L; var max = 0
        var i = 0
        while (i < buf.length) {
          val b = buf(i) & 0xff
          sum += b; if (b > max) max = b
          i += 1
        }
        val thumb = buf.take(64)
        val hex = md.digest(thumb).map(b => f"${b & 0xff}%02x").mkString
        MediaFeatures(m.media_id, m.kind, buf.length.toLong,
          if (buf.isEmpty) None else Some(sum.toDouble / buf.length),
          if (buf.isEmpty) None else Some(max), hex)
      }
    }.toDF().orderBy($"media_id")
  }

  private val m02Sql =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  length(text) AS n_bytes,
      |  list_sum(list_transform(generate_series(1, length(text)),
      |    i -> ascii(substr(text, i, 1))))::DOUBLE / length(text) AS mean_byte,
      |  list_aggregate(list_transform(generate_series(1, length(text)),
      |    i -> ascii(substr(text, i, 1))), 'max')::INT AS max_byte,
      |  md5(substr(text, 1, 64)) AS thumb_md5
      |FROM documents ORDER BY media_id""".stripMargin

  /** m03 — frame sampling: slice each payload into 3 equal frames (video
    * keyframe extraction shape: offset arithmetic on the binary column, one
    * output row per frame, no shuffle). */
  private def m03FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nFrames = 3
    mediaTable(s, dir)
      .withColumn("frame_len", (length($"payload") / nFrames).cast("int"))
      .withColumn("frame_idx", explode(lit((0 until nFrames).toArray)))
      .select(
        $"media_id", $"frame_idx",
        expr("substring(payload, frame_idx * frame_len + 1, frame_len)").as("frame"))
      .filter(length($"frame") > 0)
      .select($"media_id", $"frame_idx", length($"frame").as("frame_bytes"),
        md5($"frame").as("frame_md5"))
      .orderBy($"media_id", $"frame_idx")
  }

  private val m03Sql =
    """WITH f AS (
      |  SELECT doc_id AS media_id, text, (length(text) // 3) AS frame_len,
      |    unnest([0, 1, 2]) AS frame_idx
      |  FROM documents)
      |SELECT media_id, frame_idx,
      |  length(substr(text, frame_idx * frame_len + 1, frame_len)) AS frame_bytes,
      |  md5(substr(text, frame_idx * frame_len + 1, frame_len)) AS frame_md5
      |FROM f
      |WHERE length(substr(text, frame_idx * frame_len + 1, frame_len)) > 0
      |ORDER BY media_id, frame_idx""".stripMargin

  /** m04 — exact binary-asset dedup: identical payloads (the same image
    * cross-posted under different ids/kinds) grouped by md5 of the RAW
    * BYTES — no decode needed, so it runs at scan speed before any codec
    * and the shuffle carries 16-byte digests, never payloads (d01's
    * contract applied to media). Cross-posting is synthesized
    * deterministically (every 10th asset re-posted under a high id, the
    * q50 synthetic-CDC pattern) because the shipped corpora only carry
    * natural text duplicates at sf0.1 — a 0-row result would gate
    * nothing at the driver's sf0.01. Canonical copy = lowest media_id;
    * singleton groups are dropped (the duplication IS the output). */
  private def m04PayloadDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir)
    val reposts = media.filter($"media_id" % 10 === 0)
      .withColumn("media_id", $"media_id" + 100000000L)
    media.unionByName(reposts)
      .groupBy(md5($"payload").as("payload_md5"))
      .agg(count(lit(1)).as("n_copies"), min($"media_id").as("canonical_id"))
      .filter($"n_copies" > 1)
      .select($"payload_md5", $"n_copies", $"canonical_id")
      .orderBy($"canonical_id")
  }

  private val m04Sql =
    """WITH media AS (
      |  SELECT doc_id AS media_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000000 AS media_id, text FROM documents
      |  WHERE doc_id % 10 = 0)
      |SELECT md5(text) AS payload_md5, count(*) AS n_copies,
      |       min(media_id) AS canonical_id
      |FROM media
      |GROUP BY 1 HAVING count(*) > 1
      |ORDER BY canonical_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m01_media_meta"      -> m01Meta _,
    "m02_decode_features" -> m02DecodeFeatures _,
    "m03_frame_sample"    -> m03FrameSample _,
    "m04_payload_dedup"   -> m04PayloadDedup _,
  )

  val oracleSql: Map[String, String] = Map(
    "m01_media_meta"      -> m01Sql,
    "m02_decode_features" -> m02Sql,
    "m03_frame_sample"    -> m03Sql,
    "m04_payload_dedup"   -> m04Sql,
  )
}
