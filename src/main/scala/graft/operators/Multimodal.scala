package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by per-partition batched
  * decoders (the Scala analogue of `mapInPandas` batch UDFs).
  *
  * The actual media decode is STUBBED — this container ships no
  * image/audio codecs — behind the [[Decoder]] trait; [[StubDecoder]]
  * produces deterministic content-hash features so every downstream
  * contract (schema, batch shape, partitioning, determinism under
  * shuffle) is real and tested. Swapping in a JNI/FFI decoder is a
  * constructor argument, not a redesign.
  */
object Multimodal {

  final case class MediaRow(
      media_id: Long,
      modality: String,          // image | audio | video
      content: Array[Byte],
      mime: String,
      meta: Map[String, String])

  final case class MediaFeatures(
      media_id: Long,
      modality: String,
      n_bytes: Int,
      width: Int,                // stub: derived deterministically
      height: Int,
      duration_ms: Int,          // 0 for images
      feature: Array[Float],     // fixed-size embedding
      content_sha: Long,
      content_md5: String)       // portable content hash (oracle-visible)

  /** Batched decoder contract: one instance per partition, called
    * once per row batch (mirrors mapInPandas batch semantics). */
  trait Decoder extends Serializable {
    def featureDim: Int
    def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures]
  }

  /** Deterministic stand-in decoder: features/dims/duration derived
    * from the md5 of the byte stream — md5 because it is ENGINE-
    * PORTABLE, so a DuckDB oracle (q34) reproduces (n_bytes, width,
    * height, duration_ms, content_md5) exactly from the same bytes. A
    * real decoder would parse the container here — the Spark side
    * (schema, partitioning, per-partition init) is identical. */
  final class StubDecoder(val featureDim: Int = 16) extends Decoder {
    def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = {
      rows.map { r =>
        val hex = Hashing.md5Hex(r.content)
        def hx(from: Int, len: Int): Int =
          Integer.parseInt(hex.substring(from, from + len), 16)
        val sha = java.lang.Long.parseUnsignedLong(hex.substring(0, 16), 16)
        val feat = Array.tabulate(featureDim)(i =>
          (Hashing.toUnit(Hashing.hash64(sha, i.toLong)) * 2 - 1).toFloat)
        val w = 64 + hx(0, 2)
        val h = 64 + hx(2, 2)
        val dur = if (r.modality == "image") 0 else 500 + hx(4, 4) % 60000
        MediaFeatures(r.media_id, r.modality, r.content.length, w, h, dur, feat, sha, hex)
      }
    }
  }

  /** Decode/feature-extract over a media table: repartitioned by id
    * hash so decode load balances regardless of ingest order, decoder
    * constructed once per partition. */
  def extractFeatures(media: Dataset[MediaRow], decoder: Decoder,
                      partitions: Int = 0): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val repartitioned =
      if (partitions > 0) media.repartition(partitions, col("media_id"))
      else media.repartition(col("media_id"))
    repartitioned.mapPartitions(rows => decoder.decodeBatch(rows))
  }

  /** Deterministic synthetic media table for tests/bench. */
  def syntheticMedia(spark: org.apache.spark.sql.SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val modality = (i % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val len = 256 + Hashing.bucket(Hashing.hash64(i, 3L), 1024)
      val bytes = Array.tabulate(len)(j => (Hashing.hash64(i * 131L + j, 11L) & 0xFF).toByte)
      MediaRow(i, modality, bytes,
        modality match {
          case "image" => "image/png"; case "audio" => "audio/wav"; case _ => "video/mp4"
        },
        Map("source" -> s"synthetic-$i"))
    }
  }
}
