package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata; feature extraction and frame
  * sampling run as partition-local transforms over the typed rows, with no
  * per-row driver involvement.
  *
  * Decode is a deterministic stub (`decodeStub`): width, height and
  * channels come from the payload's byte length and the features from a
  * strided byte sample. The retrieval engine never reads media, and the
  * `q_op_mm_meta` gate feeds document text as the payload and checks the
  * stub formula against its DuckDB oracle, so the stub is the whole
  * contract. A real decoder would replace `decodeStub` behind the same
  * schema without touching the plumbing.
  */
object Multimodal {

  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                       channels: Int, features: Array[Float])

  /** Deterministic fake decode: metadata from byte length, features from
    * a strided byte sample (stands in for `???` — a real Opus/video decode).
    */
  def decodeStub(id: Long, bytes: Array[Byte], featDim: Int): MediaMeta = {
    val n = bytes.length
    val width = 64 + (n % 577)
    val height = 64 + ((n / 7) % 449)
    val channels = 1 + (n % 3)
    val stride = math.max(1, n / featDim)
    val feats = Array.tabulate(featDim) { i =>
      val off = i * stride
      if (off < n) (bytes(off) & 0xFF).toFloat / 255.0f else 0.0f
    }
    MediaMeta(id, n, width, height, channels, feats)
  }

  /** (doc_id, payload binary) → typed metadata + feature vector through
    * `decodeStub`; a null payload decodes as an empty one.
    */
  def extract(media: DataFrame, featDim: Int = 8): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        decodeStub(id, if (bytes == null) Array.empty[Byte] else bytes, featDim)
      }
  }

  /** Frame sampling stand-in: take every `stride`-th byte as a "frame" and
    * emit (doc_id, frame_idx, frame_byte) rows — the row-explosion shape a
    * real video frame sampler produces.
    */
  def frameSample(media: DataFrame, stride: Int = 64,
                  maxFrames: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val b = if (bytes == null) Array.empty[Byte] else bytes
        (0 until math.min(maxFrames, b.length / stride)).map { f =>
          (id, f, b(f * stride) & 0xFF)
        }
      }.toDF("doc_id", "frame_idx", "frame_byte")
  }
}
