package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata extracted by a batched
  * per-partition decode stage (the Scala analog of a Pandas-UDF
  * `mapInPandas` pipeline: one decoder instantiation per partition, rows
  * streamed through it in batches, never collected).
  *
  * The actual codec is STUBBED (no image/audio libraries in this
  * container): [[StubDecoder.decode]] derives deterministic fake metadata
  * from the payload bytes. The Spark-side plumbing — schema, binary column
  * handling, partition-local decoder lifecycle, typed output — is real and
  * what this operator family tests. Swap `StubDecoder` for a JNI/FFI codec
  * and nothing else changes.
  */
object Multimodal {

  /** Typed decode output (schema contract of the decode stage). */
  final case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      media_type: String,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum_hex: String)

  /** Deterministic stand-in for an image/audio decoder. All fields are pure
    * functions of the payload so the pipeline is testable end-to-end and
    * SQL-twinnable; a real decoder would parse the container format here. */
  object StubDecoder {
    def mediaType(nBytes: Long): String =
      if (nBytes % 3 == 0) "image" else if (nBytes % 3 == 1) "audio" else "video"
    def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      val n = payload.length.toLong
      val md = java.security.MessageDigest.getInstance("MD5").digest(payload)
      MediaMeta(
        doc_id = docId,
        n_bytes = n,
        media_type = mediaType(n),
        width = (64 + n % 192).toInt,
        height = (64 + (n * 7) % 192).toInt,
        n_frames = (1 + n % 7).toInt,
        checksum_hex = md.map("%02x".format(_)).mkString)
    }
  }

  /** Attach a binary payload column to the documents table (the corpus here
    * has no real media, so payload = utf-8 bytes of `text` — an opaque blob
    * as far as the decode stage is concerned). */
  def withPayload(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** The decode stage: batched per-partition map over (id, payload) rows.
    * Partition-local decoder init mirrors how a heavyweight codec (model,
    * JNI handle) is amortized across a partition's rows. */
  def decodeMeta(documents: DataFrame): Dataset[MediaMeta] = {
    val spark = documents.sparkSession
    import spark.implicits._
    withPayload(documents)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val decoder = StubDecoder // real codec: open once per partition
        it.map { case (id, payload) => decoder.decode(id, payload) }
      }
  }

  /** Frame-sample stage: explode a video payload into every `stride`-th
    * "frame" (here: fixed-size byte windows — the batch-shape contract of a
    * real frame sampler). Output is (doc_id, frame_idx, frame_bytes). */
  def sampleFrames(documents: DataFrame, frameSize: Int = 64, stride: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    withPayload(documents)
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val nFrames = math.max(payload.length / frameSize, 1)
        (0 until nFrames by stride).map { i =>
          val from = math.min(i * frameSize, payload.length)
          val until = math.min(from + frameSize, payload.length)
          (id, i, java.util.Arrays.copyOfRange(payload, from, until))
        }
      }
      .toDF("doc_id", "frame_idx", "frame_bytes")
  }

  /** Oracle-facing projection of [[decodeMeta]]: drop the checksum (md5 of
    * utf-8 bytes IS SQL-expressible, kept for the spec) and order. */
  def metaTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    decodeMeta(documents).toDF()
      .select(col("doc_id"), col("n_bytes"), col("media_type"),
        col("width"), col("height"), col("n_frames"), col("checksum_hex"))
  }
}
