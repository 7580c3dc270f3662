package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FooterSchema

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed by per-partition batch operators.
  *
  * The actual codecs (JPEG/PNG/PCM/H.264) are NOT in this container, so the
  * byte-level decode is a clearly-marked deterministic STUB ([[StubCodec]])
  * — what is real and tested here is everything Spark-side: the schema
  * contract, binary round-trip through Parquet, kind-partitioned layout,
  * the `mapPartitions` batch shape (one codec init per partition, streamed
  * rows), the explode fan-out for frame sampling, and the feature-vector
  * output contract that feeds [[SimilarityQueries]].
  *
  * Scale notes (100 TB of media): bytes never pass through a shuffle — all
  * operators are narrow per-partition maps; only extracted
  * metadata/features (small) flow onward. Partitioning by `kind` keeps
  * codec dispatch uniform per task. In PySpark the same contract is
  * `mapInPandas` with an Arrow batch per codec init; here it is
  * `mapPartitions` over a typed Dataset.
  */
object MediaOps {

  /** One media asset: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long, kind: String, bytes: Array[Byte],
      width: Int, height: Int, sample_rate: Int, duration_ms: Int,
      format: String)

  final case class DecodedImage(
      media_id: Long, width: Int, height: Int, n_pixels: Long,
      mean_luma: Double, checksum: Long)

  final case class Frame(
      media_id: Long, frame_idx: Int, frame_bytes: Array[Byte], checksum: Long)

  final case class MediaFeature(media_id: Long, kind: String, feature: Array[Float])

  /** ??? in spirit: stand-in for libjpeg/ffmpeg — deterministic functions of
    * the bytes so tests are stable. Replace with real codecs in production.
    * One instance per partition (codec init is expensive in the real
    * world — the mapPartitions shape exists to amortize it). */
  final class StubCodec {
    def luma(bytes: Array[Byte]): Double =
      if (bytes.isEmpty) 0.0 else bytes.map(b => (b & 0xff).toDouble).sum / bytes.length
    def checksum(bytes: Array[Byte]): Long =
      bytes.foldLeft(1125899906842597L)((h, b) => 31 * h + (b & 0xff))
    /** "Resize": every-other-byte resample (half resolution). */
    def downsample(bytes: Array[Byte]): Array[Byte] =
      bytes.zipWithIndex.collect { case (b, i) if i % 2 == 0 => b }
    /** Perceptual dHash (difference hash, the published image near-dup
      * fingerprint): an 8×8 grid of horizontal gradient bits over a
      * 9-column luminance grid — bit (r,c) set iff cell (r,c) is
      * brighter than (r,c+1). Real pipelines downscale to the 9×8 grid
      * first; the stub reads the first 72 payload bytes AS the grid
      * (deterministic, SQL-replayable). Hamming distance between
      * dHashes survives re-encoding/resize noise — the property the
      * banded near-dup join exploits. */
    def dHash(bytes: Array[Byte]): Long = {
      var h = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          val i = r * 9 + c
          if ((bytes(i) & 0xff) > (bytes(i + 1) & 0xff))
            h |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      h
    }
  }

  /** Deterministic synthetic media corpus (no media files in the container):
    * payload bytes are an LCG of media_id, sized from the metadata. */
  def syntheticCorpus(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    spark.range(n.toLong).map { id =>
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      val (w, h, sr, dur) = kind match {
        case "image" => (64 + (id % 4).toInt * 16, 48 + (id % 3).toInt * 16, 0, 0)
        case "audio" => (0, 0, 16000, 500 + (id % 7).toInt * 100)
        case _ => (32, 24, 0, 1000 + (id % 5).toInt * 200)
      }
      val size = kind match {
        case "image" => w * h / 16
        case "audio" => sr * dur / 8000
        case _ => 32 * 24 * 8 // 8 fake frames
      }
      var s = id * 6364136223846793005L + 1442695040888963407L
      val bytes = Array.tabulate(size) { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 56).toByte
      }
      MediaRow(id, kind, bytes, w, h, sr, dur, s"fake-$kind")
    }
  }

  /** Image decode: per-partition codec init, streamed rows (the
    * mapInPandas-equivalent batch shape). */
  def decodeImages(media: Dataset[MediaRow]): Dataset[DecodedImage] = {
    implicit val enc = Encoders.product[DecodedImage]
    media.filter(col("kind") === "image").mapPartitions { rows =>
      val codec = new StubCodec // once per partition
      rows.map { m =>
        DecodedImage(m.media_id, m.width, m.height,
          m.width.toLong * m.height,
          codec.luma(m.bytes), codec.checksum(m.bytes))
      }
    }
  }

  /** Resize: halve resolution, downsample payload; metadata stays typed. */
  def resizeImages(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    media.filter(col("kind") === "image").mapPartitions { rows =>
      val codec = new StubCodec
      rows.map(m => m.copy(
        bytes = codec.downsample(m.bytes),
        width = m.width / 2, height = m.height / 2,
        format = m.format + ";resized"))
    }
  }

  /** Frame sampling: split a video payload into its frames, one output row
    * per sampled frame (every `stride`-th). */
  def sampleFrames(media: Dataset[MediaRow], stride: Int = 2): Dataset[Frame] = {
    implicit val enc = Encoders.product[Frame]
    media.filter(col("kind") === "video").flatMap { m =>
      val codec = new StubCodec
      val frameSize = if (m.width * m.height > 0) m.width * m.height else 1
      m.bytes.grouped(frameSize).zipWithIndex
        .collect { case (fb, i) if i % stride == 0 =>
          Frame(m.media_id, i, fb, codec.checksum(fb)) }
    }
  }

  /** Feature extraction: fixed 16-dim vector of per-stripe byte statistics —
    * the deterministic stand-in for a vision/audio embedding model. Output
    * plugs into the ANN operators (SimilarityQueries). */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeature] = {
    implicit val enc = Encoders.product[MediaFeature]
    media.mapPartitions { rows =>
      val codec = new StubCodec
      rows.map { m =>
        val stripe = math.max(1, m.bytes.length / dim)
        val feat = Array.tabulate(dim) { i =>
          val seg = m.bytes.slice(i * stripe, math.min((i + 1) * stripe, m.bytes.length))
          (codec.luma(seg) / 255.0).toFloat
        }
        MediaFeature(m.media_id, m.kind, feat)
      }
    }
  }

  final case class ImageHash(img_id: Long, dhash: Long)

  /** Perceptual hashes for the image corpus PLUS a "re-encoded twin" per
    * image (payload with its first byte zeroed — the compression-artifact
    * stand-in): even ids are originals, odd ids their twins. A twin's
    * dHash differs from its original in AT MOST the (0,0) gradient bit,
    * so the downstream banded join provably has near-dups to find —
    * exactly the situation a real corpus presents (the same photo
    * re-encoded at different qualities). Per-partition codec init, same
    * batch shape as every media operator. */
  def dHashes(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.filter(col("kind") === "image").mapPartitions { rows =>
      val codec = new StubCodec
      rows.flatMap { m =>
        val reencoded = m.bytes.clone()
        reencoded(0) = 0
        Seq(ImageHash(m.media_id * 2, codec.dHash(m.bytes)),
          ImageHash(m.media_id * 2 + 1, codec.dHash(reencoded)))
      }
    }
  }

  /** Persist the corpus kind-partitioned (binary payloads round-trip
    * through Parquet BINARY). */
  def writePartitioned(media: Dataset[MediaRow], path: String): Unit =
    media.write.partitionBy("kind").mode("overwrite").parquet(path)

  def readPartitioned(spark: SparkSession, path: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    // partition column comes back as the LAST column — restore field order
    FooterSchema.read(spark, path)
      .select("media_id", "kind", "bytes", "width", "height",
        "sample_rate", "duration_ms", "format")
      .as[MediaRow]
  }
}
