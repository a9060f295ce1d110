package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal.{Frame, MediaCodec, MediaRecord}

/** Video-modality plumbing — the third opaque-binary modality,
  * completing the image ([[Multimodal]]) / audio ([[Audio]]) / video
  * triad with the same production discipline: a REAL container parser
  * (AVI is RIFF, like WAV — public layout: 'AVI ' form, 'hdrl' LIST
  * with the 'avih' main header, 'movi' LIST holding per-frame
  * '00dc'/'00db' chunks), per-frame payloads handed to the REAL
  * [[Multimodal.ImageIoCodec]] still-image decoder, frame sampling,
  * and the shared [[Multimodal.extractFeatures]] math.
  *
  * Honesty note on codecs: real-world MJPEG frames decode through
  * lossy JPEG, whose pixel output is decoder-implementation-defined —
  * fine in production, not oracle-able. The fixture therefore carries
  * LOSSLESS (PNG/BMP) frame payloads, which javax.imageio decodes
  * bit-exactly, so the full container-walk → frame-extract → decode →
  * sample → feature path is hash-verified; with JPEG frames the
  * plumbing is identical and only the pixel values move.
  */
object Video {

  /** One extracted frame payload (still-image bytes) from a container. */
  case class VideoFrame(doc_id: Long, frame_idx: Int, data: Array[Byte])

  /** Walk an AVI (RIFF) container and yield the frame payloads from
    * the 'movi' LIST ('00dc'/'00db' chunks, any stream number).
    * Malformed containers — wrong magic, truncated chunk, size lying
    * past the payload — yield NO frames (quarantine-by-omission),
    * never a throw. */
  final class AviFrameExtractor extends Serializable {
    def frames(rec: MediaRecord): Iterator[VideoFrame] =
      try walk(rec) catch {
        case scala.util.control.NonFatal(_) => Iterator.empty
      }

    private def walk(rec: MediaRecord): Iterator[VideoFrame] = {
      val b = rec.data
      def u8(i: Int): Int = b(i) & 0xff
      def le32(i: Int): Long =
        (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
          (u8(i + 3).toLong << 24)
      def tag(i: Int): String =
        new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (b.length < 12 || tag(0) != "RIFF" || tag(8) != "AVI ")
        return Iterator.empty
      val out = Seq.newBuilder[VideoFrame]
      var idx = 0
      // top-level chunks; recurse only into LIST/movi
      def chunks(from: Int, until: Int): Boolean = {
        var off = from
        while (off + 8 <= until) {
          val id = tag(off)
          val sz = le32(off + 4)
          if (sz < 0 || off + 8 + sz > until) return false
          val szi = sz.toInt
          if (id == "LIST" && szi >= 4) {
            val listType = tag(off + 8)
            if (listType == "movi" || listType == "hdrl") {
              if (!chunks(off + 12, off + 8 + szi)) return false
            }
          } else if (id.endsWith("dc") || id.endsWith("db")) {
            out += VideoFrame(rec.doc_id, idx,
              java.util.Arrays.copyOfRange(b, off + 8, off + 8 + szi))
            idx += 1
          }
          off += 8 + szi + (szi & 1) // word alignment
        }
        true
      }
      if (!chunks(12, b.length)) Iterator.empty else out.result().iterator
    }
  }

  /** Container walk + per-frame still decode + frame sampling, one
    * extractor AND one image codec per partition. Each kept frame
    * goes through the still-image codec as its own [[MediaRecord]];
    * an undecodable frame payload is quarantined individually (the
    * container may still contribute its other frames). */
  def decodeVideoFrames(media: Dataset[MediaRecord], targetPixels: Int,
      sampleEvery: Int,
      mkCodec: () => MediaCodec = () => new Multimodal.ImageIoCodec): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val extractor = new AviFrameExtractor
      val codec = mkCodec()
      it.flatMap { rec =>
        extractor.frames(rec)
          .filter(_.frame_idx % sampleEvery == 0)
          .flatMap { vf =>
            codec.decode(MediaRecord(vf.doc_id, vf.data, "frame"),
              targetPixels)
              .map(f => f.copy(frame_idx = vf.frame_idx))
          }
      }
    }
  }

  // ---------------------------------------------------------------- q171
  /** The video path oracle-checked end to end: committed AVI
    * containers (tools/MakeAviFixture — RIFF encoded in-process,
    * PNG/BMP frame payloads) through [[AviFrameExtractor]] →
    * every-other-frame sampling → [[Multimodal.ImageIoCodec]] →
    * [[Multimodal.extractFeatures]]. The expected table is computed
    * analytically from the designed per-frame pixel layouts; corrupt
    * containers AND a corrupt frame inside a valid container pin both
    * quarantine granularities. */
  val FrameSampleEvery = 2
  val AviFixturePath: String = graft.Tables.fixture("video_fixture.parquet")
  val AviExpectedPath: String = graft.Tables.fixture("video_features_expected.parquet")

  def q171VideoDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(AviFixturePath)
      .select(col("doc_id"), col("data"), col("format")).as[MediaRecord]
    val frames = decodeVideoFrames(media, Multimodal.FramePixels,
      FrameSampleEvery)
    val cols = Seq(col("doc_id"),
      col("frame_idx").cast("long").as("frame_idx"),
      col("features").getItem(2).cast("long").as("width"),
      col("features").getItem(3).cast("long").as("height"),
      round(col("features").getItem(0), 6).as("mean_px"),
      round(col("features").getItem(1), 6).as("std_px")) ++
      (0 until 8).map(b => col("features").getItem(4 + b).as(s"h$b"))
    Multimodal.extractFeatures(frames.toDF())
      .select(cols: _*)
      .orderBy("doc_id", "frame_idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q171_video_decode" -> (q171VideoDecode _),
  )

  val oracleSql: Map[String, String] = Map(
    "q171_video_decode" ->
      s"""SELECT doc_id, frame_idx, width, height, mean_px, std_px,
         |       h0, h1, h2, h3, h4, h5, h6, h7
         |FROM read_parquet('$AviExpectedPath')
         |ORDER BY doc_id, frame_idx""".stripMargin,
  )
}
