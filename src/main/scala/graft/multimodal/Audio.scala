package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Audio-modality plumbing — the second opaque-binary modality next to
  * [[Multimodal]]'s images, with the same production shape: binary
  * payload columns, a partition-batched codec (one decoder instance
  * per partition, never per row), quarantine-by-omission for
  * undecodable payloads, and typed Datasets end to end.
  *
  * [[WavPcmCodec]] is a REAL decoder: a RIFF/WAVE PCM-16 parser
  * written against the public WAVE container layout (RIFF chunk
  * grammar; 'fmt ' PCM header; little-endian 16-bit samples) using
  * only JDK byte handling — no native or external audio libs. All
  * downstream features are INTEGER math (abs-sum, peak, zero
  * crossings), so the whole path is exactly reproducible with no
  * float contract needed.
  */
object Audio {

  case class AudioRecord(audio_id: Long, data: Array[Byte], format: String)

  /** One decoded clip: mono-mixed PCM samples (stereo is averaged with
    * arithmetic-shift floor, (l+r) >> 1 — exact integer mixdown). */
  case class AudioClip(audio_id: Long, sample_rate: Int, n_channels: Int,
    samples: Array[Int])

  case class AudioFrameRow(audio_id: Long, sample_rate: Long,
    n_channels: Long, n_samples: Long, frame_idx: Long, n_frame: Long,
    abs_sum: Long, peak: Long, zcr: Long)

  /** Decode one payload into ≥0 clips. Instantiated once per PARTITION
    * inside [[decodeClips]]. */
  trait AudioCodec extends Serializable {
    def decode(rec: AudioRecord): Iterator[AudioClip]
  }

  /** RIFF/WAVE PCM-16 parser. Accepts mono or stereo, 16-bit PCM
    * (format tag 1); anything else — wrong magic, truncated chunks,
    * float/compressed formats, odd payload sizes — yields an EMPTY
    * iterator (quarantine-by-omission, the E5 contract), never a
    * throw. */
  final class WavPcmCodec extends AudioCodec {
    def decode(rec: AudioRecord): Iterator[AudioClip] =
      try parse(rec) catch {
        case scala.util.control.NonFatal(_) => Iterator.empty
      }

    private def parse(rec: AudioRecord): Iterator[AudioClip] = {
      val b = rec.data
      def u8(i: Int): Int = b(i) & 0xff
      def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int): Long =
        (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
          (u8(i + 3).toLong << 24)
      def tag(i: Int): String =
        new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (b.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
        return Iterator.empty
      var off = 12
      var channels = 0; var sampleRate = 0; var fmtOk = false
      var dataOff = -1; var dataLen = 0
      while (off + 8 <= b.length && (dataOff < 0 || !fmtOk)) {
        val id = tag(off)
        val sz = le32(off + 4)
        if (sz < 0 || off + 8 + sz > b.length) return Iterator.empty
        val szi = sz.toInt
        if (id == "fmt " && szi >= 16) {
          val audioFormat = le16(off + 8)
          channels = le16(off + 10)
          sampleRate = le32(off + 12).toInt
          val bits = le16(off + 22)
          fmtOk = audioFormat == 1 && bits == 16 &&
            (channels == 1 || channels == 2) && sampleRate > 0
          if (!fmtOk) return Iterator.empty
        } else if (id == "data") {
          dataOff = off + 8; dataLen = szi
        }
        off += 8 + szi + (szi & 1) // chunks are word-aligned
      }
      if (!fmtOk || dataOff < 0) return Iterator.empty
      val bytesPerFrame = 2 * channels
      if (dataLen % bytesPerFrame != 0) return Iterator.empty
      val n = dataLen / bytesPerFrame
      val samples = new Array[Int](n)
      var i = 0
      while (i < n) {
        val p = dataOff + i * bytesPerFrame
        val s0 = le16(p).toShort.toInt
        samples(i) =
          if (channels == 1) s0
          else (s0 + le16(p + 2).toShort.toInt) >> 1
        i += 1
      }
      Iterator.single(AudioClip(rec.audio_id, sampleRate, channels, samples))
    }
  }

  /** Partition-batched decode — one codec per partition (factory
    * closure ships the constructor, not a live parser). */
  def decodeClips(media: Dataset[AudioRecord],
      mkCodec: () => AudioCodec = () => new WavPcmCodec): Dataset[AudioClip] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val codec = mkCodec()
      it.flatMap(codec.decode)
    }
  }

  /** Frame-level integer features over the first [[MaxFrames]] windows
    * of [[FrameSamples]] samples: abs-amplitude sum, peak, and
    * zero-crossing count (sign change with 0 counted non-negative) —
    * the classic cheap audio descriptors, all in exact integer math.
    * The tail window is emitted at its true (shorter) length. */
  val FrameSamples = 200
  val MaxFrames = 8

  def frameFeatures(clips: Dataset[AudioClip], frameLen: Int = FrameSamples,
      maxFrames: Int = MaxFrames): Dataset[AudioFrameRow] = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.flatMap { c =>
      val n = c.samples.length
      val nFrames = math.min((n + frameLen - 1) / frameLen, maxFrames)
      (0 until nFrames).iterator.map { f =>
        val from = f * frameLen
        val until = math.min(from + frameLen, n)
        var absSum = 0L; var peak = 0L; var zcr = 0L
        var i = from
        while (i < until) {
          val s = c.samples(i)
          val a = math.abs(s.toLong)
          absSum += a
          if (a > peak) peak = a
          if (i > from && ((c.samples(i - 1) < 0) != (s < 0))) zcr += 1
          i += 1
        }
        AudioFrameRow(c.audio_id, c.sample_rate.toLong, c.n_channels.toLong,
          n.toLong, f.toLong, (until - from).toLong, absSum, peak, zcr)
      }
    }
  }

  // ---------------------------------------------------------------- q167
  /** The real WAV decoder oracle-checked end to end: committed WAV
    * payloads (generated in-process by tools/MakeWavFixture, no
    * downloads) through [[WavPcmCodec]] → mono mixdown →
    * [[frameFeatures]]. The oracle is the committed expected table,
    * computed ANALYTICALLY from the designed waveforms BEFORE
    * encoding — independent of the parser under test, so a regression
    * in chunk walking, sample decoding, stereo mixdown, or the
    * quarantine contract (three corrupt payloads must yield NO rows)
    * hash-mismatches. All features are integers: no float contract. */
  val WavFixturePath: String = graft.Tables.fixture("audio_fixture.parquet")
  val WavExpectedPath: String = graft.Tables.fixture("audio_features_expected.parquet")

  def q167WavDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(WavFixturePath)
      .select(col("audio_id"), col("data"), col("format")).as[AudioRecord]
    frameFeatures(decodeClips(media)).toDF()
      .orderBy("audio_id", "frame_idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q167_wav_decode" -> (q167WavDecode _),
  )

  val oracleSql: Map[String, String] = Map(
    "q167_wav_decode" ->
      s"""SELECT audio_id, sample_rate, n_channels, n_samples, frame_idx,
         |       n_frame, abs_sum, peak, zcr
         |FROM read_parquet('$WavExpectedPath')
         |ORDER BY audio_id, frame_idx""".stripMargin,
  )
}
