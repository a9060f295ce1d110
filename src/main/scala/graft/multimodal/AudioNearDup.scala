package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Audio.{AudioCodec, AudioRecord}

/** Audio near-duplicate detection — completing the perceptual-dedup
  * triad ([[ImageNearDup]] stills, [[VideoNearDup]] sequences, this
  * for clips): a 64-bit ENERGY-DELTA SIGN fingerprint in the
  * Haitsma–Kalker 2002 robust-hash family, reduced to the time
  * domain so every bit is EXACT INTEGER math (the [[Audio]] module's
  * no-float discipline): the clip is split into [[Windows]]
  * length-normalized windows, each window's energy is its integer
  * abs-amplitude sum, and bit i is the sign of the energy delta
  * E[i+1] > E[i]. Energy ORDERING survives the perturbations that
  * defeat byte/sample hashing — global gain (volume) change,
  * re-encoding, channel-layout changes under the exact mixdown —
  * while the 64-step energy CONTOUR keeps unrelated clips far apart
  * and time-reversal/content edits visible (both planted as
  * non-pairs/pairs in the fixture). Clips shorter than [[Windows]]
  * samples carry no fingerprint (below the contour's resolution —
  * quarantine-by-omission, like an undecodable payload).
  *
  * Candidates and verify are LITERALLY the still family's operators:
  * the fingerprint relation renames into [[ImageNearDup.neardupPairs]]
  * — 4×16-bit band bucket joins, exact for hamming ≤ 3 by pigeonhole,
  * exact hamming verify. One banding engine, three modalities. */
object AudioNearDup {

  /** Energy windows per clip: [[ImageNearDup.Bits]] deltas need one
    * more window than bits. */
  val Windows: Int = ImageNearDup.Bits + 1

  /** The fingerprint as a pure integer function of the mono samples —
    * shared by the operator and specs; None below resolution. */
  def fingerprint(samples: Array[Int]): Option[Long] = {
    val n = samples.length
    if (n < Windows) None
    else {
      val e = Array.tabulate(Windows) { w =>
        val from = (w.toLong * n / Windows).toInt
        val until = ((w + 1).toLong * n / Windows).toInt
        var s = 0L; var i = from
        while (i < until) { s += math.abs(samples(i).toLong); i += 1 }
        s
      }
      Some((0 until ImageNearDup.Bits).foldLeft(0L) { (acc, i) =>
        acc | (if (e(i + 1) > e(i)) 1L << (ImageNearDup.Bits - 1 - i)
               else 0L)
      })
    }
  }

  /** (audio_id, fp) for every decodable clip at/above resolution. */
  def fingerprints(media: org.apache.spark.sql.Dataset[AudioRecord],
      mkCodec: () => AudioCodec = () => new Audio.WavPcmCodec): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    Audio.decodeClips(media, mkCodec)
      .flatMap(c => fingerprint(c.samples).map(fp => (c.audio_id, fp)))
      .toDF("audio_id", "fp")
  }

  /** Banded candidates → exact hamming verify, via the still family's
    * engine: (a, b, hamming), a < b, hamming ≤ [[ImageNearDup.Tau]]. */
  def neardupPairs(fp: DataFrame): DataFrame =
    ImageNearDup.neardupPairs(
      fp.select(col("audio_id").as("doc_id"), col("fp").as("dhash")))

  /** Committed fixture (tools/MakeAudioNearDupFixture — real WAV
    * payloads with planted gain-scaled, one-window-edited, stereo-
    * layout, reversed, sub-resolution, unrelated, and corrupt clips)
    * and the analytically computed expected pairs (designed
    * waveforms → independent energy/delta math — the q167/q162
    * convention). */
  val FixturePath: String = graft.Tables.fixture("audio_neardup_fixture.parquet")
  val ExpectedPath: String = graft.Tables.fixture("audio_neardup_expected.parquet")

  /** q248: WAV decode → energy-delta fingerprint → banded candidates
    * → exact verify, end to end against the analytic expectation. */
  def q248AudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(FixturePath)
      .select(col("audio_id"), col("data"), col("format")).as[AudioRecord]
    neardupPairs(fingerprints(media)).orderBy("a", "b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q248_audio_neardup" -> (q248AudioNeardup _),
  )

  val oracleSql: Map[String, String] = Map(
    "q248_audio_neardup" ->
      s"""SELECT a, b, hamming
         |FROM read_parquet('$ExpectedPath')
         |ORDER BY a, b""".stripMargin,
  )
}
