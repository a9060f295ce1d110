package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal.{MediaCodec, MediaRecord}

/** Video near-duplicate detection — the sequence-aware member of the
  * perceptual-dedup family ([[ImageNearDup]] is the still member):
  * two videos are near-dups when their SAMPLED FRAME SEQUENCES align
  * under per-frame dHash distance — same sampled frame count, every
  * aligned frame within [[ImageNearDup.Tau]] bits. Alignment is BY
  * INDEX, deliberately: a re-encoded or brightness-shifted copy
  * aligns frame-for-frame; a reordered or truncated cut does NOT
  * (both planted in the fixture as non-pairs), which is the dedup
  * contract a training pipeline wants — exact copies and lossless
  * re-encodes collapse, edits survive as distinct documents.
  *
  * Composition, not new machinery: [[Video.decodeVideoFrames]] walks
  * the container and decodes stills per partition; the per-frame hash
  * is [[ImageNearDup]]'s dHash HOF; candidates band on
  * (frame_idx, band, value) — a pair needs only ONE sampled frame to
  * share a band, and a true near-dup's frame 0 always does
  * (pigeonhole at τ ≤ 3), so candidate recall is 1.0 by the same
  * argument as the still family; the exact verify joins the two
  * frame-hash sequences per candidate pair.
  *
  * Scale shape: hashes are one decode pass; the band relation is
  * 4 rows per SAMPLED frame; the verify is an equi join keyed
  * (pair, frame_idx) over candidates only — never all-pairs, never
  * unkeyed. */
object VideoNearDup {

  /** (doc_id, frame_idx, dhash) for every sampled, decodable frame. */
  def frameHashes(media: org.apache.spark.sql.Dataset[MediaRecord],
      mkCodec: () => MediaCodec = () => new Multimodal.ImageIoCodec): DataFrame = {
    val grid = ImageNearDup.Grid
    Video.decodeVideoFrames(media, grid * grid, Video.FrameSampleEvery,
        mkCodec)
      .toDF()
      .withColumn("px", col("pixels"))
      .withColumn("dhash", expr(
        s"""aggregate(sequence(0, ${ImageNearDup.Bits - 1}), 0L, (acc, i) ->
           |  acc | IF(element_at(px,
           |             cast((i div 8) * $grid + (i % 8) + 1 as int)) >
           |           element_at(px,
           |             cast((i div 8) * $grid + (i % 8) + 2 as int)),
           |           shiftleft(1L, ${ImageNearDup.Bits - 1} - i), 0L))"""
          .stripMargin))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("dhash"))
  }

  /** Banded candidates → aligned exact verify:
    * (a, b, n_frames, max_hamming) with a < b, equal sampled frame
    * counts, full index alignment, and every aligned distance ≤
    * [[ImageNearDup.Tau]]. */
  def neardupPairs(fh: DataFrame): DataFrame = {
    val h = graft.Checkpoints.cut(
      fh.select("doc_id", "frame_idx", "dhash"))
    val cnt = h.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val bands = h.selectExpr("doc_id", "frame_idx",
      s"""stack(${ImageNearDup.Bands},
         |  0, shiftrightunsigned(dhash, 0) & 65535,
         |  1, shiftrightunsigned(dhash, 16) & 65535,
         |  2, shiftrightunsigned(dhash, 32) & 65535,
         |  3, shiftrightunsigned(dhash, 48) & 65535) AS (j, bv)""".stripMargin)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.frame_idx") === col("y.frame_idx") &&
          col("x.j") === col("y.j") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val aligned = cand
      .join(h.select(col("doc_id").as("a"), col("frame_idx"),
        col("dhash").as("ha")), Seq("a"))
      .join(h.select(col("doc_id").as("b"), col("frame_idx"),
        col("dhash").as("hb")), Seq("b", "frame_idx"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_aligned"),
        max(expr("cast(bit_count(ha ^ hb) as bigint)")).as("max_hamming"))
    aligned
      .join(cnt.select(col("doc_id").as("a"), col("nf").as("nfa")), Seq("a"))
      .join(cnt.select(col("doc_id").as("b"), col("nf").as("nfb")), Seq("b"))
      .filter(col("n_aligned") === col("nfa") &&
        col("nfa") === col("nfb") &&
        col("max_hamming") <= ImageNearDup.Tau)
      .select(col("a"), col("b"), col("nfa").as("n_frames"),
        col("max_hamming"))
  }

  /** Committed fixture (tools/MakeVideoNearDupFixture) + analytic
    * expected pairs — the q162/q245 oracle convention, over real AVI
    * containers with lossless frame payloads. */
  val FixturePath: String = graft.Tables.fixture("video_neardup_fixture.parquet")
  val ExpectedPath: String = graft.Tables.fixture("video_neardup_expected.parquet")

  /** q247: AVI containers → frame extraction → per-frame dHash →
    * banded candidates → aligned verify, end to end against the
    * analytic expectation (planted: brightness-shifted copy = pair,
    * one-cell frame edit = pair, reordered cut ≠ pair, truncated cut
    * ≠ pair, unrelated ≠ pair, corrupt container quarantined). */
  def q247VideoNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(FixturePath)
      .select(col("doc_id"), col("data"), col("format")).as[MediaRecord]
    neardupPairs(frameHashes(media)).orderBy("a", "b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q247_video_neardup" -> (q247VideoNeardup _),
  )

  val oracleSql: Map[String, String] = Map(
    "q247_video_neardup" ->
      s"""SELECT a, b, n_frames, max_hamming
         |FROM read_parquet('$ExpectedPath')
         |ORDER BY a, b""".stripMargin,
  )
}
