package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal.{MediaCodec, MediaRecord}

/** Image perceptual-hash near-duplicate detection — the multimodal
  * member of the dedup family: the standard
  * image-dedup stage of a multimodal training pipeline, composed from
  * machinery the library already proves out — [[Multimodal]]'s
  * partition-batched codec for decode, L4's simhash bit-banding for
  * candidate generation (`text/TextOps.scala` q23), exact verify on
  * the candidates.
  *
  * The hash is dHash (difference hash; the gradient-sign member of
  * the aHash/dHash/pHash family): decode → grayscale → resample to a
  * [[Grid]]×[[Grid]] grid → one bit per horizontally adjacent pixel
  * pair (left > right), rows 0..7 × columns 0..7 = 64 bits. Gradient
  * SIGNS survive re-encoding, global brightness/contrast shifts, and
  * small resamples — the perturbations that defeat exact byte/pixel
  * hashing — while 64 bits keep unrelated images far apart.
  * Known dHash semantics, kept deliberately: images with no
  * horizontal gradient anywhere (solid fills, pure vertical bands)
  * all hash to 0 and pair as "near-dups" — the fixture plants such a
  * pair so the property is pinned, not discovered in production.
  *
  * Scale shape (identical to q23's): signatures are one decode pass
  * (no shuffle); candidates come from [[Bands]]×16-bit bucket joins —
  * 65536 buckets per band, never an all-pairs cross join — and the
  * banding is EXACT for hamming ≤ [[Tau]] = 3 by pigeonhole (a pair
  * differing in ≤3 of 64 bits leaves at least one of the 4 bands
  * untouched), so recall against brute force is 1.0 by construction
  * (spec-measured too). The exact verify reads only the candidate
  * relation. At 100 TB: decode is per-partition local, the band
  * relation shuffles 4 (key, doc) rows per image, and the hot keys a
  * degenerate corpus could produce (billions of solid-color frames →
  * one bucket) are the documented [[graft.operators.SkewJoin]] case.
  */
object ImageNearDup {

  /** Resample grid side: 9 columns give 8 horizontal differences. */
  val Grid = 9

  /** Signature width: 8 rows × 8 column differences. */
  val Bits = 64

  /** Bit-band count — 4 × 16-bit bands, exact for hamming ≤ [[Tau]]. */
  val Bands = 4

  /** Near-dup threshold. 3 keeps the pigeonhole guarantee with 4
    * bands; dHash distances concentrate near 0 for true variants
    * (re-encode = 0, one-cell edits ≤ 2 measured on the fixture). */
  val Tau = 3

  /** (doc_id, dhash): 64-bit difference hash per decodable payload.
    * Undecodable payloads yield no row (quarantine-by-omission, the
    * E5/q162 contract). The hash math runs as a codegen'd
    * higher-order function over the decoded pixel array — no UDF. */
  def dhashes(media: org.apache.spark.sql.Dataset[MediaRecord],
      mkCodec: () => MediaCodec): DataFrame =
    Multimodal.decodeFrames(media, Grid * Grid, sampleEvery = 1,
        mkCodec = mkCodec)
      .toDF()
      .filter(col("frame_idx") === 0) // one hash per image: first frame
      .withColumn("px", col("pixels"))
      // bitwise OR into position (MSB-first): shifts cannot trap under
      // ANSI mode, unlike a *2 accumulate whose sign-bit step overflows
      .withColumn("dhash", expr(
        s"""aggregate(sequence(0, ${Bits - 1}), 0L, (acc, i) ->
           |  acc | IF(element_at(px,
           |             cast((i div 8) * $Grid + (i % 8) + 1 as int)) >
           |           element_at(px,
           |             cast((i div 8) * $Grid + (i % 8) + 2 as int)),
           |           shiftleft(1L, ${Bits - 1} - i), 0L))""".stripMargin))
      .select(col("doc_id"), col("dhash"))

  /** Banded candidates → exact hamming verify: (a, b, hamming) with
    * a < b and hamming ≤ [[Tau]]. The band relation is 4 rows per
    * image keyed by (band index, 16-bit band value); candidates are
    * the bucket join, deduped before the exact distance. */
  def neardupPairs(sig: DataFrame): DataFrame = {
    val s = graft.Checkpoints.cut(sig.select("doc_id", "dhash"))
    val bands = s.selectExpr("doc_id", "dhash",
      s"""stack($Bands,
         |  0, shiftrightunsigned(dhash, 0) & 65535,
         |  1, shiftrightunsigned(dhash, 16) & 65535,
         |  2, shiftrightunsigned(dhash, 32) & 65535,
         |  3, shiftrightunsigned(dhash, 48) & 65535) AS (j, bv)""".stripMargin)
    bands.as("x").join(bands.as("y"),
        col("x.j") === col("y.j") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.dhash").as("ha"), col("y.dhash").as("hb"))
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(ha ^ hb) as bigint)"))
      .filter(col("hamming") <= Tau)
      .select("a", "b", "hamming")
  }

  /** Committed fixture (tools/MakeImageNearDupFixture — real PNG/BMP
    * payloads with PLANTED near-dup pairs, distinct controls, and a
    * corrupt payload for the quarantine path) and its analytically
    * computed expected pair table (designed pixel layouts → the same
    * grid/luminance/dHash math — independent of the decode path, the
    * q162 oracle convention). */
  val NearDupFixturePath: String = graft.Tables.fixture("media_neardup_fixture.parquet")
  val NearDupExpectedPath: String = graft.Tables.fixture("media_neardup_expected.parquet")

  /** q245: dHash near-dup pairs over the committed real-image fixture
    * through the REAL codec — decode, hash, band, verify, end to end.
    * A regression anywhere (PNG/BMP decode, grid sampling, luminance
    * math, the hash HOF, banding, the hamming verify, quarantine)
    * hash-mismatches against the analytic expectation. */
  def q245ImageNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(NearDupFixturePath)
      .select(col("doc_id"), col("data"), col("format")).as[MediaRecord]
    neardupPairs(dhashes(media, () => new Multimodal.ImageIoCodec))
      .orderBy("a", "b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q245_image_neardup" -> (q245ImageNeardup _),
  )

  val oracleSql: Map[String, String] = Map(
    "q245_image_neardup" ->
      s"""SELECT a, b, hamming
         |FROM read_parquet('$NearDupExpectedPath')
         |ORDER BY a, b""".stripMargin,
  )
}
