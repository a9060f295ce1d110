package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Md5Prefix

/** Multimodal column plumbing: opaque binary payloads with typed
  * metadata, decoded/resized/frame-sampled through a partition-batched
  * decoder.
  *
  * Two codecs share the decode interface:
  *  - [[ImageIoCodec]] — a REAL image decoder (javax.imageio, in the
  *    JDK: PNG/JPEG/GIF/BMP) with grayscale conversion + nearest-
  *    neighbor resize; undecodable payloads yield zero frames
  *    (quarantine-by-omission, the E5 contract).
  *  - [[FakeCodec]] — a deterministic md5-driven stand-in used by the
  *    ORACLE-CHECKED queries: the synthetic `documents` payloads are
  *    text, not media, and the DuckDB mirror must recompute identical
  *    pixels from the digest hex (no imageio on that side).
  * Everything around the codec is the production Spark plumbing:
  * binary columns + metadata struct schema, `mapPartitions` with one
  * codec instance per partition (not per row), bounded-size frame
  * batches, and typed Datasets so downstream operators are
  * schema-checked.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, data: Array[Byte], format: String)
  case class Frame(doc_id: Long, frame_idx: Int, width: Int, height: Int,
    pixels: Array[Float])

  /** Decode one media payload into ≥0 fixed-size frames. Instantiated
    * once per PARTITION inside [[decodeFrames]] — implementations may
    * hold reusable buffers but no cross-record state. */
  trait MediaCodec extends Serializable {
    def decode(rec: MediaRecord, targetPixels: Int): Iterator[Frame]
  }

  /** Real still-image decoder on the JDK's javax.imageio (PNG, JPEG,
    * GIF, BMP — no external native libs). Decode → luminance
    * grayscale (Rec. 601 weights) → nearest-neighbor resample onto a
    * ⌊√targetPixels⌋² grid, padded with 0 to exactly `targetPixels`
    * so the frame schema is input-independent. One frame per image;
    * a payload ImageIO cannot parse produces an EMPTY iterator — at
    * pipeline level that is the quarantine contract (count decoded vs
    * input, divert the delta), never an executor-killing throw. */
  final class ImageIoCodec extends MediaCodec {
    def decode(rec: MediaRecord, targetPixels: Int): Iterator[Frame] = {
      // Plugin decoders throw RuntimeExceptions (CMMException, OOB,
      // NegativeArraySize) on truncated/crafted payloads, not just
      // IOException — NonFatal keeps the quarantine contract total.
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rec.data))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null || img.getWidth == 0 || img.getHeight == 0) Iterator.empty
      else {
        val g = math.max(1, math.sqrt(targetPixels.toDouble).toInt)
        val px = new Array[Float](targetPixels)
        var i = 0
        while (i < g * g) {
          val x = ((i % g) * img.getWidth) / g
          val y = ((i / g) * img.getHeight) / g
          val rgb = img.getRGB(x, y)
          val lum = 0.299f * ((rgb >> 16) & 0xff) +
            0.587f * ((rgb >> 8) & 0xff) + 0.114f * (rgb & 0xff)
          px(i) = lum / 255.0f
          i += 1
        }
        Iterator.single(
          Frame(rec.doc_id, 0, img.getWidth, img.getHeight, px))
      }
    }
  }

  /** Deterministic md5-driven codec used by the ORACLE-CHECKED
    * queries (see object doc): dims and pixel values derive from
    * md5(payload) — the same derivation the q31 metadata query and
    * its DuckDB oracle use. One instance per partition; reuses its
    * digest buffer. */
  final class FakeCodec extends MediaCodec {
    private val md = java.security.MessageDigest.getInstance("MD5")

    def decode(rec: MediaRecord, targetPixels: Int): Iterator[Frame] = {
      md.reset()
      val h = md.digest(rec.data)
      def hex(from: Int, n: Int): Long =
        java.lang.Long.parseLong(
          h.slice(from / 2, from / 2 + n / 2 + 1)
            .map("%02x".format(_)).mkString
            .substring(from % 2, from % 2 + n), 16)
      val width = (hex(0, 4) % 512 + 1).toInt
      val height = (hex(4, 4) % 512 + 1).toInt
      val nFrames = (hex(8, 2) % 16 + 1).toInt
      (0 until nFrames).iterator.map { f =>
        // "resize": a fixed-size pixel block per frame, derived from
        // the payload hash — stands in for decode+resample output.
        val pixels = Array.tabulate(targetPixels) { i =>
          ((h((f + i) % h.length) & 0xff) / 255.0f)
        }
        Frame(rec.doc_id, f, width, height, pixels)
      }
    }
  }

  /** Decode/resize/frame-sample through a partition-batched codec.
    * `sampleEvery` keeps every k-th frame (frame sampling);
    * `targetPixels` is the post-resize frame size; `mkCodec` is a
    * FACTORY so each partition builds its own instance (codec state
    * never crosses task boundaries, and the closure ships the
    * constructor, not a live decoder). */
  def decodeFrames(media: Dataset[MediaRecord], targetPixels: Int = 16,
      sampleEvery: Int = 1,
      mkCodec: () => MediaCodec = () => new FakeCodec): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val codec = mkCodec() // one per partition, not per row
      it.flatMap(rec => codec.decode(rec, targetPixels)
        .filter(_.frame_idx % sampleEvery == 0))
    }
  }

  // ---------------------------------------------------------------- q90
  /** The decode → frame-sample → feature-extract path END TO END as an
    * oracle-checked query: binary payloads through the partition-
    * batched codec (every other frame kept, 16-pixel resize), then
    * [[extractFeatures]] flattened to scalar columns. The stub codec
    * is md5-deterministic, so the DuckDB mirror recomputes the same
    * pixels from the digest hex and the same feature math — the whole
    * multimodal pipeline (not just q31's metadata) hash-verifies.
    * Float contract: pixel sums stay EXACT in double (float-derived
    * 24-bit mantissas, ≤16 terms — order-free); the squared-deviation
    * sum and the mean are rounded 6dp like every float surface. */
  val FramePixels = 16
  val FrameSampleEvery = 2

  def q90MultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.Tables(spark, dir).documents
      .select(col("doc_id"), col("text").cast("binary").as("data"),
        col("source").as("format"))
      .as[MediaRecord]
    val frames = decodeFrames(media, FramePixels, FrameSampleEvery)
    val cols = Seq(col("doc_id"),
      col("frame_idx").cast("long").as("frame_idx"),
      col("features").getItem(2).cast("long").as("width"),
      col("features").getItem(3).cast("long").as("height"),
      round(col("features").getItem(0), 6).as("mean_px"),
      round(col("features").getItem(1), 6).as("std_px")) ++
      (0 until 8).map(b => col("features").getItem(4 + b).as(s"h$b"))
    extractFeatures(frames.toDF())
      .select(cols: _*)
      .orderBy("doc_id", "frame_idx")
  }

  // ---------------------------------------------------------------- q162
  /** The REAL codec oracle-checked end to end: committed PNG/BMP
    * payloads (generated in-process by tools/MakeImageFixture, no
    * downloads) through [[ImageIoCodec]] decode → nearest-neighbor
    * resize → [[extractFeatures]]. The oracle is the committed
    * expected table, computed ANALYTICALLY from the designed pixel
    * layouts — independent of the decode path, so a regression in
    * PNG/BMP decode, sampling geometry, or luminance math
    * hash-mismatches. The fixture also carries two undecodable
    * payloads (truncated header, garbage bytes) with NO expected rows:
    * quarantine-by-omission is part of the hash. */
  val MediaFixturePath: String = graft.Tables.fixture("media_fixture.parquet")
  val MediaExpectedPath: String = graft.Tables.fixture("media_features_expected.parquet")

  def q162ImageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(MediaFixturePath)
      .select(col("doc_id"), col("data"), col("format")).as[MediaRecord]
    val frames = decodeFrames(media, FramePixels, sampleEvery = 1,
      mkCodec = () => new ImageIoCodec)
    val cols = Seq(col("doc_id"),
      col("frame_idx").cast("long").as("frame_idx"),
      col("features").getItem(2).cast("long").as("width"),
      col("features").getItem(3).cast("long").as("height"),
      round(col("features").getItem(0), 6).as("mean_px"),
      round(col("features").getItem(1), 6).as("std_px")) ++
      (0 until 8).map(b => col("features").getItem(4 + b).as(s"h$b"))
    extractFeatures(frames.toDF())
      .select(cols: _*)
      .orderBy("doc_id", "frame_idx")
  }

  // ---------------------------------------------------------------- q204
  /** LOSSY-codec coverage for the q162 family: committed JPEG
    * payloads through the same [[ImageIoCodec]] path. JPEG decode is
    * not bit-deterministic across decoder implementations, so the
    * oracle checks only decoder-INDEPENDENT properties — dimensions,
    * frame count, frame size, and quarantine-by-omission (the
    * truncated JPEG must yield NO row) — while MultimodalSpec asserts
    * the pixel-level sanity (solid-color luminance within JPEG
    * quantization tolerance) that a hash cannot. */
  val JpegFixturePath: String = graft.Tables.fixture("media_jpeg_fixture.parquet")
  val JpegExpectedPath: String = graft.Tables.fixture("media_jpeg_expected.parquet")

  def q204JpegDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(JpegFixturePath)
      .select(col("doc_id"), col("data"), col("format")).as[MediaRecord]
    decodeFrames(media, FramePixels, sampleEvery = 1,
        mkCodec = () => new ImageIoCodec)
      .toDF()
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        size(col("pixels")).cast("long").as("n_px"))
      .orderBy("doc_id", "frame_idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q90_multimodal_features" -> (q90MultimodalFeatures _),
    "q162_image_decode" -> (q162ImageDecode _),
    "q204_jpeg_decode" -> (q204JpegDecode _),
  )

  /** DuckDB nibble value of hex char at 1-based position `pos`. */
  private def nib(pos: String) =
    s"(strpos('0123456789abcdef', substr(m.h, $pos, 1)) - 1)"

  val oracleSql: Map[String, String] = Map(
    "q162_image_decode" ->
      s"""SELECT doc_id, frame_idx, width, height, mean_px, std_px,
         |       h0, h1, h2, h3, h4, h5, h6, h7
         |FROM read_parquet('$MediaExpectedPath')
         |ORDER BY doc_id, frame_idx""".stripMargin,
    "q204_jpeg_decode" ->
      s"""SELECT doc_id, frame_idx, width, height, n_px
         |FROM read_parquet('$JpegExpectedPath')
         |ORDER BY doc_id, frame_idx""".stripMargin,
    "q90_multimodal_features" -> {
      s"""WITH m AS (
         |  SELECT doc_id, md5(text) AS h,
         |         ${Md5Prefix.hexToLongSql("md5(text)", 1, 4)} % 512 + 1 AS width,
         |         ${Md5Prefix.hexToLongSql("md5(text)", 5, 4)} % 512 + 1 AS height,
         |         ${Md5Prefix.hexToLongSql("md5(text)", 9, 2)} % 16 + 1 AS n_frames
         |  FROM documents),
         |bytes AS (
         |  SELECT m.doc_id, tj.j,
         |         ${nib("2 * tj.j + 1")} * 16 + ${nib("2 * tj.j + 2")} AS bv
         |  FROM m, unnest(generate_series(0, 15)) AS tj(j)),
         |frames AS (
         |  SELECT m.doc_id, tf.f AS frame_idx, m.width, m.height
         |  FROM m, unnest(generate_series(0, 15)) AS tf(f)
         |  WHERE tf.f < m.n_frames AND tf.f % $FrameSampleEvery = 0),
         |px AS (
         |  SELECT fr.doc_id, fr.frame_idx,
         |         CAST(CAST(b.bv AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE) AS p
         |  FROM frames fr
         |  CROSS JOIN unnest(generate_series(0, ${FramePixels - 1})) AS ti(i)
         |  JOIN bytes b ON b.doc_id = fr.doc_id
         |    AND b.j = (fr.frame_idx + ti.i) % 16),
         |mn AS (
         |  SELECT doc_id, frame_idx, sum(p) / $FramePixels AS mean_px
         |  FROM px GROUP BY 1, 2),
         |sd AS (
         |  SELECT px.doc_id, px.frame_idx,
         |         round(sqrt(sum((px.p - mn.mean_px) * (px.p - mn.mean_px))
         |                    / $FramePixels), 6) AS std_px
         |  FROM px JOIN mn USING (doc_id, frame_idx)
         |  GROUP BY px.doc_id, px.frame_idx, mn.mean_px),
         |hist AS (
         |  SELECT doc_id, frame_idx,
         |         CAST(least(floor(p * 8), 7) AS INT) AS bin
         |  FROM px),
         |hr AS (
         |  SELECT doc_id, frame_idx,
         |${(0 until 8).map(b =>
            s"         count(*) FILTER (bin = $b) / CAST($FramePixels AS DOUBLE) AS h$b")
            .mkString(",\n")}
         |  FROM hist GROUP BY 1, 2)
         |SELECT f.doc_id, CAST(f.frame_idx AS BIGINT) AS frame_idx,
         |       CAST(f.width AS BIGINT) AS width,
         |       CAST(f.height AS BIGINT) AS height,
         |       round(mn.mean_px, 6) AS mean_px, sd.std_px,
         |       ${(0 until 8).map(b => s"hr.h$b").mkString(", ")}
         |FROM frames f
         |JOIN mn USING (doc_id, frame_idx)
         |JOIN sd USING (doc_id, frame_idx)
         |JOIN hr USING (doc_id, frame_idx)
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
  )

  /** Feature extraction over decoded frames — genuine math (NOT part
    * of the stub): pixel mean, standard deviation, dimensions, and an
    * 8-bin intensity histogram as one fixed-width `array<double>`.
    * Pure codegen'd higher-order functions, no UDF, no shuffle; the
    * output column drops straight into the `graft.sim` similarity /
    * near-dup operators (media → embedding → ANN composition). */
  def extractFeatures(frames: DataFrame): DataFrame =
    frames
      .withColumn("px", col("pixels").cast("array<double>"))
      .withColumn("mean_px",
        expr("aggregate(px, 0.0D, (a, p) -> a + p) / size(px)"))
      .withColumn("std_px", sqrt(
        expr("aggregate(px, 0.0D, (a, p) -> a + (p - mean_px) * (p - mean_px)) / size(px)")))
      .withColumn("hist",
        expr("""transform(sequence(0, 7),
               |  b -> size(filter(px, p -> cast(least(floor(p * 8), 7D) as int) = b))
               |       / cast(size(px) as double))""".stripMargin))
      .select(col("doc_id"), col("frame_idx"),
        concat(
          array(col("mean_px"), col("std_px"),
            col("width").cast("double"), col("height").cast("double")),
          col("hist")).as("features"))
}
