package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, octet_length}

import graft.multimodal.Multimodal
import graft.text.TextOps

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** The binary payload + metadata columns of a [[Multimodal.MediaRecord]]
    * over a text corpus: documents stand in for raw media blobs. */
  private def attachBinary(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("data"),
      col("source").as("format"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  private lazy val media = attachBinary(Tables(spark, sfDir()).documents)
    .as[Multimodal.MediaRecord]

  test("attachBinary produces the binary + metadata schema") {
    val df = attachBinary(Tables(spark, sfDir()).documents)
    assert(df.schema("data").dataType.typeName == "binary")
    assert(df.schema("n_bytes").dataType.typeName == "long")
  }

  test("fake decode is deterministic with in-range dims") {
    val f1 = Multimodal.decodeFrames(media, targetPixels = 16).collect()
    val f2 = Multimodal.decodeFrames(media, targetPixels = 16).collect()
    assert(f1.map(f => (f.doc_id, f.frame_idx, f.pixels.toSeq)).toSet ==
      f2.map(f => (f.doc_id, f.frame_idx, f.pixels.toSeq)).toSet)
    f1.foreach { f =>
      assert(f.width >= 1 && f.width <= 512)
      assert(f.height >= 1 && f.height <= 512)
      assert(f.pixels.length == 16)
      assert(f.pixels.forall(p => p >= 0.0f && p <= 1.0f))
    }
  }

  test("frame sampling keeps every k-th frame") {
    val all = Multimodal.decodeFrames(media, 16).collect()
    val sampled = Multimodal.decodeFrames(media, 16, sampleEvery = 2).collect()
    assert(sampled.forall(_.frame_idx % 2 == 0))
    assert(sampled.length == all.count(_.frame_idx % 2 == 0))
  }

  test("feature extraction: fixed-width vectors that feed similarity ops") {
    import org.apache.spark.sql.functions._
    val frames = Multimodal.decodeFrames(media, targetPixels = 16).toDF()
    val feats = Multimodal.extractFeatures(frames)
    val rows = feats.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Double]]("features")
      assert(v.length == 12)
      assert(math.abs(v.drop(4).sum - 1.0) < 1e-9, "histogram must sum to 1")
      assert(v(1) >= 0.0, "std must be non-negative")
    }
    // composition: frame features drive the cosine similarity operator
    val f0 = feats.filter(col("frame_idx") === 0)
      .select(col("doc_id"), col("features"))
    val sim = f0.as("x").join(f0.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .limit(100)
      .select(graft.sim.Similarity.cosine(
        col("x.features"), col("y.features")).as("s"))
      .collect()
    assert(sim.forall(r => r.getDouble(0) >= -1.0 - 1e-9 &&
      r.getDouble(0) <= 1.0 + 1e-9))
  }

  test("decoder dims agree with the q31 metadata query") {
    val meta = TextOps.q31MultimodalMeta(spark, sfDir()).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("width"), r.getAs[Long]("height"), r.getAs[Long]("n_frames"))).toMap
    val frames = Multimodal.decodeFrames(media, 16).collect()
      .groupBy(_.doc_id)
    frames.foreach { case (id, fs) =>
      val (w, h, n) = meta(id)
      assert(fs.head.width.toLong == w)
      assert(fs.head.height.toLong == h)
      assert(fs.map(_.frame_idx).max.toLong + 1 == n)
    }
  }

  test("q90: frame sampling keeps ceil(n_frames/2) per doc, histograms sum to 1") {
    val feat = graft.multimodal.Multimodal
      .q90MultimodalFeatures(spark, sfDir()).collect()
    val metaFrames = graft.text.TextOps.q31MultimodalMeta(spark, sfDir())
      .collect().map(r => (r.getLong(4) + 1) / 2).sum // ceil(n/2)
    assert(feat.length.toLong == metaFrames)
    feat.take(50).foreach { r =>
      val hsum = (6 until 14).map(r.getDouble).sum
      assert(math.abs(hsum - 1.0) < 1e-9, "histogram bins must sum to 1")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  /** Encode a solid-gray image as PNG bytes, in memory. */
  private def png(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("ImageIoCodec decodes real PNGs: dims, grayscale levels, corrupt quarantine") {
    val media = Seq(
      Multimodal.MediaRecord(1L, png(8, 6, 0), "png"),     // black
      Multimodal.MediaRecord(2L, png(5, 5, 255), "png"),   // white
      Multimodal.MediaRecord(3L, png(16, 4, 128), "png"),  // mid gray
      Multimodal.MediaRecord(4L, "not a png".getBytes("UTF-8"), "png"))
      .toDS()
    val frames = Multimodal
      .decodeFrames(media, targetPixels = 16,
        mkCodec = () => new Multimodal.ImageIoCodec)
      .collect().map(f => f.doc_id -> f).toMap
    assert(frames.keySet == Set(1L, 2L, 3L), "corrupt payload quarantined")
    assert(frames(1L).width == 8 && frames(1L).height == 6)
    assert(frames(3L).width == 16 && frames(3L).height == 4)
    assert(frames(1L).pixels.length == 16)
    assert(frames(1L).pixels.forall(_ == 0.0f), "black decodes to 0")
    assert(frames(2L).pixels.forall(p => math.abs(p - 1.0f) < 1e-6), "white decodes to 1")
    assert(frames(3L).pixels.forall(p => math.abs(p - 128f / 255f) < 1e-3), "mid gray")
  }

  test("q204: JPEG decode — dims exact, luminance within quantization tolerance") {
    // the committed lossy fixture: decode must reproduce dims/frame
    // count exactly (the oracled properties) AND land pixel values
    // within JPEG quantization error of the designed colors — the
    // part a cross-decoder hash cannot pin, asserted here with a
    // tolerance instead
    val rows = Multimodal.q204JpegDecode(spark, sfDir()).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "two decodable JPEGs, truncated one quarantined")
    assert(rows.forall(_.getLong(4) == 16L))
    val media = spark.read.parquet(Multimodal.JpegFixturePath)
      .select(col("doc_id"), col("data"), col("format"))
      .as[Multimodal.MediaRecord]
    val frames = Multimodal.decodeFrames(media, targetPixels = 16,
        mkCodec = () => new Multimodal.ImageIoCodec)
      .collect().map(f => f.doc_id -> f).toMap
    // designed solid color (90,150,210) → Rec.601 luminance
    val lum = (0.299f * 90 + 0.587f * 150 + 0.114f * 210) / 255.0f
    assert(frames(1L).pixels.forall(p => math.abs(p - lum) < 0.02f),
      "solid JPEG must decode within quantization tolerance of designed luminance")
    // two-tone halves: dark side dark, bright side bright
    val px2 = frames(2L).pixels
    assert(px2.take(2).forall(_ < 0.3f) && px2.slice(2, 4).forall(_ > 0.6f))
  }

  test("ImageIoCodec frames flow through extractFeatures unchanged") {
    val media = Seq(Multimodal.MediaRecord(7L, png(4, 4, 51), "png")).toDS()
    val feat = Multimodal.extractFeatures(
      Multimodal.decodeFrames(media, targetPixels = 16,
        mkCodec = () => new Multimodal.ImageIoCodec).toDF()).collect()
    assert(feat.length == 1)
    val f = feat.head.getAs[scala.collection.Seq[Double]]("features")
    assert(math.abs(f(0) - 51.0 / 255.0) < 1e-3) // mean_px
    assert(f(1) < 1e-6)                          // std of a solid image
    assert(f(2) == 4.0 && f(3) == 4.0)           // dims
  }
}
