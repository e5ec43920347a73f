package graft.ops

import graft.SparkSpec
import graft.testutil.MediaFixture
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = MediaFixture.mediaFromText(spark,
    Seq((0L, "an image payload"), (1L, "an audio payload"), (2L, "a video payload"))
      .toDF("doc_id", "text"), "doc_id", "text")

  test("mediaFromText assigns kinds by id and utf-8 payloads") {
    val rows = media.collect().sortBy(_.media_id)
    assert(rows.map(_.kind).toSeq == Seq("image", "audio", "video"))
    assert(new String(rows(0).payload, "UTF-8") == "an image payload")
  }

  test("extractFeatures: deterministic stub decode through mapPartitions") {
    def run() = Multimodal.extractFeatures(media, Multimodal.FakeDecoder.decode)
    val f1 = run().collect().sortBy(_.media_id)
    val f2 = run().collect().sortBy(_.media_id)
    assert(f1.map(_.width).toSeq == f2.map(_.width).toSeq)
    assert(f1.forall(f => f.width >= 1 && f.width <= 1920))
    assert(f1.forall(f => f.height >= 1 && f.height <= 1080))
    assert(f1.find(_.kind == "image").get.duration_ms == 0L)
    assert(f1.forall(_.feature.length == 8))
    assert(f1.forall(_.byte_len > 0))
  }

  test("extracted features compose into the ANN path (media → vectors → top-k)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m = MediaFixture.mediaFromText(spark, docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(m).toDF()
      .select(col("media_id").as("id"), col("feature").as("embedding"))
    val q = feats.where(col("id") < 3).select(col("id").as("qid"), col("embedding"))
    val nn = Similarity.bruteForceTopK(feats, q, k = 3).collect()
    assert(nn.length == 9) // 3 queries × top-3
    assert(nn.forall(r => r.getAs[Double]("cosine") >= -1.0 && r.getAs[Double]("cosine") <= 1.0 + 1e-12))
  }

  test("MediaCodec round-trip: every writer's bytes parse back exactly") {
    assert(MediaCodec.decode(MediaCodec.bmp(37, 23)).get ==
      MediaCodec.Decoded("bmp", 37, 23, 0L))
    assert(MediaCodec.decode(MediaCodec.png(640, 480)).get ==
      MediaCodec.Decoded("png", 640, 480, 0L))
    assert(MediaCodec.decode(MediaCodec.wav(123)).get ==
      MediaCodec.Decoded("wav", 0, 0, 123L))
    assert(MediaCodec.decode(MediaCodec.avi(320, 240, 75)).get ==
      MediaCodec.Decoded("avi", 320, 240, 3000L)) // 75 frames × 40 ms
  }

  test("generated BMP/PNG are valid per the JDK's independent imageio decoder") {
    import javax.imageio.ImageIO
    import java.io.ByteArrayInputStream
    for ((bytes, w, h) <- Seq((MediaCodec.bmp(37, 23), 37, 23),
        (MediaCodec.png(61, 41), 61, 41))) {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      assert(img != null, "imageio rejected the file")
      assert(img.getWidth == w && img.getHeight == h)
    }
  }

  test("generated WAV is valid per the JDK's independent sampled-audio parser") {
    import javax.sound.sampled.AudioSystem
    import java.io.ByteArrayInputStream
    val fmt = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(MediaCodec.wav(250)))
    val durMs = fmt.getFrameLength * 1000L / fmt.getFormat.getFrameRate.toLong
    assert(durMs == 250L)
    assert(fmt.getFormat.getSampleRate == 8000f)
  }

  test("GIF parse cross-validated against a JDK-written GIF") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    val img = new BufferedImage(123, 45, BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "gif", out)) // independent encoder
    assert(MediaCodec.decode(out.toByteArray).get == MediaCodec.Decoded("gif", 123, 45, 0L))
  }

  test("GIF header parse and quarantine of unknown bytes") {
    // hand-built GIF89a header: "GIF89a" + width 320 LE + height 200 LE
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x40, 0x01, 0xc8.toByte, 0x00, 0, 0, 0, 0)
    assert(MediaCodec.decode(gif).get == MediaCodec.Decoded("gif", 320, 200, 0L))
    assert(MediaCodec.decode("not a media file at all".getBytes).isEmpty)
    assert(MediaCodec.decode(Array.emptyByteArray).isEmpty)
    // RealDecoder marks unparseable rows -1 (quarantine), never throws
    val bad = Multimodal.RealDecoder.decode(
      Multimodal.MediaRow(9L, "image", "junk bytes junk bytes".getBytes))
    assert(bad.width == -1 && bad.height == -1 && bad.duration_ms == -1L)
  }

  test("synthesizeMedia → RealDecoder recovers the doc_id arithmetic from real bytes") {
    val docs = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 121L, 2514L).toDF("doc_id")
    val out = Multimodal.extractFeatures(Multimodal.synthesizeMedia(spark, docs, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    // image (id%3=0): w=id%60+1, h=id%40+1; even id → BMP, odd → PNG
    assert(out(0L).width == 1 && out(0L).height == 1 && out(0L).duration_ms == 0L)
    assert(out(3L).width == 4 && out(3L).height == 4)
    assert(out(6L).width == 7 && out(6L).height == 7)
    assert(out(2514L).width == 55 && out(2514L).height == 35) // 2514%60+1, 2514%40+1
    // audio (id%3=1): duration = id%250+1 ms
    assert(out(1L).duration_ms == 2L && out(1L).width == 0)
    assert(out(4L).duration_ms == 5L)
    assert(out(121L).duration_ms == 122L)
    // video (id%3=2): w=id%64+16, h=id%48+12, dur=(id%100+1)*40 ms
    assert(out(2L).width == 18 && out(2L).height == 14 && out(2L).duration_ms == 120L)
    assert(out(5L).duration_ms == 240L)
  }

  test("Embedder boundary: a second embedder yields identical pipeline topology") {
    // same decode path, different Embedder impl — schema and physical
    // plan shape must be byte-identical (only the vector values and
    // length differ), proving the stand-in is a real interface boundary
    def run(e: Multimodal.Embedder) =
      Multimodal.extractFeatures(media, Multimodal.RealDecoder.withEmbedder(e)).toDF()
    val a = run(Multimodal.ByteHashEmbedder)
    val b = run(Multimodal.ByteMomentEmbedder)
    assert(a.schema == b.schema, "schema must not depend on the embedder")
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.getClass.getSimpleName }
    assert(shape(a) == shape(b), "physical plan shape must not depend on the embedder")
    val fa = a.collect().map(r => r.getAs[Long]("media_id") ->
      r.getAs[scala.collection.Seq[Double]]("feature")).toMap
    val fb = b.collect().map(r => r.getAs[Long]("media_id") ->
      r.getAs[scala.collection.Seq[Double]]("feature")).toMap
    assert(fa.keySet == fb.keySet)
    assert(fa.values.forall(_.length == Multimodal.ByteHashEmbedder.dim))
    assert(fb.values.forall(_.length == Multimodal.ByteMomentEmbedder.dim))
    // byte-moment features are genuine moments: min ≤ mean ≤ max
    for (v <- fb.values) assert(v(2) <= v(0) + 1e-12 && v(0) <= v(3) + 1e-12)
  }

  test("Embedder.embed column form matches embedBytes row form") {
    val df = media.toDF()
    val viaColumn = df.select(col("media_id"),
        Multimodal.ByteHashEmbedder.embed(col("payload")).as("f"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("f").toSeq)
      .toMap
    val viaRows = media.collect()
      .map(r => r.media_id -> Multimodal.ByteHashEmbedder.embedBytes(r.payload).toSeq)
      .toMap
    assert(viaColumn == viaRows)
  }

  test("sampleFrames: stride offsets for videos only") {
    val feats = Multimodal.extractFeatures(media).toDF()
    val frames = Multimodal.sampleFrames(feats, stride = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(frames.forall(_._1 == 2L)) // only the video row
    // "a video payload" = 15 bytes → offsets 0,5,10 (≤ byte_len-1 = 14)
    assert(frames.map(_._2).sorted.toSeq == Seq(0L, 5L, 10L))
  }
}
