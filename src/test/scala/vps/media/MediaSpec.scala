package vps.media

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import vps.SparkTestSession
import vps.docs.InterleavedDocs

class MediaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("media decode plumbing: schema, batching, null passthrough, determinism (stub codec)") {
    val docs = InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    val media = docs
      .select($"doc_id", explode($"spans").as("span"))
      .where($"span.kind" === "image")
      .select($"doc_id", $"span.media_ref".as("media_ref"))
      .withColumn("blob",
        when($"doc_id" === "doc7", lit(null).cast("binary")) // planted null
          .otherwise(MediaPipeline.synthesizeBlob($"media_ref")))

    val decoded = MediaPipeline.decode(media, "blob", MediaPipeline.StubCodec, batchSize = 64).cache()
    assert(decoded.schema.fieldNames.takeRight(10).toSeq ===
      Seq("media_kind", "width", "height", "n_frames", "channels",
        "mean_r", "mean_g", "mean_b", "decode_ok", "feature"))
    assert(decoded.count() === 500)
    // null blob -> null decode fields
    val nullRow = decoded.where($"doc_id" === "doc7").select($"media_kind").head()
    assert(nullRow.isNullAt(0))
    // non-null rows all decoded with 16-dim features and sane dims
    val ok = decoded.where($"media_kind".isNotNull)
      .select(size($"feature") === 16 && $"width" >= 64 && $"height" >= 64 && $"n_frames" >= 1)
      .as[Boolean].collect()
    assert(ok.length === 499 && ok.forall(identity))
    // deterministic: re-run equals
    val again = MediaPipeline.decode(media, "blob", MediaPipeline.StubCodec, batchSize = 17)
      .select($"doc_id", $"width", $"height")
    assert(again.except(decoded.select($"doc_id", $"width", $"height")).count() === 0)

    // frame sampling shape
    val sampled = MediaPipeline.sampleFrames(decoded.where($"media_kind".isNotNull), stride = 30)
    val video = sampled.where($"media_kind" === "video")
      .select(size($"sampled_frames") >= 1).as[Boolean].collect()
    assert(video.nonEmpty && video.forall(identity))
    decoded.unpersist()
  }

  test("ImageIoCodec decodes real PNG bytes: exact dims, channels, pixel means; corrupt -> error channel") {
    val docs = InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    val media = docs.select($"doc_id", $"id", explode($"spans").as("span"))
      .where($"span.kind" === "image")
      .select($"doc_id", $"id")
      .withColumn("blob",
        when($"id" === 7L, lit(null).cast("binary")) // planted null alongside the % 17 corrupt rows
          .otherwise(MediaPipeline.synthesizeImageBlob($"id")))
    val decoded = MediaPipeline.decode(media, "blob", new ImageIoCodec, batchSize = 64)
      .select($"id", $"media_kind", $"width", $"height", $"channels",
        $"mean_r", $"mean_g", $"mean_b", $"decode_ok")
      .collect()
    assert(decoded.length === 500)
    decoded.foreach { r =>
      val id = r.getLong(0)
      if (id == 7L) assert(r.isNullAt(1) && r.isNullAt(8)) // null blob: no decode attempted
      else if (id % MediaPipeline.CorruptEvery == 0) {
        assert(!r.getBoolean(8) && r.isNullAt(1) && r.isNullAt(2)) // error channel
      } else {
        assert(r.getString(1) === "image" && r.getBoolean(8))
        assert(r.getInt(2) === MediaPipeline.widthFor(id))
        assert(r.getInt(3) === MediaPipeline.heightFor(id))
        assert(r.getInt(4) === 3)
        assert(r.getDouble(5) === MediaPipeline.redFor(id).toDouble)
        assert(r.getDouble(6) === MediaPipeline.greenFor(id).toDouble)
        assert(r.getDouble(7) === MediaPipeline.blueFor(id).toDouble)
      }
    }
  }

  test("ImageIoCodec measures real pixels: gradient PNG means match an independent sum; JPEG/GIF/BMP decode; garbage fails") {
    // horizontal red gradient + constant green/blue: mean must equal the
    // independently computed per-channel average, proving a real raster walk
    val w = 40; val h = 10
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    (0 until h).foreach(y => (0 until w).foreach { x =>
      img.setRGB(x, y, new java.awt.Color(x * 255 / (w - 1), 30, 200).getRGB)
    })
    val expectedR = (0 until w).map(x => x * 255 / (w - 1)).sum.toDouble / w
    val codec = new ImageIoCodec

    val png = MediaPipeline.encodePng(img)
    val Array(d) = codec.decodeBatch(Array(png))
    assert(d.ok && d.width === w && d.height === h)
    assert(math.abs(d.meanR - expectedR) < 1e-9)
    assert(d.meanG === 30.0 && d.meanB === 200.0)
    assert(math.abs(d.feature.map(_.toDouble).sum - 1.0) < 1e-6) // histogram fractions

    // other ImageIO formats round-trip through the same codec (JPEG is lossy:
    // dims exact, means approximate)
    Seq("jpg", "gif", "bmp").foreach { fmt =>
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"ImageIO cannot write $fmt")
      val Array(dd) = codec.decodeBatch(Array(out.toByteArray))
      assert(dd.ok && dd.width === w && dd.height === h, s"format $fmt")
      assert(math.abs(dd.meanB - 200.0) < 16.0, s"format $fmt meanB ${dd.meanB}")
    }

    // garbage and truncated bytes hit the error channel, not an exception
    val Array(g1, g2, n1) = codec.decodeBatch(Array(
      "definitely not an image".getBytes, png.take(20), null))
    assert(!g1.ok && !g2.ok && n1 == null)
  }

  test("resizeImages: real downscale with exact closed-form dims; constant color survives; re-decodable") {
    val docs = InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    val media = docs.select($"doc_id", $"id")
      .where($"id" % MediaPipeline.CorruptEvery =!= 0 && $"id" < 100)
      .withColumn("blob", MediaPipeline.synthesizeImageBlob($"id"))
    val maxDim = 24
    val resized = MediaPipeline.resizeImages(media, "blob", maxDim)
    // re-decode the resized bytes through the production codec: dims must
    // match the closed form, constant color must survive bilinear resampling
    val out = MediaPipeline.decode(resized.drop("blob"), "resized_blob", new ImageIoCodec)
      .select($"id", $"resized_width", $"resized_height", $"width", $"height",
        $"mean_r", $"mean_g", $"mean_b", $"decode_ok")
      .collect()
    assert(out.length > 50)
    out.foreach { r =>
      val id = r.getLong(0)
      val (ew, eh) = MediaPipeline.resizedDims(
        MediaPipeline.widthFor(id), MediaPipeline.heightFor(id), maxDim)
      assert(r.getBoolean(8), s"resized image for $id must decode")
      assert(r.getInt(1) === ew && r.getInt(2) === eh, s"closed-form dims for $id")
      assert(r.getInt(3) === ew && r.getInt(4) === eh, s"measured dims for $id")
      assert(math.max(ew, eh) <= maxDim)
      assert(r.getDouble(5) === MediaPipeline.redFor(id).toDouble, s"constant red for $id")
      assert(r.getDouble(6) === MediaPipeline.greenFor(id).toDouble)
      assert(r.getDouble(7) === MediaPipeline.blueFor(id).toDouble)
    }
    // small images are passed through untouched (never upscale)
    val tiny = MediaPipeline.resizedDims(10, 8, 24)
    assert(tiny === ((10, 8)))
    // null blob -> null resize fields
    val nulls = MediaPipeline.resizeImages(
      Seq((1L, null: Array[Byte])).toDF("id", "blob"), "blob", 24)
      .select($"resized_blob".isNull, $"resized_width".isNull).as[(Boolean, Boolean)].head()
    assert(nulls === ((true, true)))
  }

  test("AudioPipeline decodes real WAV bytes: exact format, peak, zero mean; corrupt -> error channel") {
    val docs = InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    val media = docs.select($"doc_id", $"id")
      .withColumn("blob",
        when($"id" === 11L, lit(null).cast("binary"))
          .otherwise(AudioPipeline.synthesizeAudioBlob($"id")))
    val decoded = AudioPipeline.decode(media, "blob", batchSize = 64)
      .select($"id", $"sample_rate", $"channels", $"bits", $"n_samples",
        $"peak", $"mean_amp", $"decode_ok")
      .collect()
    assert(decoded.length === 500)
    decoded.foreach { r =>
      val id = r.getLong(0)
      if (id == 11L) assert(r.isNullAt(1) && r.isNullAt(7)) // null blob
      else if (id % AudioPipeline.CorruptEvery == 0) {
        assert(!r.getBoolean(7) && r.isNullAt(1) && r.isNullAt(4))
      } else {
        assert(r.getInt(1) === AudioPipeline.SampleRate && r.getInt(2) === 1 && r.getInt(3) === 16)
        assert(r.getLong(4) === AudioPipeline.nSamplesFor(id))
        assert(r.getInt(5) === AudioPipeline.amplitudeFor(id), s"peak for id $id")
        assert(r.getDouble(6) === 0.0, s"mean for id $id")
      }
    }
  }

  test("AudioPipeline peak/mean match an independent byte-level scan of the WAV payload") {
    // independent oracle: parse the generated bytes directly (skip the 44-byte
    // canonical PCM header, read LE shorts) — no javax.sound involved
    val id = 5L
    val bytes = AudioPipeline.audioBlobFor(id)
    assert(new String(bytes.take(4), "US-ASCII") === "RIFF")
    val bb = java.nio.ByteBuffer.wrap(bytes, 44, bytes.length - 44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var peak = 0; var sum = 0L; var n = 0L
    while (bb.remaining() >= 2) {
      val s = bb.getShort().toInt
      peak = math.max(peak, math.abs(s)); sum += s; n += 1
    }
    val df = Seq((id, bytes)).toDF("id", "blob")
    val row = AudioPipeline.decode(df, "blob")
      .select($"n_samples", $"peak", $"mean_amp").head()
    assert(row.getLong(0) === n)
    assert(row.getInt(1) === peak)
    assert(row.getDouble(2) === sum.toDouble / n)
    assert(sum === 0L, "triangle wave sums to exactly zero")
  }

  test("AudioPipeline resolves its readers per context classloader and decodes under a fresh one") {
    val bytes = AudioPipeline.audioBlobFor(5L)
    val thread = Thread.currentThread()
    val previous = thread.getContextClassLoader
    val outer = AudioPipeline.audioReaders
    val child = new java.net.URLClassLoader(Array.empty[java.net.URL], previous)
    thread.setContextClassLoader(child)
    try {
      val readers = AudioPipeline.audioReaders
      assert(!(readers eq outer), "a new context loader gets its own reader list")
      assert(AudioPipeline.audioReaders eq readers, "resolved once per loader")
      assert(readers.map(_.getClass.getName) === outer.map(_.getClass.getName))
      val Some((rate, channels, bits, n, peak, mean)) = AudioPipeline.decodeOne(bytes)
      assert((rate, channels, bits) === ((AudioPipeline.SampleRate, 1, 16)))
      assert(n === AudioPipeline.nSamplesFor(5L))
      assert(peak === AudioPipeline.amplitudeFor(5L))
      assert(mean === 0.0)
    } finally {
      thread.setContextClassLoader(previous)
      child.close()
    }
    assert(AudioPipeline.audioReaders eq outer)
  }

  test("animated GIF round-trips losslessly: independent full decode matches the closed forms") {
    // independent oracle: decode every frame with a fresh JDK reader (no
    // sampleGifFrames involved) and compare against the generator formulas
    for (id <- Seq(1L, 2L, 3L, 9L, 123L, 4321L)) {
      val bytes = MediaPipeline.gifBlobFor(id)
      assert(new String(bytes.take(3), "US-ASCII") === "GIF")
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis, false, true)
        val n = reader.getNumImages(true)
        assert(n === MediaPipeline.gifFramesFor(id), s"frame count for id $id")
        for (f <- 0 until n) {
          val img = reader.read(f)
          assert(img.getWidth === MediaPipeline.widthFor(id))
          assert(img.getHeight === MediaPipeline.heightFor(id))
          val rgb = img.getRGB(img.getWidth / 2, img.getHeight / 2)
          assert(((rgb >> 16) & 0xff) === MediaPipeline.frameRedFor(id, f), s"red id=$id f=$f")
          assert(((rgb >> 8) & 0xff) === MediaPipeline.frameGreenFor(id, f), s"green id=$id f=$f")
          assert((rgb & 0xff) === MediaPipeline.frameBlueFor(id, f), s"blue id=$id f=$f")
        }
      } finally { iis.close(); reader.dispose() }
    }
  }

  test("sampleGifFrames: every stride-th frame measured exactly; corrupt and null error channels") {
    val ids = (0L until 60L).toSeq
    val df = ids.toDF("id")
      .withColumn("blob",
        when($"id" === 5L, lit(null).cast("binary")) // planted null next to % 17 corrupt
          .otherwise(MediaPipeline.synthesizeGifBlob($"id")))
    val out = MediaPipeline.sampleGifFrames(df, "blob", stride = 2).cache()

    // row count: ceil(nFrames / 2) per good id, one error row per corrupt/null id
    val expectedRows = ids.map { id =>
      if (id == 5L || id % MediaPipeline.CorruptEvery == 0) 1L
      else (MediaPipeline.gifFramesFor(id) + 1) / 2
    }.sum
    assert(out.count() === expectedRows)

    // null blob -> decode_ok null; corrupt bytes -> decode_ok false, null facts
    val nullRow = out.where($"id" === 5L).select($"decode_ok", $"frame_idx").head()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
    val corrupt = out.where($"id" % MediaPipeline.CorruptEvery === 0 && $"id" =!= 5L)
      .select($"decode_ok", $"n_frames").collect()
    assert(corrupt.nonEmpty && corrupt.forall(r => !r.getBoolean(0) && r.isNullAt(1)))

    // good rows: frame indices are exactly 0, 2, 4, ... and means are the
    // generator constants (constant-color frames -> integer-exact means)
    val good = out.where($"decode_ok" === true)
      .select($"id", $"frame_idx", $"n_frames", $"width", $"height",
        $"mean_r", $"mean_g", $"mean_b")
      .collect()
    for (r <- good) {
      val id = r.getLong(0); val f = r.getInt(1)
      assert(f % 2 === 0 && f < r.getInt(2))
      assert(r.getInt(2) === MediaPipeline.gifFramesFor(id))
      assert(r.getInt(3) === MediaPipeline.widthFor(id))
      assert(r.getInt(4) === MediaPipeline.heightFor(id))
      assert(r.getDouble(5) === MediaPipeline.frameRedFor(id, f).toDouble)
      assert(r.getDouble(6) === MediaPipeline.frameGreenFor(id, f).toDouble)
      assert(r.getDouble(7) === MediaPipeline.frameBlueFor(id, f).toDouble)
    }
    val sampledPerId = good.groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).sorted)
    for ((id, fs) <- sampledPerId)
      assert(fs.toSeq === (0 until MediaPipeline.gifFramesFor(id) by 2).toSeq, s"frames for id $id")
    out.unpersist()
  }
}
