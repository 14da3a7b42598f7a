package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Tables

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.fromDocuments(Tables.documents(spark, sf))

  test("media table has binary payloads with typed metadata") {
    val schema = media.schema
    assert(schema("payload").dataType.typeName === "binary")
    assert(schema("meta").dataType.typeName === "struct")
    assert(media.filter($"kind".isin("image", "audio", "video")).count() === media.count())
  }

  test("stubbed decode is deterministic and batch-shaped") {
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.map(_.payload_md5).toSeq === f2.map(_.payload_md5).toSeq)
    assert(f1.forall(_.embedding.length === 8))
    // feature md5 equals declarative md5 of payload (same bytes seen)
    val declarative = Multimodal.payloadStats(media)
      .select("media_id", "payload_md5").as[(Long, String)].collect().toMap
    assert(f1.forall(f => declarative(f.media_id) == f.payload_md5))
  }

  test("resize scales metadata down to max width, keeps payload") {
    val resized = Multimodal.resizeMeta(media, maxWidth = 128)
    assert(resized.filter($"meta.width" > 128).count() === 0)
    val before = media.select(md5($"payload")).as[String].collect().sorted
    val after = resized.select(md5($"payload")).as[String].collect().sorted
    assert(before.toSeq === after.toSeq)
  }

  test("real image decode: solid-color PNG yields exact channel means, zero variance") {
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(255, 0, 0)); g.fillRect(0, 0, 6, 4); g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val f = Multimodal.decodeImage(baos.toByteArray).get
    assert(f.length === 8)
    assert(f(0) === 1.0f && f(1) === 0.0f && f(2) === 0.0f) // mean RGB
    assert(math.abs(f(3) - 0.299f) < 1e-6)                  // mean luma
    assert(math.abs(f(4)) < 1e-6 && math.abs(f(5)) < 1e-6)  // variance, edges
    assert(f(6) === 0.006f && f(7) === 0.004f)              // w/1k, h/1k
  }

  test("real image decode: an edge between two halves registers as edge energy") {
    val img = new java.awt.image.BufferedImage(10, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(java.awt.Color.BLACK); g.fillRect(0, 0, 5, 2)
    g.setColor(java.awt.Color.WHITE); g.fillRect(5, 0, 5, 2); g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val f = Multimodal.decodeImage(baos.toByteArray).get
    assert(math.abs(f(3) - 0.5f) < 1e-5)          // half black half white
    // one black->white step among 9 horizontal gradients per row
    assert(math.abs(f(5) - 1.0f / 9.0f) < 1e-5)
  }

  test("extractFeatures routes decodable payloads to the real decoder, rest to stub") {
    val img = new java.awt.image.BufferedImage(3, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val rows = Seq(
      (1L, "image", png, Multimodal.MediaMeta(3, 3, 0, 0, "png")),
      (2L, "image", "just text".getBytes("UTF-8"), Multimodal.MediaMeta(0, 0, 0, 0, "stub")))
      .toDF("media_id", "kind", "payload", "meta")
    val f = Multimodal.extractFeatures(rows).collect().sortBy(_.media_id)
    // all-black 3x3 PNG: real features = zeros except dims
    assert(f(0).embedding.toSeq === Seq(0f, 0f, 0f, 0f, 0f, 0f, 0.003f, 0.003f))
    // non-image payload: stub features (byte sums), not dims-in-tail shape
    assert(f(1).embedding.toSeq === Multimodal.decodeStub("just text".getBytes("UTF-8")).toSeq)
  }

  test("magic-byte gate: every stock-JDK container still reaches ImageIO; junk never does") {
    // r20 gate (decodeImage): non-image payloads must return None WITHOUT
    // paying the per-call ImageIO SPI-registry trip, while every container
    // the stock JDK decodes still gets through on its signature.
    for (fmt <- Seq("png", "bmp", "gif", "jpg")) {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos), s"JDK can write $fmt")
      assert(Multimodal.decodeImage(baos.toByteArray).isDefined,
        s"$fmt passes the gate and decodes")
    }
    // gate-rejected: plain text, empty, and sub-4-byte payloads
    assert(Multimodal.decodeImage("just some text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeImage(Array[Byte](0x42, 0x4D)).isEmpty) // "BM" but < 4 bytes
    // gate-passed but corrupt: ImageIO returns null -> None (old behavior kept)
    val corruptPng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4)
    assert(Multimodal.decodeImage(corruptPng).isEmpty)
  }

  test("sniffMeta reads real PNG IHDR dimensions (javax.imageio payload)") {
    val img = new java.awt.image.BufferedImage(37, 21,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val fallback = Multimodal.MediaMeta(0, 0, 0, 0, "stub")
    val got = Multimodal.sniffMeta(baos.toByteArray, fallback)
    assert(got.width === 37 && got.height === 21 && got.format === "png")
  }

  test("sniffMeta reads WAV sample rate and duration from RIFF chunks") {
    // canonical 44-byte PCM header: mono, 8000 Hz, 16-bit -> byteRate
    // 16000; 32000 data bytes = 2000 ms
    val rate = 8000; val byteRate = rate * 2; val dataLen = 32000
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes); b.putInt(36 + dataLen); b.put("WAVE".getBytes)
    b.put("fmt ".getBytes); b.putInt(16); b.putShort(1); b.putShort(1)
    b.putInt(rate); b.putInt(byteRate); b.putShort(2); b.putShort(16)
    b.put("data".getBytes); b.putInt(dataLen)
    val fallback = Multimodal.MediaMeta(0, 0, 0, 0, "stub")
    val got = Multimodal.sniffMeta(b.array(), fallback)
    assert(got.sample_rate === 8000 && got.duration_ms === 2000 && got.format === "wav")
  }

  test("sniffMeta survives corrupt RIFF chunk lengths (no loop, falls back)") {
    val fallback = Multimodal.MediaMeta(1, 2, 3, 4, "stub")
    // RIFF/WAVE header followed by a chunk claiming a huge length
    val b = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes); b.putInt(56); b.put("WAVE".getBytes)
    b.put("junk".getBytes); b.putInt(0xFFFFFFF0) // bogus 4 GiB chunk
    val got = Multimodal.sniffMeta(b.array(), fallback)
    assert(got === fallback) // no fmt chunk reachable -> fallback, no hang
  }

  test("frame sampling emits one task per 250ms step, video only") {
    val frames = Multimodal.frameSample(media, everyMs = 250)
    val perVideo = frames.groupBy("media_id").count()
    val expected = media.filter($"kind" === "video")
      .select($"media_id", ($"meta.duration_ms" / 250 + 1).cast("long").as("n"))
    val joined = perVideo.join(expected, "media_id")
      .filter($"count" =!= $"n").count()
    assert(joined === 0)
    assert(frames.select("media_id").distinct().count() ===
      media.filter($"kind" === "video").count())
  }
}
