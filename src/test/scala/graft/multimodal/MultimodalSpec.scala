package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.multimodal.Multimodal.MediaRecord

class MultimodalSpec extends SparkSpec {

  private def pxSum(id: Long, w: Int, h: Int): Long =
    (for (y <- 0 until h; x <- 0 until w) yield (id * 7 + 31L * x + 17L * y) % 256).sum

  private def smpSum(id: Long, n: Int): Long =
    (0 until n).map(i => (id * 13 + 7L * i) % 256).sum

  test("PNG roundtrip: imageio decode recovers the formula pixels exactly") {
    val (id, w, h) = (6L, 20, 17)
    val png = Multimodal.synthPng(id, w, h)
    assert(png.take(4).toSeq == Seq[Byte](0x89.toByte, 'P', 'N', 'G'),
      "payload must be a real PNG container")
    val f = Multimodal.decodeBatch(Seq(MediaRecord(id, "image", png, w, h, 0))).head
    assert(f.width == w && f.height == h && f.nUnits == w.toLong * h)
    assert(f.unitSum == pxSum(id, w, h), "decoded gray values must equal the formula")
    // deterministic: encode+decode twice → identical features
    assert(Multimodal.decodeBatch(
      Seq(MediaRecord(id, "image", Multimodal.synthPng(id, w, h), w, h, 0))).head == f)
  }

  test("WAV roundtrip: javax.sound decode recovers rate and the formula samples") {
    val (id, n) = (7L, 300)
    val wav = Multimodal.synthWav(id, n)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val f = Multimodal.decodeBatch(Seq(MediaRecord(id, "audio", wav, 0, 0, 16000))).head
    assert(f.sampleRate == 16000 && f.nUnits == n.toLong)
    assert(f.unitSum == smpSum(id, n), "decoded unsigned samples must equal the formula")
  }

  test("dispatch sniffs content magic, not the claimed kind") {
    // a PNG mislabeled as video still decodes as an image — bytes
    // can't be routed to the wrong parser by bad metadata
    val png = Multimodal.synthPng(3L, 16, 16)
    val asVideo = Multimodal.decodeBatch(Seq(MediaRecord(9L, "video", png, 0, 0, 0))).head
    assert(asVideo.width == 16 && asVideo.height == 16 && asVideo.nUnits == 256L)
    // non-media bytes fall back to byte stats
    val txt = "abc".getBytes("UTF-8")
    val f = Multimodal.decodeBatch(Seq(MediaRecord(1L, "video", txt, 0, 0, 0))).head
    assert(f.nBytes == 3L && f.nUnits == 3L && f.unitSum == 97L + 98 + 99)
    assert(f.width == 0 && f.height == 0 && f.sampleRate == 0)
    // empty/null payloads are zero rows, not crashes
    val z = Multimodal.decodeBatch(Seq(MediaRecord(2L, "audio", null, 0, 0, 0))).head
    assert(z.nBytes == 0L && z.unitSum == 0L)
  }

  test("extractFeatures preserves batch boundaries and every row") {
    val s = spark; import s.implicits._
    val ds = (1L to 100L).map(i =>
      MediaRecord(i, "image", s"payload-$i".getBytes("UTF-8"), 1, 1, 0)).toDS.repartition(3)
    val out = Multimodal.extractFeatures(ds, batchSize = 8).collect()
    assert(out.length == 100)
    assert(out.map(_.mediaId).toSet == (1L to 100L).toSet)
  }

  test("perceptualHash: re-encoding the same pixels collides; bit 63 clear; non-images excluded") {
    val s = spark; import s.implicits._
    // two BYTE-different PNG encodes of identical pixels: synthPng(5)
    // twice is byte-identical, so append a tEXt-free duplicate via a
    // second encode round-trip (decode + re-encode can reorder chunks)
    val png = Multimodal.synthPng(5L, 20, 18)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val ds = Seq(
      MediaRecord(1L, "image", png, 20, 18, 0),
      MediaRecord(2L, "image", out.toByteArray, 20, 18, 0),
      MediaRecord(3L, "audio", png, 0, 0, 16000)).toDS
    val got = Multimodal.perceptualHash(ds).collect().map(h => h.mediaId -> h.dhash).toMap
    assert(got.keySet == Set(1L, 2L), "only images hash")
    assert(got(1L) == got(2L), "same pixels, different bytes -> same dhash")
    assert(got(1L) >= 0L, "bit 63 must stay clear")
  }

  test("resizeImages: thumbnail round-trips — re-decoding recovers the sampled pixels") {
    import org.apache.spark.sql.{Encoders => E}
    val (id, w, h) = (9L, 40, 22)
    val (tw, th) = (16, 12)
    val rec = MediaRecord(id, "image", Multimodal.synthPng(id, w, h), w, h, 0)
    implicit val enc = E.product[MediaRecord]
    val out = Multimodal.resizeImages(
      spark.createDataset(Seq(rec))(enc), tw, th).collect()
    assert(out.length == 1)
    val t = out.head
    // expected nearest-neighbor samples straight from the formula
    val expected = for (y <- 0 until th; x <- 0 until tw)
      yield (id * 7 + 31L * (x * w / tw) + 17L * (y * h / th)) % 256
    assert(t.pixSum == expected.sum)
    // the RE-ENCODED thumbnail is a real PNG whose decode recovers
    // exactly the sampled pixels
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t.thumb))
    assert(img.getWidth == tw && img.getHeight == th)
    val got = for (y <- 0 until th; x <- 0 until tw)
      yield img.getRaster.getSample(x, y, 0).toLong
    assert(got == expected)
    // non-images excluded
    val audio = MediaRecord(1L, "audio", Multimodal.synthWav(1L, 64), 0, 0, 16000)
    assert(Multimodal.resizeImages(
      spark.createDataset(Seq(audio))(enc), tw, th).count() == 0)
  }

  test("sampleFrames: stride arithmetic, tail frame, non-video excluded") {
    val s = spark; import s.implicits._
    val media = Seq(
      MediaRecord(1L, "video", Array.fill[Byte](2100)(7), 0, 0, 0), // frames at 0,1024,2048 → 256,256,52
      MediaRecord(2L, "image", Array.fill[Byte](5000)(7), 0, 0, 0),
      MediaRecord(3L, "video", "tiny".getBytes, 0, 0, 0)
    ).toDS.toDF
    val rows = Multimodal.sampleFrames(media)
      .select(col("mediaId"), col("frame_no"), length(col("frame")).as("len"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(rows.count(_._1 == 2L) == 0)
    assert(rows.filter(_._1 == 1L).map(_._3).sorted.toSeq == Seq(52, 256, 256))
    assert(rows.filter(_._1 == 3L).toSeq == Seq((3L, 0, 4)))
  }

  test("audioFingerprint: envelope-gradient bits replay the formula; bit 63 clear") {
    val s = spark; import s.implicits._
    val (id, n) = (7L, 300)
    def expected(id: Long, n: Int): Long = {
      val e = new Array[Long](64)
      (0 until n).foreach(i =>
        e(((i.toLong * 64) / n).toInt) += math.abs((id * 13 + 7L * i) % 256 - 128))
      (0 until 63).map(k => if (e(k + 1) > e(k)) 1L << k else 0L).sum
    }
    val ds = Seq(
      MediaRecord(id, "audio", Multimodal.synthWav(id, n), 0, 0, 16000),
      MediaRecord(8L, "audio", Multimodal.synthWav(8L, 400), 0, 0, 16000),
      MediaRecord(9L, "image", Multimodal.synthPng(9L, 16, 16), 16, 16, 0)).toDS
    val out = Multimodal.audioFingerprint(ds).collect()
      .map(a => a.mediaId -> (a.nSamples, a.afp)).toMap
    assert(out.keySet == Set(id, 8L)) // non-audio excluded
    assert(out(id) == (n.toLong, expected(id, n)))
    assert(out(8L) == (400L, expected(8L, 400)))
    assert(out.values.forall(_._2 >= 0L)) // 63 bits: non-negative long
  }

  test("untrusted audio ingest: truncated bodies and non-8-bit-mono formats DROP, never crash or score garbage") {
    val s = spark; import s.implicits._
    // a valid-header WAV whose PCM body is cut off mid-way
    val truncated = Multimodal.synthWav(5L, 300).take(80)
    // a real 16-bit STEREO signed WAV — decodable by javax.sound, but
    // the 8-bit unsigned sample walk would score its bytes as garbage
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 2, true, false)
    val frames = Array.fill[Byte](400)(33)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(frames), fmt, 100L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav16 = bos.toByteArray
    val ds = Seq(
      MediaRecord(1L, "audio", truncated, 0, 0, 16000),
      MediaRecord(2L, "audio", wav16, 0, 0, 16000),
      MediaRecord(3L, "audio", "not audio at all".getBytes("UTF-8"), 0, 0, 0),
      MediaRecord(4L, "audio", Multimodal.synthWav(4L, 280), 0, 0, 16000)).toDS
    // neither path throws; only the healthy 8-bit mono clip survives
    val feats = Multimodal.audioFeatures(ds).collect()
    assert(feats.map(_.mediaId).toSeq == Seq(4L), s"got ${feats.toSeq}")
    assert(feats.head.nSamples == 280L)
    val fps = Multimodal.audioFingerprint(ds).collect()
    assert(fps.map(_.mediaId).toSeq == Seq(4L))
  }
}
