package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal._

/** Multimodal binary-column plumbing: decode/feature/resize/frame ops
  * over the synthetic GRFT format (decode itself is a documented stub —
  * the schema, batching, and corrupt-input contracts are real). */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local()

  override def afterAll(): Unit = spark.stop()

  private def fixtures = {
    import spark.implicits._
    Seq(
      Media(1L, "image", encode(64, 48, Array.tabulate(256)(_.toByte))),
      Media(2L, "video", encode(16, 16, Array.tabulate(64)(_.toByte))),
      Media(3L, "image", "garbage-not-grft".getBytes),
      Media(4L, "audio", null)).toDS()
  }

  test("decode parses headers; corrupt/null blobs yield valid=false") {
    val d = Multimodal.decode(fixtures).collect()
      .map(x => x.media_id -> x).toMap
    assert(d(1L).width == 64 && d(1L).height == 48 && d(1L).n_bytes == 256)
    assert(d(1L).valid && d(2L).valid)
    assert(!d(3L).valid && !d(4L).valid)
  }

  test("feature extraction: L1-normalized 16-bin histogram") {
    val f = Multimodal.extractFeatures(fixtures).collect()
      .map(x => x.media_id -> x.features).toMap
    assert(f(1L).length == 16)
    assert(math.abs(f(1L).sum - 1.0f) < 1e-4)
    // uniform payload 0..255 → uniform histogram
    assert(f(1L).forall(v => math.abs(v - 1f / 16) < 1e-4))
    assert(f(3L).forall(_ == 0f)) // corrupt → zero vector, no throw
  }

  test("resize subsamples payload and rewrites the header") {
    val r = Multimodal.decode(Multimodal.resize(fixtures, 2)).collect()
      .map(x => x.media_id -> x).toMap
    assert(r(1L).width == 32 && r(1L).height == 24 && r(1L).n_bytes == 128)
    assert(r(3L).width == -1) // corrupt stays corrupt, untouched
  }

  test("frame sampling emits every k-th fixed-size frame") {
    val frames = Multimodal.sampleFrames(fixtures, frameBytes = 16,
      every = 2).collect().filter(_.media_id == 2L)
    assert(frames.map(_.frame_no).toSeq == Seq(0, 2))
    assert(frames.forall(_.frame.length == 16))
  }

  // ============ real JDK codecs (round 5) ============

  test("PNG round-trip is lossless: decoded pixels equal encoded bytes") {
    val rnd = new scala.util.Random(42)
    val bytes = Array.fill(300)((rnd.nextInt(256) - 128).toByte)
    val Some((w, h, px)) = Multimodal.decodePixels(Multimodal.encodePngGray(bytes))
    assert(w == 300 && h == 1)
    assert(px.toSeq == bytes.toSeq.map(_ & 0xff))
  }

  test("decodeImages handles real PNG and rejects corrupt blobs without throwing") {
    import spark.implicits._
    val media = Seq(
      Media(1L, "image", Multimodal.encodePngGray(Array.tabulate(160)(_.toByte))),
      Media(2L, "image", "not-an-image-at-all".getBytes),
      Media(3L, "image", Array[Byte](0x42, 0x4d, 1, 2, 3)) // truncated BMP header
    ).toDS()
    val d = Multimodal.decodeImages(media).collect().map(x => x.media_id -> x).toMap
    assert(d(1L).valid && d(1L).width == 160 && d(1L).height == 1)
    assert(d(1L).hist.split(",").map(_.toLong).sum == 160)
    assert(!d(2L).valid && !d(3L).valid)
  }

  test("ImageIO decodes other public formats too (BMP, JPEG dims)") {
    // write the same raster as BMP and JPEG through the JDK writers; BMP
    // gray is lossless, JPEG is lossy so only dimensions are asserted
    val img = new java.awt.image.BufferedImage(17, 5,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (x <- 0 until 17; y <- 0 until 5)
      img.getRaster.setSample(x, y, 0, (x * 13 + y * 7) % 256)
    for (fmt <- Seq("bmp", "jpg")) {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      val Some((w, h, px)) = Multimodal.decodePixels(bos.toByteArray)
      assert(w == 17 && h == 5, fmt)
      if (fmt == "bmp")
        assert(px.toSeq == (0 until 85).map(i => ((i % 17) * 13 + (i / 17) * 7) % 256))
    }
  }

  test("resizeImage produces a real PNG with the target dimensions") {
    import spark.implicits._
    val media = Seq(
      Media(1L, "image", Multimodal.encodePngGray(Array.tabulate(200)(_.toByte)))
    ).toDS()
    val out = Multimodal.resizeImage(media, 10, 1).collect().head
    val Some((w, h, _)) = Multimodal.decodePixels(out.blob)
    assert(w == 10 && h == 1)
  }

  test("WAV PCM16 round-trip: decoded stats equal the encoded samples'") {
    import spark.implicits._
    val samples = Array.tabulate(1000)(i => ((i * 37) % 20000 - 10000).toShort)
    val expSumSq = samples.map(s => s.toLong * s).sum
    val expPeak = samples.map(s => math.abs(s.toLong)).max
    val media = Seq(
      Media(1L, "audio", Multimodal.encodeWavPcm16(samples, 16000f)),
      Media(2L, "audio", "definitely-not-wav".getBytes)).toDS()
    val d = Multimodal.decodeWavs(media).collect().map(x => x.media_id -> x).toMap
    assert(d(1L).valid && d(1L).sample_rate == 16000 && d(1L).channels == 1)
    assert(d(1L).n_samples == 1000L && d(1L).sum_sq == expSumSq &&
      d(1L).peak == expPeak)
    assert(!d(2L).valid)
  }

  test("decodeWavs rejects non-16-bit PCM (8-bit WAV) as invalid, not garbage stats") {
    import spark.implicits._
    // a perfectly well-formed WAV whose samples are UNSIGNED 8-bit — the
    // short-reader would happily mis-read it two bytes at a time
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val raw = Array.tabulate(64)(i => (i * 4).toByte)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt8, raw.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val media = Seq(Media(9L, "audio", bos.toByteArray)).toDS()
    val d = Multimodal.decodeWavs(media).collect().head
    assert(!d.valid)
    // the rejection comes from the one decoder all four audio rows use
    assert(Multimodal.decodePcm16(bos.toByteArray).isEmpty)
  }

  test("aHash: identical images hash equal; small perturbation stays within Hamming 10; different images differ") {
    import spark.implicits._
    val base = Array.tabulate(640)(i => (math.sin(i / 20.0) * 100 + 128).toInt.toByte)
    val noisy = base.clone(); for (i <- 0 until 640 by 97) noisy(i) = (noisy(i) + 3).toByte
    val other = Array.tabulate(640)(i => ((i * 31) % 256).toByte)
    val media = Seq(
      Media(1L, "image", Multimodal.encodePngGray(base)),
      Media(2L, "image", Multimodal.encodePngGray(base)),
      Media(3L, "image", Multimodal.encodePngGray(noisy)),
      Media(4L, "image", Multimodal.encodePngGray(other))).toDS()
    val h = Multimodal.imageAHash(media).collect().map(x => x.media_id -> x).toMap
    def ham(a: AHash, b: AHash): Int =
      java.lang.Long.bitCount(a.hash_hi ^ b.hash_hi) +
        java.lang.Long.bitCount(a.hash_lo ^ b.hash_lo)
    assert(ham(h(1L), h(2L)) == 0)
    assert(ham(h(1L), h(3L)) <= 10)
    assert(ham(h(1L), h(4L)) > 10)
  }

  test("dHash: invariant under uniform brightness shift, n_up is the " +
      "popcount, and aHash is NOT invariant on the same input") {
    val rnd = new scala.util.Random(7)
    val px = Array.fill(400)(rnd.nextInt(100) + 60)
    val (hi, lo, up) = Multimodal.dhashBits(px)
    assert(up == java.lang.Long.bitCount(hi) +
      java.lang.Long.bitCount(lo))
    // uniform +k leaves every adjacent-chunk comparison unchanged
    val shifted = px.map(_ + 25)
    assert(Multimodal.dhashBits(shifted) == ((hi, lo, up)))
    // the documented contrast with aHash: a global-mean threshold CAN
    // move under a NON-uniform shift that dHash also survives only
    // partially — here show aHash equality holds for uniform shift too
    // (mean shifts with the chunks), so the invariance claim for dHash
    // is about construction, not accident: verify via a half-image
    // brightness step, which flips aHash bits but not all dhash bits
    val stepped = px.zipWithIndex.map { case (p, i) =>
      if (i >= px.length / 2) p + 40 else p }
    val (shi, slo, _) = Multimodal.dhashBits(stepped)
    val (ahi, alo) = Multimodal.ahashBits(px)
    val (bhi, blo) = Multimodal.ahashBits(stepped)
    val aFlips = java.lang.Long.bitCount(ahi ^ bhi) +
      java.lang.Long.bitCount(alo ^ blo)
    val dFlips = java.lang.Long.bitCount(hi ^ shi) +
      java.lang.Long.bitCount(lo ^ slo)
    assert(aFlips > dFlips, s"aHash flips $aFlips <= dHash flips " +
      s"$dFlips — the step should disturb the global threshold more " +
      "than the local gradients")
  }

  test("ffmpeg video decode (PATH-gated): real-codec frames ride the " +
      "same Frame plumbing — skipped when no ffmpeg in the image") {
    assume(Multimodal.ffmpegAvailable,
      "ffmpeg not on PATH — real-codec integration path skipped " +
        "(the GRFT stand-in tests cover the plumbing)")
    import spark.implicits._
    // synthesize a real 8-frame 64x64 video with ffmpeg's testsrc
    val tmp = java.nio.file.Files.createTempFile("graft_testsrc", ".mp4")
    val gen = new ProcessBuilder("ffmpeg", "-v", "error", "-y",
      "-f", "lavfi", "-i", "testsrc=duration=1:size=64x64:rate=8",
      tmp.toString).start()
    gen.getInputStream.readAllBytes()
    assert(gen.waitFor() == 0, "testsrc generation failed")
    val blob = java.nio.file.Files.readAllBytes(tmp)
    java.nio.file.Files.deleteIfExists(tmp)
    val media = Seq(Media(7L, "video_mp4", blob)).toDS()
    val frames = Multimodal.sampleFramesFfmpeg(media, 2).collect()
    // 8 source frames, keep every 2nd -> 4 frames, indices 0,2,4,6
    assert(frames.length == 4, s"expected 4 sampled frames, got " +
      s"${frames.length}")
    assert(frames.map(_.frame_no).sorted.toSeq == Seq(0, 2, 4, 6))
    // every emitted frame is a real decodable 64x64 PNG
    frames.foreach { f =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(f.frame))
      assert(img != null, s"frame ${f.frame_no} not decodable")
      assert(img.getWidth == 64 && img.getHeight == 64,
        s"${img.getWidth}x${img.getHeight}")
    }
  }

  test("pngEnd walks chunk lengths to IEND: exact frame boundaries on " +
      "concatenated PNGs, None on a truncated tail (ADVICE r9)") {
    val a = Multimodal.encodePngGray(Array.tabulate(64)(_.toByte))
    val b = Multimodal.encodePngGray(Array.tabulate(32)(i => (255 - i).toByte))
    // a single PNG's walk ends exactly at its byte length
    assert(Multimodal.pngEnd(a, 0).contains(a.length))
    // concatenated pipe: first walk ends at |a|, second at |a|+|b| —
    // the chunk walk finds the boundary without scanning for magic
    val cat = a ++ b
    assert(Multimodal.pngEnd(cat, 0).contains(a.length))
    assert(Multimodal.pngEnd(cat, a.length).contains(cat.length))
    // truncated tail (partial decode): walker refuses, never mis-splits
    assert(Multimodal.pngEnd(cat.take(cat.length - 3), a.length).isEmpty)
    assert(Multimodal.pngEnd(a.take(a.length / 2), 0).isEmpty)
  }

  test("metadata-only projection does not read blob column in the scan") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_media_")
    fixtures.write.mode("overwrite").parquet(tmp.toString)
    val df = spark.read.parquet(tmp.toString)
      .select("media_id", "kind") // no blob
    val readSchema = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("blob"), readSchema)
  }
}
