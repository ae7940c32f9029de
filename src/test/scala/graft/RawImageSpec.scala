package graft

import graft.operators.RawImage
import graft.operators.RawImage.Image
import org.scalatest.funsuite.AnyFunSuite

/** The pure-JVM uncompressed-image codec behind the multimodal decode
  * pipeline: byte-exact PPM (P6) and 24bpp BMP decode, nearest-neighbor
  * resize, channel means.
  */
class RawImageSpec extends AnyFunSuite {

  test("PPM decode: header with comment, exact pixels, roundtrip") {
    val header = "P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII")
    val px = Array[Byte](
      10, 20, 30, 40, 50, 60, // row 0: (10,20,30) (40,50,60)
      70, 80, 90, 100, 110, 120)
    val img = RawImage.decodePpm(header ++ px)
    assert(img.width == 2 && img.height == 2)
    assert(img.rgb.toSeq == px.toSeq)
    assert(RawImage.sniff(header ++ px) == "image/ppm")
    // encode -> decode roundtrip is byte-identical pixels
    val back = RawImage.decodePpm(RawImage.encodePpm(img))
    assert(back == img.copy(rgb = back.rgb) && back.rgb.toSeq == px.toSeq)
  }

  test("BMP decode: bottom-up rows, BGR order, 4-byte row padding") {
    // 2x2, 24bpp: rowBytes = ceil(6/4)*4 = 8 (2 pad bytes per row).
    // BMP stores bottom row FIRST and channels as BGR.
    val w = 2; val h = 2
    val rowBytes = 8
    val dataOff = 54
    val p = new Array[Byte](dataOff + rowBytes * h)
    p(0) = 'B'; p(1) = 'M'
    def putLe32(off: Int, v: Int): Unit = {
      p(off) = (v & 0xff).toByte; p(off + 1) = ((v >> 8) & 0xff).toByte
      p(off + 2) = ((v >> 16) & 0xff).toByte
      p(off + 3) = ((v >> 24) & 0xff).toByte
    }
    putLe32(10, dataOff); putLe32(14, 40); putLe32(18, w); putLe32(22, h)
    p(26) = 1; p(28) = 24 // planes, bpp
    // logical image: row0 = (1,2,3) (4,5,6); row1 = (7,8,9) (10,11,12)
    // stored: bottom row (row1) first, BGR
    val stored = Seq(
      (9, 8, 7), (12, 11, 10), // file row 0 = image row 1
      (3, 2, 1), (6, 5, 4)) // file row 1 = image row 0
    stored.zipWithIndex.foreach { case ((b, g, r), i) =>
      val off = dataOff + (i / w) * rowBytes + (i % w) * 3
      p(off) = b.toByte; p(off + 1) = g.toByte; p(off + 2) = r.toByte
    }
    val img = RawImage.decodeBmp(p)
    assert(RawImage.sniff(p) == "image/bmp")
    assert(img.width == 2 && img.height == 2)
    assert(img.rgb.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
  }

  test("nearest-neighbor resize samples (x*sw/tw, y*sh/th)") {
    // 4x1 -> 2x1 picks source x = 0, 2
    val img = Image(4, 1, Array[Byte](1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4))
    val out = RawImage.resizeNearest(img, 2, 1)
    assert(out.rgb.toSeq == Seq[Byte](1, 1, 1, 3, 3, 3))
    // upscale 1x1 -> 2x2 replicates
    val one = Image(1, 1, Array[Byte](5, 6, 7))
    val up = RawImage.resizeNearest(one, 2, 2)
    assert(up.rgb.toSeq == Seq[Byte](5, 6, 7, 5, 6, 7, 5, 6, 7, 5, 6, 7))
  }

  test("channel means are exact integer sums over unsigned bytes") {
    val img = Image(2, 1, Array[Byte](0, 10, 20, -1, 30, 40)) // -1 = 255
    val (r, g, b) = RawImage.meanRgb(img)
    assert(r == (0 + 255) / 2.0)
    assert(g == (10 + 30) / 2.0)
    assert(b == (20 + 40) / 2.0)
  }

  test("WAV roundtrip: header fields, chunk walk, sample exactness") {
    import graft.operators.RawAudio
    val clip = RawAudio.Clip(16000, 1,
      Array[Short](0, 100, -100, 32767, -32768, 5))
    val bytes = RawAudio.encodeWav(clip)
    assert(RawAudio.sniff(bytes) == "audio/wav")
    val back = RawAudio.decodeWav(bytes)
    assert(back.sampleRate == 16000 && back.channels == 1)
    assert(back.samples.toSeq == clip.samples.toSeq)
    val (sumAbs, sumSq) = RawAudio.amplitudeStats(back)
    assert(sumAbs == 0L + 100 + 100 + 32767 + 32768 + 5)
    assert(sumSq == 100L * 100 + 100L * 100 + 32767L * 32767 +
      32768L * 32768 + 5L * 5)
  }

  test("WAV chunk walk ends at a negative or over-long chunk size") {
    import graft.operators.{RawAdpcm, RawAudio, RawBytes}
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // a walk that never advances spins without checking for interrupts,
    // so the decode runs on a pool thread and the test thread waits
    implicit val signaler: Signaler = ThreadSignaler
    def rejected(p: Array[Byte]): Unit = failAfter(10.seconds) {
      val decoded = Future(RawAudio.decodeWav(p))
      intercept[IllegalArgumentException](
        Await.result(decoded, scala.concurrent.duration.Duration.Inf))
    }
    // 28 bytes: RIFF/WAVE holding one LIST chunk whose size reads
    // 0xFFFFFFF8 (-8 as an Int)
    val list = RawBytes.riff("WAVE", "LIST" -> new Array[Byte](8))
    RawBytes.putLe32(list, 16, 0xfffffff8)
    rejected(list)
    val clip = RawAudio.Clip(8000, 1, Array.tabulate[Short](45)(_.toShort))
    // a chunk's size field is the 4 bytes just before its payload
    def withDataSize(wav: Array[Byte], size: Int): Array[Byte] = {
      val p = wav.clone()
      val data = RawBytes.chunks(wav).find(_.id == "data").get
      RawBytes.putLe32(p, data.off - 4, size)
      p
    }
    for (wav <- Seq(RawAudio.encodeWav(clip), // PCM16, tag 1
        RawAdpcm.encodeWav(clip, blockAlign = 8))) { // IMA ADPCM, tag 0x0011
      assert(RawAudio.decodeWav(wav).samples.length == 45)
      rejected(withDataSize(wav, -8))
      rejected(withDataSize(wav, wav.length)) // runs past the end
    }
  }

  test("real-format dispatch routes PPM payloads off the stub path") {
    val ppm = graft.operators.MultimodalOps.ppmPayload(7L, 8, 8)
    val (fmt, w, h, feat) = graft.operators.MultimodalOps.decodeAny(ppm)
    assert(fmt == "image/ppm" && w == 8 && h == 8)
    assert(math.abs(feat.sum - 1.0f) < 1e-5) // normalized histogram
    // non-image bytes still take the stub
    val (sfmt, _, _, _) = graft.operators.MultimodalOps.decodeAny(
      "just some text".getBytes("UTF-8"))
    assert(sfmt.startsWith("fake/"))
  }

  test("Y4M roundtrip: stream header, frame markers, 4:2:0 plane sizes") {
    import graft.operators.RawVideo
    val f0 = Array.tabulate[Byte](4 * 2)(i => i.toByte)
    val f1 = Array.tabulate[Byte](4 * 2)(i => (10 + i).toByte)
    val bytes = RawVideo.encodeY4m(4, 2, 30, 1, Seq(f0, f1))
    assert(RawVideo.sniff(bytes) == "video/y4m")
    val v = RawVideo.decodeY4m(bytes)
    assert(v.width == 4 && v.height == 2)
    assert(v.fpsNum == 30 && v.fpsDen == 1 && v.chroma == "C420")
    assert(v.frames.size == 2)
    assert(v.frames(0).luma.toSeq == f0.toSeq)
    assert(v.frames(1).luma.toSeq == f1.toSeq)
    assert(RawVideo.lumaSum(v.frames(0)) == (0 until 8).sum)
    // odd dimensions round chroma planes up (C420 spec)
    val odd = RawVideo.decodeY4m(
      RawVideo.encodeY4m(3, 3, 25, 1, Seq(new Array[Byte](9))))
    assert(odd.width == 3 && odd.frames.size == 1)
  }

  test("payload builder emits a decodable PPM with the formula pixels") {
    val p = graft.operators.MultimodalOps.ppmPayload(42L, 8, 8)
    val img = RawImage.decodePpm(p)
    assert(img.width == 8 && img.height == 8)
    // spot-check pixel (x=3, y=5) against the formula
    val i = (5 * 8 + 3) * 3
    assert((img.rgb(i) & 0xff) == ((42 * 31 + 3 * 7 + 5 * 13) % 256))
    assert((img.rgb(i + 1) & 0xff) == ((42 * 17 + 3 * 11 + 5 * 3) % 256))
    assert((img.rgb(i + 2) & 0xff) == ((42 * 5 + 3 * 2 + 5 * 23) % 256))
  }
}
