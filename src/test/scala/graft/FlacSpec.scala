package graft

import graft.operators.{RawAudio, RawBytes, RawFlac}
import org.scalatest.funsuite.AnyFunSuite

/** FLAC codec (RFC 9639): encoder/decoder round-trips cover CONSTANT /
  * FIXED 0-4 / VERBATIM subframes, all four stereo assignments (the
  * encoder cycles them per frame), rice partition orders 0/1, short
  * last frames and multibyte UTF-8 frame numbers; hand-built streams
  * pin the decoder paths the engine encoder does not emit (LPC,
  * escape partitions, the 5-bit rice method, wasted bits) with
  * expected samples computed from the spec by hand; CRC-8/16 tamper
  * cases pin that corruption is detected, not absorbed.
  */
class FlacSpec extends AnyFunSuite {

  private def sine(n: Int, ch: Int, seed: Int): RawAudio.Clip = {
    val s = new Array[Short](n * ch)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < ch) {
        // smooth + correlated across channels, so fixed predictors and
        // mid/side both genuinely engage
        val v = (6000 * math.sin((i + seed) / 13.0) +
          2000 * math.sin(i / 5.0) + c * 40).toInt
        s(i * ch + c) = v.toShort
        c += 1
      }
      i += 1
    }
    RawAudio.Clip(16000, ch, s)
  }

  private def noise(n: Int, ch: Int, seed: Int): RawAudio.Clip = {
    val rnd = new java.util.Random(seed)
    val s = new Array[Short](n * ch)
    (0 until n * ch).foreach(i => s(i) = rnd.nextInt().toShort)
    RawAudio.Clip(8000, ch, s)
  }

  private def roundtrip(clip: RawAudio.Clip, bs: Int = 4096): Unit = {
    val flac = RawFlac.encode(clip, bs)
    assert(RawFlac.sniff(flac))
    val a = RawFlac.decode(flac)
    assert(a.sampleRate == clip.sampleRate)
    assert(a.channels == clip.channels)
    assert(a.bitsPerSample == 16)
    assert(a.samples.length == clip.samples.length)
    assert(a.samples.toSeq == clip.samples.map(_.toInt).toSeq)
  }

  test("mono round-trip: smooth signal (fixed predictors + rice)") {
    roundtrip(sine(10000, 1, 3))
  }

  test("mono round-trip: noise (verbatim bound) and constant") {
    roundtrip(noise(5000, 1, 7))
    roundtrip(RawAudio.Clip(44100, 1, Array.fill(3000)(123.toShort)))
    roundtrip(RawAudio.Clip(44100, 1, Array.fill(3000)(-32768.toShort)))
  }

  test("stereo round-trip cycles all four channel assignments") {
    // >= 4 frames so independent + left/side + right/side + mid/side
    // all occur (encoder cycles per frame), partition orders 0 and 1
    roundtrip(sine(4096 * 5 + 1234, 2, 11))
  }

  test("compression actually happens on smooth signals") {
    val clip = sine(20000, 2, 5)
    val flac = RawFlac.encode(clip)
    val raw = clip.samples.length * 2
    assert(flac.length < raw / 2,
      s"flac ${flac.length} vs raw $raw — predictors not engaging")
  }

  test("multichannel (3ch) and short-last-frame round-trips") {
    roundtrip(sine(5000, 3, 17))
    roundtrip(sine(4097, 1, 19)) // 4096 + 1-sample final frame
    roundtrip(sine(100, 1, 23))  // single short frame
  }

  test("multibyte UTF-8 frame numbers (>= 128 frames)") {
    roundtrip(sine(256 * 130, 1, 29), bs = 256)
  }

  test("FLAC -> WAV transcode is byte-identical to the source WAV") {
    val clip = sine(8000, 2, 31)
    val back = RawFlac.toClip(RawFlac.decode(RawFlac.encode(clip)))
    assert(RawAudio.encodeWav(back).toSeq ==
      RawAudio.encodeWav(clip).toSeq)
  }

  // ----------------------------------------------------- hand-built

  /** MSB-first bit writer for hand-built spec streams. */
  private final class W {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var acc = 0
    private var nb = 0
    def bit(b: Int): W = {
      acc = (acc << 1) | (b & 1); nb += 1
      if (nb == 8) { buf += acc.toByte; acc = 0; nb = 0 }
      this
    }
    def bits(v: Int, n: Int): W = {
      var i = n - 1
      while (i >= 0) { bit((v >> i) & 1); i -= 1 }
      this
    }
    def align(): W = { while (nb != 0) bit(0); this }
    def bytes: Array[Byte] = { align(); buf.toArray }
  }

  /** Assemble a valid single-frame mono 16-bit FLAC stream around a
    * hand-written subframe body, with real CRC-8/16 (via the codec's
    * public CRC helpers — pinned against spec vectors below).
    */
  private def handStream(blockSize: Int, nSamples: Int)(
      sub: W => Unit): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    out ++= "fLaC".getBytes("US-ASCII")
    val si = new W
    si.bits(1, 1).bits(0, 7).bits(34, 24)
    si.bits(blockSize, 16).bits(blockSize, 16)
    si.bits(0, 24).bits(0, 24)
    si.bits(16000, 20).bits(0, 3).bits(15, 5) // mono, bps 16
    si.bits(0, 4).bits(0, 16).bits(nSamples, 16)
    (0 until 16).foreach(_ => si.bits(0, 8))
    out ++= si.bytes
    val h = new W
    h.bits(0x3ffe, 14).bit(0).bit(0)
    h.bits(7, 4) // 16-bit block size follows
    h.bits(0, 4) // rate from STREAMINFO
    h.bits(0, 4) // mono
    h.bits(4, 3).bit(0) // bps 16
    h.bits(0, 8) // frame number 0
    h.bits(blockSize - 1, 16)
    val header = h.bytes
    val f = new W
    header.foreach(b => f.bits(b & 0xff, 8))
    f.bits(RawFlac.crc8(header, 0, header.length), 8)
    sub(f)
    f.align()
    val body = f.bytes
    out ++= body
    val crc = RawBytes.crc16(body, 0, body.length, 0)
    out += ((crc >> 8) & 0xff).toByte
    out += (crc & 0xff).toByte
    out.toArray
  }

  test("hand-built LPC subframe: order 1, coef 1, shift 0") {
    // s = [100, 101, 103, 106]; warmup 100, residuals 1,2,3
    // (s[i] = r[i] + (coef * s[i-1]) >> 0)
    val stream = handStream(4, 4) { f =>
      f.bit(0).bits(32, 6).bit(0) // LPC order 1, no wasted bits
      f.bits(100, 16)             // warmup
      f.bits(3, 4)                // precision 4 (stored - 1)
      f.bits(0, 5)                // shift 0
      f.bits(1, 4)                // coef = 1
      f.bits(0, 2).bits(0, 4)     // rice method 0, partition order 0
      f.bits(2, 4)                // rice param 2
      for (r <- Seq(1, 2, 3)) {
        val u = (r << 1) ^ (r >> 31)
        var q = u >>> 2
        while (q > 0) { f.bit(0); q -= 1 }
        f.bit(1).bits(u & 3, 2)
      }
    }
    assert(RawFlac.decode(stream).samples.toSeq == Seq(100, 101, 103, 106))
  }

  test("hand-built escape partition: raw 7-bit residuals") {
    // FIXED order 0: residuals are the samples; param 15 = escape
    val vals = Seq(-64, 63, -1, 0)
    val stream = handStream(4, 4) { f =>
      f.bit(0).bits(8, 6).bit(0)   // FIXED order 0
      f.bits(0, 2).bits(0, 4)      // method 0, po 0
      f.bits(15, 4)                // escape
      f.bits(7, 5)                 // 7 raw bits per residual
      vals.foreach(v => f.bits(v & 0x7f, 7))
    }
    assert(RawFlac.decode(stream).samples.toSeq == vals)
  }

  test("hand-built 5-bit rice method (method 1)") {
    val vals = Seq(5, -3, 2, 0)
    val stream = handStream(4, 4) { f =>
      f.bit(0).bits(8, 6).bit(0)   // FIXED order 0
      f.bits(1, 2).bits(0, 4)      // method 1 (5-bit params), po 0
      f.bits(3, 5)                 // param 3
      vals.foreach { v =>
        val u = (v << 1) ^ (v >> 31)
        var q = u >>> 3
        while (q > 0) { f.bit(0); q -= 1 }
        f.bit(1).bits(u & 7, 3)
      }
    }
    assert(RawFlac.decode(stream).samples.toSeq == vals)
  }

  test("hand-built wasted bits: constant subframe, 2 wasted bits") {
    // all samples = 400 = 100 << 2: subframe stores 100 at bps-2
    val stream = handStream(4, 4) { f =>
      f.bit(0).bits(0, 6)      // CONSTANT
      f.bit(1).bit(0).bit(1)   // wasted flag, unary 1 -> wasted = 2
      f.bits(100, 14)          // value at effective bps 14
    }
    assert(RawFlac.decode(stream).samples.toSeq == Seq(400, 400, 400, 400))
  }

  test("CRC corruption is detected (header CRC-8 and frame CRC-16)") {
    val flac = RawFlac.encode(sine(1000, 1, 37))
    // STREAMINFO is 4 + 4 + 34 bytes; frame starts at 42
    val frameStart = 42
    val h = flac.clone()
    h(frameStart + 2) = (h(frameStart + 2) ^ 0x10).toByte // header byte
    intercept[IllegalArgumentException](RawFlac.decode(h))
    val b = flac.clone()
    b(flac.length - 40) = (b(flac.length - 40) ^ 0x01).toByte // body byte
    intercept[IllegalArgumentException](RawFlac.decode(b))
  }

  test("CRC helpers match published check values") {
    // CRC-8/0x07 and CRC-16/0x8005 (BUYPASS: init 0, no reflection) of
    // the standard "123456789" test vector
    val v = "123456789".getBytes("US-ASCII")
    assert(RawFlac.crc8(v, 0, v.length) == 0xf4)
    assert(RawBytes.crc16(v, 0, v.length, 0) == 0xfee8)
  }
}
