package graft.operators

/** AAC/ADTS FRAMING layer — completes the transform-audio cap: with
  * [[RawMp3]] this makes BOTH halves of the "MP3/AAC" boundary real at
  * the framing/metadata level while PCM decode stays a TYPED error.
  *
  * ADTS (Audio Data Transport Stream, public ISO/IEC 13818-7 §6.2) is
  * the streaming wrapper virtually all raw `.aac` corpora use: a
  * 12-bit sync, a fixed+variable header pair per frame, an EXPLICIT
  * 13-bit frame length (unlike MP3's computed length), an optional
  * CRC-16 (the same [[RawBytes.crc16]] as MPEG-1 audio), and 1024
  * output samples per raw data block. Everything a 100 TB ingest needs —
  * frame walk, duration, sample rate/channels, corrupt triage — is
  * derivable from the header alone; [[decode]] throws the same typed
  * [[RawMp3.Mp3DecodeUnsupported]] boundary (no conformance reference
  * codec exists in this environment for the transform payload).
  */
object RawAdts {

  /** ISO/IEC 13818-7 Table 35 sampling_frequency_index. */
  val SampleRates: Array[Int] = Array(96000, 88200, 64000, 48000, 44100,
    32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** Audio object type encoded in the 2-bit profile field (AOT - 1):
    * 0 Main, 1 LC, 2 SSR, 3 LTP.
    */
  val Profiles: Array[String] = Array("Main", "LC", "SSR", "LTP")

  /** One parsed ADTS frame header. `frameBytes` is the explicit
    * aac_frame_length (header + CRC + payload); `blocks` is
    * number_of_raw_data_blocks_in_frame + 1.
    */
  final case class AdtsHeader(
      mpeg2: Boolean, // ID bit: 1 = MPEG-2 AAC, 0 = MPEG-4
      profile: String,
      sampleRate: Int,
      channels: Int,
      crcProtected: Boolean,
      frameBytes: Int,
      blocks: Int) {
    def samplesPerFrame: Int = blocks * 1024
  }

  final case class AdtsInfo(
      profile: String, channels: Int, sampleRate: Int, frames: Int,
      samples: Long, durationMs: Long, avgBitrateKbps: Int, crcFrames: Int)

  /** Parse the 7-byte fixed+variable header at `off`; None on bad
    * sync / reserved codes / impossible length.
    */
  def parseHeader(p: Array[Byte], off: Int): Option[AdtsHeader] = {
    if (off + 7 > p.length) return None
    val b = (i: Int) => p(off + i) & 0xff
    if (b(0) != 0xff || (b(1) & 0xf0) != 0xf0) return None
    if ((b(1) & 0x06) != 0) return None // layer must be 00
    val mpeg2 = (b(1) & 0x08) != 0
    val protAbsent = (b(1) & 0x01) != 0
    val profile = (b(2) >>> 6) & 3
    val srIdx = (b(2) >>> 2) & 0xf
    if (srIdx >= SampleRates.length) return None // 13-15 reserved
    val chanCfg = ((b(2) & 1) << 2) | ((b(3) >>> 6) & 3)
    if (chanCfg == 0) return None // channel config in a PCE: refuse
    val frameLen = ((b(3) & 3) << 11) | (b(4) << 3) | ((b(5) >>> 5) & 7)
    val blocks = (b(6) & 3) + 1
    val minLen = 7 + (if (!protAbsent) 2 else 0)
    if (frameLen < minLen) return None
    Some(AdtsHeader(mpeg2, Profiles(profile), SampleRates(srIdx),
      if (chanCfg == 7) 8 else chanCfg, !protAbsent, frameLen, blocks))
  }

  def sniff(p: Array[Byte]): Boolean =
    parseHeader(p, 0).exists(h => h.frameBytes <= p.length)

  /** CRC-16 ([[RawBytes.crc16]]) from 0xFFFF over the 7 header bytes.
    * NOTE: ISO 13818-7's adts_error_check covers spec-defined PAYLOAD bit
    * positions too (scalefactor/section boundaries a framing-only
    * layer does not model); this engine's check is the header-prefix
    * integrity subset — [[framingPayload]] writes exactly what this
    * validates, and the boundary is documented rather than silent.
    */
  def crc16Header(p: Array[Byte], off: Int): Int =
    RawBytes.crc16(p, off, 7, 0xffff)

  def storedCrc(p: Array[Byte], off: Int): Int =
    ((p(off + 7) & 0xff) << 8) | (p(off + 8) & 0xff)

  /** Strict contiguous frame walk, same policy as [[RawMp3.frames]]. */
  def frames(p: Array[Byte]): Vector[(Int, AdtsHeader)] = {
    val out = Vector.newBuilder[(Int, AdtsHeader)]
    var off = 0
    var ok = true
    while (ok && off + 7 <= p.length) {
      parseHeader(p, off) match {
        case Some(h) if off + h.frameBytes <= p.length =>
          out += (off -> h); off += h.frameBytes
        case _ => ok = false
      }
    }
    out.result()
  }

  /** Whole-stream framing metadata. Requires at least one frame. */
  def info(p: Array[Byte]): AdtsInfo = {
    val fs = frames(p)
    require(fs.nonEmpty, "not an ADTS stream")
    val h0 = fs.head._2
    val samples = fs.map(_._2.samplesPerFrame.toLong).sum
    val durMs = samples * 1000L / h0.sampleRate
    val bits = fs.map(_._2.frameBytes.toLong * 8).sum
    val crcOk = fs.count { case (off, h) =>
      h.crcProtected && storedCrc(p, off) == crc16Header(p, off)
    }
    AdtsInfo(h0.profile, h0.channels, h0.sampleRate, fs.size, samples,
      durMs, if (durMs == 0) 0 else (bits / durMs).toInt, crcOk)
  }

  /** PCM decode — same typed boundary as MP3 (transform codec, no
    * conformance reference in this environment).
    */
  def decode(p: Array[Byte]): Nothing =
    throw new RawMp3.Mp3DecodeUnsupported(
      "AAC transform-audio PCM decode is not hosted in this engine " +
        "build: no conformance reference codec is available in the " +
        "environment. The framing/metadata layer (RawAdts.info) is " +
        "fully supported; swap in a JVM decoder SPI for PCM.")

  /** Framing-level encoder for fixtures and the oracle entry:
    * spec-valid ADTS frame sequences (correct header bit layout,
    * explicit lengths, header CRC when protected, deterministic
    * filler payload).
    */
  def framingPayload(profileIdx: Int, srIdx: Int, chanCfg: Int,
      nFrames: Int, payloadBytes: Int, withCrc: Boolean,
      seed: Long): Array[Byte] = {
    require(profileIdx >= 0 && profileIdx <= 3 && srIdx >= 0 &&
      srIdx < SampleRates.length && chanCfg >= 1 && chanCfg <= 7)
    val headLen = 7 + (if (withCrc) 2 else 0)
    val fb = headLen + payloadBytes
    require(fb < (1 << 13), "frame too long for the 13-bit length field")
    val out = new java.io.ByteArrayOutputStream()
    val frame = new Array[Byte](fb)
    (0 until nFrames).foreach { f =>
      frame(0) = 0xff.toByte
      frame(1) = (0xf0 | (if (withCrc) 0 else 1)).toByte // MPEG-4, layer 00
      frame(2) = ((profileIdx << 6) | (srIdx << 2) |
        ((chanCfg >>> 2) & 1)).toByte
      frame(3) = (((chanCfg & 3) << 6) | ((fb >>> 11) & 3)).toByte
      frame(4) = ((fb >>> 3) & 0xff).toByte
      frame(5) = (((fb & 7) << 5) | 0x1f).toByte // fullness hi = VBR 0x7FF
      frame(6) = 0xfc.toByte // fullness lo | blocks-1 = 0
      var i = headLen
      while (i < fb) {
        frame(i) = ((seed * 37 + f * 149 + i * 11) & 0x7f).toByte
        i += 1
      }
      if (withCrc) {
        val c = crc16Header(frame, 0)
        frame(7) = (c >>> 8).toByte; frame(8) = c.toByte
      }
      out.write(frame)
    }
    out.toByteArray
  }
}
