package graft.operators

/** Pure-JVM audio codec for WAV / PCM16: RIFF is a plain byte layout
  * (no compression), so the multimodal pipeline decodes it for real —
  * the audio twin of [[RawImage]]. Compressed lossless audio decodes
  * for real too ([[RawFlac]]), as do the non-transform lossy codings
  * (G.711 companding via [[RawG711]] — WAV tags 6/7 below — and IMA
  * ADPCM via [[RawAdpcm]]); transform audio (MP3/AAC/Opus) stays
  * behind the stub boundary.
  */
object RawAudio {
  import RawBytes.{le16, le32, putLe16, putLe32}

  /** Decoded clip: interleaved 16-bit samples. */
  final case class Clip(sampleRate: Int, channels: Int, samples: Array[Short])

  def sniff(p: Array[Byte]): String =
    if (RawBytes.isRiff(p, "WAVE")) "audio/wav" else "unknown"

  /** RIFF/WAVE with fmt and data chunks in any order. Format tags:
    * 1 = PCM16, 6 = G.711 A-law, 7 = G.711 mu-law (8-bit companded,
    * expanded to PCM16 via [[RawG711]] — a REAL lossy decode path),
    * 0x0011 = mono IMA ADPCM ([[RawAdpcm.decodeBlocks]]; the fact
    * chunk carries the sample count). Handles data-before-fmt by
    * deferring the expansion.
    */
  def decodeWav(p: Array[Byte]): Clip = {
    require(sniff(p) == "audio/wav", "not a WAV")
    var rate = 0; var channels = 0; var fmtTag = -1; var blockAlign = 0
    var nSamples = -1; var dataOff = -1; var dataSize = -1
    RawBytes.chunks(p).foreach { c =>
      c.id match {
        case "fmt " =>
          fmtTag = le16(p, c.off)
          channels = le16(p, c.off + 2)
          rate = le32(p, c.off + 4)
          blockAlign = le16(p, c.off + 12)
          val bps = le16(p, c.off + 14)
          if (fmtTag == 0x11) require(channels == 1, "mono ADPCM only")
          else {
            require(fmtTag == 1 || fmtTag == 6 || fmtTag == 7,
              s"unsupported WAV format tag $fmtTag " +
                "(PCM/A-law/mu-law/IMA ADPCM only)")
            require(bps == (if (fmtTag == 1) 16 else 8),
              s"format tag $fmtTag requires ${if (fmtTag == 1) 16 else 8}-bit")
          }
        case "fact" => nSamples = le32(p, c.off)
        case "data" => dataOff = c.off; dataSize = c.size
        case _ => () // skip unknown chunks (LIST, ...)
      }
    }
    require(dataOff >= 0 && rate > 0, "missing fmt/data chunk")
    val samples = fmtTag match {
      case 1 =>
        val n = dataSize / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { out(i) = le16(p, dataOff + i * 2).toShort; i += 1 }
        out
      case 6 =>
        val out = new Array[Short](dataSize)
        var i = 0
        while (i < dataSize) { out(i) = RawG711.alawDecode(p(dataOff + i)); i += 1 }
        out
      case 7 =>
        val out = new Array[Short](dataSize)
        var i = 0
        while (i < dataSize) { out(i) = RawG711.mulawDecode(p(dataOff + i)); i += 1 }
        out
      case 0x11 =>
        require(blockAlign > 0, "missing ADPCM block align")
        val spb = (blockAlign - 4) * 2 + 1
        val n = if (nSamples >= 0) nSamples else dataSize / blockAlign * spb
        RawAdpcm.decodeBlocks(
          java.util.Arrays.copyOfRange(p, dataOff, dataOff + dataSize),
          blockAlign, n)
    }
    Clip(rate, channels, samples)
  }

  /** The 16-byte WAVEFORMAT fields of a `fmt ` chunk, then `extra`
    * 16-bit fields (cbSize and what it counts).
    */
  private[operators] def fmtChunk(tag: Int, channels: Int, rate: Int,
      byteRate: Int, blockAlign: Int, bitsPerSample: Int,
      extra: Int*): Array[Byte] = {
    val f = new Array[Byte](16 + 2 * extra.length)
    putLe16(f, 0, tag)
    putLe16(f, 2, channels)
    putLe32(f, 4, rate)
    putLe32(f, 8, byteRate)
    putLe16(f, 12, blockAlign)
    putLe16(f, 14, bitsPerSample)
    extra.zipWithIndex.foreach { case (v, i) => putLe16(f, 16 + 2 * i, v) }
    f
  }

  /** RIFF/WAVE writer for G.711 payloads (format tag 6 = A-law,
    * 7 = mu-law): one companded byte per sample.
    */
  def encodeWavG711(clip: Clip, mulaw: Boolean): Array[Byte] = {
    val data = clip.samples.map(s =>
      if (mulaw) RawG711.mulawEncode(s) else RawG711.alawEncode(s))
    RawBytes.riff("WAVE",
      "fmt " -> fmtChunk(if (mulaw) 7 else 6, clip.channels, clip.sampleRate,
        clip.sampleRate * clip.channels, // byte rate: 1 B/sample
        clip.channels, 8),
      "data" -> data)
  }

  def encodeWav(clip: Clip): Array[Byte] = {
    val data = new Array[Byte](clip.samples.length * 2)
    var i = 0
    while (i < clip.samples.length) {
      putLe16(data, i * 2, clip.samples(i))
      i += 1
    }
    RawBytes.riff("WAVE",
      "fmt " -> fmtChunk(1, clip.channels, clip.sampleRate,
        clip.sampleRate * clip.channels * 2, clip.channels * 2, 16),
      "data" -> data)
  }

  /** Exact integer aggregates: (sum |s|, sum s^2) — both fit a Long for
    * any realistic clip, so downstream means are one division.
    */
  def amplitudeStats(clip: Clip): (Long, Long) = {
    var sumAbs = 0L; var sumSq = 0L
    var i = 0
    while (i < clip.samples.length) {
      val s = clip.samples(i).toLong
      sumAbs += math.abs(s)
      sumSq += s * s
      i += 1
    }
    (sumAbs, sumSq)
  }

  /** Windowed DSP features over fixed-size sample windows (the audio
    * analog of per-chunk token stats): per window the exact-integer
    * energy (sum of squares), zero-crossing count (sign change between
    * adjacent samples WITHIN the window; s >= 0 counts as positive, the
    * convention that keeps the count a pure integer function of the
    * samples), and peak |amplitude|. Integers only, so an oracle can
    * recompute every value from the synthetic sample formula.
    */
  final case class WindowFeatures(
      winIdx: Int, n: Int, energy: Long, zeroCrossings: Int, peak: Int)

  def windowFeatures(clip: Clip, win: Int): Seq[WindowFeatures] = {
    val out = Seq.newBuilder[WindowFeatures]
    var start = 0
    var idx = 0
    while (start < clip.samples.length) {
      val end = math.min(start + win, clip.samples.length)
      var energy = 0L; var zc = 0; var peak = 0
      var i = start
      while (i < end) {
        val s = clip.samples(i).toInt
        energy += s.toLong * s
        val a = math.abs(s)
        if (a > peak) peak = a
        if (i > start && ((s >= 0) != (clip.samples(i - 1) >= 0))) zc += 1
        i += 1
      }
      out += WindowFeatures(idx, end - start, energy, zc, peak)
      start = end
      idx += 1
    }
    out.result()
  }
}
