package graft.operators

/** Pure-JVM IMA ADPCM codec (the DVI/IMA 4-bit adaptive-delta coding
  * standardized by the IMA Digital Audio Focus Group; WAV carries it
  * as format tag 0x0011). Unlike G.711's stateless companding this is
  * a SEQUENTIAL-STATE lossy codec: each 4-bit nibble updates a
  * (predictor, step-index) state machine shared by encoder and
  * decoder. The arithmetic is exact-integer throughout, so the
  * pipeline entry (multimodal_decode_adpcm) is still oracle-checked
  * end to end — the DuckDB oracle replays the same recurrence with a
  * recursive CTE over the step/index tables.
  *
  * With this, every non-transform codec class in the multimodal
  * surface is REAL: PNG/WebP-lossless (lossless image), FLAC
  * (lossless audio), JPEG (JDK transform decode, spec-checked),
  * G.711 + IMA ADPCM (lossy audio). Only transform codecs with no
  * JVM decode path (lossy VP8, MP3/AAC) remain behind the stub.
  */
object RawAdpcm {

  /** IMA step-size table, 89 entries (public IMA ADPCM spec). */
  val stepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)

  /** Step-index adjustment per nibble magnitude (sign bit ignored). */
  val indexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Mutable codec state; encoder and decoder run the identical
    * update, which is what makes the recurrence oracle-replayable.
    */
  final class State(var predictor: Int, var index: Int)

  /** Encode one sample against the state: returns the nibble and
    * advances the state to the decoder-reconstructed value.
    */
  def encodeSample(st: State, sample: Int): Int = {
    val step = stepTable(st.index)
    var diff = sample - st.predictor
    val sign = if (diff < 0) { diff = -diff; 8 } else 0
    var delta = 0
    if (diff >= step) { delta |= 4; diff -= step }
    if (diff >= (step >> 1)) { delta |= 2; diff -= step >> 1 }
    if (diff >= (step >> 2)) delta |= 1
    val nibble = sign | delta
    advance(st, nibble)
    nibble
  }

  /** Decode one nibble: advances the state and returns the sample. */
  def decodeSample(st: State, nibble: Int): Int = {
    advance(st, nibble)
    st.predictor
  }

  private def advance(st: State, nibble: Int): Unit = {
    val step = stepTable(st.index)
    var vpdiff = step >> 3
    if ((nibble & 4) != 0) vpdiff += step
    if ((nibble & 2) != 0) vpdiff += step >> 1
    if ((nibble & 1) != 0) vpdiff += step >> 2
    val p =
      if ((nibble & 8) != 0) st.predictor - vpdiff
      else st.predictor + vpdiff
    st.predictor = math.max(-32768, math.min(32767, p))
    st.index =
      math.max(0, math.min(88, st.index + indexTable(nibble & 7)))
  }

  /** WAV format-tag 0x0011 block layout, mono: per block a 4-byte
    * header (LE16 predictor seed = the first sample verbatim, step
    * index, reserved 0) followed by nibble pairs, LOW nibble first.
    * samplesPerBlock = (blockAlign - 4) * 2 + 1 (the header seed
    * counts as sample 0).
    */
  def encodeBlocks(samples: Array[Short], blockAlign: Int): Array[Byte] = {
    require(blockAlign >= 8 && blockAlign % 4 == 0, "bad blockAlign")
    val spb = (blockAlign - 4) * 2 + 1
    val nBlocks = (samples.length + spb - 1) / spb
    require(nBlocks * spb == samples.length,
      s"sample count ${samples.length} must fill whole blocks of $spb")
    val out = new Array[Byte](nBlocks * blockAlign)
    val st = new State(0, 0)
    var b = 0
    while (b < nBlocks) {
      val base = b * blockAlign
      val s0 = samples(b * spb).toInt
      st.predictor = s0 // header seeds the decoder verbatim
      RawBytes.putLe16(out, base, s0)
      out(base + 2) = st.index.toByte
      out(base + 3) = 0
      var i = 1
      while (i < spb) {
        val lo = encodeSample(st, samples(b * spb + i).toInt)
        val hi =
          if (i + 1 < spb) encodeSample(st, samples(b * spb + i + 1).toInt)
          else 0
        out(base + 4 + (i - 1) / 2) = (lo | (hi << 4)).toByte
        i += 2
      }
      b += 1
    }
    out
  }

  /** Inverse of [[encodeBlocks]]. */
  def decodeBlocks(data: Array[Byte], blockAlign: Int,
      nSamples: Int): Array[Short] = {
    val spb = (blockAlign - 4) * 2 + 1
    val out = new Array[Short](nSamples)
    val st = new State(0, 0)
    var b = 0
    var o = 0
    while (o < nSamples) {
      val base = b * blockAlign
      st.predictor = RawBytes.le16(data, base).toShort.toInt
      st.index = math.max(0, math.min(88, data(base + 2) & 0xff))
      out(o) = st.predictor.toShort
      o += 1
      var i = 1
      while (i < spb && o < nSamples) {
        val byte = data(base + 4 + (i - 1) / 2) & 0xff
        val nib = if ((i - 1) % 2 == 0) byte & 0x0f else byte >> 4
        out(o) = decodeSample(st, nib).toShort
        o += 1
        i += 1
      }
      b += 1
    }
    out
  }

  /** RIFF/WAVE writer for IMA ADPCM (format tag 0x0011, mono): the
    * fmt chunk carries a 2-byte cbSize extension with samplesPerBlock,
    * plus the fact chunk WAV requires for compressed formats.
    */
  def encodeWav(clip: RawAudio.Clip, blockAlign: Int): Array[Byte] = {
    require(clip.channels == 1, "mono ADPCM only")
    val spb = (blockAlign - 4) * 2 + 1
    val fact = new Array[Byte](4)
    RawBytes.putLe32(fact, 0, clip.samples.length)
    RawBytes.riff("WAVE",
      "fmt " -> RawAudio.fmtChunk(0x11, 1, clip.sampleRate,
        clip.sampleRate * blockAlign / spb, // approx byte rate
        blockAlign, 4, 2, spb), // bits per sample; cbSize, samplesPerBlock
      "fact" -> fact,
      "data" -> encodeBlocks(clip.samples, blockAlign))
  }
}
