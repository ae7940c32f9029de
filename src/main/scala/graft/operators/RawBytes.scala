package graft.operators

import java.nio.charset.StandardCharsets.US_ASCII

/** The byte-layout decisions the media codecs share, stated once:
  * little-endian 16/32-bit fields, the RIFF container (writer and
  * chunk walker) and the MSB-first CRC-16 of MPEG audio and FLAC.
  *
  * Callers: WAV in [[RawAudio]] (reader, PCM16 and G.711 writers) and
  * [[RawAdpcm]] (tag 0x0011 writer); the WebP container in [[RawWebp]]
  * (sniff, chunk lookup, VP8L writer) and [[RawVp8Enc]] (VP8 writer);
  * BMP header fields in [[RawImage]]; GIF screen and image descriptors
  * in [[RawGif]]; the CRC-16 of FLAC frames ([[RawFlac]]), MPEG audio
  * frames ([[RawMp3]]) and ADTS headers ([[RawAdts]]).
  *
  * Bit-level coders stay with their one codec: FLAC's MSB-first and
  * VP8L's LSB-first bit streams, VP8's bool coder, and PNG's
  * big-endian chunks.
  */
object RawBytes {

  def le16(p: Array[Byte], off: Int): Int =
    (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)

  def le32(p: Array[Byte], off: Int): Int =
    le16(p, off) | (le16(p, off + 2) << 16)

  def putLe16(p: Array[Byte], off: Int, v: Int): Unit = {
    p(off) = v.toByte
    p(off + 1) = (v >> 8).toByte
  }

  def putLe32(p: Array[Byte], off: Int, v: Int): Unit = {
    putLe16(p, off, v)
    putLe16(p, off + 2, v >> 16)
  }

  def writeLe16(out: java.io.OutputStream, v: Int): Unit = {
    out.write(v & 0xff)
    out.write((v >> 8) & 0xff)
  }

  // ----------------------------------------------------------------- RIFF

  /** One chunk of a RIFF body: fourcc, payload offset and payload size
    * (the size field, without the pad byte).
    */
  final case class Chunk(id: String, off: Int, size: Int)

  /** True when `p` starts with a RIFF header of the given form type
    * ("WAVE", "WEBP").
    */
  def isRiff(p: Array[Byte], form: String): Boolean =
    p.length >= 12 && fourccAt(p, 0, "RIFF") && fourccAt(p, 8, form)

  private def fourccAt(p: Array[Byte], off: Int, id: String): Boolean = {
    var i = 0
    while (i < 4 && p(off + i) == id.charAt(i)) i += 1
    i == 4
  }

  /** The chunks after the 12-byte RIFF header, in file order. Chunks
    * pad to even lengths. The walk ends at a chunk whose size is
    * negative or runs past the end of `p`, so a corrupt size can
    * neither loop nor index out of bounds: the chunks before it are
    * all a caller sees.
    */
  def chunks(p: Array[Byte]): Seq[Chunk] = {
    val out = Seq.newBuilder[Chunk]
    var off = 12
    var ok = true
    while (ok && off + 8 <= p.length) {
      val size = le32(p, off + 4)
      ok = size >= 0 && size <= p.length - off - 8
      if (ok) {
        out += Chunk(new String(p, off, 4, US_ASCII), off + 8, size)
        off += 8 + size + (size & 1)
      }
    }
    out.result()
  }

  /** A RIFF file of the given form type holding `chunks` (fourcc,
    * payload) in order, each padded with a zero byte to an even length.
    */
  def riff(form: String, chunks: (String, Array[Byte])*): Array[Byte] = {
    val body = chunks.map { case (_, d) => 8 + d.length + (d.length & 1) }.sum
    val out = new Array[Byte](12 + body)
    def ascii(off: Int, s: String): Unit =
      System.arraycopy(s.getBytes(US_ASCII), 0, out, off, 4)
    ascii(0, "RIFF")
    putLe32(out, 4, 4 + body)
    ascii(8, form)
    var off = 12
    chunks.foreach { case (id, d) =>
      ascii(off, id)
      putLe32(out, off + 4, d.length)
      System.arraycopy(d, 0, out, off + 8, d.length)
      off += 8 + d.length + (d.length & 1)
    }
    out
  }

  // --------------------------------------------------------------- CRC-16

  /** CRC-16 with polynomial x^16+x^15+x^2+1, MSB-first, no
    * reflection and no final xor, over `len` bytes from `off`, starting
    * from `init`. FLAC frames start at 0, MPEG audio and ADTS at 0xFFFF;
    * passing one range's result as the next range's `init` chains them.
    */
  def crc16(p: Array[Byte], off: Int, len: Int, init: Int): Int = {
    var crc = init
    var i = off
    while (i < off + len) {
      crc ^= (p(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
          else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }
}
