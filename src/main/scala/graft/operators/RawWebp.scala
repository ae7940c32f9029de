package graft.operators

/** Pure-JVM WebP-lossless (VP8L) codec, written from the public WebP
  * specification (RFC 9649: "WebP Image Format", lossless bitstream,
  * §3-4; container §2). No third-party code — the only spec constant
  * block is the 120-entry distance-mapping table, printed verbatim in
  * RFC 9649 §4.2.2.3 ("Distance Mapping").
  *
  * Decoder scope: the COMPLETE lossless feature set — LSB-first bit
  * stream, simple + normal prefix codes (code-length codes with
  * 16/17/18 repeats, optional max-symbol cap, canonical assignment),
  * color cache, meta prefix-code (huffman) images, LZ77 with the
  * neighborhood distance mapping, and all four transforms (predictor
  * with the 14 modes, cross-color, subtract-green, color-indexing with
  * pixel bundling), plus the headerless stream form used by ALPH alpha
  * planes (alpha in the green channel, optional horizontal/vertical/
  * gradient post-filter). Lossy VP8 ('VP8 ' chunks) decodes for real
  * too since round 11 — routed to [[RawVp8]], whose YUV output is
  * conformance-pinned byte-exact against libwebp (Vp8Spec).
  *
  * Conformance: WebpSpec decodes fixtures produced by the REFERENCE
  * libwebp encoder (tools/gen_webp_golden.py, system libwebp.so via
  * ctypes, chosen to cover palette bundling widths, predictor/cross-
  * color transforms, color cache, LZ77 and meta prefix images) and
  * requires byte-exact RGBA equality with libwebp's own decode of the
  * same streams; the encoder's output is decoded back by libwebp in
  * tools/check_webp_encode.py (recorded in NOTES.md).
  *
  * Encoder scope (round-trip + payload generation for the driver
  * entry): valid container + lossless stream, no transforms, single
  * prefix-code group, simple or normal codes chosen per histogram,
  * LZ77 run-length tokens for repeated pixels (plain distance codes).
  */
object RawWebp {

  // ---------------------------------------------------------------- sniff

  def sniff(p: Array[Byte]): Boolean =
    p.length >= 16 && RawBytes.isRiff(p, "WEBP")

  /** True when the container carries a LOSSLESS (VP8L) image —
    * directly or inside an extended VP8X layout.
    */
  def sniffLossless(p: Array[Byte]): Boolean =
    sniff(p) && findChunk(p, "VP8L").isDefined

  /** True when the container carries a LOSSY (VP8) keyframe — decoded
    * for real by [[RawVp8]] since round 11 (no longer stubbed).
    */
  def sniffLossy(p: Array[Byte]): Boolean =
    sniff(p) && findChunk(p, "VP8 ").isDefined

  /** The first `typ` chunk inside the WEBP form: (payloadOff, size).
    * None when it is absent, truncated, or after a truncated chunk.
    */
  private[operators] def findChunk(p: Array[Byte], typ: String): Option[(Int, Int)] =
    RawBytes.chunks(p).find(_.id == typ).map(c => (c.off, c.size))

  // ------------------------------------------------------------ bit reader

  /** LSB-first bit reader (RFC 9649 §4.1). */
  private final class BitReader(data: Array[Byte], off: Int, len: Int) {
    private var pos = off
    private var bit = 0
    def readBit(): Int = {
      require(pos < off + len, "VP8L: read past end of stream")
      val v = (data(pos) >> bit) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v |= readBit() << i; i += 1 }
      v
    }
  }

  // -------------------------------------------------------- prefix codes

  /** Canonical prefix code (deflate-style assignment: codes ordered by
    * (length, symbol), decoded MSB-of-code-first). A code whose length
    * array has exactly ONE used symbol decodes with ZERO bits (RFC 9649
    * simple-code degenerate case; libwebp builds the same 0-bit table
    * for normal codes too).
    */
  private final class Prefix(lengths: Array[Int]) {
    private val maxLen = 15
    private val count = new Array[Int](maxLen + 1)
    lengths.foreach { l =>
      require(l >= 0 && l <= maxLen, s"VP8L: code length $l")
      if (l > 0) count(l) += 1
    }
    private val total = count.sum
    require(total > 0, "VP8L: empty prefix code")
    private val single = if (total == 1) lengths.indexWhere(_ > 0) else -1
    // firstCode(l) = canonical code value of the first symbol of length l
    private val firstCode = new Array[Int](maxLen + 2)
    private val offset = new Array[Int](maxLen + 2)
    locally {
      var code = 0
      var sum = 0
      var l = 1
      while (l <= maxLen) {
        firstCode(l) = code
        offset(l) = sum
        code = (code + count(l)) << 1
        sum += count(l)
        l += 1
      }
    }
    private val sorted = new Array[Int](total)
    locally {
      val next = offset.clone()
      var s = 0
      while (s < lengths.length) {
        val l = lengths(s)
        if (l > 0) { sorted(next(l)) = s; next(l) += 1 }
        s += 1
      }
    }
    def read(br: BitReader): Int = {
      if (single >= 0) return single
      var code = 0
      var l = 0
      while (l < maxLen) {
        code = (code << 1) | br.readBit()
        l += 1
        val idx = code - firstCode(l)
        if (idx >= 0 && idx < count(l)) return sorted(offset(l) + idx)
      }
      throw new IllegalArgumentException("VP8L: invalid prefix code word")
    }
  }

  /** RFC 9649 §4.2.1.1 code-length-code symbol order. */
  private val CodeLengthOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Read one prefix code (simple or normal form), RFC 9649 §4.2.1. */
  private def readPrefixCode(br: BitReader, alphabet: Int): Prefix = {
    if (br.readBit() == 1) { // simple
      val numSymbols = br.readBit() + 1
      val first8 = br.readBit()
      val lengths = new Array[Int](alphabet)
      val s0 = br.readBits(if (first8 == 1) 8 else 1)
      require(s0 < alphabet, "VP8L: simple-code symbol out of range")
      if (numSymbols == 2) {
        val s1 = br.readBits(8)
        require(s1 < alphabet, "VP8L: simple-code symbol out of range")
        lengths(s0) = 1
        lengths(s1) = 1
      } else lengths(s0) = 1
      new Prefix(lengths)
    } else { // normal: code-length code, then run-length coded lengths
      val cl = new Array[Int](19)
      val numCodes = br.readBits(4) + 4
      var i = 0
      while (i < numCodes) { cl(CodeLengthOrder(i)) = br.readBits(3); i += 1 }
      val clCode = new Prefix(cl)
      var maxSymbol =
        if (br.readBit() == 1) {
          val nbits = 2 + 2 * br.readBits(3)
          2 + br.readBits(nbits)
        } else alphabet
      val lengths = new Array[Int](alphabet)
      var symbol = 0
      var prev = 8 // default code length carried by repeat-16 (RFC 9649)
      while (symbol < alphabet && maxSymbol > 0) {
        maxSymbol -= 1
        val s = clCode.read(br)
        if (s < 16) {
          lengths(symbol) = s
          symbol += 1
          if (s != 0) prev = s
        } else {
          val (repeat, value) = s match {
            case 16 => (3 + br.readBits(2), prev)
            case 17 => (3 + br.readBits(3), 0)
            case _  => (11 + br.readBits(7), 0)
          }
          var r = repeat
          while (r > 0 && symbol < alphabet) {
            lengths(symbol) = value
            symbol += 1
            r -= 1
          }
        }
      }
      new Prefix(lengths)
    }
  }

  // --------------------------------------------------------- LZ77 pieces

  /** Prefix-coded value (length / distance), RFC 9649 §4.2.2.2. */
  private def readPrefixValue(br: BitReader, code: Int): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + br.readBits(extra) + 1
    }

  /** RFC 9649 §4.2.2.3 distance-mapping table: the first 120 distance
    * codes address a (dx, dy) pixel neighborhood; each byte packs
    * dy = b >> 4, dx = 8 - (b & 0xf). Codes above 120 are plain
    * distances minus 120. Table transcribed from the specification.
    */
  private val DistanceMap: Array[Int] = Array(
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1a,
    0x26, 0x2a, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1b, 0x36, 0x3a,
    0x25, 0x2b, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1c, 0x35, 0x3b,
    0x46, 0x4a, 0x24, 0x2c, 0x58, 0x45, 0x4b, 0x34, 0x3c, 0x03,
    0x57, 0x59, 0x13, 0x1d, 0x56, 0x5a, 0x23, 0x2d, 0x44, 0x4c,
    0x55, 0x5b, 0x33, 0x3d, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1e,
    0x66, 0x6a, 0x22, 0x2e, 0x54, 0x5c, 0x43, 0x4d, 0x65, 0x6b,
    0x32, 0x3e, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5d, 0x11, 0x1f,
    0x64, 0x6c, 0x42, 0x4e, 0x76, 0x7a, 0x21, 0x2f, 0x75, 0x7b,
    0x31, 0x3f, 0x63, 0x6d, 0x52, 0x5e, 0x00, 0x74, 0x7c, 0x41,
    0x4f, 0x10, 0x20, 0x62, 0x6e, 0x30, 0x73, 0x7d, 0x51, 0x5f,
    0x40, 0x72, 0x7e, 0x61, 0x6f, 0x50, 0x71, 0x7f, 0x60, 0x70)

  private def planeCodeToDistance(xsize: Int, planeCode: Int): Int =
    if (planeCode > 120) planeCode - 120
    else {
      val b = DistanceMap(planeCode - 1)
      val dy = b >> 4
      val dx = 8 - (b & 0xf)
      val dist = dy * xsize + dx
      if (dist < 1) 1 else dist
    }

  // ---------------------------------------------------------- transforms

  private def subSample(size: Int, bits: Int): Int =
    (size + (1 << bits) - 1) >> bits

  private sealed trait Transform { def width: Int }
  private case class PredictorT(width: Int, bits: Int, data: Array[Int])
      extends Transform
  private case class ColorT(width: Int, bits: Int, data: Array[Int])
      extends Transform
  private case class SubtractGreenT(width: Int) extends Transform
  private case class PaletteT(width: Int, packedWidth: Int,
      widthBits: Int, palette: Array[Int]) extends Transform

  // ------------------------------------------------------------- decode

  def decode(p: Array[Byte]): RawImage.Image = {
    if (findChunk(p, "VP8L").isEmpty && findChunk(p, "VP8 ").isDefined) {
      // lossy VP8 keyframe: bit-exact YUV (Vp8Spec) + presentation RGB
      return RawVp8.toRgb(RawVp8.decodeWebpYuv(p))
    }
    val (w, h, argb) = decodeArgb(p)
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      rgb(i * 3) = ((argb(i) >> 16) & 0xff).toByte
      rgb(i * 3 + 1) = ((argb(i) >> 8) & 0xff).toByte
      rgb(i * 3 + 2) = (argb(i) & 0xff).toByte
      i += 1
    }
    RawImage.Image(w, h, rgb)
  }

  /** Full ARGB decode (alpha preserved) — WebpSpec compares this
    * against libwebp's RGBA output byte for byte.
    */
  def decodeArgb(p: Array[Byte]): (Int, Int, Array[Int]) = {
    require(sniff(p), "not a WebP container")
    val (off, len) = findChunk(p, "VP8L").getOrElse(
      throw new IllegalArgumentException(
        "no VP8L chunk (lossy WebP is unsupported)"))
    require(len >= 5 && (p(off) & 0xff) == 0x2f, "bad VP8L signature")
    val br = new BitReader(p, off + 1, len - 1)
    val w = br.readBits(14) + 1
    val h = br.readBits(14) + 1
    br.readBit() // alpha-is-used hint
    require(br.readBits(3) == 0, "VP8L version != 0")
    (w, h, decodeImageStream(br, w, h, isLevel0 = true))
  }

  /** Headerless lossless stream carrying an alpha plane (container
    * ALPH chunk, compression method 1): alpha = green channel of the
    * decoded image; `filter` 0-3 = none/horizontal/vertical/gradient
    * (RFC 9649 §2.5.2). Returns one 0-255 value per pixel.
    */
  def decodeAlphaPlane(data: Array[Byte], off: Int, len: Int,
      w: Int, h: Int, filter: Int): Array[Int] = {
    val br = new BitReader(data, off, len)
    val argb = decodeImageStream(br, w, h, isLevel0 = true)
    val a = new Array[Int](w * h)
    var i = 0
    while (i < w * h) { a(i) = (argb(i) >> 8) & 0xff; i += 1 }
    // inverse alpha filters (same reconstruction idea as PNG's):
    if (filter != 0) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val i = y * w + x
          val left = if (x > 0) a(i - 1) else if (y > 0) a(i - w) else 0
          val top = if (y > 0) a(i - w) else left
          val tl = if (x > 0 && y > 0) a(i - w - 1) else left
          val pred = filter match {
            case 1 => left
            case 2 => top
            case _ => math.max(0, math.min(255, left + top - tl))
          }
          a(i) = (a(i) + pred) & 0xff
          x += 1
        }
        y += 1
      }
    }
    a
  }

  /** Decode the ALPH alpha plane out of an extended (VP8X) container —
    * used by WebpSpec against the CPython test-suite fixture. Lossy
    * pixel data is NOT decoded; this reads only the lossless-coded
    * alpha channel.
    */
  def decodeAlphOf(p: Array[Byte]): (Int, Int, Array[Int]) = {
    require(sniff(p), "not a WebP container")
    val (xOff, xLen) = findChunk(p, "VP8X").getOrElse(
      throw new IllegalArgumentException("no VP8X chunk"))
    require(xLen >= 10, "short VP8X")
    val w = 1 + ((p(xOff + 4) & 0xff) | ((p(xOff + 5) & 0xff) << 8) |
      ((p(xOff + 6) & 0xff) << 16))
    val h = 1 + ((p(xOff + 7) & 0xff) | ((p(xOff + 8) & 0xff) << 8) |
      ((p(xOff + 9) & 0xff) << 16))
    val (aOff, aLen) = findChunk(p, "ALPH").getOrElse(
      throw new IllegalArgumentException("no ALPH chunk"))
    val head = p(aOff) & 0xff
    val method = head & 0x3
    val filter = (head >> 2) & 0x3
    require(method == 1, s"ALPH compression method $method (want lossless)")
    (w, h, decodeAlphaPlane(p, aOff + 1, aLen - 1, w, h, filter))
  }

  /** RFC 9649 §4.3: one spatially-coded image; level 0 reads transforms
    * and may carry a meta prefix-code image, sub-images (transform
    * data, palettes, meta images) may not.
    */
  private def decodeImageStream(br: BitReader, width: Int, height: Int,
      isLevel0: Boolean): Array[Int] = {
    var w = width
    val transforms = scala.collection.mutable.ArrayBuffer.empty[Transform]
    if (isLevel0) {
      var seen = 0
      while (br.readBit() == 1) {
        val typ = br.readBits(2)
        require((seen & (1 << typ)) == 0, "VP8L: duplicate transform")
        seen |= 1 << typ
        typ match {
          case 0 => // predictor
            val bits = br.readBits(3) + 2
            val data = decodeImageStream(br, subSample(w, bits),
              subSample(height, bits), isLevel0 = false)
            transforms += PredictorT(w, bits, data)
          case 1 => // cross-color
            val bits = br.readBits(3) + 2
            val data = decodeImageStream(br, subSample(w, bits),
              subSample(height, bits), isLevel0 = false)
            transforms += ColorT(w, bits, data)
          case 2 =>
            transforms += SubtractGreenT(w)
          case _ => // color indexing (palette): reduces coded width
            val numColors = br.readBits(8) + 1
            val widthBits =
              if (numColors > 16) 0
              else if (numColors > 4) 1
              else if (numColors > 2) 2
              else 3
            val raw = decodeImageStream(br, numColors, 1, isLevel0 = false)
            // palette entries are stored as component-wise deltas
            var i = 1
            while (i < numColors) {
              val prev = raw(i - 1)
              val cur = raw(i)
              raw(i) = (((cur >>> 24) + (prev >>> 24)) & 0xff) << 24 |
                ((((cur >> 16) & 0xff) + ((prev >> 16) & 0xff)) & 0xff) << 16 |
                ((((cur >> 8) & 0xff) + ((prev >> 8) & 0xff)) & 0xff) << 8 |
                (((cur & 0xff) + (prev & 0xff)) & 0xff)
              i += 1
            }
            val packed = subSample(w, widthBits)
            transforms += PaletteT(w, packed, widthBits, raw)
            w = packed
        }
      }
    }
    // color cache
    val cacheBits = if (br.readBit() == 1) {
      val b = br.readBits(4)
      require(b >= 1 && b <= 11, s"VP8L: cache bits $b")
      b
    } else 0
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheBits > 0) new Array[Int](cacheSize) else null
    // meta prefix-code image (level 0 only)
    var metaBits = 0
    var meta: Array[Int] = null
    var numGroups = 1
    if (isLevel0 && br.readBit() == 1) {
      metaBits = br.readBits(3) + 2
      meta = decodeImageStream(br, subSample(w, metaBits),
        subSample(height, metaBits), isLevel0 = false)
      var m = 0
      var i = 0
      while (i < meta.length) {
        val idx = (meta(i) >> 8) & 0xffff // (red << 8) | green
        if (idx > m) m = idx
        i += 1
      }
      numGroups = m + 1
    }
    val metaW = if (meta != null) subSample(w, metaBits) else 0
    // prefix-code groups: green+length+cache, red, blue, alpha, distance
    val groups = Array.tabulate(numGroups) { _ =>
      Array(readPrefixCode(br, 256 + 24 + cacheSize),
        readPrefixCode(br, 256), readPrefixCode(br, 256),
        readPrefixCode(br, 256), readPrefixCode(br, 40))
    }
    // pixel loop
    val n = w * height
    val data = new Array[Int](n)
    def cacheInsert(px: Int): Unit =
      if (cache != null)
        cache(((0x1e35a7bd * px) >>> (32 - cacheBits))) = px
    var pos = 0
    var x = 0
    var y = 0
    while (pos < n) {
      val g = if (meta == null) groups(0)
        else {
          val idx = (meta((y >> metaBits) * metaW + (x >> metaBits)) >> 8) &
            0xffff
          groups(idx)
        }
      val s = g(0).read(br)
      if (s < 256) { // literal: G then R, B, A
        val red = g(1).read(br)
        val blue = g(2).read(br)
        val alpha = g(3).read(br)
        val px = (alpha << 24) | (red << 16) | (s << 8) | blue
        data(pos) = px
        cacheInsert(px)
        pos += 1
        x += 1
        if (x == w) { x = 0; y += 1 }
      } else if (s < 256 + 24) { // LZ77 back-reference
        val length = readPrefixValue(br, s - 256)
        val distCode = readPrefixValue(br, g(4).read(br))
        val dist = planeCodeToDistance(w, distCode)
        require(dist <= pos && pos + length <= n,
          "VP8L: back-reference out of range")
        var i = 0
        while (i < length) {
          val px = data(pos - dist)
          data(pos) = px
          cacheInsert(px)
          pos += 1
          i += 1
        }
        x = pos % w
        y = pos / w
      } else { // color-cache hit
        require(cache != null, "VP8L: cache symbol without cache")
        data(pos) = cache(s - 280)
        pos += 1
        x += 1
        if (x == w) { x = 0; y += 1 }
      }
    }
    // inverse transforms, in reverse order of appearance
    var out = data
    transforms.reverseIterator.foreach { t => out = invert(t, out, height) }
    out
  }

  // ---------------------------------------------------- inverse transforms

  private def avg2(a: Int, b: Int): Int =
    (((a >>> 24) + (b >>> 24)) >> 1) << 24 |
      ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) >> 1) << 16 |
      ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) >> 1) << 8 |
      (((a & 0xff) + (b & 0xff)) >> 1)

  private def addPixels(a: Int, b: Int): Int =
    (((a >>> 24) + (b >>> 24)) & 0xff) << 24 |
      ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) & 0xff) << 16 |
      ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) & 0xff) << 8 |
      (((a & 0xff) + (b & 0xff)) & 0xff)

  /** RFC 9649 predictor mode 11: pick left or top by which of the two
    * the top-left corner resembles less (gradient direction test).
    */
  private def select(top: Int, left: Int, topLeft: Int): Int = {
    def ch(p: Int, s: Int): Int = (p >>> s) & 0xff
    var d = 0
    var s = 0
    while (s < 32) {
      d += math.abs(ch(left, s) - ch(topLeft, s)) -
        math.abs(ch(top, s) - ch(topLeft, s))
      s += 8
    }
    if (d <= 0) top else left
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int = {
    def ch(p: Int, s: Int): Int = (p >>> s) & 0xff
    var out = 0
    var s = 0
    while (s < 32) {
      out |= clip255(ch(l, s) + ch(t, s) - ch(tl, s)) << s
      s += 8
    }
    out
  }

  private def clampAddSubtractHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = avg2(l, t)
    def ch(p: Int, s: Int): Int = (p >>> s) & 0xff
    var out = 0
    var s = 0
    while (s < 32) {
      val a = ch(ave, s)
      // C-style truncation toward zero, per the reference semantics
      out |= clip255(a + (a - ch(tl, s)) / 2) << s
      s += 8
    }
    out
  }

  private def invert(t: Transform, in: Array[Int], h: Int): Array[Int] =
    t match {
      case SubtractGreenT(w) =>
        var i = 0
        while (i < w * h) {
          val px = in(i)
          val g = (px >> 8) & 0xff
          in(i) = (px & 0xff000000) |
            ((((px >> 16) & 0xff) + g) & 0xff) << 16 |
            (g << 8) | (((px & 0xff) + g) & 0xff)
          i += 1
        }
        in
      case ColorT(w, bits, cte) =>
        val tw = subSample(w, bits)
        def delta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val e = cte((y >> bits) * tw + (x >> bits))
            val g2r = (e >> 0) & 0xff  // stored in blue channel
            val g2b = (e >> 8) & 0xff  // stored in green channel
            val r2b = (e >> 16) & 0xff // stored in red channel
            val i = y * w + x
            val px = in(i)
            val g = (px >> 8) & 0xff
            var red = (px >> 16) & 0xff
            var blue = px & 0xff
            red = (red + delta(g2r, g)) & 0xff
            blue = (blue + delta(g2b, g)) & 0xff
            blue = (blue + delta(r2b, red)) & 0xff
            in(i) = (px & 0xff00ff00) | (red << 16) | blue
            x += 1
          }
          y += 1
        }
        in
      case PredictorT(w, bits, modes) =>
        val tw = subSample(w, bits)
        var pos = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val pred =
              if (x == 0 && y == 0) 0xff000000
              else if (y == 0) in(pos - 1) // first row: left
              else if (x == 0) in(pos - w) // first column: top
              else {
                val mode = (modes((y >> bits) * tw + (x >> bits)) >> 8) & 0xff
                val l = in(pos - 1)
                val tp = in(pos - w)
                val tl = in(pos - w - 1)
                // linear-array addressing: for the last column, top-right
                // is the CURRENT row's first pixel (RFC 9649 §4.4.2)
                val tr = in(pos - w + 1)
                mode match {
                  case 0 => 0xff000000
                  case 1 => l
                  case 2 => tp
                  case 3 => tr
                  case 4 => tl
                  case 5 => avg2(avg2(l, tr), tp)
                  case 6 => avg2(l, tl)
                  case 7 => avg2(l, tp)
                  case 8 => avg2(tl, tp)
                  case 9 => avg2(tp, tr)
                  case 10 => avg2(avg2(l, tl), avg2(tp, tr))
                  case 11 => select(tp, l, tl)
                  case 12 => clampAddSubtractFull(l, tp, tl)
                  case 13 => clampAddSubtractHalf(l, tp, tl)
                  case m =>
                    throw new IllegalArgumentException(
                      s"VP8L: predictor mode $m")
                }
              }
            in(pos) = addPixels(in(pos), pred)
            pos += 1
            x += 1
          }
          y += 1
        }
        in
      case PaletteT(w, packedW, widthBits, palette) =>
        if (widthBits == 0) {
          var i = 0
          while (i < w * h) {
            val idx = (in(i) >> 8) & 0xff
            in(i) = if (idx < palette.length) palette(idx) else 0
            i += 1
          }
          in
        } else {
          val out = new Array[Int](w * h)
          val pixelsPerByte = 1 << widthBits
          val bpp = 8 >> widthBits
          val mask = (1 << bpp) - 1
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val packed = (in(y * packedW + (x >> widthBits)) >> 8) & 0xff
              val idx = (packed >> (bpp * (x & (pixelsPerByte - 1)))) & mask
              out(y * w + x) = if (idx < palette.length) palette(idx) else 0
              x += 1
            }
            y += 1
          }
          out
        }
    }

  // -------------------------------------------------------------- encode

  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nb = 0
    def writeBit(b: Int): Unit = {
      acc |= (b & 1) << nb
      nb += 1
      if (nb == 8) { buf.write(acc); acc = 0; nb = 0 }
    }
    def writeBits(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) { writeBit((v >> i) & 1); i += 1 }
    }
    def bytes: Array[Byte] = {
      if (nb > 0) { buf.write(acc); acc = 0; nb = 0 }
      buf.toByteArray
    }
  }

  /** Length-limited canonical code lengths from frequencies (huffman,
    * then the standard zlib-style overflow repair when a length exceeds
    * the limit). Returns lengths; all-zero freq -> symbol 0 gets a
    * 1-bit code so the stream always carries a decodable code.
    */
  private def codeLengths(freq: Array[Int], limit: Int): Array[Int] = {
    val n = freq.length
    val used = (0 until n).filter(freq(_) > 0)
    val lengths = new Array[Int](n)
    if (used.isEmpty) { lengths(0) = 1; return lengths }
    if (used.size == 1) { lengths(used.head) = 1; return lengths }
    // plain huffman depths (symbol-list merging; alphabets are <= 280)
    case class Node(w: Long, syms: List[Int])
    val q = scala.collection.mutable.PriorityQueue.empty[Node](
      Ordering.by[Node, Long](_.w).reverse)
    used.foreach(s => q.enqueue(Node(freq(s), List(s))))
    val depth = new Array[Int](n)
    while (q.size > 1) {
      val a = q.dequeue(); val b = q.dequeue()
      val merged = a.syms ++ b.syms
      merged.foreach(s => depth(s) += 1)
      q.enqueue(Node(a.w + b.w, merged))
    }
    used.foreach(s => lengths(s) = depth(s))
    // length-limit repair (zlib gen_codes shape): clamp, then restore
    // the Kraft equality by demoting shorter codes; each step moves one
    // unit of Kraft mass, so the loop terminates at equality
    val maxL = lengths.max
    if (maxL > limit) {
      val count = new Array[Int](maxL + 2)
      used.foreach(s => count(lengths(s)) += 1)
      var l = maxL
      while (l > limit) { count(limit) += count(l); count(l) = 0; l -= 1 }
      def kraft: Long =
        (1 to limit).map(l => count(l).toLong << (limit - l)).sum
      while (kraft > (1L << limit)) {
        var bits = limit - 1
        while (count(bits) == 0) bits -= 1
        count(bits) -= 1
        count(bits + 1) += 2
        count(limit) -= 1
      }
      // hand lengths back: least frequent symbols get the longest codes
      val sortedAsc = used.sortBy(s => (freq(s), s))
      var cur = limit
      var left = count(limit)
      sortedAsc.foreach { s =>
        while (left == 0) { cur -= 1; left = count(cur) }
        lengths(s) = cur
        left -= 1
      }
    }
    lengths
  }

  /** Write one prefix code in stored form (simple when it fits). */
  private def writePrefixCode(bw: BitWriter, lengths: Array[Int]): Unit = {
    val used = lengths.indices.filter(lengths(_) > 0)
    if (used.size <= 2 && used.forall(_ <= 255)) {
      bw.writeBit(1) // simple
      bw.writeBit(used.size - 1)
      if (used.head <= 1) {
        bw.writeBit(0) // 1-bit first symbol
        bw.writeBits(used.head, 1)
      } else {
        bw.writeBit(1) // 8-bit first symbol
        bw.writeBits(used.head, 8)
      }
      if (used.size == 2) bw.writeBits(used(1), 8)
      return
    }
    bw.writeBit(0) // normal
    // build the code-length symbol sequence with zero-run codes 17/18
    val seq = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var i = 0
    while (i < lengths.length) {
      val l = lengths(i)
      if (l == 0) {
        var run = 0
        while (i + run < lengths.length && lengths(i + run) == 0) run += 1
        var left = run
        while (left >= 11) {
          val take = math.min(138, left)
          seq += ((18, take - 11, 7))
          left -= take
        }
        if (left >= 3) { seq += ((17, left - 3, 3)); left = 0 }
        while (left > 0) { seq += ((0, -1, 0)); left -= 1 }
        i += run
      } else {
        seq += ((l, -1, 0))
        i += 1
      }
    }
    val clFreq = new Array[Int](19)
    seq.foreach { case (s, _, _) => clFreq(s) += 1 }
    val clLen = codeLengths(clFreq, 7)
    val numCodes = math.max(4,
      CodeLengthOrder.lastIndexWhere(clLen(_) > 0) + 1)
    bw.writeBits(numCodes - 4, 4)
    var k = 0
    while (k < numCodes) { bw.writeBits(clLen(CodeLengthOrder(k)), 3); k += 1 }
    bw.writeBit(0) // no explicit max-symbol cap
    val clCodes = canonicalCodes(clLen)
    seq.foreach { case (s, extra, extraBits) =>
      val (code, len) = clCodes(s)
      var b = len - 1
      while (b >= 0) { bw.writeBit((code >> b) & 1); b -= 1 }
      if (extraBits > 0) bw.writeBits(extra, extraBits)
    }
  }

  /** Canonical (code, length) per symbol — deflate assignment, matching
    * [[Prefix]]'s decoder. A code with exactly ONE used symbol is a
    * ZERO-bit code on the wire (the decoder returns it without
    * consuming bits), so its entry is (0, 0).
    */
  private def canonicalCodes(lengths: Array[Int]): Array[(Int, Int)] = {
    if (lengths.count(_ > 0) == 1)
      return lengths.map(l => (0, 0)).toArray
    val maxLen = if (lengths.isEmpty) 0 else lengths.max
    val count = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](maxLen + 2)
    var code = 0
    var l = 1
    while (l <= maxLen) {
      next(l) = code
      code = (code + count(l)) << 1
      l += 1
    }
    lengths.zipWithIndex.map { case (len, s) =>
      if (len == 0) (0, 0)
      else {
        val c = next(len)
        next(len) += 1
        (c, len)
      }
    }.toArray
  }

  private def prefixEncode(v: Int): (Int, Int, Int) = {
    if (v <= 4) return (v - 1, 0, 0)
    var extra = 1
    while (true) {
      val lo2 = (2 << extra) + 1
      val hi2 = (3 << extra)
      val lo3 = hi2 + 1
      val hi3 = (4 << extra)
      if (v >= lo2 && v <= hi2) return (2 * extra + 2, extra, v - 1 - (2 << extra))
      if (v >= lo3 && v <= hi3) return (2 * extra + 3, extra, v - 1 - (3 << extra))
      extra += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Encode an RGB image as lossless WebP (alpha = 255). See class doc
    * for the stream shape; run-length LZ77 over repeated pixels keeps
    * flat regions compact.
    */
  def encode(img: RawImage.Image): Array[Byte] = {
    val w = img.width
    val h = img.height
    val n = w * h
    require(w >= 1 && w <= 16384 && h >= 1 && h <= 16384, "dims")
    val px = new Array[Int](n)
    var i = 0
    while (i < n) {
      px(i) = 0xff000000 | ((img.rgb(i * 3) & 0xff) << 16) |
        ((img.rgb(i * 3 + 1) & 0xff) << 8) | (img.rgb(i * 3 + 2) & 0xff)
      i += 1
    }
    // tokenize: literal or (run of previous pixel, dist=1)
    sealed trait Tok
    case class Lit(p: Int) extends Tok
    case class Run(len: Int) extends Tok
    val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
    i = 0
    while (i < n) {
      if (i > 0 && px(i) == px(i - 1)) {
        var run = 0
        while (i + run < n && px(i + run) == px(i - 1) && run < 4096) run += 1
        toks += Run(run)
        i += run
      } else {
        toks += Lit(px(i))
        i += 1
      }
    }
    // histograms
    val gFreq = new Array[Int](256 + 24)
    val rFreq = new Array[Int](256)
    val bFreq = new Array[Int](256)
    val aFreq = new Array[Int](256)
    val dFreq = new Array[Int](40)
    toks.foreach {
      case Lit(p) =>
        gFreq((p >> 8) & 0xff) += 1
        rFreq((p >> 16) & 0xff) += 1
        bFreq(p & 0xff) += 1
        aFreq(p >>> 24) += 1
      case Run(len) =>
        val (sym, _, _) = prefixEncode(len)
        gFreq(256 + sym) += 1
        val (dsym, _, _) = prefixEncode(121) // plain distance 1 (= 1 + 120)
        dFreq(dsym) += 1
    }
    val gLen = codeLengths(gFreq, 15)
    val rLen = codeLengths(rFreq, 15)
    val bLen = codeLengths(bFreq, 15)
    val aLen = codeLengths(aFreq, 15)
    val dLen = codeLengths(dFreq, 15)
    val bw = new BitWriter
    bw.writeBits(w - 1, 14)
    bw.writeBits(h - 1, 14)
    bw.writeBit(0) // no alpha hint
    bw.writeBits(0, 3) // version
    bw.writeBit(0) // no transforms
    bw.writeBit(0) // no color cache
    bw.writeBit(0) // no meta prefix image
    Seq(gLen, rLen, bLen, aLen, dLen).foreach(writePrefixCode(bw, _))
    val gC = canonicalCodes(gLen)
    val rC = canonicalCodes(rLen)
    val bC = canonicalCodes(bLen)
    val aC = canonicalCodes(aLen)
    val dC = canonicalCodes(dLen)
    def put(c: Array[(Int, Int)], s: Int): Unit = {
      val (code, len) = c(s)
      var b = len - 1
      while (b >= 0) { bw.writeBit((code >> b) & 1); b -= 1 }
    }
    toks.foreach {
      case Lit(p) =>
        put(gC, (p >> 8) & 0xff)
        put(rC, (p >> 16) & 0xff)
        put(bC, p & 0xff)
        put(aC, p >>> 24)
      case Run(len) =>
        val (sym, extraBits, extra) = prefixEncode(len)
        put(gC, 256 + sym)
        if (extraBits > 0) bw.writeBits(extra, extraBits)
        val (dsym, dExtraBits, dExtra) = prefixEncode(121)
        put(dC, dsym)
        if (dExtraBits > 0) bw.writeBits(dExtra, dExtraBits)
    }
    val stream = bw.bytes
    // container: RIFF ( WEBP VP8L(sig + stream) )
    val payload = new Array[Byte](1 + stream.length)
    payload(0) = 0x2f
    System.arraycopy(stream, 0, payload, 1, stream.length)
    RawBytes.riff("WEBP", "VP8L" -> payload)
  }
}
