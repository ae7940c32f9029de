package graft.operators

/** Pure-JVM GIF codec (GIF87a/GIF89a) — decoder + single-frame
  * encoder. GIF is lossless indexed-color (LZW over palette indices),
  * so decode output is bit-exact by construction and the driver entry
  * `multimodal_decode_gif` is fully ORACLE-checkable: DuckDB
  * recomputes decoded channel sums from the index/palette formulas.
  *
  * Decoder surface: global and local color tables, variable-width LZW
  * (3..12-bit codes, clear/EOI, deferred-clear streams that park at
  * 12 bits), interlaced rasters (4-pass row order), multi-frame
  * animations with graphic-control extensions (delay, transparency
  * index, disposal recorded per frame; frames are returned
  * uncomposited, like giflib's DGifSlurp), comment/application
  * extension skipping.
  *
  * Conformance is independent-implementation in BOTH directions
  * against the system reference giflib (/usr/lib/.../libgif.so.7):
  * GifSpec decodes giflib-encoded fixtures (tools/gen_gif_golden.py)
  * index-exact, and tools/check_gif_encode.py has giflib decode this
  * encoder's streams back to the exact rasters.
  *
  * Scale shape: one self-contained decode per document payload on
  * executors (mapPartitions in MultimodalOps); no driver state.
  */
object RawGif {

  /** One image block: `indices` is width*height palette indices in
    * LOGICAL row order (interlace undone); `palette` is the active
    * color table (local if present, else global), 0xRRGGBB ints;
    * `transIndex` is -1 when the frame has no transparency.
    */
  final case class Frame(left: Int, top: Int, width: Int, height: Int,
      indices: Array[Byte], palette: Array[Int], transIndex: Int,
      delayCs: Int, disposal: Int)

  final case class Gif(width: Int, height: Int, bgIndex: Int,
      globalPalette: Array[Int], frames: Seq[Frame])

  def sniff(p: Array[Byte]): Boolean =
    p.length >= 13 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
      p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a'

  // ------------------------------------------------------------ decode

  def decode(p: Array[Byte]): Gif = {
    require(sniff(p), "not a GIF")
    var pos = 6
    def u8(): Int = { val v = p(pos) & 0xff; pos += 1; v }
    def u16(): Int = { val v = RawBytes.le16(p, pos); pos += 2; v }

    val sw = u16(); val sh = u16()
    val flags = u8()
    val bg = u8()
    u8() // pixel aspect ratio
    val globalPal: Array[Int] =
      if ((flags & 0x80) != 0) readPalette(p, 2 << (flags & 7), { val o = pos; pos += (2 << (flags & 7)) * 3; o })
      else Array.empty[Int]

    val frames = scala.collection.mutable.ArrayBuffer.empty[Frame]
    var transIndex = -1
    var delayCs = 0
    var disposal = 0
    var done = false
    while (!done && pos < p.length) {
      u8() match {
        case 0x3b => done = true // trailer
        case 0x21 => // extension
          val label = u8()
          if (label == 0xf9) { // graphic control
            val len = u8()
            require(len >= 4, "bad GCE")
            val gflags = u8()
            delayCs = u16()
            val ti = u8()
            pos += len - 4
            transIndex = if ((gflags & 1) != 0) ti else -1
            disposal = (gflags >> 2) & 7
            while (u8() != 0) pos += p(pos - 1) & 0xff // skip stray sub-blocks
          } else {
            // comment / plain-text / application: skip sub-blocks
            var n = u8()
            while (n != 0) { pos += n; n = u8() }
          }
        case 0x2c => // image descriptor
          val left = u16(); val top = u16()
          val w = u16(); val h = u16()
          val iflags = u8()
          val localPal: Array[Int] =
            if ((iflags & 0x80) != 0) readPalette(p, 2 << (iflags & 7), { val o = pos; pos += (2 << (iflags & 7)) * 3; o })
            else globalPal
          require(localPal.nonEmpty, "GIF image with no color table")
          val interlaced = (iflags & 0x40) != 0
          val minCode = u8()
          // gather LZW sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          var n = u8()
          while (n != 0) { data.write(p, pos, n); pos += n; n = u8() }
          val fileOrder = lzwDecode(data.toByteArray, minCode, w * h)
          val logical = if (interlaced) deinterlace(fileOrder, w, h) else fileOrder
          frames += Frame(left, top, w, h, logical, localPal, transIndex,
            delayCs, disposal)
          transIndex = -1; delayCs = 0; disposal = 0
        case other =>
          throw new IllegalArgumentException(f"GIF: unknown block 0x$other%02x")
      }
    }
    require(frames.nonEmpty, "GIF with no image")
    Gif(sw, sh, bg, globalPal, frames.toSeq)
  }

  private def readPalette(p: Array[Byte], n: Int, off: Int): Array[Int] = {
    val pal = new Array[Int](n)
    var i = 0
    while (i < n) {
      pal(i) = ((p(off + i * 3) & 0xff) << 16) |
        ((p(off + i * 3 + 1) & 0xff) << 8) | (p(off + i * 3 + 2) & 0xff)
      i += 1
    }
    pal
  }

  /** Variable-width LZW decode (LSB-first bit packing), standard GIF
    * semantics: clear resets the table; width grows when the next free
    * slot reaches the width limit, capping at 12 bits (deferred-clear
    * streams keep emitting 12-bit codes with a full table).
    */
  private def lzwDecode(data: Array[Byte], minCode: Int, expected: Int): Array[Byte] = {
    require(minCode >= 1 && minCode <= 11, s"bad LZW min code $minCode")
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](expected)
    var outN = 0

    var width = minCode + 1
    var nextFree = eoi + 1
    var prev = -1
    var bitPos = 0
    val totalBits = data.length * 8

    var firstOfPrev: Byte = 0
    var done = false
    while (!done && outN < expected && bitPos + width <= totalBits) {
      // read `width` bits LSB-first
      var code = 0
      var got = 0
      while (got < width) {
        val byteI = (bitPos + got) >> 3
        val bitI = (bitPos + got) & 7
        code |= (((data(byteI) >> bitI) & 1) << got)
        got += 1
      }
      bitPos += width

      if (code == clear) {
        width = minCode + 1
        nextFree = eoi + 1
        prev = -1
      } else if (code == eoi) {
        done = true
      } else {
        var sp = 0
        var entryFirst: Byte = 0
        if (prev == -1) {
          // first code after clear must be a literal
          require(code < clear, s"GIF LZW: non-literal first code $code")
          entryFirst = code.toByte
          stack(sp) = entryFirst; sp += 1
        } else if (code < nextFree && (code < clear || code > eoi)) {
          // known code: walk chain
          var c = code
          while (c >= clear + 2) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
          entryFirst = c.toByte
          stack(sp) = entryFirst; sp += 1
          if (nextFree < 4096) {
            prefix(nextFree) = prev; suffix(nextFree) = entryFirst
            nextFree += 1
          }
        } else if (code == nextFree) {
          // KwKwK case: prev + first(prev)
          stack(sp) = firstOfPrev; sp += 1
          var c = prev
          while (c >= clear + 2) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
          entryFirst = c.toByte
          stack(sp) = entryFirst; sp += 1
          if (nextFree < 4096) {
            prefix(nextFree) = prev; suffix(nextFree) = firstOfPrev
            nextFree += 1
          }
        } else {
          throw new IllegalArgumentException(s"GIF LZW: bad code $code (free $nextFree)")
        }
        // pop stack (reversed chain) into output
        while (sp > 0 && outN < expected) { sp -= 1; out(outN) = stack(sp); outN += 1 }
        prev = code
        firstOfPrev = entryFirst
        if (nextFree == (1 << width) && width < 12) width += 1
      }
    }
    require(outN == expected, s"GIF LZW: short raster ($outN of $expected)")
    out
  }

  /** Undo the 4-pass interlace row order. */
  private def deinterlace(src: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h)
    var srcRow = 0
    val passes = Array((0, 8), (4, 8), (2, 4), (1, 2))
    for ((start, step) <- passes) {
      var y = start
      while (y < h) {
        System.arraycopy(src, srcRow * w, out, y * w, w)
        srcRow += 1
        y += step
      }
    }
    out
  }

  /** First frame composited onto the logical screen as RGB (background
    * = palette[bg] where a global table exists, else black; frame
    * transparency keeps the background).
    */
  def firstFrameRgb(p: Array[Byte]): RawImage.Image = {
    val g = decode(p)
    val f = g.frames.head
    val rgb = new Array[Byte](g.width * g.height * 3)
    val bgColor =
      if (g.globalPalette.nonEmpty && g.bgIndex < g.globalPalette.length)
        g.globalPalette(g.bgIndex)
      else 0
    var i = 0
    while (i < g.width * g.height) {
      rgb(i * 3) = ((bgColor >> 16) & 0xff).toByte
      rgb(i * 3 + 1) = ((bgColor >> 8) & 0xff).toByte
      rgb(i * 3 + 2) = (bgColor & 0xff).toByte
      i += 1
    }
    var y = 0
    while (y < f.height) {
      var x = 0
      while (x < f.width) {
        val gx = f.left + x; val gy = f.top + y
        if (gx < g.width && gy < g.height) {
          val idx = f.indices(y * f.width + x) & 0xff
          if (idx != f.transIndex) {
            val c = f.palette(idx)
            val o = (gy * g.width + gx) * 3
            rgb(o) = ((c >> 16) & 0xff).toByte
            rgb(o + 1) = ((c >> 8) & 0xff).toByte
            rgb(o + 2) = (c & 0xff).toByte
          }
        }
        x += 1
      }
      y += 1
    }
    RawImage.Image(g.width, g.height, rgb)
  }

  // ------------------------------------------------------------ encode

  /** Single-frame GIF89a with a global color table (palette size must
    * be a power of two in 2..256). Lossless: decode(encode(x)) == x.
    */
  def encode(w: Int, h: Int, palette: Array[Int], indices: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, "bad dims")
    val n = palette.length
    require(n >= 2 && n <= 256 && (n & (n - 1)) == 0, s"palette size $n not a power of 2")
    require(indices.length == w * h, "index raster size mismatch")
    val palBits = 31 - Integer.numberOfLeadingZeros(n) // log2
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    out.write("GIF89a".getBytes("US-ASCII"))
    RawBytes.writeLe16(out, w); RawBytes.writeLe16(out, h)
    b(0x80 | ((palBits - 1) & 7)) // global table, size 2^palBits
    b(0) // background index
    b(0) // aspect
    palette.foreach { c => b(c >> 16); b(c >> 8); b(c) }
    b(0x2c) // image descriptor
    Seq(0, 0, w, h).foreach(RawBytes.writeLe16(out, _)) // left, top, w, h
    b(0) // no local table, not interlaced
    val minCode = math.max(2, palBits)
    b(minCode)
    val lzw = lzwEncode(indices, minCode)
    var off = 0
    while (off < lzw.length) {
      val chunk = math.min(255, lzw.length - off)
      b(chunk)
      out.write(lzw, off, chunk)
      off += chunk
    }
    b(0) // sub-block terminator
    b(0x3b) // trailer
    out.toByteArray
  }

  /** Standard GIF LZW encode: emits an initial clear, grows code width
    * when the next assignable slot crosses the width limit, and resets
    * with a clear when the table fills.
    */
  private def lzwEncode(indices: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L
    var curBits = 0
    var width = minCode + 1

    def emit(code: Int): Unit = {
      cur |= code.toLong << curBits
      curBits += width
      while (curBits >= 8) {
        out.write((cur & 0xff).toInt)
        cur >>= 8
        curBits -= 8
      }
    }

    var table = new java.util.HashMap[Integer, Integer](8192)
    var nextFree = eoi + 1
    emit(clear)
    var prev: Int = indices(0) & 0xff
    var i = 1
    while (i < indices.length) {
      val k = indices(i) & 0xff
      val key = Integer.valueOf((prev << 8) | k)
      val hit = table.get(key)
      if (hit != null) {
        prev = hit.intValue()
      } else {
        emit(prev)
        if (nextFree < 4096) {
          table.put(key, Integer.valueOf(nextFree))
          // width grows once the next code to ASSIGN needs more bits
          if (nextFree == (1 << width) && width < 12) width += 1
          nextFree += 1
        } else {
          emit(clear)
          table = new java.util.HashMap[Integer, Integer](8192)
          width = minCode + 1
          nextFree = eoi + 1
        }
        prev = k
      }
      i += 1
    }
    emit(prev)
    emit(eoi)
    if (curBits > 0) out.write((cur & 0xff).toInt)
    out.toByteArray
  }
}
