package graft.operators

/** Pure-JVM image codec for UNCOMPRESSED formats: binary PPM (P6) and
  * 24-bit uncompressed BMP are plain byte layouts, so the engine
  * decodes, resizes and re-encodes them for real — no native codec
  * needed. Compressed formats (JPEG/WebP/...) remain behind
  * [[MultimodalOps.decodeStub]], which is the honest boundary: their
  * codecs aren't in this container.
  *
  * This is the decode step of the reference-style multimodal pipeline
  * (opaque BINARY column -> typed rows); everything is allocation-lean
  * per call so mapPartitions amortizes nothing but the JIT.
  */
object RawImage {

  /** Decoded raster: row-major RGB, 3 bytes per pixel. */
  final case class Image(width: Int, height: Int, rgb: Array[Byte])

  def sniff(p: Array[Byte]): String =
    if (p.length >= 2 && p(0) == 'P' && p(1) == '6') "image/ppm"
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') "image/bmp"
    else "unknown"

  // ---- PPM (P6) --------------------------------------------------------

  /** Binary PPM: "P6" <ws> width <ws> height <ws> maxval <single ws>
    * then raw RGB. '#' comments allowed in the header.
    */
  def decodePpm(p: Array[Byte]): Image = {
    var i = 2 // past "P6"
    def skipWs(): Unit = {
      var done = false
      while (!done && i < p.length) {
        val c = p(i).toChar
        if (c == '#') { while (i < p.length && p(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else done = true
      }
    }
    def int(): Int = {
      skipWs()
      var v = 0
      while (i < p.length && (p(i) >= '0' && p(i) <= '9')) {
        v = v * 10 + (p(i) - '0'); i += 1
      }
      v
    }
    val w = int(); val h = int(); val maxval = int()
    require(maxval == 255, s"unsupported maxval $maxval")
    i += 1 // exactly one whitespace byte after maxval
    val rgb = java.util.Arrays.copyOfRange(p, i, i + w * h * 3)
    Image(w, h, rgb)
  }

  def encodePpm(img: Image): Array[Byte] = {
    val header = s"P6\n${img.width} ${img.height}\n255\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + img.rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.rgb, 0, out, header.length, img.rgb.length)
    out
  }

  // ---- BMP (24bpp uncompressed) ---------------------------------------

  /** BITMAPFILEHEADER (14 B) + BITMAPINFOHEADER: 24bpp, BI_RGB only;
    * rows bottom-up, padded to 4-byte boundaries, pixels stored BGR.
    */
  def decodeBmp(p: Array[Byte]): Image = {
    import RawBytes.{le16, le32}
    require(p(0) == 'B' && p(1) == 'M', "not a BMP")
    val dataOff = le32(p, 10)
    val w = le32(p, 18)
    val hRaw = le32(p, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    require(le16(p, 28) == 24, "only 24bpp BMP")
    require(le32(p, 30) == 0, "only uncompressed BMP")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      var x = 0
      while (x < w) {
        val s = dataOff + srcRow * rowBytes + x * 3
        val d = (y * w + x) * 3
        rgb(d) = p(s + 2) // R  (BMP stores BGR)
        rgb(d + 1) = p(s + 1)
        rgb(d + 2) = p(s)
        x += 1
      }
      y += 1
    }
    Image(w, h, rgb)
  }

  // ---- transforms ------------------------------------------------------

  /** Nearest-neighbor resample: target pixel (x,y) reads source pixel
    * (x*sw/tw, y*sh/th) — integer arithmetic, deterministic.
    */
  def resizeNearest(img: Image, tw: Int, th: Int): Image = {
    val out = new Array[Byte](tw * th * 3)
    var y = 0
    while (y < th) {
      val sy = y * img.height / th
      var x = 0
      while (x < tw) {
        val sx = x * img.width / tw
        val s = (sy * img.width + sx) * 3
        val d = (y * tw + x) * 3
        out(d) = img.rgb(s); out(d + 1) = img.rgb(s + 1)
        out(d + 2) = img.rgb(s + 2)
        x += 1
      }
      y += 1
    }
    Image(tw, th, out)
  }

  /** Per-channel means (R, G, B) — exact integer sums, one division. */
  def meanRgb(img: Image): (Double, Double, Double) = {
    var r = 0L; var g = 0L; var b = 0L
    var i = 0
    val n = img.width * img.height
    while (i < n) {
      r += img.rgb(i * 3) & 0xff
      g += img.rgb(i * 3 + 1) & 0xff
      b += img.rgb(i * 3 + 2) & 0xff
      i += 1
    }
    (r.toDouble / n, g.toDouble / n, b.toDouble / n)
  }

  /** Exact horizontal/vertical gradient sums over all three channels —
    * the integer edge-density metric image-quality filters threshold
    * on (blurry/flat images score low). gx sums |c(x,y)-c(x-1,y)|, gy
    * sums |c(x,y)-c(x,y-1)|, each over every channel.
    */
  def gradientSums(img: Image): (Long, Long) = {
    var gx = 0L; var gy = 0L
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        var c = 0
        while (c < 3) {
          val v = img.rgb((y * img.width + x) * 3 + c) & 0xff
          if (x > 0)
            gx += math.abs(v - (img.rgb((y * img.width + x - 1) * 3 + c) & 0xff))
          if (y > 0)
            gy += math.abs(v - (img.rgb(((y - 1) * img.width + x) * 3 + c) & 0xff))
          c += 1
        }
        x += 1
      }
      y += 1
    }
    (gx, gy)
  }
}
