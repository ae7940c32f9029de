package graft.operators

/** Minimal lossy-VP8 keyframe ENCODER (RFC 6386) — the encode half of
  * [[RawVp8]], scoped to what the pipeline needs for organic payload
  * synthesis: every macroblock is coded B_PRED with all-B_DC subblock
  * modes, residuals carry the DC coefficient only, quantizer index 0
  * (dc factor 4), default token probabilities, one token partition,
  * loop filter off.
  *
  * Under that shape, a raster whose every 4x4 block is CONSTANT
  * roundtrips LOSSLESSLY: the B_DC prediction is a known integer, the
  * residual is a constant k per block, and dc = 8k is exactly
  * representable (the inverse DCT of a lone DC d adds (d+4)>>3 = k to
  * every sample; the level 2k is an exact multiple of the dc quantizer
  * 4). That exactness is what makes `multimodal_decode_webp_lossy`
  * ORACLE-checkable: DuckDB recomputes the decoded plane sums straight
  * from the block-value formula. Non-constant blocks are coded as
  * their rounded block mean (honest DC-only degradation).
  *
  * Conformance in the encode direction: Vp8Spec pins that [[RawVp8]]
  * decodes these streams back to the exact planes, and
  * tools/check_vp8_encode.py pins that the REFERENCE libwebp decoder
  * accepts the streams and produces the same planes byte-exactly.
  *
  * The encoder maintains the same reconstruction state as the decoder
  * (prediction from reconstructed neighbors, nonzero contexts for
  * token probabilities), so its streams are self-consistent by
  * construction.
  */
object RawVp8Enc {

  // ------------------------------------------- boolean encoder (§8.2)

  private final class BoolEnc {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var range = 255
    private var bottom = 0L // uint32 semantics
    private var bitCount = 24

    def bit(prob: Int, v: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (v != 0) {
        bottom += split
        range -= split
      } else {
        range = split
      }
      while (range < 128) {
        range <<= 1
        if ((bottom & 0x80000000L) != 0) {
          // carry ripple into already-emitted bytes
          var i = buf.length - 1
          while (i >= 0 && buf(i) == -1) { buf(i) = 0; i -= 1 }
          if (i >= 0) buf(i) = (buf(i) + 1).toByte
        }
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          buf += ((bottom >> 24) & 0xff).toByte
          bottom &= 0xffffff
          bitCount = 8
        }
      }
    }

    def flag(v: Int): Unit = bit(128, v)

    def literal(n: Int, v: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(128, (v >> i) & 1); i -= 1 }
    }

    def finish(): Array[Byte] = {
      var i = 0
      while (i < 32) { bit(128, 0); i += 1 }
      buf.toArray
    }
  }

  private val cat3 = Array(173, 148, 140)
  private val cat4 = Array(176, 155, 140, 135)
  private val cat5 = Array(180, 157, 141, 134, 130)
  private val cat6 = Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129)

  /** Write one coefficient-token value (|level| >= 1) at prob offset p. */
  private def writeValue(be: BoolEnc, probs: Array[Byte], p: Int, level: Int): Unit = {
    @inline def b(i: Int, v: Int): Unit = be.bit(probs(p + i) & 0xff, v)
    val a = math.abs(level)
    b(1, 1) // not ZERO
    if (a == 1) b(2, 0)
    else {
      b(2, 1)
      if (a <= 4) {
        b(3, 0)
        if (a == 2) b(4, 0)
        else { b(4, 1); b(5, if (a == 3) 0 else 1) }
      } else {
        b(3, 1)
        val (base, extra) =
          if (a <= 6) { b(6, 0); b(7, 0); (5, Array(159)) }
          else if (a <= 10) { b(6, 0); b(7, 1); (7, Array(165, 145)) }
          else if (a <= 18) { b(6, 1); b(8, 0); b(9, 0); (11, cat3) }
          else if (a <= 34) { b(6, 1); b(8, 0); b(9, 1); (19, cat4) }
          else if (a <= 66) { b(6, 1); b(8, 1); b(10, 0); (35, cat5) }
          else { b(6, 1); b(8, 1); b(10, 1); (67, cat6) }
        val bits = a - base
        var k = 0
        while (k < extra.length) {
          be.bit(extra(k), (bits >> (extra.length - 1 - k)) & 1)
          k += 1
        }
      }
    }
    be.flag(if (level < 0) 1 else 0) // sign
  }

  // probs offset for (type, band, ctx)
  @inline private def po(t: Int, band: Int, ctx: Int): Int =
    ((t * 8 + band) * 3 + ctx) * 11

  /** Encode a DC-only block: returns the post-block nonzero flag.
    * `t` is the plane type (3 = Y without Y2, 2 = chroma).
    */
  private def writeDcBlock(be: BoolEnc, probs: Array[Byte], t: Int,
      ctx0: Int, level: Int): Int = {
    val p0 = po(t, 0, ctx0)
    if (level == 0) {
      be.bit(probs(p0) & 0xff, 0) // immediate EOB
      0
    } else {
      be.bit(probs(p0) & 0xff, 1) // not EOB
      writeValue(be, probs, p0, level)
      val ctx1 = if (math.abs(level) == 1) 1 else 2
      val p1 = po(t, 1, ctx1) // coefficient 1 sits in band 1
      be.bit(probs(p1) & 0xff, 0) // EOB
      1
    }
  }

  /** Encode planes as a raw VP8 keyframe. `y` is w*h, `u`/`v` are
    * ceil(w/2)*ceil(h/2), values 0..255. Blocks that are 4x4-constant
    * roundtrip exactly; others code their rounded mean.
    */
  def encode(w: Int, h: Int, y: Array[Int], u: Array[Int], v: Array[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0x3fff && h <= 0x3fff, "bad dims")
    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4
    val cw = (w + 1) / 2
    val chh = (h + 1) / 2

    // padded reconstruction planes, identical geometry to the decoder
    val yw = mbW * 16; val yh = mbH * 16
    val cpwW = mbW * 8; val cph = mbH * 8
    val ypw = 1 + yw + 4
    val cpw = 1 + cpwW
    val yP = new Array[Int](ypw * (yh + 1))
    val uP = new Array[Int](cpw * (cph + 1))
    val vP = new Array[Int](cpw * (cph + 1))
    java.util.Arrays.fill(yP, 0, ypw, 127)
    java.util.Arrays.fill(uP, 0, cpw, 127)
    java.util.Arrays.fill(vP, 0, cpw, 127)
    var r = 1
    while (r <= yh) { yP(r * ypw) = 129; r += 1 }
    r = 1
    while (r <= cph) { uP(r * cpw) = 129; vP(r * cpw) = 129; r += 1 }
    @inline def yAt(x: Int, yy: Int): Int = (yy + 1) * ypw + (x + 1)
    @inline def cAt(x: Int, yy: Int): Int = (yy + 1) * cpw + (x + 1)
    // source sample with edge replication into the MB-padding area
    @inline def srcY(x: Int, yy: Int): Int =
      y(math.min(yy, h - 1) * w + math.min(x, w - 1))
    @inline def srcC(p: Array[Int], x: Int, yy: Int): Int =
      p(math.min(yy, chh - 1) * cw + math.min(x, cw - 1))

    val probs = Vp8Tables.coeffProbs
    val part1 = new BoolEnc
    val part2 = new BoolEnc

    // ---- frame header (everything off, quantizer index 0) ----
    part1.flag(0) // color space
    part1.flag(0) // clamping
    part1.flag(0) // segmentation off
    part1.flag(0) // filter type: normal (level 0 disables anyway)
    part1.literal(6, 0) // loop filter level 0
    part1.literal(3, 0) // sharpness
    part1.flag(0) // lf deltas off
    part1.literal(2, 0) // one token partition
    part1.literal(7, 0) // y_ac_qi = 0
    part1.flag(0); part1.flag(0); part1.flag(0); part1.flag(0); part1.flag(0) // q deltas
    part1.flag(0) // refresh entropy probs
    val upd = Vp8Tables.coeffUpdateProbs
    var ti = 0
    while (ti < 1056) { part1.bit(upd(ti) & 0xff, 0); ti += 1 } // keep defaults
    part1.flag(0) // mb_no_skip_coeff off: every MB carries tokens

    // nonzero contexts (luma type 3 + two chroma type 2 sets)
    val aboveNzY = new Array[Int](mbW * 4)
    val aboveNzU = new Array[Int](mbW * 2)
    val aboveNzV = new Array[Int](mbW * 2)
    val leftNzY = new Array[Int](4)
    val leftNzU = new Array[Int](2)
    val leftNzV = new Array[Int](2)

    var mby = 0
    while (mby < mbH) {
      java.util.Arrays.fill(leftNzY, 0)
      java.util.Arrays.fill(leftNzU, 0)
      java.util.Arrays.fill(leftNzV, 0)
      var mbx = 0
      while (mbx < mbW) {
        // ---- modes: B_PRED, 16x B_DC, chroma DC ----
        part1.bit(145, 0) // kf ymode tree: B_PRED
        var i = 0
        while (i < 16) { part1.bit(Vp8Tables.kfBModeProbs(0) & 0xff, 0); i += 1 } // B_DC in [DC][DC] ctx
        part1.bit(142, 0) // uv DC

        // ---- luma: per subblock, B_DC predict + DC-only residual ----
        val nzY = new Array[Int](16)
        i = 0
        while (i < 16) {
          val sr = i >> 2; val sc = i & 3
          val bx = mbx * 16 + sc * 4; val by = mby * 16 + sr * 4
          val base = yAt(bx, by)
          var sum = 0
          var k = 0
          while (k < 4) { sum += yP(base - ypw + k) + yP(base + k * ypw - 1); k += 1 }
          val pred = (sum + 4) >> 3
          var rsum = 0
          var rr = 0
          while (rr < 4) {
            var cc = 0
            while (cc < 4) { rsum += srcY(bx + cc, by + rr) - pred; cc += 1 }
            rr += 1
          }
          val kMean = Math.floorDiv(rsum + 8, 16) // rounded residual mean
          val level = 2 * kMean // dc = 4 * level = 8 * kMean
          val recon = {
            val d = ((4 * level) + 4) >> 3
            val px = pred + d
            if (px < 0) 0 else if (px > 255) 255 else px
          }
          val ctx = (if (sr == 0) aboveNzY(mbx * 4 + sc) else nzY(i - 4)) +
            (if (sc == 0) leftNzY(sr) else nzY(i - 1))
          nzY(i) = writeDcBlock(part2, probs, 3, ctx, level)
          rr = 0
          while (rr < 4) {
            var cc = 0
            while (cc < 4) { yP(base + rr * ypw + cc) = recon; cc += 1 }
            rr += 1
          }
          i += 1
        }
        var k = 0
        while (k < 4) {
          aboveNzY(mbx * 4 + k) = nzY(12 + k)
          leftNzY(k) = nzY(4 * k + 3)
          k += 1
        }

        // ---- chroma: 8x8 DC prediction (decoder's predictBig), then
        //      DC-only residual per 4x4 block ----
        def chroma(plane: Array[Int], src: Array[Int],
            aboveNz: Array[Int], leftNz: Array[Int]): Unit = {
          val cx0 = mbx * 8; val cy0 = mby * 8
          val base = cAt(cx0, cy0)
          val hasA = mby > 0; val hasL = mbx > 0
          var dc = 0
          if (hasA && hasL) {
            var j = 0
            while (j < 8) { dc += plane(base - cpw + j) + plane(base + j * cpw - 1); j += 1 }
            dc = (dc + 8) >> 4
          } else if (hasA) {
            var j = 0
            while (j < 8) { dc += plane(base - cpw + j); j += 1 }
            dc = (dc + 4) >> 3
          } else if (hasL) {
            var j = 0
            while (j < 8) { dc += plane(base + j * cpw - 1); j += 1 }
            dc = (dc + 4) >> 3
          } else dc = 128
          val nz = new Array[Int](4)
          var bi = 0
          while (bi < 4) {
            val sr = bi >> 1; val sc = bi & 1
            val bx = cx0 + sc * 4; val by = cy0 + sr * 4
            var rsum = 0
            var rr = 0
            while (rr < 4) {
              var cc = 0
              while (cc < 4) { rsum += srcC(src, bx + cc, by + rr) - dc; cc += 1 }
              rr += 1
            }
            val kMean = Math.floorDiv(rsum + 8, 16)
            val level = 2 * kMean
            val recon = {
              val dd = ((4 * level) + 4) >> 3
              val px = dc + dd
              if (px < 0) 0 else if (px > 255) 255 else px
            }
            val ctx = (if (sr == 0) aboveNz(mbx * 2 + sc) else nz(bi - 2)) +
              (if (sc == 0) leftNz(sr) else nz(bi - 1))
            nz(bi) = writeDcBlock(part2, probs, 2, ctx, level)
            val b0 = cAt(bx, by)
            rr = 0
            while (rr < 4) {
              var cc = 0
              while (cc < 4) { plane(b0 + rr * cpw + cc) = recon; cc += 1 }
              rr += 1
            }
            bi += 1
          }
          aboveNz(mbx * 2) = nz(2); aboveNz(mbx * 2 + 1) = nz(3)
          leftNz(0) = nz(1); leftNz(1) = nz(3)
        }
        chroma(uP, u, aboveNzU, leftNzU)
        chroma(vP, v, aboveNzV, leftNzV)

        mbx += 1
      }
      // right padding replication (decoder parity; B_DC never reads it,
      // kept for geometric identity)
      val lastRow = mby * 16 + 15
      val edge = yP(yAt(yw - 1, lastRow))
      var kk = 0
      while (kk < 4) { yP(yAt(yw + kk, lastRow)) = edge; kk += 1 }
      mby += 1
    }

    val p1 = part1.finish()
    val p2 = part2.finish()
    val out = new Array[Byte](10 + p1.length + p2.length)
    val tag = (1 << 4) | (p1.length << 5) // keyframe, version 0, shown
    out(0) = (tag & 0xff).toByte
    out(1) = ((tag >> 8) & 0xff).toByte
    out(2) = ((tag >> 16) & 0xff).toByte
    out(3) = 0x9d.toByte; out(4) = 0x01.toByte; out(5) = 0x2a.toByte
    RawBytes.putLe16(out, 6, w & 0x3fff)
    RawBytes.putLe16(out, 8, h & 0x3fff)
    System.arraycopy(p1, 0, out, 10, p1.length)
    System.arraycopy(p2, 0, out, 10 + p1.length, p2.length)
    out
  }

  /** Wrap a raw VP8 frame in a minimal RIFF/WEBP container. */
  def encodeWebp(w: Int, h: Int, y: Array[Int], u: Array[Int], v: Array[Int]): Array[Byte] =
    RawBytes.riff("WEBP", "VP8 " -> encode(w, h, y, u, v))
}
