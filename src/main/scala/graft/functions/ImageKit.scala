package graft.functions

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Deterministic image kernel: procedural pixel generation, png/jpeg
  * encode/decode via javax.imageio (stdlib — zero-egress sandbox), 64-bit
  * DCT perceptual hash, PSNR.
  *
  * Semantics source: BASELINE.json input_hint — per-row invariant
  * "decoded-pixel allclose (PSNR>=40dB for lossy) + caption equality";
  * north_rule "detects revised pages via phash/caption comparison".
  * (Reference tree empty in this sandbox; SURVEY.md §0.)
  *
  * Everything here is a pure function of its arguments: no wall clock, no
  * unseeded RNG, no locale. phash is the classic 32x32-DCT pHash: gray
  * resample to 32x32 -> 2D DCT-II -> 8x8 low-frequency block -> bit i = 1
  * iff coefficient > median (DC term excluded from the median).
  */
object ImageKit {
  // ImageIO must run headless in the sandbox.
  System.setProperty("java.awt.headless", "true")

  val PhashSize = 32
  val PhashBlock = 8

  /** Procedural grayscale pixels: smooth 2-D sinusoid field seeded by
    * (seed, variant). Smooth => jpeg survives >=40dB at q=0.95. `variant`
    * perturbs frequency/phase so revision scenarios get controllably
    * different pixels.
    */
  def genPixels(seed: Long, variant: Int, w: Int, h: Int): Array[Int] = {
    val m = mix64(seed + 0x9e3779b97f4a7c15L * (variant + 1))
    val fx = 1.0 + (m & 0x7) * 0.5
    val fy = 1.0 + ((m >>> 3) & 0x7) * 0.5
    val px = ((m >>> 6) & 0xff) / 40.0
    val py = ((m >>> 14) & 0xff) / 40.0
    val amp = 90.0 + ((m >>> 22) & 0x1f)
    // Broadband content matters: a pure low-freq sinusoid leaves most DCT
    // coefficients ~0, so their signs (the phash bits) flip under jpeg
    // noise. The diagonal + product octaves below give every 8x8 low-freq
    // coefficient a decisive magnitude -> phash is stable across png/jpeg.
    val fd = 2.0 + ((m >>> 27) & 0x7) * 0.7
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = 128.0 +
          amp * 0.40 * math.sin(fx * x * math.Pi / w + px) +
          amp * 0.28 * math.cos(fy * y * math.Pi / h + py) +
          amp * 0.20 * math.sin(fd * (x + y) * math.Pi / (w + h) + px * 0.5) +
          amp * 0.12 * math.sin((x * math.Pi / w + 0.6) * (y * math.Pi / h + 0.6) * 3.1 + py)
        out(y * w + x) = math.max(0, math.min(255, math.round(v).toInt))
        x += 1
      }
      y += 1
    }
    out
  }

  def toImage(pixels: Array[Int], w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixels(y * w + x)); x += 1 }
      y += 1
    }
    img
  }

  /** Encode gray pixels as png (lossless) or jpeg (quality 0.95). */
  def encode(pixels: Array[Int], w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = toImage(pixels, w, h)
    val bos = new ByteArrayOutputStream()
    fmt match {
      case "png" => ImageIO.write(img, "png", bos)
      case "gif" => ImageIO.write(img, "gif", bos)
      case "bmp" => ImageIO.write(img, "bmp", bos)
      case "jpeg" =>
        val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
        val param = writer.getDefaultWriteParam
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(0.95f)
        val ios = new MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(null, new IIOImage(img, null, null), param)
        ios.flush(); writer.dispose()
      case other => throw new IllegalArgumentException(s"fmt=$other")
    }
    bos.toByteArray
  }

  /** Decode to gray pixel array + dims. Any color model is re-rendered onto
    * TYPE_BYTE_GRAY so the gray conversion is a single fixed JVM path.
    */
  def decodeGray(bytes: Array[Byte]): (Array[Int], Int, Int) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) return (Array.emptyIntArray, 0, 0)
    val w = img.getWidth; val h = img.getHeight
    val gray =
      if (img.getType == BufferedImage.TYPE_BYTE_GRAY) img
      else {
        val g = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        val gr = g.createGraphics()
        gr.drawImage(img, 0, 0, null); gr.dispose()
        g
      }
    val raster = gray.getRaster
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { out(y * w + x) = raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    (out, w, h)
  }

  def psnr(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length && a.nonEmpty, "pixel arrays must align")
    var se = 0.0
    var i = 0
    while (i < a.length) { val d = (a(i) - b(i)).toDouble; se += d * d; i += 1 }
    val mse = se / a.length
    if (mse == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / mse)
  }

  /** 64-bit perceptual hash of encoded image bytes. Total: bad bytes -> 0L. */
  def phash64(bytes: Array[Byte]): Long = {
    if (bytes == null || bytes.isEmpty) return 0L
    val (px, w, h) = decodeGray(bytes)
    if (w == 0 || h == 0) return 0L
    phashOfPixels(px, w, h)
  }

  def phashOfPixels(px: Array[Int], w: Int, h: Int): Long = {
    val small = resampleArea(px, w, h, PhashSize, PhashSize)
    val dct = dct2d(small, PhashSize)
    // 8x8 low-frequency block, row-major bit order u*8+v; median over the
    // 63 non-DC coefficients.
    val coefs = new Array[Double](PhashBlock * PhashBlock)
    var u = 0
    while (u < PhashBlock) {
      var v = 0
      while (v < PhashBlock) { coefs(u * PhashBlock + v) = dct(u * PhashSize + v); v += 1 }
      u += 1
    }
    val sorted = coefs.drop(1).sorted
    val median = (sorted(30) + sorted(31)) / 2.0 // 63 values -> mid pair
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (i != 0 && coefs(i) > median) bits |= (1L << (63 - i))
      i += 1
    }
    bits
  }

  /** Area-average resample (pure, deterministic; no Graphics2D scaling). */
  def resampleArea(px: Array[Int], w: Int, h: Int, tw: Int, th: Int): Array[Double] = {
    val out = new Array[Double](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * h / th
      val y1 = math.max(y0 + 1, (ty + 1) * h / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * w / tw
        val x1 = math.max(x0 + 1, (tx + 1) * w / tw)
        var sum = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += px(y * w + x); x += 1 }
          y += 1
        }
        out(ty * tw + tx) = sum / ((y1 - y0) * (x1 - x0))
        tx += 1
      }
      ty += 1
    }
    out
  }

  // Precomputed DCT-II basis for N=32 (separable 2-D transform).
  private val cosTable: Array[Double] = {
    val n = PhashSize
    val t = new Array[Double](n * n)
    var k = 0
    while (k < n) {
      var x = 0
      while (x < n) { t(k * n + x) = math.cos((2 * x + 1) * k * math.Pi / (2.0 * n)); x += 1 }
      k += 1
    }
    t
  }

  def dct2d(in: Array[Double], n: Int): Array[Double] = {
    val tmp = new Array[Double](n * n)
    // rows
    var y = 0
    while (y < n) {
      var u = 0
      while (u < n) {
        var s = 0.0
        var x = 0
        while (x < n) { s += in(y * n + x) * cosTable(u * n + x); x += 1 }
        tmp(y * n + u) = s
        u += 1
      }
      y += 1
    }
    // cols
    val out = new Array[Double](n * n)
    var u2 = 0
    while (u2 < n) {
      var v = 0
      while (v < n) {
        var s = 0.0
        var y2 = 0
        while (y2 < n) { s += tmp(y2 * n + v) * cosTable(u2 * n + y2); y2 += 1 }
        out(u2 * n + v) = s
        v += 1
      }
      u2 += 1
    }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Horizontal mirror of a row-major pixel array (pure). */
  def flipHorizontal(px: Array[Int], w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](px.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { out(y * w + x) = px(y * w + (w - 1 - x)); x += 1 }
      y += 1
    }
    out
  }

  /** phash of the horizontally MIRRORED image. Total like [[phash64]]. */
  def phashFlip64(bytes: Array[Byte]): Long = {
    if (bytes == null || bytes.isEmpty) return 0L
    val (px, w, h) = decodeGray(bytes)
    if (w == 0 || h == 0) return 0L
    phashOfPixels(flipHorizontal(px, w, h), w, h)
  }

  /** Flip-INVARIANT canonical phash: the unsigned-min of the two
    * orientations' hashes. An image and its mirror canonicalize to the
    * SAME value (the pair {phash(I), phash(flip I)} is orientation-
    * independent), so whole-hash dedup over this column catches mirrored
    * copies that plain phash is blind to (the DCT's odd horizontal
    * coefficients negate under mirroring, flipping ~half the sign bits).
    */
  def canonPhash64(bytes: Array[Byte]): Long = {
    val a = phash64(bytes)
    val b = phashFlip64(bytes)
    if (java.lang.Long.compareUnsigned(a, b) <= 0) a else b
  }

  /** splitmix64 finalizer — the deterministic mixer used across the engine. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Variance of the 4-neighbor Laplacian over interior pixels, in integer
    * fixed point (x100, floor DIV) — the standard no-reference blur/focus
    * measure (variance-of-Laplacian, Pech-Pacheco et al. ICPR'00): blur
    * attenuates high frequencies, collapsing the Laplacian's spread.
    * All-integer (sum / sum-of-squares over int Laplacians), so the score
    * is bit-identical at any parallelism and between the distributed
    * operator and its mirror. Returns 0 for images with no interior.
    */
  def lapVarQ100(px: Array[Int], w: Int, h: Int): Long = {
    if (w < 3 || h < 3) return 0L
    var sum = 0L; var sumSq = 0L
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val i = y * w + x
        val lap = 4 * px(i) - px(i - 1) - px(i + 1) - px(i - w) - px(i + w)
        sum += lap; sumSq += lap.toLong * lap
        x += 1
      }
      y += 1
    }
    val n = (w - 2).toLong * (h - 2)
    // var = E[l^2] - E[l]^2, scaled x100 with integer floor division
    (sumSq * 100L) / n - (sum * sum * 100L) / (n * n)
  }

  /** 3x3 box blur with edge clamp (integer mean, floor DIV) — the
    * deterministic low-pass used to plant blurred twins in tests/demos.
    */
  def boxBlur3(px: Array[Int], w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](px.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var s = 0; var n = 0
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            val yy = y + dy; val xx = x + dx
            if (yy >= 0 && yy < h && xx >= 0 && xx < w) {
              s += px(yy * w + xx); n += 1
            }
            dx += 1
          }
          dy += 1
        }
        out(y * w + x) = s / n
        x += 1
      }
      y += 1
    }
    out
  }

  /** Header-only image dimensions, packed (w << 32) | h, or -1 when the
    * container is unknown/truncated — the "read 30 bytes, not 3 MB" probe
    * a fetch pipeline runs on every payload BEFORE admitting it to the
    * decode path (c57/c09 run ImageIO on admitted rows only).
    *
    * PNG: the IHDR chunk MUST be first (RFC 2083 §4.1.1 / ISO 15948), so
    * width/height are big-endian u32 at fixed byte offsets 16/20 after the
    * 8-byte signature + 8-byte chunk header. JPEG: dimensions live in the
    * frame header (SOFn, ITU T.81 §B.2.2) at a VARIABLE offset — an exact
    * marker-segment walk: skip fill bytes, standalone markers carry no
    * length field, every other segment advances by its big-endian length,
    * stop at SOS/EOI. SOFn excludes DHT (C4), JPG (C8) and DAC (CC),
    * which share the C-row but are not frame headers. GIF: logical-screen
    * width/height as little-endian u16 at bytes 6/8 after the GIF87a /
    * GIF89a signature (GIF89a spec §18). BMP: BITMAPINFOHEADER width at
    * byte 18 / height at 22, little-endian i32 after the 14-byte file
    * header (height may be negative for top-down rows — magnitude).
    */
  def headerDims64(bytes: Array[Byte]): Long = {
    if (bytes == null) return -1L
    def u8(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    val isPng = bytes.length >= 24 &&
      u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4e && u8(3) == 0x47 &&
      u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a
    if (isPng) {
      // bytes 8..15 are the IHDR length+type; trust but verify the type
      if (!(u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R'))
        return -1L
      return (be32(16) << 32) | be32(20)
    }
    val isGif = bytes.length >= 10 &&
      u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8' &&
      (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a'
    if (isGif) {
      val w = u8(6) | (u8(7) << 8)
      val h = u8(8) | (u8(9) << 8)
      return (w.toLong << 32) | h.toLong
    }
    val isBmp = bytes.length >= 26 && u8(0) == 'B' && u8(1) == 'M'
    if (isBmp) {
      def le32(i: Int): Int =
        u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      val w = le32(18)
      val h = le32(22)
      if (w <= 0 || h == 0) return -1L
      return (w.toLong << 32) | math.abs(h.toLong)
    }
    val isJpeg = bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8
    if (!isJpeg) return -1L
    var i = 2
    while (i + 3 < bytes.length) {
      if (u8(i) != 0xff) return -1L // desynced: not a marker boundary
      var j = i
      while (j + 1 < bytes.length && u8(j + 1) == 0xff) j += 1 // fill bytes
      if (j + 1 >= bytes.length) return -1L
      val marker = u8(j + 1)
      if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        i = j + 2 // standalone marker: no length field
      } else if (marker == 0xd9 || marker == 0xda) {
        return -1L // EOI / SOS reached without a frame header
      } else if (j + 3 >= bytes.length) {
        return -1L
      } else {
        val segLen = be16(j + 2)
        if (segLen < 2) return -1L
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (j + 8 >= bytes.length) return -1L
          val h = be16(j + 5)
          val w = be16(j + 7)
          return (w.toLong << 32) | h.toLong
        }
        i = j + 2 + segLen
      }
    }
    -1L
  }

  def dimsW(packed: Long): Int = if (packed < 0) -1 else (packed >>> 32).toInt
  def dimsH(packed: Long): Int = if (packed < 0) -1 else (packed & 0xffffffffL).toInt

  // ---- EXIF orientation (c64) ------------------------------------------
  //
  // A crawled JPEG frequently stores its pixels sideways and declares the
  // display transform in the EXIF orientation tag (TIFF tag 0x0112 inside
  // the APP1 segment — CIPA DC-008 / TIFF 6.0 §IFD). Two stores of the
  // same photo, one upright and one camera-rotated, have DIFFERENT pixel
  // grids and therefore different phashes until the tag is applied — so
  // copy detection over a crawl MUST normalize orientation first.

  /** Orientation tag value (1..8) from a JPEG's APP1/EXIF segment, or 0
    * when absent/unparseable — total, never throws. Exact walk: JPEG
    * marker segments to APP1 (same discipline as headerDims64), then the
    * TIFF structure inside: "Exif\0\0", byte-order marker (II little /
    * MM big endian, TIFF 6.0 §2), u32 offset to IFD0, IFD0's u16 entry
    * count, 12-byte entries (tag, type, count, value) — tag 0x0112 type
    * SHORT carries the orientation in the first two value bytes.
    */
  def exifOrientation(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.length < 4) return 0
    def u8(i: Int): Int = bytes(i) & 0xff
    if (u8(0) != 0xff || u8(1) != 0xd8) return 0
    var i = 2
    while (i + 3 < bytes.length) {
      if (u8(i) != 0xff) return 0
      var j = i
      while (j + 1 < bytes.length && u8(j + 1) == 0xff) j += 1
      if (j + 3 >= bytes.length) return 0
      val marker = u8(j + 1)
      if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        i = j + 2
      } else if (marker == 0xd9 || marker == 0xda) {
        return 0 // image data reached without an EXIF segment
      } else {
        val segLen = ((u8(j + 2) << 8) | u8(j + 3))
        if (segLen < 2 || j + 2 + segLen > bytes.length) return 0
        if (marker == 0xe1 && segLen >= 2 + 6 + 8 + 2 &&
          u8(j + 4) == 'E' && u8(j + 5) == 'x' && u8(j + 6) == 'i' &&
          u8(j + 7) == 'f' && u8(j + 8) == 0 && u8(j + 9) == 0) {
          val t = j + 10 // TIFF header origin — all EXIF offsets are from here
          val end = j + 2 + segLen
          val little =
            if (u8(t) == 'I' && u8(t + 1) == 'I') true
            else if (u8(t) == 'M' && u8(t + 1) == 'M') false
            else return 0
          def u16(p: Int): Int =
            if (little) u8(p) | (u8(p + 1) << 8) else (u8(p) << 8) | u8(p + 1)
          def u32(p: Int): Long =
            if (little)
              u8(p).toLong | (u8(p + 1).toLong << 8) |
                (u8(p + 2).toLong << 16) | (u8(p + 3).toLong << 24)
            else
              (u8(p).toLong << 24) | (u8(p + 1).toLong << 16) |
                (u8(p + 2).toLong << 8) | u8(p + 3).toLong
          if (u16(t + 2) != 42) return 0
          val ifd0 = u32(t + 4)
          if (ifd0 < 8 || t + ifd0 + 2 > end) return 0
          val d = (t + ifd0).toInt
          val n = u16(d)
          var e = 0
          while (e < n && d + 2 + 12 * (e + 1) <= end) {
            val p = d + 2 + 12 * e
            if (u16(p) == 0x0112 && u16(p + 2) == 3 && u32(p + 4) == 1L) {
              val o = u16(p + 8)
              return if (o >= 1 && o <= 8) o else 0
            }
            e += 1
          }
          return 0
        }
        i = j + 2 + segLen
      }
    }
    0
  }

  /** Splice a minimal APP1/EXIF segment carrying ONLY the orientation tag
    * right after SOI (where EXIF belongs). Deterministic test/corpus
    * synthesis only — ImageIO ignores APP1 on decode, and headerDims64's
    * marker walk skips it like any other segment.
    */
  def spliceExifJpeg(jpeg: Array[Byte], orientation: Int,
                     bigEndian: Boolean): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "not a JPEG")
    require(orientation >= 1 && orientation <= 8, s"orientation=$orientation")
    val tiff = new Array[Byte](26)
    def put16(p: Int, v: Int): Unit =
      if (bigEndian) { tiff(p) = (v >>> 8).toByte; tiff(p + 1) = v.toByte }
      else { tiff(p) = v.toByte; tiff(p + 1) = (v >>> 8).toByte }
    def put32(p: Int, v: Int): Unit =
      if (bigEndian) {
        tiff(p) = (v >>> 24).toByte; tiff(p + 1) = (v >>> 16).toByte
        tiff(p + 2) = (v >>> 8).toByte; tiff(p + 3) = v.toByte
      } else {
        tiff(p) = v.toByte; tiff(p + 1) = (v >>> 8).toByte
        tiff(p + 2) = (v >>> 16).toByte; tiff(p + 3) = (v >>> 24).toByte
      }
    val bom = if (bigEndian) 'M' else 'I'
    tiff(0) = bom.toByte; tiff(1) = bom.toByte
    put16(2, 42); put32(4, 8) // IFD0 directly after the 8-byte header
    put16(8, 1) // one entry
    put16(10, 0x0112); put16(12, 3); put32(14, 1); put16(18, orientation)
    // bytes 20/21 (value padding) and 22..25 (next-IFD offset) stay 0
    val payload = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff
    val segLen = payload.length + 2
    val seg = Array[Byte](0xff.toByte, 0xe1.toByte,
      (segLen >>> 8).toByte, segLen.toByte) ++ payload
    jpeg.take(2) ++ seg ++ jpeg.drop(2)
  }

  /** Apply the EXIF display transform to a stored pixel grid, returning
    * (pixels, w, h) as they should be DISPLAYED (CIPA DC-008 Table 5:
    * 1 upright, 2 flip-H, 3 rot180, 4 flip-V, 5 transpose, 6 rot90 CW,
    * 7 transverse, 8 rot270 CW). 0/absent is treated as upright.
    */
  def applyOrientation(px: Array[Int], w: Int, h: Int,
                       o: Int): (Array[Int], Int, Int) = {
    if (o <= 1 || o > 8 || px.isEmpty) return (px, w, h)
    val swap = o >= 5
    val ow = if (swap) h else w
    val oh = if (swap) w else h
    val out = new Array[Int](px.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = px(y * w + x)
        // (dx, dy): where stored (x, y) lands in the displayed grid
        val (dx, dy) = o match {
          case 2 => (w - 1 - x, y)
          case 3 => (w - 1 - x, h - 1 - y)
          case 4 => (x, h - 1 - y)
          case 5 => (y, x)
          case 6 => (h - 1 - y, x)
          case 7 => (h - 1 - y, w - 1 - x)
          case 8 => (y, w - 1 - x)
          case _ => (x, y)
        }
        out(dy * ow + dx) = v
        x += 1
      }
      y += 1
    }
    (out, ow, oh)
  }

  /** Inverse of applyOrientation: given the upright pixels, produce the
    * stored grid a camera with this orientation tag would have written —
    * the corpus-plant synthesizer (applyOrientation(storedOf(px, o)) == px).
    */
  def storeWithOrientation(px: Array[Int], w: Int, h: Int,
                           o: Int): (Array[Int], Int, Int) = {
    if (o <= 1 || o > 8 || px.isEmpty) return (px, w, h)
    // 2,3,4,5,7 are involutions; 6 and 8 invert each other
    val inv = o match { case 6 => 8; case 8 => 6; case other => other }
    applyOrientation(px, w, h, inv)
  }

  // ---- JPEG quality estimation (c66) -----------------------------------

  /** ITU T.81 Annex K.1 example luminance quantization table (the IJG
    * base table every libjpeg-derived encoder — including the JDK's —
    * scales by quality), in zig-zag order as stored in the DQT segment.
    */
  private val StdLumaQuantZigzag: Array[Int] = {
    val natural = Array(
      16, 11, 10, 16, 24, 40, 51, 61,
      12, 12, 14, 19, 26, 58, 60, 55,
      14, 13, 16, 24, 40, 57, 69, 56,
      14, 17, 22, 29, 51, 87, 80, 62,
      18, 22, 37, 56, 68, 109, 103, 77,
      24, 35, 55, 64, 81, 104, 113, 92,
      49, 64, 78, 87, 103, 121, 120, 101,
      72, 92, 95, 98, 112, 100, 103, 99)
    val zz = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    zz.map(natural)
  }

  /** Estimated IJG quality (1..100) of a JPEG from its luminance DQT, or
    * -1 when not a JPEG / no parseable 8-bit luma table — total. Inverts
    * the libjpeg scaling q[i] = clamp((std[i]*S + 50)/100) where
    * S = 5000/Q below 50 and 200 - 2Q at or above (jcparam.c, public IJG
    * code): S is recovered as the mean ratio over the 64 coefficients,
    * then mapped back to Q. Every libjpeg-family encoder (the JDK writer
    * included) uses these tables, so the estimate is exact to +-1 on
    * them — and a LOW estimate on a crawled payload is the standard
    * "re-compressed to death" curation signal regardless of encoder.
    */
  def jpegQualityEstimate(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.length < 4) return -1
    def u8(i: Int): Int = bytes(i) & 0xff
    if (u8(0) != 0xff || u8(1) != 0xd8) return -1
    var i = 2
    while (i + 3 < bytes.length) {
      if (u8(i) != 0xff) return -1
      var j = i
      while (j + 1 < bytes.length && u8(j + 1) == 0xff) j += 1
      if (j + 3 >= bytes.length) return -1
      val marker = u8(j + 1)
      if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        i = j + 2
      } else if (marker == 0xd9 || marker == 0xda) {
        return -1 // image data without a DQT: not a baseline/progressive JPEG
      } else {
        val segLen = (u8(j + 2) << 8) | u8(j + 3)
        if (segLen < 2 || j + 2 + segLen > bytes.length) return -1
        if (marker == 0xdb) {
          // DQT: one or more (PqTq, 64 or 128 bytes) tables in one segment
          var p = j + 4
          val end = j + 2 + segLen
          while (p < end) {
            val pq = u8(p) >> 4
            val tq = u8(p) & 0x0f
            val n = if (pq == 0) 64 else 128
            if (p + 1 + n > end) return -1
            if (tq == 0 && pq == 0) {
              // luminance, 8-bit: invert the IJG scaling
              var sum = 0.0
              var k = 0
              while (k < 64) {
                val v = u8(p + 1 + k)
                sum += (100.0 * v - 50.0) / StdLumaQuantZigzag(k)
                k += 1
              }
              val s = sum / 64.0
              val q =
                if (s <= 0) 100
                else if (s <= 100.0) (200.0 - s) / 2.0
                else 5000.0 / s
              return math.max(1, math.min(100, math.round(q).toInt))
            }
            p += 1 + n
          }
        }
        i = j + 2 + segLen
      }
    }
    -1
  }

  /** Re-encode at an explicit IJG quality (test/corpus synthesis: the
    * "CDN re-compressed the image" plant).
    */
  def encodeJpegQuality(pixels: Array[Int], w: Int, h: Int, q: Float): Array[Byte] = {
    val img = toImage(pixels, w, h)
    val bos = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(q)
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.flush(); writer.dispose()
    bos.toByteArray
  }

  /** Orientation-normalized perceptual hash: decode, apply the EXIF
    * transform, hash the DISPLAYED grid — the hash two stores of one
    * photo share regardless of how the camera held its sensor.
    */
  def orientedPhash64(bytes: Array[Byte]): Long = {
    if (bytes == null || bytes.isEmpty) return 0L
    val (px, w, h) = decodeGray(bytes)
    if (w == 0 || h == 0) return 0L
    val (dpx, dw, dh) = applyOrientation(px, w, h, exifOrientation(bytes))
    phashOfPixels(dpx, dw, dh)
  }

  /** c71 — global contrast measurement: (intensity range, stddev x100)
    * over all pixels, all-integer (the stddev is the floor integer square
    * root of the exact integer variance x10000, so the score is
    * bit-identical at any parallelism and between the distributed audit
    * and its mirror). Flat / near-flat payloads (solid placeholders,
    * blank thumbnails, tracking pixels scaled up) are a standard
    * curation drop alongside the blur gate (c57) — blur attenuates high
    * frequencies, this catches images with no signal at all. Total on
    * garbage (zeros).
    */
  def contrastQ100(bytes: Array[Byte]): (Int, Long) = {
    if (bytes == null || bytes.isEmpty) return (0, 0L)
    val (px, w, h) = decodeGray(bytes)
    val n = w.toLong * h
    if (n == 0) return (0, 0L)
    var mn = 255; var mx = 0; var sum = 0L; var sumSq = 0L
    var i = 0
    while (i < px.length) {
      val v = px(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      sum += v
      sumSq += v.toLong * v
      i += 1
    }
    // var x10000 = (n*sumSq - sum^2) * 10000 / n^2, exact integer floor;
    // stddev x100 = floor sqrt of that (Math.sqrt seed + exact adjust)
    val varQ = (n * sumSq - sum * sum) * 10000L / (n * n)
    var s = math.sqrt(varQ.toDouble).toLong
    while (s * s > varQ) s -= 1
    while ((s + 1) * (s + 1) <= varQ) s += 1
    (mx - mn, s)
  }

  /** c69 — uniform border (letterbox/pillarbox/padding) measurement: the
    * count of consecutive FLAT lines (max-min <= tol within the line, and
    * within tol of the outermost line's mean — one bar, not stacked
    * different-colored bars) inward from each edge, capped at half the
    * dimension so a fully-flat image reads as "all border" without the
    * scans crossing. All-integer; total on garbage (zeros).
    * Returns (top, bottom, left, right) thicknesses in pixels.
    */
  def borderWidths(bytes: Array[Byte], tol: Int = 8): (Int, Int, Int, Int) = {
    if (bytes == null || bytes.isEmpty) return (0, 0, 0, 0)
    val (px, w, h) = decodeGray(bytes)
    if (w == 0 || h == 0) return (0, 0, 0, 0)
    def line(isRow: Boolean, idx: Int): (Int, Int, Int) = {
      // (min, max, sum) over the line
      var mn = 255; var mx = 0; var sm = 0
      val n = if (isRow) w else h
      var i = 0
      while (i < n) {
        val v = if (isRow) px(idx * w + i) else px(i * w + idx)
        if (v < mn) mn = v
        if (v > mx) mx = v
        sm += v
        i += 1
      }
      (mn, mx, sm)
    }
    def scan(isRow: Boolean, from: Int, step: Int, cap: Int): Int = {
      val n0 = if (isRow) w else h
      val (mn0, mx0, sm0) = line(isRow, from)
      if (mx0 - mn0 > tol) return 0
      val mean0 = sm0 / n0
      var t = 0
      var idx = from
      while (t < cap) {
        val (mn, mx, sm) = line(isRow, idx)
        if (mx - mn > tol || math.abs(sm / n0 - mean0) > tol) return t
        t += 1
        idx += step
      }
      t
    }
    (scan(isRow = true, 0, 1, h / 2),
      scan(isRow = true, h - 1, -1, h / 2),
      scan(isRow = false, 0, 1, w / 2),
      scan(isRow = false, w - 1, -1, w / 2))
  }

  /** c68 — the phash of every element of the image's dihedral orbit
    * (EXIF codes 1..8 ARE the full D4 group: identity, mirror, 180,
    * upside-down mirror, the two transposes, 90 CW and 90 CCW), from ONE
    * decode: each transform is an index remap of the already-decoded
    * pixels. This is the metadata-FREE rotation story — c64 normalizes by
    * the DECLARED tag, but the common web repost is rotate-then-strip
    * (editors bake the rotation into the pixel grid and drop EXIF), which
    * leaves no tag to read; matching any of the orbit's hashes against a
    * stored hash catches those. Index i holds orientation code i+1.
    */
  def dihedralPhashes(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](8)
    if (bytes == null || bytes.isEmpty) return out
    val (px, w, h) = decodeGray(bytes)
    if (w == 0 || h == 0) return out
    var o = 1
    while (o <= 8) {
      val (dpx, dw, dh) = applyOrientation(px, w, h, o)
      out(o - 1) = phashOfPixels(dpx, dw, dh)
      o += 1
    }
    out
  }

  /** Histogram equalization in exact integer arithmetic: pixel value v ->
    * (cdf(v) - cdf_min) * 255 / (n - cdf_min). INVARIANCE LAW: any
    * STRICTLY increasing intensity map permutes the present values
    * bijectively, preserving every cdf count — the equalized image is
    * bit-identical. Near-monotone maps with rounding collisions (real
    * tone curves, gamma) perturb only the collided levels, so the
    * equalized phash moves by a few bits where the raw phash can move
    * arbitrarily (the DCT median threshold shifts under a nonlinear map).
    */
  def rankNormalize(px: Array[Int]): Array[Int] = {
    if (px.isEmpty) return px
    // 10-bit histogram: decode emits 0..255, but tone curves map INTO a
    // wider range (a strictly increasing self-map of 0..255 can only be
    // the identity — the invariance law needs room to be non-trivial)
    val bins = 1024
    val hist = new Array[Long](bins)
    var i = 0
    while (i < px.length) { hist(px(i) & (bins - 1)) += 1; i += 1 }
    val cdf = new Array[Long](bins)
    var c = 0L
    i = 0
    while (i < bins) { c += hist(i); cdf(i) = c; i += 1 }
    var vMin = 0
    while (vMin < bins - 1 && hist(vMin) == 0L) vMin += 1
    val cdfMin = cdf(vMin)
    val denom = math.max(1L, px.length - cdfMin)
    val out = new Array[Int](px.length)
    i = 0
    while (i < px.length) {
      out(i) = (((cdf(px(i) & (bins - 1)) - cdfMin) * 255L) / denom).toInt
      i += 1
    }
    out
  }

  /** Tone-curve-resistant perceptual hash: phash of the equalized pixels.
    * Total: bad bytes -> 0L.
    */
  def phashRank64(bytes: Array[Byte]): Long = {
    if (bytes == null || bytes.isEmpty) return 0L
    val (px, w, h) = decodeGray(bytes)
    if (w == 0 || h == 0) return 0L
    phashOfPixels(rankNormalize(px), w, h)
  }

  /** Integer gamma map (corpus plant): v -> round(255 * (v/255)^g),
    * g = num/den. Monotone non-decreasing; strong gammas collide levels.
    */
  def gammaMap(px: Array[Int], g: Double): Array[Int] =
    px.map(v => math.min(255,
      math.round(255.0 * math.pow((v & 0xff) / 255.0, g)).toInt))
}
