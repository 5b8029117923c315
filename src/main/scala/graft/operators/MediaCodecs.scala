package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

/** Dependency-free binary media codecs — the real decode kernels behind the
  * multimodal operators (no codec libraries exist in this environment, so
  * everything here is pure JVM: binary PPM, 24-bit BMP, and zlib-compressed
  * truecolor PNG for images — the JDK's Inflater supplies the DEFLATE
  * codec — and RIFF/WAVE PCM16 for audio).
  *
  * Reference analog: the tensor ingest path that turns raw detector files
  * into typed arrays (create_train_valid_test_datasets.py:116) — here the
  * raw file is a media container and the typed array is pixels/samples.
  */
object MediaCodecs {

  /** RGB-interleaved 8-bit image: pixels(y*width*3 + x*3 + channel). */
  final case class Image(width: Int, height: Int, pixels: Array[Byte])

  /** Mono PCM16 clip. */
  final case class Audio(sampleRate: Int, samples: Array[Short])

  /** Uncompressed video: per-frame plane data, frames(t) = Y ++ U ++ V
    * (C444: each plane width·height bytes).
    */
  final case class Video(width: Int, height: Int, frames: Array[Array[Byte]])

  /** Decode a YUV4MPEG2 (.y4m) stream — the uncompressed video container
    * (mjpegtools spec; the format ffmpeg/x264 pipelines exchange raw video
    * in): a space-separated parameter header line `YUV4MPEG2 W<w> H<h>
    * F<rate> [Ip] [A<aspect>] [C<space>] [X<ext>...]`, then frames, each a
    * `FRAME[ <params>]\n` line followed by the raw planes.
    *
    * Colorspaces: C444 (full-resolution U/V planes), the C420 family
    * (C420, C420jpeg, C420mpeg2, C420paldv — 4:2:0, quarter-resolution
    * chroma; the suffix only states chroma SITING, which never changes
    * plane byte layout), and C422 (round 13 — 4:2:2, half-WIDTH chroma at
    * full height: the broadcast/capture interchange variant). Subsampled
    * frames are UPSAMPLED ON READ (2×2 or 2×1 nearest-neighbor
    * replication) into the same full-resolution Y ++ U ++ V layout —
    * downstream operators see one shape regardless of source subsampling.
    * C420 requires even W and H (each chroma sample covers a 2×2 block);
    * C422 requires even W only. Odd dimensions and any other C tag
    * (C411, mono, …) fail loudly rather than misparse payload bytes as
    * frame headers.
    */
  def decodeY4m(bytes: Array[Byte]): Video = {
    var pos = 0
    def readLine(): String = {
      val start = pos
      while (pos < bytes.length && bytes(pos) != '\n') pos += 1
      require(pos < bytes.length, "y4m: unterminated header line")
      pos += 1
      new String(bytes, start, pos - 1 - start, "US-ASCII")
    }
    val header = readLine()
    require(header.startsWith("YUV4MPEG2"), "y4m: bad magic")
    val tags = header.split(' ').drop(1)
    var w = -1
    var h = -1
    var cspace = "C420" // the spec default when no C tag is present
    tags.foreach { t =>
      if (t.nonEmpty) t.charAt(0) match {
        case 'W' => w = t.substring(1).toInt
        case 'H' => h = t.substring(1).toInt
        case 'C' => cspace = t
        case _ => () // F/I/A/X params irrelevant to plane layout
      }
    }
    require(w > 0 && h > 0, s"y4m: missing W/H in '$header'")
    val c420 = Set("C420", "C420jpeg", "C420mpeg2", "C420paldv")(cspace)
    val c422 = cspace == "C422"
    require(cspace == "C444" || c420 || c422,
      s"y4m: unsupported colorspace $cspace")
    if (c420)
      require(w % 2 == 0 && h % 2 == 0,
        s"y4m: C420 requires even dimensions, got ${w}x$h")
    if (c422)
      require(w % 2 == 0, s"y4m: C422 requires even width, got ${w}x$h")
    val plane = w * h
    val frameBytes =
      if (c420) plane + plane / 2
      else if (c422) 2 * plane
      else 3 * plane
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (pos < bytes.length) {
      val fl = readLine()
      require(fl == "FRAME" || fl.startsWith("FRAME "),
        s"y4m: expected FRAME, got '$fl'")
      require(pos + frameBytes <= bytes.length, "y4m: truncated frame")
      if (!c420 && !c422) {
        frames += java.util.Arrays.copyOfRange(bytes, pos, pos + frameBytes)
      } else if (c422) {
        // upsample the two half-WIDTH chroma planes to full resolution:
        // full(x, y) = sub(x/2, y) — each subsampled byte covers its 2×1
        // pair, so downstream plane arithmetic is exactly 2× the
        // subsampled sums (the q477 oracle states that factor explicitly)
        val out = new Array[Byte](3 * plane)
        System.arraycopy(bytes, pos, out, 0, plane)
        val cw = w / 2
        var p = 0
        while (p < 2) {
          val base = pos + plane + p * (plane / 2)
          val obase = plane + p * plane
          var y = 0
          while (y < h) {
            val srow = base + y * cw
            val orow = obase + y * w
            var x = 0
            while (x < w) {
              out(orow + x) = bytes(srow + x / 2)
              x += 1
            }
            y += 1
          }
          p += 1
        }
        frames += out
      } else {
        // upsample the two quarter-size chroma planes to full resolution:
        // full(x, y) = sub(x/2, y/2) — each subsampled byte covers its 2×2
        // block, so downstream plane arithmetic is exactly 4× the
        // subsampled sums (the q434 oracle states that factor explicitly)
        val out = new Array[Byte](3 * plane)
        System.arraycopy(bytes, pos, out, 0, plane)
        val cw = w / 2
        var p = 0
        while (p < 2) {
          val base = pos + plane + p * (plane / 4)
          val obase = plane + p * plane
          var y = 0
          while (y < h) {
            val srow = base + (y / 2) * cw
            val orow = obase + y * w
            var x = 0
            while (x < w) {
              out(orow + x) = bytes(srow + x / 2)
              x += 1
            }
            y += 1
          }
          p += 1
        }
        frames += out
      }
      pos += frameBytes
    }
    Video(w, h, frames.toArray)
  }

  /** Per-channel (R, G, B) sums over interleaved 8-bit RGB pixels — the
    * integer image features the PPM decode contracts compare.
    */
  def channelSums(pixels: Array[Byte]): (Long, Long, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i < pixels.length) {
      sr += pixels(i) & 0xff
      sg += pixels(i + 1) & 0xff
      sb += pixels(i + 2) & 0xff
      i += 3
    }
    (sr, sg, sb)
  }

  /** Decode a binary (P6) PPM: `P6 <w> <h> <maxval>` header tokens separated
    * by whitespace with `#`-to-end-of-line comments, a single whitespace
    * byte, then w·h·3 RGB bytes. Only maxval 255 (1 byte/sample) supported.
    */
  def decodePpm(bytes: Array[Byte]): Image = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      "not a binary PPM (missing P6 magic)")
    var pos = 2
    def skipSeparators(): Unit = {
      var done = false
      while (!done && pos < bytes.length) {
        val b = bytes(pos)
        if (b == '#') while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        else if (b == ' ' || b == '\n' || b == '\r' || b == '\t') pos += 1
        else done = true
      }
    }
    def readInt(): Int = {
      skipSeparators()
      var v = 0
      var any = false
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0')
        pos += 1
        any = true
      }
      require(any, s"PPM: expected an integer header token at byte $pos")
      v
    }
    val w = readInt()
    val h = readInt()
    val maxval = readInt()
    require(maxval == 255, s"PPM: only maxval 255 supported, got $maxval")
    pos += 1 // exactly one whitespace byte separates the header from pixels
    val need = w * h * 3
    require(bytes.length - pos >= need,
      s"PPM: truncated payload — need $need bytes, have ${bytes.length - pos}")
    Image(w, h, java.util.Arrays.copyOfRange(bytes, pos, pos + need))
  }

  /** Encode back to binary PPM (for resize round-trips). */
  def encodePpm(img: Image): Array[Byte] = {
    val header = s"P6\n${img.width} ${img.height}\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + img.pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.pixels, 0, out, header.length, img.pixels.length)
    out
  }

  /** Nearest-neighbor downscale by an integer factor: keep pixels whose
    * (x, y) are both multiples of `factor`. Output dims = ⌈w/f⌉ × ⌈h/f⌉.
    */
  def downscale(img: Image, factor: Int): Image = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val ow = (img.width + factor - 1) / factor
    val oh = (img.height + factor - 1) / factor
    val out = new Array[Byte](ow * oh * 3)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val src = (oy * factor * img.width + ox * factor) * 3
        val dst = (oy * ow + ox) * 3
        out(dst) = img.pixels(src)
        out(dst + 1) = img.pixels(src + 1)
        out(dst + 2) = img.pixels(src + 2)
        ox += 1
      }
      oy += 1
    }
    Image(ow, oh, out)
  }

  /** Decode an uncompressed 24-bit BMP (BITMAPINFOHEADER): rows are stored
    * bottom-up when biHeight > 0 (top-down when negative), BGR-interleaved,
    * each row zero-padded to a 4-byte boundary — all three quirks are undone
    * so the returned [[Image]] is row-major top-down RGB like
    * [[decodePpm]]'s.
    */
  def decodeBmp(bytes: Array[Byte]): Image = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54, "BMP: truncated headers")
    require(bytes(0) == 'B' && bytes(1) == 'M', "BMP: missing BM magic")
    val dataOffset = bb.getInt(10)
    require(dataOffset >= 54 && dataOffset <= bytes.length,
      s"BMP: pixel data offset $dataOffset outside the file")
    require(bb.getInt(14) >= 40, "BMP: pre-BITMAPINFOHEADER formats unsupported")
    val w = bb.getInt(18)
    val rawH = bb.getInt(22)
    val topDown = rawH < 0
    val h = math.abs(rawH)
    require(w > 0 && h > 0, s"BMP: bad dimensions ${w}x$rawH")
    require((bb.getShort(26) & 0xffff) == 1, "BMP: planes must be 1")
    val bpp = bb.getShort(28) & 0xffff
    require(bpp == 24, s"BMP: only 24-bit supported, got $bpp")
    require(bb.getInt(30) == 0, "BMP: only uncompressed (BI_RGB) supported")
    // untrusted 32-bit dims: bound w*h*3 in Long BEFORE any Int arithmetic —
    // overflow would wrap rowSize/array sizes negative-or-small and bypass
    // the truncation check (same guard decodeQoi applies)
    require(w.toLong * h * 3 <= Int.MaxValue, s"BMP: dimensions ${w}x$h overflow")
    val rowSizeL = (w.toLong * 3 + 3) / 4 * 4
    require(dataOffset.toLong + rowSizeL * h <= bytes.length,
      s"BMP: truncated payload — need ${rowSizeL * h} bytes from $dataOffset")
    val rowSize = rowSizeL.toInt // ≤ file length, proven by the bound above
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val src = dataOffset + (if (topDown) y else h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        val dst = (y * w + x) * 3
        out(dst) = bytes(src + x * 3 + 2)     // R (file order is BGR)
        out(dst + 1) = bytes(src + x * 3 + 1) // G
        out(dst + 2) = bytes(src + x * 3)     // B
        x += 1
      }
      y += 1
    }
    Image(w, h, out)
  }

  /** Decode an 8-bit truecolor (color type 2, non-interlaced) PNG — the one
    * real COMPRESSED container in the codec family: chunk walk with CRC32
    * verification, multiple IDAT chunks concatenated before a single zlib
    * inflate (`java.util.zip.Inflater` — the JDK ships the codec), then
    * scanline defiltering for all five PNG filter types (None/Sub/Up/
    * Average/Paeth, RFC 2083 §6). Ancillary chunks (tEXt etc.) are skipped;
    * output is row-major top-down RGB like [[decodePpm]]'s.
    */
  def decodePng(bytes: Array[Byte]): Image = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    require(bytes.length >= 8 && java.util.Arrays.equals(
      java.util.Arrays.copyOf(bytes, 8), sig), "PNG: missing signature")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    var pos = 8
    var w = -1
    var h = -1
    val idat = new java.io.ByteArrayOutputStream()
    val crc = new java.util.zip.CRC32()
    var ended = false
    while (!ended && pos + 12 <= bytes.length) {
      val len = bb.getInt(pos)
      require(len >= 0 && pos + 12L + len <= bytes.length,
        s"PNG: chunk at $pos overruns the file")
      val tag = bb.getInt(pos + 4)
      crc.reset()
      crc.update(bytes, pos + 4, 4 + len)
      require(crc.getValue.toInt == bb.getInt(pos + 8 + len),
        s"PNG: CRC mismatch in chunk at $pos")
      tag match {
        case 0x49484452 => // IHDR
          require(len == 13, "PNG: IHDR must be 13 bytes")
          w = bb.getInt(pos + 8)
          h = bb.getInt(pos + 12)
          require(w > 0 && h > 0, s"PNG: bad dimensions ${w}x$h")
          require(bytes(pos + 16) == 8, "PNG: only bit depth 8 supported")
          require(bytes(pos + 17) == 2, "PNG: only truecolor (type 2) supported")
          require(bytes(pos + 18) == 0 && bytes(pos + 19) == 0,
            "PNG: nonstandard compression/filter method")
          require(bytes(pos + 20) == 0, "PNG: interlaced images unsupported")
        case 0x49444154 => // IDAT — may be split; payload is ONE zlib stream
          require(w > 0, "PNG: IDAT before IHDR")
          idat.write(bytes, pos + 8, len)
        case 0x49454e44 => ended = true // IEND
        case _ => () // ancillary (tEXt, pHYs, ...) — skip
      }
      pos += 12 + len
    }
    require(ended, "PNG: no IEND chunk")
    // untrusted 32-bit dims: bound the filtered-scanline buffer in Long
    // before allocating (h rows of 1 filter byte + 3w pixels)
    require(h.toLong * (1L + 3L * w) <= Int.MaxValue,
      s"PNG: dimensions ${w}x$h overflow")
    val stride = w * 3
    val raw = new Array[Byte](h * (1 + stride))
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        // corrupt DEFLATE data surfaces as DataFormatException — rethrow as
        // the require-style IllegalArgumentException the error contract pins
        val n =
          try inf.inflate(raw, off, raw.length - off)
          catch {
            case e: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(
                s"PNG: corrupt DEFLATE stream: ${e.getMessage}")
          }
        // inflate()==0 with the stream unfinished means the inflater wants
        // something this loop will never provide: more input (truncated
        // IDAT) or a preset dictionary (zlib FDICT, which the PNG spec
        // forbids). Gating on needsInput alone missed the FDICT case — a
        // CRC-valid crafted file would spin this loop forever.
        require(n > 0,
          if (inf.needsDictionary) "PNG: preset dictionary (FDICT) not allowed"
          else "PNG: truncated IDAT stream")
        off += n
      }
    } finally inf.end()
    require(off == raw.length,
      s"PNG: inflated ${off} bytes, expected ${raw.length}")
    // defilter: each scanline leads with its filter type; predictors see the
    // RECONSTRUCTED left/up/upper-left bytes (bpp = 3 for RGB8)
    val out = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val ft = raw(y * (1 + stride)) & 0xff
      require(ft <= 4, s"PNG: unknown filter type $ft on row $y")
      val src = y * (1 + stride) + 1
      val dst = y * stride
      var x = 0
      while (x < stride) {
        val f = raw(src + x) & 0xff
        val left = if (x >= 3) out(dst + x - 3) & 0xff else 0
        val up = if (y > 0) out(dst - stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= 3) out(dst - stride + x - 3) & 0xff else 0
        val v = ft match {
          case 0 => f
          case 1 => f + left
          case 2 => f + up
          case 3 => f + (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            f + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
        }
        out(dst + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Image(w, h, out)
  }

  /** Encode row-major top-down RGB pixels as an 8-bit truecolor PNG, with a
    * caller-chosen filter type per row (deflate via the JDK's
    * `java.util.zip.Deflater`). The fuzz property drives every filter type
    * through [[decodePng]] with this.
    */
  def encodePng(img: Image, filterOf: Int => Int = _ % 5): Array[Byte] = {
    val stride = img.width * 3
    val raw = new Array[Byte](img.height * (1 + stride))
    var y = 0
    while (y < img.height) {
      val ft = filterOf(y)
      require(ft >= 0 && ft <= 4, s"bad filter type $ft")
      raw(y * (1 + stride)) = ft.toByte
      var x = 0
      while (x < stride) {
        val cur = img.pixels(y * stride + x) & 0xff
        val left = if (x >= 3) img.pixels(y * stride + x - 3) & 0xff else 0
        val up = if (y > 0) img.pixels((y - 1) * stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= 3) img.pixels((y - 1) * stride + x - 3) & 0xff else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            cur - (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
        }
        raw(y * (1 + stride) + 1 + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val outStream = new java.io.ByteArrayOutputStream()
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      outStream.write(buf, 0, n)
    }
    deflater.end()
    val idat = outStream.toByteArray
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val t = tag.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(t)
      crc.update(body)
      val bb = ByteBuffer.allocate(12 + body.length).order(ByteOrder.BIG_ENDIAN)
      bb.putInt(body.length).put(t).put(body).putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      .putInt(img.width).putInt(img.height)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.emptyByteArray)
  }

  /** Decode a GIF (87a/89a) holding a single palette-indexed frame — the
    * second COMPRESSED codec, and a different compression family than PNG's
    * DEFLATE: variable-width LZW with clear/EOI codes and lockstep
    * dictionary growth. The full container grammar is walked: logical
    * screen descriptor, global color table, extension blocks (skipped),
    * image descriptor with optional LOCAL color table (which takes
    * precedence over the global one), interlaced row order (the 4-pass
    * 8/8/4/2 scheme) and sub-block-framed LZW data. Output is row-major
    * top-down RGB like [[decodePpm]]'s — palette applied.
    */
  def decodeGif(bytes: Array[Byte]): Image = {
    require(bytes.length >= 13, "GIF: truncated header")
    val magic = new String(bytes, 0, 6, "US-ASCII")
    require(magic == "GIF87a" || magic == "GIF89a", s"GIF: bad magic '$magic'")
    def u16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    var pos = 6
    pos += 4 // logical screen width/height — the frame descriptor is authoritative
    val lsdPacked = bytes(pos) & 0xff
    pos += 3 // packed, background color index, pixel aspect ratio
    var palette: Array[Byte] = null
    if ((lsdPacked & 0x80) != 0) {
      val n = 2 << (lsdPacked & 0x07)
      require(pos + 3 * n <= bytes.length, "GIF: truncated global color table")
      palette = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
      pos += 3 * n
    }
    // block walk: extensions until the first image descriptor
    while (pos < bytes.length && (bytes(pos) & 0xff) == 0x21) {
      pos += 2 // introducer + label
      require(pos < bytes.length, "GIF: truncated extension block")
      while ((bytes(pos) & 0xff) != 0) {
        pos += 1 + (bytes(pos) & 0xff)
        require(pos < bytes.length, "GIF: extension sub-block overruns the file")
      }
      pos += 1 // block terminator
    }
    require(pos + 10 <= bytes.length && (bytes(pos) & 0xff) == 0x2c,
      s"GIF: expected image descriptor at byte $pos")
    val w = u16(pos + 5)
    val h = u16(pos + 7)
    require(w > 0 && h > 0, s"GIF: bad dimensions ${w}x$h")
    val idPacked = bytes(pos + 9) & 0xff
    val interlaced = (idPacked & 0x40) != 0
    pos += 10
    if ((idPacked & 0x80) != 0) { // local color table wins over global
      val n = 2 << (idPacked & 0x07)
      require(pos + 3 * n <= bytes.length, "GIF: truncated local color table")
      palette = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
      pos += 3 * n
    }
    require(palette != null, "GIF: no color table (global or local)")
    require(pos + 1 < bytes.length, "GIF: truncated before the LZW stream")
    val minCodeSize = bytes(pos) & 0xff
    require(minCodeSize >= 1 && minCodeSize <= 8, s"GIF: bad LZW root size $minCodeSize")
    pos += 1
    // concatenate the sub-block-framed LZW stream
    val lzw = new java.io.ByteArrayOutputStream()
    var bs = bytes(pos) & 0xff
    while (bs != 0) {
      require(pos + 1 + bs <= bytes.length, s"GIF: sub-block at $pos overruns the file")
      lzw.write(bytes, pos + 1, bs)
      pos += 1 + bs
      require(pos < bytes.length, "GIF: missing sub-block terminator")
      bs = bytes(pos) & 0xff
    }
    val indices = lzwDecode(lzw.toByteArray, minCodeSize, w * h)
    // apply palette, undoing interlace: sequential decoded rows land on
    // pass-1 rows 0,8,16…, then 4,12…, then 2,6,10…, then 1,3,5…
    val rowOrder = new Array[Int](h)
    if (interlaced) {
      var r = 0
      for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- start until h by step) {
        rowOrder(r) = y; r += 1
      }
    } else {
      var y = 0
      while (y < h) { rowOrder(y) = y; y += 1 }
    }
    val out = new Array[Byte](w * h * 3)
    val maxIdx = palette.length / 3
    var r = 0
    while (r < h) {
      val y = rowOrder(r)
      var x = 0
      while (x < w) {
        val idx = indices(r * w + x) & 0xff
        require(idx < maxIdx, s"GIF: pixel index $idx outside the $maxIdx-color table")
        val dst = (y * w + x) * 3
        out(dst) = palette(idx * 3)
        out(dst + 1) = palette(idx * 3 + 1)
        out(dst + 2) = palette(idx * 3 + 2)
        x += 1
      }
      r += 1
    }
    Image(w, h, out)
  }

  /** GIF LZW decode (LSB-first variable-width codes): clear resets the
    * dictionary, widths grow in lockstep with the encoder (the width for the
    * NEXT code grows when the entry count reaches 2^codeSize, capped at 12
    * bits), and the `code == next-free` KwKwK case reconstructs prev+prev[0].
    */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int, nPixels: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val out = new Array[Byte](nPixels)
    var outPos = 0
    var codeSize = minCodeSize + 1
    var free = eoi + 1
    var prev = -1
    var acc = 0L
    var accBits = 0
    var bytePos = 0
    val stack = new Array[Byte](4098) // longest chain (≤4096) + KwKwK byte + root
    def expand(code: Int, extra: Int): Unit = { // write dict[code] (+KwKwK byte)
      var sp = 0
      if (extra >= 0) { stack(sp) = extra.toByte; sp += 1 }
      var c = code
      while (c >= clear) { stack(sp) = suffix(c); sp += 1; c = prefix(c) } // > eoi entries chain down
      stack(sp) = c.toByte
      sp += 1
      while (sp > 0) {
        sp -= 1
        require(outPos < nPixels, "GIF: LZW stream yields more pixels than the frame holds")
        out(outPos) = stack(sp); outPos += 1
      }
    }
    def firstByte(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    var done = false
    while (!done && outPos < nPixels) {
      while (accBits < codeSize) {
        require(bytePos < data.length, "GIF: truncated LZW stream")
        acc |= (data(bytePos) & 0xffL) << accBits
        accBits += 8
        bytePos += 1
      }
      val code = (acc & ((1L << codeSize) - 1)).toInt
      acc >>>= codeSize
      accBits -= codeSize
      if (code == clear) {
        codeSize = minCodeSize + 1
        free = eoi + 1
        prev = -1
      } else if (code == eoi) {
        done = true
      } else {
        require(code <= free, s"GIF: code $code beyond dictionary size $free")
        if (prev == -1) {
          require(code < clear, s"GIF: first code after clear must be a root, got $code")
          expand(code, -1)
        } else {
          if (code == free) { // KwKwK: prev + first byte of prev
            require(free < 4096, "GIF: KwKwK code with a full dictionary")
            expand(prev, firstByte(prev))
          } else expand(code, -1)
          if (free < 4096) {
            prefix(free) = prev
            suffix(free) = firstByte(if (code == free) prev else code).toByte
            free += 1
          }
        }
        prev = code
        if (codeSize < 12 && free >= (1 << codeSize)) codeSize += 1
      }
    }
    require(outPos == nPixels, s"GIF: decoded $outPos pixels, expected $nPixels")
    out
  }

  /** Encode a palette-indexed frame as a single-image GIF89a (real LZW
    * compression — the fuzz property drives [[decodeGif]] with this).
    * `palette` is 3·2ⁿ RGB bytes (n = 1..8); `indices` row-major top-down.
    * `localTable` moves the palette into the image descriptor's local color
    * table (with a deliberately wrong global table, so precedence is
    * testable); `interlaced` stores rows in 4-pass order.
    */
  def encodeGif(width: Int, height: Int, palette: Array[Byte], indices: Array[Byte],
                interlaced: Boolean = false, localTable: Boolean = false): Array[Byte] = {
    require(palette.length % 3 == 0, "palette must be RGB triples")
    val nColors = palette.length / 3
    require(nColors >= 2 && nColors <= 256 && Integer.bitCount(nColors) == 1,
      s"palette size must be a power of two in [2,256], got $nColors")
    require(indices.length == width * height, "indices must cover the frame")
    val bits = 31 - Integer.numberOfLeadingZeros(nColors) // log2
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(width); u16(height)
    out.write(0x80 | ((bits - 1) & 0x07)) // global table present, 2^bits entries
    out.write(0); out.write(0)
    if (localTable) out.write(new Array[Byte](palette.length)) // wrong on purpose
    else out.write(palette)
    out.write(0x2c) // image descriptor
    u16(0); u16(0); u16(width); u16(height)
    out.write((if (localTable) 0x80 else 0) | (if (interlaced) 0x40 else 0) |
      (if (localTable) (bits - 1) & 0x07 else 0))
    if (localTable) out.write(palette)
    // row order on disk: interlace passes or sequential
    val rows =
      if (interlaced) Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s, st) => s until height by st }
      else 0 until height
    val stream = new Array[Byte](indices.length)
    var p = 0
    rows.foreach { y =>
      System.arraycopy(indices, y * width, stream, p, width)
      p += width
    }
    val minCodeSize = math.max(2, bits) // spec: root size >= 2
    out.write(minCodeSize)
    val lzw = lzwEncode(stream, minCodeSize)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0)    // sub-block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** GIF LZW encode, the exact mirror of [[lzwDecode]]'s width schedule:
    * emit clear first, grow the write width when the entry count reaches
    * 2^codeSize (checked after each emit, BEFORE that emit's dictionary
    * add — the decoder's add runs one code behind), reset via clear when
    * the dictionary fills at 4096.
    */
  private def lzwEncode(data: Array[Byte], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var accBits = 0
    var codeSize = minCodeSize + 1
    var free = eoi + 1
    val dict = new java.util.HashMap[Long, Integer]()
    def put(code: Int): Unit = {
      acc |= code.toLong << accBits
      accBits += codeSize
      while (accBits >= 8) {
        out.write((acc & 0xff).toInt)
        acc >>>= 8
        accBits -= 8
      }
      if (codeSize < 12 && free >= (1 << codeSize)) codeSize += 1
    }
    put(clear)
    if (data.nonEmpty) {
      var cur = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val b = data(i) & 0xff
        val key = (cur.toLong << 8) | b
        val hit = dict.get(key)
        if (hit != null) cur = hit.intValue()
        else {
          put(cur)
          if (free < 4096) {
            dict.put(key, free)
            free += 1
          } else { // dictionary full: reset both sides
            put(clear)
            dict.clear()
            codeSize = minCodeSize + 1
            free = eoi + 1
          }
          cur = b
        }
        i += 1
      }
      put(cur)
    }
    put(eoi)
    if (accBits > 0) out.write((acc & 0xff).toInt)
    out.toByteArray
  }

  /** Decode a BASELINE SEQUENTIAL (SOF0) or PROGRESSIVE-HUFFMAN (SOF2)
    * JPEG (ITU-T T.81, 8-bit) — the transform-coding family the codec set
    * still lacked (DEFLATE, LZW, QOI ops, FLAC rice codes are all
    * prediction/dictionary coders; JPEG is block-DCT entropy coding). The
    * full baseline path is real: marker/segment parse (APPn/COM skip,
    * multi-table DQT and DHT, DRI), canonical Huffman table build +
    * bit-level decode with 0xFF00 unstuffing, DC prediction + EXTEND, AC
    * run/size with ZRL and EOB, de-zigzag, dequantization, separable
    * double-precision IDCT with round-half-up + clamp, interleaved MCU
    * assembly for arbitrary integer sampling factors (4:4:4 and 4:2:0
    * fixtures), right/bottom MCU-padding crop, restart-marker predictor
    * resets, and the libjpeg fixed-point integer YCbCr→RGB conversion
    * (documented at [[ycc2rgb]]; the oracle replays the same integer
    * formula). The progressive path (T.81 annex G, round 13) accumulates
    * raw coefficients across scans — interleaved/non-interleaved DC first
    * passes and raw-bit refinements, single-component AC band scans with
    * EOBRUN, AC refinements with correction bits, inter-scan DHT/DQT/DRI
    * redefinition — then dequantizes and runs the same IDCT once. Loud
    * rejects: extended/12-bit, arithmetic coding, hierarchical/lossless
    * SOFs, 16-bit DQT, non-integer subsampling ratios, malformed
    * progressive scan headers.
    *
    * Determinism note: JPEG is lossy in general, but a decoder is a
    * deterministic function of the bitstream. The oracle fixtures live in
    * the DC-only subspace (every 8×8 block constant, qDC = 8) where the
    * IDCT output is exactly the encoded flat value, so the expected pixels
    * replay from the fixture formulas with no DCT arithmetic in SQL; the
    * AC/general-IDCT path is exercised by the unit spec against an
    * independent direct-form IDCT (the row-1/row-33 unit-only precedent).
    */
  def decodeJpeg(bytes: Array[Byte]): Image = {
    require(bytes.length >= 4, "JPEG: truncated")
    require((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "JPEG: missing SOI")

    final case class Component(id: Int, h: Int, v: Int, tq: Int,
                               var td: Int = 0, var ta: Int = 0)
    val quant = new Array[Array[Int]](4)
    // huffman(tableClass)(tableId) = (maxcode/valptr decode tables)
    final class Huff(bits: Array[Int], vals: Array[Int]) {
      // canonical decode per T.81 F.2.2.3: mincode/maxcode/valptr by length
      val minCode = new Array[Int](17)
      val maxCode = new Array[Int](17)
      val valPtr = new Array[Int](17)
      val values = vals
      locally {
        var code = 0; var k = 0
        for (l <- 1 to 16) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1)
          k += bits(l - 1)
          maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
          code <<= 1
        }
      }
    }
    val huff = Array.ofDim[Huff](2, 4)

    var pos = 2
    def u16(p: Int): Int = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    var frameW = 0; var frameH = 0
    var comps: Array[Component] = null
    var progressive = false
    var restartInterval = 0
    var sosAt = -1
    // current scan parameters — re-set at every SOS (progressive streams
    // carry one SOS per spectral-band/approximation pass)
    var scanCis: Array[Int] = null
    var scanSs = 0; var scanSe = 63; var scanAh = 0; var scanAl = 0

    def parseDqt(body: Int, end: Int): Unit = {
      var p = body
      while (p < end) {
        val pq = (bytes(p) & 0xff) >> 4
        val tq = bytes(p) & 0x0f
        require(pq == 0, "JPEG: 16-bit DQT is not baseline")
        // untrusted 4-bit id vs 4-slot table (T.81 B.2.4.1: Tq ≤ 3) —
        // reject loudly instead of ArrayIndexOutOfBounds
        require(tq <= 3, s"JPEG: DQT table id $tq out of range")
        quant(tq) = Array.tabulate(64)(k => bytes(p + 1 + k) & 0xff)
        p += 65
      }
    }
    def parseDht(body: Int, end: Int): Unit = {
      var p = body
      while (p < end) {
        val tc = (bytes(p) & 0xff) >> 4
        val th = bytes(p) & 0x0f
        // untrusted 4-bit class/id vs the 2×4 table grid (T.81 B.2.4.2:
        // Tc ≤ 1, Th ≤ 3) — reject loudly
        require(tc <= 1, s"JPEG: DHT table class $tc out of range")
        require(th <= 3, s"JPEG: DHT table id $th out of range")
        val bits = Array.tabulate(16)(k => bytes(p + 1 + k) & 0xff)
        val n = bits.sum
        val vals = Array.tabulate(n)(k => bytes(p + 17 + k) & 0xff)
        huff(tc)(th) = new Huff(bits, vals)
        p += 17 + n
      }
    }
    def parseSos(body: Int): Unit = {
      val ns = bytes(body) & 0xff
      require(comps != null, "JPEG: SOS before SOF")
      require(if (progressive) ns >= 1 && ns <= comps.length
              else ns == comps.length,
        if (progressive) s"JPEG: bad scan component count $ns"
        else "JPEG: partial scans unsupported")
      scanCis = Array.tabulate(ns) { s =>
        val cid = bytes(body + 1 + 2 * s) & 0xff
        val ci = comps.indexWhere(_.id == cid)
        require(ci >= 0, s"JPEG: SOS names unknown component $cid")
        comps(ci).td = (bytes(body + 2 + 2 * s) & 0xff) >> 4
        comps(ci).ta = bytes(body + 2 + 2 * s) & 0x0f
        ci
      }
      scanSs = bytes(body + 1 + 2 * ns) & 0xff
      scanSe = bytes(body + 2 + 2 * ns) & 0xff
      val ahal = bytes(body + 3 + 2 * ns) & 0xff
      scanAh = ahal >> 4; scanAl = ahal & 0x0f
      if (progressive) {
        // T.81 G.1: a scan is either DC-only (possibly interleaved) or an
        // AC band; refinement must lower the point transform by exactly 1
        require((scanSs == 0 && scanSe == 0) ||
          (scanSs >= 1 && scanSs <= scanSe && scanSe <= 63),
          s"JPEG: bad progressive spectral band $scanSs..$scanSe")
        require(scanAl <= 13 && (scanAh == 0 || scanAh == scanAl + 1),
          s"JPEG: bad successive approximation Ah=$scanAh Al=$scanAl")
      } else require(scanSs == 0 && scanSe == 63 && scanAh == 0 && scanAl == 0,
        "JPEG: baseline scan must cover the full band untransformed")
      // a SOS naming an out-of-range or never-defined Huffman table must
      // fail here with the codec contract's loud IllegalArgumentException,
      // not reach decodeSym as null. A first DC pass Huffman-decodes with
      // the DC table and AC scans with the AC table; a DC REFINEMENT scan
      // reads raw bits and needs neither (T.81 G.1.2.1).
      scanCis.foreach { ci =>
        val c = comps(ci)
        if (scanSs == 0 && scanAh == 0)
          require(c.td <= 3 && huff(0)(c.td) != null,
            s"JPEG: SOS references undefined DC Huffman table ${c.td}")
        if (scanSe > 0)
          require(c.ta <= 3 && huff(1)(c.ta) != null,
            s"JPEG: SOS references undefined AC Huffman table ${c.ta}")
      }
    }

    // ---- segment parse up to the FIRST SOS ----
    while (sosAt < 0) {
      require(pos + 4 <= bytes.length, "JPEG: truncated segment stream")
      require((bytes(pos) & 0xff) == 0xff, s"JPEG: expected marker at $pos")
      // T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
      while (pos + 4 <= bytes.length && (bytes(pos + 1) & 0xff) == 0xff)
        pos += 1
      val m = bytes(pos + 1) & 0xff
      val len = u16(pos + 2)
      val body = pos + 4
      m match {
        case 0xdb => parseDqt(body, pos + 2 + len)
        case 0xc4 => parseDht(body, pos + 2 + len)
        case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive-Huffman
          require(comps == null, "JPEG: multiple frames")
          progressive = m == 0xc2
          require((bytes(body) & 0xff) == 8, "JPEG: only 8-bit precision")
          frameH = u16(body + 1); frameW = u16(body + 3)
          val nc = bytes(body + 5) & 0xff
          require(nc == 1 || nc == 3, s"JPEG: $nc components unsupported")
          comps = Array.tabulate(nc) { c =>
            val p = body + 6 + 3 * c
            Component(bytes(p) & 0xff, (bytes(p + 1) & 0xff) >> 4,
              bytes(p + 1) & 0x0f, bytes(p + 2) & 0xff)
          }
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          throw new IllegalArgumentException(
            f"JPEG: SOF marker 0x$m%02x is not baseline or progressive-Huffman")
        case 0xdd => restartInterval = u16(body)
        case 0xda => parseSos(body); sosAt = pos + 2 + len
        case _ => // APPn / COM / others: skip
          require(len >= 2, "JPEG: bad segment length")
      }
      if (sosAt < 0) pos += 2 + len
    }
    require(frameW > 0 && frameH > 0, "JPEG: zero frame size")
    // untrusted u16 dims: 65535² · 3 overflows Int — bound the RGB buffer
    // in Long BEFORE any Int arithmetic, mirroring decodeBmp/decodePng/
    // decodeQoi's guard, so a crafted header fails with the codec
    // contract's IllegalArgumentException instead of a negative-size
    // allocation or a silent wrap
    require(frameW.toLong * frameH * 3 <= Int.MaxValue,
      s"JPEG: dimensions ${frameW}x$frameH overflow")

    comps.foreach { c =>
      // T.81 B.2.2: sampling factors 1–4, quant ids ≤ 3 — all untrusted
      require(c.h >= 1 && c.h <= 4 && c.v >= 1 && c.v <= 4,
        s"JPEG: sampling factors ${c.h}x${c.v} out of range")
      require(c.tq <= 3 && quant(c.tq) != null,
        s"JPEG: component references undefined quant table ${c.tq}")
    }
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    comps.foreach { c =>
      require(hmax % c.h == 0 && vmax % c.v == 0,
        "JPEG: non-integer subsampling ratio unsupported")
    }
    val mcusX = (frameW + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (frameH + 8 * vmax - 1) / (8 * vmax)
    // per-component plane at MCU-padded resolution, size bounded in Long
    // (padding can exceed the frame-size bound above on its own)
    val planeW = comps.map(c => mcusX * c.h * 8)
    comps.indices.foreach { ci =>
      require(planeW(ci).toLong * mcusY * comps(ci).v * 8 <= Int.MaxValue,
        s"JPEG: component $ci plane overflows at ${frameW}x$frameH")
    }
    val planes = comps.indices.map(ci =>
      new Array[Byte](planeW(ci) * mcusY * comps(ci).v * 8)).toArray

    // ---- entropy-coded bit reader with unstuffing + RST handling ----
    var bp = sosAt // byte position
    var bitBuf = 0; var bitCnt = 0
    def nextBit(): Int = {
      if (bitCnt == 0) {
        require(bp < bytes.length, "JPEG: entropy stream truncated")
        var b = bytes(bp) & 0xff; bp += 1
        if (b == 0xff) {
          val b2 = if (bp < bytes.length) bytes(bp) & 0xff else -1
          if (b2 == 0x00) bp += 1 // stuffed
          else throw new IllegalArgumentException(
            f"JPEG: unexpected marker 0xff$b2%02x inside entropy data")
          b = 0xff
        }
        bitBuf = b; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var k = 0
      while (k < n) { v = (v << 1) | nextBit(); k += 1 }
      v
    }
    def extend(v: Int, t: Int): Int =
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    def decodeSym(h: Huff): Int = {
      var code = nextBit(); var l = 1
      while (l <= 16 && (h.maxCode(l) < 0 || code > h.maxCode(l))) {
        code = (code << 1) | nextBit(); l += 1
      }
      require(l <= 16, "JPEG: invalid Huffman code")
      h.values(h.valPtr(l) + code - h.minCode(l))
    }
    def syncRestart(n: Int): Unit = {
      // discard pad bits, then skip stuffed FF00 pad bytes and optional
      // FF fill bytes (T.81 B.1.1.2 allows fill before any marker)
      bitCnt = 0
      while (bp + 1 < bytes.length && (bytes(bp) & 0xff) == 0xff &&
             ((bytes(bp + 1) & 0xff) == 0x00 || (bytes(bp + 1) & 0xff) == 0xff))
        bp += (if ((bytes(bp + 1) & 0xff) == 0x00) 2 else 1)
      require(bp + 1 < bytes.length, "JPEG: truncated at restart")
      require((bytes(bp) & 0xff) == 0xff &&
        (bytes(bp + 1) & 0xff) == 0xd0 + n,
        f"JPEG: expected RST$n%d at byte $bp")
      bp += 2
    }

    // ---- per-block decode: huffman → zigzag → dequant → IDCT ----
    val zigzag = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val cosT = Array.tabulate(8, 8) { (x, u) =>
      math.cos((2 * x + 1) * u * math.Pi / 16.0) *
        (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
    }
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    val preds = new Array[Int](comps.length)

    /** Separable IDCT (rows then columns, double precision) of a
      * DEQUANTIZED natural-order coefficient block into the plane —
      * shared by the baseline fused path and the progressive final pass.
      */
    def idctTo(cf: Array[Int], outPlane: Array[Byte], ox: Int, oy: Int,
               stride: Int): Unit = {
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0
          var u = 0
          while (u < 8) { s += cosT(x)(u) * cf(y * 8 + u); u += 1 }
          tmp(y * 8 + x) = s / 2.0
          x += 1
        }
        y += 1
      }
      var x = 0
      while (x < 8) {
        var yy = 0
        while (yy < 8) {
          var s = 0.0
          var v = 0
          while (v < 8) { s += cosT(yy)(v) * tmp(v * 8 + x); v += 1 }
          val p = math.round(s / 2.0 + 128.0).toInt
          outPlane((oy + yy) * stride + ox + x) =
            math.max(0, math.min(255, p)).toByte
          yy += 1
        }
        x += 1
      }
    }

    def decodeBlock(ci: Int, outPlane: Array[Byte], ox: Int, oy: Int,
                    stride: Int): Unit = {
      val c = comps(ci)
      java.util.Arrays.fill(coef, 0)
      val t = decodeSym(huff(0)(c.td))
      require(t <= 15, "JPEG: DC category out of range")
      preds(ci) += extend(receive(t), t)
      val q = quant(c.tq)
      require(q != null, "JPEG: missing quant table")
      coef(0) = preds(ci) * q(0)
      var k = 1
      while (k < 64) {
        val rs = decodeSym(huff(1)(c.ta))
        val r = rs >> 4; val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else k = 64 // EOB
        } else {
          k += r
          require(k < 64, "JPEG: AC index overrun")
          coef(zigzag(k)) = extend(receive(s), s) * q(k)
          k += 1
        }
      }
      idctTo(coef, outPlane, ox, oy, stride)
    }

    if (!progressive) {
      // ---- baseline: one interleaved MCU loop, fused decode+IDCT ----
      var mcu = 0
      var rstN = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
            syncRestart(rstN); rstN = (rstN + 1) % 8
            java.util.Arrays.fill(preds, 0)
          }
          var ci = 0
          while (ci < comps.length) {
            val c = comps(ci)
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                decodeBlock(ci, planes(ci),
                  (mx * c.h + bx) * 8, (my * c.v + by) * 8, planeW(ci))
                bx += 1
              }
              by += 1
            }
            ci += 1
          }
          mcu += 1
          mx += 1
        }
        my += 1
      }
    } else {
      // ---- progressive (SOF2): accumulate raw coefficients across scans,
      // dequantize + IDCT once at the end (T.81 annex G) ----
      // per-component block grid at MCU-padded size (interleaved DC scans
      // encode the padding blocks; the plane-overflow guard above bounds
      // the same element count)
      val blocksW = comps.map(c => mcusX * c.h)
      val blocksH = comps.map(c => mcusY * c.v)
      val coefs = comps.indices.map(ci =>
        new Array[Int](blocksW(ci) * blocksH(ci) * 64)).toArray
      // NON-interleaved scan grid: the component's true block count
      // ceil(ceil(dim·sampling/max)/8) — MCU padding blocks appear only in
      // interleaved scans (T.81 A.2.3 vs G.1.1)
      val compBW = comps.map(c => ((frameW * c.h + hmax - 1) / hmax + 7) / 8)
      val compBH = comps.map(c => ((frameH * c.v + vmax - 1) / vmax + 7) / 8)
      var eobrun = 0

      /** After a scan's entropy data: discard pad bits and position on the
        * next marker (skipping stuffed FF00 remnants and T.81 B.1.1.2 fill
        * bytes); returns the marker byte with bp at its 0xFF.
        */
      def seekMarker(): Int = {
        bitCnt = 0
        while (bp + 1 < bytes.length &&
               !((bytes(bp) & 0xff) == 0xff && (bytes(bp + 1) & 0xff) != 0x00))
          bp += 1
        while (bp + 2 < bytes.length && (bytes(bp + 1) & 0xff) == 0xff)
          bp += 1
        require(bp + 1 < bytes.length, "JPEG: truncated between scans")
        bytes(bp + 1) & 0xff
      }

      def decodeScan(cis: Array[Int], ss: Int, se: Int, ah: Int,
                     al: Int): Unit = {
        bitCnt = 0
        java.util.Arrays.fill(preds, 0)
        eobrun = 0
        var rstN = 0
        var unit = 0 // MCUs (interleaved) or blocks (single-component)
        def maybeRestart(): Unit =
          if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
            syncRestart(rstN); rstN = (rstN + 1) % 8
            java.util.Arrays.fill(preds, 0); eobrun = 0
          }
        if (ss == 0) {
          // DC scan — first pass Huffman-decodes Al-shifted diffs, the
          // refinement appends one raw bit per block at position Al
          def dcBlock(ci: Int, bx: Int, by: Int): Unit = {
            val off = (by * blocksW(ci) + bx) * 64
            if (ah == 0) {
              val t = decodeSym(huff(0)(comps(ci).td))
              require(t <= 15, "JPEG: DC category out of range")
              preds(ci) += extend(receive(t), t)
              coefs(ci)(off) = preds(ci) << al
            } else if (nextBit() == 1) coefs(ci)(off) |= 1 << al
          }
          if (cis.length > 1) { // interleaved: MCU order, padding included
            var my = 0
            while (my < mcusY) {
              var mx = 0
              while (mx < mcusX) {
                maybeRestart()
                cis.foreach { ci =>
                  val c = comps(ci)
                  var by = 0
                  while (by < c.v) {
                    var bx = 0
                    while (bx < c.h) {
                      dcBlock(ci, mx * c.h + bx, my * c.v + by); bx += 1
                    }
                    by += 1
                  }
                }
                unit += 1; mx += 1
              }
              my += 1
            }
          } else {
            val ci = cis(0)
            var by = 0
            while (by < compBH(ci)) {
              var bx = 0
              while (bx < compBW(ci)) {
                maybeRestart(); dcBlock(ci, bx, by); unit += 1; bx += 1
              }
              by += 1
            }
          }
        } else {
          // AC band scan — always single-component (T.81 G.1.1)
          require(cis.length == 1,
            "JPEG: progressive AC scan must name exactly one component")
          val ci = cis(0)
          val acH = huff(1)(comps(ci).ta)
          val co = coefs(ci)
          // first AC pass: run/size with EOBRUN (EOBn covers this block and
          // the next (1<<r)-1+ext blocks of the band)
          def acFirst(off: Int): Unit = {
            if (eobrun > 0) { eobrun -= 1; return }
            var k = ss
            var done = false
            while (!done && k <= se) {
              val rs = decodeSym(acH)
              val r = rs >> 4; val sz = rs & 0x0f
              if (sz == 0) {
                if (r == 15) k += 16 // ZRL
                else {
                  eobrun = (1 << r) - 1 + (if (r > 0) receive(r) else 0)
                  done = true
                }
              } else {
                k += r
                require(k <= se, "JPEG: AC index overrun")
                co(off + zigzag(k)) = extend(receive(sz), sz) << al
                k += 1
              }
            }
          }
          // AC refinement (T.81 G.1.2.3): every traversal of a coefficient
          // that is already nonzero reads one correction bit; a new ±1<<Al
          // lands after skipping r ZERO-history positions; EOBn here covers
          // (1<<r)+ext blocks INCLUDING the current one, whose remaining
          // nonzero coefficients still take correction bits
          def acRefine(off: Int): Unit = {
            val p1 = 1 << al; val m1 = -1 << al
            var k = ss
            def correct(z: Int): Unit =
              if (nextBit() == 1 && (co(z) & p1) == 0)
                co(z) += (if (co(z) >= 0) p1 else m1)
            if (eobrun == 0) {
              var brk = false
              while (!brk && k <= se) {
                val rs = decodeSym(acH)
                var r = rs >> 4; val sz = rs & 0x0f
                var newval = 0
                if (sz == 0) {
                  if (r < 15) {
                    eobrun = (1 << r) + (if (r > 0) receive(r) else 0)
                    brk = true
                  } // r == 15: ZRL — skip 16 zero-history positions
                } else {
                  require(sz == 1, "JPEG: AC refinement size must be 1")
                  newval = if (nextBit() == 1) p1 else m1
                }
                if (!brk) {
                  var placed = false
                  while (!placed && k <= se) {
                    val z = off + zigzag(k)
                    if (co(z) != 0) correct(z)
                    else if (r == 0) {
                      if (newval != 0) co(z) = newval
                      placed = true
                    } else r -= 1
                    k += 1
                  }
                  require(placed || newval == 0,
                    "JPEG: AC refinement overran the band")
                }
              }
            }
            if (eobrun > 0) {
              while (k <= se) {
                val z = off + zigzag(k)
                if (co(z) != 0) correct(z)
                k += 1
              }
              eobrun -= 1
            }
          }
          var by = 0
          while (by < compBH(ci)) {
            var bx = 0
            while (bx < compBW(ci)) {
              maybeRestart()
              val off = (by * blocksW(ci) + bx) * 64
              if (ah == 0) acFirst(off) else acRefine(off)
              unit += 1; bx += 1
            }
            by += 1
          }
        }
      }

      // scan loop: the header parse above left bp = sosAt at the first
      // scan's entropy data; between scans DHT/DQT/DRI may be redefined
      decodeScan(scanCis, scanSs, scanSe, scanAh, scanAl)
      var done = false
      while (!done) {
        val m2 = seekMarker()
        if (m2 == 0xd9) done = true // EOI
        else {
          // standalone markers carry NO length field — a RSTn/TEM between
          // scans (outside entropy data, where syncRestart owns RSTn) is a
          // malformed stream; parsing it as length-bearing would read a
          // bogus u16 from the following bytes instead of rejecting loudly
          require(!(m2 >= 0xd0 && m2 <= 0xd7) && m2 != 0x01,
            "JPEG: standalone marker between scans")
          pos = bp
          require(pos + 4 <= bytes.length, "JPEG: truncated segment stream")
          val len2 = u16(pos + 2)
          val body2 = pos + 4
          m2 match {
            case 0xc4 => parseDht(body2, pos + 2 + len2)
            case 0xdb => parseDqt(body2, pos + 2 + len2)
            case 0xdd => restartInterval = u16(body2)
            case 0xc0 | 0xc2 =>
              throw new IllegalArgumentException("JPEG: multiple frames")
            case 0xda =>
              parseSos(body2)
            case _ => // APPn / COM: skip
              require(len2 >= 2, "JPEG: bad segment length")
          }
          bp = pos + 2 + len2
          if (m2 == 0xda) decodeScan(scanCis, scanSs, scanSe, scanAh, scanAl)
        }
      }

      // final pass: dequantize (quant index k pairs with zigzag position k)
      // and IDCT every REAL block — padding blocks may hold DC values from
      // interleaved scans but never reach the output crop
      val dq = new Array[Int](64)
      comps.indices.foreach { ci =>
        val q = quant(comps(ci).tq)
        var by = 0
        while (by < compBH(ci)) {
          var bx = 0
          while (bx < compBW(ci)) {
            val off = (by * blocksW(ci) + bx) * 64
            var k = 0
            while (k < 64) {
              val z = zigzag(k)
              dq(z) = coefs(ci)(off + z) * q(k)
              k += 1
            }
            idctTo(dq, planes(ci), bx * 8, by * 8, planeW(ci))
            bx += 1
          }
          by += 1
        }
      }
    }

    // ---- upsample + color convert + crop ----
    val px = new Array[Byte](frameW * frameH * 3)
    val gray = comps.length == 1
    var yy = 0
    while (yy < frameH) {
      var xx = 0
      while (xx < frameW) {
        val o = (yy * frameW + xx) * 3
        if (gray) {
          val g = planes(0)(yy * planeW(0) + xx)
          px(o) = g; px(o + 1) = g; px(o + 2) = g
        } else {
          def sample(ci: Int): Int = {
            val c = comps(ci)
            planes(ci)((yy * c.v / vmax) * planeW(ci) + xx * c.h / hmax) & 0xff
          }
          val (r, g, b) = ycc2rgb(sample(0), sample(1), sample(2))
          px(o) = r.toByte; px(o + 1) = g.toByte; px(o + 2) = b.toByte
        }
        xx += 1
      }
      yy += 1
    }
    Image(frameW, frameH, px)
  }

  /** Fixed-point integer JFIF YCbCr→RGB — libjpeg's e16 constants
    * (FIX(1.40200) = 91881, FIX(0.34414) = 22554, FIX(0.71414) = 46802,
    * FIX(1.77200) = 116130), written with an ADDITIVE BIAS of 2^24 before
    * the >>16 so the shifted operand is always positive: truncation then
    * equals floor on BOTH a JVM `>>` and the oracle's `//` (which truncates
    * toward zero — playbook #46), so the SQL replay is exact:
    *   R = clamp(Y + ((91881·(Cr−128) + 32768 + 2^24) >> 16) − 256)
    * and likewise for G (−22554·(Cb−128) − 46802·(Cr−128)) and
    * B (+116130·(Cb−128)).
    */
  def ycc2rgb(y: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    val bias = 1 << 24
    def cl(v: Int): Int = math.max(0, math.min(255, v))
    val r = cl(y + ((91881 * (cr - 128) + 32768 + bias) >> 16) - 256)
    val g = cl(y + ((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768 + bias) >> 16) - 256)
    val b = cl(y + ((116130 * (cb - 128) + 32768 + bias) >> 16) - 256)
    (r, g, b)
  }

  /** Decode a QOI image (qoiformat.org, public spec) — the third
    * COMPRESSION FAMILY in the codec set, next to PNG's DEFLATE and GIF's
    * LZW: a byte-wise op stream with run-length ops, a 64-entry
    * recently-seen-color cache addressed by `(3r+5g+7b+11a) mod 64`, and
    * two delta encodings (2-bit DIFF, luma-relative LUMA). Channels 3 and
    * 4 both decode; alpha is dropped (the [[Image]] contract is RGB).
    */
  def decodeQoi(bytes: Array[Byte]): Image = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(bytes.length >= 14 + 8, "QOI: truncated header")
    require(bb.getInt(0) == 0x716f6966, "QOI: missing 'qoif' magic")
    val w = bb.getInt(4)
    val h = bb.getInt(8)
    require(w > 0 && h > 0, s"QOI: bad dimensions ${w}x$h")
    // header dims are untrusted 32-bit fields: w*h*3 must fit an Int or the
    // pixel-count arithmetic silently wraps (65536×65536 → n = 0)
    require(w.toLong * h * 3L <= Int.MaxValue,
      s"QOI: frame ${w}x$h exceeds the supported pixel-buffer size")
    val channels = bytes(12) & 0xff
    require(channels == 3 || channels == 4, s"QOI: channels must be 3 or 4, got $channels")
    require((bytes(13) & 0xff) <= 1, "QOI: bad colorspace byte")
    val n = w * h
    val out = new Array[Byte](n * 3)
    val cache = new Array[Int](64) // packed 0xRRGGBBAA, zero-initialized per spec
    var r = 0; var g = 0; var b = 0; var a = 255
    var px = 0
    var pos = 14
    def put(): Unit = {
      out(px * 3) = r.toByte
      out(px * 3 + 1) = g.toByte
      out(px * 3 + 2) = b.toByte
      px += 1
      cache(((r * 3 + g * 5 + b * 7 + a * 11) & 0x3fffffff) % 64) =
        (r << 24) | (g << 16) | (b << 8) | a
    }
    while (px < n) {
      require(pos < bytes.length - 7, "QOI: op stream ran into the end marker")
      val op = bytes(pos) & 0xff
      pos += 1
      if (op == 0xfe) { // QOI_OP_RGB
        r = bytes(pos) & 0xff; g = bytes(pos + 1) & 0xff; b = bytes(pos + 2) & 0xff
        pos += 3; put()
      } else if (op == 0xff) { // QOI_OP_RGBA
        r = bytes(pos) & 0xff; g = bytes(pos + 1) & 0xff
        b = bytes(pos + 2) & 0xff; a = bytes(pos + 3) & 0xff
        pos += 4; put()
      } else (op >> 6) match {
        case 0 => // QOI_OP_INDEX
          val v = cache(op & 0x3f)
          r = (v >>> 24) & 0xff; g = (v >>> 16) & 0xff; b = (v >>> 8) & 0xff; a = v & 0xff
          put()
        case 1 => // QOI_OP_DIFF — 2-bit channel deltas, bias 2
          r = (r + ((op >> 4) & 3) - 2) & 0xff
          g = (g + ((op >> 2) & 3) - 2) & 0xff
          b = (b + (op & 3) - 2) & 0xff
          put()
        case 2 => // QOI_OP_LUMA — 6-bit dg bias 32; dr-dg / db-dg 4-bit bias 8
          val dg = (op & 0x3f) - 32
          val nx = bytes(pos) & 0xff
          pos += 1
          r = (r + dg + ((nx >> 4) & 0xf) - 8) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg + (nx & 0xf) - 8) & 0xff
          put()
        case _ => // QOI_OP_RUN — length 1..62, bias -1
          val run = (op & 0x3f) + 1
          require(px + run <= n, s"QOI: run of $run overruns the frame at pixel $px")
          var k = 0
          while (k < run) { put(); k += 1 }
      }
    }
    require(pos + 8 <= bytes.length &&
      (0 until 7).forall(k => bytes(pos + k) == 0) && bytes(pos + 7) == 1,
      "QOI: missing 00×7 + 01 end marker")
    Image(w, h, out)
  }

  /** Encode RGB pixels as QOI with the spec's greedy op choice (run →
    * index → diff → luma → rgb) — the fuzz property drives [[decodeQoi]]
    * through every op type with this.
    */
  def encodeQoi(img: Image): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val hdr = ByteBuffer.allocate(14).order(ByteOrder.BIG_ENDIAN)
      .putInt(0x716f6966).putInt(img.width).putInt(img.height)
      .put(3.toByte).put(0.toByte)
    out.write(hdr.array())
    val cache = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0
    var run = 0
    var q = 0
    val n = img.width * img.height
    while (q < n) {
      val r = img.pixels(q * 3) & 0xff
      val g = img.pixels(q * 3 + 1) & 0xff
      val b = img.pixels(q * 3 + 2) & 0xff
      if (r == pr && g == pg && b == pb) {
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val idx = ((r * 3 + g * 5 + b * 7 + 255 * 11) & 0x3fffffff) % 64
        val packed = (r << 24) | (g << 16) | (b << 8) | 255
        if (cache(idx) == packed) out.write(idx)
        else {
          cache(idx) = packed
          // wrapping signed-char deltas (qoi.c semantics): 255→0 is +1
          def d8(x: Int): Int = ((x + 128) & 0xff) - 128
          val dr = d8(r - pr); val dg = d8(g - pg); val db = d8(b - pb)
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
            out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          else if (dg >= -32 && dg <= 31 &&
            dr - dg >= -8 && dr - dg <= 7 && db - dg >= -8 && db - dg <= 7) {
            out.write(0x80 | (dg + 32))
            out.write(((dr - dg + 8) << 4) | (db - dg + 8))
          } else {
            out.write(0xfe); out.write(r); out.write(g); out.write(b)
          }
        }
        pr = r; pg = g; pb = b
      }
      q += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    (0 until 7).foreach(_ => out.write(0))
    out.write(1)
    out.toByteArray
  }

  /** Decode a RIFF/WAVE container holding mono 16-bit PCM: walk the chunk
    * list (ids are 4 ASCII bytes, sizes little-endian, chunks padded to even
    * offsets), require a PCM fmt chunk, return the data chunk's samples.
    */
  def decodeWav(bytes: Array[Byte]): Audio = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 12, "WAV: truncated RIFF header")
    require(bb.getInt(0) == 0x46464952, "WAV: missing RIFF magic") // "RIFF"
    require(bb.getInt(8) == 0x45564157, "WAV: missing WAVE form")  // "WAVE"
    var pos = 12
    var sampleRate = -1
    var samples: Array[Short] = null
    while (pos + 8 <= bytes.length) {
      val id = bb.getInt(pos)
      val size = bb.getInt(pos + 4)
      val body = pos + 8
      require(size >= 0 && body + size <= bytes.length,
        s"WAV: chunk at $pos overruns the file")
      if (id == 0x20746d66) { // "fmt "
        require(size >= 16, "WAV: fmt chunk too small")
        val audioFormat = bb.getShort(body) & 0xffff
        val channels = bb.getShort(body + 2) & 0xffff
        val bits = bb.getShort(body + 14) & 0xffff
        require(audioFormat == 1, s"WAV: only PCM supported, got format $audioFormat")
        require(channels == 1, s"WAV: only mono supported, got $channels channels")
        require(bits == 16, s"WAV: only 16-bit supported, got $bits")
        sampleRate = bb.getInt(body + 4)
      } else if (id == 0x61746164) { // "data"
        require(sampleRate > 0, "WAV: data chunk before fmt chunk")
        val n = size / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { out(i) = bb.getShort(body + 2 * i); i += 1 }
        samples = out
      }
      pos = body + size + (size & 1) // chunks are word-aligned
    }
    require(samples != null, "WAV: no data chunk")
    Audio(sampleRate, samples)
  }

  // --------------------------------------------------------------------------
  // FLAC — the lossless COMPRESSED audio family (the codec set's seventh
  // member, next to WAV's uncompressed PCM). Lossless means decoded PCM is
  // bit-exact, so the same arithmetic-fixture oracle contract as WAV applies.
  // Subset: 16-bit mono/stereo, all four subframe types (CONSTANT, VERBATIM,
  // FIXED orders 0–4, LPC), Rice/Rice2 residuals incl. escape partitions,
  // wasted bits, all four stereo decorrelation modes (independent,
  // left/side, right/side, mid/side), CRC-8 frame-header and CRC-16 frame
  // checks. Format per the public FLAC bitstream spec (RFC 9639).
  // --------------------------------------------------------------------------

  /** MSB-first bit reader over a byte array; every read bounds-checks so a
    * truncated stream fails as IllegalArgumentException, never AIOOBE.
    */
  private final class BitReader(bytes: Array[Byte], var bytePos: Int) {
    private var bitPos = 0 // bits already consumed of bytes(bytePos)

    def readBit(): Int = {
      require(bytePos < bytes.length, "FLAC: truncated stream")
      val b = (bytes(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      b
    }

    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }

    /** n-bit two's-complement signed read (n ≥ 1). */
    def readSigned(n: Int): Int = {
      val v = readBits(n)
      (if ((v & (1L << (n - 1))) != 0) v - (1L << n) else v).toInt
    }

    /** Unary: count of 0 bits before the terminating 1. */
    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) q += 1
      q
    }

    def alignByte(): Unit = if (bitPos != 0) { bitPos = 0; bytePos += 1 }
    def isAligned: Boolean = bitPos == 0
  }

  /** CRC-8, polynomial x⁸+x²+x+1 (0x07), init 0 — FLAC frame headers. */
  private def flacCrc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; b += 1 }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial 0x8005, init 0 — FLAC whole-frame checksum. */
  private def flacCrc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; b += 1 }
      i += 1
    }
    crc
  }

  /** The UTF-8-style variable-length frame number (up to 36 bits). */
  private def readFlacUtf8(br: BitReader): Long = {
    val b0 = br.readBits(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var lead = 0
    while (lead < 8 && ((b0 << lead) & 0x80) != 0) lead += 1
    require(lead >= 2 && lead <= 7, s"FLAC: bad UTF-8 coded number lead byte $b0")
    var v = (b0 & (0x7f >> lead)).toLong
    var i = 1
    while (i < lead) {
      val c = br.readBits(8).toInt
      require((c & 0xc0) == 0x80, "FLAC: bad UTF-8 continuation byte")
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  /** Rice-coded residual: 2-bit method (Rice/Rice2), 4-bit partition order,
    * per-partition parameter with the all-ones escape to fixed-width raw.
    */
  private def readFlacResidual(br: BitReader, blockSize: Int, order: Int,
                               out: Array[Int]): Unit = {
    val method = br.readBits(2).toInt
    require(method <= 1, s"FLAC: reserved residual method $method")
    val pbits = if (method == 0) 4 else 5
    val escape = (1 << pbits) - 1
    val po = br.readBits(4).toInt
    val parts = 1 << po
    require(blockSize % parts == 0,
      s"FLAC: partition order $po does not divide block size $blockSize")
    require((blockSize >> po) >= order || po == 0,
      s"FLAC: first partition would have negative sample count")
    var idx = order
    var p = 0
    while (p < parts) {
      val cnt = (blockSize >> po) - (if (p == 0) order else 0)
      require(cnt >= 0, "FLAC: negative partition sample count")
      val param = br.readBits(pbits).toInt
      if (param == escape) {
        val raw = br.readBits(5).toInt
        var i = 0
        while (i < cnt) {
          out(idx) = if (raw == 0) 0 else br.readSigned(raw)
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < cnt) {
          val q = br.readUnary()
          val r = if (param == 0) 0L else br.readBits(param)
          val v = (q.toLong << param) | r
          out(idx) = ((v >>> 1) ^ -(v & 1L)).toInt // zigzag
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  /** One subframe → reconstructed samples (before stereo decorrelation). */
  private def readFlacSubframe(br: BitReader, blockSize: Int, bps: Int): Array[Int] = {
    require(br.readBit() == 0, "FLAC: subframe padding bit must be 0")
    val t = br.readBits(6).toInt
    var wasted = 0
    if (br.readBit() == 1) wasted = br.readUnary() + 1
    val eb = bps - wasted
    require(eb > 0, s"FLAC: wasted bits $wasted exhaust sample size $bps")
    val s = new Array[Int](blockSize)
    if (t == 0) { // CONSTANT
      java.util.Arrays.fill(s, br.readSigned(eb))
    } else if (t == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { s(i) = br.readSigned(eb); i += 1 }
    } else if ((t & 0x38) == 0x08 && (t & 0x07) <= 4) { // FIXED, order 0–4
      val order = t & 0x07
      require(order <= blockSize, s"FLAC: fixed order $order > block size")
      var i = 0
      while (i < order) { s(i) = br.readSigned(eb); i += 1 }
      readFlacResidual(br, blockSize, order, s)
      i = order
      while (i < blockSize) {
        val p = order match {
          case 0 => 0L
          case 1 => s(i - 1).toLong
          case 2 => 2L * s(i - 1) - s(i - 2)
          case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
          case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
        }
        s(i) = (p + s(i)).toInt
        i += 1
      }
    } else if ((t & 0x20) != 0) { // LPC, order 1–32
      val order = (t & 0x1f) + 1
      require(order <= blockSize, s"FLAC: LPC order $order > block size")
      var i = 0
      while (i < order) { s(i) = br.readSigned(eb); i += 1 }
      val precM1 = br.readBits(4).toInt
      require(precM1 != 15, "FLAC: invalid LPC precision code")
      val prec = precM1 + 1
      val shift = br.readSigned(5)
      require(shift >= 0, s"FLAC: negative LPC shift $shift")
      val coef = new Array[Int](order)
      i = 0
      while (i < order) { coef(i) = br.readSigned(prec); i += 1 }
      readFlacResidual(br, blockSize, order, s)
      i = order
      while (i < blockSize) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coef(j).toLong * s(i - 1 - j); j += 1 }
        s(i) = ((acc >> shift) + s(i)).toInt
        i += 1
      }
    } else {
      throw new IllegalArgumentException(s"FLAC: reserved subframe type $t")
    }
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { s(i) = s(i) << wasted; i += 1 }
    }
    s
  }

  /** Decode a FLAC stream (16-bit, mono or stereo) to interleaved PCM16 —
    * stereo interleaves L,R,L,R so [[Audio]]'s flat sample array carries
    * either layout and the feature fold is channel-agnostic. Verifies every
    * frame's CRC-8 header and CRC-16 footer; rejects truncation, reserved
    * codes, and dimension overflow as IllegalArgumentException.
    */
  def decodeFlac(bytes: Array[Byte]): Audio = {
    require(bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L' &&
      bytes(2) == 'a' && bytes(3) == 'C', "FLAC: missing fLaC magic")
    var pos = 4
    var last = false
    var sampleRate = -1
    var channels = -1
    var bps = -1
    var total = -1L
    var seenInfo = false
    while (!last) {
      require(pos + 4 <= bytes.length, "FLAC: truncated metadata block header")
      val hdr = bytes(pos) & 0xff
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val blen = ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) |
        (bytes(pos + 3) & 0xff)
      require(btype != 127, "FLAC: invalid metadata block type 127")
      require(pos + 4L + blen <= bytes.length, s"FLAC: metadata block at $pos overruns the file")
      if (btype == 0) { // STREAMINFO
        require(blen == 34, s"FLAC: STREAMINFO must be 34 bytes, got $blen")
        val br = new BitReader(bytes, pos + 4)
        br.readBits(16); br.readBits(16) // min/max block size
        br.readBits(24); br.readBits(24) // min/max frame size
        sampleRate = br.readBits(20).toInt
        channels = br.readBits(3).toInt + 1
        bps = br.readBits(5).toInt + 1
        total = br.readBits(36)
        seenInfo = true
      }
      pos += 4 + blen
    }
    require(seenInfo, "FLAC: missing STREAMINFO")
    require(sampleRate > 0, s"FLAC: bad sample rate $sampleRate")
    require(bps == 16, s"FLAC: only 16-bit streams supported, got $bps")
    require(channels == 1 || channels == 2,
      s"FLAC: only mono/stereo supported, got $channels channels")
    require(total > 0, "FLAC: unknown total sample count unsupported")
    require(total * channels <= Int.MaxValue / 4,
      s"FLAC: sample count $total overflows")
    val out = new Array[Short]((total * channels).toInt)
    var done = 0L // per-channel samples decoded so far
    while (done < total) {
      val frameStart = pos
      val br = new BitReader(bytes, pos)
      require(br.readBits(14) == 0x3ffe, s"FLAC: bad frame sync at $frameStart")
      require(br.readBit() == 0, "FLAC: reserved frame-header bit set")
      br.readBit() // blocking strategy — frame/sample number parses the same
      val bsCode = br.readBits(4).toInt
      val srCode = br.readBits(4).toInt
      val chAsgn = br.readBits(4).toInt
      val ssCode = br.readBits(3).toInt
      require(br.readBit() == 0, "FLAC: reserved frame-header bit set")
      readFlacUtf8(br)
      val blockSize = bsCode match {
        case 0 => throw new IllegalArgumentException("FLAC: reserved block size code 0")
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => br.readBits(8).toInt + 1
        case 7 => br.readBits(16).toInt + 1
        case c => 256 << (c - 8)
      }
      val frameRate = srCode match {
        case 0 => sampleRate
        case 1 => 88200
        case 2 => 176400
        case 3 => 192000
        case 4 => 8000
        case 5 => 16000
        case 6 => 22050
        case 7 => 24000
        case 8 => 32000
        case 9 => 44100
        case 10 => 48000
        case 11 => 96000
        case 12 => br.readBits(8).toInt * 1000
        case 13 => br.readBits(16).toInt
        case 14 => br.readBits(16).toInt * 10
        case _ => throw new IllegalArgumentException("FLAC: invalid sample rate code 15")
      }
      require(frameRate == sampleRate,
        s"FLAC: frame sample rate $frameRate != STREAMINFO $sampleRate")
      val frameBps = ssCode match {
        case 0 => bps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case _ => throw new IllegalArgumentException(s"FLAC: reserved sample size code $ssCode")
      }
      require(frameBps == bps, s"FLAC: frame bps $frameBps != STREAMINFO $bps")
      val nCh = if (chAsgn <= 7) chAsgn + 1 else 2
      require(nCh == channels, s"FLAC: frame channels $nCh != STREAMINFO $channels")
      require(chAsgn <= 10, s"FLAC: reserved channel assignment $chAsgn")
      require(done + blockSize <= total,
        s"FLAC: frames carry more samples than STREAMINFO's $total")
      require(br.isAligned, "FLAC: frame header must be byte-aligned before CRC-8")
      val crc8Pos = br.bytePos
      val gotCrc8 = br.readBits(8).toInt
      require(gotCrc8 == flacCrc8(bytes, frameStart, crc8Pos),
        s"FLAC: frame header CRC-8 mismatch at $frameStart")
      // subframes — the side channel of L/S, R/S, M/S carries one extra bit
      val chans = new Array[Array[Int]](nCh)
      var ch = 0
      while (ch < nCh) {
        val extra = chAsgn match {
          case 8 => if (ch == 1) 1 else 0  // left/side
          case 9 => if (ch == 0) 1 else 0  // side/right
          case 10 => if (ch == 1) 1 else 0 // mid/side
          case _ => 0
        }
        chans(ch) = readFlacSubframe(br, blockSize, bps + extra)
        ch += 1
      }
      br.alignByte()
      val crc16Pos = br.bytePos
      val gotCrc16 = br.readBits(16).toInt
      require(gotCrc16 == flacCrc16(bytes, frameStart, crc16Pos),
        s"FLAC: frame CRC-16 mismatch at $frameStart")
      // undo stereo decorrelation and interleave
      var i = 0
      if (nCh == 1) {
        val c0 = chans(0)
        while (i < blockSize) {
          out((done + i).toInt) = c0(i).toShort; i += 1
        }
      } else {
        val c0 = chans(0); val c1 = chans(1)
        val base = (done * 2).toInt
        while (i < blockSize) {
          val (l, r) = chAsgn match {
            case 8 => (c0(i), c0(i) - c1(i))              // left, side
            case 9 => (c1(i) + c0(i), c1(i))              // side, right
            case 10 =>                                     // mid, side
              val side = c1(i)
              val mid2 = (c0(i) << 1) | (side & 1)
              ((mid2 + side) >> 1, (mid2 - side) >> 1)
            case _ => (c0(i), c1(i))                       // independent
          }
          out(base + 2 * i) = l.toShort
          out(base + 2 * i + 1) = r.toShort
          i += 1
        }
      }
      done += blockSize
      pos = br.bytePos
    }
    Audio(sampleRate, out)
  }

  /** Encode interleaved PCM16 to FLAC (for round-trips and fixtures): fixed
    * predictors with per-partition best-of Rice-vs-escape residuals,
    * CONSTANT subframes for flat runs, wasted-bits extraction, and the four
    * stereo modes. `orderOf(frameIdx, ch)` picks the fixed predictor order
    * (clamped to the frame), `modeOf(frameIdx)` the stereo mode (0
    * independent, 1 left/side, 2 right/side, 3 mid/side — ignored for
    * mono), `partOrderOf(frameIdx)` the Rice partition order (clamped to
    * divide the block size).
    */
  def encodeFlac(audio: Audio, channels: Int = 1, blockSize: Int = 64,
                 orderOf: (Int, Int) => Int = (_, _) => 2,
                 modeOf: Int => Int = _ => 0,
                 partOrderOf: Int => Int = _ => 0): Array[Byte] = {
    require(channels == 1 || channels == 2, s"channels must be 1 or 2, got $channels")
    require(blockSize >= 8 && blockSize <= 65535, s"bad block size $blockSize")
    require(audio.samples.length % channels == 0,
      "interleaved sample count must divide by channel count")
    val perCh = audio.samples.length / channels
    require(perCh > 0, "cannot encode an empty stream")

    final class BitWriter {
      private val buf = new java.io.ByteArrayOutputStream()
      private var acc = 0L
      private var nb = 0
      def putBits(v: Long, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) {
          acc = (acc << 1) | ((v >> i) & 1L)
          nb += 1
          if (nb == 8) { buf.write(acc.toInt & 0xff); acc = 0; nb = 0 }
          i -= 1
        }
      }
      def putSigned(v: Int, n: Int): Unit = putBits(v.toLong & ((1L << n) - 1), n)
      def putUnary(q: Int): Unit = { var i = 0; while (i < q) { putBits(0, 1); i += 1 }; putBits(1, 1) }
      def align(): Unit = if (nb != 0) putBits(0, 8 - nb)
      def toBytes: Array[Byte] = { require(nb == 0, "unaligned"); buf.toByteArray }
    }

    def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
    def bitsFor(v: Long): Int = { // minimal signed width that holds v
      var n = 1
      while (n < 32 && (v < -(1L << (n - 1)) || v >= (1L << (n - 1)))) n += 1
      n
    }

    // one channel's subframe: constant | fixed-order + rice/escape residual
    def writeSubframe(w: BitWriter, s: Array[Int], bps: Int, wantOrder: Int,
                      wantPo: Int): Unit = {
      w.putBits(0, 1) // padding
      val allEq = s.forall(_ == s(0))
      // wasted bits: common trailing zeros (capped so ≥1 bit remains)
      var wasted = 0
      if (!allEq) {
        var tz = 32
        var i = 0
        while (i < s.length && tz > 0) {
          if (s(i) != 0) tz = math.min(tz, java.lang.Integer.numberOfTrailingZeros(s(i)))
          i += 1
        }
        if (tz >= 32) tz = 0
        wasted = math.min(tz, bps - 2)
      }
      val eb = bps - wasted
      val e = if (wasted > 0) s.map(_ >> wasted) else s
      if (allEq) {
        w.putBits(0, 6) // CONSTANT
        w.putBits(0, 1) // no wasted bits
        w.putSigned(e(0), bps)
        return
      }
      val order = math.max(0, math.min(math.min(wantOrder, 4), e.length - 1))
      w.putBits(0x08 | order, 6) // FIXED
      if (wasted > 0) { w.putBits(1, 1); w.putUnary(wasted - 1) }
      else w.putBits(0, 1)
      var i = 0
      while (i < order) { w.putSigned(e(i), eb); i += 1 }
      val res = new Array[Long](e.length - order)
      i = order
      while (i < e.length) {
        val p = order match {
          case 0 => 0L
          case 1 => e(i - 1).toLong
          case 2 => 2L * e(i - 1) - e(i - 2)
          case 3 => 3L * e(i - 1) - 3L * e(i - 2) + e(i - 3)
          case _ => 4L * e(i - 1) - 6L * e(i - 2) + 4L * e(i - 3) - e(i - 4)
        }
        res(i - order) = e(i) - p
        i += 1
      }
      // partition order: clamp until it divides blockSize and leaves the
      // first partition non-negative
      var po = math.max(0, math.min(wantPo, 4))
      while (po > 0 && (e.length % (1 << po) != 0 || (e.length >> po) < order)) po -= 1
      if (e.length % (1 << po) != 0) po = 0
      w.putBits(0, 2) // method: Rice, 4-bit params
      w.putBits(po, 4)
      val parts = 1 << po
      var start = 0
      var p = 0
      while (p < parts) {
        val cnt = (e.length >> po) - (if (p == 0) order else 0)
        // best 4-bit rice param vs raw escape for THIS partition
        var bestParam = 0
        var bestCost = Long.MaxValue
        var param = 0
        while (param <= 14) {
          var cost = 0L
          var k = 0
          while (k < cnt) {
            cost += (zigzag(res(start + k)) >>> param) + 1 + param
            k += 1
          }
          if (cost < bestCost) { bestCost = cost; bestParam = param }
          param += 1
        }
        val rawBits = {
          var m = 1
          var k = 0
          while (k < cnt) { m = math.max(m, bitsFor(res(start + k))); k += 1 }
          m
        }
        if (5L + rawBits.toLong * cnt < bestCost) { // escape wins
          w.putBits(15, 4)
          w.putBits(rawBits, 5)
          var k = 0
          while (k < cnt) {
            w.putBits(res(start + k) & ((1L << rawBits) - 1), rawBits)
            k += 1
          }
        } else {
          w.putBits(bestParam, 4)
          var k = 0
          while (k < cnt) {
            val z = zigzag(res(start + k))
            w.putUnary((z >>> bestParam).toInt)
            if (bestParam > 0) w.putBits(z & ((1L << bestParam) - 1), bestParam)
            k += 1
          }
        }
        start += cnt
        p += 1
      }
    }

    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val lastBs = { val r = perCh % blockSize; if (r == 0) blockSize else r }
    val info = new BitWriter
    info.putBits(math.min(blockSize, lastBs), 16)
    info.putBits(blockSize, 16)
    info.putBits(0, 24); info.putBits(0, 24) // frame sizes unknown
    info.putBits(audio.sampleRate, 20)
    info.putBits(channels - 1, 3)
    info.putBits(15, 5) // bps - 1
    info.putBits(perCh, 36)
    (0 until 16).foreach(_ => info.putBits(0, 8)) // MD5 unset
    val infoBytes = info.toBytes
    out.write(0x80) // last metadata block, type 0 (STREAMINFO)
    out.write(0); out.write(0); out.write(infoBytes.length)
    out.write(infoBytes)

    val nFrames = (perCh + blockSize - 1) / blockSize
    var f = 0
    while (f < nFrames) {
      val off = f * blockSize
      val n = math.min(blockSize, perCh - off)
      val w = new BitWriter
      w.putBits(0x3ffe, 14)
      w.putBits(0, 1) // reserved
      w.putBits(0, 1) // fixed-blocksize strategy
      w.putBits(7, 4) // block size: 16-bit value-1 at header end
      w.putBits(0, 4) // sample rate: from STREAMINFO
      val mode = if (channels == 1) -1 else modeOf(f) & 3
      val chBits = if (channels == 1) 0 else mode match {
        case 1 => 8 // left/side
        case 2 => 9 // right/side
        case 3 => 10 // mid/side
        case _ => 1 // 2 independent channels
      }
      w.putBits(chBits, 4)
      w.putBits(4, 3) // sample size: 16
      w.putBits(0, 1) // reserved
      require(f < 128, "encodeFlac: >127 frames would need multi-byte numbers")
      w.putBits(f, 8) // UTF-8 frame number, single byte
      w.putBits(n - 1, 16)
      w.align() // header is byte-aligned here by construction (56 bits)
      val hdrBytes = w.toBytes
      val frame = new java.io.ByteArrayOutputStream()
      frame.write(hdrBytes)
      frame.write(flacCrc8(hdrBytes, 0, hdrBytes.length))
      // channel data after decorrelation
      val body = new BitWriter
      if (channels == 1) {
        val s = new Array[Int](n)
        var i = 0
        while (i < n) { s(i) = audio.samples(off + i).toInt; i += 1 }
        writeSubframe(body, s, 16, orderOf(f, 0), partOrderOf(f))
      } else {
        val l = new Array[Int](n); val r = new Array[Int](n)
        var i = 0
        while (i < n) {
          l(i) = audio.samples((off + i) * 2).toInt
          r(i) = audio.samples((off + i) * 2 + 1).toInt
          i += 1
        }
        val (c0, c1, b0, b1) = mode match {
          case 1 => (l, Array.tabulate(n)(i => l(i) - r(i)), 16, 17)
          case 2 => (Array.tabulate(n)(i => l(i) - r(i)), r, 17, 16)
          case 3 => (Array.tabulate(n)(i => (l(i) + r(i)) >> 1),
            Array.tabulate(n)(i => l(i) - r(i)), 16, 17)
          case _ => (l, r, 16, 16)
        }
        writeSubframe(body, c0, b0, orderOf(f, 0), partOrderOf(f))
        writeSubframe(body, c1, b1, orderOf(f, 1), partOrderOf(f))
      }
      body.align()
      frame.write(body.toBytes)
      val frameBytes = frame.toByteArray
      val crc16 = flacCrc16(frameBytes, 0, frameBytes.length)
      out.write(frameBytes)
      out.write((crc16 >> 8) & 0xff)
      out.write(crc16 & 0xff)
      f += 1
    }
    out.toByteArray
  }
}
