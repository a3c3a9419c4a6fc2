package graft.operators

import scala.collection.mutable

/** Minimal real GIF87a codec — pure Scala, zero dependencies.
  *
  * The codec-tier ladder so far: [[Bmp]]/[[Wav]] prove fixed-layout
  * parsing, [[Png]] adds a chunked container over the JDK's zlib
  * (LZ77 + Huffman). GIF adds the remaining classic compression
  * family: DICTIONARY coding — a from-scratch LZW with variable-width
  * codes (9→12 bits, LSB-first bit packing), in-band CLEAR/EOI
  * control codes, dictionary resets at the 4096-entry cap, and the
  * KwKwK self-referential corner case — plus GIF's own framing
  * (logical screen descriptor, global color table, 255-byte data
  * sub-blocks, trailer). Compression is lossless, so pixel readouts
  * stay formula-exact for a DuckDB oracle even though the container
  * byte length is not.
  *
  * The subset is GIF87a, single full-frame image, 256-entry global
  * color table, no interlace — the format's canonical core. Structure
  * and LZW semantics follow the public GIF87a specification (CompuServe
  * 1987); the reference's data model treats payloads as opaque bytes
  * (`/root/reference/src/main/scala/com/eneco/trading/kafka/connect/ftp/source/SimpleFileConverter.scala:50-51`),
  * and this codec is the decode step an image pipeline bolts onto it.
  * It is not ImageIO's GIF reader, which on `Gif.fromText(23,
  * "portable network graphics, exactly")` (853 bytes) accepts one
  * trailing byte and one truncation that this decoder rejects.
  */
object Gif {

  /** Decoded image: pixels top-down row-major packed 0xRRGGBB after
    * palette lookup, plus the palette-index readout the LZW layer
    * actually decoded (useful to price dictionary behavior). */
  final case class Image(
      width: Int, height: Int, pixels: Array[Int], indices: Array[Int])

  private val Header = "GIF87a".getBytes("US-ASCII")
  private val MinCodeSize = 8     // 256-color images
  private val ClearCode = 1 << MinCodeSize
  private val EoiCode = ClearCode + 1
  private val FirstFree = EoiCode + 1
  private val MaxDict = 4096      // 12-bit code ceiling

  private def putU16(b: mutable.ArrayBuilder[Byte], v: Int): Unit = {
    b += (v & 0xff).toByte        // GIF is little-endian, like BMP/WAV
    b += ((v >> 8) & 0xff).toByte
  }

  private def getU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** The 256-entry palette both the encoder writes and the oracle
    * replays: index i maps to (i, (3i+7) mod 256, (5i+11) mod 256).
    * The decoder does NOT assume this — it reads the table from the
    * bytes — the formula only lets the oracle price color sums. */
  def paletteR(i: Int): Int = i & 0xff
  def paletteG(i: Int): Int = (3 * i + 7) % 256
  def paletteB(i: Int): Int = (5 * i + 11) % 256

  /** GIF-variant LZW compress: variable code width starting at 9
    * bits, CLEAR emitted up-front and at every dictionary reset,
    * EOI at the end, codes packed LSB-first. */
  private def lzwEncode(data: Array[Int]): Array[Byte] = {
    val out = mutable.ArrayBuilder.make[Byte]
    var bitBuf = 0L
    var bitCnt = 0
    var codeSize = MinCodeSize + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += codeSize
      while (bitCnt >= 8) {
        out += (bitBuf & 0xff).toByte
        bitBuf >>= 8
        bitCnt -= 8
      }
    }
    // dictionary: (prefix code, next byte) -> code
    var dict = mutable.LongMap.empty[Int]
    var next = FirstFree
    def key(prefix: Int, k: Int): Long = (prefix.toLong << 8) | k
    emit(ClearCode)
    var cur = data(0)
    var i = 1
    while (i < data.length) {
      val k = data(i)
      val kk = key(cur, k)
      dict.get(kk) match {
        case Some(code) => cur = code
        case None =>
          emit(cur)
          if (next == MaxDict) {
            emit(ClearCode) // full: reset in-band, the spec's path
            dict = mutable.LongMap.empty[Int]
            next = FirstFree
            codeSize = MinCodeSize + 1
          } else {
            dict(kk) = next
            // width grows when the just-assigned code reaches the
            // current ceiling (GIF has NO "early change", unlike TIFF)
            if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
            next += 1
          }
          cur = k
      }
      i += 1
    }
    emit(cur)
    emit(EoiCode)
    if (bitCnt > 0) out += (bitBuf & 0xff).toByte
    out.result()
  }

  /** GIF-variant LZW decompress with full hostile-input validation:
    * every code must be in range, the first code after CLEAR must be
    * a literal, the stream must end in EOI, and the output must hold
    * EXACTLY `expect` pixels — anything else fails loudly. */
  private def lzwDecode(bytes: Array[Byte], expect: Int): Array[Int] = {
    val out = new Array[Int](expect)
    var n = 0
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var codeSize = MinCodeSize + 1
    // dict[c] = (prefix code or -1, last byte); literals implicit
    val dictPrefix = new Array[Int](MaxDict)
    val dictLast = new Array[Int](MaxDict)
    var next = FirstFree
    var prev = -1
    def entryBytes(code: Int): Array[Int] = {
      var c = code
      var len = 0
      while (c >= FirstFree) { len += 1; c = dictPrefix(c) }
      val buf = new Array[Int](len + 1)
      c = code
      var j = len
      while (c >= FirstFree) { buf(j) = dictLast(c); j -= 1; c = dictPrefix(c) }
      buf(0) = c
      buf
    }
    def firstByte(code: Int): Int = {
      var c = code
      while (c >= FirstFree) c = dictPrefix(c)
      c
    }
    var done = false
    while (!done) {
      while (bitCnt < codeSize) {
        require(pos < bytes.length,
          "gif: lzw stream ended before the EOI code")
        bitBuf |= (bytes(pos) & 0xffL) << bitCnt
        bitCnt += 8
        pos += 1
      }
      val code = (bitBuf & ((1L << codeSize) - 1)).toInt
      bitBuf >>= codeSize
      bitCnt -= codeSize
      if (code == ClearCode) {
        next = FirstFree
        codeSize = MinCodeSize + 1
        prev = -1
      } else if (code == EoiCode) {
        done = true
      } else if (prev == -1) {
        require(code < ClearCode,
          s"gif: first code after clear must be a literal, got $code")
        require(n < expect, "gif: more pixels than the descriptor claims")
        out(n) = code; n += 1
        prev = code
      } else {
        require(code <= next && code < MaxDict,
          s"gif: code $code beyond dictionary size $next")
        val entry =
          if (code < ClearCode) Array(code)
          else if (code < next) entryBytes(code)
          else entryBytes(prev) :+ firstByte(prev) // the KwKwK case
        require(n + entry.length <= expect,
          "gif: more pixels than the descriptor claims")
        entry.foreach { b => out(n) = b; n += 1 }
        if (next < MaxDict) {
          dictPrefix(next) = prev
          dictLast(next) = entry(0)
          next += 1
          // the decoder trails the encoder by ONE dictionary entry, so
          // it grows the width when its POST-add free index reaches the
          // ceiling — the classic off-by-one every LZW pairing must get
          // right (the encoder checks its PRE-increment index)
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    require(n == expect, s"gif: decoded $n pixels, descriptor claims $expect")
    // trailing payload bits after EOI are padding zeros only
    require(bitBuf == 0L, "gif: nonzero bits after the EOI code")
    require(pos == bytes.length, "gif: payload bytes after the EOI code")
    out
  }

  /** Encode w×h indexed pixels (values 0-255, top-down row-major)
    * as a single-image GIF87a with the formula palette. */
  def encode(w: Int, h: Int, idx: Int => Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff,
      s"gif encode: bad dims ${w}x$h")
    val out = mutable.ArrayBuilder.make[Byte]
    out ++= Header
    putU16(out, w); putU16(out, h)     // logical screen descriptor
    out += 0xf7.toByte                 // GCT present, 8-bit, 256 entries
    out += 0 // background color index
    out += 0 // pixel aspect ratio: unspecified
    var i = 0
    while (i < 256) {                  // global color table
      out += paletteR(i).toByte; out += paletteG(i).toByte
      out += paletteB(i).toByte
      i += 1
    }
    out += 0x2c                        // image descriptor
    putU16(out, 0); putU16(out, 0)     // full frame at origin
    putU16(out, w); putU16(out, h)
    out += 0 // no local color table, no interlace
    out += MinCodeSize.toByte
    val data = new Array[Int](w * h)
    i = 0
    while (i < data.length) {
      val v = idx(i)
      require(v >= 0 && v < 256, s"gif encode: index $v out of range")
      data(i) = v
      i += 1
    }
    val z = lzwEncode(data)
    var off = 0
    while (off < z.length) {           // 255-byte data sub-blocks
      val len = math.min(255, z.length - off)
      out += len.toByte
      var j = 0
      while (j < len) { out += z(off + j); j += 1 }
      off += len
    }
    out += 0    // block terminator
    out += 0x3b // trailer
    out.result()
  }

  /** Parse a single-image GIF87a. Every structural claim is
    * validated — header, descriptor flags, sub-block framing, LZW
    * code stream, trailer, no trailing bytes — so hostile bytes fail
    * loudly, never shift pixels. */
  def decode(bytes: Array[Byte]): Image = {
    require(bytes.length >= 6 + 7 + 768 + 10 + 1 + 2,
      s"gif: ${bytes.length} bytes cannot hold header+GCT+image")
    require((0 until 6).forall(i => bytes(i) == Header(i)),
      "gif: bad header (GIF87a expected)")
    val w = getU16(bytes, 6)
    val h = getU16(bytes, 8)
    require(w > 0 && h > 0, s"gif: degenerate dims ${w}x$h")
    require(w.toLong * h <= (1L << 26),
      s"gif: ${w}x$h exceeds the 64M-pixel decode cap")
    val packed = bytes(10) & 0xff
    require(packed == 0xf7,
      f"gif: screen descriptor flags 0x$packed%02x unsupported " +
        "(need a 256-entry global color table)")
    require(bytes(11) == 0, "gif: nonzero background color index")
    require(bytes(12) == 0, "gif: nonzero pixel aspect ratio")
    val gct = new Array[Int](256)
    var i = 0
    while (i < 256) {
      gct(i) = ((bytes(13 + 3 * i) & 0xff) << 16) |
        ((bytes(14 + 3 * i) & 0xff) << 8) | (bytes(15 + 3 * i) & 0xff)
      i += 1
    }
    var off = 13 + 768
    require((bytes(off) & 0xff) == 0x2c,
      f"gif: expected image descriptor, got 0x${bytes(off) & 0xff}%02x")
    require(getU16(bytes, off + 1) == 0 && getU16(bytes, off + 3) == 0,
      "gif: image not at origin")
    require(getU16(bytes, off + 5) == w && getU16(bytes, off + 7) == h,
      "gif: image dims disagree with the screen descriptor")
    require(bytes(off + 9) == 0,
      "gif: local color table / interlace unsupported")
    off += 10
    require((bytes(off) & 0xff) == MinCodeSize,
      s"gif: LZW min code size ${bytes(off) & 0xff} != $MinCodeSize")
    off += 1
    val z = mutable.ArrayBuilder.make[Byte]
    var blockLen = -1
    while ({ require(off < bytes.length, "gif: truncated sub-blocks")
      blockLen = bytes(off) & 0xff; off += 1; blockLen != 0 }) {
      require(off + blockLen <= bytes.length,
        s"gif: sub-block of $blockLen overruns the file")
      var j = 0
      while (j < blockLen) { z += bytes(off + j); j += 1 }
      off += blockLen
    }
    require(off < bytes.length && (bytes(off) & 0xff) == 0x3b,
      "gif: missing trailer")
    require(off + 1 == bytes.length, "gif: trailing bytes after trailer")
    val idx = lzwDecode(z.result(), w * h)
    val px = new Array[Int](w * h)
    i = 0
    while (i < px.length) { px(i) = gct(idx(i)); i += 1 }
    Image(w, h, px, idx)
  }

  /** Deterministic payload generator behind `mm_gif_decode`: a real
    * GIF whose dims and palette indices derive from the document's
    * printable-ASCII text by pure integer arithmetic — the SAME
    * formula the DuckDB oracle replays through the palette formulas.
    * Constants differ from [[Bmp.fromText]] and [[Png.fromText]] so a
    * swapped codec cannot hash-match; dims are sized so most corpora
    * push the LZW dictionary through at least one width growth. */
  def fromText(docId: Long, t: String): Array[Byte] = {
    val m = t.length
    val w = (m % 17) + 5
    val h = (m % 7) + 4
    encode(w, h, { i =>
      val c = t.charAt(i % m).toInt
      ((c * 13L + i * 29L + docId) % 256L).toInt
    })
  }
}
