package graft.operators

/** Minimal real WAV (RIFF/PCM) codec — pure Scala, zero deps.
  *
  * The audio twin of [[Bmp]]: where `mm_decode`/`mm_resize` exercise a
  * real image parse, `mm_wav_decode`/`mm_wav_frames` exercise a real
  * audio parse — RIFF magic, little-endian chunk sizes, the canonical
  * 44-byte mono PCM16 header, and signed 16-bit little-endian sample
  * words. The format subset is fixed-layout (PCM, 1 channel, 16-bit,
  * single `data` chunk), so every field the decoder reads is plain
  * byte arithmetic a DuckDB oracle can price from the generating
  * formula without a codec of its own.
  *
  * The reference's data model treats payloads as opaque bytes
  * (`/root/reference/src/main/scala/com/eneco/trading/kafka/connect/ftp/source/SimpleFileConverter.scala:50-51`);
  * this codec is the decode step an audio pipeline bolts onto that
  * model, kept deliberately small (canonical-header PCM16 mono only).
  * It is not AudioSystem, which decodes headers this decoder rejects:
  * a flipped RIFF-size bit decodes, flipping bit 3 of a 140-byte data
  * size silently drops 8 bytes, and flipping bit 1 of the channel
  * count yields 3-channel audio.
  */
object Wav {

  /** Decoded audio: `samples` are the signed 16-bit PCM values in
    * file order (one channel, so file order IS time order — no
    * layout un-flip like BMP's bottom-up rows, but the little-endian
    * signed read is what the position-weighted checksum pins). */
  final case class Audio(
      sampleRate: Int, channels: Int, bits: Int, fileSize: Long,
      samples: Array[Int])

  private def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
  }

  private def putU32(b: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 4) { b(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
  }

  private def putTag(b: Array[Byte], off: Int, tag: String): Unit = {
    var i = 0
    while (i < 4) { b(off + i) = tag.charAt(i).toByte; i += 1 }
  }

  private def getU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def getU32(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 4) { v |= (b(off + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  private def hasTag(b: Array[Byte], off: Int, tag: String): Boolean =
    (0 until 4).forall(i => b(off + i) == tag.charAt(i).toByte)

  /** Encode mono PCM16 with the canonical 44-byte header. Sample
    * words are little-endian two's-complement, per the format. */
  def encode(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"wav: bad sample rate $sampleRate")
    val dataSize = samples.length * 2L
    val size = 44L + dataSize
    require(size <= Int.MaxValue, s"wav: clip too large ($size bytes)")
    val out = new Array[Byte](size.toInt)
    putTag(out, 0, "RIFF")
    putU32(out, 4, size - 8)
    putTag(out, 8, "WAVE")
    putTag(out, 12, "fmt ")
    putU32(out, 16, 16L)               // PCM fmt chunk body size
    putU16(out, 20, 1)                 // audio format: PCM
    putU16(out, 22, 1)                 // channels: mono
    putU32(out, 24, sampleRate.toLong)
    putU32(out, 28, sampleRate * 2L)   // byte rate = rate · block align
    putU16(out, 32, 2)                 // block align = channels · 16/8
    putU16(out, 34, 16)                // bits per sample
    putTag(out, 36, "data")
    putU32(out, 40, dataSize)
    var i = 0
    while (i < samples.length) {
      putU16(out, 44 + i * 2, samples(i) & 0xffff)
      i += 1
    }
    out
  }

  /** Parse canonical-header mono PCM16. Every structural claim the
    * header makes is validated against the actual byte array, so a
    * wrong chunk size, an inconsistent byte rate, or a truncated
    * data chunk fails loudly instead of yielding shifted samples. */
  def decode(bytes: Array[Byte]): Audio = {
    require(bytes.length >= 44, s"wav: ${bytes.length} bytes < 44-byte header")
    require(hasTag(bytes, 0, "RIFF") && hasTag(bytes, 8, "WAVE"),
      "wav: bad RIFF/WAVE magic")
    require(getU32(bytes, 4) == bytes.length - 8L,
      s"wav: RIFF size ${getU32(bytes, 4)} != ${bytes.length - 8}")
    require(hasTag(bytes, 12, "fmt ") && getU32(bytes, 16) == 16L,
      "wav: missing canonical PCM fmt chunk")
    require(getU16(bytes, 20) == 1, "wav: non-PCM encoding unsupported")
    val channels = getU16(bytes, 22)
    require(channels == 1, s"wav: $channels channels unsupported")
    val rate = getU32(bytes, 24)
    require(rate > 0 && rate <= Int.MaxValue, s"wav: bad sample rate $rate")
    val bits = getU16(bytes, 34)
    require(bits == 16, s"wav: $bits-bit samples unsupported")
    require(getU32(bytes, 28) == rate * 2 && getU16(bytes, 32) == 2,
      "wav: byte rate / block align inconsistent with mono PCM16")
    require(hasTag(bytes, 36, "data"), "wav: missing data chunk")
    val dataSize = getU32(bytes, 40)
    require(dataSize == bytes.length - 44L && dataSize % 2 == 0,
      s"wav: data chunk $dataSize != ${bytes.length - 44} payload bytes")
    val n = (dataSize / 2).toInt
    val s = new Array[Int](n)
    var i = 0
    while (i < n) {
      // little-endian signed 16-bit: low byte, then sign-carrying high
      s(i) = (bytes(44 + i * 2) & 0xff) | (bytes(45 + i * 2).toInt << 8)
      i += 1
    }
    Audio(rate.toInt, channels, bits, bytes.length.toLong, s)
  }

  /** The deterministic payload generator behind `mm_wav_decode` /
    * `mm_wav_frames`: a real PCM16 clip whose rate and samples derive
    * from the document's printable-ASCII text by pure integer
    * arithmetic — the SAME formula the DuckDB oracle replays, so the
    * queries value-check the real encode→parse→sample-walk round
    * trip. `t` must be non-empty printable ASCII (the caller strips
    * the rest; on that alphabet JVM char codes and DuckDB `unicode()`
    * agree exactly). Sample i with character c = t(i mod m):
    * s_i = ((c·523 + i·1031 + docId) mod 65536) − 32768 — full-range
    * signed values, so the sign-sensitive reads (two's complement,
    * zero crossings) are genuinely exercised. */
  def fromText(docId: Long, t: String): Array[Byte] = {
    val m = t.length
    val n = (m % 97) + 32
    val rate = 8000 + (m % 8) * 1000
    val s = new Array[Short](n)
    var i = 0
    while (i < n) {
      val c = t.charAt(i % m).toInt
      s(i) = (((c * 523L + i * 1031L + docId) % 65536L) - 32768L).toShort
      i += 1
    }
    encode(rate, s)
  }
}
