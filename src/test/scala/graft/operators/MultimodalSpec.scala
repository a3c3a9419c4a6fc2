package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Contracts for the perceptual near-dup sketch: planted-perturbation
  * recall (the pigeonhole banding must find every sketch-identical
  * pair) and discrimination on unrelated payloads.
  */
class MultimodalSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Σr, Σg, Σb and Σ (i+1)·(r + 2g + 4b) of 0xRRGGBB pixels, written
    * independently of the operator's readout. */
  private def readout(px: Array[Int]): Seq[Long] = {
    val rgb = px.toSeq.map(p => ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff))
    Seq(rgb.map(_._1.toLong).sum, rgb.map(_._2.toLong).sum,
      rgb.map(_._3.toLong).sum,
      rgb.zipWithIndex.map { case ((r, g, b), i) =>
        (i + 1L) * (r + 2L * g + 4L * b) }.sum)
  }

  private val decodeCases: Seq[(String, Seq[String], (Long, String) => Seq[Any])] = Seq(
    ("mm_decode", Seq("doc_id", "byte_len", "width", "height", "bpp",
        "n_pixels", "sum_r", "sum_g", "sum_b", "wsum"), { (id, t) =>
      val img = Bmp.decode(Bmp.fromText(id, t))
      Seq(id, img.fileSize, img.width.toLong, img.height.toLong,
        img.bpp.toLong, img.width.toLong * img.height) ++ readout(img.pixels)
    }),
    ("mm_png_decode", Seq("doc_id", "width", "height", "bit_depth",
        "color_type", "n_pixels", "sum_r", "sum_g", "sum_b", "wsum"), { (id, t) =>
      val img = Png.decode(Png.fromText(id, t))
      Seq(id, img.width.toLong, img.height.toLong, img.bitDepth.toLong,
        img.colorType.toLong, img.width.toLong * img.height) ++
        readout(img.pixels)
    }),
    ("mm_gif_decode", Seq("doc_id", "width", "height", "n_pixels",
        "sum_idx", "sum_r", "sum_g", "sum_b", "wsum"), { (id, t) =>
      val img = Gif.decode(Gif.fromText(id, t))
      Seq(id, img.width.toLong, img.height.toLong,
        img.width.toLong * img.height, img.indices.map(_.toLong).sum) ++
        readout(img.pixels)
    }),
    ("mm_rle_decode", Seq("doc_id", "width", "height", "n_pixels",
        "sum_idx", "sum_r", "sum_g", "sum_b", "wsum"), { (id, t) =>
      val img = BmpRle.decode(BmpRle.fromText(id, t))
      Seq(id, img.width.toLong, img.height.toLong,
        img.width.toLong * img.height, img.indices.map(_.toLong).sum) ++
        readout(img.pixels)
    }),
    ("mm_resize", Seq("doc_id", "src_w", "src_h", "out_w", "out_h",
        "sum_r", "sum_g", "sum_b", "wsum"), { (id, t) =>
      val img = Bmp.decode(Bmp.fromText(id, t))
      val out = Array.tabulate(16 * 12) { j =>
        img.pixels((j / 16) * img.height / 12 * img.width +
          (j % 16) * img.width / 16)
      }
      Seq(id, img.width.toLong, img.height.toLong, 16L, 12L) ++ readout(out)
    }),
    ("mm_shard_audio", Seq("doc_id", "byte_len", "sample_rate",
        "n_samples", "sum_s", "wsum", "peak"), { (id, t) =>
      val au = Wav.decode(Wav.fromText(id, t))
      val v = au.samples.toSeq.map(_.toLong)
      Seq(id, au.fileSize, au.sampleRate.toLong, v.size.toLong, v.sum,
        v.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum,
        v.map(x => math.abs(x)).max)
    }))

  test("decode queries: every row equals a per-document recompute " +
      "(ascii text -> fromText -> decode -> readout)") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.filter(c => c >= ' ' && c <= '~') }
      .filter(_._2.nonEmpty).sortBy(_._1)
    docs.length should be > 10
    // mm_shard_audio reads the tar-shard artifact: a fresh root makes
    // this run build it from the same documents
    val artifacts =
      java.nio.file.Files.createTempDirectory("graft-mm-artifacts").toString
    val key = "spark.graft.artifactsRoot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, artifacts)
    try decodeCases.foreach { case (name, cols, recompute) =>
      withClue(s"$name: ") {
        val df = graft.SparkEntry.queries(name)(spark, sf)
        df.columns.toSeq shouldBe cols
        val rows = df.collect().map(_.toSeq)
        rows.length shouldBe docs.length
        rows.zip(docs).foreach { case (row, (id, t)) =>
          withClue(s"doc $id: ") { row shouldBe recompute(id, t) }
        }
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("perceptual near-dup: 100% recall on planted perturbed payloads") {
    import spark.implicits._
    val base = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      // len >= 200 so the 61 sampled positions leave plenty of
      // untouched positions to perturb (a len-62 doc samples 61 of 62)
      .filter(_._2.length >= 200)
    base.length should be > 10
    // perturb ONLY positions the 61-unit resample never reads: the
    // sketch stays bit-identical, so hamming is 0 and the pigeonhole
    // banding must recover every planted pair (no probabilistic slack)
    val planted = base.map { case (id, text) =>
      val len = text.length
      val sampled = (0 to 60).map(b => b * (len - 1) / 60).toSet
      val sb = new StringBuilder(text)
      var changed = 0
      var i = 1
      while (changed < 12 && i < len) {
        if (!sampled.contains(i)) {
          sb.setCharAt(i, if (text.charAt(i) == 'x') 'y' else 'x')
          changed += 1
        }
        i += 7
      }
      changed should be > 0
      (id + 100000L, sb.toString)
    }
    val all = (base ++ planted).toSeq.toDF("doc_id", "text")
    val found = Multimodal.phashPairs(all)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    val expected = base.map { case (id, _) => (id, id + 100000L) }.toSet
    val missed = expected -- found
    withClue(s"missed ${missed.size} of ${expected.size} planted pairs: ") {
      missed shouldBe empty
    }
  }

  test("phash sketch is engine-defined on non-ASCII payloads (printable-ASCII unit stream)") {
    import spark.implicits._
    // Spark ascii() reads the first (signed) UTF-8 byte where DuckDB
    // unicode() reads the code point — they agree only on ASCII. The
    // sketch therefore strips to printable ASCII before resampling: a
    // payload with multibyte characters must sketch EXACTLY like its
    // ASCII subsequence, so both engines compute the same bits on any
    // corpus (and Spark's units can never go negative).
    val ascii = "the quick brown fox jumps over the lazy dog " * 8
    val noisy = ascii.grouped(7)
      .mkString("é") + "中文\n\t" // é, CJK, control chars
    val df = Seq((1L, ascii), (2L, noisy)).toDF("doc_id", "text")
    val sk = Multimodal.phashSketch(df)
      .as[(Long, Long)].collect().toMap
    sk(2L) shouldBe sk(1L)
    // a document with NO printable-ASCII content drops out entirely
    // (matching the empty-payload filter) instead of sketching garbage
    val none = Multimodal.phashSketch(
      Seq((3L, "中文é\n")).toDF("doc_id", "text"))
    none.count() shouldBe 0L
  }

  test("phash discriminates: unrelated payloads rarely pair at the hamming gate") {
    // unrelated fixture texts land ~binomial(60, 1/2) hamming apart
    // (mean 30, sd ~3.9), so the <=13 production gate sits >4σ out and
    // the pair count must stay FAR below the ~125k quadratic — only
    // genuine duplicate-grade payloads survive (measured: 3 pairs on
    // the 500-doc fixture; n/25 = 20 leaves margin for fixture drift
    // while still catching any discrimination collapse, e.g. a broken
    // segment mask pairing whole bands)
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).select($"doc_id", $"text")
    val n = docs.count()
    val pairs = Multimodal.phashPairs(docs).count()
    pairs should be < n / 25
  }

  test("energy segmentation matches a direct single-threaded recompute") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 8)
    val expected = docs.map { case (id, t) =>
      val nf = t.length / 8
      val energies = (0 until nf).map { f =>
        t.substring(f * 8, f * 8 + 8)
          .map(c => { val u = c.toLong - 32; u * u }).sum
      }
      val active = energies.map(_ >= 36000L)
      // maximal runs of active frames
      val runs = active.foldLeft(List.empty[Long]) {
        case (acc, true) if acc.nonEmpty && acc.head > 0 =>
          (acc.head + 1) :: acc.tail
        case (acc, true) => 1L :: acc
        case (acc, false) if acc.nonEmpty && acc.head > 0 => 0L :: acc
        case (acc, false) => acc
      }.filter(_ > 0)
      (id, nf.toLong, runs.sum, runs.size.toLong,
        if (runs.isEmpty) 0L else runs.max)
    }.sortBy(_._1).toSeq
    val got = graft.SparkEntry.queries("mm_energy_segments")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe expected
    // both states actually occur on the fixture
    got.exists(r => r._3 < r._2) shouldBe true
    got.exists(_._4 > 1) shouldBe true
  }

  test("mm_shot_boundary matches a sequential cut-and-runs recompute " +
      "and the detector discriminates") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 8)
    val expected = docs.map { case (id, t) =>
      val nf = t.length / 8
      val energies = (0 until nf).map { f =>
        (0 until 8).map { j =>
          val u = t.charAt(f * 8 + j).toLong; (u - 32) * (u - 32)
        }.sum
      }
      val cuts = (1 until nf).count { f =>
        4 * math.abs(energies(f) - energies(f - 1)) >
          math.max(energies(f), energies(f - 1))
      }.toLong
      val shotLens = {
        val bounds = 0 +: (1 until nf).filter { f =>
          4 * math.abs(energies(f) - energies(f - 1)) >
            math.max(energies(f), energies(f - 1))
        } :+ nf
        bounds.sliding(2).map { case Seq(a, b) => (b - a).toLong }.toSeq
      }
      (id, nf.toLong, cuts, cuts + 1, shotLens.max)
    }.sortBy(_._1).toSeq
    val got = graft.SparkEntry.queries("mm_shot_boundary")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    got shouldBe expected
    // cuts happen, but not everywhere — the threshold discriminates
    got.exists(_._3 > 0) shouldBe true
    got.exists(_._3 == 0) shouldBe true
  }

  test("BMP decoder parses a HAND-WRITTEN planted image exactly — " +
      "bytes authored independently of the encoder") {
    // 2x2, 24bpp: row stride = ((2*3+3)/4)*4 = 8 (2 padding bytes).
    // Logical (top-down) pixels: (0,0)=red, (1,0)=green,
    //                            (0,1)=blue, (1,1)=white.
    // File rows are BOTTOM-UP and BGR, so the first stored row is the
    // logical bottom row (blue, white).
    def u32(v: Long): Seq[Int] =
      Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
        .map(_.toInt)
    val header: Seq[Int] =
      Seq('B'.toInt, 'M'.toInt) ++ u32(54 + 2 * 8) ++ u32(0) ++ u32(54) ++
        u32(40) ++ u32(2) ++ u32(2) ++ Seq(1, 0) ++ Seq(24, 0) ++
        u32(0) ++ u32(16) ++ u32(2835) ++ u32(2835) ++ u32(0) ++ u32(0)
    val rows: Seq[Int] = Seq(
      255, 0, 0,  255, 255, 255,  0, 0, // bottom row: blue, white + pad
      0, 0, 255,  0, 255, 0,      0, 0) // top row: red, green + pad
    val bytes = (header ++ rows).map(_.toByte).toArray
    bytes.length shouldBe 70
    val img = Bmp.decode(bytes)
    (img.width, img.height, img.bpp, img.fileSize) shouldBe (2, 2, 24, 70L)
    img.pixels.toSeq shouldBe Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
  }

  test("BMP encode -> decode round-trips pixels exactly across stride " +
      "paddings and degenerate dims") {
    for (w <- 1 to 6; h <- Seq(1, 2, 5)) {
      val pix = (i: Int) => ((i * 37) % 256, (i * 101 + 13) % 256, (i * 7) % 256)
      val img = Bmp.decode(Bmp.encode(w, h, pix))
      withClue(s"${w}x$h") {
        (img.width, img.height) shouldBe (w, h)
        img.pixels.toSeq shouldBe (0 until w * h).map { i =>
          val (r, g, b) = pix(i); (r << 16) | (g << 8) | b
        }
      }
    }
  }

  test("fromText payloads decode to the oracle's generating formula " +
      "pixel for pixel") {
    val t = "The quick brown fox!"
    val m = t.length // 20 -> w = 24, h = 10
    val img = Bmp.decode(Bmp.fromText(7L, t))
    (img.width, img.height) shouldBe ((m % 21) + 4, (m % 13) + 3)
    for (i <- 0 until img.pixels.length) {
      val c = t.charAt(i % m).toInt
      val expect = ((c % 256) << 16) | (((c * 7 + i) % 256) << 8) |
        ((i * 31 + 7) % 256)
      withClue(s"pixel $i") { img.pixels(i) shouldBe expect }
    }
  }

  test("decoder rejects structural lies: bad magic, wrong declared " +
      "size, truncated pixel array") {
    val good = Bmp.encode(3, 2, i => (i, i, i))
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    an[IllegalArgumentException] should be thrownBy Bmp.decode(badMagic)
    val badSize = good.clone(); badSize(2) = (badSize(2) + 1).toByte
    an[IllegalArgumentException] should be thrownBy Bmp.decode(badSize)
    // consistent file size but a height that overruns the pixel array
    val badH = good.clone(); badH(22) = 200.toByte
    an[IllegalArgumentException] should be thrownBy Bmp.decode(badH)
  }

  test("WAV decode parses a hand-built byte-literal clip, including " +
      "sign extension of the high byte") {
    def u16(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff)
    def u32(v: Long) = (0 until 4).map(i => ((v >> (8 * i)) & 0xff).toInt)
    def tag(t: String) = t.map(_.toInt)
    // 3 samples: +1, -2 (0xFFFE little-endian: FE FF), -32768 (00 80)
    val bytes = (tag("RIFF") ++ u32(42L) ++ tag("WAVE") ++
      tag("fmt ") ++ u32(16L) ++ u16(1) ++ u16(1) ++ u32(8000L) ++
      u32(16000L) ++ u16(2) ++ u16(16) ++ tag("data") ++ u32(6L) ++
      u16(1) ++ Seq(0xfe, 0xff) ++ Seq(0x00, 0x80)).map(_.toByte).toArray
    bytes.length shouldBe 50
    val au = Wav.decode(bytes)
    (au.sampleRate, au.channels, au.bits, au.fileSize) shouldBe
      (8000, 1, 16, 50L)
    au.samples.toSeq shouldBe Seq(1, -2, -32768)
  }

  test("WAV encode -> decode round-trips samples exactly across sizes " +
      "and the full signed range") {
    for (n <- Seq(1, 2, 31, 97)) {
      val s = Array.tabulate(n)(i =>
        (((i * 7919L + 3) % 65536L) - 32768L).toShort)
      val au = Wav.decode(Wav.encode(11025, s))
      withClue(s"n=$n") {
        au.sampleRate shouldBe 11025
        au.samples.toSeq shouldBe s.map(_.toInt).toSeq
      }
    }
  }

  test("fromText clips decode to the oracle's generating formula " +
      "sample for sample") {
    val t = "The quick brown fox!"
    val m = t.length // 20 -> n = 52, rate = 12000
    val au = Wav.decode(Wav.fromText(7L, t))
    au.samples.length shouldBe (m % 97) + 32
    au.sampleRate shouldBe 8000 + (m % 8) * 1000
    for (i <- au.samples.indices) {
      val c = t.charAt(i % m).toInt
      val expect = ((c * 523L + i * 1031L + 7L) % 65536L - 32768L).toInt
      withClue(s"sample $i") { au.samples(i) shouldBe expect }
    }
  }

  // ── hostile-bytes fuzz (round-11 verdict #4) ──
  // The decoders validate every structural header claim; these cases
  // PROVE the requires by feeding mutated payloads end to end. The
  // contract: every mutation either decodes to the IDENTICAL result
  // (the flipped bit lies outside the parsed subset — BMP reserved /
  // dpi / palette-count bytes) or throws the codec's own message —
  // never a silently shifted pixel or sample.

  private def identicalImages(a: Bmp.Image, b: Bmp.Image): Boolean =
    a.width == b.width && a.height == b.height && a.bpp == b.bpp &&
      a.pixels.sameElements(b.pixels)

  test("BMP fuzz: every header bit-flip decodes identically or throws; " +
      "truncation and extension always throw") {
    val good = Bmp.fromText(11L, "fuzz me gently, codec! 0123456789")
    val base = Bmp.decode(good)
    // single-bit flips across the whole 54-byte header, all 8 bits
    for (off <- 0 until 54; bit <- 0 until 8) {
      val m = good.clone(); m(off) = (m(off) ^ (1 << bit)).toByte
      withClue(s"header byte $off bit $bit: ") {
        try {
          val img = Bmp.decode(m)
          // decode SUCCEEDED: the bit must be outside the parsed
          // subset and the image bit-identical — never shifted
          assert(identicalImages(img, base),
            "mutated header decoded to a DIFFERENT image")
        } catch {
          case e: IllegalArgumentException =>
            e.getMessage should include("bmp")
        }
      }
    }
    // truncations (including mid-header and off-by-one) and extension
    for (k <- Seq(0, 1, 17, 53, 54, good.length - 7, good.length - 1)) {
      withClue(s"truncate to $k: ") {
        val e = intercept[IllegalArgumentException] {
          Bmp.decode(good.take(k)) }
        e.getMessage should include("bmp")
      }
    }
    val extended = good ++ Array[Byte](0, 0, 0)
    intercept[IllegalArgumentException](Bmp.decode(extended))
      .getMessage should include("bmp")
    // a PIXEL-region flip is data, not structure: it must decode, and
    // change exactly the one affected channel of the one affected
    // pixel — proving no mutation can shift the raster
    val pm = good.clone(); pm(54) = (pm(54) ^ 0x01).toByte
    val pimg = Bmp.decode(pm)
    val diffs = base.pixels.indices.filter(i => pimg.pixels(i) != base.pixels(i))
    diffs should have size 1
    (pimg.pixels(diffs.head) ^ base.pixels(diffs.head)) shouldBe 0x01 // blue LSB
  }

  test("WAV fuzz: every header bit-flip throws (all 44 bytes are " +
      "parsed + cross-checked); truncation and extension always throw") {
    val s = Array.tabulate(37)(i => ((i * 1031 - 700) % 32768).toShort)
    val good = Wav.encode(16000, s)
    val base = Wav.decode(good)
    for (off <- 0 until 44; bit <- 0 until 8) {
      val m = good.clone(); m(off) = (m(off) ^ (1 << bit)).toByte
      withClue(s"header byte $off bit $bit: ") {
        try {
          val au = Wav.decode(m)
          // the canonical 44-byte header is FULLY parsed and cross-
          // checked (rate vs byte rate, sizes vs payload), so a flip
          // that still decodes must yield the identical audio
          au.sampleRate shouldBe base.sampleRate
          assert(au.samples.sameElements(base.samples),
            "mutated header decoded to DIFFERENT samples")
        } catch {
          case e: IllegalArgumentException =>
            e.getMessage should include("wav")
        }
      }
    }
    for (k <- Seq(0, 1, 25, 43, 44, good.length - 3, good.length - 1)) {
      withClue(s"truncate to $k: ") {
        val e = intercept[IllegalArgumentException] {
          Wav.decode(good.take(k)) }
        e.getMessage should include("wav")
      }
    }
    intercept[IllegalArgumentException](
      Wav.decode(good ++ Array[Byte](1, 2)))
      .getMessage should include("wav")
    // sample-region flip: decodes, exactly one sample differs
    val pm = good.clone(); pm(44) = (pm(44) ^ 0x04).toByte
    val pa = Wav.decode(pm)
    val diffs = base.samples.indices.filter(i => pa.samples(i) != base.samples(i))
    diffs should have size 1
    (pa.samples(diffs.head) ^ base.samples(diffs.head)) shouldBe 0x04
  }

  // ── PNG codec (round-11 verdict #7) ──

  test("PNG round-trips pixels exactly under every filter type 0-4, " +
      "uniform and cycling") {
    val w = 13; val h = 7
    def pix(i: Int): (Int, Int, Int) =
      ((i * 37) % 256, (i * 101 + 5) % 256, (i * 29 + 11) % 256)
    val want = Array.tabulate(w * h) { i =>
      val (r, g, b) = pix(i); (r << 16) | (g << 8) | b
    }
    // each filter type uniformly, then the cycling default
    for (ft <- 0 to 4) {
      val img = Png.decode(Png.encode(w, h, pix, _ => ft))
      withClue(s"uniform filter $ft: ") {
        img.width shouldBe w
        img.height shouldBe h
        img.pixels.toSeq shouldBe want.toSeq
      }
    }
    val img = Png.decode(Png.encode(w, h, pix))
    img.pixels.toSeq shouldBe want.toSeq
  }

  test("PNG decoder enforces CRCs and structure: EVERY single-bit flip " +
      "anywhere in the file throws; truncation/extension throws") {
    val good = Png.fromText(23L, "portable network graphics, exactly")
    Png.decode(good) // sanity: the pristine payload decodes
    // unlike BMP (reserved/dpi bytes are unparsed), PNG's CRC-32
    // covers every chunk tag + body and the signature/lengths are
    // structural — so EVERY flipped bit must be detected
    val rnd = new scala.util.Random(7)
    for (off <- 0 until good.length; bit <- Seq(0, rnd.nextInt(7) + 1)) {
      val m = good.clone(); m(off) = (m(off) ^ (1 << bit)).toByte
      withClue(s"byte $off bit $bit: ") {
        val e = intercept[IllegalArgumentException](Png.decode(m))
        e.getMessage should include("png")
      }
    }
    for (k <- Seq(0, 7, 8, 20, 33, good.length - 13, good.length - 1)) {
      withClue(s"truncate to $k: ") {
        intercept[IllegalArgumentException](Png.decode(good.take(k)))
          .getMessage should include("png")
      }
    }
    intercept[IllegalArgumentException](
      Png.decode(good ++ Array[Byte](0)))
      .getMessage should include("png")
  }

  test("PNG fromText matches the oracle's generating formula pixel " +
      "for pixel and cycles all five filters") {
    val t = "The五 quick brown fox jumps!".filter(c => c >= ' ' && c <= '~')
    val m = t.length
    val img = Png.decode(Png.fromText(3L, t))
    img.width shouldBe (m % 19) + 4
    img.height shouldBe (m % 11) + 5
    img.height should be >= 5 // every filter type 0-4 occurs
    for (i <- img.pixels.indices) {
      val c = t.charAt(i % m).toInt
      val want = ((c % 256) << 16) | (((c * 11 + i) % 256) << 8) |
        ((i * 17L + 3L) % 256L).toInt
      withClue(s"pixel $i: ") { img.pixels(i) shouldBe want }
    }
  }

  test("GIF round-trips pixels exactly: uniform runs (the KwKwK LZW " +
      "case), small images, and a large pseudo-random image that " +
      "forces width growth 9-12 bits AND a 4096-entry dictionary reset") {
    // uniform image: the encoder emits cScSc... so the decoder MUST
    // take the code==next (KwKwK) branch — a decoder without it throws
    val uni = Gif.decode(Gif.encode(9, 7, _ => 42))
    uni.indices.toSeq shouldBe Seq.fill(63)(42)
    uni.pixels.toSeq shouldBe Seq.fill(63)(
      (Gif.paletteR(42) << 16) | (Gif.paletteG(42) << 8) | Gif.paletteB(42))
    // small mixed image
    def pix(i: Int): Int = (i * 37 + 11) % 256
    val small = Gif.decode(Gif.encode(13, 5, pix))
    small.indices.toSeq shouldBe (0 until 65).map(pix)
    // large pseudo-random image: an LCG stream compresses poorly, so
    // the dictionary marches through every code width and past the
    // 4096-entry cap (>= 30k pixels with ~unit match length), forcing
    // at least one in-band CLEAR reset — the whole LZW surface
    val n = 200 * 150
    val rndPix = Array.tabulate(n)(i => ((i * 1103515245L + 12345) >> 7).toInt & 0xff)
    val big = Gif.decode(Gif.encode(200, 150, rndPix))
    big.width shouldBe 200
    big.height shouldBe 150
    big.indices.toSeq shouldBe rndPix.toSeq
  }

  test("GIF fromText matches the oracle's generating formula index " +
      "for index through the palette") {
    val t = "graphics interchange五 format!".filter(c => c >= ' ' && c <= '~')
    val m = t.length
    val img = Gif.decode(Gif.fromText(5L, t))
    img.width shouldBe (m % 17) + 5
    img.height shouldBe (m % 7) + 4
    for (i <- img.indices.indices) {
      val c = t.charAt(i % m).toInt
      val idx = ((c * 13L + i * 29L + 5L) % 256L).toInt
      withClue(s"pixel $i: ") {
        img.indices(i) shouldBe idx
        img.pixels(i) shouldBe ((Gif.paletteR(idx) << 16) |
          (Gif.paletteG(idx) << 8) | Gif.paletteB(idx))
      }
    }
  }

  test("GIF fuzz: every single-bit flip either throws the codec's own " +
      "error or decodes to a well-formed image (GIF has no CRC), " +
      "never an index crash; truncation/extension always throws") {
    val good = Gif.fromText(23L, "lempel ziv welch, variable width")
    val base = Gif.decode(good)
    val rnd = new scala.util.Random(11)
    for (off <- 0 until good.length; bit <- Seq(0, rnd.nextInt(7) + 1)) {
      val m = good.clone(); m(off) = (m(off) ^ (1 << bit)).toByte
      withClue(s"byte $off bit $bit: ") {
        try {
          val img = Gif.decode(m)
          // no integrity check covers the GCT, so palette flips
          // legitimately decode — but framing can never drift: the
          // structural fields are all validated
          img.width shouldBe base.width
          img.height shouldBe base.height
          img.indices.length shouldBe base.indices.length
        } catch {
          case e: IllegalArgumentException =>
            e.getMessage should include("gif")
        }
      }
    }
    for (k <- Seq(0, 5, 6, 12, 500, 790, good.length - 2, good.length - 1)) {
      withClue(s"truncate to $k: ") {
        intercept[IllegalArgumentException](Gif.decode(good.take(k)))
          .getMessage should include("gif")
      }
    }
    intercept[IllegalArgumentException](
      Gif.decode(good ++ Array[Byte](0)))
      .getMessage should include("gif")
  }

  test("RLE8 BMP round-trips exactly: uniform runs, >255-pixel run " +
      "splits, singleton stretches through ABSOLUTE packets (whitebox: " +
      "the packet really occurs), and bottom-up rows un-flip") {
    // uniform: one encoded run per row
    val uni = BmpRle.decode(BmpRle.encode(9, 4, _ => 200))
    uni.indices.toSeq shouldBe Seq.fill(36)(200)
    uni.pixels(0) shouldBe ((BmpRle.paletteR(200) << 16) |
      (BmpRle.paletteG(200) << 8) | BmpRle.paletteB(200))
    // a 300-wide constant row forces the 255-count packet split
    val wide = BmpRle.decode(BmpRle.encode(300, 2, i => if (i < 300) 7 else 9))
    wide.indices.take(300).toSeq shouldBe Seq.fill(300)(7)
    wide.indices.drop(300).toSeq shouldBe Seq.fill(300)(9)
    // all-distinct row: MUST encode as one absolute packet [0, 10, ...]
    val distinct = BmpRle.encode(10, 1, i => i * 7 % 256)
    val dataOff = 54 + 1024
    (distinct(dataOff) & 0xff) shouldBe 0
    (distinct(dataOff + 1) & 0xff) shouldBe 10
    BmpRle.decode(distinct).indices.toSeq shouldBe
      (0 until 10).map(_ * 7 % 256)
    // row order: top row differs from bottom row -> un-flip is pinned
    val asym = BmpRle.decode(BmpRle.encode(4, 2, i => if (i < 4) 1 else 2))
    asym.indices.toSeq shouldBe Seq(1, 1, 1, 1, 2, 2, 2, 2)
  }

  test("RLE8 BMP fromText matches the oracle's two-regime generating " +
      "formula index for index through the palette") {
    val t = "run length encoded bitmap五!".filter(c => c >= ' ' && c <= '~')
    val m = t.length
    val img = BmpRle.decode(BmpRle.fromText(9L, t))
    img.width shouldBe (m % 13) + 6
    img.height shouldBe (m % 5) + 3
    for (i <- img.indices.indices) {
      val idx =
        if ((i / 4) % 4 == 0)
          ((t.charAt(i % m).toInt * 17L + i * 23L + 9L) % 256L).toInt
        else
          ((t.charAt((i / 4) % m).toInt * 17L + (i / 4) * 23L + 9L) % 256L).toInt
      withClue(s"pixel $i: ") {
        img.indices(i) shouldBe idx
        img.pixels(i) shouldBe ((BmpRle.paletteR(idx) << 16) |
          (BmpRle.paletteG(idx) << 8) | BmpRle.paletteB(idx))
      }
    }
  }

  test("RLE8 BMP fuzz: every single-bit flip either throws the codec's " +
      "own error or decodes to the same dimensions (no CRC in BMP), " +
      "never an index crash; truncation/extension always throws") {
    val good = BmpRle.fromText(31L, "absolute packets need three singletons")
    val base = BmpRle.decode(good)
    val rnd = new scala.util.Random(13)
    for (off <- 0 until good.length; bit <- Seq(0, rnd.nextInt(7) + 1)) {
      val m = good.clone(); m(off) = (m(off) ^ (1 << bit)).toByte
      withClue(s"byte $off bit $bit: ") {
        try {
          val img = BmpRle.decode(m)
          img.width shouldBe base.width
          img.height shouldBe base.height
        } catch {
          case e: IllegalArgumentException =>
            e.getMessage should include("bmprle")
        }
      }
    }
    for (k <- Seq(0, 1, 13, 53, 1000, 1078, good.length - 1)) {
      withClue(s"truncate to $k: ") {
        intercept[IllegalArgumentException](BmpRle.decode(good.take(k)))
          .getMessage should include("bmprle")
      }
    }
    intercept[IllegalArgumentException](
      BmpRle.decode(good ++ Array[Byte](0)))
      .getMessage should include("bmprle")
  }

  test("WAV linear resample pins the first-order kernel: exact " +
      "endpoints, constant clips stay constant, a linear ramp " +
      "resamples to the exact rational line") {
    val s = Wav.decode(Wav.fromText(3L, "linear interpolation kernel test"))
      .samples
    val n = s.length
    def outNum(j: Int): Long = {
      val posNum = j.toLong * (n - 1)
      val i0 = (posNum / 47).toInt
      val frac = posNum % 47
      s(i0).toLong * (47 - frac) + s(math.min(i0 + 1, n - 1)).toLong * frac
    }
    outNum(0) shouldBe s(0).toLong * 47
    outNum(47) shouldBe s(n - 1).toLong * 47
    // a synthetic ramp r(i) = 5i: out_num(j)/47 == 5*j*(n-1)/47 exactly
    val rampN = 12
    def rampOut(j: Int): Long = {
      val posNum = j.toLong * (rampN - 1)
      val i0 = posNum / 47
      val frac = posNum % 47
      5L * i0 * (47 - frac) + 5L * math.min(i0 + 1, rampN - 1) * frac
    }
    for (j <- 0 to 47)
      withClue(s"ramp j=$j: ") { rampOut(j) shouldBe 5L * j * (rampN - 1) }
  }

  test("WAV decoder rejects structural lies: bad magic, wrong RIFF " +
      "size, truncated data chunk, stereo, 8-bit") {
    val good = Wav.encode(8000, Array.tabulate(4)(i => (i * 100).toShort))
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    an[IllegalArgumentException] should be thrownBy Wav.decode(badMagic)
    val badRiff = good.clone(); badRiff(4) = (badRiff(4) + 1).toByte
    an[IllegalArgumentException] should be thrownBy Wav.decode(badRiff)
    val badData = good.clone(); badData(40) = (badData(40) + 2).toByte
    an[IllegalArgumentException] should be thrownBy Wav.decode(badData)
    val stereo = good.clone(); stereo(22) = 2.toByte
    an[IllegalArgumentException] should be thrownBy Wav.decode(stereo)
    val eightBit = good.clone(); eightBit(34) = 8.toByte
    an[IllegalArgumentException] should be thrownBy Wav.decode(eightBit)
  }

  test("Gzip: roundtrip across block boundaries, length formula, and " +
      "JDK GZIPOutputStream cross-validation") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(0, 1, 100, 65534, 65535, 65536, 131070, 131071, 150000)) {
      val payload = Array.fill(n)(rnd.nextInt(256).toByte)
      val enc = Gzip.encode(payload)
      enc.length shouldBe Gzip.encodedLength(n)
      val m = Gzip.decode(enc)
      m.data shouldBe payload
      m.mtime shouldBe 0L
      m.os shouldBe 255
      m.deflateLen shouldBe n + 5 * Gzip.storedBlocks(n)
    }
    // our general reader must decode the JDK's COMPRESSED members too
    val text = ("the quick brown fox " * 500).getBytes("US-ASCII")
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(text); gz.close()
    val jdk = Gzip.decode(bos.toByteArray)
    jdk.data shouldBe text
    // compressed body is genuinely smaller than stored mode would be
    jdk.deflateLen.toLong should be < text.length.toLong
    // and the JDK reader accepts OUR members (both directions hold)
    val ours = Gzip.encode(text)
    val back = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(ours)).readAllBytes()
    back shouldBe text
  }

  test("Tar: roundtrip across block boundaries, length formula, and " +
      "system-tar cross-validation in both directions") {
    val rnd = new scala.util.Random(7)
    for (sizes <- Seq(Seq(0), Seq(1), Seq(511, 512, 513), Seq(5000, 3))) {
      val entries = sizes.zipWithIndex.map { case (n, i) =>
        Tar.Entry(s"m$i.bin", 1700000000L + i,
          Array.fill(n)(rnd.nextInt(256).toByte))
      }
      val arch = Tar.encode(entries)
      arch.length.toLong shouldBe Tar.encodedLength(sizes)
      val back = Tar.decode(arch)
      back.map(_.name) shouldBe entries.map(_.name)
      back.map(_.mtime) shouldBe entries.map(_.mtime)
      back.zip(entries).foreach { case (b, e) => b.data shouldBe e.data }
    }
    // cross-validate against the system tar if present
    val tarBin = new java.io.File("/usr/bin/tar")
    assume(tarBin.canExecute, "system tar not available")
    val dir = java.nio.file.Files.createTempDirectory("graft-tar")
    val payload = ("webdataset sample " * 40).getBytes("US-ASCII")
    java.nio.file.Files.write(dir.resolve("sample.txt"), payload)
    // direction 1: system tar writes (ustar format), our decoder reads
    val sysArch = dir.resolve("sys.tar")
    new ProcessBuilder("/usr/bin/tar", "--format=ustar", "-cf",
        sysArch.toString, "-C", dir.toString, "sample.txt")
      .start().waitFor() shouldBe 0
    val sysEntries = Tar.decode(
      java.nio.file.Files.readAllBytes(sysArch))
    sysEntries.map(_.name) should contain("sample.txt")
    sysEntries.find(_.name == "sample.txt").get.data shouldBe payload
    // direction 2: our encoder writes, system tar lists and extracts
    val ours = dir.resolve("ours.tar")
    java.nio.file.Files.write(ours,
      Tar.encode(Seq(Tar.Entry("roundtrip.txt", 1700000001L, payload))))
    val outDir = java.nio.file.Files.createTempDirectory("graft-tar-x")
    new ProcessBuilder("/usr/bin/tar", "-xf", ours.toString,
        "-C", outDir.toString)
      .start().waitFor() shouldBe 0
    java.nio.file.Files.readAllBytes(
      outDir.resolve("roundtrip.txt")) shouldBe payload
  }

  test("Tar: hostile bytes are rejected loudly, never silently shifted") {
    val payload = ("abc" * 100).getBytes("US-ASCII")
    val good = Tar.encode(Seq(Tar.Entry("a.txt", 42L, payload)))
    def mut(i: Int, f: Byte => Byte): Array[Byte] = {
      val c = good.clone(); c(i) = f(c(i)); c
    }
    // non-block-aligned, missing terminator, single zero block
    an[IllegalArgumentException] should be thrownBy
      Tar.decode(good.take(100))
    an[IllegalArgumentException] should be thrownBy
      Tar.decode(good.take(good.length - 1024)) // member, no terminator
    an[IllegalArgumentException] should be thrownBy
      Tar.decode(good.take(good.length - 512)) // single zero block
    // magic lie
    an[IllegalArgumentException] should be thrownBy
      Tar.decode(mut(257, _ => 'X'.toByte))
    // any header byte flip breaks the recomputed checksum: name,
    // mode, size field, mtime
    for (off <- Seq(0, 101, 126, 140))
      an[IllegalArgumentException] should be thrownBy
        Tar.decode(mut(off, b => (b ^ 1).toByte))
    // checksum field lie
    an[IllegalArgumentException] should be thrownBy
      Tar.decode(mut(149, b => (b ^ 1).toByte))
    // size overrunning the archive (size field forged WITH checksum:
    // easier — truncate the data region instead)
    an[IllegalArgumentException] should be thrownBy
      Tar.decode(good.take(512) ++ new Array[Byte](1024)) // size>0, no data
    // payload flips do NOT throw (tar has no payload integrity — that
    // is gzip's CRC job) but must come back exactly as stored
    val flipped = mut(512 + 10, b => (b ^ 1).toByte)
    val back = Tar.decode(flipped)
    back.head.data(10) shouldBe (payload(10) ^ 1).toByte
    back.head.data.length shouldBe payload.length
  }

  test("Gzip: hostile bytes are rejected loudly, never silently shifted") {
    val payload = "line one\nline two\n".getBytes("US-ASCII")
    val good = Gzip.encode(payload)
    def mut(i: Int, f: Byte => Byte): Array[Byte] = {
      val c = good.clone(); c(i) = f(c(i)); c
    }
    // every truncation fails (header, mid-block, inside trailer)
    for (cut <- Seq(0, 5, 11, 14, good.length - 9, good.length - 1))
      an[IllegalArgumentException] should be thrownBy
        Gzip.decode(good.take(cut))
    // magic, method, reserved flag bits
    an[IllegalArgumentException] should be thrownBy
      Gzip.decode(mut(0, _ => 'P'.toByte))
    an[IllegalArgumentException] should be thrownBy
      Gzip.decode(mut(2, _ => 7.toByte))
    an[IllegalArgumentException] should be thrownBy
      Gzip.decode(mut(3, _ => 0x20.toByte))
    // stored-block NLEN lie -> inflater rejects the deflate stream
    an[IllegalArgumentException] should be thrownBy
      Gzip.decode(mut(13, b => (b ^ 1).toByte))
    // payload bit-flip -> CRC32 catches it
    an[IllegalArgumentException] should be thrownBy
      Gzip.decode(mut(16, b => (b ^ 1).toByte))
    // trailer lies: CRC then ISIZE
    an[IllegalArgumentException] should be thrownBy
      Gzip.decode(mut(good.length - 5, b => (b ^ 1).toByte))
    an[IllegalArgumentException] should be thrownBy
      Gzip.decode(mut(good.length - 1, b => (b ^ 1).toByte))
    // bits OUTSIDE the verified subset (MTIME, XFL) decode to the
    // identical payload — changed meta, same data, never a shift
    val mt = Gzip.decode(mut(4, _ => 0x2a.toByte))
    mt.data shouldBe payload
    mt.mtime shouldBe 0x2aL
    Gzip.decode(mut(8, _ => 2.toByte)).data shouldBe payload
  }
}
