package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}

/** Seeded input generators. Every generator is a pure function of its
  * seed (and of the state it is given), so the same seed yields a
  * byte-identical tree, change log and drop schedule. */
object Gen {

  /** Line-oriented text: lines of 16-96 printable characters, each
    * ending in '\n', until at least `minBytes`. */
  def lines(rnd: scala.util.Random, minBytes: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    while (sb.length < minBytes) {
      val n = 16 + rnd.nextInt(81)
      var i = 0
      while (i < n) { sb.append(Alphabet(rnd.nextInt(Alphabet.length))); i += 1 }
      sb.append('\n')
    }
    sb.toString.getBytes(US_ASCII)
  }
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 ,.;:-"

  // ---- ingest tree and churn -------------------------------------------

  /** The four monitored dirs: two tailed, two updated. */
  val IngestDirs: Seq[(String, Boolean)] = Seq("tail0" -> true, "tail1" -> true, "upd0" -> false, "upd1" -> false)

  /** A file of the tree: dir index, name, content and mtime (epoch ms). */
  final case class TreeFile(dir: Int, name: String, body: Array[Byte], mtimeMs: Long) {
    def rel: String = s"${IngestDirs(dir)._1}/$name"
    def tail: Boolean = IngestDirs(dir)._2
  }

  val BaseMtimeMs = 1700000000000L

  /** `n` files of 0.2-4 KiB spread round-robin over the four dirs. */
  def tree(seed: Long, n: Int): Vector[TreeFile] = {
    val rnd = new scala.util.Random(seed)
    Vector.tabulate(n) { i =>
      TreeFile(i % IngestDirs.size, f"f$i%06d.txt", lines(rnd, 200 + rnd.nextInt(3897)), BaseMtimeMs + i)
    }
  }

  sealed trait Kind { def name: String }
  object Kind {
    case object Append extends Kind { val name = "append" }
    case object ZeroAppend extends Kind { val name = "zero_append" }
    case object Rewrite extends Kind { val name = "rewrite" }
    case object EmptyRewrite extends Kind { val name = "empty_rewrite" }
    case object Shrink extends Kind { val name = "shrink" }
    case object Touch extends Kind { val name = "touch" }
    /** Seeded mix: weights out of 100. */
    val mix: Seq[(Kind, Int)] = Seq(Append -> 40, ZeroAppend -> 10, Rewrite -> 15, EmptyRewrite -> 5, Shrink -> 10, Touch -> 20)
  }

  /** One entry of the change log: file index, kind, and the file's
    * content and mtime after the change. */
  final case class Change(file: Int, kind: Kind, body: Array[Byte], mtimeMs: Long)

  /** The change-set of churn cycle `cycle` (0-based): `share` of the
    * files, distinct, the same number from each dir, each kind given to
    * its share of the change-set (rounded); the seed shuffles which files
    * get which kind. */
  def churn(seed: Long, cycle: Int, files: Vector[TreeFile], share: Double): Seq[Change] = {
    val rnd = new scala.util.Random(seed * 1000003L + cycle)
    val perDir = math.max(1, math.round(files.size * share / IngestDirs.size).toInt)
    val k = perDir * IngestDirs.size
    val kinds = rnd.shuffle(Kind.mix.flatMap { case (kind, w) => Seq.fill(math.round(k * w / 100.0).toInt)(kind) }
      .padTo(k, Kind.Append).take(k))
    val picked = IngestDirs.indices.flatMap { d =>
      rnd.shuffle(files.indices.filter(files(_).dir == d).toVector).take(perDir)
    }.zip(kinds)
    val mtime = BaseMtimeMs + (cycle + 1) * 3600000L
    picked.sortBy(_._1).map { case (i, kind) =>
      val f = files(i)
      kind match {
        case Kind.Append => Change(i, kind, f.body ++ lines(rnd, 40 + rnd.nextInt(400)), mtime + i)
        case Kind.ZeroAppend => Change(i, kind, f.body, f.mtimeMs)
        case Kind.Rewrite => Change(i, kind, lines(rnd, 200 + rnd.nextInt(3897)), mtime + i)
        case Kind.EmptyRewrite => Change(i, kind, Array.emptyByteArray, mtime + i)
        case Kind.Shrink =>
          // cut at a line end so the kept prefix stays whole lines
          val cut = f.body.lastIndexOf('\n'.toByte, f.body.length / 2)
          Change(i, kind, f.body.take(math.max(cut + 1, 0)), mtime + i)
        case Kind.Touch => Change(i, kind, f.body, mtime + i)
      }
    }
  }

  /** Writes the whole tree under `root`. */
  def writeTree(root: Path, files: Seq[TreeFile]): Unit = {
    IngestDirs.foreach { case (d, _) => Files.createDirectories(root.resolve(d)) }
    files.foreach { f =>
      val p = root.resolve(f.rel)
      Files.write(p, f.body)
      p.toFile.setLastModified(f.mtimeMs)
    }
  }

  /** Applies a change-set to the tree on disk and returns the new tree. */
  def applyChanges(root: Path, files: Vector[TreeFile], changes: Seq[Change]): Vector[TreeFile] =
    changes.foldLeft(files) { (acc, c) =>
      val f = acc(c.file)
      val p = root.resolve(f.rel)
      c.kind match {
        case Kind.ZeroAppend =>
          // open for append and write nothing: neither size nor mtime moves
          val out = new java.io.FileOutputStream(p.toFile, true)
          out.close()
        case Kind.Append =>
          val out = new java.io.FileOutputStream(p.toFile, true)
          try out.write(c.body, f.body.length, c.body.length - f.body.length) finally out.close()
        case _ => Files.write(p, c.body)
      }
      if (c.kind != Kind.ZeroAppend) p.toFile.setLastModified(c.mtimeMs)
      acc.updated(c.file, f.copy(body = c.body, mtimeMs = c.mtimeMs))
    }

  /** A record as the model expects it: (topic, relative path, offset, value). */
  final case class Rec(topic: String, rel: String, offset: Long, value: Seq[Byte])

  /** Line split of one change record, as `LineSplitRecordConverter`
    * does it: one record per non-empty line at its byte offset; an
    * empty value stays one empty record. */
  def splitLines(topic: String, rel: String, offset: Long, value: Array[Byte]): Seq[Rec] =
    if (value.isEmpty) Seq(Rec(topic, rel, offset, Seq.empty))
    else {
      val out = Seq.newBuilder[Rec]
      var start = 0
      var i = 0
      while (i <= value.length) {
        if (i == value.length || value(i) == '\n') {
          if (i > start) out += Rec(topic, rel, offset + start, value.slice(start, i).toSeq)
          start = i + 1
        }
        i += 1
      }
      out.result()
    }

  /** Records the poll must emit for one change (FIXTURES §1): a tail
    * append gives the appended bytes at offset = prior size; an update
    * gives the whole body at offset 0; a tailed rewrite that grew gives
    * the whole body at 0, one that did not grow an empty record; an
    * empty rewrite gives an empty record; a touch gives an empty record;
    * a zero-length append gives none. */
  def expected(before: TreeFile, c: Change): Seq[Rec] = {
    val topic = IngestDirs(before.dir)._1
    val old = before.body
    val now = c.body
    if (c.kind == Kind.ZeroAppend) Seq.empty
    else if (java.util.Arrays.equals(old, now)) splitLines(topic, before.rel, 0, Array.emptyByteArray)
    else if (!before.tail) splitLines(topic, before.rel, 0, now)
    else if (now.length > old.length) {
      if (java.util.Arrays.equals(now.take(old.length), old))
        splitLines(topic, before.rel, old.length, now.drop(old.length))
      else splitLines(topic, before.rel, 0, now)
    } else splitLines(topic, before.rel, 0, Array.emptyByteArray)
  }

  /** Records of a brand-new file: its whole body at offset 0. */
  def expectedNew(f: TreeFile): Seq[Rec] = splitLines(IngestDirs(f.dir)._1, f.rel, 0, f.body)

  // ---- stream drop schedule ---------------------------------------------

  /** One chunk file the stream generator drops: `due` ms after the
    * schedule starts, named `<logical>.part<part>`. */
  final case class Drop(dueMs: Long, logical: String, part: Int, body: Array[Byte]) {
    def name: String = s"$logical.part$part"
  }

  /** `nFiles` chunk files of `parts` parts each, due at `ratePerSec`,
    * one logical file after another. Parts of a logical file are due in
    * order, except that about one adjacent pair in eight is swapped, so
    * a later part arrives first. */
  def drops(seed: Long, nFiles: Int, parts: Int, ratePerSec: Double, prefix: String): Vector[Drop] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val logicals = nFiles / parts
    val byPart = Vector.tabulate(logicals, parts)((l, p) => (l, p)).flatten.toArray
    var i = 0
    while (i + 1 < byPart.length) {
      if (rnd.nextInt(8) == 0) { val t = byPart(i); byPart(i) = byPart(i + 1); byPart(i + 1) = t; i += 2 }
      else i += 1
    }
    byPart.toVector.zipWithIndex.map { case ((l, p), k) =>
      Drop((k * 1000.0 / ratePerSec).round, f"$prefix$l%05d", p, lines(rnd, 100 + rnd.nextInt(400)))
    }
  }
}
