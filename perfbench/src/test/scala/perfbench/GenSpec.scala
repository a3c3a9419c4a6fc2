package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Gen._

class GenSpec extends AnyFunSuite {

  private def bytes(fs: Seq[TreeFile]) = fs.map(f => (f.rel, f.body.toSeq, f.mtimeMs))
  private def log(seed: Long) = {
    val p = Ingest.plan(seed, 200)
    p.cycles.map { case (cs, want) => (cs.map(c => (c.file, c.kind, c.body.toSeq, c.mtimeMs)), want) }
  }
  private def schedule(seed: Long) = drops(seed, 40, 4, 20.0, "o").map(d => (d.dueMs, d.name, d.body.toSeq))

  test("the same seed gives a byte-identical tree, change log and drop schedule") {
    assert(bytes(tree(7, 200)) == bytes(tree(7, 200)))
    assert(log(7) == log(7))
    assert(schedule(7) == schedule(7))
  }

  test("a different seed gives a different tree, change log and drop schedule") {
    assert(bytes(tree(7, 200)) != bytes(tree(8, 200)))
    assert(log(7) != log(8))
    assert(schedule(7) != schedule(8))
  }

  test("tree files are 0.2-4 KiB of whole lines over the four dirs") {
    val t = tree(1, 400)
    assert(t.forall(f => f.body.length >= 200 && f.body.length <= 4200 && f.body.last == '\n'.toByte))
    assert(t.map(_.dir).toSet == IngestDirs.indices.toSet)
  }

  test("a churn cycle changes 2% of the files, each at most once, evenly over the dirs, with every kind") {
    val t = tree(3, 1000)
    val cs = churn(3, 0, t, 0.02)
    assert(cs.map(_.file).distinct.size == 20)
    assert(cs.groupBy(c => t(c.file).dir).values.map(_.size).toSet == Set(5))
    assert(cs.groupBy(_.kind).map { case (k, v) => k -> v.size } == Map(Kind.Append -> 8, Kind.ZeroAppend -> 2,
      Kind.Rewrite -> 3, Kind.EmptyRewrite -> 1, Kind.Shrink -> 2, Kind.Touch -> 4))
  }

  test("the drop schedule keeps the rate and swaps some parts") {
    val ds = drops(5, 400, 4, 20.0, "o")
    assert(ds.map(_.dueMs) == ds.indices.map(i => (i * 50.0).round))
    assert(ds.groupBy(_.logical).values.forall(_.map(_.part).sorted == (0 until 4)))
    val outOfOrder = ds.groupBy(_.logical).values.count(g => g.map(_.part) != g.map(_.part).sorted)
    assert(outOfOrder > 0)
  }

  private val tailFile = TreeFile(0, "t", "ab\ncd\n".getBytes("US-ASCII"), 1L)
  private val updFile = TreeFile(2, "u", "ab\ncd\n".getBytes("US-ASCII"), 1L)
  private def ch(f: TreeFile, kind: Kind, body: String) = Change(0, kind, body.getBytes("US-ASCII"), 2L)
  private def recs(rs: Seq[Rec]) = rs.map(r => (r.offset, new String(r.value.toArray, "US-ASCII")))

  test("model: a tail append gives the appended lines at offset = prior size") {
    assert(recs(expected(tailFile, ch(tailFile, Kind.Append, "ab\ncd\nef\ngh\n"))) == Seq(6L -> "ef", 9L -> "gh"))
  }

  test("model: an update gives the whole body at offset 0") {
    assert(recs(expected(updFile, ch(updFile, Kind.Append, "ab\ncd\nef\n"))) == Seq(0L -> "ab", 3L -> "cd", 6L -> "ef"))
    assert(recs(expected(updFile, ch(updFile, Kind.Shrink, "ab\n"))) == Seq(0L -> "ab"))
  }

  test("model: empty rewrites and touches give one empty record, a zero-length append none") {
    assert(recs(expected(tailFile, ch(tailFile, Kind.EmptyRewrite, ""))) == Seq(0L -> ""))
    assert(recs(expected(updFile, ch(updFile, Kind.EmptyRewrite, ""))) == Seq(0L -> ""))
    assert(recs(expected(tailFile, ch(tailFile, Kind.Touch, "ab\ncd\n"))) == Seq(0L -> ""))
    assert(expected(tailFile, ch(tailFile, Kind.ZeroAppend, "ab\ncd\n")).isEmpty)
  }

  test("model: a tailed rewrite gives the whole body if it grew, else an empty record") {
    assert(recs(expected(tailFile, ch(tailFile, Kind.Rewrite, "xy\nzw\nqq\n"))) == Seq(0L -> "xy", 3L -> "zw", 6L -> "qq"))
    assert(recs(expected(tailFile, ch(tailFile, Kind.Rewrite, "xy\n"))) == Seq(0L -> ""))
  }
}
