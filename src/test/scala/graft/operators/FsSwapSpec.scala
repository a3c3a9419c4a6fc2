package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Contract of the crash-safe generation swap: at every intermediate
  * state some complete generation stays readable, and a staged
  * generation survives until the next publish completes — exercised
  * through the Hadoop local filesystem, the same code path a cluster's
  * `hdfs://` state dir takes.
  */
class FsSwapSpec extends AnyFunSuite with Matchers {

  private val conf = new Configuration()

  private def mkGen(dir: String, marker: String): Unit = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    Files.writeString(p.resolve(s"$marker.parquet"), marker)
  }

  private def swapIn(root: Path, name: String = "t"): FsSwap =
    FsSwap(conf, root.toString, name)

  test("readable prefers the target generation, falls back to staged old") {
    val swap = swapIn(Files.createTempDirectory("fsswap"))
    swap.readable shouldBe None
    mkGen(swap.old, "gen1")
    swap.readable shouldBe Some(swap.old) // crash-recovery state
    mkGen(swap.target, "gen2")
    swap.readable shouldBe Some(swap.target)
  }

  test("publish replaces the target and clears the staged generation") {
    val swap = swapIn(Files.createTempDirectory("fsswap"))
    mkGen(swap.target, "gen1")
    mkGen(swap.tmp, "gen2")
    swap.publish()
    swap.readable shouldBe Some(swap.target)
    Files.exists(Paths.get(swap.target, "gen2.parquet")) shouldBe true
    Files.exists(Paths.get(swap.old)) shouldBe false // cleared
  }

  test("publish in recovery mode (target absent) keeps the staged " +
      "generation until the new target is in place") {
    val swap = swapIn(Files.createTempDirectory("fsswap"))
    mkGen(swap.old, "gen1") // crash left only the staged gen
    mkGen(swap.tmp, "gen2")
    // the pre-publish state must still be readable right up to the
    // rename: publish must NOT delete `old` before `target` exists
    // (the second-crash data-loss window). After publish, target wins.
    swap.publish()
    swap.readable shouldBe Some(swap.target)
    Files.exists(Paths.get(swap.target, "gen2.parquet")) shouldBe true
  }

  test("failed publish throws instead of silently dropping a generation") {
    val swap = swapIn(Files.createTempDirectory("fsswap"))
    // tmp does not exist -> rename must fail loudly
    intercept[java.io.IOException](swap.publish())
  }

  test("subdirectory generations (the drainStream scalars+pending " +
      "layout) are readable and swap atomically as one unit") {
    val swap = swapIn(Files.createTempDirectory("fsswap"))
    // a generation whose parquet pieces are SUBDIRS named *.parquet
    val tmp = Paths.get(swap.tmp)
    Files.createDirectories(tmp.resolve("scalars.parquet"))
    Files.createDirectories(tmp.resolve("pending.parquet"))
    Files.writeString(
      tmp.resolve("scalars.parquet").resolve("part-0.parquet"), "s")
    swap.readable shouldBe None
    swap.publish()
    swap.readable shouldBe Some(swap.target)
    Files.exists(Paths.get(swap.target, "pending.parquet")) shouldBe true
  }

  test("one handle names every generation: streaming state and parquet " +
      "spools, under a local path or a file: URI") {
    val root = Files.createTempDirectory("fsswap")
    val mg = swapIn(root, "mg")
    (mg.target, mg.old, mg.tmp) shouldBe
      ((s"$root/mg", s"$root/mg.old", s"$root/mg.tmp"))
    val uri = s"file:$root"
    val spool = FsSwap.spool(conf, uri, "state")
    (spool.target, spool.old, spool.tmp) shouldBe ((s"$uri/state.parquet",
      s"$uri/state.old.parquet", s"$uri/state.tmp.parquet"))
    mkGen(s"$root/state.tmp.parquet", "gen1")
    spool.publish()
    spool.readable shouldBe Some(spool.target)
    Files.exists(root.resolve("state.parquet/gen1.parquet")) shouldBe true
    spool.drop()
    spool.readable shouldBe None
    Files.exists(root.resolve("state.parquet")) shouldBe false
  }

  test("replay fence: the committed batch id replays, a lower one fails " +
      "loudly, a higher one folds") {
    val swap = swapIn(Files.createTempDirectory("fsswap"))
    swap.replay("Face", 4L, 3L) shouldBe false
    swap.replay("Face", 3L, 3L) shouldBe true
    swap.replay("Face", 0L, -1L) shouldBe false
    val e = intercept[IllegalStateException](swap.replay("Face", 0L, 3L))
    e.getMessage should include("Face: batch 0 below committed 3")
  }
}
