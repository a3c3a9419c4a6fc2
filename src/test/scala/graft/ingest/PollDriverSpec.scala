package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.operators.FsSwap

/** The backoff-wrapped poll task loop (SURVEY.md §3.2 / §2 #17, #19). */
class PollDriverSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def write(p: java.nio.file.Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8), StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
  }

  /** The carry spool's generations, `carryover.parquet` and
    * `carryover.old.parquet` under `stateDir`. */
  private def carry(stateDir: String): FsSwap =
    FsSwap.spool(spark.sparkContext.hadoopConfiguration, stateDir, "carryover")

  test("poll loop: records flow to the sink; backoff escalates on failure and resets") {
    val root = Files.createTempDirectory("graft-driver")
    val stateDir = Files.createTempDirectory("graft-driver-state").toString
    val cfg = MonitorConfig(Map(
      MonitorConfig.MonitorUpdate -> s"$root/in/:t",
      MonitorConfig.Refresh -> "PT1S",
      MonitorConfig.SourceRecordConverter -> "graft.ingest.Records$LineSplitRecordConverter"))

    var batches = Vector.empty[Seq[String]]
    var now = 0L
    val driver = new PollDriver(spark, cfg, stateDir,
      sink = ds => batches :+= ds.collect().toSeq.map(r => new String(r.value, UTF_8)),
      clock = () => now)

    write(root.resolve("in/f.csv"), "a\nb")
    driver.pollOnce() shouldBe 2L // line-split converter: 2 records
    batches.last.sorted shouldBe Seq("a", "b")

    now += 10000
    driver.pollOnce() shouldBe 0L // quiescent: no changes, sink gets empty batch
    // backoff step = the configured refresh rate (reference semantics)
    driver.currentBackoffMs shouldBe 1000L

    // failure: make the state dir unwritable by breaking the path
    val badDriver = new PollDriver(spark, cfg, "/proc/nonexistent/state",
      sink = _ => (), clock = () => now)
    badDriver.pollOnce() shouldBe -1L
    badDriver.currentBackoffMs shouldBe 2000L // escalated
    badDriver.pollOnce() shouldBe 0L // still inside the backoff window
    now += 10000
    badDriver.pollOnce() shouldBe -1L
    badDriver.currentBackoffMs shouldBe 4000L // doubled again
  }

  test("record-level poll cap with carry-over: records served 1-by-1, no refetch " +
      "(reference FtpSourceTask.scala:47-52, EndToEnd.scala:205-230)") {
    val root = Files.createTempDirectory("graft-cap")
    val stateDir = Files.createTempDirectory("graft-cap-state").toString
    val cfg = MonitorConfig(Map(
      MonitorConfig.MonitorUpdate -> s"$root/in/:t",
      MonitorConfig.Refresh -> "PT1S",
      MonitorConfig.MaxPollRecords -> "1", // cap RECORDS, not files
      MonitorConfig.SourceRecordConverter -> "graft.ingest.Records$LineSplitRecordConverter"))

    var served = Vector.empty[String]
    var now = 0L
    val driver = new PollDriver(spark, cfg, stateDir,
      sink = ds => served ++= ds.collect().toSeq.map(r => new String(r.value, UTF_8)),
      clock = () => now)

    // ONE file that the converter expands to THREE records: the file-level
    // cap can't see this; only a record-level cap holds the contract
    write(root.resolve("in/f.csv"), "a\nb\nc")
    driver.pollOnce() shouldBe 1L
    served shouldBe Vector("a")

    // delete the source; the buffered records must still be served
    // WITHOUT refetching (the reference's laziness assertion)
    Files.delete(root.resolve("in/f.csv"))
    driver.pollOnce() shouldBe 1L
    driver.pollOnce() shouldBe 1L
    served shouldBe Vector("a", "b", "c")

    // buffer drained; a fresh poll sees no changes (deletion is not a
    // change event) and emits nothing
    now += 10000
    driver.pollOnce() shouldBe 0L
    served shouldBe Vector("a", "b", "c")
  }

  test("a batch of exactly maxPollRecords leaves no stale spool behind") {
    val root = Files.createTempDirectory("graft-exact")
    val stateDir = Files.createTempDirectory("graft-exact-state").toString
    val cfg = MonitorConfig(Map(
      MonitorConfig.MonitorUpdate -> s"$root/in/:t",
      MonitorConfig.Refresh -> "PT1S",
      MonitorConfig.MaxPollRecords -> "2",
      MonitorConfig.SourceRecordConverter -> "graft.ingest.Records$LineSplitRecordConverter"))
    var served = Vector.empty[String]
    var now = 0L
    val driver = new PollDriver(spark, cfg, stateDir,
      sink = ds => served ++= ds.collect().toSeq.map(r => new String(r.value, UTF_8)),
      clock = () => now)

    // 3 records against cap 2: first poll serves 2 and spools 1
    write(root.resolve("in/f.csv"), "a\nb\nc")
    driver.pollOnce() shouldBe 2L
    // second poll drains the carry — n (1) < cap, so the spool is DROPPED,
    // not rewritten as an empty generation
    driver.pollOnce() shouldBe 1L
    served shouldBe Vector("a", "b", "c")
    carry(stateDir).readable shouldBe None

    // 2 records against cap 2 (fresh poll, n == cap, empty tail): nothing
    // may be spooled — a stale empty generation would make every gated
    // poll during a backoff window launch a Spark job just to find it empty
    now += 10000
    write(root.resolve("in/g.csv"), "d\ne")
    driver.pollOnce() shouldBe 2L
    served shouldBe Vector("a", "b", "c", "d", "e")
    carry(stateDir).readable shouldBe None

    // carry batch of exactly cap: poll 1 serves 2 of 4 and spools 2; poll 2
    // serves the 2-record carry (n == cap, empty tail) and must DROP the
    // spool rather than spool an empty generation
    now += 10000
    write(root.resolve("in/h.csv"), "f\ng\nh\ni")
    driver.pollOnce() shouldBe 2L
    driver.pollOnce() shouldBe 2L
    served shouldBe Vector("a", "b", "c", "d", "e", "f", "g", "h", "i")
    carry(stateDir).readable shouldBe None
  }

  test("carry-over survives a crash mid-publish: the .old generation is served") {
    val root = Files.createTempDirectory("graft-crash")
    val stateDir = Files.createTempDirectory("graft-crash-state").toString
    val cfg = MonitorConfig(Map(
      MonitorConfig.MonitorUpdate -> s"$root/in/:t",
      MonitorConfig.Refresh -> "PT1S",
      MonitorConfig.MaxPollRecords -> "1",
      MonitorConfig.SourceRecordConverter -> "graft.ingest.Records$LineSplitRecordConverter"))
    var served = Vector.empty[String]
    var now = 0L
    val driver = new PollDriver(spark, cfg, stateDir,
      sink = ds => served ++= ds.collect().toSeq.map(r => new String(r.value, UTF_8)),
      clock = () => now)

    write(root.resolve("in/f.csv"), "a\nb")
    driver.pollOnce() shouldBe 1L // serves "a", spools "b"

    // simulate a crash that landed between the stage and publish
    // renames: the spool exists only as the .old generation
    val carry = new java.io.File(s"$stateDir/carryover.parquet")
    val old = new java.io.File(s"$stateDir/carryover.old.parquet")
    carry.renameTo(old) shouldBe true

    driver.pollOnce() shouldBe 1L // "b" recovered from .old
    served shouldBe Vector("a", "b")
  }

  test("stateDir as a file: URI: emits, idles, emits only the delta, " +
      "and publishes state.parquet under the URI") {
    val root = Files.createTempDirectory("graft-uri")
    val stateRoot = Files.createTempDirectory("graft-uri-state")
    val cfg = MonitorConfig(Map(
      MonitorConfig.MonitorTail -> s"$root/in/:t",
      MonitorConfig.Refresh -> "PT0S",
      MonitorConfig.SourceRecordConverter -> "graft.ingest.Records$LineSplitRecordConverter"))
    var served = Vector.empty[String]
    val driver = new PollDriver(spark, cfg, s"file:$stateRoot",
      sink = ds => served ++= ds.collect().toSeq.map(r => new String(r.value, UTF_8)))

    write(root.resolve("in/f.csv"), "a\nb\n")
    driver.pollOnce() shouldBe 2L
    driver.pollOnce() shouldBe 0L // idle: the state came back from the URI
    Files.write(root.resolve("in/f.csv"), "c\n".getBytes(UTF_8),
      StandardOpenOption.APPEND)
    driver.pollOnce() shouldBe 1L // only the appended delta
    served shouldBe Vector("a", "b", "c")
    Files.isDirectory(stateRoot.resolve("state.parquet")) shouldBe true
  }
}
