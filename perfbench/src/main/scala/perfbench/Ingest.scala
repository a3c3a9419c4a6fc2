package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.Dataset

import graft.ingest.{FileChangeRecord, FileMetaData, MonitorConfig, PollDriver, Records, TailDiff}

/** The poll loop over a seeded tree of line-oriented text files in four
  * monitored dirs (two tailed, two updated), driven closed-loop through
  * `PollDriver.pollOnce` with `refresh=PT0S` and the line-split
  * converter. Idle cycles (nothing changed) alternate with churn cycles
  * that change 2% of the files with the seeded FIXTURES §1 mix; the
  * record cap makes every churn change-set take at least two polls, so
  * the carry spool is exercised. The initial full poll is set-up. */
object Ingest extends Workload {
  val name = "ingest"

  val nFiles = 1000
  val churnShare = 0.02
  val setups = 4
  /** Change-sets generated up front; a run uses as many as fit its time. */
  val maxCycles = 40
  val maxPollsPerChange = 20
  val minCycles = 3
  /** Untimed change-sets before the timed cycles: the churn path
    * (fetch, tail/diff, cap, carry spool) is compiled there, not in the
    * first timed cycle. */
  val warmCycles = 1

  def config(root: Path, cap: Int): MonitorConfig = {
    val (tails, upds) = Gen.IngestDirs.partition(_._2)
    def spec(ds: Seq[(String, Boolean)]) = ds.map { case (d, _) => s"${root.resolve(d)}/:$d" }.mkString(",")
    MonitorConfig(Map(
      MonitorConfig.MonitorTail -> spec(tails),
      MonitorConfig.MonitorUpdate -> spec(upds),
      MonitorConfig.Refresh -> "PT0S",
      MonitorConfig.MaxPollRecords -> cap.toString,
      MonitorConfig.MaxPollFiles -> "1000000",
      MonitorConfig.SourceRecordConverter -> classOf[Records.LineSplitRecordConverter].getName))
  }

  /** A delivered record in the model's terms. */
  def toRec(root: Path, r: FileChangeRecord): Gen.Rec =
    Gen.Rec(r.topic, root.relativize(java.nio.file.Paths.get(r.path)).toString, r.offset, r.value.toSeq)

  private val recOrder: Ordering[Gen.Rec] =
    Ordering.by((r: Gen.Rec) => (r.topic, r.rel, r.offset, new String(r.value.toArray, "US-ASCII")))

  /** Compares delivered records with the model's, as multisets. */
  def sameRecords(got: Seq[Gen.Rec], want: Seq[Gen.Rec]): Boolean =
    got.size == want.size && got.sorted(recOrder) == want.sorted(recOrder)

  /** The change log of a run: `maxCycles` change-sets, each with the
    * records the model expects, generated before anything is timed. */
  final case class Plan(tree: Vector[Gen.TreeFile], cycles: Vector[(Seq[Gen.Change], Seq[Gen.Rec])]) {
    /** The record cap of cycle `c`: 60% of its change-set, so every
      * change-set takes exactly two polls (one carry poll) and the first
      * poll delivers the majority of its records. */
    def cap(c: Int): Int = math.max(1, math.ceil(cycles(c)._2.size * 0.6).toInt)
  }

  def plan(seed: Long, n: Int): Plan = {
    val tree = Gen.tree(seed, n)
    var files = tree
    val cycles = Vector.tabulate(maxCycles) { c =>
      val changes = Gen.churn(seed, c, files, churnShare)
      val want = changes.flatMap(ch => Gen.expected(files(ch.file), ch))
      files = changes.foldLeft(files)((acc, ch) => acc.updated(ch.file, acc(ch.file).copy(body = ch.body, mtimeMs = ch.mtimeMs)))
      (changes, want)
    }
    Plan(tree, cycles)
  }

  /** Collecting sink: the records delivered since the last `take`. */
  final class Sink {
    val delivered = mutable.ArrayBuffer.empty[Array[FileChangeRecord]]
    def apply(ds: Dataset[FileChangeRecord]): Unit = delivered += ds.collect()
    def take(): Seq[FileChangeRecord] = { val all = delivered.flatten.toList; delivered.clear(); all }
  }

  /** One poll loop: `PollDriver` in timed runs, the composed poll in
    * the traced run. */
  trait Poller {
    def poll(phase: String): Long
    def error: Option[Throwable]
    def composed: Option[ComposedPoll] = None
  }

  def poller(ctx: Ctx, root: Path, stateDir: String, cap: Int, sink: Sink): Poller = {
    val cfg = config(root, cap)
    if (!ctx.traced) {
      val d = new PollDriver(ctx.spark, cfg, stateDir, sink(_))
      new Poller {
        def poll(phase: String): Long = d.pollOnce()
        def error: Option[Throwable] = d.lastError
      }
    } else {
      val c = new ComposedPoll(ctx.spark, cfg.dirs, stateDir, cfg.maxPollRecords, cfg.maxFilesPerPoll,
        cfg.converter, sink(_), ctx)
      new Poller {
        private var err: Option[Throwable] = None
        def poll(phase: String): Long =
          try { err = None; ctx.inGroup(s"ingest/$phase")(c.pollOnce(phase)) }
          catch { case scala.util.control.NonFatal(e) => err = Some(e); -1L }
        def error: Option[Throwable] = err
        override def composed: Option[ComposedPoll] = Some(c)
      }
    }
  }

  /** The final state must hold every file with its current size and hash. */
  def checkState(ctx: Ctx, root: Path, stateDir: String, files: Seq[Gen.TreeFile]): Option[String] = {
    import ctx.spark.implicits._
    val dir = Seq("state.parquet", "state.old.parquet").map(d => s"$stateDir/$d")
      .find(d => Option(new java.io.File(d).listFiles()).exists(_.exists(_.getName.endsWith(".parquet"))))
    val got = dir.map(ctx.spark.read.parquet(_).as[FileMetaData].collect().toSeq).getOrElse(Seq.empty)
      .map(m => (root.relativize(java.nio.file.Paths.get(m.path)).toString, (m.size, m.hash))).toMap
    val want = files.map(f => f.rel -> (f.body.length.toLong, TailDiff.sha256Hex(f.body))).toMap
    if (got == want) None
    else Some(s"final state has ${got.size} rows, ${got.count { case (k, v) => want.get(k).contains(v) }} matching the model's ${want.size}")
  }

  val layers = Seq("list", "probe", "fetch_diff", "state_write", "convert_cap", "spool", "publish")

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val p = plan(ctx.seed, nFiles)

    // set-up: fresh tree + initial full poll, several times; the last
    // tree is the one the timed cycles run on
    var root: Path = null
    var stateDir: String = null
    val sink = new Sink
    val setupTimes = (0 until setups).map { i =>
      val t0 = System.nanoTime()
      root = ctx.work.resolve(s"ingest-$i/tree")
      stateDir = ctx.work.resolve(s"ingest-$i/state").toString
      Gen.writeTree(root, p.tree)
      val initial = poller(ctx, root, stateDir, Int.MaxValue, sink)
      val n = initial.poll("initial")
      val t = (System.nanoTime() - t0) / 1e9
      if (n < 0 || initial.error.nonEmpty) throw new IllegalStateException("initial poll failed", initial.error.orNull)
      // the tree is the same every time: check the records of the last set-up in full
      val got = sink.take()
      val want = p.tree.flatMap(Gen.expectedNew)
      if (got.size != want.size || (i == setups - 1 && !sameRecords(got.map(toRec(root, _)), want)))
        throw new IllegalStateException(s"initial poll delivered ${got.size} records, model expects ${want.size}")
      t
    }
    res.setup(setupTimes)

    var files = p.tree
    val idle = mutable.ArrayBuffer.empty[Double]
    val delivery = mutable.ArrayBuffer.empty[Double]
    val changeLatency = mutable.ArrayBuffer.empty[Double]
    val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var carryPolls = 0
    var records = 0L
    var current: Poller = null
    def poll(phase: String): Long = {
      val n = current.poll(phase)
      res.attempt(n >= 0 && current.error.isEmpty)
      if (n < 0) System.err.println(s"[perfbench] poll failed: ${current.error}")
      if (phase != "warm") current.composed.foreach { c =>
        counts("files_listed") += c.filesListed
        counts("files_changed") += c.filesChanged
        counts("files_fetched") += c.filesFetched
        counts("files_skipped") += c.filesChanged - c.filesFetched
        counts("fetched_mb") += c.fetchedBytes / 1048576.0
        counts("nonempty_fetches") += c.nonEmptyFetches
        counts("state_rows_written") += c.stateRows
      }
      n
    }

    /** One cycle on change-set `c`: an idle poll, then the change-set
      * polled until all its records arrived. A warm-up cycle is checked
      * but not timed. */
    def cycle(c: Int, warm: Boolean): Unit = {
      // the cap is configuration: a poller per cycle, over the same state
      current = poller(ctx, root, stateDir, p.cap(c), sink)
      // idle cycle: nothing changed since the last poll
      val t0 = System.nanoTime()
      val n0 = poll(if (warm) "warm" else "idle")
      val idleS = (System.nanoTime() - t0) / 1e9
      if (n0 != 0) res.problem(s"idle poll $c delivered $n0 records")
      sink.take()

      // churn cycle: apply the change-set, poll until all of it arrived
      val (changes, want) = p.cycles(c)
      files = Gen.applyChanges(root, files, changes)
      val applied = System.nanoTime()
      val got = mutable.ArrayBuffer.empty[Gen.Rec]
      var latencySum = 0.0
      var polls = 0
      var failed = false
      while ((polls == 0 || got.size < want.size) && polls < maxPollsPerChange && !failed) {
        val n = poll(if (warm) "warm" else "churn")
        failed = n < 0
        val now = System.nanoTime()
        val batch = sink.take()
        latencySum += batch.size * (now - applied) / 1e9
        got ++= batch.map(toRec(root, _))
        polls += 1
      }
      val deliveryS = (System.nanoTime() - applied) / 1e9
      if (!sameRecords(got.toSeq, want))
        res.problem(s"churn cycle $c delivered ${got.size} records, model expects ${want.size}")
      if (!warm) {
        idle += idleS
        delivery += deliveryS
        // the change-set's mean record latency: the cap splits every
        // change-set the same way, so this mean is a fixed mix of the
        // first and the carry poll
        changeLatency += (if (got.nonEmpty) latencySum / got.size else deliveryS)
        carryPolls += polls - 1
        records += got.size
      }
    }

    (0 until warmCycles).foreach(c => cycle(c, warm = true))
    val start = System.nanoTime()
    var c = 0
    while (warmCycles + c < maxCycles && (c < minCycles || (System.nanoTime() - start) / 1e9 < ctx.seconds)) {
      cycle(warmCycles + c, warm = false)
      c += 1
    }
    checkState(ctx, root, stateDir, files).foreach(res.problem)

    val units = idle.zip(delivery).map { case (a, b) => a + b }
    res.e2e("unit_s", Stats.median(units.toSeq), "s", units.size)
    res.e2e("latency_s", Stats.median(changeLatency.toSeq), "s", changeLatency.size)

    // per-layer figures are per cycle (one idle poll, one change-set)
    res.layer("ingest.idle_poll_s", Stats.median(idle.toSeq), "s", idle.size)
    res.layer("ingest.churn_delivery_s", Stats.median(delivery.toSeq), "s", delivery.size)
    res.layer("ingest.carry_polls", carryPolls.toDouble / c, "count", c)
    res.layer("ingest.records", records.toDouble / c, "count", c)
    if (ctx.traced) {
      val spans = ctx.tracer.all
      for (phase <- Seq("idle", "churn"); l <- layers)
        res.layer(s"ingest.$phase.${l}_s", spans.filter(_.name == s"$phase.$l").map(_.seconds).sum / c, "s", c)
      Seq("files_listed", "files_changed", "files_fetched", "files_skipped", "fetched_mb", "state_rows_written")
        .foreach(k => res.layer(s"ingest.$k", counts(k) / c, if (k == "fetched_mb") "MiB" else "count", c))
      res.layer("ingest.fetch_yield",
        if (counts("files_fetched") > 0) counts("nonempty_fetches") / counts("files_fetched") else 0.0, "ratio", c)
      ctx.sparkTrace.foreach { t =>
        t.settle()
        val g = new GroupStats
        Seq("ingest/idle", "ingest/churn").foreach(k => g.add(t.groups(k)))
        res.layer("ingest.jobs", g.jobs.toDouble / c, "count", c)
        res.layer("ingest.task_s", g.runMs / 1000.0 / c, "s", c)
      }
      Trace.report(res, spans.filter(s => !s.name.startsWith("initial.") && !s.name.startsWith("warm.")), units.sum)
    }
    println(f"[ingest] files $nFiles cycles $c (+$warmCycles warm-up) idle ${idle.map(t => f"$t%.2f").mkString(",")} delivery ${delivery.map(t => f"$t%.2f").mkString(",")} latency ${changeLatency.map(t => f"$t%.2f").mkString(",")} median idle ${Stats.median(idle.toSeq)}%.3f delivery ${Stats.median(delivery.toSeq)}%.3f carry_polls $carryPolls setup ${setupTimes.map(t => f"$t%.2f").mkString(",")}")
  }
}
