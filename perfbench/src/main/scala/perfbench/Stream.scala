package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.ingest.FileChangeRecord
import graft.streaming.FileStreamPipeline

/** The Structured Streaming face, `FileStreamPipeline.changeRecords`,
  * in two phases. Open loop: a generator thread drops seeded
  * `name.partN` chunk files (some out of part order) into a fresh dir at
  * a fixed rate while the query runs with `Trigger.ProcessingTime(0)`
  * into an in-process sink; each record's latency runs from its file's
  * due time. Drain: `Trigger.AvailableNow` over a pre-generated backlog
  * from a fresh checkpoint, timed from `start()` to termination. */
object Stream extends Workload {
  val name = "stream"

  val ratePerSec = 10.0
  val backlogFiles = 240
  val drains = 3
  val parts = 4
  val setups = 4
  val topic = "stream"

  /** Records delivered to the sink, each with its arrival time. */
  final class Sink {
    val got = new ConcurrentLinkedQueue[(Long, FileChangeRecord)]()
    @volatile var batches = 0
    val fn: (Dataset[FileChangeRecord], Long) => Unit = (ds, _) => {
      val rows = ds.collect()
      val now = System.nanoTime()
      rows.foreach(r => got.add((now, r)))
      batches += 1
    }
    def all: Seq[(Long, FileChangeRecord)] = got.asScala.toSeq
  }

  /** Collects every progress report of the run's queries. */
  final class Progress extends StreamingQueryListener {
    val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = reports.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Writes a chunk file atomically: staged outside the watched dir, then renamed in. */
  def drop(stage: Path, dir: Path, d: Gen.Drop): Unit = {
    val tmp = stage.resolve(d.name)
    Files.write(tmp, d.body)
    Files.move(tmp, dir.resolve(d.name), StandardCopyOption.ATOMIC_MOVE)
  }

  def start(ctx: Ctx, dir: Path, ckpt: Path, sink: Sink, trigger: Trigger, queryName: String): StreamingQuery =
    FileStreamPipeline.changeRecords(ctx.spark, s"$dir/*", topic)
      .writeStream
      .queryName(queryName)
      .option("checkpointLocation", ckpt.toString)
      .trigger(trigger)
      .foreachBatch(sink.fn)
      .start()

  /** Each logical file's records must be its parts concatenated in part
    * order, with offsets equal to the running size. Returns the problems. */
  def check(dir: Path, drops: Seq[Gen.Drop], got: Seq[FileChangeRecord], phase: String): Seq[String] = {
    val byKey = got.groupBy(_.path)
    val want = drops.groupBy(_.logical)
    val problems = mutable.ArrayBuffer.empty[String]
    if (byKey.size != want.size) problems += s"$phase: ${byKey.size} logical files delivered, ${want.size} dropped"
    want.foreach { case (logical, ds) =>
      val key = dir.resolve(logical).toString
      val recs = byKey.getOrElse(key, Seq.empty).sortBy(_.offset)
      val bodies = ds.sortBy(_.part).map(_.body)
      val offsets = bodies.scanLeft(0L)(_ + _.length).init
      val ok = recs.size == bodies.size &&
        recs.zip(bodies.zip(offsets)).forall { case (r, (b, o)) => r.offset == o && java.util.Arrays.equals(r.value, b) }
      if (!ok && problems.size < 5) problems += s"$phase: $logical records do not match its parts in order"
    }
    problems.toList
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Per-layer figures from the queries' progress reports. Open-loop
    * figures are per data batch; drain figures are totals. */
  def traced(ctx: Ctx, res: Result, progress: Progress, openName: String, openStartMs: Long, openBatches: Int,
      drainBatches: Int, writtenMs: Seq[Long], drainStartMs: Seq[Long], drainS: Seq[Double]): Unit = {
    // progress reports arrive on the listener bus, after the batch
    def reports(name: String) = progress.reports.asScala.toSeq
      .filter(p => p.name != null && p.name.startsWith(name) && p.numInputRows > 0).sortBy(p => (p.name, p.batchId))
    val deadline = System.nanoTime() + 10L * 1000000000L
    while ((reports(openName).size < openBatches || reports("drain").size < drainBatches) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    val startMs = (p: StreamingQueryProgress) => java.time.Instant.parse(p.timestamp).toEpochMilli
    // the set-up's warm batch ran before the open loop started
    val open = reports(openName).filter(startMs(_) >= openStartMs)
    val drain = reports("drain")
    val byDrain = drainStartMs.indices.map(i => drain.filter(_.name == s"drain$i"))
    def perBatch(ps: Seq[StreamingQueryProgress], keys: String*): Double =
      if (ps.isEmpty) 0.0 else ps.map(p => keys.map(ms(p, _)).sum).sum / ps.size / 1000.0
    res.layer("stream.latest_offset_s", perBatch(open, "latestOffset"), "s", open.size)
    res.layer("stream.plan_s", perBatch(open, "queryPlanning"), "s", open.size)
    res.layer("stream.add_batch_s", perBatch(open, "addBatch"), "s", open.size)
    res.layer("stream.commit_s", perBatch(open, "walCommit", "commitOffsets"), "s", open.size)
    // drain figures: per drain, the median over the drains
    res.layer("stream.get_batch_s", Stats.median(byDrain.map(ps => ps.map(ms(_, "getBatch")).sum / 1000.0)), "s", byDrain.size)
    res.layer("stream.start_s", Stats.median(byDrain.zip(drainStartMs).map { case (ps, t0) =>
      ps.headOption.map(p => (startMs(p) - t0) / 1000.0).getOrElse(0.0) }), "s", byDrain.size)
    res.layer("stream.batches", open.size.toDouble, "count", 1)
    res.layer("stream.rows", (open ++ drain).map(_.numInputRows).sum.toDouble, "count", 1)
    val ops = drain.lastOption.toSeq.flatMap(_.stateOperators)
    res.layer("stream.state_rows", ops.map(_.numRowsTotal).sum.toDouble, "count", 1)
    res.layer("stream.state_mb", ops.map(_.memoryUsedBytes).sum / 1048576.0, "MiB", 1)
    res.layer("stream.state_commit_s", (open ++ drain).flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1000.0, "s", 1)
    // backlog seen by each open-loop batch: files written before it
    // started, minus files earlier batches consumed
    val consumed = open.scanLeft(0L)(_ + _.numInputRows)
    val backlog = open.zip(consumed).map { case (p, before) => writtenMs.count(_ <= startMs(p)) - before }
    res.layer("stream.backlog_max_files", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count", backlog.size)

    // spans of each drain: start() to its first trigger, then each
    // trigger with its reported phases laid end to end
    val spans = mutable.ArrayBuffer.empty[Span]
    val base = drainStartMs.min
    val toNs = (epochMs: Double) => ((epochMs - base) * 1e6).toLong
    byDrain.zip(drainStartMs).zipWithIndex.foreach { case ((ps, t0), i) =>
      val run = s"drain$i"
      ps.headOption.foreach(p => spans += Span(spans.size + 1, "drain.start", toNs(t0.toDouble), toNs(startMs(p).toDouble), -1, run))
      ps.foreach { p =>
        val id = spans.size + 1
        val at = startMs(p).toDouble
        spans += Span(id, "drain.trigger", toNs(at), toNs(at + ms(p, "triggerExecution")), -1, run)
        var t = at
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
          spans += Span(spans.size + 1, s"drain.$k", toNs(t), toNs(t + ms(p, k)), id, run)
          t += ms(p, k)
        }
      }
    }
    ctx.tracer.addAll(spans.toSeq)
    Trace.report(res, spans.toSeq, drainS.sum)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val work = ctx.work.resolve("stream")
    val stage = Files.createDirectories(work.resolve("stage"))
    val progress = new Progress
    if (ctx.traced) ctx.spark.streams.addListener(progress)

    // drain backlogs, written before anything is timed
    val backlog = Gen.drops(ctx.seed + 1, backlogFiles, parts, 1.0, "b")
    val backlogDirs = (0 until drains).map { i =>
      val d = Files.createDirectories(work.resolve(s"backlog-$i"))
      backlog.foreach(drop(stage, d, _))
      d
    }

    // set-up: start the open-loop query on a fresh dir and checkpoint,
    // and wait until it delivered a first small batch of chunk files;
    // the last query stays up for the open loop
    val warm = Gen.drops(ctx.seed + 2, 2 * parts, parts, 1.0, "w")
    var q: StreamingQuery = null
    var openDir: Path = null
    var openSink: Sink = null
    val setupTimes = (0 until setups).map { i =>
      if (q != null) q.stop()
      openDir = Files.createDirectories(work.resolve(s"open-$i"))
      openSink = new Sink
      val t0 = System.nanoTime()
      q = start(ctx, openDir, work.resolve(s"ckpt-open-$i"), openSink, Trigger.ProcessingTime(0L), s"open$i")
      warm.foreach(drop(stage, openDir, _))
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (openSink.got.size < warm.size && q.isActive && System.nanoTime() < deadline) Thread.sleep(2)
      q.exception.foreach(e => throw e)
      val t = (System.nanoTime() - t0) / 1e9
      val problems = check(openDir, warm, openSink.all.map(_._2), "set-up")
      if (problems.nonEmpty) throw new IllegalStateException(problems.mkString("; "))
      openSink.got.clear()
      t
    }
    res.setup(setupTimes)
    val warmBatches = openSink.batches

    // open loop: drops due at a fixed rate for `seconds`
    val n = math.max(parts, (ratePerSec * ctx.seconds).toInt / parts * parts)
    val drops = Gen.drops(ctx.seed, n, parts, ratePerSec, "o")
    val late = new Array[Long](drops.size)
    val writtenMs = new Array[Long](drops.size)
    val openStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val gen = new Thread(() => drops.zipWithIndex.foreach { case (d, i) =>
      val due = t0 + d.dueMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      drop(stage, openDir, d)
      late(i) = System.nanoTime() - due
      writtenMs(i) = System.currentTimeMillis()
    }, "perfbench-stream-generator")
    gen.start()
    gen.join()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (openSink.got.size < drops.size && q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
    q.stop()
    q.exception.foreach(e => res.problem(s"open-loop query failed: ${e.getMessage}"))
    val openGot = openSink.all
    check(openDir, drops, openGot.map(_._2), "open").foreach(res.problem)
    // latency: sink arrival minus the due time of the record's part file
    val dueOf: Map[(String, Long), Long] = drops.groupBy(_.logical).flatMap { case (l, ds) =>
      val sorted = ds.sortBy(_.part)
      val offsets = sorted.scanLeft(0L)(_ + _.body.length).init
      sorted.zip(offsets).map { case (d, o) => (openDir.resolve(l).toString, o) -> d.dueMs }
    }
    val latency = openGot.flatMap { case (at, r) =>
      dueOf.get((r.path, r.offset)).map(due => (at - t0 - due * 1000000L) / 1e9)
    }
    // every micro-batch is an attempt; a failed query counts one failure
    (0 until openSink.batches - warmBatches).foreach(_ => res.attempt(true))
    if (q.exception.nonEmpty) res.attempt(false)

    // drain: AvailableNow over a backlog from a fresh checkpoint, several times
    val drainRuns = backlogDirs.zipWithIndex.map { case (dir, i) =>
      val sink = new Sink
      val startMs = System.currentTimeMillis()
      val d0 = System.nanoTime()
      val dq = start(ctx, dir, work.resolve(s"ckpt-drain-$i"), sink, Trigger.AvailableNow(), s"drain$i")
      dq.awaitTermination()
      val s = (System.nanoTime() - d0) / 1e9
      dq.exception.foreach(e => res.problem(s"drain query failed: ${e.getMessage}"))
      (0 until sink.batches).foreach(_ => res.attempt(true))
      if (dq.exception.nonEmpty) res.attempt(false)
      check(dir, backlog, sink.all.map(_._2), s"drain $i").foreach(res.problem)
      (s, sink.all.size, sink.batches, startMs)
    }
    val drainS = drainRuns.map(_._1)

    res.e2e("unit_s", Stats.median(drainS), "s", drainS.size)
    if (latency.nonEmpty) res.e2e("latency_s", Stats.median(latency), "s", latency.size)
    else res.problem("open loop delivered no records")
    res.layer("stream.latency_p90_s", if (latency.nonEmpty) Stats.percentile(latency, 90) else 0.0, "s", latency.size)
    res.layer("stream.drain_rows_per_s", drainRuns.map(_._2).sum / drainS.sum, "1/s", drainS.size)
    res.layer("stream.gen_late_s", late.max / 1e9, "s", late.length)
    if (ctx.traced) traced(ctx, res, progress, s"open${setups - 1}", openStartMs, openSink.batches - warmBatches,
      drainRuns.map(_._3).sum, writtenMs.toSeq, drainRuns.map(_._4), drainS)
    println(f"[stream] drops ${drops.size} latency p50 ${Stats.median(latency)}%.3f p90 ${Stats.percentile(latency, 90)}%.3f (beyond p90: ${Stats.beyond(latency, 90)}) drains ${drainS.map(t => f"$t%.2f").mkString(",")} s for ${backlog.size} files; setup ${setupTimes.map(t => f"$t%.2f").mkString(",")} gen_late ${late.max / 1e6}%.1f ms")
  }
}
