package graft.ingest

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.operators.FsSwap

/** The poll *task* loop (SURVEY.md §3.2 steps 1-3; reference
  * `FtpSourceTask.scala:47-74`): repeatedly run `Monitor.poll` on the
  * configured cadence, escalate an exponential backoff on failure and
  * reset it on success, convert + shape records, and hand each batch to
  * a sink callback. Driver-side control flow only — every data-moving
  * step inside the poll is a distributed Spark job.
  *
  * In production the same semantics come from scheduling
  * `pollOnce` under any cron/trigger; `run` is the self-contained loop
  * for tests and single-process deployments.
  */
final class PollDriver(
    spark: SparkSession,
    cfg: MonitorConfig,
    stateDir: String,
    sink: Dataset[FileChangeRecord] => Unit,
    clock: () => Long = () => System.currentTimeMillis()) {

  // step = the refresh rate, like the reference (FtpSourceTask.scala:27,30
  // builds the backoff from ftp.refresh); sinceMs far in the past so the
  // very first poll is never gated
  @volatile private var backoff = ExponentialBackoff(
    stepMs = cfg.refresh.toMillis, capMs = cfg.maxBackoff.toMillis,
    sinceMs = Long.MinValue / 2)
  private val converter = cfg.converter

  // the carry-over spool, one FsSwap generation beside the poll state
  private val carrySpool =
    FsSwap.spool(spark.sparkContext.hadoopConfiguration, stateDir, "carryover")

  /** Reads the carry spool; falls back to the `.old` generation if a
    * crash landed between the rename steps of [[writeCarry]] — at worst
    * records are re-served (at-least-once), never lost. */
  private def readCarry(): Dataset[FileChangeRecord] = {
    import spark.implicits._
    carrySpool.readable match {
      case Some(dir) => spark.read.parquet(dir).as[FileChangeRecord]
      case None => spark.emptyDataset[FileChangeRecord]
    }
  }

  /** Spool the unserved tail durably BEFORE the old spool is replaced —
    * the head Dataset's lineage may still read the old parquet; the
    * crash-safety contract lives in [[FsSwap.publish]]. */
  private def writeCarry(tail: Dataset[FileChangeRecord]): Unit = {
    carrySpool.stage(tail) // materializes from old spool
    carrySpool.publish()
  }

  /** Remove a fully-drained spool so gated polls can skip the carry
    * probe with a pure file-existence check (no Spark job). Runs after
    * the sink consumed the served head; a crash before this re-serves
    * the carry (at-least-once), never loses it. */
  private def dropCarry(): Unit = carrySpool.drop()

  // Carry-over serving ignores the (refresh-cadence) backoff like the
  // reference's buffer-first poll — EXCEPT right after a failure, where
  // retrying the carry at full speed would hot-loop a down sink.
  @volatile private var lastFailed = false
  /** Cause of the most recent failed poll (None after a success) — the
    * diagnostic the operator reads when polls keep returning -1. */
  @volatile private var lastFailureCause: Option[Throwable] = None
  def lastError: Option[Throwable] = lastFailureCause

  /** One poll: returns the number of records emitted, or -1 when a
    * failure escalated the backoff, or 0 while waiting out the backoff
    * window.
    *
    * Record-level cap with carry-over, mirroring the reference's
    * `poll()` exactly (`FtpSourceTask.scala:47-52`): if the carry-over
    * buffer is non-empty, serve from it WITHOUT fetching (files are
    * only touched when their records are actually wanted — the
    * laziness the reference's streaming test asserts,
    * `EndToEnd.scala:205-230`); otherwise fetch + convert, then
    * `splitAt(max.poll.records)` — head to the sink, tail spooled for
    * the next poll. The cap counts records AFTER the 1→N converter, so
    * an expanding converter cannot exceed it. */
  def pollOnce(): Long = {
    val now = clock()
    // cheap gates first — no Spark job is launched while waiting out a
    // backoff window: after a failure nothing bypasses the gate, and
    // without a spool on disk (file-level check) there is no carry
    if (!backoff.passed(now) &&
        (lastFailed || carrySpool.readable.isEmpty))
      return 0L
    try {
      val carry = readCarry()
      val haveCarry = carry.take(1).nonEmpty
      // heal a stale EMPTY spool generation (a pre-fix writer could have
      // spooled one on an exact-cap batch): without this, dropCarry is
      // unreachable while haveCarry is false, so the empty generation
      // would keep passing the cheap file-existence gate forever and
      // every gated poll would launch this read just to find it empty
      if (!haveCarry && carrySpool.readable.nonEmpty)
        dropCarry()
      if (!haveCarry && !backoff.passed(now)) return 0L
      // state publish is DEFERRED past sink delivery (at-least-once:
      // a sink failure below leaves state unpublished, so the next
      // poll re-detects and re-emits this batch)
      var commitState: () => Unit = () => ()
      val batch =
        if (haveCarry) carry
        else {
          val (records, commit) = Monitor.pollWithStateDirStaged(
            spark, cfg.dirs, stateDir,
            maxAgeMs = cfg.maxAge.map(_.toMillis),
            maxFilesPerPoll = cfg.maxFilesPerPoll,
            nowMs = now)
          commitState = commit
          Records.applyConverter(records, converter)
        }
      val (head, tail) = Records.splitAt(batch, cfg.maxPollRecords.toLong)
      // count + sink consume head before the spool swap touches lineage
      val served = head.cache()
      try {
        val n = served.count()
        sink(served)
        // Spool decision keys on whether the TAIL has records, not on
        // n == cap: a batch of exactly maxPollRecords has an empty tail,
        // and spooling that empty generation would pass the cheap
        // file-existence gate above — every gated poll during a backoff
        // window would then launch a Spark job (readCarry + take(1)),
        // defeating the no-Spark-job-while-gated contract. n < cap means
        // the tail is empty by construction; only the n == cap edge pays
        // the one-row probe.
        val drained = n < cfg.maxPollRecords || tail.take(1).isEmpty
        if (haveCarry && drained) dropCarry() // drained
        else if (!drained) writeCarry(tail)
        // else: idle or exact-cap poll — no spool churn
        commitState()
        if (!haveCarry) backoff = backoff.nextSuccess(now)
        lastFailed = false
        lastFailureCause = None
        n
      } finally served.unpersist()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // a swallowed cause turns every operational problem into a
        // silent -1 stall; surface it before escalating the backoff
        // (the reference lets the Connect framework log it)
        PollDriver.log.warn(
          s"[graft.PollDriver] poll failed (backoff ${backoff.intervalMs} ms " +
            s"-> next attempt gated): $e")
        lastFailureCause = Some(e)
        backoff = backoff.nextFailure(now)
        lastFailed = true
        -1L
    }
  }

  def currentBackoffMs: Long = backoff.intervalMs

  /** Blocking loop: poll every `cfg.refresh` for `maxPolls` iterations
    * (Int.MaxValue = forever). */
  def run(maxPolls: Int = Int.MaxValue): Unit = {
    var i = 0
    while (i < maxPolls) {
      pollOnce()
      i += 1
      if (i < maxPolls && cfg.refresh.toMillis > 0)
        Thread.sleep(cfg.refresh.toMillis)
    }
  }
}

private object PollDriver {
  private val log = LogManager.getLogger(classOf[PollDriver])
}
