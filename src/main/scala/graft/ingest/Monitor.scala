package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.FsSwap

/** The poll loop (SURVEY.md §3.2) as a pure batch transformation:
  * list → max-age filter → state lookup → change-detection →
  * fetch → tail/diff → records + new state.
  *
  * Each `poll` is one micro-batch; driving it repeatedly with the
  * returned state is exactly the reference's
  * `FtpSourcePoller.poll()` loop, and is what the E2E suite replays.
  *
  * Scale design:
  *  - fetching is fully distributed (Listing.fetch maps uris to
  *    executor-side FileSystem reads): the changed-path set, bounded
  *    by `maxFilesPerPoll` (the reference's `ftp.max.poll.records`
  *    analog, default 10k), never collects to the driver — only the
  *    glob LISTING metadata is driver-resident (globStatus, where the
  *    reference's LIST also ran).
  *  - change detection is a broadcast-friendly left-outer join of the
  *    listing against the state table on `path` (SURVEY.md §2 #5-6);
  *    no content is read for unchanged files.
  *  - state is a plain Dataset; persist it as parquet (or let the
  *    streaming variant keep it in the state store) between polls.
  */
object Monitor {

  private val log = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  /** `cleanup` releases the poll's cached intermediate — call it once
    * `records` and `newState` have both been materialized (collected or
    * written); a long-running poll loop that never cleans up leaks one
    * cached dataset of file bodies per poll.
    *
    * `skippedFiles` reads the poll's skipped-file accumulator (files
    * dropped by the per-file unreadable-IOException catch in
    * Listing.fetch or the chunked digest path) — meaningful only AFTER
    * `records`/`newState` have been materialized, and AT-LEAST-ONCE,
    * not exact: accumulators updated inside transformations re-count on
    * task retries and on recomputation of an evicted cached partition,
    * so a transient error can register a skip even though the retry
    * succeeded. Treat it as a health SIGNAL, not a ledger: a nonzero
    * count that persists across SEVERAL consecutive polls means a
    * permanently unreadable file is being silently re-skipped every
    * poll — alert on that pattern, not on a single poll's exact
    * value. */
  final case class PollOutput(
      records: Dataset[FileChangeRecord],
      newState: Dataset[FileMetaData],
      cleanup: () => Unit = () => (),
      skippedFiles: () => Long = () => 0L)

  /** One poll over all monitored paths. `inlineBodyMax` caps the
    * per-file in-memory body (see [[Listing.fetch]]): larger files run
    * the streaming tail/diff ([[TailDiff.handleFetchedStreamChunked]]),
    * so a multi-GiB append log costs two streamed passes and at most
    * TWO `maxRecordBytes`-bounded chunks of its delta in memory at a
    * time (the wrapper looks one chunk ahead to attach the state row
    * to the last record) — an oversized delta emits as N records with
    * advancing offsets. */
  def poll(
      spark: SparkSession,
      dirs: Seq[MonitoredPath],
      state: Dataset[FileMetaData],
      maxAgeMs: Option[Long] = None,
      maxFilesPerPoll: Int = 10000,
      nowMs: Long = System.currentTimeMillis(),
      inlineBodyMax: Long = Listing.DefaultInlineBodyMax,
      maxRecordBytes: Int = TailDiff.DefaultMaxRecordBytes): PollOutput = {
    import spark.implicits._

    // 1. list all monitored globs (metadata only), tag with mode/topic;
    // many specs glob on executors (Listing.listAll), so the driver
    // holds O(specs), never O(files-in-tree)
    if (dirs.isEmpty)
      return PollOutput(spark.emptyDataset[FileChangeRecord], state)
    val listing =
      Listing.filterMaxAge(Listing.listAll(spark, dirs), maxAgeMs, nowMs)

    // 2+3. state probe + requiresFetch (left-outer join, OR-of-inequalities:
    // unseen, size changed, or mtime changed — FtpMonitor.scala:35-46)
    val prev = state.toDF().select(
      $"path", $"size".as("prev_size"), $"timestamp".as("prev_ts"))
    // size/timestamp end here: the distributed fetch re-stats at read
    // time (binaryFile's contract), so the capped change set carries
    // only what its consumers read — (path, uri) for the fetch, (path,
    // tail, topic) for the spec map
    val changed = listing.join(prev, Seq("path"), "left_outer")
      .filter($"prev_size".isNull ||
              $"size" =!= $"prev_size" ||
              $"timestamp" =!= $"prev_ts")
      .select($"path", $"uri", $"tail", $"topic")
    // the cap bounds distinct PATHS, then re-attaches every matching
    // spec: capping raw (path, spec) rows could keep topic A's row and
    // drop topic B's for the same path — the state upsert would then
    // mark the path clean and topic B would NEVER see the change
    val keptPaths = changed.select($"path").distinct().limit(maxFilesPerPoll)
    // the capped change set stays a DATASET end to end: the fetch list
    // is never collected to the driver (Listing.fetch reads uris on
    // executors), so raising maxFilesPerPoll costs cluster IO, not
    // driver memory. The checkpoint pins the small metadata frame for
    // its three consumers (empty probe, spec map, fetch).
    val toFetch = changed.join(keptPaths, Seq("path"), "left_semi")
      .pin()

    if (toFetch.isEmpty) return PollOutput(spark.emptyDataset[FileChangeRecord], state)
    // one row per (path, spec): a path matched by several monitored specs
    // is fetched once but emitted once per spec with that spec's
    // mode/topic, like the reference's per-directory streams
    // (FtpMonitor.scala:164-170). Joined adaptively (no forced
    // broadcast): AQE broadcasts while it fits and degrades to a
    // shuffle join for huge polls instead of OOMing the driver.
    val modeDf = toFetch.select($"path", $"tail", $"topic").distinct()

    // 4. fetch bodies for changed paths only (executors do the IO),
    //    re-join previous full state, run the tail/diff state machine;
    //    fetch addresses files by the QUALIFIED uri (non-default
    //    filesystems); records/state keep the stripped path identity.
    //    Bodies over inlineBodyMax arrive null and stream through the
    //    digest-based tail/diff instead (the executor task opens the
    //    file itself, resolved per uri with the broadcast conf).
    val skippedAcc =
      spark.sparkContext.longAccumulator("graft.poll.skippedFiles")
    val fetched =
      Listing.fetch(spark, toFetch.select($"uri"), inlineBodyMax, Some(skippedAcc))
      .join(modeDf, Seq("path"))
      .join(state.toDF().select($"path",
        struct(state.columns.map(col): _*).as("prev")), Seq("path"), "left_outer")

    val confBc = spark.sparkContext.broadcast(
      new Listing.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val handled = fetched.select(
        $"path", $"uri", $"size", $"timestamp", $"body", $"tail", $"topic", $"prev")
      .as[(String, String, Long, Long, Array[Byte], Boolean, String, Option[FileMetaData])]
      .flatMap { case (path, uri, size, tsMs, body, tail, topic, prevMeta) =>
        if (body != null) {
          val (meta, delta) = TailDiff.handleFetchedFile(
            tail, prevMeta, FetchedFile(path, size, tsMs, body), nowMs)
          Iterator.single(
            (Option(meta), FileChangeRecord(topic, path, delta.offset, delta.bytes)))
        } else {
          val p = new Path(uri)
          // chunked: an oversized delta emits N bounded records with
          // advancing offsets instead of hitting the JVM array bound.
          // The state row rides ONLY the last chunk (finalMeta): a
          // truncated emission then publishes a self-invalidating row
          // so the next poll re-fetches instead of skipping the
          // undelivered suffix (TailDiff.ChunkedEmission).
          try {
            val em = TailDiff.handleFetchedStreamChunked(
              tail, prevMeta, path, tsMs,
              () => p.getFileSystem(confBc.value.value).open(p), nowMs,
              maxRecordBytes)
            new Iterator[(Option[FileMetaData], FileChangeRecord)] {
              override def hasNext: Boolean = em.chunks.hasNext
              override def next(): (Option[FileMetaData], FileChangeRecord) = {
                val fb = em.chunks.next()
                val meta = if (em.chunks.hasNext) None else Some(em.finalMeta())
                (meta, FileChangeRecord(topic, path, fb.offset, fb.bytes))
              }
            }
          } catch {
            // a Spark task kill must still kill the task (NIO interrupt
            // surfaces as ClosedByInterrupt, an IOException that is not
            // an InterruptedIOException)
            case e: java.io.InterruptedIOException => throw e
            case e: java.nio.channels.ClosedByInterruptException => throw e
            // deleted/replaced/unreadable between the fetch stat and
            // the digest pass: skip the row — retry next poll, the
            // inline path's posture (Listing.fetch has the same
            // catch); one file's race or bad permissions must not
            // fail the whole batch. Logged so a permanently
            // unreadable file is diagnosable from the executor log.
            case e: java.io.IOException =>
              log.warn(
                s"[graft.poll] skipping unreadable $path (retry next poll): $e")
              skippedAcc.add(1L)
              Iterator.empty
          }
        }
      }
      .cache() // consumed twice (records + state); one executor pass

    val records = handled.map(_._2)
    // one meta per (path, spec) — the inline path emits it on its one
    // row, the chunked path on its LAST row. A multi-spec path yields
    // one per spec; under a mid-poll mutation the per-spec STREAMING
    // runs can disagree (each digests independently — one truncated,
    // one clean), so the reduction to the single-row-per-path state
    // invariant must be deterministic AND conservative: keep the
    // smallest (size, hash) row. Smaller size = fewer bytes claimed
    // delivered = the next poll re-fetches and re-delivers for every
    // spec (at-least-once); an arbitrary dropDuplicates could keep a
    // clean larger row and permanently skip another topic's suffix.
    val newMetas = handled.flatMap(_._1)
      .groupByKey(_.path)
      .reduceGroups((a, b) =>
        if (a.size < b.size || (a.size == b.size && a.hash <= b.hash)) a else b)
      .map(_._2)

    // 5. state upsert: keep untouched rows, replace refreshed ones
    val untouched = state.join(newMetas.toDF().select($"path"), Seq("path"), "left_anti")
      .as[FileMetaData]
    PollOutput(records, untouched.union(newMetas),
      () => { handled.unpersist(); () }, () => skippedAcc.value)
  }

  /** Poll with parquet-persisted state (the batch analog of the
    * streaming state store; survives process restarts like the
    * reference's Connect offsets topic — SURVEY.md §3.3). The state
    * publish is DEFERRED to the returned `commit` thunk: callers that
    * deliver records to a sink invoke it only after delivery succeeds,
    * so a sink failure or crash re-detects (and re-emits) the same
    * changes on the next poll — at-least-once, like the reference's
    * uncommitted-offsets window. Committing BEFORE delivery would
    * silently drop the batch on a sink failure.
    *
    * `stateDir` is any Hadoop path whose directory rename is atomic
    * (a local path, a `file:` URI, HDFS, a shared mount; not an object
    * store), with ONE publisher per `stateDir` at a time — the
    * [[graft.operators.FsSwap.publish]] contract. The returned Dataset
    * reads this poll's `records.parquet` spool, which the NEXT poll
    * overwrites: consumers must fully materialize it before polling
    * again (the PollDriver sink contract does — it collects/writes per
    * poll). */
  def pollWithStateDirStaged(
      spark: SparkSession,
      dirs: Seq[MonitoredPath],
      stateDir: String,
      maxAgeMs: Option[Long] = None,
      maxFilesPerPoll: Int = 10000,
      nowMs: Long = System.currentTimeMillis(),
      inlineBodyMax: Long = Listing.DefaultInlineBodyMax,
      maxRecordBytes: Int = TailDiff.DefaultMaxRecordBytes): (Dataset[FileChangeRecord], () => Unit) = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val swap = FsSwap.spool(hconf, stateDir, "state")
    // a crash mid-publish leaves the previous state generation
    // readable — the next poll then re-detects that generation's changes
    val state = swap.readable match {
      case Some(dir) => spark.read.parquet(dir).as[FileMetaData]
      case None => spark.emptyDataset[FileMetaData]
    }
    val out = poll(spark, dirs, state, maxAgeMs, maxFilesPerPoll, nowMs,
      inlineBodyMax, maxRecordBytes)
    // Materialize BOTH outputs to disk before any state swap: the
    // records Dataset's lineage reads the old state parquet, so
    // deleting it first would make any later recomputation (cache
    // eviction, executor loss) fail with missing part-files. Spooling
    // records also means the caller's sink never re-runs the fetch.
    val recordsPath = s"$stateDir/records.parquet"
    out.records.write.mode("overwrite").parquet(recordsPath)
    swap.stage(out.newState)
    out.cleanup()
    val records =
      if (FsSwap.hasParts(new Path(recordsPath).getFileSystem(hconf), recordsPath))
        spark.read.parquet(recordsPath).as[FileChangeRecord]
      else spark.emptyDataset[FileChangeRecord]
    (records, () => swap.publish())
  }
}
