package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.ingest.{FileChangeRecord, Listing}

/** Structured Streaming face of the ingestion engine (SURVEY.md §7.1
  * Track A, milestone M3): file source → stateful tail accumulation →
  * Kafka-shaped sink.
  *
  * Spark's file stream source natively provides the reference's
  * "new files only" offset tracking (`FtpMonitor.scala:35-46` unseen
  * case) with exactly-once source accounting in the checkpoint — so the
  * streaming path models the append-only drop-directory pattern that
  * dominates at 100 TB: producers deposit immutable chunk files
  * (`name.part0`, `name.part1`, …) and the engine stitches each logical
  * file's chunks into a contiguous byte stream with correct offsets via
  * `flatMapGroupsWithState` (the reference's tail semantics, keyed by
  * logical file). In-place file mutation — rewriting history on a live
  * file — is not re-detected by the file source; that mode is served by
  * the batch poll loop (`graft.ingest.Monitor`), which the driver can run
  * on a `Trigger.AvailableNow`-style schedule with parquet state.
  *
  * Listing cost: the file source expands the glob into one root path
  * per matched file and lists that whole expansion three times per
  * `Trigger.AvailableNow` drain (twice at start, once in `getBatch`)
  * and once per `ProcessingTime` trigger, so the glob's expansion size,
  * not the number of new files, sets the per-trigger cost. Above 32
  * paths each listing is a Spark job whose task count
  * `graft.Tuning.rules` caps at ~2× cores.
  *
  * Rate limiting: `maxFilesPerTrigger` is the streaming analog of the
  * reference's `ftp.max.poll.records` carry-over pagination
  * (`FtpSourceTask.scala:47-52`) — excess files stay queued in the
  * source, not buffered in memory.
  */
object FileStreamPipeline {

  final case class Chunk(
      fileKey: String, path: String, size: Long, timestamp: Long, body: Array[Byte])

  /** Per-logical-file tail state: total bytes seen = next append offset,
    * the next part number expected, and any parts that arrived EARLY
    * (cross-batch reordering buffer — the file source's own ordering is
    * path-lexicographic, so `part10` can land a micro-batch before
    * `part2`; emitting it then would transpose bytes). A missing part
    * stalls its successors in `pending` until it arrives. */
  final case class ChunkTailState(
      totalSize: Long,
      nChunks: Long,
      nextPart: Long = 0L,
      pending: Map[Long, Array[Byte]] = Map.empty)

  /** Logical file identity: strips a `.partN` suffix so chunked uploads
    * of the same logical file share state. */
  def chunkKey(path: String): String = path.replaceAll("\\.part[0-9]+$", "")

  /** Numeric-aware chunk ordering: `x.part10` must stitch AFTER
    * `x.part2`, so sort by the extracted part number first (lexicographic
    * path order would transpose bytes once ≥10 parts land in one batch),
    * falling back to the path for non-numbered names. */
  private val PartNum = ".*\\.part([0-9]+)$".r
  def chunkOrder(path: String): (Long, String) = path match {
    // toLong can overflow on absurd part numbers (20+ digits); treating
    // such a name as unnumbered beats crash-looping the streaming query
    // on one poison filename (the checkpoint would replay it forever)
    case PartNum(n) => scala.util.Try(n.toLong).toOption
      .fold((Long.MaxValue, path))(v => (v, path))
    case _ => (Long.MaxValue, path)
  }

  /** The stateful tail operator: chunks of one logical file arrive in
    * any batch, in any order; each is emitted as a delta record whose
    * offset is the accumulated size — the streaming twin of
    * `TailDiff.handleFetchedFile` case (a). Numbered parts emit
    * strictly in part order ACROSS batches: early arrivals wait in the
    * state's pending buffer until their predecessors land (a producer
    * that never writes a part stalls that file's tail — by design, the
    * alternative is transposed bytes). Unnumbered paths (one chunk per
    * key by construction of [[chunkKey]]) emit on arrival.
    *
    * `idleTimeout` (set by [[changeRecords]]) bounds state growth: a
    * logical file whose chunks stop arriving for that long has its
    * state evicted — without eviction, per-file state (and stranded
    * `pending` buffers for files whose earlier part never lands)
    * accumulates forever across millions of ingested files, growing
    * every checkpoint until the query needs a destructive reset. An
    * evicted file that later receives a straggler part restarts at
    * offset 0 — the documented abandon-the-stall tradeoff. */
  def tailStateFn(topic: String, idleTimeout: Option[String] = None)(
      key: String,
      chunks: Iterator[Chunk],
      state: GroupState[ChunkTailState]): Iterator[FileChangeRecord] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var st = state.getOption.getOrElse(ChunkTailState(0L, 0L))
    val out = IndexedSeq.newBuilder[FileChangeRecord]
    def emit(body: Array[Byte]): Unit = {
      out += FileChangeRecord(topic, key, st.totalSize, body)
      st = st.copy(totalSize = st.totalSize + body.length, nChunks = st.nChunks + 1)
    }
    val (numbered, unnumbered) = chunks.toIndexedSeq.partition(c =>
      chunkOrder(c.path)._1 != Long.MaxValue)
    unnumbered.sortBy(_.path).foreach(c => emit(c.body))
    var pending = st.pending ++ numbered.map(c => chunkOrder(c.path)._1 -> c.body)
    while (pending.contains(st.nextPart)) {
      emit(pending(st.nextPart))
      pending -= st.nextPart
      st = st.copy(nextPart = st.nextPart + 1)
    }
    state.update(st.copy(pending = pending))
    idleTimeout.foreach(state.setTimeoutDuration)
    out.result().iterator
  }

  /** File-source → tail-stitched change records. */
  def changeRecords(
      spark: SparkSession,
      glob: String,
      topic: String,
      maxFilesPerTrigger: Int = 10000,
      // opt-in: ProcessingTimeTimeout keeps the micro-batch engine
      // scheduling timeout-check batches, so continuous-test harnesses
      // (processAllAvailable) never see the query idle — long-running
      // 100 TB deployments SHOULD set this (e.g. "24 hours") to bound
      // state-store/checkpoint growth over millions of ingested files
      idleStateTimeout: Option[String] = None): Dataset[FileChangeRecord] = {
    import spark.implicits._
    spark.readStream
      .format("binaryFile")
      .schema(Listing.binaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(glob)
      .select(
        // same scheme/authority normalization as the batch path, so a
        // file yields the SAME record path from either pipeline
        graft.ingest.Listing.stripScheme($"path").as("path"),
        $"length".as("size"),
        unix_millis($"modificationTime").as("timestamp"),
        $"content".as("body"))
      .as[(String, Long, Long, Array[Byte])]
      .map { case (p, s, t, b) => Chunk(chunkKey(p), p, s, t, b) }
      .groupByKey(_.fileKey)
      .flatMapGroupsWithState(
        OutputMode.Append,
        // idle-key eviction bounds state-store/checkpoint growth over
        // millions of ingested files (see tailStateFn); None keeps
        // state forever for deployments that resume stalled tails
        idleStateTimeout.fold(GroupStateTimeout.NoTimeout)(_ =>
          GroupStateTimeout.ProcessingTimeTimeout)
      )(tailStateFn(topic, idleStateTimeout))
  }

  /** Streaming exact dedup bounded by a watermark: drops re-delivered
    * records with the same keys arriving within `delay` of each other —
    * the streaming face of exact dedup for at-least-once upstreams
    * (state is evicted once the watermark passes, so memory stays
    * bounded, unlike an unbounded `dropDuplicates`). */
  def dedupWithinWatermark(
      df: DataFrame,
      eventTimeCol: String,
      delay: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Event-time ingest statistics: per-minute file counts/bytes with a
    * watermark for late arrivals — the observability the reference lacks
    * entirely, free in Structured Streaming. */
  def ingestStats(spark: SparkSession, glob: String): DataFrame = {
    spark.readStream
      .format("binaryFile")
      .schema(Listing.binaryFileSchema)
      .load(glob)
      .withWatermark("modificationTime", "10 minutes")
      .groupBy(window(col("modificationTime"), "1 minute"))
      .agg(count(lit(1)).as("n_files"), sum(col("length")).as("n_bytes"))
  }

  /** Update-mode monitoring as a streaming query: Spark's file stream
    * source only ever sees NEW files, so in-place mutation — the
    * reference's update-mode re-fetch on size/mtime change
    * (`FtpMonitor.scala:35-46`, whole body re-emitted at offset 0,
    * `FtpMonitor.scala:87-95`) — is re-detected by running the batch
    * change-detection poll (`Monitor.pollWithStateDirStaged`: re-list →
    * state compare → fetch → tail/diff, state committed only after the
    * sink succeeds) inside each micro-batch of a ticking stream. State
    * lives in the poll's parquet store under `stateDir` (any Hadoop
    * path with an atomic directory rename), offsets in the checkpoint;
    * each tick is one reference `ftp.refresh` cycle, so streaming-only
    * deployments no longer need a separate batch loop for mutating
    * files.
    *
    * `ticks` is any streaming DataFrame whose micro-batches set the
    * cadence — `rateTicks` for wall-clock refresh, a MemoryStream in
    * tests. */
  def updateMonitorPolls(
      ticks: DataFrame,
      dirs: Seq[graft.ingest.MonitoredPath],
      stateDir: String,
      sink: Dataset[FileChangeRecord] => Unit,
      maxFilesPerPoll: Int = 10000,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = ticks.sparkSession
    val onBatch: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (_, _) => {
        // Staged poll: publish the new state generation only AFTER the
        // sink returns, so a sink failure (or crash mid-batch) leaves the
        // old state in place and the streaming retry re-detects and
        // re-emits this batch's changes — the same at-least-once contract
        // the batch PollDriver enforces by deferring commit past delivery.
        val (records, commit) = graft.ingest.Monitor.pollWithStateDirStaged(
          spark, dirs, stateDir, maxFilesPerPoll = maxFilesPerPoll)
        sink(records)
        commit()
      }
    ticks.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch(onBatch)
      .start()
  }

  /** Wall-clock tick source: rows accumulate continuously, but polls
    * fire once per micro-batch, so the poll cadence is set by the
    * TRIGGER, not by rowsPerSecond — use [[updateMonitorStream]] which
    * wires both. */
  def rateTicks(spark: SparkSession): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()

  /** Convenience wiring: one state-compare poll per `refreshInterval`
    * (the reference's `ftp.refresh`, `FtpSourceTask.scala:27`). */
  def updateMonitorStream(
      spark: SparkSession,
      dirs: Seq[graft.ingest.MonitoredPath],
      stateDir: String,
      sink: Dataset[FileChangeRecord] => Unit,
      refreshInterval: String = "1 minute",
      maxFilesPerPoll: Int = 10000): StreamingQuery =
    updateMonitorPolls(rateTicks(spark), dirs, stateDir, sink, maxFilesPerPoll,
      Trigger.ProcessingTime(refreshInterval))

  /** Kafka sink wiring (requires the spark-sql-kafka package on the
    * cluster's classpath; not present in this offline test image, where
    * the suites use the memory sink instead). At-least-once into Kafka
    * with offsets committed in the checkpoint — the same contract as the
    * reference's Connect source (SURVEY.md §3.3), but with replayable
    * exactly-once source accounting. */
  def writeKafka(
      records: Dataset[FileChangeRecord],
      bootstrapServers: String,
      checkpointDir: String,
      triggerInterval: String = "1 minute"): StreamingQuery = {
    graft.ingest.Records.toKafkaFrame(records)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
  }
}
