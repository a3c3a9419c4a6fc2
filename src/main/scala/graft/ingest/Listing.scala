package graft.ingest

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Directory listing and fetch (SURVEY.md §2 #1-4), replacing the
  * reference's `FtpFileLister` (`FtpFileLister.scala:27-53`).
  *
  * Listing expands each monitored glob with Hadoop `globStatus`, the
  * same directory-pruned descent the reference hand-rolls (it never
  * lists subtrees that can't match). [[list]] runs it on the driver, as
  * the reference's LIST did; only [[listAll]] with `distributeThreshold`
  * (8) or more specs distributes, one executor task per slice of specs.
  * The streaming face instead hands its glob to Spark's file source,
  * whose `InMemoryFileIndex` lists the expansion with a Spark job sized
  * by `Tuning`'s listing fan-out rule.
  *
  * Listing is metadata-only: no byte is downloaded before the
  * change-detection filter decides it must be ([[fetch]] reads only the
  * changed rows), mirroring the reference's list-before-fetch split.
  */
object Listing {

  private val log = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  /** binaryFile's fixed schema (needed explicitly for readStream). */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Normalize a source-reported URI to a bare path — strips any scheme
    * and authority (`file:`, `hdfs://namenode`, `s3a://bucket` …) so it
    * joins against the `toUri.getPath` form the listing produces.
    * Shared with the streaming source so batch and streaming record
    * paths are identical for the same file. */
  private[graft] def stripScheme(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")


  /** Metadata-only listing of one monitored glob:
    * (path, uri, size, timestamp-millis). `path` is the scheme-stripped
    * record identity (shared with the streaming pipeline); `uri` is the
    * fully-qualified form the FETCH must use — resolving the bare path
    * against the default FileSystem would silently read nothing for a
    * monitored dir on a non-default filesystem (s3a:// / hdfs:// source
    * on a cluster whose fs.defaultFS differs). Missing/empty matches →
    * empty frame (a monitored dir that doesn't exist yet is not an
    * error, same as an FTP dir that hasn't been created).
    *
    * Uses Hadoop `globStatus` — the same engine behind Catalyst's
    * `InMemoryFileIndex`, with identical glob semantics and pruned
    * directory descent — rather than a `binaryFile` scan, because
    * Spark's file sources plan zero splits for zero-length files, which
    * would make empty files invisible to change detection (the reference
    * emits a record for an emptying update, EndToEnd.scala:90-92). The
    * glob expansion runs where the reference's LIST ran (driver); for
    * huge trees, monitored globs fan out per-directory and this is
    * trivially parallelized over `dirs` before the union in Monitor.
    */
  def list(spark: SparkSession, mp: MonitoredPath): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(mp.glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    statuses.filter(_.isFile)
      .map(st => (st.getPath.toUri.getPath, st.getPath.toString,
        st.getLen, st.getModificationTime))
      .toSeq
      .toDF("path", "uri", "size", "timestamp")
  }

  /** Listing for a whole monitored-path SET, tagged with each spec's
    * (tail, topic). Few specs (the common config) list on the driver —
    * where the reference's LIST ran, with zero job overhead. Many specs
    * DISTRIBUTE: each executor task globs its slice of the specs, so a
    * deployment monitoring thousands of directories is bounded by
    * cluster-wide RPC parallelism, not a serial driver loop — the last
    * driver-resident piece of the poll becomes O(specs), not O(files).
    */
  def listAll(
      spark: SparkSession,
      mps: Seq[MonitoredPath],
      distributeThreshold: Int = 8): DataFrame = {
    import spark.implicits._
    if (mps.isEmpty) {
      Seq.empty[(String, String, Long, Long, Boolean, String)]
        .toDF("path", "uri", "size", "timestamp", "tail", "topic")
    } else if (mps.size < distributeThreshold) {
      mps.map { mp =>
        list(spark, mp)
          .withColumn("tail", lit(mp.tail))
          .withColumn("topic", lit(mp.topic))
      }.reduceLeft(_ unionByName _)
    } else {
      val confBc = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      val slices = math.min(mps.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext
        .parallelize(mps.map(mp => (mp.glob, mp.tail, mp.topic)), slices)
        .flatMap { case (glob, tail, topic) =>
          val p = new org.apache.hadoop.fs.Path(glob)
          val fs = p.getFileSystem(confBc.value.value)
          Option(fs.globStatus(p)).getOrElse(Array.empty).iterator
            .filter(_.isFile)
            .map(st => (st.getPath.toUri.getPath, st.getPath.toString,
              st.getLen, st.getModificationTime, tail, topic))
        }
        .toDF("path", "uri", "size", "timestamp", "tail", "topic")
    }
  }

  /** Max-age cutoff on listing metadata (SURVEY.md §2 #4) — evaluated
    * before any content is read, like `FtpMonitor.scala:110`. */
  def filterMaxAge(listing: DataFrame, maxAgeMs: Option[Long], nowMs: Long): DataFrame =
    maxAgeMs match {
      case Some(ms) => listing.filter(col("timestamp") >= nowMs - ms)
      case None => listing
    }

  /** Serializable Hadoop Configuration carrier (Configuration is
    * Writable but not Serializable; Spark's own equivalent is
    * private[spark]) — lets the fetch tasks resolve FileSystems with
    * the driver's full conf, not a default-constructed one.
    *
    * The conf is EAGERLY flattened to a byte array at construction
    * rather than via writeObject/readObject hooks: Spark serializes
    * broadcast values with the configured `spark.serializer`, and
    * Kryo's FieldSerializer bypasses Java serialization hooks entirely
    * (it would ship a null `@transient` field) — a deployment setting
    * `spark.serializer=KryoSerializer` must not silently lose the
    * conf. A plain byte-array field round-trips under BOTH
    * serializers. */
  private[ingest] class SerializableHadoopConf(
      conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private val bytes: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      conf.write(dos)
      dos.flush()
      bos.toByteArray
    }
    // @volatile: tasks on one executor share the broadcast object; the
    // unsynchronized fast-path read needs a happens-before edge with
    // the constructing thread's write or it can observe a
    // partially-published Configuration
    @transient @volatile private var cached: org.apache.hadoop.conf.Configuration = conf
    def value: org.apache.hadoop.conf.Configuration = {
      if (cached == null) synchronized {
        if (cached == null) {
          val c = new org.apache.hadoop.conf.Configuration(false)
          c.readFields(new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(bytes)))
          cached = c
        }
      }
      cached
    }
  }

  /** Default inline-body cap for [[fetch]] — comfortably inside a
    * ~1 GiB per-core executor memory slice with operator headroom. */
  val DefaultInlineBodyMax: Long = 256L << 20

  /** Content fetch for the post-diff change set, fully DISTRIBUTED:
    * the `uri` column of `files` streams to executors, and each task
    * stats + reads its files directly through the Hadoop FileSystem
    * API — no driver-side path list (the previous `binaryFile` face
    * required `load(paths*)`, putting every fetched path in driver
    * memory), so the fetch set is bounded by cluster IO, not by the
    * driver. Each FileSystem resolves from its QUALIFIED uri, never
    * from `fs.defaultFS`, so non-default filesystems fetch correctly.
    *
    * Missing files are skipped per-task (a file deleted between list
    * and fetch simply retries next poll — the reference's own race
    * posture, and binaryFile would have failed the whole batch).
    * Zero-length files need no special case: an empty read IS the
    * empty body (binaryFile plans zero splits for them — the other
    * reason it lost this job). Returns (path, uri, size, timestamp,
    * body) with `path` scheme-stripped to the record identity and
    * size/timestamp re-stat'd at read time (binaryFile's contract).
    *
    * Files larger than `inlineBodyMax` are NOT read here: their `body`
    * is null, and the tail/diff stage streams them through
    * [[TailDiff.handleFetchedStreamChunked]] (digests + the emitted range
    * only) — an in-memory body caps at the JVM array bound and, long
    * before that, at the executor's per-task memory slice, so a
    * 100 TB deployment's multi-GiB append logs must never materialize
    * whole.
    *
    * `skipped` (when given) counts files dropped by the per-file
    * IOException catch below — a permanently unreadable file (e.g.
    * bad permissions) is otherwise skipped on EVERY poll with only an
    * executor log line to show for it; the accumulator makes the
    * condition observable from the driver (see Monitor.PollOutput). */
  def fetch(
      spark: SparkSession,
      files: DataFrame,
      inlineBodyMax: Long = DefaultInlineBodyMax,
      skipped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    files.select(col("uri")).distinct()
      .repartition(parts) // spread the IO round-robin across executors
      .as[String]
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.flatMap { uri =>
          val p = new org.apache.hadoop.fs.Path(uri)
          try {
            val fs = p.getFileSystem(conf)
            val st = fs.getFileStatus(p)
            // the listing filtered isFile, but a path replaced by a
            // directory between list and fetch re-opens the hole —
            // skip it like a deleted file (retry next poll)
            if (!st.isFile) Iterator.empty
            else {
              // the cap is enforced on the bytes actually read, not
              // just the pre-read stat: a file that grows past the cap
              // (or the JVM array bound) between getFileStatus and the
              // read must fall back to the streaming path instead of
              // buffering unboundedly. Reading cap+1 detects overflow
              // without materializing the overage.
              val cap = math.min(inlineBodyMax, (Int.MaxValue - 16).toLong)
              val body: Array[Byte] =
                if (st.getLen > cap) null
                else {
                  val out = new java.io.ByteArrayOutputStream(
                    math.max(math.min(st.getLen, 1L << 20).toInt, 64))
                  val in = fs.open(p)
                  try {
                    val buf = new Array[Byte](64 * 1024)
                    var total = 0L
                    var done = false
                    while (!done && total <= cap) {
                      // clamp to cap+1-total so the transient buffer
                      // never exceeds the cap by more than one byte
                      val want = math.min(buf.length.toLong, cap + 1 - total).toInt
                      val n = in.read(buf, 0, want)
                      if (n < 0) done = true
                      else { out.write(buf, 0, n); total += n }
                    }
                    if (total > cap) null else out.toByteArray
                  } finally in.close()
                }
              // size = the bytes the body (and its hash) actually
              // holds, not the pre-read stat: a file appended between
              // getFileStatus and the read would otherwise persist a
              // state row pairing the stale size with the hash of the
              // longer content — a pair that can never prefix-match,
              // full-dumping on every later poll. The streaming path
              // (null body) keeps the stat size; its tail/diff re-counts
              // during the digest pass anyway (actualLen).
              val size = if (body != null) body.length.toLong else st.getLen
              Iterator.single(
                (p.toUri.getPath, uri, size, st.getModificationTime, body))
            }
          } catch {
            // a Spark task kill must still kill the task (NIO interrupt
            // surfaces as ClosedByInterrupt, an IOException that is not
            // an InterruptedIOException)
            case e: java.io.InterruptedIOException => throw e
            case e: java.nio.channels.ClosedByInterruptException => throw e
            // deleted/replaced/unreadable between list and fetch: one
            // file's race (or bad permissions) must not fail the whole
            // fetch job — the retry-next-poll posture (FNF is an
            // IOException subclass). Logged so a permanently
            // unreadable file is diagnosable from the executor log.
            case e: java.io.IOException =>
              log.warn(
                s"[graft.fetch] skipping unreadable $uri (retry next poll): $e")
              skipped.foreach(_.add(1L))
              Iterator.empty
          }
        }
      }
      .toDF("path", "uri", "size", "timestamp", "body")
  }
}
