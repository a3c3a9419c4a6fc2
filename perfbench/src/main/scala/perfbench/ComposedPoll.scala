package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest._

/** `PollDriver.pollOnce` over `Monitor.poll`, composed from the
  * program's public calls so each layer can carry its own span:
  *
  *  - list: `Listing.listAll` + `filterMaxAge` (driver-side glob);
  *  - probe: the state join, the change filter and the file cap;
  *  - fetch_diff: `Listing.fetch` + `TailDiff.handleFetchedFile`,
  *    materialized by writing the records spool;
  *  - state_write: the new state generation;
  *  - convert_cap: `Records.applyConverter` + `Records.splitAt` and the
  *    served head;
  *  - spool: the carry-over generation (written or dropped);
  *  - publish: the state generation swap.
  *
  * Only the benchmark's traced run uses it; its records and state are
  * checked against the same model as `PollDriver`'s. Files over the
  * inline body cap (the chunked path) are out of scope and fail the
  * poll. */
final class ComposedPoll(
    spark: SparkSession,
    dirs: Seq[MonitoredPath],
    stateDir: String,
    cap: Int,
    maxFilesPerPoll: Int,
    converter: Records.RecordConverter,
    sink: Dataset[FileChangeRecord] => Unit,
    ctx: Ctx) {
  import spark.implicits._

  private val statePath = s"$stateDir/state.parquet"
  private val carryPath = s"$stateDir/carry.parquet"

  /** Counts of the last poll, taken outside the timed layers. */
  var filesListed = 0L
  var filesChanged = 0L
  var filesFetched = 0L
  var fetchedBytes = 0L
  var nonEmptyFetches = 0L
  var stateRows = 0L

  private def hasParts(dir: String): Boolean =
    Option(new File(dir).listFiles()).exists(_.exists(_.getName.endsWith(".parquet")))

  /** Renames `tmp` over `target` (the previous generation goes first). */
  private def swap(tmp: String, target: String): Unit = {
    val t = new File(target)
    if (t.exists()) FileUtils.deleteDirectory(t)
    if (!new File(tmp).renameTo(t)) throw new java.io.IOException(s"cannot publish $tmp -> $target")
  }

  /** One poll under `phase` ("idle", "churn" or "initial"); returns the
    * records served. */
  def pollOnce(phase: String, nowMs: Long = System.currentTimeMillis()): Long = {
    val tr = ctx.tracer
    def layer[T](name: String)(body: => T): T = tr.span(s"$phase.$name")(body)
    // counts run outside the timed layers, in their own span and job group
    def counted[T](body: => T): T = layer("count")(ctx.inGroup("ingest-count")(body))
    filesListed = 0; filesChanged = 0; filesFetched = 0; fetchedBytes = 0; nonEmptyFetches = 0; stateRows = 0
    tr.span(s"$phase.poll") {
      val haveCarry = hasParts(carryPath)
      var publish: () => Unit = () => ()
      val batch: Dataset[FileChangeRecord] =
        if (haveCarry) spark.read.parquet(carryPath).as[FileChangeRecord]
        else {
          val state =
            if (hasParts(statePath)) spark.read.parquet(statePath).as[FileMetaData]
            else spark.emptyDataset[FileMetaData]
          val listing = layer("list")(Listing.filterMaxAge(Listing.listAll(spark, dirs), None, nowMs))
          filesListed = counted(listing.count())
          val (toFetch, nothingChanged) = layer("probe") {
            val prev = state.toDF().select($"path", $"size".as("prev_size"), $"timestamp".as("prev_ts"))
            val changed = listing.join(prev, Seq("path"), "left_outer")
              .filter($"prev_size".isNull || $"size" =!= $"prev_size" || $"timestamp" =!= $"prev_ts")
              .select($"path", $"uri", $"tail", $"topic")
            val kept = changed.select($"path").distinct().limit(maxFilesPerPoll)
            val t = changed.join(kept, Seq("path"), "left_semi").localCheckpoint(true)
            (t, t.isEmpty)
          }
          val recordsPath = s"$stateDir/records.parquet"
          val tmp = s"$stateDir/state.tmp.parquet"
          val records =
            if (nothingChanged) {
              layer("state_write")(state.write.mode("overwrite").parquet(tmp))
              spark.emptyDataset[FileChangeRecord]
            } else {
              val handled = ComposedPoll.fetchDiff(spark, toFetch, state, nowMs)
              layer("fetch_diff")(handled.map(_._2).write.mode("overwrite").parquet(recordsPath))
              filesChanged = counted(toFetch.count())
              val metas = handled.flatMap(_._1)
              filesFetched = counted(metas.count())
              fetchedBytes = counted(metas.agg(coalesce(sum($"size"), lit(0L))).as[Long].first())
              nonEmptyFetches = counted(handled.filter(_._2.value.nonEmpty).count())
              val newMetas = metas.groupByKey(_.path)
                .reduceGroups((a, b) => if (a.size < b.size || (a.size == b.size && a.hash <= b.hash)) a else b)
                .map(_._2)
              val untouched = state.join(newMetas.toDF().select($"path"), Seq("path"), "left_anti").as[FileMetaData]
              layer("state_write")(untouched.union(newMetas).write.mode("overwrite").parquet(tmp))
              handled.unpersist()
              spark.read.parquet(recordsPath).as[FileChangeRecord]
            }
          stateRows = counted(spark.read.parquet(tmp).count())
          publish = () => layer("publish")(swap(tmp, statePath))
          records
        }
      val (served, tail) = layer("convert_cap") {
        val converted = if (haveCarry) batch else Records.applyConverter(batch, converter)
        val (head, tail) = Records.splitAt(converted, cap.toLong)
        val h = head.cache()
        (h, tail)
      }
      try {
        val n = layer("convert_cap")(served.count())
        layer("sink")(sink(served))
        layer("spool") {
          val drained = n < cap || tail.take(1).isEmpty
          if (haveCarry && drained) FileUtils.deleteDirectory(new File(carryPath))
          else if (!drained) {
            val tmp = s"$stateDir/carry.tmp.parquet"
            tail.write.mode("overwrite").parquet(tmp)
            swap(tmp, carryPath)
          }
        }
        publish()
        n
      } finally served.unpersist()
    }
  }
}

object ComposedPoll {

  /** Fetch the changed files and run the tail/diff state machine: one
    * (new state row, record) per fetched file, cached for its two
    * consumers. */
  def fetchDiff(
      spark: SparkSession,
      toFetch: org.apache.spark.sql.DataFrame,
      state: Dataset[FileMetaData],
      nowMs: Long): Dataset[(Option[FileMetaData], FileChangeRecord)] = {
    import spark.implicits._
    val modeDf = toFetch.select($"path", $"tail", $"topic").distinct()
    Listing.fetch(spark, toFetch.select($"uri"))
      .join(modeDf, Seq("path"))
      .join(state.toDF().select($"path", struct(state.columns.map(col).toIndexedSeq: _*).as("prev")), Seq("path"), "left_outer")
      .select($"path", $"size", $"timestamp", $"body", $"tail", $"topic", $"prev")
      .as[(String, Long, Long, Array[Byte], Boolean, String, Option[FileMetaData])]
      .map { case (path, size, tsMs, body, tail, topic, prev) =>
        if (body == null) throw new IllegalStateException(s"$path is over the inline body cap")
        val (meta, delta) = TailDiff.handleFetchedFile(tail, prev, FetchedFile(path, size, tsMs, body), nowMs)
        (Option(meta), FileChangeRecord(topic, path, delta.offset, delta.bytes))
      }
      .cache()
  }
}
