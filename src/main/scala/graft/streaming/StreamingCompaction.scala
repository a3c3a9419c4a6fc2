package graft.streaming

import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{FsSwap, Relational}

/** Continuous compaction-bin assignment — the streaming face of
  * `ref_compaction_bins`/`ref_compaction_apply` (the 22nd face): a
  * real ingest compactor doesn't batch-scan the corpus nightly, it
  * assigns every CLOSING small file to its output bin as the file
  * arrives, and `ref_compaction_apply`'s rewrite job then drains
  * whole bins. Per micro-batch: arriving (file_id, size_b) rows take
  * the bin `(carried_offset + running_size − size_b) div binSize` —
  * the batch face's arithmetic in ARRIVAL order — with the running
  * sum riding [[Relational.globalPrefixSum]] (never a single-task
  * window) and only the carried byte offset as state.
  *
  * State is TWO scalars (the offset before and after the last folded
  * batch) FsSwap-committed BEFORE emission (Hadoop-FS two-generation
  * swap, so stateDir may live on shared storage): a replayed batch hits
  * the batch-id guard, recomputes its assignment from the PRE-batch
  * offset — the deterministic source replay makes the re-emission
  * bit-identical — and never advances state twice, so bins never
  * shift under a crash (StreamingChaosAggSpec gates this under both
  * state-store providers). At 100 TB the asymmetry is the operator:
  * per-batch cost tracks the batch, state is O(1) bytes.
  */
object StreamingCompaction {

  /** Start the bin stream over (file_id: Long unique ascending,
    * size_b: Long) rows; `sink` receives each batch's
    * (file_id, size_b, bin, batch_id) assignments. */
  def binStream(
      files: DataFrame,
      binSize: Long,
      stateDir: String,
      checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery =
    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val swap = FsSwap(s.sparkContext.hadoopConfiguration, stateDir, "off")
        val (prevOff, nextOff, lastBatch) =
          swap.readable match {
            case Some(dir) =>
              val r = s.read.parquet(dir).collect().head
              (r.getLong(0), r.getLong(1), r.getLong(2))
            case None => (0L, 0L, -1L)
          }
        // replayed batch: the fold already happened — recompute THIS
        // batch's bins from the offset it was originally assigned
        // with, so the re-emission is bit-identical. ONLY the
        // last-committed batch id can legitimately replay (a crash
        // between commit and sink): prevOff is the correct base for
        // batchId == lastBatch and for no other id. A batchId BELOW
        // lastBatch means the streaming checkpoint was reset while
        // stateDir survived (batch ids restarted at 0) — recomputing
        // from the carried offset would silently assign wrong bins,
        // so the fence fails loudly instead (round-13 ADVICE).
        val replay = swap.replay("StreamingCompaction", batchId, lastBatch)
        val off = if (replay) prevOff else nextOff
        val assigned = Relational.globalPrefixSum(s,
            batch.select($"file_id".cast("long").as("file_id"),
              $"size_b".cast("long").as("size_b")),
            Seq($"file_id"), "size_b")
          .select($"file_id", $"size_b",
            expr(s"($off + psum - size_b) div $binSize").as("bin"),
            lit(batchId).as("batch_id"))
          .pin() // the total, the commit, and the sink
        if (!replay) {
          val total = assigned.agg(
            coalesce(sum($"size_b"), lit(0L)).as("t"))
            .collect()(0).getLong(0)
          // commit BEFORE emitting (the heavyHittersStream discipline):
          // a crash between commit and sink re-runs the batch, hits
          // the guard above, and re-emits the identical assignment
          swap.commit(Seq((off, off + total, batchId))
            .toDF("prev_off", "next_off", "last_batch"))
        }
        sink(assigned)
      }
      .start()

  /** Continuous incremental compaction DRAIN — the streaming twin of
    * [[graft.operators.IngestAnalog.compactionDrained]] (the 23rd
    * face): [[binStream]] assigns bins as files arrive; this face
    * also REWRITES every bin the moment it closes (a later bin has
    * started), so compacted output trails ingest by one open bin
    * instead of one nightly job.
    *
    * Per micro-batch: arriving rows take bins from the carried byte
    * offset (the binStream arithmetic), union with the carried OPEN
    * bin's rows, split on the current open bin (the max assigned bin
    * — the batch face's closed-bin rule, so the accumulated output
    * equals the batch drain's exactly), write the closed bins as one
    * parquet file each under DYNAMIC partition overwrite, and carry
    * the new open bin forward.
    *
    * State = the two offsets + the open bin's file census, BOTH the
    * pre- and post-batch generations, in one FsSwap dir (scalars +
    * pending subdirs published atomically): a replayed batch
    * (batchId == lastBatch — anything lower fails loudly, the
    * binStream guard) recomputes from the PRE-batch generation, so
    * its rewrite overwrites the same bins with identical bytes and
    * its emission is bit-identical; a crash between the bin write and
    * the state commit re-runs as a normal batch over the same
    * pre-batch state and overwrites its own output. State is bounded
    * by ONE bin's file census (never the corpus); the rewrite touches
    * only newly closed bins. `sink` receives each batch's drained-bin
    * census (bin, n_files, bin_bytes, batch_id). */
  def drainStream(
      files: DataFrame,
      binSize: Long,
      stateDir: String,
      checkpointDir: String,
      outDir: String,
      sink: DataFrame => Unit): StreamingQuery =
    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val swap = FsSwap(s.sparkContext.hadoopConfiguration, stateDir, "drain")
        val st = swap.readable
        val (prevOff, nextOff, lastBatch) = st match {
          case Some(dir) =>
            val r = s.read.parquet(s"$dir/scalars.parquet").collect().head
            (r.getLong(0), r.getLong(1), r.getLong(2))
          case None => (0L, 0L, -1L)
        }
        val replay =
          swap.replay("StreamingCompaction.drainStream", batchId, lastBatch)
        val off = if (replay) prevOff else nextOff
        val pendKind = if (replay) "prev" else "next"
        val pending = st match {
          case Some(dir) => s.read.parquet(s"$dir/pending.parquet")
            .filter($"kind" === pendKind)
            .select($"file_id", $"size_b", $"bin")
          case None => Seq.empty[(Long, Long, Long)]
            .toDF("file_id", "size_b", "bin")
        }
        val assigned = Relational.globalPrefixSum(s,
            batch.select($"file_id".cast("long").as("file_id"),
              $"size_b".cast("long").as("size_b")),
            Seq($"file_id"), "size_b")
          .select($"file_id", $"size_b",
            expr(s"($off + psum - size_b) div $binSize").as("bin"))
          .pin() // the total + the union below
        val all = pending.union(assigned)
          .pin() // open-bin scalar + split + write
        val openBin = all.agg(coalesce(max($"bin"), lit(-1L)))
          .collect()(0).getLong(0)
        val closed = all.filter($"bin" < openBin)
          .pin() // the write + the census emission
        val newPending = all.filter($"bin" === openBin)
        val hasClosed = closed.limit(1).count() > 0
        if (hasClosed)
          closed.repartition(col("bin"))
            .write.partitionBy("bin")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(outDir)
        if (!replay) {
          val total = assigned.agg(
            coalesce(sum($"size_b"), lit(0L))).collect()(0).getLong(0)
          // commit BEFORE emitting (the binStream discipline): both
          // generations of the open-bin census travel in ONE FsSwap
          // publish, so state can never hold a half-advanced pair
          Seq((off, off + total, batchId))
            .toDF("prev_off", "next_off", "last_batch")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"${swap.tmp}/scalars.parquet")
          pending.withColumn("kind", lit("prev"))
            .union(newPending.withColumn("kind", lit("next")))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"${swap.tmp}/pending.parquet")
          swap.publish()
        }
        sink(closed.groupBy($"bin")
          .agg(count(lit(1)).as("n_files"), sum($"size_b").as("bin_bytes"))
          .withColumn("batch_id", lit(batchId)))
      }
      .start()
}
