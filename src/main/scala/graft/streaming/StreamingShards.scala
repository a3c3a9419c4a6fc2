package graft.streaming

import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{FsSwap, Multimodal, Relational}

/** Continuous tar-shard maintenance — the streaming face of
  * [[graft.operators.Multimodal.shardDrain]] (the 24th face): a
  * WebDataset shard tier over an append-only corpus shouldn't wait
  * for the nightly drain — each arriving bundle folds into the OPEN
  * shard as it arrives, and a shard is finalized the moment a later
  * shard starts, so the serving tier trails ingest by exactly one
  * open shard.
  *
  * Per micro-batch: arriving (doc_id, bmp, gif, png, wav) bundles
  * take bins from the carried byte offset (`binStream`'s arithmetic
  * over [[graft.operators.Tar.memberLength]]-priced quartets —
  * arrival order is doc_id, the batch builder's order, so the
  * accumulated shards are BYTE-IDENTICAL to a from-scratch batch
  * drain), union with the carried open-shard census, split on the
  * current open bin, and stream every touched bin's members through
  * the shared [[Multimodal.writeTarShards]] writer — the closed
  * shards finalize, the open shard is rewritten grown. The open
  * shard's already-arrived member BYTES are not carried in state:
  * they are read back from the open shard FILE itself — STREAM-
  * decoded executor-side via [[graft.operators.Tar.entries]], one
  * member in heap at a time, restricted to the committed census (the
  * file may briefly hold a crashed attempt's superset) — so state
  * stays METADATA-sized (two offsets, the committed max doc_id, and
  * one bin's (doc_id, size_b) census) and no task ever holds a shard.
  *
  * The offset fold's PRECONDITION is validated, not assumed
  * (round-15 ADVICE): doc_id must be unique ascending across batches
  * (arrival order IS the bin order — the batch builder's contract),
  * so each commit carries the max doc_id seen and a batch whose min
  * is not strictly above it fails loudly, as does a batch with
  * internal duplicates — one silent out-of-order doc would shift
  * every later bin boundary and corrupt shard contents.
  *
  * Crash discipline (the `drainStream` protocol): shard writes land
  * FIRST, then both state generations commit in ONE [[FsSwap]]
  * publish, then the census emits. A crash BEFORE the commit re-runs
  * the batch as a normal fold over the pre-batch state — the
  * deterministic source replay rewrites its own shards
  * byte-identically (the writer's rename swap replaces them). A crash
  * AFTER the commit replays with batchId == lastBatch: the shards are
  * already committed on disk, so the replay SKIPS the writes and
  * re-emits the bit-identical census from the PREVIOUS generation. A
  * batchId below the committed one means the streaming checkpoint was
  * reset while the state dir survived — fail loudly (the binStream
  * guard). StreamingChaosAggSpec gates kill+restart bit-identity of
  * both the deliveries and the accumulated shard FILES, against an
  * unkilled run and against the batch drain from scratch, under both
  * state-store providers.
  */
object StreamingShards {

  /** Start the shard-maintenance stream over (doc_id: Long unique
    * ascending, bmp/gif/png/wav: Binary) bundle rows; shards
    * accumulate under `outDir`; `sink` receives each batch's
    * closed-shard census (bin, n_docs, bin_bytes, batch_id). */
  def shardStream(
      bundles: DataFrame,
      targetBytes: Long,
      stateDir: String,
      checkpointDir: String,
      outDir: String,
      sink: DataFrame => Unit): StreamingQuery =
    bundles.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val hconf = s.sparkContext.hadoopConfiguration
        val swap = FsSwap(hconf, stateDir, "shards")
        val st = swap.readable
        val (prevOff, nextOff, lastBatch, committedMaxDoc) = st match {
          case Some(dir) =>
            val r = s.read.parquet(s"$dir/scalars.parquet").collect().head
            // max_doc joined the scalars in round 16 (the monotonicity
            // guard below); a pre-upgrade state dir simply starts the
            // guard from MinValue instead of failing the read
            val maxDoc = if (r.schema.fieldNames.contains("max_doc"))
              r.getLong(r.fieldIndex("max_doc")) else Long.MinValue
            (r.getLong(0), r.getLong(1), r.getLong(2), maxDoc)
          case None => (0L, 0L, -1L, Long.MinValue)
        }
        val replay = swap.replay("StreamingShards", batchId, lastBatch)
        val off = if (replay) prevOff else nextOff
        val pendKind = if (replay) "prev" else "next"
        val pending = st match {
          case Some(dir) => s.read.parquet(s"$dir/pending.parquet")
            .filter($"kind" === pendKind)
            .select($"doc_id", $"size_b", $"bin")
          case None => Seq.empty[(Long, Long, Long)]
            .toDF("doc_id", "size_b", "bin")
        }
        // quartet tar-block price, the batch census arithmetic
        // (Tar.memberLength: one 512-byte header + 512-padded payload
        // per member) computed in-plan so the fold is one pass
        def ml(c: String) =
          expr(s"512 + ((octet_length($c) + 511) div 512) * 512")
        val priced = batch
          .select($"doc_id".cast("long").as("doc_id"),
            $"bmp", $"gif", $"png", $"wav",
            (ml("bmp") + ml("gif") + ml("png") + ml("wav")).as("size_b"))
          .pin() // census + (non-replay) the write
        val assigned = Relational.globalPrefixSum(s,
            priced.select($"doc_id", $"size_b"), Seq($"doc_id"), "size_b")
          .select($"doc_id", $"size_b",
            expr(s"($off + psum - size_b) div $targetBytes").as("bin"))
          .pin() // scalars + union + (non-replay) join
        // one tiny aggregate over the pinned frame: the batch's byte
        // total (committed as the next offset) plus the doc_id range
        // and distinctness the carried-offset arithmetic DEPENDS on
        val scalars = assigned.agg(
          coalesce(sum($"size_b"), lit(0L)), min($"doc_id"),
          max($"doc_id"), count(lit(1)), count_distinct($"doc_id"))
          .collect()(0)
        val total = scalars.getLong(0)
        val batchMinDoc =
          if (scalars.isNullAt(1)) None else Some(scalars.getLong(1))
        val batchMaxDoc =
          if (scalars.isNullAt(2)) None else Some(scalars.getLong(2))
        if (scalars.getLong(3) != scalars.getLong(4))
          throw new IllegalStateException(
            s"StreamingShards: batch $batchId carries duplicate doc_ids " +
              s"(${scalars.getLong(3)} rows, ${scalars.getLong(4)} " +
              "distinct) — doc_id is the arrival order the bin " +
              "arithmetic folds over; a duplicate would write colliding " +
              "tar members and shift every later bin boundary")
        // the cross-batch half of the same contract (round-15 ADVICE):
        // the carried byte offset assumes doc_id unique ASCENDING
        // across micro-batches — one out-of-order doc would silently
        // shift every later bin boundary and corrupt shard contents,
        // so fail loudly like the checkpoint-reset guard above. A
        // replay re-presents already-committed doc_ids by design and
        // is exempt (its max is already folded into the state).
        if (!replay) batchMinDoc.foreach { mn =>
          if (mn <= committedMaxDoc) throw new IllegalStateException(
            s"StreamingShards: batch $batchId min doc_id $mn is not " +
              s"strictly above the committed max $committedMaxDoc — " +
              "doc_id must be unique ascending across batches (arrival " +
              "order IS the bin order)")
        }
        val all = pending.union(assigned)
          .pin() // open-bin scalar + split + commit
        val openBin = all.agg(coalesce(max($"bin"), lit(-1L)))
          .collect()(0).getLong(0)
        val closed = all.filter($"bin" < openBin)
        val newPending = all.filter($"bin" === openBin)
        if (!replay) {
          // bytes for the carried open-shard members come from the
          // open shard FILE, STREAM-decoded executor-side through
          // Tar.entries — task heap holds one member, never the shard
          // (at the production 1 GiB target a whole-file binaryFile
          // row would materialize the open shard plus its decoded
          // members every batch). The census join restricts to the
          // committed generation — a crashed attempt may have left a
          // superset or already-finalized the file under the same
          // name; the filter makes either safe.
          val pendingBins = pending.select($"bin").distinct()
            .collect().map(_.getLong(0))
          val carried: DataFrame = pendingBins.headOption match {
            case None => priced.limit(0)
              .select($"doc_id", $"bmp", $"gif", $"png", $"wav")
            case Some(b) =>
              val shardPath = f"$outDir/shard-$b%05d.tar"
              val confBytes = Multimodal.hadoopConfBytes(s)
              // ONE partition, and the closure is iterator-guarded:
              // without both, every defaultParallelism partition would
              // open and fully decode the shard, emitting N duplicate
              // member copies (round-15 review). The session conf
              // rides along so object-store settings reach the read.
              s.range(0, 1, 1, numPartitions = 1).mapPartitions { it =>
                if (!it.hasNext) Iterator.empty
                else {
                  val conf = graft.operators.Multimodal
                    .confFromBytes(confBytes)
                  val p = new org.apache.hadoop.fs.Path(shardPath)
                  val in = p.getFileSystem(conf).open(p)
                  Option(org.apache.spark.TaskContext.get()).foreach(
                    _.addTaskCompletionListener[Unit](_ => in.close()))
                  graft.operators.Tar.entries(in).map { e =>
                    (e.name.substring(0, 12).toLong,
                      e.name.substring(13), e.data)
                  }
                }
              }.toDF("doc_id", "kind", "data")
                .join(broadcast(pending.select($"doc_id")), Seq("doc_id"))
                .groupBy($"doc_id")
                .agg(
                  first(when($"kind" === "bmp", $"data"), true).as("bmp"),
                  first(when($"kind" === "gif", $"data"), true).as("gif"),
                  first(when($"kind" === "png", $"data"), true).as("png"),
                  first(when($"kind" === "wav", $"data"), true).as("wav"))
          }
          val bytes = carried
            .unionByName(priced.select($"doc_id", $"bmp", $"gif", $"png", $"wav"))
          bytes.join(all.select($"doc_id", $"size_b", $"bin"), Seq("doc_id"))
            .select($"doc_id", $"bmp", $"gif", $"png", $"wav",
              $"size_b", $"bin")
            .repartition($"bin")
            .sortWithinPartitions($"bin", $"doc_id")
            .foreachPartition(Multimodal.writeTarShards(outDir,
              Multimodal.hadoopConfBytes(s)) _)
          Multimodal.sweepAttemptTemps(s, outDir)
          // commit AFTER the writes, both generations in ONE publish
          Seq((off, off + total, batchId,
              math.max(committedMaxDoc, batchMaxDoc.getOrElse(committedMaxDoc))))
            .toDF("prev_off", "next_off", "last_batch", "max_doc")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"${swap.tmp}/scalars.parquet")
          pending.withColumn("kind", lit("prev"))
            .union(newPending.withColumn("kind", lit("next")))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"${swap.tmp}/pending.parquet")
          swap.publish()
        }
        sink(closed.groupBy($"bin")
          .agg(count(lit(1)).as("n_docs"), sum($"size_b").as("bin_bytes"))
          .withColumn("batch_id", lit(batchId))
          .orderBy($"bin"))
      }
      .start()
}
