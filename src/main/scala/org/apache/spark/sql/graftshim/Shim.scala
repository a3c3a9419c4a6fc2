package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 moved Column construction behind
  * `private[sql]` plumbing; this shim lives in a `org.apache.spark.sql`
  * subpackage — the standard connector/extension technique — to expose
  * exactly the two conversions third-party expressions need.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Pin strategy: every pin graft takes goes through this object —
    * [[pin]] (or `df.pin()`), [[cutCheckpoint]], [[pinWithWidthBound]],
    * [[pinWithPartitionStats]]. `localCheckpoint` (default) stores
    * executor-local, non-recomputable blocks — free and exactly right
    * on local/ephemeral sessions, but on a real cluster ONE lost
    * executor kills the query. `spark.graft.pin = reliable` writes a
    * RELIABLE checkpoint under [[checkpointDirFor]] instead: the data
    * is re-READ from files, never recomputed, at the documented Spark
    * cost of a second computation to write them. Fail-loud beats
    * wrong: there is deliberately no persist strategy — it goes
    * through the columnar cache (1.5-2.3x slower on the multi-read
    * layouts), and losing every replica would silently RECOMPUTE
    * nondeterministic ids instead of failing. */
  private def reliablePin(s: org.apache.spark.sql.SparkSession): Boolean =
    s.conf.get("spark.graft.pin", "localCheckpoint") == "reliable"

  /** Reliable pins' dir: `spark.graft.checkpointDir`, else a `tmpDir`
    * path on a `local*` master only — elsewhere that would be node-local
    * storage, no safer than a local checkpoint. */
  def checkpointDirFor(
      master: String, configured: Option[String], tmpDir: String): String =
    configured.getOrElse {
      if (!master.startsWith("local"))
        throw new IllegalArgumentException(
          s"spark.graft.pin=reliable on master '$master' needs " +
            "spark.graft.checkpointDir set to storage every executor shares")
      tmpDir + "/graft_checkpoints"
    }

  private def ensureCheckpointDir(s: org.apache.spark.sql.SparkSession): Unit =
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(checkpointDirFor(s.sparkContext.master,
        s.conf.getOption("spark.graft.checkpointDir"),
        sys.props("java.io.tmpdir")))

  /** The flag-dispatched eager pin: Dataset-level, used by operators
    * that need a materialized multi-reader frame with frozen contents. */
  def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (reliablePin(df.sparkSession)) {
      ensureCheckpointDir(df.sparkSession)
      df.checkpoint(true)
    } else df.localCheckpoint(true)

  /** `df.pin()`: [[pin]] inside a call chain. */
  implicit class PinSyntax(private val df: org.apache.spark.sql.DataFrame)
      extends AnyVal {
    def pin(): org.apache.spark.sql.DataFrame = Shim.pin(df)
  }

  /** Eager [[pin]] that also RESETS the plan's statistics.
    *
    * `Dataset.localCheckpoint` deliberately carries the ORIGINAL plan's
    * estimated `Statistics` onto the resulting `LogicalRDD`
    * (`originStats`). For iterative operators that checkpoint every
    * round and SELF-JOIN the previous round's output (prefix doubling,
    * peeling, BFS), that propagation is quadratic poison: join
    * estimates are the PRODUCT of child sizeInBytes, so the carried
    * BigInt doubles-or-worse in bit length every round — by round 7 of
    * the suffix-array append the driver was multiplying 115-million-bit
    * integers inside `SizeInBytesOnlyStatsPlanVisitor` (~250 s of pure
    * planning CPU on a 27k-row corpus). Re-wrapping the materialized
    * RDD in a fresh `LogicalRDD` WITHOUT `originStats` restores the
    * constant `defaultSizeInBytes` leaf estimate; physical planning
    * quality is unaffected for these operators (broadcasts are explicit
    * and AQE replans from RUNTIME sizes), while the partitioning and
    * ordering the checkpoint captured are preserved. */
  def cutCheckpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ck = pin(df)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val lr = ck.queryExecution.optimizedPlan
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val fresh = org.apache.spark.sql.execution.LogicalRDD(
      lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming)(ck.sparkSession)
    org.apache.spark.sql.classic.Dataset.ofRows(ck.sparkSession, fresh)
  }

  /** Distinct keys one [[pinWithWidthBound]] partition counts before it
    * reports `Long.MaxValue` (tens of MiB of boxed keys per task). */
  val WidthBoundMaxKeys: Int = 1 << 18

  /** Eager pin whose MATERIALIZATION JOB also returns an UPPER BOUND on
    * the width of any bucket of a derived key: `keysOf` maps each row to
    * the bucket keys it lands in; each partition counts its own keys and
    * returns only its single largest count, and the driver sums those
    * maxes — `max_k Σ_p c(p,k) ≤ Σ_p max_k c(p,k)`, so the sum can never
    * under-state a bucket. The LSH pair primitive uses the bound to skip
    * its per-query width-probe job when the bound already certifies
    * every bucket under the block-pair cap (r16 verdict item 6; guide
    * §1.2 — the probe was a whole extra pass over the banded frame per
    * dedup query). A bound past the cap is NOT a skew verdict: the
    * caller falls back to the exact probe, so plan choice is unchanged —
    * only the certified-common case saves the pass. Driver memory is one
    * Long per partition; the executor-side key map cannot spill, so past
    * [[WidthBoundMaxKeys]] keys a partition reports `Long.MaxValue`.
    *
    * Unlike [[cutCheckpoint]]/[[pinWithPartitionStats]] this pin KEEPS
    * the origin plan's statistics (`LogicalRDD.fromDataset`, exactly
    * what `Dataset.localCheckpoint` does): the pinned sketch frames are
    * join sides whose static broadcast decisions must not change. */
  def pinWithWidthBound(
      df: org.apache.spark.sql.DataFrame,
      keysOf: org.apache.spark.sql.catalyst.InternalRow => Iterator[Any])
      : (org.apache.spark.sql.DataFrame, Long) = {
    val ds =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val internalRdd = ds.queryExecution.executedPlan.execute().map(_.copy())
    if (reliablePin(ds.sparkSession)) {
      ensureCheckpointDir(ds.sparkSession)
      internalRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      internalRdd.checkpoint()
    } else internalRdd.localCheckpoint()
    val partMaxes = ds.sparkSession.sparkContext.runJob(internalRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val counts = new java.util.HashMap[Any, Long]()
        var mx = 0L
        while (it.hasNext) {
          val r = it.next() // every row is read: the pin still materializes
          val ks = if (mx < Long.MaxValue) keysOf(r) else Iterator.empty
          while (ks.hasNext && mx < Long.MaxValue) {
            val k = ks.next()
            val n = counts.getOrDefault(k, 0L) + 1L
            counts.put(k, n)
            if (n > mx) mx = n
            if (counts.size > WidthBoundMaxKeys) { mx = Long.MaxValue; counts.clear() }
          }
        }
        mx
      })
    val fresh = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(internalRdd, ds, isStreaming = false)
    val bound =
      if (partMaxes.contains(Long.MaxValue)) Long.MaxValue else partMaxes.sum
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, fresh), bound)
  }

  /** Eager pin whose MATERIALIZATION JOB also returns, per
    * partition, the row count and the LAST row's values of the named
    * LongType columns (`null` marker for an empty partition; array
    * order follows `lastCols`; result index IS the partition id).
    * A non-LongType column, or a null in one, fails naming the column.
    *
    * The layout primitives (`globalNtile` / `globalRank` /
    * `globalDenseRank` / `globalPrefixSum`) previously paid a whole
    * extra job re-reading the frame this checkpoint had just
    * materialized, only to collect per-partition counts / last-local
    * aggregates the materialization pass had already streamed past
    * (guide §1.2: remove passes before tuning them). Mirrors
    * `Dataset.checkpoint(eager = true, reliable = false)` exactly —
    * same `.map(_.copy())` before the persist-through-compute, same
    * first-leaf outputPartitioning rule, same LogicalRDD rebuild —
    * except the forcing action folds the stats collection in, and the
    * rebuilt LogicalRDD drops `originStats` like [[cutCheckpoint]]
    * (every consumer broadcasts explicitly; AQE replans from runtime
    * sizes). Determinism note: the counts come from the SAME job that
    * froze the blocks, so they can never disagree with the pinned
    * layout the way a recomputation could. */
  def pinWithPartitionStats(
      df: org.apache.spark.sql.DataFrame, lastCols: Seq[String])
      : (org.apache.spark.sql.DataFrame, Array[(Long, Array[Long])]) = {
    for (c <- lastCols; t = df.schema(c).dataType)
      require(t == org.apache.spark.sql.types.LongType, s"column $c must be LongType, not $t")
    val ds =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    val physicalPlan = qe.executedPlan
    val internalRdd = physicalPlan.execute().map(_.copy())
    if (reliablePin(ds.sparkSession)) {
      ensureCheckpointDir(ds.sparkSession)
      // Persist BEFORE checkpoint: the reliable-checkpoint write is a
      // second job after the stats job, and without a cache it would
      // RECOMPUTE the partitions — on a nondeterministic frame the
      // written files could then disagree with the stats collected
      // below. The cache makes both jobs read one computation; after
      // doCheckpoint the cached blocks stay as the fast read path with
      // the checkpoint files as the executor-loss fallback.
      internalRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      internalRdd.checkpoint() // written (and lineage truncated) right
      // after the stats job below — SparkContext.runJob runs doCheckpoint
    } else internalRdd.localCheckpoint()
    val ords = lastCols.map(df.schema.fieldIndex).toArray
    val stats = ds.sparkSession.sparkContext.runJob(internalRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var n = 0L
        val lastVals = new Array[Long](ords.length)
        while (it.hasNext) {
          val r = it.next(); n += 1L
          var j = 0
          while (j < ords.length) {
            if (r.isNullAt(ords(j)))
              throw new IllegalStateException(s"null in column ${lastCols(j)}")
            lastVals(j) = r.getLong(ords(j)); j += 1
          }
        }
        (n, if (n > 0L) lastVals else null)
      })
    def firstLeaf(p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
        : org.apache.spark.sql.catalyst.plans.physical.Partitioning = p match {
      case c: org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection =>
        firstLeaf(c.partitionings.head)
      case other => other
    }
    val fresh = org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, internalRdd,
      firstLeaf(physicalPlan.outputPartitioning),
      physicalPlan.outputOrdering, isStreaming = false)(ds.sparkSession)
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, fresh), stats)
  }
}
