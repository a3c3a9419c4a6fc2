package graft.streaming

import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, sha2}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Bucketing, Dedup}

/** Streaming exact dedup against the bucketed hash state — the
  * continuous form of the nightly `dedup_incremental` job, and the
  * operator that ties the state-maintenance pieces together end to end:
  * per micro-batch, survivors come from
  * [[graft.operators.Dedup.incrementalAgainstState]] (hash-equality
  * anti-join with ZERO state-side exchange — only the micro-batch
  * aligns with the bucketing), are delivered to the sink, and their
  * hashes fold into the state table as one bucket-aligned file
  * generation ([[graft.operators.Bucketing.appendBucketAligned]]);
  * every `compactEvery` batches the accumulated generations compact
  * back to one file per bucket with zero exchanges
  * ([[graft.operators.Bucketing.compact]]). At 100 TB of accumulated
  * corpus the per-batch cost is proportional to the BATCH, never the
  * state — the same asymmetry the batch operator proves in
  * BucketingSpec, kept true continuously.
  */
object StreamingDedup {

  /** Start the dedup stream. `records` is a streaming frame carrying
    * (doc_id, text); `sink` receives each batch's survivors
    * (doc_id, body_sha256), already materialized.
    *
    * Replay safety is by SEMANTICS, not fencing: `foreachBatch` can
    * re-run a batch after a crash, and a re-run double-appends its
    * survivor hashes — but state is a membership set under the
    * anti-join, so duplicate hash rows change no later batch's
    * survivors, and the periodic compact bounds the file count
    * regardless. Emission is therefore at-least-once, matching the
    * ingest pipeline's delivery contract (SURVEY.md §3.3).
    */
  def exactDedupStream(
      records: DataFrame,
      stateTable: String,
      buckets: Int,
      checkpointDir: String,
      sink: DataFrame => Unit,
      compactEvery: Long = 0L): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val inc = batch.select(col("doc_id"),
          sha2(col("text"), 256).as("body_sha256"))
        // a crash inside compact's drop→rename window would otherwise
        // read as "no state yet" here, and creating a fresh empty
        // table would orphan (and later destroy) the only copy of the
        // accumulated hashes
        Bucketing.recoverCompaction(s, stateTable)
        if (!s.catalog.tableExists(stateTable))
          Bucketing.writeBucketed(inc.select("body_sha256").limit(0),
            stateTable, "body_sha256", buckets)
        // materialize BEFORE the fold: survivors feed the sink AND the
        // state append, and the append writes into the very table the
        // survivor plan reads — the checkpoint pins the anti-join's
        // result so the fold can't see its own writes
        val survivors = Dedup.incrementalAgainstState(s, inc, stateTable)
          .pin()
        sink(survivors)
        Bucketing.appendBucketAligned(
          survivors.select("body_sha256"), stateTable)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Bucketing.compact(s, stateTable)
      }
      .start()

  /** Continuous NEAR-dup — the τ-Jaccard sibling of
    * [[exactDedupStream]] and the streaming form of the
    * `dedup_incremental_near` nightly job: per micro-batch, survivors
    * come from [[graft.operators.Dedup.nearIncrementalAgainstState]]
    * (banded candidates against the (band, band_key)-bucketed state,
    * exact-fingerprint-Jaccard verify against the doc_id-bucketed fps
    * state — ZERO exchange on either state table), then the batch's
    * survivors fold into BOTH state tables bucket-aligned, and every
    * `compactEvery` batches both compact back to one file per bucket.
    * The same replay-safety argument as exact dedup holds: duplicate
    * band/fps state rows only produce duplicate CANDIDATES, which the
    * verify + distinct collapse, so a replayed fold changes no later
    * batch's survivors. */
  def nearDedupStream(
      records: DataFrame,
      bandsTable: String,
      fpsTable: String,
      buckets: Int,
      checkpointDir: String,
      sink: DataFrame => Unit,
      nBands: Int = 8,
      rowsPerBand: Int = 2,
      tau: Double = 0.9,
      compactEvery: Long = 0L): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val inc = Dedup.fpsOf(batch.select(col("doc_id"), col("text")))
          .pin() // one pinned copy feeds banding,
                                 // verify, survivors, and both folds
        Bucketing.recoverCompaction(s, bandsTable)
        Bucketing.recoverCompaction(s, fpsTable)
        if (!s.catalog.tableExists(bandsTable))
          Bucketing.writeBucketed(emptyBandsFrame(s),
            bandsTable, Seq("band", "band_key"), buckets)
        if (!s.catalog.tableExists(fpsTable))
          Bucketing.writeBucketed(inc.limit(0), fpsTable, "doc_id", buckets)
        // a restart with a DIFFERENT banding would join increment band
        // keys against incompatible state keys and silently detect
        // nothing — pin the banding on the table and fail loudly
        ensureBanding(s, bandsTable, nBands, rowsPerBand)
        // the signature job runs ONCE per batch; the state join, the
        // in-batch pair plan, and the fold all share this frame
        val incBands = Dedup.bandFrame(inc, nBands, rowsPerBand)
        val survivors = Dedup.nearIncrementalAgainstState(
          s, inc, bandsTable, fpsTable, nBands, rowsPerBand, tau,
          incBands = Some(incBands))
          .pin() // feeds sink + both folds; must not
                                 // observe its own state writes
        sink(survivors)
        Bucketing.appendBucketAligned(
          incBands.join(survivors, Seq("doc_id")), bandsTable)
        Bucketing.appendBucketAligned(
          inc.join(survivors, Seq("doc_id")), fpsTable)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          Bucketing.compact(s, bandsTable)
          Bucketing.compact(s, fpsTable)
          // compact() copies user properties onto its tmp table before
          // the swap, so the banding pin survives compaction (and any
          // crash recoverCompaction finishes); this call is a pure
          // validation — it REQUIRES the preserved pin to match
          ensureBanding(s, bandsTable, nBands, rowsPerBand)
        }
      }
      .start()

  /** Continuous CDC chunk dedup — the storage-layer sibling of
    * [[exactDedupStream]] and the streaming face of the
    * `dedup_cdc_chunks` mechanism: per micro-batch, documents are
    * content-defined-chunked with the batch query's exact arithmetic
    * ([[graft.operators.Dedup.cdcChunkFrame]]), NEW chunks come from
    * [[graft.operators.Dedup.cdcIncrementalAgainstState]] (one
    * map-side-combined in-batch collapse + cfp-equality anti-join
    * meeting the state ON its bucketing — zero state-side exchange),
    * the sink receives each batch's new chunks
    * (cfp, clen, first_doc), and their fingerprints fold into the
    * state as one bucket-aligned generation; every `compactEvery`
    * batches the generations compact back to one file per bucket with
    * zero exchanges. Because boundaries are content-defined, an
    * insertion in a re-sent document disturbs only the chunk it
    * touches — every other chunk of the new version anti-joins away
    * against the state, which is the rsync/restic storage economics
    * run continuously. Replay safety is the same membership-set
    * argument as exact dedup: a re-run batch double-appends cfp rows,
    * which change no later batch's anti-join. The sink receives the
    * BATCH ID so a deployment writes idempotently (overwrite-by-batch):
    * a crash between sink and fold re-delivers the identical increment
    * under the same id — multiplicity 1, chaos-gated in
    * StreamingDedupSpec. The one corner idempotence-by-batch cannot
    * cover: a crash AFTER the fold but before the batch commits makes
    * the replay's increment EMPTY (its chunks anti-join away against
    * its own fold) — chunk identity is preserved in state either way;
    * a sink that must re-emit across that corner keys by cfp instead
    * (content-keyed idempotence). */
  def cdcDedupStream(
      records: DataFrame,
      stateTable: String,
      buckets: Int,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      compactEvery: Long = 0L): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val chunks = Dedup.cdcChunkFrame(
          batch.select(col("doc_id"), col("text")))
        Bucketing.recoverCompaction(s, stateTable)
        if (!s.catalog.tableExists(stateTable))
          Bucketing.writeBucketed(chunks.select("cfp").limit(0),
            stateTable, "cfp", buckets)
        // materialize BEFORE the fold: new chunks feed the sink AND
        // the state append, and the append writes into the very table
        // the anti-join reads
        val fresh = Dedup.cdcIncrementalAgainstState(s, chunks, stateTable)
          .pin()
        sink(fresh, batchId)
        Bucketing.appendBucketAligned(fresh.select("cfp"), stateTable)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Bucketing.compact(s, stateTable)
      }
      .start()

  /** Continuous EXACT set-similarity JOIN — the streaming face of
    * `dedup_prefix_filter_join` (incremental AllPairs/PPJoin at
    * τ = 1/2): per micro-batch, the batch's prefix postings under the
    * FIXED canonical order ([[graft.operators.Dedup.fixedOrderPrefix]])
    * probe the fp-bucketed state posting table for cross-batch
    * candidates under the length + positional filters (ZERO exchange
    * on the state scan), in-batch candidates come from the batch's
    * own prefix self-join, both verify by exact fingerprint Jaccard
    * (state fps from the doc_id-bucketed fps table), and `sink`
    * receives every verified pair (doc_a, doc_b, jaccard). This is a
    * JOIN, not a dedup — nothing is suppressed: the WHOLE batch then
    * folds into both state tables bucket-aligned, and every
    * `compactEvery` batches both compact back to one file per bucket.
    * Replay safety: the sink receives the BATCH ID, and a replayed
    * batch emits the IDENTICAL pair set whether or not the crashed
    * attempt reached its state fold — unfolded, the recompute is
    * bit-identical; folded, the batch meets its own persisted copy
    * and the doc-id guard + distinct in
    * [[graft.operators.Dedup.prefixIncrementalAgainstState]] collapse
    * the extra orientations back to the same set. So an
    * overwrite-by-batch sink is exactly-once per pair under a
    * mid-batch kill at ANY point — chaos-gated in StreamingDedupSpec
    * across a real checkpoint restart under both state providers.
    * State double-appends from the folded-then-crashed corner only
    * produce duplicate CANDIDATES that the distinct + verify collapse
    * — no later batch's pair set changes. At 100 TB of accumulated
    * postings the per-batch cost is proportional to the BATCH's
    * prefix fan-out, never the state. */
  def prefixJoinStream(
      records: DataFrame,
      prefixTable: String,
      fpsTable: String,
      buckets: Int,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      compactEvery: Long = 0L): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import org.apache.spark.sql.functions.expr
        val inc = Dedup.fpsOf(batch.select(col("doc_id"), col("text")))
          .filter(expr("size(fps) > 0"))
          .pin() // feeds prefix job, verify, and the fold
        Bucketing.recoverCompaction(s, prefixTable)
        Bucketing.recoverCompaction(s, fpsTable)
        // the prefix job runs ONCE per batch; the state probe, the
        // in-batch pair plan, and the fold all share this frame
        val pref = Dedup.fixedOrderPrefix(inc).pin()
        if (!s.catalog.tableExists(prefixTable))
          Bucketing.writeBucketed(pref.limit(0), prefixTable, "fp", buckets)
        if (!s.catalog.tableExists(fpsTable))
          Bucketing.writeBucketed(inc.limit(0), fpsTable, "doc_id", buckets)
        // materialize BEFORE the folds: the pair plan reads the very
        // tables the folds append to
        val pairs = Dedup.prefixIncrementalAgainstState(
          s, inc, prefixTable, fpsTable, incPrefix = Some(pref))
          .pin()
        sink(pairs, batchId)
        Bucketing.appendBucketAligned(pref, prefixTable)
        Bucketing.appendBucketAligned(inc, fpsTable)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          Bucketing.compact(s, prefixTable)
          Bucketing.compact(s, fpsTable)
        }
      }
      .start()

  /** Continuous CONTAINMENT dedup — the ASYMMETRIC near-dup face
    * streamed (the 20th face; round-12 verdict #9): symmetric Jaccard
    * misses subset duplication (a paragraph lifted into a bigger doc),
    * so this maintains "small ⊆ big at ≥ 0.8" pairs continuously with
    * the same incremental-AllPairs discipline as [[prefixJoinStream]].
    * Per micro-batch: fingerprints for the new docs, candidates from
    * batch postings × the fp-BUCKETED postings state (either
    * orientation — an accumulated doc may be the small side of a new
    * big one; zero state-side exchange) plus batch×batch, exact
    * verification against the doc-bucketed fingerprint-set table, then
    * both states fold forward as bucket-aligned appends with periodic
    * zero-exchange compaction. Per-batch cost tracks the BATCH;
    * replays are at-least-once with byte-identical rows
    * (StreamingDedupSpec's chaos gate kills mid-batch under both
    * state-store providers and holds pair multiplicity to 1 over the
    * idempotent per-batch view, with the killed batch's folds already
    * applied — the worst corner). */
  def containmentStream(
      records: DataFrame,
      postsTable: String,
      fpsTable: String,
      buckets: Int,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      compactEvery: Long = 0L): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import org.apache.spark.sql.functions.explode
        val inc = Dedup.containmentFpsOf(
            batch.select(col("doc_id"), col("lang"), col("text")))
          .pin() // postings, lookup, and the fold read it
        Bucketing.recoverCompaction(s, postsTable)
        Bucketing.recoverCompaction(s, fpsTable)
        val incPosts = inc.select(col("doc_id"), col("lang"), col("n"),
            explode(col("fps")).as("fp"))
          .pin() // both candidate branches + the fold
        if (!s.catalog.tableExists(postsTable))
          Bucketing.writeBucketed(incPosts.limit(0), postsTable, "fp", buckets)
        if (!s.catalog.tableExists(fpsTable))
          Bucketing.writeBucketed(inc.limit(0), fpsTable, "doc_id", buckets)
        // materialize BEFORE the folds: the pair plan reads the very
        // tables the folds append to
        val pairs = Dedup.containmentIncrementalAgainstState(
          s, inc, incPosts, postsTable, fpsTable)
          .pin()
        sink(pairs, batchId)
        Bucketing.appendBucketAligned(incPosts, postsTable)
        Bucketing.appendBucketAligned(inc, fpsTable)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          Bucketing.compact(s, postsTable)
          Bucketing.compact(s, fpsTable)
        }
      }
      .start()

  /** Continuous connected-component maintenance — duplicate CLUSTERS
    * kept current as pair evidence streams in (the state face of
    * `dedup_clusters`): per micro-batch, endpoint labels are fetched
    * from the node-bucketed labels table (zero state-side exchange)
    * and resolved through the SMALL alias table (broadcast), the
    * batch's edges collapse to a QUOTIENT graph over resolved labels
    * (bounded by the batch, never the corpus), one union-find over the
    * quotient yields the merge map, and the state updates WITHOUT
    * rewriting accumulated labels: new nodes append bucket-aligned
    * with their final root, while merges land as alias entries
    * (old_root → new_root) — the alias table is re-composed through
    * the merge map each batch so it stays FLAT (every dst is a current
    * root; reads are one broadcast hop). `sink` receives each batch's
    * merge events. At 100 TB the asymmetry IS the operator: labels
    * (corpus-sized) are append-only; the alias (≤ #merges, usually
    * tiny) is the only thing rewritten, and [[compactComponents]]
    * periodically folds it away. Replay safety is the membership-set
    * argument: a re-run batch double-appends identical label rows and
    * recomputes the same alias — resolution is unchanged (the read
    * face dedups), emission is at-least-once.
    *
    * Alias overwrite uses managed-table Overwrite (drop-then-recreate,
    * not atomic — the documented caveat on [[graft.operators.Bucketing
    * .writeBucketed]]); a deployment versions it with the
    * [[graft.operators.FsSwap]] generation pattern. */
  def componentStream(
      edges: DataFrame,
      labelsTable: String,
      aliasTable: String,
      buckets: Int,
      checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery =
    edges.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        import org.apache.spark.sql.functions._
        val e = batch
          .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
          .filter(col("u") =!= col("v")).distinct()
          .pin() // nodes + the quotient join
        Bucketing.recoverCompaction(s, labelsTable)
        if (!s.catalog.tableExists(labelsTable))
          Bucketing.writeBucketed(
            Seq.empty[(Long, Long)].toDF("node", "label"),
            labelsTable, "node", buckets)
        if (!s.catalog.tableExists(aliasTable))
          Seq.empty[(Long, Long)].toDF("src", "dst")
            .write.format("parquet").saveAsTable(aliasTable)
        val aliasDf = s.table(aliasTable)
        val nodes = e.select($"u".as("node"))
          .unionByName(e.select($"v".as("node"))).distinct()
        val looked = nodes
          .join(s.table(labelsTable), Seq("node"), "left")
          .join(broadcast(aliasDf), col("label") === col("src"), "left")
          .select($"node", $"label".as("base"),
            coalesce($"dst", $"label", $"node").as("resolved"))
          .pin() // quotient ×2 + appends + alias update
        val quotient = e
          .join(looked.select($"node".as("u"), $"resolved".as("lu")), Seq("u"))
          .join(looked.select($"node".as("v"), $"resolved".as("lv")), Seq("v"))
          .filter($"lu" =!= $"lv")
          .select(least($"lu", $"lv").as("doc1"),
            greatest($"lu", $"lv").as("doc2"))
          .distinct()
        val mergeMap = Dedup.componentLabels(s, quotient)
          .filter(col("doc_id") =!= col("cluster"))
          .select(col("doc_id").as("old"), col("cluster").as("root"))
          .pin() // sink + appends + both alias branches
        sink(mergeMap.select($"old".as("old_label"), $"root".as("new_label")))
        // new nodes append WITH their final root — no alias entry needed
        Bucketing.appendBucketAligned(
          looked.filter($"base".isNull)
            .join(broadcast(mergeMap), $"resolved" === $"old", "left")
            .select($"node", coalesce($"root", $"resolved").as("label")),
          labelsTable)
        // alias: compose existing entries through the merge map, add
        // entries for EXISTING labels that just lost root status
        val newAlias = looked.filter($"base".isNotNull)
          .select($"resolved").distinct()
          .join(broadcast(mergeMap), $"resolved" === $"old")
          .select($"resolved".as("src"), $"root".as("dst"))
        val updated = aliasDf.as("a")
          .join(broadcast(mergeMap), col("a.dst") === col("old"), "left")
          .select(col("a.src").as("src"),
            coalesce(col("root"), col("a.dst")).as("dst"))
          .unionByName(newAlias)
          .pin() // pinned BEFORE overwriting its input
        updated.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(aliasTable)
        // Overwrite recreates the table at the same name: drop the
        // cached file listing or the next batch reads vanished files
        s.catalog.refreshTable(aliasTable)
      }
      .start()

  /** The component-stream read face: every accumulated node with its
    * CURRENT component label — one broadcast alias hop over the
    * node-bucketed labels table (distinct defends against replayed
    * double-appends). */
  def resolvedComponents(
      s: org.apache.spark.sql.SparkSession,
      labelsTable: String, aliasTable: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // the stream's foreachBatch runs on a CLONED session whose
    // refreshTable cannot reach this session's relation cache — the
    // alias overwrite happens over there, so drop any cached listing
    // before planning the read
    s.catalog.refreshTable(aliasTable)
    s.catalog.refreshTable(labelsTable)
    s.table(labelsTable).as("l")
      .join(broadcast(s.table(aliasTable)).as("a"),
        col("l.label") === col("a.src"), "left")
      .select(col("l.node"),
        coalesce(col("a.dst"), col("l.label")).as("label"))
      .distinct()
  }

  /** Scheduled compaction for the component stream: fold the alias
    * hops into the labels table (ONE full rewrite — the cost the
    * per-batch path avoids) and truncate the alias. */
  def compactComponents(
      s: org.apache.spark.sql.SparkSession,
      labelsTable: String, aliasTable: String, buckets: Int): Unit = {
    import s.implicits._
    val resolved = resolvedComponents(s, labelsTable, aliasTable)
      .pin() // pinned before overwriting its inputs
    Bucketing.writeBucketed(resolved, labelsTable, "node", buckets)
    Seq.empty[(Long, Long)].toDF("src", "dst")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(aliasTable)
    s.catalog.refreshTable(labelsTable)
    s.catalog.refreshTable(aliasTable)
  }

  private val BandingProp = "graft.near.banding"

  /** Pin (or validate) the banding configuration on the bands state
    * table: adopt when absent, REQUIRE equality when present. */
  private def ensureBanding(
      s: org.apache.spark.sql.SparkSession,
      bandsTable: String, nBands: Int, rowsPerBand: Int): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val expected = s"${nBands}x$rowsPerBand"
    s.sessionState.catalog.getTableMetadata(TableIdentifier(bandsTable))
      .properties.get(BandingProp) match {
      case Some(p) => require(p == expected,
        s"$bandsTable was built with banding $p but this stream runs " +
          s"$expected — near-dup state would silently stop matching; " +
          "rebuild the state or restore the original banding")
      case None => s.sql(s"ALTER TABLE $bandsTable SET TBLPROPERTIES " +
        s"('$BandingProp'='$expected')")
    }
  }

  /** Empty (doc_id, band, band_key) frame for first-batch state-table
    * creation — a static schema, so creating the table costs no
    * signature job over the batch. */
  private def emptyBandsFrame(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    s.createDataFrame(new java.util.ArrayList[Row](), StructType(Seq(
      StructField("doc_id", LongType),
      StructField("band", IntegerType),
      StructField("band_key", StringType))))
  }
}
