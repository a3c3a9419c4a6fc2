package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed co-located joins — the shuffle-elimination strategy for
  * repeated fact-fact joins at 100 TB: write both tables bucketed (and
  * sorted) by the join key once; every subsequent equi-join on that key
  * reads co-located buckets and sort-merge-joins them with NO exchange
  * on either side. At cluster scale this converts the dominant cost of
  * a lineitem⋈orders-shaped join (two full shuffles) into a pure scan.
  *
  * Uses the session catalog's managed tables (`bucketBy` requires
  * `saveAsTable`); the bucket count should be sized so one bucket of
  * the larger table fits an executor core's working set (e.g. 2048
  * buckets for a 10 TB fact at ~5 GB/bucket).
  */
object Bucketing {

  /** Write `df` as a managed bucketed+sorted table. The pre-write
    * `repartition(buckets, key)` uses the same murmur3 hash as the
    * bucketing, so each bucket lands in exactly ONE file — without it
    * every input task writes into every bucket (inputPartitions ×
    * buckets small files), and Spark only reports the bucketed scan's
    * sort order when buckets are single-file, so multi-file buckets
    * silently re-sort both sides of every "co-located" join.
    *
    * Note `SaveMode.Overwrite` on a managed table is drop-then-recreate
    * — NOT atomic: a failed write leaves no table. A serving pipeline
    * should write to a versioned name and swap with ALTER/rename (the
    * same generation pattern as [[FsSwap]]). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int): Unit =
    writeBucketed(df, table, Seq(key), buckets)

  /** Composite-key variant — e.g. the near-dup band-key state, which
    * buckets AND joins on (band, band_key). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      buckets: Int): Unit =
    df.repartition(buckets, keys.map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Equi-join two bucketed tables on their bucket key. When both sides
    * are bucketed with the same bucket count on `key`, the plan is a
    * sort-merge join with zero shuffle exchanges (verify with
    * `.explain` / the BucketingSpec assertion). */
  def coLocatedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Fold a (small) increment into an existing bucketed table as ONE
    * new file per bucket: pre-shuffle the increment to the table's
    * bucket layout, then append. The write takes its bucket spec from
    * the catalog, so the rows land in correctly-tagged bucket files and
    * every downstream co-located join keeps planning without a
    * state-side exchange — only the increment (the small side, by
    * construction) ever shuffles. This is how `incrementalAgainstState`
    * state gets UPDATED at 100 TB: the accumulated state is never
    * rewritten per increment, it just gains one bucket-aligned file
    * generation per fold. Bounded by periodic [[compact]].
    *
    * The bucket/sort spec is read from the catalog and restated on the
    * write — Spark refuses an append whose spec is absent or mismatched
    * (`PreprocessTableCreation`), which is exactly the guard that keeps
    * a mis-bucketed fold from silently corrupting co-located joins. */
  def appendBucketAligned(df: DataFrame, table: String): Unit = {
    val spec = bucketSpecOf(df.sparkSession, table)
    bucketedWriter(
      df.repartition(spec.numBuckets,
        spec.bucketColumnNames.map(org.apache.spark.sql.functions.col): _*),
      spec, org.apache.spark.sql.SaveMode.Append).saveAsTable(table)
  }

  /** Catalog bucket spec of `table`, or throw — shared guard for the
    * fold and compaction paths. */
  private def bucketSpecOf(spark: SparkSession, table: String) = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.getOrElse(
        throw new IllegalArgumentException(s"$table is not bucketed"))
  }

  /** The one bucketed-writer construction both [[appendBucketAligned]]
    * and [[compact]] must agree on — a spec-handling change applied to
    * one path and not the other would silently skew append vs
    * compaction layouts. */
  private def bucketedWriter(
      df: DataFrame,
      spec: org.apache.spark.sql.catalyst.catalog.BucketSpec,
      mode: org.apache.spark.sql.SaveMode) = {
    val w = df.write.mode(mode)
      .bucketBy(spec.numBuckets,
        spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
      w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    else w).format("parquet")
  }

  /** Finish an interrupted [[compact]] swap, if one is pending. The
    * swap is two catalog operations (drop, rename) — a crash between
    * them leaves `table` missing while `<table>_compacting` holds the
    * complete compacted data. This preamble renames it into place;
    * both [[compact]] itself and any caller that creates the table
    * when absent (e.g. `streaming.StreamingDedup`) MUST run it first,
    * otherwise the gap reads as "no state yet" and the only copy of
    * the data is later dropped as a stale temp. Returns true if a
    * recovery was performed. */
  def recoverCompaction(spark: SparkSession, table: String): Boolean = {
    val tmp = table + "_compacting"
    val pending = !spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(tmp)
    if (pending) spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    pending
  }

  /** Table properties that should survive a [[compact]] rewrite —
    * everything the user (or a caller like `streaming.StreamingDedup`'s
    * banding pin) set, minus catalog-internal bookkeeping. Copied onto
    * the `_compacting` table BEFORE the swap, so a crash at any point
    * (including one recovered by [[recoverCompaction]]) never yields a
    * property-less state table: losing the `graft.near.banding` pin
    * would let a restart with different banding be silently ADOPTED
    * instead of rejected — exactly the no-match failure the pin
    * exists to prevent. */
  private def userProperties(
      spark: SparkSession, table: String): Map[String, String] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .properties.filterNot { case (k, _) =>
        k.startsWith("spark.sql.") || k == "transient_lastDdlTime" ||
          k == "EXTERNAL" || k == "comment" || k == "owner"
      }
  }

  private def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** Rewrite a bucketed table back to one file per bucket WITHOUT a
    * shuffle. Per-fold appends accumulate one file per bucket per
    * increment; after F folds every bucketed scan opens F× the files
    * and loses the single-file sorted-bucket fast path (Spark only
    * reports bucket sort order when buckets are single-file, so joins
    * re-sort). This compaction restores the layout: force the bucketed
    * scan (one partition per bucket — `autoBucketedScan` would
    * otherwise coalesce by size for a bare scan), and feed it straight
    * into a bucketed write of the SAME spec. Each task then holds
    * exactly one bucket's rows and writes exactly one bucket file: the
    * whole maintenance job is scan → sort-within-bucket → write, ZERO
    * exchanges (BucketingSpec captures the write plan and asserts it),
    * so at 100 TB compaction costs one sequential pass, never a
    * re-shuffle of accumulated state.
    *
    * Swap = write tmp, drop original, rename tmp into place. A crash
    * BEFORE the drop leaves the original untouched; a crash between
    * drop and rename is the one unsafe window, closed by
    * [[recoverCompaction]], which this method (and table-creating
    * callers) run first. [[userProperties]] are copied onto the tmp
    * table before the drop, so whichever table survives a crash
    * carries them — callers need not (but may, as a validation)
    * re-pin after compaction. */
  def compact(spark: SparkSession, table: String): Unit = {
    recoverCompaction(spark, table)
    val spec = bucketSpecOf(spark, table)
    val props = userProperties(spark, table)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    try {
      val tmp = table + "_compacting"
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      bucketedWriter(spark.table(table), spec,
        org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(tmp)
      if (props.nonEmpty) {
        val kvs = props.toSeq.sortBy(_._1)
          .map { case (k, v) => s"'${sqlLit(k)}'='${sqlLit(v)}'" }
          .mkString(", ")
        spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES ($kvs)")
      }
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    } finally spark.conf.set(autoKey, prevAuto)
  }
}
