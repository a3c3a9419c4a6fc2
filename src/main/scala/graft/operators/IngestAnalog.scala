package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.{QueryDef, QueryPack, Tables}
import graft.functions.Exact._
import graft.ingest.GlobPath

/** The reference's operator pipeline re-expressed as verifiable batch
  * queries over the `events`/`documents` tables (SURVEY.md §2.1 #1-17).
  * `events` plays the role of the FTP listing stream: `user_id` ×
  * `event_type` is a "file", `ts` its mtime, `value` the appended byte
  * count. The real streaming implementation of the same semantics lives
  * in `graft.ingest`; these queries make the per-operator semantics
  * oracle-checkable.
  *
  * `events.ts` is epoch-*nanosecond* Long on the Spark side (see
  * [[graft.Tables]]); oracles use `epoch_ns(ts)` so both engines do
  * identical integer arithmetic.
  */
object IngestAnalog extends QueryPack {

  /** 2024-01-15T00:00:00Z in epoch nanos. Threshold/ordering arithmetic
    * runs at MICROsecond precision (`ts div 1000` / `epoch_us`): DuckDB
    * reads the parquet timestamp[ns] column at µs resolution, so both
    * engines must compare identical integers. */
  private val CutoffNs = 1705276800000000000L
  private val SevenDaysUs = 7L * 86400L * 1000000L

  /** Events within 7 days of the newest (the shared max-age listing of
    * #4 and #6): one broadcast scalar, filter in the scan stage. */
  private def maxAgeListing(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    ev.crossJoin(broadcast(ev.agg(max(col("tus")).as("max_tus"))))
      .filter(col("tus") >= col("max_tus") - SevenDaysUs)
  }

  override val queries: Map[String, QueryDef] = Map(

    // ── #4 max-age filter: keep events within 7 days of the newest ──
    "ref_maxage_filter" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).withColumn("tus", expr("ts div 1000"))
        maxAgeListing(ev)
          .select($"event_id", $"user_id", $"event_type",
            expr("tus div 1000").as("ts_ms"))
          .orderBy($"event_id")
      },
      oracle = Some(s"""
        SELECT event_id, user_id, event_type,
               epoch_us(ts) // 1000 AS ts_ms
        FROM events
        WHERE epoch_us(ts) >= (SELECT MAX(epoch_us(ts)) FROM events) - $SevenDaysUs
        ORDER BY event_id""")),

    // ── #6 change detection, "unseen" case: left-anti of the listing
    //    against the already-ingested set. The "file" is an event_id;
    //    state = everything up to a 90% ingest watermark; the anti-join
    //    surfaces listed-but-not-yet-ingested entries (non-vacuous at
    //    any SF, unlike entity-level cutoffs in this saturated data) ──
    "ref_change_antijoin" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).withColumn("tus", expr("ts div 1000"))
        val watermark = ev.agg(expr("(max(event_id) * 9) div 10").as("wm"))
        val listing = maxAgeListing(ev)
          .select($"event_id", $"user_id", $"event_type")
        val state = ev.crossJoin(broadcast(watermark))
          .filter($"event_id" < $"wm")
          .select($"event_id")
        listing.join(state, Seq("event_id"), "left_anti")
          .orderBy($"event_id")
      },
      oracle = Some(s"""
        WITH wm AS (SELECT MAX(event_id) * 9 // 10 AS w FROM events),
        listing AS (
          SELECT event_id, user_id, event_type FROM events
          WHERE epoch_us(ts) >= (SELECT MAX(epoch_us(ts)) FROM events) - $SevenDaysUs)
        SELECT event_id, user_id, event_type FROM listing
        WHERE event_id NOT IN (SELECT event_id FROM events, wm WHERE event_id < wm.w)
        ORDER BY event_id""")),

    // ── #5+#6 requiresFetch: unseen OR size changed OR mtime changed ──
    // (FtpMonitor.scala:35-46: outer-join the listing against persisted
    // state and keep rows where state is missing or attributes differ)
    "ref_change_detect" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val current = ev.groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("cur_size"),
               expr("max(ts) div 1000000").as("cur_mtime_ms"))
        val state = ev.filter($"ts" < CutoffNs)
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("prev_size"),
               expr("max(ts) div 1000000").as("prev_mtime_ms"))
        current.join(state, Seq("user_id", "event_type"), "left_outer")
          .filter($"prev_size".isNull ||
                  $"cur_size" =!= $"prev_size" ||
                  $"cur_mtime_ms" =!= $"prev_mtime_ms")
          .orderBy($"user_id", $"event_type")
      },
      oracle = Some(s"""
        WITH current AS (
          SELECT user_id, event_type, COUNT(*) AS cur_size,
                 MAX(epoch_ns(ts)) // 1000000 AS cur_mtime_ms
          FROM events GROUP BY user_id, event_type),
        state AS (
          SELECT user_id, event_type, COUNT(*) AS prev_size,
                 MAX(epoch_ns(ts)) // 1000000 AS prev_mtime_ms
          FROM events WHERE epoch_ns(ts) < $CutoffNs GROUP BY user_id, event_type)
        SELECT c.user_id, c.event_type, c.cur_size, c.cur_mtime_ms,
               s.prev_size, s.prev_mtime_ms
        FROM current c LEFT JOIN state s
          ON c.user_id = s.user_id AND c.event_type = s.event_type
        WHERE s.prev_size IS NULL
           OR c.cur_size <> s.prev_size
           OR c.cur_mtime_ms <> s.prev_mtime_ms
        ORDER BY c.user_id, c.event_type""")),

    // ── #8 tail offsets: running append-offset per file (lag-sum window) ──
    "ref_tail_offsets" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).withColumn("tus", expr("ts div 1000"))
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
        ev
          .withColumn("offset",
            coalesce(
              sum(dec($"value")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
              lit(0).cast(Money)).cast(DoubleType))
          .select($"event_id", $"user_id", expr("tus div 1000").as("ts_ms"),
            dec($"value").cast(DoubleType).as("appended"), $"offset")
          .orderBy($"user_id", $"ts_ms", $"event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id, epoch_us(ts) // 1000 AS ts_ms,
          CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS appended,
          CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS offset
        FROM events
        ORDER BY user_id, ts_ms, event_id"""),
      headline = true),

    // ── #2 glob predicate over synthetic paths ──
    "ref_glob_filter" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val regex = GlobPath.globToRegex("src1*/*.txt")
        Tables.documents(s, d)
          .withColumn("path", concat($"source", lit("/"),
            $"doc_id".cast(StringType), lit(".txt")))
          .filter($"path".rlike(regex))
          .select($"doc_id", $"path")
          .orderBy($"doc_id")
      },
      oracle = Some {
        val regex = GlobPath.globToRegex("src1*/*.txt")
        s"""
        SELECT doc_id, source || '/' || doc_id || '.txt' AS path
        FROM documents
        WHERE regexp_matches(source || '/' || doc_id || '.txt', '$regex')
        ORDER BY doc_id"""
      }),

    // ── #9 record shaping: string and struct key styles, flattened ──
    "ref_key_projection" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("path", concat($"source", lit("/"),
            $"doc_id".cast(StringType), lit(".txt")))
          .select(
            $"doc_id",
            $"path".as("key_string"),
            $"path".as("key_name"),
            lit(0L).as("key_offset"),
            $"n_chars".as("value_len"),
            lit("docs").as("topic"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
          source || '/' || doc_id || '.txt' AS key_string,
          source || '/' || doc_id || '.txt' AS key_name,
          CAST(0 AS BIGINT) AS key_offset,
          n_chars AS value_len,
          'docs' AS topic
        FROM documents
        ORDER BY doc_id""")),

    // ── #14 topic routing: path→topic map as a CASE, fanned-out counts ──
    "ref_topic_routing" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .withColumn("topic",
            when($"event_type" === "click", "topic_clicks")
              .when($"event_type" === "view", "topic_views")
              .when($"event_type" === "purchase", "topic_purchases")
              .otherwise("topic_other"))
          .groupBy($"topic")
          .agg(count(lit(1)).as("n_records"), sum($"event_id").as("id_sum"))
          .orderBy($"topic")
      },
      oracle = Some("""
        SELECT CASE event_type
                 WHEN 'click' THEN 'topic_clicks'
                 WHEN 'view' THEN 'topic_views'
                 WHEN 'purchase' THEN 'topic_purchases'
                 ELSE 'topic_other' END AS topic,
               COUNT(*) AS n_records, CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM events
        GROUP BY 1
        ORDER BY topic""")),

    // ── #13 union over monitored sources, tagged with their path ──
    "ref_union_sources" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val clicks = ev.filter($"event_type" === "click")
          .withColumn("monitored_path", lit("/clicks/"))
        val views = ev.filter($"event_type" === "view")
          .withColumn("monitored_path", lit("/views/"))
        clicks.unionByName(views)
          .select($"monitored_path", $"event_id", expr("ts div 1000000").as("ts_ms"))
          .orderBy($"monitored_path", $"event_id")
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT '/clicks/' AS monitored_path, event_id,
                 epoch_ns(ts) // 1000000 AS ts_ms
          FROM events WHERE event_type = 'click'
          UNION ALL
          SELECT '/views/' AS monitored_path, event_id,
                 epoch_ns(ts) // 1000000 AS ts_ms
          FROM events WHERE event_type = 'view')
        ORDER BY monitored_path, event_id""")),

    // ── #12 bounded poll: deterministic LIMIT (max.poll.records analog) ──
    "ref_limit_poll" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id", $"event_type", $"user_id")
          .orderBy($"event_id")
          .limit(5000)
      },
      oracle = Some("""
        SELECT event_id, event_type, user_id
        FROM events
        ORDER BY event_id
        LIMIT 5000""")),

    // ── #7 content hashing (sha-256 of the body) ──
    "ref_sha2_hash" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", sha2($"text", 256).as("body_sha256"),
            length($"text").as("body_len"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id, sha256(text) AS body_sha256, LENGTH(text) AS body_len
        FROM documents
        ORDER BY doc_id""")),

    // ── #17 exponential backoff schedule (1s step, 30min cap) ──
    "ref_backoff_schedule" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        s.range(0, 21)
          .select($"id".as("iteration"),
            least((lit(1000.0) * pow(lit(2.0), $"id")).cast(LongType),
              lit(1800000L)).as("wait_ms"))
          .orderBy($"iteration")
      },
      oracle = Some("""
        SELECT i AS iteration,
               LEAST(CAST(1000 * pow(2, i) AS BIGINT), 1800000) AS wait_ms
        FROM range(0, 21) t(i)
        ORDER BY iteration""")),

    // ── #16 state codec: Instant ↔ epoch-millis round trip ──
    "ref_state_codec" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            expr("ts div 1000000").as("ts_ms"),
            (expr("ts div 1000000") * 1000000L).as("ts_restored_ns"))
          .orderBy($"event_id")
      },
      oracle = Some("""
        SELECT event_id,
               epoch_ns(ts) // 1000000 AS ts_ms,
               (epoch_ns(ts) // 1000000) * 1000000 AS ts_restored_ns
        FROM events
        ORDER BY event_id""")),

    // ── props JSON-ish extraction (regex-based so both engines agree) ──
    "evt_props_extract" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            // NULLIF guards the no-match case: both engines then yield
            // NULL instead of Spark erroring under ANSI and DuckDB
            // hard-failing the whole oracle on CAST('' AS BIGINT)
            nullif(regexp_extract($"props", "\"k\": ([0-9]+)", 1), lit(""))
              .cast(LongType).as("k"))
          .orderBy($"event_id")
      },
      oracle = Some("""
        SELECT event_id,
               CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS k
        FROM events
        ORDER BY event_id""")),

    // ── small-file compaction planning (splittable bin assignment) ──
    // The ops face every 100 TB ingest pipeline grows: millions of
    // small files must coalesce into target-sized outputs before they
    // poison scan parallelism. The "files" are the reference domain's
    // listing units (user × event_type, size = accumulated bytes);
    // the plan is the SPLITTABLE-format assignment Spark's own scan
    // packing uses — path-ordered files, each assigned to the bin its
    // byte OFFSET falls in (exclusive-prefix div target), so bins
    // preserve path locality and a file may straddle a boundary
    // exactly like a splittable scan range. The prefix sum is the
    // two-level Blelloch scan ([[Relational.globalPrefixSum]]: range
    // partition + per-partition pass + O(parts) driver offsets),
    // NEVER a single-task global window; the oracle's window cumsum
    // is the semantic spec, not the plan.
    "ref_compaction_bins" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val files = Tables.events(s, d)
          .groupBy($"user_id", $"event_type")
          .agg(sum(expr(
            "cast(cast(value as decimal(18,2)) * 100 as bigint)"))
            .as("size_b"))
        Relational.globalPrefixSum(s, files,
            Seq($"user_id", $"event_type"), "size_b")
          .select($"user_id", $"event_type", $"size_b",
            $"psum".as("cum_b"),
            expr("(psum - size_b) div 10000000").as("bin"))
          .orderBy($"user_id", $"event_type")
      },
      oracle = Some("""
        WITH f AS (
          SELECT user_id, event_type,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS size_b
          FROM events GROUP BY 1, 2),
        c AS (
          SELECT user_id, event_type, size_b,
                 SUM(size_b) OVER (ORDER BY user_id, event_type
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_b
          FROM f)
        SELECT user_id, event_type, size_b,
               CAST(cum_b AS BIGINT) AS cum_b,
               CAST((cum_b - size_b) // 10000000 AS BIGINT) AS bin
        FROM c
        ORDER BY user_id, event_type""")),

    // ── compaction EXECUTED: the rewrite job + its census ──
    // ref_compaction_bins ASSIGNS bins; this runs the rewrite
    // (round-12 verdict #7): every "small file" (user_id × event_type
    // group)'s rows are routed to their bin and REWRITTEN so each bin
    // lands as exactly ONE parquet file ([[compactionApplied]]:
    // repartition on bin keeps a bin's rows in one task, partitionBy
    // splits that task's output per bin — one data file per bin, and
    // parquet is offset-splittable so downstream scans re-parallelize
    // inside each file, unlike the tar shards). The rewrite is a
    // persisted artifact (the pqPersistedModel staging-rename
    // discipline, keyed by the events-table identity) — compaction IS
    // a nightly job; the query reads the artifact back and emits the
    // per-bin census: physical file count from the FS listing (the
    // contract: 1), group/row/byte totals from the rewritten data.
    // The oracle re-derives every census column from the ORIGINAL
    // events table — groups, rows, and byte sums must survive the
    // route + rewrite + read-back exactly — and prices n_files at the
    // contractual 1. IngestAnalogSpec proves the payoff: file count
    // collapses from one-per-group to one-per-bin, full bins land
    // inside the [target, target + max group) logical band, and the
    // physical data files are within a small spread — the amortization
    // story of q_zorder_layout applied to the small-files problem the
    // monitor's own output creates.
    "ref_compaction_apply" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val outDir = compactionApplied(s, d)
        val written = s.read.parquet(outDir)
        val agg = written.groupBy($"bin")
          .agg(countDistinct($"user_id", $"event_type").as("n_groups"),
            count(lit(1)).as("n_rows"),
            sum($"cents").as("bin_bytes"))
        // physical files per bin from the FS listing — driver-side but
        // bin-count-bounded (the listing IS the compaction's output
        // metadata, never data-sized)
        val outPath = new org.apache.hadoop.fs.Path(outDir)
        val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        val nf = fs.listStatus(outPath).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("bin="))
          .map { st =>
            val b = st.getPath.getName.stripPrefix("bin=").toLong
            val files = fs.listStatus(st.getPath)
              .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
            (b, files.toLong)
          }
        agg.join(broadcast(nf.toDF("bin", "n_files")), Seq("bin"))
          .select($"bin".cast(LongType).as("bin"), $"n_files",
            $"n_groups", $"n_rows", $"bin_bytes")
          .orderBy($"bin")
      },
      oracle = Some("""
        WITH f AS (
          SELECT user_id, event_type,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS size_b,
                 COUNT(*) AS n_rows
          FROM events GROUP BY 1, 2),
        c AS (
          SELECT user_id, event_type, size_b, n_rows,
                 SUM(size_b) OVER (ORDER BY user_id, event_type
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_b
          FROM f)
        SELECT CAST((cum_b - size_b) // 10000000 AS BIGINT) AS bin,
               CAST(1 AS BIGINT) AS n_files,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               CAST(SUM(size_b) AS BIGINT) AS bin_bytes
        FROM c
        GROUP BY 1
        ORDER BY bin""")),

    // ── compaction DRAINED incrementally: only bins closed since the
    //    last run rewrite (round-13 verdict #8) ──
    // `ref_compaction_apply` rewrites the whole plan each run; a real
    // nightly compactor drains only what ARRIVED and CLOSED since
    // yesterday. This face runs [[compactionDrained]]: the census is
    // ARRIVAL-ordered (file_id = event_id, the monitor's append-only
    // spool analog — new files always get larger ids, so earlier
    // offsets NEVER move, unlike the group-keyed plan where an
    // append can shift every downstream bin), bins come from the same
    // prefix-sum arithmetic, a bin is CLOSED once a later bin has
    // started (the last bin stays open — tomorrow's arrivals may
    // still grow it), and a crash-safe FsSwap WATERMARK records the
    // highest drained bin so the next run rewrites ONLY (wm, last)
    // bins. Replays are idempotent: the writer overwrites its own
    // bins dynamically (deterministic content), never touching
    // already-drained ones — IngestAnalogSpec proves an append-only
    // second run rewrites only the new bins and leaves yesterday's
    // files byte-untouched. The oracle re-derives the full closed-bin
    // census from the events table: what the incremental runs
    // accumulate must equal the from-scratch answer exactly.
    "ref_compaction_drain" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val dir = Similarity.artifactDir(s, d, "events.parquet", "drain",
          "fmt1|bin4000000|per-event")
        val files = Tables.events(s, d).select(
          $"event_id".as("file_id"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            .as("size_b"))
        compactionDrained(s, files, 4000000L,
          s"$dir/state", s"$dir/bins")
        // the drain writes directly (no installArtifact), so stale-key
        // siblings (drain_* from a regenerated events table) are
        // TTL-pruned here — the same best-effort hygiene every
        // installed artifact kind gets
        val dirPath = new org.apache.hadoop.fs.Path(dir)
        Similarity.pruneStaleArtifacts(
          dirPath.getFileSystem(s.sparkContext.hadoopConfiguration),
          dirPath)
        val outPath = new org.apache.hadoop.fs.Path(s"$dir/bins")
        val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        // when the census closes ZERO bins (empty or single-open-bin
        // input) the drain never creates the bins dir — the oracle
        // returns an empty set there, so the engine must too rather
        // than throw path-not-found (round-14 ADVICE)
        if (!fs.exists(outPath))
          Seq.empty[(Long, Long, Long, Long)]
            .toDF("bin", "n_files", "n_out_files", "bin_bytes")
        else {
        val written = s.read.parquet(s"$dir/bins")
        // physical files per drained bin from the FS listing —
        // bin-count-bounded metadata, the compaction contract: 1
        val nf = fs.listStatus(outPath).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("bin="))
          .map { st =>
            val b = st.getPath.getName.stripPrefix("bin=").toLong
            val dataFiles = fs.listStatus(st.getPath)
              .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
            (b, dataFiles.toLong)
          }
        written.groupBy($"bin")
          .agg(count(lit(1)).as("n_files"),
            sum($"size_b").as("bin_bytes"))
          .join(broadcast(nf.toDF("bin", "n_out_files")), Seq("bin"))
          .select($"bin".cast(LongType).as("bin"), $"n_files",
            $"n_out_files", $"bin_bytes")
          .orderBy($"bin")
        }
      },
      oracle = Some("""
        WITH f AS (
          SELECT event_id AS file_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS size_b
          FROM events),
        c AS (
          SELECT file_id, size_b,
                 SUM(size_b) OVER (ORDER BY file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_b
          FROM f),
        b AS (
          SELECT file_id, size_b,
                 CAST((cum_b - size_b) // 4000000 AS BIGINT) AS bin
          FROM c),
        lastb AS (SELECT MAX(bin) AS lb FROM b)
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(1 AS BIGINT) AS n_out_files,
               CAST(SUM(size_b) AS BIGINT) AS bin_bytes
        FROM b CROSS JOIN lastb
        WHERE bin < lb
        GROUP BY bin
        ORDER BY bin""")),

    // ── rendezvous (highest-random-weight) shard routing ──
    // The STATELESS routing tier next to the topic router (#14) and
    // the compaction bins: mod-N routing reshuffles ~everything when
    // the shard count changes, a real cost when shards are 100 TB of
    // accumulated bucketed state. Rendezvous hashing (Thaler &
    // Ravishankar 1996 — the scheme behind consistent object routing)
    // assigns each doc to argmax over shards of a per-(doc, shard)
    // hash, so adding a shard moves EXACTLY the docs whose new-shard
    // weight wins — an expected 1/(n+1) fraction — and every mover
    // lands ON the new shard (old shards never trade docs: both
    // arguments of every old-pair comparison are unchanged). The
    // query emits the per-shard census under 10 and 11 shards plus
    // n_arrived (docs that changed shard INTO this one going 10→11);
    // the zero-arrivals-on-old-shards invariant is IN the hashed
    // output, and the movement fraction sits near 1/11 by
    // construction. The weight is the repo's Long-safe multiplicative
    // mix (doc-reduced × shard-salted odd constant, mod the Mersenne
    // 2^31−1 prime; the shard enters MULTIPLICATIVELY via its own
    // mod-p constant — a shard-linear weight would make the argmax
    // collapse to the largest shard), identical integer ops in both
    // engines. Shape:
    // the argmax is a codegen'd HOF over the tiny shard array — a
    // pure per-row projection, NO corpus shuffle, no explode, both
    // shard counts read off ONE scan; the only exchanges are the two
    // ≤11-row census aggregates. That projection is exactly what a
    // writer applies inline at any scale.
    "ref_rendezvous_route" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // argmax over shards of the weight, ties to the smaller shard
        // (max of (w, -shard) structs — the ROW_NUMBER order's twin)
        // w = mix(a, sh): v0 = a·K_sh mod p, v1 = (v0² + sh + 1) mod p,
        // w = v1·C mod p — every intermediate provably inside a Long
        // ((p−1)² + 12 < 2⁶³); the quadratic step is what decorrelates
        // the argmax across shards (a single multiplicative round
        // leaves small doc keys wrap-free, and their argmax collapses
        // onto the globally largest per-shard constant)
        def sMax(n: Int) = expr(
          s"""-(array_max(transform(sequence(0L, ${n - 1}L), sh ->
                struct((transform(
                    array(((doc_id % 1000003L + 1L)
                             * (((sh + 1L) * 2654435761L) % 2147483647L))
                            % 2147483647L),
                    v0 -> ((v0 * v0 + sh + 1L) % 2147483647L
                             * 2654435761L) % 2147483647L)[0]) AS w,
                       -sh AS ns)))).ns""")
        val routed = Tables.documents(s, d)
          .select($"doc_id", sMax(10).as("s10"), sMax(11).as("s11"))
          .pin() // both censuses read the one scan
        val c11 = routed.groupBy($"s11".as("shard"))
          .agg(count(lit(1)).as("n_docs_11"),
            sum(when($"s10" =!= $"s11", 1L).otherwise(0L)).as("n_arrived"))
        val c10 = routed.groupBy($"s10".as("shard"))
          .agg(count(lit(1)).as("n_docs_10"))
        c11.join(broadcast(c10), Seq("shard"), "left")
          .select($"shard", coalesce($"n_docs_10", lit(0L)).as("n_docs_10"),
            $"n_docs_11", $"n_arrived")
          .orderBy($"shard")
      },
      oracle = Some("""
        WITH sh AS (
          SELECT d.doc_id, s.shard,
                 (list_transform(
                    [((d.doc_id % 1000003 + 1)
                        * (((s.shard + 1) * 2654435761) % 2147483647))
                       % 2147483647],
                    v0 -> ((v0 * v0 + s.shard + 1) % 2147483647
                             * 2654435761) % 2147483647)[1]) AS w
          FROM documents d,
               (SELECT unnest(generate_series(0, 10)) AS shard) s),
        r10 AS (
          SELECT doc_id, shard AS s10 FROM (
            SELECT doc_id, shard,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY w DESC, shard ASC) AS rn
            FROM sh WHERE shard < 10) x WHERE rn = 1),
        r11 AS (
          SELECT doc_id, shard AS s11 FROM (
            SELECT doc_id, shard,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY w DESC, shard ASC) AS rn
            FROM sh) x WHERE rn = 1),
        j AS (SELECT r10.doc_id, s10, s11 FROM r10 JOIN r11 USING (doc_id)),
        c11 AS (
          SELECT s11 AS shard,
                 CAST(COUNT(*) AS BIGINT) AS n_docs_11,
                 CAST(SUM(CASE WHEN s10 <> s11 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_arrived
          FROM j GROUP BY 1),
        c10 AS (
          SELECT s10 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs_10
          FROM r10 GROUP BY 1)
        SELECT c11.shard,
               CAST(COALESCE(c10.n_docs_10, 0) AS BIGINT) AS n_docs_10,
               n_docs_11, n_arrived
        FROM c11 LEFT JOIN c10 ON c10.shard = c11.shard
        ORDER BY c11.shard"""))
  )

  /** The executed compaction behind `ref_compaction_apply`: routes
    * every event row to its group's bin (the `ref_compaction_bins`
    * plan) and rewrites the rows as ONE offset-splittable parquet
    * file per bin. `repartition(bin)` puts each bin's rows in
    * exactly one task (AQE may merge partitions but never splits a
    * user repartition key), and `partitionBy(bin)` fans that task's
    * output into per-bin directories — so each bin directory holds
    * exactly one data file. Persisted once per events-table identity
    * under the shared artifacts root ([[Similarity.installArtifact]]
    * staging-rename; the parquet writer's own _SUCCESS is the
    * completeness marker), because compaction is a nightly job whose
    * output many scans reuse.
    *
    * The bin plan is one row per (user_id, event_type) "file" — a
    * file census. SIZE-GATED broadcast (round-13 verdict #4, the
    * [[Dedup.componentLabels]] idiom): below `broadcastPlanThreshold`
    * rows it broadcasts (a compaction window's census is usually
    * metadata-sized and the fact side skips its shuffle); above, it
    * joins as a plain equality join and lets AQE pick the strategy —
    * at a 100 TB compaction window the census reaches millions of
    * rows and an unconditional broadcast hint would pin
    * driver/executor memory on every routing task. The count the
    * gate pays is over the PINNED census, which the join
    * consumes too, so the plan computes once either way. */
  private[graft] def compactionApplied(s: org.apache.spark.sql.SparkSession,
      d: String, broadcastPlanThreshold: Long = 2000000L): String = {
    import s.implicits._
    val dir = Similarity.artifactDir(s, d, "events.parquet", "compact",
      "fmt1|binsize10000000")
    Similarity.ensureArtifact(s, dir, "compaction")(
      Similarity.successAt(s)) { stage =>
      val ev = Tables.events(s, d).select($"user_id", $"event_type",
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
          .as("cents"))
      val plan = Relational.globalPrefixSum(s,
          ev.groupBy($"user_id", $"event_type")
            .agg(sum($"cents").as("size_b")),
          Seq($"user_id", $"event_type"), "size_b")
        .select($"user_id", $"event_type",
          expr("(psum - size_b) div 10000000").as("bin"))
        .pin()
      val routed =
        if (plan.count() <= broadcastPlanThreshold)
          ev.join(broadcast(plan), Seq("user_id", "event_type"))
        else ev.join(plan, Seq("user_id", "event_type"))
      routed
        .repartition(col("bin"))
        .write.partitionBy("bin").mode("overwrite").parquet(stage)
    }
    dir
  }

  /** Incremental compaction drain (round-13 verdict #8): assign bins
    * over the ARRIVAL-ordered file census (`file_id` ascending,
    * append-only — earlier cumulative offsets never move when new
    * files arrive, which is what makes bins STABLE across runs), then
    * rewrite only the bins that CLOSED since the last run.
    *
    *  - A bin is closed once a later bin has started; the LAST bin
    *    stays open (future arrivals may still land in it) and is
    *    never written.
    *  - The watermark (highest drained bin) lives in crash-safe
    *    [[FsSwap]] state at `stateDir` (Hadoop-FS two-generation
    *    swap — stateDir rides the artifacts root, shared storage on a
    *    cluster); this run drains exactly the bins
    *    in (watermark, lastBin).
    *  - The write is one parquet file per bin (`repartition(bin)` +
    *    `partitionBy(bin)`, the `compactionApplied` contract) under
    *    DYNAMIC partition overwrite: a crash between the write and
    *    the watermark commit replays the same deterministic bins over
    *    themselves — already-drained bins are never touched, so the
    *    accumulated output equals the from-scratch answer exactly.
    *
    * Returns this run's drained assignment (file_id, size_b, bin) —
    * empty when nothing new closed. 100 TB shape: the census is
    * file-metadata-sized, the prefix sum is the two-level Blelloch
    * scan, the open-bin/watermark logic is O(1) scalars, and each
    * run's write touches only the new bins' rows. */
  private[graft] def compactionDrained(
      s: org.apache.spark.sql.SparkSession,
      files: org.apache.spark.sql.DataFrame,
      binSize: Long, stateDir: String,
      outDir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val binned = Relational.globalPrefixSum(s,
        files.select($"file_id".cast(LongType).as("file_id"),
          $"size_b".cast(LongType).as("size_b")),
        Seq($"file_id"), "size_b")
      .select($"file_id", $"size_b",
        expr(s"(psum - size_b) div $binSize").as("bin"))
      .pin() // the last-bin scalar + the write
    // O(1) scalars: the open bin and the committed watermark. State
    // rides [[FsSwap]] through the Hadoop FileSystem: stateDir lives
    // under the artifacts root, which on a cluster is shared storage —
    // a local-file swap there would desynchronize the watermark from
    // the bins it guards.
    val lastBin = binned.agg(coalesce(max($"bin"), lit(-1L)))
      .collect()(0).getLong(0)
    val swap = FsSwap(s.sparkContext.hadoopConfiguration, stateDir, "wm")
    val wm = swap.readable match {
      case Some(dir) => s.read.parquet(dir).collect().head.getLong(0)
      case None      => -1L
    }
    val toDrain = binned
      .filter($"bin" > wm && $"bin" < lastBin)
      .pin() // the write + the caller's census
    if (wm < lastBin - 1) {
      toDrain.repartition($"bin")
        .write.partitionBy("bin")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(outDir)
      // watermark commits AFTER the write: a crash between them
      // replays the same bins idempotently (dynamic overwrite of
      // deterministic content)
      swap.commit(Seq(lastBin - 1).toDF("wm"))
    }
    toDrain
  }
}
