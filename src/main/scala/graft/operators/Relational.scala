package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, QueryPack, Tables}
import graft.functions.Exact._

/** Relational query surface (SURVEY.md §2.2 starred categories): joins
  * (broadcast/sort-merge/semi/anti), aggregations (plain, rollup,
  * distinct), windows, set ops, sorts/limits, scalar functions — all
  * over the TPC-H-ish tables, each with a DuckDB oracle.
  *
  * Scale notes (100 TB thinking):
  *  - dimension joins (`nation`, `region`, `part`, `supplier`) are
  *    explicitly `broadcast()` — they stay small at any SF;
  *  - fact-fact joins (lineitem × orders) shuffle on the join key and
  *    benefit from AQE; no driver-side collection anywhere;
  *  - aggregates are map-side partial (Catalyst does this for all
  *    hash aggregates), so shuffle volume is #groups, not #rows.
  */
object Relational extends QueryPack {

  /** Monotone per-invocation suffix for `q_lateral_topn`'s temp views. */
  private val lateralViewTag = new java.util.concurrent.atomic.AtomicLong(0L)

  private val one = lit(1).cast(DecimalType(3, 2))
  private def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  /** 1 - discount, exact, kept narrow so products stay within 38 digits. */
  private def omd(disc: Column): Column = (one - rate(disc)).cast(DecimalType(5, 2))
  private def opt(tax: Column): Column = (one + rate(tax)).cast(DecimalType(5, 2))

  // DuckDB spellings of the same exact arithmetic.
  private val sqlD = "CAST(%s AS DECIMAL(12,2))"
  private val sqlOmd = "CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))"
  private val sqlOpt = "CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(5,2))"

  private def ts(s: String): Column = lit(LocalDateTime.parse(s))

  /** Past this partition count the offset projection falls back to a
    * broadcast join: a literal array per offset column keeps the plan
    * O(partitions) bytes, fine at thousands, not at hundreds of
    * thousands. */
  private val LitOffsetCap = 4096

  /** `out = local + offset(pid)` for each (out, local, offsets) spec,
    * as a PURE PROJECTION (r17): the per-partition offsets — bounded
    * by the partition count, already on the driver from the pin's own
    * stats — fold in as ONE array literal indexed by pid, so there is
    * no broadcast exchange, no join, and every RE-READ of the pinned
    * layout is a cached-block scan plus a codegen'd array lookup (the
    * old broadcast-offset join re-ran its probe on every consumer of
    * every layout primitive, and its broadcast build was a whole job
    * per call). Beyond [[LitOffsetCap]] partitions the offsets ride
    * the old broadcast join to bound plan size. `offsets` arrays must
    * be indexed by pid (length = partition count). */
  private def addOffsets(df: DataFrame, pidCol: String, parts: Int,
      specs: Seq[(String, String, Array[Long])]): DataFrame = {
    if (parts <= LitOffsetCap) {
      specs.foldLeft(df) { case (d, (out, local, offs)) =>
        d.withColumn(out,
          col(local) + element_at(lit(offs), col(pidCol) + 1))
      }
    } else {
      val s = df.sparkSession
      val rows = (0 until parts).map { p =>
        org.apache.spark.sql.Row.fromSeq(p +: specs.map(_._3(p))) }
      val schema = StructType(StructField(pidCol, IntegerType, false) +:
        specs.map(sp => StructField(s"__off_${sp._1}", LongType, false)))
      val offsetDf = s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
      val joined = df.join(broadcast(offsetDf), Seq(pidCol))
      specs.foldLeft(joined) { case (d, (out, local, _)) =>
        d.withColumn(out, col(local) + col(s"__off_$out"))
      }.drop(specs.map(sp => s"__off_${sp._1}"): _*)
    }
  }

  /** pid-ascending exclusive running offsets over (pid, value) entries,
    * returned as a pid-indexed array (missing/empty pids get the
    * running value — harmless, they have no rows). */
  private def pidOffsets(parts: Int, entries: Array[(Int, Long)]): Array[Long] = {
    val offs = new Array[Long](parts)
    var run = 0L
    var i = 0
    var pid = 0
    while (pid < parts) {
      offs(pid) = run
      if (i < entries.length && entries(i)._1 == pid) {
        run += entries(i)._2; i += 1
      }
      pid += 1
    }
    offs
  }

  /** Distributed GLOBAL ntile: input rows plus a `tile` column in
    * [1, k], identical to SQL `ntile(k) OVER (ORDER BY sortCols)` —
    * without the single-partition window that formulation funnels the
    * whole table through. Range-repartition on the full sort key gives
    * non-overlapping sorted partitions; the driver collects only the
    * per-partition COUNTS (bounded by the partition count, like
    * zipWithIndex); the global rank is then a pure PROJECTION —
    * monotonically_increasing_id's documented layout is
    * (partition id << 33) + in-partition record number, so the low 33
    * bits ARE the per-partition row index of the sorted, checkpointed
    * layout — plus a broadcast per-partition offset. The tile comes
    * from SQL ntile's exact remainder rule: the first (total mod k)
    * tiles get one extra row. Zero shuffles after the range sort (a
    * row_number window would re-shuffle the whole table on pid: the
    * checkpoint hides the layout from Catalyst, so the window's
    * clustering requirement isn't seen as satisfied). The
    * pin is CORRECTNESS as much as caching: repartitionByRange
    * samples its boundaries once, so the counts job and the final job
    * must read ONE materialized layout (see [[Shim.pin]]).
    *
    * `sortCols` must be a total order (include a unique tiebreak) or
    * ties may land in either tile.
    *
    * Internal working columns use a `__gn_` prefix so they can never
    * silently replace (and corrupt) a caller column of the same name —
    * `withColumn` overwrites on collision; only the `tile` output may
    * not pre-exist, enforced loudly. */
  /** Distributed GLOBAL 0-based rank: input rows plus an `rk` column
    * equal to `row_number() OVER (ORDER BY sortCols) - 1` — the same
    * zero-post-sort-shuffle mechanism as [[globalNtile]] (range
    * repartition → per-partition counts on the driver → broadcast
    * offsets → pure projection), exposing the RANK itself for
    * operators that need positional adjacency (sorted-neighborhood
    * blocking, windowed merges) rather than bucket membership.
    * `sortCols` must be a total order (unique tiebreak) or ranks of
    * tied rows are nondeterministic. */
  /** Distributed GLOBAL 0-based DENSE rank by `keyColNames`: input
    * rows plus an `rk` column equal to
    * `dense_rank() OVER (ORDER BY keys) - 1` — rows with EQUAL keys
    * get EQUAL ranks, and ranks are dense over the distinct-key set.
    * Same zero-post-sort-shuffle mechanism as [[globalRank]] (range
    * repartition → per-partition distinct-key counts to the driver →
    * broadcast offsets → pure projection), with the boundary soundness
    * coming from the range partitioner itself: equal keys always land
    * in ONE partition, so a local ordered scan that bumps the index on
    * key change plus a per-partition offset IS the global dense rank.
    *
    * This replaces the distinct() → rank → join-back triple the
    * suffix-array doubling rounds used to run: one range sort of the
    * full table instead of a distinct shuffle, a second sort of the
    * distinct keys, and an n-row join back — at high round counts the
    * removed exchanges (and their AQE stage-jobs) dominate the
    * operator's wall clock on anything but huge inputs. */
  private[operators] def globalDenseRank(
      s: SparkSession, df: DataFrame, keyColNames: Seq[String],
      partsIn: Int = 0, onDistinct: Long => Unit = _ => ()): DataFrame = {
    require(!df.columns.contains("rk"),
      "globalDenseRank: input already has an 'rk' column — rename it first")
    val parts =
      if (partsIn > 0) partsIn else math.max(1, s.sparkContext.defaultParallelism)
    val keys = keyColNames.map(col)
    val presorted = df
      .repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__gd_pid", spark_partition_id())
    val kIdx = keyColNames.map(presorted.schema.fieldIndex)
    val outSchema = presorted.schema.add("__gd_local", LongType)
    // The pin's own materialization job returns the per-partition
    // distinct counts (last __gd_local + 1 — the local pass is an
    // ordered key-change counter, so the last row holds the partition
    // total): the old shape re-read the frame the pin had just frozen
    // in a whole extra groupBy job per call (r17, guide §1.2).
    val (withLocal, stats) = Shim
      .pinWithPartitionStats(presorted.mapPartitions { it =>
        var prev: Seq[Any] = null
        var idx = -1L
        it.map { r =>
          val k = kIdx.map(r.get(_))
          if (prev == null || k != prev) { idx += 1L; prev = k }
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ idx)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema)), Seq("__gd_local"))
    val counts: Array[(Int, Long)] = stats.zipWithIndex.collect {
      case ((n, lasts), pid) if n > 0L => (pid, lasts(0) + 1L) }
    // free observability: the distinct-key total falls out of the
    // offsets the mechanism collects anyway (suffix doubling uses it
    // to detect a permutation and stop — zero extra jobs)
    onDistinct(counts.map(_._2).sum)
    addOffsets(withLocal, "__gd_pid", stats.length,
        Seq(("rk", "__gd_local", pidOffsets(stats.length, counts))))
      .drop("__gd_pid", "__gd_local")
  }

  private[operators] def globalRank(
      s: SparkSession, df: DataFrame, sortCols: Seq[Column],
      partsIn: Int = 0, onCount: Long => Unit = _ => ()): DataFrame = {
    require(!df.columns.contains("rk"),
      "globalRank: input already has an 'rk' column — rename it first")
    val parts =
      if (partsIn > 0) partsIn else math.max(1, s.sparkContext.defaultParallelism)
    // per-partition row counts ride the pin's own materialization job
    // (r17, guide §1.2) — the old shape paid a whole extra groupBy job
    // re-reading the frame the pin had just frozen
    val (sorted, stats) = Shim
      .pinWithPartitionStats(df
        .repartitionByRange(parts, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .withColumn("__gr_pid", spark_partition_id())
        .withColumn("__gr_ridx",
          monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))),
        Seq.empty)
    val counts: Array[(Int, Long)] = stats.zipWithIndex.collect {
      case ((n, _), pid) if n > 0L => (pid, n) }
    require(counts.forall(_._2 < (1L << 33)),
      s"globalRank: a range partition exceeds 2^33 rows and would wrap " +
        s"the record index — raise the partition count above $parts")
    onCount(counts.map(_._2).sum) // free: the stats rode the pin job
    addOffsets(sorted, "__gr_pid", stats.length,
        Seq(("rk", "__gr_ridx", pidOffsets(stats.length, counts))))
      .drop("__gr_pid", "__gr_ridx")
  }

  /** Exact p50/p99 of a LongType column `v` as strings, one row
    * (p50v, p99v) — the profiler family's quantile line. Convention:
    * rank = ⌈q·n⌉ over the 1-based ascending order of the non-null
    * values (both engines replay the identical integer arithmetic:
    * (q·n + 99) div 100).
    *
    * 100 TB shape: a column-pruned map-side-combined value HISTOGRAM
    * (value-domain-sized, never the data), [[globalPrefixSum]] over
    * the domain (the tukey/dataset-card discipline — no data sort, no
    * single-task window), then ONE aggregate probes both ranks: the
    * quantile value is the smallest value whose cumulative count
    * reaches the rank. All-null input yields (null, null). */
  private def exactPctlReprs(s: SparkSession, values: DataFrame): DataFrame = {
    import s.implicits._
    val hist = values.filter($"v".isNotNull)
      .groupBy($"v").agg(count(lit(1)).as("c"))
    val ps = globalPrefixSum(s, hist, Seq($"v"), "c")
      .pin() // the n scalar + the rank probe
    val nDf = ps.agg(max($"psum").as("nn"))
    ps.crossJoin(broadcast(nDf)).agg(
      min(when($"psum" >= expr("(50 * nn + 99) div 100"), $"v"))
        .cast(StringType).as("p50v"),
      min(when($"psum" >= expr("(99 * nn + 99) div 100"), $"v"))
        .cast(StringType).as("p99v"))
  }

  /** The sketched dataset-card profile of the orders table — the pass
    * a 100 TB deployment actually runs where `q_profile_table` is the
    * exact verification face (round-14 verdict #4): ONE map-side-
    * combined aggregate, per column an HLL sketch estimate
    * (DataSketches, lgK 14 — the `agg_hll_mergeable` machinery)
    * instead of an exact countDistinct, and on the measure column a
    * mergeable approximate percentile pair (±N/200 rank guarantee)
    * instead of the exact selection; null counts stay exact (count()
    * rides the same pass for free). Every summary is MERGEABLE, so
    * sharded/daily profiles union by sketch merge. No Expand, no
    * Window, one scan — PlanShapeSpec gates this helper's own plan;
    * `q_profile_approx` is its hash-checked accuracy contract. */
  private[operators] def approxOrdersProfile(s: SparkSession, d: String): DataFrame =
    approxTableProfile(ordersProfile.frame(s, d), ordersProfile.cols,
      measure = ordersProfile.measure)

  /** The one-pass sketched profile of ANY pre-projected frame — the
    * generic core behind [[approxOrdersProfile]] and the
    * events/documents/embeddings faces (round-15 stretch: one sketched
    * face per pipeline table, single-sourced so the pass's shape can
    * never drift per table): ONE map-side-combined aggregate emitting,
    * per column i (1-based, in `cols` order), the exact null-aware
    * count `c{i}` and the HLL estimate `h{i}` (lgK 14), plus the
    * mergeable approximate percentile pair (ap50, ap99) on `measure`
    * and the exact row count `n`. No Expand, no Window, one scan —
    * PlanShapeSpec gates the plan for all four tables. */
  private[operators] def approxTableProfile(t: DataFrame,
      cols: Seq[String], measure: String): DataFrame = {
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(c)).as(s"c${i + 1}"),
        hll_sketch_estimate(hll_sketch_agg(col(c), lit(14)))
          .as(s"h${i + 1}"))
    } ++ Seq(
      percentile_approx(col(measure), lit(0.5), lit(200)).as("ap50"),
      percentile_approx(col(measure), lit(0.99), lit(200)).as("ap99"))
    t.agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** Contract-row assembly for a sketched profile — the
    * `q_profile_approx` discipline generalized: the SAME run
    * recomputes the exact distinct census (the referee, whose Expand
    * is the cost the sketched pass avoids — paid here because it IS
    * the gate) and the exact rank of each approximate percentile from
    * the column-pruned measure histogram, and emits per column the
    * exact n_distinct next to hash-checked accuracy booleans (HLL
    * within ±5%; approximate-percentile rank within ±1% of target).
    * The column names are the emitted col_name values. */
  private def approxProfileContract(s: SparkSession, t: DataFrame,
      cols: Seq[String], measure: String): DataFrame = {
    import s.implicits._
    val approx = approxTableProfile(t, cols, measure)
      .pin() // rank probe + final row assembly
    val exact = t.agg(
      countDistinct(col(cols.head)).as("d1"),
      cols.tail.zipWithIndex.map { case (c, i) =>
        countDistinct(col(c)).as(s"d${i + 2}") }: _*)
    val hist = t.select(col(measure).as("v")).filter($"v".isNotNull)
      .groupBy($"v").agg(count(lit(1)).as("c"))
      .pin()
    val ranks = hist
      .crossJoin(broadcast(approx.select($"ap50", $"ap99")))
      .agg(
        sum($"c").as("nv"),
        sum(when($"v" < $"ap50", $"c").otherwise(0L)).as("lo50"),
        sum(when($"v" <= $"ap50", $"c").otherwise(0L)).as("le50"),
        sum(when($"v" < $"ap99", $"c").otherwise(0L)).as("lo99"),
        sum(when($"v" <= $"ap99", $"c").otherwise(0L)).as("le99"))
      .select(
        ($"le50" * 100L >= $"nv" * 49L &&
          $"lo50" * 100L <= $"nv" * 51L).as("p50ok"),
        ($"le99" * 100L >= $"nv" * 98L &&
          $"lo99" * 100L <= $"nv" * 100L).as("p99ok"))
    val wide = cols.indices.foldLeft(
        approx.crossJoin(broadcast(exact)).crossJoin(broadcast(ranks))) {
      (df, i) =>
        df.withColumn(s"w${i + 1}",
          abs(col(s"h${i + 1}") - col(s"d${i + 1}")).cast(DoubleType)
            <= lit(0.05) * col(s"d${i + 1}"))
    }
    val stackRows = cols.zipWithIndex.map { case (c, i) =>
      val pcts =
        if (c == measure) "CAST(p50ok AS STRING), CAST(p99ok AS STRING)"
        else "CAST(NULL AS STRING), CAST(NULL AS STRING)"
      s"'$c', n - c${i + 1}, d${i + 1}, w${i + 1}, $pcts"
    }.mkString(",\n              ")
    wide.select(expr(s"""stack(${cols.size},
              $stackRows)
              as (col_name, n_nulls, n_distinct, distinct_within_5pct,
                  p50_rank_within_1pct, p99_rank_within_1pct)"""),
        $"n".as("n_rows"))
      .select($"col_name", $"n_rows", $"n_nulls", $"n_distinct",
        $"distinct_within_5pct",
        $"p50_rank_within_1pct", $"p99_rank_within_1pct")
      .orderBy($"col_name")
  }

  /** One pipeline table as the profile queries read it: the Spark
    * projection `frame` (output names are the emitted `col_name`s, in
    * `cols` order) with its `measure` column, and the DuckDB spelling:
    * an optional leading CTE (`withSql`, comma included), the relation
    * the census reads, each column's expression over it, the columns
    * that are strings already, and the measure's non-null values. */
  private final case class ProfiledTable(
      cols: Seq[String], measure: String,
      frame: (SparkSession, String) => DataFrame,
      withSql: String, fromSql: String, colSql: Seq[String],
      stringCols: Set[String], valuesSql: String) {

    private def census(perCol: (String, String, Int) => String): String =
      s"""WITH $withSql a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            ${cols.indices.map(i => perCol(cols(i), colSql(i), i + 1)).mkString(",\n")}
          FROM $fromSql)"""

    private def unpivot(header: String, first: String, other: Int => String,
        atMeasure: Int => String): String = {
      val rows = cols.indices.map { i =>
        val (c, n) = (cols(i), i + 1)
        if (n == 1) s"SELECT n, '$c' AS col_name, n - c1 AS n_nulls, d1 AS n_distinct, $first FROM a"
        else s"UNION ALL SELECT n, '$c', n - c$n, d$n, ${if (c == measure) atMeasure(n) else other(n)}"
      }
      s"""SELECT col_name, n AS n_rows, n_nulls, n_distinct, $header
        FROM (
          ${rows.mkString("\n        ")})
        ORDER BY col_name"""
    }

    /** Oracle of [[exactProfile]]. */
    def exactSql: String =
      s"""${census { (c, x, n) =>
        val (mn, mx) =
          if (stringCols(c)) (s"MIN($x)", s"MAX($x)")
          else (s"CAST(MIN($x) AS VARCHAR)", s"CAST(MAX($x) AS VARCHAR)")
        s"CAST(COUNT($x) AS BIGINT) AS c$n, CAST(COUNT(DISTINCT $x) AS BIGINT) AS d$n, $mn AS mn$n, $mx AS mx$n"
      }},
        v AS ($valuesSql),
        r AS (
          SELECT val, ROW_NUMBER() OVER (ORDER BY val) AS rk,
                 COUNT(*) OVER () AS nn
          FROM v),
        q AS (
          SELECT
            CAST(MIN(CASE WHEN rk >= (50 * nn + 99) // 100
              THEN val END) AS VARCHAR) AS p50v,
            CAST(MIN(CASE WHEN rk >= (99 * nn + 99) // 100
              THEN val END) AS VARCHAR) AS p99v
          FROM r)
        ${unpivot("min_repr, max_repr, p50_repr, p99_repr",
          "mn1 AS min_repr, mx1 AS max_repr, CAST(NULL AS VARCHAR) AS p50_repr, CAST(NULL AS VARCHAR) AS p99_repr",
          n => s"mn$n, mx$n, NULL, NULL FROM a",
          n => s"mn$n, mx$n, p50v, p99v FROM a CROSS JOIN q")}"""

    /** Oracle of the sketched profile's contract row
      * ([[approxProfileContract]]): exact census, accuracy booleans TRUE. */
    def approxSql: String =
      s"""${census((_, x, n) =>
        s"CAST(COUNT($x) AS BIGINT) AS c$n, CAST(COUNT(DISTINCT $x) AS BIGINT) AS d$n")}
        ${unpivot("distinct_within_5pct, p50_rank_within_1pct, p99_rank_within_1pct",
          "TRUE AS distinct_within_5pct, CAST(NULL AS VARCHAR) AS p50_rank_within_1pct, CAST(NULL AS VARCHAR) AS p99_rank_within_1pct",
          _ => "TRUE, NULL, NULL FROM a",
          _ => "TRUE, 'true', 'true' FROM a")}"""
  }

  private lazy val ordersProfile = ProfiledTable(
    cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice_cents", "o_orderdate_us", "o_orderpriority"),
    measure = "o_totalprice_cents",
    frame = (s, d) => Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)")
        .as("o_totalprice_cents"),
      // o_orderdate reads as TIMESTAMP_NTZ; the UTC session (Tuning)
      // makes the NTZ->instant cast the same integer DuckDB's
      // epoch_us computes on the naive value
      expr("unix_micros(cast(o_orderdate as timestamp))")
        .as("o_orderdate_us"),
      col("o_orderpriority")),
    withSql = "", fromSql = "orders",
    colSql = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)",
      "epoch_us(o_orderdate)", "o_orderpriority"),
    stringCols = Set("o_orderstatus", "o_orderpriority"),
    valuesSql = """
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
          AS BIGINT) AS val
        FROM orders
        WHERE o_totalprice IS NOT NULL""")

  // events: the measure column is value (centi-units); ts rides the
  // epoch-micros convention (`ts div 1000` on the nanos Long = DuckDB's
  // epoch_us) shared with every evt_* oracle
  private lazy val eventsProfile = ProfiledTable(
    cols = Seq("event_id", "ts_us", "user_id", "event_type", "value_cents"),
    measure = "value_cents",
    frame = (s, d) => Tables.events(s, d).select(
      col("event_id"),
      expr("ts div 1000").as("ts_us"),
      col("user_id"), col("event_type"),
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
        .as("value_cents")),
    withSql = """e AS (
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS value_cents
        FROM events),""",
    fromSql = "e",
    colSql = Seq("event_id", "ts_us", "user_id", "event_type", "value_cents"),
    stringCols = Set("event_type"),
    valuesSql = "SELECT value_cents AS val FROM e WHERE value_cents IS NOT NULL")

  // documents: the measure column is n_chars — the dataset-card length
  // distribution every curation pass reads
  private lazy val documentsProfile = ProfiledTable(
    cols = Seq("doc_id", "lang", "source", "n_chars"),
    measure = "n_chars",
    frame = (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
    withSql = "", fromSql = "documents",
    colSql = Seq("doc_id", "lang", "source", "n_chars"),
    stringCols = Set("lang", "source"),
    valuesSql = "SELECT n_chars AS val FROM documents WHERE n_chars IS NOT NULL")

  // embeddings: emb_dim's census (n_distinct = 1) IS the fixed-dimension
  // contract check; the measure column is label
  private lazy val embeddingsProfile = ProfiledTable(
    cols = Seq("vec_id", "emb_dim", "label"),
    measure = "label",
    frame = (s, d) => Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).cast(LongType).as("emb_dim"),
      col("label").cast(LongType).as("label")),
    withSql = """e AS (
        SELECT vec_id, CAST(len(embedding) AS BIGINT) AS emb_dim,
               CAST(label AS BIGINT) AS label
        FROM embeddings),""",
    fromSql = "e",
    colSql = Seq("vec_id", "emb_dim", "label"),
    stringCols = Set.empty,
    valuesSql = "SELECT label AS val FROM e WHERE label IS NOT NULL")

  /** The exact profile rows of `t`: per column the null count, exact
    * distinct count and min/max as strings, and on the measure column
    * the exact p50/p99 of [[exactPctlReprs]] — one map-side-combined
    * aggregate that `stack` unpivots into the per-column census. */
  private def exactProfile(s: SparkSession, d: String,
      t: ProfiledTable): DataFrame = {
    import s.implicits._
    val frame = t.frame(s, d)
    val qdf = exactPctlReprs(s, frame.select(col(t.measure).as("v")))
    val aggs = t.cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(c)).as(s"c${i + 1}"),
        countDistinct(col(c)).as(s"d${i + 1}"),
        min(col(c)).cast(StringType).as(s"mn${i + 1}"),
        max(col(c)).cast(StringType).as(s"mx${i + 1}"))
    }
    val stackRows = t.cols.zipWithIndex.map { case (c, i) =>
      val pcts =
        if (c == t.measure) "p50v, p99v"
        else "CAST(NULL AS STRING), CAST(NULL AS STRING)"
      s"'$c', n - c${i + 1}, d${i + 1}, mn${i + 1}, mx${i + 1}, $pcts"
    }.mkString(",\n            ")
    frame.agg(count(lit(1)).as("n"), aggs: _*)
      .crossJoin(broadcast(qdf))
      .select(expr(s"""stack(${t.cols.size},
              $stackRows)
            as (col_name, n_nulls, n_distinct, min_repr, max_repr,
                p50_repr, p99_repr)"""),
        $"n".as("n_rows"))
      .select($"col_name", $"n_rows", $"n_nulls", $"n_distinct",
        $"min_repr", $"max_repr", $"p50_repr", $"p99_repr")
      .orderBy($"col_name")
  }

  /** Exact k-th order statistics over a single `cents` LongType column
    * — the `q_select_kth` machinery with the driver collect bounded by
    * a CONSTANT across value domains. Each round histograms the
    * current [lo, hi] range into ≤ `B` equal-width coarse buckets
    * (one map-side-combined aggregate, ≤ B rows to the driver) and
    * narrows to the bucket holding rank k; when the range fits B
    * W-wide buckets, the final W-ALIGNED histogram (cents div W — the
    * output contract, not the narrowed offsets) locates the k-th
    * row's bucket, the full-bucket count is reconstructed (plus one
    * 1-row count per side when the narrowed range cuts into the
    * bucket's head or tail),
    * and [[globalRank]] ranks ONLY that bucket to project the value.
    * Rounds share histograms across the requested percentiles via
    * memoization — at most O(log_B(domain/W)) aggregate passes total.
    * `probe` observes every driver collect's row count (the spec gate
    * pins max ≤ B + 1 on a 10^12-wide domain). */
  private[operators] def selectKthCents(
      v: DataFrame, ps: Seq[Long], W: Long, B: Long = 128L,
      probe: Int => Unit = _ => ()): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    def collected(df: DataFrame): Array[org.apache.spark.sql.Row] = {
      val r = df.collect(); probe(r.length); r
    }
    val rng = collected(v.agg(min($"cents").as("lo"), max($"cents").as("hi"),
      count(lit(1)).as("n")))(0)
    val (gLo, gHi, n) = (rng.getLong(0), rng.getLong(1), rng.getLong(2))
    val memo = scala.collection.mutable.Map
      .empty[(Long, Long, Long), Seq[(Long, Long)]]
    // coarse: bucket index relative to lo at width `width`
    def histCoarse(lo: Long, hi: Long, width: Long): Seq[(Long, Long)] =
      memo.getOrElseUpdate((lo, hi, width), collected(
        v.filter($"cents" >= lo && $"cents" <= hi)
          .groupBy(expr(s"(cents - $lo) div $width").as("b"))
          .agg(count(lit(1)).as("c")).orderBy($"b"))
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // final: GLOBALLY aligned W-buckets (the output contract)
    def histAligned(lo: Long, hi: Long): Seq[(Long, Long)] =
      memo.getOrElseUpdate((lo, hi, -W), collected(
        v.filter($"cents" >= lo && $"cents" <= hi)
          .groupBy(expr(s"cents div $W").as("b"))
          .agg(count(lit(1)).as("c")).orderBy($"b"))
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val slices = ps.map { p =>
      val k = (p * n + 99L) / 100L
      var lo = gLo; var hi = gHi
      var below = 0L // rows with cents < lo
      while (hi - lo + 1 > B * W) {
        val cw = (hi - lo + 1 + B - 1) / B
        val h = histCoarse(lo, hi, cw)
        var cum = below; var i = 0
        while (cum + h(i)._2 < k) { cum += h(i)._2; i += 1 }
        below = cum
        val newLo = lo + h(i)._1 * cw
        hi = math.min(hi, newLo + cw - 1)
        lo = math.max(lo, newLo)
      }
      val hf = histAligned(lo, hi)
      var cum = below; var i = 0
      while (cum + hf(i)._2 < k) { cum += hf(i)._2; i += 1 }
      val bucket = hf(i)._1
      // rows of this W-bucket BELOW the narrowed range (the range cut
      // into the bucket's head) — one 1-row count, only when needed
      val headCnt =
        if (bucket == lo / W && lo % W != 0L)
          collected(v.filter($"cents" >= bucket * W && $"cents" < lo)
            .agg(count(lit(1)).as("c")))(0).getLong(0)
        else 0L
      // rows of this W-bucket ABOVE the narrowed range (the range cut
      // into the bucket's tail) — symmetric to headCnt; no offset
      // adjustment needed because these rows rank after the k-th
      val tailCnt =
        if (bucket == hi / W && (hi + 1L) % W != 0L)
          collected(v.filter($"cents" > hi &&
              expr(s"cents div $W") === lit(bucket))
            .agg(count(lit(1)).as("c")))(0).getLong(0)
        else 0L
      val bucketCount = hf(i)._2 + headCnt + tailCnt
      val offset = k - (cum - headCnt)
      globalRank(s,
          v.filter(expr(s"cents div $W") === lit(bucket)), Seq($"cents"))
        .filter($"rk" === offset - 1L)
        .select(lit(p).as("p"), lit(n).as("n"), lit(k).as("k"),
          lit(bucket).as("bucket"),
          lit(bucketCount).as("bucket_count"),
          lit(offset).as("offset_in_bucket"),
          $"cents".as("value_cents"))
    }
    slices.reduce(_ unionByName _).orderBy($"p")
  }

  /** The Mondrian k-anonymizer behind `q_kanon_generalize` (LeFevre,
    * DeWitt & Ramakrishnan, ICDE 2006, "Mondrian Multidimensional
    * k-Anonymity") — the TRANSFORM the audit trio demands: the k/l/t
    * faces DETECT release violations; this operator makes a failing
    * table pass. Recursively median-split the 2-D quasi-identifier
    * domain and generalize each leaf to its ranges.
    *
    * Deterministic contract (so DuckDB re-derives every split):
    * `depth` levels; at level t the split dimension cycles round-robin
    * (even → d0, odd → d1 — the k-d-tree discipline, which needs no
    * cross-dimension width normalization); a node's split value is its
    * LOWER MEDIAN of that dimension (the ⌈n/2⌉-th smallest, exact
    * rank); the node splits into (v ≤ med) / (v > med) iff BOTH
    * children hold ≥ k rows, else it passes through unchanged and may
    * still split at a later level on the other dimension. Leaf ids are
    * the split path read as a binary integer (leaf' = 2·leaf + side),
    * so ids are deterministic in both engines and ride the hash.
    * Inductively every leaf holds ≥ k rows (children are only created
    * above the threshold, an unsplit node keeps its count), which is
    * the self-proving k-anonymity guarantee the output carries.
    *
    * 100 TB shape: per level ONE map-side-combined (leaf, value)
    * histogram, [[globalPrefixSum]] over (leaf, val) — never a
    * single-task `Window.partitionBy(leaf)`: at level 0 the root leaf
    * IS the whole table, and a per-leaf window would funnel the full
    * value domain through one task (the selectKthCents lesson) — with
    * the per-leaf cumulative recovered by subtracting each leaf's
    * start offset (min(psum − c), a ≤-2^depth-row aggregate), then
    * two tiny per-leaf aggregates (median probe, left count) and a
    * BROADCAST plan join back to the rows. The rows frame re-plans
    * through [[Shim.cutCheckpoint]]
    * each level — `depth` chained broadcast joins would otherwise
    * compound plan stats (the iterative-self-join poison).
    *
    * `rows0` must carry (id, d0, d1) with d0/d1 Long quasi-identifier
    * dimensions and ≥ k rows total. Returns one row per input row:
    * (id, leaf, d0_lo, d0_hi, d1_lo, d1_hi, leaf_k, meets_k) — the
    * anonymized relation plus its own audit column. */
  private[operators] def mondrianAnonymize(
      rows0: DataFrame, k: Long, depth: Int): DataFrame = {
    val s = rows0.sparkSession
    import s.implicits._
    val (rows, _) = mondrianCore(rows0, k, depth)
    val stats = rows.groupBy($"leaf")
      .agg(min($"d0").as("d0_lo"), max($"d0").as("d0_hi"),
        min($"d1").as("d1_lo"), max($"d1").as("d1_hi"),
        count(lit(1)).as("leaf_k"))
    rows.join(broadcast(stats), Seq("leaf"))
      .select($"id", $"leaf", $"d0_lo", $"d0_hi", $"d1_lo", $"d1_hi",
        $"leaf_k", ($"leaf_k" >= k).as("meets_k"))
      .orderBy($"id")
  }

  /** The split-tree walk shared by [[mondrianAnonymize]] (build) and
    * [[mondrianApply]] (apply-to-arriving): runs the `depth` levels
    * over `rows0` and returns BOTH the final leaf assignment and the
    * per-level split tables ((leaf, med, do_split) — O(2^t) rows each,
    * `localCheckpoint`-pinned) that ARE the anonymization scheme. The
    * tree is the frozen artifact of the release pipeline: building it
    * is one pass over the governed table; applying it to arriving rows
    * is `depth` broadcast joins and no statistics at all. */
  private[operators] def mondrianCore(rows0: DataFrame, k: Long,
      depth: Int): (DataFrame, Seq[DataFrame]) = {
    val s = rows0.sparkSession
    import s.implicits._
    var rows = Shim.cutCheckpoint(
      rows0.select($"id", $"d0", $"d1", lit(0L).as("leaf")))
    val splits = Seq.newBuilder[DataFrame]
    for (t <- 0 until depth) {
      val dim = if (t % 2 == 0) "d0" else "d1"
      val hist = rows.groupBy($"leaf", col(dim).as("val"))
        .agg(count(lit(1)).as("c"))
      val ps = globalPrefixSum(s, hist, Seq($"leaf", $"val"), "c")
        .pin() // leaf starts + median probe + left count
      // per-leaf start offset and size — O(leaves) rows, broadcast back
      val leafAgg = ps.groupBy($"leaf")
        .agg(min($"psum" - $"c").as("start"), sum($"c").as("n"))
        .withColumn("m", expr("(n + 1) div 2"))
      // lower median: smallest val whose per-leaf cumulative reaches m
      val med = ps.join(broadcast(leafAgg), Seq("leaf"))
        .groupBy($"leaf")
        .agg(min(when($"psum" - $"start" >= $"m", $"val")).as("med"))
      val split = ps.join(broadcast(med), Seq("leaf"))
        .groupBy($"leaf")
        .agg(sum(when($"val" <= $"med", $"c").otherwise(0L)).as("nleft"),
          min($"med").as("med"))
        .join(broadcast(leafAgg.select($"leaf", $"n")), Seq("leaf"))
        .select($"leaf", $"med",
          ($"nleft" >= k && $"n" - $"nleft" >= k).as("do_split"))
        .pin() // the re-leaf join + the apply walk
      splits += split
      rows = Shim.cutCheckpoint(
        rows.join(broadcast(split), Seq("leaf"))
          .select($"id", $"d0", $"d1",
            ($"leaf" * 2L + when($"do_split" && col(dim) > $"med", 1L)
              .otherwise(0L)).as("leaf")))
    }
    (rows, splits.result())
  }

  /** The customer rows the k-anonymity queries generalize: `id` and
    * the quasi-identifiers `d0` (acctbal in cents) and `d1` (nation). */
  private def kanonCustomers(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").cast(LongType).as("id"),
      expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)")
        .as("d0"),
      col("c_nationkey").cast(LongType).as("d1"))

  /** The arriving split (c_custkey % 8 == 0) walked through the frozen
    * k=5, depth-8 scheme of the base split. */
  private def kanonApplied(s: SparkSession, d: String): DataFrame = {
    val cust = kanonCustomers(s, d)
    mondrianApply(cust.filter(col("id") % 8 =!= 0),
      cust.filter(col("id") % 8 === 0), k = 5L, depth = 8)
  }

  /** Apply a FROZEN Mondrian scheme to arriving rows — the serving
    * half of the release pipeline: the tree built on `base` is the
    * published anonymization scheme, and new rows must generalize
    * through the SAME splits (re-running the anonymizer on base+new
    * would move medians and re-identify previously released rows by
    * diffing the two generalizations). Each arriving row walks the
    * split tables — `depth` broadcast joins, no statistics — and emits
    * its base leaf's ranges and size plus `in_box`: whether its exact
    * values fall inside the frozen generalization box. A false
    * `in_box` is the DRIFT SIGNAL (the retrainSignal idiom): the
    * arriving distribution has left the box the scheme promised, and
    * enough of them means rebuild-and-re-release. */
  private[operators] def mondrianApply(base: DataFrame,
      arriving: DataFrame, k: Long, depth: Int): DataFrame = {
    val (splits, stats) = mondrianScheme(base, k, depth)
    mondrianApplyWalk(splits, stats, arriving)
  }

  /** Build the PUBLISHABLE scheme from `base`: the per-level split
    * tables plus the leaf-box stats — everything
    * [[mondrianApplyWalk]] needs, all O(2^depth)-row pinned frames. A
    * serving tier (the streaming face) resolves this ONCE and closes
    * over it; re-deriving it per batch would re-run the whole
    * build. */
  private[graft] def mondrianScheme(base: DataFrame, k: Long,
      depth: Int): (Seq[DataFrame], DataFrame) = {
    val s = base.sparkSession
    import s.implicits._
    val (baseRows, splits) = mondrianCore(base, k, depth)
    val stats = baseRows.groupBy($"leaf")
      .agg(min($"d0").as("d0_lo"), max($"d0").as("d0_hi"),
        min($"d1").as("d1_lo"), max($"d1").as("d1_hi"),
        count(lit(1)).as("base_k"))
      .pin() // one reader per applied batch
    (splits, stats)
  }

  /** Walk `arriving` rows through a frozen scheme — `depth` broadcast
    * joins plus the box attach, no statistics (see [[mondrianApply]]'s
    * scaladoc for why the splits must be the PUBLISHED ones). */
  private[graft] def mondrianApplyWalk(splits: Seq[DataFrame],
      stats: DataFrame, arriving: DataFrame): DataFrame = {
    val s = arriving.sparkSession
    import s.implicits._
    var r = arriving.select($"id", $"d0", $"d1", lit(0L).as("leaf"))
    for ((split, t) <- splits.zipWithIndex) {
      val dim = if (t % 2 == 0) "d0" else "d1"
      r = r.join(broadcast(split), Seq("leaf"))
        .select($"id", $"d0", $"d1",
          ($"leaf" * 2L + when($"do_split" && col(dim) > $"med", 1L)
            .otherwise(0L)).as("leaf"))
    }
    // deliberately NO cutCheckpoint inside this loop, unlike
    // [[mondrianCore]]: the build cuts per level because each level
    // RE-MATERIALIZES the frame (histogram jobs + the re-leaf join
    // read it repeatedly — the iterative stats poison), while the walk
    // is a single lazy chain of `depth` broadcast joins against
    // ≤2^t-row tables, materialized once by the caller. Pinning
    // eager checkpoints here would also LEAK on the streaming path:
    // the walk runs per micro-batch and the blocks have no owner to
    // unpersist them (the appendStream try/finally lesson).
    r.join(broadcast(stats), Seq("leaf"))
      .select($"id", $"leaf", $"d0_lo", $"d0_hi", $"d1_lo", $"d1_hi",
        $"base_k",
        ($"d0" >= $"d0_lo" && $"d0" <= $"d0_hi" &&
          $"d1" >= $"d1_lo" && $"d1" <= $"d1_hi").as("in_box"))
      .orderBy($"id")
  }

  /** DuckDB replay of [[mondrianAnonymize]] over the customer
    * quasi-identifiers — the recursion UNROLLED to `depth` CTE levels
    * (generated by the same loop bounds as the Spark side, so the two
    * engines share only the split rule, not code): each level rebuilds
    * the per-leaf value histogram, takes the lower median by
    * cumulative rank, and re-leafs through the identical
    * 2·leaf + side arithmetic under the identical both-children-≥-k
    * guard. The oracle may use per-leaf windows freely — it runs at
    * sf0.01; the scale discipline lives on the Spark side. The level
    * CTEs are MATERIALIZED: DuckDB re-expands a plain CTE per
    * reference, so an unrolled recursion whose every level reads its
    * predecessor 2-3 times would otherwise expand EXPONENTIALLY
    * (depth 8 exhausted the process file-descriptor limit re-opening
    * the parquet before any row was produced). */
  /** The per-level build CTEs (histogram → lower median → split rule →
    * re-leaf) plus the leaf-stats CTE, over `where`-filtered customer
    * rows — shared by the generalize oracle (src = whole table) and
    * the apply oracle (src = the base split). `sp$t` is MATERIALIZED
    * like the level relations: the apply oracle reads each split
    * table a second time. */
  private def mondrianLevelCtes(k: Long, depth: Int,
      where: String): String = {
    def dim(t: Int) = if (t % 2 == 0) "d0" else "d1"
    val levels = (0 until depth).map { t =>
      s"""        h$t AS MATERIALIZED (
          SELECT leaf, ${dim(t)} AS val, CAST(COUNT(*) AS BIGINT) AS c
          FROM r$t GROUP BY 1, 2),
        lf$t AS (
          SELECT leaf, CAST(SUM(c) AS BIGINT) AS n,
                 (CAST(SUM(c) AS BIGINT) + 1) // 2 AS m
          FROM h$t GROUP BY 1),
        cw$t AS (
          SELECT leaf, val, c,
                 CAST(SUM(c) OVER (PARTITION BY leaf ORDER BY val
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cw
          FROM h$t),
        md$t AS (
          SELECT c.leaf, MIN(CASE WHEN c.cw >= l.m THEN c.val END) AS med
          FROM cw$t c JOIN lf$t l ON l.leaf = c.leaf GROUP BY c.leaf),
        sp$t AS MATERIALIZED (
          SELECT h.leaf, m.med, l.n,
                 CAST(SUM(CASE WHEN h.val <= m.med THEN h.c ELSE 0 END)
                   AS BIGINT) AS nleft
          FROM h$t h JOIN md$t m ON m.leaf = h.leaf
          JOIN lf$t l ON l.leaf = h.leaf
          GROUP BY h.leaf, m.med, l.n),
        r${t + 1} AS MATERIALIZED (
          SELECT r.id, r.d0, r.d1,
                 2 * r.leaf + CASE WHEN s.nleft >= $k
                   AND s.n - s.nleft >= $k AND r.${dim(t)} > s.med
                   THEN 1 ELSE 0 END AS leaf
          FROM r$t r JOIN sp$t s ON s.leaf = r.leaf)"""
    }.mkString(",\n")
    s"""r0 AS MATERIALIZED (
          SELECT CAST(c_custkey AS BIGINT) AS id,
                 CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS d0,
                 CAST(c_nationkey AS BIGINT) AS d1,
                 CAST(0 AS BIGINT) AS leaf
          FROM customer$where),
$levels"""
  }

  private def mondrianOracleSql(k: Long, depth: Int): String = s"""
        WITH ${mondrianLevelCtes(k, depth, "")},
        stats AS (
          SELECT leaf, CAST(MIN(d0) AS BIGINT) AS d0_lo,
                 CAST(MAX(d0) AS BIGINT) AS d0_hi,
                 CAST(MIN(d1) AS BIGINT) AS d1_lo,
                 CAST(MAX(d1) AS BIGINT) AS d1_hi,
                 CAST(COUNT(*) AS BIGINT) AS leaf_k
          FROM r$depth GROUP BY leaf)
        SELECT r.id, CAST(r.leaf AS BIGINT) AS leaf, s.d0_lo, s.d0_hi,
               s.d1_lo, s.d1_hi, s.leaf_k, (s.leaf_k >= $k) AS meets_k
        FROM r$depth r JOIN stats s ON s.leaf = r.leaf
        ORDER BY r.id"""

  /** The shared CTE chain of the apply-family oracles: build the tree
    * on the BASE split, walk the arriving rows through the SAME frozen
    * split tables level by level, and end in `applied` — one row per
    * arriving row with its leaf, the base leaf's box, base_k, and the
    * in_box drift flag. [[mondrianApplyOracleSql]] selects it
    * directly; the drift-census oracle aggregates it. */
  private def mondrianApplyChain(k: Long, depth: Int): String = {
    def dim(t: Int) = if (t % 2 == 0) "d0" else "d1"
    val walk = (0 until depth).map { t =>
      s"""        a${t + 1} AS (
          SELECT a.id, a.d0, a.d1,
                 2 * a.leaf + CASE WHEN s.nleft >= $k
                   AND s.n - s.nleft >= $k AND a.${dim(t)} > s.med
                   THEN 1 ELSE 0 END AS leaf
          FROM a$t a JOIN sp$t s ON s.leaf = a.leaf)"""
    }.mkString(",\n")
    s"""${mondrianLevelCtes(k, depth, " WHERE c_custkey % 8 <> 0")},
        stats AS (
          SELECT leaf, CAST(MIN(d0) AS BIGINT) AS d0_lo,
                 CAST(MAX(d0) AS BIGINT) AS d0_hi,
                 CAST(MIN(d1) AS BIGINT) AS d1_lo,
                 CAST(MAX(d1) AS BIGINT) AS d1_hi,
                 CAST(COUNT(*) AS BIGINT) AS base_k
          FROM r$depth GROUP BY leaf),
        a0 AS (
          SELECT CAST(c_custkey AS BIGINT) AS id,
                 CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS d0,
                 CAST(c_nationkey AS BIGINT) AS d1,
                 CAST(0 AS BIGINT) AS leaf
          FROM customer WHERE c_custkey % 8 = 0),
$walk,
        applied AS (
          SELECT a.id, CAST(a.leaf AS BIGINT) AS leaf, s.d0_lo, s.d0_hi,
                 s.d1_lo, s.d1_hi, s.base_k,
                 (a.d0 >= s.d0_lo AND a.d0 <= s.d0_hi AND
                  a.d1 >= s.d1_lo AND a.d1 <= s.d1_hi) AS in_box
          FROM a$depth a JOIN stats s ON s.leaf = a.leaf)"""
  }

  /** DuckDB replay of [[mondrianApply]] — see [[mondrianApplyChain]]. */
  private def mondrianApplyOracleSql(k: Long, depth: Int): String = s"""
        WITH ${mondrianApplyChain(k, depth)}
        SELECT id, leaf, d0_lo, d0_hi, d1_lo, d1_hi, base_k, in_box
        FROM applied
        ORDER BY id"""

  /** The k-core peel behind `q_kcore_peel`, over any undirected
    * DISTINCT edge list (u, v) — exposed for RelationalSpec's planted
    * chain-into-clique cascade. Each round drops every node whose
    * degree among STILL-ALIVE nodes is < k; emits one row per node
    * (node, deg0, dropped_round), dropped_round 0 for nodes alive at
    * the end. `rounds` is a MAX-rounds guard, not a fixed unroll: an
    * empty drop set means the fixpoint is reached (every later round
    * would drop nothing), so the loop exits early — one O(1)
    * driver-side emptiness probe per round on the already-
    * checkpointed drop frame, and a cascade that settles in 2 rounds
    * pays for 2+1, never `rounds`. Results are identical either way
    * (post-fixpoint rounds are no-ops), which is why the fixed-unroll
    * oracle still hash-matches. `probe` observes each executed round
    * number (the spec's early-exit gate). */
  private[operators] def kCorePeel(
      e0: DataFrame, k: Int, rounds: Int,
      probe: Int => Unit = _ => ()): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val sym = e0.select($"u", $"v")
      .unionByName(e0.select($"v".as("u"), $"u".as("v")))
      .pin() // one degree count per round reads this
    val deg0 = sym.groupBy($"u")
      .agg(count(lit(1)).as("deg0"))
      .select($"u".as("node"), $"deg0")
      .pin() // round-0 alive set + the output join
    var alive = deg0.select($"node")
    var dropped = Seq.empty[(Long, Long)].toDF("node", "dropped_round")
    var converged = false
    for (r <- 1 to rounds if !converged) {
      val survivors = sym
        .join(alive.select($"node".as("u")), Seq("u"))
        .join(alive.select($"node".as("v")), Seq("v"))
        .groupBy($"u").agg(count(lit(1)).as("dg"))
        .filter($"dg" >= k)
        .select($"u".as("node"))
      val drop = alive.join(survivors, Seq("node"), "left_anti")
        .select($"node", lit(r.toLong).as("dropped_round"))
        .pin() // the union AND next round's anti-join
      probe(r)
      if (drop.isEmpty) converged = true
      else {
        dropped = dropped.unionByName(drop)
        alive = alive.join(drop.select($"node"), Seq("node"), "left_anti")
          .pin()
      }
    }
    deg0.join(dropped, Seq("node"), "left")
      .select($"node", $"deg0",
        coalesce($"dropped_round", lit(0L)).as("dropped_round"))
      .orderBy($"node")
  }

  /** Densest-subgraph peel (Charikar 2000 greedy, parallelized as
    * Bahmani–Kumar–Vassilvitskii VLDB'12): each round removes EVERY
    * node whose degree is ≤ the CURRENT average degree (the ε = 0
    * peel, compared as exact integers deg·V ≤ 2·E; any ε > 0
    * guarantees O(log n) rounds at a 2(1+ε) approximation factor,
    * and ε = 0 keeps the factor at 2 while still peeling a constant
    * fraction per round in practice — `rounds` bounds the work
    * either way). The density-maximizing ROUND approximates the
    * densest subgraph. Per round: one degree count over alive
    * edges (map-side combined) + two semi-joins; the only
    * driver-side values are the two per-round scalars (V, E) the
    * drop rule and the verdict need — O(rounds) rows. Output: one
    * row per round with exact counts, the IEEE density ratio, and
    * is_best decided by EXACT rational cross-comparison
    * (e_i·n_j > e_j·n_i), never by comparing the doubles. */
  private[operators] def densestPeel(
      e0: DataFrame, rounds: Int,
      probe: (Long, Long) => Unit = (_, _) => ()): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    var edges = e0.select($"u", $"v").pin()
    var nodes = edges.select($"u".as("node"))
      .unionByName(edges.select($"v".as("node")))
      .distinct().pin()
    val stats = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    for (r <- 0 to rounds) {
      val nV = nodes.count()
      val nE = edges.count()
      probe(nV, nE)
      stats += ((r.toLong, nV, nE))
      if (r < rounds && nV > 0) {
        val sym = edges.unionByName(
          edges.select($"v".as("u"), $"u".as("v")))
        val keep = sym.groupBy($"u").agg(count(lit(1)).as("deg"))
          .filter($"deg" * lit(nV) > lit(2L) * lit(nE))
          .select($"u".as("node"))
          .pin()
        edges = edges
          .join(keep.select($"node".as("u")), Seq("u"), "left_semi")
          .join(keep.select($"node".as("v")), Seq("v"), "left_semi")
          .select($"u", $"v")
          .pin()
        nodes = keep
      }
    }
    // exact-rational argmax: density_i ≥ density_j ⟺ e_i·n_j ≥ e_j·n_i
    // (n = 0 rows act as density 0 since their e is 0 too)
    val best = stats.minBy { case (r, n, e) =>
      (stats.count { case (r2, n2, e2) =>
        e2 * n > e * n2 || (e2 * n == e * n2 && r2 < r) }, r)
    }._1
    stats.toSeq.toDF("round", "n_nodes", "n_edges")
      .select($"round", $"n_nodes", $"n_edges",
        when($"n_nodes" === 0L, lit(0.0))
          .otherwise($"n_edges".cast(DoubleType) /
            $"n_nodes".cast(DoubleType)).as("density"),
        ($"round" === best).as("is_best"))
      .orderBy($"round")
  }

  /** Every triangle of an undirected distinct edge list (u < v) once,
    * as (a, b, c): wedges are oriented from each edge's lower-(degree,
    * id) end, so a triangle is found once at its lowest vertex and
    * per-vertex fan-out is C(outdeg, 2) with outdeg O(√m), never
    * quadratic at hubs; one equality join closes each wedge. */
  private def orientedTriangles(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val deg = edges.select($"u".as("n")).unionByName(
        edges.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("dg"))
    val oe = edges
      .join(deg.select($"n".as("u"), $"dg".as("du")), Seq("u"))
      .join(deg.select($"n".as("v"), $"dg".as("dv")), Seq("v"))
      .select(
        when(struct($"du", $"u") < struct($"dv", $"v"), $"u")
          .otherwise($"v").as("s"),
        when(struct($"du", $"u") < struct($"dv", $"v"),
          struct($"dv".as("td"), $"v".as("tn")))
          .otherwise(struct($"du".as("td"), $"u".as("tn"))).as("t"))
      .pin() // wedge (twice) + closing edge
    oe.as("w1").join(oe.as("w2"),
        $"w1.s" === $"w2.s" && $"w1.t" < $"w2.t")
      .join(oe.as("e3"),
        $"e3.s" === $"w1.t.tn" && $"e3.t" === $"w2.t")
      .select($"w1.s".as("a"), $"w1.t.tn".as("b"), $"w2.t.tn".as("c"))
  }

  /** k-truss edge peeling (Cohen 2008; Wang–Cheng VLDB'12) behind
    * `q_ktruss`, over any undirected DISTINCT edge list with u < v —
    * the EDGE-grade sibling of [[kCorePeel]]: where k-core keeps
    * nodes with enough neighbors, k-truss keeps edges embedded in
    * enough TRIANGLES (support ≥ k−2), so a hub that merely fans out
    * is peeled while a cohesive clique survives — the standard
    * community-core definition one notch stronger than degree.
    * Each round recounts support over the still-alive edges with the
    * q_triangle_count machinery — degree-oriented wedges, so every
    * triangle is found once at its lowest-(degree, id) vertex and
    * per-vertex fan-out is C(outdeg, 2) with outdeg O(√m), never
    * quadratic at hubs — then credits each triangle's three edges
    * (one explode, 3 rows per triangle) and drops every edge below
    * threshold: removal of one edge can take its triangles' OTHER
    * edges below threshold next round, the cascade that makes this a
    * fixpoint rather than a filter. `rounds` is a max-rounds guard
    * with the [[kCorePeel]] early exit (an empty drop set ends the
    * loop; post-fixpoint rounds are no-ops, so the fixed-unroll
    * oracle still hash-matches). Emits one row per INPUT edge:
    * (u, v, supp0, dropped_round), dropped_round 0 for edges alive
    * at the end. O(E^1.5) work per round, checkpoint barrier per
    * round, no window, no driver rows beyond the emptiness probe. */
  private[operators] def kTrussPeel(
      e0: DataFrame, k: Int, rounds: Int,
      probe: Int => Unit = _ => ()): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    require(k >= 3, s"kTrussPeel: k = $k below the smallest truss grade")
    require(rounds >= 1, "kTrussPeel: need at least one peel round")
    val base = e0.select($"u", $"v").pin()
    // support of every alive edge = triangles it closes, counted by
    // the oriented wedge join (each triangle once, then 3 credits)
    def support(alive: DataFrame): DataFrame = {
      val tri = orientedTriangles(alive)
      tri.select(explode(array(
          struct(least($"a", $"b").as("u"), greatest($"a", $"b").as("v")),
          struct(least($"a", $"c").as("u"), greatest($"a", $"c").as("v")),
          struct(least($"b", $"c").as("u"), greatest($"b", $"c").as("v"))))
          .as("e"))
        .select($"e.u".as("u"), $"e.v".as("v"))
        .groupBy($"u", $"v").agg(count(lit(1)).as("supp"))
    }
    var alive = base
    var dropped = Seq.empty[(Long, Long, Long)]
      .toDF("u", "v", "dropped_round")
    var supp0: DataFrame = null
    var converged = false
    for (r <- 1 to rounds if !converged) {
      val sp = alive.join(support(alive), Seq("u", "v"), "left")
        .select($"u", $"v", coalesce($"supp", lit(0L)).as("supp"))
        .pin() // the drop filter AND the survivor set
      if (r == 1) supp0 = sp
      val drop = sp.filter($"supp" < (k - 2).toLong)
      probe(r)
      if (drop.isEmpty) converged = true
      else {
        dropped = dropped.unionByName(
          drop.select($"u", $"v", lit(r.toLong).as("dropped_round")))
        alive = sp.filter($"supp" >= (k - 2).toLong).select($"u", $"v")
          .pin()
      }
    }
    supp0.select($"u", $"v", $"supp".as("supp0"))
      .join(dropped, Seq("u", "v"), "left")
      .select($"u", $"v", $"supp0",
        coalesce($"dropped_round", lit(0L)).as("dropped_round"))
      .orderBy($"u", $"v")
  }

  /** Synchronous label propagation (Raghavan–Albert–Kumara 2007)
    * behind `q_label_prop`, over any undirected DISTINCT edge list
    * (u, v) — exposed for RelationalSpec's planted two-community
    * gate. Labels start as each node's own id; every round EVERY
    * node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the smallest label (the deterministic
    * stand-in for the paper's random tie-break: both engines apply
    * the identical (−count, label) order, so rounds replay exactly).
    * Unlike the components' min-label spread (`dedup_cc_star`), the
    * MODE update respects community boundaries — a dense cluster's
    * majority label out-votes a sparse bridge's intrusion, so two
    * triangles joined by one edge keep separate labels where
    * components would merge them. Fixed `rounds` unroll: synchronous
    * LPA has no monotone fixpoint (bipartite structures can
    * oscillate), so a bounded round count IS the operator's
    * contract, same as TextRank's fixed power rounds. Each round is
    * ONE equality join of the symmetric edge list against the label
    * table (shuffle on the node key) + TWO map-side-combined
    * aggregates ((node, label) vote counts, then the per-node
    * arg-max as a struct-min over (−count, label) — no window), with
    * a checkpoint barrier per round: the Pregel superstep cost,
    * O(E) per round at any scale. */
  private[operators] def labelPropagate(
      e0: DataFrame, rounds: Int): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val sym = e0.select($"u", $"v")
      .unionByName(e0.select($"v".as("u"), $"u".as("v")))
      .pin() // one vote join per round reads this
    var lbl = sym.select($"u".as("node")).distinct()
      .select($"node", $"node".as("label"))
      .pin()
    for (_ <- 1 to rounds) {
      lbl = sym.join(lbl, $"v" === $"node")
        .groupBy($"u", $"label").agg(count(lit(1)).as("c"))
        .groupBy($"u")
        .agg(min(struct((-$"c").as("nc"), $"label".as("lb"))).as("top"))
        .select($"u".as("node"), $"top".getField("lb").as("label"))
        .pin() // barrier: round r never replays r-1
    }
    lbl.orderBy($"node")
  }

  /** HITS hubs/authorities (Kleinberg, JACM 1999) behind `q_hits`,
    * over any directed DISTINCT edge list (u, v) — exposed for
    * RelationalSpec's planted hub-and-spoke gate. `iters` full
    * (authority, hub) update pairs in fixed-point integer
    * arithmetic: after every half-update the scores are rescaled to
    * parts-per-million of that round's maximum (sc = raw·10⁶ div
    * max(raw), the product in DECIMAL(38) so it cannot overflow at
    * any degree; DuckDB mirrors in HUGEINT). That is the integer
    * face of the paper's per-round normalization — it pins the
    * scale drift that would otherwise overflow 64 bits at ~10¹¹
    * edges while keeping every value exact (floor division of
    * non-negative integers, identical in both engines; doubles
    * would drift across summation orders). Nodes with no in-edges
    * hold authority 0, no out-edges hub 0 — kept in the output
    * rather than dropped. Each half-update is ONE equality join of
    * the edge list against the current score table (shuffle on the
    * node key) + ONE map-side-combined groupBy-sum + a broadcast of
    * the 1-row max: O(E) per round, no window, no driver
    * materialization. */
  private[operators] def hitsScores(e0: DataFrame, iters: Int): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val e = e0.select($"u", $"v").pin()
    val nodes = e.select($"u".as("node"))
      .unionByName(e.select($"v".as("node")))
      .distinct()
      .pin() // both half-updates + the output join
    def rescale(raws: DataFrame): DataFrame = {
      val mx = raws.agg(max($"raw").as("mx"))
      raws.crossJoin(broadcast(mx))
        .select($"node",
          expr("cast(cast(raw as decimal(38,0)) * 1000000 div mx as bigint)")
            .as("sc"))
    }
    var hub = nodes.select($"node", lit(1000000L).as("sc"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = e.join(hub.select($"node".as("u"), $"sc"), Seq("u"))
        .groupBy($"v").agg(sum($"sc").as("raw"))
      auth = rescale(nodes
          .join(aRaw.select($"v".as("node"), $"raw"), Seq("node"), "left")
          .select($"node", coalesce($"raw", lit(0L)).as("raw")))
        .pin() // read by the hub half-update + output
      val hRaw = e.join(auth.select($"node".as("v"), $"sc"), Seq("v"))
        .groupBy($"u").agg(sum($"sc").as("raw"))
      hub = rescale(nodes
          .join(hRaw.select($"u".as("node"), $"raw"), Seq("node"), "left")
          .select($"node", coalesce($"raw", lit(0L)).as("raw")))
        .pin()
    }
    nodes.join(auth.select($"node", $"sc".as("auth")), Seq("node"))
      .join(hub.select($"node", $"sc".as("hub")), Seq("node"))
      .orderBy($"node")
  }

  /** Newman modularity of a node partition, EXACT — behind
    * `q_modularity`, exposed for RelationalSpec's planted gate.
    * `labels` is (node, label) covering every endpoint of the
    * DISTINCT undirected edge list `e0` (u, v). Q = Σ_c [e_c/m −
    * (d_c/2m)²] is emitted in integer-rational form: one row per
    * community with its numerator contribution q_num = 4·m·e_c −
    * d_c² over the COMMON denominator 4m² (m the edge count, e_c
    * intra-community edges, d_c the community degree sum) — no
    * doubles cross the engines, and Q itself is Σ q_num / 4m².
    * 64-bit note: q_num stays exact while 4·m·e_c < 2⁶³ (m ≲ 1.5e9
    * edges); past that the same two aggregates run in DECIMAL(38),
    * the HITS treatment. Plan: ONE degree count over the symmetric
    * edges, ONE labels⋈degrees groupBy for (n_nodes, d_c), ONE
    * double label join of e0 filtered to intra edges + groupBy for
    * e_c, a broadcast 1-row m — all equality joins on node/label
    * keys, no window, no driver materialization. */
  private[operators] def modularityByLabel(
      e0: DataFrame, labels: DataFrame): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val e = e0.select($"u", $"v").pin()
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select($"u".as("node"))
      .unionByName(e.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("dg"))
    val comm = labels.join(deg, Seq("node"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"dg").as("deg_sum"))
    val intra = e
      .join(labels.select($"node".as("u"), $"label".as("lu")), Seq("u"))
      .join(labels.select($"node".as("v"), $"label".as("lv")), Seq("v"))
      .filter($"lu" === $"lv")
      .groupBy($"lu".as("label")).agg(count(lit(1)).as("intra_edges"))
    comm.join(intra, Seq("label"), "left")
      .select($"label", $"n_nodes",
        coalesce($"intra_edges", lit(0L)).as("intra_edges"), $"deg_sum")
      .crossJoin(broadcast(m))
      .select($"label", $"n_nodes", $"intra_edges", $"deg_sum", $"m",
        (lit(4L) * $"m" * $"intra_edges" - $"deg_sum" * $"deg_sum")
          .as("q_num"))
      .orderBy($"label")
  }

  private[operators] def globalNtile(
      s: SparkSession, df: DataFrame, k: Long, sortCols: Seq[Column]): DataFrame = {
    import s.implicits._
    require(!df.columns.contains("tile"),
      "globalNtile: input already has a 'tile' column — rename it first")
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    // per-partition row counts ride the pin's own materialization job
    // (r17, guide §1.2) — the old shape paid a whole extra groupBy job
    // re-reading the frame the pin had just frozen
    val (sorted, stats) = Shim
      .pinWithPartitionStats(df
        .repartitionByRange(parts, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .withColumn("__gn_pid", spark_partition_id())
        .withColumn("__gn_ridx",
          monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))),
        Seq.empty)
    val counts: Array[(Int, Long)] = stats.zipWithIndex.collect {
      case ((n, _), pid) if n > 0L => (pid, n) }
    // the 33-bit record index wraps silently past 2^33 rows in ONE
    // partition; the per-partition counts are already on the driver,
    // so fail loudly instead of returning wrong ranks (size `parts`
    // so this never trips: it caps partitions at ~8.6B rows)
    require(counts.forall(_._2 < (1L << 33)),
      s"globalNtile: a range partition exceeds 2^33 rows and would wrap " +
        s"the record index — raise the partition count above $parts")
    val total = counts.map(_._2).sum
    val q = total / k
    val r = total % k
    val cut = (q + 1) * r
    addOffsets(sorted, "__gn_pid", stats.length,
        Seq(("__gn_rank0", "__gn_ridx", pidOffsets(stats.length, counts))))
      .withColumn("tile",
        when($"__gn_rank0" < cut, expr(s"__gn_rank0 div ${q + 1}") + 1L)
          // max(q,1) only guards ANSI div-by-zero when total < k
          // (branch is unreachable then: every rank0 < cut)
          .otherwise(expr(s"(__gn_rank0 - $cut) div ${math.max(q, 1L)}") + r + 1L))
      .drop("__gn_pid", "__gn_ridx", "__gn_rank0")
  }

  /** PER-GROUP distributed ntile with zero post-sort shuffles — the
    * grouped sibling of [[globalNtile]]. A window
    * `ntile() OVER (PARTITION BY grp ORDER BY ...)` funnels each
    * group through ONE task, so a handful of large groups (languages,
    * tenants) serializes the whole job; here the data is range-
    * partitioned on (grp, sortCols) — a group spans as many partitions
    * as its size demands — and ranks are reconstructed from
    * per-(partition, group) extents: `cnt` and the first record index
    * `fst` of each group slice, collected once, turned into running
    * in-group offsets on the driver, and broadcast back so the tile is
    * a pure projection. Driver materialization is O(partitions +
    * distinct groups) — the slice list, NOT the data; the loud cap
    * below keeps that contract honest. `grp` must name a string
    * column; `sortCols` must total-order rows WITHIN a group (unique
    * tiebreak) or ties land in either tile. Per-group tile widths
    * follow the SQL NTILE contract (first `total mod k` tiles get the
    * extra row). */
  private[operators] def groupNtile(
      s: SparkSession, df: DataFrame, k: Long, grp: String,
      sortCols: Seq[Column]): DataFrame = {
    import s.implicits._
    require(!df.columns.contains("tile"),
      "groupNtile: input already has a 'tile' column — rename it first")
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    val keys = col(grp) +: sortCols
    val sorted = df
      .repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__gq_pid", spark_partition_id())
      .withColumn("__gq_ridx",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .pin()
    val ext = sorted.groupBy($"__gq_pid", col(grp).as("__gq_grp"))
      .agg(count(lit(1)).as("cnt"), min($"__gq_ridx").as("fst"))
      .orderBy($"__gq_pid", $"__gq_grp").collect()
    require(ext.forall(_.getLong(2) < (1L << 33)),
      s"groupNtile: a range partition exceeds 2^33 rows and would wrap " +
        s"the record index — raise the partition count above $parts")
    require(ext.length <= (1 << 20),
      "groupNtile: over 1M (partition, group) slices — the driver-side " +
        "extent list assumes O(partitions + groups) stays small; this " +
        "grouping is too fine for the ntile mechanism")
    // per-group totals, then per-slice running offsets in (pid) order
    val totals = ext.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val offsets = scala.collection.mutable.Map.empty[String, Long]
    val sliceRows = ext.map { r =>
      val (pid, g, cnt, fst) =
        (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))
      val off = offsets.getOrElse(g, 0L)
      offsets(g) = off + cnt
      val total = totals(g)
      val q = total / k
      val rem = total % k
      (pid, g, fst, off, q, rem, (q + 1) * rem)
    }.toSeq
    val sliceDf = sliceRows.toDF(
      "__gq_pid", "__gq_grp", "__gq_fst", "__gq_off",
      "__gq_q", "__gq_r", "__gq_cut")
    sorted
      .join(broadcast(sliceDf),
        sorted("__gq_pid") === sliceDf("__gq_pid") &&
          col(grp) === sliceDf("__gq_grp"))
      .drop(sliceDf("__gq_pid"))
      .withColumn("__gq_rank0", $"__gq_ridx" - $"__gq_fst" + $"__gq_off")
      .withColumn("tile",
        when($"__gq_rank0" < $"__gq_cut",
          expr("__gq_rank0 div (__gq_q + 1)") + 1L)
          .otherwise(
            expr("(__gq_rank0 - __gq_cut) div greatest(__gq_q, 1)")
              + $"__gq_r" + 1L))
      .drop("__gq_pid", "__gq_ridx", "__gq_grp", "__gq_fst", "__gq_off",
        "__gq_q", "__gq_r", "__gq_cut", "__gq_rank0")
  }

  /** Tug-of-war ±1 sign for repetition `r`, read as BIT r of ONE md5
    * of the key (a 128-bit digest supplies 64 independent signs — one
    * hash per row instead of 64; measured rel-err 0.10-0.14, and the
    * per-rep-hash variant cost 16 s at sf0.1 vs ~1 s for this).
    * `div` is the integer-division spelling ("div" Spark, "//"
    * DuckDB); everything else — substring, ascii, CASE, % — is
    * identical text in both engines. Expects a column `h` holding the
    * md5 hex. */
  /** First 6 hex chars of a digest as one integer (< 2^24) — the
    * deterministic-sampling face of the amsSignSql nibble parse;
    * identical text in both engines. `src` is any expression yielding
    * an md5 hex string. */
  private def nibOf(src: String, pos: Int): String =
    s"""(CASE WHEN ascii(substring($src, $pos, 1)) >= 97
        THEN ascii(substring($src, $pos, 1)) - 87
        ELSE ascii(substring($src, $pos, 1)) - 48 END)"""
  private def hex6SqlOn(src: String): String =
    (1 to 6).map(p => nibOf(src, p)).reduceLeft((a, b) => s"($a * 16 + $b)")
  /** Spark-side spelling of `hex6SqlOn("h")` (r17, the conv-chunk move):
    * the fold is BIG-endian (position 1 most significant), so ONE conv
    * of the 6-char prefix replaces six substring/ascii CASE trees —
    * value-identical, < 2^24; the DuckDB oracles keep [[hex6SqlOn]]. */
  private def hex6Conv: String =
    "cast(conv(substring(h, 1, 6), 16, 10) as bigint)"

  /** The deterministic 3-step walks behind `q_random_walks` and
    * `q_walk_skipgrams`: one row per (start, node, step) over the
    * support-≥2 co-purchase graph; neighbor choice at step t is
    * md5(cur:start:t) mod degree against a rank-indexed adjacency
    * (see the q_random_walks scaladoc). Also returns the adjacency's
    * node census for downstream sampling. */
  private def randomWalks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = supportEdges(s, d)
    val sym = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"u").orderBy($"v")
    val nbr = sym
      .withColumn("rank", row_number().over(w).cast(LongType) - 1L)
      .withColumn("deg", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy($"u")))
      .pin() // three hop joins read it
    def hop(frontier: DataFrame, t: Int): DataFrame =
      frontier
        .withColumn("h",
          md5(concat($"cur".cast(StringType), lit(":"),
            $"start".cast(StringType), lit(s":$t"))))
        .withColumn("pick", expr(hex6Conv))
        .join(nbr, $"cur" === $"u")
        .filter($"rank" === $"pick" % $"deg")
        .select($"start", $"v".as("cur"))
    var frontier = nbr.select($"u".as("start")).distinct()
      .select($"start", $"start".as("cur"))
    var out = frontier.select($"start", $"cur".as("node"),
      lit(0L).as("step"))
    for (t <- 1 to 3) {
      frontier = hop(frontier, t).pin()
      out = out.unionByName(frontier.select($"start",
        $"cur".as("node"), lit(t.toLong).as("step")))
    }
    out
  }

  /** Distinct co-purchase edges (u < v): every pair of parts sharing an
    * order, the graph behind the traversal and clustering queries. */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey")
    li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .distinct()
  }

  /** [[copurchaseEdges]] in both directions; unpinned. */
  private def copurchaseSym(s: SparkSession, d: String): DataFrame = {
    val edges = copurchaseEdges(s, d)
    edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
  }

  /** Co-purchase pairs (u < v) with `supp`, the number of orders
    * holding both parts. */
  private def copurchaseSupport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey").distinct()
    li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .agg(count(lit(1)).as("supp"))
  }

  /** The support-≥2 co-purchase graph (u < v). */
  private def supportEdges(s: SparkSession, d: String): DataFrame =
    copurchaseSupport(s, d).filter(col("supp") >= 2).select(col("u"), col("v"))

  /** Multi-source BFS behind `q_closeness` and `q_apsp_landmarks`: the
    * 4 smallest vertices of the co-purchase graph ride ONE
    * (src, node)-keyed frontier for 3 rounds, one checkpoint barrier
    * per round; rows (src, node, d). */
  private def landmarkLevels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sym = copurchaseSym(s, d).pin() // one join per round reads this
    val srcs = sym.select($"u").distinct()
      .orderBy($"u").limit(4).select($"u".as("src"))
    var lvl = srcs
      .select($"src", $"src".as("node"), lit(0L).as("d"))
      .pin()
    for (r <- 1 to 3) {
      val frontier = lvl.filter($"d" === (r - 1L))
        .join(sym, $"node" === $"u")
        .select($"src", $"v".as("node")).distinct()
      val fresh = frontier.join(lvl, Seq("src", "node"), "left_anti")
        .select($"src", $"node", lit(r.toLong).as("d"))
      lvl = lvl.unionByName(fresh).pin()
    }
    lvl
  }

  /** [[landmarkLevels]] as oracle CTEs ending in `l3` (src, node, d). */
  private lazy val landmarkBfsCtes: String = """li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        sym AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        srcs AS MATERIALIZED (
          SELECT u AS src FROM (SELECT DISTINCT u FROM sym)
          ORDER BY u LIMIT 4),
        l0 AS MATERIALIZED (SELECT src, src AS node, 0 AS d FROM srcs),
        f1 AS MATERIALIZED (
          SELECT DISTINCT l.src, s.v AS node
          FROM l0 l JOIN sym s ON s.u = l.node),
        n1 AS MATERIALIZED (
          SELECT f1.src, f1.node FROM f1
          LEFT JOIN l0 ON l0.src = f1.src AND l0.node = f1.node
          WHERE l0.node IS NULL),
        l1 AS MATERIALIZED (
          SELECT * FROM l0 UNION ALL SELECT src, node, 1 FROM n1),
        f2 AS MATERIALIZED (
          SELECT DISTINCT l.src, s.v AS node
          FROM l1 l JOIN sym s ON s.u = l.node WHERE l.d = 1),
        n2 AS MATERIALIZED (
          SELECT f2.src, f2.node FROM f2
          LEFT JOIN l1 ON l1.src = f2.src AND l1.node = f2.node
          WHERE l1.node IS NULL),
        l2 AS MATERIALIZED (
          SELECT * FROM l1 UNION ALL SELECT src, node, 2 FROM n2),
        f3 AS MATERIALIZED (
          SELECT DISTINCT l.src, s.v AS node
          FROM l2 l JOIN sym s ON s.u = l.node WHERE l.d = 2),
        n3 AS MATERIALIZED (
          SELECT f3.src, f3.node FROM f3
          LEFT JOIN l2 ON l2.src = f3.src AND l2.node = f3.node
          WHERE l2.node IS NULL),
        l3 AS MATERIALIZED (
          SELECT * FROM l2 UNION ALL SELECT src, node, 3 FROM n3)"""

  /** Single-source BFS with shortest-path counts over a pinned
    * symmetric edge list: from the minimum vertex, 3 rounds, where a
    * node first reached at round r gets σ = Σ σ over its round-(r−1)
    * neighbors; rows (node, lvl, sigma). */
  private def sigmaLevels(sym: DataFrame): DataFrame = {
    val s = sym.sparkSession
    import s.implicits._
    var lvl = sym.agg(min($"u").as("node"))
      .select($"node", lit(0L).as("lvl"), lit(1L).as("sigma"))
      .pin()
    for (r <- 1 to 3) {
      val cand = lvl.filter($"lvl" === (r - 1L))
        .join(sym, $"node" === $"u")
        .select($"v".as("node"), $"sigma")
      val fresh = cand.join(lvl.select($"node"), Seq("node"), "left_anti")
        .groupBy($"node")
        .agg(sum($"sigma").as("sigma"))
        .select($"node", lit(r.toLong).as("lvl"), $"sigma")
      lvl = lvl.unionByName(fresh).pin()
    }
    lvl
  }

  /** Truncated Brandes pass behind `q_brandes_delta`, over any
    * symmetric edge list (u, v): 3-level BFS with path counts from
    * the minimum vertex, then the backward dependency sweep with
    * 6-decimal contribution rounding (see the QueryDef scaladoc).
    * Exposed for RelationalSpec's planted-diamond gate. */
  private[operators] def brandesDelta(symIn: DataFrame): DataFrame = {
    val s = symIn.sparkSession
    import s.implicits._
    val dec206 = DecimalType(20, 6)
    val sym = symIn.pin() // forward + backward joins
    val lvl = sigmaLevels(sym)
    // backward sweep: δ at the 3-level frontier is 0 by the bound
    var delta = lvl.filter($"lvl" === 3L)
      .select($"node", lit(0).cast(dec206).as("delta"))
      .pin()
    var out = delta.join(lvl, Seq("node"))
      .select($"node", $"lvl", $"sigma", $"delta")
    for (ln <- 2 to 0 by -1) {
      val wSide = lvl.filter($"lvl" === (ln + 1).toLong)
        .select($"node".as("w"), $"sigma".as("sw"))
        .join(delta.select($"node".as("w"), $"delta".as("dw")),
          Seq("w"))
      val contrib = lvl.filter($"lvl" === ln.toLong)
        .select($"node", $"sigma".as("sv"))
        .join(sym, $"node" === $"u")
        .join(wSide, $"v" === $"w")
        .withColumn("c",
          round($"sv".cast(DoubleType) / $"sw".cast(DoubleType) *
            (lit(1.0) + $"dw".cast(DoubleType)), 6).cast(dec206))
        .groupBy($"node")
        .agg(sum($"c").cast(dec206).as("delta"))
      delta = lvl.filter($"lvl" === ln.toLong).select($"node")
        .join(contrib, Seq("node"), "left")
        .select($"node",
          coalesce($"delta", lit(0).cast(dec206)).as("delta"))
        .pin()
      out = out.unionByName(delta.join(lvl, Seq("node"))
        .select($"node", $"lvl", $"sigma", $"delta"))
    }
    out.select($"node", $"lvl", $"sigma",
        $"delta".cast(DoubleType).as("delta"))
      .orderBy($"node")
  }

  /** Oracle CTEs `li`, `e0`: the [[supportEdges]] derivation. */
  private lazy val supportEdgeCtes: String = """li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)"""

  /** Oracle of the top-3 orders per customer by total price, shared by
    * the window (`q_window_topk`) and aggregator (`q_topk_aggregate`)
    * plans. */
  private lazy val top3OrdersPerCustomerSql: String = """
        SELECT o_custkey, rk, o_orderkey, total_price FROM (
          SELECT o_custkey, o_orderkey,
            CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
            ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
        WHERE rk <= 3
        ORDER BY o_custkey, rk"""

  /** Oracle CTE `e0`: the [[copurchaseEdges]] derivation. */
  private lazy val copurchaseEdgeCte: String = """e0 AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""

  /** The three label-propagation rounds over [[copurchaseEdgeCte]] as
    * oracle CTEs ending in `l3` (node, label) — single source for the
    * `q_label_prop` and `q_modularity` oracles. */
  private lazy val labelPropCtes: String = {
    def vote(r: Int) = s"""
        c$r AS (SELECT s.u AS node, l.label AS label, COUNT(*) AS c
               FROM sym s JOIN l${r - 1} l ON s.v = l.node GROUP BY 1, 2),
        l$r AS (SELECT node, label FROM (
                 SELECT node, label, ROW_NUMBER() OVER
                   (PARTITION BY node ORDER BY c DESC, label) AS rn
                 FROM c$r) WHERE rn = 1)"""
    s"""$copurchaseEdgeCte,
        sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),${(1 to 3).map(vote).mkString(",")}"""
  }

  /** The BFS + path-counting derivation as shared oracle CTEs ending
    * in `l3` (node, lvl, sigma) — single source for the `q_bfs_sigma`
    * and `q_brandes_delta` oracles. */
  private lazy val bfsSigmaCtes: String = s"""$copurchaseEdgeCte,
        sym AS (
          SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        l0 AS (
          SELECT MIN(u) AS node, CAST(0 AS BIGINT) AS lvl,
                 CAST(1 AS BIGINT) AS sigma FROM sym),
        f1 AS (
          SELECT s.v AS node, SUM(l0.sigma) AS sigma FROM sym s
          JOIN l0 ON s.u = l0.node
          WHERE s.v NOT IN (SELECT node FROM l0)
          GROUP BY s.v),
        l1 AS (SELECT * FROM l0
               UNION ALL SELECT node, CAST(1 AS BIGINT), sigma FROM f1),
        f2 AS (
          SELECT s.v AS node, SUM(l1.sigma) AS sigma FROM sym s
          JOIN l1 ON s.u = l1.node AND l1.lvl = 1
          WHERE s.v NOT IN (SELECT node FROM l1)
          GROUP BY s.v),
        l2 AS (SELECT * FROM l1
               UNION ALL SELECT node, CAST(2 AS BIGINT), sigma FROM f2),
        f3 AS (
          SELECT s.v AS node, SUM(l2.sigma) AS sigma FROM sym s
          JOIN l2 ON s.u = l2.node AND l2.lvl = 2
          WHERE s.v NOT IN (SELECT node FROM l2)
          GROUP BY s.v),
        l3 AS (SELECT * FROM l2
               UNION ALL SELECT node, CAST(3 AS BIGINT), sigma FROM f3)"""

  /** The walk derivation as shared oracle CTEs ending in `walks` —
    * single source for the q_random_walks and q_walk_skipgrams
    * oracles. */
  private lazy val walkCtes: String = {
    def hopCte(prev: String, name: String, t: Int) = s"""
        $name AS (
          SELECT p.start, n.v AS cur
          FROM $prev p
          JOIN nbr n ON n.u = p.cur
           AND n.rank = ${hex6SqlOn(
        s"md5(p.cur::VARCHAR || ':' || p.start::VARCHAR || ':$t')")}
               % n.deg)"""
    s"""$supportEdgeCtes,
        sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        nbr AS MATERIALIZED (
          SELECT u, v,
                 ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1
                   AS rank,
                 COUNT(*) OVER (PARTITION BY u) AS deg
          FROM sym),
        w0 AS (SELECT DISTINCT u AS start, u AS cur FROM nbr),
        ${hopCte("w0", "w1", 1).drop(1)},${hopCte("w1", "w2", 2)},${hopCte("w2", "w3", 3)},
        walks AS (
          SELECT start, cur AS node, 0 AS step FROM w0
          UNION ALL SELECT start, cur, 1 FROM w1
          UNION ALL SELECT start, cur, 2 FROM w2
          UNION ALL SELECT start, cur, 3 FROM w3)"""
  }

  private def amsSignSql(r: Int, div: String): String = {
    val pos = r / 4 + 1
    val mask = 8 >> (r % 4)
    s"""CASE WHEN ((CASE WHEN ascii(substring(h, $pos, 1)) >= 97
          THEN ascii(substring(h, $pos, 1)) - 87
          ELSE ascii(substring(h, $pos, 1)) - 48 END) $div $mask) % 2 = 1
        THEN 1 ELSE -1 END"""
  }

  /** Distributed GLOBAL inclusive prefix sum over a total order — the
    * classic two-level scan (Blelloch): range-partition on `sortCols`,
    * one in-order pass per partition accumulating the LOCAL prefix
    * (mapPartitions — the down-sweep; an ordered accumulation has no
    * declarative form), per-partition TOTALS to the driver (O(parts)),
    * exclusive-scanned into offsets and broadcast back, so the global
    * prefix is local + offset. Zero shuffles beyond the range
    * partition; never a single-task global window. Values may be
    * negative (the sweep-line use case); `valueCol` must be a Long
    * column; ties in `sortCols` receive the values of SOME order
    * within the tie — consumers must aggregate per tie group (max/min
    * over a full group is order-invariant for monotone runs). */
  private[graft] def globalPrefixSum(
      s: SparkSession, df: DataFrame, sortCols: Seq[Column],
      valueCol: String, partsIn: Int = 0,
      rankCol: String = null): DataFrame = {
    require(!df.columns.contains("psum"),
      "globalPrefixSum: input already has a 'psum' column — rename it")
    val parts =
      if (partsIn > 0) partsIn else math.max(1, s.sparkContext.defaultParallelism)
    val sorted = df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__ps_pid", spark_partition_id())
    val vIdx = sorted.schema.fieldIndex(valueCol)
    // rankCol: the 0-based global row index over the SAME sorted
    // layout, for free — a second accumulator in the local pass and
    // the row counts ride the totals collect the sum already pays
    // (callers previously ran a whole second globalRank for this)
    val withRank = rankCol != null
    val outSchema0 = sorted.schema.add("__ps_local", LongType)
    val outSchema =
      if (withRank) outSchema0.add("__ps_idx", LongType) else outSchema0
    // The pin's own materialization job returns per partition the last
    // __ps_local (= the partition's running TOTAL — the local pass is
    // an ordered accumulator) and the row count: the old shape re-read
    // the frame the pin had just frozen in a whole extra groupBy job
    // per call (r17, guide §1.2).
    val (withLocal, stats) = Shim
      .pinWithPartitionStats(sorted.mapPartitions { it =>
        var acc = 0L
        var idx = -1L
        it.map { r =>
          acc += r.getLong(vIdx)
          idx += 1L
          val base = r.toSeq :+ acc
          org.apache.spark.sql.Row.fromSeq(
            if (withRank) base :+ idx else base)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema)), Seq("__ps_local"))
    val totals: Array[(Int, Long, Long)] = stats.zipWithIndex.collect {
      case ((n, lasts), pid) if n > 0L => (pid, lasts(0), n) }
    val specs =
      ("psum", "__ps_local",
        pidOffsets(stats.length, totals.map(t => (t._1, t._2)))) +:
      (if (withRank)
        Seq((rankCol, "__ps_idx",
          pidOffsets(stats.length, totals.map(t => (t._1, t._3)))))
      else Nil)
    addOffsets(withLocal, "__ps_pid", stats.length, specs)
      .drop("__ps_pid", "__ps_local", "__ps_idx")
  }

  /** PER-KEY distributed inclusive prefix sum — the grouped sibling of
    * [[globalPrefixSum]], built like [[groupNtile]]: a window
    * `SUM(v) OVER (PARTITION BY key ORDER BY ...)` funnels each key
    * through ONE task, so a handful of large keys (languages, tenants)
    * serializes the whole job; here the data is range-partitioned on
    * (key, sortCols) — a key spans as many partitions as its size
    * demands — each partition accumulates its LOCAL per-key prefix in
    * one ordered pass (resetting at key changes; the range sort keeps
    * every key's rows contiguous), the per-(partition, key) totals go
    * to the driver (O(partitions + distinct keys) rows, the loud cap
    * below), are exclusive-scanned per key in partition order, and
    * broadcast back so the global per-key prefix is local + offset.
    * Zero shuffles beyond the range partition. `grp` must name a
    * non-null string column; `valueCol` a Long column; `sortCols`
    * must total-order rows WITHIN a key (unique tiebreak). `probe`
    * observes the driver collect's row count (spec gate). */
  private[operators] def keyedPrefixSum(
      s: SparkSession, df: DataFrame, grp: String, sortCols: Seq[Column],
      valueCol: String, probe: Int => Unit = _ => ()): DataFrame = {
    import s.implicits._
    require(!df.columns.contains("psum"),
      "keyedPrefixSum: input already has a 'psum' column — rename it")
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    val keys = col(grp) +: sortCols
    val sorted = df
      .repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__kp_pid", spark_partition_id())
    val gIdx = sorted.schema.fieldIndex(grp)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val outSchema = sorted.schema.add("__kp_local", LongType)
    val withLocal = sorted.mapPartitions { it =>
      var cur: String = null
      var acc = 0L
      it.map { r =>
        val g = r.getString(gIdx)
        if (g != cur) { cur = g; acc = 0L }
        acc += r.getLong(vIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .pin() // totals job + the output projection
    val ext = withLocal.groupBy($"__kp_pid", col(grp).as("__kp_grp"))
      .agg(sum(col(valueCol)).as("tot"))
      .orderBy($"__kp_pid", $"__kp_grp").collect()
    probe(ext.length)
    require(ext.length <= (1 << 20),
      "keyedPrefixSum: over 1M (partition, key) slices — the driver-side " +
        "extent list assumes O(partitions + keys) stays small; this " +
        "grouping is too fine for the prefix-sum mechanism")
    val running = scala.collection.mutable.Map.empty[String, Long]
    val offRows = ext.map { r => // ext is (pid, key)-ordered
      val (pid, g, tot) = (r.getInt(0), r.getString(1), r.getLong(2))
      val off = running.getOrElse(g, 0L)
      running(g) = off + tot
      (pid, g, off)
    }.toSeq
    val offDf = offRows.toDF("__kp_pid", "__kp_grp", "__kp_off")
    withLocal.join(broadcast(offDf),
        withLocal("__kp_pid") === offDf("__kp_pid") &&
          col(grp) === offDf("__kp_grp"))
      .drop(offDf("__kp_pid"))
      .withColumn("psum", $"__kp_local" + $"__kp_off")
      .drop("__kp_pid", "__kp_grp", "__kp_local", "__kp_off")
  }

  /** Preferred band count for [[inversionCount]]'s class-2 matrix in
    * AUTO mode (bucketsIn = 0): the function coarsens it to fit the
    * 1M driver cap at high parallelism. An explicit argument is never
    * clamped — it hits the hard require instead. */
  private[operators] val DefaultInvBuckets = 1024

  /** Exact GLOBAL inversion count of the Long column `yv` over the
    * total order given by `sortCols`:
    * |{(a, b) : a strictly before b in sort order ∧ yv_a > yv_b}| —
    * the O(n log n) statistic behind Kendall's tau (discordant
    * pairs), computed WITHOUT the quadratic pair join and WITHOUT a
    * single-task window. Three disjoint pair classes, each summed by
    * a mechanism that scales:
    *
    *  1. SAME range partition — the input is range-partitioned and
    *     sorted on `sortCols` (the [[globalRank]] layout, pinned by
    *     checkpoint), and each partition counts its own inversions
    *     in one ordered pass over a Fenwick tree on locally
    *     compressed values: O(n_p log n_p) per task, no driver rows.
    *  2. DIFFERENT partition, DIFFERENT value band — yv-space is cut
    *     into `buckets` equal-width bands; the (partition × band)
    *     count matrix goes to the driver (loud 1M-entry cap — it is
    *     partitions·buckets, never data-sized) where the cross term
    *     Σ_{p<q, g>h} c[p][g]·c[q][h] is a BigInt prefix scan:
    *     every such pair is an inversion by band monotonicity alone.
    *  3. DIFFERENT partition, SAME band — rows regroup by band (one
    *     shuffle whose partitions hold ~n/buckets rows; a value-skewed
    *     band concentrates, but equal-yv pairs are never inversions so
    *     the dominant-value band contributes only its minority pairs);
    *     each band counts pairs (pid_a < pid_b ∧ yv_a > yv_b) by a
    *     descending-yv sweep over a Fenwick tree on partition ids,
    *     yv-tie blocks queried before insertion so equal values never
    *     count. Range partitions are ordered by id, so pid_a < pid_b
    *     IS "a before b" for cross-partition rows.
    *
    * `sortCols` must be a total order (unique tiebreak); rows tied on
    * a sort prefix but differing in yv must be ordered yv-ascending
    * by the caller (put yv itself in the key before the tiebreak) so
    * such pairs count zero — the Kendall convention. Returns 0 on
    * empty input. `probe` observes each driver collect's row count
    * (spec gate: O(partitions·buckets), never O(n)). */
  private[operators] def inversionCount(
      s: SparkSession, df: DataFrame, sortCols: Seq[Column],
      bucketsIn: Int = 0, probe: Int => Unit = _ => (),
      partsIn: Int = 0): BigInt = {
    import s.implicits._
    require(df.columns.contains("yv"), "inversionCount: need a 'yv' column")
    // partsIn > 0 simulates a cluster parallelism in local-mode specs
    // (the clamp below is what keeps evt_kendall alive at >=1024
    // cores); 0 = the session's real default parallelism.
    val parts =
      if (partsIn > 0) partsIn
      else math.max(1, s.sparkContext.defaultParallelism)
    // Cluster-scale clamp (round-11 verdict #2): with the old fixed
    // default of 1024 buckets, any cluster with >=1024 default-
    // parallelism cores tripped the 1M driver-matrix require — the
    // exact environment the operator targets. The band matrix is
    // CORRECT at any bucket count (class 3's band-local sweeps absorb
    // whatever class 2's coarser bands no longer separate; fewer bands
    // only shifts work from the driver scan to the distributed
    // sweeps), so in AUTO mode (bucketsIn = 0, the default) coarsen
    // DefaultInvBuckets to fit the cap instead of throwing. An
    // EXPLICIT buckets argument still hits the hard require below —
    // the caller asked for a specific matrix and must know it fits.
    val buckets =
      if (bucketsIn == 0)
        math.max(2, math.min(DefaultInvBuckets, (1000000L / parts).toInt))
      else bucketsIn
    require(parts.toLong * buckets <= 1000000L,
      s"inversionCount: $parts partitions x $buckets buckets exceeds the " +
        "1M driver-matrix cap — lower `buckets`")
    require(!df.columns.contains("__iv_pid"),
      "inversionCount: input already has an '__iv_pid' column")
    val sorted = df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__iv_pid", spark_partition_id())
      .pin() // three jobs read this frozen layout
    val rng = sorted.agg(min($"yv").as("lo"), max($"yv").as("hi"),
      count(lit(1)).as("n")).collect()(0)
    probe(1)
    if (rng.isNullAt(0)) return BigInt(0)
    val (lo, hi) = (rng.getLong(0), rng.getLong(1))
    val span = BigInt(hi) - BigInt(lo) + 1
    // band of yv, computed driver-side per row group via the exact
    // BigInt boundary list (spans near 2^64 would overflow a plan-side
    // (yv - lo) * buckets); bands are value-monotone by construction
    val bounds = (1 until buckets)
      .map(g => (BigInt(lo) + span * g / buckets - 1).toLong).toArray
    def bandOf(y: Long): Int = {
      // first band whose upper bound >= y (binary search, exact)
      var a = 0; var b = buckets - 1
      while (a < b) {
        val m = (a + b) >>> 1
        if (bounds(m) >= y) b = m else a = m + 1
      }
      a
    }
    val yIdx = sorted.schema.fieldIndex("yv")
    val pIdx = sorted.schema.fieldIndex("__iv_pid")
    // (1) per-partition inversions: Fenwick over locally compressed yv
    val localInv = sorted.queryExecution.toRdd.mapPartitions { it =>
      val ys = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach(r => ys += r.getLong(yIdx))
      val dist = ys.distinct.sorted.toArray
      val pos = dist.zipWithIndex.toMap
      val bit = new Array[Long](dist.length + 1)
      def add(i0: Int): Unit = {
        var i = i0 + 1
        while (i <= dist.length) { bit(i) += 1L; i += i & (-i) }
      }
      def leq(i0: Int): Long = { // count inserted with index <= i0
        var i = i0 + 1; var c = 0L
        while (i > 0) { c += bit(i); i -= i & (-i) }
        c
      }
      var inv = BigInt(0)
      var seen = 0L
      ys.foreach { y =>
        val p = pos(y)
        inv += seen - leq(p) // earlier rows with strictly greater yv
        add(p); seen += 1L
      }
      Iterator.single(inv.toString())
    }.collect().map(BigInt(_)).sum
    probe(parts)
    // (2) the (partition, band) count matrix — driver-capped above
    val cellRows = sorted.queryExecution.toRdd.mapPartitions { it =>
      val m = scala.collection.mutable.Map.empty[(Int, Int), Long]
      it.foreach { r =>
        val k = (r.getInt(pIdx), bandOf(r.getLong(yIdx)))
        m(k) = m.getOrElse(k, 0L) + 1L
      }
      m.iterator.map { case ((p, g), c) => (p, g, c) }
    }.collect()
    probe(cellRows.length)
    val cells = Array.ofDim[Long](parts, buckets)
    cellRows.foreach { case (p, g, c) => cells(p)(g) = c }
    // earlier-partition counts per band, swept p ascending; the
    // suffix-above scan turns Σ_{g>h} into O(buckets) per partition
    var cross = BigInt(0)
    val earlier = new Array[Long](buckets)
    for (p <- 0 until parts) {
      var above = BigInt(0) // Σ_{g' > h} earlier(g'), h descending
      var h = buckets - 1
      while (h >= 0) {
        cross += above * cells(p)(h)
        above += BigInt(earlier(h))
        h -= 1
      }
      var g = 0
      while (g < buckets) { earlier(g) += cells(p)(g); g += 1 }
    }
    // (3) same band, different partition: descending-yv sweep with a
    // Fenwick over partition ids, tie blocks queried before insertion
    val sameBand = sorted
      .select($"__iv_pid".as("pid"), $"yv")
      .as[(Int, Long)]
      .map { case (p, y) => (bandOf(y), p, y) }
      .repartition(parts, $"_1")
      .mapPartitions { it =>
        val byBand = scala.collection.mutable.Map
          .empty[Int, scala.collection.mutable.ArrayBuffer[(Int, Long)]]
        it.foreach { case (g, p, y) =>
          byBand.getOrElseUpdate(g,
            scala.collection.mutable.ArrayBuffer.empty) += ((p, y))
        }
        byBand.valuesIterator.map { items =>
          val arr = items.sortBy { case (p, y) => (-y, p) }.toArray
          val bit = new Array[Long](parts + 1)
          def add(i0: Int): Unit = {
            var i = i0 + 1
            while (i <= parts) { bit(i) += 1L; i += i & (-i) }
          }
          def lt(i0: Int): Long = { // inserted with pid < i0
            var i = i0; var c = 0L
            while (i > 0) { c += bit(i); i -= i & (-i) }
            c
          }
          var inv = BigInt(0)
          var i = 0
          while (i < arr.length) {
            var j = i // [i, j) = the yv-tie block
            while (j < arr.length && arr(j)._2 == arr(i)._2) j += 1
            var k = i
            while (k < j) { inv += lt(arr(k)._1); k += 1 }
            k = i
            while (k < j) { add(arr(k)._1); k += 1 }
            i = j
          }
          inv.toString()
        }
      }.collect().map(BigInt(_)).sum
    probe(parts)
    localInv + cross + sameBand
  }

  /** The full ancestor closure of a forest by pointer doubling — the
    * Spark-native answer to SQL's `WITH RECURSIVE` parent-walk
    * (Valiant's path doubling; the PRAM list-ranking classic). Input
    * is one row per non-root node (`node`, `parent`); output is every
    * (node, anc, dist) ancestry pair with dist ≥ 1. A recursive CTE
    * walks one level per iteration — O(depth) rounds; doubling keeps
    * two frames instead:
    *
    *   P_k — the EXACT 2^k-th-ancestor pointer (≤ 1 row per node),
    *   A_k — every pair with dist in 1..2^(k+1)−1,
    *
    * and each round runs TWO equality self-joins (P⋈P squares the
    * pointer; P⋈A extends every known suffix by the new jump), so
    * `rounds` = ⌈log₂(depth+1)⌉ covers depth 2^rounds −1. Paths in a
    * forest are unique and every distance has a unique binary
    * decomposition, so no round ever emits a duplicate pair — no
    * per-round `distinct` is needed, and the union is append-only.
    * Each round checkpoints both frames: the lineage would otherwise
    * double per round (the suffixDups barrier discipline). At 100 TB
    * the closure is n·depth rows — the right contract for business
    * hierarchies (org charts, BOMs, category trees, depth ≲ 32),
    * shuffled on the mid key; never a driver-side walk. */
  private[operators] def ancestorClosure(
      parents: DataFrame, rounds: Int): DataFrame = {
    val s = parents.sparkSession
    import s.implicits._
    // Checkpoint AND rebase each round frame. The rebase
    // (createDataFrame over the checkpointed partitions) strips the
    // LogicalRDD's origin constraints: localCheckpoint preserves the
    // pre-checkpoint plan's constraint set, whose attribute ids stay
    // those of the ORIGINAL self-join inputs, and Union's constraint
    // rewrite crashes (AttributeMap key-not-found) on any constraint
    // referencing an attribute outside the branch's own output. A
    // constraint-free frame with fresh ids unions safely; the
    // checkpointed partitions are reused, nothing recomputes.
    def barrier(df: DataFrame): DataFrame = {
      val ck = df.pin()
      s.createDataFrame(ck.rdd, ck.schema)
    }
    var p = barrier(parents.select($"node", $"parent".as("anc"),
      lit(1L).as("dist")))
    var all = p
    for (k <- 1 until rounds) {
      val jump = 1L << (k - 1)
      // square the pointer: 2^(k-1) + 2^(k-1) = 2^k, ≤ 1 row per node
      val p2 = barrier(
        p.as("x").join(p.as("y"), $"x.anc" === $"y.node")
          .select($"x.node".as("node"), $"y.anc".as("anc"),
            lit(2 * jump).as("dist")))
      // extend: 2^k + d for every d in 1..2^k−1 already in `all`
      val ext = p2.as("x").join(all.as("y"), $"x.anc" === $"y.node")
        .select($"x.node".as("node"), $"y.anc".as("anc"),
          ($"x.dist" + $"y.dist").as("dist"))
      all = barrier(all.unionByName(p2).unionByName(ext))
      p = p2
    }
    all
  }

  /** Incremental maintenance of an [[ancestorClosure]] — the
    * frozen-index discipline (`sim_ivfpq_append`,
    * `llm_suffix_dups_append`) applied to hierarchies: when a shard
    * of NEW nodes arrives (ids above every existing node, the only
    * append a parent-pointer forest admits — a parent must exist
    * before its child), the frozen closure never changes, because no
    * new node can become an ANCESTOR of an old one. The shard's
    * ancestry is: (1) [[ancestorClosure]] over the shard-internal
    * parent edges only — the walk STOPS at each path's first frozen
    * ancestor, since frozen nodes carry no parent row in the shard
    * edge set; (2) one equality join extending every such exit pair
    * through the frozen closure. Work scales with shard paths, never
    * the base (`probe` reports the shard-closure row count — the
    * spec's incrementality gate). */
  private[operators] def closureIncrement(
      baseClosure: DataFrame, shardParents: DataFrame, rounds: Int,
      probe: Long => Unit = _ => ()): DataFrame = {
    val s = baseClosure.sparkSession
    import s.implicits._
    val within = ancestorClosure(shardParents, rounds)
      .pin() // probe count + union + the exit join
    probe(within.count())
    val ext = within.as("w")
      .join(baseClosure.as("b"), $"w.anc" === $"b.node")
      .select($"w.node".as("node"), $"b.anc".as("anc"),
        ($"w.dist" + $"b.dist").as("dist"))
    baseClosure.unionByName(within).unionByName(ext)
  }

  /** The subtree-rollup readout both hierarchy queries share: depth,
    * descendant count, rolled-up cents, deepest reach per node, all
    * from one closure frame — two map-side-combined groupBys and the
    * output spine join. */
  private def hierarchyRollup(
      nodes: DataFrame, closure: DataFrame): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    val depth = closure.groupBy($"node")
      .agg(count(lit(1)).as("depth"))
    val sub = closure.join(nodes.select($"node", $"cents"), Seq("node"))
      .groupBy($"anc").agg(count(lit(1)).as("n_desc"),
        sum($"cents").as("desc_cents"), max($"dist").as("deepest"))
      .select($"anc".as("node"), $"n_desc", $"desc_cents", $"deepest")
    nodes.join(depth, Seq("node"), "left")
      .join(sub, Seq("node"), "left")
      .select($"node",
        coalesce($"depth", lit(0L)).as("depth"),
        coalesce($"n_desc", lit(0L)).as("n_desc"),
        ($"cents" + coalesce($"desc_cents", lit(0L))).as("subtree_cents"),
        coalesce($"deepest", lit(0L)).as("deepest"))
      .orderBy($"node")
  }

  /** The part-forest nodes (value in cents) both hierarchy queries
    * read: parent(k) = (k−1) div 4, root 0. */
  private def hierarchyNodes(
      s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d).select($"p_partkey".as("node"),
        (dec($"p_retailprice") * 100).cast(LongType).as("cents"))
      .pin() // parents + value join + output spine
  }

  /** Shared oracle of the hierarchy pair — the incremental plan must
    * hash-identically to the full recursive rebuild. */
  private lazy val hierarchyOracleSql: String = """
        WITH RECURSIVE nodes AS (
          SELECT p_partkey AS node,
                 CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents
          FROM part),
        par AS (
          SELECT node, (node - 1) // 4 AS parent FROM nodes WHERE node >= 1),
        closure AS (
          SELECT node, parent AS anc, 1 AS dist FROM par
          UNION ALL
          SELECT c.node, p.parent, c.dist + 1
          FROM closure c JOIN par p ON p.node = c.anc),
        dep AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) AS depth
          FROM closure GROUP BY node),
        sub AS (
          SELECT c.anc AS node, CAST(COUNT(*) AS BIGINT) AS n_desc,
                 CAST(SUM(n.cents) AS BIGINT) AS desc_cents,
                 CAST(MAX(c.dist) AS BIGINT) AS deepest
          FROM closure c JOIN nodes n ON n.node = c.node
          GROUP BY c.anc)
        SELECT n.node,
               CAST(COALESCE(d.depth, 0) AS BIGINT) AS depth,
               CAST(COALESCE(s.n_desc, 0) AS BIGINT) AS n_desc,
               CAST(n.cents + COALESCE(s.desc_cents, 0) AS BIGINT)
                 AS subtree_cents,
               CAST(COALESCE(s.deepest, 0) AS BIGINT) AS deepest
        FROM nodes n
        LEFT JOIN dep d USING (node)
        LEFT JOIN sub s USING (node)
        ORDER BY node"""

  /** Benford first-digit expectations, PPM, floor(10⁶·log₁₀(1+1/d))
    * for d = 1..9 — computed ONCE here and string-interpolated into
    * BOTH the Spark plan and the DuckDB oracle (the SPRT ln-19
    * discipline: no transcendental evaluates in either engine).
    * They sum to 999 995 (five ppm of floor loss). */
  private val BenfordPpm: IndexedSeq[Long] = IndexedSeq(
    301029L, 176091L, 124938L, 96910L, 79181L,
    66946L, 57991L, 51152L, 45757L)

  override val queries: Map[String, QueryDef] = Map(

    // ── recursive hierarchy rollup (WITH RECURSIVE, Spark-native) ──
    // The one classic SQL shape Spark has no operator for: walk a
    // parent-pointer hierarchy and aggregate every subtree (org-chart
    // headcounts, BOM costed explosions, category-tree revenue). The
    // hierarchy is the deterministic 4-ary forest over part —
    // parent(k) = (k−1) div 4, root 0 — deep enough at sf0.01 to need
    // 6 levels, and the plan's round count grows with log(depth), not
    // depth: [[ancestorClosure]] pointer-doubles the parent relation
    // (two equality self-joins per round, 5 rounds ⇒ depth ≤ 31)
    // where the oracle's recursive CTE takes one join per LEVEL. Off
    // the closure, depth is a per-node count, and every subtree
    // metric (descendant count, rolled-up cents, deepest reach) is
    // ONE map-side-combined groupBy on the ancestor key — no
    // re-walking per subtree. The oracle recurses the same forest in
    // DuckDB and re-aggregates; exact integer cents end to end.
    "q_hierarchy_rollup" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val nodes = hierarchyNodes(s, d)
        val par = nodes.filter($"node" >= 1)
          .select($"node", expr("(node - 1) div 4").as("parent"))
        // Doubling rounds sized to the FOREST's depth, not a constant
        // (r16, guide §2: scale-adaptive, not tuned for either end):
        // parent(k) = (k-1) div 4 makes the deepest path the one from
        // max(node), walked here on the driver from one column-pruned
        // scalar. rounds r covers every dist ≤ 2^r - 1 (closure-
        // doubling invariant), so the smallest such r is exact — the
        // fixed 5 paid two checkpointed identity rounds at bench SFs
        // (depth ≤ 8 needs 4) and would silently UNDERSHOOT past
        // depth 31 (4^31 nodes) where adaptive sizing keeps going.
        val mx = nodes.agg(max($"node")).head
        var depth = 0L
        var k = if (mx.isNullAt(0)) 0L else mx.getLong(0)
        while (k >= 1) { k = (k - 1) / 4; depth += 1 }
        var r = 1
        while ((1L << r) - 1 < depth) r += 1
        hierarchyRollup(nodes, ancestorClosure(par, rounds = r))
      },
      oracle = Some(hierarchyOracleSql),
      headline = true),

    // ── incremental hierarchy maintenance (append-a-shard) ──
    // The frozen-index discipline applied to the rollup above: a
    // batch of NEW nodes (the top id quintile — in a parent-pointer
    // forest parents precede children, so an append is always an id
    // suffix) must not re-walk the base. [[closureIncrement]] doubles
    // ONLY the shard-internal edges (each walk stops at its first
    // frozen ancestor) and splices through the frozen closure with
    // one equality join; the oracle is the IDENTICAL full recursive
    // rebuild, so the hash proves increment ≡ rebuild, and
    // RelationalSpec proves the work stayed shard-sized via the
    // shard-closure probe.
    "q_hierarchy_increment" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val nodes = hierarchyNodes(s, d)
        // the split scalar: one O(1) driver row (the frozen/new cut).
        // An empty forest has no max — the cut defaults to 0 and both
        // parent sets are empty, so the rollup degenerates cleanly
        val mx = nodes.agg(max($"node")).collect()(0)
        val cut = (if (mx.isNullAt(0)) 0L else mx.getLong(0)) * 4 / 5
        val basePar = nodes.filter($"node" >= 1 && $"node" <= cut)
          .select($"node", expr("(node - 1) div 4").as("parent"))
        val shardPar = nodes.filter($"node" > cut)
          .select($"node", expr("(node - 1) div 4").as("parent"))
        val frozen = ancestorClosure(basePar, rounds = 5)
        hierarchyRollup(nodes,
          closureIncrement(frozen, shardPar, rounds = 5))
      },
      oracle = Some(hierarchyOracleSql)),

    // ── deterministic random walks (DeepWalk corpus generation) ──
    // The graph-embedding pipeline's data step (Perozzi et al. KDD'14:
    // walks become "sentences" a word2vec-family trainer consumes):
    // from EVERY node, a 3-step walk whose neighbor choice at step t
    // is pseudo-random but fully engine-reproducible — index =
    // md5(cur:start:t) mod degree(cur), the agg_f2_sketch digest
    // discipline applied to SAMPLING, with `start` in the digest so
    // different walks diverge at shared nodes. Each step is one
    // equality join of the frontier against the rank-indexed
    // adjacency (never a per-walker loop); the neighbor ranking is a
    // per-node window on the EDGE table, bounded by max degree. The
    // oracle replays every hop with the identical digest arithmetic
    // over a ROW_NUMBER adjacency.
    "q_random_walks" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        randomWalks(s, d).orderBy($"start", $"step")
      },
      oracle = Some(s"""
        WITH $walkCtes
        SELECT start, CAST(node AS BIGINT) AS node,
               CAST(step AS BIGINT) AS step
        FROM walks
        ORDER BY start, step"""),
      headline = false),

    // ── skip-gram pairs with digest-drawn negatives (word2vec data) ──
    // The training-pair step that turns [[randomWalks]]' "sentences"
    // into an embedding dataset (Mikolov et al. 2013): every ordered
    // (center, context) pair within walk-distance ≤ 2 — one equality
    // self-join of the walk table on the walk key, the window
    // predicate on steps — plus, per distinct pair, ONE uniform
    // negative sample drawn deterministically from the node census by
    // the same digest discipline (md5(center:context:n) mod |V|
    // against a ROW_NUMBER-ranked node table), so positives and
    // negatives are both engine-reproducible. The negative join is an
    // equality join on the sampled rank; nothing driver-side.
    "q_walk_skipgrams" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val walks = randomWalks(s, d).pin()
        val pairs = walks.as("a").join(walks.as("b"),
            $"a.start" === $"b.start" &&
              $"a.step" =!= $"b.step" &&
              abs($"a.step" - $"b.step") <= 2)
          .groupBy($"a.node".as("center"), $"b.node".as("context"))
          .agg(count(lit(1)).as("n_pos"))
        val nodes = walks.filter($"step" === 0L)
          .select($"node").distinct()
        // node ranking via the DISTRIBUTED rank primitive — a
        // vocabulary reaches tens of millions of nodes at corpus
        // scale, so the census never funnels through a single-task
        // Window.orderBy (round-13 verdict #6; the tukey/dataset-card
        // discipline). |V| rides the rank's own partition-count
        // collect for free.
        var nV = 0L
        val ranked = globalRank(s, nodes, Seq($"node"), onCount = nV = _)
          .select($"rk".as("nrank"), $"node")
        pairs
          .withColumn("h",
            md5(concat($"center".cast(StringType), lit(":"),
              $"context".cast(StringType), lit(":n"))))
          .withColumn("nrank", expr(hex6Conv) % lit(nV))
          .join(ranked.select($"nrank", $"node".as("neg_node")),
            Seq("nrank"))
          .select($"center", $"context", $"n_pos", $"neg_node")
          .orderBy($"center", $"context")
      },
      oracle = Some(s"""
        WITH $walkCtes,
        pairs AS (
          SELECT a.node AS center, b.node AS context,
                 CAST(COUNT(*) AS BIGINT) AS n_pos
          FROM walks a JOIN walks b
            ON a.start = b.start AND a.step <> b.step
           AND abs(a.step - b.step) <= 2
          GROUP BY 1, 2),
        ranked AS (
          SELECT node,
                 ROW_NUMBER() OVER (ORDER BY node) - 1 AS nrank
          FROM (SELECT DISTINCT node FROM walks WHERE step = 0)),
        nv AS (SELECT COUNT(*) AS n FROM ranked)
        SELECT p.center, p.context, p.n_pos, r.node AS neg_node
        FROM pairs p
        CROSS JOIN nv
        JOIN ranked r
          ON r.nrank = ${hex6SqlOn(
        "md5(p.center::VARCHAR || ':' || p.context::VARCHAR || ':n')")}
             % nv.n
        ORDER BY p.center, p.context"""),
      headline = false),

    // ── one-pass table profiles (the data-quality first-look) ──
    // The census every pipeline runs before trusting a new table:
    // per column, null count, distinct cardinality, exact min/max,
    // and — on the table's designated measure column — exact p50/p99
    // — the inputs to scan pruning decisions (is this column worth a
    // zone map?), join-key sanity (is the key actually unique?),
    // null-contract checks, and the dataset card's distribution line.
    // ONE pass over the table for the census: a single aggregate
    // computes every column's counts/distincts/extrema (Spark plans
    // the multi-DISTINCT via Expand — the scan still happens once),
    // then `stack` unpivots the 1-row result into the per-column
    // census, so the cost is a map-side-combined aggregate regardless
    // of width. The quantiles ride [[exactPctlReprs]]: a column-pruned
    // value histogram + metadata-sized prefix sum — never a data sort,
    // never a single-task window. Representations are engine-exact:
    // integers and centi-cents as BIGINT strings, timestamps as
    // epoch-micros strings — never a float or locale-dependent
    // rendering. The family covers all four pipeline tables: orders
    // (TPC-H face), events, documents, embeddings.
    "q_profile_table" -> QueryDef(
      fn = (s, d) => exactProfile(s, d, ordersProfile),
      oracle = Some(ordersProfile.exactSql)),
    "q_profile_events" -> QueryDef(
      fn = (s, d) => exactProfile(s, d, eventsProfile),
      oracle = Some(eventsProfile.exactSql)),
    "q_profile_documents" -> QueryDef(
      fn = (s, d) => exactProfile(s, d, documentsProfile),
      oracle = Some(documentsProfile.exactSql)),
    "q_profile_embeddings" -> QueryDef(
      fn = (s, d) => exactProfile(s, d, embeddingsProfile),
      oracle = Some(embeddingsProfile.exactSql)),

    // ── SKETCHED table profile: the actual 100 TB dataset-card path ──
    // The exact profiler family above is the right ORACLE contract,
    // but its 6 exact countDistincts plan through an Expand that
    // multiplies the scanned rows by column count — at 100 TB the
    // dataset card is ONE pass of mergeable sketches (round-14 verdict
    // #4). [[approxOrdersProfile]] is that pass: a single map-side-
    // combined aggregate with an HLL sketch (DataSketches, lgK 14 —
    // the agg_hll_mergeable machinery) per column instead of each
    // countDistinct, and a rank-bounded approximate percentile pair on
    // the measure column instead of the exact selection; null counts
    // and extrema stay exact (they ride the same pass for free).
    // PlanShapeSpec gates the helper's own plan: ONE scan, no Expand,
    // no Window.
    //
    // This face is the sketched profile's CONTRACT ROW, the
    // dedup_ann_recall discipline: the same run recomputes the exact
    // census (the referee, priced at verification scale) and emits,
    // per column, the exact n_distinct next to a boolean holding the
    // HLL estimate to ±5% (lgK 14 ≈ 0.8% RSE — the bound is ~6σ, so
    // the boolean is deterministic on a deterministic input), and on
    // the measure column booleans pinning the EXACT rank of each
    // approximate percentile inside ±1% of its target (Spark's
    // percentile_approx guarantees ±N/accuracy = 0.5% at accuracy
    // 200; the exact rank probe rides the column-pruned value
    // histogram — no data sort). DuckDB re-derives every exact value
    // and expects TRUE, so the accuracy claims are hash-checked, not
    // asserted in prose.
    "q_profile_approx" -> QueryDef(
      fn = (s, d) => approxProfileContract(s, ordersProfile.frame(s, d), ordersProfile.cols,
        ordersProfile.measure),
      oracle = Some(ordersProfile.approxSql)),

    // ── sketched profiles for the OTHER pipeline tables ──
    // (round-15 stretch) The 100 TB dataset-card path now covers the
    // whole fixture schema: the same generic one-pass sketched
    // aggregate ([[approxTableProfile]]) and the same contract-row
    // discipline ([[approxProfileContract]]) over events, documents,
    // and embeddings, mirroring the exact profiler family column for
    // column. Each face's accuracy booleans are hash-checked against
    // DuckDB's exact re-derivation — the sketched pass is never
    // trusted, it is MEASURED every round, per table.
    "q_profile_approx_events" -> QueryDef(
      fn = (s, d) => approxProfileContract(s, eventsProfile.frame(s, d), eventsProfile.cols,
        eventsProfile.measure),
      oracle = Some(eventsProfile.approxSql)),

    "q_profile_approx_documents" -> QueryDef(
      fn = (s, d) => approxProfileContract(s, documentsProfile.frame(s, d), documentsProfile.cols,
        documentsProfile.measure),
      oracle = Some(documentsProfile.approxSql)),

    "q_profile_approx_embeddings" -> QueryDef(
      fn = (s, d) => approxProfileContract(s, embeddingsProfile.frame(s, d), embeddingsProfile.cols,
        embeddingsProfile.measure),
      oracle = Some(embeddingsProfile.approxSql)),

    // ── join-key skew report (the pre-salting diagnostic) ──
    // The operational census a 100 TB operator runs BEFORE choosing a
    // join strategy: how skewed is this key, and what salt factor
    // would level it? One map-side-combined key histogram, then one
    // aggregate over the histogram (key-count rows, never the data):
    // key cardinality, the heaviest key's exact share in ppm, how
    // many keys exceed 4× the mean (the AQE skew-partition
    // heuristic's shape), and the suggested salt = ⌈max/avg⌉ — the
    // factor the salting machinery (SaltingSpec's operators) would
    // apply. Exact integers end to end; the heaviest key itself is
    // reported for the targeted-salt variant.
    "q_skew_report" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val h = Tables.lineitem(s, d)
          .groupBy($"l_orderkey").agg(count(lit(1)).as("c"))
          .pin() // the aggregate + the argmax probe
        val agg = h.agg(count(lit(1)).as("n_keys"),
          sum($"c").as("n_rows"), max($"c").as("max_cnt"))
        val top = h.orderBy($"c".desc, $"l_orderkey").limit(1)
          .select($"l_orderkey".as("heaviest_key"))
        val over4x = h.crossJoin(broadcast(agg))
          .filter($"c" * $"n_keys" > lit(4L) * $"n_rows")
          .agg(count(lit(1)).as("n_keys_over_4x_mean"))
        agg.crossJoin(broadcast(top)).crossJoin(broadcast(over4x))
          .select($"n_keys", $"n_rows", $"max_cnt", $"heaviest_key",
            expr("1000000 * max_cnt div n_rows").as("max_share_ppm"),
            $"n_keys_over_4x_mean",
            expr("(max_cnt * n_keys + n_rows - 1) div n_rows")
              .as("suggested_salt"))
      },
      oracle = Some("""
        WITH h AS (
          SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS c
          FROM lineitem GROUP BY 1),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(c) AS BIGINT) AS n_rows,
                 CAST(MAX(c) AS BIGINT) AS max_cnt
          FROM h),
        t AS (
          SELECT l_orderkey AS heaviest_key FROM h
          ORDER BY c DESC, l_orderkey LIMIT 1),
        o AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_over_4x_mean
          FROM h CROSS JOIN a
          WHERE h.c * a.n_keys > 4 * a.n_rows)
        SELECT a.n_keys, a.n_rows, a.max_cnt, t.heaviest_key,
               CAST(1000000 * a.max_cnt // a.n_rows AS BIGINT)
                 AS max_share_ppm,
               o.n_keys_over_4x_mean,
               CAST((a.max_cnt * a.n_keys + a.n_rows - 1) // a.n_rows
                 AS BIGINT) AS suggested_salt
        FROM a CROSS JOIN t CROSS JOIN o"""),
      headline = false),

    // ── k-anonymity audit (quasi-identifier re-identification risk) ──
    // The governance face a corpus pipeline ships with its dataset
    // card: group rows by the quasi-identifier tuple an attacker
    // could link on (here nation × market segment × account-balance
    // band — the Sweeney 2002 setup on the customer dim), and report
    // the anonymity-set census: for each set size k, how many groups
    // and how many PEOPLE sit in sets that small, plus the running
    // count of rows violating the k ≥ 5 release threshold. Two
    // map-side-combined groupBys (rows → groups → census); the
    // violation prefix is a window over the census rows (≤ distinct
    // k values, never the data). Exact integers end to end.
    "q_kanon_audit" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val groups = Tables.customer(s, d)
          .select($"c_nationkey", $"c_mktsegment",
            // +10^7 BEFORE the divide: acctbal can be negative, and
            // Spark's div truncates toward zero where DuckDB's //
            // floors — on the shifted (always-positive) value the two
            // agree for any fixture in range
            expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) " +
              "+ 10000000) div 100000").as("bal_band"))
          .groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
          .agg(count(lit(1)).as("k"))
        val census = groups.groupBy($"k")
          .agg(count(lit(1)).as("n_groups"),
            ($"k" * count(lit(1))).as("n_rows"))
        val w = org.apache.spark.sql.expressions.Window.orderBy($"k")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        census
          .withColumn("rows_below_5",
            sum(when($"k" < 5L, $"n_rows").otherwise(0L)).over(w))
          .select($"k", $"n_groups", $"n_rows",
            ($"k" < 5L).as("violates_k5"), $"rows_below_5")
          .orderBy($"k")
      },
      oracle = Some("""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment,
                 (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   + 10000000) // 100000 AS bal_band,
                 CAST(COUNT(*) AS BIGINT) AS k
          FROM customer GROUP BY 1, 2, 3),
        c AS (
          SELECT k, CAST(COUNT(*) AS BIGINT) AS n_groups,
                 CAST(k * COUNT(*) AS BIGINT) AS n_rows
          FROM g GROUP BY k)
        SELECT k, n_groups, n_rows,
               (k < 5) AS violates_k5,
               CAST(SUM(CASE WHEN k < 5 THEN n_rows ELSE 0 END)
                 OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS rows_below_5
        FROM c
        ORDER BY k"""),
      headline = false),

    // ── l-diversity audit (sensitive-attribute homogeneity risk) ──
    // k-anonymity's standard complement (Machanavajjhala et al. 2007,
    // "l-Diversity: Privacy Beyond k-Anonymity"): a large anonymity
    // set is still a leak when everyone in it shares the SENSITIVE
    // value — the homogeneity attack `q_kanon_audit` cannot see. Group
    // rows by the linkable quasi-identifier pair (nation × market
    // segment), count DISTINCT sensitive values (exact account-balance
    // cents) per group, and report the diversity census: for each l,
    // how many groups and rows sit at that diversity, the l < 3
    // release-threshold flag, and the running count of rows in
    // under-diverse groups. Same plan discipline as the k-face: two
    // map-side-combined groupBys (one distinct aggregate — no Expand
    // family), then a window over census rows (≤ distinct l values,
    // never the data). Exact integers end to end.
    "q_ldiv_audit" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val cents =
          expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)")
        val groups = Tables.customer(s, d)
          .select($"c_nationkey", $"c_mktsegment", cents.as("sens"))
          .groupBy($"c_nationkey", $"c_mktsegment")
          .agg(count(lit(1)).as("k"), countDistinct($"sens").as("l"))
        val census = groups.groupBy($"l")
          .agg(count(lit(1)).as("n_groups"), sum($"k").as("n_rows"))
        val w = org.apache.spark.sql.expressions.Window.orderBy($"l")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        census
          .withColumn("rows_below_3",
            sum(when($"l" < 3L, $"n_rows").otherwise(0L)).over(w))
          .select($"l", $"n_groups", $"n_rows",
            ($"l" < 3L).as("violates_l3"), $"rows_below_3")
          .orderBy($"l")
      },
      oracle = Some("""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(COUNT(DISTINCT CAST(CAST(c_acctbal AS DECIMAL(12,2))
                   * 100 AS BIGINT)) AS BIGINT) AS l
          FROM customer GROUP BY 1, 2),
        c AS (
          SELECT l, CAST(COUNT(*) AS BIGINT) AS n_groups,
                 CAST(SUM(k) AS BIGINT) AS n_rows
          FROM g GROUP BY l)
        SELECT l, n_groups, n_rows,
               (l < 3) AS violates_l3,
               CAST(SUM(CASE WHEN l < 3 THEN n_rows ELSE 0 END)
                 OVER (ORDER BY l ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS rows_below_3
        FROM c
        ORDER BY l"""),
      headline = false),

    // ── t-closeness audit (sensitive-DISTRIBUTION skew risk) ──
    // The third member of the classic release-audit trio (Li, Li &
    // Venkatasubramanian, ICDE 2007): l-diversity counts distinct
    // sensitive values but is blind to their DISTRIBUTION — a group
    // can be "diverse" while still overwhelmingly skewed toward one
    // value. t-closeness bounds, per quasi-identifier group, the
    // EARTH MOVER'S DISTANCE between the group's sensitive
    // distribution and the whole table's. For an ORDERED attribute
    // over m bands the EMD is the mean absolute cumulative-share gap:
    // EMD = Σ_b |cumq_b/k − cump_b/N| / (m−1) — re-expressed in exact
    // integers by cross-multiplication: the fraction is emitted AS
    // numerator Σ|cumq_b·N − cump_b·k| over denominator k·N·(m−1)
    // (a ×10^6 ppm rendering would overflow BIGINT around SF100 —
    // num ≤ 2·m·k·N ≈ 8·10^15 at SF1000, so num and the ×5 flag
    // arithmetic stay exact at any plausible scale while num·10^6
    // does not), and the t ≤ 0.2 release verdict is the
    // cross-multiplied flag 5·num ≤ den. A single-band domain makes
    // the EMD the vacuous 0/0 — num is provably 0 there (the only
    // cumulative point has cumq·N = k·N = cump·k) and the flag reads
    // true, no division anywhere. Emits per group its k, the
    // band-diversity n_bands (NOT q_ldiv_audit's exact-value l — the
    // banded domain collapses nearby values), num, den and the flag.
    // Plan: one group×band histogram (map-side combined), the
    // broadcast m-row global histogram, per-group cumulative windows
    // BOUNDED by the band count, then one aggregate per group — the
    // bands, never the data, cross the windows. The dense band
    // domain rides a broadcast cross join (groups × m rows) so a band
    // absent from a group still contributes its global share to the
    // EMD (an absent band is exactly where skew hides).
    "q_tclose_audit" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val band =
          expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) " +
            "+ 10000000) div 100000")
        val rows = Tables.customer(s, d)
          .select($"c_nationkey", $"c_mktsegment", band.as("band"))
          .pin() // global + per-group histograms
        val globalH = rows.groupBy($"band")
          .agg(count(lit(1)).as("gp"))
          .pin() // domain + the share join
        val groupH = rows.groupBy($"c_nationkey", $"c_mktsegment", $"band")
          .agg(count(lit(1)).as("gq"))
        val groups = groupH.groupBy($"c_nationkey", $"c_mktsegment")
          .agg(sum($"gq").as("k"), count(lit(1)).as("n_bands"))
        // dense domain: every group × every band, zeros included
        val dense = groups.crossJoin(broadcast(globalH.select($"band")))
          .join(groupH, Seq("c_nationkey", "c_mktsegment", "band"), "left")
          .join(broadcast(globalH), Seq("band"))
          .select($"c_nationkey", $"c_mktsegment", $"band", $"k",
            $"n_bands", coalesce($"gq", lit(0L)).as("gq"), $"gp")
        val W = org.apache.spark.sql.expressions.Window
        val wCum = W.partitionBy($"c_nationkey", $"c_mktsegment")
          .orderBy($"band")
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        val nTot = rows.count()
        val mBands = globalH.count()
        dense
          .withColumn("cumq", sum($"gq").over(wCum))
          .withColumn("cump", sum($"gp").over(wCum))
          .groupBy($"c_nationkey", $"c_mktsegment")
          .agg(max($"k").as("k"), max($"n_bands").as("n_bands"),
            sum(abs($"cumq" * nTot - $"cump" * $"k")).as("emd_num"))
          .select($"c_nationkey", $"c_mktsegment", $"k", $"n_bands",
            $"emd_num",
            expr(s"k * $nTot * (${mBands - 1L})").as("emd_den"))
          .withColumn("within_t20", $"emd_num" * 5L <= $"emd_den")
          .orderBy($"c_nationkey", $"c_mktsegment")
      },
      oracle = Some("""
        WITH r AS (
          SELECT c_nationkey, c_mktsegment,
                 (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   + 10000000) // 100000 AS band
          FROM customer),
        gh AS (
          SELECT band, CAST(COUNT(*) AS BIGINT) AS gp
          FROM r GROUP BY band),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_bands FROM gh),
        qh AS (
          SELECT c_nationkey, c_mktsegment, band,
                 CAST(COUNT(*) AS BIGINT) AS gq
          FROM r GROUP BY 1, 2, 3),
        grp AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(SUM(gq) AS BIGINT) AS k,
                 CAST(COUNT(*) AS BIGINT) AS n_bands
          FROM qh GROUP BY 1, 2),
        dense AS (
          SELECT g.c_nationkey, g.c_mktsegment, b.band, g.k, g.n_bands,
                 COALESCE(q.gq, 0) AS gq, b.gp
          FROM grp g
          CROSS JOIN gh b
          LEFT JOIN qh q ON q.c_nationkey = g.c_nationkey
            AND q.c_mktsegment = g.c_mktsegment AND q.band = b.band),
        cum AS (
          SELECT c_nationkey, c_mktsegment, band, k, n_bands,
            SUM(gq) OVER (PARTITION BY c_nationkey, c_mktsegment
              ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cumq,
            SUM(gp) OVER (PARTITION BY c_nationkey, c_mktsegment
              ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cump
          FROM dense)
        SELECT c.c_nationkey, c.c_mktsegment, c.k, c.n_bands,
               CAST(SUM(ABS(c.cumq * t.n - c.cump * c.k)) AS BIGINT)
                 AS emd_num,
               CAST(c.k * t.n * (m.m_bands - 1) AS BIGINT) AS emd_den,
               (CAST(SUM(ABS(c.cumq * t.n - c.cump * c.k)) AS BIGINT) * 5
                 <= c.k * t.n * (m.m_bands - 1)) AS within_t20
        FROM cum c CROSS JOIN tot t CROSS JOIN m
        GROUP BY c.c_nationkey, c.c_mktsegment, c.k, c.n_bands,
                 t.n, m.m_bands
        ORDER BY c.c_nationkey, c.c_mktsegment"""),
      headline = false),

    // ── Mondrian k-anonymization (the release TRANSFORM) ──
    // The audit trio (k / l / t faces above) DETECTS violations; this
    // is the operator that makes a failing table pass (LeFevre, DeWitt
    // & Ramakrishnan, ICDE 2006): recursively median-split the 2-D
    // quasi-identifier domain (account-balance cents × nation key),
    // generalize each leaf to its ranges, and emit the anonymized
    // relation — one row per customer with its generalized QI ranges
    // in place of the exact values. Splits are fully deterministic
    // (round-robin dimension, exact lower median, both-children-≥-k
    // guard — see [[mondrianAnonymize]]), so the oracle re-derives
    // every one; 8 levels bound the recursion by contract, k = 5
    // matches `q_kanon_audit`'s release threshold. The output is
    // SELF-PROVING: `leaf_k` is the count a re-run of the k-audit on
    // the generalized table would find for this row's group, and
    // `meets_k` must read true on every row — the inductive ≥-k
    // invariant made a hash-checked column (RelationalSpec also gates
    // it directly, plus the partition property: leaves tile the
    // domain, every row inside its leaf's ranges).
    "q_kanon_generalize" -> QueryDef(
      fn = (s, d) => mondrianAnonymize(kanonCustomers(s, d), k = 5L, depth = 8),
      oracle = Some(mondrianOracleSql(k = 5L, depth = 8)),
      headline = false),

    // ── apply the FROZEN anonymization scheme to arriving rows ──
    // The serving half of the release pipeline: `q_kanon_generalize`
    // builds and publishes the scheme; new rows must generalize
    // through the SAME frozen splits (re-running the anonymizer over
    // base+new would move medians, and diffing the two released
    // generalizations re-identifies previously published rows). The
    // base is the c_custkey % 8 != 0 split of customer, the arriving
    // batch the % 8 == 0 split; each arriving row walks the split
    // tables — depth broadcast joins, no statistics — and emits its
    // base leaf's box, the base leaf size, and the `in_box` drift
    // flag (the retrainSignal idiom: an arriving row outside the box
    // the scheme promised is the rebuild-and-re-release signal).
    // The oracle rebuilds the base tree AND replays the identical
    // walk over the arriving split, so the frozen-scheme application
    // is re-proven end to end.
    "q_kanon_apply" -> QueryDef(
      fn = (s, d) => kanonApplied(s, d),
      oracle = Some(mondrianApplyOracleSql(k = 5L, depth = 8)),
      headline = false),

    // ── drift census over the frozen scheme: when does the release
    //    need a rebuild? ──
    // The privacy lifecycle's retrain-signal analog (build → apply →
    // MONITOR → rebuild-and-re-release, mirroring the index tier's
    // build → append → serve → retrain-signal): per frozen leaf, how
    // many arriving rows landed there and how many fell OUTSIDE the
    // box the published scheme promised, with the cross-multiplied
    // exact flag (out-share > 1/4 — no division) and the global
    // `rebuild_now` bool_or riding every row (the
    // [[Similarity.retrainSignal]] output idiom). Leaves no arriving
    // row reached are absent by construction — an empty leaf cannot
    // drift. Census rows are O(leaves); the one aggregate runs over
    // the applied batch, never the base table.
    "q_kanon_drift" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val perLeaf = kanonApplied(s, d)
          .groupBy($"leaf")
          .agg(max($"d0_lo").as("d0_lo"), max($"d0_hi").as("d0_hi"),
            max($"d1_lo").as("d1_lo"), max($"d1_hi").as("d1_hi"),
            max($"base_k").as("base_k"),
            count(lit(1)).as("n_arriving"),
            sum(when($"in_box", 0L).otherwise(1L)).as("n_out_box"))
          .withColumn("drift_flag", $"n_out_box" * 4L > $"n_arriving")
          .pin() // rows + the bool_or fold
        perLeaf.crossJoin(broadcast(
            perLeaf.agg(expr("bool_or(drift_flag)").as("rebuild_now"))))
          .orderBy($"leaf")
      },
      oracle = Some(s"""
        WITH ${mondrianApplyChain(k = 5L, depth = 8)},
        census AS (
          SELECT leaf, MAX(d0_lo) AS d0_lo, MAX(d0_hi) AS d0_hi,
                 MAX(d1_lo) AS d1_lo, MAX(d1_hi) AS d1_hi,
                 MAX(base_k) AS base_k,
                 CAST(COUNT(*) AS BIGINT) AS n_arriving,
                 CAST(SUM(CASE WHEN in_box THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_out_box
          FROM applied GROUP BY leaf),
        flags AS (
          SELECT *, (n_out_box * 4 > n_arriving) AS drift_flag
          FROM census)
        SELECT f.leaf, f.d0_lo, f.d0_hi, f.d1_lo, f.d1_hi, f.base_k,
               f.n_arriving, f.n_out_box, f.drift_flag, g.rebuild_now
        FROM flags f CROSS JOIN (
          SELECT bool_or(drift_flag) AS rebuild_now FROM flags) g
        ORDER BY f.leaf"""),
      headline = false),

    // ── dyadic quantile digest with provable rank bounds ──
    // The QUANTILE member of the sketch family (F2/HLL/CM/theta cover
    // moments, cardinality, frequency, set ops — none answers "what
    // rank is value q?"): a q-digest-inspired structure (Shrivastava
    // et al. SenSys'04) made fully DETERMINISTIC for oracle parity —
    // instead of the sequential bottom-up packing, the digest is every
    // dyadic cell (17 levels over the 2^16-bucket value domain) whose
    // count ≥ ⌈N/64⌉. Counts add across shards/days, and the heavy
    // set is recomputed after any merge, so the sketch is mergeable
    // like every other in the pack; its size is data-bounded (≤ 64
    // heavy cells per level). The rank CONTRACT rides the hash: for
    // each probe q, [0, q) decomposes into level-12 cells, rank_lo
    // sums the heavy ones, rank_hi adds (thr−1) per light cell —
    // and the emitted exact rank must sit INSIDE [lo, hi] (`within`,
    // the q-digest L·N/k error bound made a checked boolean). Plan:
    // one scan → bucket histogram (≤ 2^16 rows) → 17-way explode of
    // the HISTOGRAM (never the rows) → map-side-combined cell counts;
    // probes are an 8-row broadcast.
    "agg_qdigest_ranks" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val leaf = Tables.events(s, d)
          .select(least(lit(65535L),
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)"))
            .as("v"))
          .groupBy($"v").agg(count(lit(1)).as("c"))
          .pin() // cells explode + totals
        val tot = leaf.agg(sum($"c").as("n_total"),
          expr("(sum(c) + 63) div 64").as("thr"))
        val lvls = array((0 to 16).map(l =>
          struct(lit(l.toLong).as("level"),
            expr(s"v div ${1L << l}").as("idx"))): _*)
        val cells = leaf.select($"c", explode(lvls).as("lc"))
          .groupBy($"lc.level".as("level"), $"lc.idx".as("idx"))
          .agg(sum($"c").as("c"))
          .pin() // heavy filter + the exact l12 read
        val heavy = cells.crossJoin(broadcast(tot))
          .filter($"c" >= $"thr")
          .pin() // size scalar + the probe join
        val l12heavy = heavy.filter($"level" === 12L)
          .select($"idx", $"c".as("ch"))
        val l12exact = cells.filter($"level" === 12L)
          .select($"idx", $"c".as("ce"))
        val probes = (1L to 8L).toDF("j")
        val lo = probes.join(l12heavy, $"idx" < $"j", "left")
          .groupBy($"j").agg(
            coalesce(sum($"ch"), lit(0L)).as("rank_lo"),
            count($"idx").as("n_heavy"))
        val ex = probes.join(l12exact, $"idx" < $"j", "left")
          .groupBy($"j").agg(
            coalesce(sum($"ce"), lit(0L)).as("exact_rank"))
        val size = heavy.agg(count(lit(1)).as("digest_cells"))
        lo.join(ex, Seq("j")).crossJoin(broadcast(tot))
          .crossJoin(broadcast(size))
          .select(($"j" * 4096L).as("q_cents"),
            $"n_total", $"thr", $"digest_cells",
            $"rank_lo",
            ($"rank_lo" + ($"j" - $"n_heavy") * ($"thr" - 1L))
              .as("rank_hi"),
            $"exact_rank")
          .withColumn("within",
            $"rank_lo" <= $"exact_rank" && $"exact_rank" <= $"rank_hi")
          .orderBy($"q_cents")
      },
      oracle = Some("""
        WITH leaf AS (
          SELECT least(65535,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS v,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n_total,
                 CAST((SUM(c) + 63) // 64 AS BIGINT) AS thr
          FROM leaf),
        cells AS (
          SELECT l.l AS level, leaf.v // (1 << l.l) AS idx,
                 CAST(SUM(leaf.c) AS BIGINT) AS c
          FROM leaf CROSS JOIN range(0, 17) l(l)
          GROUP BY 1, 2),
        heavy AS (
          SELECT level, idx, c FROM cells CROSS JOIN tot
          WHERE c >= thr),
        sz AS (SELECT CAST(COUNT(*) AS BIGINT) AS digest_cells FROM heavy),
        probes AS (SELECT unnest(generate_series(1, 8)) AS j),
        lo AS (
          SELECT p.j,
                 CAST(COALESCE(SUM(h.c), 0) AS BIGINT) AS rank_lo,
                 CAST(COUNT(h.idx) AS BIGINT) AS n_heavy
          FROM probes p LEFT JOIN heavy h
            ON h.level = 12 AND h.idx < p.j
          GROUP BY p.j),
        ex AS (
          SELECT p.j,
                 CAST(COALESCE(SUM(cl.c), 0) AS BIGINT) AS exact_rank
          FROM probes p LEFT JOIN cells cl
            ON cl.level = 12 AND cl.idx < p.j
          GROUP BY p.j)
        SELECT CAST(lo.j * 4096 AS BIGINT) AS q_cents,
               t.n_total, t.thr, sz.digest_cells,
               lo.rank_lo,
               CAST(lo.rank_lo + (lo.j - lo.n_heavy) * (t.thr - 1)
                 AS BIGINT) AS rank_hi,
               ex.exact_rank,
               (lo.rank_lo <= ex.exact_rank AND
                ex.exact_rank <= lo.rank_lo +
                  (lo.j - lo.n_heavy) * (t.thr - 1)) AS within
        FROM lo JOIN ex ON lo.j = ex.j
        CROSS JOIN tot t CROSS JOIN sz
        ORDER BY q_cents"""),
      headline = true),

    // ── densest subgraph (parallel Charikar peeling, 3 rounds) ──
    // The density face of the cohesion family (k-core keeps a degree
    // floor, k-truss a triangle floor — this finds the subgraph
    // maximizing |E|/|V|, the community-detection and fraud-ring
    // primitive): [[densestPeel]] drops every node at ≤ 1.25× the
    // CURRENT average degree per round, O(log n) rounds where the
    // sequential greedy needs n, and the best round is a
    // 2(1+ε)-approximation (Bahmani et al. VLDB'12). On the
    // support-≥2 co-purchase graph the peel genuinely climbs: density
    // rises 1.832 → 1.952 at sf0.01 before collapsing — the argmax
    // round is INTERIOR, decided by exact rational comparison. The
    // oracle unrolls the same three peels with scalar-subquery
    // thresholds and the same integer cross-compare.
    "q_densest_subgraph" -> QueryDef(
      fn = (s, d) => {
        densestPeel(supportEdges(s, d), rounds = 3)
      },
      oracle = Some(s"""
        WITH $supportEdgeCtes,
        n0 AS (SELECT u AS node FROM e0 UNION SELECT v FROM e0),
        s0 AS (SELECT (SELECT COUNT(*) FROM n0) AS n,
                      (SELECT COUNT(*) FROM e0) AS e),
        sym0 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        k1 AS MATERIALIZED (
          SELECT s.u AS node FROM sym0 s GROUP BY s.u
          HAVING COUNT(*) * (SELECT n FROM s0) > 2 * (SELECT e FROM s0)),
        e1 AS MATERIALIZED (
          SELECT e.u, e.v FROM e0 e
          JOIN k1 a ON e.u = a.node JOIN k1 b ON e.v = b.node),
        s1 AS (SELECT (SELECT COUNT(*) FROM k1) AS n,
                      (SELECT COUNT(*) FROM e1) AS e),
        sym1 AS (SELECT u, v FROM e1 UNION ALL SELECT v, u FROM e1),
        k2 AS MATERIALIZED (
          SELECT s.u AS node FROM sym1 s GROUP BY s.u
          HAVING COUNT(*) * (SELECT n FROM s1) > 2 * (SELECT e FROM s1)),
        e2 AS MATERIALIZED (
          SELECT e.u, e.v FROM e1 e
          JOIN k2 a ON e.u = a.node JOIN k2 b ON e.v = b.node),
        s2 AS (SELECT (SELECT COUNT(*) FROM k2) AS n,
                      (SELECT COUNT(*) FROM e2) AS e),
        sym2 AS (SELECT u, v FROM e2 UNION ALL SELECT v, u FROM e2),
        k3 AS MATERIALIZED (
          SELECT s.u AS node FROM sym2 s GROUP BY s.u
          HAVING COUNT(*) * (SELECT n FROM s2) > 2 * (SELECT e FROM s2)),
        e3 AS MATERIALIZED (
          SELECT e.u, e.v FROM e2 e
          JOIN k3 a ON e.u = a.node JOIN k3 b ON e.v = b.node),
        s3 AS (SELECT (SELECT COUNT(*) FROM k3) AS n,
                      (SELECT COUNT(*) FROM e3) AS e),
        st AS (
          SELECT 0 AS round, n, e FROM s0
          UNION ALL SELECT 1, n, e FROM s1
          UNION ALL SELECT 2, n, e FROM s2
          UNION ALL SELECT 3, n, e FROM s3)
        SELECT CAST(st.round AS BIGINT) AS round,
               CAST(st.n AS BIGINT) AS n_nodes,
               CAST(st.e AS BIGINT) AS n_edges,
               CASE WHEN st.n = 0 THEN 0.0
                    ELSE CAST(st.e AS DOUBLE) / CAST(st.n AS DOUBLE)
               END AS density,
               NOT EXISTS (
                 SELECT 1 FROM st s2x
                 WHERE s2x.e * st.n > st.e * s2x.n
                    OR (s2x.e * st.n = st.e * s2x.n
                        AND s2x.round < st.round)) AS is_best
        FROM st ORDER BY round""")),

    // ── Benford first-digit audit census ──
    // The classic fabricated-data screen (Newcomb 1881; Benford 1938;
    // Nigrini's audit practice): naturally-grown magnitudes lead with
    // 1 about 30.1% of the time, and ledgers that don't deserve a
    // look. Census of extendedprice leading digits against the
    // [[BenfordPpm]] literal expectations — leading digit via string
    // head of the cents integer (identical text semantics in both
    // engines for positive integers, no log in either plan),
    // observed shares in exact floor-ppm (n_obs·10⁶ div N, good to
    // N < 2⁶³⁻²⁰ rows), one map-side-combined digit groupBy + a
    // broadcast 9-row expectation join + a broadcast 1-row total.
    // All nine digits emit even at zero observations.
    "q_benford" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val cents = Tables.lineitem(s, d)
          .select((dec($"l_extendedprice") * 100).cast(LongType).as("cents"))
          .filter($"cents" > 0L)
          .pin() // total + the digit census
        val n = cents.agg(count(lit(1)).as("n"))
        val expDf = BenfordPpm.zipWithIndex
          .map { case (e, i) => (i + 1L, e) }.toDF("digit", "exp_ppm")
        val obs = cents
          .select(expr("cast(substring(cast(cents as string), 1, 1) as bigint)")
            .as("digit"))
          .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
        expDf.join(obs, Seq("digit"), "left")
          .crossJoin(broadcast(n))
          .select($"digit", coalesce($"n_obs", lit(0L)).as("n_obs"),
            $"exp_ppm",
            expr("coalesce(n_obs, 0) * 1000000 div n").as("obs_ppm"),
            (expr("coalesce(n_obs, 0) * 1000000 div n") - $"exp_ppm")
              .as("dev_ppm"))
          .orderBy($"digit")
      },
      oracle = Some {
        val valuesSql = BenfordPpm.zipWithIndex
          .map { case (e, i) => s"(${i + 1}, $e)" }.mkString(", ")
        s"""
        WITH v AS (
          SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
            AS BIGINT) AS cents FROM lineitem),
        vp AS (SELECT cents FROM v WHERE cents > 0),
        nn AS (SELECT COUNT(*) AS n FROM vp),
        e AS (SELECT * FROM (VALUES $valuesSql) t(digit, exp_ppm)),
        o AS (
          SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                   AS digit,
                 COUNT(*) AS n_obs
          FROM vp GROUP BY 1)
        SELECT CAST(e.digit AS BIGINT) AS digit,
               CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
               CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
               CAST(COALESCE(o.n_obs, 0) * 1000000 // nn.n AS BIGINT)
                 AS obs_ppm,
               CAST(COALESCE(o.n_obs, 0) * 1000000 // nn.n - e.exp_ppm
                 AS BIGINT) AS dev_ppm
        FROM e LEFT JOIN o ON o.digit = e.digit, nn
        ORDER BY digit"""
      }),

    // ── TPC-H Q1 analog: full-scan aggregate with exact decimal math ──
    "q1_pricing_summary" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .filter($"l_shipdate" <= ts("1998-09-01T00:00:00"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            dsum($"l_quantity").as("sum_qty"),
            dsum($"l_extendedprice").as("sum_base_price"),
            dsumExpr(dec($"l_extendedprice") * omd($"l_discount")).as("sum_disc_price"),
            dsumExpr(dec($"l_extendedprice") * omd($"l_discount") * opt($"l_tax")).as("sum_charge"),
            davg($"l_quantity").as("avg_qty"),
            davg($"l_extendedprice").as("avg_price"),
            davg($"l_discount").as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(${sqlD.format("l_quantity")}) AS DOUBLE) AS sum_qty,
          CAST(SUM(${sqlD.format("l_extendedprice")}) AS DOUBLE) AS sum_base_price,
          CAST(SUM(${sqlD.format("l_extendedprice")} * $sqlOmd) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(${sqlD.format("l_extendedprice")} * $sqlOmd * $sqlOpt) AS DOUBLE) AS sum_charge,
          CAST(SUM(${sqlD.format("l_quantity")}) AS DOUBLE) / COUNT(*) AS avg_qty,
          CAST(SUM(${sqlD.format("l_extendedprice")}) AS DOUBLE) / COUNT(*) AS avg_price,
          CAST(SUM(${sqlD.format("l_discount")}) AS DOUBLE) / COUNT(*) AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      headline = true),

    // ── incremental aggregate maintenance (materialized-view fold) ──
    // The IVM shape: "yesterday's" partial aggregates (count / decimal
    // sums / min / max per group — every one MERGEABLE) fold with an
    // increment's partials instead of re-scanning history. Both phases
    // are map-side-combined groupBys; the fold itself aggregates
    // O(groups) rows. Decimal sums make the fold EXACTLY equal to the
    // one-pass aggregation (double sums would drift with association
    // order), which is what the oracle asserts: DuckDB computes the
    // single-pass GROUP BY over everything, and the folded result must
    // hash-match it. At 100 TB the state side is a persisted
    // group-bucketed partials table (the `incrementalAgainstState`
    // pattern of the dedup pack) and each day folds only its increment.
    "agg_incremental_fold" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d).select($"l_returnflag", $"l_linestatus",
          $"l_orderkey", $"l_quantity", $"l_extendedprice")
        def partials(df: DataFrame): DataFrame =
          df.groupBy($"l_returnflag", $"l_linestatus")
            .agg(count(lit(1)).as("n"),
              sum(dec($"l_quantity")).as("sq"),
              sum(dec($"l_extendedprice")).as("sp"),
              min($"l_orderkey").as("mno"), max($"l_orderkey").as("mxo"))
        val state = partials(li.filter($"l_orderkey" % 8 < 6))
        val increment = partials(li.filter($"l_orderkey" % 8 >= 6))
        state.union(increment)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(sum($"n").as("n_rows"),
            sum($"sq").cast(DoubleType).as("sum_qty"),
            sum($"sp").cast(DoubleType).as("sum_price"),
            min($"mno").as("min_orderkey"), max($"mxo").as("max_orderkey"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(${sqlD.format("l_quantity")}) AS DOUBLE) AS sum_qty,
          CAST(SUM(${sqlD.format("l_extendedprice")}) AS DOUBLE) AS sum_price,
          MIN(l_orderkey) AS min_orderkey, MAX(l_orderkey) AS max_orderkey
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ── TPC-H Q3 analog: 3-way join, aggregate, top-10 ──
    "q3_shipping_priority" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
        val ord = Tables.orders(s, d).filter($"o_orderdate" < ts("1998-03-15T00:00:00"))
        val li = Tables.lineitem(s, d).filter($"l_shipdate" > ts("1998-03-15T00:00:00"))
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
          .agg(dsumExpr(dec($"l_extendedprice") * omd($"l_discount")).as("revenue"))
          .orderBy($"revenue".desc, $"l_orderkey")
          .limit(10)
      },
      oracle = Some(s"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
          CAST(SUM(${sqlD.format("l_extendedprice")} * $sqlOmd) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10"""),
      headline = true),

    // ── TPC-H Q5 analog: 6-way join (2 broadcast dims), group by nation ──
    "q5_local_supplier" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val region = Tables.region(s, d).filter($"r_name" === "EUROPE")
        val nation = Tables.nation(s, d)
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
          .filter($"o_orderdate" >= ts("1996-01-01T00:00:00") &&
                  $"o_orderdate" < ts("1998-01-01T00:00:00"))
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
          .join(broadcast(Tables.supplier(s, d)),
            $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(dsumExpr(dec($"l_extendedprice") * omd($"l_discount")).as("revenue"))
          .orderBy($"revenue".desc, $"n_name")
      },
      oracle = Some(s"""
        SELECT n_name,
          CAST(SUM(${sqlD.format("l_extendedprice")} * $sqlOmd) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name"""),
      headline = false),

    // ── TPC-H Q6 analog: pure filter + single aggregate (pushdown test) ──
    "q6_revenue_forecast" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .filter($"l_shipdate" >= ts("1996-01-01T00:00:00") &&
                  $"l_shipdate" < ts("1997-01-01T00:00:00") &&
                  $"l_discount" >= 0.02 && $"l_discount" <= 0.06 &&
                  $"l_quantity" < 24)
          .agg(dsumExpr(dec($"l_extendedprice") * rate($"l_discount")).as("revenue"),
               count(lit(1)).as("n_rows"))
      },
      oracle = Some(s"""
        SELECT
          CAST(SUM(${sqlD.format("l_extendedprice")} * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.02 AND l_discount <= 0.06
          AND l_quantity < 24"""),
      headline = false),

    // ── semi join: customers having an urgent order, counted by segment ──
    "q_semi_join" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val urgent = Tables.orders(s, d).filter($"o_orderpriority" === "1-URGENT")
        Tables.customer(s, d)
          .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy($"c_mktsegment")
      },
      oracle = Some("""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ── Bloom-filter semi-join reduction under a contract ──
    // The 100 TB shuffle-avoidance move: instead of shuffling the full
    // probe side into a semi join, build a Bloom filter over the
    // (filtered) build side's keys — a single small aggregate — and
    // pre-filter the probe with might_contain as a MAP-ONLY scan.
    // The sketch bits are engine-specific, so the oracle-checkable
    // claims are the filter's guarantees: NO false negatives (every
    // true member passes — bloom_pass counts per segment must be ≥ the
    // exact semi-join counts, asserted as a boolean next to the exact
    // value) and a sane false-positive rate (pass count within 2% of
    // exact). The filter is sized FROM THE DATA — 16 bits per
    // approx-distinct build key (FPR ≈ 5e-4 at any SF) — because a
    // hardcoded capacity silently degrades the FPR the moment the
    // build side outgrows it. DuckDB recomputes the exact counts and
    // expects both bounds to hold.
    "q_bloom_semi_reduction" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // three consumers (NDV sizing, sketch build, exact semi join):
        // checkpoint so the filtered scan runs once
        val urgent = Tables.orders(s, d)
          .filter($"o_orderpriority" === "1-URGENT")
          .select($"o_custkey")
          .pin()
        val rawItems = math.max(1L,
          urgent.agg(approx_count_distinct($"o_custkey", 0.05).as("n"))
            .head().getLong(0))
        // BloomFilterAggregate rejects (AnalysisException) estimates
        // beyond the runtime-filter caps — clamp to the session's
        // configured limits (Spark defaults: 4M items, 2^26 bits) so
        // the query keeps running past ~4M build NDV, at a degraded
        // FPR the downstream exact-count contract columns still bound.
        val maxItems = s.conf.get(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
        val maxBits = s.conf.get(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
        val items = math.min(rawItems, maxItems)
        val numBits = math.min(rawItems * 16L, maxBits)
        if (rawItems > maxItems || rawItems * 16L > maxBits)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"bloom build NDV $rawItems exceeds configured caps " +
              s"($maxItems items / $maxBits bits); sketch FPR degrades " +
              "above the 16-bits-per-item design point")
        // might_contain requires a CONSTANT (or scalar-subquery) sketch
        // — the same shape Spark's own InjectRuntimeFilter produces: the
        // filter materializes on the driver (bounded: numBits/8 bytes
        // regardless of data size) and ships to executors as a literal,
        // so the probe is a genuinely map-only scan.
        val bf = urgent.agg(
          graft.functions.Bloom
            .bloomFilterAgg($"o_custkey", items, numBits).as("bf"))
          .head().getAs[Array[Byte]]("bf")
        val passed = Tables.customer(s, d)
          .filter(graft.functions.Bloom.mightContain(lit(bf), $"c_custkey"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("bloom_pass"))
        val exact = Tables.customer(s, d)
          .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("exact_members"))
        exact.join(passed, Seq("c_mktsegment"))
          .select($"c_mktsegment", $"exact_members",
            ($"bloom_pass" >= $"exact_members").as("no_false_negatives"),
            ($"bloom_pass" <= ($"exact_members".cast(DoubleType) * 1.02))
              .as("fpr_under_2pct"))
          .orderBy($"c_mktsegment")
      },
      oracle = Some("""
        SELECT c_mktsegment,
               COUNT(*) AS exact_members,
               TRUE AS no_false_negatives,
               TRUE AS fpr_under_2pct
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ── anti join: customers with no urgent orders ──
    "q_anti_join" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val urgent = Tables.orders(s, d).filter($"o_orderpriority" === "1-URGENT")
        Tables.customer(s, d)
          .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_customers"), sum($"c_custkey").as("custkey_sum"))
          .orderBy($"c_mktsegment")
      },
      oracle = Some("""
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(c_custkey) AS BIGINT) AS custkey_sum
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ── window: top-3 orders per customer by total price ──
    "q_window_topk" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        Tables.orders(s, d)
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"o_custkey", $"rk", $"o_orderkey",
            dec($"o_totalprice").cast(DoubleType).as("total_price"))
          .orderBy($"o_custkey", $"rk")
      },
      oracle = Some(top3OrdersPerCustomerSql),
      headline = false),

    // ── rollup aggregate with grouping() disambiguation ──
    "q_rollup" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
            grouping($"l_returnflag").as("g_rf"),
            grouping($"l_linestatus").as("g_ls"))
          .select(
            when($"g_rf" === 1, lit("ALL")).otherwise($"l_returnflag").as("returnflag"),
            when($"g_ls" === 1, lit("ALL")).otherwise($"l_linestatus").as("linestatus"),
            $"sum_qty", $"n_rows")
          .orderBy($"returnflag", $"linestatus")
      },
      oracle = Some("""
        SELECT
          CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
          CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus""")),

    // ── window-relative filter: orders above their status's average ──
    "q_above_avg" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"o_orderstatus")
        Tables.orders(s, d)
          .withColumn("status_avg",
            (sum(dec($"o_totalprice")).over(w).cast(DoubleType) /
              count(lit(1)).over(w)))
          .filter(dec($"o_totalprice").cast(DoubleType) > $"status_avg")
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_above"), dsum($"o_totalprice").as("sum_above"))
          .orderBy($"o_orderstatus")
      },
      oracle = Some("""
        WITH w AS (
          SELECT o_orderstatus, o_totalprice,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                   OVER (PARTITION BY o_orderstatus) AS DOUBLE) /
            COUNT(*) OVER (PARTITION BY o_orderstatus) AS status_avg
          FROM orders)
        SELECT o_orderstatus, COUNT(*) AS n_above,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_above
        FROM w
        WHERE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) > status_avg
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // ── pivot: status × priority counts as columns ──
    "q_pivot" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val pivoted = Tables.orders(s, d)
          .groupBy($"o_orderstatus")
          .pivot($"o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .toDF("status", "p1_urgent", "p2_high", "p3_medium", "p4_notspec", "p5_low")
        // pivot yields NULL for empty cells; COUNT semantics (and the
        // oracle's FILTER form) require 0
        pivoted.select($"status" +:
          pivoted.columns.tail.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
          .orderBy($"status")
      },
      oracle = Some("""
        SELECT o_orderstatus AS status,
          COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1_urgent,
          COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2_high,
          COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3_medium,
          COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4_notspec,
          COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5_low
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY status""")),

    // ── range (non-equi) join: orders binned into broadcast price bands ──
    "q_range_join" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val bands = s.range(5).select(
          $"id".as("band"),
          ($"id" * 100000L).as("lo"),
          (($"id" + 1L) * 100000L).as("hi"))
        Tables.orders(s, d)
          .join(broadcast(bands),
            $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
          .groupBy($"band")
          .agg(count(lit(1)).as("n_orders"),
            dsum($"o_totalprice").as("sum_price"))
          .orderBy($"band")
      },
      oracle = Some("""
        SELECT band, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        JOIN (SELECT i AS band, i*100000 AS lo, (i+1)*100000 AS hi
              FROM range(5) t(i))
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
        ORDER BY band""")),

    // ── cube aggregate (all grouping-set combinations) ──
    "q_cube" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(dsum($"o_totalprice").as("sum_price"), count(lit(1)).as("n_rows"),
            grouping($"o_orderstatus").as("g_s"),
            grouping($"o_orderpriority").as("g_p"))
          .select(
            when($"g_s" === 1, lit("ALL")).otherwise($"o_orderstatus").as("status"),
            when($"g_p" === 1, lit("ALL")).otherwise($"o_orderpriority").as("priority"),
            $"sum_price", $"n_rows")
          .orderBy($"status", $"priority")
      },
      oracle = Some("""
        SELECT
          CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
          CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
          COUNT(*) AS n_rows
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),

    // ── exact interpolated percentiles (rounded for FP-formula parity) ──
    "q_percentiles" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val price = dec($"o_totalprice").cast(DoubleType)
        def pct(p: Double) = round(percentile(price, lit(p)), 4)
        Tables.orders(s, d)
          .groupBy($"o_orderstatus")
          .agg(pct(0.5).as("p50"), pct(0.9).as("p90"), count(lit(1)).as("n_rows"))
          .orderBy($"o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus,
          round(quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 0.5), 4) AS p50,
          round(quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 0.9), 4) AS p90,
          COUNT(*) AS n_rows
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // ── approximate percentile (KLL-style sketch) under a contract ──
    // Like agg_approx_distinct: the sketch value is engine-specific, so
    // the oracle-checkable claim is the accuracy contract — with
    // accuracy=10000 the rank error is ≤ n/10000 rows, far inside the
    // [p45, p55] exact-percentile band asserted here. Booleans are
    // computed Spark-side from Spark's own exact percentiles, so no
    // cross-engine float comparison sits on a knife edge.
    "agg_approx_percentile" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val price = dec($"o_totalprice").cast(DoubleType)
        Tables.orders(s, d)
          .groupBy($"o_orderstatus")
          .agg(
            percentile_approx(price, lit(0.5), lit(10000)).as("approx"),
            percentile(price, lit(0.45)).as("lo"),
            percentile(price, lit(0.55)).as("hi"),
            count(lit(1)).as("n_rows"))
          .select($"o_orderstatus", $"n_rows",
            ($"approx" >= $"lo" && $"approx" <= $"hi").as("approx_in_p45_p55"))
          .orderBy($"o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n_rows, TRUE AS approx_in_p45_p55
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // ── exact k-th order statistic by multi-round bucket selection ──
    // Exact global quantiles WITHOUT a global sort — the classic
    // distributed SELECTION algorithm, with the driver collect bounded
    // by a CONSTANT regardless of the value domain (the round-8 scheme
    // collected one fixed-width histogram, O(domain/W) rows — bounded
    // at the cents domain, driver-risky at an unbounded one): each
    // round histograms the CURRENT range into ≤128 equal-width coarse
    // buckets and recurses into the one holding rank k, until the
    // range fits 128 of the final W-wide buckets; the last round
    // locates the k-th row's W-bucket and pass 2 ranks ONLY that
    // bucket (globalRank — range partition, zero post-sort shuffles)
    // and projects the row at the offset. The narrowing is invisible
    // in the output — bucket/bucket_count/offset keep the fixed
    // cents-div-W contract, so the definitional oracle is unchanged.
    // Four ranks (p25/p50/p75/p90) share each round's histogram via
    // memoization; every driver collect is ≤ 129 rows (spec-gated
    // across a 10^12-wide synthetic domain). Contrast q_percentiles
    // (per-GROUP exact percentile aggregate) and q_ntile_global (every
    // row labeled): this answers "the exact global p99" on 10^12 rows
    // while sorting only the target bucket. k = ceil(p·n/100); ties in
    // `cents` make any in-bucket tie order yield the same VALUE, so
    // the selection is deterministic end to end. The oracle re-derives
    // buckets, offsets, and the selected values by definition (global
    // window rank — fine single-node, the exact thing this plan
    // avoids).
    "q_select_kth" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val v = Tables.lineitem(s, d)
          .select((dec($"l_extendedprice") * 100).cast(LongType).as("cents"))
          .pin() // histograms + the per-rank bucket scans
        selectKthCents(v, Seq(25L, 50L, 75L, 90L), W = 10000L)
      },
      oracle = Some("""
        WITH v AS (
          SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
            AS BIGINT) AS cents FROM lineitem),
        nn AS (SELECT COUNT(*) AS n FROM v),
        ks AS (
          SELECT CAST(p AS BIGINT) AS p, n, (p * n + 99) // 100 AS k
          FROM (VALUES (25), (50), (75), (90)) t(p), nn),
        hist AS (
          SELECT cents // 10000 AS b, COUNT(*) AS c FROM v GROUP BY 1),
        cum AS (
          SELECT b, c, SUM(c) OVER (ORDER BY b) AS cm FROM hist),
        sel AS (
          SELECT ks.p, ks.n, ks.k, MIN(cum.b) AS bucket
          FROM ks JOIN cum ON cum.cm >= ks.k
          GROUP BY ks.p, ks.n, ks.k),
        bs AS (
          SELECT sel.p, sel.n, sel.k, sel.bucket, cum.c AS bucket_count,
                 sel.k - (cum.cm - cum.c) AS offset_in_bucket
          FROM sel JOIN cum ON cum.b = sel.bucket),
        rv AS (
          SELECT cents, cents // 10000 AS b,
                 row_number() OVER (PARTITION BY cents // 10000
                   ORDER BY cents) AS rn
          FROM v)
        SELECT bs.p, bs.n, CAST(bs.k AS BIGINT) AS k, bs.bucket,
               CAST(bs.bucket_count AS BIGINT) AS bucket_count,
               CAST(bs.offset_in_bucket AS BIGINT) AS offset_in_bucket,
               rv.cents AS value_cents
        FROM bs JOIN rv ON rv.b = bs.bucket AND rv.rn = bs.offset_in_bucket
        ORDER BY p""")),

    // ── per-group weighted median (keyed prefix sum, no window) ──
    // The robust per-group center when rows carry mass: the lower
    // weighted median is the smallest value whose cumulative weight
    // reaches half the group total (2·cum ≥ W, exact integers — no
    // halving division). Quantity-weighted price per return flag.
    // The running weight rides [[keyedPrefixSum]] (range partition on
    // (flag, cents, tiebreak), per-key offsets, O(parts + keys)
    // driver rows) — NEVER a single-task-per-flag window, the same
    // scale posture as llm_token_budget; the crossing row is one
    // min(struct) aggregate per flag (weights ≥ 1 make psum strictly
    // increasing, so the min is the unique first crossing). The
    // oracle uses the definitional per-flag window cumsum — fine at
    // oracle scale, and it hash-checks the distributed prefix sum.
    "q_weighted_median" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_returnflag".as("flag"),
            (dec($"l_extendedprice") * 100).cast(LongType).as("cents"),
            dec($"l_quantity").cast(LongType).as("w"),
            $"l_orderkey", $"l_linenumber")
        val cum = keyedPrefixSum(s, li, "flag",
          Seq($"cents", $"l_orderkey", $"l_linenumber"), "w")
        val tot = li.groupBy($"flag").agg(sum($"w").as("wtot"))
        cum.join(broadcast(tot), Seq("flag"))
          .filter($"psum" * 2L >= $"wtot")
          .groupBy($"flag")
          .agg(min(struct($"psum".as("ps"), $"cents".as("ce"))).as("fst"),
            max($"wtot").as("wt")) // wtot is constant per flag
          .select($"flag", $"fst".getField("ce").as("median_cents"),
            $"wt".as("total_weight"))
          .orderBy($"flag")
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_returnflag AS flag,
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                   AS BIGINT) AS cents,
                 CAST(l_quantity AS BIGINT) AS w,
                 l_orderkey, l_linenumber
          FROM lineitem),
        cum AS (
          SELECT flag, cents, w,
                 SUM(w) OVER (PARTITION BY flag
                   ORDER BY cents, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS psum
          FROM li),
        tot AS (SELECT flag, SUM(w) AS wtot FROM li GROUP BY flag),
        sel AS (
          SELECT c.flag, c.cents, c.psum, t.wtot,
                 ROW_NUMBER() OVER (PARTITION BY c.flag
                   ORDER BY c.psum) AS rn
          FROM cum c JOIN tot t USING (flag)
          WHERE c.psum * 2 >= t.wtot)
        SELECT flag, cents AS median_cents,
               CAST(wtot AS BIGINT) AS total_weight
        FROM sel WHERE rn = 1 ORDER BY flag""")),

    // ── GLOBAL ntile, distributed (no single-partition window) ──
    // Deciles of the whole orders table by price via [[globalNtile]]
    // — the scale-safe replacement for `ntile(10) OVER (ORDER BY …)`,
    // which would funnel the entire table through ONE task. See the
    // helper's scaladoc for the plan shape (range sort → bounded
    // count collect → rank by projection, zero post-sort shuffles).
    "q_ntile_global" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        globalNtile(s,
            Tables.orders(s, d)
              .select($"o_orderkey", $"o_totalprice",
                dec($"o_totalprice").cast(DoubleType).as("price")),
            k = 10L, sortCols = Seq($"price", $"o_orderkey"))
          .withColumnRenamed("tile", "decile")
          .groupBy($"decile")
          .agg(count(lit(1)).as("n_orders"),
            min($"price").as("min_price"),
            max($"price").as("max_price"),
            dsum($"o_totalprice").as("sum_price"))
          .orderBy($"decile")
      },
      oracle = Some("""
        WITH t AS (
          SELECT o_totalprice,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
                 CAST(ntile(10) OVER (
                   ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE),
                            o_orderkey) AS BIGINT) AS decile
          FROM orders)
        SELECT decile, COUNT(*) AS n_orders,
               MIN(price) AS min_price, MAX(price) AS max_price,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM t
        GROUP BY decile
        ORDER BY decile""")),

    // ── LATERAL correlated subquery (SQL surface) ──
    // Per-nation top-2 customers by balance through a correlated
    // LATERAL subquery with ORDER BY + LIMIT — the dependent-join
    // operator class, exercised through spark.sql to prove the SQL
    // front door works alongside the DataFrame surface. Catalyst
    // decorrelates the limit into a per-key ranking (no per-row
    // re-execution), so the plan is the same shuffle-once shape as the
    // window top-k — which is exactly why the decorrelation matters at
    // 100 TB.
    "q_lateral_topn" -> QueryDef(
      fn = (s, d) => {
        // per-invocation view names: two concurrent invocations (even
        // against different sf dirs) in one shared SparkSession can
        // never interleave each other's createOrReplace/sql/drop —
        // fixed names made the eager-analysis note cover only
        // sequential use
        val tag = lateralViewTag.incrementAndGet()
        val vNation = s"lat_nation_$tag"
        val vCustomer = s"lat_customer_$tag"
        Tables.nation(s, d).createOrReplaceTempView(vNation)
        Tables.customer(s, d).createOrReplaceTempView(vCustomer)
        val df = s.sql(s"""
          SELECT n.n_name, t.c_custkey, t.acctbal
          FROM $vNation n JOIN LATERAL (
            SELECT c_custkey,
                   CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
            FROM $vCustomer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY acctbal DESC, c_custkey
            LIMIT 2) t
          ORDER BY n.n_name, t.c_custkey""")
        // sql() analyzes eagerly (views are resolved into the plan), so
        // dropping now keeps the shared session catalog clean
        s.catalog.dropTempView(vNation)
        s.catalog.dropTempView(vCustomer)
        df
      },
      oracle = Some("""
        SELECT n.n_name, t.c_custkey, t.acctbal
        FROM nation n, LATERAL (
          SELECT c_custkey,
                 CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
          FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY acctbal DESC, c_custkey
          LIMIT 2) t
        ORDER BY n.n_name, t.c_custkey""")),

    // ── exact distinct aggregates ──
    "q_distinct_agg" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_partkey").as("n_parts"),
            countDistinct($"l_suppkey").as("n_supps"),
            countDistinct($"l_orderkey").as("n_orders"),
            count(lit(1)).as("n_rows"))
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
          COUNT(DISTINCT l_partkey) AS n_parts,
          COUNT(DISTINCT l_suppkey) AS n_supps,
          COUNT(DISTINCT l_orderkey) AS n_orders,
          COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ── set op: EXCEPT (distinct semantics in both engines) ──
    "q_setop_except" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val open = Tables.orders(s, d).filter($"o_orderstatus" === "O").select($"o_custkey")
        val done = Tables.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
        open.except(done).orderBy($"o_custkey")
      },
      oracle = Some("""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        ORDER BY o_custkey""")),

    // ── set op: INTERSECT ──
    "q_setop_intersect" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val open = Tables.orders(s, d).filter($"o_orderstatus" === "O").select($"o_custkey")
        val done = Tables.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
        open.intersect(done).orderBy($"o_custkey")
      },
      oracle = Some("""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        ORDER BY o_custkey""")),

    // ── multiset set ops: EXCEPT ALL / INTERSECT ALL cardinalities ──
    "q_setop_all" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val open = Tables.orders(s, d).filter($"o_orderstatus" === "O").select($"o_custkey")
        val done = Tables.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
        open.exceptAll(done).groupBy($"o_custkey").agg(count(lit(1)).as("n_copies"))
          .unionByName(
            open.intersectAll(done).groupBy($"o_custkey")
              .agg((count(lit(1)) * -1).as("n_copies")))
          .orderBy($"o_custkey", $"n_copies")
      },
      oracle = Some("""
        SELECT o_custkey, n_copies FROM (
          SELECT o_custkey, COUNT(*) AS n_copies FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
          GROUP BY o_custkey
          UNION ALL
          SELECT o_custkey, -COUNT(*) AS n_copies FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
          GROUP BY o_custkey)
        ORDER BY o_custkey, n_copies""")),

    // ── Pearson correlation from exact decimal sums (bit-identical both
    //    engines — the built-in corr() merges FP partials in
    //    engine-specific order and cannot hash-match) ──
    "q_corr_manual" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val q = dec($"l_quantity")
        val p = dec($"l_extendedprice")
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(q).cast(DoubleType).as("sx"),
            sum(p).cast(DoubleType).as("sy"),
            sum(q * q).cast(DoubleType).as("sxx"),
            sum(p * p).cast(DoubleType).as("syy"),
            sum(q * p).cast(DoubleType).as("sxy"))
          .select($"l_returnflag", $"n",
            // guards: a zero-variance group yields NULL in both engines
            // (Spark double/0 would give Infinity, DuckDB NULL), and the
            // variance product is clamped at 0 first — double rounding
            // can push it a few ulps NEGATIVE for near-constant groups,
            // where Spark's sqrt returns NaN but DuckDB's ERRORS out
            // round(12) kills the 1-ulp knife edge DuckDB's fused
            // multiply-add can open in n·sxy − sx·sy (observed at
            // sf0.001, flag A) — the correlation itself is unaffected
            round(($"n" * $"sxy" - $"sx" * $"sy") /
              nullif(sqrt(greatest(lit(0.0),
                ($"n" * $"sxx" - $"sx" * $"sx") *
                  ($"n" * $"syy" - $"sy" * $"sy"))), lit(0.0)), 12)
              .as("corr_qty_price"))
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        WITH s AS (
          SELECT l_returnflag, COUNT(*) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
          round((n * sxy - sx * sy) /
            NULLIF(sqrt(greatest(0.0,
              (n * sxx - sx * sx) * (n * syy - sy * sy))), 0.0), 12)
            AS corr_qty_price
        FROM s
        ORDER BY l_returnflag""")),

    // ── broadcast dim join: parts by brand revenue ──
    "q_dim_join_brand" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
          .groupBy($"p_brand")
          .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
          .orderBy($"p_brand")
      },
      oracle = Some("""
        SELECT p_brand,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n_rows
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand"""),
      headline = false),

    // ── sort + limit: top-100 line items by price ──
    "q_orderby_limit" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_linenumber",
            dec($"l_extendedprice").cast(DoubleType).as("price"))
          .orderBy($"price".desc, $"l_orderkey", $"l_linenumber")
          .limit(100)
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM lineitem
        ORDER BY price DESC, l_orderkey, l_linenumber
        LIMIT 100""")),

    // ── per-key top-k via the typed bounded-buffer Aggregator: same
    //    result (and oracle) as q_window_topk, but the shuffle carries
    //    at most k rows per key instead of every row ──
    "q_topk_aggregate" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // untyped UDAF registration keeps the whole plan in DataFrame
        // land (no groupByKey object conversion); the aggregator's
        // bounded k-element buffer still caps map-side output at k rows
        // per key. Rank by the RAW price (matching the oracle's
        // ROW_NUMBER and the window variant); only the OUTPUT value
        // goes through the decimal cast — otherwise >2dp prices would
        // rank differently here
        val topk = udaf(new graft.functions.TopKAggregator(3))
        Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(topk($"o_totalprice", $"o_orderkey").as("top"))
          .select($"o_custkey",
            posexplode(arrays_zip($"top.scores", $"top.ids")).as(Seq("i", "pair")))
          .select($"o_custkey",
            ($"i" + 1).cast(LongType).as("rk"),
            $"pair.ids".as("o_orderkey"),
            dec($"pair.scores").cast(DoubleType).as("total_price"))
          .orderBy($"o_custkey", $"rk")
      },
      oracle = Some(top3OrdersPerCustomerSql),
      headline = true),

    // ── top-k under GIANT groups: the regime the bounded-buffer
    //    aggregator exists for. Grouping by o_orderstatus (3 values)
    //    makes each group ~n/3 rows: the window plan must shuffle EVERY
    //    row into 3 partitions and sort them single-threaded per group,
    //    while the aggregator map-side-combines to k rows per key per
    //    partition — shuffle volume k×3×partitions, no skewed sort.
    //    Both are headline so the bench records the gap; identical
    //    oracle = identical results. ──
    "q_topk_skew_aggregate" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val topk = udaf(new graft.functions.TopKAggregator(3))
        Tables.orders(s, d)
          .groupBy($"o_orderstatus")
          .agg(topk($"o_totalprice", $"o_orderkey").as("top"))
          .select($"o_orderstatus",
            posexplode(arrays_zip($"top.scores", $"top.ids")).as(Seq("i", "pair")))
          .select($"o_orderstatus",
            ($"i" + 1).cast(LongType).as("rk"),
            $"pair.ids".as("o_orderkey"),
            dec($"pair.scores").cast(DoubleType).as("total_price"))
          .orderBy($"o_orderstatus", $"rk")
      },
      oracle = Some(topkSkewSql)),

    "q_topk_skew_window" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"o_orderstatus")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        Tables.orders(s, d)
          .withColumn("rk", row_number().over(w).cast(LongType))
          .filter($"rk" <= 3)
          .select($"o_orderstatus", $"rk", $"o_orderkey",
            dec($"o_totalprice").cast(DoubleType).as("total_price"))
          .orderBy($"o_orderstatus", $"rk")
      },
      oracle = Some(topkSkewSql),
      headline = false),

    // ── full outer join: nations' supplier presence vs customer
    //    presence (the high-balance supplier filter leaves some nations
    //    supplier-less, so both null sides actually occur) ──
    "q_full_outer" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val sc = Tables.supplier(s, d).filter($"s_acctbal" > 9000)
          .groupBy($"s_nationkey".as("nationkey"))
          .agg(count(lit(1)).as("n_rich_suppliers"))
        val cc = Tables.customer(s, d).filter($"c_acctbal" > 9000)
          .groupBy($"c_nationkey".as("nationkey"))
          .agg(count(lit(1)).as("n_rich_customers"))
        sc.join(cc, Seq("nationkey"), "full_outer")
          .select($"nationkey",
            coalesce($"n_rich_suppliers", lit(0L)).as("n_rich_suppliers"),
            coalesce($"n_rich_customers", lit(0L)).as("n_rich_customers"))
          .orderBy($"nationkey")
      },
      oracle = Some("""
        WITH sc AS (
          SELECT s_nationkey AS nationkey, COUNT(*) AS n_rich_suppliers
          FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey),
        cc AS (
          SELECT c_nationkey AS nationkey, COUNT(*) AS n_rich_customers
          FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey)
        SELECT COALESCE(sc.nationkey, cc.nationkey) AS nationkey,
               COALESCE(n_rich_suppliers, 0) AS n_rich_suppliers,
               COALESCE(n_rich_customers, 0) AS n_rich_customers
        FROM sc FULL OUTER JOIN cc ON sc.nationkey = cc.nationkey
        ORDER BY nationkey""")),

    // ── unpivot (melt): wide per-status counts back to long via the
    //    Dataset.unpivot API (stack()'s typed face) ──
    "q_unpivot" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupBy($"o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .count()
          .na.fill(0L, Seq("F", "O", "P"))
          .unpivot(Array($"o_orderpriority"), Array($"F", $"O", $"P"),
            "status", "n_orders")
          .orderBy($"o_orderpriority", $"status")
      },
      oracle = Some("""
        WITH counts AS (
          SELECT o_orderpriority,
            COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS f,
            COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS o,
            COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS p
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, status, CAST(n_orders AS BIGINT) AS n_orders
        FROM (
          SELECT o_orderpriority, 'F' AS status, f AS n_orders FROM counts
          UNION ALL
          SELECT o_orderpriority, 'O', o FROM counts
          UNION ALL
          SELECT o_orderpriority, 'P', p FROM counts)
        ORDER BY o_orderpriority, status""")),

    // ── GROUPING SETS: arbitrary grouping combinations in one pass
    //    (rollup/cube's general form; Spark expands to a single
    //    Expand+Aggregate, one shuffle for all three groupings) ──
    "q_grouping_sets" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupingSets(
            Seq(Seq($"o_orderstatus", $"o_orderpriority"),
              Seq($"o_orderstatus"), Seq.empty[org.apache.spark.sql.Column]),
            $"o_orderstatus", $"o_orderpriority")
          .agg(
            grouping_id().cast(LongType).as("gid"),
            count(lit(1)).as("n_orders"),
            dsum($"o_totalprice").as("sum_price"))
          .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY gid, o_orderstatus, o_orderpriority""")),

    // ── dropDuplicates: row-level dedup on a key subset ──
    "q_drop_duplicates" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // distinct (custkey, orderstatus) pairs — dropDuplicates on a
        // key subset is nondeterministic about which row survives, so
        // the verifiable face projects exactly the key columns
        Tables.orders(s, d)
          .select($"o_custkey", $"o_orderstatus")
          .dropDuplicates("o_custkey", "o_orderstatus")
          .orderBy($"o_custkey", $"o_orderstatus")
      },
      oracle = Some("""
        SELECT DISTINCT o_custkey, o_orderstatus
        FROM orders
        ORDER BY o_custkey, o_orderstatus""")),

    // ── scalar function zoo over orders ──
    "q_scalar_funcs" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .select(
            $"o_orderkey",
            upper(substring($"o_orderpriority", 3, 100)).as("prio_name"),
            regexp_extract($"o_orderpriority", "([0-9]+)", 1).cast(LongType).as("prio_num"),
            concat_ws("|", $"o_orderstatus", $"o_orderpriority").as("tag"),
            length($"o_orderpriority").as("prio_len"),
            coalesce(nullif($"o_orderstatus", lit("O")), lit("OPEN")).as("status_or_open"))
          .orderBy($"o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey,
          UPPER(SUBSTRING(o_orderpriority, 3, 100)) AS prio_name,
          CAST(regexp_extract(o_orderpriority, '([0-9]+)', 1) AS BIGINT) AS prio_num,
          CONCAT_WS('|', o_orderstatus, o_orderpriority) AS tag,
          LENGTH(o_orderpriority) AS prio_len,
          COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open
        FROM orders
        ORDER BY o_orderkey""")),

    // ── SCD type-2 dimension merge (Kimball slowly-changing dim) ──
    // The warehouse-maintenance twin of `agg_incremental_fold`: fold a
    // change batch into a versioned dimension, closing superseded
    // versions and keeping full history. The change batch is derived
    // deterministically from the dimension itself (updates: every
    // custkey ≡ 3 (mod 7) moves to segment 'MOVED' with nationkey+1
    // mod 25; inserts: every custkey ≡ 5 (mod 11) re-keyed past the
    // dimension's max key into segment 'NEW' — the offset is the
    // broadcast MAX(c_custkey), not a constant, so synthetic keys can
    // never collide with real ones at any scale factor), so the
    // oracle re-derives batch and merge from scratch. c_acctbal passes through bit-unchanged — no float
    // arithmetic at the oracle boundary. valid_to uses the Kimball
    // high-date sentinel (9999) instead of NULL so "open" rows compare
    // deterministically.
    // Plan shape: ONE pass over the dimension — a single equality
    // LEFT join against the (broadcast) update batch, matched rows
    // fanning into (closed old version, new current version) via a
    // 2-element array explode (map-side), inserts unioned on top. At
    // 100 TB the dimension is the big side and stays unshuffled
    // (broadcast batch); with a bucketed dimension table the fold is
    // `Bucketing.appendBucketAligned`'s zero-state-exchange shape —
    // real CDC batches are small against the dimension by definition.
    "q_scd2_merge" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        scd2VersionedDim(s, d).orderBy($"c_custkey", $"valid_from")
      },
      oracle = Some(s"""
        WITH $scd2DimCtes
        SELECT * FROM sdim
        ORDER BY c_custkey, valid_from""")),

    // ── SCD2 point-in-time (PIT) join ──
    // The lookup every versioned-dimension build exists to serve:
    // each fact row joins the dim VERSION valid at the fact's time —
    // join on the key EQUALITY (versions per key are few and bounded,
    // so the timeline band is a cheap post-join filter, never a range
    // join over the fact table), and the SCD2 validity invariant
    // (versions partition the timeline) guarantees exactly one
    // surviving row per fact. Shares [[scd2VersionedDim]] and the
    // `sdim` oracle CTEs with q_scd2_merge, so the dim this reads is
    // the hash-checked one. Fact time is o_orderkey mod 2, spanning
    // both sides of every update's version boundary.
    "q_scd2_pit_join" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val dimv = scd2VersionedDim(s, d)
        Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", ($"o_orderkey" % 2).as("t"))
          .join(dimv, $"o_custkey" === $"c_custkey" &&
            $"t" >= $"valid_from" && $"t" < $"valid_to")
          .select($"o_orderkey", $"o_custkey", $"t",
            $"c_mktsegment", $"c_nationkey")
          .orderBy($"o_orderkey")
      },
      oracle = Some(s"""
        WITH $scd2DimCtes,
        fact AS (
          SELECT o_orderkey, o_custkey, o_orderkey % 2 AS t FROM orders)
        SELECT f.o_orderkey, f.o_custkey, f.t,
               m.c_mktsegment, m.c_nationkey
        FROM fact f JOIN sdim m
          ON m.c_custkey = f.o_custkey
          AND f.t >= m.valid_from AND f.t < m.valid_to
        ORDER BY o_orderkey""")),

    // ── equi-height column histograms (ANALYZE ... FOR COLUMNS shape) ──
    // The optimizer-stats maintenance job every warehouse schedules:
    // per column, an 8-bucket equi-height histogram — bucket row
    // counts, [lo, hi] envelopes, and per-bucket NDV — the artifact
    // selectivity estimation and skew detection read. Rides
    // `globalNtile` (range repartition + rank-by-projection, ZERO
    // post-sort shuffles — never a single-partition global window),
    // with (value, l_orderkey, l_linenumber) as the total order so
    // bucket assignment is deterministic; values ride DECIMAL(12,2)
    // casts (exact) and surface as DOUBLE per the pack convention.
    // At 100 TB: one range-sort pass + one map-side-combined aggregate
    // per column — the same cost as writing the data sorted once.
    "q_stats_histogram" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        def hist(c: String): DataFrame = {
          val base = Tables.lineitem(s, d)
            .select(col(c).cast(DecimalType(12, 2)).cast(DoubleType).as("v"),
              $"l_orderkey", $"l_linenumber")
          globalNtile(s, base, 8L,
              Seq($"v", $"l_orderkey", $"l_linenumber"))
            .groupBy($"tile")
            .agg(count(lit(1)).as("n"),
              min($"v").as("lo"), max($"v").as("hi"),
              countDistinct($"v").as("ndv"))
            .select(lit(c).as("column_name"),
              $"tile".cast(LongType).as("bucket"), $"n", $"lo", $"hi",
              $"ndv")
        }
        hist("l_quantity").unionByName(hist("l_extendedprice"))
          .orderBy($"column_name", $"bucket")
      },
      oracle = Some("""
        WITH src AS (
          SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qv,
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS pv,
                 l_orderkey, l_linenumber
          FROM lineitem),
        qt AS (
          SELECT qv AS v, CAST(ntile(8) OVER (
                   ORDER BY qv, l_orderkey, l_linenumber) AS BIGINT) AS bucket
          FROM src),
        pt AS (
          SELECT pv AS v, CAST(ntile(8) OVER (
                   ORDER BY pv, l_orderkey, l_linenumber) AS BIGINT) AS bucket
          FROM src),
        h AS (
          SELECT 'l_quantity' AS column_name, bucket, COUNT(*) AS n,
                 MIN(v) AS lo, MAX(v) AS hi, COUNT(DISTINCT v) AS ndv
          FROM qt GROUP BY bucket
          UNION ALL
          SELECT 'l_extendedprice', bucket, COUNT(*),
                 MIN(v), MAX(v), COUNT(DISTINCT v)
          FROM pt GROUP BY bucket)
        SELECT column_name, bucket, n, lo, hi, ndv
        FROM h
        ORDER BY column_name, bucket""")),

    // ── snapshot diff (CDC derivation between two table versions) ──
    // The inverse of q_scd2_merge: SCD2 APPLIES a change stream; this
    // DERIVES one by comparing two full snapshots — the Delta-style
    // change-data-feed computation a pipeline runs when the upstream
    // can't emit its own CDC. new = a deterministic mutation of orders
    // (delete keys ≡ 0 mod 97, re-price keys ≡ 0 mod 89, insert a
    // collision-free twin for keys ≡ 0 mod 83 — same idiom as
    // q_scd2_merge's batch), so both engines construct identical
    // snapshots. The diff is ONE co-partitioned full-outer join on the
    // key with column-level IS DISTINCT FROM comparison — at 100 TB
    // both sides shuffle-hash on o_orderkey (or better, both snapshots
    // live bucketed on the key and the join is exchange-free); no
    // broadcast, no row-hash collision risk. Unchanged rows are
    // dropped BEFORE the sort, so the output is change-sized.
    "q_snapshot_diff" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val old = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
          .pin() // old snapshot + the mutation derive from one scan
        val neu = old.filter($"o_orderkey" % 97 =!= 0)
          .withColumn("o_totalprice",
            when($"o_orderkey" % 89 === 0, $"o_totalprice" + 1000.0)
              .otherwise($"o_totalprice"))
          .unionByName(old.filter($"o_orderkey" % 83 === 0)
            .select(($"o_orderkey" + lit(1000000000L)).as("o_orderkey"),
              $"o_orderstatus", lit(0.0).as("o_totalprice")))
        old.as("a").join(neu.as("b"),
            $"a.o_orderkey" === $"b.o_orderkey", "full_outer")
          .withColumn("change_type",
            when($"b.o_orderkey".isNull, lit("D"))
              .when($"a.o_orderkey".isNull, lit("I"))
              .when(!($"a.o_totalprice" <=> $"b.o_totalprice") ||
                !($"a.o_orderstatus" <=> $"b.o_orderstatus"), lit("U")))
          .filter($"change_type".isNotNull)
          .select(coalesce($"a.o_orderkey", $"b.o_orderkey").as("o_orderkey"),
            $"change_type",
            $"a.o_totalprice".as("old_price"),
            $"b.o_totalprice".as("new_price"))
          .orderBy($"o_orderkey")
      },
      oracle = Some("""
        WITH old AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        neu AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1000.0
                      ELSE o_totalprice END AS o_totalprice
          FROM old WHERE o_orderkey % 97 <> 0
          UNION ALL
          SELECT o_orderkey + 1000000000, o_orderstatus, 0.0
          FROM old WHERE o_orderkey % 83 = 0)
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN b.o_orderkey IS NULL THEN 'D'
                    WHEN a.o_orderkey IS NULL THEN 'I'
                    ELSE 'U' END AS change_type,
               a.o_totalprice AS old_price,
               b.o_totalprice AS new_price
        FROM old a FULL OUTER JOIN neu b ON a.o_orderkey = b.o_orderkey
        WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
           OR (a.o_totalprice IS DISTINCT FROM b.o_totalprice)
           OR (a.o_orderstatus IS DISTINCT FROM b.o_orderstatus)
        ORDER BY o_orderkey""")),

    // ── distributed triangle counting (oriented wedge join) ──
    // The "curse of the last reducer" algorithm (Suri &
    // Vassilvitskii, WWW'11): orient every edge of the co-purchase
    // graph (parts sharing an order, built from ONE lineitem
    // self-join) from its lower-(degree, id) endpoint to the higher —
    // then each triangle is discovered exactly once, as a wedge at its
    // LOWEST vertex, and the wedge join's per-vertex fan-out is
    // C(outdeg, 2) with outdeg = O(√m) by the orientation argument,
    // instead of C(deg, 2) = quadratic at hub vertices. Three
    // equality joins (wedge + closing edge), no window, no driver
    // materialization; the per-node credit explode is 3 rows per
    // triangle. The oracle re-runs the same orientation in SQL, so
    // the hash checks the degree arithmetic and the closing-edge
    // orientation invariant (the closing edge always runs from the
    // (deg, id)-smaller endpoint — compared as a struct, not raw id).
    "q_triangle_count" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val edges = copurchaseEdges(s, d)
          .pin() // degree agg + both orientation joins
        val tri = orientedTriangles(edges)
        tri.select(explode(array($"a", $"b", $"c")).as("part"))
          .groupBy($"part").agg(count(lit(1)).as("tri_cnt"))
          .orderBy($"tri_cnt".desc, $"part")
          .limit(20)
      },
      oracle = Some(s"""
        WITH $copurchaseEdgeCte,
        deg AS (
          SELECT n, COUNT(*) AS dg FROM (
            SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
          GROUP BY n),
        oe AS (
          SELECT CASE WHEN (du.dg, e0.u) < (dv.dg, e0.v)
                      THEN e0.u ELSE e0.v END AS s,
                 CASE WHEN (du.dg, e0.u) < (dv.dg, e0.v)
                      THEN dv.dg ELSE du.dg END AS td,
                 CASE WHEN (du.dg, e0.u) < (dv.dg, e0.v)
                      THEN e0.v ELSE e0.u END AS t
          FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v),
        tri AS (
          SELECT w1.s AS a, w1.t AS b, w2.t AS c
          FROM oe w1 JOIN oe w2
            ON w1.s = w2.s AND (w1.td, w1.t) < (w2.td, w2.t)
          JOIN oe e3 ON e3.s = w1.t AND e3.t = w2.t),
        credit AS (
          SELECT a AS part FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        SELECT part, COUNT(*) AS tri_cnt
        FROM credit GROUP BY part
        ORDER BY tri_cnt DESC, part
        LIMIT 20""")),

    // ── 2-D skyline (Pareto frontier) ──
    // Parts no other part weakly dominates on (p_retailprice,
    // p_size): q dominates p iff q.price ≤ p.price ∧ q.size ≤ p.size
    // with at least one strict. The oracle is the DEFINITION (a
    // quadratic NOT EXISTS); the Spark plan is the sort-based 2-D
    // skyline: group to one (price, min_size) row per distinct price —
    // a corpus-sized map-side-combined aggregate — then a running
    // strict-prefix minimum over the price-sorted DISTINCT-PRICE table
    // (vocabulary-sized, the c1 rule: the window runs over thousands
    // of prices, never the row table), broadcast back. A row survives
    // iff it holds its price group's min size AND beats every cheaper
    // price's min — the hash match proves the windowed plan equal to
    // the dominance definition, ties kept on both sides.
    "q_skyline_2d" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val p = Tables.part(s, d)
          .select($"p_partkey", $"p_retailprice", $"p_size")
        val pm = p.groupBy($"p_retailprice")
          .agg(min($"p_size").as("ms"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"p_retailprice")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val front = pm.withColumn("pref_min", min($"ms").over(w))
        p.join(broadcast(front), Seq("p_retailprice"))
          .filter($"p_size" === $"ms" &&
            ($"pref_min".isNull || $"p_size" < $"pref_min"))
          .select($"p_partkey", $"p_retailprice", $"p_size")
          .orderBy($"p_partkey")
      },
      oracle = Some("""
        SELECT p_partkey, p_retailprice, p_size
        FROM part a
        WHERE NOT EXISTS (
          SELECT 1 FROM part b
          WHERE b.p_retailprice <= a.p_retailprice
            AND b.p_size <= a.p_size
            AND (b.p_retailprice < a.p_retailprice
                 OR b.p_size < a.p_size))
        ORDER BY p_partkey""")),

    // ── item-item collaborative filtering (co-occurrence cosine) ──
    // "Customers who bought X also bought Y": project the bipartite
    // customer×part purchase graph onto items and rank neighbors by
    // cosine over co-purchase counts — sim(i,j) = co(i,j)/√(nᵢ·nⱼ),
    // the classic item-based CF of Sarwar et al. (WWW'01) /
    // Amazon's item-to-item paper (Linden et al. 2003). Baskets come
    // from ONE orders⋈lineitem join; the co-occurrence self-join
    // fans out C(basket,2) pairs per customer — bounded by basket
    // size², the quantity that stays small as the CATALOG and
    // CUSTOMER dimensions grow (a pathological whale account routes
    // through the salting/block-pair primitives like any hot key).
    // co ≥ 2 prunes coincidence pairs before ranking; top-3 per item
    // is a per-item window over the item's own candidate list (each
    // partition = one item's neighbors, never the catalog). The
    // cosine is √ of an exact integer product, rounded at 9 — the
    // embedding-cosine determinism contract.
    "q_item_cf" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val baskets = Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            $"l_orderkey" === $"o_orderkey")
          .select($"o_custkey".as("cust"), $"l_partkey".as("item"))
          .distinct()
          .pin() // item counts + both co-join sides
        val ni = baskets.groupBy($"item").agg(count(lit(1)).as("n"))
        val co = baskets.as("a").join(baskets.as("b"),
            $"a.cust" === $"b.cust" && $"a.item" < $"b.item")
          .groupBy($"a.item".as("i"), $"b.item".as("j"))
          .agg(count(lit(1)).as("co"))
          .filter($"co" >= 2)
        val sym = co.select($"i", $"j", $"co")
          .unionByName(co.select($"j".as("i"), $"i".as("j"), $"co"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"i").orderBy($"cos".desc, $"j")
        sym
          .join(ni.select($"item".as("i"), $"n".as("ni")), Seq("i"))
          .join(ni.select($"item".as("j"), $"n".as("nj")), Seq("j"))
          .withColumn("cos",
            round($"co".cast(DoubleType) /
              sqrt(($"ni" * $"nj").cast(DoubleType)), 9))
          .withColumn("rnk", row_number().over(w).cast(LongType))
          .filter($"rnk" <= 3)
          .select($"i".as("item"), $"rnk", $"j".as("neighbor"),
            $"co", $"cos")
          .orderBy($"item", $"rnk")
      },
      oracle = Some("""
        WITH baskets AS (
          SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        ni AS (SELECT item, COUNT(*) AS n FROM baskets GROUP BY item),
        co AS (
          SELECT a.item AS i, b.item AS j, COUNT(*) AS co
          FROM baskets a JOIN baskets b
            ON a.cust = b.cust AND a.item < b.item
          GROUP BY a.item, b.item
          HAVING COUNT(*) >= 2),
        sym AS (
          SELECT i, j, co FROM co
          UNION ALL
          SELECT j, i, co FROM co),
        scored AS (
          SELECT sym.i AS item, sym.j AS neighbor, sym.co,
                 round(CAST(sym.co AS DOUBLE) /
                   sqrt(CAST(ni.n * nj.n AS DOUBLE)), 9) AS cos
          FROM sym
          JOIN ni ON ni.item = sym.i
          JOIN ni nj ON nj.item = sym.j)
        SELECT item, rnk, neighbor, co, cos FROM (
          SELECT item, neighbor, co, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY item
                      ORDER BY cos DESC, neighbor) AS BIGINT) AS rnk
          FROM scored)
        WHERE rnk <= 3
        ORDER BY item, rnk""")),

    // ── association rules (the Apriori/market-basket census) ──
    // The directional sibling of q_item_cf: per-ORDER baskets (CF uses
    // per-customer), pairwise supports from one bounded-fanout
    // self-join (C(basket, 2) per order — never item×item), then each
    // surviving pair emits both rules a→b and b→a with confidence
    // supp(ab)/supp(a) and lift supp(ab)·N / (supp(a)·supp(b)). Lift
    // is emitted as the EXACT BIGINT rational (num, den) — the
    // repo-wide alternative to round-on-double at an oracle boundary —
    // with a 9-digit confidence double alongside (the established
    // round-9 pairing). Scale: two map-side-combined aggregates + the
    // basket self-join; the N scalar is a broadcast aggregate, and
    // min-support prunes BEFORE the rule expansion.
    "q_assoc_rules" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val baskets = Tables.lineitem(s, d)
          .select($"l_orderkey".as("bid"), $"l_partkey".as("item"))
          .distinct()
          .pin() // item supports + both self-join sides
        val nB = baskets.select($"bid").distinct()
          .agg(count(lit(1)).as("n_baskets"))
        val ni = baskets.groupBy($"item").agg(count(lit(1)).as("supp"))
        val co = baskets.as("a").join(baskets.as("b"),
            $"a.bid" === $"b.bid" && $"a.item" < $"b.item")
          .groupBy($"a.item".as("i"), $"b.item".as("j"))
          .agg(count(lit(1)).as("supp_ab"))
          .filter($"supp_ab" >= 2)
        val sym = co.unionByName(
          co.select($"j".as("i"), $"i".as("j"), $"supp_ab"))
        sym
          .join(ni.select($"item".as("i"), $"supp".as("supp_a")), Seq("i"))
          .join(ni.select($"item".as("j"), $"supp".as("supp_b")), Seq("j"))
          .crossJoin(broadcast(nB))
          .select($"i".as("antecedent"), $"j".as("consequent"),
            $"supp_ab", $"supp_a",
            round($"supp_ab".cast(DoubleType) / $"supp_a", 9)
              .as("confidence"),
            ($"supp_ab" * $"n_baskets").as("lift_num"),
            ($"supp_a" * $"supp_b").as("lift_den"))
          .orderBy($"antecedent", $"consequent")
      },
      oracle = Some("""
        WITH baskets AS (
          SELECT DISTINCT l_orderkey AS bid, l_partkey AS item
          FROM lineitem),
        nb AS (SELECT COUNT(DISTINCT bid) AS n_baskets FROM baskets),
        ni AS (SELECT item, COUNT(*) AS supp FROM baskets GROUP BY item),
        co AS (
          SELECT a.item AS i, b.item AS j, COUNT(*) AS supp_ab
          FROM baskets a JOIN baskets b
            ON a.bid = b.bid AND a.item < b.item
          GROUP BY a.item, b.item
          HAVING COUNT(*) >= 2),
        sym AS (
          SELECT i, j, supp_ab FROM co
          UNION ALL
          SELECT j, i, supp_ab FROM co)
        SELECT sym.i AS antecedent, sym.j AS consequent,
               CAST(sym.supp_ab AS BIGINT) AS supp_ab,
               CAST(na.supp AS BIGINT) AS supp_a,
               round(CAST(sym.supp_ab AS DOUBLE) / na.supp, 9)
                 AS confidence,
               CAST(sym.supp_ab * nb.n_baskets AS BIGINT) AS lift_num,
               CAST(na.supp * nj.supp AS BIGINT) AS lift_den
        FROM sym
        JOIN ni na ON na.item = sym.i
        JOIN ni nj ON nj.item = sym.j
        CROSS JOIN nb
        ORDER BY antecedent, consequent""")),

    // ── multi-round BFS level propagation (Pregel-in-SQL) ──
    // The traversal face of graph work (triangles count, components
    // cluster — this REACHES): single-source BFS over the undirected
    // co-purchase graph from the smallest part id, 3 rounds unrolled.
    // Each round is ONE equality join of the previous frontier
    // against the symmetric edge list plus ONE anti-join against the
    // labeled set — the iterative-join shape TextRank established
    // (never a transitive-closure blowup), with a checkpoint barrier
    // per round so round r never re-executes rounds 1..r-1. Levels
    // are exact by induction; the oracle unrolls the same 3 rounds.
    // At 10^11 edges each round shuffles O(frontier·degree) on the
    // node key — the standard Pregel superstep cost.
    "q_bfs_levels" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val sym = copurchaseSym(s, d)
          .pin() // one join per round reads this
        // u < v on every raw edge, so min(u) IS the smallest vertex
        var lvl = sym.agg(min($"u").as("node"))
          .select($"node", lit(0L).as("lvl"))
          .pin()
        for (r <- 1 to 3) {
          val frontier = lvl.filter($"lvl" === (r - 1L))
            .join(sym, $"node" === $"u")
            .select($"v".as("node")).distinct()
          val fresh = frontier.join(lvl, Seq("node"), "left_anti")
            .select($"node", lit(r.toLong).as("lvl"))
          lvl = lvl.unionByName(fresh).pin()
        }
        lvl.orderBy($"lvl", $"node")
      },
      oracle = Some(s"""
        WITH $copurchaseEdgeCte,
        sym AS (
          SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        l0 AS (
          SELECT MIN(u) AS node, CAST(0 AS BIGINT) AS lvl FROM sym),
        f1 AS (
          SELECT DISTINCT s.v AS node FROM sym s
          JOIN l0 ON s.u = l0.node
          WHERE s.v NOT IN (SELECT node FROM l0)),
        l1 AS (SELECT * FROM l0
               UNION ALL SELECT node, CAST(1 AS BIGINT) FROM f1),
        f2 AS (
          SELECT DISTINCT s.v AS node FROM sym s
          JOIN l1 ON s.u = l1.node AND l1.lvl = 1
          WHERE s.v NOT IN (SELECT node FROM l1)),
        l2 AS (SELECT * FROM l1
               UNION ALL SELECT node, CAST(2 AS BIGINT) FROM f2),
        f3 AS (
          SELECT DISTINCT s.v AS node FROM sym s
          JOIN l2 ON s.u = l2.node AND l2.lvl = 2
          WHERE s.v NOT IN (SELECT node FROM l2)),
        l3 AS (SELECT * FROM l2
               UNION ALL SELECT node, CAST(3 AS BIGINT) FROM f3)
        SELECT node, lvl FROM l3 ORDER BY lvl, node""")),

    // ── shortest-path COUNTING BFS (the Brandes σ stage) ──
    // q_bfs_levels answers "how far"; this answers "along how many
    // distinct shortest routes" — σ(v), the number of shortest paths
    // from the source to v, the integer half of Brandes' betweenness
    // algorithm (Brandes 2001) and the redundancy census a network
    // planner reads directly (σ = 1 marks a single-route choke point).
    // σ is exact by the DAG recurrence: a node first reached at round
    // r inherits σ = Σ σ(u) over its distance-(r−1) neighbors, so
    // each round is the SAME frontier⋈edges join as BFS plus one
    // map-side-combined groupBy-sum in place of the distinct — path
    // counts cost nothing over reachability. 3 rounds unrolled,
    // checkpoint barrier per round; at 10^11 edges a round shuffles
    // O(frontier·degree) rows on the node key, and σ stays a BIGINT
    // sum (the 3-hop counts are far below 2^63; a deeper horizon
    // would swap in the evt_moments BigInt-string discipline). The
    // oracle replays the recurrence round by round — the hash checks
    // the join-shaped plan against the definitional level sums.
    "q_bfs_sigma" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        sigmaLevels(copurchaseSym(s, d).pin()) // one join per round reads it
          .orderBy($"lvl", $"node")
      },
      oracle = Some(s"""
        WITH $bfsSigmaCtes
        SELECT node, lvl, CAST(sigma AS BIGINT) AS sigma
        FROM l3 ORDER BY lvl, node""")),

    // ── Brandes dependency accumulation (betweenness, one source) ──
    // The BACKWARD half of Brandes' betweenness (2001) on top of
    // q_bfs_sigma's forward σ counting: δ(v) = Σ over shortest-path
    // successors w of (σv/σw)·(1+δw), swept level by level from the
    // frontier down to the source — per level ONE equality join of
    // the level's nodes against the next level through the edge list,
    // the BFS shape run in reverse. Sampled/bounded betweenness runs
    // exactly this from K sources and sums δ; here K = 1 (the
    // q_bfs_sigma source) at the same 3-level bound, so σ and δ
    // describe one consistent truncated-Brandes pass. Cross-engine
    // determinism uses the evt_chi_square discipline: each successor
    // CONTRIBUTION is rounded at 6 decimals into DECIMAL(20,6), the
    // per-node sum is exact decimal addition (no float-order
    // sensitivity), and the next level consumes the decimal exactly.
    "q_brandes_delta" -> QueryDef(
      fn = (s, d) => {
        brandesDelta(copurchaseSym(s, d))
      },
      oracle = Some {
        def lvlCte(ln: Int) = s"""
        c$ln AS (
          SELECT lv.node,
                 CAST(SUM(CAST(round(
                     CAST(lv.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
                     * (1.0 + CAST(d${ln + 1}.delta AS DOUBLE)), 6)
                   AS DECIMAL(20,6))) AS DECIMAL(20,6)) AS delta
          FROM l3 lv
          JOIN sym s ON s.u = lv.node
          JOIN l3 w ON w.node = s.v AND w.lvl = ${ln + 1}
          JOIN d${ln + 1} ON d${ln + 1}.node = w.node
          WHERE lv.lvl = $ln
          GROUP BY lv.node),
        d$ln AS (
          SELECT l.node,
                 COALESCE(c$ln.delta, CAST(0 AS DECIMAL(20,6))) AS delta
          FROM l3 l LEFT JOIN c$ln USING (node)
          WHERE l.lvl = $ln)"""
        s"""
        WITH $bfsSigmaCtes,
        d3 AS (
          SELECT node, CAST(0 AS DECIMAL(20,6)) AS delta
          FROM l3 WHERE lvl = 3),
        ${lvlCte(2).drop(1)},${lvlCte(1)},${lvlCte(0)}
        SELECT l.node, l.lvl, CAST(l.sigma AS BIGINT) AS sigma,
               CAST(dd.delta AS DOUBLE) AS delta
        FROM l3 l
        JOIN (SELECT * FROM d0 UNION ALL SELECT * FROM d1
              UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) dd
          ON dd.node = l.node
        ORDER BY l.node"""
      },
      headline = false),

    // ── weighted single-source shortest paths (Bellman–Ford) ──
    // The MIN-PLUS companion to q_bfs_levels: hop count is the wrong
    // metric when edges carry costs, and Dijkstra's priority queue
    // has no distributed form — Bellman–Ford does: each round relaxes
    // EVERY edge (one dist⋈edges equality join + one map-side-combined
    // groupBy-min), giving the cheapest path of ≤r edges after r
    // rounds. 3 rounds unrolled, checkpoint barrier per round (the
    // TextRank/BFS iterative-join shape — never transitive closure).
    // Weights make frequent co-purchases CLOSER (w = 100 div supp + 1,
    // exact integers), so the cheapest route and the hop-minimal route
    // genuinely diverge — 16-46 nodes on the fixtures still improve
    // their distance in round 3, after BFS would have frozen them
    // (RelationalSpec gates this). At 10^11 edges a round shuffles
    // O(E) on the node key; production iterates to fixpoint relaxing
    // only the CHANGED frontier (the delta optimization) — the
    // per-round plan is identical.
    "q_sssp_weighted" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e0 = copurchaseSupport(s, d)
          .select($"u", $"v", (expr("100 div supp") + 1L).as("w"))
        val sym = e0.unionByName(
            e0.select($"v".as("u"), $"u".as("v"), $"w"))
          .pin() // one join per round reads this
        var dist = sym.agg(min($"u").as("node"))
          .select($"node", lit(0L).as("dist"))
          .pin()
        for (_ <- 1 to 3) {
          val relaxed = dist.join(sym, $"node" === $"u")
            .select($"v".as("node"), ($"dist" + $"w").as("dist"))
          dist = dist.unionByName(relaxed)
            .groupBy($"node").agg(min($"dist").as("dist"))
            .pin()
        }
        dist.orderBy($"node")
      },
      oracle = Some("""
        WITH e0 AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS supp
          FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
          JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey),
        sym AS (
          SELECT u, v, 100 // supp + 1 AS w FROM e0
          UNION ALL
          SELECT v, u, 100 // supp + 1 FROM e0),
        d0 AS (
          SELECT MIN(u) AS node, CAST(0 AS BIGINT) AS dist FROM sym),
        d1 AS (SELECT node, MIN(dist) AS dist FROM (
          SELECT * FROM d0
          UNION ALL
          SELECT s.v, d0.dist + s.w FROM d0 JOIN sym s ON d0.node = s.u)
          GROUP BY node),
        d2 AS (SELECT node, MIN(dist) AS dist FROM (
          SELECT * FROM d1
          UNION ALL
          SELECT s.v, d1.dist + s.w FROM d1 JOIN sym s ON d1.node = s.u)
          GROUP BY node),
        d3 AS (SELECT node, MIN(dist) AS dist FROM (
          SELECT * FROM d2
          UNION ALL
          SELECT s.v, d2.dist + s.w FROM d2 JOIN sym s ON d2.node = s.u)
          GROUP BY node)
        SELECT node, CAST(dist AS BIGINT) AS dist
        FROM d3 ORDER BY node""")),

    // ── Borůvka minimum spanning forest (2 contraction rounds) ──
    // The cheapest-backbone question (network design, single-linkage
    // clustering's dendrogram skeleton) on the weighted co-purchase
    // graph — and the ONE classic MST algorithm with a distributed
    // form: Prim's and Kruskal's are priority-queue-sequential, while
    // a Borůvka round is pure data-parallel relational algebra — every
    // component simultaneously hooks its MINIMUM outgoing edge (total
    // order (w, u, v), so the choice is deterministic and, because
    // unique-ordered min edges cannot close a cycle, the union is a
    // forest), then components contract. Per round: one edge⋈labels
    // equality join both sides + one map-side-combined per-component
    // struct-min + the [[Dedup.starComponentLabels]] contraction
    // (O(log²) star rounds, no single task). 2 rounds unrolled — each
    // round at least HALVES the component count, so the same handful
    // of rounds finishes at any scale; sssp's 100 div supp + 1
    // weights, so frequent co-purchase is cheap to keep. The oracle
    // replays both rounds with a RECURSIVE min-reachable contraction —
    // the hash match proves the distributed hooking + star contraction
    // equal to the definitional closure, round for round.
    "q_boruvka_msf" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e0 = copurchaseSupport(s, d)
          .select($"u", $"v", (expr("100 div supp") + 1L).as("w"))
          .pin() // both rounds' label joins read it
        def chosen(labels: DataFrame): DataFrame = {
          val cross = e0
            .join(labels.select($"node".as("u"), $"lbl".as("lu")), Seq("u"))
            .join(labels.select($"node".as("v"), $"lbl".as("lv")), Seq("v"))
            .filter($"lu" =!= $"lv")
          cross.select($"lu".as("lbl"), $"w", $"u", $"v")
            .unionByName(cross.select($"lv".as("lbl"), $"w", $"u", $"v"))
            .groupBy($"lbl")
            .agg(min(struct($"w", $"u", $"v")).as("m"))
            .select($"m.w".as("w"), $"m.u".as("u"), $"m.v".as("v"))
            .distinct()
        }
        val nodes = e0.select($"u".as("node"))
          .unionByName(e0.select($"v".as("node"))).distinct()
          .pin() // identity labels + round-2 fill
        val ch1 = chosen(nodes.select($"node", $"node".as("lbl")))
          .pin() // contraction + output both read it
        val lab2 = nodes
          .join(Dedup.starComponentLabels(s,
              ch1.select($"u".as("doc1"), $"v".as("doc2")))
            .select($"doc_id".as("node"), $"cluster".as("c")),
            Seq("node"), "left")
          .select($"node", coalesce($"c", $"node").as("lbl"))
        val ch2 = chosen(lab2)
        ch1.select(lit(1L).as("round"), $"w", $"u", $"v")
          .unionByName(ch2.select(lit(2L).as("round"), $"w", $"u", $"v"))
          .orderBy($"round", $"w", $"u", $"v")
      },
      oracle = Some("""
        WITH RECURSIVE
        li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v,
                 100 // COUNT(*) + 1 AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey),
        dir1 AS (
          SELECT u AS lbl, w, u, v FROM e0
          UNION ALL SELECT v, w, u, v FROM e0),
        ch1 AS MATERIALIZED (
          SELECT DISTINCT w, u, v FROM (
            SELECT lbl, w, u, v,
                   ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY w, u, v)
                     AS rn
            FROM dir1) WHERE rn = 1),
        sym1 AS (SELECT u AS a, v AS b FROM ch1
                 UNION ALL SELECT v, u FROM ch1),
        walk AS (
          SELECT a AS node, b AS reach FROM sym1
          UNION
          SELECT w.node, s.b FROM walk w JOIN sym1 s ON s.a = w.reach),
        lab2 AS MATERIALIZED (
          SELECT n.node, LEAST(n.node, COALESCE(m.r, n.node)) AS lbl
          FROM (SELECT u AS node FROM e0
                UNION SELECT v FROM e0) n
          LEFT JOIN (SELECT node, MIN(reach) AS r FROM walk
                     GROUP BY node) m USING (node)),
        cr2 AS (
          SELECT la.lbl AS lu, lb.lbl AS lv, e.w, e.u, e.v
          FROM e0 e JOIN lab2 la ON la.node = e.u
                    JOIN lab2 lb ON lb.node = e.v
          WHERE la.lbl <> lb.lbl),
        dir2 AS (
          SELECT lu AS lbl, w, u, v FROM cr2
          UNION ALL SELECT lv, w, u, v FROM cr2),
        ch2 AS (
          SELECT DISTINCT w, u, v FROM (
            SELECT lbl, w, u, v,
                   ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY w, u, v)
                     AS rn
            FROM dir2) WHERE rn = 1)
        SELECT CAST(1 AS BIGINT) AS round, CAST(w AS BIGINT) AS w, u, v
        FROM ch1
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(w AS BIGINT), u, v FROM ch2
        ORDER BY round, w, u, v""")),

    // ── greedy maximal matching (mutual-proposal rounds) ──
    // The assignment face of graph work: pair nodes off so no two
    // pairs share a node — dedup canonical-pair selection, resource
    // pairing, coarsening for multilevel partitioners. Optimal
    // matching is Blossom (deeply sequential); the distributed form
    // is mutual-proposal rounds (the Israeli–Itai shape made
    // deterministic): every unmatched node proposes to its best
    // unmatched neighbor under the (w, id) total order — cheapest
    // partner first — and exactly the MUTUAL proposals marry, so a
    // round is ONE per-node map-side-combined struct-min plus ONE
    // self-equality join on the proposal table; matched nodes leave,
    // 3 rounds unrolled. Every round matches ≥ 1 pair while any edge
    // survives (the min-weight alive edge is always mutual), and the
    // fixture genuinely cascades (41/19/15 pairs at sf0.001). Run on
    // the support-≥2 co-purchase graph with the sssp weights. The
    // oracle replays all three rounds; RelationalSpec recomputes
    // sequentially and gates the no-shared-node invariant plus
    // 3-round maximality on the matched-out subgraph.
    "q_maximal_matching" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e0 = copurchaseSupport(s, d)
          .filter($"supp" >= 2L)
          .select($"u", $"v", (expr("100 div supp") + 1L).as("w"))
          .pin() // every round's alive restriction
        var alive = e0.select($"u".as("n"))
          .unionByName(e0.select($"v".as("n"))).distinct()
          .pin()
        var out: DataFrame = null
        for (r <- 1 to 3) {
          val ae = e0
            .join(alive.select($"n".as("u")), Seq("u"), "left_semi")
            .join(alive.select($"n".as("v")), Seq("v"), "left_semi")
          val dir = ae.select($"u".as("n"), $"w", $"v".as("p"))
            .unionByName(ae.select($"v".as("n"), $"w", $"u".as("p")))
          val prop = dir.groupBy($"n")
            .agg(min(struct($"w", $"p")).as("b"))
            .select($"n", $"b.w".as("w"), $"b.p".as("p"))
            .pin() // both sides of the mutual join
          val m = prop.as("x").join(prop.as("y"),
              $"x.n" === $"y.p" && $"x.p" === $"y.n" && $"x.n" < $"x.p")
            .select(lit(r.toLong).as("round"), $"x.n".as("u"),
              $"x.p".as("v"), $"x.w".as("w"))
            .pin() // output + the alive anti-joins
          out = if (out == null) m else out.unionByName(m)
          alive = alive
            .join(m.select($"u".as("n")), Seq("n"), "left_anti")
            .join(m.select($"v".as("n")), Seq("n"), "left_anti")
            .pin()
        }
        out.orderBy($"round", $"u", $"v")
      },
      oracle = Some("""
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v,
                 100 // COUNT(*) + 1 AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2),
        d1 AS (SELECT u AS n, w, v AS p FROM e0
               UNION ALL SELECT v, w, u FROM e0),
        pr1 AS (SELECT n, p, w FROM (
          SELECT n, p, w,
                 ROW_NUMBER() OVER (PARTITION BY n ORDER BY w, p) AS rn
          FROM d1) WHERE rn = 1),
        m1 AS MATERIALIZED (
          SELECT x.n AS u, x.p AS v, x.w AS w FROM pr1 x
          JOIN pr1 y ON x.n = y.p AND x.p = y.n WHERE x.n < x.p),
        e2 AS MATERIALIZED (
          SELECT e0.* FROM e0
          WHERE u NOT IN (SELECT u FROM m1 UNION ALL SELECT v FROM m1)
            AND v NOT IN (SELECT u FROM m1 UNION ALL SELECT v FROM m1)),
        d2 AS (SELECT u AS n, w, v AS p FROM e2
               UNION ALL SELECT v, w, u FROM e2),
        pr2 AS (SELECT n, p, w FROM (
          SELECT n, p, w,
                 ROW_NUMBER() OVER (PARTITION BY n ORDER BY w, p) AS rn
          FROM d2) WHERE rn = 1),
        m2 AS MATERIALIZED (
          SELECT x.n AS u, x.p AS v, x.w AS w FROM pr2 x
          JOIN pr2 y ON x.n = y.p AND x.p = y.n WHERE x.n < x.p),
        e3 AS MATERIALIZED (
          SELECT e2.* FROM e2
          WHERE u NOT IN (SELECT u FROM m2 UNION ALL SELECT v FROM m2)
            AND v NOT IN (SELECT u FROM m2 UNION ALL SELECT v FROM m2)),
        d3 AS (SELECT u AS n, w, v AS p FROM e3
               UNION ALL SELECT v, w, u FROM e3),
        pr3 AS (SELECT n, p, w FROM (
          SELECT n, p, w,
                 ROW_NUMBER() OVER (PARTITION BY n ORDER BY w, p) AS rn
          FROM d3) WHERE rn = 1),
        m3 AS (
          SELECT x.n AS u, x.p AS v, x.w AS w FROM pr3 x
          JOIN pr3 y ON x.n = y.p AND x.p = y.n WHERE x.n < x.p)
        SELECT round, u, v, CAST(w AS BIGINT) AS w FROM (
          SELECT CAST(1 AS BIGINT) AS round, u, v, w FROM m1
          UNION ALL SELECT 2, u, v, w FROM m2
          UNION ALL SELECT 3, u, v, w FROM m3)
        ORDER BY round, u, v""")),

    // ── landmark distance oracle (APSP sketch: triangle upper bounds) ──
    // Exact all-pairs shortest paths is O(n·E) — dead at 10⁹ nodes; the
    // production answer is the LANDMARK sketch (Das Sarma et al. 2010;
    // Potamias et al. 2009): precompute distances from k well-placed
    // sources, then answer ANY pair query in O(k) as the triangle
    // upper bound min_l d(u,l) + d(l,v) — no graph access at query
    // time. Reuses q_closeness's multi-source machinery verbatim (4
    // smallest vertices, ONE (src, node)-keyed frontier, 3 rounds);
    // the pair table then derives from the dists table by ONE
    // src-equality self-join restricted to the id<50 query sample +
    // one map-side-combined (u, v) min — never a cartesian. The bound
    // is EXACT arithmetic on exact hop counts: always ≥ the true
    // distance, equality whenever a landmark sits on a shortest path
    // (pairs containing a landmark achieve it by construction —
    // RelationalSpec gates both directions against a true-BFS
    // recompute). The oracle replays the BFS rounds and the pair min.
    "q_apsp_landmarks" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val q = landmarkLevels(s, d).filter($"node" < 50L)
        q.as("a").join(q.as("b"),
            $"a.src" === $"b.src" && $"a.node" < $"b.node")
          .groupBy($"a.node".as("u"), $"b.node".as("v"))
          .agg(min($"a.d" + $"b.d").as("ub"),
            count(lit(1)).as("n_landmarks"))
          .orderBy($"u", $"v")
      },
      oracle = Some(s"""
        WITH $landmarkBfsCtes,
        q AS (SELECT src, node, d FROM l3 WHERE node < 50)
        SELECT a.node AS u, b.node AS v,
               CAST(MIN(a.d + b.d) AS BIGINT) AS ub,
               CAST(COUNT(*) AS BIGINT) AS n_landmarks
        FROM q a JOIN q b ON a.src = b.src AND a.node < b.node
        GROUP BY a.node, b.node
        ORDER BY u, v""")),

    // ── INCREMENTAL connected components (frozen labels + quotient) ──
    // The maintenance face of component labeling: a 100 TB graph grows
    // by an edge shard, and re-running full CC to ingest 1% more edges
    // is the scale failure the suffix-array append already removes for
    // text. The algebra that makes CC incrementable: relabel the NEW
    // edges by the frozen base labels — every base component collapses
    // to one node — and run component labeling on that QUOTIENT graph,
    // whose size is bounded by the SHARD (≤ 2 endpoints per new edge),
    // never the base. The composed map (base label → quotient label,
    // one broadcast-scale join) is exactly full-rebuild CC because
    // min-reachable-id composes: the min over a merged set of min-ids
    // IS the global min. Base labels are read by equality joins only —
    // the frozen-index discipline. The oracle is the full-rebuild
    // definition (RECURSIVE min-reachable over the UNION), so the hash
    // match proves the shard-bounded update equals the rebuild, every
    // round. Shard = orders with l_orderkey ≡ 0 (mod 8), arriving last.
    "q_cc_incremental" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        def edgesOf(o: DataFrame): DataFrame =
          o.as("a").join(o.as("b"),
              $"a.l_orderkey" === $"b.l_orderkey" &&
                $"a.l_partkey" < $"b.l_partkey")
            .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
            .distinct()
        val base = edgesOf(li.filter($"l_orderkey" % 8 =!= 0))
          .pin()
        val shard = edgesOf(li.filter($"l_orderkey" % 8 === 0))
          .pin()
        // frozen base labels (min reachable id), isolated = own id
        val nodes = base.select($"u".as("n"))
          .unionByName(base.select($"v".as("n")))
          .unionByName(shard.select($"u".as("n")))
          .unionByName(shard.select($"v".as("n"))).distinct()
        val lblBase = nodes
          .join(Dedup.starComponentLabels(s,
              base.select($"u".as("doc1"), $"v".as("doc2")))
            .select($"doc_id".as("n"), $"cluster".as("c")), Seq("n"), "left")
          .select($"n", coalesce($"c", $"n").as("lbl"))
          .pin() // quotient relabel + the final compose
        // quotient graph: shard edges with endpoints collapsed to base
        // labels — bounded by the shard, the ONLY thing labeled anew
        val quot = shard
          .join(lblBase.select($"n".as("u"), $"lbl".as("qu")), Seq("u"))
          .join(lblBase.select($"n".as("v"), $"lbl".as("qv")), Seq("v"))
          .filter($"qu" =!= $"qv")
          .select($"qu".as("a"), $"qv".as("b")).distinct()
        val merge = Dedup.starComponentLabels(s,
            quot.select($"a".as("doc1"), $"b".as("doc2")))
          .select($"doc_id".as("lbl"), $"cluster".as("m"))
        lblBase.join(merge, Seq("lbl"), "left")
          .select($"n".as("node"), coalesce($"m", $"lbl").as("cluster_id"))
          .orderBy($"node")
      },
      oracle = Some("""
        WITH RECURSIVE
        li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        sym AS (SELECT u AS a, v AS b FROM e0
                UNION ALL SELECT v, u FROM e0),
        walk AS (
          SELECT a AS node, b AS reach FROM sym
          UNION
          SELECT w.node, s.b FROM walk w JOIN sym s ON s.a = w.reach)
        SELECT n.node, LEAST(n.node, COALESCE(m.r, n.node)) AS cluster_id
        FROM (SELECT u AS node FROM e0 UNION SELECT v FROM e0) n
        LEFT JOIN (SELECT node, MIN(reach) AS r FROM walk
                   GROUP BY node) m USING (node)
        ORDER BY n.node""")),

    // ── k-core peeling (degeneracy decomposition, 4 rounds) ──
    // The graph-sparsification face of graph work (triangles count,
    // BFS reaches, components cluster — this PRUNES): iteratively
    // remove every node whose CURRENT degree is < K, so the removal
    // of a weakly-connected node can cascade into its neighbors on
    // the next round (Seidman 1983; Batagelj–Zaveršnik peeling). Run
    // on the support-≥2 co-purchase graph (the q_assoc_rules edge
    // grade — the full graph's min degree is above any interesting K)
    // with K = 3: at sf0.01 the cascade genuinely chains (635/167/59/
    // 36 drops over the four rounds). Each round is ONE degree count
    // over alive×alive edges (two equality semi-joins + a map-side-
    // combined groupBy) and ONE anti-join — the BFS/SSSP iterative-
    // join shape, 4 rounds unrolled with a checkpoint barrier per
    // round; production iterates to fixpoint relaxing only the
    // CHANGED frontier (nodes that lost a neighbor), with the
    // identical per-round plan. Output: every node with its initial
    // degree and the round that dropped it (0 = survives the 4-round
    // peel). The oracle unrolls the same four alive-sets; RelationalSpec
    // replays a planted chain-into-clique cascade round for round.
    "q_kcore_peel" -> QueryDef(
      fn = (s, d) => {
        kCorePeel(supportEdges(s, d), k = 3, rounds = 4)
      },
      oracle = Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        d0 AS (SELECT u AS node, COUNT(*) AS deg0 FROM sym GROUP BY u),
        a1 AS (
          SELECT s.u AS node FROM sym s
          GROUP BY s.u HAVING COUNT(*) >= 3),
        a2 AS (
          SELECT s.u AS node FROM sym s
          JOIN a1 x ON s.u = x.node JOIN a1 y ON s.v = y.node
          GROUP BY s.u HAVING COUNT(*) >= 3),
        a3 AS (
          SELECT s.u AS node FROM sym s
          JOIN a2 x ON s.u = x.node JOIN a2 y ON s.v = y.node
          GROUP BY s.u HAVING COUNT(*) >= 3),
        a4 AS (
          SELECT s.u AS node FROM sym s
          JOIN a3 x ON s.u = x.node JOIN a3 y ON s.v = y.node
          GROUP BY s.u HAVING COUNT(*) >= 3)
        SELECT d0.node, CAST(d0.deg0 AS BIGINT) AS deg0,
               CAST(CASE
                 WHEN d0.node IN (SELECT node FROM a4) THEN 0
                 WHEN d0.node IN (SELECT node FROM a3) THEN 4
                 WHEN d0.node IN (SELECT node FROM a2) THEN 3
                 WHEN d0.node IN (SELECT node FROM a1) THEN 2
                 ELSE 1 END AS BIGINT) AS dropped_round
        FROM d0 ORDER BY node""")),

    // ── k-truss decomposition (triangle-support edge peeling) ──
    // One cohesion notch above q_kcore_peel: a node survives k-core
    // by ANY k neighbors, an edge survives the k-truss only inside
    // k−2 TRIANGLES — bridges and hub fans peel away, cohesive
    // neighborhoods stay (Cohen 2008). k = 6 over the full
    // co-purchase graph: at sf0.01 the cascade genuinely chains
    // (1231/257/52 edge drops over three rounds — an edge that held
    // support 4 loses it when a dropped edge was one of its
    // triangles). See [[kTrussPeel]] for the per-round plan (the
    // oriented-wedge triangle recount + one explode + one
    // map-side-combined count per round; O(E^1.5) work, no window).
    // The oracle unrolls the same three rounds with the
    // orientation-free support count — support is a triangle count,
    // identical under any wedge orientation, so the hash checks the
    // oriented plan against the definitional recount round by round.
    "q_ktruss" -> QueryDef(
      fn = (s, d) => {
        kTrussPeel(copurchaseEdges(s, d), k = 6, rounds = 3)
      },
      oracle = Some("""
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        sym0 AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        sp1 AS MATERIALIZED (
          SELECT e.u, e.v, CAST(COALESCE(c.c, 0) AS BIGINT) AS supp
          FROM e0 e LEFT JOIN (
            SELECT e.u, e.v, COUNT(*) AS c
            FROM e0 e JOIN sym0 s1 ON s1.u = e.u
                      JOIN sym0 s2 ON s2.u = e.v AND s2.v = s1.v
            GROUP BY e.u, e.v) c USING (u, v)),
        a1 AS MATERIALIZED (SELECT u, v FROM sp1 WHERE supp >= 4),
        sym1 AS MATERIALIZED (
          SELECT u, v FROM a1 UNION ALL SELECT v, u FROM a1),
        sp2 AS MATERIALIZED (
          SELECT e.u, e.v, CAST(COALESCE(c.c, 0) AS BIGINT) AS supp
          FROM a1 e LEFT JOIN (
            SELECT e.u, e.v, COUNT(*) AS c
            FROM a1 e JOIN sym1 s1 ON s1.u = e.u
                      JOIN sym1 s2 ON s2.u = e.v AND s2.v = s1.v
            GROUP BY e.u, e.v) c USING (u, v)),
        a2 AS MATERIALIZED (SELECT u, v FROM sp2 WHERE supp >= 4),
        sym2 AS MATERIALIZED (
          SELECT u, v FROM a2 UNION ALL SELECT v, u FROM a2),
        sp3 AS MATERIALIZED (
          SELECT e.u, e.v, CAST(COALESCE(c.c, 0) AS BIGINT) AS supp
          FROM a2 e LEFT JOIN (
            SELECT e.u, e.v, COUNT(*) AS c
            FROM a2 e JOIN sym2 s1 ON s1.u = e.u
                      JOIN sym2 s2 ON s2.u = e.v AND s2.v = s1.v
            GROUP BY e.u, e.v) c USING (u, v)),
        a3 AS MATERIALIZED (SELECT u, v FROM sp3 WHERE supp >= 4)
        SELECT sp1.u, sp1.v, sp1.supp AS supp0,
          CAST(CASE
            WHEN a3.u IS NOT NULL THEN 0
            WHEN a2x.u IS NOT NULL THEN 3
            WHEN a1x.u IS NOT NULL THEN 2
            ELSE 1 END AS BIGINT) AS dropped_round
        FROM sp1
        LEFT JOIN a3 ON a3.u = sp1.u AND a3.v = sp1.v
        LEFT JOIN a2 a2x ON a2x.u = sp1.u AND a2x.v = sp1.v
        LEFT JOIN a1 a1x ON a1x.u = sp1.u AND a1x.v = sp1.v
        ORDER BY sp1.u, sp1.v""")),

    // ── closeness centrality (multi-source BFS, 3-hop horizon) ──
    // "Which catalog anchors sit closest to everything else" — the
    // centrality whose answer is a DISTANCE SUM, not a neighbor
    // count: for each of the 4 smallest vertices (a deterministic
    // seed panel; production samples sources, Eppstein–Wang style),
    // the number of nodes reached within 3 hops and the sum of their
    // hop distances. ALL sources ride ONE frontier keyed by
    // (src, node) — per round one equality join frontier⋈edges + one
    // distinct + one (src, node) anti-join against the visited set,
    // the q_bfs_levels shape fanned out by source: k sources cost one
    // traversal of k× the frontier width, not k traversals. The
    // 3-round unroll matches the oracle's; at 10¹¹ edges each round
    // shuffles O(frontier·deg) rows on the node key, and the visited
    // set stays (src, node)-bucketed — never collected.
    "q_closeness" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        landmarkLevels(s, d).groupBy($"src")
          .agg((count(lit(1)) - 1L).as("n_reached"),
            sum($"d").as("sum_dist"))
          .orderBy($"src")
      },
      oracle = Some(s"""
        WITH $landmarkBfsCtes
        SELECT src, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
               CAST(SUM(d) AS BIGINT) AS sum_dist
        FROM l3 GROUP BY src ORDER BY src""")),

    // ── link prediction (common-neighbor candidate scoring) ──
    // The recommendation face of graph work: score NON-edges by how
    // much structure already surrounds them — common-neighbor count
    // (Newman 2001), neighborhood Jaccard in exact floor-ppm, and
    // preferential attachment deg·deg (Barabási) — the classic
    // link-prediction panel (Liben-Nowell & Kleinberg 2003). Run on
    // the support-≥2 co-purchase graph (the q_assoc_rules edge
    // grade: the support filter is also the hub bound — candidate
    // fan-out per center is C(deg, 2) of the FILTERED degree).
    // Wedges come from ONE sym self-join on the center + a
    // map-side-combined (u, v) count; existing edges leave by
    // anti-join; degrees broadcast back. Top 20 by (cn, u, v) — a
    // TakeOrdered, never a global sort. The oracle replays wedge
    // counting quadratically and must agree to the ppm.
    "q_link_predict" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e0 = copurchaseSupport(s, d)
          .filter($"supp" >= 2L)
          .select($"u", $"v")
          .pin() // sym (twice) + the anti-join
        val sym = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
        val deg = sym.groupBy($"u").agg(count(lit(1)).as("dg"))
          .select($"u".as("n"), $"dg")
        val cn = sym.as("s1").join(sym.as("s2"),
            $"s1.u" === $"s2.u" && $"s1.v" < $"s2.v")
          .groupBy($"s1.v".as("u"), $"s2.v".as("v"))
          .agg(count(lit(1)).as("cn"))
        cn.join(e0, Seq("u", "v"), "left_anti")
          .join(broadcast(deg.select($"n".as("u"), $"dg".as("du"))),
            Seq("u"))
          .join(broadcast(deg.select($"n".as("v"), $"dg".as("dv"))),
            Seq("v"))
          .select($"u", $"v", $"cn",
            expr("cn * 1000000 div (du + dv - cn)").as("jacc_ppm"),
            ($"du" * $"dv").as("pref_attach"))
          .orderBy($"cn".desc, $"u", $"v")
          .limit(20)
      },
      oracle = Some(s"""
        WITH $supportEdgeCtes,
        sym AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        deg AS MATERIALIZED (
          SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS dg
          FROM sym GROUP BY u),
        cn AS MATERIALIZED (
          SELECT s1.v AS u, s2.v AS v, CAST(COUNT(*) AS BIGINT) AS cn
          FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
          GROUP BY s1.v, s2.v),
        cand AS MATERIALIZED (
          SELECT cn.u, cn.v, cn.cn FROM cn
          LEFT JOIN e0 ON e0.u = cn.u AND e0.v = cn.v
          WHERE e0.u IS NULL)
        SELECT c.u, c.v, c.cn,
          CAST(c.cn * 1000000 // (du.dg + dv.dg - c.cn) AS BIGINT)
            AS jacc_ppm,
          CAST(du.dg * dv.dg AS BIGINT) AS pref_attach
        FROM cand c JOIN deg du ON du.n = c.u JOIN deg dv ON dv.n = c.v
        ORDER BY c.cn DESC, c.u, c.v
        LIMIT 20""")),

    // ── grid-density clustering (the DBSCAN grid variant) ──
    // Density clustering at warehouse scale: exact DBSCAN's
    // ε-neighborhood probe is a distance self-join, but the GRID
    // relaxation (bin points into cells, keep cells at or above the
    // density threshold, merge adjacent core cells — the GriDBSCAN /
    // cell-based family) turns it into counting plus an 8-adjacency
    // component merge, and the cell table — not the point table — is
    // what every later stage touches. Points = parts in the
    // (price-cents, size) plane, cells ($5 × 5-size), core at
    // n ≥ 12: at sf0.01 the fixture yields genuine structure (52 core
    // cells in 9 clusters, the largest spanning ~20 cells beside
    // singletons). Adjacency is an EQUALITY join — each core cell
    // announces its 8 neighbor keys by arithmetic, a hit on another
    // core cell's own key is an edge (the spatial grid-join trick; no
    // band join, no cartesian); components ride
    // [[Dedup.componentLabels]] (size-gated union-find / star
    // propagation — cluster id = min cell key). Per-core-cell output;
    // non-core cells are noise by omission. At 10¹² points only
    // (cell, count) partials cross the shuffle — the cell table is
    // grid-bounded, never data-sized.
    "q_dbscan_grid" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        import graft.functions.Exact.dec
        val cells = Tables.part(s, d)
          .select((dec($"p_retailprice") * 100).cast(LongType).as("cents"),
            $"p_size")
          .groupBy(expr("cents div 500").as("cx"),
            expr("cast(p_size div 5 as bigint)").as("cy"))
          .agg(count(lit(1)).as("n"))
          .filter($"n" >= 12L)
          .withColumn("key", $"cx" * 1024L + $"cy")
          .pin() // neighbor explode + the label join
        val nb = cells.select($"key", explode(expr(
            """transform(array(-1025, -1024, -1023, -1, 1, 1023, 1024,
                 1025), o -> key + o)""")).as("nkey"))
        val edges = nb
          .join(cells.select($"key".as("nkey")), Seq("nkey"))
          .filter($"key" < $"nkey")
          .select($"key".as("doc1"), $"nkey".as("doc2"))
        val labels = Dedup.componentLabels(s, edges)
        cells.join(labels, cells("key") === labels("doc_id"), "left")
          .select($"cx", $"cy", $"n".as("n_points"),
            coalesce($"cluster", $"key").as("cluster_id"))
          .orderBy($"cx", $"cy")
      },
      oracle = Some("""
        WITH RECURSIVE
        p AS (
          SELECT CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
            AS BIGINT) AS cents, p_size
          FROM part),
        c AS (
          SELECT cents // 500 AS cx, p_size // 5 AS cy,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 12),
        k AS (SELECT cx, cy, n, cx * 1024 + cy AS key FROM c),
        e0 AS (
          SELECT a.key AS src, b.key AS dst
          FROM k a JOIN k b
            ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
            AND a.key <> b.key),
        comp(key, lbl) AS (
          SELECT key, key FROM k
          UNION
          SELECT e.dst, c2.lbl FROM comp c2 JOIN e0 e ON c2.key = e.src)
        SELECT k.cx, k.cy, k.n AS n_points, MIN(comp.lbl) AS cluster_id
        FROM k JOIN comp ON comp.key = k.key
        GROUP BY k.cx, k.cy, k.n
        ORDER BY k.cx, k.cy""")),

    // ── Theil index decomposition (where does inequality LIVE?) ──
    // Gini (llm_doc_gini) says HOW unequal; Theil's entropy index says
    // WHERE — it is the inequality measure that decomposes EXACTLY
    // into a between-group term plus population-weighted within-group
    // terms (Theil 1967; Shorrocks 1980 on decomposability), the
    // standard answer to "is revenue concentration a market problem or
    // an inside-each-market problem". Per nation over customer revenue:
    // T_within = (1/n_g)·Σ (x/μ_g)·ln(x/μ_g) and the between term
    // s_g·ln(μ_g/μ). Customer totals are ONE map-side-combined
    // groupBy; group stats broadcast back (25 rows), so the per-row
    // entropy term is a map-only projection — at 10¹² orders only
    // per-customer partials cross the shuffle. Each ln quantizes to 6
    // digits and each term to 9 before the DECIMAL sum (the surprisal
    // idiom), doubles through identical chains in both engines.
    "q_theil_decomp" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val cust = Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(sum(dec($"o_totalprice") * 100).cast(LongType).as("x"))
        val j = cust
          .join(Tables.customer(s, d)
            .select($"c_custkey", $"c_nationkey"),
            $"c_custkey" === $"o_custkey")
          .join(broadcast(Tables.nation(s, d)
            .select($"n_nationkey", $"n_name")),
            $"n_nationkey" === $"c_nationkey")
          .select($"n_name".as("nation"), $"x")
          .pin() // group stats + the per-row term scan
        val g = j.groupBy($"nation")
          .agg(count(lit(1)).as("n_cust"), sum($"x").as("rev"))
          .pin() // broadcast join + totals + output
        val tot = g.agg(sum($"n_cust").as("n"), sum($"rev").as("xx"))
        val w = j.join(broadcast(g), Seq("nation"))
          .select($"nation", expr(
            """cast(round(
                 (cast(x as double) / (cast(rev as double) / n_cust))
                 * round(ln(cast(x as double)
                     / (cast(rev as double) / n_cust)), 6),
                 9) as decimal(27,9))""").as("t"))
          .groupBy($"nation").agg(sum($"t").as("sw"))
        g.join(w, Seq("nation")).crossJoin(broadcast(tot))
          .select($"nation", $"n_cust", $"rev",
            round($"sw".cast(DoubleType) / $"n_cust", 6)
              .as("theil_within"),
            expr("""round((cast(rev as double) / xx)
                    * round(ln((cast(rev as double) / n_cust)
                            / (cast(xx as double) / n)), 6), 6)""")
              .as("between_term"))
          .orderBy($"nation")
      },
      oracle = Some("""
        WITH cust AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
                   AS BIGINT) AS x
          FROM orders GROUP BY o_custkey),
        j AS (
          SELECT n.n_name AS nation, c2.x
          FROM cust c2 JOIN customer c ON c.c_custkey = c2.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey),
        g AS (
          SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
                 CAST(SUM(x) AS BIGINT) AS rev
          FROM j GROUP BY nation),
        tot AS (
          SELECT CAST(SUM(n_cust) AS BIGINT) AS n,
                 CAST(SUM(rev) AS BIGINT) AS xx
          FROM g),
        w AS (
          SELECT j.nation,
                 SUM(CAST(round(
                   (CAST(j.x AS DOUBLE)
                     / (CAST(g.rev AS DOUBLE) / g.n_cust))
                   * round(ln(CAST(j.x AS DOUBLE)
                       / (CAST(g.rev AS DOUBLE) / g.n_cust)), 6),
                   9) AS DECIMAL(27,9))) AS sw
          FROM j JOIN g USING (nation) GROUP BY j.nation)
        SELECT g.nation, g.n_cust, g.rev,
               round(CAST(w.sw AS DOUBLE) / g.n_cust, 6) AS theil_within,
               round((CAST(g.rev AS DOUBLE) / tot.xx)
                 * round(ln((CAST(g.rev AS DOUBLE) / g.n_cust)
                         / (CAST(tot.xx AS DOUBLE) / tot.n)), 6), 6)
                 AS between_term
        FROM g JOIN w USING (nation), tot
        ORDER BY g.nation""")),

    // ── label propagation communities (3 synchronous rounds) ──
    // The community-detection face of graph work: components answer
    // "reachable?", LPA answers "densely knit?" — the mode-of-
    // neighbor-labels update lets a dense cluster out-vote a sparse
    // bridge, so communities stay separate where components would
    // merge (RelationalSpec plants exactly that). See
    // [[labelPropagate]] for the per-round plan (one edge⋈label
    // join + two map-side-combined aggregates, checkpoint barrier).
    // The oracle unrolls the same 3 rounds, arg-max via the
    // identical (c DESC, label) order — ROW_NUMBER there, struct-min
    // here, same total order, so the hash checks every round's vote.
    "q_label_prop" -> QueryDef(
      fn = (s, d) => {
        labelPropagate(copurchaseEdges(s, d), rounds = 3)
      },
      oracle = Some(s"""
        WITH $labelPropCtes
        SELECT node, label FROM l3 ORDER BY node""")),

    // ── HITS hubs & authorities (2 iterations, PPM fixed point) ──
    // The link-analysis companion to PPR/TextRank: two mutually
    // recursive scores on the DIRECTED (u < v) co-purchase graph.
    // See [[hitsScores]] for the arithmetic contract (per-round
    // rescale to 10⁶ of max in DECIMAL(38)/HUGEINT — exact at any
    // scale) and the per-half-update plan (one edge⋈score join +
    // one map-side-combined sum + a broadcast 1-row max). The
    // oracle replays all four half-updates with scalar-subquery
    // maxima; the hash checks every floor division.
    "q_hits" -> QueryDef(
      fn = (s, d) => {
        hitsScores(copurchaseEdges(s, d), iters = 2)
      },
      oracle = Some(s"""
        WITH $copurchaseEdgeCte,
        nodes AS (SELECT u AS node FROM e0 UNION SELECT v FROM e0),
        a1r AS (SELECT n.node,
                  -- sum h0 = 10^6 per MATCHED in-edge only: a bare
                  -- SUM(1000000) would also count the unmatched
                  -- NULL row of an in-degree-0 node
                  COALESCE(SUM(CASE WHEN e.u IS NOT NULL
                                    THEN 1000000 END), 0) AS raw
                FROM nodes n LEFT JOIN e0 e ON e.v = n.node
                GROUP BY n.node),
        a1 AS (SELECT node, CAST(CAST(raw AS HUGEINT) * 1000000
                 // (SELECT MAX(raw) FROM a1r) AS BIGINT) AS sc
               FROM a1r),
        h1r AS (SELECT n.node, COALESCE(SUM(a.sc), 0) AS raw
                FROM nodes n LEFT JOIN e0 e ON e.u = n.node
                LEFT JOIN a1 a ON a.node = e.v
                GROUP BY n.node),
        h1 AS (SELECT node, CAST(CAST(raw AS HUGEINT) * 1000000
                 // (SELECT MAX(raw) FROM h1r) AS BIGINT) AS sc
               FROM h1r),
        a2r AS (SELECT n.node, COALESCE(SUM(h.sc), 0) AS raw
                FROM nodes n LEFT JOIN e0 e ON e.v = n.node
                LEFT JOIN h1 h ON h.node = e.u
                GROUP BY n.node),
        a2 AS (SELECT node, CAST(CAST(raw AS HUGEINT) * 1000000
                 // (SELECT MAX(raw) FROM a2r) AS BIGINT) AS sc
               FROM a2r),
        h2r AS (SELECT n.node, COALESCE(SUM(a.sc), 0) AS raw
                FROM nodes n LEFT JOIN e0 e ON e.u = n.node
                LEFT JOIN a2 a ON a.node = e.v
                GROUP BY n.node),
        h2 AS (SELECT node, CAST(CAST(raw AS HUGEINT) * 1000000
                 // (SELECT MAX(raw) FROM h2r) AS BIGINT) AS sc
               FROM h2r)
        SELECT n.node, a2.sc AS auth, h2.sc AS hub
        FROM nodes n
        JOIN a2 ON a2.node = n.node
        JOIN h2 ON h2.node = n.node
        ORDER BY n.node""")),

    // ── partition modularity (exact rational, over the LPA labels) ──
    // The quality metric a community pipeline GATES on: how much
    // denser inside the detected communities than a random rewiring
    // with the same degrees. Runs on `q_label_prop`'s own 3-round
    // labels, so the two queries hash-check each other: any drift in
    // a round's votes moves e_c/d_c here. See [[modularityByLabel]]
    // for the exact integer-rational contract (q_num over 4m²) and
    // the plan. The oracle replays the LPA unroll AND the modularity
    // arithmetic in HUGEINT.
    "q_modularity" -> QueryDef(
      fn = (s, d) => {
        val e0 = copurchaseEdges(s, d)
          .pin() // labels + degrees + intra all read it
        modularityByLabel(e0, labelPropagate(e0, rounds = 3))
      },
      oracle = Some(s"""
        WITH $labelPropCtes,
        deg AS (SELECT u AS node, COUNT(*) AS dg FROM sym GROUP BY u),
        mm AS (SELECT COUNT(*) AS m FROM e0),
        comm AS (SELECT l.label, COUNT(*) AS n_nodes, SUM(d.dg) AS deg_sum
                 FROM l3 l JOIN deg d ON d.node = l.node GROUP BY l.label),
        intra AS (SELECT a.label, COUNT(*) AS intra_edges
                  FROM e0 e JOIN l3 a ON a.node = e.u
                  JOIN l3 b ON b.node = e.v
                  WHERE a.label = b.label GROUP BY a.label)
        SELECT c.label, CAST(c.n_nodes AS BIGINT) AS n_nodes,
               CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
               CAST(c.deg_sum AS BIGINT) AS deg_sum,
               CAST(mm.m AS BIGINT) AS m,
               CAST(4 * mm.m * COALESCE(i.intra_edges, 0)
                 - c.deg_sum * c.deg_sum AS BIGINT) AS q_num
        FROM comm c LEFT JOIN intra i ON i.label = c.label, mm
        ORDER BY c.label""")),

    // ── distributed percent_rank / cume_dist (rank-statistic
    //    normalization without a global window) ──
    // The engine's own window definitions — percent_rank = min rank
    // among ties / (n−1), cume_dist = max rank among ties + 1 over n
    // — derived WITHOUT the single-task global window: `globalRank`
    // assigns the 0-based total-order rank (zero post-sort shuffles),
    // one map-side-combined groupBy(value) collapses ties to their
    // min/max ranks, and the final divisions are single IEEE ops both
    // engines perform identically. The ORACLE uses DuckDB's native
    // percent_rank()/cume_dist() — so the distributed derivation is
    // hash-checked against the engine definition itself, every round.
    "q_percent_rank" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d).select($"o_orderkey",
          dec($"o_totalprice").cast(DoubleType).as("price"))
        val ranked = globalRank(s, o, Seq($"price", $"o_orderkey"))
          .pin() // tie stats + the output join
        val n = ranked.agg(count(lit(1)).as("n"))
        val ties = ranked.groupBy($"price".as("p"))
          .agg(min($"rk").as("minrk"), max($"rk").as("maxrk"))
        ranked.join(ties, $"price" === $"p")
          .crossJoin(broadcast(n))
          .select($"o_orderkey", $"price",
            ($"minrk".cast(DoubleType) / ($"n" - 1L)).as("pct_rank"),
            (($"maxrk" + 1L).cast(DoubleType) / $"n").as("cume"))
          .orderBy($"o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
               percent_rank() OVER (ORDER BY
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE))
                 AS pct_rank,
               cume_dist() OVER (ORDER BY
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE))
                 AS cume
        FROM orders
        ORDER BY o_orderkey""")),

    // ── AMS/tug-of-war F2 sketch (self-join size estimation) ──
    // The second-moment estimator (Alon–Matias–Szegedy, STOC'96) a
    // planner consults before committing to a self-join: F2 = Σc² of
    // the key histogram, estimated from 64 ±1-sign counters folded in
    // ONE map-side-combined pass — no per-key state, mergeable across
    // partitions/days by addition, while the exact F2 needs the full
    // histogram shuffle. Signs come from md5 (identical bytes on any
    // engine — the ref_sha2_hash idiom): each repetition reads one
    // BIT of a SINGLE digest per row (amsSignSql — a 128-bit digest
    // supplies all 64 signs, so the scan hashes ONCE per row; the
    // per-repetition-hash variant measured 16 s at sf0.1 vs ~1 s for
    // this). A cheaper affine-mod-P sign was MEASURED and rejected:
    // on the contiguous uniform-count key range its three-distance
    // structure balances every counter and collapses the estimate 20×
    // (rel-err 0.88-0.96 vs the digest bits' 0.10-0.14). The sketch is
    // fully deterministic, so the ORACLE re-derives every counter —
    // and the accuracy contract (est within ±50% of exact ≈ 2.8
    // sketch-stderr) rides the same hash-checked row as exact
    // integers: |Σs² − 64·F2| ≤ 32·F2.
    "agg_f2_sketch" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // The AMS sign of a ROW is a bit of md5(l_partkey): every row
        // with the same key draws the SAME sign, so each sketch
        // counter folds from the per-key frequency table — s_r =
        // Σ_keys c_k·sign_r(k) — and the exact F2 (Σ c²) rides the
        // SAME grouped frame: ONE lineitem scan and ONE exchange where
        // the r15 shape scanned twice and evaluated 64 md5-nibble
        // parses per ROW (0.03% as many keys as rows at sf0.1; at
        // 100 TB the digest work drops by the same row/key ratio).
        // The signs themselves read the digest's high 64 bits as two
        // 32-bit integer halves (conv once each) and test bits with
        // shifts — bit (31 - r) of half r/32 IS the old nibble-parse
        // mask 8>>(r%4) on hex digit r/4+1 — replacing 64 string
        // parses per input with 2 parses + 64 codegen'd bit-ands
        // (guide §1.2: per-task work, after the algorithm).
        val keyed = Tables.lineitem(s, d)
          .groupBy($"l_partkey").agg(count(lit(1)).as("c"))
          .select($"c", md5($"l_partkey".cast("string")).as("h"))
          .select($"c",
            expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)")
              .as("v1"),
            expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)")
              .as("v2"))
        val signs = (0 until 64).map { r =>
          val half = if (r < 32) $"v1" else $"v2"
          val bit = shiftright(half, 31 - (r % 32)).bitwiseAND(lit(1L))
          sum($"c" * (bit * 2L - 1L)).as(s"s$r")
        }
        keyed
          .agg(sum($"c" * $"c").as("f2_exact"), signs: _*)
          .select($"f2_exact",
            (0 until 64).map(r => col(s"s$r") * col(s"s$r"))
              .reduce(_ + _).as("f2_est_num"))
          .select($"f2_exact", $"f2_est_num",
            (abs($"f2_est_num" - lit(64L) * $"f2_exact")
              <= lit(32L) * $"f2_exact").as("within_50pct"))
      },
      oracle = Some(s"""
        WITH hh AS (SELECT md5(l_partkey::VARCHAR) AS h FROM lineitem),
        sk AS (
          SELECT r.r,
                 SUM(CASE r.r ${(0 until 64).map(r =>
                   s"WHEN $r THEN (${amsSignSql(r, "//")})")
                   .mkString("\n                   ")}
                 END) AS s
          FROM hh CROSS JOIN range(0, 64) r(r)
          GROUP BY r.r),
        est AS (SELECT CAST(SUM(s * s) AS BIGINT) AS f2_est_num FROM sk),
        ex AS (
          SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact
          FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey))
        SELECT ex.f2_exact, est.f2_est_num,
               abs(est.f2_est_num - 64 * ex.f2_exact) <= 32 * ex.f2_exact
                 AS within_50pct
        FROM ex CROSS JOIN est"""),
      headline = true),

    // ── foreign-key audit (cross-table referential integrity) ──
    // The schema-wide sibling of llm_dq_audit's single-table checks:
    // every FK edge of the star schema audited in one report — child
    // rows, orphan rows (no parent), and the DISTINCT orphan keys a
    // repair job would backfill. Each edge is one LEFT ANTI join on
    // the key (broadcast where the parent is a dim) + counts; the
    // edges union into the long-form report a pipeline gates deploys
    // on. All-integer; orphan-free edges report zeros rather than
    // vanishing.
    "q_fk_audit" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        def edge(name: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame = {
          val orphans = child.join(parent
              .select(col(pk).as(ck)).distinct(), Seq(ck), "left_anti")
          child.agg(count(lit(1)).as("n_child"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
              countDistinct(col(ck)).as("n_orphan_keys")))
            .select(lit(name).as("fk_edge"), $"n_child", $"n_orphans",
              $"n_orphan_keys")
        }
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val su = Tables.supplier(s, d)
        val p = Tables.part(s, d)
        val na = Tables.nation(s, d)
        val re = Tables.region(s, d)
        Seq(
          edge("lineitem->orders", li.select($"l_orderkey"),
            "l_orderkey", o, "o_orderkey"),
          edge("lineitem->part", li.select($"l_partkey"),
            "l_partkey", p, "p_partkey"),
          edge("lineitem->supplier", li.select($"l_suppkey"),
            "l_suppkey", su, "s_suppkey"),
          edge("orders->customer", o.select($"o_custkey"),
            "o_custkey", c, "c_custkey"),
          edge("customer->nation", c.select($"c_nationkey"),
            "c_nationkey", na, "n_nationkey"),
          edge("supplier->nation", su.select($"s_nationkey"),
            "s_nationkey", na, "n_nationkey"),
          edge("nation->region", na.select($"n_regionkey"),
            "n_regionkey", re, "r_regionkey"))
          .reduce(_ unionByName _)
          .orderBy($"fk_edge")
      },
      oracle = Some("""
        WITH e1 AS (
          SELECT 'lineitem->orders' AS fk_edge, COUNT(*) AS n_child,
                 CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_orphans,
                 CAST(COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL
                   THEN l.l_orderkey END) AS BIGINT) AS n_orphan_keys
          FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
            ON l.l_orderkey = o.o_orderkey),
        e2 AS (
          SELECT 'lineitem->part', COUNT(*),
                 CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
                 CAST(COUNT(DISTINCT CASE WHEN p.p_partkey IS NULL
                   THEN l.l_partkey END) AS BIGINT)
          FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
            ON l.l_partkey = p.p_partkey),
        e3 AS (
          SELECT 'lineitem->supplier', COUNT(*),
                 CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
                 CAST(COUNT(DISTINCT CASE WHEN s.s_suppkey IS NULL
                   THEN l.l_suppkey END) AS BIGINT)
          FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
            ON l.l_suppkey = s.s_suppkey),
        e4 AS (
          SELECT 'orders->customer', COUNT(*),
                 CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
                 CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
                   THEN o.o_custkey END) AS BIGINT)
          FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
            ON o.o_custkey = c.c_custkey),
        e5 AS (
          SELECT 'customer->nation', COUNT(*),
                 CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
                 CAST(COUNT(DISTINCT CASE WHEN n.n_nationkey IS NULL
                   THEN c.c_nationkey END) AS BIGINT)
          FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
            ON c.c_nationkey = n.n_nationkey),
        e6 AS (
          SELECT 'supplier->nation', COUNT(*),
                 CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
                 CAST(COUNT(DISTINCT CASE WHEN n.n_nationkey IS NULL
                   THEN s.s_nationkey END) AS BIGINT)
          FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
            ON s.s_nationkey = n.n_nationkey),
        e7 AS (
          SELECT 'nation->region', COUNT(*),
                 CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
                 CAST(COUNT(DISTINCT CASE WHEN r.r_regionkey IS NULL
                   THEN n.n_regionkey END) AS BIGINT)
          FROM nation n LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
            ON n.n_regionkey = r.r_regionkey)
        SELECT * FROM e1 UNION ALL SELECT * FROM e2
        UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        UNION ALL SELECT * FROM e5 UNION ALL SELECT * FROM e6
        UNION ALL SELECT * FROM e7
        ORDER BY fk_edge""")),

    // ── Tukey-fence outliers (the boxplot rule, exactly) ──
    // The IQR outlier rule on the heavy-tailed event values (the
    // near-uniform order totals have NO fence-crossers — measured —
    // so the exponential-tailed metric is the honest target: 463
    // upper outliers at sf0.01), all integer: quartiles as
    // ORDER STATISTICS off the cumulative counts of the (value, count)
    // frequency table (Q1 at position ⌈n/4⌉, Q3 at ⌈3n/4⌉ — the
    // documented plain-order-statistic convention, no interpolation),
    // fences at Q1 − 1.5·IQR and Q3 + 1.5·IQR compared as
    // 2·x < 2·Q1 − 3·IQR (the ×2 clears the 1.5 — no floats). The
    // whole plan scans once into the frequency table; everything
    // after is bounded by the distinct VALUE domain.
    "q_tukey_outliers" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val vc = Tables.events(s, d)
          .select((dec($"value") * 100).cast(LongType).as("v"))
          .groupBy($"v").agg(count(lit(1)).as("c"))
          .pin() // quartiles + the outlier count
        val n = vc.agg(sum($"c").as("n"))
        // cumulative counts ride the two-level distributed scan — the
        // distinct VALUE domain reaches millions of centi-values at
        // 100 TB, too wide for a single-task `Window.orderBy(v)`
        // (round-12 verdict #5); v is unique in vc, so the sort is a
        // total order
        val qs = globalPrefixSum(s, vc, Seq($"v"), "c")
          .crossJoin(broadcast(n))
          .agg(
            min(when($"psum" * 4 >= $"n", $"v")).as("q1"),
            min(when($"psum" * 4 >= $"n" * 3, $"v")).as("q3"))
        vc.crossJoin(broadcast(qs))
          .agg(sum($"c").as("n_events"),
            max($"q1").as("q1_cents"), max($"q3").as("q3_cents"),
            sum(when(
              lit(2L) * $"v" < lit(2L) * $"q1" - lit(3L) * ($"q3" - $"q1"),
              $"c").otherwise(0L)).as("n_low"),
            sum(when(
              lit(2L) * $"v" > lit(2L) * $"q3" + lit(3L) * ($"q3" - $"q1"),
              $"c").otherwise(0L)).as("n_high"))
      },
      oracle = Some("""
        WITH vc AS (
          SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
                 COUNT(*) AS c
          FROM events GROUP BY 1),
        n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vc),
        cum AS (
          SELECT v, SUM(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            n.n
          FROM vc CROSS JOIN n),
        qs AS (
          SELECT MIN(CASE WHEN cum * 4 >= n THEN v END) AS q1,
                 MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
          FROM cum)
        SELECT CAST(SUM(vc.c) AS BIGINT) AS n_events,
               qs.q1 AS q1_cents, qs.q3 AS q3_cents,
               CAST(SUM(CASE WHEN 2 * vc.v < 2 * qs.q1 - 3 * (qs.q3 - qs.q1)
                        THEN vc.c ELSE 0 END) AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN 2 * vc.v > 2 * qs.q3 + 3 * (qs.q3 - qs.q1)
                        THEN vc.c ELSE 0 END) AS BIGINT) AS n_high
        FROM vc CROSS JOIN qs
        GROUP BY qs.q1, qs.q3""")),

    // ── ABC / Pareto classification (the 80-20 inventory cut) ──
    // Rank parts by revenue, walk the cumulative share, and classify:
    // A = parts up to 80% of revenue, B = to 95%, C = the tail — the
    // inventory-control primitive. The cumulative walk is the
    // [[globalPrefixSum]] two-level scan over the revenue-ranked
    // order (centi-unit exact integers; the 80/95 cuts compare
    // 100·cum ≤ 80·total — no percentage division anywhere), the
    // ranking is a range partition, and NOTHING passes through a
    // single-task window. Classes census to (n_parts, revenue share
    // as an exact rational).
    "q_abc_classes" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val rev = Tables.lineitem(s, d)
          .groupBy($"l_partkey")
          .agg(sum((dec($"l_extendedprice") * omd($"l_discount"))
            .cast(DecimalType(18, 4))).as("revd"))
          .select($"l_partkey",
            ($"revd" * 10000).cast(LongType).as("rev"))
        val tot = rev.agg(sum($"rev").as("trev"))
        val swept = globalPrefixSum(s, rev,
          Seq($"rev".desc, $"l_partkey"), "rev")
        swept.crossJoin(broadcast(tot))
          .withColumn("cls",
            when($"psum" * 100L <= $"trev" * 80L, "A")
              .when($"psum" * 100L <= $"trev" * 95L, "B")
              .otherwise("C"))
          .groupBy($"cls")
          .agg(count(lit(1)).as("n_parts"),
            sum($"rev").as("class_rev"),
            max($"trev").as("total_rev"))
          .orderBy($"cls")
      },
      oracle = Some(s"""
        WITH rev AS (
          SELECT l_partkey,
                 CAST(SUM(CAST(${sqlD.format("l_extendedprice")} * $sqlOmd
                   AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev
          FROM lineitem GROUP BY l_partkey),
        tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS trev FROM rev),
        sw AS (
          SELECT l_partkey, rev,
                 CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS psum
          FROM rev),
        cls AS (
          SELECT CASE WHEN psum * 100 <= trev * 80 THEN 'A'
                      WHEN psum * 100 <= trev * 95 THEN 'B'
                      ELSE 'C' END AS cls,
                 rev, trev
          FROM sw CROSS JOIN tot)
        SELECT cls, COUNT(*) AS n_parts,
               CAST(SUM(rev) AS BIGINT) AS class_rev,
               CAST(MAX(trev) AS BIGINT) AS total_rev
        FROM cls GROUP BY cls
        ORDER BY cls""")),

    // ── personalized PageRank (the recommendation walk) ──
    // "Parts related to THIS part": random walk with restart from a
    // single source over the weighted co-purchase graph — the
    // recommendation primitive item-item CF's one-hop cosine cannot
    // give (PPR aggregates ALL paths, damped by length). Same
    // integer nano-unit fixed point as llm_textrank (floor after
    // every damped division, so both engines agree bit-for-bit), but
    // the teleport mass goes to the SOURCE alone and is UNIONED into
    // each round (the source may receive no inbound contribution in
    // a round — a groupBy-only formulation would silently drop its
    // restart mass). 5 rounds × (one O(edges) equality join + one
    // map-side-combined sum); mass never visits nodes the walk
    // cannot reach. Source = the smallest part id, the BFS query's
    // convention.
    "q_ppr" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey")
        val pairs = li.as("a").join(li.as("b"),
            $"a.l_orderkey" === $"b.l_orderkey" &&
              $"a.l_partkey" < $"b.l_partkey")
          .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
          .agg(count(lit(1)).as("w"))
        val edges = pairs.unionByName(
            pairs.select($"v".as("u"), $"u".as("v"), $"w"))
          .pin() // wsum + all 5 rounds
        val wsum = edges.groupBy($"u").agg(sum($"w").as("wu"))
        val ew = edges.join(wsum, Seq("u"))
        val srcDf = edges.agg(min($"u").as("src")).pin()
        var ranks = srcDf.select($"src".as("node"),
          lit(1000000000L).as("r"))
        for (_ <- 1 to 5) {
          val contribs = ew.join(ranks, $"u" === $"node")
            .select($"v",
              floor(lit(0.85) * $"r" * $"w" / $"wu").cast(LongType).as("c"))
          val tele = srcDf.select($"src".as("v"),
            lit(150000000L).as("c"))
          ranks = contribs.unionByName(tele)
            .groupBy($"v").agg(sum($"c").as("r"))
            .select($"v".as("node"), $"r")
            .pin()
        }
        ranks.select($"node", $"r".as("rank_nano"))
          .orderBy($"rank_nano".desc, $"node")
          .limit(25)
      },
      oracle = Some {
        val rounds = (1 to 5).map { i =>
          s"""
        c$i AS (
          SELECT e.v,
                 CAST(SUM(CAST(FLOOR(0.85::DOUBLE * p.r * e.w / ws.wu)
                   AS BIGINT)) AS BIGINT) AS c
          FROM edges e JOIN r${i - 1} p ON p.node = e.u
                       JOIN wsum ws ON ws.u = e.u
          GROUP BY e.v),
        r$i AS (
          SELECT v AS node, CAST(SUM(c) AS BIGINT) AS r FROM (
            SELECT v, c FROM c$i
            UNION ALL
            SELECT src, CAST(150000000 AS BIGINT) FROM srcdf) x
          GROUP BY v)"""
        }.mkString(",")
        s"""
        WITH pairs AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey),
        edges AS (
          SELECT u, v, w FROM pairs
          UNION ALL
          SELECT v, u, w FROM pairs),
        wsum AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wu
                 FROM edges GROUP BY u),
        srcdf AS (SELECT MIN(u) AS src FROM edges),
        r0 AS (
          SELECT src AS node, CAST(1000000000 AS BIGINT) AS r
          FROM srcdf),$rounds
        SELECT node, r AS rank_nano FROM r5
        ORDER BY rank_nano DESC, node
        LIMIT 25"""
      }),

    // ── order-invariant table checksum (replication verification) ──
    // The handshake two sides of a replication/migration compare
    // WITHOUT moving data: per table, a commutative fold (bit_xor) of
    // a per-row digest — insensitive to row order and partitioning,
    // sensitive to any changed/missing/duplicated row (XOR cancels
    // exact duplicates pairwise, so the row-count rides alongside to
    // close that hole). The digest is a 60-bit integer rebuilt from
    // md5's first 15 hex nibbles by positional arithmetic — the
    // amsSignSql nibble idiom — over a canonical '|'-joined row
    // serialization restricted to integer/string/epoch columns (float
    // FORMATTING is engine-specific; a production checksum fixes a
    // canonical encoding the same way). One map-side-combined
    // aggregate per table; the oracle re-derives every digest.
    "q_table_checksum" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        def nibbleSum(): String =
          (0 until 15).map { i =>
            val pos = i + 1
            val w = s"CASE WHEN ascii(substring(h, $pos, 1)) >= 97 " +
              s"THEN ascii(substring(h, $pos, 1)) - 87 " +
              s"ELSE ascii(substring(h, $pos, 1)) - 48 END"
            s"CAST($w AS BIGINT) * ${1L << (4 * i)}"
          }.mkString(" + ")
        val o = Tables.orders(s, d)
          .select(md5(concat_ws("|",
            $"o_orderkey".cast("string"), $"o_custkey".cast("string"),
            $"o_orderstatus", $"o_orderpriority",
            expr("cast(unix_micros(cast(o_orderdate as timestamp)) " +
              "as string)"))).as("h"))
          .withColumn("dig", expr(nibbleSum()))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(dig)").as("checksum"))
          .select(lit("orders").as("tbl"), $"n_rows", $"checksum")
        val c = Tables.customer(s, d)
          .select(md5(concat_ws("|",
            $"c_custkey".cast("string"), $"c_nationkey".cast("string"),
            $"c_mktsegment")).as("h"))
          .withColumn("dig", expr(nibbleSum()))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(dig)").as("checksum"))
          .select(lit("customer").as("tbl"), $"n_rows", $"checksum")
        o.unionByName(c).orderBy($"tbl")
      },
      oracle = Some {
        val nibbleSum = (0 until 15).map { i =>
          val pos = i + 1
          val w = s"CASE WHEN ascii(substring(h, $pos, 1)) >= 97 " +
            s"THEN ascii(substring(h, $pos, 1)) - 87 " +
            s"ELSE ascii(substring(h, $pos, 1)) - 48 END"
          s"CAST($w AS BIGINT) * ${1L << (4 * i)}"
        }.mkString(" + ")
        s"""
        WITH ho AS (
          SELECT md5(concat_ws('|', o_orderkey::VARCHAR,
            o_custkey::VARCHAR, o_orderstatus, o_orderpriority,
            epoch_us(o_orderdate)::VARCHAR)) AS h
          FROM orders),
        hc AS (
          SELECT md5(concat_ws('|', c_custkey::VARCHAR,
            c_nationkey::VARCHAR, c_mktsegment)) AS h
          FROM customer)
        SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
               CAST(bit_xor($nibbleSum) AS BIGINT) AS checksum
        FROM hc
        UNION ALL
        SELECT 'orders', COUNT(*),
               CAST(bit_xor($nibbleSum) AS BIGINT)
        FROM ho
        ORDER BY tbl"""
      }),

    // ── bitmap index: build + intersect (the OLAP filter index) ──
    // The other file-skipping/selection structure next to Layout's
    // Bloom filters: per category a BITMAP over the row-id space
    // (62-bit words — the Layout word-width idiom, keeping shifted
    // values positive — built by one bit_or aggregate per word), and
    // predicate COMBINATION is wordwise AND + popcount, never a data
    // rescan. Row ids are the deterministic (orderkey·8 + linenumber)
    // injection. The output is self-verifying per category: the
    // bitmap's total popcount next to the direct row count, and the
    // bitmap-AND answer for "flag ∧ orderkey ≤ mid" next to the
    // direct predicate count — both equalities ride the hash-checked
    // row, so the driver re-proves build AND query correctness every
    // round. Scale: build is one map-side-combined bit_or groupBy
    // (words = rows/62); the AND is an equality join on word id.
    // The row-id space is the (orderkey, linenumber) KEY — a real
    // table's primary key; the fixture generator emits duplicate
    // (orderkey, linenumber) pairs (6000 rows, 4599 distinct), so the
    // build dedupes to the key space first, exactly as an index over
    // a keyed table would see it.
    "q_bitmap_index" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val mx = Tables.lineitem(s, d).agg(max($"l_orderkey").as("mx"))
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_returnflag",
            ($"l_orderkey" * 8 + $"l_linenumber").as("rid"))
          .distinct()
          .crossJoin(broadcast(mx))
          .withColumn("word", expr("rid div 62"))
          .withColumn("m", expr("shiftleft(1L, cast(rid % 62 as int))"))
          .pin() // both bitmap builds + direct counts
        val bmFlag = li.groupBy($"l_returnflag", $"word")
          .agg(bit_or($"m").as("b1"))
        val bmPred = li.groupBy($"word")
          .agg(bit_or(when($"l_orderkey" <= expr("mx div 2"), $"m")
            .otherwise(0L)).as("b2"))
        val viaBitmap = bmFlag.join(bmPred, Seq("word"))
          .groupBy($"l_returnflag")
          .agg(sum(bit_count($"b1")).as("n_set"),
            sum(bit_count($"b1".bitwiseAND($"b2"))).as("n_and"))
        val direct = li.groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(when($"l_orderkey" <= expr("mx div 2"), 1L).otherwise(0L))
              .as("n_and_direct"))
        viaBitmap.join(direct, Seq("l_returnflag"))
          .select($"l_returnflag", $"n_rows", $"n_set",
            $"n_and", $"n_and_direct",
            ($"n_set" === $"n_rows" && $"n_and" === $"n_and_direct")
              .as("bitmap_exact"))
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        WITH mx AS (SELECT MAX(l_orderkey) AS mx FROM lineitem),
        li AS (
          SELECT DISTINCT l_orderkey, l_returnflag,
                 l_orderkey * 8 + l_linenumber AS rid, mx.mx
          FROM lineitem CROSS JOIN mx),
        w AS (
          SELECT l_orderkey, l_returnflag, mx, rid // 62 AS word,
                 (1::BIGINT << CAST(rid % 62 AS INTEGER)) AS m
          FROM li),
        bmflag AS (
          SELECT l_returnflag, word, bit_or(m) AS b1
          FROM w GROUP BY l_returnflag, word),
        bmpred AS (
          SELECT word,
                 bit_or(CASE WHEN l_orderkey <= mx // 2 THEN m
                        ELSE 0 END) AS b2
          FROM w GROUP BY word),
        via AS (
          SELECT f.l_returnflag,
                 CAST(SUM(bit_count(f.b1)) AS BIGINT) AS n_set,
                 CAST(SUM(bit_count(f.b1 & p.b2)) AS BIGINT) AS n_and
          FROM bmflag f JOIN bmpred p USING (word)
          GROUP BY f.l_returnflag),
        direct AS (
          SELECT l_returnflag, COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN l_orderkey <= mx // 2 THEN 1
                          ELSE 0 END) AS BIGINT) AS n_and_direct
          FROM w GROUP BY l_returnflag)
        SELECT v.l_returnflag, d.n_rows, v.n_set, v.n_and, d.n_and_direct,
               v.n_set = d.n_rows AND v.n_and = d.n_and_direct
                 AS bitmap_exact
        FROM via v JOIN direct d USING (l_returnflag)
        ORDER BY l_returnflag""")),

    // ── AMS inner-product sketch: JOIN SIZE estimation ──
    // The companion planner sketch to agg_f2_sketch: |A ⋈ B| on a key
    // equals the histogram inner product Σ c_A(k)·c_B(k), and the
    // tug-of-war counters estimate it as the mean of per-repetition
    // counter PRODUCTS (E[X_r·Y_r] = join size) — the statistic a
    // cost-based optimizer wants BEFORE committing to a join order,
    // computable in ONE pass over each input (here literally one scan:
    // both sides are filters of lineitem, so all 128 conditional sums
    // fold in a single aggregate), mergeable by addition, no per-key
    // state. Same single-digest bit signs as agg_f2_sketch (one md5
    // per row serves all 64 repetitions on both sides); same ±50%
    // hash-checked accuracy contract.
    "agg_join_size_sketch" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // The agg_f2_sketch key-fold applied to BOTH sides (r17): the
        // sign of a row is a bit of md5(l_partkey), so each side's
        // counter folds from the per-key frequency table — a_r =
        // Σ_k cA_k·sign_r(k) — and the EXACT inner product rides the
        // SAME keyed frame as Σ_k cA·cB (a key missing on a side
        // contributes a zero product, exactly the old join's inner
        // semantics): ONE lineitem scan and ONE exchange where the old
        // shape scanned three times, hashed per ROW, and evaluated 64
        // hex-nibble string parses per row per side. Signs read the
        // digest's high 64 bits as two conv'd 32-bit halves + codegen'd
        // bit-ands (bit 31-r of half r/32 IS the nibble mask 8>>(r%4)
        // on hex digit r/4+1 — value-identical; the oracle SQL is
        // untouched). The two 64-sum side aggregates stay SEPARATE:
        // a fused 128-expression aggregate fell off whole-stage
        // codegen in the r15 A/B (9.5-14 s vs 2-3 s).
        val keyed = Tables.lineitem(s, d)
          .groupBy($"l_partkey")
          .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("ca"),
            sum(when($"l_returnflag" =!= "R", 1L).otherwise(0L)).as("cb"))
          .select($"ca", $"cb", md5($"l_partkey".cast("string")).as("h"))
          .select($"ca", $"cb",
            expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)")
              .as("v1"),
            expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)")
              .as("v2"))
          .pin() // both side aggregates + the exact sum
        def sideSums(cnt: Column, p: String) = {
          val sums = (0 until 64).map { r =>
            val half = if (r < 32) $"v1" else $"v2"
            val bit = shiftright(half, 31 - (r % 32)).bitwiseAND(lit(1L))
            sum(cnt * (bit * 2L - 1L)).as(s"$p$r")
          }
          keyed.agg(sums.head, sums.tail: _*)
        }
        val est = sideSums($"ca", "a")
          .crossJoin(sideSums($"cb", "b"))
          .select((0 until 64).map(r => col(s"a$r") * col(s"b$r"))
            .reduce(_ + _).as("js_est_num"))
        val exact = keyed.agg(sum($"ca" * $"cb").as("js_exact"))
        exact.crossJoin(est)
          .select($"js_exact", $"js_est_num",
            (abs($"js_est_num" - lit(64L) * $"js_exact")
              <= lit(32L) * $"js_exact").as("within_50pct"))
      },
      oracle = Some(s"""
        WITH hh AS (
          SELECT md5(l_partkey::VARCHAR) AS h, l_returnflag
          FROM lineitem),
        sk AS (
          SELECT r.r,
                 SUM(CASE WHEN l_returnflag = 'R' THEN
                   CASE r.r ${(0 until 64).map(r =>
                     s"WHEN $r THEN (${amsSignSql(r, "//")})")
                     .mkString("\n                     ")} END
                   ELSE 0 END) AS a,
                 SUM(CASE WHEN l_returnflag <> 'R' THEN
                   CASE r.r ${(0 until 64).map(r =>
                     s"WHEN $r THEN (${amsSignSql(r, "//")})")
                     .mkString("\n                     ")} END
                   ELSE 0 END) AS b
          FROM hh CROSS JOIN range(0, 64) r(r)
          GROUP BY r.r),
        est AS (SELECT CAST(SUM(a * b) AS BIGINT) AS js_est_num FROM sk),
        ex AS (
          SELECT CAST(SUM(ca.c * cb.c) AS BIGINT) AS js_exact
          FROM (SELECT l_partkey, COUNT(*) AS c FROM lineitem
                WHERE l_returnflag = 'R' GROUP BY 1) ca
          JOIN (SELECT l_partkey, COUNT(*) AS c FROM lineitem
                WHERE l_returnflag <> 'R' GROUP BY 1) cb
            USING (l_partkey))
        SELECT ex.js_exact, est.js_est_num,
               abs(est.js_est_num - 64 * ex.js_exact) <= 32 * ex.js_exact
                 AS within_50pct
        FROM ex CROSS JOIN est""")),

    // ── incremental join-view maintenance (delta-join IVM) ──
    // agg_incremental_fold maintains an AGGREGATE view; this maintains
    // a JOIN view — the other half of incremental view maintenance.
    // Given V = orders ⋈ lineitem materialized over the "old" halves
    // of both tables, the arriving increments ΔO and ΔL (deterministic
    // row-level splits of each table) produce the view delta by the
    // distributive rule ΔV = ΔO⋈L_old ∪ O_old⋈ΔL ∪ ΔO⋈ΔL — three
    // joins, EVERY one with an increment side, never old⋈old (the full
    // view is never recomputed; RelationalSpec proves ΔV equals
    // V(all) \ V(old) as a multiset). The three terms are disjoint by
    // construction (old/delta partition rows), each is tagged with its
    // provenance. Scale: each term joins a small delta against a base
    // — broadcast or co-partitioned on the join key; the whole job is
    // O(Δ · fanout), independent of view size.
    "q_join_view_increment" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        val l = Tables.lineitem(s, d).select($"l_orderkey", $"l_linenumber",
          (dec($"l_extendedprice") * omd($"l_discount"))
            .cast(DoubleType).as("rev"))
        val oldO = o.filter($"o_orderkey" % 7 =!= 0)
        val dO = o.filter($"o_orderkey" % 7 === 0)
        val lsplit = ($"l_orderkey" * 31 + $"l_linenumber") % 5
        val oldL = l.filter(lsplit =!= 0)
        val dL = l.filter(lsplit === 0)
        def term(os: DataFrame, ls: DataFrame, tag: String) =
          os.join(ls, $"o_orderkey" === $"l_orderkey")
            .select($"o_orderkey", $"l_linenumber", $"o_custkey", $"rev",
              lit(tag).as("src"))
        term(dO, oldL, "dO")
          .unionByName(term(oldO, dL, "dL"))
          .unionByName(term(dO, dL, "dd"))
          .orderBy($"o_orderkey", $"l_linenumber")
      },
      oracle = Some(s"""
        WITH o AS (SELECT o_orderkey, o_custkey FROM orders),
        l AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(${sqlD.format("l_extendedprice")} * $sqlOmd AS DOUBLE)
                   AS rev
          FROM lineitem),
        old_o AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
        d_o AS (SELECT * FROM o WHERE o_orderkey % 7 = 0),
        old_l AS (SELECT * FROM l
                  WHERE (l_orderkey * 31 + l_linenumber) % 5 <> 0),
        d_l AS (SELECT * FROM l
                WHERE (l_orderkey * 31 + l_linenumber) % 5 = 0)
        SELECT o_orderkey, l_linenumber, o_custkey, rev, src FROM (
          SELECT a.o_orderkey, b.l_linenumber, a.o_custkey, b.rev,
                 'dO' AS src
          FROM d_o a JOIN old_l b ON a.o_orderkey = b.l_orderkey
          UNION ALL
          SELECT a.o_orderkey, b.l_linenumber, a.o_custkey, b.rev, 'dL'
          FROM old_o a JOIN d_l b ON a.o_orderkey = b.l_orderkey
          UNION ALL
          SELECT a.o_orderkey, b.l_linenumber, a.o_custkey, b.rev, 'dd'
          FROM d_o a JOIN d_l b ON a.o_orderkey = b.l_orderkey)
        ORDER BY o_orderkey, l_linenumber"""))
  )

  /** The SCD2 versioned customer dimension shared by `q_scd2_merge`
    * (which IS this frame, ordered) and `q_scd2_pit_join` (which
    * joins facts against it): original rows closed at version-time 1
    * where an update arrived, update/insert rows open-ended. One
    * broadcast batch join + a per-key explode — the Kimball fold. */
  private def scd2VersionedDim(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = Tables.customer(s, d)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
    val upd = dim.filter($"c_custkey" % 7 === 3)
      .select($"c_custkey",
        (($"c_nationkey" + 1) % 25).as("u_nationkey"),
        $"c_acctbal".as("u_acctbal"),
        lit("MOVED").as("u_mktsegment"))
    val mx = dim.agg(max($"c_custkey").as("mx"))
    val ins = dim.filter($"c_custkey" % 11 === 5)
      .crossJoin(broadcast(mx))
      .select(($"c_custkey" + $"mx").as("c_custkey"),
        $"c_nationkey", $"c_acctbal",
        lit("NEW").as("c_mktsegment"),
        lit(1L).as("valid_from"), lit(9999L).as("valid_to"),
        lit(true).as("is_current"))
    val merged = dim.join(broadcast(upd), Seq("c_custkey"), "left")
      .select($"c_custkey", explode(when($"u_mktsegment".isNotNull,
        array(
          struct($"c_nationkey", $"c_acctbal", $"c_mktsegment",
            lit(0L).as("valid_from"), lit(1L).as("valid_to"),
            lit(false).as("is_current")),
          struct($"u_nationkey".as("c_nationkey"),
            $"u_acctbal".as("c_acctbal"),
            $"u_mktsegment".as("c_mktsegment"),
            lit(1L).as("valid_from"), lit(9999L).as("valid_to"),
            lit(true).as("is_current"))))
        .otherwise(array(
          struct($"c_nationkey", $"c_acctbal", $"c_mktsegment",
            lit(0L).as("valid_from"), lit(9999L).as("valid_to"),
            lit(true).as("is_current"))))).as("v"))
      .select($"c_custkey", $"v.c_nationkey", $"v.c_acctbal",
        $"v.c_mktsegment", $"v.valid_from", $"v.valid_to",
        $"v.is_current")
    merged.unionByName(ins)
  }

  /** The SCD2 dim as shared oracle CTEs ending in `sdim` — single
    * source for `q_scd2_merge`'s and `q_scd2_pit_join`'s oracles. */
  private lazy val scd2DimCtes: String = """
        dim AS (
          SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment
          FROM customer),
        upd AS (
          SELECT c_custkey,
                 CAST((c_nationkey + 1) % 25 AS INTEGER) AS u_nationkey,
                 c_acctbal AS u_acctbal,
                 'MOVED' AS u_mktsegment
          FROM dim WHERE c_custkey % 7 = 3),
        sdim AS (
          SELECT d.c_custkey, d.c_nationkey, d.c_acctbal, d.c_mktsegment,
                 CAST(0 AS BIGINT) AS valid_from,
                 CAST(CASE WHEN u.c_custkey IS NULL THEN 9999 ELSE 1 END
                      AS BIGINT) AS valid_to,
                 u.c_custkey IS NULL AS is_current
          FROM dim d LEFT JOIN upd u USING (c_custkey)
          UNION ALL
          SELECT c_custkey, u_nationkey, u_acctbal, u_mktsegment,
                 CAST(1 AS BIGINT), CAST(9999 AS BIGINT), TRUE
          FROM upd
          UNION ALL
          SELECT c_custkey + (SELECT MAX(c_custkey) FROM dim),
                 c_nationkey, c_acctbal, 'NEW',
                 CAST(1 AS BIGINT), CAST(9999 AS BIGINT), TRUE
          FROM dim WHERE c_custkey % 11 = 5)"""

  /** Shared oracle of the giant-group top-k pair — identical SQL for
    * the window and aggregator plans is the equality proof. */
  private lazy val topkSkewSql: String = """
        SELECT o_orderstatus, rk, o_orderkey, total_price FROM (
          SELECT o_orderstatus, o_orderkey,
            CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
            ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
        WHERE rk <= 3
        ORDER BY o_orderstatus, rk"""
}
