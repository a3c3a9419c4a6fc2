package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{MG, MisraGriesAggregator}
import graft.operators.FsSwap

/** Continuous corpus-wide heavy hitters — the streaming face of
  * `llm_heavy_hitters`, and the frequent-items sibling of the
  * mergeable-HLL pattern (`agg_hll_mergeable`): because the
  * Misra–Gries summary is MERGEABLE (error ≤ N/(cap+1) preserved
  * under any merge tree — Agarwal et al., PODS 2012), a growing
  * corpus never needs re-scanning. Each micro-batch pays one
  * map-side-combined aggregation over ITS tokens (≤cap counters per
  * partition cross the shuffle), and the accumulated summary updates
  * with a driver-side merge of two ≤cap-counter summaries — the
  * coordinator step, O(cap) work and bytes.
  *
  * State = the (term, count) counters plus the total token count and
  * the last folded batch id, committed via the crash-safe
  * [[graft.operators.FsSwap]] generation swap (the poll-spool
  * discipline: at any crash point one complete generation is
  * readable). `foreachBatch` can re-run a batch after a crash, so the
  * fold is made idempotent by the batch id: a re-run of the
  * last-committed batch skips the fold (counts never double) and
  * only re-emits — exactly-once state maintenance on at-least-once
  * emission. Every face in this file shares that discipline
  * ([[foldStream]]).
  *
  * After any prefix of batches, every term with overall frequency
  * > n_total/(cap+1) is guaranteed present in the emitted summary —
  * the candidate set a periodic exact recount (the batch query's
  * second pass) turns into the exact heavy-hitter set.
  */
object StreamingScoring {

  /** The state discipline of every face here. Each batch reads the
    * committed generation `stateDir/name` ([[FsSwap]]), whose rows all
    * carry the last folded `batch_id`. Unless this batch replays that
    * one (the [[FsSwap.replay]] fence), it folds into the state and
    * commits the folded rows BEFORE emitting: a crash between commit
    * and sink re-runs the batch, hits the fence, and re-emits the
    * already-folded state — never a double fold. A batch id below the
    * committed one (a fresh checkpoint over a surviving `stateDir`)
    * fails the query, so `stateDir` is PAIRED with `checkpointDir`:
    * start both fresh or resume both.
    *
    * `load` decodes the committed rows (empty before the first
    * commit), `fold` returns the folded state and the rows to commit,
    * and `emit` renders a state as the frame `sink` receives. */
  private def foldStream[S](face: String, records: DataFrame,
      stateDir: String, name: String, checkpointDir: String,
      sink: DataFrame => Unit)(load: Array[Row] => S)(
      fold: (SparkSession, Dataset[Row], Long, S) => (S, DataFrame))(
      emit: (SparkSession, S, Long) => DataFrame): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val swap = FsSwap(s.sparkContext.hadoopConfiguration, stateDir, name)
        val rows =
          swap.readable.fold(Array.empty[Row])(s.read.parquet(_).collect())
        val lastBatch =
          rows.headOption.fold(-1L)(r => r.getLong(r.fieldIndex("batch_id")))
        val committed = load(rows)
        val state =
          if (swap.replay(s"StreamingScoring.$face", batchId, lastBatch))
            committed
          else {
            val (folded, out) = fold(s, batch, batchId, committed)
            swap.commit(out)
            folded
          }
        sink(emit(s, state, batchId))
      }
      .start()

  /** Sparse sketch counters keyed by (row, col). */
  private type Counters = Map[(Int, Long), Long]

  /** One batch's Count-Min counters: one map-side-combined aggregation
    * over its tokens ([[graft.operators.Scoring.cmCounters]]). */
  private def batchCounters(batch: Dataset[Row]): Counters =
    graft.operators.Scoring.cmCounters(
      batch.select(explode(graft.functions.TextTokens.tokens).as("term"))
        .withColumn("fp", graft.functions.RollingHash.rolling_hash(col("term"))))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def addCounters(a: Counters, b: Counters): Counters =
    (a.toSeq ++ b.toSeq).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap

  /** Start the stream. `records` carries a `text` column; `sink`
    * receives, per batch, the MERGED summary so far as rows
    * (term, count_lb, n_total, batch_id) — `count_lb` is the MG lower
    * bound (undercounts by ≤ n_total/(cap+1), never overcounts). The
    * committed state is the emitted summary. */
  def heavyHittersStream(
      records: DataFrame,
      stateDir: String,
      cap: Int,
      checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery = {
    val agg = new MisraGriesAggregator(cap)
    val mgUdaf = udaf(agg)
    def summary(s: SparkSession, st: (MG, Long), batchId: Long) = {
      import s.implicits._
      st._1.terms.zip(st._1.counts).toSeq
        .map { case (t, c) => (t, c, st._2, batchId) }
        .toDF("term", "count_lb", "n_total", "batch_id")
    }
    foldStream("heavyHittersStream", records, stateDir, "mg",
        checkpointDir, sink)(rows =>
      (MG(rows.map(_.getString(0)), rows.map(_.getLong(1))),
        rows.headOption.fold(0L)(_.getLong(2)))) {
      (s, batch, batchId, st) =>
        import s.implicits._
        val row = batch
          .select(explode(graft.functions.TextTokens.tokens).as("term"))
          .agg(mgUdaf($"term").as("mg"), count(lit(1)).as("n"))
          .collect().head
        val bm = row.getStruct(0)
        val folded = (agg.merge(st._1,
          MG(bm.getSeq[String](0).toArray, bm.getSeq[Long](1).toArray)),
          st._2 + row.getLong(1))
        (folded, summary(s, folded, batchId))
    }(summary)
  }

  /** Continuous Count-Min — the streaming face of `llm_count_min` and
    * the point-estimate sibling of [[heavyHittersStream]]: MG keeps the
    * candidate SET, Count-Min answers "how frequent is THIS term" with
    * a never-undercounting estimate. Counters are mergeable by plain
    * addition, so each micro-batch pays ONE map-side-combined
    * aggregation over its own tokens (≤ depth×W counters per partition
    * cross the shuffle) and the accumulated sketch updates with a
    * driver-side counter-wise sum — O(depth×W) coordinator work, and
    * the stream never re-scans history. The total token count rides
    * the sketch itself (row 0's counters sum to N), so no second
    * aggregation is paid.
    *
    * Same state discipline as the MG stream ([[foldStream]]): the
    * committed (r, col, cnt, n_total, batch_id) rows are the emitted
    * ones. `sink` receives, per batch, the merged counters; point
    * estimates are a pure downstream probe (min over rows of the
    * hashed counter — `Scoring.cmEstimate`). */
  def countMinStream(
      records: DataFrame,
      stateDir: String,
      checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery = {
    def sketch(s: SparkSession, st: (Counters, Long), batchId: Long) = {
      import s.implicits._
      st._1.toSeq.map { case ((r, col), c) => (r, col, c, st._2, batchId) }
        .toDF("r", "col", "cnt", "n_total", "batch_id")
    }
    foldStream("countMinStream", records, stateDir, "cm", checkpointDir,
        sink)(rows =>
      (rows.map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap,
        rows.headOption.fold(0L)(_.getLong(3)))) {
      (s, batch, batchId, st) =>
        val batchCtrs = batchCounters(batch)
        // every occurrence increments exactly one row-0 counter
        val folded = (addCounters(st._1, batchCtrs),
          st._2 + batchCtrs.collect { case ((0, _), c) => c }.sum)
        (folded, sketch(s, folded, batchId))
    }(sketch)
  }

  /** Continuous heavy-change — the streaming face of
    * `agg_cm_heavy_change` and the epoch-aware member of the CM
    * stream pair: a corpus refresh asks "whose frequency is CHANGING
    * across snapshots", so the state holds TWO sketches — the
    * CURRENT epoch's accumulating counters and the PREVIOUS epoch's
    * frozen ones. Every folded batch pays the same ONE
    * map-side-combined counter aggregation as [[countMinStream]];
    * after `epochBatches` folds the epoch ROTATES (prev ← cur,
    * cur ← 0) — coordinator work stays O(depth×W), history is never
    * re-scanned, and the pair gives the downstream probe
    * est_cur(t) − est_prev(t) with MISSING COUNTER = 0 per side (the
    * batch query's exact parity discipline). State: long-form
    * (r, col, cnt_cur, cnt_prev) cells — a cell survives rotation
    * while either side is nonzero — plus epoch, folds-in-epoch, and
    * the last folded batch id (a zero-cell sentinel keeps those
    * scalars durable even if both sketches are empty), committed
    * BEFORE emission ([[foldStream]]). `sink` receives
    * (r, col, cnt_cur, cnt_prev, epoch, batch_id) per batch. */
  def cmChangeStream(
      records: DataFrame,
      epochBatches: Int,
      stateDir: String,
      checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery = {
    require(epochBatches >= 1, "cmChangeStream: epochBatches must be >= 1")
    // (cur, prev, epoch, folds in epoch)
    type Pair = (Counters, Counters, Long, Long)
    def side(rows: Array[Row], i: Int): Counters =
      rows.map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(i))
        .filter(_._2 != 0L).toMap
    def cells(st: Pair) = {
      val keys = (st._1.keySet ++ st._2.keySet).toSeq
      (if (keys.nonEmpty) keys else Seq((0, 0L))).map(k =>
        (k._1, k._2, st._1.getOrElse(k, 0L), st._2.getOrElse(k, 0L), st._3))
    }
    foldStream("cmChangeStream", records, stateDir, "cmchg", checkpointDir,
        sink)(rows =>
      (side(rows, 2), side(rows, 3), rows.headOption.fold(0L)(_.getLong(4)),
        rows.headOption.fold(0L)(_.getLong(5)))) {
      (s, batch, batchId, st) =>
        import s.implicits._
        val (cur0, prev0, epoch0, folds0) = st
        val folded = addCounters(cur0, batchCounters(batch))
        // rotation fires as the epoch's LAST batch folds; the next
        // batch starts the fresh epoch against the frozen snapshot
        val next: Pair =
          if (folds0 + 1 >= epochBatches)
            (Map.empty, folded, epoch0 + 1, 0L)
          else (folded, prev0, epoch0, folds0 + 1)
        (next, cells(next).map { case (r, c, cur, prev, e) =>
            (r, c, cur, prev, e, next._4, batchId) }
          .toDF("r", "col", "cnt_cur", "cnt_prev", "epoch", "folds",
            "batch_id"))
    } { (s, st, batchId) =>
      import s.implicits._
      cells(st).map { case (r, c, cur, prev, e) =>
          (r, c, cur, prev, e, batchId) }
        .toDF("r", "col", "cnt_cur", "cnt_prev", "epoch", "batch_id")
    }
  }

  /** Continuous distribution-shape monitor — the streaming face of
    * `evt_moments`, and the exact-statistics member of this file's
    * mergeable-summary family: raw power sums (n, Σx, Σx², Σx³, Σx⁴)
    * form a summary mergeable by PLAIN ADDITION, so each micro-batch
    * pays ONE map-side-combined per-key aggregate over its own rows
    * (key-count rows cross the shuffle, nothing per-event) and the
    * accumulated state updates with a driver-side O(keys) BigInt add —
    * the skewness and excess kurtosis of EVERYTHING streamed so far,
    * per key, with history never re-scanned. Sums persist as BigInt
    * STRINGS (the driver-BigInt discipline: no DECIMAL(38) ceiling at
    * any stream length — batch sums are bounded by the DECIMAL(38)
    * aggregate, the accumulated total is not), g1/g2 derive from the
    * exact central-moment identities of `evt_moments` with doubles
    * only at the final cast.
    *
    * Same state discipline as [[heavyHittersStream]] ([[foldStream]]):
    * per-key sum rows plus the last folded batch id, committed BEFORE
    * emission. `records` must carry a `key` string and an `x` long
    * column; `sink` receives, per batch, one row per key:
    * (key, n, skew_g1, kurt_g2, batch_id). */
  def momentsStream(
      records: DataFrame,
      stateDir: String,
      checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery = {
    type Sums = (Long, BigInt, BigInt, BigInt, BigInt)
    val zero: Sums = (0L, BigInt(0), BigInt(0), BigInt(0), BigInt(0))
    foldStream("momentsStream", records, stateDir, "mom", checkpointDir,
        sink)(_.map { r =>
      r.getString(0) -> ((r.getLong(1), BigInt(r.getString(2)),
        BigInt(r.getString(3)), BigInt(r.getString(4)),
        BigInt(r.getString(5))))
    }.toMap) { (s, batch, batchId, state) =>
      import s.implicits._
      val big = org.apache.spark.sql.types.DecimalType(38, 0)
      val batchSums = batch.select($"key", $"x")
        .groupBy($"key")
        .agg(count(lit(1)).as("n"),
          sum($"x".cast(big)).as("s1"),
          sum($"x".cast(big) * $"x").as("s2"),
          sum($"x".cast(big) * $"x" * $"x").as("s3"),
          sum($"x".cast(big) * $"x" * $"x" * $"x").as("s4"))
        .collect() // one row per key — coordinator-sized
        .map { r =>
          // a DECIMAL(38,0) overflow (s4 = Σx⁴ first, at |x|
          // around 10^9 with ~10^2 rows/key/batch) comes back
          // NULL in non-ANSI mode; folding a NULL as zero would
          // CORRUPT the accumulated moments silently, so fail
          // loudly with the offending key instead
          for (i <- 2 to 5)
            require(!r.isNullAt(i),
              s"momentsStream: power sum s${i - 1} overflowed " +
                s"DECIMAL(38,0) for key '${r.getString(0)}' in " +
                s"batch $batchId — reduce |x| or batch size")
          r.getString(0) -> ((r.getLong(1),
            BigInt(r.getDecimal(2).toBigInteger),
            BigInt(r.getDecimal(3).toBigInteger),
            BigInt(r.getDecimal(4).toBigInteger),
            BigInt(r.getDecimal(5).toBigInteger)))
        }.toMap
      val m = (state.keySet ++ batchSums.keySet).map { k =>
        val a = state.getOrElse(k, zero)
        val b = batchSums.getOrElse(k, zero)
        k -> ((a._1 + b._1, a._2 + b._2, a._3 + b._3,
          a._4 + b._4, a._5 + b._5))
      }.toMap
      (m, m.toSeq.map { case (k, (n, s1, s2, s3, s4)) =>
        (k, n, s1.toString, s2.toString, s3.toString, s4.toString,
          batchId)
      }.toDF("key", "n", "s1", "s2", "s3", "s4", "batch_id"))
    } { (s, merged, batchId) =>
      import s.implicits._
      merged.toSeq.map { case (k, (nL, s1, s2, s3, s4)) =>
        val n = BigInt(nL)
        val m2 = n * s2 - s1 * s1
        val m3 = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
        val m4 = n * n * n * s4 - 4 * n * n * s1 * s3 +
          6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
        val (g1, g2) =
          if (m2 == 0) (0.0, 0.0)
          else (m3.toDouble / (m2.toDouble * math.sqrt(m2.toDouble)),
            m4.toDouble / (m2.toDouble * m2.toDouble) - 3.0)
        (k, nL, g1, g2, batchId)
      }.toDF("key", "n", "skew_g1", "kurt_g2", "batch_id")
    }
  }

  /** Continuous quantile-digest rank bounds — the streaming face of
    * `agg_qdigest_ranks`, and the QUANTILE member of the mergeable-
    * summary family: the digest's cell counts add across batches, so
    * the state is ONE bounded histogram (the 256 level-8 dyadic cells
    * over the 2^16-cent domain — every coarser level derives exactly
    * from it by halving, so levels 8..16 cost nothing to store) plus
    * the total, and each micro-batch pays one map-side-combined
    * 256-ary groupBy. Emissions mirror the batch face: per probe q,
    * heavy level-12 cells give [rank_lo, rank_hi], the exact level-12
    * counts give the exact rank, and `within` must hold — the same
    * checked contract, continuously. Same batch-id discipline as
    * [[momentsStream]] ([[foldStream]]). `records` must carry an `x`
    * long (cents); `sink` receives 8 probe rows per batch. */
  def qdigestStream(
      records: DataFrame,
      stateDir: String,
      checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("qdigestStream", records, stateDir, "qdig", checkpointDir,
        sink) { rows =>
      val arr = new Array[Long](256)
      rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
      arr
    } { (s, batch, batchId, state) =>
      import s.implicits._
      val cells = batch
        .select(greatest(lit(0L), least(lit(65535L),
          col("x").cast("long"))).as("v"))
        .selectExpr("cast(v div 256 as int) as c8")
        .groupBy($"c8").agg(count(lit(1)).as("n"))
        .collect() // <= 256 rows — the digest's own bound
      val m = state.clone()
      cells.foreach(r => m(r.getInt(0)) += r.getLong(1))
      (m, m.zipWithIndex.collect { case (n, i) if n > 0 =>
        (i, n, batchId)
      }.toSeq.toDF("c8", "n", "batch_id"))
    } { (s, merged, batchId) =>
      import s.implicits._
      // level-12 cells derive exactly: cell12(i) = Σ c8[16i..16i+15]
      val l12 = Array.tabulate(16)(i =>
        (16 * i until 16 * (i + 1)).map(merged).sum)
      val total = merged.sum
      val thr = (total + 63) / 64
      // heavy-cell census over the stored tower (levels 8..16)
      var digestCells = 0L
      var lvlCells = merged
      while (lvlCells.length >= 1) {
        digestCells += lvlCells.count(_ >= thr)
        if (lvlCells.length == 1) lvlCells = Array.empty
        else lvlCells = Array.tabulate(lvlCells.length / 2)(i =>
          lvlCells(2 * i) + lvlCells(2 * i + 1))
      }
      (1 to 8).map { j =>
        val heavy = (0 until j).filter(i => l12(i) >= thr)
        val lo = heavy.map(l12(_)).sum
        val hi = lo + (j - heavy.length) * math.max(0L, thr - 1)
        val exact = (0 until j).map(l12(_)).sum
        (j * 4096L, total, thr, digestCells, lo, hi, exact,
          lo <= exact && exact <= hi, batchId)
      }.toDF("q_cents", "n_total", "thr", "digest_cells", "rank_lo",
        "rank_hi", "exact_rank", "within", "batch_id")
    }

  /** Continuous Poisson-bootstrap confidence intervals — the
    * streaming face of `evt_bootstrap_ci`, and the RESAMPLING member
    * of the mergeable-summary family: all 16 replicates' (Σwx, Σw)
    * pairs plus the exact (Σx, n) are summaries mergeable by plain
    * addition, so each micro-batch pays ONE map-side-combined per-key
    * aggregate (34 partials, key-count rows cross the shuffle) and
    * the CI over everything streamed so far updates with a driver
    * O(keys) add. Replicate weights are read from the md5 bytes of
    * each record's `id` ([[graft.operators.EventTime.poissonWeightSql]]),
    * which makes replay WEIGHT-STABLE: a re-delivered record would
    * draw the identical weights, so the batch-id guard's exactly-once
    * fold is also deterministic under at-least-once delivery.
    * Accumulated sums persist as BigInt strings (the momentsStream
    * discipline — no Long ceiling at any stream length; batch sums
    * are bounded by the micro-batch).
    *
    * `records` must carry `key` string, `id` string (the stable
    * record identity the weights hash), and `x` long. `sink`
    * receives, per batch, one row per key:
    * (key, n, mean, boot_lo, boot_hi, n_reps, batch_id). */
  def bootstrapStream(
      records: DataFrame,
      stateDir: String,
      checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery = {
    // per key: n, Σx, then (Σw_b·x, Σw_b) for b = 0..15 — all BigInt
    val width = 2 + 32
    foldStream("bootstrapStream", records, stateDir, "boot", checkpointDir,
        sink)(_.map { r =>
      r.getString(0) -> r.getString(1).split(',').map(BigInt(_)).toIndexedSeq
    }.toMap) { (s, batch, batchId, state) =>
      import s.implicits._
      val withH = batch.select($"key", $"x",
        md5($"id".cast("string")).as("h"))
      val repAggs = (0 until 16).flatMap { b =>
        val w = expr(graft.operators.EventTime.poissonWeightSql(b))
          .cast("long")
        Seq(sum(w * $"x").as(s"s$b"), sum(w).as(s"n$b"))
      }
      val batchSums = withH.groupBy($"key")
        .agg(count(lit(1)).as("n"), (sum($"x").as("sx") +: repAggs): _*)
        .collect() // one row per key — coordinator-sized
        .map { r =>
          r.getString(0) -> (0 until width).map(i =>
            BigInt(r.getLong(i + 1))).toIndexedSeq
        }.toMap
      val zero = IndexedSeq.fill(width)(BigInt(0))
      val m = (state.keySet ++ batchSums.keySet).map { k =>
        val a = state.getOrElse(k, zero)
        val b = batchSums.getOrElse(k, zero)
        k -> (0 until width).map(i => a(i) + b(i))
      }.toMap
      (m, m.toSeq.map { case (k, ss) => (k, ss.mkString(","), batchId) }
        .toDF("key", "sums", "batch_id"))
    } { (s, merged, batchId) =>
      import s.implicits._
      merged.toSeq.map { case (k, ss) =>
        val n = ss(0); val s1 = ss(1)
        val means = (0 until 16).flatMap { b =>
          val sb = ss(2 + 2 * b); val nb = ss(3 + 2 * b)
          if (nb > 0) Some(sb.toDouble / nb.toDouble) else None
        }
        val mean = if (n > 0) s1.toDouble / n.toDouble else 0.0
        val (lo, hi) =
          if (means.nonEmpty) (means.min, means.max) else (mean, mean)
        (k, n.toLong, mean, lo, hi, means.length.toLong, batchId)
      }.toDF("key", "n", "mean", "boot_lo", "boot_hi", "n_reps",
        "batch_id")
    }
  }
}
