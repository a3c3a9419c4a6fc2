package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.types._

import graft.{QueryDef, QueryPack, Tables}
import graft.functions.Exact._

/** Event-time operators over the `events` stream table: tumbling
  * windows, gap-based sessionization, and a backward as-of join — the
  * batch-checkable faces of the streaming primitives (the watermarked
  * streaming twin lives in `graft.streaming.FileStreamPipeline
  * .ingestStats`). All time arithmetic stays in epoch-nanosecond longs
  * so both engines do identical integer math (no calendar/bucket-origin
  * ambiguity).
  *
  * Scale notes: tumbling windows aggregate with map-side combine on
  * (bucket, type) — shuffle is O(buckets×types). Sessionization and
  * as-of are per-user window scans: one shuffle on user_id, then a
  * single ordered pass per user — the standard log-processing shape
  * that survives billions of rows per day as long as no single user
  * dominates (salt the heavy key if one does).
  */
object EventTime extends QueryPack {

  // All internal ordering/gap/bucket arithmetic runs at MICROsecond
  // precision: DuckDB reads the parquet timestamp[ns] column as a
  // µs-resolution TIMESTAMP, so ns-resolution comparisons on the Spark
  // side could order same-µs events differently. `ts div 1000` aligns
  // both engines on identical integers.
  /** evt_holt tap tables (single source for BOTH engines): stage-one
    * kernel 2^(7−k), and its self-convolution — the two-stage (Brown)
    * kernel (k+1 or 15−k)·2^(14−k). Σ = 255 and 255² = 65025. */
  private val HoltW1: IndexedSeq[Long] =
    (0 to 7).map(k => 1L << (7 - k))
  private val HoltW2: IndexedSeq[Long] =
    (0 to 14).map(k => (if (k <= 7) k + 1L else 15L - k) << (14 - k))

  private val HourUs = 3600L * 1000000L
  private val DayUs = 24L * HourUs
  private val GapUs = 30L * 60L * 1000000L

  /** Shared gap-sessionization CTE chain (split on gap STRICTLY
    * greater than the timeout, event_id tiebreak for same-microsecond
    * events) — used by both the manual and native session queries, so
    * the two oracles cannot drift. */
  private lazy val sessionsCte: String = s"""
        t AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus,
                 LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY epoch_us(ts), event_id) AS prev_tus
          FROM events),
        flags AS (
          SELECT user_id, event_id, tus,
                 CASE WHEN prev_tus IS NULL OR tus - prev_tus > $GapUs
                      THEN 1 ELSE 0 END AS new_session
          FROM t),
        sessions AS (
          SELECT user_id, tus,
                 CAST(SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY tus, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_no
          FROM flags)"""

  // SPRT (Wald 1945) parameters for `evt_sprt`: H0 conversion p0 vs
  // H1 p1, α = β = 0.05. The per-event log-likelihood increments and
  // the decision boundaries are computed ONCE here and interpolated
  // into both engines as integer micro-unit literals — the whole walk
  // is exact integer arithmetic with no transcendental in either
  // engine's plan.
  private val SprtP0 = 0.18
  private val SprtP1 = 0.22
  private val SprtStepSucc = math.round(math.log(SprtP1 / SprtP0) * 1e6)
  private val SprtStepFail =
    math.round(math.log((1.0 - SprtP1) / (1.0 - SprtP0)) * 1e6)
  private val SprtUpper = math.round(math.log(0.95 / 0.05) * 1e6)
  private val SprtLower = -SprtUpper

  /** χ²₀.₀₅ at 2 degrees of freedom for `evt_kruskal`'s fixed-k=3
    * verdict, as an integer micro literal (the SPRT ln-19 discipline:
    * computed ONCE here, interpolated into both engines, spec-gated
    * against the true constant). For df = 2 the chi-square tail is
    * exactly exponential — P(H > x) = e^(−x/2) — so the critical
    * value has the closed form 2·ln 20 = 5.991465…, no table lookup
    * or numeric inversion involved. */
  private[operators] val KwCritMicro = math.round(2.0 * math.log(20.0) * 1e6)

  /** The SPRT walk behind `evt_sprt` over a (variant, tus, event_id,
    * succ) frame — exposed for EventTimeSpec's planted-sequence gates.
    * Per variant: the cumulative log-likelihood ratio after event i is
    * a·s_i + b·(i − s_i) = prefix-sum of the per-event increment, so
    * the walk rides [[Relational.globalPrefixSum]] (range partition +
    * per-partition scan + broadcast offsets — never a single-task
    * window); the first boundary crossing is one min(struct) aggregate.
    * Two passes per variant (prefix + rank) — a fused deployment
    * computes both in the one partition scan. The variant list is
    * derived FROM the data (one distinct aggregate, O(#variants)
    * driver rows), so an absent parity class emits no row — matching
    * the oracle's GROUP BY — instead of a null-aggregate row. */
  private[operators] def sprtDecisions(
      s: org.apache.spark.sql.SparkSession,
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val variants = ev.select($"variant").distinct().orderBy($"variant")
      .collect().map(_.getLong(0)).toSeq
    if (variants.isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("variant", LongType),
          StructField("n_events", LongType),
          StructField("n_success", LongType),
          StructField("llr_end_micro", LongType),
          StructField("decision", StringType),
          StructField("decided_at_n", LongType),
          StructField("llr_at_decision_micro", LongType))))
    val perVariant = variants.map { vv =>
      val one = ev.filter($"variant" === vv)
        .withColumn("v", when($"succ" === 1L, lit(SprtStepSucc))
          .otherwise(lit(SprtStepFail)))
      val cum = Relational.globalPrefixSum(s, one,
        Seq($"tus", $"event_id"), "v")
      val ranked = Relational.globalRank(s, cum, Seq($"tus", $"event_id"))
      ranked.agg(
          count(lit(1)).as("n_events"),
          sum($"succ").as("n_success"),
          min(when($"psum" >= SprtUpper || $"psum" <= SprtLower,
            struct($"rk", $"psum"))).as("m"))
        .select(lit(vv).as("variant"), $"n_events", $"n_success",
          (lit(SprtStepSucc) * $"n_success" +
            lit(SprtStepFail) * ($"n_events" - $"n_success"))
            .as("llr_end_micro"),
          when($"m".isNull, lit("continue"))
            .when($"m.psum" >= SprtUpper, lit("accept_h1"))
            .otherwise(lit("accept_h0")).as("decision"),
          coalesce($"m.rk" + 1L, lit(0L)).as("decided_at_n"),
          coalesce($"m.psum", lit(0L)).as("llr_at_decision_micro"))
    }
    perVariant.reduce(_ unionByName _).orderBy($"variant")
  }

  /** The 5-round power iteration behind `evt_markov_stationary`, over
    * any (src, dst, n) transition-count frame — exposed for
    * EventTimeSpec's planted-dangling-state mass-conservation gate.
    * Integer nano fixed point (1e9 ≙ 1); per round: one edge join +
    * map-side-combined sum for the inflow, one O(1)-row aggregate of
    * the mass sitting on DANGLING states (no outgoing edges),
    * redistributed uniformly as D div k to every state (the PageRank
    * treatment — total mass stays 1e9 up to floor losses and no
    * state's mass vanishes into an absorbing sink). The new π covers
    * the FULL state list via left join, so zero-inflow states carry
    * their redistribution share. */
  private[operators] def markovStationary(
      s: org.apache.spark.sql.SparkSession,
      cells0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val cells = cells0.pin() // row sums + states + rounds
    val rowSums = cells.groupBy($"src").agg(sum($"n").as("n_out"))
      .pin()
    val edges = cells.join(rowSums, Seq("src"))
      .pin()
    val states = cells.select($"src".as("state"))
      .unionByName(cells.select($"dst".as("state"))).distinct()
      .pin()
    val k = states.count()
    // Empty-transition-frame guard (sprtDecisions' empty-variant
    // discipline): with zero states the uniform seed 1e9/k is a
    // division by zero at plan-build time; the defined answer is the
    // empty stationary frame, schema preserved via the empty states.
    if (k == 0L)
      return states.select($"state", lit(0L).as("pi_nano"),
        lit(0L).as("n_out"))
    var pi = states
      .select($"state", lit(1000000000L / k).as("pi_nano"))
      .pin()
    for (_ <- 1 to 5) {
      val contrib = pi.join(edges, $"state" === $"src")
        .select($"dst".as("state"),
          expr("pi_nano * n div n_out").as("c"))
        .groupBy($"state").agg(sum($"c").as("cin"))
      val dang = pi
        .join(rowSums.select($"src".as("state")), Seq("state"), "left_anti")
        .agg(coalesce(sum($"pi_nano"), lit(0L)).as("dm")) // ONE row
      pi = states.join(contrib, Seq("state"), "left")
        .crossJoin(broadcast(dang))
        .select($"state",
          (coalesce($"cin", lit(0L)) + expr(s"dm div $k")).as("pi_nano"))
        .pin()
    }
    pi.join(rowSums.select($"src".as("state"), $"n_out"),
        Seq("state"), "left")
      .select($"state", $"pi_nano",
        coalesce($"n_out", lit(0L)).as("n_out"))
      .orderBy($"state")
  }

  /** The exact α=0.05 two-sample KS verdict behind `evt_ks_drift`:
    * reject ⇔ 10⁸·d_num² > 1.3581²·10⁸·(n_A+n_B)·n_A·n_B, evaluated
    * in unbounded integer arithmetic so the decision boundary has NO
    * width ceiling (the in-plan DECIMAL(38) spelling this replaced
    * overflowed past n_A·n_B ≈ 10¹⁵). Runs on the driver over the
    * single aggregate row — O(1) work at any corpus size. Exposed
    * for EventTimeSpec's past-the-ceiling boundary gates. */
  private[operators] def ksReject(nA: Long, nB: Long, dNum: BigInt): Boolean =
    BigInt(100000000L) * dNum * dNum >
      BigInt(184443561L) * (BigInt(nA) + BigInt(nB)) * BigInt(nA) * BigInt(nB)

  /** The exact α=0.05 two-sided Mann–Whitney verdict behind
    * `evt_mannwhitney`: with d2 = 2(U_A − μ_U) and the tie term
    * T = Σ(t³−t), reject ⇔ |z| > 1.96 ⇔ z² > (49/25)² ⇔
    * 7500·d2²·n·(n−1) > 9604·n_A·n_B·(n³−n−T)
    * (z² = d2²/(4σ²), σ² = n_A·n_B·[(n³−n)−T]/(12·n·(n−1)) — the
    * tie-corrected normal approximation, cross-multiplied so no
    * division or sqrt crosses the engines). Unbounded BigInt on the
    * driver over the single aggregate row, the [[ksReject]]
    * discipline: exact at ANY row count. */
  private[operators] def mwReject(
      nA: Long, nB: Long, d2: BigInt, tieT: BigInt): Boolean = {
    val n = BigInt(nA) + BigInt(nB)
    BigInt(7500) * d2 * d2 * n * (n - 1) >
      BigInt(9604) * BigInt(nA) * BigInt(nB) * (n * n * n - n - tieT)
  }

  /** The exact α=0.05 two-sided Wilcoxon signed-rank verdict behind
    * `evt_wilcoxon`: with n nonzero pairs, d2 = 2·W⁺ − n(n+1)/2
    * (= 2(W⁺ − μ), integral — n(n+1)/2 always is) and the tie term
    * T = Σ(t³−t) over tie groups of |d|, reject ⇔ |z| > 1.96 ⇔
    * 7500·d2² > 2401·(2n(n+1)(2n+1) − T)
    * (z² = d2²/(4σ²), σ² = [n(n+1)(2n+1) − T/2]/24 =
    * [2n(n+1)(2n+1) − T]/48 — tie-corrected, cross-multiplied).
    * Driver BigInt over the single aggregate row: exact at any pair
    * count, the [[ksReject]] discipline. */
  private[operators] def wilcoxonReject(
      n: Long, d2: BigInt, tieT: BigInt): Boolean = {
    val nb = BigInt(n)
    BigInt(7500) * d2 * d2 >
      BigInt(2401) * (BigInt(2) * nb * (nb + 1) * (2 * nb + 1) - tieT)
  }

  /** The exact α=0.05 Kruskal–Wallis verdict behind `evt_kruskal`
    * (fixed k = 3, so the critical value is the [[KwCritMicro]]
    * literal): with group sizes nᵢ and DOUBLED midrank sums R2ᵢ
    * (Σ R2ᵢ = n(n+1)), let D = n₀n₁n₂,
    * S = R2₀²n₁n₂ + R2₁²n₀n₂ + R2₂²n₀n₁ (= D·Σ R2ᵢ²/nᵢ),
    * X = S − D·n(n+1)² (≥ 0: Σ R2ᵢ²/nᵢ ≥ (Σ R2ᵢ)²/n by
    * Cauchy–Schwarz) and the tie term T = Σ(t³−t). The tie-corrected
    * statistic H = [12/(n(n+1))·Σ(R2ᵢ/2)²/nᵢ − 3(n+1)] / (1 − T/(n³−n))
    * reduces to 3·X·(n−1) / (D·Y) with Y = n³−n−T, and the verdict is
    * the cross-multiplied 3·10⁶·X·(n−1) > KwCritMicro·D·Y — no
    * division in the decision. Returns (⌊10⁶·H⌋, reject); degenerate
    * (an empty group, or every value tied → Y = 0) reports (0, false).
    * Driver BigInt over the single aggregate row — exact at any event
    * count (the [[ksReject]] discipline). */
  private[operators] def kwVerdict(n0: Long, n1: Long, n2: Long,
      r20: BigInt, r21: BigInt, r22: BigInt, tieT: BigInt): (Long, Boolean) = {
    val n = BigInt(n0) + BigInt(n1) + BigInt(n2)
    val y = n * n * n - n - tieT
    if (n0 == 0L || n1 == 0L || n2 == 0L || y <= 0) (0L, false)
    else {
      val d = BigInt(n0) * BigInt(n1) * BigInt(n2)
      val s = r20 * r20 * n1 * n2 + r21 * r21 * n0 * n2 +
        r22 * r22 * n0 * n1
      val x = s - d * n * (n + 1) * (n + 1)
      val num = BigInt(3000000) * x * (n - 1)
      ((num / (d * y)).toLong, num > BigInt(KwCritMicro) * d * y)
    }
  }

  /** The exact α=0.05 two-sided Wald–Wolfowitz runs verdict behind
    * `evt_runs_test`: with n = n₁+n₂ dichotomized observations and R
    * observed runs, dn = n·R − 2n₁n₂ − n (= n·(R − μ_R), integral),
    * reject ⇔ |z| > 1.96 ⇔ 625·dn²·(n−1) > 4802·n₁n₂·(2n₁n₂ − n)
    * (z² = dn²/(n²σ²), n²σ² = 2n₁n₂(2n₁n₂−n)/(n−1), cross-multiplied;
    * 2·2401 = 4802). Degenerate cases (n₁ = 0 or n₂ = 0, or n < 2:
    * σ = 0) report false — a constant-sign series has nothing to
    * test. Driver BigInt, the [[ksReject]] discipline. */
  private[operators] def runsReject(n1: Long, n2: Long, r: Long): Boolean = {
    if (n1 == 0L || n2 == 0L || n1 + n2 < 2L) false
    else {
      val n = BigInt(n1) + BigInt(n2)
      val p = BigInt(2) * n1 * n2
      val dn = n * r - p - n
      BigInt(625) * dn * dn * (n - 1) > BigInt(4802) * BigInt(n1) * n2 * (p - n)
    }
  }

  /** Theil–Sen robust trend over an (x, y) LongType series — the
    * machinery behind `evt_theil_sen`, exposed for EventTimeSpec's
    * planted-outlier gate. Median selection is DETERMINISTIC: pairs
    * order by (IEEE num/den, num, den) — both engines compute the
    * identical division on identical longs, and the integer tiebreak
    * pins equal-value rationals — and the LOWER median is picked by
    * rank, never averaged (no rational addition). The slope is then
    * broadcast and the intercept is the lower median of the exact
    * residual numerators y·den − num·x over the same discipline.
    * Both rank passes ride [[Relational.globalRank]]; the pair join is
    * O(days²) on the SERIES (already aggregated — days, not rows). */
  private[operators] def theilSen(
      daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val series = daily.pin() // pair join ×2 + residuals
    val pairs = series.as("a").join(series.as("b"), $"a.x" < $"b.x")
      .select(($"b.y" - $"a.y").as("num"), ($"b.x" - $"a.x").as("den"))
    val rankedP = Relational.globalRank(s,
        pairs.withColumn("v", $"num".cast(DoubleType) / $"den"),
        Seq($"v", $"num", $"den"))
      .pin() // count + the pick
    val np = rankedP.agg(count(lit(1)).as("n_pairs"))
    val slope = rankedP.crossJoin(broadcast(np))
      .filter($"rk" === expr("(n_pairs + 1) div 2 - 1"))
      .select($"num".as("slope_num"), $"den".as("slope_den"), $"n_pairs")
      .pin() // residual broadcast + the output row
    val resid = series.crossJoin(broadcast(slope))
      .select(($"y" * $"slope_den" - $"slope_num" * $"x").as("rnum"),
        $"slope_den")
    val rankedR = Relational.globalRank(s,
        resid.withColumn("v", $"rnum".cast(DoubleType) / $"slope_den"),
        Seq($"v", $"rnum"))
      .pin()
    val nd = rankedR.agg(count(lit(1)).as("n_days"))
    rankedR.crossJoin(broadcast(nd))
      .filter($"rk" === expr("(n_days + 1) div 2 - 1"))
      .select($"n_days", $"rnum".as("icept_num"),
        $"slope_den".as("icept_den"))
      .crossJoin(broadcast(slope))
      .select($"n_days", $"n_pairs", $"slope_num", $"slope_den",
        round($"slope_num".cast(DoubleType) / $"slope_den", 6)
          .as("slope_per_x"),
        $"icept_num", $"icept_den",
        round($"icept_num".cast(DoubleType) / $"icept_den", 6)
          .as("icept"))
  }

  /** Poisson(1) bootstrap weight read from BYTE `b` of an md5 hex in
    * column `h` — identical SQL text in Spark and DuckDB (the
    * amsSignSql nibble-parse idiom: ascii() on hex chars, fixed CASE
    * thresholds). u8 = the byte as 0..255; the weight is the inverse
    * CDF of Poisson(1) at u8/256, with thresholds floor(256·CDF) =
    * 94, 188, 235, 251, 255 (CDF at 0..4 = .36788 .73576 .91970
    * .98101 .99634 — EventTimeSpec recomputes them from e⁻¹). One
    * digest per row supplies 16 independent replicate draws. */
  private[graft] def poissonWeightSql(b: Int): String = {
    def nib(pos: Int) =
      s"""(CASE WHEN ascii(substring(h, $pos, 1)) >= 97
          THEN ascii(substring(h, $pos, 1)) - 87
          ELSE ascii(substring(h, $pos, 1)) - 48 END)"""
    val u8 = s"(16 * ${nib(2 * b + 1)} + ${nib(2 * b + 2)})"
    s"""(CASE WHEN $u8 < 94 THEN 0 WHEN $u8 < 188 THEN 1
         WHEN $u8 < 235 THEN 2 WHEN $u8 < 251 THEN 3
         WHEN $u8 < 255 THEN 4 ELSE 5 END)"""
  }

  /** Every event after a user's first, with the user's previous
    * event type as `prev_type` (time, then event_id order) — the
    * first-order transitions of `evt_transitions` and
    * `evt_markov_stationary`. */
  private def typeTransitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("tus"))
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
  }

  /** Per user the purchase/error/click/view counts behind the two
    * behavioral cohorts of the sketch-overlap queries: a = more
    * purchases than errors, b = more clicks than views. */
  private def cohortCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d).groupBy($"user_id")
      .agg(
        count(when($"event_type" === "purchase", 1)).as("np"),
        count(when($"event_type" === "error", 1)).as("ne"),
        count(when($"event_type" === "click", 1)).as("nc"),
        count(when($"event_type" === "view", 1)).as("nv"))
  }

  /** [[cohortCounts]] and the cohorts as oracle CTEs `c`, `a`, `b`. */
  private lazy val cohortSql: String = """c AS (
          SELECT user_id,
                 COUNT(*) FILTER (event_type = 'purchase') AS np,
                 COUNT(*) FILTER (event_type = 'error') AS ne,
                 COUNT(*) FILTER (event_type = 'click') AS nc,
                 COUNT(*) FILTER (event_type = 'view') AS nv
          FROM events GROUP BY user_id),
        a AS (SELECT user_id FROM c WHERE np > ne),
        b AS (SELECT user_id FROM c WHERE nc > nv)"""

  /** Each event as a point of its user's series: (user_id, event_id,
    * tus = epoch micros, y = value in centi-units). */
  private def userSeries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d).select($"user_id", $"event_id",
      expr("ts div 1000").as("tus"),
      (dec($"value") * 100).cast(LongType).as("y"))
  }

  /** [[userSeries]] as the oracle CTE `ev`. */
  private lazy val userSeriesSql: String = """ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM events)"""

  /** Per lag k in `lags`, the moments of the pairs (x = `xCol` at day
    * t−k, yy = `yCol` at day t) of a pinned (day, ...) series, one
    * day-equality self-join per lag: (lag, n_pairs, sx, sy, sxx, syy,
    * sxy), each sum exact in DECIMAL(38) then cast to DOUBLE. */
  private def lagMoments(daily: DataFrame, xCol: String, yCol: String,
      lags: Seq[Long]): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val big = DecimalType(38, 0)
    val byLag = lags.map { k =>
      daily.as("a").join(daily.as("b"), $"a.day" === $"b.day" + k)
        .select(lit(k).as("lag"), col(s"b.$xCol").as("x"),
          col(s"a.$yCol").as("yy"))
    }.reduce(_ unionByName _)
    byLag.groupBy($"lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"x".cast(big)).cast(DoubleType).as("sx"),
        sum($"yy".cast(big)).cast(DoubleType).as("sy"),
        sum($"x".cast(big) * $"x").cast(DoubleType).as("sxx"),
        sum($"yy".cast(big) * $"yy").cast(DoubleType).as("syy"),
        sum($"x".cast(big) * $"yy").cast(DoubleType).as("sxy"))
  }

  /** Pearson correlation over [[lagMoments]] columns, NULL when either
    * variance is zero. */
  private val lagPearson: Column =
    (col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
      nullif(sqrt(greatest(lit(0.0),
        (col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
          (col("n_pairs") * col("syy") - col("sy") * col("sy")))), lit(0.0))

  /** [[lagMoments]] as the oracle CTE `m` over a `pairs` (lag, x, yy)
    * CTE. */
  private lazy val lagMomentsSql: String = """m AS (
          SELECT lag, COUNT(*) AS n_pairs,
                 CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(yy AS HUGEINT)) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(yy AS HUGEINT) * yy) AS DOUBLE) AS syy,
                 CAST(SUM(CAST(x AS HUGEINT) * yy) AS DOUBLE) AS sxy
          FROM pairs GROUP BY lag)"""

  /** [[lagPearson]] in the oracle's spelling. */
  private lazy val lagPearsonSql: String = """(n_pairs * sxy - sx * sy) /
                 NULLIF(sqrt(greatest(0.0,
                   (n_pairs * sxx - sx * sx)
                     * (n_pairs * syy - sy * sy))), 0.0)"""

  /** Exact 2×-scale median and 4×-scale MAD per event_type of a
    * pinned (event_type, `vCol`, c) count table: a median is the sum
    * m2 = v1 + v2 of the two middle order statistics, picked off the
    * cumulative counts, and the MAD is the 2×-median of
    * dev = |2y − m2| — integers only, every window bounded by the
    * distinct value domain. Returns (per-type count n, median table,
    * MAD table), the last two as (event_type, m2). */
  private def medianMad2(vc: DataFrame,
      vCol: String): (DataFrame, DataFrame, DataFrame) = {
    val s = vc.sparkSession
    import s.implicits._
    val n = vc.groupBy($"event_type").agg(sum($"c").as("n"))
    def median2(df: DataFrame, v: String): DataFrame = {
      val w = Window.partitionBy($"event_type").orderBy(col(v))
      df.withColumn("cum", sum($"c").over(w))
        .join(broadcast(n), Seq("event_type"))
        .groupBy($"event_type")
        .agg(
          min(when($"cum" >= expr("(n + 1) div 2"), col(v))).as("v1"),
          min(when($"cum" >= expr("n div 2 + 1"), col(v))).as("v2"))
        .select($"event_type", ($"v1" + $"v2").as("m2"))
    }
    val med = median2(vc, vCol)
    val dev = vc.join(broadcast(med), Seq("event_type"))
      .select($"event_type", abs(lit(2) * col(vCol) - $"m2").as("dv"), $"c")
      .groupBy($"event_type", $"dv").agg(sum($"c").as("c"))
    (n, med, median2(dev, "dv"))
  }

  /** [[medianMad2]] as oracle CTEs over a `vc` (event_type, `v`, c)
    * CTE: the per-type count `n`, the 2×-median `med` (column `med`)
    * and the 4×-MAD `mad` (column `mad`). */
  private def medianMadSql(v: String, med: String, mad: String): String =
    s"""n AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
              FROM vc GROUP BY 1),
        cum1 AS (
          SELECT vc.event_type, vc.$v, n.n,
                 SUM(vc.c) OVER (PARTITION BY vc.event_type
                                 ORDER BY vc.$v) AS cum
          FROM vc JOIN n USING (event_type)),
        med AS (
          SELECT event_type,
                 MIN(CASE WHEN cum >= (n + 1) // 2 THEN $v END)
                 + MIN(CASE WHEN cum >= n // 2 + 1 THEN $v END) AS $med
          FROM cum1 GROUP BY event_type),
        dev AS (
          SELECT vc.event_type, abs(2 * vc.$v - med.$med) AS dv,
                 CAST(SUM(vc.c) AS BIGINT) AS c
          FROM vc JOIN med USING (event_type)
          GROUP BY 1, 2),
        cum2 AS (
          SELECT dev.event_type, dev.dv, n.n,
                 SUM(dev.c) OVER (PARTITION BY dev.event_type
                                  ORDER BY dev.dv) AS cum
          FROM dev JOIN n USING (event_type)),
        mad AS (
          SELECT event_type,
                 MIN(CASE WHEN cum >= (n + 1) // 2 THEN dv END)
                 + MIN(CASE WHEN cum >= n // 2 + 1 THEN dv END) AS $mad
          FROM cum2 GROUP BY event_type)"""

  /** The daily series: per day, the exact sum of event values in
    * centi-units, as column `y`. */
  private def dailyCents(s: SparkSession, d: String, y: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(expr(s"(ts div 1000) div $DayUs").as("day"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
          .as("y"))
      .groupBy($"day").agg(sum($"y").as(y))
  }

  /** Events as (day, y = value in centi-units) crossed with the
    * one-row (d0, d1) day range — the input of the temporal-split
    * rank and drift tests. */
  private def dayCents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(expr(s"(ts div 1000) div $DayUs").as("day"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
          .as("y"))
    val rng = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
    ev.crossJoin(broadcast(rng))
  }

  /** Per value y, its event counts in the first (`ca`) and second
    * (`cb`) temporal half — the KS and Mann–Whitney count table. */
  private def halfCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dayCents(s, d)
      .withColumn("side",
        when($"day" < expr("(d0 + d1 + 1) div 2"), 0).otherwise(1))
      .groupBy($"y")
      .agg(sum(when($"side" === 0, 1L).otherwise(0L)).as("ca"),
        sum(when($"side" === 1, 1L).otherwise(0L)).as("cb"))
  }

  /** [[dayCents]] as oracle CTEs `ev`, `rng`. */
  private lazy val dayCentsSql: String = s"""ev AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM events),
        rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev)"""

  /** [[halfCounts]] as oracle CTEs (after [[dayCentsSql]]) `cnt` and
    * the side totals `nn`. */
  private lazy val halfCountsSql: String = s"""$dayCentsSql,
        cnt AS (
          SELECT y,
                 CAST(COUNT(*) FILTER (day < (d0 + d1 + 1) // 2)
                   AS BIGINT) AS ca,
                 CAST(COUNT(*) FILTER (day >= (d0 + d1 + 1) // 2)
                   AS BIGINT) AS cb
          FROM ev, rng GROUP BY y),
        nn AS (
          SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                 CAST(SUM(cb) AS BIGINT) AS n_b FROM cnt)"""

  override val queries: Map[String, QueryDef] = Map(

    // ── Poisson-bootstrap confidence intervals (per event type) ──
    // THE distributed bootstrap (Chamandy et al., Google 2012;
    // resampling n rows with replacement is a full shuffle per
    // replicate, but each row's multiplicity in replicate b is
    // asymptotically an INDEPENDENT Poisson(1) draw — so all B
    // resamples become per-row weights folded in the same pass):
    // 16 replicates of the per-type mean event value, weights read
    // from the 16 bytes of ONE md5 per row ([[poissonWeightSql]] —
    // the agg_f2_sketch one-digest discipline), so the corpus-sized
    // work is a single map-side-combined groupBy computing all 32
    // weighted partials plus the exact moments. The replicate means
    // are exact-BIGINT ratios (one IEEE division each); the interval
    // is the min/max envelope of the 16 means — at B = 16 the
    // (1/17, 16/17) order statistics, an ~88% percentile-bootstrap
    // CI. Mergeable across partitions/days by addition like every
    // sketch in the pack. The oracle re-derives every draw from the
    // same digest bytes via CROSS JOIN range(0,16).
    "evt_bootstrap_ci" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // Spark side reads the digest's 16 bytes as four 32-bit
        // integer chunks (conv once each) instead of 32 hex-nibble
        // string parses per row: byte b is (v_{b div 4} >> 8·(3 −
        // b mod 4)) & 255 — the identical u8 the oracle's
        // [[poissonWeightSql]] nibble arithmetic produces, so every
        // Poisson draw is unchanged. The r15 shape inlined the
        // nibble CASEs into all 32 partial aggregates: a ~200 KB
        // expression tree whose Catalyst planning alone cost ~1 s
        // per run and whose per-row work was 64 substring/ascii
        // calls (guide §1.2: per-task work; the plan shrinks 20×).
        val ev = Tables.events(s, d).select($"event_type",
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            .as("cents"),
          md5($"event_id".cast("string")).as("h"))
          .select(Seq($"event_type", $"cents") ++
            (0 until 4).map(i => expr(
              s"cast(conv(substring(h, ${8 * i + 1}, 8), 16, 10) as bigint)")
              .as(s"v$i")): _*)
        val reps = (0 until 16).flatMap { b =>
          val u8 = shiftright(col(s"v${b / 4}"), 8 * (3 - b % 4))
            .bitwiseAND(lit(255L))
          val w = when(u8 < 94, 0L).when(u8 < 188, 1L).when(u8 < 235, 2L)
            .when(u8 < 251, 3L).when(u8 < 255, 4L).otherwise(5L)
          Seq(sum(w * $"cents").as(s"s$b"), sum(w).as(s"n$b"))
        }
        val wide = ev.groupBy($"event_type")
          .agg(count(lit(1)).as("n_rows"),
            (sum($"cents").as("sum_cents") +: reps): _*)
        val long = wide.select($"event_type", $"n_rows", $"sum_cents",
            explode(array((0 until 16).map(b => struct(
              col(s"s$b").as("sb"), col(s"n$b").as("nb"))): _*)).as("r"))
          .select($"event_type", $"n_rows", $"sum_cents",
            $"r.sb", $"r.nb")
          .filter($"nb" > 0)
          .withColumn("mb", $"sb".cast(DoubleType) / $"nb".cast(DoubleType))
        long.groupBy($"event_type")
          .agg(max($"n_rows").as("n_rows"),
            (max($"sum_cents".cast(DoubleType)) /
              max($"n_rows".cast(DoubleType))).as("mean_cents"),
            min($"mb").as("boot_lo"), max($"mb").as("boot_hi"),
            count(lit(1)).as("n_reps"))
          .orderBy($"event_type")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT event_type,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                 md5(CAST(event_id AS VARCHAR)) AS h
          FROM events),
        base AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(cents) AS BIGINT) AS sum_cents
          FROM ev GROUP BY event_type),
        rep AS (
          SELECT event_type, r.r AS b,
                 CAST(SUM((CASE r.r ${(0 until 16).map(b =>
                   s"WHEN $b THEN ${poissonWeightSql(b)}")
                   .mkString("\n                   ")}
                 END) * cents) AS BIGINT) AS sb,
                 CAST(SUM(CASE r.r ${(0 until 16).map(b =>
                   s"WHEN $b THEN ${poissonWeightSql(b)}")
                   .mkString("\n                   ")}
                 END) AS BIGINT) AS nb
          FROM ev CROSS JOIN range(0, 16) r(r)
          GROUP BY 1, 2),
        m AS (
          SELECT event_type,
                 CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb
          FROM rep WHERE nb > 0)
        SELECT b.event_type, b.n_rows,
               CAST(b.sum_cents AS DOUBLE) / CAST(b.n_rows AS DOUBLE)
                 AS mean_cents,
               MIN(m.mb) AS boot_lo, MAX(m.mb) AS boot_hi,
               CAST(COUNT(*) AS BIGINT) AS n_reps
        FROM base b JOIN m USING (event_type)
        GROUP BY b.event_type, b.n_rows, b.sum_cents
        ORDER BY b.event_type"""),
      headline = true),

    // ── one-way ANOVA F test (parametric k-group mean comparison) ──
    // The parametric sibling of evt_kruskal: same k-group question
    // ("do event types differ in mean value?") answered from VARIANCE
    // decomposition instead of ranks — the one k-group classic the
    // stats pack lacked. The corpus-sized work is ONE map-side-
    // combined aggregate per group of the mergeable sufficient
    // statistics (n, Σy, Σy² in cents); SSB and SSW then decompose on
    // the k group rows with the evt_chi_square discipline: each
    // group's contribution is an exact-integer rational — SSB_g =
    // (S_g·N − S·n_g)² / (n_g·N²), SSW_g = (n_g·Q_g − S_g²) / n_g —
    // rounded at 6 decimals into DECIMAL(20,6) so the cross-group sum
    // is EXACT decimal addition (no float-order sensitivity), doubles
    // only at the final F readout. The rejection verdict applies the
    // df₁ = 4 large-sample critical value 2.372 and is emitted only
    // when the fixture's k = 5 matches that df (guarded, not
    // assumed). Σy² stays within DECIMAL(38) here; a 100 TB run keeps
    // the identical plan (the momentsStream BigInt lift applies).
    "evt_anova_f" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val g = Tables.events(s, d)
          .select($"event_type",
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("y"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("ng"),
            sum($"y".cast(big)).as("sg"),
            sum($"y".cast(big) * $"y").as("qg"))
          .pin() // totals + the contribution join
        val tot = g.agg(sum($"ng").as("n"), sum($"sg").as("s"),
          count(lit(1)).as("k"))
        g.crossJoin(broadcast(tot))
          .withColumn("dssb",
            ($"sg" * $"n" - $"s" * $"ng") * ($"sg" * $"n" - $"s" * $"ng"))
          .withColumn("ssb_c",
            round($"dssb".cast(DoubleType) /
              ($"ng".cast(big) * $"n" * $"n").cast(DoubleType), 6)
              .cast(DecimalType(20, 6)))
          .withColumn("ssw_c",
            round(($"qg" * $"ng" - $"sg" * $"sg").cast(DoubleType) /
              $"ng".cast(DoubleType), 6)
              .cast(DecimalType(20, 6)))
          .groupBy($"k", $"n")
          .agg(sum($"ssb_c").as("ssb_d"), sum($"ssw_c").as("ssw_d"))
          .select($"k", $"n",
            $"ssb_d".cast(DoubleType).as("ssb"),
            $"ssw_d".cast(DoubleType).as("ssw"),
            (($"ssb_d".cast(DoubleType) / ($"k" - 1).cast(DoubleType)) /
              ($"ssw_d".cast(DoubleType) / ($"n" - $"k").cast(DoubleType)))
              .as("f_stat"))
          .select($"k", $"n", $"ssb", $"ssw", $"f_stat",
            ($"k" === 5L && $"f_stat" > 2.372).as("reject_alpha05_df4"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS ng,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS HUGEINT) AS sg,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                     AS BIGINT) * CAST(CAST(value AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS HUGEINT) AS qg
          FROM events GROUP BY event_type),
        t AS (SELECT SUM(ng) AS n, SUM(sg) AS s,
                     CAST(COUNT(*) AS BIGINT) AS k FROM g),
        c AS (
          SELECT t.k, t.n,
            CAST(round(CAST((g.sg * t.n - t.s * g.ng)
                * (g.sg * t.n - t.s * g.ng) AS DOUBLE) /
              CAST(g.ng * t.n * t.n AS DOUBLE), 6) AS DECIMAL(20,6))
              AS ssb_c,
            CAST(round(CAST(g.qg * g.ng - g.sg * g.sg AS DOUBLE) /
              CAST(g.ng AS DOUBLE), 6) AS DECIMAL(20,6)) AS ssw_c
          FROM g CROSS JOIN t),
        a AS (
          SELECT k, CAST(n AS BIGINT) AS n,
                 SUM(ssb_c) AS ssb_d, SUM(ssw_c) AS ssw_d
          FROM c GROUP BY k, n)
        SELECT k, n,
               CAST(ssb_d AS DOUBLE) AS ssb,
               CAST(ssw_d AS DOUBLE) AS ssw,
               (CAST(ssb_d AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
                 (CAST(ssw_d AS DOUBLE) / CAST(n - k AS DOUBLE)) AS f_stat,
               (k = 5 AND (CAST(ssb_d AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
                 (CAST(ssw_d AS DOUBLE) / CAST(n - k AS DOUBLE)) > 2.372)
                 AS reject_alpha05_df4
        FROM a"""),
      headline = false),

    // ── Theil–Sen robust trend (median of pairwise slopes) ──
    // The robust companion to evt_trend_ols: one corrupted day drags a
    // least-squares slope arbitrarily far, while the MEDIAN of all
    // pairwise slopes (Theil 1950; Sen 1968) has a 29% breakdown
    // point. Runs on the daily revenue series in cents: the
    // corpus-sized work is ONE groupBy(day); the O(days²) pair join,
    // both rank passes, and the residual-median intercept all operate
    // on the SERIES. Slopes stay exact (num, den) rationals — the
    // median is selected by rank under the deterministic
    // (IEEE division, num, den) order, never averaged — and the
    // intercept is the residual-numerator median at the slope's exact
    // denominator. EventTimeSpec plants an outlier the OLS slope
    // chases and Theil–Sen ignores.
    "evt_theil_sen" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val raw = dailyCents(s, d, "y")
        val d0 = raw.agg(min($"day").as("d0"))
        theilSen(raw.crossJoin(broadcast(d0))
          .select(($"day" - $"d0").as("x"), $"y"))
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM events),
        raw AS (SELECT day, CAST(SUM(y) AS BIGINT) AS y
                FROM ev GROUP BY day),
        d0 AS (SELECT MIN(day) AS d0 FROM raw),
        daily AS (SELECT day - d0.d0 AS x, y FROM raw, d0),
        pairs AS (
          SELECT b.y - a.y AS num, b.x - a.x AS den
          FROM daily a JOIN daily b ON a.x < b.x),
        rp AS (
          SELECT num, den,
                 ROW_NUMBER() OVER (ORDER BY CAST(num AS DOUBLE) / den,
                                    num, den) AS rk,
                 COUNT(*) OVER () AS n_pairs
          FROM pairs),
        slope AS (
          SELECT num AS slope_num, den AS slope_den,
                 CAST(n_pairs AS BIGINT) AS n_pairs
          FROM rp WHERE rk = (n_pairs + 1) // 2),
        resid AS (
          SELECT d.y * s.slope_den - s.slope_num * d.x AS rnum,
                 s.slope_den
          FROM daily d, slope s),
        rr AS (
          SELECT rnum, slope_den,
                 ROW_NUMBER() OVER (ORDER BY CAST(rnum AS DOUBLE) / slope_den,
                                    rnum) AS rk,
                 COUNT(*) OVER () AS n_days
          FROM resid),
        icept AS (
          SELECT rnum AS icept_num, slope_den AS icept_den,
                 CAST(n_days AS BIGINT) AS n_days
          FROM rr WHERE rk = (n_days + 1) // 2)
        SELECT i.n_days, s.n_pairs, s.slope_num, s.slope_den,
               round(CAST(s.slope_num AS DOUBLE) / s.slope_den, 6)
                 AS slope_per_x,
               i.icept_num, i.icept_den,
               round(CAST(i.icept_num AS DOUBLE) / i.icept_den, 6)
                 AS icept
        FROM slope s, icept i""")),

    // ── changepoint detection: optimal single split (binary
    //    segmentation step) ──
    // "When did the level shift?" — the first step of binary
    // segmentation: the split τ minimizing SSE_left + SSE_right.
    // Since Σy² is split-invariant, that is the τ MAXIMIZING
    // G(τ) = S_l²/n_l + S_r²/n_r, which needs only the prefix sums of
    // y — computed via [[Relational.globalPrefixSum]] over the daily
    // series (range partition + broadcast offsets, no single-task
    // window), with the candidate scoring pure per-row arithmetic:
    // G's numerator S_l²·n_r + S_r²·n_l is exact DECIMAL(38,0) (HUGEINT
    // in the oracle), and the argmax is selected under the
    // deterministic (IEEE G, smallest x) order via ONE max(struct)
    // aggregate — both engines build the same doubles from the same
    // integers, and the x tiebreak pins exact-tie splits. Output: the
    // chosen boundary with each side's exact count/sum and mean.
    "evt_changepoint" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val daily = dailyCents(s, d, "y")
        val cum = Relational.globalPrefixSum(s, daily, Seq($"day"), "y")
        val ranked = Relational.globalRank(s, cum, Seq($"day"))
          .pin() // totals + the candidate scan
        val tot = ranked.agg(count(lit(1)).as("n"), sum($"y").as("s"))
        val best = ranked.crossJoin(broadcast(tot))
          .withColumn("n_l", $"rk" + 1L)
          .withColumn("n_r", $"n" - $"n_l")
          .filter($"n_r" > 0L)
          .withColumn("s_l", $"psum")
          .withColumn("s_r", $"s" - $"psum")
          .withColumn("g_num",
            $"s_l".cast(big) * $"s_l".cast(big) * $"n_r".cast(big) +
              $"s_r".cast(big) * $"s_r".cast(big) * $"n_l".cast(big))
          .withColumn("g", $"g_num".cast(DoubleType) /
            ($"n_l" * $"n_r").cast(DoubleType))
          .agg(max(struct($"g", (-$"day").as("negx"), $"n", $"n_l",
            $"n_r", $"s_l", $"s_r", $"day")).as("m"))
        best.select($"m.n".as("n_days"), $"m.day".as("split_day"),
          $"m.n_l".as("n_left"), $"m.n_r".as("n_right"),
          $"m.s_l".as("sum_left_cents"), $"m.s_r".as("sum_right_cents"),
          round($"m.s_l".cast(DoubleType) / $"m.n_l", 6).as("mean_left"),
          round($"m.s_r".cast(DoubleType) / $"m.n_r", 6).as("mean_right"))
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM events),
        daily AS (SELECT day, CAST(SUM(y) AS BIGINT) AS y
                  FROM ev GROUP BY day),
        cum AS (
          SELECT day, y,
                 SUM(y) OVER (ORDER BY day) AS psum,
                 ROW_NUMBER() OVER (ORDER BY day) AS i,
                 COUNT(*) OVER () AS n,
                 SUM(y) OVER () AS s
          FROM daily),
        cand AS (
          SELECT day, CAST(n AS BIGINT) AS n,
                 CAST(i AS BIGINT) AS n_l,
                 CAST(n - i AS BIGINT) AS n_r,
                 CAST(psum AS BIGINT) AS s_l,
                 CAST(s - psum AS BIGINT) AS s_r
          FROM cum WHERE n - i > 0),
        scored AS (
          SELECT *,
                 CAST(CAST(s_l AS HUGEINT) * s_l * n_r +
                      CAST(s_r AS HUGEINT) * s_r * n_l AS DOUBLE)
                   / CAST(n_l * n_r AS DOUBLE) AS g
          FROM cand),
        sel AS (
          SELECT * FROM scored ORDER BY g DESC, day ASC LIMIT 1)
        SELECT n AS n_days, day AS split_day, n_l AS n_left,
               n_r AS n_right, s_l AS sum_left_cents,
               s_r AS sum_right_cents,
               round(CAST(s_l AS DOUBLE) / n_l, 6) AS mean_left,
               round(CAST(s_r AS DOUBLE) / n_r, 6) AS mean_right
        FROM sel""")),

    // ── sequential probability ratio test (Wald 1945) ──
    // The SEQUENTIAL sibling of evt_ab_ttest's fixed-horizon readout:
    // an experiment that peeks after every event needs boundaries
    // calibrated for continuous monitoring — the SPRT is the optimal
    // such test. Per variant (user_id parity), walk events in time
    // order accumulating the Bernoulli log-likelihood ratio of
    // H1: p=0.22 vs H0: p=0.18 ('purchase' = success) and stop at the
    // first crossing of ln((1−β)/α) = ±ln 19. The two per-event
    // increments and both boundaries are PRE-COMPUTED integer micro
    // literals (single-sourced from one Scala ln), so the whole query
    // — walk, crossing, verdict — is exact integer arithmetic in both
    // engines; the cumulative walk is a prefix sum riding
    // globalPrefixSum, never a single-task window on the Spark side.
    // Output per variant: totals, final llr, the decision, and where
    // the walk first crossed (0/continue if it never did).
    "evt_sprt" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        sprtDecisions(s, Tables.events(s, d)
          .select(($"user_id" % 2).as("variant"),
            expr("ts div 1000").as("tus"), $"event_id",
            when($"event_type" === "purchase", 1L).otherwise(0L).as("succ")))
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT user_id % 2 AS variant, epoch_us(ts) AS tus, event_id,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
          FROM events),
        w AS (
          SELECT variant, succ,
                 SUM(CASE WHEN succ = 1 THEN $SprtStepSucc
                          ELSE $SprtStepFail END)
                   OVER (PARTITION BY variant ORDER BY tus, event_id)
                   AS llr,
                 ROW_NUMBER() OVER (PARTITION BY variant
                                    ORDER BY tus, event_id) AS i
          FROM ev),
        cr AS (
          SELECT variant, i, llr FROM (
            SELECT variant, i, llr,
                   ROW_NUMBER() OVER (PARTITION BY variant ORDER BY i) AS rn
            FROM w WHERE llr >= $SprtUpper OR llr <= $SprtLower) x
          WHERE rn = 1),
        agg AS (
          SELECT variant, COUNT(*) AS n_events,
                 CAST(SUM(succ) AS BIGINT) AS n_success
          FROM ev GROUP BY variant)
        SELECT a.variant, a.n_events, a.n_success,
               CAST($SprtStepSucc * a.n_success +
                    $SprtStepFail * (a.n_events - a.n_success) AS BIGINT)
                 AS llr_end_micro,
               CASE WHEN cr.variant IS NULL THEN 'continue'
                    WHEN cr.llr >= $SprtUpper THEN 'accept_h1'
                    ELSE 'accept_h0' END AS decision,
               CAST(COALESCE(cr.i, 0) AS BIGINT) AS decided_at_n,
               CAST(COALESCE(cr.llr, 0) AS BIGINT)
                 AS llr_at_decision_micro
        FROM agg a LEFT JOIN cr ON cr.variant = a.variant
        ORDER BY a.variant""")),

    // ── tumbling 1-hour event-time windows ──
    "evt_windowed_agg" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .withColumn("bucket_start_ms",
            expr(s"((ts div 1000) div $HourUs) * ${HourUs / 1000L}"))
          .groupBy($"bucket_start_ms", $"event_type")
          .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
          .orderBy($"bucket_start_ms", $"event_type")
      },
      oracle = Some(s"""
        SELECT (epoch_us(ts) // $HourUs) * ${HourUs / 1000L} AS bucket_start_ms,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY bucket_start_ms, event_type"""),
      headline = true),

    // ── gap-based sessionization (30-minute inactivity gap) ──
    "evt_sessionize" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).withColumn("tus", expr("ts div 1000"))
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
        ev
          .withColumn("prev_tus", lag($"tus", 1).over(w))
          .withColumn("new_session",
            when($"prev_tus".isNull || $"tus" - $"prev_tus" > GapUs, 1L).otherwise(0L))
          .withColumn("session_no",
            sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy($"user_id", $"session_no")
          .agg(
            expr("min(tus) div 1000").as("session_start_ms"),
            expr("max(tus) div 1000").as("session_end_ms"),
            count(lit(1)).as("n_events"))
          .orderBy($"user_id", $"session_no")
      },
      oracle = Some(s"""
        WITH $sessionsCte
        SELECT user_id, session_no,
               MIN(tus) // 1000 AS session_start_ms,
               MAX(tus) // 1000 AS session_end_ms,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_no
        ORDER BY user_id, session_no""")),

    // ── interval×interval overlap join via bin pruning ──
    // The two-sided sibling of evt_range_join's point-in-range and
    // evt_asof_join's nearest-preceding: BOTH sides are intervals
    // (user sessions × campaign windows — "which sessions ran while
    // the campaign did, and for how long"), and the naive overlap
    // predicate is a cross join no engine survives. The distributed
    // answer is BIN PRUNING: each session explodes over the WEEKS it
    // touches (bounded by its span), campaigns live in exactly one
    // week by construction, and the overlap join becomes an EQUALITY
    // join on the week key with the residual predicate applied after
    // — each qualifying pair found exactly once, no dedup. Overlap
    // durations are exact µs on half-open intervals; campaigns with
    // zero overlapping sessions report zeros rather than vanishing.
    "evt_overlap_join" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val WeekUs = 7L * DayUs
        val ev = Tables.events(s, d).withColumn("tus", expr("ts div 1000"))
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
        val sess = ev
          .withColumn("prev_tus", lag($"tus", 1).over(w))
          .withColumn("new_session",
            when($"prev_tus".isNull || $"tus" - $"prev_tus" > GapUs, 1L)
              .otherwise(0L))
          .withColumn("session_no",
            sum($"new_session")
              .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy($"user_id", $"session_no")
          .agg(min($"tus").as("s_us"), max($"tus").as("e_us"))
          .pin() // week span + the binned probe side
        val campaigns = sess
          .agg(expr(s"min(s_us) div $WeekUs").as("w0"),
            expr(s"max(e_us) div $WeekUs").as("w1"))
          .select(explode(sequence($"w0", $"w1")).as("wk"))
          .select($"wk", ($"wk" * WeekUs).as("c_start"),
            ($"wk" * WeekUs + 3 * DayUs).as("c_end"))
          .pin() // join build side + the zero spine
        val binned = sess.select($"user_id", $"s_us", $"e_us",
          explode(sequence(expr(s"s_us div $WeekUs"),
            expr(s"e_us div $WeekUs"))).as("wk"))
        val ag = binned.join(campaigns, Seq("wk"))
          .withColumn("ov_us",
            least($"e_us" + 1, $"c_end") - greatest($"s_us", $"c_start"))
          .filter($"ov_us" > 0)
          .groupBy($"wk")
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct($"user_id").as("n_users"),
            sum($"ov_us").as("total_overlap_us"))
        campaigns.join(ag, Seq("wk"), "left")
          .select($"wk", $"c_start", $"c_end",
            coalesce($"n_sessions", lit(0L)).as("n_sessions"),
            coalesce($"n_users", lit(0L)).as("n_users"),
            coalesce($"total_overlap_us", lit(0L)).as("total_overlap_us"))
          .orderBy($"wk")
      },
      oracle = Some(s"""
        WITH $sessionsCte,
        sess AS (
          SELECT user_id, session_no, MIN(tus) AS s_us, MAX(tus) AS e_us
          FROM sessions GROUP BY 1, 2),
        rng AS (
          SELECT MIN(s_us) // ${7L * DayUs} AS w0,
                 MAX(e_us) // ${7L * DayUs} AS w1
          FROM sess),
        cams AS (
          SELECT wk, wk * ${7L * DayUs} AS c_start,
                 wk * ${7L * DayUs} + ${3L * DayUs} AS c_end
          FROM (SELECT unnest(generate_series(w0, w1)) AS wk FROM rng)),
        ov AS (
          SELECT c.wk, s.user_id,
                 least(s.e_us + 1, c.c_end) - greatest(s.s_us, c.c_start)
                   AS ov_us
          FROM sess s JOIN cams c
            ON s.s_us < c.c_end AND s.e_us + 1 > c.c_start),
        ag AS (
          SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_sessions,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                 CAST(SUM(ov_us) AS BIGINT) AS total_overlap_us
          FROM ov GROUP BY wk)
        SELECT c.wk, c.c_start, c.c_end,
               COALESCE(ag.n_sessions, 0) AS n_sessions,
               COALESCE(ag.n_users, 0) AS n_users,
               COALESCE(ag.total_overlap_us, 0) AS total_overlap_us
        FROM cams c LEFT JOIN ag USING (wk)
        ORDER BY c.wk"""),
      headline = false),

    // ── backward as-of join: each purchase ↔ the user's latest
    //    preceding click (composed from a running conditional max —
    //    no custom operator needed) ──
    "evt_asof_join" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).withColumn("tus", expr("ts div 1000"))
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        ev
          .filter($"event_type".isin("click", "purchase"))
          .withColumn("last_click_us",
            max(when($"event_type" === "click", $"tus")).over(w))
          .filter($"event_type" === "purchase")
          .select($"event_id", $"user_id",
            expr("tus div 1000").as("purchase_ms"),
            expr("last_click_us div 1000").as("last_click_ms"))
          .orderBy($"event_id")
      },
      oracle = Some("""
        WITH ce AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS tus
          FROM events
          WHERE event_type IN ('click', 'purchase')),
        j AS (
          SELECT event_id, user_id, event_type, tus,
                 MAX(CASE WHEN event_type = 'click' THEN tus END)
                   OVER (PARTITION BY user_id ORDER BY tus, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_us
          FROM ce)
        SELECT event_id, user_id,
               tus // 1000 AS purchase_ms,
               last_click_us // 1000 AS last_click_ms
        FROM j
        WHERE event_type = 'purchase'
        ORDER BY event_id""")),

    // ── native session_window: the streaming-capable sessionizer ──
    // Same gap semantics as evt_sessionize's manual window chain
    // (verified empirically on this Spark build: events exactly one
    // timeout apart MERGE; only a strictly greater gap splits),
    // expressed with the built-in session_window — the form that runs
    // unchanged under Structured Streaming with watermark-based state
    // eviction. The oracle shares evt_sessionize's CTE chain, so the
    // two sessionizers are provably consistent.
    "evt_session_window_native" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .withColumn("t", timestamp_micros(expr("ts div 1000")))
          .groupBy($"user_id", session_window($"t", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id",
            unix_micros($"w.start").as("session_start_us"),
            $"n_events")
          .orderBy($"user_id", $"session_start_us")
      },
      oracle = Some(s"""
        WITH $sessionsCte
        SELECT user_id, MIN(tus) AS session_start_us, COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_no
        ORDER BY user_id, session_start_us""")),

    // ── RANGE-frame sliding window: per-user activity in the trailing
    //    hour, frame bounded by VALUE (event-time) not row count — the
    //    time-series window mode the ROWS-frame queries can't express.
    //    Peers at the same timestamp share a frame in both engines, so
    //    no tiebreak column is needed (or allowed) in a RANGE order. ──
    "evt_range_window" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"tus")
          .rangeBetween(-HourUs, 0)
        Tables.events(s, d)
          .withColumn("tus", expr("ts div 1000"))
          .select($"event_id", $"user_id",
            count(lit(1)).over(w).as("n_last_hour"),
            sum(dec($"value")).over(w).cast(DoubleType).as("sum_last_hour"))
          .orderBy($"event_id")
      },
      oracle = Some(s"""
        SELECT event_id, user_id,
          COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN $HourUs PRECEDING AND CURRENT ROW) AS n_last_hour,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN $HourUs PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS sum_last_hour
        FROM events
        ORDER BY event_id""")),

    // ── ordered-funnel analysis: view → click → purchase ──
    // Sequential pattern matching over event history (the analytics
    // operator SQL MATCH_RECOGNIZE serves elsewhere): each stage's
    // timestamp is the MIN event time of that type STRICTLY AFTER the
    // previous stage, computed as three chained conditional window
    // minima over one user partitioning — a single shuffle, no
    // self-joins, no per-user collect. Stage times use the file's
    // microsecond convention (`ts div 1000` ↔ `epoch_us(ts)`): DuckDB
    // reads this parquet's TIMESTAMP(NANOS) column at µs precision, so
    // comparing at ns on the Spark side only would leave the
    // strictly-after booleans and ms deltas one truncation apart —
    // both engines must truncate IDENTICALLY for the hash to be a
    // parity proof. Deltas surface as integer milliseconds.
    "evt_funnel" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
        Tables.events(s, d)
          .select($"user_id", $"event_type", expr("ts div 1000").as("tus"))
          .withColumn("tv",
            min(when($"event_type" === "view", $"tus")).over(w))
          .withColumn("tc",
            min(when($"event_type" === "click" && $"tus" > $"tv", $"tus")).over(w))
          .withColumn("tp",
            min(when($"event_type" === "purchase" && $"tus" > $"tc", $"tus")).over(w))
          .groupBy($"user_id")
          .agg(max($"tv").as("tv"), max($"tc").as("tc"), max($"tp").as("tp"))
          .select($"user_id",
            $"tv".isNotNull.as("viewed"),
            $"tc".isNotNull.as("clicked_after_view"),
            $"tp".isNotNull.as("purchased_after_click"),
            expr("(tc - tv) div 1000").as("ms_view_to_click"),
            expr("(tp - tv) div 1000").as("ms_view_to_purchase"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        a AS (
          SELECT *, MIN(CASE WHEN event_type = 'view' THEN tus END)
            OVER (PARTITION BY user_id) AS tv
          FROM ev),
        b AS (
          SELECT *, MIN(CASE WHEN event_type = 'click' AND tus > tv THEN tus END)
            OVER (PARTITION BY user_id) AS tc
          FROM a),
        c AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tus > tc THEN tus END)
            OVER (PARTITION BY user_id) AS tp
          FROM b)
        SELECT user_id,
               (MAX(tv) IS NOT NULL) AS viewed,
               (MAX(tc) IS NOT NULL) AS clicked_after_view,
               (MAX(tp) IS NOT NULL) AS purchased_after_click,
               CAST((MAX(tc) - MAX(tv)) // 1000 AS BIGINT) AS ms_view_to_click,
               CAST((MAX(tp) - MAX(tv)) // 1000 AS BIGINT) AS ms_view_to_purchase
        FROM c
        GROUP BY user_id
        ORDER BY user_id""")),

    // ── cohort retention: signup cohort × day offset ──
    // The canonical product-analytics rollup: cohort = the user's first
    // signup day; a cell counts distinct users from that cohort active
    // N days later. Two shuffles (per-user cohort agg, then the
    // cohort×offset distinct count) joined on user_id — the cohort side
    // is one row per user, so at 100 TB the join shuffles both sides on
    // user_id once; no broadcast needed and no skew (users are the key).
    // Day arithmetic is integer division of epoch-µs, identical in both
    // engines.
    "evt_retention" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // cohort side and probe side both consume this projection:
        // the pin keeps the events scan to exactly one (at 100 TB the
        // probe-side rescan doubles source IO)
        val ev = Tables.events(s, d)
          .select($"user_id", $"event_type",
            expr(s"(ts div 1000) div $DayUs").as("day"))
          .pin()
        val cohorts = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"day").as("cohort_day"))
        ev.join(cohorts, Seq("user_id"))
          .filter($"day" >= $"cohort_day")
          .groupBy($"cohort_day", ($"day" - $"cohort_day").as("day_offset"))
          .agg(countDistinct($"user_id").as("n_active"))
          .orderBy($"cohort_day", $"day_offset")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) // $DayUs AS day
          FROM events),
        c AS (
          SELECT user_id, MIN(day) AS cohort_day
          FROM ev WHERE event_type = 'signup' GROUP BY user_id)
        SELECT c.cohort_day, ev.day - c.cohort_day AS day_offset,
               COUNT(DISTINCT ev.user_id) AS n_active
        FROM ev JOIN c USING (user_id)
        WHERE ev.day >= c.cohort_day
        GROUP BY 1, 2
        ORDER BY cohort_day, day_offset"""),
      // DEMOTED round 9 (headline-cap conformance): its cohort-join +
      // two-key groupBy shape is priced by evt_windowed_agg and the
      // sessionize family; 0.41 s steady since r07, stays oracle-checked
      headline = false),

    // ── event-type transition matrix (first-order Markov counts) ──
    // Per-user ordered LAG pairs (one shuffle on user_id), then a count
    // per (prev, next) cell and a per-prev row-normalized probability.
    // The probability is a single division of two exact longs — IEEE
    // deterministic, so it hash-matches without decimal scaffolding.
    "evt_transitions" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        typeTransitions(s, d)
          .groupBy($"prev_type", $"event_type".as("next_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            $"n".cast(DoubleType) /
              sum($"n").over(Window.partitionBy($"prev_type")).cast(DoubleType))
          .orderBy($"prev_type", $"next_type")
      },
      oracle = Some("""
        WITH t AS (
          SELECT user_id, event_type,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id)
                   AS prev_type
          FROM events),
        cells AS (
          SELECT prev_type, event_type AS next_type, COUNT(*) AS n
          FROM t WHERE prev_type IS NOT NULL
          GROUP BY 1, 2)
        SELECT prev_type, next_type, n,
               CAST(n AS DOUBLE) /
                 CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        FROM cells
        ORDER BY prev_type, next_type""")),

    // ── stationary distribution of the event-type Markov chain ──
    // evt_transitions answers "where does a click go NEXT"; this
    // answers where the process SETTLES — the long-run occupancy the
    // chain converges to, the baseline behind "is purchase share
    // drifting". Five power-iteration rounds in the TextRank integer
    // nano-unit fixed point (1e9 ≙ 1): each round one edge join +
    // map-side-combined sum, every per-edge contribution
    // (π·n) div n_out floored deterministically in both engines, so
    // the trajectory is bit-exact and the oracle unrolls all five
    // rounds. The state space is the event-type alphabet (≤5 here) —
    // the plan is the iterative-join shape that scales to vocab-sized
    // chains; at 10^12 transitions you'd pre-normalize P once to nano
    // fractions to keep the per-edge product bounded. DANGLING states
    // (appearing only as dst, no outgoing edges) get the PageRank
    // treatment: their round mass D is redistributed uniformly —
    // every state receives D div k — so total mass stays pinned at
    // 1e9 nanos (up to floor losses) and no state's mass silently
    // vanishes into an absorbing sink. Cost: one O(1)-row dangling
    // aggregate broadcast per round; the new π is built over the FULL
    // state list (left join on contributions), so a state with no
    // inflow carries its redistribution share instead of dropping out.
    // Floor losses bound Σπ within rounds·(edges + k) nano of 1e9
    // (each round loses < 1 nano per edge plus < k nano of dangling
    // remainder; spec-gated at that bound with a PLANTED dangling
    // state).
    "evt_markov_stationary" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val cells = typeTransitions(s, d)
          .groupBy($"prev_type".as("src"), $"event_type".as("dst"))
          .agg(count(lit(1)).as("n"))
        markovStationary(s, cells)
      },
      oracle = Some {
        val rounds = (1 to 5).map { r =>
          val p = r - 1
          s""",
        dang$p AS (
          SELECT CAST(COALESCE(SUM(pi_nano), 0) AS BIGINT) AS dm
          FROM pi$p WHERE state NOT IN (SELECT src FROM rs)),
        pi$r AS (
          SELECT st.state,
                 CAST(COALESCE(c.cin, 0) + dang$p.dm // cnt.k AS BIGINT)
                   AS pi_nano
          FROM states st
          LEFT JOIN (
            SELECT e.dst AS state,
                   CAST(SUM(pi$p.pi_nano * e.n // e.n_out) AS BIGINT)
                     AS cin
            FROM pi$p JOIN e ON e.src = pi$p.state
            GROUP BY e.dst) c ON c.state = st.state, dang$p, cnt)"""
        }.mkString
        s"""
        WITH t AS (
          SELECT user_id, event_type,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id)
                   AS prev_type
          FROM events),
        cells AS (
          SELECT prev_type AS src, event_type AS dst, COUNT(*) AS n
          FROM t WHERE prev_type IS NOT NULL
          GROUP BY 1, 2),
        rs AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_out
               FROM cells GROUP BY src),
        e AS (SELECT cells.src, cells.dst, cells.n, rs.n_out
              FROM cells JOIN rs USING (src)),
        states AS (
          SELECT src AS state FROM cells
          UNION SELECT dst FROM cells),
        cnt AS (SELECT COUNT(*) AS k FROM states),
        pi0 AS (
          SELECT state, CAST(1000000000 // k AS BIGINT) AS pi_nano
          FROM states, cnt)$rounds
        SELECT pi5.state, pi5.pi_nano,
               COALESCE(rs.n_out, 0) AS n_out
        FROM pi5 LEFT JOIN rs ON rs.src = pi5.state
        ORDER BY pi5.state"""
      }),

    // ── z-score outlier counts in EXACT integer arithmetic ──
    // Per event_type, count events more than 3 standard deviations from
    // the type mean. The float formulation ((x-μ)/σ) can flip a
    // boundary row between engines by one ulp, so the test is algebra
    // on exact integers instead: with c = value in cents,
    //   z² > 9  ⇔  (n·c − Σc)² > 9·(n·Σc² − (Σc)²)
    // — both sides integer-exact in DECIMAL(38,0) (HUGEINT in DuckDB),
    // overflow-safe past sf100. Two aggregations with a broadcast of
    // the tiny per-type moments table between them; both map-side
    // combine, so the shuffle is O(types), not O(rows).
    "evt_anomaly" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        // moments side and probe side both consume this projection:
        // pinned so the events scan runs once
        val ev = Tables.events(s, d)
          .select($"event_type",
            (dec($"value") * 100).cast(LongType).cast(big).as("c"))
          .pin()
        val moments = ev.groupBy($"event_type").agg(
          count(lit(1)).cast(big).as("n"),
          sum($"c").as("sc"),
          sum($"c" * $"c").as("sc2"))
        ev.join(broadcast(moments), Seq("event_type"))
          .withColumn("lhs", ($"n" * $"c" - $"sc") * ($"n" * $"c" - $"sc"))
          .withColumn("rhs", lit(9) * ($"n" * $"sc2" - $"sc" * $"sc"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when($"lhs" > $"rhs", 1L).otherwise(0L)).as("n_outliers"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT event_type,
                 CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      AS HUGEINT) AS c
          FROM events),
        m AS (
          SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(c) AS sc, SUM(c * c) AS sc2
          FROM ev GROUP BY event_type)
        SELECT ev.event_type, COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN (m.n * ev.c - m.sc) * (m.n * ev.c - m.sc)
                                  > 9 * (m.n * m.sc2 - m.sc * m.sc)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM ev JOIN m USING (event_type)
        GROUP BY ev.event_type
        ORDER BY ev.event_type""")),

    // ── seasonal (day-of-week) anomaly detection ──
    // evt_anomaly thresholds against the UNCONDITIONAL per-type
    // moments; real metric streams have weekly structure, and a
    // weekend level that is normal FOR WEEKENDS should not alarm.
    // Same integer-exact 3σ identity ((n·c − Σc)² > 9·(n·Σc² − Σc²)),
    // but the moments condition on (event_type, day-of-week) — and
    // the UNCONDITIONAL verdict is computed alongside from the same
    // scan, so the output exposes exactly where seasonal conditioning
    // changes the answer (the n_outliers_global vs n_outliers_seasonal
    // gap). Epoch day 0 is a Thursday: dow = (day + 4) mod 7 puts
    // 0 = Sunday, spelled identically in both engines. Two tiny
    // moment tables broadcast back over one events scan.
    "evt_seasonal_anomaly" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val ev = Tables.events(s, d)
          .select($"event_type",
            expr(s"((ts div 1000) div $DayUs + 4) % 7").as("dow"),
            (dec($"value") * 100).cast(LongType).cast(big).as("c"))
          .pin()
        val seas = ev.groupBy($"event_type", $"dow").agg(
          count(lit(1)).cast(big).as("sn"),
          sum($"c").as("ssc"), sum($"c" * $"c").as("ssc2"))
        val glob = ev.groupBy($"event_type").agg(
          count(lit(1)).cast(big).as("gn"),
          sum($"c").as("gsc"), sum($"c" * $"c").as("gsc2"))
        ev.join(broadcast(seas), Seq("event_type", "dow"))
          .join(broadcast(glob), Seq("event_type"))
          .groupBy($"event_type", $"dow")
          .agg(count(lit(1)).as("n_events"),
            sum(when(($"sn" * $"c" - $"ssc") * ($"sn" * $"c" - $"ssc")
              > lit(9) * ($"sn" * $"ssc2" - $"ssc" * $"ssc"), 1L)
              .otherwise(0L)).as("n_outliers_seasonal"),
            sum(when(($"gn" * $"c" - $"gsc") * ($"gn" * $"c" - $"gsc")
              > lit(9) * ($"gn" * $"gsc2" - $"gsc" * $"gsc"), 1L)
              .otherwise(0L)).as("n_outliers_global"))
          .orderBy($"event_type", $"dow")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT event_type,
                 (epoch_us(ts) // $DayUs + 4) % 7 AS dow,
                 CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      AS HUGEINT) AS c
          FROM events),
        seas AS (
          SELECT event_type, dow, CAST(COUNT(*) AS HUGEINT) AS sn,
                 SUM(c) AS ssc, SUM(c * c) AS ssc2
          FROM ev GROUP BY event_type, dow),
        gm AS (
          SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS gn,
                 SUM(c) AS gsc, SUM(c * c) AS gsc2
          FROM ev GROUP BY event_type)
        SELECT ev.event_type, ev.dow, COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN (s.sn * ev.c - s.ssc) * (s.sn * ev.c - s.ssc)
                                  > 9 * (s.sn * s.ssc2 - s.ssc * s.ssc)
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers_seasonal,
               CAST(SUM(CASE WHEN (g.gn * ev.c - g.gsc) * (g.gn * ev.c - g.gsc)
                                  > 9 * (g.gn * g.gsc2 - g.gsc * g.gsc)
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers_global
        FROM ev
        JOIN seas s ON s.event_type = ev.event_type AND s.dow = ev.dow
        JOIN gm g ON g.event_type = ev.event_type
        GROUP BY ev.event_type, ev.dow
        ORDER BY ev.event_type, ev.dow""")),

    // ── MERGEABLE distinct sketches: per-day HLL rolled up by union ──
    // The pre-aggregation pattern that makes distinct counts feasible
    // at 100 TB: each partition/day keeps a fixed-size Datasketches HLL
    // of its users (hll_sketch_agg — one pass, map-side combined), and
    // any rollup (week, month, total) is a UNION OF SKETCHES
    // (hll_union_agg) — never a re-scan of raw data. Sketch bytes are
    // engine-specific, so the oracle-checked contract is the estimate's
    // accuracy: the union-of-daily-sketches estimate must land within
    // ±5% of the exact total distinct count DuckDB recomputes, asserted
    // next to that exact value. lgConfigK=14 → ~0.8% RSE, so 5% is ~6
    // standard errors.
    "agg_hll_mergeable" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val daily = Tables.events(s, d)
          .select($"user_id", expr(s"(ts div 1000) div $DayUs").as("day"))
          .groupBy($"day")
          .agg(hll_sketch_agg($"user_id", lit(14)).as("sk"))
        daily.agg(
            hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est"),
            count(lit(1)).as("n_days"))
          .join(Tables.events(s, d)
            .agg(countDistinct($"user_id").as("exact_users")))
          .select($"n_days", $"exact_users",
            (abs($"est" - $"exact_users").cast(DoubleType)
              <= lit(0.05) * $"exact_users").as("union_within_5pct"))
      },
      oracle = Some(s"""
        SELECT COUNT(DISTINCT epoch_us(ts) // $DayUs) AS n_days,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS union_within_5pct
        FROM events""")),

    // ── approximate distinct (HLL++) next to the exact count ──
    // The HLL estimate itself is engine-specific (DuckDB's approx sketch
    // differs bit-for-bit), so the oracle-checkable contract is the
    // documented accuracy bound: with rsd=0.02 the estimate must land
    // within ±5% of the exact count (2.5 standard deviations). Emitting
    // the boolean next to the exact count makes the row a full
    // hash-checked assertion — DuckDB recomputes the exact count and
    // expects the bound to hold — instead of a rows-only entry.
    "agg_approx_distinct" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"event_type")
          .agg(
            approx_count_distinct($"user_id", 0.02).as("approx_users"),
            countDistinct($"user_id").as("exact_users"))
          .select($"event_type", $"exact_users",
            (abs($"approx_users" - $"exact_users").cast(DoubleType)
              <= lit(0.05) * $"exact_users").as("approx_within_5pct"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS approx_within_5pct
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // ── row-pattern matching (the MATCH_RECOGNIZE shape, SQL:2016) ──
    // Spark has no MATCH_RECOGNIZE; the Spark-first re-expression of
    // PARTITION BY user ORDER BY ts MATCH `view (click|view)* purchase`
    // is: encode each event as one char, fold each user's ordered
    // events into a code string, and scan it with a regex — the NFA
    // the pattern clause compiles to anyway. `v[cv]*p` finds funnels
    // that reach purchase with NO intervening error/signup (any
    // excluded letter breaks the run), counted non-overlapping with
    // leftmost-greedy semantics — identical in Java regex and RE2 for
    // this alternation-free pattern. Ordering is (µs, event_id), the
    // pack's cross-engine total order.
    // Plan shape: ONE shuffle on user_id (the PARTITION BY), then
    // per-user array_sort + fold + regex — all inside one aggregation,
    // no window, no self-join; per-user state is that user's event
    // string, the same per-partition bound every MATCH_RECOGNIZE
    // engine assumes. At 100 TB: shuffle is O(events) once, salting
    // the rare pathological user if one dominates.
    "evt_pattern_match" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val code = when($"event_type" === "view", "v")
          .when($"event_type" === "click", "c")
          .when($"event_type" === "purchase", "p")
          .when($"event_type" === "signup", "s")
          .otherwise("e")
        Tables.events(s, d)
          .select($"user_id", expr("ts div 1000").as("tus"), $"event_id",
            code.as("code"))
          .groupBy($"user_id")
          .agg(expr("array_join(transform(array_sort(" +
            "collect_list(struct(tus, event_id, code))), e -> e.code), '')")
            .as("seq"))
          .withColumn("matches",
            expr("regexp_extract_all(seq, 'v[cv]*p', 0)"))
          .select($"user_id",
            length($"seq").cast(LongType).as("n_events"),
            size($"matches").cast(LongType).as("n_matches"),
            coalesce(expr("array_max(transform(matches, m -> length(m)))"),
              lit(0)).cast(LongType).as("longest_match"),
            expr("aggregate(matches, 0L, (a, m) -> a + length(m))")
              .as("matched_events"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus,
                 CASE event_type
                   WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                   WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                   ELSE 'e' END AS code
          FROM events),
        s AS (
          SELECT user_id, string_agg(code, '' ORDER BY tus, event_id) AS seq
          FROM e GROUP BY user_id),
        m AS (
          SELECT user_id, seq,
                 regexp_extract_all(seq, 'v[cv]*p') AS matches
          FROM s)
        SELECT user_id,
          CAST(length(seq) AS BIGINT) AS n_events,
          CAST(len(matches) AS BIGINT) AS n_matches,
          CAST(COALESCE(list_max(list_transform(matches, m -> length(m))), 0)
               AS BIGINT) AS longest_match,
          CAST(COALESCE(list_sum(list_transform(matches, m -> length(m))), 0)
               AS BIGINT) AS matched_events
        FROM m
        ORDER BY user_id""")),

    // ── RFM segmentation (recency / frequency / monetary quintiles) ──
    // The classic customer-analytics operator: per user, days since
    // last activity, event count, and DECIMAL-exact spend, each cut
    // into quintiles (bin 1 = best: most recent / most frequent /
    // highest spend) and fused into the 3-digit RFM segment code.
    // The quintile cuts ride `Relational.globalNtile` — range
    // repartition + rank-by-projection with ZERO post-sort shuffles
    // per dimension — because at 100 TB the per-user frame is itself
    // huge and a global ntile window would funnel every user through
    // one partition. Time arithmetic stays in integer µs (recency =
    // (max_ts − last_ts) div day) so both engines bin identically.
    "evt_rfm" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val per = Tables.events(s, d)
          .select($"user_id", expr("ts div 1000").as("tus"), $"value")
          .groupBy($"user_id")
          .agg(max($"tus").as("last_tus"), count(lit(1)).as("n_events"),
            dsum($"value").as("monetary"))
        val mx = per.agg(max($"last_tus").as("mxt"))
        val base = per.crossJoin(broadcast(mx))
          .withColumn("recency_days", expr(s"(mxt - last_tus) div $DayUs"))
          .select($"user_id", $"recency_days", $"n_events", $"monetary")
          .pin() // three quintile passes read it
        val r = Relational.globalNtile(s, base, 5L,
            Seq($"recency_days", $"user_id"))
          .withColumnRenamed("tile", "r_bin")
        val f = Relational.globalNtile(s, r, 5L,
            Seq($"n_events".desc, $"user_id"))
          .withColumnRenamed("tile", "f_bin")
        Relational.globalNtile(s, f, 5L, Seq($"monetary".desc, $"user_id"))
          .withColumnRenamed("tile", "m_bin")
          .select($"user_id", $"recency_days", $"n_events", $"monetary",
            $"r_bin", $"f_bin", $"m_bin",
            ($"r_bin" * 100 + $"f_bin" * 10 + $"m_bin").as("rfm_segment"))
          .orderBy($"user_id")
      },
      oracle = Some(s"""
        WITH per AS (
          SELECT user_id, MAX(epoch_us(ts)) AS last_tus,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
          FROM events GROUP BY user_id),
        mx AS (SELECT MAX(last_tus) AS mxt FROM per),
        base AS (
          SELECT user_id, (mxt - last_tus) // $DayUs AS recency_days,
                 n_events, monetary
          FROM per, mx),
        b AS (
          SELECT user_id, recency_days, n_events, monetary,
            CAST(ntile(5) OVER (ORDER BY recency_days, user_id)
                 AS BIGINT) AS r_bin,
            CAST(ntile(5) OVER (ORDER BY n_events DESC, user_id)
                 AS BIGINT) AS f_bin,
            CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id)
                 AS BIGINT) AS m_bin
          FROM base)
        SELECT user_id, recency_days, n_events, monetary,
               r_bin, f_bin, m_bin,
               r_bin*100 + f_bin*10 + m_bin AS rfm_segment
        FROM b
        ORDER BY user_id""")),

    // ── multi-touch attribution (linear + last-touch models) ──
    // The marketing-analytics operator that assigns each purchase's
    // value to the user's preceding view/click touches inside a 48 h
    // lookback. Expressed ENTIRELY as RANGE-frame windows on the
    // user partitioning — the as-of join's altitude, no join at all:
    // per purchase, two conditional counts and two conditional maxes
    // over RANGE (−48h, −1µs] give the touch census and the
    // last-touch identity in ONE shuffle on user_id. Credit is exact
    // integer micro-dollars: the linear model gives views
    // floor(total·n_views/n_touches) and clicks the REMAINDER (the
    // deterministic penny-allocation rule, stated, not floated);
    // last-touch resolves same-µs view/click ties to click
    // (documented, both engines identical). RANGE frames order by
    // tus alone (a RANGE frame admits one ordering key); same-µs
    // touches of the SAME type are indistinguishable under the
    // frame, which only affects which equal value the max picks —
    // the output is tie-free either way.
    "evt_attribution" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val look = 48L * 3600L * 1000000L
        val ev = Tables.events(s, d)
          .filter($"event_type".isin("view", "click", "purchase"))
          .select($"event_id", $"user_id", expr("ts div 1000").as("tus"),
            $"event_type", $"value")
        val w = Window.partitionBy($"user_id").orderBy($"tus")
          .rangeBetween(-look, -1)
        ev
          .withColumn("n_views",
            count(when($"event_type" === "view", lit(1))).over(w))
          .withColumn("n_clicks",
            count(when($"event_type" === "click", lit(1))).over(w))
          .withColumn("last_view",
            max(when($"event_type" === "view", $"tus")).over(w))
          .withColumn("last_click",
            max(when($"event_type" === "click", $"tus")).over(w))
          .filter($"event_type" === "purchase")
          .withColumn("total_u",
            (dec($"value") * 100).cast(LongType) * 10000L)
          .withColumn("n_touches", $"n_views" + $"n_clicks")
          .withColumn("view_credit_u",
            when($"n_touches" === 0, lit(0L))
              .otherwise(expr("(total_u * n_views) div n_touches")))
          .withColumn("click_credit_u",
            when($"n_touches" === 0, lit(0L))
              .otherwise($"total_u" - $"view_credit_u"))
          .withColumn("last_touch",
            when($"n_touches" === 0, lit("none"))
              .when(coalesce($"last_click", lit(-1L)) >=
                coalesce($"last_view", lit(-1L)), lit("click"))
              .otherwise(lit("view")))
          .select($"event_id", $"user_id", $"n_views", $"n_clicks",
            $"total_u", $"view_credit_u", $"click_credit_u", $"last_touch")
          .orderBy($"event_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT event_id, user_id, epoch_us(ts) AS tus, event_type, value
          FROM events
          WHERE event_type IN ('view', 'click', 'purchase')),
        win AS (
          SELECT event_id, user_id, tus, event_type, value,
            COUNT(CASE WHEN event_type = 'view' THEN 1 END) OVER r AS n_views,
            COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER r AS n_clicks,
            MAX(CASE WHEN event_type = 'view' THEN tus END) OVER r AS last_view,
            MAX(CASE WHEN event_type = 'click' THEN tus END) OVER r AS last_click
          FROM ev
          WINDOW r AS (PARTITION BY user_id ORDER BY tus
                       RANGE BETWEEN 172800000000 PRECEDING
                             AND 1 PRECEDING)),
        p AS (
          SELECT event_id, user_id, n_views, n_clicks,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000
                   AS total_u,
                 n_views + n_clicks AS n_touches,
                 last_view, last_click
          FROM win WHERE event_type = 'purchase')
        SELECT event_id, user_id, n_views, n_clicks, total_u,
          CASE WHEN n_touches = 0 THEN 0
               ELSE (total_u * n_views) // n_touches END AS view_credit_u,
          CASE WHEN n_touches = 0 THEN 0
               ELSE total_u - (total_u * n_views) // n_touches END
            AS click_credit_u,
          CASE WHEN n_touches = 0 THEN 'none'
               WHEN COALESCE(last_click, -1) >= COALESCE(last_view, -1)
                 THEN 'click'
               ELSE 'view' END AS last_touch
        FROM p
        ORDER BY event_id""")),

    // ── per-user OLS trend as an exact rational (least-squares slope) ──
    // The per-entity trend feature (is this user's metric rising or
    // falling?) computed WITHOUT a single floating-point operation:
    // slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) over x = minutes since
    // 2024-01-01 (the slope is shift-invariant; the epoch shift only
    // keeps magnitudes BIGINT-safe) and y = value in exact centi-units
    // (the evt_anomaly idiom). Numerator and denominator are emitted as
    // the exact rational — consumers divide at whatever precision they
    // need; no cross-engine float-sum ordering can ever drift the
    // hash. ONE map-side-combined groupBy (five sufficient statistics
    // per user); the moment combination runs in DECIMAL(38,0) and the
    // final cast to BIGINT is ANSI-loud if a larger deployment ever
    // overflows it (then: coarsen x to hours / y to whole units — the
    // statistics are unit-scaled, not algorithm-changed).
    "evt_trend_ols" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val ev = Tables.events(s, d).select($"user_id",
          (expr("(ts div 1000) div 60000000") - 28401120L).cast(big).as("x"),
          (dec($"value") * 100).cast(LongType).cast(big).as("y"))
        ev.groupBy($"user_id").agg(
            count(lit(1)).as("n_events"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sx2"))
          .select($"user_id", $"n_events",
            ($"n_events".cast(big) * $"sxy" - $"sx" * $"sy")
              .cast(LongType).as("slope_num"),
            ($"n_events".cast(big) * $"sx2" - $"sx" * $"sx")
              .cast(LongType).as("slope_den"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id,
                 CAST(epoch_us(ts) // 60000000 - 28401120 AS HUGEINT) AS x,
                 CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      AS HUGEINT) AS y
          FROM events),
        m AS (
          SELECT user_id, COUNT(*) AS n_events,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sx2
          FROM ev GROUP BY user_id)
        SELECT user_id, n_events,
               CAST(CAST(n_events AS HUGEINT) * sxy - sx * sy AS BIGINT)
                 AS slope_num,
               CAST(CAST(n_events AS HUGEINT) * sx2 - sx * sx AS BIGINT)
                 AS slope_den
        FROM m
        ORDER BY user_id""")),

    // ── time-series resampling onto a daily grid (gap-fill with
    //    exact linear interpolation) ──
    // The regularization step before any fixed-step model consumes an
    // irregular event stream: for each user, a midnight-aligned daily
    // grid spanning their observed range, each grid point linearly
    // interpolated between its bracketing observations. The classic
    // "interleave and fill" plan: union data points + grid points,
    // ONE per-user ordered window pass carrying the last observation
    // forward (prev) and the next observation backward — never a
    // per-grid-point as-of join (which would be G joins) and never a
    // range join. Interpolation is the weighted-average form
    // (y₁·(t₂−t) + y₂·(t−t₁)) div (t₂−t₁) in centi-unit integers:
    // every operand is NONNEGATIVE (values are positive, the grid
    // point lies inside [t₁,t₂]), so truncating and flooring division
    // coincide and Spark's `div` matches DuckDB's `//` exactly. Grid
    // points before a user's first or after their last observation
    // have no bracket and are dropped (interpolation, not
    // extrapolation). Simultaneous readings collapse to MAX first so
    // both engines bracket identical point sets.
    "evt_resample" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val DayUs = 86400000000L
        val pts = Tables.events(s, d)
          .select($"user_id", expr("ts div 1000").as("tus"),
            (dec($"value") * 100).cast(LongType).as("yv"))
          .groupBy($"user_id", $"tus").agg(max($"yv").as("y"))
          .pin() // grid-range agg + the union branch
        val grid = pts.groupBy($"user_id").agg(
            expr(s"min(tus) div $DayUs").as("d0"),
            expr(s"max(tus) div $DayUs").as("d1"))
          .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
        val u = pts.select($"user_id", $"tus".as("tskey"),
            lit(0).as("ord"), $"tus".as("dts"), $"y".as("dy"),
            lit(null).cast(LongType).as("day"))
          .unionByName(grid.select($"user_id",
            ($"day" * DayUs).as("tskey"), lit(1).as("ord"),
            lit(null).cast(LongType).as("dts"),
            lit(null).cast(LongType).as("dy"), $"day"))
        val wPrev = Window.partitionBy($"user_id")
          .orderBy($"tskey", $"ord")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wNext = Window.partitionBy($"user_id")
          .orderBy($"tskey", $"ord")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        u.withColumn("pt", last($"dts", ignoreNulls = true).over(wPrev))
          .withColumn("py", last($"dy", ignoreNulls = true).over(wPrev))
          .withColumn("nt", first($"dts", ignoreNulls = true).over(wNext))
          .withColumn("ny", first($"dy", ignoreNulls = true).over(wNext))
          .filter($"ord" === 1 && $"pt".isNotNull && $"nt".isNotNull)
          .select($"user_id", $"day",
            expr("(py * (nt - tskey) + ny * (tskey - pt)) div (nt - pt)")
              .as("y_interp"))
          .orderBy($"user_id", $"day")
      },
      oracle = Some("""
        WITH pts AS (
          SELECT user_id, epoch_us(ts) AS tus,
                 MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
          FROM events GROUP BY user_id, epoch_us(ts)),
        rng AS (
          SELECT user_id, MIN(tus) // 86400000000 AS d0,
                 MAX(tus) // 86400000000 AS d1
          FROM pts GROUP BY user_id),
        grid AS (
          SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM rng),
        u AS (
          SELECT user_id, tus AS tskey, 0 AS ord, tus AS dts, y AS dy,
                 NULL::BIGINT AS day
          FROM pts
          UNION ALL
          SELECT user_id, day * 86400000000, 1, NULL, NULL, day FROM grid),
        w AS (
          SELECT user_id, tskey, ord, day,
            last_value(dts IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY tskey, ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
            last_value(dy IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY tskey, ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS py,
            first_value(dts IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY tskey, ord
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
            first_value(dy IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY tskey, ord
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ny
          FROM u)
        SELECT user_id, day,
               (py * (nt - tskey) + ny * (tskey - pt)) // (nt - pt)
                 AS y_interp
        FROM w
        WHERE ord = 1 AND pt IS NOT NULL AND nt IS NOT NULL
        ORDER BY user_id, day""")),

    // ── exponentially weighted smoothing (truncated EWMA) ──
    // The denoising pass before thresholding/trend logic on a metric
    // stream: per-user exponential smoothing at alpha = 1/2, truncated
    // at 8 taps (the tail weight below 2^-8 is under 0.4% of the
    // estimate). Weights are EXACT powers of two in integer units
    // (tap i carries 2^(7-i)), so the smoothed value is the rational
    // smooth_num / smooth_den emitted as two exact BIGINTs — no
    // floating recurrence, no cross-engine drift, and series heads
    // (fewer than 8 observations) renormalize by construction because
    // missing taps contribute to neither sum. ONE window pass per
    // user computes all 8 lags (a single sort, codegen'd projection);
    // the classic sequential EWMA recurrence cannot parallelize, the
    // truncated form is embarrassingly parallel at any scale.
    "evt_ewma" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
        val ev = userSeries(s, d)
        val taps = (0 to 7).map { i =>
          val wgt = 1L << (7 - i)
          val lv = if (i == 0) $"y" else lag($"y", i).over(w)
          (coalesce(lv * wgt, lit(0L)),
            when(lv.isNotNull, lit(wgt)).otherwise(lit(0L)))
        }
        ev.select($"user_id", $"event_id",
            taps.map(_._1).reduce(_ + _).as("smooth_num"),
            taps.map(_._2).reduce(_ + _).as("smooth_den"))
          .orderBy($"user_id", $"event_id")
      },
      oracle = Some(s"""
        WITH $userSeriesSql,
        l AS (
          SELECT user_id, event_id, y,
                 LAG(y, 1) OVER w AS y1, LAG(y, 2) OVER w AS y2,
                 LAG(y, 3) OVER w AS y3, LAG(y, 4) OVER w AS y4,
                 LAG(y, 5) OVER w AS y5, LAG(y, 6) OVER w AS y6,
                 LAG(y, 7) OVER w AS y7
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id))
        SELECT user_id, event_id,
               128 * y + COALESCE(64 * y1, 0) + COALESCE(32 * y2, 0)
                 + COALESCE(16 * y3, 0) + COALESCE(8 * y4, 0)
                 + COALESCE(4 * y5, 0) + COALESCE(2 * y6, 0)
                 + COALESCE(y7, 0) AS smooth_num,
               128 + CASE WHEN y1 IS NULL THEN 0 ELSE 64 END
                 + CASE WHEN y2 IS NULL THEN 0 ELSE 32 END
                 + CASE WHEN y3 IS NULL THEN 0 ELSE 16 END
                 + CASE WHEN y4 IS NULL THEN 0 ELSE 8 END
                 + CASE WHEN y5 IS NULL THEN 0 ELSE 4 END
                 + CASE WHEN y6 IS NULL THEN 0 ELSE 2 END
                 + CASE WHEN y7 IS NULL THEN 0 ELSE 1 END AS smooth_den
        FROM l ORDER BY user_id, event_id""")),

    // ── Holt-style level + trend smoothing (Brown double EWMA) ──
    // evt_ewma denoises but LAGS a trending series — every EWMA of a
    // ramp sits systematically below it. Brown's double exponential
    // smoothing (Brown 1959) fixes that with zero extra passes: run
    // the same α=1/2 smoother TWICE (s2 = EWMA of s1), then
    // level = 2·s1 − s2, trend = s1 − s2 (α/(1−α) = 1 at α = 1/2),
    // one-step forecast = 3·s1 − 2·s2. Truncated at 8 taps per stage,
    // s2's kernel is the CONVOLUTION of s1's with itself — 15 taps
    // with weights (k+1 or 15−k)·2^(14−k), still EXACT integers — so
    // the whole statistic is the rational (num, den) pair of two
    // integer convolutions: no floating recurrence, no cross-engine
    // drift, series heads renormalize per stage by construction. ONE
    // window pass per user computes all 15 lags (a single sort, then
    // codegen'd arithmetic); the sequential Holt recurrence cannot
    // parallelize, the truncated form is embarrassingly parallel at
    // any scale. Tap tables are single-source Scala values
    // interpolated into BOTH engines' expressions.
    "evt_holt" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
        val ev = userSeries(s, d)
        def lv(i: Int) = if (i == 0) $"y" else lag($"y", i).over(w)
        def conv(weights: IndexedSeq[Long]) = (
          weights.indices.map { i =>
            coalesce(lv(i) * weights(i), lit(0L))
          }.reduce(_ + _),
          weights.indices.map { i =>
            when(lv(i).isNotNull, lit(weights(i))).otherwise(lit(0L))
          }.reduce(_ + _))
        val (s1n, s1d) = conv(HoltW1)
        val (s2n, s2d) = conv(HoltW2)
        ev.select($"user_id", $"event_id",
            s1n.as("s1n"), s1d.as("s1d"), s2n.as("s2n"), s2d.as("s2d"))
          .select($"user_id", $"event_id",
            (lit(2L) * $"s1n" * $"s2d" - $"s2n" * $"s1d").as("level_num"),
            ($"s1n" * $"s2d" - $"s2n" * $"s1d").as("trend_num"),
            (lit(3L) * $"s1n" * $"s2d" - lit(2L) * $"s2n" * $"s1d")
              .as("forecast_num"),
            ($"s1d" * $"s2d").as("den"))
          .orderBy($"user_id", $"event_id")
      },
      oracle = Some {
        def term(w: Long, k: Int) =
          if (k == 0) s"$w * y" else s"COALESCE($w * y$k, 0)"
        def denTerm(w: Long, k: Int) =
          if (k == 0) s"$w"
          else s"CASE WHEN y$k IS NULL THEN 0 ELSE $w END"
        val lags = (1 to 14)
          .map(k => s"LAG(y, $k) OVER w AS y$k").mkString(", ")
        val s1n = HoltW1.zipWithIndex.map { case (w, k) => term(w, k) }
          .mkString(" + ")
        val s1d = HoltW1.zipWithIndex.map { case (w, k) => denTerm(w, k) }
          .mkString(" + ")
        val s2n = HoltW2.zipWithIndex.map { case (w, k) => term(w, k) }
          .mkString(" + ")
        val s2d = HoltW2.zipWithIndex.map { case (w, k) => denTerm(w, k) }
          .mkString(" + ")
        s"""
        WITH $userSeriesSql,
        l AS (
          SELECT user_id, event_id, y, $lags
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        m AS (
          SELECT user_id, event_id,
                 $s1n AS s1n, $s1d AS s1d, $s2n AS s2n, $s2d AS s2d
          FROM l)
        SELECT user_id, event_id,
               2 * s1n * s2d - s2n * s1d AS level_num,
               s1n * s2d - s2n * s1d AS trend_num,
               3 * s1n * s2d - 2 * s2n * s1d AS forecast_num,
               s1d * s2d AS den
        FROM m ORDER BY user_id, event_id"""
      }),

    // ── rolling-origin forecast backtest (MASE-style skill score) ──
    // The evaluation face the forecasting pair (evt_ewma, evt_holt)
    // lacked: a forecaster is only shippable if it BEATS the naive
    // carry-forward on held-out origins, and the standard protocol is
    // rolling-origin backtesting — for every day h, forecast h from
    // data strictly before h, score against the actual. The Brown
    // two-stage kernel is a fixed 15-tap convolution, so ALL origins
    // evaluate in ONE window pass over the daily series (lags shifted
    // by one: the origin's own day never leaks into its forecast);
    // day rows are census-sized, so the single-partition window is
    // the documented evt_theil_sen series discipline. Full-window
    // origins only (den = 255·65025 constant), so errors stay a
    // single exact-integer scale: the summary is Σ|y·den − fc_num|
    // against the naive Σ|y − y_prev|·den, with the MASE-style
    // permille ratio and the beats_naive verdict as exact-integer
    // comparisons.
    "evt_forecast_backtest" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val days = dailyCents(s, d, "y")
        val w = Window.orderBy($"day")
        def lv(i: Int) = lag($"y", i).over(w)
        val s1n = HoltW1.zipWithIndex.map { case (wt, k) =>
          lv(k + 1) * wt }.reduce(_ + _)
        val s2n = HoltW2.zipWithIndex.map { case (wt, k) =>
          lv(k + 1) * wt }.reduce(_ + _)
        val den = 255L * 65025L
        days
          .withColumn("fc_num", lit(3L) * 255L * s1n - lit(2L) * s2n)
          .withColumn("prev", lv(1))
          .withColumn("full", lv(15).isNotNull)
          .filter($"full")
          .select($"day", $"y", $"fc_num", $"prev")
          .agg(count(lit(1)).as("n_days"),
            sum(abs($"y" * den - $"fc_num" * 255L)).as("sum_abs_err"),
            sum(abs($"y" - $"prev") * den).as("sum_abs_naive"))
          .select($"n_days", $"sum_abs_err", $"sum_abs_naive",
            when($"sum_abs_naive" === 0L, 0L)
              .otherwise(expr("1000 * sum_abs_err div sum_abs_naive"))
              .as("mase_permille"),
            ($"sum_abs_err" < $"sum_abs_naive").as("beats_naive"))
      },
      oracle = Some {
        val s1n = HoltW1.zipWithIndex.map { case (wt, k) =>
          s"$wt * y${k + 1}" }.mkString(" + ")
        val s2n = HoltW2.zipWithIndex.map { case (wt, k) =>
          s"$wt * y${k + 1}" }.mkString(" + ")
        val lags = (1 to 15)
          .map(k => s"LAG(y, $k) OVER w AS y$k").mkString(", ")
        s"""
        WITH days AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS y
          FROM events GROUP BY 1),
        l AS (
          SELECT day, y, $lags
          FROM days WINDOW w AS (ORDER BY day)),
        f AS (
          SELECT day, y, y1 AS prev,
                 3 * 255 * ($s1n) - 2 * ($s2n) AS fc_num
          FROM l WHERE y15 IS NOT NULL),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(abs(y * ${255L * 65025L} - fc_num * 255))
                   AS BIGINT) AS sum_abs_err,
                 CAST(SUM(abs(y - prev) * ${255L * 65025L})
                   AS BIGINT) AS sum_abs_naive
          FROM f)
        SELECT n_days, sum_abs_err, sum_abs_naive,
               CASE WHEN sum_abs_naive = 0 THEN 0
                    ELSE 1000 * sum_abs_err // sum_abs_naive
               END AS mase_permille,
               (sum_abs_err < sum_abs_naive) AS beats_naive
        FROM a"""
      },
      headline = false),

    // ── trailing-window rolling MEDIAN (robust smoother) ──
    // evt_ewma and evt_holt are linear smoothers — one fat-fingered
    // spike drags them for 8 taps; the rolling median rejects it
    // outright (the robust denoiser dashboards put in front of alert
    // rules). Trailing window of the last ≤5 observations per user,
    // emitted EXACTLY at 2× scale (med2 = the two middle order
    // statistics' sum — equal values doubled when the count is odd),
    // the evt_mad_outliers discipline: no halving, no doubles, no
    // cross-engine rounding surface. ONE window pass collects the ≤5
    // lags (a single per-user sort), then the median is a codegen'd
    // sort of a 5-element array — O(1) per row. Series heads shrink
    // the window honestly (count prefix, never padding). The
    // sequential sliding-median heap cannot parallelize; the bounded
    // trailing form is embarrassingly parallel at any scale.
    "evt_rolling_median" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
        val ev = userSeries(s, d)
        val lags = (0 to 4).map(i =>
          if (i == 0) $"y" else lag($"y", i).over(w))
        ev.select($"user_id", $"event_id",
            array(lags: _*).as("win"))
          .withColumn("vals", array_sort(filter($"win", _.isNotNull)))
          .select($"user_id", $"event_id",
            size($"vals").cast(LongType).as("n_window"),
            (expr("element_at(vals, cast((size(vals) + 1) div 2 as int))") +
              expr("element_at(vals, cast(size(vals) div 2 + 1 as int))"))
              .as("med2"))
          .orderBy($"user_id", $"event_id")
      },
      oracle = Some(s"""
        WITH $userSeriesSql,
        l AS (
          SELECT user_id, event_id, y,
                 LAG(y, 1) OVER w AS y1, LAG(y, 2) OVER w AS y2,
                 LAG(y, 3) OVER w AS y3, LAG(y, 4) OVER w AS y4
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        s AS (
          SELECT user_id, event_id,
                 list_sort(list_filter([y, y1, y2, y3, y4],
                   x -> x IS NOT NULL)) AS vals
          FROM l)
        SELECT user_id, event_id,
               CAST(len(vals) AS BIGINT) AS n_window,
               CAST(vals[(len(vals) + 1) // 2]
                 + vals[len(vals) // 2 + 1] AS BIGINT) AS med2
        FROM s ORDER BY user_id, event_id""")),

    // ── maximum drawdown (worst drop from a running peak) ──
    // The risk statistic a mean or variance cannot see: how far below
    // its own best-so-far a series ever fell — the canonical
    // "max drawdown" of finance and the regression-from-peak measure
    // an SLO dashboard wants for any monotone-target metric. Exact
    // integer algebra in cents: ONE per-user ordered window pass
    // computes the running peak (a rows-unbounded-preceding MAX — the
    // streaming-friendly prefix extreme, not a self-join), drawdown is
    // peak − y, then ONE map-side-combined groupBy(user) folds the
    // census: overall peak, worst drawdown, and how many events sat
    // strictly underwater. Window partitions are users (millions of
    // keys at 100 TB, never a global window); everything after the one
    // sort is codegen'd arithmetic.
    "evt_drawdown" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        userSeries(s, d)
          .withColumn("runpeak", max($"y").over(w))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            max($"y").as("peak_cents"),
            max($"runpeak" - $"y").as("max_drawdown_cents"),
            sum(when($"y" < $"runpeak", 1L).otherwise(0L))
              .as("n_underwater"))
          .orderBy($"user_id")
      },
      oracle = Some(s"""
        WITH $userSeriesSql,
        r AS (
          SELECT user_id, y,
                 MAX(y) OVER (PARTITION BY user_id ORDER BY tus, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS runpeak
          FROM ev)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(y) AS BIGINT) AS peak_cents,
               CAST(MAX(runpeak - y) AS BIGINT) AS max_drawdown_cents,
               CAST(SUM(CASE WHEN y < runpeak THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_underwater
        FROM r GROUP BY user_id ORDER BY user_id""")),

    // ── robust outlier census: median/MAD (the modified z-score) ──
    // evt_anomaly's 3σ rule breaks down exactly when it matters —
    // outliers inflate the mean and stddev that define them; the
    // robust form thresholds |y − median| > 5·MAD instead. Everything
    // here is EXACT INTEGER algebra: medians are computed at 2× scale
    // (M2 = v1 + v2, the two middle order statistics — equal when the
    // count is odd), deviations at 2× (dev = |2y − M2|), MAD at 4×
    // (D2 = the 2×-median of dev), and the threshold |y−med| > 5·MAD
    // becomes 2·dev > 5·D2 — no division, no doubles, no cross-engine
    // rounding surface anywhere. The plan scans events ONCE into the
    // (type, value, count) frequency table; both median passes and the
    // outlier count derive from that table, so every shuffle and
    // window is bounded by the DISTINCT VALUE DOMAIN (not the corpus)
    // — the count-based exact median that stays cheap at 100 TB where
    // a per-group sort/percentile would funnel each type's raw rows
    // through one aggregator.
    "evt_mad_outliers" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // the one corpus scan: per-(type, centi-value) counts
        val vc = Tables.events(s, d)
          .select($"event_type", (dec($"value") * 100).cast(LongType).as("v"))
          .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
          .pin()
        // med.m2 = 2·median(y), mad.m2 = 4·MAD(y)
        val (_, med, mad) = medianMad2(vc, "v")
        vc.join(broadcast(med.select($"event_type", $"m2".as("med2"))),
            Seq("event_type"))
          .join(broadcast(mad.select($"event_type", $"m2".as("mad4"))),
            Seq("event_type"))
          .groupBy($"event_type", $"med2", $"mad4")
          .agg(sum($"c").as("n_events"),
            sum(when(lit(2) * abs(lit(2) * $"v" - $"med2") > lit(5) * $"mad4",
              $"c").otherwise(lit(0L))).as("n_outliers"))
          .select($"event_type", $"n_events", $"med2", $"mad4", $"n_outliers")
          .orderBy($"event_type")
      },
      oracle = Some(s"""
        WITH vc AS (
          SELECT event_type,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
                 COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        ${medianMadSql("v", "med2", "mad4")}
        SELECT vc.event_type, CAST(SUM(vc.c) AS BIGINT) AS n_events,
               med.med2, mad.mad4,
               CAST(SUM(CASE WHEN 2 * abs(2 * vc.v - med.med2)
                                  > 5 * mad.mad4
                             THEN vc.c ELSE 0 END) AS BIGINT) AS n_outliers
        FROM vc
        JOIN med USING (event_type)
        JOIN mad USING (event_type)
        GROUP BY vc.event_type, med.med2, mad.mad4
        ORDER BY event_type""")),

    // ── decile lift chart (the model-eval gains table) ──
    // The evaluation artifact scoring models are judged by: rank the
    // population by a score (here click volume — the fixture has no
    // model scores; the mechanism is score-agnostic), cut into
    // deciles, report each decile's response rate against the
    // population rate as an EXACT lift rational (num = responders·U,
    // den = users·R — no float division at the oracle boundary).
    // Response = the behavioral cohort rule (more purchases than
    // errors), scale-invariant on any fixture. Deciles ride
    // [[Relational.globalNtile]] (zero post-sort shuffles, never a
    // single-task global window); the population scalars broadcast.
    "evt_lift_chart" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val u = Tables.events(s, d).groupBy($"user_id")
          .agg(
            count(when($"event_type" === "click", 1)).as("score"),
            (count(when($"event_type" === "purchase", 1)) >
              count(when($"event_type" === "error", 1))).as("resp"))
        val tiles = Relational.globalNtile(s, u, 10L,
          Seq($"score".desc, $"user_id"))
        val tot = tiles.agg(count(lit(1)).as("tu"),
          sum(when($"resp", 1L).otherwise(0L)).as("tr"))
        tiles.groupBy($"tile".as("decile"))
          .agg(count(lit(1)).as("n_users"),
            sum(when($"resp", 1L).otherwise(0L)).as("n_responders"))
          .crossJoin(broadcast(tot))
          .select($"decile", $"n_users", $"n_responders",
            ($"n_responders" * $"tu").as("lift_num"),
            ($"n_users" * $"tr").as("lift_den"))
          .orderBy($"decile")
      },
      oracle = Some("""
        WITH u AS (
          SELECT user_id,
                 COUNT(*) FILTER (event_type = 'click') AS score,
                 COUNT(*) FILTER (event_type = 'purchase') >
                   COUNT(*) FILTER (event_type = 'error') AS resp
          FROM events GROUP BY user_id),
        t AS (
          SELECT user_id, resp,
                 CAST(NTILE(10) OVER (ORDER BY score DESC, user_id)
                   AS BIGINT) AS decile
          FROM u),
        tot AS (
          SELECT COUNT(*) AS tu,
                 CAST(SUM(CASE WHEN resp THEN 1 ELSE 0 END) AS BIGINT)
                   AS tr
          FROM t)
        SELECT t.decile, COUNT(*) AS n_users,
               CAST(SUM(CASE WHEN t.resp THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_responders,
               CAST(SUM(CASE WHEN t.resp THEN 1 ELSE 0 END) * tot.tu
                 AS BIGINT) AS lift_num,
               CAST(COUNT(*) * tot.tr AS BIGINT) AS lift_den
        FROM t CROSS JOIN tot
        GROUP BY t.decile, tot.tu, tot.tr
        ORDER BY decile""")),

    // ── per-user behavioral entropy (feature engineering) ──
    // The diversity feature behind bot/engagement models: Shannon
    // entropy of each user's event-type distribution, H = ln n −
    // (Σ c·ln c)/n over the per-(user, type) counts — two map-side-
    // combined aggregates, no per-event work beyond the count.
    // Cross-engine exactness by the unigram-surprisal idiom: each
    // ln quantized to 6 digits before entering the DECIMAL sum
    // (associative), one double division, outer round to 6.
    "evt_user_entropy" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("c"))
          .withColumn("clnc",
            ($"c" * round(log($"c".cast(DoubleType)), 6)
              .cast(DecimalType(20, 6))).cast(DecimalType(27, 6)))
          .groupBy($"user_id")
          .agg(sum($"c").as("n_events"),
            count(lit(1)).as("n_types"),
            sum($"clnc").as("sclnc"))
          .withColumn("entropy",
            round(log($"n_events".cast(DoubleType)) -
              $"sclnc".cast(DoubleType) / $"n_events", 6))
          .select($"user_id", $"n_events", $"n_types", $"entropy")
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH c AS (
          SELECT user_id, event_type, COUNT(*) AS c
          FROM events GROUP BY user_id, event_type),
        u AS (
          SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
                 COUNT(*) AS n_types,
                 SUM(CAST(c * CAST(round(ln(CAST(c AS DOUBLE)), 6)
                   AS DECIMAL(20,6)) AS DECIMAL(27,6))) AS sclnc
          FROM c GROUP BY user_id)
        SELECT user_id, n_events, n_types,
               round(ln(CAST(n_events AS DOUBLE))
                 - CAST(sclnc AS DOUBLE) / n_events, 6) AS entropy
        FROM u ORDER BY user_id""")),

    // ── MinHash set-overlap estimation (audience intersection) ──
    // "How many users are in BOTH segments" without materializing
    // either segment's membership centrally: each side keeps a K=64
    // MinHash signature (per repetition, the MIN md5 over members —
    // md5 strings order binary-lexicographically identically on both
    // engines), the agreement count m estimates Jaccard as m/K, and
    // |A∩B| ≈ m·(|A|+|B|)/(K+m) — the sketch handshake two parties
    // exchange (64 hashes) instead of user lists. Segments here are
    // scale-invariant behavioral cohorts (more purchases than errors;
    // more clicks than views) built from ONE conditional-count
    // aggregate. Everything is deterministic, so the oracle re-derives
    // all 128 signature components, and the ±60% accuracy contract
    // (measured rel-err 0.13-0.32 across fixtures) rides the same
    // hash-checked row in exact integer arithmetic.
    "agg_minhash_overlap" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val c = cohortCounts(s, d).pin() // both segment filters + the join
        val a = c.filter($"np" > $"ne").select($"user_id")
        val b = c.filter($"nc" > $"nv").select($"user_id")
        def sig(side: org.apache.spark.sql.DataFrame, p: String) = side.agg(
          min(md5(concat($"user_id".cast("string"), lit("_0"))))
            .as(s"${p}0"),
          (1 until 64).map(r =>
            min(md5(concat($"user_id".cast("string"), lit("_" + r))))
              .as(s"$p$r")): _*)
        val m = sig(a, "a").crossJoin(sig(b, "b"))
          .select((0 until 64).map(r =>
            when(col(s"a$r") === col(s"b$r"), 1L).otherwise(0L))
            .reduce(_ + _).as("m_agree"))
        val counts = a.agg(count(lit(1)).as("n_a"))
          .crossJoin(b.agg(count(lit(1)).as("n_b")))
          .crossJoin(a.join(b, Seq("user_id"))
            .agg(count(lit(1)).as("exact_inter")))
        counts.crossJoin(m)
          .select($"n_a", $"n_b", $"exact_inter", $"m_agree",
            ($"m_agree" * ($"n_a" + $"n_b")).as("est_num"),
            (lit(64L) + $"m_agree").as("est_den"),
            (lit(10L) * abs($"m_agree" * ($"n_a" + $"n_b") -
              (lit(64L) + $"m_agree") * $"exact_inter")
              <= lit(6L) * (lit(64L) + $"m_agree") * $"exact_inter")
              .as("within_60pct"))
      },
      oracle = Some(s"""
        WITH $cohortSql,
        sa AS (
          SELECT r.r, MIN(md5(a.user_id::VARCHAR || '_' || r.r::VARCHAR))
                   AS h
          FROM range(0, 64) r(r), a GROUP BY r.r),
        sb AS (
          SELECT r.r, MIN(md5(b.user_id::VARCHAR || '_' || r.r::VARCHAR))
                   AS h
          FROM range(0, 64) r(r), b GROUP BY r.r),
        m AS (
          SELECT CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END)
                   AS BIGINT) AS m_agree
          FROM sa JOIN sb USING (r)),
        k AS (
          SELECT (SELECT COUNT(*) FROM a) AS n_a,
                 (SELECT COUNT(*) FROM b) AS n_b,
                 (SELECT COUNT(*) FROM a JOIN b USING (user_id))
                   AS exact_inter)
        SELECT k.n_a, k.n_b, k.exact_inter, m.m_agree,
               CAST(m.m_agree * (k.n_a + k.n_b) AS BIGINT) AS est_num,
               CAST(64 + m.m_agree AS BIGINT) AS est_den,
               10 * abs(m.m_agree * (k.n_a + k.n_b)
                 - (64 + m.m_agree) * k.exact_inter)
                 <= 6 * (64 + m.m_agree) * k.exact_inter AS within_60pct
        FROM k CROSS JOIN m""")),

    // ── KMV / theta-sketch set algebra (union ∩ difference) ──
    // The Apache-DataSketches handshake MinHash can't give: from ONE
    // K-minimum-values sketch per segment (the K smallest 52-bit
    // hashes of the members), estimate |A|, |B|, |A∪B|, |A∩B| AND
    // |A∖B| — full distinct-count set algebra over sketches that
    // merge by "keep the K smallest", so they build map-side and
    // compose across partitions, days, or datacenters. θ = the K-th
    // smallest (the sketch's sampling threshold); estimates are the
    // Beyer et al. (SIGMOD 2007) KMV estimator (K−1)·U/θ and the
    // theta-sketch rule c·U/θ over the values retained below
    // θ = min(θ_A, θ_B) (Dasgupta et al., "Theta sketches"). A
    // sketch holding fewer than K values IS its set — estimates
    // degenerate to exact counts (the sf0.001 face; sf0.01/0.1
    // exercise the estimating branch, measured rel-err ≤ 0.11).
    // Hashes are md5's first 13 nibbles by positional arithmetic (the
    // q_table_checksum idiom) — deterministic in both engines, so the
    // oracle re-derives the sketches, the thetas, the retained-set
    // algebra, the exact-integer (num, den) estimate rationals, and
    // the ±40% contracts on one hash-checked row. The exact_* columns
    // are the verification harness; a 100 TB deployment drops them —
    // that is the point of the sketch.
    "agg_theta_setops" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val K = 64
        val U = 1L << 52
        // the oracle's 13-nibble positional fold, Spark-side as ONE
        // integer parse (r17, the conv-chunk move): the fold weights
        // nibble i+1 by 16^i — LITTLE-endian — so conv reads the
        // REVERSED 13-char prefix; Σ nib(i)·16^(i-1) exactly, < 2^52.
        // 13 substring/ascii CASE trees per row become one reverse +
        // one conv (the frames are user-sized, so this is plan size
        // and codegen hygiene more than bytes).
        def nib13: String =
          "cast(conv(reverse(substring(h, 1, 13)), 16, 10) as bigint)"
        val c = cohortCounts(s, d).pin() // segments + exact contract joins
        val a = c.filter($"np" > $"ne").select($"user_id")
        val b = c.filter($"nc" > $"nv").select($"user_id")
        // Bottom-K = TakeOrdered (per-partition partial top-k, K-row
        // merge) — the sketch never exceeds K rows anywhere.
        def sketch(side: org.apache.spark.sql.DataFrame) = side
          .select(md5(concat($"user_id".cast("string"), lit("_kmv")))
            .as("h"))
          .select(expr(nib13).as("hv")).distinct()
          .orderBy($"hv").limit(K).pin()
        val ska = sketch(a)
        val skb = sketch(b)
        // Union sketch: K smallest of the merged sketches — equal to
        // the K smallest of A∪B because any of those is in some
        // side's own bottom-K.
        val sku = ska.unionByName(skb).distinct()
          .orderBy($"hv").limit(K).pin()
        def stats(sk: org.apache.spark.sql.DataFrame, p: String) =
          sk.agg(count(lit(1)).as(s"k$p"), max($"hv").as(s"mx$p"))
        val t = stats(ska, "a").crossJoin(stats(skb, "b"))
          .crossJoin(stats(sku, "u"))
          .withColumn("theta_a", when($"ka" >= K, $"mxa").otherwise(lit(U)))
          .withColumn("theta_b", when($"kb" >= K, $"mxb").otherwise(lit(U)))
          .withColumn("theta_u", when($"ku" >= K, $"mxu").otherwise(lit(U)))
          .withColumn("theta", least($"theta_a", $"theta_b"))
          .pin()
        // Retained sets: values strictly below the common θ (hv < U
        // always holds, so a complete sketch retains everything).
        val ra = ska.crossJoin(broadcast(t.select($"theta")))
          .filter($"hv" < $"theta").select($"hv")
        val rb = skb.crossJoin(broadcast(t.select($"theta")))
          .filter($"hv" < $"theta").select($"hv")
        val ic = ra.join(rb, Seq("hv")).agg(count(lit(1)).as("c_inter"))
        val dc = ra.join(rb, Seq("hv"), "left_anti")
          .agg(count(lit(1)).as("c_diff"))
        val ex = a.agg(count(lit(1)).as("n_a"))
          .crossJoin(b.agg(count(lit(1)).as("n_b")))
          .crossJoin(a.join(b, Seq("user_id"))
            .agg(count(lit(1)).as("exact_inter")))
          .crossJoin(a.unionByName(b).distinct()
            .agg(count(lit(1)).as("exact_union")))
        val dec = DecimalType(38, 0)
        def within40(num: org.apache.spark.sql.Column,
            den: org.apache.spark.sql.Column,
            exact: org.apache.spark.sql.Column) =
          when(exact === 0L, num === 0L).otherwise(
            lit(5).cast(dec) * abs(num.cast(dec) - exact.cast(dec) * den.cast(dec))
              <= lit(2).cast(dec) * exact.cast(dec) * den.cast(dec))
        t.crossJoin(ic).crossJoin(dc).crossJoin(ex)
          .withColumn("est_a_num",
            when($"ka" >= K, lit((K - 1L) * U)).otherwise($"ka"))
          .withColumn("est_a_den",
            when($"ka" >= K, $"theta_a").otherwise(lit(1L)))
          .withColumn("est_b_num",
            when($"kb" >= K, lit((K - 1L) * U)).otherwise($"kb"))
          .withColumn("est_b_den",
            when($"kb" >= K, $"theta_b").otherwise(lit(1L)))
          .withColumn("est_union_num",
            when($"ku" >= K, lit((K - 1L) * U)).otherwise($"ku"))
          .withColumn("est_union_den",
            when($"ku" >= K, $"theta_u").otherwise(lit(1L)))
          .withColumn("est_inter_num", $"c_inter" * U)
          .withColumn("est_inter_den", $"theta")
          .withColumn("est_diff_num", $"c_diff" * U)
          .withColumn("est_diff_den", $"theta")
          .select(
            $"ka", $"kb", $"ku", $"theta_a", $"theta_b", $"theta_u",
            $"theta", $"c_inter", $"c_diff",
            $"n_a", $"n_b", $"exact_inter", $"exact_union",
            $"est_a_num", $"est_a_den", $"est_b_num", $"est_b_den",
            $"est_union_num", $"est_union_den",
            $"est_inter_num", $"est_inter_den",
            $"est_diff_num", $"est_diff_den",
            within40($"est_a_num", $"est_a_den", $"n_a")
              .as("a_within_40"),
            within40($"est_b_num", $"est_b_den", $"n_b")
              .as("b_within_40"),
            within40($"est_union_num", $"est_union_den", $"exact_union")
              .as("union_within_40"),
            within40($"est_inter_num", $"est_inter_den", $"exact_inter")
              .as("inter_within_40"),
            within40($"est_diff_num", $"est_diff_den",
              $"n_a" - $"exact_inter").as("diff_within_40"))
      },
      oracle = Some {
        val K = 64
        val U = 1L << 52
        val nib13 = (0 until 13).map { i =>
          val pos = i + 1
          val w = s"CASE WHEN ascii(substring(h, $pos, 1)) >= 97 " +
            s"THEN ascii(substring(h, $pos, 1)) - 87 " +
            s"ELSE ascii(substring(h, $pos, 1)) - 48 END"
          s"CAST($w AS BIGINT) * ${1L << (4 * i)}"
        }.mkString(" + ")
        def within40(num: String, den: String, exact: String) =
          s"""CASE WHEN $exact = 0 THEN $num = 0
              ELSE 5 * abs(CAST($num AS HUGEINT) - CAST($exact AS HUGEINT) * $den)
                <= 2 * CAST($exact AS HUGEINT) * $den END"""
        s"""
        WITH $cohortSql,
        ha AS (SELECT DISTINCT ($nib13) AS hv FROM (
          SELECT md5(user_id::VARCHAR || '_kmv') AS h FROM a)),
        hb AS (SELECT DISTINCT ($nib13) AS hv FROM (
          SELECT md5(user_id::VARCHAR || '_kmv') AS h FROM b)),
        ska AS (SELECT hv FROM ha ORDER BY hv LIMIT $K),
        skb AS (SELECT hv FROM hb ORDER BY hv LIMIT $K),
        sku AS (SELECT hv FROM (
          SELECT hv FROM ska UNION SELECT hv FROM skb)
          ORDER BY hv LIMIT $K),
        t AS (
          SELECT (SELECT COUNT(*) FROM ska) AS ka,
                 (SELECT COUNT(*) FROM skb) AS kb,
                 (SELECT COUNT(*) FROM sku) AS ku,
                 (SELECT MAX(hv) FROM ska) AS mxa,
                 (SELECT MAX(hv) FROM skb) AS mxb,
                 (SELECT MAX(hv) FROM sku) AS mxu),
        tt AS (
          SELECT ka, kb, ku,
                 CASE WHEN ka >= $K THEN mxa ELSE $U END AS theta_a,
                 CASE WHEN kb >= $K THEN mxb ELSE $U END AS theta_b,
                 CASE WHEN ku >= $K THEN mxu ELSE $U END AS theta_u,
                 LEAST(CASE WHEN ka >= $K THEN mxa ELSE $U END,
                       CASE WHEN kb >= $K THEN mxb ELSE $U END) AS theta
          FROM t),
        ra AS (SELECT hv FROM ska, tt WHERE hv < tt.theta),
        rb AS (SELECT hv FROM skb, tt WHERE hv < tt.theta),
        ic AS (SELECT COUNT(*) AS c_inter FROM ra JOIN rb USING (hv)),
        dc AS (SELECT COUNT(*) AS c_diff FROM ra ANTI JOIN rb USING (hv)),
        ex AS (
          SELECT (SELECT COUNT(*) FROM a) AS n_a,
                 (SELECT COUNT(*) FROM b) AS n_b,
                 (SELECT COUNT(*) FROM a JOIN b USING (user_id))
                   AS exact_inter,
                 (SELECT COUNT(*) FROM (
                   SELECT user_id FROM a UNION SELECT user_id FROM b))
                   AS exact_union),
        est AS (
          SELECT tt.*, ic.c_inter, dc.c_diff, ex.*,
                 CASE WHEN ka >= $K THEN ${(K - 1L) * U} ELSE ka END
                   AS est_a_num,
                 CASE WHEN ka >= $K THEN theta_a ELSE 1 END AS est_a_den,
                 CASE WHEN kb >= $K THEN ${(K - 1L) * U} ELSE kb END
                   AS est_b_num,
                 CASE WHEN kb >= $K THEN theta_b ELSE 1 END AS est_b_den,
                 CASE WHEN ku >= $K THEN ${(K - 1L) * U} ELSE ku END
                   AS est_union_num,
                 CASE WHEN ku >= $K THEN theta_u ELSE 1 END
                   AS est_union_den,
                 c_inter * ${U}::BIGINT AS est_inter_num,
                 theta AS est_inter_den,
                 c_diff * ${U}::BIGINT AS est_diff_num,
                 theta AS est_diff_den
          FROM tt, ic, dc, ex)
        SELECT CAST(ka AS BIGINT) AS ka, CAST(kb AS BIGINT) AS kb,
               CAST(ku AS BIGINT) AS ku,
               theta_a, theta_b, theta_u, theta,
               CAST(c_inter AS BIGINT) AS c_inter,
               CAST(c_diff AS BIGINT) AS c_diff,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(exact_inter AS BIGINT) AS exact_inter,
               CAST(exact_union AS BIGINT) AS exact_union,
               CAST(est_a_num AS BIGINT) AS est_a_num,
               CAST(est_a_den AS BIGINT) AS est_a_den,
               CAST(est_b_num AS BIGINT) AS est_b_num,
               CAST(est_b_den AS BIGINT) AS est_b_den,
               CAST(est_union_num AS BIGINT) AS est_union_num,
               CAST(est_union_den AS BIGINT) AS est_union_den,
               CAST(est_inter_num AS BIGINT) AS est_inter_num,
               CAST(est_inter_den AS BIGINT) AS est_inter_den,
               CAST(est_diff_num AS BIGINT) AS est_diff_num,
               CAST(est_diff_den AS BIGINT) AS est_diff_den,
               ${within40("est_a_num", "est_a_den", "n_a")} AS a_within_40,
               ${within40("est_b_num", "est_b_den", "n_b")} AS b_within_40,
               ${within40("est_union_num", "est_union_den", "exact_union")}
                 AS union_within_40,
               ${within40("est_inter_num", "est_inter_den", "exact_inter")}
                 AS inter_within_40,
               ${within40("est_diff_num", "est_diff_den",
                  "n_a - exact_inter")} AS diff_within_40
        FROM est"""
      }),

    // ── peak concurrency by sweep line over session intervals ──
    // "How many sessions were open at once, per day" — the capacity
    // question behind connection pools and rate limits. The textbook
    // answer is a +1/−1 sweep with a GLOBAL running sum — a
    // single-task window at scale; here the sweep rides
    // [[Relational.globalPrefixSum]] (range partition → per-partition
    // ordered accumulation → O(parts) driver offsets → broadcast), so
    // the scan parallelizes and nothing funnels. Sessions come from
    // the shared 30-minute-gap rule (the sessionize semantics);
    // intervals are inclusive, so the −1 lands at end+1µs and ties
    // order +1 before −1 (delta desc) — an instant's peak counts
    // everything open AT it. Daily peaks aggregate the state-change
    // instants inside each day (order-invariant per tie group). All
    // integer µs arithmetic.
    "evt_peak_concurrency" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).withColumn("tus", expr("ts div 1000"))
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
        // Both sweep deltas fall out of ONE window pass (r17, guide
        // §2.4): a session's a = min(tus) is the tus of its FIRST row
        // (the gap-rule row) and b = max(tus) the tus of its LAST (the
        // row whose successor starts a new session, or the user's
        // final row) — rows are tus-ordered within a user, so the
        // session-start rows emit the +1s and the session-end rows the
        // −1s directly. The old shape grouped to (a, b) and UNIONED two
        // projections of it, recomputing the window+agg subtree per
        // union branch (only the user_id exchange was reused); the
        // delta multiset here is identical row for row.
        val marked = ev
          .withColumn("prev_tus", lag($"tus", 1).over(w))
          .withColumn("next_tus", lead($"tus", 1).over(w))
        val deltas = marked.select(explode(filter(array(
            struct($"tus".as("t"),
              when($"prev_tus".isNull || $"tus" - $"prev_tus" > GapUs, 1L)
                .otherwise(0L).as("delta")),
            struct(($"tus" + 1L).as("t"),
              when($"next_tus".isNull || $"next_tus" - $"tus" > GapUs, -1L)
                .otherwise(0L).as("delta"))),
            e => e("delta") =!= 0L)).as("e"))
          .select($"e.t".as("t"), $"e.delta".as("delta"))
        Relational.globalPrefixSum(s, deltas,
            Seq($"t", $"delta".desc), "delta")
          .groupBy(expr(s"t div $DayUs").as("day"))
          .agg(max($"psum").as("peak_concurrency"))
          .orderBy($"day")
      },
      oracle = Some(s"""
        WITH $sessionsCte,
        iv AS (
          SELECT user_id, session_no, MIN(tus) AS a, MAX(tus) AS b
          FROM sessions GROUP BY user_id, session_no),
        d AS (
          SELECT a AS t, 1 AS delta FROM iv
          UNION ALL
          SELECT b + 1, -1 FROM iv),
        sw AS (
          SELECT t, SUM(delta) OVER (ORDER BY t, delta DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
          FROM d)
        SELECT t // $DayUs AS day,
               CAST(MAX(conc) AS BIGINT) AS peak_concurrency
        FROM sw GROUP BY t // $DayUs
        ORDER BY day"""),
      headline = true),

    // ── interval UNION length (covered time / utilization) ──
    // evt_peak_concurrency's sweep reduced to MAX; this is the other
    // classic reduction — how much time was covered AT ALL: each event
    // opens a half-open activity interval [t, t + dur) (dur a
    // deterministic function of the amount, 10-60 min, so intervals
    // genuinely overlap), and the per-user union length is the billing/
    // SLA-coverage number double-counted by any plain SUM of durations.
    // The standard boundary sweep in exact integers: ±1 deltas, one
    // per-user ordered window pass (running coverage count + lead),
    // covered time = Σ gap·[count > 0]; +1 sorts before −1 at equal
    // timestamps so touching intervals merge, in BOTH engines. Window
    // partitions are users — millions of keys at scale, never global;
    // everything else is one map-side-combined groupBy. Span and
    // covered are exact micros; utilization stays a ratio of the two
    // emitted BIGINTs (no double division surface).
    "evt_interval_union" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).select($"user_id",
            expr("ts div 1000").as("t0"),
            (dec($"value") * 100).cast(LongType).as("y"))
          .withColumn("dur", (abs($"y") % 3000L + 600L) * 1000000L)
          .withColumn("t1", $"t0" + $"dur")
        val pts = ev.select($"user_id", $"t0".as("t"), lit(1L).as("delta"))
          .unionByName(
            ev.select($"user_id", $"t1".as("t"), lit(-1L).as("delta")))
        val w = Window.partitionBy($"user_id").orderBy($"t", $"delta".desc)
        val swept = pts
          .withColumn("run", sum($"delta")
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("nxt", lead($"t", 1).over(w))
          .withColumn("cov",
            when($"run" > 0L && $"nxt".isNotNull, $"nxt" - $"t")
              .otherwise(0L))
        swept.groupBy($"user_id")
          .agg((count(lit(1)) / 2).cast(LongType).as("n_intervals"),
            sum($"cov").as("covered_us"),
            (max($"t") - min($"t")).as("span_us"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS t0,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM events),
        iv AS (
          SELECT user_id, t0,
                 t0 + (abs(y) % 3000 + 600) * 1000000 AS t1
          FROM ev),
        pts AS (
          SELECT user_id, t0 AS t, 1 AS delta FROM iv
          UNION ALL
          SELECT user_id, t1, -1 FROM iv),
        sw AS (
          SELECT user_id, t,
                 SUM(delta) OVER w AS run,
                 LEAD(t, 1) OVER w AS nxt
          FROM pts
          WINDOW w AS (PARTITION BY user_id ORDER BY t, delta DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        cov AS (
          SELECT user_id,
                 CASE WHEN run > 0 AND nxt IS NOT NULL
                      THEN nxt - t ELSE 0 END AS cov, t
          FROM sw)
        SELECT user_id,
               CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
               CAST(SUM(cov) AS BIGINT) AS covered_us,
               CAST(MAX(t) - MIN(t) AS BIGINT) AS span_us
        FROM cov GROUP BY user_id ORDER BY user_id""")),

    // ── sliding-window distinct users WITHOUT a distinct aggregate ──
    // "Distinct users in the trailing 7 days, per day" — the DAU/WAU
    // family. The naive plan explodes every user-day to its 7 covered
    // windows and runs countDistinct per window: a 7× row blowup INTO
    // a distinct aggregate, the expensive shape. This plan deletes
    // the distinct: a user active on day d covers windows [d−6, d];
    // the union of those intervals over the user's active days merges
    // into DISJOINT runs by the islands fold (consecutive active days
    // ≤ 6 apart overlap), and disjointness means each user counts
    // exactly once per covered window with a PLAIN count — no
    // distinct state at all. Per-user ordered pass (bounded by active
    // days) + one map-side-combined count; the oracle is the naive
    // brute-force windows × COUNT(DISTINCT) definition, so the hash
    // match PROVES the interval-merge trick exact every round.
    "evt_sliding_distinct" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val days = Tables.events(s, d)
          .select($"user_id", expr(s"(ts div 1000) div $DayUs").as("day"))
          .distinct()
        val w = Window.partitionBy($"user_id").orderBy($"day")
        val runs = days
          .withColumn("prev", lag($"day", 1).over(w))
          .withColumn("brk",
            when($"prev".isNull || $"day" - $"prev" > 6, 1L).otherwise(0L))
          .withColumn("run",
            sum($"brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy($"user_id", $"run")
          .agg(min($"day").as("a"), max($"day").as("b"))
        runs
          .select(explode(sequence($"a" - 6, $"b")).as("win"))
          .groupBy($"win").agg(count(lit(1)).as("n_users"))
          .orderBy($"win")
      },
      oracle = Some(s"""
        WITH ud AS (
          SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day
          FROM events),
        rng AS (SELECT MIN(day) - 6 AS lo, MAX(day) AS hi FROM ud),
        wins AS (
          SELECT unnest(generate_series(lo, hi)) AS win FROM rng)
        SELECT w.win, COUNT(DISTINCT u.user_id) AS n_users
        FROM wins w JOIN ud u ON u.day BETWEEN w.win AND w.win + 6
        GROUP BY w.win
        ORDER BY w.win""")),

    // ── time-to-convert (first view → first purchase) ──
    // The activation metric: per user the µs from FIRST view to FIRST
    // purchase (converted = purchase after view), summarized with the
    // count-based exact median (2×) and MAD (4×) over the delta
    // domain plus the never-converted census. One conditional-min
    // aggregate per user; the order statistics ride the
    // evt_mad_outliers machinery on a users-sized value table.
    "evt_time_to_convert" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val fp = Tables.events(s, d)
          .select($"user_id", $"event_type", expr("ts div 1000").as("tus"))
          .groupBy($"user_id")
          .agg(min(when($"event_type" === "view", $"tus")).as("fv"),
            min(when($"event_type" === "purchase", $"tus")).as("fp"))
        val conv = fp.filter($"fv".isNotNull && $"fp".isNotNull &&
            $"fp" > $"fv")
          .select(($"fp" - $"fv").as("dt"))
        val vc = conv.groupBy($"dt").agg(count(lit(1)).as("c"))
          .pin()
        val n = vc.agg(sum($"c").as("n"))
        val w = org.apache.spark.sql.expressions.Window.orderBy($"dt")
          .rowsBetween(org.apache.spark.sql.expressions
            .Window.unboundedPreceding, 0)
        val med = vc.withColumn("cum", sum($"c").over(w))
          .crossJoin(broadcast(n))
          .agg((min(when($"cum" >= expr("(n + 1) div 2"), $"dt"))
            + min(when($"cum" >= expr("n div 2 + 1"), $"dt")))
            .as("med_dt_x2"))
        val total = fp.agg(count(lit(1)).as("n_users"))
        total.crossJoin(broadcast(n.select($"n".as("n_converted"))))
          .crossJoin(broadcast(med))
          .select($"n_users", $"n_converted",
            ($"n_users" - $"n_converted").as("n_not_converted"),
            $"med_dt_x2")
      },
      oracle = Some("""
        WITH fp AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   AS fv,
                 MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS fp
          FROM events GROUP BY user_id),
        conv AS (
          SELECT fp - fv AS dt FROM fp
          WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv),
        vc AS (SELECT dt, COUNT(*) AS c FROM conv GROUP BY dt),
        n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vc),
        cum AS (
          SELECT dt, SUM(c) OVER (ORDER BY dt
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, n.n
          FROM vc CROSS JOIN n),
        med AS (
          SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN dt END)
                 + MIN(CASE WHEN cum >= n // 2 + 1 THEN dt END)
                   AS med_dt_x2
          FROM cum),
        t AS (SELECT COUNT(*) AS n_users FROM fp)
        SELECT t.n_users, n.n AS n_converted,
               t.n_users - n.n AS n_not_converted, med.med_dt_x2
        FROM t CROSS JOIN n CROSS JOIN med""")),

    // ── Kaplan–Meier survival over time-to-convert (censoring-aware) ──
    // The churn/conversion curve done RIGHT: evt_time_to_convert's
    // median throws away the users who haven't converted YET — the
    // KM estimator (Kaplan & Meier 1958) keeps them as censored
    // observations (censor time = study end − first view), so the
    // curve is unbiased under right-censoring. At each conversion
    // time t: n_risk = subjects whose observed time ≥ t (deaths
    // before censorings on ties — censored-at-t stay at risk),
    // d = conversions at t, S(t) = Π (1 − d/n). The product becomes
    // the surprisal-idiom SUM: ln((n−d)/n) quantized to 6 digits →
    // exact micro-unit integers → the running ln S(t) rides
    // [[Relational.globalPrefixSum]] over the time order (as does the
    // at-risk cumulative) — zero single-task windows, shuffles are
    // one groupBy(user) + one groupBy(t) + two range partitions.
    // Steps are emitted while n_risk > d (S stays positive; a
    // total-extinction terminal step would be S = 0 — none exists on
    // any fixture, the guard keeps the arithmetic total).
    "evt_survival_km" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"user_id", $"event_type", expr("ts div 1000").as("tus"))
          .pin() // first-touch agg + study-end scalar
        val tend = ev.agg(max($"tus").as("t_end"))
        val subj = ev.groupBy($"user_id")
          .agg(min(when($"event_type" === "view", $"tus")).as("fv"),
            min(when($"event_type" === "purchase", $"tus")).as("fp"))
          .filter($"fv".isNotNull)
        val obs = subj.crossJoin(broadcast(tend))
          .select(
            when($"fp".isNotNull && $"fp" > $"fv", $"fp" - $"fv")
              .otherwise($"t_end" - $"fv").as("t"),
            when($"fp".isNotNull && $"fp" > $"fv", 1L).otherwise(0L)
              .as("died"))
        val tbl = obs.groupBy($"t")
          .agg(sum($"died").as("d"), sum(lit(1L) - $"died").as("c"))
          .withColumn("dc", $"d" + $"c")
          .pin() // census + the prefix pass
        val n = tbl.agg(sum($"dc").as("n_subjects"))
        val steps = Relational.globalPrefixSum(s, tbl, Seq($"t"), "dc")
          .withColumnRenamed("psum", "cumall")
          .crossJoin(broadcast(n))
          .withColumn("n_risk", $"n_subjects" - ($"cumall" - $"dc"))
          .filter($"d" > 0L && $"n_risk" > $"d")
          .withColumn("f_micro",
            (round(log(($"n_risk" - $"d").cast(DoubleType) /
                $"n_risk".cast(DoubleType)), 6)
              .cast(DecimalType(20, 6)) * 1000000).cast(LongType))
          .select($"t", $"n_risk", $"d", $"c", $"f_micro")
        Relational.globalPrefixSum(s, steps, Seq($"t"), "f_micro")
          .withColumnRenamed("psum", "ln_s_micro")
          .select($"t".as("t_us"), $"n_risk", $"d".as("d_events"),
            $"c".as("c_censored_here"), $"ln_s_micro",
            round(exp($"ln_s_micro".cast(DoubleType) / 1e6), 6).as("surv"))
          .orderBy($"t_us")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        tend AS (SELECT MAX(tus) AS t_end FROM ev),
        subj AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN tus END) AS fv,
                 MIN(CASE WHEN event_type = 'purchase' THEN tus END) AS fp
          FROM ev GROUP BY user_id
          HAVING MIN(CASE WHEN event_type = 'view' THEN tus END)
            IS NOT NULL),
        obs AS (
          SELECT CASE WHEN fp IS NOT NULL AND fp > fv THEN fp - fv
                      ELSE t_end - fv END AS t,
                 CASE WHEN fp IS NOT NULL AND fp > fv THEN 1 ELSE 0 END
                   AS died
          FROM subj, tend),
        tbl AS (
          SELECT t, CAST(SUM(died) AS BIGINT) AS d,
                 CAST(SUM(1 - died) AS BIGINT) AS c
          FROM obs GROUP BY t),
        n AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_subjects FROM tbl),
        cum AS (
          SELECT t, d, c,
                 SUM(d + c) OVER (ORDER BY t) AS cumall
          FROM tbl),
        steps AS (
          SELECT t, d, c,
                 n_subjects - (cumall - (d + c)) AS n_risk,
                 CAST(CAST(round(ln(CAST(n_subjects - (cumall - (d + c)) - d
                     AS DOUBLE) /
                   (n_subjects - (cumall - (d + c)))), 6)
                   AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS f_micro
          FROM cum, n
          WHERE d > 0 AND n_subjects - (cumall - (d + c)) > d),
        km AS (
          SELECT t, n_risk, d, c, f_micro,
                 SUM(f_micro) OVER (ORDER BY t) AS ln_s_micro
          FROM steps)
        SELECT t AS t_us, CAST(n_risk AS BIGINT) AS n_risk,
               d AS d_events, c AS c_censored_here,
               CAST(ln_s_micro AS BIGINT) AS ln_s_micro,
               round(exp(CAST(ln_s_micro AS DOUBLE) / 1e6), 6) AS surv
        FROM km ORDER BY t_us""")),

    // ── cumulative user growth (distinct-to-date via first touch) ──
    // "Total unique users ever seen, per day" — naively a cumulative
    // COUNT(DISTINCT) per day (quadratic re-scans or heavy state);
    // exactly computable with the FIRST-TOUCH identity: a user adds
    // to the cumulative exactly once, on their first-seen day, so
    // cum_users(d) = Σ_{d'≤d} new_users(d') — one min-aggregate per
    // user, one count per day, one running sum over the 30-row day
    // table. The growth-analytics staple, distinct-free like
    // evt_sliding_distinct.
    "evt_user_growth" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select($"user_id", expr(s"(ts div 1000) div $DayUs").as("dy"))
          .groupBy($"user_id").agg(min($"dy").as("day"))
          .groupBy($"day").agg(count(lit(1)).as("n_new"))
          .withColumn("cum_users", sum($"n_new").over(w))
          .orderBy($"day")
      },
      oracle = Some(s"""
        WITH ft AS (
          SELECT user_id, MIN(epoch_us(ts) // $DayUs) AS day
          FROM events GROUP BY user_id),
        nd AS (SELECT day, COUNT(*) AS n_new FROM ft GROUP BY day)
        SELECT day, n_new,
               CAST(SUM(n_new) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_users
        FROM nd ORDER BY day""")),

    // ── SLO error-budget burn (the reliability dashboard fold) ──
    // Against a 20% error-rate objective (the fixture's base rate is
    // ~20%, so the budget position genuinely oscillates — at 5% every
    // day breaches trivially; measured 19/30 breach days at 20%),
    // track the cumulative budget position per day: burn(d) =
    // Σ_{d'≤d} (5·errors − total) in exact integers (the ×5 clears
    // the 20% fraction — no division, no floats), breach where the
    // running burn is positive — the
    // multi-window SLO arithmetic every reliability dashboard runs.
    // Daily rollup is one map-side-combined aggregate; the cumulative
    // walk is a window over the DAY table (30 rows at any corpus
    // size — days, not events).
    "evt_slo_burn" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(expr(s"(ts div 1000) div $DayUs").as("day"),
            ($"event_type" === "error").as("is_err"))
          .groupBy($"day")
          .agg(count(lit(1)).as("n_total"),
            sum(when($"is_err", 1L).otherwise(0L)).as("n_errors"))
          .withColumn("burn_x5",
            sum(lit(5L) * $"n_errors" - $"n_total").over(w))
          .withColumn("breached", $"burn_x5" > 0L)
          .select($"day", $"n_total", $"n_errors", $"burn_x5", $"breached")
          .orderBy($"day")
      },
      oracle = Some(s"""
        WITH d AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 COUNT(*) AS n_total,
                 CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_errors
          FROM events GROUP BY 1)
        SELECT day, n_total, n_errors,
               CAST(SUM(5 * n_errors - n_total) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS burn_x5,
               SUM(5 * n_errors - n_total) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                 AS breached
        FROM d ORDER BY day""")),

    // ── inter-arrival distribution (median/MAD of gaps) ──
    // The traffic-model profile: per event type, robust statistics of
    // the inter-event gaps (consecutive events of that type per user
    // — ONE lag window on the user partitioning), then the
    // evt_mad_outliers count-based exact medians: medians at 2× scale
    // off the (type, gap, count) frequency table, MAD at 4× — every
    // shuffle after the lag bounded by the distinct GAP domain, all
    // integer µs, no percentile sort of raw rows anywhere.
    "evt_interarrival" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"tus", $"event_id")
        val gaps = Tables.events(s, d)
          .select($"user_id", $"event_type", $"event_id",
            expr("ts div 1000").as("tus"))
          .withColumn("gap", $"tus" - lag($"tus", 1).over(w))
          .filter($"gap".isNotNull)
          .select($"event_type", $"gap")
        val vc = gaps.groupBy($"event_type", $"gap")
          .agg(count(lit(1)).as("c"))
          .pin()
        val (n, med, mad) = medianMad2(vc, "gap")
        n.join(med.select($"event_type", $"m2".as("med_gap_x2")),
            Seq("event_type"))
          .join(mad.select($"event_type", $"m2".as("mad_gap_x4")),
            Seq("event_type"))
          .select($"event_type", $"n".as("n_gaps"),
            $"med_gap_x2", $"mad_gap_x4")
          .orderBy($"event_type")
      },
      oracle = Some(s"""
        WITH g0 AS (
          SELECT event_type,
                 epoch_us(ts) - LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id, event_type
                    ORDER BY epoch_us(ts), event_id) AS gap
          FROM events),
        gaps AS (SELECT event_type, gap FROM g0 WHERE gap IS NOT NULL),
        vc AS (
          SELECT event_type, gap, COUNT(*) AS c
          FROM gaps GROUP BY 1, 2),
        ${medianMadSql("gap", "m2", "m2")}
        SELECT n.event_type, n.n AS n_gaps,
               med.m2 AS med_gap_x2, mad.m2 AS mad_gap_x4
        FROM n
        JOIN med USING (event_type)
        JOIN mad USING (event_type)
        ORDER BY event_type"""))
      ,

    // ── rolling OLS trend (the windowed slope feature) ──
    // evt_trend_ols fits each user's WHOLE history; live features want
    // the trend of the last few observations. Same exact-rational
    // formula — slope = (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) in shifted
    // minutes × centi-units, zero float ops — but all five moments
    // come from ONE window pass (trailing 8 rows per user), so every
    // event carries its own local trend. A window whose x values
    // coincide (same-minute bursts) yields den = 0 — emitted as-is,
    // the honest "no trend defined" the consumer handles; identical
    // in both engines.
    "evt_rolling_trend" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
          .rowsBetween(-7, 0)
        Tables.events(s, d)
          .select($"user_id", $"event_id", expr("ts div 1000").as("tus"),
            (expr("(ts div 1000) div 60000000") - 28401120L)
              .cast(big).as("x"),
            (dec($"value") * 100).cast(LongType).cast(big).as("y"))
          .withColumn("nw", count(lit(1)).over(w))
          .withColumn("sx", sum($"x").over(w))
          .withColumn("sy", sum($"y").over(w))
          .withColumn("sxy", sum($"x" * $"y").over(w))
          .withColumn("sx2", sum($"x" * $"x").over(w))
          .select($"user_id", $"event_id", $"nw".as("n_win"),
            ($"nw".cast(big) * $"sxy" - $"sx" * $"sy")
              .cast(LongType).as("slope_num"),
            ($"nw".cast(big) * $"sx2" - $"sx" * $"sx")
              .cast(LongType).as("slope_den"))
          .orderBy($"user_id", $"event_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus,
                 CAST(epoch_us(ts) // 60000000 - 28401120 AS HUGEINT) AS x,
                 CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      AS HUGEINT) AS y
          FROM events),
        m AS (
          SELECT user_id, event_id,
                 COUNT(*) OVER w AS nw,
                 SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
                 SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sx2
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id, CAST(nw AS BIGINT) AS n_win,
               CAST(CAST(nw AS HUGEINT) * sxy - sx * sy AS BIGINT)
                 AS slope_num,
               CAST(CAST(nw AS HUGEINT) * sx2 - sx * sx AS BIGINT)
                 AS slope_den
        FROM m
        ORDER BY user_id, event_id""")),

    // ── additive seasonal decomposition (trend / day-of-week /
    //    remainder), exact ──
    // The classical decomposition behind every "is this growth or just
    // the weekend" question: y_d = trend + seasonal(dow) + remainder,
    // with trend the CENTERED 7-day moving average (full calendar
    // windows only — a gap-adjacent day has no honest trend), seasonal
    // the per-dow mean of the detrended series, remainder the rest.
    // Everything stays an exact integer by scaling through the
    // denominators: r7 = 7·y − Σ₇y (units of 7·cents), seasonal as the
    // (Σ r7, count) rational per dow, remainder_num = r7·s_den − s_num
    // (units of 7·s_den·cents) — consumers divide at the edge. The
    // corpus-sized work is ONE groupBy(day); the ordered window then
    // runs over the DAILY SERIES, whose length is O(days) regardless
    // of corpus size — the one place a global window is legitimately
    // single-task. Identity 7·y·s_den = trend·s_den + s_num + rem_num
    // holds exactly on every row (gated in the spec).
    "evt_seasonal_decompose" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val daily = dailyCents(s, d, "y_cents")
          .pin() // O(days) series
        val w = Window.orderBy($"day").rowsBetween(-3, 3)
        val t = daily
          .withColumn("trend_num", sum($"y_cents").over(w))
          .withColumn("wcnt", count(lit(1)).over(w))
          .withColumn("wspan", max($"day").over(w) - min($"day").over(w))
          .filter($"wcnt" === 7L && $"wspan" === 6L)
          .withColumn("dow", expr("(day + 4) % 7"))
          .withColumn("r7", $"y_cents" * 7L - $"trend_num")
          .pin() // seasonal agg + the join back
        val seas = t.groupBy($"dow")
          .agg(sum($"r7").as("s_num"), count(lit(1)).as("s_den"))
        t.join(broadcast(seas), Seq("dow"))
          .select($"day", $"dow", $"y_cents", $"trend_num", $"r7",
            $"s_num", $"s_den",
            ($"r7" * $"s_den" - $"s_num").as("rem_num"))
          .orderBy($"day")
      },
      oracle = Some(s"""
        WITH daily AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS y_cents
          FROM events GROUP BY 1),
        t AS (
          SELECT day, y_cents,
                 SUM(y_cents) OVER win AS trend_num,
                 COUNT(*) OVER win AS wcnt,
                 MAX(day) OVER win - MIN(day) OVER win AS wspan
          FROM daily
          WINDOW win AS (ORDER BY day
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        f AS (
          SELECT day, (day + 4) % 7 AS dow, y_cents, trend_num,
                 y_cents * 7 - trend_num AS r7
          FROM t WHERE wcnt = 7 AND wspan = 6),
        seas AS (
          SELECT dow, CAST(SUM(r7) AS BIGINT) AS s_num,
                 CAST(COUNT(*) AS BIGINT) AS s_den
          FROM f GROUP BY dow)
        SELECT f.day, f.dow, f.y_cents,
               CAST(f.trend_num AS BIGINT) AS trend_num,
               CAST(f.r7 AS BIGINT) AS r7,
               seas.s_num, seas.s_den,
               CAST(f.r7 * seas.s_den - seas.s_num AS BIGINT) AS rem_num
        FROM f JOIN seas USING (dow)
        ORDER BY f.day""")),

    // ── A/B experiment readout (Welch's unequal-variance z-test) ──
    // The decision query behind every experimentation platform: users
    // hash into two variants (user_id % 2 — a deployment assigns at
    // exposure), the metric is per-user purchase revenue, and the
    // readout is Welch's t = (x̄_A−x̄_B)/√(s²_A/n_A + s²_B/n_B) with
    // the two-sided α=0.05 verdict. ONE map-side-combined aggregate
    // produces all six exact-integer moments (n, Σy, Σy² per side —
    // the mergeable sufficient statistics, so variant totals compose
    // across partitions/days exactly like the sketch family); the t
    // statistic is a short chain of IEEE ops both engines perform
    // identically on those integers, the verdict compares the
    // UNROUNDED statistic to 1.959964. The fixtures exercise both
    // branches (|t| = 0.45/0.88 below, 2.34 above at sf0.1). Σy² stays
    // exact in BIGINT here; a 100 TB deployment lifts the moments to
    // DECIMAL(38) — the plan is unchanged.
    "evt_ab_ttest" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val u = Tables.events(s, d)
          .filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(sum(expr("cast(cast(value as decimal(18,2)) * 100 as bigint)"))
            .as("y"))
          .withColumn("v", $"user_id" % 2)
        val m = u.agg(
          sum(when($"v" === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when($"v" === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when($"v" === 0, $"y")).as("sum_a"),
          sum(when($"v" === 1, $"y")).as("sum_b"),
          sum(when($"v" === 0, $"y" * $"y")).as("sumsq_a"),
          sum(when($"v" === 1, $"y" * $"y")).as("sumsq_b"))
        val va = ($"sumsq_a".cast(DoubleType) -
          $"sum_a".cast(DoubleType) * $"sum_a" / $"n_a") / ($"n_a" - 1L)
        val vb = ($"sumsq_b".cast(DoubleType) -
          $"sum_b".cast(DoubleType) * $"sum_b" / $"n_b") / ($"n_b" - 1L)
        val t = ($"sum_a".cast(DoubleType) / $"n_a" -
          $"sum_b".cast(DoubleType) / $"n_b") /
          sqrt(va / $"n_a" + vb / $"n_b")
        m.select($"n_a", $"n_b", $"sum_a", $"sum_b",
          $"sumsq_a", $"sumsq_b",
          round(t, 6).as("t_stat"),
          (abs(t) > 1.959964d).as("significant_05"))
      },
      oracle = Some("""
        WITH u AS (
          SELECT user_id, user_id % 2 AS v,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS y
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id),
        m AS (
          SELECT CAST(COUNT(*) FILTER (v = 0) AS BIGINT) AS n_a,
                 CAST(COUNT(*) FILTER (v = 1) AS BIGINT) AS n_b,
                 CAST(SUM(y) FILTER (v = 0) AS BIGINT) AS sum_a,
                 CAST(SUM(y) FILTER (v = 1) AS BIGINT) AS sum_b,
                 CAST(SUM(y * y) FILTER (v = 0) AS BIGINT) AS sumsq_a,
                 CAST(SUM(y * y) FILTER (v = 1) AS BIGINT) AS sumsq_b
          FROM u)
        SELECT n_a, n_b, sum_a, sum_b, sumsq_a, sumsq_b,
               round((CAST(sum_a AS DOUBLE) / n_a
                   - CAST(sum_b AS DOUBLE) / n_b) /
                 sqrt(((CAST(sumsq_a AS DOUBLE)
                     - CAST(sum_a AS DOUBLE) * sum_a / n_a) / (n_a - 1))
                     / n_a
                   + ((CAST(sumsq_b AS DOUBLE)
                     - CAST(sum_b AS DOUBLE) * sum_b / n_b) / (n_b - 1))
                     / n_b), 6) AS t_stat,
               abs((CAST(sum_a AS DOUBLE) / n_a
                   - CAST(sum_b AS DOUBLE) / n_b) /
                 sqrt(((CAST(sumsq_a AS DOUBLE)
                     - CAST(sum_a AS DOUBLE) * sum_a / n_a) / (n_a - 1))
                     / n_a
                   + ((CAST(sumsq_b AS DOUBLE)
                     - CAST(sum_b AS DOUBLE) * sum_b / n_b) / (n_b - 1))
                     / n_b)) > 1.959964 AS significant_05
        FROM m""")),

    // ── two-sample Kolmogorov–Smirnov drift test (first half vs
    //    second half of the event timeline) ──
    // The distribution-drift monitor behind "did `value` change
    // regime": D = max_v |ECDF_A(v) − ECDF_B(v)| between the two
    // temporal halves, computed EXACTLY — per-value side counts (one
    // map-side-combined groupBy on centi-unit values), then BOTH
    // cumulative counts ride [[Relational.globalPrefixSum]] over the
    // value order (two range-partitioned passes, zero single-task
    // windows), and D is the max of |n_B·cumA − n_A·cumB| as an exact
    // integer — D's rational is (d_num, n_A·n_B). The α=0.05 verdict
    // avoids the sqrt in the critical value c(α)√((n_A+n_B)/(n_A·n_B))
    // by squaring: reject ⇔ 10⁸·d_num² > 1.3581²·10⁸·(n_A+n_B)·d_den.
    // Argmax tie → smallest value (max-struct idiom). The squared
    // verdict is evaluated in UNBOUNDED integer arithmetic ([[ksReject]],
    // BigInt) on the driver over the ONE aggregate row the distributed
    // plan produces — an O(1) driver materialization, so the decision
    // boundary is exact at ANY row count (d_num² · 10⁸ needs ~8 +
    // 2·log₁₀(n_A·n_B) digits, which outgrows DECIMAL(38) past
    // n_A·n_B ≈ 10¹⁵ — the pre-round-10 in-plan comparison's ceiling,
    // now gone; EventTimeSpec gates the boundary at n_A·n_B = 10¹⁸).
    // The d_num/d_den OUTPUT columns remain Long — a reporting
    // contract good to n_A·n_B < 2⁶³, separate from the verdict. The
    // oracle's HUGEINT spelling keeps its own ~10¹⁵ width, irrelevant
    // at oracle scale (sf0.01).
    "evt_ks_drift" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val cnt = halfCounts(s, d)
          .pin() // totals + two prefix passes
        val nn = cnt.agg(sum($"ca").as("n_a"), sum($"cb").as("n_b"))
        val cumA = Relational.globalPrefixSum(s, cnt, Seq($"y"), "ca")
          .withColumnRenamed("psum", "cuma")
        val cum = Relational.globalPrefixSum(s, cumA, Seq($"y"), "cb")
          .withColumnRenamed("psum", "cumb")
        val dev = cum.crossJoin(broadcast(nn))
          .withColumn("dv",
            abs($"n_b".cast(big) * $"cuma".cast(big) -
              $"n_a".cast(big) * $"cumb".cast(big)))
        val r = dev.agg(max(struct($"dv", (-$"y").as("ny"))).as("m"),
            first($"n_a").as("n_a"), first($"n_b").as("n_b"))
          .select($"n_a", $"n_b", $"m.dv".as("dv"),
            (-$"m.ny").as("at_value"))
          .collect()(0) // the single verdict row — O(1) driver rows
        // Empty-corpus guard (evt_runs_test's discipline): the
        // all-null aggregate row over zero events becomes a defined
        // degenerate verdict — nothing observed, nothing rejected —
        // matching the oracle's COALESCE spelling below.
        val out =
          if (r.isNullAt(0)) (0L, 0L, 0L, 0L, 0L, false)
          else {
            val (nA, nB) = (r.getLong(0), r.getLong(1))
            val dNum = BigInt(r.getDecimal(2).toBigInteger)
            (nA, nB, dNum.toLong, nA * nB, r.getLong(3),
              ksReject(nA, nB, dNum))
          }
        Seq(out)
          .toDF("n_a", "n_b", "d_num", "d_den", "at_value",
            "reject_at_05")
      },
      oracle = Some(s"""
        WITH $halfCountsSql,
        cum AS (
          SELECT y, SUM(ca) OVER (ORDER BY y) AS cuma,
                 SUM(cb) OVER (ORDER BY y) AS cumb
          FROM cnt),
        dev AS (
          SELECT y,
                 abs(CAST(n_b AS HUGEINT) * cuma
                   - CAST(n_a AS HUGEINT) * cumb) AS dv
          FROM cum, nn),
        mx AS (SELECT dv, y FROM dev ORDER BY dv DESC, y LIMIT 1)
        SELECT COALESCE(nn.n_a, 0) AS n_a, COALESCE(nn.n_b, 0) AS n_b,
               COALESCE(CAST(mx.dv AS BIGINT), 0) AS d_num,
               COALESCE(nn.n_a * nn.n_b, 0) AS d_den,
               COALESCE(mx.y, 0) AS at_value,
               COALESCE(100000000 * mx.dv * mx.dv >
                 184443561 * CAST(nn.n_a + nn.n_b AS HUGEINT)
                   * (nn.n_a * nn.n_b), FALSE) AS reject_at_05
        FROM nn LEFT JOIN mx ON TRUE""")),

    // ── Mann–Whitney U rank-sum drift (the KS companion) ──
    // KS asks "did the DISTRIBUTION change" (max ECDF gap — sensitive
    // anywhere); Mann–Whitney asks "did one half STOCHASTICALLY
    // DOMINATE" (rank sum — the location-shift test that ignores
    // shape). Same temporal-halves split, same per-value count table:
    // ranks never materialize per row — tied values take MIDRANKS
    // computed at 2× scale off the inclusive cumulative count
    // (mid2 = 2·cum − t + 1, exact integers), the side-A rank sum is
    // ONE aggregate over the value domain with each term
    // ca·mid2 in DECIMAL(38) (r2a ≤ 2n² overflows 64 bits at
    // n ≈ 2·10⁹ rows — decimal in the plan, BigInt past it), and the
    // cumulative count rides [[Relational.globalPrefixSum]] (zero
    // single-task windows). Verdict: [[mwReject]] (driver BigInt over
    // the ONE aggregate row — exact at any scale); the u2_a/d2/tie_t
    // OUTPUT columns are the Long reporting contract, good to
    // n_A·n_B < 2⁶² (KS's d_num discipline). The oracle replays
    // midranks, rank sum, tie term, and the cross-multiplied verdict
    // in HUGEINT.
    "evt_mannwhitney" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val cnt = halfCounts(s, d)
          .withColumn("ct", $"ca" + $"cb")
          .pin() // totals + the prefix pass
        val nn = cnt.agg(sum($"ca").as("n_a"), sum($"cb").as("n_b"))
        val cum = Relational.globalPrefixSum(s, cnt, Seq($"y"), "ct")
        val r = cum
          .agg(
            sum($"ca".cast(big) * (lit(2L) * $"psum" - $"ct" + 1L))
              .as("r2a"),
            sum($"ct".cast(big) * $"ct" * $"ct" - $"ct").as("tie_t"))
          .crossJoin(broadcast(nn))
          .collect()(0) // the single verdict row — O(1) driver rows
        // Empty-corpus guard (evt_runs_test's discipline): zero
        // events → all-null aggregates → a defined degenerate row,
        // mirrored by the oracle's COALESCE spelling below.
        val out =
          if (r.isNullAt(2)) (0L, 0L, 0L, 0L, 0L, false)
          else {
            val r2a = BigInt(r.getDecimal(0).toBigInteger)
            val tieT = BigInt(r.getDecimal(1).toBigInteger)
            val (nA, nB) = (r.getLong(2), r.getLong(3))
            val u2a = r2a - BigInt(nA) * (nA + 1)
            val d2 = u2a - BigInt(nA) * nB
            (nA, nB, u2a.toLong, d2.toLong, tieT.toLong,
              mwReject(nA, nB, d2, tieT))
          }
        Seq(out)
          .toDF("n_a", "n_b", "u2_a", "d2", "tie_t", "reject_at_05")
      },
      oracle = Some(s"""
        WITH $halfCountsSql,
        cum AS (
          SELECT y, ca, cb, ca + cb AS ct,
                 SUM(ca + cb) OVER (ORDER BY y) AS cumt
          FROM cnt),
        ag AS (
          SELECT SUM(CAST(ca AS HUGEINT) * (2 * cumt - ct + 1)) AS r2a,
                 SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS tie_t
          FROM cum),
        fin AS (
          SELECT nn.n_a, nn.n_b, nn.n_a + nn.n_b AS n,
                 ag.r2a - CAST(nn.n_a AS HUGEINT) * (nn.n_a + 1)
                   - CAST(nn.n_a AS HUGEINT) * nn.n_b AS d2,
                 ag.r2a - CAST(nn.n_a AS HUGEINT) * (nn.n_a + 1) AS u2a,
                 ag.tie_t
          FROM nn, ag)
        SELECT COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
               COALESCE(CAST(u2a AS BIGINT), 0) AS u2_a,
               COALESCE(CAST(d2 AS BIGINT), 0) AS d2,
               COALESCE(CAST(tie_t AS BIGINT), 0) AS tie_t,
               COALESCE(7500 * d2 * d2 * CAST(n AS HUGEINT) * (n - 1)
                 > 9604 * CAST(n_a AS HUGEINT) * n_b
                   * ((CAST(n AS HUGEINT) * n * n - n) - tie_t),
                 FALSE) AS reject_at_05
        FROM fin""")),

    // ── Kruskal–Wallis rank test (the k-SAMPLE nonparametric) ──
    // Completes the quartet: KS (two-sample distribution), MW (two-
    // sample location), Wilcoxon (paired) — KW answers "did the cents
    // distribution differ across the THREE temporal thirds", the
    // one-way-ANOVA-without-normality a drift dashboard asks of k
    // cohorts. Same machinery as MW end to end: tied values take
    // doubled midranks off the inclusive cumulative (2·cum − t + 1,
    // riding [[Relational.globalPrefixSum]] over the value domain —
    // ranks never materialize per row), the three rank sums and the
    // tie term are ONE DECIMAL(38) aggregate row, and the verdict is
    // [[kwVerdict]] driver BigInt: the tie-corrected H = 3X(n−1)/(DY)
    // cross-multiplied against the 2·ln 20 micro literal (exact χ² at
    // df = 2 — the tail is e^(−x/2), no table) — exact at any event
    // count, no division in the decision. k is FIXED at 3 so the
    // critical value is a compile-time literal, spec-gated against
    // the true constant. Output Longs are the MW reporting contract;
    // degenerate inputs (an empty third, all values tied) report
    // (0, false) identically in both engines.
    "evt_kruskal" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val cnt = dayCents(s, d)
          .withColumn("grp",
            expr("least(2, ((day - d0) * 3) div (d1 - d0 + 1))"))
          .groupBy($"y")
          .agg(sum(when($"grp" === 0, 1L).otherwise(0L)).as("c0"),
            sum(when($"grp" === 1, 1L).otherwise(0L)).as("c1"),
            sum(when($"grp" === 2, 1L).otherwise(0L)).as("c2"))
          .withColumn("ct", $"c0" + $"c1" + $"c2")
          .pin() // totals + the prefix pass
        val cum = Relational.globalPrefixSum(s, cnt, Seq($"y"), "ct")
        val mid2 = lit(2L) * $"psum" - $"ct" + 1L
        val r = cum
          .agg(
            sum($"c0").as("n_0"), sum($"c1").as("n_1"),
            sum($"c2").as("n_2"),
            sum($"c0".cast(big) * mid2).as("r2_0"),
            sum($"c1".cast(big) * mid2).as("r2_1"),
            sum($"c2".cast(big) * mid2).as("r2_2"),
            sum($"ct".cast(big) * $"ct" * $"ct" - $"ct").as("tie_t"))
          .collect()(0) // the single verdict row — O(1) driver rows
        val out =
          if (r.isNullAt(0)) (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, false)
          else {
            val (n0, n1, n2) = (r.getLong(0), r.getLong(1), r.getLong(2))
            val r2 = (3 to 5).map(i => BigInt(r.getDecimal(i).toBigInteger))
            val tieT = BigInt(r.getDecimal(6).toBigInteger)
            val (hMicro, rej) =
              kwVerdict(n0, n1, n2, r2(0), r2(1), r2(2), tieT)
            (n0, n1, n2, r2(0).toLong, r2(1).toLong, r2(2).toLong,
              tieT.toLong, hMicro, rej)
          }
        Seq(out).toDF("n_0", "n_1", "n_2", "r2_0", "r2_1", "r2_2",
          "tie_t", "h_micro", "reject_at_05")
      },
      oracle = Some(s"""
        WITH $dayCentsSql,
        cnt AS (
          SELECT y,
                 CAST(COUNT(*) FILTER (
                   LEAST(2, ((day - d0) * 3) // (d1 - d0 + 1)) = 0)
                   AS BIGINT) AS c0,
                 CAST(COUNT(*) FILTER (
                   LEAST(2, ((day - d0) * 3) // (d1 - d0 + 1)) = 1)
                   AS BIGINT) AS c1,
                 CAST(COUNT(*) FILTER (
                   LEAST(2, ((day - d0) * 3) // (d1 - d0 + 1)) = 2)
                   AS BIGINT) AS c2
          FROM ev, rng GROUP BY y),
        cum AS (
          SELECT y, c0, c1, c2, c0 + c1 + c2 AS ct,
                 SUM(c0 + c1 + c2) OVER (ORDER BY y) AS cumt
          FROM cnt),
        ag AS (
          SELECT CAST(SUM(c0) AS BIGINT) AS n0,
                 CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2,
                 SUM(CAST(c0 AS HUGEINT) * (2 * cumt - ct + 1)) AS r2_0,
                 SUM(CAST(c1 AS HUGEINT) * (2 * cumt - ct + 1)) AS r2_1,
                 SUM(CAST(c2 AS HUGEINT) * (2 * cumt - ct + 1)) AS r2_2,
                 SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS tie_t
          FROM cum),
        fin AS (
          SELECT n0, n1, n2, r2_0, r2_1, r2_2, tie_t,
                 CAST(n0 + n1 + n2 AS HUGEINT) AS n,
                 CAST(n0 AS HUGEINT) * n1 * n2 AS dd,
                 r2_0 * r2_0 * n1 * n2 + r2_1 * r2_1 * n0 * n2
                   + r2_2 * r2_2 * n0 * n1 AS s
          FROM ag),
        vd AS (
          SELECT n0, n1, n2, r2_0, r2_1, r2_2, tie_t,
                 n0 > 0 AND n1 > 0 AND n2 > 0
                   AND n * n * n - n - tie_t > 0 AS valid,
                 3000000 * (s - dd * n * (n + 1) * (n + 1)) * (n - 1)
                   AS hnum,
                 dd * (n * n * n - n - tie_t) AS hden
          FROM fin)
        SELECT COALESCE(n0, 0) AS n_0, COALESCE(n1, 0) AS n_1,
               COALESCE(n2, 0) AS n_2,
               COALESCE(CAST(r2_0 AS BIGINT), 0) AS r2_0,
               COALESCE(CAST(r2_1 AS BIGINT), 0) AS r2_1,
               COALESCE(CAST(r2_2 AS BIGINT), 0) AS r2_2,
               COALESCE(CAST(tie_t AS BIGINT), 0) AS tie_t,
               CASE WHEN COALESCE(valid, FALSE)
                    THEN CAST(hnum // hden AS BIGINT) ELSE 0 END AS h_micro,
               COALESCE(valid, FALSE)
                 AND hnum > $KwCritMicro * hden AS reject_at_05
        FROM vd""")),

    // ── Spearman rank correlation (monotone association) ──
    // Pearson's r (q_corr_manual, evt_autocorr) measures LINEAR
    // association and one outlier day owns it; Spearman's ρ on ranks
    // is the robust monotone version — the standard first question
    // between two operational series ("does activity drive revenue,
    // monotonically?"), here between daily event count and daily
    // cents volume. Ties take DOUBLED midranks (2·cum − t + 1) off
    // [[Relational.globalPrefixSum]] over each value domain — ranks
    // never sort in a single task, and the 2× scale cancels in the
    // correlation. Moments are ONE exact DECIMAL(38) aggregate row;
    // ρ is the evt_autocorr double-discipline — exact integers cast
    // to DOUBLE once, then an IDENTICAL IEEE chain (one multiply, one
    // sqrt, one divide) in both engines, zero-variance guarded. The
    // integer outputs are the MW Long reporting contract (exact to
    // ~5·10⁴ days — 137 years of daily series; the driver BigInt
    // itself is unbounded).
    "evt_spearman" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val daily = Tables.events(s, d)
          .select(expr(s"(ts div 1000) div $DayUs").as("day"),
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .groupBy($"day")
          .agg(count(lit(1)).as("x"), sum($"cents").as("yv"))
          .pin() // two rank passes + the join
        def ranks(keyCol: String,
            outCol: String): org.apache.spark.sql.DataFrame = {
          val cnt = daily.groupBy(col(keyCol)).agg(count(lit(1)).as("t"))
          Relational.globalPrefixSum(s, cnt, Seq(col(keyCol)), "t")
            .select(col(keyCol), (lit(2L) * $"psum" - $"t" + 1L).as(outCol))
        }
        val ranked = daily
          .join(ranks("x", "rx2"), Seq("x"))
          .join(ranks("yv", "ry2"), Seq("yv"))
        val m = ranked.agg(
            count(lit(1)).as("n"),
            sum($"rx2".cast(big)).as("sx"),
            sum($"ry2".cast(big)).as("sy"),
            sum($"rx2".cast(big) * $"rx2").as("sxx"),
            sum($"ry2".cast(big) * $"ry2").as("syy"),
            sum($"rx2".cast(big) * $"ry2").as("sxy"))
          .collect()(0) // the single moment row — O(1) driver rows
        val out =
          if (m.getLong(0) == 0L) (0L, 0L, 0L, 0L, 0.0)
          else {
            val n = m.getLong(0)
            val mom = (1 to 5).map(i => BigInt(m.getDecimal(i).toBigInteger))
            val (sx, sy, sxx, syy, sxy) =
              (mom(0), mom(1), mom(2), mom(3), mom(4))
            val num = BigInt(n) * sxy - sx * sy
            val vx = BigInt(n) * sxx - sx * sx
            val vy = BigInt(n) * syy - sy * sy
            val rho =
              if (vx == 0 || vy == 0) 0.0
              else num.toDouble / math.sqrt(vx.toDouble * vy.toDouble)
            (n, num.toLong, vx.toLong, vy.toLong, rho)
          }
        Seq(out).toDF("n_days", "num_xy", "var2_x", "var2_y", "rho")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM events),
        daily AS (
          SELECT day, CAST(COUNT(*) AS BIGINT) AS x,
                 CAST(SUM(cents) AS BIGINT) AS yv
          FROM ev GROUP BY day),
        cx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS t
               FROM daily GROUP BY x),
        rx AS (SELECT x, 2 * SUM(t) OVER (ORDER BY x) - t + 1 AS rx2
               FROM cx),
        cy AS (SELECT yv, CAST(COUNT(*) AS BIGINT) AS t
               FROM daily GROUP BY yv),
        ry AS (SELECT yv, 2 * SUM(t) OVER (ORDER BY yv) - t + 1 AS ry2
               FROM cy),
        j AS (
          SELECT rx.rx2, ry.ry2
          FROM daily d JOIN rx USING (x) JOIN ry USING (yv)),
        m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(rx2 AS HUGEINT)) AS sx,
                 SUM(CAST(ry2 AS HUGEINT)) AS sy,
                 SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
                 SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy,
                 SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy
          FROM j),
        fin AS (
          SELECT n, n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS vx,
                 n * syy - sy * sy AS vy
          FROM m)
        SELECT COALESCE(n, 0) AS n_days,
               COALESCE(CAST(num AS BIGINT), 0) AS num_xy,
               COALESCE(CAST(vx AS BIGINT), 0) AS var2_x,
               COALESCE(CAST(vy AS BIGINT), 0) AS var2_y,
               CASE WHEN COALESCE(vx, 0) = 0 OR COALESCE(vy, 0) = 0
                    THEN 0.0
                    ELSE CAST(num AS DOUBLE)
                      / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))
               END AS rho
        FROM fin""")),

    // ── Kendall's tau-b (concordance, by distributed inversions) ──
    // Spearman correlates the RANKS; Kendall counts the PAIRS — tau
    // is the probability a random user pair orders the same way on
    // activity (event count) and on spend (cents volume), minus the
    // probability it orders oppositely: the association measure whose
    // value is a pair-level statement, robust to any monotone
    // transform, with tie corrections that are exact counts rather
    // than midrank adjustments (Kendall 1938; tau-b per Kendall 1945).
    // The naive form is the quadratic pair join — exactly what the
    // oracle runs, and exactly what cannot run at 10⁹ subjects. Here
    // discordance D is an INVERSION COUNT: sort subjects by
    // (x, yv, id) — x-tied pairs sit yv-ascending so they count zero,
    // yv-tied pairs count zero by strictness — and D = inversions of
    // the yv sequence, via [[Relational.inversionCount]]'s three-way
    // split (per-partition Fenwick passes + a driver band matrix +
    // band-local cross sweeps; O(n log n) work, driver rows bounded by
    // partitions·bands). The tie terms n1/n2/n3 are map-side-combined
    // group counts; C is then pair-space arithmetic, every count exact
    // BigInt on the driver. tau_b casts the exact integers to DOUBLE
    // once through the same IEEE chain as the oracle (one multiply,
    // one sqrt, one divide — the evt_spearman discipline).
    "evt_kendall" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val perUser = Tables.events(s, d)
          .select($"user_id",
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("x"), sum($"cents").as("yv"))
          .pin() // tie aggregates + the inversion pass
        def tiePairs(cols: Seq[org.apache.spark.sql.Column]): BigInt = {
          val r = perUser.groupBy(cols: _*)
            .agg(count(lit(1)).as("t"))
            .agg(sum(expr("t * (t - 1) div 2")).as("tp"))
            .collect()(0)
          if (r.isNullAt(0)) BigInt(0) else BigInt(r.getLong(0))
        }
        val n = perUser.count()
        val out =
          if (n == 0L) (0L, 0L, 0L, 0L, 0L, 0L, 0.0)
          else {
            val n0 = BigInt(n) * (n - 1) / 2
            val n1 = tiePairs(Seq($"x"))
            val n2 = tiePairs(Seq($"yv"))
            val n3 = tiePairs(Seq($"x", $"yv"))
            val dI = Relational.inversionCount(s, perUser,
              Seq($"x", $"yv", $"user_id"))
            val cI = n0 - n1 - n2 + n3 - dI
            val denx = n0 - n1
            val deny = n0 - n2
            val tau =
              if (denx == 0 || deny == 0) 0.0
              else BigDecimal((cI - dI).toDouble /
                math.sqrt(denx.toDouble * deny.toDouble))
                .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
            (n, cI.toLong, dI.toLong, n1.toLong, n2.toLong, n3.toLong, tau)
          }
        Seq(out).toDF("n_users", "conc", "disc",
          "ties_x", "ties_y", "ties_xy", "tau_b")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM events),
        u AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
                 CAST(SUM(cents) AS BIGINT) AS yv
          FROM ev GROUP BY user_id),
        p AS (
          SELECT a.x AS xa, a.yv AS ya, b.x AS xb, b.yv AS yb
          FROM u a JOIN u b ON a.user_id < b.user_id),
        m AS (
          SELECT
            CAST(COUNT(*) AS BIGINT) AS n0,
            CAST(COUNT(*) FILTER ((xa < xb AND ya < yb)
              OR (xa > xb AND ya > yb)) AS BIGINT) AS conc,
            CAST(COUNT(*) FILTER ((xa < xb AND ya > yb)
              OR (xa > xb AND ya < yb)) AS BIGINT) AS disc,
            CAST(COUNT(*) FILTER (xa = xb) AS BIGINT) AS ties_x,
            CAST(COUNT(*) FILTER (ya = yb) AS BIGINT) AS ties_y,
            CAST(COUNT(*) FILTER (xa = xb AND ya = yb) AS BIGINT)
              AS ties_xy
          FROM p),
        c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u)
        SELECT n AS n_users, conc, disc, ties_x, ties_y, ties_xy,
          CASE WHEN n0 - ties_x = 0 OR n0 - ties_y = 0 THEN 0.0
               ELSE round(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(n0 - ties_x AS DOUBLE)
                        * CAST(n0 - ties_y AS DOUBLE)), 12)
          END AS tau_b
        FROM m, c""")),

    // ── exact higher moments: skewness and excess kurtosis ──
    // The distribution-SHAPE census behind every "is this metric
    // healthy" judgment: variance says how wide, g1 says how lopsided
    // (revenue-grade data is strongly right-skewed), g2 says how
    // heavy the tails run versus a Gaussian — the first screen before
    // choosing between mean-based and rank-based monitoring. ONE
    // map-side-combined aggregate row of raw power sums Σx..Σx⁴ in
    // DECIMAL(38) (exact: cents⁴ ≈ 10¹⁷/row leaves ~10²¹ rows of
    // headroom), then the central-moment identities on the driver in
    // unbounded BigInt — M2 = nS2−S1², M3 = n²S3−3nS1S2+2S1³,
    // M4 = n³S4−4n²S1S3+6nS1²S2−3S1⁴ — where the n-powers all cancel:
    // g1 = M3/M2^{3/2}, g2 = M4/M2²−3, no divide-by-n anywhere, so
    // the only doubles are the final casts through the same IEEE
    // chain as the oracle (multiply, sqrt, divide — the evt_spearman
    // discipline). Zero-variance and empty inputs yield the defined
    // degenerate row. Scale shape: nothing but the one aggregate
    // crosses the shuffle, at 10¹² events same as 10⁴.
    "evt_moments" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val m = Tables.events(s, d)
          .select(expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            .as("x"))
          .agg(count(lit(1)).as("n"),
            sum($"x".cast(big)).as("s1"),
            sum($"x".cast(big) * $"x").as("s2"),
            sum($"x".cast(big) * $"x" * $"x").as("s3"),
            sum($"x".cast(big) * $"x" * $"x" * $"x").as("s4"))
          .collect()(0) // the single moment row — O(1) driver rows
        val out =
          if (m.getLong(0) == 0L) (0L, 0L, 0L, 0.0, 0.0)
          else {
            val n = BigInt(m.getLong(0))
            val Seq(s1, s2, s3, s4) =
              (1 to 4).map(i => BigInt(m.getDecimal(i).toBigInteger))
            val m2 = n * s2 - s1 * s1
            val m3 = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
            val m4 = n * n * n * s4 - 4 * n * n * s1 * s3 +
              6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
            def r12(x: Double) = BigDecimal(x).setScale(12,
              BigDecimal.RoundingMode.HALF_UP).toDouble
            val (g1, g2) =
              if (m2 == 0) (0.0, 0.0)
              else (r12(m3.toDouble / (m2.toDouble * math.sqrt(m2.toDouble))),
                r12(m4.toDouble / (m2.toDouble * m2.toDouble) - 3.0))
            (n.toLong, s1.toLong, s2.toLong, g1, g2)
          }
        Seq(out).toDF("n_events", "sum_cents", "sum_sq",
          "skew_g1", "kurt_g2")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
          FROM events),
        m AS (
          SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 COALESCE(SUM(CAST(x AS HUGEINT)), 0) AS s1,
                 COALESCE(SUM(CAST(x AS HUGEINT) * x), 0) AS s2
          FROM ev),
        -- central moments are shift-invariant, so re-aggregate about
        -- the integer mean: the shifted power sums t_k carry the
        -- DEVIATION scale, not the raw-value scale, which removes the
        -- s1^4-magnitude terms that overflow HUGEINT (~1.7e38) once
        -- total cents pass ~1e10 — the Spark side's unbounded BigInt
        -- needs no such care, and the identities below are EXACTLY
        -- the raw-sum ones (any integer shift gives the same m2/m3/m4)
        sh AS (
          SELECT n, s1, s2,
                 CASE WHEN n = 0 THEN CAST(0 AS HUGEINT)
                      ELSE s1 // n END AS cs
          FROM m),
        t AS (
          SELECT n, s1, s2,
            COALESCE(SUM(CAST(x AS HUGEINT) - cs), 0) AS t1,
            COALESCE(SUM((CAST(x AS HUGEINT) - cs)
              * (CAST(x AS HUGEINT) - cs)), 0) AS t2,
            COALESCE(SUM((CAST(x AS HUGEINT) - cs)
              * (CAST(x AS HUGEINT) - cs)
              * (CAST(x AS HUGEINT) - cs)), 0) AS t3,
            COALESCE(SUM((CAST(x AS HUGEINT) - cs)
              * (CAST(x AS HUGEINT) - cs)
              * (CAST(x AS HUGEINT) - cs)
              * (CAST(x AS HUGEINT) - cs)), 0) AS t4
          FROM ev, sh GROUP BY n, s1, s2, cs),
        c AS (
          SELECT n, s1, s2,
                 n * t2 - t1 * t1 AS m2,
                 n * n * t3 - 3 * n * t1 * t2 + 2 * t1 * t1 * t1 AS m3,
                 n * n * n * t4 - 4 * n * n * t1 * t3
                   + 6 * n * t1 * t1 * t2
                   - 3 * t1 * t1 * t1 * t1 AS m4
          FROM t
          UNION ALL
          SELECT n, s1, s2, CAST(0 AS HUGEINT), CAST(0 AS HUGEINT),
                 CAST(0 AS HUGEINT)
          FROM m WHERE n = 0)
        SELECT CAST(n AS BIGINT) AS n_events,
               CAST(s1 AS BIGINT) AS sum_cents,
               CAST(s2 AS BIGINT) AS sum_sq,
               CASE WHEN m2 = 0 THEN 0.0
                    ELSE round(CAST(m3 AS DOUBLE)
                      / (CAST(m2 AS DOUBLE) * sqrt(CAST(m2 AS DOUBLE))), 12)
               END AS skew_g1,
               CASE WHEN m2 = 0 THEN 0.0
                    ELSE round(CAST(m4 AS DOUBLE)
                      / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3.0, 12)
               END AS kurt_g2
        FROM c""")),

    // ── OHLC resample (open-high-low-close candles) ──
    // The finance-native downsample every monitoring stack reuses:
    // per day the FIRST value, the extremes, and the LAST value —
    // open/close are position statements, not extremes, which is what
    // makes this more than a min/max groupBy. First/last ride ONE
    // map-side-combined aggregate as struct-min/struct-max over the
    // unique (ts_us, event_id) key with the value along for the ride
    // (the labelPropagate arg-max discipline: a total order makes
    // first-by-time a MIN, no window, no sort) — so the whole candle
    // table is a single groupBy(day) pass, mergeable across any
    // partitioning, at 10¹² events exactly as at 10⁴. The oracle
    // replays the same struct extremes field for field.
    "evt_ohlc" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select(expr(s"(ts div 1000) div $DayUs").as("day"),
            expr("ts div 1000").as("tu"), $"event_id",
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("c"))
          .groupBy($"day")
          .agg(
            min(struct($"tu", $"event_id", $"c")).getField("c")
              .as("open_c"),
            max(struct($"tu", $"event_id", $"c")).getField("c")
              .as("close_c"),
            max($"c").as("high_c"),
            min($"c").as("low_c"),
            count(lit(1)).as("n_events"))
          .orderBy($"day")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // $DayUs AS day, epoch_us(ts) AS tu,
                 event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM events)
        SELECT day,
          (min({'t': tu, 'e': event_id, 'c': c})).c AS open_c,
          (max({'t': tu, 'e': event_id, 'c': c})).c AS close_c,
          max(c) AS high_c,
          min(c) AS low_c,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM ev GROUP BY day ORDER BY day""")),

    // ── lagged cross-correlation (does activity LEAD revenue?) ──
    // evt_autocorr asks whether a series remembers ITSELF;
    // cross-correlation at lag k asks whether one series PREDICTS
    // another — corr(errors_{t−k}, cents_t) for k = 0..3, the
    // lead-lag screen behind "do error spikes depress tomorrow's
    // volume". Same discipline as evt_autocorr: ONE corpus-sized
    // groupBy(day) builds both series in one pass (conditional count
    // + sum on the same row), the per-lag pairing is a series-sized
    // self-join (days, not events), moments are exact DECIMAL(38)
    // sums cast to DOUBLE once, and the correlation runs through the
    // identical IEEE chain in both engines, zero-variance guarded
    // via NULLIF. Lag 0 doubles as the plain Pearson between the
    // two daily series.
    "evt_cross_corr" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val daily = Tables.events(s, d)
          .select(expr(s"(ts div 1000) div $DayUs").as("day"),
            when($"event_type" === "error", 1L).otherwise(0L).as("e"),
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("c"))
          .groupBy($"day")
          .agg(sum($"e").as("xc"), sum($"c").as("yv"))
          .pin() // all four lag self-joins read it
        lagMoments(daily, "xc", "yv", Seq(0L, 1L, 2L, 3L))
          .select($"lag", $"n_pairs",
            // round(12): the q_corr_manual FMA-knife-edge hardening
            round(lagPearson, 12).as("crosscorr"))
          .orderBy($"lag")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS e,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM events),
        daily AS (
          SELECT day, CAST(SUM(e) AS BIGINT) AS xc,
                 CAST(SUM(c) AS BIGINT) AS yv
          FROM ev GROUP BY day),
        pairs AS (
          SELECT k.lag, b.xc AS x, a.yv AS yy
          FROM (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)),
                       (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT))) k(lag)
          JOIN daily a ON true
          JOIN daily b ON a.day = b.day + k.lag),
        $lagMomentsSql
        SELECT lag, n_pairs,
               round($lagPearsonSql, 12) AS crosscorr
        FROM m ORDER BY lag""")),

    // ── SAX symbolization (PAA + exact-quantile alphabet) ──
    // The series-to-string bridge (Lin/Keogh 2003): aggregate the
    // stream into fixed 6-hour segments (the Piecewise Aggregate
    // Approximation, one corpus-sized map-side-combined groupBy —
    // exact segment SUMS, no float means), cut the segment
    // distribution at its exact quartiles, and spell each day as a
    // 4-symbol word over {a,b,c,d} — after which motif discovery,
    // anomaly grep, and similarity all become STRING problems on a
    // table thousands of times smaller than the events. Breakpoints
    // ride [[Relational.selectKthCents]] (the bounded-driver exact
    // order statistic — never a single-task sort, ≤ B+1 driver rows
    // per histogram pass) with the same k = ceil(p·n/100) contract
    // the oracle replays by row_number; the day word assembles as a
    // map-side collect_list sorted by slot — deterministic without a
    // window. Classic SAX z-normalizes with Gaussian breakpoints;
    // data-derived exact quantiles are the distribution-free variant
    // and keep both engines in integers until the symbols.
    "evt_sax" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val segUs = 6L * HourUs
        val seg = Tables.events(s, d)
          .select(expr(s"(ts div 1000) div $segUs").as("seg"),
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("c"))
          .groupBy($"seg").agg(sum($"c").as("cents"))
          .pin() // breakpoint passes + the symbol scan
        if (seg.isEmpty)
          Seq.empty[(Long, String, Long, Long)]
            .toDF("day", "sax", "n_segs", "day_cents")
        else {
          val bp = Relational.selectKthCents(
              seg.select($"cents"), Seq(25L, 50L, 75L), W = 1000000L)
            .select($"p", $"value_cents").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          seg
            .withColumn("sym",
              when($"cents" < bp(25L), "a")
                .when($"cents" < bp(50L), "b")
                .when($"cents" < bp(75L), "c")
                .otherwise("d"))
            .select(expr("seg div 4").as("day"),
              expr("seg % 4").as("slot"), $"sym", $"cents")
            .groupBy($"day")
            .agg(
              array_join(expr("transform(array_sort(" +
                "collect_list(struct(slot, sym))), x -> x.sym)"), "")
                .as("sax"),
              count(lit(1)).as("n_segs"),
              sum($"cents").as("day_cents"))
            .orderBy($"day")
        }
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // ${6L * HourUs} AS seg,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM events),
        seg AS (
          SELECT seg, CAST(SUM(c) AS BIGINT) AS cents
          FROM ev GROUP BY seg),
        nn AS (SELECT COUNT(*) AS n FROM seg),
        ks AS (
          SELECT p, (p * n + 99) // 100 AS k
          FROM (VALUES (25), (50), (75)) t(p), nn),
        ranked AS (
          SELECT cents, row_number() OVER (ORDER BY cents) AS rn
          FROM seg),
        bp AS (
          SELECT MAX(CASE WHEN p = 25 THEN cents END) AS q25,
                 MAX(CASE WHEN p = 50 THEN cents END) AS q50,
                 MAX(CASE WHEN p = 75 THEN cents END) AS q75
          FROM ks JOIN ranked ON ranked.rn = ks.k),
        sym AS (
          SELECT seg.seg, seg.cents,
                 CASE WHEN cents < q25 THEN 'a'
                      WHEN cents < q50 THEN 'b'
                      WHEN cents < q75 THEN 'c'
                      ELSE 'd' END AS sym
          FROM seg, bp),
        w AS (
          SELECT seg // 4 AS day, seg % 4 AS slot, sym, cents
          FROM sym)
        SELECT day, string_agg(sym, '' ORDER BY slot) AS sax,
               CAST(COUNT(*) AS BIGINT) AS n_segs,
               CAST(SUM(cents) AS BIGINT) AS day_cents
        FROM w GROUP BY day ORDER BY day""")),

    // ── Hill tail-index estimator (how heavy is the tail?) ──
    // evt_moments says the tail is heavy (kurtosis); Hill (1975) says
    // HOW heavy — the power-law exponent α of P(X > x) ~ x^(−α),
    // which decides whether means/variances even exist and how to
    // size risk reserves. Estimated from the top k+1 = 101 order
    // statistics: 1/α = (1/k)·Σ ln(x_i / x_(k+1)) — since ln of the
    // minimum contributes zero, the tie-free formulation is
    // Σ ln(x_i) − m·ln(x_(k+1)) over ALL m collected rows, so
    // boundary ties need no instance accounting. The top-101 is a
    // TakeOrdered (per-partition top-k then merge — never a global
    // sort); each ln is quantized to 6 digits before the DECIMAL sum
    // (the unigram-surprisal idiom), then ONE identical double chain
    // in both engines. Empty/degenerate inputs yield the defined
    // zero row.
    "evt_hill_tail" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val top = Tables.events(s, d)
          .select(expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            .as("c"))
          .filter($"c" > 0L)
          .orderBy($"c".desc)
          .limit(101)
          .pin() // the one aggregate below reads it
        top.agg(
            count(lit(1)).as("m"),
            coalesce(min($"c"), lit(0L)).as("xk1_cents"),
            coalesce(sum(round(log($"c".cast(DoubleType)), 6)
              .cast(DecimalType(20, 6))).cast(DecimalType(27, 6)),
              lit(BigDecimal(0)).cast(DecimalType(27, 6))).as("sln"))
          .withColumn("hill_inv",
            when($"m" <= 1L, 0.0).otherwise(
              round(($"sln".cast(DoubleType) -
                $"m" * round(log($"xk1_cents".cast(DoubleType)), 6)) /
                ($"m" - 1L), 12)))
          .withColumn("alpha",
            when($"hill_inv" > 0.0, round(lit(1.0) / $"hill_inv", 12))
              .otherwise(0.0))
          .select(($"m" - when($"m" > 0L, 1L).otherwise(0L)).as("k"),
            $"xk1_cents", $"hill_inv", $"alpha")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM events WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100
            AS BIGINT) > 0),
        top AS (SELECT c FROM ev ORDER BY c DESC LIMIT 101),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 COALESCE(MIN(c), 0) AS xk1,
                 COALESCE(SUM(CAST(round(ln(CAST(c AS DOUBLE)), 6)
                   AS DECIMAL(20,6)))::DECIMAL(27,6),
                   0::DECIMAL(27,6)) AS sln
          FROM top),
        h AS (
          SELECT m, xk1, sln,
                 CASE WHEN m <= 1 THEN 0.0
                      ELSE round((CAST(sln AS DOUBLE)
                        - m * round(ln(CAST(xk1 AS DOUBLE)), 6))
                        / (m - 1), 12)
                 END AS hill_inv
          FROM a)
        SELECT m - CASE WHEN m > 0 THEN 1 ELSE 0 END AS k,
               CAST(xk1 AS BIGINT) AS xk1_cents, hill_inv,
               CASE WHEN hill_inv > 0.0 THEN round(1.0 / hill_inv, 12)
                    ELSE 0.0 END AS alpha
        FROM h""")),

    // ── exponentially-decayed engagement sum (EXACT dyadic weights) ──
    // The recency-weighted score every ranking/engagement system
    // keeps: value decayed by half per day of age. With a 1-day
    // half-life the weight 2^(−age) is DYADIC, so the whole aggregate
    // is exact integer arithmetic — each event contributes
    // c·2^(30−age) and the per-user sum carries denominator 2^30,
    // no float decay drift, engine-identical at any corpus size (the
    // 30-bit base covers a 30-day horizon; ages beyond it clamp to
    // weight ZERO in both engines — enforced in the plan, since the
    // JVM would otherwise mask the negative shift count into 2^63
    // garbage). ONE map-side-combined groupBy(user) after a broadcast
    // 1-row max-day — at 10¹² events nothing but per-user partials
    // cross the shuffle, the evt_trend_ols altitude.
    "evt_decay_sum" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"user_id",
            expr(s"(ts div 1000) div $DayUs").as("day"),
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("c"))
          .pin() // the max-day scalar + the main sum
        val mx = ev.agg(max($"day").as("maxd"))
        ev.crossJoin(broadcast(mx))
          .select($"user_id", $"c", ($"maxd" - $"day").as("d"))
          .groupBy($"user_id")
          // ages past the 30-day horizon clamp to weight ZERO (not a
          // comment-only contract: the JVM masks negative shift counts,
          // so an unguarded 1<<(30-d) at d=31 silently yields 2^63)
          .agg(count(lit(1)).as("n_events"),
            sum(expr("cast(c as decimal(38,0)) * (case when d > 30 " +
              "then cast(0 as bigint) else " +
              "shiftleft(cast(1 as bigint), cast(30 - d as int)) end)"))
              .as("num"))
          .select($"user_id", $"n_events",
            $"num".cast(LongType).as("decayed_num"),
            expr("cast(num div 1073741824 as bigint)")
              .as("decayed_floor_cents"))
          .orderBy($"user_id")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // $DayUs AS day,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM events),
        mx AS (SELECT MAX(day) AS maxd FROM ev),
        w AS (
          SELECT user_id, c, CAST(maxd - day AS BIGINT) AS d
          FROM ev, mx),
        s AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                 SUM(CAST(c AS HUGEINT)
                   * (CASE WHEN d > 30 THEN CAST(0 AS HUGEINT)
                      ELSE CAST(1 AS HUGEINT) << CAST(30 - d AS INT)
                      END)) AS num
          FROM w GROUP BY user_id)
        SELECT user_id, n_events,
               CAST(num AS BIGINT) AS decayed_num,
               CAST(num // 1073741824 AS BIGINT) AS decayed_floor_cents
        FROM s ORDER BY user_id""")),

    // ── Fano factor (burstiness/dispersion screen, exact rational) ──
    // Before any burst detector runs, the screening question is
    // whether arrivals even DEVIATE from Poisson: the index of
    // dispersion F = var/mean of per-hour counts is 1 for a Poisson
    // process, >1 for bursty (clumped) traffic, <1 for regular
    // (rate-limited) traffic. Per event type over the corpus's full
    // hour span H (silent hours count as zero — they contribute
    // nothing to either sum, so observed bins suffice):
    // F = (H·Σc² − N²)/(H·N), an exact nonnegative rational
    // (Cauchy–Schwarz keeps the numerator ≥ 0, so floor and truncate
    // agree across engines) emitted in floor-ppm with the verdict as
    // an integer cross-comparison. ONE (type, hour) map-side-combined
    // count + ONE per-type rollup + a broadcast 1-row span — at 10¹²
    // events only (type, hour) partials cross the shuffle.
    "evt_fano" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"event_type",
            expr(s"(ts div 1000) div $HourUs").as("hr"))
          .pin() // the span scalar + the bin counts
        val rng = ev.agg((max($"hr") - min($"hr") + 1L).as("h"))
        ev.groupBy($"event_type", $"hr")
          .agg(count(lit(1)).as("c"))
          .groupBy($"event_type")
          .agg(sum($"c").as("n"),
            sum($"c" * $"c").as("s2"),
            count(lit(1)).as("n_active"))
          .crossJoin(broadcast(rng))
          .select($"event_type", $"n", $"n_active",
            expr("""cast((cast(h as decimal(38,0)) * s2
                     - cast(n as decimal(38,0)) * n) * 1000000
                    div (cast(h as decimal(38,0)) * n) as bigint)""")
              .as("fano_ppm"),
            expr("""cast(h as decimal(38,0)) * s2
                    - cast(n as decimal(38,0)) * n
                    > cast(h as decimal(38,0)) * n""").as("overdispersed"))
          .orderBy($"event_type")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) // $HourUs AS hr FROM events),
        rng AS (SELECT MAX(hr) - MIN(hr) + 1 AS h FROM ev),
        c AS (
          SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS c
          FROM ev GROUP BY event_type, hr),
        t AS (
          SELECT event_type,
                 CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(c * c) AS BIGINT) AS s2,
                 CAST(COUNT(*) AS BIGINT) AS n_active
          FROM c GROUP BY event_type)
        SELECT event_type, n, n_active,
               CAST((CAST(h AS HUGEINT) * s2 - CAST(n AS HUGEINT) * n)
                 * 1000000 // (CAST(h AS HUGEINT) * n) AS BIGINT)
                 AS fano_ppm,
               CAST(h AS HUGEINT) * s2 - CAST(n AS HUGEINT) * n
                 > CAST(h AS HUGEINT) * n AS overdispersed
        FROM t, rng ORDER BY event_type""")),

    // ── peaks over threshold (the extreme-value companion to Hill) ──
    // evt_hill_tail fits the tail's SHAPE from the top order
    // statistics; POT is the operational face — pick a high threshold
    // u (the exact p95 via [[Relational.selectKthCents]]: bounded
    // driver collects, never a single-task sort), then the exceedance
    // count and the MEAN EXCESS E[X−u | X>u], the quantity whose
    // linearity in u is the GPD diagnostic every risk pipeline plots
    // before extrapolating quantiles. Excess sums are exact integers
    // (one filtered map-side-combined aggregate — at 10¹² events only
    // the survivors' partials cross the shuffle); the single double is
    // the final division, same chain both engines. Empty corpus →
    // empty frame (the threshold is undefined, matching the oracle's
    // empty join).
    "evt_pot_tail" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val v = Tables.events(s, d)
          .select(expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            .as("cents"))
          .pin() // threshold passes + the excess scan
        if (v.isEmpty)
          Seq.empty[(Long, Long, Long, Double)]
            .toDF("u_cents", "n_exceed", "sum_excess", "mean_excess")
        else {
          val u = Relational.selectKthCents(v, Seq(95L), W = 100L)
            .select($"value_cents").collect()(0).getLong(0)
          v.filter($"cents" > u)
            .agg(count(lit(1)).as("n_exceed"),
              coalesce(sum($"cents" - u), lit(0L)).as("sum_excess"))
            .select(lit(u).as("u_cents"), $"n_exceed", $"sum_excess",
              when($"n_exceed" === 0L, 0.0)
                .otherwise($"sum_excess".cast(DoubleType) / $"n_exceed")
                .as("mean_excess"))
        }
      },
      oracle = Some("""
        WITH v AS (
          SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS cents
          FROM events),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
        ks AS (SELECT (95 * n + 99) // 100 AS k FROM nn WHERE n > 0),
        r AS (
          SELECT cents, row_number() OVER (ORDER BY cents) AS rn
          FROM v),
        u AS (SELECT r.cents AS u FROM r JOIN ks ON r.rn = ks.k),
        e AS (
          SELECT u.u,
                 CAST(COUNT(*) FILTER (v.cents > u.u) AS BIGINT)
                   AS n_exceed,
                 CAST(COALESCE(SUM(v.cents - u.u)
                   FILTER (v.cents > u.u), 0) AS BIGINT) AS sum_excess
          FROM v, u GROUP BY u.u)
        SELECT u AS u_cents, n_exceed, sum_excess,
               CASE WHEN n_exceed = 0 THEN 0.0
                    ELSE CAST(sum_excess AS DOUBLE) / n_exceed
               END AS mean_excess
        FROM e""")),

    // ── Wilcoxon signed-rank (the PAIRED nonparametric test) ──
    // KS and Mann–Whitney compare two INDEPENDENT samples; the
    // question "did each user's own spend change" is paired — every
    // user is their own control, which kills between-user variance.
    // Subjects: users active in BOTH temporal halves; the pair
    // statistic is the per-user cents-sum difference d = s_B − s_A,
    // zero differences dropped (the standard convention). Midranks of
    // |d| at 2× scale over the |d|-value domain (2·cum − t + 1, the
    // Mann–Whitney discipline — ranks never materialize per row, the
    // cumulative rides [[Relational.globalPrefixSum]]), W⁺ as ONE
    // DECIMAL(38) aggregate of cpos·mid2, tie term on the same pass,
    // verdict in [[wilcoxonReject]] driver BigInt — exact at any pair
    // count. The per-user pairing itself is ONE map-side-combined
    // groupBy(user) with conditional sums — at 10¹² events it
    // shuffles #users rows, nothing per-event. Output columns are
    // the Long reporting contract; the oracle replays pair sums,
    // midranks, W⁺, ties, and the HUGEINT verdict.
    "evt_wilcoxon" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val ev = Tables.events(s, d)
          .select(expr(s"(ts div 1000) div $DayUs").as("day"),
            $"user_id",
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("y"))
        val rng = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
        val dd = ev.crossJoin(broadcast(rng))
          .withColumn("side",
            when($"day" < expr("(d0 + d1 + 1) div 2"), 0).otherwise(1))
          .groupBy($"user_id")
          .agg(sum(when($"side" === 0, $"y").otherwise(0L)).as("sa"),
            sum(when($"side" === 0, 1L).otherwise(0L)).as("na"),
            sum(when($"side" === 1, $"y").otherwise(0L)).as("sb"),
            sum(when($"side" === 1, 1L).otherwise(0L)).as("nb"))
          .filter($"na" > 0L && $"nb" > 0L && $"sb" =!= $"sa")
          .select(($"sb" - $"sa").as("dd"))
        val byAbs = dd
          .select(abs($"dd").as("ad"),
            when($"dd" > 0L, 1L).otherwise(0L).as("pos"))
          .groupBy($"ad")
          .agg(sum($"pos").as("cpos"), count(lit(1)).as("ct"))
          .pin() // totals + the prefix pass
        val nn = byAbs.agg(coalesce(sum($"ct"), lit(0L)).as("n"))
        val cum = Relational.globalPrefixSum(s, byAbs, Seq($"ad"), "ct")
        val r = cum
          .agg(
            coalesce(sum($"cpos".cast(big) *
              (lit(2L) * $"psum" - $"ct" + 1L)), lit(0L).cast(big))
              .as("w2"),
            coalesce(sum($"ct".cast(big) * $"ct" * $"ct" - $"ct"),
              lit(0L).cast(big)).as("tie_t"))
          .crossJoin(broadcast(nn))
          .collect()(0) // the single verdict row — O(1) driver rows
        val w2 = BigInt(r.getDecimal(0).toBigInteger)
        val tieT = BigInt(r.getDecimal(1).toBigInteger)
        val n = r.getLong(2)
        val d2 = w2 - BigInt(n) * (n + 1) / 2
        Seq((n, w2.toLong, d2.toLong, tieT.toLong,
            wilcoxonReject(n, d2, tieT)))
          .toDF("n_pairs", "w2_plus", "d2", "tie_t", "reject_at_05")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // $DayUs AS day, user_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM events),
        rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
        pu AS (
          SELECT user_id,
                 SUM(y) FILTER (day < (d0 + d1 + 1) // 2) AS sa,
                 COUNT(*) FILTER (day < (d0 + d1 + 1) // 2) AS na,
                 SUM(y) FILTER (day >= (d0 + d1 + 1) // 2) AS sb,
                 COUNT(*) FILTER (day >= (d0 + d1 + 1) // 2) AS nb
          FROM ev, rng GROUP BY user_id),
        dd AS (
          SELECT sb - sa AS dd FROM pu
          WHERE na > 0 AND nb > 0 AND sb <> sa),
        ba AS (
          SELECT abs(dd) AS ad,
                 CAST(COUNT(*) FILTER (dd > 0) AS BIGINT) AS cpos,
                 CAST(COUNT(*) AS BIGINT) AS ct
          FROM dd GROUP BY abs(dd)),
        nn AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS n FROM ba),
        cum AS (
          SELECT ad, cpos, ct, SUM(ct) OVER (ORDER BY ad) AS cumt
          FROM ba),
        ag AS (
          SELECT COALESCE(SUM(CAST(cpos AS HUGEINT)
                   * (2 * cumt - ct + 1)), 0) AS w2,
                 COALESCE(SUM(CAST(ct AS HUGEINT) * ct * ct - ct), 0)
                   AS tie_t
          FROM cum),
        fin AS (
          SELECT nn.n, ag.w2, ag.tie_t,
                 ag.w2 - (CAST(nn.n AS HUGEINT) * (nn.n + 1)) // 2 AS d2
          FROM nn, ag)
        SELECT n AS n_pairs, CAST(w2 AS BIGINT) AS w2_plus,
               CAST(d2 AS BIGINT) AS d2,
               CAST(tie_t AS BIGINT) AS tie_t,
               7500 * d2 * d2
                 > 2401 * (2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1)
                   - tie_t) AS reject_at_05
        FROM fin""")),

    // ── lag-k autocorrelation of the daily series ──
    // The seasonality DETECTOR in front of evt_seasonal_anomaly's
    // decomposition: is today's revenue correlated with yesterday's
    // (momentum, lag 1) and with the same weekday's (weekly cycle,
    // lag 7)? Pearson r over the (y_t, y_{t−k}) pairs of the daily
    // cents series — the q_corr_manual double-discipline: every sum
    // is EXACT (per-event cents are integers; the pair moments
    // accumulate in DECIMAL(38) — daily sums at 10¹² events square
    // past 2⁶³), cast to DOUBLE once, and the final expression is
    // the identical IEEE chain in both engines with the zero-variance
    // NULLIF/greatest guards. Corpus-sized work is ONE groupBy(day);
    // the lag joins and moment aggregates run on the SERIES. Lags
    // share the single checkpointed daily frame.
    "evt_autocorr" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val daily = dailyCents(s, d, "y")
          .pin() // both lag self-joins read it
        lagMoments(daily, "y", "y", Seq(1L, 7L))
          .select($"lag", $"n_pairs", lagPearson.as("autocorr"))
          .orderBy($"lag")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM events),
        daily AS (SELECT day, CAST(SUM(y) AS BIGINT) AS y
                  FROM ev GROUP BY day),
        pairs AS (
          SELECT k.lag, b.y AS x, a.y AS yy
          FROM (VALUES (CAST(1 AS BIGINT)), (CAST(7 AS BIGINT))) k(lag)
          JOIN daily a ON true
          JOIN daily b ON a.day = b.day + k.lag),
        $lagMomentsSql
        SELECT lag, n_pairs,
               $lagPearsonSql AS autocorr
        FROM m ORDER BY lag""")),

    // ── Wald–Wolfowitz runs test (is the daily series random?) ──
    // Autocorrelation measures LINEAR memory; the runs test asks the
    // weaker, assumption-free question — do above-median and
    // below-median days alternate like coin flips, or do they clump
    // (momentum) / flip-flop (overcorrection)? Dichotomize the daily
    // cents series against its exact lower median (median-valued days
    // dropped, the standard convention), count maximal same-sign runs
    // in day order. Median via [[Relational.globalRank]] (never a
    // single-task sort); adjacency via the rank self-join rk = rk+1
    // on the filtered SERIES (two globalRank passes, both
    // series-sized — the corpus-sized work is ONE groupBy(day));
    // verdict in [[runsReject]] driver BigInt — exact at any length.
    // The oracle replays median, signs, LAG-based run count, and the
    // HUGEINT verdict.
    "evt_runs_test" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val daily = dailyCents(s, d, "y")
          .pin() // median rank + the sign pass
        val n0 = daily.agg(count(lit(1)).as("n0"))
        val med = Relational.globalRank(s, daily, Seq($"y", $"day"))
          .crossJoin(broadcast(n0))
          .filter($"rk" === expr("(n0 + 1) div 2 - 1"))
          .select($"y".as("ym"))
        val signed = daily.crossJoin(broadcast(med))
          .filter($"y" =!= $"ym")
          .select($"day", when($"y" > $"ym", 1L).otherwise(0L).as("sgn"))
        val ranked = Relational.globalRank(s, signed, Seq($"day"))
          .pin() // both sides of the adjacency join
        val r = ranked.as("a")
          .join(ranked.as("b"), $"a.rk" === $"b.rk" + 1L)
          .agg(sum(when($"a.sgn" =!= $"b.sgn", 1L).otherwise(0L))
            .as("changes"))
          .crossJoin(broadcast(
            ranked.agg(sum(when($"sgn" === 1L, 1L).otherwise(0L)).as("n1"),
              sum(when($"sgn" === 0L, 1L).otherwise(0L)).as("n2"))))
          .collect()(0) // the single verdict row — O(1) driver rows
        // every aggregate is null when the dichotomized series is
        // EMPTY (all daily totals equal the median — e.g. a single-day
        // corpus); the oracle's COALESCEs emit the (0,0,0,0,false)
        // degenerate row there, so mirror them
        val changes = if (r.isNullAt(0)) 0L else r.getLong(0)
        val n1 = if (r.isNullAt(1)) 0L else r.getLong(1)
        val n2 = if (r.isNullAt(2)) 0L else r.getLong(2)
        val runs = if (n1 + n2 == 0L) 0L else changes + 1L
        val dn = (n1 + n2) * runs - 2L * n1 * n2 - (n1 + n2)
        Seq((n1, n2, runs, dn, runsReject(n1, n2, runs)))
          .toDF("n_above", "n_below", "n_runs", "dn", "reject_at_05")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT epoch_us(ts) // $DayUs AS day,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM events),
        daily AS (SELECT day, CAST(SUM(y) AS BIGINT) AS y
                  FROM ev GROUP BY day),
        n0 AS (SELECT COUNT(*) AS n0 FROM daily),
        med AS (
          SELECT y AS ym FROM (
            SELECT y, ROW_NUMBER() OVER (ORDER BY y, day) AS rn
            FROM daily), n0
          WHERE rn = (n0 + 1) // 2),
        f AS (
          SELECT day, CASE WHEN y > ym THEN 1 ELSE 0 END AS sgn
          FROM daily, med WHERE y <> ym),
        o AS (
          SELECT sgn, LAG(sgn) OVER (ORDER BY day) AS prev FROM f),
        st AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL
                   AND sgn <> prev THEN 1 END), 0) AS BIGINT) AS changes,
                 CAST(COUNT(*) FILTER (sgn = 1) AS BIGINT) AS n1,
                 CAST(COUNT(*) FILTER (sgn = 0) AS BIGINT) AS n2
          FROM o),
        fin AS (
          SELECT n1, n2,
                 CASE WHEN n1 + n2 = 0 THEN 0 ELSE changes + 1 END AS r,
                 n1 + n2 AS n
          FROM st)
        SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
               n * r - 2 * n1 * n2 - n AS dn,
               CASE WHEN n1 = 0 OR n2 = 0 OR n < 2 THEN false ELSE
                 625 * CAST(n * r - 2 * n1 * n2 - n AS HUGEINT)
                   * (n * r - 2 * n1 * n2 - n) * (n - 1)
                 > 4802 * CAST(n1 AS HUGEINT) * n2 * (2 * n1 * n2 - n)
               END AS reject_at_05
        FROM fin""")),

    // ── chi-square independence test (type × day-of-week) ──
    // The statistical gate behind "does behavior depend on weekday":
    // the contingency table of (event_type, dow) with each cell's χ²
    // contribution (o·N − r·c)² / (N·r·c) — numerator exact in
    // HUGEINT/DECIMAL, ONE double division per cell quantized to 6
    // digits before the decimal sum (the surprisal discipline), so
    // the statistic is bit-identical across engines. Output: the
    // per-type χ² rollup with its cell count (dof = (types−1)(dows−1)
    // is the reader's table lookup). Margins are two tiny aggregates
    // + a broadcast total — the contingency table is states × 7 rows
    // no matter the corpus size.
    "evt_chi_square" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val cell = Tables.events(s, d)
          .select($"event_type",
            expr(s"((ts div 1000) div $DayUs + 4) % 7").as("dow"))
          .groupBy($"event_type", $"dow").agg(count(lit(1)).as("o"))
          .pin() // margins + cells
        val rowM = cell.groupBy($"event_type").agg(sum($"o").as("r"))
        val colM = cell.groupBy($"dow").agg(sum($"o").as("c"))
        val tot = cell.agg(sum($"o").as("n"))
        cell.join(broadcast(rowM), Seq("event_type"))
          .join(broadcast(colM), Seq("dow"))
          .crossJoin(broadcast(tot))
          .withColumn("num",
            ($"o".cast(big) * $"n" - $"r".cast(big) * $"c") *
              ($"o".cast(big) * $"n" - $"r".cast(big) * $"c"))
          .withColumn("den", $"n".cast(big) * $"r" * $"c")
          .withColumn("contrib",
            round($"num".cast(DoubleType) / $"den".cast(DoubleType), 6)
              .cast(DecimalType(20, 6)))
          .groupBy($"event_type")
          .agg(sum($"o").as("n_events"),
            sum($"contrib").cast(DoubleType).as("chi2_type"),
            count(lit(1)).as("n_cells"))
          .orderBy($"event_type")
      },
      oracle = Some(s"""
        WITH cell AS (
          SELECT event_type,
                 (epoch_us(ts) // $DayUs + 4) % 7 AS dow,
                 CAST(COUNT(*) AS HUGEINT) AS o
          FROM events GROUP BY event_type, dow),
        rm AS (SELECT event_type, SUM(o) AS r FROM cell GROUP BY 1),
        cm AS (SELECT dow, SUM(o) AS c FROM cell GROUP BY 1),
        n AS (SELECT SUM(o) AS n FROM cell),
        k AS (
          SELECT cell.event_type, cell.o,
                 CAST(round(CAST((cell.o * n.n - rm.r * cm.c)
                     * (cell.o * n.n - rm.r * cm.c) AS DOUBLE) /
                   CAST(n.n * rm.r * cm.c AS DOUBLE), 6)
                   AS DECIMAL(20,6)) AS contrib
          FROM cell
          JOIN rm USING (event_type)
          JOIN cm USING (dow)
          CROSS JOIN n)
        SELECT event_type, CAST(SUM(o) AS BIGINT) AS n_events,
               CAST(SUM(contrib) AS DOUBLE) AS chi2_type,
               COUNT(*) AS n_cells
        FROM k GROUP BY event_type
        ORDER BY event_type""")),

    // ── DAU/WAU stickiness (engagement ratio) ──
    // The product-health metric: per day, daily actives over trailing-
    // 7-day actives as an exact integer pair. DAU is a plain count of
    // the deduped (user, day) table; WAU rides the same interval-merge
    // trick as evt_sliding_distinct (a user's covered windows merge
    // into DISJOINT runs, so a plain count is exact — no distinct
    // aggregate), aligned so window w covers days [w, w+6] and the
    // ratio for day d reads window w = d−6. Emitted as (dau, wau)
    // BIGINTs — consumers divide at display time.
    "evt_stickiness" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val days = Tables.events(s, d)
          .select($"user_id", expr(s"(ts div 1000) div $DayUs").as("day"))
          .distinct()
          .pin() // DAU count + the interval runs
        val dau = days.groupBy($"day").agg(count(lit(1)).as("dau"))
        val w = Window.partitionBy($"user_id").orderBy($"day")
        val wau = days
          .withColumn("prev", lag($"day", 1).over(w))
          .withColumn("brk",
            when($"prev".isNull || $"day" - $"prev" > 6, 1L).otherwise(0L))
          .withColumn("run",
            sum($"brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy($"user_id", $"run")
          .agg(min($"day").as("a"), max($"day").as("b"))
          .select(explode(sequence($"a" - 6, $"b")).as("win"))
          .groupBy($"win").agg(count(lit(1)).as("wau"))
        dau.join(wau, $"day" === $"win" + 6)
          .select($"day", $"dau", $"wau")
          .orderBy($"day")
      },
      oracle = Some(s"""
        WITH ud AS (
          SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day
          FROM events),
        dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
        wins AS (
          SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
          FROM (SELECT DISTINCT day FROM ud) d
          JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
          GROUP BY d.day)
        SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
               CAST(w.wau AS BIGINT) AS wau
        FROM dau JOIN wins w USING (day)
        ORDER BY day""")),

    // ── CUSUM change detection (Page 1954) via the prefix-min
    //    identity ──
    // The classic drift detector S_t = max(0, S_{t-1} + (y_t − μ)) is
    // a SEQUENTIAL recurrence — useless as written on a cluster. But
    // it has a closed form: S_t = P_t − min(0, min_{i≤t} P_i) where
    // P is the prefix sum of the centered increments — so the whole
    // per-user scan is TWO cumulative windows over one sort, fully
    // parallel across users. Centering uses each user's own mean,
    // kept EXACT by scaling through n: the increment is n·y − Σy −
    // n·K (never a divided mean), the alarm threshold H compares as
    // S > H·n, and every quantity is integer centi-units end to end.
    // K is the standard CUSUM slack that keeps zero-mean noise from
    // accruing (without it a random walk breaches any threshold —
    // measured: every fixture user alarmed at K=0); K = 75.00 units
    // ≈ 1.5σ of the heavy-tailed fixture values and H = 100.00 units
    // make the detector discriminate (79/150 users alarm at sf0.01).
    // Output per user: the event count, the peak scaled CUSUM, and
    // the number of breaching events.
    "evt_cusum" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val ev = userSeries(s, d)
        val st = ev.groupBy($"user_id")
          .agg(count(lit(1)).as("n"), sum($"y").as("sy"))
        val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.join(st, Seq("user_id"))
          .withColumn("p", sum($"n" * $"y" - $"sy" - $"n" * 7500L).over(w))
          .withColumn("minp", min($"p").over(w))
          .withColumn("cus", $"p" - least($"minp", lit(0L)))
          .groupBy($"user_id")
          .agg(max($"n").as("n_events"),
            max($"cus").as("max_cusum"),
            sum(when($"cus" > lit(10000L) * $"n", 1L).otherwise(0L))
              .as("n_alarms"))
          .orderBy($"user_id")
      },
      oracle = Some(s"""
        WITH $userSeriesSql,
        st AS (
          SELECT user_id, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy
          FROM ev GROUP BY user_id),
        p AS (
          SELECT e.user_id, e.tus, e.event_id, st.n,
                 CAST(SUM(st.n * e.y - st.sy - st.n * 7500) OVER w AS BIGINT) AS p
          FROM ev e JOIN st USING (user_id)
          WINDOW w AS (PARTITION BY e.user_id ORDER BY e.tus, e.event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        s AS (
          SELECT user_id, n,
                 p - least(CAST(MIN(p) OVER w2 AS BIGINT), 0) AS cus
          FROM p
          WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
               CAST(MAX(cus) AS BIGINT) AS max_cusum,
               CAST(SUM(CASE WHEN cus > 10000 * n THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_alarms
        FROM s GROUP BY user_id
        ORDER BY user_id"""))
  )
}
