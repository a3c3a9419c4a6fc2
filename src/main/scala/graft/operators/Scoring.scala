package graft.operators

import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, QueryPack, Tables}
import graft.functions.RollingHash.{fpSql, rolling_hash}
import graft.functions.TextTokens.{tokens, tokensSql}

/** Corpus scoring + selection operators for the training-data track:
  * hashed importance reweighting (DSIR-shaped), a hashed linear quality
  * classifier (the fastText-inference-at-scale shape), bottom-k uniform
  * sampling, and sketch-based heavy hitters. All hash arithmetic is the
  * repo's engine-reproducible fingerprint ([[graft.functions.RollingHash]]),
  * so every oracle rebuilds the feature hashing itself in SQL.
  *
  * Scale shapes: the classifier is a pure map-only scan (zero shuffles);
  * DSIR adds only two B-row bucket aggregates broadcast back plus one
  * map-side-combined per-doc aggregation; bottom-k carries ≤k rows per
  * group across its shuffle; heavy hitters carries ≤cap counters per
  * partition. Nothing here materializes a vocabulary- or corpus-sized
  * structure on the driver.
  */
object Scoring extends QueryPack {

  /** Hashed-feature bucket count shared by DSIR and the classifier.
    * Small against a production setting (DSIR uses 10k buckets) so the
    * fixture's ~31-term vocabulary still collides a little; the
    * mechanism is B-invariant — B only widens two broadcast tables. */
  private val B = 32

  /** bucket(term) in [0, B): the codegen'd rolling-hash fingerprint mod
    * B (non-negative by construction), and its DuckDB spelling. */
  private def bucket(c: org.apache.spark.sql.Column) = rolling_hash(c) % B
  private def bucketSql(v: String) = s"(${fpSql(v, 31L)}) % $B"

  /** Deterministic stand-in weights for the hashed linear classifier,
    * in integer micro-units (≤1e6 ≙ 1.0): splitmix64 finalizer over the
    * bucket id, folded into [-1e6, 1e6]. A real deployment swaps these
    * literals for trained fastText/logreg weights via the same
    * broadcast-free `element_at` lookup — the inference plan (the part
    * that must scale) is identical. Embedded as literals in BOTH the
    * Spark expression and the oracle SQL, the `sim_ann_lsh` hyperplane
    * pattern, so DuckDB re-runs the full inference. */
  private[operators] val weightsMicro: IndexedSeq[Long] = (0 until B).map { b =>
    var z = b.toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, 2000001L) - 1000000L
  }

  /** Per-language sample size for the bottom-k sampler. */
  private val SampleK = 10

  /** Misra–Gries counter capacity; the heavy-hitter threshold is
    * count · (cap+1) > N. 64 counters ⇒ share > 1/65 ≈ 1.54%. */
  private val HHCap = 64

  /** Knuth-multiply hash of doc_id — the repo's reproducible shuffle
    * order (injective below the prime; doc_id tiebreak past it). */
  private val docHash = "((doc_id % 1000003) * 2654435761) % 1000000007"

  // ── Count-Min sketch parameters ──
  // depth 4 × width 64 counters; row hashes are universal-family
  // `((a·fp + b) mod P) mod W` over the engine-reproducible rolling-hash
  // fingerprint (fp < P, a ≤ 2.7e9 ⇒ a·fp < 2.7e18: overflow-free in
  // BOTH engines' BIGINT, unlike a splitmix finalizer whose wrapping
  // 64-bit multiplies DuckDB would reject). Small width so the fixture
  // actually collides; the mechanism is W-invariant.
  private[graft] val CmMod: Long = 1000000007L
  private[graft] val CmW: Int = 64
  private[graft] val CmHashes: IndexedSeq[(Long, Long)] =
    IndexedSeq((2654435761L, 97L), (40503L, 9176L), (69069L, 13L), (1103515245L, 12345L))

  private def cmCol(fp: Column, a: Long, b: Long): Column =
    (lit(a) * fp + lit(b)) % CmMod % CmW

  /** Long-form Count-Min counters `(r, col, cnt)` over a frame with an
    * `fp` fingerprint column (one row per token OCCURRENCE). One
    * map-side-combined aggregation; at most depth×W counters per
    * partition cross the shuffle — the sketch is mergeable by counter
    * addition, which is what makes it the 100 TB shape (per-shard
    * sketches sum into the corpus sketch without a token-level pass). */
  private[graft] def cmCounters(withFp: DataFrame): DataFrame = {
    val s = withFp.sparkSession
    import s.implicits._
    withFp
      .select(posexplode(array(CmHashes.map { case (a, b) => cmCol($"fp", a, b) }: _*))
        .as(Seq("r", "col")))
      .groupBy($"r", $"col").agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates for a probe frame carrying `fp`:
    * est(term) = min over rows r of counter[r, col_r(fp)] — never an
    * underestimate (every occurrence of the term incremented all four
    * of its counters). */
  private[graft] def cmEstimate(probes: DataFrame, counters: DataFrame): DataFrame = {
    val s = probes.sparkSession
    import s.implicits._
    val pcols = probes.select(probes.columns.map(col) :+
      posexplode(array(CmHashes.map { case (a, b) => cmCol($"fp", a, b) }: _*))
        .as(Seq("r", "col")): _*)
    val keep = probes.columns.filterNot(_ == "fp")
    pcols.join(broadcast(counters), Seq("r", "col"))
      .groupBy(keep.map(col): _*)
      .agg(min($"cnt").as("cnt_est"))
  }

  override val queries: Map[String, QueryDef] = Map(

    // ── DSIR-shaped importance reweighting ──
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // every raw document by how much more likely its hashed-feature bag
    // is under a TARGET distribution (here: the corpus's English slice,
    // standing in for "high-quality domain") than under the RAW corpus
    // distribution. log w(d) = Σ_tokens [ln p_t(bucket) − ln p_r(bucket)]
    // with add-one smoothing over B buckets. The per-bucket log-ratio is
    // ln of a ratio of exactly-representable integer products, rounded
    // to 6 digits and decimal-summed per doc (the unigram-surprisal
    // bit-parity idiom), so the weights hash-match across engines.
    // Scale: two B-row aggregates (broadcast), one broadcast join onto
    // the token stream, one map-side-combined per-doc sum. The corpus
    // scan happens once (checkpointed token frame feeds all three
    // consumers).
    "llm_dsir_weights" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select($"doc_id", $"lang", explode(tokens).as("term"))
          .withColumn("b", bucket($"term"))
          .select($"doc_id", $"lang", $"b")
          .pin() // 3 consumers: raw counts, target counts, weight join
        val raw = toks.groupBy($"b").agg(count(lit(1)).as("cr"))
        val tgt = toks.filter($"lang" === "en").groupBy($"b").agg(count(lit(1)).as("ct"))
        val stats = s.range(0, B).select($"id".as("b"))
          .join(raw, Seq("b"), "left").join(tgt, Seq("b"), "left")
          .select($"b", coalesce($"cr", lit(0L)).as("cr"), coalesce($"ct", lit(0L)).as("ct"))
          .pin() // B rows; totals + lr would otherwise
                                 // each re-run both token aggregations
        val totals = stats.agg(sum($"ct").as("nt"), sum($"cr").as("nr"))
        val lr = stats.crossJoin(broadcast(totals))
          .withColumn("lr",
            round(log((($"ct" + lit(1.0)) * ($"nr" + lit(B.toDouble))) /
                      (($"cr" + lit(1.0)) * ($"nt" + lit(B.toDouble)))), 6)
              .cast(DecimalType(20, 6)))
          .select($"b", $"lr")
        toks.join(broadcast(lr), Seq("b"))
          .groupBy($"doc_id", $"lang")
          .agg(count(lit(1)).as("n_tokens"), sum($"lr").as("lw"))
          .select($"doc_id", $"lang", $"n_tokens",
            $"lw".cast(DoubleType).as("log_weight"),
            ($"lw" > 0).as("selected"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang, unnest($tokensSql) AS term FROM documents),
        tb AS (
          SELECT doc_id, lang, ${bucketSql("term")} AS b FROM t),
        raw AS (SELECT b, COUNT(*) AS cr FROM tb GROUP BY b),
        tgt AS (SELECT b, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
        st AS (
          SELECT sp.b, COALESCE(raw.cr, 0) AS cr, COALESCE(tgt.ct, 0) AS ct
          FROM (SELECT range AS b FROM range($B)) sp
          LEFT JOIN raw ON raw.b = sp.b
          LEFT JOIN tgt ON tgt.b = sp.b),
        tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM st),
        lr AS (
          SELECT b,
            CAST(round(ln(((ct + 1.0) * (nr + $B.0)) /
                          ((cr + 1.0) * (nt + $B.0))), 6) AS DECIMAL(20,6)) AS lr
          FROM st, tot),
        d AS (
          SELECT tb.doc_id, tb.lang, COUNT(*) AS n_tokens, SUM(lr.lr) AS lw
          FROM tb JOIN lr USING (b)
          GROUP BY tb.doc_id, tb.lang)
        SELECT doc_id, lang, n_tokens,
               CAST(lw AS DOUBLE) AS log_weight,
               lw > 0 AS selected
        FROM d
        ORDER BY doc_id"""),
      headline = false),

    // ── hashed linear quality classifier (fastText-inference shape) ──
    // score(d) = Σ_tokens w[bucket(token)] in integer micro-units: a
    // bag-of-hashed-features linear model evaluated entirely inside one
    // codegen'd projection — `aggregate` over the token array with an
    // `element_at` lookup into the B-entry literal weight table. ZERO
    // shuffles, zero joins: the classifier-filtering pass over a 100 TB
    // corpus is embarrassingly parallel, and integer accumulation makes
    // the logit exact in both engines (no float-association drift).
    "llm_hash_classifier" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val warr = array(weightsMicro.map(lit): _*)
        Tables.documents(s, d)
          .select($"doc_id", $"lang", tokens.as("toks"))
          .select($"doc_id", $"lang",
            size($"toks").cast(LongType).as("n_tokens"),
            aggregate($"toks", lit(0L),
              (acc, t) => acc + element_at(warr, (bucket(t) + 1).cast(IntegerType)))
              .as("logit_micro"))
          .withColumn("pred_keep", $"logit_micro" > 0)
          .orderBy($"doc_id")
      },
      oracle = Some {
        val wList = weightsMicro.mkString("[", ", ", "]")
        s"""
        WITH t AS (SELECT doc_id, lang, $tokensSql AS toks FROM documents)
        SELECT doc_id, lang,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          list_reduce(
            list_prepend(0::BIGINT,
              list_transform(toks,
                t -> CAST($wList[${bucketSql("t")} + 1] AS BIGINT))),
            (acc, x) -> acc + x) AS logit_micro,
          list_reduce(
            list_prepend(0::BIGINT,
              list_transform(toks,
                t -> CAST($wList[${bucketSql("t")} + 1] AS BIGINT))),
            (acc, x) -> acc + x) > 0 AS pred_keep
        FROM t
        ORDER BY doc_id"""
      }),

    // ── bottom-k uniform sample per language ──
    // The distributed replacement for per-group reservoir sampling:
    // tag every doc with a reproducible hash and keep each language's k
    // smallest tags — a mergeable bottom-k sketch, so the sample of a
    // union is computable from per-partition samples. Ranking rides the
    // bounded-buffer TopKAggregator: at most k rows per language cross
    // the shuffle, never a per-group window sort over the whole corpus.
    "llm_bottomk_sample" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val topk = udaf(new graft.functions.TopKAggregator(SampleK))
        Tables.documents(s, d)
          .select($"doc_id", $"lang", expr(docHash).as("h"))
          .groupBy($"lang")
          // h < 2^30 is exact in Double; score = -h ranks ascending-h
          // with the aggregator's (score desc, id asc) order, so ties
          // on h fall back to doc_id asc — matching the oracle window
          .agg(topk(-$"h".cast(DoubleType), $"doc_id").as("top"))
          .select($"lang",
            posexplode(arrays_zip($"top.scores", $"top.ids")).as(Seq("i", "pair")))
          .select($"lang", ($"i" + 1).cast(LongType).as("pos"),
            $"pair.ids".as("doc_id"),
            (-$"pair.scores").cast(LongType).as("h"))
          .orderBy($"lang", $"pos")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang, $docHash AS h FROM documents),
        r AS (
          SELECT lang, doc_id, h,
                 row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
          FROM t)
        SELECT lang, CAST(rn AS BIGINT) AS pos, doc_id, h
        FROM r
        WHERE rn <= $SampleK
        ORDER BY lang, pos""")),

    // ── weighted priority sample per language ──
    // The weighted sibling of `llm_bottomk_sample` (Efraimidis-Spirakis
    // shape: rank by randomness scaled by weight, keep the k best):
    // each doc's priority is its reproducible hash divided by its
    // token count, so a doc with w× the tokens is ~w× as likely to
    // make the sample — length-proportional corpus sampling with NO
    // RNG state. The division is INTEGER arithmetic ((h·10^6) div w,
    // products bounded < 2^50) so priorities are bit-identical across
    // engines — no float rank can drift an ulp. Ranking rides the
    // bounded-buffer TopKAggregator: ≤k rows per language cross the
    // shuffle, never a per-group window sort.
    "llm_weighted_sample" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val topk = udaf(new graft.functions.TopKAggregator(SampleK))
        Tables.documents(s, d)
          .select($"doc_id", $"lang", size(tokens).cast(LongType).as("w"),
            expr(docHash).as("h"))
          .filter($"w" >= 1)
          .withColumn("pri", expr("(h * 1000000) div w"))
          .groupBy($"lang")
          // pri < 2^50 is exact in Double; -pri ranks ascending priority
          // with (score desc, id asc), so ties fall to doc_id asc
          .agg(topk(-$"pri".cast(DoubleType), $"doc_id").as("top"))
          .select($"lang",
            posexplode(arrays_zip($"top.scores", $"top.ids")).as(Seq("i", "pair")))
          .select($"lang", ($"i" + 1).cast(LongType).as("pos"),
            $"pair.ids".as("doc_id"),
            (-$"pair.scores").cast(LongType).as("pri"))
          .orderBy($"lang", $"pos")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len($tokensSql) AS BIGINT) AS w,
                 $docHash AS h
          FROM documents),
        p AS (
          SELECT doc_id, lang, (h * 1000000) // w AS pri
          FROM t WHERE w >= 1),
        r AS (
          SELECT lang, doc_id, pri,
                 row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
          FROM p)
        SELECT lang, CAST(rn AS BIGINT) AS pos, doc_id, pri
        FROM r
        WHERE rn <= $SampleK
        ORDER BY lang, pos""")),

    // ── heavy hitters: Misra–Gries candidates + exact recount ──
    // Two passes over one checkpointed token stream. Pass 1 folds the
    // corpus into a single mergeable MG summary (≤cap counters per
    // partition cross the shuffle) and the total token count in the
    // SAME aggregation. Pass 2 exactly recounts ONLY the ≤cap candidate
    // terms (broadcast semi-join) and keeps those above the N/(cap+1)
    // frequency threshold. The MG guarantee (no heavy hitter evicted —
    // preserved under merge, Agarwal et al. 2012) makes the output
    // deterministic and EXACTLY the true heavy-hitter set even though
    // the sketch itself is partitioning-dependent — so the oracle is a
    // plain exact-frequency query, and a sketch bug that dropped a
    // frequent term would hash-mismatch.
    "llm_heavy_hitters" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val mg = udaf(new graft.functions.MisraGriesAggregator(HHCap))
        val toks = Tables.documents(s, d)
          .select(explode(tokens).as("term"))
          .pin() // 2 consumers: sketch pass + exact recount
        val sketch = toks.agg(mg($"term").as("mg"), count(lit(1)).as("n_total"))
        val cands = sketch.select(explode($"mg.terms").as("term"), $"n_total")
        toks.join(broadcast(cands), Seq("term"))
          .groupBy($"term", $"n_total")
          .agg(count(lit(1)).as("cnt"))
          .filter($"cnt" * (HHCap + 1) > $"n_total")
          .select($"term", $"cnt")
          .orderBy($"cnt".desc, $"term")
      },
      oracle = Some(s"""
        WITH t AS (SELECT unnest($tokensSql) AS term FROM documents),
        n AS (SELECT COUNT(*) AS n_total FROM t),
        c AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term)
        SELECT term, cnt
        FROM c, n
        WHERE cnt * ${HHCap + 1} > n_total
        ORDER BY cnt DESC, term"""),
      headline = true),

    // ── Count-Min sketch: mergeable frequency estimation ──
    // The other half of the sketch pair with Misra–Gries: MG answers
    // "which terms are frequent" (candidate set, undercounts), Count-Min
    // answers "how frequent is THIS term" (point estimate, never an
    // undercount). Build: every token occurrence increments one counter
    // per hash row — one map-side-combined aggregation; ≤ depth×W
    // counters per partition cross the shuffle, and counters SUM across
    // shards (mergeable), so a 100 TB corpus sketches per-partition and
    // folds. Probe: the 20 most frequent terms (deterministic
    // count-desc/term tiebreak), est = min over 4 rows of the probed
    // counter, reported against the exact count. The oracle rebuilds
    // the entire sketch — hash rows, counters, min-probe — from the
    // same universal-hash arithmetic, so a counter off by one anywhere
    // hash-mismatches; the overestimate-only guarantee is additionally
    // property-gated over EVERY term in ScoringSpec.
    "llm_count_min" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select(explode(tokens).as("term"))
          .withColumn("fp", rolling_hash($"term"))
          .pin() // 2 consumers: counters + exact counts
        val counters = cmCounters(toks)
        val probes = toks.groupBy($"term", $"fp")
          .agg(count(lit(1)).as("cnt_true"))
          .orderBy($"cnt_true".desc, $"term").limit(20)
        cmEstimate(probes, counters)
          .select($"term", $"cnt_true", $"cnt_est",
            ($"cnt_est" - $"cnt_true").as("overcount"))
          .orderBy($"cnt_true".desc, $"term")
      },
      oracle = Some {
        val rowsSql = CmHashes.zipWithIndex
          .map { case ((a, b), r) => s"($r, $a, $b)" }.mkString(", ")
        s"""
        WITH t AS (SELECT unnest($tokensSql) AS term FROM documents),
        f AS (SELECT term, ${fpSql("term", 31L)} AS fp FROM t),
        hr AS (SELECT * FROM (VALUES $rowsSql) v(r, a, b)),
        ctr AS (
          SELECT hr.r, (((hr.a * f.fp) + hr.b) % $CmMod) % $CmW AS col,
                 COUNT(*) AS cnt
          FROM f, hr GROUP BY 1, 2),
        ex AS (SELECT term, fp, COUNT(*) AS cnt_true FROM f GROUP BY term, fp),
        probes AS (SELECT * FROM ex ORDER BY cnt_true DESC, term LIMIT 20),
        pe AS (
          SELECT p.term, p.cnt_true, hr.r,
                 (((hr.a * p.fp) + hr.b) % $CmMod) % $CmW AS col
          FROM probes p, hr)
        SELECT pe.term, pe.cnt_true, MIN(ctr.cnt) AS cnt_est,
               MIN(ctr.cnt) - pe.cnt_true AS overcount
        FROM pe JOIN ctr ON ctr.r = pe.r AND ctr.col = pe.col
        GROUP BY pe.term, pe.cnt_true
        ORDER BY cnt_true DESC, term"""
      }),

    // ── Count-Min heavy-change detection (sketch deltoids) ──
    // llm_count_min prices "how frequent is this term"; the DRIFT
    // question a corpus-refresh pipeline asks is "whose frequency
    // CHANGED most between snapshots" (Cormode & Muthukrishnan's
    // deltoids). Two CM sketches — one per doc-id-parity half — built
    // by the same [[cmCounters]] one-pass mergeable aggregation (so
    // at 100 TB each snapshot's sketch folds from per-shard sketches
    // without re-reading the other snapshot), estimated change per
    // probed term = est_A − est_B with each side's min-row probe.
    // Being a difference of two one-sided overestimates, the delta
    // estimate is two-sided-bounded by the per-side errors rather
    // than one-sided — the per-term signed error is reported against
    // the exact delta, and ScoringSpec property-gates BOTH
    // per-side overestimate guarantees on every term. Probes: the 20
    // largest exact |Δ| terms (deterministic |Δ| desc / term order) —
    // the candidate set a production deltoid sketch maintains
    // group-tested; here the exact top keeps the oracle total.
    "agg_cm_heavy_change" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select(($"doc_id" % 2).as("half"), explode(tokens).as("term"))
          .withColumn("fp", rolling_hash($"term"))
          .pin() // 2 sketch builds + the exact counts
        val ctrA = cmCounters(toks.filter($"half" === 0L))
        val ctrB = cmCounters(toks.filter($"half" === 1L))
        val probes = toks.groupBy($"term", $"fp")
          .agg(sum(when($"half" === 0L, 1L).otherwise(0L)).as("cnt_a"),
            sum(when($"half" === 1L, 1L).otherwise(0L)).as("cnt_b"))
          .orderBy(abs($"cnt_a" - $"cnt_b").desc, $"term").limit(20)
        // per-side probe with MISSING COUNTER = 0 (a term absent from
        // one half may hash to cells nothing in that half touched;
        // an inner-join probe would drop those rows, and min over
        // the survivors overestimates — min over coalesced zeros is
        // the exact CM estimate, and 0-cell ⇒ true count 0)
        val pcols = probes.select(probes.columns.map(col) :+
          posexplode(array(CmHashes.map { case (a, b) =>
            cmCol($"fp", a, b) }: _*)).as(Seq("r", "col")): _*)
        def estSide(ctr: DataFrame, alias: String): DataFrame =
          pcols.join(broadcast(ctr), Seq("r", "col"), "left")
            .groupBy($"term", $"cnt_a", $"cnt_b")
            .agg(min(coalesce($"cnt", lit(0L))).as(alias))
        val ea = estSide(ctrA, "est_a")
        val eb = estSide(ctrB, "est_b")
        ea.join(eb, Seq("term", "cnt_a", "cnt_b"))
          .select($"term", ($"cnt_a" - $"cnt_b").as("delta_true"),
            ($"est_a" - $"est_b").as("delta_est"),
            (($"est_a" - $"est_b") - ($"cnt_a" - $"cnt_b")).as("err"))
          .orderBy(abs($"delta_true").desc, $"term")
      },
      oracle = Some {
        val rowsSql = CmHashes.zipWithIndex
          .map { case ((a, b), r) => s"($r, $a, $b)" }.mkString(", ")
        s"""
        WITH t AS (
          SELECT doc_id % 2 AS half, unnest($tokensSql) AS term
          FROM documents),
        f AS (SELECT half, term, ${fpSql("term", 31L)} AS fp FROM t),
        hr AS (SELECT * FROM (VALUES $rowsSql) v(r, a, b)),
        ctra AS (
          SELECT hr.r, (((hr.a * f.fp) + hr.b) % $CmMod) % $CmW AS col,
                 COUNT(*) AS cnt
          FROM f, hr WHERE f.half = 0 GROUP BY 1, 2),
        ctrb AS (
          SELECT hr.r, (((hr.a * f.fp) + hr.b) % $CmMod) % $CmW AS col,
                 COUNT(*) AS cnt
          FROM f, hr WHERE f.half = 1 GROUP BY 1, 2),
        ex AS (
          SELECT term, fp,
                 CAST(COUNT(*) FILTER (half = 0) AS BIGINT) AS cnt_a,
                 CAST(COUNT(*) FILTER (half = 1) AS BIGINT) AS cnt_b
          FROM f GROUP BY term, fp),
        probes AS (SELECT * FROM ex
                   ORDER BY abs(cnt_a - cnt_b) DESC, term LIMIT 20),
        pe AS (
          SELECT p.term, p.cnt_a, p.cnt_b, hr.r,
                 (((hr.a * p.fp) + hr.b) % $CmMod) % $CmW AS col
          FROM probes p, hr),
        ests AS (
          SELECT pe.term, pe.cnt_a, pe.cnt_b,
                 MIN(COALESCE(ca.cnt, 0)) AS est_a,
                 MIN(COALESCE(cb.cnt, 0)) AS est_b
          FROM pe LEFT JOIN ctra ca ON ca.r = pe.r AND ca.col = pe.col
          LEFT JOIN ctrb cb ON cb.r = pe.r AND cb.col = pe.col
          GROUP BY pe.term, pe.cnt_a, pe.cnt_b)
        SELECT term, cnt_a - cnt_b AS delta_true,
               CAST(est_a - est_b AS BIGINT) AS delta_est,
               CAST(est_a - est_b AS BIGINT) - (cnt_a - cnt_b) AS err
        FROM ests
        ORDER BY abs(cnt_a - cnt_b) DESC, term"""
      }),

    // ── feature hashing (the hashing-trick document embedding) ──
    // The fixed-width text featurizer that needs NO vocabulary
    // (Weinberger et al., ICML 2009 — the fastText/Vowpal input
    // layer): token → rolling-hash fingerprint → dimension fp mod 16,
    // sign from the next fingerprint bit ((fp div 16) mod 2), vector =
    // signed occurrence counts. The sign bit is what makes collisions
    // cancel in expectation instead of stacking — the property that
    // lets 16 dims stand in for an unbounded vocabulary. ONE token
    // explode + ONE map-side-combined (doc, dim) groupBy, emitted
    // long-form like mm_feature_hist (the vector never materializes
    // as a row-width column); at 10¹² docs nothing but (doc, dim)
    // partial sums cross the shuffle. The oracle replays the full
    // fingerprint chain ([[fpSql]]), so dim routing and sign parity
    // are hash-checked per token.
    "llm_feature_hashing" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("toks", tokens)
          .select($"doc_id", explode($"toks").as("term"))
          .withColumn("fp", rolling_hash($"term"))
          .groupBy($"doc_id", ($"fp" % 16L).as("dim"))
          .agg(sum(when(expr("(fp div 16) % 2 = 0"), 1L).otherwise(-1L))
            .as("val"))
          .orderBy($"doc_id", $"dim")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, unnest($tokensSql) AS term FROM documents),
        f AS (SELECT doc_id, ${fpSql("term", 31L)} AS fp FROM t)
        SELECT doc_id, fp % 16 AS dim,
               CAST(SUM(CASE WHEN (fp // 16) % 2 = 0 THEN 1 ELSE -1 END)
                 AS BIGINT) AS val
        FROM f GROUP BY doc_id, fp % 16
        ORDER BY doc_id, dim""")),
  )
}
