package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryDef, QueryPack, Tables}
import graft.functions.TextTokens.{materialized, tokens, tokensSql}

/** Corpus-assembly operators: the steps BETWEEN a filtered/deduped
  * document set and actual training batches — sequence packing,
  * benchmark-contamination detection, repetition scoring, target-mix
  * rebalancing, and percentile length trimming. All are `functions._`
  * column expressions with DuckDB oracles; no UDFs.
  *
  * 100 TB shapes: packing and trimming are per-partition window scans
  * (partitioned by language here; a production run sub-partitions by
  * (lang, shard) so no single window key sees the whole corpus — noted
  * per query); contamination is an equality join on n-gram keys (never
  * all-pairs); mix rebalancing is two tiny aggregates broadcast back
  * over a map-only scan.
  */
object CorpusAssembly extends QueryPack {

  /** Tokens-per-sequence budget for packing (a GPT-style context). */
  private val SeqLen = 2048L

  /** Deterministic per-doc sampling gate in [0, 1e6): the id is
    * pre-reduced so the Knuth multiply stays far inside a 64-bit long
    * (ANSI mode throws on overflow — same guard as
    * llm_stratified_sample). */
  private val gateExpr = "((doc_id % 1000003) * 2654435761) % 1000000"

  /** GPT-2-style subword pattern — ONE definition feeding both the
    * Spark regex and (via interpolation, which skips escape
    * re-processing) the DuckDB oracle, so the two can't diverge.
    * Alternation + enumerated classes only: identical in Java regex
    * and RE2. */
  private val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]"

  /** Stopword list for the ratio query — single source for the Spark
    * array literal and the DuckDB list literal. */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is",
    "der", "die", "das", "und", "le", "la", "et", "el", "los", "y")
  private val stopwordsSqlList: String =
    stopwords.map(s => s"'$s'").mkString("[", ",", "]")

  /** Shards for the shuffle-reshard query (a production run sizes this
    * to target output-file size; the mechanism is count-invariant). */
  private val NShards = 32L

  /** Expected sample size (docs) for `llm_temperature_mix` — sized so
    * fixture rates sit strictly inside (0, 1) and every source keeps a
    * non-trivial subset. Written as a double literal: it enters the
    * IEEE rate arithmetic directly. */
  private val TemperatureBudget = 200.0

  /** `llm_unimax_mix` parameters: character budget + epoch cap, sized
    * against the fixture per-source totals (~6.3k-9.2k chars each, 20
    * sources, ~150k total at both sf0.001 and sf0.01) so BOTH allocator
    * branches fire — the smallest sources hit the E·n_d epoch cap, the
    * largest are budget-limited (4-5 capped at each fixture scale). */
  private val UniMaxBudget = 140000L
  private val UniMaxEpochs = 1L

  /** Per-language token budget for `llm_token_budget` — sized so the
    * fixture selects a strict, non-trivial subset of every language. */
  private val TokenBudget = 10000L

  /** Deterministic shuffle-order hash: Knuth multiply mod the 1e9+7
    * prime — injective for doc_id below the pre-reduction modulus, and
    * always totally ordered with the doc_id tiebreak. Pure arithmetic,
    * bit-identical in both engines (the pre-reduction keeps the product
    * inside a Long under ANSI). */
  private val shuffleHashExpr = "((doc_id % 1000003) * 2654435761) % 1000000007"
  private val shuffleHashSql = shuffleHashExpr

  // ── gopher gram fingerprints: fused double-prime polynomial fold
  //    over per-token rolling-hash fingerprints (fp = hA + hB·M, both
  //    folds mod M), computed by the native
  //    [[graft.functions.GopherGrams]] expression; the constants are
  //    single-sourced from it into the oracle SQL. Products stay
  //    inside a Long under ANSI: (M−1)·PB ≈ 1.0e15, and
  //    hA + hB·M < M² + M ≈ 1.0e18. ──
  private val GramM = graft.functions.GopherGrams.M
  private val GramPA = graft.functions.GopherGrams.PA
  private val GramPB = graft.functions.GopherGrams.PB

  /** DuckDB spelling of the per-token fingerprint the gram folds
    * consume — [[graft.functions.RollingHash.hash]] at prime 31. */
  private def gramTokenFpSql(v: String): String =
    graft.functions.RollingHash.fpSql(v, 31L)

  /** Source-domain target weights for the mix query: a fixed dim table
    * (broadcast at scale), weights varied so the rebalance is
    * non-uniform. */
  private val mixWeights: Seq[(String, Long)] =
    (0 until 20).map(i => (s"src$i", (i * 7L) % 5L + 1L))
  private val mixWeightSum: Long = mixWeights.map(_._2).sum
  private val mixWeightsSqlValues: String =
    mixWeights.map { case (s, w) => s"('$s', ${w}::BIGINT)" }.mkString(", ")

  private val baseQueries: Map[String, QueryDef] = Map(

    // ── data-quality constraint audit (single-pass, Deequ shape) ──
    // The admission gate a corpus build runs before any curation step
    // (Schelter et al., VLDB 2018, "Automating Large-Scale Data
    // Quality Verification"): six declarative constraints —
    // completeness, key uniqueness, derived-column consistency,
    // categorical domain, value range, non-emptiness — evaluated in
    // ONE aggregation pass over the table (the conditional counts all
    // share the scan; the distinct key count rides the same
    // aggregate), then unpivoted to the long (check, num, den,
    // passed) audit report. Every metric is an exact integer pair, so
    // the report is bit-identical across engines. The language
    // allowlist is deliberately narrower than the data, so the audit
    // demonstrates a FAILING constraint row (zh docs) instead of a
    // vacuous all-green. 100 TB shape: one map-side-combined scan
    // folding to a single row — the distinct-count expand doubles map
    // output but the exchange carries only per-key partials — and the
    // stack unpivot of that row is free.
    // ── corpus concentration: exact Gini of document mass ──
    // The one-number inequality readout a curation dashboard carries:
    // how concentrated is corpus mass across documents (G = 0 every
    // doc equal, → 1 a few giants carry everything)? Fuels dedup/
    // length-trim decisions — a post-trim G should DROP. Exact via
    // the rank formulation G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) with
    // x ascending and i the 1-based rank: ranks ride
    // [[Relational.globalRank]] (never a single-task sort), both
    // moments accumulate in DECIMAL(38) (Σ i·x_i ≤ n²·max overflows
    // 2⁶³ at corpus scale) in ONE aggregate, and the output is the
    // exact (g_num, g_den) integer rational plus floor-ppm — no
    // double anywhere (g_num ≥ 0 by the rearrangement inequality, so
    // BigInt truncation = floor = DuckDB's `//`). Output columns are
    // the Long reporting contract; the verdict-free single row is an
    // O(1) driver collect.
    "llm_doc_gini" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val docs = Tables.documents(s, d).select($"doc_id", $"n_chars")
        val ranked = Relational.globalRank(s, docs,
          Seq($"n_chars", $"doc_id"))
        val r = ranked.agg(
            count(lit(1)).as("n"),
            sum($"n_chars".cast(big)).as("sx"),
            sum(($"rk" + 1L).cast(big) * $"n_chars").as("six"))
          .collect()(0) // the single readout row — O(1) driver rows
        val n = r.getLong(0)
        // Degenerate-corpus guard: an empty table (n = 0, null sums)
        // or an all-zero-mass corpus (sx = 0) has no concentration to
        // measure — G is defined as 0 with a 0 denominator, mirroring
        // the oracle's CASE spelling, instead of dividing by zero.
        val sx =
          if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger)
        val six =
          if (r.isNullAt(2)) BigInt(0) else BigInt(r.getDecimal(2).toBigInteger)
        val gDen = BigInt(n) * sx
        val (gNum, ppm) =
          if (gDen == 0) (BigInt(0), 0L)
          else {
            val gn = BigInt(2) * six - BigInt(n + 1) * sx
            (gn, ((BigInt(1000000) * gn) / gDen).toLong)
          }
        Seq((n, sx.toLong, gNum.toLong, gDen.toLong, ppm))
          .toDF("n_docs", "sum_chars", "g_num", "g_den", "gini_ppm")
      },
      oracle = Some("""
        WITH r AS (
          SELECT n_chars,
                 ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn
          FROM documents),
        ag AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(n_chars AS HUGEINT)) AS sx,
                 SUM(CAST(rn AS HUGEINT) * n_chars) AS six
          FROM r)
        SELECT n AS n_docs, CAST(COALESCE(sx, 0) AS BIGINT) AS sum_chars,
               CAST(CASE WHEN COALESCE(n * sx, 0) = 0 THEN 0
                 ELSE 2 * six - (n + 1) * sx END AS BIGINT) AS g_num,
               CAST(COALESCE(n * sx, 0) AS BIGINT) AS g_den,
               CAST(CASE WHEN COALESCE(n * sx, 0) = 0 THEN 0
                 ELSE (1000000 * (2 * six - (n + 1) * sx)) // (n * sx)
                 END AS BIGINT) AS gini_ppm
        FROM ag""")),

    "llm_dq_audit" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d).agg(
            count(lit(1)).as("n_rows"),
            count($"text").as("c_complete"),
            countDistinct($"doc_id").as("c_unique"),
            count(when($"n_chars" === length($"text"), 1)).as("c_consistent"),
            count(when($"lang".isin("en", "de", "fr", "es"), 1)).as("c_lang"),
            count(when($"n_chars".between(1L, 100000L), 1)).as("c_range"),
            count(when(length($"text") > 0, 1)).as("c_nonempty"))
          .select(expr("""stack(6,
              'completeness_text',   c_complete,   n_rows,
              'uniqueness_doc_id',   c_unique,     n_rows,
              'consistency_n_chars', c_consistent, n_rows,
              'domain_lang',         c_lang,       n_rows,
              'range_n_chars',       c_range,      n_rows,
              'nonempty_text',       c_nonempty,   n_rows)
            AS (check_name, num, den)"""))
          .withColumn("passed", $"num" === $"den")
          .orderBy($"check_name")
      },
      oracle = Some("""
        WITH m AS (
          SELECT COUNT(*) AS n_rows,
                 COUNT(text) AS c_complete,
                 COUNT(DISTINCT doc_id) AS c_unique,
                 COUNT(*) FILTER (n_chars = length(text)) AS c_consistent,
                 COUNT(*) FILTER (lang IN ('en','de','fr','es')) AS c_lang,
                 COUNT(*) FILTER (n_chars BETWEEN 1 AND 100000) AS c_range,
                 COUNT(*) FILTER (length(text) > 0) AS c_nonempty
          FROM documents),
        long AS (
          SELECT 'completeness_text' AS check_name, c_complete AS num,
                 n_rows AS den FROM m
          UNION ALL SELECT 'uniqueness_doc_id', c_unique, n_rows FROM m
          UNION ALL SELECT 'consistency_n_chars', c_consistent, n_rows FROM m
          UNION ALL SELECT 'domain_lang', c_lang, n_rows FROM m
          UNION ALL SELECT 'range_n_chars', c_range, n_rows FROM m
          UNION ALL SELECT 'nonempty_text', c_nonempty, n_rows FROM m)
        SELECT check_name, num, den, num = den AS passed
        FROM long ORDER BY check_name""")),

    // ── contrastive negative-pair generation ──
    // The sampling step of every contrastive-embedding build
    // (in-batch negatives don't survive curated sharding, so
    // pipelines pre-materialize negatives): each anchor document
    // draws 4 deterministic pseudo-random candidates via the
    // pure-arithmetic hash chain (slot-salted Knuth multiply mod the
    // 1e9+7 prime, reduced mod corpus size — identical on any engine
    // or cluster), mapped to real documents by an EQUALITY join on
    // doc_id — never a cross join or per-anchor scan — then filtered
    // by the hard-negative rule (a negative must come from a
    // DIFFERENT source than its anchor; self-draws drop). Map-only
    // expansion (4 rows per anchor) + one co-partitionable id join;
    // the corpus-size scalar is a broadcast aggregate. Slot counts
    // per anchor vary where the filter bites — that is the documented
    // semantic (candidates are drawn, validity is enforced), not
    // nondeterminism.
    "llm_negative_pairs" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id", $"source")
          .pin() // anchor side + negative side
        val n = docs.agg(count(lit(1)).as("n_docs"))
        docs.crossJoin(broadcast(n))
          .select($"doc_id", $"source".as("a_source"),
            explode(sequence(lit(0), lit(3))).as("slot"), $"n_docs")
          .withColumn("neg_id", expr(
            "(((doc_id % 1000003) * 2654435761 + slot * 97003) " +
              "% 1000000007) % n_docs"))
          .join(docs.select($"doc_id".as("neg_id"),
            $"source".as("neg_source")), Seq("neg_id"))
          .filter($"neg_id" =!= $"doc_id" && $"neg_source" =!= $"a_source")
          .select($"doc_id", $"slot".cast(LongType).as("slot"),
            $"neg_id", $"neg_source")
          .orderBy($"doc_id", $"slot")
      },
      oracle = Some("""
        WITH docs AS (SELECT doc_id, source FROM documents),
        n AS (SELECT COUNT(*) AS n_docs FROM docs),
        cand AS (
          SELECT d.doc_id, d.source AS a_source, s.slot,
                 (((d.doc_id % 1000003) * 2654435761 + s.slot * 97003)
                   % 1000000007) % n.n_docs AS neg_id
          FROM docs d CROSS JOIN n CROSS JOIN range(0, 4) s(slot))
        SELECT c.doc_id, CAST(c.slot AS BIGINT) AS slot, c.neg_id,
               g.source AS neg_source
        FROM cand c JOIN docs g ON g.doc_id = c.neg_id
        WHERE c.neg_id <> c.doc_id AND g.source <> c.a_source
        ORDER BY c.doc_id, slot""")),

    // ── Neyman-allocation stratified sampling ──
    // llm_stratified_sample applies GIVEN per-stratum rates; this
    // derives the OPTIMAL ones: Neyman allocation puts budget where
    // the variance is, quota_h ∝ N_h·sd_h — and N_h·sd_h collapses to
    // √(N_h·Σx² − (Σx)²), one sqrt over an exact integer, no mean or
    // division anywhere. Weights floor to micro-units (identical
    // doubles → identical floor; never round-on-double), the integer
    // largest-remainder method splits the budget of 100 exactly
    // (base = (B·wᵤ) div Wᵤ, extras by remainder rank), and members
    // fill each quota in the deterministic hash order. The census
    // output proves the SELECTION, not just the counts: per stratum
    // the XOR fold of sampled doc ids — any membership difference
    // flips it. Per-stratum ranking is a window over the lang
    // partitioning (the llm_token_budget shape; a production run
    // sub-shards the stratum key).
    "llm_neyman_sample" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val st = Tables.documents(s, d).groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("sx"),
            sum($"n_chars" * $"n_chars").as("sx2"))
          .withColumn("wu", expr(
            "cast(floor(sqrt(cast(n * sx2 - sx * sx as double)) " +
              "* 1000000) as bigint)"))
        val wtot = st.agg(sum($"wu").as("wt"))
        val alloc = st.crossJoin(broadcast(wtot))
          .withColumn("base", expr("(100 * wu) div wt"))
          .withColumn("rem", expr("(100 * wu) % wt"))
        val spare = alloc.agg((lit(100L) - sum($"base")).as("extras"))
        val wR = Window.orderBy($"rem".desc, $"lang")
        val quotas = alloc.crossJoin(broadcast(spare))
          .withColumn("rk", row_number().over(wR))
          .withColumn("quota",
            $"base" + when($"rk" <= $"extras", 1L).otherwise(0L))
          .select($"lang", $"n", $"wu", $"quota")
          .pin() // join side + output side
        val wS = Window.partitionBy($"lang")
          .orderBy(expr(gateExpr), $"doc_id")
        val sampled = Tables.documents(s, d)
          .select($"doc_id", $"lang")
          .withColumn("rk", row_number().over(wS))
          .join(quotas.select($"lang", $"quota"), Seq("lang"))
          .filter($"rk" <= $"quota")
        quotas.join(
            sampled.groupBy($"lang")
              .agg(count(lit(1)).as("n_sampled"),
                expr("bit_xor(doc_id)").as("xor_ids")),
            Seq("lang"), "left")
          .select($"lang", $"n".as("n_docs"), $"wu", $"quota",
            coalesce($"n_sampled", lit(0L)).as("n_sampled"),
            coalesce($"xor_ids", lit(0L)).as("xor_ids"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH st AS (
          SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sx,
                 CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2
          FROM documents GROUP BY lang),
        w AS (
          SELECT lang, n,
                 CAST(floor(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                   * 1000000) AS BIGINT) AS wu
          FROM st),
        wt AS (SELECT CAST(SUM(wu) AS BIGINT) AS wt FROM w),
        alloc AS (
          SELECT w.lang, w.n, w.wu,
                 (100 * w.wu) // wt.wt AS base,
                 (100 * w.wu) % wt.wt AS rem
          FROM w CROSS JOIN wt),
        sp AS (SELECT 100 - CAST(SUM(base) AS BIGINT) AS extras FROM alloc),
        q AS (
          SELECT lang, n, wu,
                 base + CASE WHEN ROW_NUMBER() OVER
                   (ORDER BY rem DESC, lang) <= sp.extras
                   THEN 1 ELSE 0 END AS quota
          FROM alloc CROSS JOIN sp),
        ranked AS (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY $gateExpr, doc_id) AS rk
          FROM documents),
        sampled AS (
          SELECT r.lang, COUNT(*) AS n_sampled,
                 CAST(bit_xor(r.doc_id) AS BIGINT) AS xor_ids
          FROM ranked r JOIN q ON q.lang = r.lang AND r.rk <= q.quota
          GROUP BY r.lang)
        SELECT q.lang, q.n AS n_docs, q.wu, CAST(q.quota AS BIGINT)
                 AS quota,
               COALESCE(s.n_sampled, 0) AS n_sampled,
               COALESCE(s.xor_ids, 0) AS xor_ids
        FROM q LEFT JOIN sampled s USING (lang)
        ORDER BY q.lang""")),

    // ── dataset card: the corpus manifest in one pass ──
    // The "Datasheets for Datasets" summary artifact (Gebru et al.
    // 2021) every corpus release ships: scale (docs, tokens, bytes),
    // composition (languages, sources, vocabulary), duplication rate,
    // and length statistics — assembled from TWO passes (one over
    // documents for the row-level stats incl. the exact-dup census
    // via distinct content hashes; one over the exploded token stream
    // for vocabulary size) joined as single-row broadcast aggregates.
    // The mean is the exact centi-char rational (sum·100 div n), the
    // median rides the same 2×-scale order-statistic idiom as
    // evt_mad_outliers. Everything is an exact integer, so the whole
    // card is one hash-checked row.
    "llm_dataset_card" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).pin()
        val a1 = docs.agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"lang").as("n_langs"),
          countDistinct($"source").as("n_sources"),
          (count(lit(1)) - countDistinct(sha2($"text", 256)))
            .as("n_exact_dups"),
          sum($"n_chars").as("sum_chars"),
          max($"n_chars").as("max_chars"))
        val a2 = docs.withColumn("tokens", tokens)
          .select(explode($"tokens").as("w"))
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct($"w").as("vocab_size"))
        // 2×-scale exact median of n_chars off the frequency table;
        // the cumulative count rides Relational.globalPrefixSum — the
        // distinct LENGTH domain spans up to the max doc length at
        // 100 TB, too wide for a single-task `Window.orderBy`
        // (round-12 verdict #5); n_chars is unique in vc
        val vc = docs.groupBy($"n_chars").agg(count(lit(1)).as("c"))
        val med = Relational.globalPrefixSum(s, vc, Seq($"n_chars"), "c")
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
          .agg(
            (min(when($"psum" >= expr("(n + 1) div 2"), $"n_chars"))
              + min(when($"psum" >= expr("n div 2 + 1"), $"n_chars")))
              .as("median_chars_x2"))
        a1.crossJoin(broadcast(a2)).crossJoin(broadcast(med))
          .select($"n_docs", $"n_tokens", $"n_langs", $"n_sources",
            $"vocab_size", $"n_exact_dups",
            expr("sum_chars * 100 div n_docs").as("mean_chars_x100"),
            $"median_chars_x2", $"max_chars")
      },
      oracle = Some(s"""
        WITH a1 AS (
          SELECT COUNT(*) AS n_docs,
                 COUNT(DISTINCT lang) AS n_langs,
                 COUNT(DISTINCT source) AS n_sources,
                 COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_exact_dups,
                 CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                 MAX(n_chars) AS max_chars
          FROM documents),
        a2 AS (
          SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS vocab_size
          FROM (SELECT unnest($tokensSql) AS w FROM documents)),
        vc AS (
          SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY n_chars),
        cum AS (
          SELECT n_chars,
                 SUM(c) OVER (ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
                 (SELECT COUNT(*) FROM documents) AS n
          FROM vc),
        med AS (
          SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN n_chars END)
                 + MIN(CASE WHEN cum >= n // 2 + 1 THEN n_chars END)
                   AS median_chars_x2
          FROM cum)
        SELECT a1.n_docs, a2.n_tokens, a1.n_langs, a1.n_sources,
               a2.vocab_size, a1.n_exact_dups,
               a1.sum_chars * 100 // a1.n_docs AS mean_chars_x100,
               med.median_chars_x2, a1.max_chars
        FROM a1 CROSS JOIN a2 CROSS JOIN med""")),

    // ── T5-style span-corruption accounting ──
    // The data-prep op behind span-corruption pretraining (Raffel et
    // al. 2020): mask ~15% of token positions via the deterministic
    // (doc, pos)-salted hash gate, collapse adjacent masked positions
    // into spans (the gaps-and-islands fold: pos − rank-among-masked
    // is constant within a run), and account the corrupted layout per
    // document — tokens, masked tokens, spans, and the corrupted
    // sequence length n_tokens − n_masked + n_spans (each span
    // becomes ONE sentinel token). Every doc is reproducible on any
    // engine or cluster (pure arithmetic gate, no RNG state). One
    // explode + one per-doc window (bounded by document length) + one
    // groupBy — the map-heavy shape that scales with the corpus.
    "llm_span_corruption" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", posexplode($"tokens").as(Seq("pos", "term")))
        val gated = toks.withColumn("masked",
          expr("(((doc_id % 1000003) * 2654435761 + pos * 97003) " +
            "% 1000000007) < 150000001"))
        val w = Window.partitionBy($"doc_id").orderBy($"pos")
        gated
          .withColumn("mrank",
            sum(when($"masked", 1L).otherwise(0L)).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("island",
            when($"masked", $"pos" - $"mrank"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when($"masked", 1L).otherwise(0L)).as("n_masked"),
            countDistinct($"island").as("n_spans"))
          .withColumn("n_corrupted_len",
            $"n_tokens" - $"n_masked" + $"n_spans")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, $tokensSql AS tokens FROM documents),
        t AS (
          SELECT doc_id, unnest(tokens) AS term,
                 generate_subscripts(tokens, 1) - 1 AS pos
          FROM toks),
        g AS (
          SELECT doc_id, pos,
                 (((doc_id % 1000003) * 2654435761 + pos * 97003)
                   % 1000000007) < 150000001 AS masked
          FROM t),
        isl AS (
          SELECT doc_id, pos, masked,
                 CASE WHEN masked THEN pos - SUM(CASE WHEN masked THEN 1
                   ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 END AS island
          FROM g)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_masked,
               CAST(COUNT(DISTINCT island) AS BIGINT) AS n_spans,
               COUNT(*) - CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END)
                 AS BIGINT) + CAST(COUNT(DISTINCT island) AS BIGINT)
                 AS n_corrupted_len
        FROM isl
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ── sequence packing: concatenate-and-chunk into fixed token
    //    budgets (how pretraining batches are actually laid out) ──
    // Each language's token stream (docs in doc_id order) is cut into
    // SeqLen-token sequences; a doc's placement is fully determined by
    // the running token count BEFORE it — one window scan, no shuffle
    // beyond the partitioning. At 100 TB the window key is (lang,
    // shard) so no single partition sees the whole corpus; packing is
    // then per-shard, which is exactly how batch assembly shards in
    // practice.
    // ── deterministic train/val split with per-stratum accounting ──
    // The reproducibility primitive every corpus build starts from: a
    // pure-arithmetic hash gate (no RNG state, identical on any engine
    // or cluster size) routes each document to a split; the output is
    // the (split, lang) census a pipeline checks before training —
    // document and token counts per stratum. Map-only gate + one
    // partial-aggregated groupBy; membership is stable under
    // re-partitioning, retries, and engine changes by construction.
    "llm_train_val_split" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("toks", tokens)
          .withColumn("split",
            when(expr(gateExpr) < 900000L, "train").otherwise("val"))
          .groupBy($"split", $"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size($"toks")).cast(LongType).as("n_tokens"))
          .orderBy($"split", $"lang")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, lang, $tokensSql AS tokens FROM documents),
        g AS (
          SELECT lang,
                 CASE WHEN $gateExpr < 900000 THEN 'train' ELSE 'val' END
                   AS split,
                 len(tokens) AS nt
          FROM toks)
        SELECT split, lang, COUNT(*) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM g GROUP BY split, lang
        ORDER BY split, lang""")),

    // ── population stability index (split drift monitor) ──
    // The production drift metric between two distributions of the
    // same feature — here the token-length profile of the train vs
    // val split (the llm_train_val_split hash gate): PSI =
    // Σ (p_i − q_i)·ln(p_i/q_i) over fixed 10-token length bands (capped at 8),
    // the symmetric-KL-flavored number every model-monitoring stack
    // thresholds at 0.1/0.25. Add-one smoothing per band keeps every
    // term defined (the standard convention for empty cells); each
    // band's ln quantizes to 6 digits and each term to 9 before the
    // DECIMAL sum (the unigram-surprisal idiom — associative, so
    // engine-identical), emitted per band (rounded to 9) plus the
    // band populations, so the hash pins every cell of the
    // contingency table, not just the total. ONE corpus-sized
    // map-side-combined (band, split) count; everything after is
    // 8 rows.
    "llm_psi_drift" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val bands = Tables.documents(s, d)
          .withColumn("toks", tokens)
          .select(least(lit(7L), (size($"toks") / 10).cast(LongType))
            .as("band"),
            (expr(gateExpr) < 900000L).as("is_train"))
          .groupBy($"band")
          .agg(sum(when($"is_train", 1L).otherwise(0L)).as("n_train"),
            sum(when(!$"is_train", 1L).otherwise(0L)).as("n_val"))
          .pin() // totals + the term projection
        val tot = bands.agg(
          (sum($"n_train") + 8L).as("tt"), (sum($"n_val") + 8L).as("tv"))
        bands.crossJoin(broadcast(tot))
          .select($"band", $"n_train", $"n_val",
            expr("""round(
                (cast(n_train + 1 as double) / tt
                  - cast(n_val + 1 as double) / tv)
                * round(ln((cast(n_train + 1 as double) / tt)
                        / (cast(n_val + 1 as double) / tv)), 6),
                9)""").as("psi_term"))
          .orderBy($"band")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT least(7, len($tokensSql) // 10) AS band,
                 $gateExpr < 900000 AS is_train
          FROM documents),
        b AS (
          SELECT band,
                 CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_train,
                 CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_val
          FROM t GROUP BY band),
        tot AS (
          SELECT SUM(n_train) + 8 AS tt, SUM(n_val) + 8 AS tv FROM b)
        SELECT band, n_train, n_val,
               round(
                 (CAST(n_train + 1 AS DOUBLE) / tt
                   - CAST(n_val + 1 AS DOUBLE) / tv)
                 * round(ln((CAST(n_train + 1 AS DOUBLE) / tt)
                         / (CAST(n_val + 1 AS DOUBLE) / tv)), 6),
                 9) AS psi_term
        FROM b, tot ORDER BY band""")),

    // ── fill-in-the-middle transformation (PSM reordering) ──
    // The infilling data transform behind code models (Bavarian et
    // al. 2022: "FIM-for-free"): split each document's token sequence
    // at deterministic pivots (30%/70% — arithmetic both engines
    // replay, where production uses a seeded hash gate with the SAME
    // map-only shape) and emit the Prefix-Suffix-Middle reordering
    // <PRE>p<SUF>s<MID>m the model trains on — the reorder is the
    // whole trick: the middle moves to the END so autoregressive
    // training teaches infilling without architecture changes. The
    // sentinel-joined sequence is reported as its sha256 plus the
    // three exact segment lengths, so a pivot off by one token, a
    // swapped segment order, or a join-separator slip all
    // hash-mismatch. Map-only projection over [[tokens]] — no
    // shuffle, no explode; 10¹² docs cost one codegen'd pass.
    "llm_fim" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("toks", tokens)
          .withColumn("k", size($"toks").cast(LongType))
          .withColumn("p1", expr("k * 3 div 10"))
          .withColumn("p2", expr("k * 7 div 10"))
          .withColumn("psm", concat(
            lit("<PRE>"),
            array_join(expr("slice(toks, 1, cast(p1 as int))"), " "),
            lit("<SUF>"),
            array_join(
              expr("slice(toks, cast(p2 + 1 as int), cast(k - p2 as int))"),
              " "),
            lit("<MID>"),
            array_join(
              expr("slice(toks, cast(p1 + 1 as int), cast(p2 - p1 as int))"),
              " ")))
          .select($"doc_id", $"k".as("n_tokens"),
            $"p1".as("n_pre"), ($"p2" - $"p1").as("n_mid"),
            ($"k" - $"p2").as("n_suf"),
            sha2($"psm", 256).as("psm_sha"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, $tokensSql AS toks FROM documents),
        k AS (
          SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS k
          FROM toks),
        p AS (
          SELECT doc_id, toks, k,
                 k * 3 // 10 AS p1, k * 7 // 10 AS p2
          FROM k)
        SELECT doc_id, k AS n_tokens, p1 AS n_pre,
               p2 - p1 AS n_mid, k - p2 AS n_suf,
               sha256('<PRE>'
                 || array_to_string(toks[1:CAST(p1 AS INT)], ' ')
                 || '<SUF>'
                 || array_to_string(toks[CAST(p2 + 1 AS INT):CAST(k AS INT)], ' ')
                 || '<MID>'
                 || array_to_string(toks[CAST(p1 + 1 AS INT):CAST(p2 AS INT)], ' '))
                 AS psm_sha
        FROM p
        ORDER BY doc_id""")),

    "llm_seq_packing" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .withColumn("n_tokens", size(tokens).cast(LongType))
          .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
          .select($"doc_id", $"lang", $"n_tokens",
            expr(s"cum_before div $SeqLen").as("seq_id"),
            ($"cum_before" % SeqLen).as("seq_offset"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len($tokensSql) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tokens,
            -- CAST: DuckDB SUM(BIGINT) is HUGEINT, which surfaces as a
            -- float column in the compare harness
            COALESCE(CAST(SUM(n_tokens) OVER (
              PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
              AS cum_before
          FROM t)
        SELECT doc_id, lang, n_tokens,
               cum_before // $SeqLen AS seq_id,
               cum_before % $SeqLen AS seq_offset
        FROM c
        ORDER BY doc_id""")),

    // ── benchmark contamination: token-8-gram overlap between the
    //    training split and a held-out "benchmark" split ──
    // The shape that matters at 100 TB: distinct (doc, gram) pairs on
    // both sides, then an EQUALITY join on the gram — work scales with
    // shared-gram bucket sizes, never all-pairs. Grams are carried as
    // the fused double-prime ~2^60 FINGERPRINT, not the string (8 bytes
    // shipped per gram through the distinct and the join; same
    // collision argument as dedup_minhash_pairs — the string-keyed
    // DuckDB oracle would catch a fixture collision as a count
    // mismatch). Docs shorter than the gram width are excluded on BOTH
    // sides before the n-gram expansion (Spark's sequence(8, n) counts
    // DOWN when n < 8 while DuckDB's generate_series is empty — the
    // filter keeps the engines identical).
    "llm_contamination" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val grams = materialized(
          Tables.documents(s, d)
            .withColumn("tokens", tokens)
            .filter(size($"tokens") >= 8)
            .select($"doc_id", $"source",
              transform(sequence(lit(8), size($"tokens")),
                i => graft.functions.RollingHash.rolling_hash2(
                  concat_ws(" ", slice($"tokens", i - 7, lit(8))))).as("grams")))
          .select($"doc_id", $"source", explode($"grams").as("gram"))
          .distinct()
          // checkpointed: the eval and train splits below both read this
          // frame — without it each side re-runs the gram expansion and
          // its distinct shuffle
          .pin()
        val eval = grams.filter($"source".isin("src0", "src1"))
          .select($"doc_id".as("eval_doc"), $"gram")
        val train = grams.filter(!$"source".isin("src0", "src1"))
          .select($"doc_id".as("train_doc"), $"gram")
        train.join(eval, "gram")
          .groupBy($"train_doc", $"eval_doc")
          .agg(count(lit(1)).as("n_shared_grams"))
          .filter($"n_shared_grams" >= 3)
          .orderBy($"train_doc", $"eval_doc")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, source, $tokensSql AS tokens FROM documents),
        g AS (
          SELECT doc_id, source,
                 unnest(list_transform(generate_series(8, len(tokens)),
                        i -> array_to_string(tokens[i-7:i], ' '))) AS gram
          FROM toks WHERE len(tokens) >= 8),
        gd AS (SELECT DISTINCT doc_id, source, gram FROM g)
        SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
               COUNT(*) AS n_shared_grams
        FROM gd t JOIN gd e USING (gram)
        WHERE t.source NOT IN ('src0', 'src1')
          AND e.source IN ('src0', 'src1')
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
        ORDER BY train_doc, eval_doc"""),
      headline = false),

    // ── first-occurrence novelty (marginal-content census) ──
    // llm_contamination asks "who copied whom"; this asks the data-
    // mixing question "what does each document ADD": the fraction of
    // a doc's distinct 8-grams whose corpus-wide FIRST occurrence
    // (min doc_id — the deterministic stand-in for ingestion order)
    // is the doc itself. Curation uses it to rank sources by marginal
    // contribution — a source full of low-novelty docs is paying
    // tokens for content the corpus already has. Fingerprinted grams
    // Spark-side vs string grams in the oracle (the llm_contamination
    // discipline: the hash match doubles as the per-round collision-
    // freeness proof); ONE gram expansion feeds the min-reduction and
    // the per-doc census, joined back by gram equality — never
    // all-pairs.
    "llm_novelty" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val grams = materialized(
          Tables.documents(s, d)
            .withColumn("tokens", tokens)
            .filter(size($"tokens") >= 8)
            .select($"doc_id",
              transform(sequence(lit(8), size($"tokens")),
                i => graft.functions.RollingHash.rolling_hash2(
                  concat_ws(" ", slice($"tokens", i - 7, lit(8))))).as("grams")))
          .select($"doc_id", explode($"grams").as("gram"))
          .distinct()
          .pin() // first-occurrence table + per-doc census
        val firstDoc = grams.groupBy($"gram")
          .agg(min($"doc_id").as("first_doc"))
        grams.join(firstDoc, Seq("gram"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_grams"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, $tokensSql AS tokens FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(8, len(tokens)),
                        i -> array_to_string(tokens[i-7:i], ' '))) AS gram
          FROM toks WHERE len(tokens) >= 8),
        gd AS (SELECT DISTINCT doc_id, gram FROM g),
        fd AS (SELECT gram, MIN(doc_id) AS first_doc FROM gd GROUP BY gram),
        c AS (
          SELECT gd.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_grams,
                 CAST(SUM(CASE WHEN fd.first_doc = gd.doc_id THEN 1
                               ELSE 0 END) AS BIGINT) AS n_novel
          FROM gd JOIN fd USING (gram)
          GROUP BY gd.doc_id)
        SELECT doc_id, n_grams, n_novel,
               n_novel * 1000000 // n_grams AS novelty_ppm
        FROM c ORDER BY doc_id""")),

    // ── train/val n-gram overlap (the generalization estimate) ──
    // llm_contamination hunts cross-SOURCE leakage; this measures the
    // cross-SPLIT overlap a benchmark's "novelty" rests on: for every
    // validation document (the llm_train_val_split hash gate), how
    // many of its distinct 8-gram fingerprints appear ANYWHERE in the
    // train split — high overlap means the val loss measures
    // memorization, not generalization. Fingerprint grams (8-byte
    // keys) on the Spark side, string grams in the oracle — the hash
    // match doubles as the per-round collision-freeness proof, the
    // llm_contamination discipline. One gram expansion feeds both
    // sides; the train side collapses to its DISTINCT gram set before
    // the semi-join.
    "llm_split_overlap" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val grams = materialized(
          Tables.documents(s, d)
            .withColumn("tokens", tokens)
            .filter(size($"tokens") >= 8)
            .select($"doc_id",
              (expr(gateExpr) < 900000L).as("is_train"),
              transform(sequence(lit(8), size($"tokens")),
                i => graft.functions.RollingHash.rolling_hash2(
                  concat_ws(" ", slice($"tokens", i - 7, lit(8))))).as("grams")))
          .select($"doc_id", $"is_train", explode($"grams").as("gram"))
          .distinct()
          .pin() // train set + val side
        val train = grams.filter($"is_train").select($"gram").distinct()
        val valg = grams.filter(!$"is_train").select($"doc_id", $"gram")
        val seen = valg.join(train, Seq("gram"), "left_semi")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_seen"))
        valg.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
          .join(seen, Seq("doc_id"), "left")
          .select($"doc_id", $"n_grams",
            coalesce($"n_seen", lit(0L)).as("n_seen"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, $tokensSql AS tokens FROM documents),
        g AS (
          SELECT doc_id, $gateExpr < 900000 AS is_train,
                 unnest(list_transform(generate_series(8, len(tokens)),
                        i -> array_to_string(tokens[i-7:i], ' '))) AS gram
          FROM toks WHERE len(tokens) >= 8),
        gd AS (SELECT DISTINCT doc_id, is_train, gram FROM g),
        tr AS (SELECT DISTINCT gram FROM gd WHERE is_train),
        vg AS (SELECT doc_id, gram FROM gd WHERE NOT is_train),
        seen AS (
          SELECT v.doc_id, COUNT(*) AS n_seen
          FROM vg v JOIN tr USING (gram)
          GROUP BY v.doc_id)
        SELECT vg.doc_id, COUNT(*) AS n_grams,
               COALESCE(MAX(seen.n_seen), 0) AS n_seen
        FROM vg LEFT JOIN seen USING (doc_id)
        GROUP BY vg.doc_id
        ORDER BY doc_id""")),

    // ── repetition scoring: type-token ratio + top-token share ──
    // The Gopher-style repetition gate (boilerplate has a few tokens
    // dominating). Two aggregations — (doc, term) then doc — both
    // map-side combined; ratios are single integer-to-double divisions
    // rounded AFTER, so both engines produce identical doubles.
    "llm_repetition" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // barrier before the explode so the tokenizer HOF chain is
        // evaluated once per document, not once per exploded output row
        val tf = materialized(
            Tables.documents(s, d).select($"doc_id", tokens.as("tokens")))
          .select($"doc_id", explode($"tokens").as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
        tf.groupBy($"doc_id")
          .agg(sum($"c").as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            max($"c").as("max_c"))
          .withColumn("type_token_ratio",
            round($"n_distinct".cast(DoubleType) / $"n_tokens".cast(DoubleType), 6))
          .withColumn("top_token_ratio",
            round($"max_c".cast(DoubleType) / $"n_tokens".cast(DoubleType), 6))
          .withColumn("is_repetitive",
            $"top_token_ratio" > 0.05 || $"type_token_ratio" < 0.3)
          .select($"doc_id", $"n_tokens", $"n_distinct",
            $"type_token_ratio", $"top_token_ratio", $"is_repetitive")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, unnest($tokensSql) AS term FROM documents),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY doc_id, term),
        agg AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 COUNT(*) AS n_distinct,
                 CAST(MAX(c) AS BIGINT) AS max_c
          FROM tf GROUP BY doc_id),
        r AS (
          SELECT doc_id, n_tokens, n_distinct,
                 round(CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                   AS type_token_ratio,
                 round(CAST(max_c AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                   AS top_token_ratio
          FROM agg)
        SELECT doc_id, n_tokens, n_distinct, type_token_ratio, top_token_ratio,
               (top_token_ratio > 0.05 OR type_token_ratio < 0.3) AS is_repetitive
        FROM r
        ORDER BY doc_id""")),

    // ── the Gopher repetition-rule battery (Rae et al. 2021, A1) ──
    // The full n-gram half of Gopher's quality filters, long-form one
    // row per (doc, rule): for n∈{2,3,4} the character share of the
    // MOST FREQUENT n-gram (thresholds .20/.18/.16), for n∈{5..10}
    // the character share of ALL duplicated n-grams — every occurrence
    // of any n-gram appearing ≥2× (thresholds .15→.10). Character
    // shares are over the whitespace-normalized document (tokens
    // joined by single spaces), so the arithmetic is pure integer
    // counts + one IEEE division — engine-exact with no rounding.
    // (The line/paragraph dup rules belong to corpora with line
    // structure; this fixture is single-line, so they'd be vacuous —
    // the n-gram battery is the substantive half.)
    //
    // Scale shape: ONE gram explosion covering all nine n's (~9× the
    // token stream, generated by the native compiled
    // [[graft.functions.GopherGrams]] grid expression), ONE shuffle
    // partitioned by (doc, n) serving the gram count and the FUSED
    // per-(doc, n) reduction (top-gram max-struct + duplicated-chars
    // sum in one hash aggregate — no window sort, one pass), and a
    // broadcast 9-row rule grid. Never all-pairs, no per-n re-scans.
    //
    // Grams travel as FINGERPRINTS, never strings: each token hashes
    // once, and a gram's identity is a fused double-prime polynomial
    // fold over its token fingerprints — 8-byte shuffle keys, with the
    // character length carried as Σ token lengths + (n−1). ~2^60 fp
    // space over ≤~500 grams per (doc, n) makes a collision
    // vanishingly rare, and the oracle recomputes the identical folds,
    // so any fixture collision would surface as a hash mismatch (the
    // dedup_ngram_jaccard_banded argument). Top-gram count ties break
    // by fingerprint — deterministic and engine-shared.
    //
    // A/B history (sf0.1, medians): string grams + per-(doc,n) window
    // 7.1 s; + materialized gram-array column 10.2 s (struct-array
    // serde dominates); fp grams via nested transform/slice/aggregate
    // HOFs 11.9 s (HOFs run interpreted); native grid expression +
    // single (doc, n) exchange 2.6-2.8 s.
    "llm_gopher_rules" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val base = materialized(
            Tables.documents(s, d).select($"doc_id", tokens.as("toks")))
          .select($"doc_id", $"toks",
            length(array_join($"toks", " ")).cast(LongType).as("doc_len"))
          .pin() // ONE corpus scan: grid + rule frame
        val grams = base
          .select($"doc_id",
            explode(graft.functions.GopherGrams.gopher_grams($"toks")).as("g"))
          .select($"doc_id", $"g.n".as("n"), $"g.fp".as("fp"), $"g.len".as("len"))
        // ONE shuffle, partitioned by (doc_id, n) — a subset of the
        // count's grouping key, so the gram count AND both per-(doc, n)
        // reductions below are satisfied by the same exchange (the
        // 3-key hash partitioning would scatter (doc_id, n) groups and
        // force a second exchange each); no checkpoint — pinning 2.4M
        // counted rows measured slower than sharing the exchange
        val cnt = grams.repartition($"doc_id", $"n")
          .groupBy($"doc_id", $"n", $"fp")
          .agg(count(lit(1)).as("c"), max($"len").as("len"))
        // BOTH per-(doc, n) reductions in ONE aggregate (r17, guide
        // §1.2): the old top/dup pair shared the exchange but each ran
        // its own full hash-agg pass over the counted grams — the two
        // dominant stages of the query's task time — and then joined
        // back separately. `sum(when(c >= 2, ...))` is null exactly
        // when the old filtered `dup` group was absent (sum ignores
        // nulls; a cnt group always has >= 1 row so `top` is always
        // present), and both shapes coalesce that null to 0 below —
        // value-identical, one pass + one join instead of two + two.
        val red = cnt.groupBy($"doc_id", $"n")
          .agg(max(struct($"c", $"fp", $"len")).as("t"),
            sum(when($"c" >= 2, $"c" * $"len")).as("dup_chars"))
          .select($"doc_id", $"n", ($"t.c" * $"t.len").as("top_chars"),
            $"dup_chars")
        val rules = Seq(
          (2, "top", 0.20), (3, "top", 0.18), (4, "top", 0.16),
          (5, "dup", 0.15), (6, "dup", 0.14), (7, "dup", 0.13),
          (8, "dup", 0.12), (9, "dup", 0.11), (10, "dup", 0.10))
          .toDF("n", "kind", "threshold")
        base.select($"doc_id", $"doc_len")
          .crossJoin(broadcast(rules))
          .join(red, Seq("doc_id", "n"), "left")
          .withColumn("chars",
            when($"kind" === "top", coalesce($"top_chars", lit(0L)))
              .otherwise(coalesce($"dup_chars", lit(0L))))
          .withColumn("frac",
            when($"doc_len" > 0,
              $"chars".cast(DoubleType) / $"doc_len".cast(DoubleType))
              .otherwise(lit(0.0)))
          .withColumn("rule",
            concat($"kind", lit("_"), $"n".cast(StringType), lit("gram")))
          .withColumn("pass", $"frac" <= $"threshold")
          .select($"doc_id", $"rule", $"frac", $"threshold", $"pass")
          .orderBy($"doc_id", $"rule")
      },
      headline = true,
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $tokensSql AS toks FROM documents),
        b AS (
          SELECT doc_id,
                 CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS doc_len,
                 list_transform(toks, tk -> ${gramTokenFpSql("tk")}) AS tfps,
                 list_transform(toks, tk -> CAST(length(tk) AS BIGINT)) AS tlens
          FROM t),
        g AS (
          SELECT doc_id, n,
                 list_reduce(list_prepend(0::BIGINT, tfps[i + 1 : i + n]),
                   (a, tv) -> (a * $GramPA + tv) % $GramM)
                 + list_reduce(list_prepend(0::BIGINT, tfps[i + 1 : i + n]),
                     (a, tv) -> (a * $GramPB + tv) % $GramM) * $GramM AS fp,
                 CAST(list_sum(tlens[i + 1 : i + n]) AS BIGINT) + n - 1 AS len
          FROM (
            SELECT doc_id, tfps, tlens, n.n AS n,
                   unnest(generate_series(0, len(tfps) - n.n)) AS i
            FROM b, generate_series(2, 10) n(n)
            WHERE len(tfps) >= n.n) s),
        cnt AS (
          SELECT doc_id, n, fp, COUNT(*) AS c, MAX(len) AS len
          FROM g GROUP BY 1, 2, 3),
        top AS (
          SELECT doc_id, n, CAST(c * len AS BIGINT) AS top_chars
          FROM (
            SELECT doc_id, n, c, len,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                      ORDER BY c DESC, fp DESC) AS r
            FROM cnt) x
          WHERE r = 1),
        dup AS (
          SELECT doc_id, n, CAST(SUM(c * len) AS BIGINT) AS dup_chars
          FROM cnt WHERE c >= 2 GROUP BY doc_id, n),
        rules AS (
          SELECT * FROM (VALUES
            (2, 'top', CAST(0.20 AS DOUBLE)),
            (3, 'top', CAST(0.18 AS DOUBLE)),
            (4, 'top', CAST(0.16 AS DOUBLE)),
            (5, 'dup', CAST(0.15 AS DOUBLE)),
            (6, 'dup', CAST(0.14 AS DOUBLE)),
            (7, 'dup', CAST(0.13 AS DOUBLE)),
            (8, 'dup', CAST(0.12 AS DOUBLE)),
            (9, 'dup', CAST(0.11 AS DOUBLE)),
            (10, 'dup', CAST(0.10 AS DOUBLE))) v(n, kind, threshold)),
        f AS (
          SELECT gr.doc_id,
                 gr.kind || '_' || CAST(gr.n AS VARCHAR) || 'gram' AS rule,
                 CASE WHEN gr.doc_len > 0 THEN
                   CAST(CASE WHEN gr.kind = 'top'
                             THEN COALESCE(t.top_chars, 0)
                             ELSE COALESCE(d.dup_chars, 0) END AS DOUBLE)
                   / CAST(gr.doc_len AS DOUBLE)
                 ELSE CAST(0 AS DOUBLE) END AS frac,
                 gr.threshold
          FROM (SELECT b.doc_id, b.doc_len, r.n, r.kind, r.threshold
                FROM b, rules r) gr
          LEFT JOIN top t ON t.doc_id = gr.doc_id AND t.n = gr.n
          LEFT JOIN dup d ON d.doc_id = gr.doc_id AND d.n = gr.n)
        SELECT doc_id, rule, frac, threshold, frac <= threshold AS pass
        FROM f
        ORDER BY doc_id, rule""")),

    // ── domain-mix rebalancing: sample each source toward a target
    //    share (the data-mixture step of corpus assembly) ──
    // Unlike llm_stratified_sample's FIXED rates, the keep rate here is
    // DATA-DEPENDENT: rate_s = min(1, target_share_s · N / count_s),
    // i.e. oversized domains are downsampled to their target share of
    // the corpus. Two tiny aggregates (per-source counts, corpus total)
    // broadcast onto a map-only hash-gated scan — no shuffle of the
    // corpus itself. The threshold compare is pure INTEGER arithmetic
    // (weight ≤ 5 · 1e6 · N stays inside a long up to N ≈ 3.6e12 docs;
    // ANSI overflow would throw, not wrap, same guard as the sampler).
    "llm_domain_mix" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val weights = mixWeights.toDF("source", "w")
        // one tiny row per source; checkpointed because it feeds both the
        // rate join and the total derivation — and the total derives from
        // counts (sum over 20 rows), not a second corpus scan
        val counts = Tables.documents(s, d).groupBy($"source")
          .agg(count(lit(1)).as("n_src"))
          .pin()
        val total = counts.agg(sum($"n_src").as("n_total"))
        Tables.documents(s, d)
          .join(broadcast(weights.join(counts, "source")), "source")
          .crossJoin(broadcast(total))
          .withColumn("keep_threshold",
            least(lit(1000000L),
              expr(s"(w * 1000000 * n_total) div ($mixWeightSum * n_src)")))
          .filter(expr(gateExpr) < $"keep_threshold")
          .select($"doc_id", $"source", $"keep_threshold")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH w(source, w) AS (VALUES $mixWeightsSqlValues),
        c AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
        n AS (SELECT COUNT(*) AS n_total FROM documents)
        SELECT d.doc_id, d.source,
               least(1000000, (w.w * 1000000 * n.n_total)
                              // ($mixWeightSum * c.n_src)) AS keep_threshold
        FROM documents d
        JOIN w USING (source) JOIN c USING (source) CROSS JOIN n
        WHERE $gateExpr <
              least(1000000, (w.w * 1000000 * n.n_total)
                             // ($mixWeightSum * c.n_src))
        ORDER BY doc_id""")),

    // ── BPE-ish subword counting: the token budget a GPT-style
    //    tokenizer would actually charge ──
    // Whitespace counts (llm_token_count) under-estimate the trained
    // tokenizer's budget; the standard approximation is a GPT-2-style
    // regex over letter runs / digit runs / punctuation. The pattern
    // sticks to alternation + enumerated classes (no lookaround, no \\p
    // classes) so Java regex and DuckDB's RE2 agree byte-for-byte.
    // Map-only scan; the ratio column is one integer-to-double division.
    "llm_bpe_token_count" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("n_ws_tokens", size(tokens).cast(LongType))
          .withColumn("n_bpe_tokens",
            size(regexp_extract_all(lower($"text"), lit(bpePattern), lit(0)))
              .cast(LongType))
          .filter($"n_ws_tokens" > 0)
          .select($"doc_id", $"n_ws_tokens", $"n_bpe_tokens",
            round($"n_bpe_tokens".cast(DoubleType) /
              $"n_ws_tokens".cast(DoubleType), 6).as("subword_ratio"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
            CAST(len($tokensSql) AS BIGINT) AS n_ws_tokens,
            CAST(len(regexp_extract_all(lower(text),
                 '$bpePattern')) AS BIGINT) AS n_bpe_tokens
          FROM documents)
        SELECT doc_id, n_ws_tokens, n_bpe_tokens,
               round(CAST(n_bpe_tokens AS DOUBLE) /
                     CAST(n_ws_tokens AS DOUBLE), 6) AS subword_ratio
        FROM t WHERE n_ws_tokens > 0
        ORDER BY doc_id""")),

    // ── stopword ratio: the quality-score component llm_quality_score
    //    doesn't cover ──
    // Fraction of token OCCURRENCES that are stopwords (multi-language
    // list, broadcast-sized constant). High ratio ≈ natural prose, low ≈
    // tables/boilerplate/code. filter-then-size keeps occurrence
    // semantics (array_intersect would count distinct matches only).
    "llm_stopword_ratio" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val stopArr = array(stopwords.map(lit): _*)
        Tables.documents(s, d)
          .withColumn("toks", tokens)
          .filter(size($"toks") > 0)
          .select($"doc_id", $"lang",
            size($"toks").cast(LongType).as("n_tokens"),
            size(filter($"toks", t => array_contains(stopArr, t)))
              .cast(LongType).as("n_stopwords"))
          .withColumn("stopword_ratio",
            round($"n_stopwords".cast(DoubleType) /
              $"n_tokens".cast(DoubleType), 6))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang, $tokensSql AS toks FROM documents),
        c AS (
          SELECT doc_id, lang,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(len(list_filter(toks, t -> list_contains(
              $stopwordsSqlList, t))) AS BIGINT) AS n_stopwords
          FROM t WHERE len(toks) > 0)
        SELECT doc_id, lang, n_tokens, n_stopwords,
               round(CAST(n_stopwords AS DOUBLE) /
                     CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio
        FROM c
        ORDER BY doc_id""")),

    // ── RAKE keyword extraction (stopword-delimited phrases) ──
    // The unsupervised keyword extractor beside llm_textrank's graph
    // ranking (Rose et al. 2010): candidate phrases are the maximal
    // stopword-free token runs (the stopword list is the phrase
    // DELIMITER — that's RAKE's whole trick), each word scores
    // deg/freq (deg = Σ length of the phrases it occurs in — words
    // that travel in long phrases beat loners), and a phrase scores
    // the sum of its member words. All-integer: word scores in exact
    // floor-ppm, phrase scores as their BIGINT sums. Plan: one token
    // explode + a per-doc islands window (bounded by doc length, the
    // llm_span_corruption shape) + three map-side-combined aggregates
    // + ONE word-equality join; top 20 by (score, phrase) is a
    // TakeOrdered, never a global sort.
    "llm_rake" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val stopArr = array(stopwords.map(lit): _*)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"pos")
        val ph = materialized(
            Tables.documents(s, d).withColumn("toks", tokens))
          .select($"doc_id", posexplode($"toks").as(Seq("pos", "term")))
          .withColumn("stop", array_contains(stopArr, $"term"))
          .withColumn("nsrank",
            sum(when($"stop", 0L).otherwise(1L)).over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
          .filter(!$"stop")
          .groupBy($"doc_id", ($"pos" - $"nsrank").as("grp"))
          .agg(array_join(expr("transform(array_sort(" +
              "collect_list(struct(pos, term))), x -> x.term)"), " ")
              .as("phrase"),
            count(lit(1)).as("len"))
          .pin() // word stats + the phrase-score join
        val wordOcc = ph.select($"len",
          explode(split($"phrase", " ")).as("term"))
        val wsc = wordOcc.groupBy($"term")
          .agg(count(lit(1)).as("freq"), sum($"len").as("deg"))
          .select($"term", expr("deg * 1000000 div freq").as("score_ppm"))
        val pd = ph.groupBy($"phrase", $"len")
          .agg(count(lit(1)).as("n_occ"))
        pd.select($"phrase", $"len", $"n_occ",
            explode(split($"phrase", " ")).as("term"))
          .join(wsc, Seq("term"))
          .groupBy($"phrase", $"len", $"n_occ")
          .agg(sum($"score_ppm").as("score_ppm"))
          .select($"phrase", $"len".as("n_words"), $"n_occ", $"score_ppm")
          .orderBy($"score_ppm".desc, $"phrase")
          .limit(20)
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $tokensSql AS toks FROM documents),
        tok AS (
          SELECT doc_id, unnest(toks) AS term,
                 generate_subscripts(toks, 1) - 1 AS pos
          FROM t),
        f AS (
          SELECT doc_id, pos, term,
                 list_contains($stopwordsSqlList, term) AS stop
          FROM tok),
        r AS (
          SELECT doc_id, pos, term, stop,
                 SUM(CASE WHEN stop THEN 0 ELSE 1 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS nsrank
          FROM f),
        ph AS (
          SELECT doc_id, pos - nsrank AS grp,
                 string_agg(term, ' ' ORDER BY pos) AS phrase,
                 CAST(COUNT(*) AS BIGINT) AS len
          FROM r WHERE NOT stop GROUP BY doc_id, pos - nsrank),
        wocc AS (
          SELECT len, unnest(string_split(phrase, ' ')) AS term FROM ph),
        wsc AS (
          SELECT term,
                 CAST(SUM(len) AS BIGINT) * 1000000
                   // CAST(COUNT(*) AS BIGINT) AS score_ppm
          FROM wocc GROUP BY term),
        pd AS (
          SELECT phrase, len, CAST(COUNT(*) AS BIGINT) AS n_occ
          FROM ph GROUP BY phrase, len),
        pw AS (
          SELECT pd.phrase, pd.len, pd.n_occ,
                 unnest(string_split(pd.phrase, ' ')) AS term
          FROM pd),
        sc AS (
          SELECT phrase, len, n_occ,
                 CAST(SUM(wsc.score_ppm) AS BIGINT) AS score_ppm
          FROM pw JOIN wsc USING (term) GROUP BY phrase, len, n_occ)
        SELECT phrase, len AS n_words, n_occ, score_ppm
        FROM sc ORDER BY score_ppm DESC, phrase LIMIT 20""")),

    // ── percentile length trimming: drop per-language outliers ──
    // Keeps docs whose token count sits inside the [5th, 95th]
    // percentile band of their language — the outlier trim that
    // precedes packing. percent_rank is (rank-1)/(n-1), a single exact
    // division, and the ordering carries doc_id as a unique tiebreak so
    // both engines rank identically. Same (lang, shard) sub-window note
    // as llm_seq_packing for the 100 TB run.
    "llm_length_trim" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"n_tokens", $"doc_id")
        Tables.documents(s, d)
          .withColumn("n_tokens", size(tokens).cast(LongType))
          .withColumn("pr", percent_rank().over(w))
          .filter($"pr" >= 0.05 && $"pr" <= 0.95)
          .select($"doc_id", $"lang", $"n_tokens",
            round($"pr", 6).as("length_pct_rank"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len($tokensSql) AS BIGINT) AS n_tokens
          FROM documents),
        r AS (
          SELECT doc_id, lang, n_tokens,
                 percent_rank() OVER (
                   PARTITION BY lang ORDER BY n_tokens, doc_id) AS pr
          FROM t)
        SELECT doc_id, lang, n_tokens, round(pr, 6) AS length_pct_rank
        FROM r
        WHERE pr >= 0.05 AND pr <= 0.95
        ORDER BY doc_id""")),

    // ── deterministic global shuffle + fixed-count resharding ──
    // Training consumes the corpus in a random-but-REPRODUCIBLE order,
    // cut into a fixed number of shards. Order = a Knuth-multiply hash
    // of doc_id (injective below the prime; doc_id tiebreak restores a
    // total order past it); shards = Relational.globalNtile over that
    // order — the distributed rank-by-projection primitive (range
    // repartition + per-partition counts + broadcast offsets, ZERO
    // post-sort shuffles), already equality-proven against SQL ntile.
    // So the global shuffle never funnels through a single-partition
    // window, the classic 100 TB bottleneck of naive ORDER BY rand():
    // the plan is the one a production reshard job wants, and DuckDB's
    // own ntile re-derives every shard assignment exactly.
    "llm_shuffle_shard" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val df = Tables.documents(s, d)
          .select($"doc_id", $"lang", expr(shuffleHashExpr).as("h"))
        Relational.globalNtile(s, df, NShards, Seq($"h", $"doc_id"))
          .select($"doc_id", $"lang", $"h", $"tile".as("shard"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang, $shuffleHashSql AS h
          FROM documents)
        SELECT doc_id, lang, h,
               CAST(ntile($NShards) OVER (ORDER BY h, doc_id) AS BIGINT)
                 AS shard
        FROM t
        ORDER BY doc_id"""),
      headline = false),

    // ── token-budget selection: fill a per-language budget in shuffle
    //    order (the data-mixing primitive behind "N tokens of lang X") ──
    // Docs stream in the deterministic shuffle order; a doc is taken
    // while the cumulative token count BEFORE it is inside the budget
    // (the straddling doc is included, matching how sequence packing
    // consumes it). The running sum is Relational.keyedPrefixSum —
    // range partition on (lang, h, doc_id), per-(partition, lang)
    // offsets through the driver (O(parts + langs) rows), prefix as a
    // pure projection — so a language's scan parallelizes across as
    // many partitions as its data needs; no per-language single-task
    // window anywhere in the plan (PlanShapeSpec gates WindowExec out).
    "llm_token_budget" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // the per-lang running sum rides Relational.keyedPrefixSum
        // (range partition on (lang, h, doc_id) + per-key offsets) —
        // a lang spans as many partitions as its size demands, never
        // the single-task-per-lang window this query shipped with
        // through round 9; cum_before is the EXCLUSIVE prefix, i.e.
        // the inclusive psum minus the row's own tokens
        val t = Tables.documents(s, d)
          .withColumn("n_tokens", size(tokens).cast(LongType))
          .withColumn("h", expr(shuffleHashExpr))
        Relational.keyedPrefixSum(s, t, "lang",
            Seq($"h", $"doc_id"), "n_tokens")
          .withColumn("cum_before", $"psum" - $"n_tokens")
          .filter($"cum_before" < TokenBudget)
          .select($"doc_id", $"lang", $"n_tokens", $"cum_before")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len($tokensSql) AS BIGINT) AS n_tokens,
                 $shuffleHashSql AS h
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tokens,
            COALESCE(CAST(SUM(n_tokens) OVER (
              PARTITION BY lang ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
              AS cum_before
          FROM t)
        SELECT doc_id, lang, n_tokens, cum_before
        FROM c
        WHERE cum_before < $TokenBudget
        ORDER BY doc_id""")),

    // ── the end-to-end curation ledger (dedup → quality → budget) ──
    // The composition a curation run actually ships, as an AUDITABLE
    // ledger instead of a survivors-only view (llm_corpus_filter emits
    // the survivors; a data-governance review needs to know why every
    // OTHER document fell): one row per document with its final status
    // under the standard stage order — `duplicate` (exact dup, min
    // doc_id keeps), then `quality` (the corpus_filter gates: lang
    // allowlist, alpha ratio ≥ 0.6, 20 ≤ tokens ≤ 5000), then
    // `budget` (per-language token budget over the deterministic
    // shuffle order, counting CANDIDATE tokens only — dropped docs
    // must not consume budget), else `kept`. All three stages fold
    // into ONE corpus pass: the sha window, the quality predicates,
    // and the budget's conditional running sum (keyedPrefixSum with
    // value 0 for non-candidates — a lang spans as many partitions as
    // its size demands, no single-task-per-lang window). Stage
    // PRECEDENCE is part of the contract (a duplicate that also fails
    // quality reads `duplicate`), and the oracle re-derives the whole
    // ledger including the precedence.
    "llm_curation_pipeline" -> QueryDef(
      fn = (s, d) => curationLedger(Tables.documents(s, d)),
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang, text,
                 CAST(len($tokensSql) AS BIGINT) AS n_tokens,
                 CAST(length(text) - length(regexp_replace(text,
                     '[a-zA-Z]', '', 'g')) AS DOUBLE)
                   / nullif(CAST(length(text) AS DOUBLE), 0.0)
                   AS alpha_ratio,
                 MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id,
                 $shuffleHashSql AS h
          FROM documents),
        lab AS (
          SELECT doc_id, lang, n_tokens, h,
                 CASE WHEN doc_id <> keep_id THEN 'duplicate'
                      WHEN lang NOT IN ('en', 'de', 'fr', 'es')
                           OR alpha_ratio < 0.6
                           OR n_tokens NOT BETWEEN 20 AND 5000
                        THEN 'quality'
                      ELSE 'candidate' END AS status0
          FROM t),
        cum AS (
          SELECT doc_id, lang, n_tokens, status0,
                 COALESCE(CAST(SUM(CASE WHEN status0 = 'candidate'
                     THEN n_tokens END)
                   OVER (PARTITION BY lang ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
          FROM lab)
        SELECT doc_id, lang, n_tokens,
               CASE WHEN status0 <> 'candidate' THEN status0
                    WHEN cum_before >= $TokenBudget THEN 'budget'
                    ELSE 'kept' END AS status
        FROM cum
        ORDER BY doc_id""")),

    // ── temperature-based language sampling: keep rate ∝ n^α / n ──
    // The multilingual-mix sampler (mT5/XLM-R shape): languages are
    // sampled with probability proportional to count^α, α<1, so
    // low-resource languages are UP-weighted relative to their natural
    // ── UniMax mixing: epoch-capped uniform allocation over sources ──
    // The mT5/UniMax discipline (Chung et al. 2023): rather than
    // temperature-weighting (which over-samples small domains without
    // bound), give every domain an EQUAL share of the remaining budget
    // unless its full content x E epochs is smaller — processing
    // domains ASCENDING by size makes the shares self-balancing (what a
    // capped small domain leaves unspent raises everyone else's share).
    // All-integer semantics (floor division, sizes in chars). Scale
    // shape: the corpus is scanned once for per-source totals
    // (map-side-combined aggregate); the allocation itself runs in
    // [[unimaxAlloc]] — a WATER-LEVEL restatement of the sequential
    // ascending floor-share recurrence that distributes with no
    // domain-count cap (binary search on the level, one exact-integer
    // aggregate per step; CorpusAssemblySpec proves path equality on
    // randomized inputs and a >1M-domain synthetic), with the
    // sequential driver recurrence kept only as a small-census fast
    // path. The oracle replays the level search in closed form.
    "llm_unimax_mix" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val counts = Tables.documents(s, d).groupBy($"source")
          .agg(sum($"n_chars").cast(LongType).as("nd"))
        unimaxAlloc(counts, UniMaxBudget, UniMaxEpochs).orderBy($"source")
      },
      oracle = Some(s"""
        WITH c AS (
          SELECT source, CAST(SUM(n_chars) AS BIGINT) AS nd
          FROM documents GROUP BY source),
        o AS (
          SELECT source, nd, CAST($UniMaxEpochs * nd AS BIGINT) AS cap
          FROM c),
        r AS (
          SELECT source, nd, cap,
                 CAST(row_number() OVER (ORDER BY nd, source) AS BIGINT) AS i,
                 CAST(SUM(cap) OVER (ORDER BY nd, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS scap,
                 CAST(COALESCE(LAG(cap) OVER (ORDER BY nd, source), 0)
                   AS BIGINT) AS prev_cap,
                 (SELECT CAST(count(*) AS BIGINT) FROM o) AS m
          FROM o),
        lev AS (
          SELECT CASE
            WHEN (SELECT CAST(SUM(cap) AS BIGINT) FROM o) <= $UniMaxBudget
              THEN (SELECT CAST(MAX(cap) AS BIGINT) FROM o)
            ELSE (SELECT CAST(MAX(least(cap - 1,
                     (CAST($UniMaxBudget AS BIGINT) - (scap - cap))
                       // (m - i + 1))) AS BIGINT)
                  FROM r
                  WHERE least(cap - 1,
                     (CAST($UniMaxBudget AS BIGINT) - (scap - cap))
                       // (m - i + 1)) >= prev_cap)
            END AS lvl),
        fin AS (
          SELECT r.source, r.nd, r.cap, l.lvl,
                 CASE WHEN r.cap > l.lvl THEN
                   CAST(row_number() OVER (
                     ORDER BY (r.cap > l.lvl) DESC, r.nd DESC, r.source DESC)
                     AS BIGINT) END AS urk
          FROM r CROSS JOIN lev l),
        rem AS (
          SELECT CAST($UniMaxBudget AS BIGINT)
                 - (SELECT CAST(SUM(least(cap, lvl)) AS BIGINT) FROM fin)
                 AS rr)
        SELECT source, nd,
               CAST(least(cap, lvl)
                 + CASE WHEN urk IS NOT NULL AND urk <= (SELECT rr FROM rem)
                        THEN 1 ELSE 0 END AS BIGINT) AS alloc,
               (least(cap, lvl)
                 + CASE WHEN urk IS NOT NULL AND urk <= (SELECT rr FROM rem)
                        THEN 1 ELSE 0 END) = cap AS capped
        FROM fin
        ORDER BY source"""),
      headline = false),

    // share without the explicit per-domain targets of llm_domain_mix
    // (the fixture's lang column is genuinely skewed, en ≈ 3× fr). α
    // is fixed at 1/2 deliberately: sqrt is IEEE-correctly-rounded in
    // both engines where pow(x, 0.3) is transcendental and may differ
    // an ulp — this keeps the whole rate arithmetic bit-reproducible
    // (the per-language weights quantize to 9 digits and sum as exact
    // decimals before the one double division chain, written with
    // identical association on both sides). Same scale shape as the
    // other samplers: two tiny broadcast aggregates onto a map-only
    // hash-gated corpus scan — the corpus itself never shuffles, the
    // output census is one ≤|langs| aggregation.
    "llm_temperature_mix" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val counts = Tables.documents(s, d).groupBy($"lang")
          .agg(count(lit(1)).as("n_lang"))
          .pin() // feeds the weight sum AND the rate join
        val sw = counts
          .agg(sum(round(sqrt($"n_lang"), 9).cast(DecimalType(27, 9)))
            .cast(DoubleType).as("sw"))
        val rates = counts.crossJoin(broadcast(sw))
          .withColumn("rate", least(lit(1.0),
            lit(TemperatureBudget) * round(sqrt($"n_lang"), 9) / $"sw" / $"n_lang"))
          .pin() // feeds the gate join AND the census
        val kept = Tables.documents(s, d)
          .join(broadcast(rates.select($"lang", $"rate")), "lang")
          .filter(expr(gateExpr) < $"rate" * 1000000.0)
          .groupBy($"lang").agg(count(lit(1)).as("n_kept"))
        rates.join(kept, Seq("lang"), "left")
          .select($"lang", $"n_lang",
            coalesce($"n_kept", lit(0L)).as("n_kept"),
            round($"rate", 6).as("rate6"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
        s AS (SELECT CAST(SUM(CAST(round(sqrt(n_lang), 9) AS DECIMAL(27,9)))
                       AS DOUBLE) AS sw FROM c),
        r AS (SELECT lang, n_lang,
                least(1.0, $TemperatureBudget * round(sqrt(n_lang), 9)
                           / s.sw / n_lang) AS rate
              FROM c CROSS JOIN s),
        k AS (SELECT d.lang, COUNT(*) AS n_kept
              FROM documents d JOIN r USING (lang)
              WHERE $gateExpr < r.rate * 1000000.0
              GROUP BY d.lang)
        SELECT r.lang, r.n_lang, COALESCE(k.n_kept, 0) AS n_kept,
               round(r.rate, 6) AS rate6
        FROM r LEFT JOIN k USING (lang)
        ORDER BY r.lang""")),

    // ── DoReMi-style domain reweighting (one exponentiated-gradient
    //    round; Xie et al. 2023) ──
    // The principled sibling of llm_domain_mix's fixed targets and
    // llm_temperature_mix's count heuristic: re-weight domains by
    // EXCESS LOSS — domains a reference model finds harder than
    // average get up-weighted, α'_d ∝ α_d·exp(η·excess_d) (α₀ uniform
    // here, so it cancels into w_d/Σw). The per-domain loss proxy is
    // the corpus-unigram surprisal the CCNet-style scorers already
    // price (a deployment swaps in proxy-model losses — one column):
    // per-token mean surprisal as an EXACT integer micro rational
    // (decimal sum of 6-digit ln terms → su_units div n_tokens, both
    // engines flooring identically), excess as an exact integer
    // difference against the corpus-wide mean, and only then ONE
    // exp + one normalizing division in quantized double (the
    // ln/sqrt ulp discipline). Scale shape: the corpus-sized work is
    // the same two aggregates + broadcast-vocab join every surprisal
    // query runs; everything after the per-domain groupBy is
    // |domains|-row arithmetic.
    "llm_doremi_reweight" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", $"source", explode($"tokens").as("term"))
          .pin() // vocab counts + the scored join
        val counts = toks.groupBy($"term").agg(count(lit(1)).as("c"))
        val total = counts.agg(sum($"c").as("n_total"))
        val dom = toks.join(counts, Seq("term"))
          .crossJoin(broadcast(total))
          .withColumn("surprisal",
            round(log($"n_total".cast(DoubleType) / $"c"), 6)
              .cast(DecimalType(20, 6)))
          .groupBy($"source")
          .agg(countDistinct($"doc_id").as("n_docs"),
            count(lit(1)).as("n_tokens"),
            (sum($"surprisal") * 1000000).cast(LongType).as("su_units"))
          .withColumn("loss_micro", expr("su_units div n_tokens"))
          .pin() // ref mean + the weight rows
        val ref = dom.agg(expr("sum(su_units) div sum(n_tokens)")
          .as("ref_micro"))
        val wts = dom.crossJoin(broadcast(ref))
          .withColumn("excess_micro",
            greatest(lit(0L), $"loss_micro" - $"ref_micro"))
          .withColumn("w",
            round(exp($"excess_micro".cast(DoubleType) / 1000000.0 * 0.1), 6)
              .cast(DecimalType(20, 6)))
          .pin() // weight sum + the output rows
        val sw = wts.agg(sum($"w").cast(DoubleType).as("sum_w"))
        wts.crossJoin(broadcast(sw))
          .select($"source", $"n_docs", $"n_tokens", $"loss_micro",
            $"excess_micro",
            round($"w".cast(DoubleType) / $"sum_w", 9).as("weight"))
          .orderBy($"source")
      },
      oracle = Some(s"""
        WITH toksrc AS (
          SELECT doc_id, source, $tokensSql AS tokens FROM documents),
        t AS (SELECT doc_id, source, unnest(tokens) AS term FROM toksrc),
        c AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
        n AS (SELECT COUNT(*) AS n_total FROM t),
        sc AS (
          SELECT t.doc_id, t.source,
            CAST(round(ln(CAST(n.n_total AS DOUBLE) / c.c), 6)
              AS DECIMAL(20,6)) AS surprisal
          FROM t JOIN c USING (term) CROSS JOIN n),
        dom AS (
          SELECT source,
                 CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(SUM(surprisal) * 1000000 AS BIGINT) AS su_units
          FROM sc GROUP BY source),
        dom2 AS (
          SELECT source, n_docs, n_tokens, su_units,
                 CAST(su_units // n_tokens AS BIGINT) AS loss_micro
          FROM dom),
        ref AS (
          SELECT CAST(SUM(su_units) // SUM(n_tokens) AS BIGINT)
            AS ref_micro FROM dom2),
        wts AS (
          SELECT d2.source, d2.n_docs, d2.n_tokens, d2.loss_micro,
                 CAST(greatest(0, d2.loss_micro - ref.ref_micro) AS BIGINT)
                   AS excess_micro,
                 CAST(round(exp(
                     CAST(greatest(0, d2.loss_micro - ref.ref_micro)
                       AS DOUBLE) / 1000000.0 * 0.1), 6)
                   AS DECIMAL(20,6)) AS w
          FROM dom2 d2, ref),
        sw AS (SELECT CAST(SUM(w) AS DOUBLE) AS sum_w FROM wts)
        SELECT wts.source, wts.n_docs, wts.n_tokens, wts.loss_micro,
               wts.excess_micro,
               round(CAST(wts.w AS DOUBLE) / sw.sum_w, 9) AS weight
        FROM wts, sw
        ORDER BY wts.source""")),

    // ── overlapping context-window chunking (RAG/pretrain ingestion) ──
    // The chunker in front of every retrieval index and many packing
    // pipelines: windows of 32 tokens at stride 24 (8-token overlap so
    // no boundary sentence is lost), each chunk fingerprinted with the
    // double-prime rolling hash and joined against the GLOBAL
    // fingerprint census — `fp_count > 1` is the chunk-level duplicate
    // signal a RAG store dedups on before embedding (12× duplicated
    // chunks exist at sf0.1). Plan: tokens materialized ONCE per doc
    // (the Generate-fan-out barrier), starts from one `sequence`
    // posexplode, slice+join+hash map-side per chunk, then ONE
    // map-side-combined groupBy(fp) and ONE fp-equality join back —
    // no all-pairs anything. Short tails stay honest: the last chunk
    // is `least(32, n−start)` tokens, never padded.
    "llm_chunk_overlap" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val t = materialized(
            Tables.documents(s, d).select($"doc_id", tokens.as("toks")))
          .withColumn("n", size($"toks").cast(LongType))
          .filter($"n" > 0L)
        val ch = t
          .select($"doc_id", $"n", $"toks",
            posexplode(sequence(lit(0L), $"n" - 1L, lit(24L)))
              .as(Seq("i", "start")))
          .withColumn("n_toks", least(lit(32L), $"n" - $"start"))
          .withColumn("fp", graft.functions.RollingHash.rolling_hash2(
            array_join(slice($"toks", ($"start" + 1L).cast("int"),
              $"n_toks".cast("int")), " ")))
          .select($"doc_id", expr("start div 24").as("chunk_no"),
            $"start".as("tok_start"), $"n_toks", $"fp")
          .pin() // census + the join back
        val cnt = ch.groupBy($"fp").agg(count(lit(1)).as("fp_count"))
        ch.join(cnt, Seq("fp"))
          .select($"doc_id", $"chunk_no", $"tok_start", $"n_toks",
            $"fp", $"fp_count")
          .orderBy($"doc_id", $"chunk_no")
      },
      oracle = Some(s"""
        WITH d AS (
          SELECT doc_id, $tokensSql AS toks FROM documents),
        t AS (
          SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
          FROM d WHERE len(toks) > 0),
        st AS (
          SELECT doc_id, toks, n,
                 unnest(generate_series(0, n - 1, 24)) AS s
          FROM t),
        cs AS (
          SELECT doc_id, s, LEAST(32, n - s) AS n_toks,
                 array_to_string(toks[s + 1 : s + LEAST(32, n - s)], ' ')
                   AS chunk_str
          FROM st),
        ch AS (
          SELECT doc_id, s // 24 AS chunk_no, s AS tok_start, n_toks,
                 ${graft.functions.RollingHash.fp2Sql("chunk_str")} AS fp
          FROM cs),
        cnt AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS fp_count
                FROM ch GROUP BY fp)
        SELECT ch.doc_id, ch.chunk_no, ch.tok_start,
               CAST(ch.n_toks AS BIGINT) AS n_toks, ch.fp, cnt.fp_count
        FROM ch JOIN cnt USING (fp)
        ORDER BY ch.doc_id, ch.chunk_no"""),
      headline = false),

    // ── paragraph-level dedup with document reassembly (CCNet) ──
    // The web-corpus cleaner between exact-doc dedup and model
    // training (CCNet, Wenzek 2020; RefinedWeb keeps the same stage):
    // boilerplate paragraphs — navbars, cookie banners, license
    // footers — repeat across MILLIONS of pages that are not document
    // duplicates, so dedup must act BELOW the document: split every
    // doc into paragraphs (here non-overlapping 16-token blocks, the
    // llm_chunk_overlap splitter at stride = width), fingerprint each,
    // keep only the corpus-wide FIRST occurrence (smallest
    // (doc_id, para_no) — deterministic, order-independent), and
    // REASSEMBLE each doc from its surviving paragraphs in original
    // order. Plan: one posexplode per doc, ONE map-side-combined
    // groupBy(fp) min for the keeper census, ONE fp-equality join
    // back, then a per-doc collect_list bounded by the doc's own
    // length (never a corpus-wide window). The emitted kept_fp is the
    // rolling hash OF THE REASSEMBLED TEXT, so the oracle hash proves
    // the reassembly order, not just the counts; docs stripped to
    // nothing emit NULL on both engines. At 100 TB the keeper census
    // shuffles one (fp, key) pair per paragraph and the join is
    // fp-equality — never all-pairs; the first-occurrence rule keeps
    // the operator idempotent (re-running on its own output is the
    // identity), which is what makes it safe to run per-crawl-batch.
    // Paragraph ordinals stay below 2^20 (a 16M-token doc), so the
    // composite keeper key doc_id·2^20 + para_no is collision-free —
    // enforced with a loud require, not a comment.
    "llm_paragraph_dedup" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val t = materialized(
            Tables.documents(s, d).select($"doc_id", tokens.as("toks")))
          .withColumn("n", size($"toks").cast(LongType))
          .filter($"n" > 0L)
        val ch = t
          .select($"doc_id", $"n", $"toks",
            posexplode(sequence(lit(0L), $"n" - 1L, lit(16L)))
              .as(Seq("i", "start")))
          .withColumn("para_no", expr("start div 16"))
          .withColumn("n_toks", least(lit(16L), $"n" - $"start"))
          .withColumn("para_str", array_join(
            slice($"toks", ($"start" + 1L).cast("int"),
              $"n_toks".cast("int")), " "))
          .withColumn("fp",
            graft.functions.RollingHash.rolling_hash2($"para_str"))
          .withColumn("kk",
            when($"para_no" < (1L << 20),
                $"doc_id" * (1L << 20) + $"para_no")
              .otherwise(raise_error(lit(
                "llm_paragraph_dedup: para_no overflows the composite " +
                  "keeper key — widen the key"))))
          .select($"doc_id", $"para_no", $"n_toks", $"para_str",
            $"fp", $"kk")
          .pin() // keeper census + the join back
        val keeper = ch.groupBy($"fp").agg(min($"kk").as("keep_kk"))
        ch.join(keeper, Seq("fp"))
          .withColumn("kept", ($"kk" === $"keep_kk").cast("long"))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_paras"),
            sum($"kept").as("n_kept"),
            sum($"n_toks" * $"kept").as("kept_tokens"),
            sort_array(collect_list(when($"kept" === 1L,
              struct($"para_no", $"para_str")))).as("keptl"))
          .select($"doc_id", $"n_paras", $"n_kept", $"kept_tokens",
            when($"n_kept" > 0L, graft.functions.RollingHash.rolling_hash2(
              array_join(expr("transform(keptl, x -> x.para_str)"), " ")))
              .as("kept_fp"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH d AS (
          SELECT doc_id, $tokensSql AS toks FROM documents),
        t AS (
          SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
          FROM d WHERE len(toks) > 0),
        st AS (
          SELECT doc_id, n, toks,
                 unnest(generate_series(0, n - 1, 16)) AS s
          FROM t),
        cs AS (
          SELECT doc_id, s // 16 AS para_no,
                 LEAST(16, n - s) AS n_toks,
                 array_to_string(toks[s + 1 : s + LEAST(16, n - s)], ' ')
                   AS para_str
          FROM st),
        ch AS (
          SELECT doc_id, para_no, n_toks, para_str,
                 ${graft.functions.RollingHash.fp2Sql("para_str")} AS fp,
                 doc_id * 1048576 + para_no AS kk
          FROM cs),
        keeper AS (
          SELECT fp, MIN(kk) AS keep_kk FROM ch GROUP BY fp),
        kd AS (
          SELECT ch.*, CASE WHEN ch.kk = keeper.keep_kk
                            THEN 1 ELSE 0 END AS kept
          FROM ch JOIN keeper USING (fp)),
        agg AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_paras,
                 CAST(SUM(kept) AS BIGINT) AS n_kept,
                 CAST(SUM(n_toks * kept) AS BIGINT) AS kept_tokens,
                 string_agg(para_str, ' ' ORDER BY para_no)
                   FILTER (WHERE kept = 1) AS kept_str
          FROM kd GROUP BY doc_id)
        SELECT doc_id, n_paras, n_kept, kept_tokens,
               CASE WHEN n_kept > 0
                    THEN ${graft.functions.RollingHash.fp2Sql("kept_str")}
                    ELSE NULL END AS kept_fp
        FROM agg ORDER BY doc_id"""))
  )

  /** Number of BPE merges the learn/apply pair performs. */
  private val BpeMerges = 6

  /** Run the M BPE merge rounds over a seed frame carrying `c` (word
    * count), `seq` (sentinel-spaced symbol string), and any extra
    * columns (carried through untouched). Returns one best-pair frame
    * per round (1 literal row; 0 once the pair set empties) plus the
    * fully-merged frame — the SAME trajectory serves training (emit
    * the bests) and application (read the final seqs), which is what
    * keeps the two queries consistent.
    *
    * The per-round winner is ONE row, so it comes back as a bounded
    * driver scalar (r17; the q_hierarchy_rollup / llm_textrank
    * precedent): the merge becomes a LITERAL replace projection and
    * each best a literal local relation — no 1-row checkpoint job and
    * no broadcast exchange inside every later round's plan. An empty
    * pair set reproduces the old crossJoin-with-empty-best semantics
    * exactly: the merged frame empties and this and every later round
    * emit zero rows (the `filter(u.isNotNull)` / limit(1) contract
    * gated by OptimizationFoldSpec). */
  private def bpeTrain(seqs0: org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) = {
    val s = seqs0.sparkSession
    import s.implicits._
    val carry = seqs0.columns.filterNot(_ == "seq")
    var seqs = seqs0
    var dead = false
    val bests = (1 to BpeMerges).map { _ =>
      // argmax as ONE aggregate (r16): min of the struct
      // (-pair_n, u, v) IS the first row of ORDER BY pair_n DESC, u,
      // v — struct comparison is field-lexicographic and string
      // fields compare binary like the sort — so the global sort +
      // limit stage collapses into the partial-aggregating groupBy
      // pass that produced the pair counts (guide §2.3: aggregate
      // before you shuffle; one exchange fewer per merge round).
      val win =
        if (dead) None
        else seqs
          .withColumn("syms", split(trim($"seq"), " +"))
          .filter(size($"syms") >= 2)
          .select($"c", explode(expr(
            "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS u, syms[i] AS v))"))
            .as("p"))
          .groupBy($"p.u".as("u"), $"p.v".as("v"))
          .agg(sum($"c").as("pair_n"))
          .agg(min(struct((-$"pair_n").as("np"), $"u", $"v")).as("b"))
          .select($"b.u".as("u"), $"b.v".as("v"), (-$"b.np").as("pair_n"))
          .filter($"u".isNotNull) // empty pair set -> 0 rows, like limit(1)
          .collect().headOption
      win match {
        case Some(r) =>
          val (u, v) = (r.getString(0), r.getString(1))
          seqs = seqs.select(carry.map(col) :+
            replace($"seq", lit(s" $u  $v "), lit(s" $u$v ")).as("seq"): _*)
          Seq((u, v, r.getLong(2))).toDF("u", "v", "pair_n")
        case None =>
          dead = true
          seqs = seqs.limit(0)
          Seq.empty[(String, String, Long)].toDF("u", "v", "pair_n")
      }
    }
    (bests, seqs)
  }

  /** Sentinel-spaced character sequence of a term column (Spark side):
    * chars joined by two spaces, single-space ends. */
  private def seqExpr(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(" "),
      array_join(filter(split(term, ""), ch => ch =!= ""), "  "), lit(" "))

  /** DuckDB spelling of the M unrolled merge rounds over CTE `s0`;
    * `carry` lists the columns each s_i keeps alongside `seq`. */
  private def bpeRoundsSql(carry: String): String = (1 to BpeMerges).map { i =>
    s"""
        p$i AS (
          SELECT syms[j-1] AS u, syms[j] AS v, CAST(SUM(c) AS BIGINT) AS pair_n
          FROM (SELECT c, string_split_regex(trim(seq), ' +') AS syms FROM s${i - 1}),
               unnest(generate_series(2, len(syms))) AS t(j)
          WHERE len(syms) >= 2
          GROUP BY 1, 2),
        b$i AS (SELECT u, v, pair_n FROM p$i ORDER BY pair_n DESC, u, v LIMIT 1),
        s$i AS (
          SELECT $carry, replace(seq, ' ' || b.u || '  ' || b.v || ' ',
                                 ' ' || b.u || b.v || ' ') AS seq
          FROM s${i - 1}, b$i b)"""
  }.mkString(",")

  /** The UniMax allocator behind `llm_unimax_mix`, over any
    * (source: String, nd: Long) census — epoch-capped equal-share
    * budget allocation (Chung et al. 2023), EXACT integer semantics.
    *
    * The defining recurrence processes domains ascending by
    * (nd, source): share = remaining // domains_left,
    * a = min(E·nd, share), remaining -= a. Restated as a WATER LEVEL
    * it distributes: with caps c_i = E·nd_i, let L = max level with
    * Σ min(c_i, L) ≤ B (all-capped ⇒ L = max cap), spend
    * min(c_i, L) per domain, and hand the leftover R = B − Σ
    * min(c_i, L) as +1 to the R uncapped domains LARGEST in
    * (nd, source) order — exactly where the recurrence's
    * non-decreasing floor shares deposit their remainders
    * (CorpusAssemblySpec proves path equality on randomized censuses
    * and a >1M-domain synthetic; R < #uncapped by maximality of L).
    *
    * Scale shape: the sequential recurrence stays as the fast path up
    * to `seqPathMax` domains (a census that size is driver-safe
    * metadata); past it the level is binary-searched with ONE
    * map-side-combined `Σ min(cap, L)` aggregate per step
    * (≤ log₂(max cap) steps) over a pinned census, and the remainder
    * ranks ride [[Relational.globalRank]] — no driver-side compute
    * grows with the domain count, no cap. `probe` observes which path
    * ran (spec gate). */
  private[operators] def unimaxAlloc(
      counts: DataFrame, budget: Long, epochs: Long,
      seqPathMax: Long = 1L << 16,
      probe: String => Unit = _ => ()): DataFrame = {
    require(budget >= 0L, s"unimaxAlloc: negative budget $budget")
    require(epochs >= 0L, s"unimaxAlloc: negative epochs $epochs")
    val s = counts.sparkSession
    import s.implicits._
    val caps = counts
      .select(col("source"), col("nd").cast(LongType).as("nd"),
        (col("nd") * epochs).cast(LongType).as("cap"))
      .pin() // pins the census for the search passes
    val m = caps.count()
    if (m <= seqPathMax) {
      probe("sequential")
      val rows = caps.orderBy($"nd", $"source").collect()
      var remaining = budget
      val out = rows.zipWithIndex.map { case (r, idx) =>
        val share = remaining / (rows.length - idx) // domains left incl. me
        val a = math.min(r.getLong(2), share)
        remaining -= a
        (r.getString(0), r.getLong(1), a, a == r.getLong(2))
      }
      out.toSeq.toDF("source", "nd", "alloc", "capped")
    } else {
      probe("distributed")
      val ext = caps.agg(max($"cap").as("mx"),
        sum($"cap").cast(LongType).as("tot")).collect()(0)
      val (maxCap, total) = (ext.getLong(0), ext.getLong(1))
      def spent(l: Long): Long =
        caps.agg(sum(least($"cap", lit(l))).cast(LongType).as("sp"))
          .collect()(0).getLong(0)
      val level =
        if (total <= budget) maxCap
        else {
          var lo = 0L // spent(0) = 0 ≤ B
          var hi = maxCap // spent(maxCap) = total > B
          while (hi - lo > 1L) {
            val mid = lo + (hi - lo) / 2L
            if (spent(mid) <= budget) lo = mid else hi = mid
          }
          lo
        }
      val leftover =
        if (total <= budget) 0L // uncapped set empty; surplus unspendable
        else budget - spent(level)
      // uncapped ⇔ cap > level ⇔ nd past the level cut: descending
      // (nd, source) puts exactly the uncapped at ranks 0..u−1, so the
      // first `leftover` ranks take the +1 — no second pass, no join.
      Relational.globalRank(s, caps, Seq($"nd".desc, $"source".desc))
        .select($"source", $"nd",
          (least($"cap", lit(level)) +
            when($"cap" > level && $"rk" < leftover, 1L).otherwise(0L))
            .as("alloc"),
          $"cap")
        .withColumn("capped", $"alloc" === $"cap")
        .drop("cap")
    }
  }

  /** The curation ledger behind `llm_curation_pipeline`, over any
    * (doc_id, text, lang) frame — exposed for CorpusAssemblySpec's
    * planted-duplicate and cross-query-consistency gates. See the
    * query's comment for the stage order and precedence contract. */
  private[operators] def curationLedger(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .withColumn("n_tokens", size(tokens).cast(LongType))
      .withColumn("alpha_ratio",
        (length($"text") - length(regexp_replace($"text", "[a-zA-Z]", "")))
          .cast(DoubleType) /
          nullif(length($"text").cast(DoubleType), lit(0.0)))
      .withColumn("keep_id",
        min($"doc_id").over(Window.partitionBy(sha2($"text", 256))))
      .withColumn("h", expr(shuffleHashExpr))
    val labeled = base.withColumn("status0",
      when($"doc_id" =!= $"keep_id", "duplicate")
        .when(!$"lang".isin("en", "de", "fr", "es") ||
          $"alpha_ratio" < 0.6 ||
          !$"n_tokens".between(20, 5000), "quality")
        .otherwise("candidate"))
    // budget stage: per-lang running sum of CANDIDATE tokens only via
    // Relational.keyedPrefixSum (range partition on (lang, h, doc_id)
    // + per-key offsets — a lang spans as many partitions as its size
    // demands, never a single-task-per-lang window); non-candidates
    // carry value 0 so they consume no budget, and the EXCLUSIVE
    // prefix is the inclusive psum minus the row's own contribution
    val valued = labeled.withColumn("bv",
      when($"status0" === "candidate", $"n_tokens").otherwise(0L))
    Relational.keyedPrefixSum(s, valued, "lang",
        Seq($"h", $"doc_id"), "bv")
      .withColumn("cum_before", $"psum" - $"bv")
      .select($"doc_id", $"lang", $"n_tokens",
        when($"status0" =!= "candidate", $"status0")
          .when($"cum_before" >= TokenBudget, "budget")
          .otherwise("kept").as("status"))
      .orderBy($"doc_id")
  }

  // ── unigram-LM tokenizer (SentencePiece's other family) ──────────
  // Kudo 2018: score segmentations by a unigram language model over a
  // piece vocabulary, trained by EM; BPE above is the merge-rule
  // family, unigram is the probabilistic one — production tokenizers
  // ship one of the two. Here: hard (Viterbi) EM with a fixed round
  // count, everything on the DISTINCT-word table (the BPE discipline —
  // the corpus is scanned once for word counts and once for the apply
  // join; EM never touches corpus rows). Log-probs ride the
  // round(ln(exact-int ratio), 6)-DECIMAL idiom (the DSIR/surprisal
  // bit-parity pattern) converted to MICRO-NAT Longs, so every DP
  // comparison is integer arithmetic in both engines; DP ties break to
  // the LONGER last piece via the (cost·8 + 4−k) encoding — one Long
  // `least()` both engines order identically.

  /** Max piece length. 3 bits of the candidate encoding hold 4−k, so
    * raising this past 7 needs a wider shift. */
  private val UniMaxPiece = 4

  /** Seed-vocabulary cap: top-K substrings by weighted count (plus ALL
    * single chars, kept forever with a +1 count floor — the coverage
    * guarantee that makes every word segmentable). Production sizes
    * this in the tens of thousands; the mechanism is K-invariant. */
  private val UniSeedK = 64

  /** Fixed EM refit rounds (seed → segment → recount, twice). */
  private val UniRounds = 2

  /** The distinct-word frequency table — ONE corpus scan. */
  private def uniWords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(tokens).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("f"))
  }

  /** Seed candidate vocabulary: every ≤[[UniMaxPiece]]-char substring
    * of every distinct word, weighted by word frequency; top
    * [[UniSeedK]] by (count desc, piece asc) ∪ all single chars. */
  private def uniSeed(words: DataFrame): DataFrame = {
    import words.sparkSession.implicits._
    val sub = words
      .select($"f", explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
              transform(sequence(1, least($UniMaxPiece, length(word) - i + 1)),
                k -> substring(word, i, k))))""")).as("piece"))
      .groupBy($"piece").agg(sum($"f").as("c"))
      .pin() // the top-K sort + the singles filter
    sub.orderBy($"c".desc, $"piece").limit(UniSeedK)
      .unionByName(sub.filter(length($"piece") === 1))
      .distinct()
  }

  /** Micro-nat piece costs from a (piece, c) vocabulary:
    * cost = −round(ln(c/T), 6)·10⁶ as a Long — the 6-digit DECIMAL
    * cast makes the micro conversion exact (never double·10⁶). */
  private def uniCost(vocab: DataFrame): DataFrame = {
    import vocab.sparkSession.implicits._
    val tot = vocab.agg(sum($"c").cast(LongType).as("t"))
    vocab.crossJoin(broadcast(tot))
      .select($"piece", expr(
        "cast(cast(round(ln(cast(c as double) / t), 6) as decimal(20,6))" +
          " * -1000000 as bigint)").as("cost_u"))
  }

  /** Viterbi candidate at lambda position j ending with a k-char
    * piece, encoded (total·8 + 4−k) so `least` picks min cost with
    * ties to the LONGER piece. try_element_at: a missing piece is
    * null, which `least` skips (k = 1 always hits — single chars
    * never leave the vocabulary). */
  private def uniEnc(costsRef: String): String = {
    val cands = (1 to UniMaxPiece).map { k =>
      s"""IF(j >= $k, (element_at($costsRef, j - $k + 1) +
            try_element_at(vc, substring(word, j - $k + 1, $k))) * 8
            + ${4 - k}, cast(null as bigint))"""
    }
    s"least(${cands.mkString(", ")})"
  }

  /** The whole per-word Viterbi DP as ONE codegen'd fold over the
    * character positions: state = (best-cost prefix array, encoded
    * backpointer array). */
  private def uniDpExpr: String =
    s"""aggregate(
          sequence(1, length(word)),
          named_struct('costs', array(cast(0 as bigint)),
                       'back', cast(array() as array<bigint>)),
          (st, j) -> named_struct(
            'costs', concat(st.costs, array((${uniEnc("st.costs")}) div 8)),
            'back', concat(st.back, array(${uniEnc("st.costs")}))))"""

  private def uniK(pos: String): String =
    s"(4 - (element_at(dp.back, $pos) % 8))"

  /** Backtrace fold: walks the encoded backpointers from the word end,
    * emitting the chosen pieces in order. */
  private def uniBacktraceExpr: String =
    s"""aggregate(
          sequence(1, length(word)),
          named_struct('pos', length(word),
                       'pieces', cast(array() as array<string>)),
          (st, x) -> IF(st.pos > 0,
            named_struct(
              'pos', cast(st.pos - ${uniK("st.pos")} as int),
              'pieces', concat(array(substring(word,
                cast(st.pos - ${uniK("st.pos")} + 1 as int),
                cast(${uniK("st.pos")} as int))), st.pieces)),
            st),
          st -> st.pieces)"""

  /** Segment every distinct word under the given piece costs: the
    * vocabulary rides ONE broadcast map column; the DP and backtrace
    * are per-row folds — no shuffle beyond the broadcast. Returns
    * (word, f, wcost, pieces). */
  private[operators] def uniSegmented(words: DataFrame, cost: DataFrame): DataFrame = {
    import words.sparkSession.implicits._
    val vc = cost.agg(
      map_from_entries(collect_list(struct($"piece", $"cost_u"))).as("vc"))
    words.crossJoin(broadcast(vc))
      .withColumn("dp", expr(uniDpExpr))
      .select($"word", $"f",
        expr("element_at(dp.costs, length(word) + 1)").as("wcost"),
        expr(uniBacktraceExpr).as("pieces"))
  }

  /** M-step: piece counts from the Viterbi paths (weighted by word
    * frequency); single chars keep a +1 floor so they never drop out,
    * multi-char pieces survive only while some path uses them. */
  private def uniRecount(seg: DataFrame, vocabPrev: DataFrame): DataFrame = {
    import seg.sparkSession.implicits._
    val vit = seg.select(explode($"pieces").as("piece"), $"f")
      .groupBy($"piece").agg(sum($"f").as("vc_n"))
      .pin() // singles join + multi-char filter
    vocabPrev.filter(length($"piece") === 1).select($"piece")
      .join(vit, Seq("piece"), "left")
      .select($"piece", (coalesce($"vc_n", lit(0L)) + 1L).as("c"))
      .unionByName(
        vit.filter(length($"piece") > 1).select($"piece", $"vc_n".as("c")))
  }

  /** The full fixed-round EM: seed → (segment, recount) × rounds.
    * Exposed for CorpusAssemblySpec's hand-checked fixture gates. */
  private[operators] def uniTrain(words0: DataFrame): DataFrame = {
    val words = words0.pin() // every round re-reads it
    var vocab = uniSeed(words).pin()
    for (_ <- 1 to UniRounds) {
      val seg = uniSegmented(words, uniCost(vocab))
      vocab = uniRecount(seg, vocab).pin()
    }
    vocab
  }

  /** One DP + backtrace round in DuckDB: recursive CTEs carrying the
    * cost/backpointer lists as list columns; candidates come from four
    * LEFT JOINs against the round's cost CTE, encoded and `least`-ed
    * exactly like the Spark fold. */
  private def uniDpCtesSql(i: Int, costCte: String): String = {
    val cands = (1 to UniMaxPiece).map { k =>
      s"""CASE WHEN r.j + 1 >= $k AND v$k.cost_u IS NOT NULL
                THEN (r.costs[r.j + 2 - $k] + v$k.cost_u) * 8 + ${4 - k}
           END"""
    }.mkString(",\n              ")
    val joins = (1 to UniMaxPiece).map { k =>
      s"LEFT JOIN $costCte v$k ON r.j + 1 >= $k" +
        s" AND v$k.piece = substr(r.word, r.j + 2 - $k, $k)"
    }.mkString("\n            ")
    s"""
        dp$i AS (
          SELECT word, f, 0 AS j,
                 [CAST(0 AS BIGINT)] AS costs, CAST([] AS BIGINT[]) AS back
          FROM w
          UNION ALL
          SELECT word, f, j + 1, costs || [enc // 8], back || [enc]
          FROM (
            SELECT r.word, r.f, r.j, r.costs, r.back,
                   least($cands) AS enc
            FROM dp$i r
            $joins
            WHERE r.j < length(r.word)) x),
        seg$i AS MATERIALIZED (
          SELECT word, f, costs[length(word) + 1] AS wcost, back
          FROM dp$i WHERE j = length(word)),
        bt$i AS (
          SELECT word, f, CAST(length(word) AS BIGINT) AS pos, back,
                 CAST([] AS VARCHAR[]) AS pieces
          FROM seg$i
          UNION ALL
          SELECT word, f, pos - (4 - (back[pos] % 8)), back,
                 [substr(word, CAST(pos - (4 - (back[pos] % 8)) + 1 AS INT),
                         CAST(4 - (back[pos] % 8) AS INT))] || pieces
          FROM bt$i WHERE pos > 0),
        path$i AS MATERIALIZED (SELECT word, f, pieces FROM bt$i WHERE pos = 0)"""
  }

  /** M-step + next-round costs in DuckDB, mirroring [[uniRecount]] /
    * [[uniCost]]. */
  private def uniRecountSql(i: Int): String = s"""
        vit$i AS MATERIALIZED (
          SELECT piece, CAST(SUM(f) AS BIGINT) AS vc_n
          FROM (SELECT f, unnest(pieces) AS piece FROM path$i)
          GROUP BY piece),
        vocab${i + 1} AS MATERIALIZED (
          SELECT s.piece, COALESCE(v.vc_n, 0) + 1 AS c
          FROM (SELECT piece FROM vocab$i WHERE length(piece) = 1) s
          LEFT JOIN vit$i v USING (piece)
          UNION ALL
          SELECT piece, vc_n AS c FROM vit$i WHERE length(piece) > 1),
        tot${i + 1} AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab${i + 1}),
        cost${i + 1} AS MATERIALIZED (
          SELECT piece,
                 CAST(CAST(round(ln(CAST(c AS DOUBLE) / t), 6)
                   AS DECIMAL(20,6)) * -1000000 AS BIGINT) AS cost_u
          FROM vocab${i + 1}, tot${i + 1})"""

  /** Seed vocabulary + initial costs in DuckDB, mirroring
    * [[uniWords]] / [[uniSeed]] / [[uniCost]]. */
  private def uniSeedSql: String = s"""
        w AS MATERIALIZED (
          SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS f FROM (
            SELECT unnest($tokensSql) AS term FROM documents)
          GROUP BY term),
        sub AS MATERIALIZED (
          SELECT piece, CAST(SUM(f) AS BIGINT) AS c
          FROM (
            SELECT f, unnest(flatten(list_transform(
              generate_series(1, length(word)), i ->
                list_transform(generate_series(1,
                  least($UniMaxPiece, length(word) - i + 1)),
                  k -> substr(word, CAST(i AS INT), CAST(k AS INT)))))) AS piece
            FROM w)
          GROUP BY piece),
        vocab0 AS MATERIALIZED (
          -- DISTINCT over UNION ALL, not bare UNION: inside a WITH
          -- RECURSIVE clause DuckDB does NOT dedup this union (singles
          -- in the top-K survive twice), which multiplies every DP row
          -- per duplicated piece and blows up the EM rounds.
          SELECT DISTINCT piece, c FROM (
            (SELECT piece, c FROM sub ORDER BY c DESC, piece LIMIT $UniSeedK)
            UNION ALL
            SELECT piece, c FROM sub WHERE length(piece) = 1)),
        tot0 AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab0),
        cost0 AS MATERIALIZED (
          SELECT piece,
                 CAST(CAST(round(ln(CAST(c AS DOUBLE) / t), 6)
                   AS DECIMAL(20,6)) * -1000000 AS BIGINT) AS cost_u
          FROM vocab0, tot0)"""

  /** The shared learn-trajectory CTE chain: seed + [[UniRounds]] EM
    * rounds, ending at vocab/cost `$UniRounds`. Every non-recursive
    * CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, so each
    * iteration of round i+1's recursive DP would otherwise re-evaluate
    * the ENTIRE round-i chain per cost-table join (measured 0.5 s vs
    * 30+ s for dp1 alone at sf0.001, compounding per round). */
  private def uniLearnCtes: String =
    uniSeedSql + "," +
      (0 until UniRounds).map(i =>
        uniDpCtesSql(i, s"cost$i") + "," + uniRecountSql(i)).mkString(",")

  // ── WordPiece tokenizer (the third production family) ────────────
  // Schuster & Nakajima 2012 / Wu et al. 2016: BPE merges the most
  // FREQUENT adjacent pair; WordPiece merges the pair maximizing the
  // unigram-LM likelihood GAIN, score = count(uv)/(count(u)·count(v))
  // — a frequent pair of rare symbols beats a frequent pair of
  // ubiquitous ones. Training rides the BPE machinery (sentinel-
  // spaced distinct-word table, literal-replace merges) with the
  // argmax re-scored; inference is WordPiece's OTHER distinctive
  // half: greedy longest-match-first against the learned vocabulary
  // (not merge-order replay — the two can disagree, which is why
  // BERT's tokenizer ships the vocab, not the merges).

  /** Number of WordPiece merge rounds. */
  private val WpMerges = 6

  /** The M scored merge rounds over a seed frame carrying `c` and
    * `seq` (the [[bpeTrain]] contract). The argmax key is the
    * likelihood score as ONE double division over exact integers —
    * CAST(pair_n)/(CAST(u_n)·CAST(v_n)) is the identical IEEE chain
    * in both engines (the q_corr_manual discipline), and distinct
    * rationals colliding at double precision fall to the
    * deterministic (pair_n desc, u, v) tiebreak, so the trajectory is
    * engine-reproducible. Each round: one vocabulary-sized symbol
    * count, one pair count, a 1-row winner collected as a bounded
    * driver scalar (the merge is then a literal projection). */
  private[operators] def wpTrain(seqs0: org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) = {
    val s = seqs0.sparkSession
    import s.implicits._
    val carry = seqs0.columns.filterNot(_ == "seq")
    var seqs = seqs0
    var dead = false
    val bests = (1 to WpMerges).map { _ =>
      val win =
        if (dead) None
        else {
          // symbol counts and pair counts are two branches of ONE
          // action now (the winner collects below), both map-only
          // replays of the checkpointed seed + the literal replace
          // chain — the old per-round eager checkpoint of the whole
          // symbolized vocab frame bought nothing but its own job (r17)
          val symd = seqs.withColumn("syms", split(trim($"seq"), " +"))
          val unit = symd.select($"c", explode($"syms").as("sym"))
            .groupBy($"sym").agg(sum($"c").as("sym_n"))
          symd
            .filter(size($"syms") >= 2)
            .select($"c", explode(expr(
              "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS u, syms[i] AS v))"))
              .as("p"))
            .groupBy($"p.u".as("u"), $"p.v".as("v"))
            .agg(sum($"c").as("pair_n"))
            .join(unit.select($"sym".as("u"), $"sym_n".as("u_n")), Seq("u"))
            .join(unit.select($"sym".as("v"), $"sym_n".as("v_n")), Seq("v"))
            .withColumn("score", $"pair_n".cast(DoubleType) /
              ($"u_n".cast(DoubleType) * $"v_n".cast(DoubleType)))
            // argmax as ONE aggregate (r16, the bpeTrain move): min of
            // (-score, -pair_n, u, v) IS the first row of the old ORDER
            // BY score DESC, pair_n DESC, u, v (score is a positive
            // finite double, so negation preserves total order); the
            // global sort + limit stage folds into the scoring pass.
            .agg(min(struct((-$"score").as("ns"), (-$"pair_n").as("np"),
              $"u", $"v", $"u_n", $"v_n")).as("b"))
            .select($"b.u".as("u"), $"b.v".as("v"), (-$"b.np").as("pair_n"),
              $"b.u_n".as("u_n"), $"b.v_n".as("v_n"), (-$"b.ns").as("score"))
            .filter($"u".isNotNull) // empty pair set -> 0 rows, like limit(1)
            .collect().headOption // the 1-row winner: a bounded driver
          // scalar (r17, the bpeTrain move) — the merge below becomes a
          // literal projection, no broadcast in later rounds' plans
        }
      win match {
        case Some(r) =>
          val (u, v) = (r.getString(0), r.getString(1))
          seqs = seqs.select(carry.map(col) :+
            replace($"seq", lit(s" $u  $v "), lit(s" $u$v ")).as("seq"): _*)
          Seq((u, v, r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
            .toDF("u", "v", "pair_n", "u_n", "v_n", "score")
        case None =>
          dead = true
          seqs = seqs.limit(0)
          Seq.empty[(String, String, Long, Long, Long, Double)]
            .toDF("u", "v", "pair_n", "u_n", "v_n", "score")
      }
    }
    (bests, seqs)
  }

  /** DuckDB spelling of the M scored rounds over CTE `s0` — the
    * [[bpeRoundsSql]] shape with the likelihood argmax. Every CTE is
    * AS MATERIALIZED (the unigram lesson: a recursive consumer would
    * otherwise re-evaluate the whole chain per iteration). */
  private def wpRoundsSql(carry: String): String = (1 to WpMerges).map { i =>
    s"""
        u$i AS MATERIALIZED (
          SELECT sym, CAST(SUM(c) AS BIGINT) AS sym_n
          FROM (SELECT c, unnest(string_split_regex(trim(seq), ' +')) AS sym
                FROM s${i - 1})
          GROUP BY sym),
        p$i AS MATERIALIZED (
          SELECT syms[j-1] AS u, syms[j] AS v, CAST(SUM(c) AS BIGINT) AS pair_n
          FROM (SELECT c, string_split_regex(trim(seq), ' +') AS syms FROM s${i - 1}),
               unnest(generate_series(2, len(syms))) AS t(j)
          WHERE len(syms) >= 2
          GROUP BY 1, 2),
        b$i AS MATERIALIZED (
          SELECT u, v, pair_n, uu.sym_n AS u_n, vv.sym_n AS v_n,
                 CAST(pair_n AS DOUBLE)
                   / (CAST(uu.sym_n AS DOUBLE) * CAST(vv.sym_n AS DOUBLE))
                   AS score
          FROM p$i
          JOIN u$i uu ON uu.sym = p$i.u
          JOIN u$i vv ON vv.sym = p$i.v
          ORDER BY score DESC, pair_n DESC, u, v LIMIT 1),
        s$i AS MATERIALIZED (
          SELECT $carry, replace(seq, ' ' || b.u || '  ' || b.v || ' ',
                                 ' ' || b.u || b.v || ' ') AS seq
          FROM s${i - 1}, b$i b)"""
  }.mkString(",")

  /** Greedy longest-match piece count per distinct word under a
    * COLLECTED WordPiece vocabulary (coordinator-sized by
    * construction: the initial characters plus one piece per merge —
    * the PQ-LUT discipline). The per-word matcher is one codegen'd
    * fold: at each position take the longest vocab piece that fits
    * (single characters always match, so in-corpus words always
    * segment); the fold runs length(word) steps, enough since every
    * step advances ≥ 1. */
  private[operators] def wpGreedyCount(
      words: org.apache.spark.sql.DataFrame,
      pieces: Seq[String]): org.apache.spark.sql.DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val maxL = pieces.map(_.length).max
    val vc = pieces.sortBy(identity)
      .map(p => (p, 1)).toDF("piece", "one")
      .agg(map_from_entries(collect_list(struct($"piece", $"one"))).as("vc"))
    def kExpr(pos: String): String = {
      val cands = (maxL to 1 by -1).map { k =>
        s"""IF(length(word) - $pos + 1 >= $k AND
              try_element_at(vc, substring(word, $pos, $k)) IS NOT NULL,
              $k, cast(null as int))"""
      }
      s"coalesce(${cands.mkString(", ")})"
    }
    words.crossJoin(broadcast(vc))
      .withColumn("n_pieces", expr(
        s"""aggregate(
              sequence(1, length(word)),
              named_struct('pos', 1, 'np', cast(0 as bigint)),
              (st, x) -> IF(st.pos <= length(word),
                named_struct('pos', st.pos + ${kExpr("st.pos")},
                             'np', st.np + 1),
                st),
              st -> st.np)"""))
      .drop("vc")
  }

  override val queries: Map[String, QueryDef] = baseQueries ++ Map(

    // ── BPE merge learning: tokenizer TRAINING, distributed ──
    // The actual byte-pair-encoding training loop (Sennrich et al.
    // 2016), not just tokenization-by-regex (`llm_bpe_token_count`):
    // each round counts adjacent symbol pairs over the word-frequency
    // table, takes the argmax pair (count desc, pair asc —
    // deterministic), and merges its non-overlapping left-to-right
    // occurrences in every word. Output is the learned merge table —
    // what a tokenizer ships. Scale: classic BPE trains off the
    // DISTINCT-word count table, not the corpus — the corpus is
    // scanned ONCE for word counts (map-side combined); each of the
    // fixed M rounds then costs one vocabulary-sized pair count
    // (shuffle on the pair key) plus a broadcast of the single winning
    // pair. Symbol sequences ride a sentinel-spaced string — tokens
    // joined by TWO spaces with single-space ends — so the merge is a
    // literal `replace(' x  y ', ' xy ')`: left-to-right non-overlap
    // replacement consumes one sentinel from each boundary, which
    // restores the invariant and resolves overlapping runs (a a a a →
    // aa aa) exactly as greedy BPE does, identically in both engines.
    // The oracle unrolls all M rounds: pair counts, argmax, and every
    // merged sequence are re-derived by DuckDB, so the whole training
    // trajectory is hash-checked.
    "llm_bpe_learn" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val seqs0 = Tables.documents(s, d)
          .select(explode(tokens).as("term"))
          .groupBy($"term").agg(count(lit(1)).as("c"))
          .select($"c", seqExpr($"term").as("seq"))
          .pin() // one corpus scan; M rounds re-read the vocab
        val (bests, _) = bpeTrain(seqs0)
        bests.zipWithIndex.map { case (b, i) =>
          b.select(lit(i + 1).as("step"), $"u".as("lhs"), $"v".as("rhs"), $"pair_n")
        }.reduce(_ union _).orderBy($"step")
      },
      oracle = Some {
        val out = (1 to BpeMerges)
          .map(i => s"SELECT $i AS step, u AS lhs, v AS rhs, pair_n FROM b$i")
          .mkString("\n        UNION ALL ")
        s"""
        WITH w AS (
          SELECT term, COUNT(*) AS c FROM (
            SELECT unnest($tokensSql) AS term FROM documents)
          GROUP BY term),
        s0 AS (
          SELECT c, ' ' || array_to_string(
            list_filter(string_split(term, ''), ch -> ch <> ''), '  ') || ' ' AS seq
          FROM w),${bpeRoundsSql("c")}
        $out
        ORDER BY step"""
      },
      headline = true),

    // ── BPE application: tokenizer INFERENCE with the learned merges ──
    // The other half of the tokenizer pair: re-derives the same merge
    // trajectory (identical plan prefix as `llm_bpe_learn` — a
    // deployment reads the persisted merge table instead) and
    // segments the corpus with it, reporting per document the
    // whitespace-token, character, and resulting SUBWORD counts — the
    // numbers that size a training run under a learned vocabulary.
    // Scale shape: merges apply to the DISTINCT-word table (the final
    // trajectory frame IS the applied vocabulary), and the per-doc
    // numbers come from ONE broadcast join of that vocabulary onto the
    // token stream + one map-side-combined per-doc sum — the corpus is
    // never re-segmented row by row.
    "llm_bpe_apply" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docToks = Tables.documents(s, d)
          .select($"doc_id", explode(tokens).as("term"))
          .pin() // 2 consumers: vocab build + per-doc join
        val seqs0 = docToks
          .groupBy($"term").agg(count(lit(1)).as("c"))
          .select($"term", $"c", seqExpr($"term").as("seq"))
          .pin() // M rounds re-read the vocab (r17: the
          // un-pinned frame re-ran its groupBy exchange once per round)
        val (_, applied) = bpeTrain(seqs0)
        val vocab = applied.select($"term",
          size(split(trim($"seq"), " +")).cast(LongType).as("n_sub"))
        docToks.join(broadcast(vocab), Seq("term"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(length($"term")).cast(LongType).as("n_chars"),
            sum($"n_sub").as("n_subwords"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, unnest($tokensSql) AS term FROM documents),
        w AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
        s0 AS (
          SELECT term, c, ' ' || array_to_string(
            list_filter(string_split(term, ''), ch -> ch <> ''), '  ') || ' ' AS seq
          FROM w),${bpeRoundsSql("term, c")}
        , vocab AS (
          SELECT term,
                 CAST(len(string_split_regex(trim(seq), ' +')) AS BIGINT) AS n_sub
          FROM s$BpeMerges)
        SELECT t.doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(length(t.term)) AS BIGINT) AS n_chars,
               CAST(SUM(v.n_sub) AS BIGINT) AS n_subwords
        FROM t JOIN vocab v USING (term)
        GROUP BY t.doc_id
        ORDER BY doc_id""")),

    // ── unigram-LM tokenizer TRAINING (Kudo 2018, hard-EM) ──
    // See the unigram section comment above [[uniTrain]]: seeded
    // candidate substrings → fixed-round Viterbi EM over the
    // distinct-word table, micro-nat integer costs, ties to the
    // longer piece. Output: the learned piece table with final counts
    // and costs — what a tokenizer ships. The oracle replays the
    // ENTIRE trajectory (seed, both EM rounds' DP + backtrace +
    // recount) via recursive CTEs, so every segmentation decision is
    // hash-checked, not just the final table.
    "llm_unigram_learn" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val vocab = uniTrain(uniWords(s, d)).pin()
        vocab.join(uniCost(vocab), Seq("piece"))
          .select($"piece", $"c".cast(LongType).as("cnt"), $"cost_u")
          .orderBy($"piece")
      },
      oracle = Some(s"""
        WITH RECURSIVE $uniLearnCtes
        SELECT v.piece, CAST(v.c AS BIGINT) AS cnt, c2.cost_u
        FROM vocab$UniRounds v JOIN cost$UniRounds c2 USING (piece)
        ORDER BY piece""")),

    // ── unigram-LM tokenizer INFERENCE ──
    // Re-derives the learned vocabulary (a deployment reads the
    // persisted table) and segments the corpus: Viterbi runs ONCE per
    // DISTINCT word, then one broadcast join onto the token stream and
    // a map-side-combined per-doc sum — corpus rows are never
    // re-segmented individually. Per document: word, piece, and total
    // micro-nat cost counts — the numbers that size a training run
    // under the learned vocabulary.
    "llm_unigram_apply" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val words = uniWords(s, d).pin() // EM + apply join
        val vocab = uniTrain(words)
        val seg = uniSegmented(words, uniCost(vocab))
          .select($"word", $"wcost",
            size($"pieces").cast(LongType).as("n_pieces"))
        Tables.documents(s, d)
          .select($"doc_id", explode(tokens).as("word"))
          .join(broadcast(seg), Seq("word"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum($"n_pieces").as("n_pieces"),
            sum($"wcost").as("cost_micro"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE $uniLearnCtes,${uniDpCtesSql(UniRounds, s"cost$UniRounds")},
        t AS (
          SELECT doc_id, unnest($tokensSql) AS word FROM documents)
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(p.pieces)) AS BIGINT) AS n_pieces,
               CAST(SUM(s.wcost) AS BIGINT) AS cost_micro
        FROM t
        JOIN seg$UniRounds s ON s.word = t.word
        JOIN path$UniRounds p ON p.word = t.word
        GROUP BY t.doc_id
        ORDER BY t.doc_id""")),

    // ── WordPiece tokenizer TRAINING (likelihood-scored merges) ──
    // See the WordPiece section comment above [[wpTrain]]: the BPE
    // trajectory with the argmax re-scored to the unigram-likelihood
    // gain count(uv)/(count(u)·count(v)) — the third production
    // tokenizer family beside BPE (frequency merges) and unigram-LM
    // (probabilistic pruning). Output: the merge table with its
    // likelihood evidence per round — pair count, both symbol counts,
    // and the score (ONE double division over exact integers,
    // IEEE-identical in both engines). The oracle unrolls all rounds:
    // symbol counts, pair counts, the scored argmax, and every merged
    // sequence are re-derived in SQL, so the whole trajectory —
    // including every double comparison the argmax made — is
    // hash-checked.
    "llm_wordpiece_learn" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val seqs0 = Tables.documents(s, d)
          .select(explode(tokens).as("term"))
          .groupBy($"term").agg(count(lit(1)).as("c"))
          .select($"c", seqExpr($"term").as("seq"))
          .pin() // one corpus scan; M rounds re-read it
        val (bests, _) = wpTrain(seqs0)
        bests.zipWithIndex.map { case (b, i) =>
          b.select(lit(i + 1).as("step"), $"u".as("lhs"), $"v".as("rhs"),
            $"pair_n", $"u_n".as("lhs_n"), $"v_n".as("rhs_n"), $"score")
        }.reduce(_ union _).orderBy($"step")
      },
      oracle = Some {
        val out = (1 to WpMerges)
          .map(i => s"SELECT $i AS step, u AS lhs, v AS rhs, pair_n, " +
            s"u_n AS lhs_n, v_n AS rhs_n, score FROM b$i")
          .mkString("\n        UNION ALL ")
        s"""
        WITH w AS (
          SELECT term, COUNT(*) AS c FROM (
            SELECT unnest($tokensSql) AS term FROM documents)
          GROUP BY term),
        s0 AS (
          SELECT c, ' ' || array_to_string(
            list_filter(string_split(term, ''), ch -> ch <> ''), '  ') || ' ' AS seq
          FROM w),${wpRoundsSql("c")}
        $out
        ORDER BY step"""
      }),

    // ── WordPiece INFERENCE: greedy longest-match segmentation ──
    // WordPiece's distinctive apply half: BERT-style tokenizers ship
    // the VOCABULARY (initial characters + one piece per merge) and
    // segment each word greedily, always taking the longest vocab
    // piece that fits — NOT a replay of the merge order (the two can
    // disagree once a late merge absorbs an early piece). The learned
    // vocabulary is coordinator-sized by construction (chars + M
    // pieces), so it rides one collected broadcast map and the greedy
    // matcher is one codegen'd fold per DISTINCT word; per-doc counts
    // are one broadcast join + a map-side-combined sum (the unigram
    // apply shape — corpus rows are never re-segmented). The oracle
    // replays learn + the greedy walk (a recursive CTE advancing each
    // word's cursor by its longest match, MATERIALIZED inputs per the
    // unigram lesson) and hash-checks every per-doc count.
    "llm_wordpiece_apply" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docToks = Tables.documents(s, d)
          .select($"doc_id", explode(tokens).as("term"))
          .pin() // vocab build + per-doc join
        val seqs0 = docToks
          .groupBy($"term").agg(count(lit(1)).as("c"))
          .select($"term", $"c", seqExpr($"term").as("seq"))
          .pin() // chars + the merge trajectory
        val (bests, _) = wpTrain(seqs0.select($"c", $"seq"))
        // the shipped vocabulary: every initial character + the M
        // merge outputs — collected ONCE, ≤ |alphabet| + M rows
        val chars = seqs0
          .select(explode(split(trim($"seq"), " +")).as("piece"))
          .distinct()
        val merged = bests
          .map(_.select(concat($"u", $"v").as("piece")))
          .reduce(_ unionByName _)
        val pieces = chars.unionByName(merged).distinct()
          .collect().map(_.getString(0)).toSeq
        val seg = wpGreedyCount(
          seqs0.select($"term".as("word")), pieces)
        docToks.join(broadcast(
            seg.select($"word".as("term"), $"n_pieces")), Seq("term"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(length($"term")).cast(LongType).as("n_chars"),
            sum($"n_pieces").as("n_pieces"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE t AS MATERIALIZED (
          SELECT doc_id, unnest($tokensSql) AS term FROM documents),
        w AS MATERIALIZED (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
        s0 AS MATERIALIZED (
          SELECT term, c, ' ' || array_to_string(
            list_filter(string_split(term, ''), ch -> ch <> ''), '  ') || ' ' AS seq
          FROM w),${wpRoundsSql("term, c")},
        vocab AS MATERIALIZED (
          SELECT DISTINCT piece FROM (
            SELECT unnest(list_filter(string_split(term, ''), ch -> ch <> ''))
              AS piece FROM w
            UNION ALL
            ${(1 to WpMerges).map(i => s"SELECT u || v AS piece FROM b$i")
              .mkString("\n            UNION ALL\n            ")})),
        g AS (
          SELECT term, 1 AS pos, CAST(0 AS BIGINT) AS np FROM w
          UNION ALL
          SELECT term, pos + k, np + 1 FROM (
            SELECT r.term, r.pos, r.np, MAX(len(v.piece)) AS k
            FROM g r JOIN vocab v
              ON substr(r.term, r.pos, len(v.piece)) = v.piece
            WHERE r.pos <= len(r.term)
            GROUP BY r.term, r.pos, r.np) m),
        seg AS MATERIALIZED (
          SELECT term, np AS n_pieces FROM g WHERE pos = len(term) + 1)
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(length(t.term)) AS BIGINT) AS n_chars,
               CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces
        FROM t JOIN seg s USING (term)
        GROUP BY t.doc_id
        ORDER BY t.doc_id""")),
  )
}
